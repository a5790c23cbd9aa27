"""Seeded input generators. Everything the program under test reads is made
here from the run's seed; the same seed gives byte-identical inputs.

- contract corpus: fiesta folders (single_sol, multi_sol, standard-json,
  vyper) and address-named Etherscan dumps, in batches, with a
  ground-truth manifest of ids, source types, ABI signatures and files;
- registry tables: the star schema plus events, documents and embeddings,
  with the sizes and distributions measured on the repository's test
  corpus by `perfbench/corpus_stats.py` (recorded in perfbench/README.md).

The contract corpus has no measured counterpart: its shape mix, ERC-20
share and function counts are set here, not taken from a real corpus.
"""
import hashlib
import json
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WS = re.compile(r"\s+")


def md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def strip_md5(s):
    return md5(WS.sub("", s))


# ---------------------------------------------------------------- contracts

# ERC-20 surface: the "hot" selectors shared by many contracts
ERC20 = [
    ("transfer", ["address to", "uint256 amount"], "address,uint256"),
    ("approve", ["address spender", "uint amount"], "address,uint256"),
    ("balanceOf", ["address who"], "address"),
    ("totalSupply", [], ""),
    ("transferFrom", ["address from", "address to", "uint256 amount"],
     "address,address,uint256"),
    ("allowance", ["address owner", "address spender"], "address,address"),
]
# (declaration type, canonical ABI type)
ELEMENTARY = [("uint", "uint256"), ("uint256", "uint256"), ("int", "int256"),
              ("address", "address"), ("bool", "bool"), ("bytes32", "bytes32"),
              ("uint8", "uint8"), ("string memory", "string"),
              ("bytes calldata", "bytes"), ("uint256[] memory", "uint256[]"),
              ("address[] calldata", "address[]"), ("int64", "int64")]
SYLL = ["mint", "burn", "stake", "claim", "vote", "lock", "swap", "pool",
        "fee", "rate", "price", "reward", "owner", "vault", "route", "quote",
        "set", "get", "sync", "skim", "pause", "grant", "drop", "bid"]
CONTRACT_WORDS = ["Token", "Vault", "Market", "Router", "Pool", "Staking",
                  "Governor", "Bridge", "Oracle", "Auction", "Escrow", "Drop"]


class UserTypes:
    """Types an artifact defines and the ABI encoding each resolves to."""

    def __init__(self, rng, tag):
        self.struct = f"Order{tag}"
        self.struct_abi = "(address,uint256)"
        self.nested = f"Fill{tag}"
        self.nested_abi = f"({self.struct_abi},uint64)"
        self.enum = f"Mode{tag}"
        self.value = f"Price{tag}"
        self.value_under = rng.choice(["uint128", "uint64", "int96"])
        self.iface = f"IPeer{tag}"

    def decls(self):
        """File-level definitions (valid Solidity at file scope)."""
        return (f"struct {self.struct} {{\n    address maker;\n    uint amount;\n}}\n\n"
                f"struct {self.nested} {{\n    {self.struct} order;\n    uint64 at;\n}}\n\n"
                f"enum {self.enum} {{ Open, Closed, Paused }}\n\n"
                f"type {self.value} is {self.value_under};\n")

    def params(self):
        return [(f"{self.struct} memory", self.struct_abi),
                (f"{self.struct}[] calldata", self.struct_abi + "[]"),
                (f"{self.nested} memory", self.nested_abi),
                (self.enum, "uint8"), (self.value, self.value_under),
                (self.iface, "address")]


def _fn_name(rng, used):
    while True:
        n = rng.choice(SYLL) + rng.choice(SYLL).capitalize() + str(rng.randrange(100))
        if n not in used:
            used.add(n)
            return n


def _contract_block(rng, cname, ut, n_fns, erc20):
    """One `contract` block: (source text, [(contract, fn, signature)])."""
    lines, funcs, used = [], [], set()
    lines.append(f"contract {cname} {{")
    lines.append("    uint256 public count;")
    lines.append("    event Touched(address indexed who, uint256 value);")
    lines.append("    constructor() {")
    lines.append("        count = 1;")
    lines.append("    }")
    for name, params, abi in (ERC20 if erc20 else []):
        vis = rng.choice(["public", "external"])
        lines.append(f"    function {name}({', '.join(params)}) {vis} returns (uint256) {{")
        lines.append("        return count;")
        lines.append("    }")
        funcs.append((cname, name, f"{name}({abi})"))
        used.add(name)
    pool = ELEMENTARY + (ut.params() if ut else [])
    for _ in range(n_fns):
        name = _fn_name(rng, used)
        k = rng.randrange(4)
        ps = [rng.choice(pool) for _ in range(k)]
        if ut and rng.random() < 0.5:
            ps.append(rng.choice(ut.params()))
        decl = ", ".join(f"{t} p{i}" for i, (t, _) in enumerate(ps))
        vis = rng.choice(["public", "external", "public", "internal", "private"])
        mut = rng.choice(["", " view", " pure"] + ([" payable"] if vis in ("public", "external") else []))
        lines.append(f"    function {name}({decl}) {vis}{mut} {{")
        lines.append(f"        emit Touched(msg.sender, {k});")
        lines.append("    }")
        if vis in ("public", "external"):
            funcs.append((cname, name, f"{name}({','.join(a for _, a in ps)})"))
    lines.append("}")
    return "\n".join(lines) + "\n", funcs


def _iface_block(ut):
    src = (f"interface {ut.iface} {{\n"
           f"    function ping{ut.iface}(uint256 x) external returns (uint256);\n"
           f"}}\n")
    return src, [(ut.iface, f"ping{ut.iface}", f"ping{ut.iface}(uint256)")]


def _library_block(tag):
    return (f"library Math{tag} {{\n"
            f"    function twice(uint x) internal pure returns (uint) {{\n"
            f"        return 2 * x;\n    }}\n}}\n")


HEADER = "// SPDX-License-Identifier: MIT\npragma solidity ^0.8.19;\n\n"


def _artifact(rng, shape, idx, seed):
    """One contract artifact.

    Returns dict(shape, name, source_type, stored=[(name, content)],
    export={relpath: content}, funcs=[(filename, contract, fn, signature)],
    layout={relpath: bytes-as-str}) where `layout` is what lands on disk
    inside the contract's folder.
    """
    tag = f"S{seed}N{idx}"
    cname = rng.choice(CONTRACT_WORDS) + str(idx)
    ut = UserTypes(rng, tag)
    erc20 = rng.random() < 0.6
    n_fns = rng.randrange(3, 9)
    meta = {"ContractName": cname,
            "CompilerVersion": rng.choice(["0.8.19", "v0.8.17+commit.8df45f5f", "0.8.24"]),
            "Runs": rng.choice([200, 500, 1000]),
            "OptimizationUsed": rng.choice([True, False]),
            "BytecodeHash": "0x" + md5(tag)[:16]}
    funcs = []
    if shape == "vyper":
        src = (f"# @version 0.3.10\n# {cname}\n\ncount: public(uint256)\n\n@external\n"
               f"def transfer(to: address, amount: uint256) -> bool:\n"
               f"    self.count += amount * {idx}\n    return True\n")
        stored = [("main.vy", src)]
        return dict(shape=shape, name=cname, source_type="vyper", stored=stored,
                    export={"main.vy": src}, funcs=[],
                    layout={"metadata.json": json.dumps(meta), "main.vy": src}, folder=None)
    body, fs = _contract_block(rng, cname, ut, n_fns, erc20)
    ib, ifs = _iface_block(ut)
    if shape in ("single_sol", "ether_sol"):
        src = HEADER + ut.decls() + "\n" + ib + "\n" + _library_block(tag) + "\n" + body
        files = {"main.sol": src}
        funcs = [("main.sol",) + f for f in ifs + fs]
    else:  # multi_sol, json, ether_json: types, interface and contract apart
        types_src = HEADER + ut.decls()
        iface_src = HEADER + ib
        main_src = (HEADER + f'import "./Types{tag}.sol";\nimport "./{ut.iface}.sol";\n\n'
                    + _library_block(tag) + "\n" + body)
        pre = "contracts/" if shape != "multi_sol" else ""
        files = {f"{pre}Types{tag}.sol": types_src,
                 f"{pre}{ut.iface}.sol": iface_src,
                 f"{pre}{cname}.sol": main_src}
        funcs = ([(f"{pre}{ut.iface}.sol",) + f for f in ifs]
                 + [(f"{pre}{cname}.sol",) + f for f in fs])
    if shape in ("json", "ether_json"):
        blob = json.dumps({"language": "Solidity",
                           "sources": {k: {"content": v} for k, v in files.items()},
                           "settings": {"optimizer": {"enabled": True, "runs": 200}}},
                          indent=1)
        stored = [("contract.json", blob)]
        source_type = "json"
    elif shape == "multi_sol":
        stored = sorted(files.items())
        source_type = "multi_sol"
    else:
        stored = [("main.sol", files["main.sol"])]
        source_type = "single_sol"
    if shape.startswith("ether"):
        addr = "0x" + md5(f"addr{tag}")[:40].ljust(40, "0")
        sc = stored[0][1]
        if shape == "ether_json":
            sc = "{" + sc + "}"  # Etherscan's double-brace wrapping
        dump = {"SourceCode": sc, "ABI": "[]", "ContractName": cname,
                "CompilerVersion": meta["CompilerVersion"],
                "OptimizationUsed": "1" if meta["OptimizationUsed"] else "0",
                "Runs": str(meta["Runs"]), "BytecodeHash": meta["BytecodeHash"]}
        layout = {f"{addr}_{cname}.json": json.dumps(dump)}
        folder = addr
    else:
        layout = {"metadata.json": json.dumps(meta), **dict(stored)}
        folder = None
    return dict(shape=shape, name=cname, source_type=source_type, stored=stored,
                export=files, funcs=funcs, layout=layout, folder=folder)


def _whitespace_variant(art):
    """Same contract with every space and newline doubled: the content id
    (md5 of the whitespace-stripped files) is unchanged."""
    def ws(s):
        return s.replace("\n", "\n\n").replace(" ", "  ")
    v = dict(art)
    if art["folder"]:  # etherscan dump: rewrite SourceCode inside the json
        (fname, content), = art["layout"].items()
        d = json.loads(content)
        d["SourceCode"] = ws(d["SourceCode"])
        v["layout"] = {fname: json.dumps(d)}
    else:
        v["layout"] = {k: (v2 if k == "metadata.json" else ws(v2))
                       for k, v2 in art["layout"].items()}
    return v


def content_id(stored):
    per = [strip_md5(c) for _, c in stored]
    return per[0] if len(per) == 1 else md5("".join(sorted(per)))


SHAPES = ["single_sol", "multi_sol", "json", "vyper", "ether_sol", "ether_json"]


def contract_corpus(root, seed, n_batches, per_batch):
    """Write `n_batches` batch folders under `root`; return the manifest.

    Batch 3 (when present) re-delivers batch 1 byte for byte. From batch
    2 on, two folders per batch are whitespace-only variants of contracts
    delivered in earlier batches. Every other folder is a new contract.
    """
    rng = random.Random(seed * 7919 + 1)
    delivered, batches, idx = [], [], 0
    for b in range(n_batches):
        bdir = os.path.join(root, f"b{b:03d}")
        if b == 3 and n_batches > 3:
            entries = [dict(e) for e in batches[1]]
        else:
            entries = []
            n_var = 2 if b >= 2 else 0
            for _ in range(per_batch - n_var):
                shape = SHAPES[idx % len(SHAPES)] if idx < len(SHAPES) else rng.choice(SHAPES)
                art = _artifact(rng, shape, idx, seed)
                art["id"] = content_id(art["stored"])
                art["dir"] = art["folder"] or f"{art['name']}_{idx}"
                entries.append(art)
                delivered.append(art)
                idx += 1
            for k in range(n_var):
                src = rng.choice(delivered[:-(per_batch - n_var)] or delivered)
                var = _whitespace_variant(src)
                var["dir"] = (src["folder"] + f"v{b}{k}") if src["folder"] else f"{src['name']}_v{b}{k}"
                if src["folder"]:
                    # the dump's file name must start with its folder's name
                    (fname, content), = var["layout"].items()
                    var["layout"] = {var["dir"] + fname[len(src["folder"]):]: content}
                entries.append(var)
        for e in entries:
            d = os.path.join(bdir, e["dir"])
            os.makedirs(d, exist_ok=True)
            for rel, content in e["layout"].items():
                with open(os.path.join(d, rel), "w", encoding="utf-8") as f:
                    f.write(content)
        batches.append(entries)
    return batches


# ---------------------------------------------------------------- documents
# Measured on the test corpus (sf0.01 and sf0.1 alike): one shared 30-word
# vocabulary, 10-99 words a doc drawn uniformly, 20 sources in rotation,
# languages en 41% and zh/es/fr/de about 15% each, and 5% of docs a
# near-duplicate: an earlier doc (a near-duplicate itself at times) plus
# the word "dup".

VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part",
         "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def documents(seed, n):
    """sf-shaped `documents` rows: (doc_id, text, lang, source, n_chars)."""
    rng = random.Random(seed * 104729 + 3)
    rows = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:  # planted near-duplicate
            text = rows[rng.randrange(i)][1] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randrange(10, 100)))
        rows.append((i, text, rng.choice(LANGS), f"src{i % 20}", len(text)))
    return rows


def write_parquet(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path)


def documents_table(rows):
    return {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows], "source": [r[3] for r in rows],
            "n_chars": [r[4] for r in rows]}


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


# ---------------------------------------------------------------- tables

def registry_tables(out, seed, sf):
    """The star schema + events/documents/embeddings at scale factor `sf`,
    column for column the shape the registry queries and their DuckDB
    oracles are written against, with the row counts and distributions of
    the test corpus at that scale (perfbench/README.md, "Inputs"): keys
    and categories uniform, foreign keys drawn uniformly (so lineitems per
    order are about Poisson(4)), dates uniform and independent, event
    values exponential with mean 50, embeddings random unit vectors with
    a random label of ten."""
    os.makedirs(out, exist_ok=True)
    r = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_user = int(15000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    ts = lambda unit="us": pa.timestamp(unit)
    write_parquet(f"{out}/region.parquet",
                  {"r_regionkey": list(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
                  pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write_parquet(f"{out}/nation.parquet",
                  {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]},
                  pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                             ("n_regionkey", pa.int32())]))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    write_parquet(f"{out}/customer.parquet",
                  {"c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                   "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
                   "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
                   "c_mktsegment": segs[r.integers(0, 5, n_cust)]},
                  pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                             ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                             ("c_mktsegment", pa.string())]))
    write_parquet(f"{out}/supplier.parquet",
                  {"s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                   "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
                   "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)},
                  pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                             ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    write_parquet(f"{out}/part.parquet",
                  {"p_partkey": np.arange(n_part),
                   "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                                         noun[r.integers(0, 8, n_part)]),
                   "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
                   "p_type": types[r.integers(0, 6, n_part)],
                   "p_size": r.integers(1, 51, n_part).astype(np.int32),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)},
                  pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                             ("p_brand", pa.string()), ("p_type", pa.string()),
                             ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    day0 = np.datetime64("1995-01-01", "us")
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write_parquet(f"{out}/orders.parquet",
                  {"o_orderkey": np.arange(n_ord), "o_custkey": r.integers(0, n_cust, n_ord),
                   "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
                   "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
                   "o_orderdate": day0 + r.integers(0, 2405, n_ord) * np.timedelta64(1, "D"),
                   "o_orderpriority": pri[r.integers(0, 5, n_ord)]},
                  pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                             ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                             ("o_orderdate", ts()), ("o_orderpriority", pa.string())]))
    okey = r.integers(0, n_ord, n_li)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    write_parquet(f"{out}/lineitem.parquet",
                  {"l_orderkey": okey, "l_partkey": r.integers(0, n_part, n_li),
                   "l_suppkey": r.integers(0, n_supp, n_li),
                   "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
                   "l_quantity": qty,
                   "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_li), 2),
                   "l_discount": r.integers(0, 11, n_li) / 100.0,
                   "l_tax": r.integers(0, 9, n_li) / 100.0,
                   "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
                   "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
                   "l_shipdate": day0 + r.integers(1, 2499, n_li) * np.timedelta64(1, "D")},
                  pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                             ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                             ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                             ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                             ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                             ("l_shipdate", ts())]))
    ev0 = np.datetime64("2024-01-01", "us")
    write_parquet(f"{out}/events.parquet",
                  {"event_id": np.arange(n_ev),
                   "ts": ev0 + np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev)) * np.timedelta64(1, "us"),
                   "user_id": r.integers(0, n_user, n_ev),
                   "event_type": np.array(["signup", "click", "error", "view", "purchase"])[r.integers(0, 5, n_ev)],
                   "value": np.round(r.exponential(50, n_ev), 2),
                   "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]},
                  pa.schema([("event_id", pa.int64()), ("ts", ts()), ("user_id", pa.int64()),
                             ("event_type", pa.string()), ("value", pa.float64()),
                             ("props", pa.string())]))
    write_parquet(f"{out}/documents.parquet", documents_table(documents(seed, n_doc)), DOC_SCHEMA)
    labels = r.integers(0, 10, n_emb)
    emb = r.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write_parquet(f"{out}/embeddings.parquet",
                  {"vec_id": np.arange(n_emb), "embedding": list(emb),
                   "label": labels.astype(np.int32)},
                  pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]))
