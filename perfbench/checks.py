"""Correctness checks, computed apart from the program: every expected
answer comes from the generator's manifest, a Keccak-256 written here, or
DuckDB running the registry's oracle SQL. Each check returns a list of problems (empty when correct)."""
import json
import os
import re

import keccak
from inputs import md5

LIMIT = 20  # problems reported per check


def _lines(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def expected_functions(art, cid):
    """Function rows the program must derive for one artifact:
    {row id: (contract_id, contract, fn, filename, signature, selector)}."""
    out = {}
    for filename, cname, fn, sig in art["funcs"]:
        sel = keccak.KNOWN.get(sig) or keccak.selector(sig)
        out[md5(re.sub(r"\s", "", cid + filename + sel))] = (
            cid, cname, fn, filename, sig, sel)
    return out


def ingest(batches, work, n_ok):
    """Replays the batch order the harness used: checks what each op
    appended, each read-back answer against the DB as it stood after that
    op, and the final tables."""
    keccak.selftest()
    probs, stored, want_f = [], {}, {}
    by_sel = {}  # selector -> ids of stored contracts that have it
    answers = {}
    for a in _lines(os.path.join(work, "answers.jsonl")):
        answers.setdefault(a["op"], []).append(a)
    log = _lines(os.path.join(work, "ingest_log.jsonl"))
    if len(log) != n_ok:
        probs.append(f"{n_ok} batches ingested without error, {len(log)} logged")
    for i, entry in enumerate(log):
        new = {}
        for art in batches[int(entry["batch"][1:])]:
            if art["id"] not in stored:
                new.setdefault(art["id"], art)
        fns = {}
        for cid, art in new.items():
            f = expected_functions(art, cid)
            fns.update(f)
            for v in f.values():
                by_sel.setdefault(v[5], set()).add(cid)
        stored.update(new)
        want_f.update(fns)
        if (entry["contracts"], entry["functions"]) != (len(new), len(fns)):
            probs.append(f"op {i} ({entry['batch']}): appended "
                         f"{entry['contracts']}/{entry['functions']} rows, "
                         f"expected {len(new)}/{len(fns)}")
        for a in answers.get(i, []):
            if not _read_back_ok(a, stored, by_sel):
                probs.append(f"op {i} {a['kind']} {a['key']}: wrong answer {str(a)[:300]}")
    got_c, got_f = {}, {}
    for r in _lines(os.path.join(work, "db.json")):
        if r["t"] == "c":
            got_c[r["id"]] = (r["name"], r["source_type"])
        else:
            got_f[r["row"][0]] = tuple(r["row"][1:])
    probs += _diff("contract", {k: (a["name"], a["source_type"]) for k, a in stored.items()},
                   got_c)
    probs += _diff("function", want_f, got_f)
    orphans = [k for k, v in got_f.items() if v[0] not in got_c]
    if orphans:
        probs.append(f"{len(orphans)} function rows without their contract")
    return probs[:LIMIT]


def _read_back_ok(a, stored, by_sel):
    kind, key = a["kind"], a["key"]
    if kind == "by_selector":
        return sorted(r[0] for r in a["rows"]) == sorted(by_sel.get(key, ()))
    art = stored.get(key)
    if art is None:
        return False
    if kind == "by_id":
        return [tuple(r) for r in a["rows"]] == [(key, art["name"], art["source_type"])]
    if kind == "functions_of":
        want = sorted(v[3:] for v in expected_functions(art, key).values())
        return sorted(map(tuple, a["rows"])) == want
    return _read_tree(a["dir"]) == art["export"]


def _diff(table, want, got):
    probs = []
    for k in sorted(set(want) | set(got)):
        if want.get(k) != got.get(k):
            probs.append(f"{table} {k}: expected {want.get(k)}, got {got.get(k)}")
            if len(probs) >= LIMIT:
                break
    return probs


RARE_PER_BATCH = 8


def read_back_keys(batches):
    """Keys the harness reads back after each batch: the batch's contract
    ids, and up to RARE_PER_BATCH selectors of signatures that only one
    contract of the corpus has (only those are hashed here)."""
    owners = {}
    for batch in batches:
        for art in batch:
            for _, _, _, sig in art["funcs"]:
                owners.setdefault(sig, set()).add(art["id"])
    rare = {s: next(iter(ids)) for s, ids in owners.items() if len(ids) == 1}
    out = {}
    for i, batch in enumerate(batches):
        ids = sorted({art["id"] for art in batch})
        sigs = sorted(s for s, cid in rare.items() if cid in ids)[:RARE_PER_BATCH]
        out[f"b{i:03d}"] = {"ids": ids, "rare": sorted(keccak.selector(s) for s in sigs)}
    return {"hot": sorted(sel for sig, sel in keccak.KNOWN.items() if sig in owners),
            "batches": out}


def _read_tree(d):
    out = {}
    for dp, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, encoding="utf-8") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def registry(tables_dir, work, oracle_sql):
    """Each written result against its oracle SQL run by DuckDB over the
    same parquet: the comparison of tools/diff.py with rows unordered, kept
    here so the benchmark's checks do not change with that tool."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in os.listdir(tables_dir):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, t)}')")

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            df[c] = df[c].map(repr)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    oracle, probs = {}, []
    for a in _lines(os.path.join(work, "answers.jsonl")):
        q = a["query"]
        if q not in oracle:
            oracle[q] = norm(con.execute(oracle_sql[q]).fetchdf())
        files = sorted(f for f in os.listdir(a["dir"]) if f.endswith(".parquet"))
        got = pd.concat([pd.read_parquet(os.path.join(a["dir"], f)) for f in files],
                        ignore_index=True) if files else pd.DataFrame()
        want = oracle[q]
        if list(got.columns) and sorted(got.columns) != list(want.columns):
            probs.append(f"{q}: columns {sorted(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want) or not norm(got).equals(want):
            probs.append(f"{q} ({a['dir']}): {len(got)} rows differ from the oracle's {len(want)}")
        if len(probs) >= LIMIT:
            break
    return probs
