"""Statistics of a directory of registry tables: the sizes and
distributions the registry-table generator (perfbench/inputs.py) is set
to. Run it on the repository's test corpus and on generated tables to
compare the two:

  python3 perfbench/corpus_stats.py <dir with region.parquet, ...>

Prints one JSON object.
"""
import collections
import json
import sys

import duckdb
import numpy as np


def stats(d):
    con = duckdb.connect()
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")

    def one(sql):
        return con.execute(sql).fetchone()

    def shares(sql):
        rows = con.execute(sql).fetchall()
        n = sum(c for _, c in rows)
        return {str(k): round(c / n, 3) for k, c in rows}

    out = {"rows": {t: one(f"SELECT count(*) FROM {t}")[0] for t in tables}}
    out["lineitems_per_order"] = dict(zip(
        ["mean", "max", "orders_without"],
        one("SELECT avg(c), max(c), (SELECT count(*) FROM orders) - count(*) "
            "FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)")))
    out["orders_per_customer"] = dict(zip(["mean", "max"], one(
        "SELECT avg(c), max(c) FROM (SELECT count(*) c FROM orders GROUP BY o_custkey)")))
    out["part_name_words"] = one(
        "SELECT count(DISTINCT split_part(p_name, ' ', 1)), "
        "count(DISTINCT split_part(p_name, ' ', 2)) FROM part")
    out["order_date_days"] = one(
        "SELECT min(o_orderdate)::DATE::VARCHAR, max(o_orderdate)::DATE::VARCHAR FROM orders")
    out["ship_minus_order_days"] = one(
        "SELECT min(datediff('day', o_orderdate, l_shipdate)), "
        "max(datediff('day', o_orderdate, l_shipdate)) "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    out["event_users"] = one("SELECT count(DISTINCT user_id) FROM events")[0]
    out["event_value_mean_median"] = [round(v, 2) for v in one(
        "SELECT avg(value), median(value) FROM events")]
    out["event_types"] = shares("SELECT event_type, count(*) FROM events GROUP BY 1 ORDER BY 1")

    texts = [t for (t,) in con.execute("SELECT text FROM documents ORDER BY doc_id").fetchall()]
    words = collections.Counter(w for t in texts for w in t.split())
    lens = [len(t.split()) for t in texts]
    out["documents"] = {
        "vocabulary": len(words),
        "words_min_mean_max": [min(lens), round(float(np.mean(lens)), 1), max(lens)],
        "sources": one("SELECT count(DISTINCT source) FROM documents")[0],
        "langs": shares("SELECT lang, count(*) FROM documents GROUP BY 1 ORDER BY 1"),
        "near_duplicate_share": round(sum(t.endswith(" dup") for t in texts) / len(texts), 3),
        "exact_duplicate_docs": len(texts) - len(set(texts)),
    }
    emb = np.array([e for (e,) in con.execute("SELECT embedding FROM embeddings").fetchall()])
    labels = np.array([l for (l,) in con.execute("SELECT label FROM embeddings").fetchall()])
    # mean cosine between same-label vectors: 0 when labels carry no cluster
    same = [float(np.mean(emb[labels == k] @ emb[labels == k].T)) for k in np.unique(labels)]
    out["embeddings"] = {"dims": emb.shape[1], "labels": len(set(labels.tolist())),
                         "same_label_mean_cosine": round(float(np.mean(same)), 3)}
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(stats(sys.argv[1])))
