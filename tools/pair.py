#!/usr/bin/env python3
"""Same-window bench pair: run Bench (Spark) and tools/baseline.py
(DuckDB) back-to-back in ONE invocation and emit a single JSON artifact
carrying numerator, denominator, their ratio over the common query set,
and the host load — so a bench number ships WITH the context that makes
it comparable (both engines swing with co-tenancy; a lone numerator
reads as a regression whenever the window was loaded).

Both engines run one warmup and one timed pass, like with like.

Usage: python3 tools/pair.py [sfDir] [outJson]
Defaults: the sf0.1 test corpus, PAIR.json

Writes outJson and prints a one-line summary; oracle_sql.json lands in a
temp dir.
"""
import glob, json, os, subprocess, sys, tempfile, time


def classpath():
    jars = ":".join(sorted(glob.glob("/opt/spark/jars/*.jar")))
    return f"target/scala-2.13/classes:{jars}"


def loadavg():
    return [round(v, 2) for v in os.getloadavg()]


def short(name):
    """Bench's stdout key: the query's unique qNN prefix
    (BenchArtifactSpec asserts the prefixes are unique)."""
    return name.split("_", 1)[0]


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "PAIR.json"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.chdir(repo)
    tmp = tempfile.mkdtemp(prefix="graft-pair-")

    # current oracle SQL, without running any query: Verify with a
    # no-match subset only dumps oracle_sql.json
    subprocess.run(
        ["java", "-Xmx4g", "-cp", classpath(), "graft.Verify", sfdir,
         tmp, "__oracle_dump_only__"],
        check=True, capture_output=True)
    oracle_path = f"{tmp}/oracle_sql.json"

    load0 = loadavg()

    # numerator: Bench's one stdout JSON line, always its last
    t0 = time.time()
    bench_out = subprocess.run(
        ["java", "-Xmx24g", "-cp", classpath(), "graft.Bench"],
        check=True, capture_output=True, text=True,
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir)).stdout
    bench_wall = time.time() - t0
    bench = json.loads(bench_out.strip().splitlines()[-1])
    if bench.get("failed"):
        sys.exit(f"bench reported {bench['failed_n']} failures, "
                 f"first: {bench['failed']}")

    load1 = loadavg()

    # denominator: DuckDB over the same oracle SQL set, same window
    t0 = time.time()
    duck_out = subprocess.run(
        [sys.executable, "tools/baseline.py", sfdir, oracle_path, "1"],
        check=True, capture_output=True, text=True).stdout
    duck_wall = time.time() - t0
    duck = json.loads(duck_out.strip().splitlines()[-1])
    duck_q = {short(n): v for n, v in duck["queries"].items()}

    load2 = loadavg()

    # the honest ratio compares the SAME query set: benched ∩ oracled
    common = sorted(set(bench["queries"]) & set(duck_q))
    spark_s = round(sum(bench["queries"][q] for q in common), 3)
    duckdb_s = round(sum(duck_q[q] for q in common), 3)
    pair = {
        "metric": "bench_pair",
        "sf": os.path.basename(sfdir.rstrip("/")),
        "common_queries": len(common),
        "spark_s": spark_s,
        "duckdb_s": duckdb_s,
        "ratio": round(spark_s / duckdb_s, 3) if duckdb_s else None,
        "spark_total_all": bench["value"],
        "spark_benched": len(bench["queries"]),
        "duckdb_total_all": duck["value"],
        "duckdb_oracled": len(duck_q),
        "bench_wall_s": round(bench_wall, 1),
        "duckdb_wall_s": round(duck_wall, 1),
        "loadavg_before_bench": load0,
        "loadavg_between": load1,
        "loadavg_after": load2,
        "spark_queries": bench["queries"],
        "duckdb_queries": duck_q,
    }
    with open(out_path, "w") as f:
        json.dump(pair, f, indent=1)
    brief = {k: pair[k] for k in ["metric", "sf", "common_queries",
                                  "spark_s", "duckdb_s", "ratio",
                                  "loadavg_between"]}
    print(json.dumps(brief))


if __name__ == "__main__":
    main()
