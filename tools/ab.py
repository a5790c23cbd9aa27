#!/usr/bin/env python3
"""A/B benchmark of the current checkout against a base revision.

Usage (from anywhere inside the repository):

  python3 tools/ab.py --workload contract_ingest --pairs 10 [--base HEAD]
                      [--seed 2001] [--trace]

Extracts the committed files of `--base` into a temporary directory (the
benchmark compares committed trees; an archive, unlike a worktree, leaves
nothing registered in the repository if the tool is interrupted), then
runs `perfbench/run.py` for `--pairs` alternating pairs: pair i runs both
sides on seed `--seed + i`, base first on even pairs and the checkout
first on odd ones, so a drift in host load falls on both sides alike.
Every run times BENCHMARK.json's `run_seconds` window.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, and in how many pairs the checkout was better. With
`--trace` every run is traced (`--trace 1`) and the same table covers
BENCHMARK.json's per-layer metrics instead; a traced run reports no
end-to-end metrics, as tracing slows it. Then it prints each
run's correctness, failed ops and host CPU steal (jiffies). Exits 1 if any
run was not `correct` or did not finish. The temporary tree, with its
build, is removed at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def run_bench(root, workload, seed, seconds, trace):
    """One perfbench run in `root`: (result line, detail line) or None."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(int(trace))],
                       cwd=root, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1]), json.loads(lines[-2])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--seed", type=int, default=2001)
    ap.add_argument("--trace", action="store_true",
                    help="trace every run and compare the per-layer metrics")
    a = ap.parse_args()

    repo = subprocess.run(["git", "rev-parse", "--show-toplevel"], check=True,
                          capture_output=True, text=True).stdout.strip()
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        bench = json.load(f)
    rev = subprocess.run(["git", "rev-parse", "--short", a.base], cwd=repo, check=True,
                         capture_output=True, text=True).stdout.strip()

    tmp = tempfile.mkdtemp(prefix="graft-ab-")
    try:
        base = os.path.join(tmp, "base")
        os.makedirs(base)
        archive = subprocess.Popen(["git", "archive", rev], cwd=repo, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", base], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")

        runs = []   # (pair, side, seed, result, detail)
        for i in range(a.pairs):
            seed = a.seed + i
            order = [("base", base), ("change", repo)]
            if i % 2:
                order.reverse()
            for side, root in order:
                res, det = (run_bench(root, a.workload, seed, bench["run_seconds"], a.trace)
                            or (None, None))
                runs.append((i, side, seed, res, det))
                state = "did not finish" if res is None else (
                    "correct" if res["correct"] else "NOT correct")
                steal = det.get("steal_jiffies") if det else None
                print(f"pair {i} {side:6} seed {seed}: {state}, steal {steal}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    def values(side, name):
        return {i: r["metrics"][name]["value"] for i, s, _, r, _ in runs
                if s == side and r is not None and name in r["metrics"]}

    traced = " traced" if a.trace else ""
    print(f"\n{a.workload}: base {rev} vs checkout, {a.pairs} alternating{traced} pairs")
    print(f"{'metric':36} {'base median [q1, q3]':>32} {'change median [q1, q3]':>32}  wins")
    for m in bench["per_layer" if a.trace else "end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        b, c = values("base", name), values("change", name)
        if not b or not c:
            continue
        paired = [i for i in b if i in c]
        wins = sum((c[i] < b[i]) if lower else (c[i] > b[i]) for i in paired)

        def fmt(v):
            q1, med, q3 = quartiles(sorted(v.values()))
            return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"
        print(f"{name:36} {fmt(b):>32} {fmt(c):>32}  {wins}/{len(paired)}")

    print("\nruns:")
    bad = 0
    for i, side, seed, res, det in runs:
        ok = res is not None and res["correct"]
        bad += not ok
        failed = f"{res['failed']}/{res['attempted']} failed" if res else "no result"
        steal = det.get("steal_jiffies") if det else None
        print(f"  pair {i} {side:6} seed {seed}: correct={ok} {failed} steal={steal}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
