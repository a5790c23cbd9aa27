"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program (perfbench/build.py), generates the workload's inputs
from the seed (perfbench/inputs.py), runs them through one JVM
(perfbench/harness), checks the answers (perfbench/checks.py) and prints,
as the last line, {"correct", "attempted", "failed", "metrics"}. The line
before it carries the run's details: per-phase set-up times, sample
counts, the tail percentile used, and host CPU steal and loadavg read
before and after the run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ["contract_ingest", "registry_sweep"]
PER_BATCH = 36          # contract folders per delivered batch (> the 32 of serial listing)
INGEST_WARM = 4         # untimed batches b000-b003 (b003 re-delivers b001)
INGEST_PER_S = 2        # timed batches generated per second of the window: about
                        # 7x the ~0.27 batches/s measured, so no run runs out
REGISTRY_SF = 0.01      # sf0.1 passes take too long for the run budget (README)
HEAP = "2g"
JVM_TIMEOUT_S = 150
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def host_counters():
    """Cumulative CPU steal (jiffies) and the 1-minute loadavg."""
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        return {"steal_jiffies": steal, "loadavg1": load}
    except (OSError, IndexError, ValueError):
        return {}


def make_inputs(workload, seed, seconds, inputs):
    """Write the workload's inputs; return what the checks need."""
    import checks
    import inputs as gen
    if workload == "contract_ingest":
        batches = gen.contract_corpus(os.path.join(inputs, "corpus"), seed,
                                      INGEST_WARM + INGEST_PER_S * seconds, PER_BATCH)
        with open(os.path.join(inputs, "readback.json"), "w") as f:
            json.dump(checks.read_back_keys(batches), f)
        return {"batches": batches}
    gen.registry_tables(os.path.join(inputs, "tables"), seed, REGISTRY_SF)
    return {}


def check(workload, truth, res, work, inputs):
    import checks
    ops = res["ops"]
    if workload == "contract_ingest":
        n_ok = len(ops) + len(res["warmup_round_ms"]) - res["failed"] - res["warmup_failed"]
        return checks.ingest(truth["batches"], work, n_ok)
    return checks.registry(os.path.join(inputs, "tables"), work, res["oracle_sql"])


# op_tail_ms percentile: the highest at which a run's window holds ten
# independent samples beyond it (registry: 30-40 queries in 20 s). An
# ingest run times only 5-7 batches, so its tail is the p90 of the
# contract-weighted samples, the slowest batch or so (README).
TAIL_PCT = {"contract_ingest": 90, "registry_sweep": 65}


def rank(n, pct):
    """1-based nearest rank of percentile `pct` among `n` samples."""
    return max(1, -(-pct * n // 100))


def metrics(workload, res, gen_s):
    # one sample per item the user waits on: a batch's latency counts once
    # for each contract it delivers; failed ops give no sample
    ok = [o for o in res["ops"] if o[3]]
    lat = [ms for _, ms, items, _ in ok for _ in range(items)]
    if not lat:
        sys.exit("no timed operation succeeded: " + "; ".join(res["errors"][:3]))
    items = len(lat)
    elapsed_s = res["elapsed_ms"] / 1000.0
    in_bytes, out_bytes = res.get("input_bytes"), res.get("output_bytes")
    if workload == "registry_sweep":  # result bytes per query / table bytes
        out_bytes = res["output_bytes_per_pass"] / len(res["oracle_sql"])
    # everything before the timed window: inputs, JVM and session, the
    # standing state and every warm-up round, cold first ops included
    setup_s = (gen_s + res["session_ready_ms"] / 1000.0
               + sum(res["setup_state_ms"]) / 1000.0
               + sum(res["warmup_round_ms"]) / 1000.0)
    m = {"setup_s": (setup_s, "s"),
         "op_p50_ms": (statistics.median(lat), "ms"),
         "op_tail_ms": (sorted(lat)[rank(items, TAIL_PCT[workload]) - 1], "ms"),
         "throughput_per_s": (items / elapsed_s, "1/s"),
         "bytes_per_input_byte": (out_bytes / in_bytes, "ratio"),
         "live_heap_mb": (res["live_heap_mb"], "MB")}
    # samples beyond the tail rank, and the number of distinct ops they come from
    n_beyond = items - rank(items, TAIL_PCT[workload])
    beyond, ops_beyond = n_beyond, 0
    for _, _, n, _ in sorted(ok, key=lambda o: -o[1]):
        if beyond <= 0:
            break
        beyond, ops_beyond = beyond - n, ops_beyond + 1
    return m, {"items": items, "tail_pct": TAIL_PCT[workload],
               "items_beyond_tail": n_beyond, "ops_beyond_tail": ops_beyond}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        sys.exit("run from the repository root (no build.sbt here)")
    import build
    classes = build.build(root)

    work = os.path.join(root, build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    before = host_counters()
    try:
        t0 = time.monotonic()
        truth = make_inputs(a.workload, a.seed, a.seconds, inputs)
        gen_s = time.monotonic() - t0
        result = os.path.join(work, "result.json")
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
               + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                  f"-Djava.io.tmpdir={work}",
                  "-cp", build.classpath(root, classes), "graft.perfbench.Harness",
                  a.workload, str(a.seed), str(a.seconds), str(a.trace), inputs, work, result])
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, 9)
                p.wait()
                rc = "timeout"
        after = host_counters()
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            sys.exit(f"harness failed: {rc}")
        with open(result) as f:
            res = json.load(f)
        problems = check(a.workload, truth, res, work, inputs)
        problems += ["warm-up op failed"] * res["warmup_failed"]
        if a.trace:
            mets = {k: {"value": v[0], "unit": v[1]} for k, v in res["layers"].items()}
            info = {}
        else:
            m, info = metrics(a.workload, res, gen_s)
            mets = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "ops": len(res["ops"]), "rounds": res["rounds"], **info,
                  "gen_s": round(gen_s, 3), "session_ready_ms": res["session_ready_ms"],
                  "setup_state_ms": res["setup_state_ms"],
                  "warmup_round_ms": res["warmup_round_ms"],
                  "inputs_exhausted": res["inputs_exhausted"],
                  "op_p50_ms_by_kind": {k: statistics.median(o[1] for o in res["ops"] if o[0] == k and o[3])
                                        for k in sorted({o[0] for o in res["ops"] if o[3]})},
                  "host_before": before, "host_after": after,
                  "steal_jiffies": (after.get("steal_jiffies", 0) - before.get("steal_jiffies", 0)),
                  "errors": res["errors"], "problems": problems[:5]}
        print(json.dumps(detail))
        print(json.dumps({"correct": not problems, "attempted": len(res["ops"]),
                          "failed": res["failed"], "metrics": mets}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
