#!/usr/bin/env python3
"""The engine's benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark if their sources changed
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the measuring JVM (perfbench/src) on them,
checks every output, and prints one JSON object as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics.  Everything else goes to standard
error.  All files live under .bench_build/ at the repository root; the
run's own directory is removed at exit.
"""
import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen    # noqa: E402

# Workload -> (input tables, untimed warm-up passes between the cold and
# the measured passes (README.md, "Reference figures"), prefixes of the
# per-layer metrics it owns besides those of OWNED_BY_ALL).
WORKLOADS = {
    "journal-exactly-once": ([], 1, ("sources.", "streaming.", "catalog.")),
    "corpus-text": (["documents"], 1, ("query.q56_repetition.", "query.q23_bigram_counts.",
                                       "query.q102_bm25.", "functions.")),
}
OWNED_BY_ALL = ("driver.", "spark.", "jvm.")
# Spark task slots: fewer than the host's cores. PERFBENCH_SLOTS=1 gives
# the single-slot reference runs of README.md.
SLOTS = int(os.environ.get("PERFBENCH_SLOTS", "2"))
JVM_TIMEOUT_S = 165  # the whole run must end within 180 s


def log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


def run_jvm(workload, inputs, run_dir, seconds, warm, trace, input_mb, seed):
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    result = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(build.BUILD, "traces", f"{workload}-seed{seed}.jsonl")
    cds = [f"-XX:SharedArchiveFile={build.CDS}"] if os.path.exists(build.CDS) else []
    cmd = (build.java(run_dir, cds) + [
            "--workload", workload, "--input", inputs, "--work", work,
            "--seconds", str(seconds), "--warm", str(warm), "--trace", str(trace), "--slots", str(SLOTS),
            "--input-mb", repr(input_mb), "--result", result, "--trace-out", trace_out])
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("GRAFT_MASTER", None)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: measuring JVM ended with {code!r} "
                         f"({'timed out' if code is None else 'no result'})")
    with open(result) as f:
        return json.load(f)


def oracle_problems(inputs, out_dir, tables):
    """Compare each written query result with its DuckDB oracle, by the
    rules of the engine's differential checker (tools/check.py)."""
    spec = importlib.util.spec_from_file_location(
        "engine_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        ok, msg = check.compare(pd.read_parquet(os.path.join(out_dir, name)),
                                con.execute(sql).df())
        log(f"oracle {name}: {'PASS' if ok else 'FAIL ' + msg}")
        if not ok:
            problems.append(f"{name}: oracle mismatch: {msg}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # A terminated run still removes its directory and stops its JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build.build()
    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        inputs = os.path.join(run_dir, "input")
        tables, warm, owned = WORKLOADS[a.workload]
        if tables:
            input_mb = gen.tables(a.seed, inputs, set(tables))
        else:
            gen.stream(a.seed, inputs)
            input_mb = 0.0
        r = run_jvm(a.workload, inputs, run_dir, a.seconds, warm, a.trace, input_mb, a.seed)
        problems = list(r["problems"])
        if tables:
            problems += oracle_problems(inputs, os.path.join(run_dir, "work", "out"), tables)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    declared = bench["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        got = r["metrics"].get(m["name"])
        if got is None and a.trace and not m["name"].startswith(OWNED_BY_ALL + owned):
            got = {"value": 0, "unit": m["unit"]}       # a layer this workload never enters
        if got is None or got["unit"] != m["unit"] or got["value"] is None:
            problems.append(f"metric {m['name']}: measured {got}, declared unit {m['unit']}")
            continue
        metrics[m["name"]] = got
    extra = sorted(set(r["metrics"]) - {m["name"] for m in declared})
    if extra:
        problems.append(f"undeclared metrics {extra}")
    log("diagnostics", json.dumps(r["diagnostics"]))
    for p in problems:
        log("PROBLEM", p)
    out = {"correct": not problems, "attempted": r["attempted"], "failed": r["failed"],
           "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
