#!/usr/bin/env python3
"""Seeded closed-loop benchmark of graft on a local Spark session.

Usage (from the repository root):
  python3 perfbench/run.py --workload ts_batch --seed 1 --seconds 15 --trace 0

One run builds the engine from source if needed (perfbench/build.py),
derives the workload's inputs from --seed (perfbench/gen.py), starts one
JVM that runs the workload's steps in a closed loop for --seconds and at
least three passes (perfbench/scala/Main.scala), checks every step's
output against DuckDB (perfbench/gate.py), and prints one JSON object as
its last stdout line.
With --trace 0 it reports the end-to-end metrics; with --trace 1 it
alternates untraced and traced passes and reports the per-layer metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gate  # noqa: E402
import gen  # noqa: E402

# Input sizes per workload, in rows per table.
WORKLOADS = {
    "ts_batch": {"events": 20_000, "lineitem": 12_000},
    "llm_curation": {"documents": 500},
}
MAX_CORES = 4
DERIVATIONS = 3  # set-up derives the inputs this many times; median reported
JVM_TIMEOUT_S = 150

LAYERS = ["ts.Sources", "ts.AsOfJoin", "sql.AsOfMergeJoin", "ts.Summarize",
          "ts.WindowOps", "ts.EmaOps", "ts.TimeSeriesOps",
          "llm.Pipeline", "llm.Dedup", "llm.Retrieval"]
STAGE_ONLY_LAYERS = ["llm.Sampling", "llm.TextStats"]
KINDS = {"construct_s": "s", "plan_s": "s", "exec_s": "s", "jobs": "count",
         "exchanges": "count", "single_partition_exchanges": "count",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "task_busy_s": "s",
         "core_util": "ratio", "rows_out": "count"}
STAGE_KINDS = ["task_busy_s", "jobs", "shuffle_write_mb", "spill_mb"]
# Spark on JDK 17 outside spark-submit needs these (the list build.sbt uses).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def layer_metric_units():
    """Per-layer metric name -> unit, in report order."""
    units = {f"{layer}.{kind}": unit for layer in LAYERS for kind, unit in KINDS.items()}
    units.update({f"{layer}.{kind}": KINDS[kind]
                  for layer in STAGE_ONLY_LAYERS for kind in STAGE_KINDS})
    units["trace_overhead_s"] = "s"
    return units


def run_jvm(classpath, workload, data, seconds, trace, cores, run_dir):
    dump = os.path.join(run_dir, "dump")
    result = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", workload, data, str(seconds),
              str(trace), str(cores), dump, result])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(result) as fh:
        return json.load(fh), dump


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(build.BUILD, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # Set-up part 1: derive the seeded inputs, several times.
        derive_s = []
        for i in range(DERIVATIONS):
            data = os.path.join(run_dir, f"data{i}")
            t0 = time.perf_counter()
            gen.generate(data, WORKLOADS[args.workload], args.seed)
            derive_s.append(time.perf_counter() - t0)
            if i + 1 < DERIVATIONS:
                shutil.rmtree(data)
        res, dump = run_jvm(classpath, args.workload, data, args.seconds,
                            args.trace, cores, run_dir)
        verdicts = gate.check(res["gate_steps"], res["oracle_sql"], data, dump)
        for name, err in res["dump_errors"].items():
            verdicts[name] = f"dump failed: {err}"
        report(args, res, derive_s, verdicts)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, res, derive_s, verdicts):
    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]

    # Failures: steps that threw, gate misses, and rows_out that changed
    # between passes or disagree with the checked dump.
    attempted = failed = 0
    rows_seen = {}
    for p in [res["warmup"]] + passes:
        for s in p["steps"]:
            attempted += 1
            if s["error"]:
                failed += 1
                print(f"step {s['name']} failed: {s['error']}", file=sys.stderr)
            else:
                rows_seen.setdefault(s["name"], set()).add(int(s["rows"]))
    for name, err in verdicts.items():
        attempted += 1
        if err is None and name in rows_seen and len(rows_seen[name]) != 1:
            err = f"rows_out differs between passes: {sorted(rows_seen[name])}"
        if err is not None:
            failed += 1
            print(f"gate {name}: {err}", file=sys.stderr)

    job_s = min(p["wall_s"] for p in plain)
    setup_s = median(derive_s) + res["session_s"] + res["warmup_s"]
    print(f"workload={args.workload} seed={args.seed} cores={res['cores']} "
          f"passes={len(plain)} traced_passes={len(traced)} "
          f"measured_s={res['measured_s']:.2f} failed={failed}/{attempted} "
          f"gate={sum(v is None for v in verdicts.values())}/{len(verdicts)}",
          file=sys.stderr)

    if args.trace == 0:
        metrics = {
            "job_s": (job_s, "s"),
            "setup_s": (setup_s, "s"),
            "shuffle_mb": (median([p["shuffle_bytes"] / 1e6 for p in plain]), "MB"),
            "peak_task_mem_mb": (
                median([p["peak_task_mem_bytes"] / 1e6 for p in plain]), "MB"),
        }
    else:
        metrics = {}
        for name, unit in layer_metric_units().items():
            layer, kind = name.rsplit(".", 1) if "." in name else ("", name)
            if name == "trace_overhead_s":
                value = min(p["wall_s"] for p in traced) - job_s
            else:
                value = median([p["layers"].get(layer, {}).get(kind, 0.0) for p in traced])
            metrics[name] = (value, unit)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
