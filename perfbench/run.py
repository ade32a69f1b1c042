#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload prep_queries --seed 1 --seconds 10 --trace 0

Builds the engine and the driver from source (build.py), generates the
seeded inputs (gen.py), runs `perfbench.Main` in one JVM against
`local[N]`, compares every op's output with DuckDB (oracle.py) and prints
`{"correct", "attempted", "failed", "metrics"}` as the last stdout line:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Per-op detail, spans and run conditions go to an artifact
under perfbench/.work/artifacts/. See README.md for the workloads and
metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
WORKLOADS = ("prep_queries", "corpus_increment")
JVM_TIMEOUT_S = 165

# cpu_s_per_op stays in the artifact only: in a one-minute JVM it is mostly
# JIT compile time, and its run-to-run spread is too wide for a bound
E2E_UNITS = ("setup_s", "ops_per_s", "op_p50_s", "op_tail_s", "heap_live_peak_mb")
# per-layer metrics printed on the traced line, with units; the artifact
# holds the full set (metrics.per_layer). Times that are 0 by construction
# on a workload (codegen with a warm cache, the index on prep_queries) are
# left to the artifact.
LAYER_UNITS = {
    "tables.t_ms": "ms", "io.read_mb": "MB", "queries.build_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "codegen.compiles": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.job_ms": "ms",
    "spark.task_cpu_s": "s", "spark.task_cpu_frac": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.eager_jobs": "count", "driver.self_ms": "ms",
    "fit.data_passes": "count", "fit.jobs_per_pass": "ratio",
    "fit.ms_per_pass": "ms", "fit.kkt_violations": "count",
    "slope.prox_us": "us", "pipeline.shuffle_amp": "ratio",
    "index.disk_mb": "ratio",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms", "trace.overhead_frac": "ratio",
}
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def inputs(workload: str, seed: int) -> str:
    """Generate (or reuse) the seeded tables; return their directory."""
    if workload == "prep_queries":
        out = os.path.join(WORK, "data", "star")
        gen.ensure_star(out)
    else:
        out = os.path.join(WORK, "data", f"corpus-{seed}")
        gen.ensure_corpus(out, seed)
    return out


def git_commit():
    try:
        return subprocess.run(["git", "-C", os.path.dirname(HERE), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def input_sizes(data_dir: str) -> dict:
    import pyarrow.parquet as pq
    out = {}
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet") and os.path.isfile(os.path.join(data_dir, name)):
            path = os.path.join(data_dir, name)
            out[name[:-8]] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                              "bytes": os.path.getsize(path)}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)

    classpath = build.build()
    data_dir = inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # one core is left to the JIT compiler and GC threads, which would
    # otherwise contend with the tasks for every core
    cpus = max(1, min(4, (os.cpu_count() or 2) - 1))
    out = os.path.join(run_dir, "run.json")
    source_build = os.path.basename(os.path.dirname(classpath.split(os.pathsep)[0]))
    cache = os.path.join(WORK, "oracle_cache")
    verified = oracle.verified_path(cache, data_dir, source_build)
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data_dir, "--out", out,
        "--cpus", str(cpus), "--verified", verified]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {log.name}", file=sys.stderr)
            return 2
    if rc != 0:
        print(f"benchmark JVM exited {rc}; log: {os.path.join(run_dir, 'jvm.log')}", file=sys.stderr)
        return 2
    with open(out) as f:
        run = json.load(f)

    mismatches = oracle.check(run["refs"], data_dir, cache, verified)
    bad = {op for op, (msg, _) in mismatches.items() if msg}
    unchecked = {o["op"] for o in run["ops"]} - set(mismatches)
    e2e, extra = metrics.end_to_end(run, bad | unchecked)
    layer, self_ms = metrics.per_layer(run, a.workload) if a.trace else ({}, {})
    if a.trace:
        shown = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        shown = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E_UNITS}

    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "extra": extra, "per_layer": layer, "self_ms_per_op": self_ms,
        "oracle": {op: {"mismatch": m, "tolerance_only_cells": t}
                   for op, (m, t) in mismatches.items()}, "unchecked_ops": sorted(unchecked),
        "conditions": dict(run["conditions"], git_commit=git_commit(),
                           source_build=source_build),
        "inputs": input_sizes(data_dir), "setup_s": run["setup_s"],
        "warmup_s": run["warmup_s"], "phase_s": run["phase_s"], "window_s": run["window_s"],
        "probes": run["probes"],
        "ops": run["ops"],
    }
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    with open(os.path.join(WORK, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for op, (msg, n_tol) in sorted(mismatches.items()):
        if msg:
            print(f"oracle mismatch {op}: {msg}", file=sys.stderr)
        elif n_tol:
            print(f"oracle match within 1e-9 only {op}: {n_tol} cells", file=sys.stderr)
    for o in run["ops"]:
        if not o["ok"]:
            print(f"failed op {o['op']}: {o['detail']}", file=sys.stderr)
    line = {"correct": extra["failed"] == 0, "attempted": extra["attempted"],
            "failed": extra["failed"], "metrics": shown}
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
