"""The benchmark's arithmetic: end-to-end and per-layer metrics of one run.

Inputs are the JVM's run record (`perfbench.Main` output) and the set of op
names whose reference output failed the DuckDB comparison. Everything here
is pure and unit-tested (tests/test_metrics.py).
"""
import math
import statistics

MB = 1048576.0
TAIL_BEYOND = 10


def hd_quantile(values, p, grid=20000):
    """Harrell-Davis estimate of the p-quantile: a Beta(p(n+1), (1-p)(n+1))
    weighted mean of the order statistics. Unlike a single order statistic
    it moves smoothly when the sample has a gap at the quantile, as a mix of
    distinct queries does."""
    s = sorted(values)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    # Beta CDF at i/n by the midpoint rule on a fine grid
    weights = [0.0] * n
    for k in range(grid):
        x = (k + 0.5) / grid
        weights[min(n - 1, int(x * n))] += math.exp(
            (a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta) / grid
    total = sum(weights)
    return sum(w * v for w, v in zip(weights, s)) / total


def tail(values):
    """`op_tail_s`: the highest percentile with at least 10 samples beyond
    it, 100 * (n - 10) / n, estimated by Harrell-Davis. Below 11 samples no
    percentile qualifies and the median stands in. Returns (value,
    percentile, samples_beyond)."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return hd_quantile(values, 0.5), 50.0, n // 2
    p = (n - TAIL_BEYOND) / n
    return hd_quantile(values, p), 100.0 * p, TAIL_BEYOND


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_kind(name):
    """`spark.job.17` -> `spark.job`; other span names are their kind."""
    return "spark.job" if name.startswith("spark.job.") else name


def self_times(start, end, spans, containers=("queries.build",)):
    """Self time per span kind of one op, in ms.

    The op is the root span [start, end]. Spans named in `containers`
    (bench-side spans around calls into a layer) are the root's children;
    every other span (Catalyst phases, Spark jobs) is a child of the
    innermost container that holds its start, else of the root. A span's
    self time is its duration minus the part of it that its children cover;
    overlapping children (concurrent jobs) are counted once."""
    boxes = [s for s in spans if s["name"] in containers]
    kids = {id(b): [] for b in boxes}
    root_kids = list(boxes)
    for s in spans:
        if s["name"] in containers:
            continue
        home = [b for b in boxes if b["start_ms"] <= s["start_ms"] <= b["end_ms"]]
        if home:
            kids[id(min(home, key=lambda b: b["end_ms"] - b["start_ms"]))].append(s)
        else:
            root_kids.append(s)
    out = {"op": (end - start) - union_length(
        [(k["start_ms"], k["end_ms"]) for k in root_kids], start, end)}
    for s in spans:
        own = kids.get(id(s), [])
        dur = s["end_ms"] - s["start_ms"]
        cov = union_length([(k["start_ms"], k["end_ms"]) for k in own], s["start_ms"], s["end_ms"])
        kind = span_kind(s["name"])
        out[kind] = out.get(kind, 0) + dur - cov
    return out


def failures(ops, oracle_failed):
    """(attempted, failed): an op fails if it threw, if its output differed
    from its own reference, or if its reference failed the DuckDB check."""
    failed = sum(1 for o in ops if not o["ok"] or o["op"] in oracle_failed)
    return len(ops), failed


def end_to_end(run, oracle_failed):
    ops = run["ops"]
    attempted, failed = failures(ops, oracle_failed)
    walls = [o["wall_s"] for o in ops]
    tail_v, tail_pct, tail_beyond = tail(walls)
    m = {
        "setup_s": (run["setup_s"], "s"),
        "ops_per_s": ((attempted - failed) / run["window_s"], "ops/s"),
        "op_p50_s": (hd_quantile(walls, 0.5), "s"),
        "op_tail_s": (tail_v, "s"),
        "cpu_s_per_op": (run["cpu_ops_s"] / attempted, "s"),
        "heap_live_peak_mb": (run["heap_live_peak_mb"], "MB"),
    }
    extra = {"op_tail_pct": tail_pct, "op_tail_beyond": tail_beyond,
             "fail_frac": failed / attempted, "attempted": attempted, "failed": failed}
    return m, extra


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def trace_overhead(ops):
    """Fractional ops/s lost to tracing: ops that ran both traced and bare
    are matched by name, and 1 - (bare time / traced time) is returned."""
    by = {}
    for o in ops:
        by.setdefault(o["op"], {True: [], False: []})[o["traced"]].append(o["wall_s"])
    pairs = [(_mean(v[True]), _mean(v[False])) for v in by.values() if v[True] and v[False]]
    if not pairs:
        return 0.0
    traced = sum(p[0] for p in pairs)
    bare = sum(p[1] for p in pairs)
    return 1.0 - bare / traced


def per_layer(run, workload):
    ops = run["ops"]
    tr = [o for o in ops if o["traced"]]
    probes = run.get("probes", {})
    fit = probes.get("fit", {})
    slope = probes.get("slope", {})
    index = probes.get("index", {})
    selfs = [self_times(o["start_ms"], o["end_ms"], o["spans"]) for o in tr]

    def spans_ms(o, name):
        return sum(s["end_ms"] - s["start_ms"] for s in o["spans"] if s["name"] == name)

    def job_ms(o):
        return union_length([(s["start_ms"], s["end_ms"]) for s in o["spans"]
                             if s["name"].startswith("spark.job.")], o["start_ms"], o["end_ms"])

    task_run = sum(o["task_run_ms"] for o in tr)
    task_cpu = sum(o["task_cpu_ns"] for o in tr) / 1e6
    input_b = sum(o["input_b"] for o in tr)
    passes = fit.get("data_passes", 0)
    index_build = 0.0
    if workload == "corpus_increment":
        # the warm-up op builds the index; the timed ops only read it
        op = ops[0]["op"]
        index_build = max(0.0, run["warmup_s"][op] - statistics.median(
            o["wall_s"] for o in ops))
    m = {
        "tables.t_ms": _mean(o["tables_t_ms"] for o in tr),
        "io.read_mb": _mean(o["io_read_b"] / MB for o in tr),
        "queries.build_ms": _mean(spans_ms(o, "queries.build") for o in tr),
        "catalyst.analysis_ms": _mean(spans_ms(o, "catalyst.analysis") for o in tr),
        "catalyst.optimization_ms": _mean(spans_ms(o, "catalyst.optimization") for o in tr),
        "catalyst.planning_ms": _mean(spans_ms(o, "catalyst.planning") for o in tr),
        "catalyst.actions": _mean(o["executions"] for o in tr),
        "codegen.compiles": _mean(o["codegen_compiles"] for o in tr),
        "codegen.compile_ms": _mean(o["codegen_ms"] for o in tr),
        "spark.jobs": _mean(o["jobs"] for o in tr),
        "spark.stages": _mean(o["stages"] for o in tr),
        "spark.tasks": _mean(o["tasks"] for o in tr),
        "spark.task_retries": _mean(o["task_retries"] for o in tr),
        "spark.job_ms": _mean(job_ms(o) for o in tr),
        "spark.task_run_s": _mean(o["task_run_ms"] / 1e3 for o in tr),
        "spark.task_cpu_s": _mean(o["task_cpu_ns"] / 1e9 for o in tr),
        "spark.task_cpu_frac": task_cpu / task_run if task_run else 0.0,
        "spark.task_gc_s": _mean(o["task_gc_ms"] / 1e3 for o in tr),
        "spark.shuffle_write_mb": _mean(o["shuffle_write_b"] / MB for o in tr),
        "spark.shuffle_read_mb": _mean(o["shuffle_read_b"] / MB for o in tr),
        "spark.spill_mb": _mean(o["spill_b"] / MB for o in tr),
        "spark.peak_exec_mem_mb": _mean(o["peak_exec_mem_b"] / MB for o in tr),
        "spark.eager_jobs": _mean(o["eager_jobs"] for o in tr),
        "driver.self_ms": _mean(o["wall_s"] * 1e3 - job_ms(o) for o in tr),
        "fit.data_passes": passes,
        "fit.solver_iters": fit.get("solver_iters", 0),
        "fit.kept_steps": fit.get("kept_steps", 0),
        "fit.passes_per_step": passes / fit["kept_steps"] if fit.get("kept_steps") else 0.0,
        "fit.kkt_violations": fit.get("kkt_violations", 0),
        "fit.screen_ratio": (fit["nonzeros"] / fit["working_set"]
                             if fit.get("working_set") else 0.0),
        "fit.stall_exits": fit.get("stall_exits", 0),
        "fit.cert_failed_steps": fit.get("cert_failed_steps", 0),
        "fit.jobs_per_pass": fit["jobs"] / passes if passes else 0.0,
        "fit.ms_per_pass": fit["fit_ms"] / passes if passes else 0.0,
        "fit.cert_ms": fit.get("cert_ms", 0.0),
        "slope.prox_us": slope.get("prox_us", 0.0),
        "slope.strong_set_us": slope.get("strong_set_us", 0.0),
        "pipeline.shuffle_amp": (sum(o["shuffle_write_b"] for o in tr) / input_b
                                 if input_b else 0.0),
        "pipeline.rows_out": _mean(o["rows_out"] for o in ops),
        "index.build_s": index_build,
        "index.disk_mb": (index["disk_mb"] / index["corpus_mb"]
                          if index.get("corpus_mb") else 0.0),
        "index.read_ms": index.get("read_ms", 0.0),
        "jvm.jit_ms": _mean(o["jit_ms"] for o in ops),
        "jvm.gc_ms": _mean(o["gc_ms"] for o in ops),
        "trace.overhead_frac": trace_overhead(ops),
    }
    self_mean = {}
    for s in selfs:
        for k, v in s.items():
            self_mean[k] = self_mean.get(k, 0.0) + v / len(selfs)
    return m, self_mean


def spread(values):
    """Inter-quartile range as a share of the median."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
