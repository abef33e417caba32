"""Pure functions behind the benchmark's numbers: percentiles, the union
of job intervals, per-operation layer records and the reconciliation
of those layers against wall time. Times are epoch milliseconds unless
a name ends in `_s`."""
import statistics

# call-site files whose jobs are memo builds or loops on the Spark driver
LOOP_SITES = ("Materialize.scala", "ClusterOps.scala", "GraphRank.scala",
              "ProductQuant.scala")
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def quantile(values, q):
    """Linear-interpolated quantile (0 <= q <= 1) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, beyond=10):
    """The highest of PERCENTILES with at least `beyond` samples above
    it, as (percentile, value); None when even the median has fewer."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= beyond - 1e-9:
            best = (p, quantile(values, p / 100))
    return best


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end), ...], each
    clipped to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def subtract_length(intervals, minus, lo, hi):
    """Length of the union of `intervals` within [lo, hi] that the
    union of `minus` does not cover."""
    both = union_length(list(intervals) + list(minus), lo, hi)
    return both - union_length(minus, lo, hi)


def reconcile(op, jobs, plan_intervals):
    """Split one operation's wall time into four parts that add up to it:

    - `busy_s`: covered by at least one Spark job;
    - `plans_s`: Catalyst phases outside every job;
    - `build_self_s`: the rest of the call into the operator's function
      (until it returned a DataFrame), outside jobs and phases;
    - `other_s`: what is left (result collection on the Spark driver, the
      client's own bookkeeping).
    """
    t0, tb, t1 = op["start_ms"], op.get("build_ms", op["end_ms"]), op["end_ms"]
    job_iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    wall = t1 - t0
    busy = union_length(job_iv, t0, t1)
    plans = subtract_length(plan_intervals, job_iv, t0, t1)
    covered_in_build = union_length(job_iv + list(plan_intervals), t0, tb)
    build_self = max(0.0, (tb - t0) - covered_in_build)
    other = wall - busy - plans - build_self
    return {"wall_s": wall / 1e3, "busy_s": busy / 1e3, "plans_s": plans / 1e3,
            "build_self_s": build_self / 1e3, "other_s": other / 1e3}


def _site(job):
    return job.get("callsite", "")


def layer_record(op, jobs, stages, queries, cores):
    """Per-layer numbers of one traced operation from its own jobs,
    stages and finished query executions."""
    t0, t1 = op["start_ms"], op["end_ms"]
    tb = op.get("build_ms", t1)
    phase = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    plan_iv = []
    for q in queries:
        for name in phase:
            iv = q.get(name)
            if iv:
                phase[name] += (iv[1] - iv[0]) / 1e3
                plan_iv.append((iv[0], iv[1]))
    wall = (t1 - t0) / 1e3
    busy = union_length([(j["start_ms"], j["end_ms"]) for j in jobs], t0, t1) / 1e3
    loop = [j for j in jobs if any(s in _site(j) for s in LOOP_SITES)]
    run_s = sum(s.get("run_ms", 0) for s in stages) / 1e3
    mb = 1e6
    return {
        "op": op["i"], "name": op["name"], "wall_s": wall,
        "plans.analysis_s": phase["analysis"],
        "plans.optimization_s": phase["optimization"],
        "plans.planning_s": phase["planning"],
        "plans.codegen_compiles": op.get("codegen_compiles", 0),
        "operators.build_s": (tb - t0) / 1e3,
        "operators.driver_gap_s": wall - busy,
        "operators.memo_job_s": sum(j["end_ms"] - j["start_ms"] for j in loop) / 1e3,
        "operators.loop_jobs": len(loop),
        "sources.scan_rows": sum(s.get("in_rows", 0) for s in stages),
        "sources.scan_mb": sum(s.get("in_bytes", 0) for s in stages) / mb,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s.get("tasks", 0) for s in stages),
        "exec.busy_s": busy,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(s.get("cpu_ns", 0) for s in stages) / 1e9,
        "exec.gc_s": sum(s.get("gc_ms", 0) for s in stages) / 1e3,
        "exec.core_util": run_s / (wall * cores) if wall > 0 else 0.0,
        "exec.shuffle_write_mb": sum(s.get("shuffle_write_bytes", 0) for s in stages) / mb,
        "exec.shuffle_read_mb": sum(s.get("shuffle_read_bytes", 0) for s in stages) / mb,
        "exec.spill_mb": sum(s.get("spill_bytes", 0) for s in stages) / mb,
        "exec.tasks_failed": sum(s.get("tasks_failed", 0) for s in stages),
        "reconcile": reconcile(op, jobs, plan_iv),
    }


def attribute(ops, trace):
    """Group the trace's jobs, stages and query executions by operation:
    jobs and stages by the operation index Spark carried on them, query
    executions by when their analysis began."""
    by_op = {str(op["i"]): ([], [], []) for op in ops}
    for j in trace["jobs"]:
        if j.get("op") in by_op and "end_ms" in j:
            by_op[j["op"]][0].append(j)
    for s in trace["stages"]:
        if s.get("op") in by_op:
            by_op[s["op"]][1].append(s)
    for q in trace["queries"]:
        start = min((iv[0] for k, iv in q.items() if k != "func"), default=None)
        for op in ops:
            if start is not None and op["start_ms"] <= start <= op["end_ms"]:
                by_op[str(op["i"])][2].append(q)
                break
    return by_op


def mean(values):
    return statistics.fmean(values) if values else 0.0
