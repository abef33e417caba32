"""graft's benchmark: one command, two workloads, outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each workload runs graft's public entry points in one JVM at
local[nproc] with graft.Bench's session settings (shuffle partitions =
cores, UTC, parquet nanos-as-long, NoCartesianGuard on), as a closed
loop with one client:

- topk_adhoc: passes of the seven Top-K shapes in seeded order: q1a,
  q1b, q1c and q2 with a seeded K and date window, and the registered
  q3_shipping_priority, q9_product_profit and q18_large_orders.
- registry_sweep: passes over a fixed slice of SparkEntry.queries, in
  seeded order.

The command builds graft from source (perfbench/build.py), generates
the seeded tables outside the timed window (perfbench/gen.py), runs the
JVM program (perfbench/scala), checks every operation against the DuckDB
oracle (perfbench/check.py) and prints one JSON object as its last
line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. The full run record (host context, set-up and warm-up times, every
operation, and with --trace 1 one layer record per operation) goes to
.bench_build/runs/<workload>-seed<n>-trace<t>/record.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
LIMIT_S = 170
JVM_HEAP = "3g"
# TPC-H scale factor of each workload's seeded tables
SCALE = {"topk_adhoc": 0.1, "registry_sweep": 0.01}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def steal_s():
    """CPU steal time so far (Linux /proc/stat): time the hypervisor ran
    something else on this host's CPUs, as context for how noisy a run was."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def java(classpath, args, log, scratch, timeout):
    """Run graft.bench.Main in its own JVM, output to `log`."""
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.bench.Main"] + args
    os.makedirs(scratch, exist_ok=True)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=scratch)
        try:
            code = proc.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"JVM timed out; log: {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write(open(log).read()[-3000:])
        raise SystemExit(f"JVM exited with code {code}; log: {log}")


def tables(sf, seed):
    """The seeded tables at scale `sf`, generated once per (sf, seed)."""
    out = os.path.join(OUT, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(out + ".done"):
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(out, sf, seed)
        open(out + ".done", "w").close()
    return out


def end_to_end(run):
    lat = [(op["end_ms"] - op["start_ms"]) / 1e3 for op in run["ops"]]
    return {
        "setup_s": (run["setup_s"], "s"),
        "latency_p50_s": (stats.quantile(lat, 0.5), "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
    }


PER_OP_UNITS = {
    "plans.analysis_s": "s/op", "plans.optimization_s": "s/op",
    "plans.planning_s": "s/op", "plans.codegen_compiles": "count/op",
    "operators.build_s": "s/op", "operators.driver_gap_s": "s/op",
    "operators.memo_job_s": "s/op", "operators.loop_jobs": "count/op",
    "sources.scan_rows": "rows/op", "sources.scan_mb": "MB/op",
    "exec.jobs": "count/op", "exec.stages": "count/op", "exec.tasks": "count/op",
    "exec.busy_s": "s/op", "exec.task_run_s": "s/op", "exec.task_cpu_s": "s/op",
    "exec.gc_s": "s/op", "exec.shuffle_write_mb": "MB/op",
    "exec.shuffle_read_mb": "MB/op", "exec.spill_mb": "MB/op",
    "exec.tasks_failed": "count/op",
}


def per_layer(run, records, ncores):
    """Per-operation means of the layer records, plus run-level numbers."""
    m = {k: (stats.mean([r[k] for r in records]), u) for k, u in PER_OP_UNITS.items()}
    wall = sum(r["wall_s"] for r in records)
    plans = sum(r["plans.analysis_s"] + r["plans.optimization_s"] + r["plans.planning_s"]
                for r in records)
    m["plans.wall_share"] = (plans / wall, "ratio")
    m["exec.core_util"] = (sum(r["exec.task_run_s"] for r in records) / (wall * ncores), "ratio")
    last = run["ops"][-1]
    m["operators.memo_views"] = (last["memo_views"], "count")
    m["operators.retained_mb"] = (last["retained_mb"], "MB")
    for k, v in run["functions"].items():
        if k != "rows":
            m[f"functions.{k}"] = (v, "ns/row")
    lat = [r["wall_s"] for r in records]
    m["trace.latency_p50_s"] = (stats.quantile(lat, 0.5), "s")
    m["trace.overhead_share"] = (run["trace"]["callback_s"] / run["window_s"], "ratio")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    marks = [time.time()]
    classpath = build.ensure_built()
    marks.append(time.time())
    deadline = time.time() + LIMIT_S
    data = tables(SCALE[a.workload], a.seed)
    marks.append(time.time())
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0 = steal_s()
    java(classpath, [a.workload, data, run_dir, str(a.seconds), str(a.trace), str(a.seed)],
         os.path.join(run_dir, "jvm.log"), run_dir, deadline - time.time())
    run = json.load(open(os.path.join(run_dir, "run.json")))
    marks.append(time.time())
    host = run["host"]
    host["steal_share"] = (steal_s() - steal0) / ((marks[-1] - marks[-2]) * host["nproc"])
    bad = check.check_run(ROOT, data, run_dir, run)
    marks.append(time.time())
    attempted = len(run["ops"])
    lat = [(op["end_ms"] - op["start_ms"]) / 1e3 for op in run["ops"]]
    tail = stats.tail_percentile(lat)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "data": data,
              "host": host, "setup_s": run["setup_s"], "warmup_pass_s": run["warmup_pass_s"],
              "window_s": run["window_s"],
              "phase_s": dict(zip(("build", "inputs", "jvm", "check"),
                                  (b - a for a, b in zip(marks, marks[1:])))),
              "attempted": attempted, "failed": bad, "error_rate": bad / attempted,
              "latency_samples": len(lat), "latency_tail": tail,
              "jvm_phase_s": run["phase_s"], "ops": run["ops"]}
    if a.trace:
        by_op = stats.attribute(run["ops"], run["trace"])
        records = [stats.layer_record(op, *by_op[str(op["i"])], host["nproc"])
                   for op in run["ops"] if op["ok"]]
        record["layers"] = records
        record["functions"] = run["functions"]
        metrics = per_layer(run, records, host["nproc"])
    else:
        metrics = end_to_end(run)
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for k, (v, u) in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    print(f"{a.workload}: {attempted} operations, {bad} failed or wrong; latency over "
          f"{len(lat)} samples: median {stats.quantile(lat, 0.5):.4g} s"
          + (f", p{tail[0]:g} {tail[1]:.4g} s" if tail else "")
          + f"; record: {os.path.relpath(run_dir, ROOT)}/record.json")
    print(json.dumps({"correct": bad == 0, "attempted": attempted, "failed": bad,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
