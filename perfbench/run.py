"""Engine benchmark: one workload per process, one client, local[nproc].

    python3 perfbench/run.py --workload index_ask_curate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

The launch environment (cores, driver memory, PYTHONPATH for the Python
workers, temp and Spark local dirs inside the checkout, console progress
bar off, and with ``--trace 1`` the Spark event log) is set here, from
outside the package, before the Spark JVM starts.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}.  Untraced runs report the end-to-end metrics, traced runs the
per-layer metrics.  The line before it is a summary under the names the
metrics are discussed by (index_mb_per_s, ask_p50_ms, reindex_s, ...),
derived from the same operations as the metrics.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("index_ask_curate", "reindex_serve")


def launch_env(work: str, trace: bool) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = ["--conf spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "1g",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join(conf) + " pyspark-shell",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def run_phase(b, wl, st, seconds: float, trace: bool):
    """Timed closed loop: whole ops back to back until ``seconds`` have
    passed (at least one).  Returns each op's walls by kind, and the whole
    wall of each op.  Traced, the ops alternate untraced and traced (at
    least one of each) and both are returned: (traced, untraced)."""
    runs = {True: ([], []), False: ([], [])}  # traced? -> (ops, op walls)
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        b.tracer.enabled = trace and i % 2 == 1
        t = time.perf_counter()
        out = wl["op"](b, st, i)
        ops, walls = runs[b.tracer.enabled or not trace]
        ops.append(out)
        walls.append(time.perf_counter() - t)
        i += 1
        if time.perf_counter() >= deadline and (not trace or i >= 2):
            b.tracer.enabled = False
            return runs[True], runs[False]


def layer_metrics(b, work: str, traced, untraced, session_s: float, p50: dict) -> dict:
    """Per-layer metrics of a traced run from its spans and event log;
    ``p50`` holds the traced operations' medians by kind."""
    import tracing
    import workloads

    groups = tracing.parse_event_log(os.path.join(work, "eventlog"))
    totals = tracing.layer_totals(b.tracer, groups)
    out = {}
    for layer in workloads.LAYERS:
        t = totals.get(layer, {"self_s": 0.0, **dict.fromkeys(tracing.COUNTERS, 0)})
        if layer == "session":
            t = {**t, "self_s": session_s}
        for name, unit in tracing.LAYER_UNITS.items():
            out[f"{layer}.{name}"] = (t[name], unit)
    spec = dict.fromkeys(workloads.LAYER_SPECIFIC, 0.0)
    spec.update(b.layer)
    ops, walls = traced
    trace_wall = sum(walls)
    spec.update({k: v / len(ops) for k, v in b.per_op.items()})
    build = tracing.final_step_counters(b.tracer, groups, "build_index")
    if build["n"]:
        spec["index.jobs"] = build["jobs"] / build["n"]
        spec["index.reexec_s"] = totals["tools.index_cli"]["self_s"] / build["n"]
    asks = tracing.final_step_counters(b.tracer, groups, "ask")
    if asks["n"]:
        spec["search.jobs_per_query"] = totals["operators.search"]["jobs"] / asks["n"]
        spec["search.tasks_per_query"] = totals["operators.search"]["tasks"] / asks["n"]
    retrain = tracing.final_step_counters(b.tracer, groups, "retrain")
    if retrain["n"]:
        spec["ivf.retrain_jobs"] = retrain["jobs"] / retrain["n"]
    self_sum = sum(t["self_s"] for layer, t in totals.items() if layer != "session")
    spec.update({
        "session.start_s": session_s,
        "trace.wall_s": trace_wall,
        "trace.prefix_s": sum(s["wall"] for s in b.tracer.steps if not s["final"]),
        "trace.unattributed_s": trace_wall - self_sum,
        **{f"trace.{k}": v for k, v in p50.items()},
        "trace.overhead_ms": 1e3 * (statistics.median(walls) - statistics.median(untraced[1])),
    })
    for name, unit in workloads.LAYER_SPECIFIC.items():
        out[name] = (spec[name], unit)
    b.tracer.dump(os.path.join(work, "spans.json"))
    return out


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "log_vector_spark")) or not os.path.isdir(
            os.path.join(ROOT, "tools")):
        raise SystemExit(f"engine sources not found under {ROOT}")
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    launch_env(work, trace)
    os.chdir(work)  # spark-warehouse / derby files land here, not in the checkout
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        return _run(name, seed, seconds, trace, work)
    finally:
        os.chdir(ROOT)
        if trace and os.path.exists(os.path.join(work, "spans.json")):
            keep = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(keep, f"{name}-seed{seed}.json"))
        shutil.rmtree(work, ignore_errors=True)


def _run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import tracing
    import workloads
    from log_vector_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{name}")
    session_s = time.perf_counter() - t
    try:
        b = workloads.Bench(spark, tracing.Tracer(spark.sparkContext, False), work, seed)
        wl = workloads.WORKLOADS[name]
        st = wl["setup"](b)
        setup_s = time.perf_counter() - T0
        traced, untraced = run_phase(b, wl, st, seconds, trace)
        ops = traced[0]
        jvm_rss, py_rss = tracing.peak_rss_mb(spark.sparkContext)
        wl["finish"](b, st)
    finally:
        tracing.stop_session(spark)
    walls = {kind: [w for op in ops for w in op[kind]] for kind in workloads.KINDS}
    p50 = {f"{kind}_p50_ms": 1e3 * statistics.median(ws) for kind, ws in walls.items()}
    summary = {
        "workload": name, "seed": seed, "ops": len(ops), "setup_s": setup_s, **p50,
        "peak_rss_mb": jvm_rss + py_rss, "jvm_rss_mb": jvm_rss,
        "error_rate": b.failed / max(1, b.attempted), **wl["summary"](st, walls),
    }
    if trace:
        metrics = layer_metrics(b, work, traced, untraced, session_s, p50)
    else:
        metrics = {"setup_s": (setup_s, "s"), **{k: (v, "ms") for k, v in p50.items()},
                   "peak_rss_mb": (summary["peak_rss_mb"], "MB")}
    for msg in b.failures[:20]:
        print(f"CHECK FAILED [{name}]: {msg}", file=sys.stderr)
    print("summary " + json.dumps(summary))
    return {"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        rc = 0
        for name in WORKLOAD_NAMES:
            rc |= subprocess.call([sys.executable, os.path.abspath(__file__), "--workload", name,
                                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                                   "--trace", str(args.trace)])
        return rc
    try:
        result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 - report, exit non-zero, print no result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
