#!/usr/bin/env python3
"""Engine benchmark: seeded ``serve`` and ``churn`` workloads against the
engine's public API, with every result checked.

    python3 enginebench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Spark runs at ``local[nproc]`` from this
one process with one closed-loop client. The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced
run (``--trace 1``). The line before it is the full report: host and
version stamp, every metric by name with its unit, sample counts and tail
percentiles. Spans and the report are also written under
``.enginebench/out/``. See ``enginebench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the self-tests")
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# host


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def vm_hwm_kb(pid="self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def driver_memory() -> str:
    """Driver heap below the host's RAM (the engine's default is 24g)."""
    return f"{max(1, min(4, mem_total_kb() // (4 * 1024 * 1024)))}g"


def git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    ref = open(head).read().strip()
    if ref.startswith("ref: "):
        p = os.path.join(ROOT, ".git", ref[5:])
        return open(p).read().strip() if os.path.exists(p) else ref
    return ref


def stamp(spark, args, mem: str) -> dict:
    import pandas
    import pyarrow

    return {
        "nproc": cpus(), "mem_total_kb": mem_total_kb(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": spark.version, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "python": sys.version.split()[0],
        "git_sha": git_sha(), "seed": args.seed, "workload": args.workload,
        "seconds": args.seconds, "scale": args.scale, "trace": args.trace,
        "driver_memory": mem, "master": spark.sparkContext.master,
    }


# --------------------------------------------------------------------------
# session


def start_session(work: str, n_cpus: int, mem: str, event_dir: str | None):
    from dlkp_spark.session import get_spark

    conf = {
        "spark.driver.memory": mem,
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed heap: G1 heap resizing otherwise varies GC work and
        # latency from run to run; touched at start, so peak RSS moves with
        # off-heap and driver-side memory, not with when G1 last collected
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("enginebench", master=f"local[{n_cpus}]",
                     shuffle_partitions=n_cpus, extra_conf=conf)


def peak_rss_mb(spark) -> float:
    """Driver VmHWM plus the JVM's, read before the session stops."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (vm_hwm_kb() + vm_hwm_kb(jvm)) / 1024.0


def stop_jvm() -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)


# --------------------------------------------------------------------------
# metrics


def tail(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    xs = sorted(samples)
    for p in range(99, 49, -1):
        v = xs[min(len(xs) - 1, int(p / 100 * len(xs)))]
        if sum(x > v for x in xs) >= 10:
            return p, v
    return None


def timing(samples: list[float], scale: float, unit: str) -> dict:
    out = {"value": statistics.median(samples) * scale, "unit": unit,
           "n": len(samples), "stat": "median"}
    t = tail(samples)
    if t:
        out[f"p{t[0]}"] = t[1] * scale
    return out


def end_to_end(wl_name: str, ctx, setup_s: float, rss: float) -> tuple[dict, dict]:
    """(contract metrics, full report) of an untraced run."""
    s, sz = ctx.samples, ctx.sz
    report = {"setup_s": {"value": setup_s, "unit": "s"},
              "peak_rss_mb": {"value": rss, "unit": "MB"},
              "error_rate": {"value": ctx.failed / max(ctx.attempted, 1), "unit": "1"}}
    if wl_name == "serve":
        inter = [x for k, v in s.items() if k.startswith("query.") and k != "query.batch"
                 for x in v]
        q = timing(inter, 1e3, "ms")
        report["query_p50_ms"] = q
        if "p90" in q:
            report["query_p90_ms"] = {"value": q["p90"], "unit": "ms", "n": q["n"]}
        report["batch_qps"] = {
            "value": sz["batch_queries"] / statistics.median(s["query.batch"]),
            "unit": "1/s", "n": len(s["query.batch"])}
        report["index_bytes_per_text_byte"] = {
            "value": ctx.extra["space_per_text_byte"], "unit": "ratio"}
        for kind in sorted({k for k in s if k.startswith("query.")}):
            report[f"{kind}_p50_ms"] = timing(s[kind], 1e3, "ms")
        bulk = timing(s["query.batch"], 1.0, "s")
        query = q
    else:
        report["append_p50_s"] = timing(s["append"], 1.0, "s")
        report["fresh_p50_s"] = timing(s["fresh"], 1.0, "s")
        report["churn_query_p50_ms"] = timing(s["query.deleted"], 1e3, "ms")
        report["compact_s"] = timing(s["compact"], 1.0, "s")
        report["delete_p50_s"] = timing(s["delete"], 1.0, "s")
        report["reconcile_p50_s"] = timing(s["reconcile"], 1.0, "s")
        report["churn_space_amp"] = {"value": ctx.extra["space_per_text_byte"],
                                     "unit": "ratio"}
        bulk = report["fresh_p50_s"]
        query = report["churn_query_p50_ms"]
    contract = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "query_p50_ms": {"value": query["value"], "unit": "ms"},
        "bulk_p50_s": {"value": bulk["value"], "unit": "s"},
        "space_per_text_byte": {"value": ctx.extra["space_per_text_byte"], "unit": "ratio"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }
    return contract, report


def settle(spark) -> None:
    """Start the timed window from the same heap state in every run: set-up's
    garbage collected in the JVM, and set-up's Python objects (oracle tables,
    inputs) moved out of the cyclic collector's view."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    gc.freeze()


def run_untraced(args, work: str, n_cpus: int, mem: str):
    import workloads
    from tracing import NullTracer

    spark = start_session(work, n_cpus, mem, None)
    ctx = workloads.Ctx(spark, NullTracer(), args.seed, work, args.scale, n_cpus)
    wl = workloads.WORKLOADS[args.workload]()
    wl.setup(ctx)
    wl.warm(ctx)
    settle(spark)
    setup_s = time.perf_counter() - T_START
    ctx.samples.clear()
    wl.window(ctx, args.seconds)
    wl.finish(ctx)
    info = stamp(spark, args, mem)
    rss = peak_rss_mb(spark)
    contract, report = end_to_end(args.workload, ctx, setup_s, rss)
    return ctx, contract, {"stamp": info, "metrics": report,
                           "setup": ctx.extra.get("marks"),
                           "warm_windows_s": ctx.extra.get("warm_windows_s")}, []


def run_traced(args, work: str, n_cpus: int, mem: str):
    import layers
    import workloads
    from tracing import NullTracer, Tracer, find_event_log, read_event_log

    tr = Tracer()
    workloads.install_spans(tr)
    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    try:
        with tr.span("session", "start", jobs=False):
            spark = start_session(work, n_cpus, mem, event_dir)
        tr.bind(spark.sparkContext)
        ctx = workloads.Ctx(spark, tr, args.seed, work, args.scale, n_cpus)
        wl = workloads.WORKLOADS[args.workload]()
        wl.setup(ctx)
        wl.traced_extras(ctx)
        wl.warm(ctx)
        settle(spark)
        ctx.samples.clear()
        tr.phase = "window"
        traced_s = wl.unit(ctx)
        wl.finish(ctx)
        tr.phase = None
        info = stamp(spark, args, mem)
        app_id = spark.sparkContext.applicationId
    finally:
        tr.unwrap_all()
    spark.stop()  # finishes the event log
    ledgers = read_event_log(find_event_log(event_dir, app_id))
    # the same unit of work untraced, in a fresh context of the same JVM
    ctx.spark, ctx.tracer = start_session(work, n_cpus, mem, None), NullTracer()
    wl.rewarm(ctx)  # restarts Python workers and listing handles
    untraced_s = wl.unit(ctx)
    contract, report = layers.per_layer(args.workload, tr.spans, ledgers,
                                        ctx.extra, traced_s / untraced_s - 1.0)
    return ctx, contract, {"stamp": info, "metrics": report}, tr.spans


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import dlkp_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"enginebench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    n_cpus, mem = cpus(), driver_memory()
    base = os.path.join(ROOT, ".enginebench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Spark, its Python workers and every temp file stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    tempfile.tempdir = None
    os.environ["PYTHONHASHSEED"] = "0"  # Python workers hash alike in every run
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    try:
        runner = run_traced if args.trace else run_untraced
        ctx, contract, report, spans = runner(args, work, n_cpus, mem)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    report["errors"] = ctx.errors[:20]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({**report, "samples_s": ctx.samples, "spans": spans}, f,
                  indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": contract}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
