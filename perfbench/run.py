"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|analyst --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates every input from ``--seed``
under ``.bench_work/`` in the checkout, starts one Spark session on
``local[<cpus>]``, sets up (session start, input generation, cold warm-up),
runs the workload's closed loop until its timed operations have taken
``--seconds``, checks every answer, and prints one JSON line as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (a traced run also enables Spark's event log and counts
jobs per operation). Metric definitions are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str, trace: bool) -> None:
    """Everything the JVM and the Python workers inherit, set before the
    session starts: core count, scratch directories inside the checkout,
    the program on the workers' import path, and (traced runs only) the
    event log."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def spark_layer(work: str, wl, traced_groups: set[str]) -> dict[str, float]:
    """Spark engine metrics over the timed region, plus per-operation
    Python bytes, from the event log."""
    import tracing
    from workloads import CORPUS_OPS

    totals = tracing.event_log_totals(os.path.join(work, "events"), traced_groups)
    a = totals.get("all", {})
    out = {
        "spark.executor_run_s": a.get("run_ms", 0) / 1e3,
        "spark.executor_cpu_s": a.get("cpu_ns", 0) / 1e9,
        "spark.gc_ms": a.get("gc_ms", 0),
        "spark.shuffle_write_bytes": a.get("shuffle_write", 0),
        "spark.shuffle_fetch_wait_ms": a.get("fetch_wait_ms", 0),
        "spark.spill_bytes": a.get("spill", 0),
        "spark.failed_tasks": a.get("failed_tasks", 0),
    }
    spans = wl.tracer.spans
    for op in CORPUS_OPS:
        name = f"corpus.{op}"
        per = [
            totals.get(f"perfbench-{i}", {}).get("python_bytes", 0)
            for i, s in enumerate(spans)
            if s.name == name and f"perfbench-{i}" in traced_groups
        ]
        out[f"{name}.python_bytes"] = statistics.median(per) if per else 0
    return out


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "rosbag2parquet_spark"))
    ):
        print("perfbench: the program (rosbag2parquet_spark, __spark_entry__.py) "
              f"is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    import tracing
    from workloads import WORKLOADS, median

    pin_environment(work, bool(args.trace))
    t_setup = time.perf_counter()
    spark = None
    try:
        with tracing.RssSampler() as rss:
            from rosbag2parquet_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.range(1).count()  # the session's first job, part of set-up
            tracer = tracing.Tracer(spark, enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.seconds)
            wl.setup()
            setup_s = time.perf_counter() - t_setup
            t_timed, ticks = time.perf_counter(), tracing.cpu_ticks()
            wl.run()
            timed_wall = time.perf_counter() - t_timed
            steal, total = (b - a for a, b in zip(ticks, tracing.cpu_ticks()))
        out = wl.out
        if args.trace:
            cached = tracing.cached_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
    probes = tracing.host_probes(work)
    probes["host.steal_ratio"] = steal / max(1, total)
    if args.trace:
        units = metric_units("per_layer")
        # a layer the workload never calls reads 0
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(out.layer)
        metrics.update(spark_layer(work, wl, wl.timed_groups))
        metrics.update(probes)
        metrics["spark.cached_mb"] = cached
        metrics["trace.overhead_ratio"] = tracer.overhead_s / timed_wall
        traces = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        units = metric_units("end_to_end")
        ops = out.op_s
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": median(ops) * 1e3,
            "ops_per_s": len(ops) / sum(ops),
            "peak_rss_mb": rss.peak / 1e6,
        }
        print(json.dumps({"diagnostics": probes, "ops": len(ops)}), file=sys.stderr)
    correct = out.failed == 0 and bool(out.self_tests) and all(out.self_tests)
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
