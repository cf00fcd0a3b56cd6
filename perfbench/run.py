"""The repository benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 3 --trace 0

Writes the workload's seeded inputs (untimed), sets up once (SparkSession
start plus the untimed warm-up passes: ``setup_s``), then runs units of work
on fresh directories until ``--seconds`` of them have been timed (at
least one), checking every output.  The last line of
standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a run whose
alternate units of work are traced.  The line before it records the run
conditions.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 1024 * 1024

# Per-layer metrics and their units.  Every one is printed for every
# workload; a layer a workload never calls reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.heap_after_gc_mb": "MB",
    "pipeline.run_s": "s",
    "pipeline.self_s": "s",
    "pipeline.report_s": "s",
    "pipeline.manifests": "count",
    "ingest.process_manifest_s": "s",
    "ingest.process_manifest_p50_s": "s",
    "ingest.records": "count",
    "sources.infer_schema_s": "s",
    "sources.sample_row_bytes_s": "s",
    "sources.write_parquet_s": "s",
    "sources.parquet_files": "count",
    "sources.parquet_bytes": "bytes",
    "sources.storage_ratio": "ratio",
    "state.track_files_s": "s",
    "state.claim_files_s": "s",
    "state.flip_s": "s",
    "state.manifest_record_s": "s",
    "state.manifest_flip_s": "s",
    "state.status_read_s": "s",
    "state.bytes_written_per_file": "bytes",
    "state.files_on_disk": "count",
    "plans.report_query_s": "s",
    "streaming.drain_s": "s",
    "streaming.self_s": "s",
    "streaming.trigger_p50_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import OPERATOR_MIX

    units = dict(PER_LAYER)
    units.update({f"{mod}.{q}_s": "s" for q, mod in OPERATOR_MIX.items()})
    return units


def start_session(cpus: int, work: str):
    """The program's session factory under pinned run conditions:
    ``local[nproc]``, shuffle partitions = nproc, a fixed 2 GB driver
    heap, no UI, and every scratch file (warehouse, JVM temp files, no
    perf-data file) inside the run's work directory."""
    from high_throughput_etl_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            # a fixed 2 GB heap: with G1 free to resize it, VmHWM swings
            # by a third or more from run to run (see README)
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the driver JVM it launched, and wait for the
    JVM to exit (it exits when its stdin closes).  A later session in
    this process launches a fresh JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_heap_after_gc_mb(spark) -> float:
    """Driver heap still in use after a full GC: what the program keeps
    live, which the fixed heap hides from ``peak_rss_mb``."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / MB


def _measure(wl, spark, seconds: float, trace: bool):
    """Run units of work until their timed seconds add up to ``seconds``
    (the untimed checks after each op are not counted), and at least
    one.  A traced run alternates untraced and traced units, untraced
    ones bracketing the traced ones, so the tracing overhead is measured
    inside one process and JIT warming from one unit to the next does
    not bias it."""
    from perfbench.tracing import Tracer

    tracer = Tracer()
    ops, traced = [], []

    def more() -> bool:
        if sum(o.seconds for o in ops + traced) < seconds:
            return True
        if trace:
            return not traced or len(ops) <= len(traced)
        return not ops

    rep = 0
    while more():
        on = trace and rep % 2 == 1
        if on:
            wl.tracer = tracer
            wl.patch(tracer)
        try:
            op = wl.op(spark, rep)
        finally:
            tracer.unpatch()
            wl.tracer = None
        (traced if on else ops).append(op)
        rep += 1
    return ops, traced, tracer


def host_loop_s() -> float:
    """Seconds of a fixed pure-Python loop: a gauge of the host's speed
    at the time of the run, recorded with the run conditions so that
    drift between runs can be told apart from a change in the program."""
    t0 = time.perf_counter()
    n = 0
    for i in range(2_000_000):
        n += i
    return time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        cpus: int) -> dict:
    from perfbench.workloads import WORKLOADS

    host_s = host_loop_s()
    t_start = time.perf_counter()
    wl = WORKLOADS[workload](work, seed)
    wl.prepare()
    prepare_s = time.perf_counter() - t_start

    # One set-up per run: a fresh JVM, the SparkSession and a cold warm-up
    # pass, the analogue of a job's start-up.  A repeat inside the same
    # process would time a warm restart instead, and a fresh process per
    # repeat costs as much as the whole run.
    t0 = time.perf_counter()
    spark = start_session(cpus, work)
    try:
        session_s = time.perf_counter() - t0
        attempted, failed = 0, 0
        for n in range(wl.warm_ups):
            a, f = wl.warm_up(spark, n)
            attempted, failed = attempted + a, failed + f
        setup_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        ops, traced, tracer = _measure(wl, spark, seconds, trace)
        measure_s = time.perf_counter() - t1
        peak_rss = jvm_peak_rss_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid())
        heap_mb = jvm_heap_after_gc_mb(spark) if trace else 0.0
        conditions = {
            "seed": seed, "cpus": cpus, "master": spark.sparkContext.master,
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "host_loop_s": round(host_s, 3), "prepare_s": round(prepare_s, 2),
            "setup_s": round(setup_s, 2),
            "units_s": [round(o.seconds, 2) for o in ops + traced],
            "measure_s": round(measure_s, 2),
        }
    finally:
        stop_session(spark)
    conditions["run_s"] = round(time.perf_counter() - t_start, 2)
    print(json.dumps({"conditions": conditions}))
    attempted += sum(o.attempted for o in ops + traced)
    failed += sum(o.failed for o in ops + traced)

    if trace:
        spans = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans, exist_ok=True)
        tracer.dump(os.path.join(spans, f"{workload}-seed{seed}.jsonl"))
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update(wl.layer_metrics(tracer, traced))
        values["session.start_s"] = session_s
        values["session.heap_after_gc_mb"] = heap_mb
        values["trace.overhead_s"] = (statistics.median(o.seconds for o in traced)
                                      - statistics.median(o.seconds for o in ops))
        metrics = {k: (float(v), units[k]) for k, v in values.items()}
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s": (statistics.median(o.seconds for o in ops), "s"),
            "input_mb_per_s": (statistics.median(
                o.input_bytes / MB / o.data_seconds for o in ops), "MB/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the gateway's connection file, Python workers' temp files, and the
    # JVM that spark-submit runs to build the driver's command line
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                     work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
