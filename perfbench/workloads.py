"""The benchmark's workloads, each driven through the program's public
entry points.

- ``backfill``: one ``PipelineRunner.run(today=TODAY)`` over a seeded
  corpus of twelve ~3.5 MB NDJSON files on one past date, at the prod
  manifest size, with default schema inference; then the operator's
  status read (``pending_counts``, ``orphan_dates`` and the
  ``GLUE_PERFORMANCE`` / ``GLUE_FAILURES`` report SQL over the run's
  reports).  Shares of the listing are invalid files and re-delivered
  duplicates.  Parse and write are about a quarter of ``run()``, the
  state layer's writes nearly half.
- ``stream_drain``: ``start_ingest_stream(..., available_now=True)``
  drains a pre-landed corpus at the dev manifest size, upserting the
  state table per micro-batch; then the same state read.
- ``operator_mix``: a pinned set of registry queries, one per operator
  module, over the bundled sf0.01 tables; no pipeline writes.  It is the
  no-change control for pipeline and state changes, and they are its
  control in turn.

Each unit of work (an "op") runs on fresh state, output, checkpoint and
report directories, and its outputs are checked after its clock stops.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from perfbench import check, gen
from perfbench.tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

# A fixed "today": the runner's default is the wall-clock date, which
# would change batching from one calendar day to the next.
TODAY = "2026-02-01"
PAST_DATES = ["2026-01-10", "2026-01-11"]
PROD_MANIFEST = 100  # the reference's prod MAX_FILES_PER_MANIFEST
DEV_MANIFEST = 10  # the dev size, operators.batching's default

# Pinned, never derived from the registry's rotating HEADLINE window:
# one query per owning module, the relational core included.  Seven keep
# a cold pass near 20 s on 4 cores, so a run stays under a minute.
OPERATOR_MIX = {
    "q9_profit_rollup": "queries",
    "dedup_jaccard_minhash": "operators.dedup",
    "ann_ivf_topk": "operators.similarity",
    "text_bm25_topk": "operators.retrieval",
    "events_quantile_sketch": "operators.sketches",
    "user_funnel_chained": "operators.sequence",
    "events_twap": "operators.timeseries",
}


@dataclass
class Op:
    """One timed unit of work and what its checks found."""

    seconds: float
    input_bytes: int
    data_seconds: float
    attempted: int
    failed: int
    layer: dict = field(default_factory=dict)


def _tree_size(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose name ends with ``suffix``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    name = ""
    # untimed warm-up passes inside set-up, before the timed op
    warm_ups = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.tracer: Tracer | None = None

    def prepare(self) -> None:
        """Write the inputs (untimed, outside set-up)."""

    def warm_up(self, spark: SparkSession, n: int) -> tuple[int, int]:
        """Untimed pass ``n`` through the workload's code; returns
        (attempted, failed) for checks it makes."""
        return 0, 0

    def op(self, spark: SparkSession, rep: int) -> Op:
        raise NotImplementedError

    def patch(self, tracer: Tracer) -> None:
        """Install span wrappers on the program's public calls."""

    def layer_metrics(self, tracer: Tracer, ops: list[Op]) -> dict[str, float]:
        return {}

    def _request(self, request: str) -> None:
        if self.tracer:
            self.tracer.request = request

    def _span(self, name: str, request: str | None = None):
        return self.tracer.span(name, request) if self.tracer else nullcontext()


# -- pipeline workloads ---------------------------------------------------


class _PipelineWorkload(Workload):
    def patch(self, tracer: Tracer) -> None:
        """Wrap the program's public calls where their callers look them up:
        ``pipeline`` and ``ingest`` import functions by name; the sink's
        sampler and the report writers are imported inside function bodies,
        so their module attributes are patched."""
        from high_throughput_etl_pipeline_spark import ingest, pipeline
        from high_throughput_etl_pipeline_spark.sources import parquet_sink, reports
        from high_throughput_etl_pipeline_spark.state.manifest import ManifestStore
        from high_throughput_etl_pipeline_spark.state.tracker import FileStateTracker

        def by_date(spark, paths, out, date_prefix=None, **kw):
            return f"{tracer.request}:{date_prefix}"

        def by_manifest(store, manifest_path, *a, **kw):
            return f"{tracer.request}:{manifest_path}"

        tracer.patch(pipeline.PipelineRunner, "run", "pipeline.run")
        tracer.patch(pipeline, "process_manifest", "ingest.process_manifest", by_date)
        tracer.patch(pipeline, "assign_batches", "operators.assign_batches")
        tracer.patch(pipeline, "build_manifest_docs", "state.build_manifest_docs")
        tracer.patch(ingest, "read_ndjson", "sources.read_ndjson")
        tracer.patch(ingest, "write_date_partitioned_parquet", "sources.write_parquet")
        tracer.patch(parquet_sink, "estimate_avg_row_bytes", "sources.sample_row_bytes")
        tracer.patch(reports, "build_run_report", "sources.build_run_report")
        tracer.patch(reports, "write_report", "sources.write_report")
        tracer.patch(FileStateTracker, "track_files", "state.track_files")
        tracer.patch(FileStateTracker, "claim_files", "state.claim_files")
        tracer.patch(FileStateTracker, "update_status_for_manifest", "state.flip",
                     by_manifest)
        tracer.patch(ManifestStore, "record", "state.manifest_record")
        tracer.patch(ManifestStore, "update_status", "state.manifest_flip",
                     by_manifest)

    def _status_read(self, tracker) -> tuple[list, list[str]]:
        with self._span("state.status_read"):
            pending = tracker.pending_counts().collect()
            orphans = tracker.orphan_dates(TODAY)
        return pending, orphans

    def _state_layer(self, tracer: Tracer, ops: list[Op]) -> dict[str, float]:
        n = len(ops)
        m = {
            "state.track_files_s": tracer.total("state.track_files") / n,
            "state.claim_files_s": tracer.total("state.claim_files") / n,
            "state.flip_s": tracer.total("state.flip") / n,
            "state.manifest_record_s": tracer.total("state.manifest_record") / n,
            "state.manifest_flip_s": tracer.total("state.manifest_flip") / n,
            "state.status_read_s": tracer.total("state.status_read") / n,
        }
        for k in ("state.bytes_written_per_file", "state.files_on_disk",
                  "sources.parquet_files", "sources.parquet_bytes",
                  "sources.storage_ratio"):
            m[k] = statistics.mean(o.layer[k] for o in ops)
        return m

    def _disk_layer(self, d: str, input_bytes: int, files: int) -> dict[str, float]:
        state_files, state_bytes = _tree_size(os.path.join(d, "state"))
        parquet_files, parquet_bytes = _tree_size(os.path.join(d, "out"), ".parquet")
        return {
            "state.bytes_written_per_file": state_bytes / files,
            "state.files_on_disk": state_files,
            "sources.parquet_files": parquet_files,
            "sources.parquet_bytes": parquet_bytes,
            "sources.storage_ratio": parquet_bytes / input_bytes,
        }


class Backfill(_PipelineWorkload):
    name = "backfill"
    # after one pass its first op still varied by 19 % (IQR/median over
    # ten seeds) as the JIT warmed; after two, by 9-16 %
    warm_ups = 2
    # one past date: the files flush as a single orphan manifest, which
    # the prod size holds whole (the dev size would split it)
    N_FILES = 12
    FILE_MB = 3.5

    def prepare(self) -> None:
        self.corpus = gen.write_corpus(
            os.path.join(self.work, "land"), self.seed, "bf", self.N_FILES,
            self.FILE_MB, PAST_DATES[:1], n_bad_extension=1, n_bad_size=1,
            n_duplicates=1,
        )
        # the warm-up takes every path an op takes, quarantine included
        self.warm = gen.write_corpus(
            os.path.join(self.work, "land-warm"), self.seed, "wu", 1,
            self.FILE_MB, PAST_DATES[:1], n_bad_extension=1, n_bad_size=1,
            n_duplicates=1,
        )

    def _run(self, spark, d: str, corpus: gen.Corpus):
        from high_throughput_etl_pipeline_spark.pipeline import PipelineRunner

        runner = PipelineRunner(
            spark, os.path.join(d, "state", "files"), os.path.join(d, "out"),
            quarantine_dir=os.path.join(d, "quarantine"),
            batch_size=PROD_MANIFEST, reports_dir=os.path.join(d, "reports"),
        )
        listing = spark.createDataFrame(
            corpus.listing(), "file_path STRING, file_size_mb DOUBLE"
        )
        t0 = time.perf_counter()
        res = runner.run(listing, today=TODAY)
        t1 = time.perf_counter()
        return runner, res, t1 - t0

    def _report_read(self, spark, d: str) -> tuple[list, list]:
        from high_throughput_etl_pipeline_spark.plans.analytics import (
            GLUE_FAILURES,
            GLUE_PERFORMANCE,
        )
        from high_throughput_etl_pipeline_spark.sources.reports import (
            register_report_views,
        )

        with self._span("plans.report_query"):
            register_report_views(
                spark, glue_reports_path=os.path.join(d, "reports")
            )
            perf = spark.sql(GLUE_PERFORMANCE).collect()
            fails = spark.sql(GLUE_FAILURES).collect()
        return perf, fails

    def warm_up(self, spark, n):
        d = os.path.join(self.work, f"warm{n}")
        runner, _, _ = self._run(spark, d, self.warm)
        self._status_read(runner.tracker)
        self._report_read(spark, d)
        return 0, 0

    def op(self, spark, rep):
        d = os.path.join(self.work, f"op{rep}")
        c = self.corpus
        self._request(f"backfill-{rep}")
        t0 = time.perf_counter()
        runner, res, run_s = self._run(spark, d, c)
        pending, orphans = self._status_read(runner.tracker)
        perf, fails = self._report_read(spark, d)
        seconds = time.perf_counter() - t0

        # checks, untimed
        from high_throughput_etl_pipeline_spark.sources.parquet_sink import read_output

        n_manifests = len(c.expected)
        failed = check.files_on_dates(
            c, check.bad_dates(c.expected, check.output_totals(read_output(spark, d + "/out")))
        )
        failed += check.unfinished_files(runner.tracker.state(), c)
        statuses = [r["status"] for r in runner.manifest_store.manifests().collect()]
        failed += max(n_manifests, len(statuses)) - statuses.count("completed")
        quarantined = {
            r[0] for r in spark.read.parquet(d + "/quarantine").select("file_path").collect()
        }
        failed += len(quarantined ^ set(c.invalid))
        # the status read: nothing pending, no orphans, one report per
        # manifest, no failure rows
        failed += int(bool(pending) or bool(orphans))
        failed += int(len(perf) != n_manifests or bool(fails))
        attempted = n_manifests + len(c.valid) + len(c.invalid) + 2
        layer = self._disk_layer(d, c.valid_bytes, len(c.valid))
        layer["pipeline.manifests"] = res.manifests_created
        layer["ingest.records"] = res.records_written
        return Op(seconds, c.valid_bytes, run_s, attempted,
                  min(failed, attempted), layer)

    def layer_metrics(self, tracer, ops):
        n = len(ops)
        report_s = tracer.total("sources.build_run_report") + tracer.total(
            "sources.write_report"
        )
        m = {
            "pipeline.run_s": tracer.total("pipeline.run") / n,
            "pipeline.self_s": tracer.self_time("pipeline.run") / n,
            "pipeline.report_s": report_s / n,
            "pipeline.manifests": statistics.mean(o.layer["pipeline.manifests"] for o in ops),
            "ingest.process_manifest_s": tracer.total("ingest.process_manifest") / n,
            "ingest.process_manifest_p50_s": tracer.p50("ingest.process_manifest"),
            "ingest.records": statistics.mean(o.layer["ingest.records"] for o in ops),
            "sources.infer_schema_s": tracer.total("sources.read_ndjson") / n,
            "sources.sample_row_bytes_s": tracer.total("sources.sample_row_bytes") / n,
            "sources.write_parquet_s": tracer.total("sources.write_parquet") / n,
            "plans.report_query_s": tracer.total("plans.report_query") / n,
        }
        m.update(self._state_layer(tracer, ops))
        return m


class StreamDrain(_PipelineWorkload):
    name = "stream_drain"
    N_FILES = 12
    FILE_MB = 2.0

    def prepare(self) -> None:
        self.corpus = gen.write_corpus(
            os.path.join(self.work, "land"), self.seed, "sd", self.N_FILES,
            self.FILE_MB, PAST_DATES,
        )
        self.warm = gen.write_corpus(
            os.path.join(self.work, "land-warm"), self.seed, "wu", 2,
            self.FILE_MB, PAST_DATES,
        )

    def _drain(self, spark, d: str, land: str, per_trigger: int = DEV_MANIFEST):
        from high_throughput_etl_pipeline_spark.state.tracker import FileStateTracker
        from high_throughput_etl_pipeline_spark.streaming.ingest_stream import (
            start_ingest_stream,
        )

        state = os.path.join(d, "state", "files")
        t0 = time.perf_counter()
        with self._span("streaming.drain"):
            q = start_ingest_stream(
                spark, land, os.path.join(d, "out"), os.path.join(d, "ckpt"),
                gen.EVENT_SCHEMA, state_path=state,
                max_files_per_trigger=per_trigger, available_now=True,
            )
            q.awaitTermination()
        t1 = time.perf_counter()
        tracker = FileStateTracker(spark, state)
        pending, orphans = self._status_read(tracker)
        return q, tracker, t1 - t0, pending, orphans

    def warm_up(self, spark, n):
        # one file per trigger: two micro-batches, the second upserting
        # into a non-empty state table, as in an op
        self._drain(spark, os.path.join(self.work, f"warm{n}"),
                    os.path.join(self.work, "land-warm"), per_trigger=1)
        return 0, 0

    def op(self, spark, rep):
        d = os.path.join(self.work, f"op{rep}")
        c = self.corpus
        self._request(f"drain-{rep}")
        t0 = time.perf_counter()
        q, tracker, drain_s, pending, orphans = self._drain(
            spark, d, os.path.join(self.work, "land")
        )
        seconds = time.perf_counter() - t0

        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        got = check.output_totals(spark.read.parquet(d + "/out"))
        failed = check.files_on_dates(c, check.bad_dates(c.expected, got))
        state = tracker.state()
        failed += check.unfinished_files(state, c)
        # every micro-batch is a manifest: it must have flipped its files
        done = {r[0] for r in state.select("manifest_path").distinct().collect()}
        want = {f"stream-batch-{p['batchId']}" for p in batches}
        failed += len(done ^ want) + int(q.exception() is not None)
        failed += int(bool(pending) or bool(orphans))
        attempted = len(batches) + len(c.valid) + 1
        layer = self._disk_layer(d, c.valid_bytes, len(c.valid))
        layer["streaming.batches"] = len(batches)
        layer["streaming.rows_per_batch"] = statistics.mean(
            p["numInputRows"] for p in batches) if batches else 0.0
        layer["streaming.trigger_s"] = [
            p["durationMs"]["triggerExecution"] / 1000.0 for p in batches
        ]
        return Op(seconds, c.valid_bytes, drain_s, attempted,
                  min(failed, attempted), layer)

    def layer_metrics(self, tracer, ops):
        n = len(ops)
        m = {
            "streaming.drain_s": tracer.total("streaming.drain") / n,
            "streaming.self_s": tracer.self_time("streaming.drain") / n,
            "streaming.trigger_p50_s": statistics.median(
                t for o in ops for t in o.layer["streaming.trigger_s"]),
            "streaming.batches": statistics.mean(o.layer["streaming.batches"] for o in ops),
            "streaming.rows_per_batch": statistics.mean(
                o.layer["streaming.rows_per_batch"] for o in ops),
        }
        m.update(self._state_layer(tracer, ops))
        return m


# -- operator mix -------------------------------------------------------


class OperatorMix(Workload):
    name = "operator_mix"

    def __init__(self, work, seed):
        super().__init__(work, seed)
        with open(os.path.join(HERE, "goldens.json")) as f:
            self.goldens = json.load(f)

    def warm_up(self, spark, n):
        """The untimed pass that also verifies every result against its
        DuckDB golden (timed passes only materialise)."""
        from high_throughput_etl_pipeline_spark.queries import QUERIES

        failed = 0
        for q in OPERATOR_MIX:
            try:
                ok = check.query_matches(QUERIES[q](spark, DATA_DIR), self.goldens[q])
            except Exception:  # a failing query is a failed operation
                _report(q)
                ok = False
            failed += not ok
        return len(OPERATOR_MIX), failed

    def op(self, spark, rep):
        from high_throughput_etl_pipeline_spark.queries import QUERIES

        failed = 0
        t0 = time.perf_counter()
        for q in OPERATOR_MIX:
            try:
                with self._span(f"queries.{q}", q):
                    # a noop write materialises every column of every row;
                    # count() would let Catalyst prune projections
                    QUERIES[q](spark, DATA_DIR).write.format("noop").mode(
                        "overwrite").save()
            except Exception:
                _report(q)
                failed += 1
        seconds = time.perf_counter() - t0
        return Op(seconds, _input_bytes(), seconds, len(OPERATOR_MIX), failed)

    def layer_metrics(self, tracer, ops):
        return {
            f"{mod}.{q}_s": tracer.p50(f"queries.{q}")
            for q, mod in OPERATOR_MIX.items()
        }


def _report(query: str) -> None:
    print(f"operator_mix: {query} failed", file=sys.stderr)
    traceback.print_exc()


def _input_bytes() -> int:
    return sum(
        os.path.getsize(os.path.join(DATA_DIR, n)) for n in os.listdir(DATA_DIR)
    )


WORKLOADS = {w.name: w for w in (Backfill, StreamDrain, OperatorMix)}
