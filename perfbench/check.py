"""Correctness checks.  Every mismatch is counted as a failed operation.

Pipeline workloads are checked for exactly-once accounting against what
the generator wrote: per date, the output row count and an
order-insensitive hash of ``event_id`` must equal the generator's totals
for the valid files.  Operator queries are checked against goldens
computed by DuckDB from the registry's ``ORACLES`` (see
``make_goldens.py``); a golden is never taken from Spark output.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The program package is bound before the tools import: that module
# prepends a fixed checkout path to sys.path, and the program under test
# must come from this checkout.
import high_throughput_etl_pipeline_spark  # noqa: F401
from perfbench.gen import Corpus, DateTotals
from tools.check_correctness import normalize


def output_totals(out: DataFrame) -> dict[str, DateTotals]:
    """Per ``_date`` row count and id hash of a pipeline output table (the
    Spark twin of :func:`perfbench.gen.event_hash`)."""
    rows = (
        out.groupBy(F.col("_date").cast("string").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.conv(F.substring(F.md5("event_id"), 1, 8), 16, 10)
                .cast("bigint")
            ).alias("h"),
        )
        .collect()
    )
    return {r["d"]: DateTotals(r["n"], r["h"]) for r in rows}


def bad_dates(expected: dict[str, DateTotals],
              got: dict[str, DateTotals]) -> list[str]:
    """Dates whose output differs from the generator's: a duplicated,
    lost or altered row changes the count or the hash."""
    return sorted(d for d in set(expected) | set(got)
                  if expected.get(d) != got.get(d))


def files_on_dates(corpus: Corpus, dates: list[str]) -> int:
    return sum(any(f"/{d}-" in p for d in dates) for p in corpus.valid)


def unfinished_files(state: DataFrame, corpus: Corpus) -> int:
    """Valid files that did not end ``completed#N`` in the state table,
    plus any file tracked more than once."""
    names = {p.rsplit("/", 1)[1] for p in corpus.valid}
    rows = state.select("file_key", "status").collect()
    done = [r["file_key"] for r in rows if r["status"].startswith("completed#")]
    unfinished = len(names - set(done))
    return unfinished + len(rows) - len(set(r["file_key"] for r in rows))


def result_digest(rows: list[tuple], columns: list[str]) -> dict:
    """Row count, column set and a hash of the rows normalised the way the
    repo's correctness gate compares them (order-insensitive)."""
    body = "\n".join(normalize(rows, columns))
    return {
        "rows": len(rows),
        "columns": sorted(columns),
        "sha256": hashlib.sha256(body.encode()).hexdigest(),
    }


def query_matches(df: DataFrame, golden: dict) -> bool:
    return result_digest([tuple(r) for r in df.collect()], df.columns) == golden
