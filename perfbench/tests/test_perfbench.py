"""The benchmark's own tests: seeded inputs are reproducible, the checker
catches planted faults, the metric lists match BENCHMARK.json, and a
tiny-scale run of every workload completes and checks out.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, run, workloads  # noqa: E402


def _corpus(tmp, seed, mb=0.05):
    return gen.write_corpus(
        str(tmp), seed, "t", 3, mb, ["2026-01-10", "2026-01-11"],
        n_bad_extension=1, n_bad_size=1, n_duplicates=1,
    )


def test_same_seed_writes_identical_inputs(tmp_path):
    a = _corpus(tmp_path / "a", 7)
    b = _corpus(tmp_path / "b", 7)
    c = _corpus(tmp_path / "c", 8)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    match, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors
    assert a.expected == b.expected
    assert [os.path.basename(p) for p in a.duplicates] == [
        os.path.basename(p) for p in b.duplicates]
    assert not filecmp.cmp(a.valid[0], c.valid[0], shallow=False)


def test_generated_files_fit_the_validation_window(tmp_path):
    c = gen.write_corpus(str(tmp_path), 1, "v", 2, 2.0, ["2026-01-10"],
                         n_bad_size=1)
    sizes = [os.path.getsize(p) / gen.MB for p in c.valid]
    assert all(1.75 <= s <= 5.25 for s in sizes)
    assert os.path.getsize(c.invalid[0]) / gen.MB < 1.75


def test_self_time_excludes_child_spans():
    import time

    from perfbench.tracing import Tracer

    class Box:
        def inner(self):
            time.sleep(0.02)

    t = Tracer()
    t.patch(Box, "inner", "inner")
    with t.span("outer"):
        time.sleep(0.02)
        Box().inner()
        Box().inner()
    t.unpatch()
    assert Box.inner.__name__ == "inner" and not hasattr(Box.inner, "__wrapped__")
    assert t.self_time("outer") + t.total("inner") == pytest.approx(t.total("outer"))
    assert 0.015 < t.self_time("outer") < t.total("outer") - 0.035
    assert [s.parent for s in t.spans] == [None, 0, 0]


@pytest.fixture
def spark(tmp_path):
    s = run.start_session(2, str(tmp_path))
    yield s
    run.stop_session(s)


def test_checker_flags_duplicate_and_missing_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    c = _corpus(tmp_path, 3)
    out = spark.read.schema(gen.EVENT_SCHEMA).json(c.valid).withColumn(
        "_date", F.regexp_extract(F.input_file_name(), r"(\d{4}-\d{2}-\d{2})", 1))
    out = out.localCheckpoint()
    assert check.bad_dates(c.expected, check.output_totals(out)) == []

    one = out.filter(F.col("_date") == "2026-01-11").limit(1)
    duplicated = out.unionByName(one)
    assert check.bad_dates(c.expected, check.output_totals(duplicated)) == ["2026-01-11"]
    eid = one.first()["event_id"]
    missing = out.filter(F.col("event_id") != eid)
    assert check.bad_dates(c.expected, check.output_totals(missing)) == ["2026-01-11"]
    assert check.files_on_dates(c, ["2026-01-11"]) == 1


def test_checker_flags_wrong_query_hash(spark):
    df = spark.createDataFrame([(1, 0.5), (2, 1.25)], "k INT, v DOUBLE")
    golden = check.result_digest([(2, 1.25), (1, 0.5)], ["k", "v"])
    assert check.query_matches(df, golden)
    wrong = check.result_digest([(2, 1.25), (1, 0.75)], ["k", "v"])
    assert not check.query_matches(df, wrong)


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(run.per_layer_units())
    assert [m["unit"] for m in bench["per_layer"]] == list(run.per_layer_units().values())
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert set(workloads.OPERATOR_MIX) <= set(json.load(
        open(os.path.join(ROOT, "perfbench", "goldens.json"))))


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_tiny_run_of_each_workload(name, tmp_path, monkeypatch):
    """Both modes at the smallest sizes; the traced pipeline spans must
    account for the run: self time plus child spans equal pipeline.run_s."""
    monkeypatch.setattr(workloads.Backfill, "N_FILES", 2)
    monkeypatch.setattr(workloads.StreamDrain, "N_FILES", 2)
    monkeypatch.setattr(workloads, "OPERATOR_MIX", dict(
        list(workloads.OPERATOR_MIX.items())[:2]))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cpus = 2
    res = run.run(name, 5, 0, False, str(tmp_path / "e2e"), cpus)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())

    res = run.run(name, 5, 0, True, str(tmp_path / "traced"), cpus)
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(run.per_layer_units())
    assert m["session.heap_after_gc_mb"] > 0
    if name == "backfill":
        assert m["pipeline.run_s"] > m["pipeline.self_s"] > 0
        assert m["ingest.records"] > 0 and m["pipeline.manifests"] == 1
    if name == "stream_drain":
        assert m["streaming.batches"] == 1 and m["streaming.drain_s"] > 0
