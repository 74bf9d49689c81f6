"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch_queries  # noqa: E402
import ivm_ingest  # noqa: E402
import run  # noqa: E402
from measure import (  # noqa: E402
    StageCounter,
    TooFewSamples,
    dir_files,
    median,
    percentile,
    written_bytes,
)


# --- percentile helper ----------------------------------------------------


def test_percentile_reports_value_and_sample_count():
    value, n = percentile(range(1, 21), 50)
    assert n == 20
    assert value == pytest.approx(10.5)


def test_percentile_interpolates_linearly():
    value, n = percentile([float(x) for x in range(100)], 90)
    assert n == 100
    assert value == pytest.approx(89.1)


@pytest.mark.parametrize("q,enough", [(50, 20), (90, 100), (99, 1000)])
def test_percentile_needs_ten_samples_beyond(q, enough):
    percentile(range(enough), q)
    with pytest.raises(TooFewSamples, match="needs 10"):
        percentile(range(enough - 1), q)


def test_percentile_rejects_out_of_range_q():
    with pytest.raises(ValueError):
        percentile(range(100), 100)


def test_median_has_no_sample_floor():
    assert median([3.0]) == 3.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


# --- status-store delta counter -------------------------------------------


def _attempt(status, tasks, shuffle=0, cpu=0, gc=0, mem=0, disk=0):
    return {
        "status": status,
        "numTasks": tasks,
        "shuffleWriteBytes": shuffle,
        "memoryBytesSpilled": mem,
        "diskBytesSpilled": disk,
        "executorCpuTime": cpu,
        "jvmGcTime": gc,
    }


def _counter():
    groups = {"view": [1, 2], "idle": []}
    job_stages = {1: [10, 11], 2: [11, 12]}
    stages = {
        10: [_attempt("COMPLETE", 4, shuffle=100, cpu=5, gc=1)],
        # stage 11 reused by job 2: one stage, counted once
        11: [_attempt("COMPLETE", 8, shuffle=50, cpu=7, mem=3, disk=2)],
        # stage 12 was skipped: its shuffle output already existed
        12: [_attempt("SKIPPED", 8, shuffle=999, cpu=999)],
    }
    return StageCounter(groups.__getitem__, job_stages.__getitem__, stages.__getitem__)


def test_stage_counter_counts_jobs_and_executed_stages_once():
    d = _counter().delta("view")
    assert d["jobs"] == 2
    assert d["stages"] == 2
    assert d["numTasks"] == 12
    assert d["shuffleWriteBytes"] == 150
    assert d["executorCpuTime"] == 12
    assert d["jvmGcTime"] == 1
    assert d["memoryBytesSpilled"] + d["diskBytesSpilled"] == 5


def test_stage_counter_counts_retried_attempts():
    counter = StageCounter(
        lambda g: [1],
        lambda j: [7],
        lambda s: [_attempt("FAILED", 2, cpu=1), _attempt("COMPLETE", 2, cpu=3)],
    )
    d = counter.delta("g")
    assert (d["stages"], d["numTasks"], d["executorCpuTime"]) == (2, 4, 4)


def test_stage_counter_empty_group_is_all_zero():
    d = _counter().delta("idle")
    assert d["jobs"] == 0 and d["stages"] == 0 and d["numTasks"] == 0


# --- written-bytes accounting ---------------------------------------------


def test_written_bytes_counts_new_and_replaced_files(tmp_path):
    (tmp_path / "keep").write_bytes(b"x" * 10)
    (tmp_path / "old").write_bytes(b"x" * 20)
    before = dir_files(str(tmp_path))
    (tmp_path / "old").unlink()
    os.makedirs(tmp_path / "sub")
    (tmp_path / "sub" / "new").write_bytes(b"x" * 30)
    assert written_bytes(before, dir_files(str(tmp_path))) == 30


# --- IVM model and inputs -------------------------------------------------


def test_view_model_replays_the_reference_scenario():
    m = ivm_ingest.ViewModel()
    m.apply("daniel:::AAPL", ("daniel", "daniel:::AAPL", "AAPL", "NASDAQ", 99), 1)
    assert m.scan() == [("daniel", ["daniel:::AAPL"])]
    m.apply("daniel:::BT.A", ("daniel", "daniel:::BT.A", "BT.A", "LON", 1), 2)
    assert m.lookup("daniel") == ["daniel:::AAPL"]
    m.apply("daniel:::AAPL", None, 3)
    assert m.scan() == [] and m.lookup("daniel") is None


def test_view_model_retracts_on_exchange_flip_and_ignores_stale_offsets():
    m = ivm_ingest.ViewModel()
    m.apply("c:::T1", ("c", "c:::T1", "T1", "NASDAQ", 5), 10)
    m.apply("c:::T1", ("c", "c:::T1", "T1", "LON", 5), 11)
    assert m.lookup("c") is None
    m.apply("c:::T1", ("c", "c:::T1", "T1", "NASDAQ", 5), 9)  # older record
    assert m.lookup("c") is None


def test_tail_replay_slices_from_the_seeded_start_and_laps_with_newer_offsets():
    tail = [(f"c:::T{o}", None, o) for o in (13, 10, 12, 11, 14, 15)]
    replay = ivm_ingest.TailReplay(tail, span=6, size=2, start_slice=1)
    assert [o for _, _, o in replay.batch()] == [12, 13]
    assert [o for _, _, o in replay.batch()] == [14, 15]
    # the next lap re-sends the tail from its start, six offsets later
    lap = replay.batch()
    assert [o for _, _, o in lap] == [16, 17]
    assert [k for k, _, _ in lap] == ["c:::T10", "c:::T11"]


def test_expected_changelog_follows_the_documented_rule():
    import pyarrow as pa

    orders = pa.table(
        {"o_orderkey": [0, 1, 2, 22], "o_custkey": [7, 8, 9, 7],
         "o_totalprice": [10.9, 20.5, 30.0, 1.0]}
    )
    got = ivm_ingest.expected_changelog(orders)
    assert got[0] == ("7:::T0", None, 0)  # 0 % 11 == 0: tombstone
    assert got[1] == ("8:::T1", ("8", "8:::T1", "T1", "LON", 20), 1)
    assert got[2] == ("9:::T2", ("9", "9:::T2", "T2", "NYSE", 30), 2)
    assert got[3] == ("7:::T1", None, 22)


# --- the benchmark definition ---------------------------------------------


def test_headline_list_matches_the_registry():
    sys.path.insert(0, os.path.join(HERE, ".."))
    from kafka_streams_and_ktable_example_spark import plans

    assert set(batch_queries.HEADLINE) == set(plans.headline_queries())


def test_oracle_comparison_is_the_repository_verifiers():
    verify_local = batch_queries.load_verify_local(os.path.join(HERE, ".."))
    cols, rows = verify_local.canon_rows(["b", "a"], [(1.5, None), (2.0, "x")])
    assert cols == ["a", "b"]
    assert rows == [("NULL", "1.5"), ("x", "2.0")]


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
