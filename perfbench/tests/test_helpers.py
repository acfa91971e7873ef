"""Tests of the benchmark's own helpers (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import harness  # noqa: E402
import stream  # noqa: E402

# --- percentile rule ------------------------------------------------------------


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert harness.percentile(values, 50) == 50
    assert harness.percentile(values, 90) == 90
    assert harness.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        harness.percentile([], 50)


@pytest.mark.parametrize("n,q,ok", [
    (100, 90, True), (99, 90, False), (20, 50, True), (19, 50, False),
    (1000, 99, True), (999, 99, False),
])
def test_tail_needs_ten_samples_beyond(n, q, ok):
    assert harness.tail_supported(n, q) is ok


# --- file -> batch -> latency ---------------------------------------------------


def test_files_map_to_the_batch_that_reached_their_rows():
    # batch 1 is a no-data batch; file 3 arrives after the last batch
    owner = stream.consumed_by([10, 5, 5, 20, 4], [15, 0, 5, 20])
    assert owner == [0, 0, 2, 3, None]


def test_a_file_split_across_batches_belongs_to_the_batch_that_finished_it():
    assert stream.consumed_by([10, 10], [4, 6, 10]) == [1, 2]


def test_latency_is_batch_end_minus_due():
    due = [100.0, 100.25, 100.5]
    lat = stream.file_latencies(due, [0, 1, None], [102.0, 103.0])
    assert lat == pytest.approx([2.0, 2.75])


def test_batch_end_adds_trigger_time_to_its_start():
    p = {"timestamp": "2026-01-01T00:00:00.500Z", "durationMs": {"triggerExecution": 1500}}
    assert stream.batch_end(p) - stream.batch_end({**p, "durationMs": {"triggerExecution": 0}}) == 1.5


def test_replay_plan_keeps_resends_beside_their_original():
    n_rows = 50_000
    fixture = np.arange(0, 50, 2)
    files = stream.plan_files(n_rows, fixture, 100, np.random.default_rng(7))
    assert len(files) == 1 + stream.BACKLOG_FILES + 100
    start = 0
    for rows in files:
        originals = np.unique(rows)
        assert originals.tolist() == list(range(start, start + len(originals)))
        start += len(originals)
    all_rows = np.concatenate(files)
    dup_rows = [r for r, c in zip(*np.unique(all_rows, return_counts=True)) if c > 1]
    assert set(fixture) & set(dup_rows), "some fixture rows must be re-sent"
    assert 0.03 < (len(all_rows) - start) / start < 0.07
    paced = files[1 + stream.BACKLOG_FILES:]
    assert 8 < np.mean([len(f) for f in paced]) < 9  # ~67 events/s in 125 ms ticks


def test_replay_plan_is_a_function_of_the_seed():
    plan = lambda seed: stream.plan_files(50_000, np.arange(10), 100, np.random.default_rng(seed))  # noqa: E731
    assert all((a == b).all() for a, b in zip(plan(3), plan(3)))
    assert any(len(a) != len(b) or (a != b).any() for a, b in zip(plan(3), plan(4)))


# --- event-log folding ----------------------------------------------------------


@pytest.fixture(scope="module")
def folded():
    # recorded from local[2]: a scan, a groupBy (one shuffle) and a mapInPandas,
    # each tagged with setJobDescription; trimmed to the fields the fold reads
    return eventlog.fold(eventlog.read_events(os.path.join(HERE, "data", "eventlog_small.jsonl")))


def test_fold_groups_by_job_description(folded):
    assert set(folded) == {"q/scan", "q/agg", "q/pandas"}
    assert [folded[d]["jobs"] for d in ("q/scan", "q/agg", "q/pandas")] == [1, 1, 1]
    assert folded["q/agg"]["stages"] == 2 and folded["q/agg"]["tasks"] == 4


def test_fold_splits_task_time_by_stage_class(folded):
    scan, agg, pandas = folded["q/scan"], folded["q/agg"], folded["q/pandas"]
    assert scan["scan_task_s"] == pytest.approx(scan["task_s"]) and scan["shuffle_task_s"] == 0
    assert agg["shuffle_task_s"] > 0 and agg["scan_task_s"] > 0
    assert agg["shuffle_write_mb"] > 0 and agg["shuffle_read_mb"] == pytest.approx(agg["shuffle_write_mb"])
    assert pandas["task_s"] > 0 and pandas["python_task_s"] == pytest.approx(pandas["task_s"])
    for a in folded.values():
        assert sum(a[f"{c}_task_s"] for c in eventlog.STAGE_CLASSES) == pytest.approx(a["task_s"])


def test_total_sums_counts_and_takes_the_worst_skew(folded):
    t = eventlog.total(folded, lambda d: d.startswith("q/"))
    assert t["jobs"] == 3 and t["tasks"] == 8
    assert t["skew_max"] == max(a["skew_max"] for a in folded.values())


def test_classify_stage():
    def info(*scopes, parents=()):
        return {"Parent IDs": list(parents),
                "RDD Info": [{"Scope": '{"id":"1","name":"%s"}' % s} for s in scopes]}

    assert eventlog.classify_stage(info("Scan parquet ", "WholeStageCodegen (1)")) == "scan"
    assert eventlog.classify_stage(info("Exchange", parents=[3])) == "shuffle"
    assert eventlog.classify_stage(info("FlatMapGroupsInPandasWithState", parents=[3])) == "python"
    assert eventlog.classify_stage(info("ArrowEvalPython")) == "python"


# --- spans ----------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    tr = harness.Tracer()
    root = tr.add("pass", 0.0, 10.0)
    tr.add("build", 1.0, 3.0, parent=root)
    tr.add("write", 2.0, 5.0, parent=root)  # overlaps build
    tr.add("write", 9.0, 12.0, parent=root)  # runs past the parent
    assert tr.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tr.self_time_by_name()["write"] == pytest.approx(6.0)
