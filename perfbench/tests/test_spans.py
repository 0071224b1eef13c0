"""Unit tests of the benchmark's pure logic: span self time, event-log
aggregation, per-module attribution and metric names.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import spans as S
from perfbench.run import END_TO_END
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- span self time -------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    parent = S.Span(0, None, "build", 0.0, 10.0)
    kids = [
        S.Span(1, 0, "job 1", 1.0, 3.0),
        S.Span(2, 0, "job 2", 2.0, 5.0),   # overlaps job 1
        S.Span(3, 0, "job 3", 8.0, 12.0),  # runs past the parent's end
    ]
    assert S.self_time(parent, kids) == pytest.approx(10.0 - (4.0 + 2.0))


def test_self_time_without_children_is_the_duration():
    assert S.self_time(S.Span(0, None, "final", 2.0, 2.5), []) == pytest.approx(0.5)


def test_covered_ignores_intervals_outside_the_window():
    assert S.covered([(0, 1), (5, 6), (9, 20)], 2, 10) == pytest.approx(2.0)


# --- event-log aggregation ---------------------------------------------------------

def _ev(kind, **fields):
    return json.dumps({"Event": kind, **fields})


def _task(stage, launch_ms, run_ms, *, failed=False, shuffle=0, spill=0, rows=0):
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Launch Time": launch_ms, "Finish Time": launch_ms + run_ms,
                          "Failed": failed, "Killed": False},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Input Metrics": {"Bytes Read": 100, "Records Read": rows},
                "Output Metrics": {"Bytes Written": 0},
            },
        },
    )


def _stage(kind, sid, ms):
    key = "Submission Time" if kind == "Submitted" else "Completion Time"
    info = {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": 1000}
    info[key] = ms
    return _ev(f"SparkListenerStage{kind}", **{"Stage Info": info})


EVENT_LOG = [
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
                                    "Properties": {"spark.jobGroup.id": "g-build"}}),
    _stage("Submitted", 0, 1000),
    _task(0, 1000, 400, shuffle=2048, rows=10),
    _task(0, 1250, 300, failed=True, spill=4096, rows=5),
    _stage("Completed", 0, 1600),
    _stage("Submitted", 1, 1600),
    _task(1, 1700, 100),
    _stage("Completed", 1, 1800),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1800}),
    # a second job reuses stage 0's shuffle output: stage 0 is skipped
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2000, "Stage IDs": [0, 2],
                                    "Properties": {}}),
    _stage("Submitted", 2, 2000),
    _task(2, 2000, 50),
    _stage("Completed", 2, 2100),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2100}),
    _ev("SparkListenerApplicationEnd", Timestamp=3000),
]


def test_event_log_totals_per_job_and_stage():
    jobs = S.parse_event_log(EVENT_LOG)
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0.group == "g-build" and j1.group is None
    assert (j0.start, j0.end) == (1.0, 1.8)
    assert [s.stage_id for s in j0.stages] == [0, 1]
    s0 = j0.stages[0]
    assert s0.tasks == 2
    assert s0.task_s == pytest.approx(0.7)
    assert s0.task_wait_s == pytest.approx(0.25)  # second task launched 250 ms late
    assert s0.failed_tasks == 1
    assert (s0.shuffle_write, s0.spill, s0.input_rows) == (2048, 4096, 15)
    assert j0.stages_skipped == 0
    assert [s.stage_id for s in j1.stages] == [2]
    assert j1.stages_skipped == 1


# --- span tree and per-query records ------------------------------------------------

def _tree():
    spans = [
        S.Span(0, None, "pass 1", 0.9, 2.3, {"kind": "pass"}),
        S.Span(1, 0, "q_x", 0.95, 2.2, {"kind": "query", "pass": 1, "module": "sources"}),
        S.Span(2, 1, "build", 0.95, 1.9, {"kind": "phase", "group": "g-build"}),
        S.Span(3, 1, "final", 1.9, 2.2, {"kind": "phase", "group": "g-final"}),
    ]
    jobs = S.parse_event_log(EVENT_LOG)
    batches = [S.Batch(start=2.0, trigger_ms=100.0, state_rows=7, state_update_ms=3.0,
                       state_commit_ms=4.0, watermark_dropped=2, state_partitions=4)]
    spans += S.build_tree([spans[2], spans[3]], jobs, batches, next_id=4)
    return spans


def test_jobs_are_placed_by_group_then_by_time():
    spans = _tree()
    jobs = {s.attrs["job_id"]: s.parent for s in spans if s.attrs.get("kind") == "job"}
    assert jobs == {0: 2, 1: 3}  # job 1 has no group; its start lies in "final"
    (batch,) = [s for s in spans if s.attrs.get("kind") == "batch"]
    assert batch.parent == 1


def test_query_record_splits_build_into_construct_and_eager_jobs():
    (rec,) = S.query_records(_tree())
    assert rec["build_s"] == pytest.approx(0.95)
    assert rec["eager_jobs"] == 1 and rec["final_jobs"] == 1
    assert rec["eager_job_s"] == pytest.approx(0.8)
    assert rec["construct_s"] + rec["eager_job_s"] == pytest.approx(rec["build_s"])
    assert rec["build_s"] + rec["final_s"] == pytest.approx(rec["wall_s"])
    assert rec["stages"] == 3 and rec["stages_skipped"] == 1 and rec["tasks"] == 4
    assert rec["failed_tasks"] == 1
    assert (rec["batches"], rec["state_rows"], rec["watermark_dropped"]) == (1, 7, 2)


def test_module_metrics_report_every_module_and_take_the_pass_median():
    rec = S.query_records(_tree())[0]
    other = {**rec, "pass": 2, "build_s": 3.0}
    third = {**rec, "pass": 3, "build_s": 5.0}
    out = S.module_metrics([rec, other, third], [1, 2, 3])
    assert out["sources.build_s"] == pytest.approx(3.0)
    assert out["operators.build_s"] == 0
    assert set(out) <= set(S.layer_metric_names())


# --- attribution and names ----------------------------------------------------------

@pytest.mark.parametrize("module,name,want", [
    ("caffeonspark_spark.operators.dedup", "neardup_pagerank", "operators"),
    ("caffeonspark_spark.sources.seqfile", "seqfile_scan_agg", "sources"),
    ("caffeonspark_spark.multimodal.av", "video_dedup_map_query", "multimodal"),
    ("caffeonspark_spark.streaming.windows", "stream_join_parity", "streaming"),
    ("bench", "_train_epoch_bench", "ml"),
    ("bench", "_stream_tumbling_bench", "streaming"),
])
def test_module_of(module, name, want):
    assert S.module_of(module, name) == want


@pytest.mark.parametrize("module,name", [
    ("bench", "main"), ("caffeonspark_spark.engine", "get_spark"), ("numpy", "sum"),
])
def test_module_of_rejects_unattributable_functions(module, name):
    with pytest.raises(ValueError):
        S.module_of(module, name)


def test_every_workload_row_resolves_through_the_bench_registry():
    bench = pytest.importorskip("bench")
    for wl in WORKLOADS.values():
        for row in wl.rows:
            fn = bench.BENCH_QUERIES[row]
            assert S.module_of(fn.__module__, fn.__name__) in S.MODULES


@pytest.mark.parametrize("name", ["pass_s", "engine.busy_frac", "ml.train_samples_per_s", "a-b.c_1"])
def test_metric_name_pattern_accepts(name):
    assert S.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", ".x", "_x", "a b", "a/b", "rss(mb)", "x" * 65])
def test_metric_name_pattern_rejects(name):
    assert not S.valid_metric_name(name)


def test_benchmark_json_names_match_what_runs_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == dict(END_TO_END)
    assert list(layers) == S.layer_metric_names()
    assert layers == {n: S.layer_unit(n) for n in layers}
    assert all(S.valid_metric_name(n) for n in [*e2e, *layers, *(w["name"] for w in spec["workloads"])])
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
