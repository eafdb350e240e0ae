"""Pins the span recorder and the event-log folder of perfbench/tracing.py.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench import tracing


def test_covered_counts_overlaps_once_and_clips():
    ivs = [(1.0, 3.0), (2.0, 4.0), (6.0, 9.0)]
    assert tracing.covered(ivs, 0.0, 10.0) == pytest.approx(6.0)
    assert tracing.covered(ivs, 2.5, 7.0) == pytest.approx(2.5)
    assert tracing.covered([], 0.0, 1.0) == 0.0


def test_self_time_excludes_child_spans():
    tr = tracing.Tracer("r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    outer, a, b = tr.spans
    assert outer.parent is None and a.parent == 0 and b.parent == 0
    assert outer.children == [1, 2]
    want = (outer.end - outer.start) - (a.end - a.start) - (b.end - b.start)
    assert tr.self_time(0) == pytest.approx(want)
    assert a.group == "r/0/inner"


def _task_end(stage, run_ms, shuffle=0, py_bytes=0, py_ms=0):
    acc = []
    if py_bytes:
        acc = [{"Name": tracing.PY_SENT, "Update": py_bytes},
               {"Name": tracing.PY_TIME, "Update": str(py_ms)}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle,
                                                       "Shuffle Records Written": shuffle // 10},
                             "Disk Bytes Spilled": 0}}


def test_fold_events_charges_tasks_to_their_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r/0/a"}},
        _task_end(0, 300, shuffle=1000),
        _task_end(1, 200),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "r/0/b"}},
        _task_end(2, 100, py_bytes=4096, py_ms=40),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
        # a job outside any group is dropped
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Stage IDs": [3], "Properties": {}},
        _task_end(3, 999),
    ]
    g = tracing.fold_events(events)
    assert set(g) == {"r/0/a", "r/0/b"}
    a, b = g["r/0/a"], g["r/0/b"]
    assert (a.jobs, a.task_s, a.shuffle_bytes, a.shuffle_records) == (1, 0.5, 1000, 100)
    assert a.job_intervals == [(1.0, 1.6)]
    assert (a.python_s, a.to_python_bytes) == (0.0, 0)
    assert (b.jobs, b.task_s, b.shuffle_bytes) == (1, 0.1, 0)
    assert (b.python_s, b.to_python_bytes) == (pytest.approx(0.04), 4096)


def test_two_phase_job_folds_into_its_layers(tmp_path):
    """A shuffle phase and an Arrow/Python phase, each under its own span,
    fold from a real Spark event log into two layers with the right
    kind of work each."""
    pyspark_sql = pytest.importorskip("pyspark.sql")
    log = tmp_path / "eventlog"
    log.mkdir()
    spark = (pyspark_sql.SparkSession.builder.master("local[2]")
             .appName("perfbench-tracing-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + str(log))
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    tr = tracing.Tracer("toy", spark.sparkContext)
    try:
        df = spark.range(20_000)
        with tr.span("shuffle"):
            df.groupBy((df.id % 7).alias("k")).count().collect()
        with tr.span("python"):
            df.mapInPandas(lambda it: (p * 2 for p in it), df.schema).count()
    finally:
        spark.stop()
    groups = tracing.fold_events(tracing.read_event_log(str(log)))
    layers = tracing.layer_metrics(tr, 0, groups, nproc=2)
    shuffle, python = layers["shuffle"], layers["python"]
    assert shuffle["jobs"] >= 1 and python["jobs"] >= 1
    assert shuffle["task_s"] > 0 and python["task_s"] > 0
    assert shuffle["shuffle_bytes"] > 0
    assert shuffle["to_python_bytes"] == 0 and shuffle["python_s"] == 0
    assert python["to_python_bytes"] > 0
    for d in layers.values():
        assert 0 <= d["driver_s"] <= d["wall_s"]
        assert 0 < d["core_util"] <= 1.0 + 1e-9
