"""Tests of the event-log fold: every job lands on the op that caused it.

    python3 -m pytest perfbench/test_fold.py -q
"""

from __future__ import annotations

import glob
import os
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

import tracing


def _task(stage: int, launch_ms: int, finish_ms: int, run_ms: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 0,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


def _job(jid: int, submit_ms: int, end_ms: int, stages: list[int], tag=None) -> list[dict]:
    props = {} if tag is None else {tracing.OP_PROPERTY: str(tag)}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit_ms,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _stage(sid: int, done_ms: int) -> dict:
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Completion Time": done_ms}}


def test_fold_tags_time_and_stage_reuse():
    # op 0 spans [1.0, 2.0] s, op 1 spans [3.0, 4.0] s
    spans = {0: (1.0, 2.0), 1: (3.0, 4.0)}
    events = (
        _job(0, 1100, 1400, [0], tag=0)
        # untagged, submitted inside op 1 (a worker thread's job); it
        # lists stage 0 again, which ran in job 0 and is skipped here
        + _job(1, 3100, 3900, [0, 1])
        # untagged and outside every op
        + _job(2, 5000, 5100, [2])
        + [_stage(0, 1390), _stage(1, 3890), _stage(2, 5090)]
        + [_task(0, 1150, 1350, 200), _task(0, 1150, 1250, 100),
           _task(1, 3200, 3800, 600), _task(2, 5010, 5080, 70)]
    )
    per_op = tracing.fold_event_log(events, spans)
    assert per_op[0]["jobs"] == 1 and per_op[0]["stages"] == 1
    assert per_op[0]["tasks"] == 2
    assert per_op[0]["executor_run_s"] == pytest.approx(0.3)
    assert per_op[0]["task_skew"] == pytest.approx(200 / 150)
    assert per_op[1]["jobs"] == 1 and per_op[1]["stages"] == 1
    assert per_op[1]["tasks"] == 1
    assert per_op[1]["executor_cpu_s"] == pytest.approx(0.6)
    # op 1 wall 1.0 s, its job covered 0.8 s of it
    assert per_op[1]["driver_gap_s"] == pytest.approx(0.2)
    assert per_op[None]["jobs"] == 1 and per_op[None]["tasks"] == 1


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0


def test_self_time_subtracts_children():
    t = tracing.Tracer(True)
    with t.span("outer"):
        time.sleep(0.05)
        with t.span("inner"):
            time.sleep(0.05)
    selfs = t.self_times()
    assert selfs["inner"] == pytest.approx(t.durations("inner")[0])
    assert selfs["outer"] == pytest.approx(
        t.durations("outer")[0] - t.durations("inner")[0])


def test_fold_attributes_jobs_of_untagged_threads(tmp_path):
    """A tiny query whose op runs jobs on two worker threads: the
    threads do not inherit the driver thread's local property, so their
    jobs arrive untagged and the fold places them by submission time."""
    from pyspark.sql import SparkSession

    ev = tmp_path / "ev"
    ev.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("fold-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{ev}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        spans = {}
        sc.setLocalProperty(tracing.OP_PROPERTY, "0")
        start = time.time()
        spark.range(100).selectExpr("sum(id)").collect()
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(lambda n=n: spark.range(n).count()) for n in (10, 20)]
            assert [f.result() for f in futs] == [10, 20]
        spans[0] = (start, time.time())
        sc.setLocalProperty(tracing.OP_PROPERTY, "1")
        start = time.time()
        spark.range(5).count()
        spans[1] = (start, time.time())
        sc.setLocalProperty(tracing.OP_PROPERTY, None)
    finally:
        spark.stop()
    (log,) = glob.glob(os.path.join(ev, "*"))
    events = tracing.read_event_log(log)
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    untagged = [e for e in starts
                if tracing.OP_PROPERTY not in (e.get("Properties") or {})]
    assert len(untagged) >= 2  # the two worker threads' jobs
    per_op = tracing.fold_event_log(events, spans)
    tagged0 = sum(1 for e in starts
                  if (e.get("Properties") or {}).get(tracing.OP_PROPERTY) == "0")
    assert per_op[0]["jobs"] == tagged0 + len(untagged)
    assert per_op[1]["jobs"] >= 1
    assert None not in per_op
    assert per_op[0]["tasks"] > 0 and per_op[0]["stages"] > 0
