"""Self-tests of the event-log reducer: a hand-built log with known
arithmetic, and a small log recorded from a real Spark session."""

import json
import os

import pytest

from perfbench.trace import reduce_event_log

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
T0 = 1_000.0  # seconds


def _job(jid, group, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": int((T0 + start) * 1000), "Stage IDs": stages,
         "Properties": {"spark.jobGroup.id": group} if group else {}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": int((T0 + end) * 1000)},
    ]


def _task(stage, dur_ms, run_ms, **m):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 0, "Finish Time": dur_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": m.get("cpu_ns", 0),
            "JVM GC Time": m.get("gc_ms", 0),
            "Disk Bytes Spilled": m.get("spill", 0),
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": m.get("read", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("write", 0)},
            "Input Metrics": {"Bytes Read": m.get("input", 0)},
        },
    }


def _iso(t):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(T0 + t, timezone.utc).isoformat().replace("+00:00", "Z")


def _progress(batch, start, dur_ms, commit_ms, rows_total):
    return {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "runId": "run-1", "batchId": batch, "timestamp": _iso(start),
            "durationMs": {"triggerExecution": dur_ms, "addBatch": dur_ms - 10,
                           "walCommit": 4, "commitOffsets": 3, "latestOffset": 2,
                           "queryPlanning": 1},
            "stateOperators": [{"commitTimeMs": commit_ms, "numRowsTotal": rows_total,
                                "memoryUsedBytes": 100 * rows_total}],
        },
    }


def _span(sid, name, kind, parent, start, end, group=None, qid=None, **attrs):
    return {"id": sid, "name": name, "kind": kind, "parent": parent, "qid": qid,
            "group": group, "start": T0 + start, "end": T0 + end, "attrs": attrs}


def _hand_built():
    spans = [
        _span(0, "w", "workload", None, -5, 20),
        _span(1, "get_spark", "session", 0, -5, -3),
        _span(2, "pass warmup", "pass", 0, -3, -1, timed=False),
        _span(3, "q", "query", 2, -3, -1, qid="w:warmup:q"),
        _span(4, "build", "phase", 3, -3, -2, group="w:warmup:q:build", qid="w:warmup:q"),
        _span(5, "pass 0", "pass", 0, -0.5, 10, timed=True),
        _span(6, "q", "query", 5, -0.5, 3.0, qid="w:0:q",
              persists_released=2, persisted_bytes=4096),
        _span(7, "build", "phase", 6, -0.2, 1.2, group="w:0:q:build", qid="w:0:q"),
        _span(8, "exec", "phase", 6, 1.2, 3.0, group="w:0:q:exec", qid="w:0:q"),
        _span(9, "s", "query", 5, 3.0, 10, qid="w:0:s"),
        _span(10, "exec", "phase", 9, 3.0, 10, group="w:0:s:exec", qid="w:0:s",
              run_id="run-1"),
    ]
    events = (
        _job(0, "w:warmup:q:build", -2.9, -2.5, [0])   # warm-up: not counted
        + _job(1, "w:0:q:build", 0.0, 0.5, [1])
        + _job(2, "w:0:q:build", 0.4, 1.0, [2])        # overlaps job 1
        + [_task(1, 100, 80, cpu_ns=5e7), _task(2, 100, 120)]
        + _job(3, "w:0:q:exec", 1.5, 2.5, [3, 4])      # stage 4 skipped
        + [_task(3, 100, 90, gc_ms=7, read=10, write=20, spill=30, input=40),
           _task(3, 100, 90), _task(3, 300, 280)]
        + [{"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent",
            "runId": "run-1", "timestamp": _iso(3.5)}]
        + _job(5, "run-1", 4.0, 5.0, [5]) + [_task(5, 200, 150)]
        + [_progress(0, 4.0, 1000, 40, 10), _progress(1, 6.0, 2000, 60, 25)]
        + _job(6, None, 11.0, 11.5, [6])                # outside any span
    )
    return [json.dumps(e) for e in events], spans


def test_hand_built_log_layers():
    lines, spans = _hand_built()
    red = reduce_event_log(lines, spans)
    L = red["layers"]
    assert L["session.get_spark_s"] == pytest.approx(2.0)
    assert L["registry.build_s"] == pytest.approx(1.4)
    assert L["registry.build_jobs"] == 2
    # build wall 1.4 s minus the union [0.0, 1.0] of its two jobs
    assert L["registry.build_driver_s"] == pytest.approx(0.4)
    assert L["registry.build_executor_s"] == pytest.approx(0.2)
    assert L["spark.exec_jobs"] == 2
    assert L["spark.exec_s"] == pytest.approx(1.8 + 7.0)
    # exec walls minus job 3 [1.5, 2.5] and the stream's job and batches
    # [4.0, 5.0] and [6.0, 8.0]
    assert L["spark.driver_gap_s"] == pytest.approx(0.8 + 4.0)
    assert L["spark.stages"] == 2
    assert L["spark.tasks"] == 4
    assert L["spark.executor_run_s"] == pytest.approx(0.61)
    assert L["spark.gc_s"] == pytest.approx(0.007)
    assert (L["spark.shuffle_read_bytes"], L["spark.shuffle_write_bytes"],
            L["spark.spill_bytes"], L["spark.input_bytes"]) == (10, 20, 30, 40)
    assert L["spark.task_skew"] == pytest.approx(3.0)
    assert L["indexing.persists_released"] == 2
    assert L["indexing.persisted_bytes"] == 4096
    assert L["streaming.batches"] == 2
    assert L["streaming.start_s"] == pytest.approx(0.5)
    assert L["streaming.state_commit_ms"] == 100
    assert L["streaming.add_batch_ms"] == 2980
    assert L["streaming.state_rows_total"] == 25
    assert L["streaming.state_memory_bytes"] == 2500
    assert red["unattributed_jobs"] == 1


def test_hand_built_log_span_tree():
    lines, spans = _hand_built()
    red = reduce_event_log(lines, spans)
    by_name = {s["name"]: s for s in red["spans"]}
    job1 = by_name["job 1"]
    assert job1["parent"] == 7 and job1["qid"] == "w:0:q"
    assert by_name["batch 1"]["parent"] == 10
    assert by_name["batch 1"]["end"] - by_name["batch 1"]["start"] == pytest.approx(2.0)
    # the query's self time excludes its build and exec phases
    q = next(s for s in red["spans"] if s["id"] == 6)
    assert q["self_s"] == pytest.approx(0.3)
    assert red["queries"]["q"]["build_jobs"] == 2
    assert red["queries"]["q"]["exec_jobs"] == 1


def test_recorded_log():
    """A log written by Spark for one batch query (build: one eager job;
    exec: a shuffle aggregation) and a three-batch stream drain."""
    with open(os.path.join(DATA, "recorded_spans.json")) as f:
        spans = json.load(f)
    with open(os.path.join(DATA, "recorded_eventlog.jsonl")) as f:
        red = reduce_event_log(f, spans)
    L = red["layers"]
    assert red["unattributed_jobs"] == 0
    assert L["registry.build_jobs"] >= 2  # the eager count, the stream's schema read
    assert L["spark.exec_jobs"] >= 1 + 3  # the aggregation, one job per micro-batch
    assert L["spark.tasks"] >= L["spark.stages"] >= L["spark.exec_jobs"]
    assert L["spark.executor_run_s"] > 0
    assert L["spark.shuffle_write_bytes"] > 0
    assert L["streaming.batches"] == 3
    assert L["streaming.state_commit_ms"] > 0
    assert 0 <= L["registry.build_driver_s"] <= L["registry.build_s"]
    assert 0 <= L["spark.driver_gap_s"] <= L["spark.exec_s"]
    for s in red["spans"]:
        assert s["self_s"] >= -1e-9
