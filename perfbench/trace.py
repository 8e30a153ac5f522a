"""Spans recorded by the benchmark and the event-log reducer.

The benchmark records its own spans (workload → pass → query → phase) in
memory. In a traced run it also tags every Spark job it triggers with a
job group named after the enclosing phase span, and Spark writes an
uncompressed event log. ``reduce_event_log`` joins the two after the
session has stopped: each Spark job becomes a child span of the phase
whose group it carries (stream micro-batch jobs carry the stream's run id
instead), and each streaming progress event becomes a micro-batch span of
its drain. Nothing inside the engine is instrumented.

Only the standard library is used, so the reducer runs without Spark.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from datetime import datetime


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile of ``values`` that has at least ``beyond``
    samples above it, as (value, percentile, sample count); None when
    there are too few samples to have one."""
    xs = sorted(values)
    k = len(xs) - 1 - beyond
    if k < 0:
        return None
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs)


class Recorder:
    """In-memory span recorder. With ``sc`` set, every span opened with a
    ``group`` also sets that Spark job group for its duration."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.sc = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, kind: str, group: str | None = None,
             qid: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": parent["id"] if parent else None,
            "qid": qid if qid is not None else (parent or {}).get("qid"),
            "group": group,
            "attrs": attrs,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(s)
        self._stack.append(s)
        if group and self.sc is not None:
            self.sc.setJobGroup(group, group)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


_STREAM = "org.apache.spark.sql.streaming.StreamingQueryListener$"


def parse_event_log(lines) -> dict:
    """Jobs (with their executed stages and tasks) and streaming progress
    from Spark event-log lines."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    started: dict[str, float] = {}
    progress: dict[str, list[dict]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "id": jid,
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": [],
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], {"id": ev["Stage ID"], "tasks": []})
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            st["tasks"].append({
                "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "shuffle_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
            })
        elif kind == _STREAM + "QueryStartedEvent":
            started[ev["runId"]] = _iso_s(ev["timestamp"])
        elif kind == _STREAM + "QueryProgressEvent":
            p = ev["progress"]
            progress.setdefault(p["runId"], []).append(p)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid]["stages"].append(st)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return {"jobs": jobs, "started": started, "progress": progress}


def _job_totals(jobs: list[dict]) -> dict:
    tasks = [t for j in jobs for st in j["stages"] for t in st["tasks"]]
    skew = 1.0
    for j in jobs:
        for st in j["stages"]:
            durs = [t["dur_ms"] for t in st["tasks"]]
            med = statistics.median(durs) if len(durs) >= 2 else 0
            if med > 0:
                skew = max(skew, max(durs) / med)
    return {
        "jobs": len(jobs),
        "stages": sum(len(j["stages"]) for j in jobs),
        "tasks": len(tasks),
        "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "input_bytes": sum(t["input"] for t in tasks),
        "task_skew": skew,
    }


def _self_time(span: dict, children: list[dict]) -> float:
    return (span["end"] - span["start"]) - union_s(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"]
    )


STREAM_DURATIONS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}


def reduce_event_log(lines, spans: list[dict]) -> dict:
    """Join benchmark spans with an event log.

    Returns ``spans`` (the input spans plus one span per Spark job and per
    micro-batch, each with ``self_s``), ``queries`` (per-query detail of
    the timed passes) and ``layers`` (per-pass workload totals, keyed by
    the per-layer metric names).
    """
    log = parse_event_log(lines)
    spans = [dict(s) for s in spans]
    by_group = {s["group"]: s for s in spans if s.get("group")}
    for s in spans:
        run_id = s["attrs"].get("run_id")
        if run_id:
            by_group[run_id] = s
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    jobs_of: dict[int, list[dict]] = {}
    unattributed = 0
    for j in sorted(log["jobs"].values(), key=lambda j: j["id"]):
        owner = by_group.get(j["group"])
        if owner is None:
            unattributed += 1
            continue
        jobs_of.setdefault(owner["id"], []).append(j)
        js = {
            "id": len(spans), "name": f"job {j['id']}", "kind": "job",
            "parent": owner["id"], "qid": owner["qid"], "group": j["group"],
            "start": j["start"], "end": j["end"],
            "attrs": {k: v for k, v in _job_totals([j]).items() if k != "jobs"},
        }
        spans.append(js)
        children.setdefault(owner["id"], []).append(js)
    batches_of: dict[int, list[dict]] = {}
    for run_id, plist in log["progress"].items():
        owner = by_group.get(run_id)
        if owner is None:
            continue
        batches_of[owner["id"]] = plist
        for p in plist:
            start = _iso_s(p["timestamp"])
            bs = {
                "id": len(spans), "name": f"batch {p['batchId']}",
                "kind": "batch", "parent": owner["id"], "qid": owner["qid"],
                "group": run_id, "start": start,
                "end": start + p["durationMs"].get("triggerExecution", 0) / 1e3,
                "attrs": {"durationMs": p["durationMs"],
                          "numInputRows": p.get("numInputRows")},
            }
            spans.append(bs)
            children.setdefault(owner["id"], []).append(bs)
    for s in spans:
        s["self_s"] = _self_time(s, children.get(s["id"], []))

    timed_ids = {s["id"] for s in spans if s["kind"] == "pass" and s["attrs"].get("timed")}
    n_pass = max(1, len(timed_ids))
    parent_of = {s["id"]: s["parent"] for s in spans}

    def in_timed(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            if p in timed_ids:
                return True
            p = parent_of.get(p)
        return False

    layers = {
        "session.get_spark_s": sum(
            s["end"] - s["start"] for s in spans if s["kind"] == "session"
        ),
    }
    loads = [s for s in spans if s["kind"] == "load"]
    cold = [s for s in loads if s["attrs"].get("cold")]
    layers["session.load_table_s"] = sum(s["end"] - s["start"] for s in cold)
    layers["session.load_table_warm_s"] = sum(
        s["end"] - s["start"] for s in loads if not s["attrs"].get("cold")
    )
    layers["session.load_table_jobs"] = sum(len(jobs_of.get(s["id"], [])) for s in cold)

    queries: dict[str, dict] = {}
    acc = {"build": [], "exec": []}
    acc_spans = {"build": [], "exec": []}
    stream = {"batches": 0, "start_s": 0.0, "state_commit_ms": 0,
              "state_rows_total": 0, "state_memory_bytes": 0,
              **{k: 0 for k in STREAM_DURATIONS}}
    persists = {"released": 0, "bytes": 0}
    for q in spans:
        if q["kind"] != "query" or not in_timed(q):
            continue
        persists["released"] += q["attrs"].get("persists_released", 0)
        persists["bytes"] += q["attrs"].get("persisted_bytes", 0)
        row = queries.setdefault(q["name"], {"samples": 0})
        row["samples"] += 1
        for ph in children.get(q["id"], []):
            if ph["name"] not in acc:
                continue
            pj = jobs_of.get(ph["id"], [])
            acc[ph["name"]].extend(pj)
            acc_spans[ph["name"]].append(ph)
            tot = _job_totals(pj)
            for key, v in (("s", ph["end"] - ph["start"]), ("jobs", tot["jobs"]),
                           ("executor_s", tot["executor_run_s"]), ("driver_s", ph["self_s"])):
                row[f"{ph['name']}_{key}"] = row.get(f"{ph['name']}_{key}", 0) + v
            plist = batches_of.get(ph["id"], [])
            if plist:
                stream["batches"] += len(plist)
                run_id = ph["attrs"]["run_id"]
                if run_id in log["started"]:
                    stream["start_s"] += _iso_s(plist[0]["timestamp"]) - log["started"][run_id]
                for p in plist:
                    for key, name in STREAM_DURATIONS.items():
                        stream[key] += p["durationMs"].get(name, 0)
                    stream["state_commit_ms"] += sum(
                        o.get("commitTimeMs", 0) for o in p.get("stateOperators", [])
                    )
                last = plist[-1].get("stateOperators", [])
                stream["state_rows_total"] += sum(o.get("numRowsTotal", 0) for o in last)
                stream["state_memory_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in last)
    for row in queries.values():
        n = row.pop("samples")
        for k in row:
            row[k] /= n

    build, exe = _job_totals(acc["build"]), _job_totals(acc["exec"])
    layers["registry.build_s"] = sum(s["end"] - s["start"] for s in acc_spans["build"])
    layers["registry.build_jobs"] = build["jobs"]
    layers["registry.build_executor_s"] = build["executor_run_s"]
    layers["registry.build_driver_s"] = sum(s["self_s"] for s in acc_spans["build"])
    layers["spark.exec_s"] = sum(s["end"] - s["start"] for s in acc_spans["exec"])
    layers["spark.exec_jobs"] = exe["jobs"]
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes"):
        layers[f"spark.{k}"] = exe[k]
    layers["spark.driver_gap_s"] = sum(s["self_s"] for s in acc_spans["exec"])
    layers["indexing.persists_released"] = persists["released"]
    layers["indexing.persisted_bytes"] = persists["bytes"]
    for k, v in stream.items():
        layers[f"streaming.{k}"] = v
    # per-pass workload totals; set-up layers happen once per session
    for k in list(layers):
        if not k.startswith("session."):
            layers[k] /= n_pass
    # skew is a ratio over the worst stage, not a per-pass total
    layers["spark.task_skew"] = exe["task_skew"]
    return {
        "spans": spans,
        "queries": queries,
        "layers": layers,
        "unattributed_jobs": unattributed,
    }
