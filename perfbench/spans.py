"""Spans around layer calls, Spark event-log attribution and the
streaming listener.

Spans live in memory (name, start, end, parent) and are written out
when the run ends. In a traced run every span also becomes the Spark
job group of the calls made inside it, so the event log names the call
that submitted each job. Jobs submitted on other threads (a streaming
query's micro-batches run under the query's own group) are attributed
by time to the innermost span that was open when they were submitted.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

GROUP_PREFIX = "perfbench-"


class Tracer:
    """Records spans while ``active``; an inactive tracer records and
    tags nothing. ``enabled`` says whether the run is traced at all."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = self.active = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            parent = self._open[-1] if self._open else "none"
            self.sc.setJobGroup(f"{GROUP_PREFIX}{parent}", "")


class StreamProgress:
    """Collects ``StreamingQueryListener`` progress events."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        lock = self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {"batch": p.batchId, "rows": p.numInputRows,
                       "timestamp": p.timestamp,
                       "duration_ms": dict(p.durationMs or {})}
                with lock:
                    events.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.events)


def _iso_to_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


_TASK_FIELDS = ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
                "spill_disk", "bytes_read", "bytes_written", "py_sent",
                "py_recv")
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
# Task input metrics undercount local parquet reads, so scanned bytes come
# from the scans' driver-side SQL metric instead.
_FILES_READ = "size of files read"
_SQL = "org.apache.spark.sql.execution.ui."


def _files_read_ids(plan: dict, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == _FILES_READ:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _files_read_ids(child, out)


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job records from Spark's JSON event log (stdlib only).
    ``bytes_read`` is the size of the files the job's SQL execution
    scanned, booked on the execution's first job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    scan_ids: set = set()
    exec_read: dict[int, int] = {}
    paths = sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(log_dir) for f in files
        if not f.startswith(".")
    )
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "id": jid, "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id") or "",
                        "execution": props.get("spark.sql.execution.id"),
                        "tasks": 0, **{k: 0 for k in _TASK_FIELDS},
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                    job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_disk"] += m.get("Disk Bytes Spilled", 0)
                    job["bytes_written"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == _PY_SENT:
                            job["py_sent"] += int(acc.get("Update") or 0)
                        elif name == _PY_RECV:
                            job["py_recv"] += int(acc.get("Update") or 0)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _files_read_ids(ev.get("sparkPlanInfo") or {}, scan_ids)
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, update in ev.get("accumUpdates", []):
                        if acc_id in scan_ids:
                            eid = ev["executionId"]
                            exec_read[eid] = exec_read.get(eid, 0) + int(update)
    booked = set()
    for job in sorted(jobs.values(), key=lambda j: j["id"]):
        eid = job["execution"]
        if eid is not None and int(eid) in exec_read and eid not in booked:
            job["bytes_read"] = exec_read[int(eid)]
            booked.add(eid)
    return sorted(jobs.values(), key=lambda j: j["id"])


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``job["span"]``: the span named by its group, else the
    innermost span open at its submission time (None outside spans)."""
    by_id = {s["id"]: s for s in spans}
    for job in jobs:
        sid = None
        if job["group"].startswith(GROUP_PREFIX):
            tail = job["group"][len(GROUP_PREFIX):]
            sid = int(tail) if tail.isdigit() else None
        if sid is None or sid not in by_id:
            sid = None
            for s in spans:  # spans are ordered by start; keep innermost
                if s["start"] <= job["submit"] <= (s["end"] or s["start"]):
                    sid = s["id"]
        job["span"] = sid


def descendants(spans: list[dict], root_id: int) -> set[int]:
    out = {root_id}
    for s in spans:  # parents precede children
        if s["parent"] in out:
            out.add(s["id"])
    return out


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of *intervals* clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def job_totals(jobs: list[dict]) -> dict:
    out = {"jobs": len(jobs), "tasks": sum(j["tasks"] for j in jobs)}
    for k in _TASK_FIELDS:
        out[k] = sum(j[k] for j in jobs)
    return out


def stream_totals(events: list[dict], lo: float, hi: float) -> dict:
    """Streaming progress whose trigger started within [lo, hi]."""
    out = {"batches": 0, "trigger_s": 0.0, "add_batch_s": 0.0,
           "commit_s": 0.0}
    for e in events:
        if not lo <= _iso_to_epoch(e["timestamp"]) <= hi:
            continue
        d = e["duration_ms"]
        out["batches"] += 1
        out["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
        out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["commit_s"] += (d.get("walCommit", 0)
                            + d.get("commitOffsets", 0)) / 1000.0
    return out
