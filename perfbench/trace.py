"""Per-layer instruments for traced runs, all taken from outside the
engine: spans around public calls, a streaming progress listener, a
storage directory diff, and a parser for Spark's own event log.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans kept in memory: name, start, end, parent span id and the
    run id. A disabled tracer records nothing and costs one branch."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover
        (children of one span never overlap: the benchmark is one thread
        of calls)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        own = self.self_times()
        rows = [{**s, "self_s": own[s["id"]]} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(rows, fh)


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress event (Spark keeps only the
    last 100 on the query object)."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = p.stateOperators or []
        rec = {
            "ts": time.time(),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_mem_bytes": sum(s.memoryUsedBytes for s in state),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self, since: float, until: float) -> list[dict]:
        with self._lock:
            return [e for e in self.events if since <= e["ts"] <= until]


STREAM_UNITS = {
    "stream.addBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.latestOffset_ms": "ms",
    "stream.batches": "count",
    "stream.state_rows": "rows",
    "stream.state_mem_bytes": "bytes",
}
SPARK_UNITS = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.scheduler_delay_s": "s",
    "driver.no_job_s": "s",
}


def stream_metrics(events: list[dict], n_ops: int) -> dict[str, float]:
    """Per-operation means of the streaming phases and state size."""
    n = max(n_ops, 1)

    def phase(key: str) -> float:
        return sum(e["duration_ms"].get(key, 0) for e in events) / n

    return {
        "stream.addBatch_ms": phase("addBatch"),
        "stream.queryPlanning_ms": phase("queryPlanning"),
        "stream.walCommit_ms": phase("walCommit"),
        "stream.commit_ms": phase("commitOffsets"),
        "stream.latestOffset_ms": phase("latestOffset"),
        "stream.batches": len(events) / n,
        "stream.state_rows": max((e["state_rows"] for e in events), default=0),
        "stream.state_mem_bytes": max((e["state_mem_bytes"] for e in events), default=0),
    }


def dir_files(root: str) -> dict[str, int]:
    """Relative path -> size of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def dir_diff(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Files and bytes written between two listings, and how many of the
    new files are Delta commits."""
    new = {p: s for p, s in after.items() if before.get(p) != s}
    return {
        "files": len(new),
        "bytes": sum(s - before.get(p, 0) for p, s in new.items() if s > before.get(p, 0)),
        "delta_commits": sum(
            1 for p in new if os.path.basename(os.path.dirname(p)) == "_delta_log" and p.endswith(".json")
        ),
    }


def spark_event_metrics(log_dir: str, since: float, until: float, n_ops: int) -> dict[str, float]:
    """Job, task and executor totals per operation from the Spark event
    log, restricted to jobs submitted and tasks launched in the window;
    `driver.no_job_s` is the window time with no job running."""
    since_ms, until_ms = since * 1000, until * 1000
    jobs: dict[int, list[float]] = {}
    m = dict.fromkeys(
        ["tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill", "delay_ms"], 0.0
    )
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                    if since_ms <= t <= until_ms:
                        jobs[ev["Job ID"]] = [t, until_ms]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = min(ev["Completion Time"], until_ms)
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    if not since_ms <= info.get("Launch Time", 0) <= until_ms:
                        continue
                    m["tasks"] += 1
                    run = tm.get("Executor Run Time", 0)
                    m["run_ms"] += run
                    m["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    m["gc_ms"] += tm.get("JVM GC Time", 0)
                    rd = tm.get("Shuffle Read Metrics") or {}
                    m["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    m["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    finish = info.get("Finish Time", 0)
                    # "Getting Result Time" is the epoch ms at which the
                    # driver began fetching an indirect result (0 if none);
                    # as Spark's getSchedulerDelay, the fetch is finish - it
                    got = info.get("Getting Result Time", 0)
                    m["delay_ms"] += max(
                        0,
                        finish
                        - info.get("Launch Time", 0)
                        - run
                        - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0)
                        - (finish - got if got > 0 else 0),
                    )
    busy, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(jobs.values()):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                busy += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        busy += cur_end - cur_start
    n = max(n_ops, 1)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.tasks": m["tasks"] / n,
        "spark.executor_run_s": m["run_ms"] / 1000 / n,
        "spark.executor_cpu_s": m["cpu_ns"] / 1e9 / n,
        "spark.gc_s": m["gc_ms"] / 1000 / n,
        "spark.shuffle_read_bytes": m["shuffle_read"] / n,
        "spark.shuffle_write_bytes": m["shuffle_write"] / n,
        "spark.spill_bytes": m["spill"] / n,
        "spark.scheduler_delay_s": m["delay_ms"] / 1000 / n,
        "driver.no_job_s": max(0.0, (until_ms - since_ms) - busy) / 1000 / n,
    }
