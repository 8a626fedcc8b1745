"""Measurement helpers the workloads share: spans, Spark status-store
counters and the streaming progress listener.

Everything here observes the program from outside: spans are recorded
around the calls the benchmark makes, counters are read from Spark's
status store after a timer has stopped. The status-store readers are
the benchmark's own, not ``interpro7_dw_spark.testing``'s, so a change
to the program cannot change how it is measured.
"""

from __future__ import annotations

import datetime
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans (name, start, end, parent, run); written out once
    at the end. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run = 0

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run": self.run})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Yield the span id; the span's end is filled in on exit."""
        sid = self.add(name, time.time(), float("nan"), parent)
        try:
            yield sid
        finally:
            if sid >= 0:
                self.spans[sid]["end"] = time.time()

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[sid]
        kids = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                      for c in self.spans if c["parent"] == sid)
        covered, cur_end = 0.0, s["start"]
        for a, b in kids:
            a = max(a, cur_end)
            if b > a:
                covered += b - a
                cur_end = b
        return s["end"] - s["start"] - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def max_job_id(spark) -> int:
    jl = spark._jsc.sc().statusStore().jobsList(None)
    return max((jl.apply(i).jobId() for i in range(jl.size())), default=-1)


def jobs_between(spark, j0: int, j1: int) -> list[tuple[int, float, list[int]]]:
    """(job id, submission epoch seconds, stage ids) of jobs in (j0, j1]."""
    jl = spark._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jl.size()):
        j = jl.apply(i)
        if j0 < j.jobId() <= j1:
            sub = j.submissionTime()
            stages = []
            it = j.stageIds().iterator()
            while it.hasNext():
                stages.append(int(str(it.next())))
            out.append((int(j.jobId()),
                        sub.get().getTime() / 1000.0 if sub.isDefined() else float("nan"),
                        stages))
    return sorted(out)


def stage_totals(spark, stage_ids: set[int]) -> dict[str, int]:
    """Stages, tasks, input records and shuffle-write records over the
    latest attempt of each given stage."""
    store = spark._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    empty = gw.jvm.java.util.ArrayList()
    sl = store.stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)
    latest: dict[int, object] = {}
    for i in range(sl.size()):
        sd = sl.apply(i)
        sid = int(sd.stageId())
        if sid in stage_ids and (sid not in latest
                                 or int(sd.attemptId()) > int(latest[sid].attemptId())):
            latest[sid] = sd
    out = {"stages": len(latest), "tasks": 0, "input_records": 0,
           "shuffle_write_records": 0}
    for sd in latest.values():
        out["tasks"] += int(sd.numTasks())
        out["input_records"] += int(sd.inputRecords())
        out["shuffle_write_records"] += int(sd.shuffleWriteRecords())
    return out


def cached_entries(spark) -> int:
    return int(spark._jsparkSession.sharedState().cacheManager().numCachedEntries())


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, regular files) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _iso_epoch(ts: str) -> float:
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


class EpochListener(StreamingQueryListener):
    """Collects one record per micro-batch that read input rows:
    (start epoch seconds, triggerExecution s, addBatch s, input rows)."""

    def __init__(self) -> None:
        self.epochs: list[tuple[float, float, float, int]] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        self.terminated.clear()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            d = p.durationMs
            self.epochs.append((_iso_epoch(p.timestamp), d.get("triggerExecution", 0) / 1e3,
                                d.get("addBatch", 0) / 1e3, int(p.numInputRows)))

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()
