"""Spans recorded from the benchmark's own files around calls into the engine.

A span holds name, start, end, parent and run id.  Spans live in memory and
are written out when the run ends.  The layer of a span is the part of its
name before the first dot (``pipelines.merge.plan`` → ``pipelines``).

Spark work is attributed to spans by tagging each call's jobs with the span
id through the ``spark.jobGroup.id`` local property (thread-local, so DAG
jobs running on pool threads are tagged by their own wrapper).  Stage
counters are read from outside, through the UI's status REST API, once at
the end of the run.

With ``enabled`` false every method is a near no-op, so the untraced timed
phase runs the same workload code without tagging or bookkeeping.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone
from urllib.parse import urlparse


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"{self.run_id}-{self.sid}"


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool = False):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1].sid if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time ``name``; Spark jobs started inside carry the span's id."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].sid
        with self._lock:
            sp = Span(next(self._ids), name, parent, self.run_id,
                      time.perf_counter())
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", sp.group)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(sp)

    def lazy(self, name: str, build, force):
        """A call returning a lazy DataFrame: one child span builds the plan,
        one forces the result.  Returns ``(df, force(df))``."""
        with self.span(name):
            with self.span(name + ".plan"):
                df = build()
            with self.span(name + ".force"):
                out = force(df)
        return df, out

    def wrap_job(self, name: str, fn, parent: int | None):
        """DAG ``Job`` functions run on pool threads: open their span (and job
        group) on the thread that runs them."""
        if not self.enabled:
            return fn

        def run(spark):
            with self.span(f"plans.job.{name}", parent=parent):
                return fn(spark)
        return run


# ------------------------------------------------------------- analysis --

def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out = {}
    for sp in spans:
        cover = [(max(c.start, sp.start), min(c.end, sp.end))
                 for c in children.get(sp.sid, [])]
        cover = [(s, e) for s, e in cover if e > s]
        out[sp.sid] = (sp.end - sp.start) - _union_len(cover)
    return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _epoch(stamp: str) -> float:
    """REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    return datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def spark_jobs(spark) -> list[dict]:
    """Every job of the running context with its group, submission time and
    stage counters (tasks, shuffle bytes, executor run and GC ms), read from
    the status REST API."""
    sc = spark.sparkContext
    port = urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for s in _get(base + "/stages"):
        if s.get("status") != "SKIPPED":
            by_stage[s["stageId"]].append(s)
    out = []
    for job in _get(base + "/jobs"):
        c = {"group": job.get("jobGroup"), "jobs": 1, "stages": 0,
             "tasks": 0, "shuffle_bytes": 0, "run_ms": 0, "gc_ms": 0,
             "submitted": _epoch(job["submissionTime"])
             if job.get("submissionTime") else 0.0}
        for sid in job.get("stageIds", []):
            for s in by_stage.get(sid, []):
                c["stages"] += 1
                c["tasks"] += s.get("numCompleteTasks", 0)
                c["shuffle_bytes"] += (s.get("shuffleReadBytes", 0)
                                       + s.get("shuffleWriteBytes", 0))
                c["run_ms"] += s.get("executorRunTime", 0)
                c["gc_ms"] += s.get("jvmGcTime", 0)
        out.append(c)
    return out


def by_name(spans: list[Span]) -> dict[str, dict]:
    """Call count, total and self milliseconds per span name."""
    selfs = self_times(spans)
    out: dict[str, dict] = defaultdict(lambda: {"n": 0, "ms": 0.0,
                                                "self_ms": 0.0})
    for sp in spans:
        d = out[sp.name]
        d["n"] += 1
        d["ms"] += (sp.end - sp.start) * 1e3
        d["self_ms"] += selfs[sp.sid] * 1e3
    return dict(out)


def dump(path: str, spans: list[Span], extra: dict) -> None:
    rows = [{"sid": s.sid, "name": s.name, "parent": s.parent,
             "run_id": s.run_id, "start": s.start, "end": s.end}
            for s in spans]
    with open(path, "w") as fh:
        json.dump({"spans": rows, **extra}, fh, indent=1, default=str)
