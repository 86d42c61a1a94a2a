"""Spans, Spark event-log folding and the summary statistics.

Spans are recorded in memory by the benchmark's own code around each
call into a ``laion_spark`` public function: name, start, end, parent
and op id. In a traced run every op also runs under
``SparkContext.setJobGroup(<kind>, <call id>)``, and Spark's event log
(switched on from outside, see ``run.py``) is folded into a per-op
stage table once the session has stopped.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs, beyond: int = 10) -> tuple[float, int] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples ranked above it, and its nearest-rank value; None when
    there are too few samples for any percentile to qualify."""
    n = len(xs)
    if n <= beyond:
        return None
    pct = math.floor(100 * (n - beyond) / n)
    if pct <= 0:
        return None
    rank = math.ceil(pct * n / 100)  # nearest rank, 1-based
    return float(sorted(xs)[rank - 1]), pct


class Tracer:
    """Span recorder. ``enabled=False`` keeps the op timing (every run
    needs it) and drops everything else, so untraced runs pay nothing
    beyond two clock reads per op.

    ``phase`` ("setup", "warmup" or "measure") is stamped on every op
    and span; per-layer figures come from measured spans, or from
    set-up spans for layers a workload only runs while setting up."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.phase = "setup"
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        #: job group id -> (group kind, span index)
        self.groups: dict[str, tuple[str, int]] = {}
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def op(self, kind: str, op_id: str, group: bool = False):
        """One timed operation; yields its record, which receives
        ``wall_s`` on exit. ``group=True`` also runs it under a Spark
        job group named ``kind``."""
        rec: dict = {"kind": kind, "id": op_id, "phase": self.phase, "traced": self.enabled}
        self._op = op_id
        try:
            with self.span(kind, group=kind if group else None):
                t0 = time.perf_counter()
                yield rec
                rec["wall_s"] = time.perf_counter() - t0
        finally:
            self._op = None
        self.ops.append(rec)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """A span around one call; ``group`` tags the Spark jobs the call
        runs with ``setJobGroup(group, <unique id>)``."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "op": self._op, "parent": parent,
                           "phase": self.phase, "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        if group is not None and self.sc is not None:
            gid = f"{group}#{idx}"
            self.groups[gid] = (group, idx)
            self.sc.setJobGroup(group, gid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()
            if group is not None and self.sc is not None:
                # untag: jobs run between calls (checks) belong to no op
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str) -> list[float]:
        """Durations of the ``name`` spans in the measure phase, or of
        the set-up ones when the workload runs ``name`` only there."""
        for phase in ("measure", "setup"):
            d = [s["end"] - s["start"] for s in self.spans
                 if s["name"] == name and s["phase"] == phase]
            if d:
                return d
        return []

    def self_times(self) -> dict[str, float]:
        """Median self time per span name: duration minus the part of
        its interval that child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        by_name: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            by_name[s["name"]].append(s["end"] - s["start"] - child[i])
        return {k: median(v) for k, v in by_name.items()}

    def group_walls(self) -> dict[str, tuple[str, float, str]]:
        """job group id -> (kind, wall seconds, phase), for the fold."""
        out = {}
        for gid, (kind, idx) in self.groups.items():
            s = self.spans[idx]
            out[gid] = (kind, s["end"] - s["start"], s["phase"])
        return out


#: per-op Spark fields reported from the event log
SPARK_FIELDS = ("tasks", "cpu_frac", "gc_ms", "overhead_ms", "shuffle_bytes", "spill_bytes")


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every log under ``log_dir``: plain files, or Spark 4's
    rolling layout (a directory of ``events_<n>_<app>`` parts)."""
    def order(path: str):
        name = os.path.basename(path)
        part = name.split("_")[1] if name.startswith("events_") else "0"
        return (os.path.dirname(path), int(part) if part.isdigit() else 0, name)

    paths = []
    for dirpath, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(dirpath, f) for f in files if not f.startswith((".", "appstatus"))]
    events = []
    for path in sorted(paths, key=order):
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def fold_event_log(events: list[dict], groups: dict[str, tuple[str, float, str]]) -> dict:
    """Per-op stage table from JobStart / TaskEnd / StageCompleted
    records.

    ``groups`` maps job group id -> (kind, wall seconds, phase), as
    :meth:`Tracer.group_walls` returns it. Returns ``{kind: {field:
    median over that kind's calls}}`` — measured calls, or set-up calls
    for kinds a workload runs only while setting up — plus, under
    ``"_calls"``, one raw row per call."""
    stage_gid: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.job.description")
            if gid in groups:
                for sid in e.get("Stage IDs", []):
                    stage_gid.setdefault(sid, gid)
    acc = {gid: {"tasks": 0, "stages": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                 "shuffle_bytes": 0, "spill_bytes": 0, "first": None, "last": None}
           for gid in groups}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageCompleted":
            gid = stage_gid.get(e["Stage Info"]["Stage ID"])
            if gid is not None:
                acc[gid]["stages"] += 1
            continue
        if ev != "SparkListenerTaskEnd" or stage_gid.get(e.get("Stage ID")) is None:
            continue
        r = acc[stage_gid[e["Stage ID"]]]
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        r["tasks"] += 1
        r["run_ms"] += m.get("Executor Run Time", 0)
        r["cpu_ns"] += m.get("Executor CPU Time", 0)
        r["gc_ms"] += m.get("JVM GC Time", 0)
        r["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        launch, finish = info.get("Launch Time"), info.get("Finish Time")
        if launch:
            r["first"] = launch if r["first"] is None else min(r["first"], launch)
        if finish:
            r["last"] = finish if r["last"] is None else max(r["last"], finish)
    calls: dict[str, dict] = {}
    by_kind: dict[tuple[str, str], list[dict]] = defaultdict(list)
    for gid, r in acc.items():
        kind, wall, phase = groups[gid]
        task_span_ms = (r["last"] - r["first"]) if r["first"] is not None else 0
        row = {
            "kind": kind,
            "phase": phase,
            "wall_ms": wall * 1000.0,
            "stages": r["stages"],
            "tasks": r["tasks"],
            "cpu_frac": (r["cpu_ns"] / 1e6 / r["run_ms"]) if r["run_ms"] else 0.0,
            "gc_ms": r["gc_ms"],
            # wall time outside the first-task-to-last-task window:
            # planning, scheduling, result fetch and driver merge
            "overhead_ms": wall * 1000.0 - task_span_ms,
            "shuffle_bytes": r["shuffle_bytes"],
            "spill_bytes": r["spill_bytes"],
        }
        calls[gid] = row
        by_kind[(kind, phase)].append(row)
    out: dict = {"_calls": calls}
    for kind in {k for k, _ in by_kind}:
        rows = by_kind.get((kind, "measure")) or by_kind.get((kind, "setup")) or []
        if rows:
            out[kind] = {f: median([r[f] for r in rows])
                         for f in ("wall_ms", "stages", *SPARK_FIELDS)}
    return out
