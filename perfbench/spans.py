"""Spans around the engine's public calls, and their Spark cost from the
event log.

A span is opened from the benchmark's own code around a call into one of the
engine's modules. While it is open, every Spark job the call launches is
tagged with the span's id through ``setJobGroup``; nested spans re-tag and
restore their parent's group on exit. After the session stops, the event log
(written with the UI off) is read offline: stage submissions carry the job
group, and each finished task carries its CPU time, shuffle and spill bytes,
and the SQL metrics of the Python-worker boundary.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
COUNTERS = ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes", "python_s",
            "python_bytes")


class Tracer:
    """Records spans; a disabled tracer only runs the wrapped calls."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{name}#{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty(GROUP_KEY, None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def patched(self, owner, attr: str, name: str, count=None):
        """Wrap ``owner.attr`` in a span for the duration of the block.
        ``count(result)`` returns extra counts stored on the span."""
        if self.sc is None:
            yield
            return
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                result = original(*args, **kwargs)
                if count is not None:
                    rec["counts"].update(count(result))
                return result

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, original)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: its job ids, and the jobs, tasks, executor CPU,
    shuffle-write and spill bytes, time inside Python workers and bytes
    across that boundary."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                c = groups[ev.get("Properties", {}).get(GROUP_KEY)]
                c["jobs"] += 1
                c.setdefault("job_ids", []).append(ev["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                stage_group[ev["Stage Info"]["Stage ID"]] = ev.get(
                    "Properties", {}
                ).get(GROUP_KEY)
            elif kind == "SparkListenerTaskEnd":
                c = groups[stage_group.get(ev["Stage ID"])]
                c["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                acc = {
                    a.get("Name"): float(a.get("Update") or 0)
                    for a in ev["Task Info"].get("Accumulables", [])
                }
                c["python_s"] += acc.get("time to run Python workers", 0.0) / 1e3
                c["python_bytes"] += acc.get("data sent to Python workers", 0.0) + acc.get(
                    "data returned from Python workers", 0.0
                )
    return dict(groups)


def attribute(spans: list[dict], groups: dict[str, dict[str, float]]) -> None:
    """Fill each span's ``wall_s``, ``self_s`` and Spark counters. Counters
    are inclusive: a span holds its own jobs' cost plus its children's."""
    children: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    # spans are recorded in start order, so children come after parents
    for s in reversed(spans):
        s["wall_s"] = s["end"] - s["start"]
        kids = children[s["id"]]
        s["self_s"] = s["wall_s"] - sum(k["wall_s"] for k in kids)
        own = groups.get(s["id"], dict.fromkeys(COUNTERS, 0))
        for c in COUNTERS:
            s[c] = own[c] + sum(k[c] for k in kids)
