"""Spans, job groups and the Spark event-log rollup for the traced run.

A span records name, start, end, parent and the run id.  Spans stay in
memory and are written out when the run ends.  Every span also gets its
own Spark job group, so the event log can be rolled up per span: the
executor run time, GC time, shuffle bytes written, bytes spilled and the
task count of every job the span started.  Jobs that carry no group of
ours (a streaming query runs its micro-batches on its own thread) are
given to the innermost span that was open when they were submitted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

COUNTERS = ("executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "tasks")


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}/{len(self.spans)}/{name}",
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def duration(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def best(self, name: str) -> float:
        """Shortest duration among the spans called ``name``."""
        return min(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def coverage(self, t0: float, t1: float, prefix: str = "bench.") -> float:
        """Share of the program's time in [t0, t1] that top-level layer
        spans cover.  Spans named ``bench.*`` hold the benchmark's own
        work (landing files, checks) and leave the denominator."""
        top = [s for s in self.spans if s["parent"] is None]
        glue = sum(s["end"] - s["start"] for s in top if s["name"].startswith(prefix))
        covered = sum(
            s["end"] - s["start"] for s in top if not s["name"].startswith(prefix)
        )
        return covered / (t1 - t0 - glue)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def read_event_log(log_dir: Path) -> list[dict]:
    """All events of the (single, uncompressed) application log; Spark
    writes it as a directory of rolled ``events_*`` files."""
    events = []
    for p in sorted(log_dir.rglob("*")):
        if p.is_file() and p.name.startswith("events_"):
            with p.open() as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def rollup(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Span id -> the five counters summed over the jobs the span ran."""
    by_group = {s["group"]: s["id"] for s in spans}
    stage_span: dict[int, int] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
        sid = by_group.get(group)
        if sid is None:
            sid = _innermost(spans, e["Submission Time"] / 1000.0)
        if sid is None:
            continue
        for st in e.get("Stage IDs", []):
            stage_span.setdefault(st, sid)
    out = {s["id"]: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = stage_span.get(e.get("Stage ID"))
        m = e.get("Task Metrics")
        if sid is None or not m:
            continue
        c = out[sid]
        c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        c["tasks"] += 1
    return out


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for s in spans:
        if s["start"] <= t <= (s["end"] or t):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["id"] if best else None
