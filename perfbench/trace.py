"""Spans recorded from the benchmark's side of each layer boundary, and
the fold of Spark's event log onto those spans.

A span is opened around a call into the program (a patched public
function or a call the benchmark makes itself). While it is open, the
calling thread's Spark local property ``perfbench.span`` carries the
span id, so every job, stage and task Spark runs for it is tagged in the
event log. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import collections
import contextlib
import itertools
import json
import os
import threading
import time

SPAN_PROP = "perfbench.span"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "gc_ms",
    "shuffle_bytes",
    "spill_bytes",
    "records_read",
    "records_written",
    "bytes_written",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, tag=None):
        from pyspark import SparkContext

        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "tag": tag if tag is not None else (parent["tag"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
        }
        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty(SPAN_PROP) if sc else None
        if sc:
            sc.setLocalProperty(SPAN_PROP, str(rec["id"]))
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc:
                sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append(rec)

    def swap(self, owner, attr: str, new) -> object:
        """Set ``owner.attr`` to ``new`` until ``unpatch``; returns the
        original."""
        orig = getattr(owner, attr)
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))
        return orig

    def patch(self, owner, attr: str, name: str, tag_of=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span named
        ``name``; ``tag_of(*args, **kwargs)`` picks the span's tag."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name, tag_of(*args, **kwargs) if tag_of else None):
                return orig(*args, **kwargs)

        self.swap(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def root_of(self, span_id: int, names: set[str], spans: dict[int, dict]) -> dict | None:
        """The outermost ancestor (or the span itself) named in
        ``names``; ``spans`` maps span id to span."""
        found = None
        s = spans.get(span_id)
        while s is not None:
            if s["name"] in names:
                found = s
            s = spans.get(s["parent"])
        return found

    def children_ms(self, parent_id: int, name: str) -> float:
        """Summed duration of the direct children named ``name``."""
        return sum(
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["parent"] == parent_id and s["name"] == name
        )


def fold_event_log(lines) -> dict[str, dict]:
    """Fold Spark event-log lines into counters per ``perfbench.span``
    value (None for work run outside any span). Stages and tasks are
    attributed through the properties of the stage's submission, so a
    stage skipped because its shuffle output was reused is not
    counted."""
    out: dict = collections.defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_span: dict[int, str | None] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[(ev.get("Properties") or {}).get(SPAN_PROP)]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            stage_span[ev["Stage Info"]["Stage ID"]] = (ev.get("Properties") or {}).get(
                SPAN_PROP
            )
        elif kind == "SparkListenerStageCompleted":
            out[stage_span.get(ev["Stage Info"]["Stage ID"])]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_span.get(ev["Stage ID"])]
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            out_m = m.get("Output Metrics") or {}
            c["records_written"] += out_m.get("Records Written", 0)
            c["bytes_written"] += out_m.get("Bytes Written", 0)
    return dict(out)


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Fold every application log under ``log_dir``: one uncompressed,
    unrolled file per session the run started."""
    lines: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            lines.extend(fh)
    return fold_event_log(lines)


def rollup(tracer: Tracer, folded: dict[str, dict], roots: set[str]) -> dict[int, dict]:
    """Sum event-log counters of every span into its outermost ancestor
    named in ``roots``: {root span id: counters}."""
    out: dict = collections.defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    spans = {s["id"]: s for s in tracer.spans}
    for key, counters in folded.items():
        if key is None:
            continue
        root = tracer.root_of(int(key), roots, spans)
        if root is None:
            continue
        acc = out[root["id"]]
        for k in COUNTERS:
            acc[k] += counters[k]
    return dict(out)
