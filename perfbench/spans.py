"""Spans around the engine's public calls, and Spark work per span.

The traced run wraps calls into the engine's modules from outside (the
module attribute is replaced by a wrapper for the length of the run), so
the engine itself is unchanged. Each span records its name, start, end,
parent span and run id; spans stay in memory until the run ends. Every
Spark job a wrapped call triggers carries the innermost span id as the
local property ``perfbench.span``, and the uncompressed event log then
gives each job's stages, executor time, GC time, shuffle bytes and spill.
"""

from __future__ import annotations

import glob
import json
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    """Span recorder; a disabled tracer records nothing and patches nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self.sc = None
        self._local = threading.local()
        self._root: int | None = None
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False):
        """Record ``name`` around the block; ``root`` makes it the parent of
        spans opened on threads that have no open span (stream callbacks)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else self._root,
                "run": self.run_id,
                "phase": self.phase,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        prev = self.sc.getLocalProperty(SPAN_PROP) if self.sc else None
        if self.sc:
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        prev_root = self._root
        if root:
            self._root = sid
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if root:
                self._root = prev_root
            if self.sc:
                self.sc.setLocalProperty(SPAN_PROP, prev)

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.replace(owner, attr, traced)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until :meth:`unpatch`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- queries over the recorded spans ---------------------------------
    def timed(self, name: str, phase: str = "timed") -> list[dict]:
        """Closed spans called ``name`` recorded during ``phase``."""
        return [
            s for s in self.spans
            if s["name"] == name and s["phase"] == phase and s["end"]
        ]

    def durations_ms(self, name: str, phase: str = "timed") -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.timed(name, phase)]

    def self_ms(self, name: str) -> list[float]:
        """Per span: duration minus the part its direct children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.timed(name):
            covered = 0.0
            cursor = s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.append((s["end"] - s["start"] - covered) * 1000)
        return out

    def descendants(self, sid: int) -> set[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = {sid}, [sid]
        while todo:
            for k in kids.get(todo.pop(), []):
                out.add(k)
                todo.append(k)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


class EventLog:
    """Jobs and stages of one uncompressed, non-rolling Spark event log."""

    METRICS = {
        "internal.metrics.executorRunTime": "run_ms",
        "internal.metrics.jvmGCTime": "gc_ms",
        "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
        "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
        "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    }

    def __init__(self, log_dir: str) -> None:
        self.job_span: dict[int, int | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stages: dict[int, dict] = {}
        for path in glob.glob(f"{log_dir}/*"):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            span = (ev.get("Properties") or {}).get(SPAN_PROP)
            self.job_span[jid] = int(span) if span not in (None, "") else None
            self.job_stages[jid] = list(ev.get("Stage IDs") or [])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            rec = {v: 0 for v in self.METRICS.values()}
            for acc in info.get("Accumulables") or []:
                key = self.METRICS.get(acc.get("Name"))
                if key:
                    rec[key] += int(acc.get("Value") or 0)
            self.stages[info["Stage ID"]] = rec

    def jobs_in(self, span_ids: set[int]) -> list[int]:
        return [j for j, s in self.job_span.items() if s in span_ids]

    def totals(self, jobs: list[int]) -> dict:
        """Summed stage metrics of ``jobs`` (each completed stage once)."""
        seen: set[int] = set()
        out = {v: 0 for v in self.METRICS.values()}
        out["stages"] = 0
        for j in jobs:
            for st in self.job_stages.get(j, []):
                if st in seen or st not in self.stages:
                    continue
                seen.add(st)
                out["stages"] += 1
                for k, v in self.stages[st].items():
                    out[k] += v
        return out
