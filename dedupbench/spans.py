"""Spans around calls into the package's layers, and their Spark-side cost.

A span has a name, a layer, a start, an end, its parent span and the run id.
Every span sets its own Spark job group, so the event log attributes each job
to the innermost span that launched it. Jobs launched from threads the package
starts itself carry no group; they are attributed to the innermost span open
at their submission time (the benchmark is a single caller, so that span is
the one waiting on them).

Spans stay in memory and are written out once, at the end of the run, with the
per-span task time, shuffle bytes and job counts read from the event log.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "functions", "operators", "plans", "streaming")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    # filled from the event log
    jobs: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one run. ``enabled=False`` makes ``span`` a no-op
    that still yields a Span, so callers need no second code path."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group(span), span.name)

    def group(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    @contextmanager
    def span(self, name: str, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, self.run_id,
                  time.time())
        if not self.enabled:
            try:
                yield sp
            finally:
                sp.end = time.time()
            return
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span wall minus the part of it its direct children cover."""
        return span.wall - sum(c.wall for c in self.children(span))

    def attach_event_log(self, event_dir: str) -> None:
        """Add each job's tasks to the span that launched it."""
        by_group = {self.group(s): s for s in self.spans}
        stage_span: dict[int, Span] = {}
        for path in glob.glob(os.path.join(event_dir, "*")):
            with open(path) as fh:
                for line in fh:
                    e = json.loads(line)
                    kind = e.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        sp = by_group.get(props.get("spark.jobGroup.id"))
                        if sp is None:
                            sp = self._innermost_at(e["Submission Time"] / 1000.0)
                        if sp is None:
                            continue
                        sp.jobs += 1
                        for sid in e.get("Stage IDs", ()):
                            stage_span[sid] = sp
                    elif kind == "SparkListenerTaskEnd":
                        sp = stage_span.get(e["Stage ID"])
                        m = e.get("Task Metrics") or {}
                        if sp is None or not m:
                            continue
                        sp.task_s += m.get("Executor Run Time", 0) / 1000.0
                        sw = m.get("Shuffle Write Metrics") or {}
                        sp.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)

    def _innermost_at(self, t: float) -> Span | None:
        open_spans = [s for s in self.spans if s.start <= t <= s.end]
        return max(open_spans, key=lambda s: s.start) if open_spans else None

    def subtree(self, span: Span) -> list[Span]:
        out = [span]
        for c in self.children(span):
            out.extend(self.subtree(c))
        return out

    def reconcile(self, root: Span) -> dict:
        """Self time per layer under ``root``; the layers plus the remainder
        (root self time: time in this process no child span covers) add up to
        the root's wall."""
        per_layer = {layer: 0.0 for layer in LAYERS}
        for s in self.subtree(root)[1:]:
            per_layer[s.layer] += self.self_time(s)
        return {
            "span": root.name,
            "wall_s": root.wall,
            "self_s": per_layer,
            "remainder_s": self.self_time(root),
        }

    def dump(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {"summary": summary, "spans": [asdict(s) for s in self.spans]},
                fh, indent=1,
            )
