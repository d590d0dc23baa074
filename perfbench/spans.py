"""Span recorder and Spark event-log reader for the traced run.

The traced run wraps each call into an engine layer in
:meth:`Tracer.layer`: the Spark job group is set to the layer name, a
span ``(name, start, end, parent, iteration)`` is kept in memory, and the
layer's output is materialized inside the span. After the session stops,
:func:`read_event_log` joins jobs, executor run time and shuffle bytes to
the spans by job group.

The event log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``):
the default zstd codec cannot be read without the ``zstandard`` module.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass

#: job group of benchmark-driven work outside any layer (glue between
#: layers, such as building the categorized events cache or the anchors)
GLUE = "trace.glue"
#: job group of untraced iterations in the traced process
UNTRACED = "trace.untraced"

MEASURES = ("self_s", "task_s", "idle_core_s", "jobs", "rows_out", "shuffle_mb")
UNITS = {
    "self_s": "s",
    "task_s": "s",
    "idle_core_s": "s",
    "jobs": "count",
    "rows_out": "count",
    "shuffle_mb": "MB",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str
    iteration: int
    rows_out: int


class Tracer:
    """In-memory spans of one traced iteration."""

    def __init__(self, spark, iteration: int = 0) -> None:
        self.sc = spark.sparkContext
        self.iteration = iteration
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self.start = self.end = 0.0
        self.epoch_ms = (0, 0)  # wall-clock window, to select log events
        self._t0_ms = 0

    def __enter__(self) -> "Tracer":
        self.start = time.perf_counter()
        t0 = time.time()
        self.glue()
        self._t0_ms = int(t0 * 1000)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        self.epoch_ms = (self._t0_ms, int(time.time() * 1000) + 1)
        self.sc.setJobGroup(UNTRACED, UNTRACED)

    def glue(self) -> None:
        """Attribute the next jobs of this thread to the glue group."""
        self.sc.setJobGroup(GLUE, GLUE)

    @contextlib.contextmanager
    def layer(self, name: str):
        """Span around one layer call; the body stores the number of rows
        it materialized in the yielded dict's ``rows`` key."""
        self.sc.setJobGroup(name, name)
        out = {"rows": 0}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            t1 = time.perf_counter()
            self.glue()
            with self._lock:
                self.spans.append(
                    Span(name, t0, t1, "iteration", self.iteration, int(out["rows"]))
                )

    def records(self) -> list[dict]:
        """The spans with times relative to the iteration start."""
        return [
            dict(s.__dict__, start=round(s.start - self.start, 4), end=round(s.end - self.start, 4))
            for s in self.spans
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def read_event_log(log_dir: str, window_ms: tuple[int, int]) -> dict[str | None, dict]:
    """Per job group: ``jobs``, ``task_s`` (summed executor run time) and
    ``shuffle_mb`` (bytes written) of the jobs and stages submitted inside the
    wall-clock window. Jobs without a group are keyed ``None``."""
    lo, hi = window_ms
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    groups: dict[str | None, dict] = {}
    stage_group: dict[int, str | None] = {}

    def acc(g):
        return groups.setdefault(g, {"jobs": 0, "task_ms": 0, "shuffle_write_b": 0})

    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if lo <= ev["Submission Time"] <= hi:
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    acc(g)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if lo <= info.get("Submission Time", 0) <= hi:
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[info["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in stage_group:
                    continue
                m = ev.get("Task Metrics") or {}
                a = acc(stage_group[ev["Stage ID"]])
                a["task_ms"] += m.get("Executor Run Time", 0)
                a["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return {
        g: {
            "jobs": a["jobs"],
            "task_s": a["task_ms"] / 1000.0,
            "shuffle_mb": a["shuffle_write_b"] / 1e6,
        }
        for g, a in groups.items()
    }


def layer_metrics(tracer: Tracer, counts: dict, layers: list[str], cores: int) -> dict:
    """The six measures per layer plus the trace-wide accounting:

    - ``self_s``: summed span wall of the layer (its calls have no child
      spans, so this is also its exclusive time);
    - ``idle_core_s``: ``cores * self_s - task_s``;
    - ``trace.unattributed_s``: iteration wall not covered by any span;
    - ``trace.overlap_s``: span time that ran concurrently with another
      span, so ``sum(self_s) - overlap_s + unattributed_s`` equals the
      traced iteration wall.
    """
    out: dict[str, float] = {}
    for name in layers:
        spans = [s for s in tracer.spans if s.name == name]
        c = counts.get(name, {"jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0})
        self_s = sum(s.end - s.start for s in spans)
        out[f"{name}.self_s"] = self_s
        out[f"{name}.task_s"] = c["task_s"]
        out[f"{name}.idle_core_s"] = cores * self_s - c["task_s"]
        out[f"{name}.jobs"] = c["jobs"]
        out[f"{name}.rows_out"] = sum(s.rows_out for s in spans)
        out[f"{name}.shuffle_mb"] = c["shuffle_mb"]
    covered = _union_length([(s.start, s.end) for s in tracer.spans])
    wall = tracer.end - tracer.start
    out["trace.unattributed_s"] = wall - covered
    out["trace.overlap_s"] = sum(s.end - s.start for s in tracer.spans) - covered
    out["trace.unattributed_jobs"] = counts.get(None, {"jobs": 0})["jobs"]
    return out
