"""Spans around calls into the engine's layers, and Spark's own stage and
task metrics attached to them.

Untraced (``Tracer(None)``), ``call`` is a plain pass-through. Traced, each
call:

- opens a span (layer, name, parent, start, end) kept in memory;
- sets the Spark job group to the span id, so every job the call starts
  is keyed to it in the event log;
- materializes the layer's output at the boundary: a returned DataFrame
  is replaced by ``localCheckpoint(eager=True)``, so the work happens
  inside the span and the caller continues from the checkpoint. Reader
  outputs are the exception: a scan is planned by the reader but runs
  fused into its consumer (column and row-group pruning depend on it),
  so reader spans hold listing and footer work and the scan itself is
  attributed to the consuming layer.

After the session stops, :func:`layer_metrics` reads the Spark event log
and attributes jobs, stages and tasks to spans: by job group first, and
for jobs started on threads that carry another group (the streaming
micro-batch thread) by submission time, to the innermost open span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "session",
    "sources.readers",
    "sources.writers",
    "plans.refined",
    "operators.aggregates",
    "ml.models",
    "text.curation",
    "text.dedup",
    "operators.graph",
    "similarity.pq",
    "similarity.knn",
    "streaming.maintenance",
]
COMMON = [
    "wall_s", "self_s", "driver_s", "jobs", "tasks",
    "shuffle_mb", "spill_mb", "cpu_s", "gc_s", "failed_tasks",
]
# layers whose output stays lazy at the span boundary (see module doc)
LAZY_LAYERS = {"sources.readers"}
# the session layer runs one trivial job: no shuffle, spill or failures
SESSION_SKIP = {"shuffle_mb", "spill_mb", "failed_tasks"}
EXTRA = {
    "sources.readers": {"files": "count"},
    "sources.writers": {"files": "count", "mb": "MB"},
    "text.dedup": {"candidate_pairs": "count", "useful_ratio": "ratio"},
    "operators.graph": {"rounds": "count"},
    "similarity.pq": {"recall_at_10": "ratio"},
    "similarity.knn": {"pairs_scored": "count"},
    "streaming.maintenance": {"versions_read": "count", "mb_written": "MB"},
}
UNITS = {
    "wall_s": "s", "self_s": "s", "driver_s": "s", "jobs": "count",
    "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB", "cpu_s": "s",
    "gc_s": "s", "failed_tasks": "count",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name → unit, in a fixed order."""
    out = {}
    for layer in LAYERS:
        for m in COMMON:
            if layer == "session" and m in SESSION_SKIP:
                continue
            out[f"{layer}.{m}"] = UNITS[m]
        for m, unit in EXTRA.get(layer, {}).items():
            out[f"{layer}.{m}"] = unit
    out["trace.overhead_s"] = "s"
    return out


class Span:
    __slots__ = ("sid", "layer", "name", "parent", "start", "end", "counts")

    def __init__(self, sid, layer, name, parent, start):
        self.sid, self.layer, self.name, self.parent = sid, layer, name, parent
        self.start, self.end = start, None
        self.counts: dict[str, float] = defaultdict(float)

    def as_json(self) -> dict:
        return {
            "id": self.sid, "layer": self.layer, "name": self.name,
            "parent": self.parent, "start": self.start, "end": self.end,
            "counts": dict(self.counts),
        }


class Tracer:
    """Span recorder. ``spark=None`` disables tracing entirely."""

    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = spark is not None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.materializing = False

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"bench-{len(self.spans)}", layer, name,
                  parent.sid if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(sp.sid, f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc.setLocalProperty("spark.job.description", None)

    def call(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span of ``layer``, materializing its output."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(layer, fn.__name__):
            res = fn(*args, **kwargs)
            if layer in LAZY_LAYERS:
                return res
            self.materializing = True
            try:
                return _materialize(res)
            finally:
                self.materializing = False

    def count(self, layer: str, key: str, n: float) -> None:
        """Add ``n`` to counter ``key`` of the innermost open span of
        ``layer``, else of its most recent span (a no-op when untraced)."""
        if not self.enabled:
            return
        for sp in reversed(self._stack or self.spans):
            if sp.layer == layer:
                sp.counts[key] += n
                return

    def current_layer(self) -> str | None:
        return self._stack[-1].layer if self._stack else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_json() for s in self.spans], f)


def _materialize(res):
    from pyspark.sql import DataFrame

    if isinstance(res, DataFrame):
        return res.localCheckpoint(eager=True)
    if isinstance(res, tuple):
        return tuple(_materialize(r) for r in res)
    return res


# ---- event log --------------------------------------------------------------


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the Spark event log under ``log_dir`` into ``jobs``
    (id → group, submit, stage ids) and ``stages`` (id → submit, complete,
    task metric sums)."""
    jobs, stages = {}, defaultdict(lambda: defaultdict(float))
    # Spark 4 writes the v2 layout: a directory of rolled ``events_*`` files
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages[info["Stage ID"]]
                    if "Submission Time" in info:
                        st["submit"] = info["Submission Time"] / 1000.0
                        st["complete"] = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    tm = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    st["failed_tasks"] += reason not in (None, "Success")
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    st["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return jobs, stages


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


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def layer_metrics(spans: list[Span], jobs: dict, stages: dict) -> dict[str, float]:
    """Aggregate spans plus event-log jobs into ``<layer>.<metric>``."""
    by_id = {s.sid: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s.parent:
            children[s.parent].append(s)

    def owner(job) -> Span | None:
        if job["group"] in by_id:
            return by_id[job["group"]]
        inside = [s for s in spans if s.start <= job["submit"] <= (s.end or 0)]
        return max(inside, key=lambda s: s.start) if inside else None

    own_jobs = defaultdict(list)
    for job in jobs.values():
        sp = owner(job)
        if sp is not None:
            own_jobs[sp.sid].append(job)

    out: dict[str, float] = defaultdict(float)
    for s in spans:
        p = f"{s.layer}."
        dur = s.end - s.start
        anc, nested = by_id.get(s.parent), False
        while anc is not None:
            nested |= anc.layer == s.layer
            anc = by_id.get(anc.parent)
        if not nested:
            out[p + "wall_s"] += dur
        kids = [(c.start, c.end) for c in children[s.sid]]
        self_time = dur - _union_len(_clip(kids, s.start, s.end))
        out[p + "self_s"] += self_time
        busy = []
        for job in own_jobs[s.sid]:
            out[p + "jobs"] += 1
            for sid in job["stages"]:
                st = stages.get(sid)
                if not st or "submit" not in st:
                    continue  # skipped stage: its shuffle output was reused
                for m in ("tasks", "shuffle_mb", "spill_mb", "cpu_s", "gc_s", "failed_tasks"):
                    out[p + m] += st[m]
                busy.append((st["submit"], st["complete"]))
        # driver time: the span's own (non-child) time with none of its
        # stages running — planning, scheduling, py4j and Arrow hand-off
        self_busy = _union_len(_clip(busy, s.start, s.end))
        kid_busy = sum(_union_len(_clip(_clip(busy, a, b), s.start, s.end)) for a, b in kids)
        out[p + "driver_s"] += max(0.0, self_time - (self_busy - kid_busy))
        for k, v in s.counts.items():
            out[p + k] += v
    return out
