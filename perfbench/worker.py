"""One benchmark run inside a fresh process: start the session, run the
cold job, then the measured iterations, observe the outputs and write a
raw result file for ``run.py`` to score.

Not meant to be started by hand; ``run.py`` generates the inputs and the
expected outputs first and passes their location here.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this driver process plus its JVM child (VmHWM)."""
    me = os.getpid()
    return (_vm_hwm_kb(me) + sum(_vm_hwm_kb(c) for c in _children(me))) / 1024.0


class Ops:
    """Operations attempted and the ones that raised."""

    def __init__(self):
        self.attempted = self.raised = 0

    def run(self, fn, *args, count: bool = True):
        self.attempted += count
        t0 = time.perf_counter()
        try:
            res = fn(*args)
        except Exception:
            self.raised += 1
            traceback.print_exc()
            return None, time.perf_counter() - t0
        return res, time.perf_counter() - t0


# searches per iteration in the traced run: enough for per-layer counts
# and times, and keeps the traced run (two iterations) short
TRACED_SEARCHES = 4


def iteration(wl, ops: Ops, rec: dict, searches: int, warmup: int = 0) -> float:
    """One iteration (reset, job, searches, increments); returns its wall.
    The first ``warmup`` requests are checked but not timed: the request
    path's first executions in a session are JIT warm-up."""
    t0 = time.perf_counter()
    wl.reset()
    _, dt = ops.run(wl.job)
    rec["job_s"].append(dt)
    ops.run(wl.before_searches, count=False)
    for _ in range(warmup):
        ops.run(wl.search)
    for _ in range(searches):
        _, dt = ops.run(wl.search)
        rec["search_s"].append(dt)
    lats, _ = ops.run(wl.increments)
    rec["freshness_s"].extend(lats or [])
    rec["increments"].append(len(lats or [None]))
    rec["written_bytes"].append(wl.written_bytes())
    rec["input_bytes"].append(wl.input_bytes())
    return time.perf_counter() - t0


def patch_nested(tracer) -> None:
    """Traced run only: spans and counts for layer calls made from inside
    another layer (kNN joins inside maintenance passes, versioned-state
    reads and writes, connected-components rounds)."""
    from etl_aws_spark.similarity import knn
    from etl_aws_spark.streaming.state import VersionedState
    from workloads import tree_bytes

    for name in ("knn_join", "knn_join_epoch"):
        fn = getattr(knn, name)
        setattr(knn, name, lambda *a, _fn=fn, **k: tracer.call("similarity.knn", _fn, *a, **k))

    read_union, write_tree = VersionedState.read_union, VersionedState.write_tree

    def counted_read(self, tree):
        latest, _, base = self.latest()
        tracer.count("streaming.maintenance", "versions_read", latest - base + 1)
        return read_union(self, tree)

    def counted_write(self, df, version, tree):
        write_tree(self, df, version, tree)
        tracer.count("streaming.maintenance", "mb_written", tree_bytes(self.tree_path(version, tree)) / 1e6)

    VersionedState.read_union, VersionedState.write_tree = counted_read, counted_write

    # rounds: materializations inside connected_components — at this
    # commit the symmetric edge list, the bootstrap labels, and one per
    # two-step propagation super-round
    frame = type(tracer.spark.range(0))
    checkpoint = frame.localCheckpoint

    def counted_checkpoint(self, *a, **k):
        if tracer.current_layer() == "operators.graph" and not tracer.materializing:
            tracer.count("operators.graph", "rounds", 1)
        return checkpoint(self, *a, **k)

    frame.localCheckpoint = counted_checkpoint


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--spawn", type=float, required=True)
    p.add_argument("--perturb", action="store_true")
    p.add_argument("--result", required=True)
    a = p.parse_args()

    from etl_aws_spark.session import get_session
    from spans import Span, Tracer, layer_metrics, read_event_log
    from workloads import WORKLOADS

    eventlog = os.path.join(a.work, "eventlog")
    conf = {}
    if a.trace:
        os.makedirs(eventlog, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + eventlog,
        }
    spark = get_session("perfbench", conf)
    tracer = Tracer(spark if a.trace else None)
    if a.trace:
        session = Span("bench-session", "session", "get_session", None, a.spawn)
        tracer.spans.append(session)
        spark.sparkContext.setJobGroup(session.sid, "session:trivial")
    spark.sparkContext.parallelize(range(1000), 1).count()
    ready = time.time()
    if a.trace:
        session.end = ready
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    with open(os.path.join(a.inputs, "_COMPLETE")) as f:
        manifest = json.load(f)
    wl = WORKLOADS[a.workload](spark, Tracer(None), a.inputs, manifest, os.path.join(a.work, "run"), a.seed)
    wl.perturb = a.perturb
    ops = Ops()
    rec = {k: [] for k in ("job_s", "search_s", "freshness_s", "increments", "written_bytes", "input_bytes")}

    wl.reset()
    _, cold = ops.run(wl.job)
    if a.trace:
        # a traced iteration between two untraced ones: the traced one
        # gives the per-layer numbers, its wall minus the mean of the
        # untraced walls is the tracing overhead (the mean cancels the
        # warm-up the later iterations enjoy)
        untraced = iteration(wl, ops, rec, TRACED_SEARCHES)
        patch_nested(tracer)
        wl.t = tracer
        traced = iteration(wl, ops, rec, TRACED_SEARCHES)
        ops.run(wl.trace_counts, count=False)
        tracer.enabled = False
        untraced = (untraced + iteration(wl, ops, rec, TRACED_SEARCHES)) / 2
    else:
        start = time.perf_counter()
        warmup = wl.warmup_searches
        while True:
            last = iteration(wl, ops, rec, wl.searches_per_iter, warmup)
            warmup = 0
            # start another iteration only if it fits in the measured time
            if time.perf_counter() - start + last > a.seconds:
                break

    measured_end = time.time()
    observed, searches = {}, []
    try:
        observed = wl.observe()
        searches = wl.search_digests()
    except Exception:
        traceback.print_exc()
    peak = peak_rss_mb()
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    pyspark_version = spark.version
    observe_end = time.time()
    spark.stop()

    result = {
        "java": java,
        "pyspark": pyspark_version,
        "ready_wall": ready,
        "cold_job_s": cold,
        "rows": wl.input_rows(),
        "attempted": ops.attempted,
        "raised": ops.raised,
        "jobs": len(rec["job_s"]) + 1,  # the cold job too
        "observed": observed,
        "searches": searches,
        "peak_rss_mb": peak,
        # wall clock of the run's phases, for reading where a run's time goes
        "phase_s": {
            "measured": measured_end - ready,
            "observe": observe_end - measured_end,
            "stop": time.time() - observe_end,
        },
        **rec,
    }
    if a.trace:
        jobs, stages = read_event_log(eventlog)
        layers = layer_metrics(tracer.spans, jobs, stages)
        layers["trace.overhead_s"] = traced - untraced
        result["layers"] = layers
        spans_path = os.path.join(a.work, "spans.json")
        tracer.dump(spans_path)
        print(f"spans written to {spans_path}", file=sys.stderr)
    with open(a.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
