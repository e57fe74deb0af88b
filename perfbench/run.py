"""Seeded batch benchmark of the etl_aws_spark engine.

    python3 perfbench/run.py --workload lake_release --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` (cached per seed and
   size under ``.bench_data/``) and the expected outputs from the
   registry's DuckDB oracles (cached beside them), outside all timing;
2. wipes ``.bench_work/<workload>/`` and starts ``worker.py`` in a fresh
   process, which opens one ``local[$SPARK_GRAFT_CPUS]`` session, runs
   the cold job, then measured iterations (warm job, closed search loop,
   increments) for about ``--seconds``;
3. compares every output with the oracle, and prints a summary and, as
   the last line, one JSON object: ``correct``, ``attempted``, ``failed``
   and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
   per-layer metrics (spans keyed to Spark's stage/task metrics) with
   ``--trace 1``.

See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 165  # the whole run must end within 180 s
DRIVER_MEM = "1g"


def spark_cpus() -> str:
    """Task threads of the session: half the cores unless
    ``SPARK_GRAFT_CPUS`` says otherwise. The other half stays free for the
    JVM's compiler and GC threads, the Python driver and the OS; with a
    task thread on every core, a shared host's CPU steal set the timings
    (runs of the same code spread 0.25-0.37 around their median)."""
    return os.environ.get("SPARK_GRAFT_CPUS", str(max(1, (os.cpu_count() or 2) // 2)))

E2E_UNITS = {
    "setup_s": "s",
    "cold_job_s": "s",
    "rows_per_s": "1/s",
    "search_p50_s": "s",
    "search_tail_s": "s",
    "freshness_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest order statistic with at least ten samples beyond it —
    or a quarter of the samples, when there are fewer than forty — and
    its percentile."""
    xs = sorted(samples)
    i = len(xs) - 1 - min(10, len(xs) // 4)
    return xs[i], 100.0 * (i + 1) / len(xs)


def environment(raw: dict) -> dict:
    commit = "unknown"  # an exported checkout carries no .git
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": spark_cpus(),
        "java": raw["java"],
        "pyspark": raw["pyspark"],
        "python": platform.python_version(),
        "commit": commit,
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _group_alive(pgid: int) -> bool:
    """Whether any non-zombie process is left in process group ``pgid``."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_worker(args, inputs: str, work: str) -> dict:
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = spark_cpus()
    # a fixed driver heap: with the engine's 8 GB default, G1 grows the
    # heap by its GC-time ratio, so peak RSS followed host speed
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    env.update(
        {
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # keep the JVM's temp files (and no hsperfdata) inside the checkout
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--inputs", inputs, "--work", work,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result,
    ]
    if args.perturb:
        cmd.append("--perturb")
    spawn = time.time()
    ticks = cpu_ticks()
    proc = subprocess.Popen(
        cmd + ["--spawn", repr(spawn)], cwd=work, env=env,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        # the worker's process group holds its JVM: stop whatever is left
        # and wait until it has ended
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        deadline = time.time() + 10
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
    if code != 0 or not os.path.exists(result):
        raise RuntimeError(f"worker failed (exit {code})")
    with open(result) as f:
        out = json.load(f)
    out["spawn_wall"] = spawn
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    out["steal_share"] = steal / max(total, 1)
    return out


def score(raw: dict, expected: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): a raised operation fails; a wrong
    search result fails that search; a wrong final output fails every
    job and increment that produced it."""
    problems = []
    failed = raw["raised"]
    for key, want in expected.items():
        if key == "search":
            continue
        got = raw["observed"].get(key)
        if got != want:
            problems.append(f"output {key}: got {got} want {want}")
    if problems:
        failed += raw["jobs"] + sum(raw["increments"])
    for k, got in raw["searches"]:
        want = expected["search"].get(k, "0:0000000000000000")
        if got != want:
            failed += 1
            problems.append(f"search {k}: got {got} want {want}")
    return raw["attempted"], min(failed, raw["attempted"]), problems


def e2e_metrics(raw: dict) -> tuple[dict, dict]:
    p50 = statistics.median(raw["search_s"])
    tail_s, tail_pct = tail(raw["search_s"])
    warm = statistics.median(raw["job_s"])
    written = sum(raw["written_bytes"]) / max(sum(raw["input_bytes"]), 1)
    values = {
        "setup_s": raw["ready_wall"] - raw["spawn_wall"],
        "cold_job_s": raw["cold_job_s"],
        "rows_per_s": raw["rows"] / warm,
        "search_p50_s": p50,
        "search_tail_s": tail_s,
        "freshness_s": statistics.median(raw["freshness_s"]),
        "peak_rss_mb": raw["peak_rss_mb"],
        "write_amp": written,
    }
    notes = {
        "phase_s": raw["phase_s"],
        "search_samples": len(raw["search_s"]),
        "search_tail_percentile": round(tail_pct, 1),
        "warm_jobs": len(raw["job_s"]),
        # share of the machine's CPU time stolen by the hypervisor (runnable
        # but not running) while the worker ran: how contended the host was
        "steal_share": round(raw["steal_share"], 4),
        "freshness_samples": len(raw["freshness_s"]),
    }
    return values, notes


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    p.add_argument("--perturb", action="store_true", help="fault injection: corrupt every observed output")
    args = p.parse_args()
    # a terminated run still stops its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "etl_aws_spark")):
        print(f"no etl_aws_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen
    import oracle
    import spans

    if args.workload not in gen.SIZES:
        print(f"unknown workload {args.workload!r}; known: {sorted(gen.SIZES)}", file=sys.stderr)
        return 2

    t0 = time.time()
    inputs, manifest = gen.ensure_inputs(os.path.join(ROOT, ".bench_data"), args.workload, args.seed, args.size)
    expected = oracle.expected(args.workload, inputs)
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    raw = run_worker(args, inputs, work)
    raw["phase_s"]["inputs_and_oracle"] = raw["spawn_wall"] - t0
    raw["phase_s"]["worker_exit"] = time.time() - raw["spawn_wall"]
    attempted, failed, problems = score(raw, expected)
    for line in problems:
        print("CHECK FAILED:", line, file=sys.stderr)

    e2e, notes = e2e_metrics(raw)
    if args.trace:
        names = spans.per_layer_names()
        metrics = {n: {"value": float(raw["layers"].get(n, 0.0)), "unit": u} for n, u in names.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E_UNITS.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "trace": args.trace,
        "environment": environment(raw), "inputs": manifest,
        "fail_ratio": failed / attempted, "e2e": e2e, "notes": notes, "metrics": metrics,
    }
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"# {args.workload} seed={args.seed} size={args.size} env={json.dumps(record['environment'])}")
    print(f"# host steal while the worker ran: {notes['steal_share']:.1%}")
    if args.trace:
        print(f"per-layer metrics: {len(metrics)}; spans in {os.path.join(work, 'spans.json')}")
    else:
        for n, u in E2E_UNITS.items():
            extra = f"  (p{notes['search_tail_percentile']} of {notes['search_samples']})" if n == "search_tail_s" else ""
            print(f"{n:>14} = {e2e[n]:.6g} {u}{extra}")
    print(f"{'fail_ratio':>14} = {failed / attempted:.6g} ratio  ({failed} of {attempted} operations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
