"""Self-tests of the benchmark (not part of the engine's pytest suite:
each check starts Spark sessions and takes about a minute).

    python3 perfbench/selftest.py            # every check
    python3 perfbench/selftest.py names      # one check: names | smoke | trace | fault | bare

- names: the metric names and units ``run.py`` prints are exactly those
  in ``BENCHMARK.json``;
- smoke: a toy-size run of each workload is correct and prints every
  end-to-end metric;
- trace: a toy-size traced run of each workload prints every per-layer
  metric, with non-zero work on the layers that workload calls;
- fault: a run whose observed outputs are perturbed reports failures;
- bare: in a directory holding only ``BENCHMARK.json`` and this
  directory, the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402

# layers each workload must show work on in a traced run
CALLED = {
    "lake_release": [
        "session", "sources.readers", "sources.writers", "plans.refined",
        "operators.aggregates", "ml.models", "text.curation", "text.dedup", "operators.graph",
    ],
    "vector_index": [
        "session", "sources.readers", "sources.writers", "similarity.pq",
        "similarity.knn", "streaming.maintenance",
    ],
}


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def invoke(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", *extra]
    out = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    try:
        return out.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return out.returncode, None


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)
    print("ok:", msg)


def test_names() -> None:
    b = bench()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    check(e2e == run.E2E_UNITS, "end-to-end names and units match BENCHMARK.json")
    layer = {m["name"]: m["unit"] for m in b["per_layer"]}
    check(layer == spans.per_layer_names(), "per-layer names and units match BENCHMARK.json")
    check([w["name"] for w in b["workloads"]] == sorted(CALLED), "workloads match BENCHMARK.json")


def test_smoke() -> None:
    names = {m["name"] for m in bench()["end_to_end"]}
    for w in CALLED:
        code, res = invoke(w, "--size", "toy", "--trace", "0")
        check(code == 0 and res is not None, f"{w}: toy run exits 0 with a result")
        check(res["correct"] and res["failed"] == 0, f"{w}: toy run is correct")
        check(set(res["metrics"]) == names, f"{w}: prints every end-to-end metric")
        check(all(v["value"] > 0 for v in res["metrics"].values()), f"{w}: no end-to-end metric is 0")


def test_trace() -> None:
    names = {m["name"] for m in bench()["per_layer"]}
    for w, layers in CALLED.items():
        code, res = invoke(w, "--size", "toy", "--trace", "1")
        check(code == 0 and res is not None and res["correct"], f"{w}: traced toy run is correct")
        check(set(res["metrics"]) == names, f"{w}: prints every per-layer metric")
        for layer in layers:
            check(res["metrics"][f"{layer}.wall_s"]["value"] > 0, f"{w}: {layer} has a span")
            check(res["metrics"][f"{layer}.jobs"]["value"] > 0, f"{w}: {layer} has Spark jobs")
        check(os.path.exists(os.path.join(ROOT, ".bench_work", w, "spans.json")), f"{w}: spans written out")


def test_fault() -> None:
    code, res = invoke("vector_index", "--size", "toy", "--trace", "0", "--perturb")
    check(code == 0 and res is not None, "perturbed run still reports")
    check(not res["correct"] and res["failed"] > 0, "perturbed outputs raise fail_ratio above 0")


def test_bare() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        code, res = invoke("vector_index", cwd=d)
        check(code != 0 and res is None, "bare directory: non-zero exit, no result")


TESTS = {"names": test_names, "smoke": test_smoke, "trace": test_trace, "fault": test_fault, "bare": test_bare}

if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    for name in sys.argv[1:] or list(TESTS):
        TESTS[name]()
    print("all self-tests passed")
