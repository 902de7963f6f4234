"""Smoke test of the benchmark at tiny input sizes (a few minutes: three
Spark sessions).

    python3 -m pytest -q perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = ["--seed", "3", "--seconds", "1", "--scale", "0.05"]
#: metrics each workload's report line must name, with unit and sample count
REPORTED = {
    "batch_fanout": ["turns_per_s", "sink_read_s", "sink_files"],
    "stream_drain": ["turns_per_s", "microbatch_p50_s", "microbatch_tail_s", "sink_read_s", "sink_files"],
    "query_mix": ["query_total_s", "query_geomean_s", "query_p50_s", "query_p75_s"],
}
COMMON = list(run.END_TO_END) + ["op_geomean_s", "failed_frac"]


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[dict]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return proc.returncode, lines


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)


def test_untraced_run_prints_every_metric_with_unit():
    code, lines = bench("--workload", "all", "--trace", "0", *TINY)
    assert code == 0
    *reports, result = lines
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    for rep in reports:
        for name in COMMON + REPORTED[rep["workload"]]:
            m = rep["report"][name]
            assert m["unit"] and m["n"] >= 1 and m["value"] is not None, name
        assert rep["report"]["failed_frac"]["value"] == 0
        assert {"nproc", "loadavg", "loadavg_end", "java_procs", "other_jvm_at_start"} <= set(rep["machine"])
        for name in run.END_TO_END:
            m = result["metrics"][f"{rep['workload']}:{name}"]
            assert isinstance(m["value"], (int, float)) and m["value"] > 0 and m["unit"], name


def test_traced_run_prints_every_layer_and_writes_the_trace():
    code, lines = bench("--workload", "all", "--trace", "1", *TINY)
    assert code == 0
    *reports, result = lines
    for rep in reports:
        w = rep["workload"]
        for name in run.PER_LAYER:
            m = result["metrics"][f"{w}:{name}"]
            assert isinstance(m["value"], (int, float)) and m["unit"], name
        specific = [n for n, (_, target) in run.LAYERS.items()
                    if n not in run.PER_LAYER and target == w and "<" not in n]
        assert set(specific) <= set(rep["layers"]), w
        with open(os.path.join(ROOT, rep["trace_file"])) as f:
            trace = json.load(f)
        spans = trace["spans"]
        assert spans and all({"name", "start", "end", "parent", "op", "self_s"} <= set(s) for s in spans)
    assert any(n.startswith("query.") and n.endswith(".s") for n in reports[2]["layers"])


def test_corrupted_expectation_raises_failed_frac():
    code, lines = bench("--workload", "all", "--trace", "0", "--corrupt", *TINY)
    assert code == 1
    *reports, result = lines
    assert [r["workload"] for r in reports] == list(run.WORKLOAD_NAMES)
    assert all(r["report"]["failed_frac"]["value"] > 0 for r in reports)
    assert not result["correct"] and result["failed"] > 0


def test_refuses_to_run_without_the_pipeline_sources():
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = bench("--workload", "batch_fanout", "--trace", "0", *TINY, cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert code != 0 and lines == []


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
