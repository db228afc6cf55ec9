"""The benchmark's own tests: metric-name grammar, BENCHMARK.json against
the registry, seeded inputs, and a tiny-size smoke run of every workload
in both modes.

    python -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each on four cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from metrics import BOUNDS, END_TO_END, MOVES, NAME_RE, PER_LAYER, UNIT_RE  # noqa: E402
from workloads import WORKLOADS, ensure_input  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_name_grammar():
    names = [r[0] for r in END_TO_END + PER_LAYER]
    assert len(names) == len(set(names))
    for name, unit, *_ in END_TO_END + PER_LAYER:
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), unit
    for row in END_TO_END + PER_LAYER:
        better = row[2] if row in END_TO_END else row[3]
        assert better in ("lower", "higher"), row
    assert {r[2] for r in PER_LAYER} <= set(MOVES)


def test_benchmark_json_mirrors_registry():
    b = _bench_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert b["command"][0] == "python3" and b["command"][1].startswith("perfbench/")
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert b["end_to_end"] == [
        {"name": n, "unit": u, "better": bt, "bound": BOUNDS[n]} for n, u, bt, _ in END_TO_END
    ]
    assert b["per_layer"] == [{"name": n, "unit": u, "better": bt} for n, u, _, bt in PER_LAYER]
    bounds = [m["bound"] for m in b["end_to_end"]]
    assert all(0 < x <= 0.25 for x in bounds)
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup == {"name": "setup_s", "unit": "s", "better": "lower", "bound": max(bounds)}
    assert len(json.dumps(b)) <= 64 * 1024


@pytest.mark.parametrize("workload", WORKLOADS)
def test_inputs_are_seeded_and_multi_split(tmp_path, workload):
    import pyarrow.parquet as pq

    def digest(root: str) -> dict:
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
        return out

    a = ensure_input(str(tmp_path / "a"), workload, 7, "tiny")
    b = ensure_input(str(tmp_path / "b"), workload, 7, "tiny")
    c = ensure_input(str(tmp_path / "c"), workload, 8, "tiny")
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)
    parts = [p for p in digest(a) if p.endswith(".parquet")]
    assert len(parts) >= 4
    assert all(pq.ParquetFile(os.path.join(a, p)).num_row_groups > 1 for p in parts)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace,
             "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2
    listed = END_TO_END if trace == "0" else PER_LAYER
    assert set(result["metrics"]) == {r[0] for r in listed}
    for name, unit, *_ in listed:
        value = result["metrics"][name]
        assert value["unit"] == unit
        assert isinstance(value["value"], (int, float)) and value["value"] == value["value"]
    if trace == "0":
        for name in ("setup_s", "cold_s", "warm_s", "peak_rss_mb"):
            assert result["metrics"][name]["value"] > 0
        return
    m = {k: v["value"] for k, v in result["metrics"].items()}
    diag = json.loads(p.stdout.splitlines()[-2][len("diagnostics "):])
    with open(os.path.join(ROOT, diag["span_file"])) as fh:
        spans = json.load(fh)
    assert {"replay", "signatures", "lsh"} <= {s["name"] for s in spans["spans"]}
    assert spans["overhead_s"] == m["trace.overhead_s"]
    if workload == "boilerplate_skew":
        assert m["lsh.hot_buckets"] > 0
        assert m["score_pairs.pass_rate"] < 1
    if workload == "crawl_dedup":
        assert m["lsh.hot_buckets"] == 0


def test_refuses_a_directory_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "crawl_dedup", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
