"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

- ``BENCHMARK.json`` keeps within the limits the file format allows;
- a small-size (``--smoke``) run of every workload prints every metric
  with its unit, untraced and traced, and verifies its outputs;
- counts (shards, flushes, job and task counts, byte ratios) repeat
  exactly across two traced runs with the same seed;
- outside a checkout of the program the benchmark fails without
  printing a result.

Each smoke run starts its own Spark JVM, so the module takes a few
minutes.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from measure import percentile  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
#: Per-layer metrics that must repeat exactly: counts and byte ratios.
EXACT_UNITS = {"count"}
EXACT_NAMES = {
    "sink.stream_writer.bytes_in_mb",
    "sink.stream_writer.bytes_on_disk_mb",
    "sink.stream_writer.disk_bytes_ratio",
}


def _run(workload: str, trace: int, seed: int = 3, cwd: Path = ROOT) -> tuple[int, dict | None, str]:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--smoke"]
    out = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return out.returncode, result, out.stderr


def test_benchmark_json_is_well_formed():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["perfbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    assert 2 <= len(BENCH["workloads"]) <= 8
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"]) and len(w["why"]) <= 200
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(1, 21)), 50) == 10
    with pytest.raises(ValueError):
        percentile(list(range(1, 20)), 50)
    with pytest.raises(ValueError):
        percentile(list(range(1, 100)), 90)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_untraced_prints_every_end_to_end_metric(workload):
    code, result, err = _run(workload, 0)
    assert code == 0, err[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_traced_counts_repeat_exactly(workload):
    runs = []
    for _ in range(2):
        code, result, err = _run(workload, 1)
        assert code == 0, err[-3000:]
        assert result["correct"]
        assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
        runs.append(result["metrics"])
    exact = [k for k, unit in PER_LAYER.items() if unit in EXACT_UNITS or k in EXACT_NAMES]
    assert any(runs[0][k]["value"] for k in exact)
    assert {k: runs[0][k]["value"] for k in exact} == {k: runs[1][k]["value"] for k in exact}


def test_fails_without_the_program(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, result, _ = _run("sink", 0, cwd=tmp_path)
    assert code != 0 and result is None
