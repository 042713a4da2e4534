"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The end-to-end tests start the benchmark as a subprocess at ``--scale
tiny``; each takes well under a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness as H, run, workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


# --- no Spark ----------------------------------------------------------------


def test_scaling_levels_come_from_the_mask():
    assert H.scaling_levels([0, 1, 2, 3]) == (1, 4)
    assert H.scaling_levels(list(range(6))) == (1, 4)
    assert H.scaling_levels(list(range(8))) == (2, 8)
    with pytest.raises(RuntimeError):
        H.scaling_levels([0, 1, 2])


def test_parse_metric_reads_spark_display_strings():
    assert H.parse_metric("100,000") == 100_000
    assert H.parse_metric("1.5 KiB") == 1536
    assert H.parse_metric("total (min, med, max (stageId: taskId))\n2.0 s (0.1 s, 0.5 s, "
                          "1.0 s (stage 1.0: task 3))") == 2.0
    assert H.parse_metric("") is None


def test_spec_matches_the_runner():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(W.WORKLOADS)


def test_frame_diff_reports_a_dropped_row():
    want = pd.DataFrame({"k": [1, 2, 3], "n": [5, 6, 7]})
    assert W.frame_diff(want.iloc[::-1], want, "k") == []
    assert W.frame_diff(want.iloc[1:], want, "k")
    assert W.frame_diff(want.assign(n=[5, 6, 8]), want, "k")


# --- end to end (tiny) --------------------------------------------------------


def test_tiny_run_prints_every_end_to_end_metric():
    rc, result, err = bench("--workload", "pip_join", "--seed", "3", "--trace", "0")
    assert rc == 0, err[-3000:]
    assert result["correct"] and result["failed"] == 0, err[-3000:]
    assert result["attempted"] >= 1
    assert units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_tiny_traced_run_prints_every_per_layer_metric():
    rc, result, err = bench("--workload", "tile_mosaic", "--seed", "3", "--trace", "1")
    assert rc == 0, err[-3000:]
    assert result["correct"] and result["failed"] == 0, err[-3000:]
    assert units(result) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # the guest skew_ckpt job filled the shuffle-join and checkpoint layers
    assert m["raster.py_sent_bytes"] > 0 and m["join.shuffle_bytes"] > 0
    assert 0 < m["raster.shell_s"] < m["raster.assign_s"] + m["raster.merge_s"]
    assert m["plans.parts_missing"] >= 2
    assert m["plans.parts_rerun"] == m["plans.parts_missing"]
    trace = os.path.join(ROOT, ".perfbench_work", "traces", "tile_mosaic-seed3.json")
    with open(trace) as fh:
        spans = json.load(fh)
    assert {"name", "start", "end", "parent"} <= set(spans[0])


def test_dropped_row_is_reported_as_a_failure():
    rc, result, err = bench("--workload", "pip_join", "--seed", "4", "--trace", "0",
                            "--drop-row")
    assert rc == 0, err[-3000:]
    assert not result["correct"]
    assert result["failed"] == result["attempted"]
    assert "CHECK pip_join" in err


def test_refuses_a_checkout_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, result, _ = bench("--workload", "pip_join", "--seed", "1", "--trace", "0",
                          cwd=str(tmp_path))
    assert rc != 0 and result is None
