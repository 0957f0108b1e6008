"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The end-to-end cases start Spark and take about a minute per workload.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
from checks import canon, same  # noqa: E402
from spans import Tracer, layer_metrics  # noqa: E402
from workloads import WORKLOADS, Refresh  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SMALL = gen.Scale(customers=60, events=300)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_generator_is_seeded(tmp_path):
    a = gen.write(SMALL, 7, str(tmp_path / "a"))
    b = gen.write(SMALL, 7, str(tmp_path / "b"))
    c = gen.write(SMALL, 8, str(tmp_path / "c"))
    assert a == b
    assert a != c
    counts = gen.row_counts(str(tmp_path / "a"))
    assert counts == gen.row_counts(str(tmp_path / "c"))
    assert counts["customer"] == 60 and counts["orders"] == 600 and counts["events"] == 300


def test_metric_names_are_well_formed():
    layer = layer_metrics(Tracer(), 1, [])
    names = [*run.END_TO_END, *layer, "peak_rss_mb", "trace_overhead_s"]
    spec = _spec()
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    bad = [n for n in names if not NAME.match(n)]
    assert not bad, bad


def test_spec_matches_the_metrics_the_run_prints():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    layer = [*layer_metrics(Tracer(), 1, []), "peak_rss_mb", "trace_overhead_s"]
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: run.unit_of(n) for n in layer}
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


def test_injected_mismatch_counts_as_failed(tmp_path):
    w = Refresh(str(tmp_path), str(tmp_path))
    want = canon(pd.DataFrame({"customer_id": [1, 2], "rank": [1, 1], "score": [0.5, 0.25]}))
    wrong = want.copy()
    wrong.loc[1, "score"] = 0.75
    w.check("match", lambda: same(canon(want), want))
    w.check("mismatch", lambda: same(canon(wrong), want))
    w.check("raises", lambda: 1 / 0)
    assert (w.attempted, w.failed) == (3, 2)


def test_without_the_engine_the_run_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "refresh", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_run_prints_every_end_to_end_metric(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
