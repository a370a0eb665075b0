"""Smoke test of the benchmark itself, at the tiny (sf0.001-sized) scale.

    python3 -m pytest perfbench/test_smoke.py -q

It checks that every metric BENCHMARK.json names is emitted with its
unit, that the traced run shows work in each layer its workload
exercises, and that a corrupted crawl result is counted as a failed
operation rather than passing silently.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

sys.path[:0] = [HERE, ROOT]
from workloads import HEADLINE  # noqa: E402

# per-layer metrics that must show work on each workload at tiny scale
BUSY = {
    "crawl-durable": [
        "crawl.rounds", "crawl.jobs_per_round", "crawl.codegen_compiles",
        "fetch.s", "fetch.rows", "verify.rows", "verify.python_mb", "extract.s",
        "extract.hrefs", "order.s", "order.candidates", "seen.size",
        "seen.rounds.disk", "seen.filter_build_s", "schedule.s", "robots.s",
        "catalog.commit_s", "catalog.compact_s", "catalog.restore_s",
        "catalog.files", "output.s", "output.rows", "setup.session_s"],
    "queries": ["query.jobs", "setup.warmup_s", *[f"query.{leaf}_s" for leaf in HEADLINE]],
}


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.splitlines()[-1])


def _units(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_are_emitted(workload):
    r = _run(workload, 0)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert _units(r) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_each_layer(workload):
    r = _run(workload, 1)
    assert r["correct"]
    assert _units(r) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    idle = [k for k in BUSY[workload] if not r["metrics"][k]["value"] > 0]
    assert not idle, f"{workload}: no work seen in {idle}"


def test_corrupted_result_counts_as_failure(monkeypatch, capsys):
    from pyspark.sql import functions as F

    import run
    from urlmap_spark.plans import crawl as crawl_mod

    real = crawl_mod.crawl

    def lossy(*args, **kwargs):
        out = real(*args, **kwargs)
        out.results = out.results.filter(F.col("order") != 0)  # lose one fetched URL
        return out

    monkeypatch.setattr(crawl_mod, "crawl", lossy)
    assert run.main(["--workload", "crawl-durable", "--seed", "1", "--seconds", "1",
                     "--scale", "tiny"]) == 0
    result = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert not result["correct"]
    assert result["failed"] / result["attempted"] > 0
