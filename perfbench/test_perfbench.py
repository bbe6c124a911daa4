"""Tests of the benchmark itself, at tiny dims (about 40 s a run):

    python -m pytest perfbench/test_perfbench.py -q

Each workload runs untraced and traced.  The untraced run must print
every end-to-end metric with its unit and pass its output checks; the
traced run must print every per-layer metric and attribute the Spark
stages of its jobs to spans, reporting what it could not attribute.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, TABLE_ONLY  # noqa: E402

WORKLOADS = ("wrf-push", "wrf-serve", "llm-dedup")


def bench(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_metric_and_passes_checks(workload):
    result, stdout = bench(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    table = {ln.split()[1]: ln.split() for ln in stdout.splitlines()
             if ln.startswith(workload + " ")}
    for name, unit in {**END_TO_END, **TABLE_ONLY}.items():
        assert table[name][3] == unit
    assert float(table["failed_frac"][2]) == 0.0
    if workload != "llm-dedup":
        assert float(table["store_mb"][2]) > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_attributes_stages_to_spans(workload):
    result, _ = bench(workload, trace=1)
    assert result["correct"] is True
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    assert m["spark.jobs"] > 0 and m["spark.stages"] > 0
    assert m["spark.tasks"] >= m["spark.stages"]
    # set-up, jobs, probes and checks all run in spans: every stage of
    # the run is attributed to one
    assert m["trace.unattributed_stages"] == 0
    if workload == "wrf-push":
        assert m["sources.netcdf.decode_passes"] >= 1
        # 2 systems x 6 x 5 cells x 30 steps per decode pass
        assert m["sources.netcdf.cells_decoded"] == \
            1800 * m["sources.netcdf.decode_passes"]
        assert m["plans.wrf_push.rows_out"] == 2 * 30 * 29
        assert m["sinks.upsert.rewrite_ratio"] > 1
        assert m["sinks.upsert.jobs"] > 0
    elif workload == "wrf-serve":
        assert m["plans.bucketed_lake.read_amplification"] > 1
        assert m["plans.bucketed_lake.exchanges"] == 0
        assert m["sinks.rfield_files.files"] > 0
        assert m["plans.hybrid.rows_out"] > 0
    else:
        assert all(m[f"queries.{r}.wall_s"] > 0 for r in (
            "llm_cosine_topk_neardup", "llm_exact_dedup_fingerprint"))
