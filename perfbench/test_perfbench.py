"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs each workload on sf0.001-sized inputs: every metric BENCHMARK.json
names must be reported with its unit, every output check must pass, and
the job counts must repeat exactly (and the byte counters to within
compression noise) across two traced runs at one seed.
Each run starts its own Spark session, so the test takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# pack_bulk's 10,000 base orders x 0.0375 = 375, x4 replicas = the 1,500
# orders of sf0.001.
SCALE = "0.0375"
JOB_COUNTS = ("eager_jobs", "jobs")
# Byte counters repeat up to compression noise: rows read back from a
# shuffle arrive in no fixed order, so downstream blocks compress a few
# bytes differently from run to run.
BYTE_COUNTS = ("shuffle_mb", "spill_mb", "write_mb")


def _run(workload: str, trace: int, seed: int = 7) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", SCALE,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stdout
    assert result["attempted"] >= 1
    return result["metrics"]


def _units(metrics: dict) -> dict:
    return {name: m["unit"] for name, m in metrics.items()}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_reported(workload):
    metrics = _run(workload, trace=0)
    assert _units(metrics) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in metrics.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_layer_metrics_reported_and_counts_repeat(workload):
    first, second = _run(workload, trace=1), _run(workload, trace=1)
    assert _units(first) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for name, m in first.items():
        metric = name.rsplit(".", 1)[-1]
        if metric in JOB_COUNTS:
            assert m["value"] == second[name]["value"], name
        elif metric in BYTE_COUNTS:
            assert m["value"] == pytest.approx(second[name]["value"], rel=0.01, abs=1e-3), name


def test_inputs_repeat_at_one_seed(tmp_path):
    a = inputs.write_tpch(str(tmp_path / "a"), 3, 200, replicas=4)
    b = inputs.write_tpch(str(tmp_path / "b"), 3, 200, replicas=4)
    assert a == b
    for name in ("orders", "lineitem"):
        with open(tmp_path / "a" / f"{name}.parquet", "rb") as fa, open(
            tmp_path / "b" / f"{name}.parquet", "rb"
        ) as fb:
            assert fa.read() == fb.read(), name
    assert inputs.write_tpch(str(tmp_path / "c"), 4, 200, replicas=4) != a


def test_exact_topk_matches_cosine_topk(tmp_path):
    """The recall check's NumPy ground truth ranks like ``cosine_topk``."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from polars_nexpresso_spark.functions.similarity import cosine_topk
    from polars_nexpresso_spark.session import get_spark

    vecs, labels = inputs.make_embeddings(5, 300)
    path = inputs.write_embeddings(str(tmp_path), vecs, labels)
    spark = get_spark(
        app_name="perfbench-test",
        extra_conf={"spark.driver.memory": "1g", "spark.local.dir": str(tmp_path)},
    )
    emb = spark.read.parquet(path)
    ids = [3, 77, 150, 299]
    try:
        rows = cosine_topk(emb, emb.filter(emb["vec_id"].isin(ids)), k=5).collect()
    finally:
        spark.stop()
    got = {q: {r["neighbor_id"] for r in rows if r["query_id"] == q} for q in ids}
    truth = inputs.exact_topk(vecs, np.array(ids), 5)
    assert [got[q] for q in ids] == truth
