"""Tests of the benchmark itself, on a tiny corpus (500 documents).

    python -m pytest perfbench -q
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
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from rasters_jl_spark.functions.geometry import (  # noqa: E402
    FUSE_EDGE_STRUCTS_MAX,
    _cover_cell_count,
)
from rasters_jl_spark.grid import COVER_RES, WebGrid  # noqa: E402

import bench  # noqa: E402
import inputs  # noqa: E402
import reference as R  # noqa: E402
import run  # noqa: E402

TINY = ["--docs", "500", "--expand", "20", "--seconds", "1"]


def _bench(workload: str, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--trace", str(trace), *TINY],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines


@pytest.mark.parametrize("workload,trace", [("suite_mix", 0), ("star_pip", 1)])
def test_tiny_pass_reports_every_metric_with_its_unit(workload, trace):
    code, lines = _bench(workload, trace)
    assert code == 0, lines[-3:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    expected = run.per_layer_units() if trace else run.E2E_UNITS
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected
    info = json.loads(lines[0])["info"]
    assert info["workload"] == workload and info["seed"] == 5
    if trace:
        # star_pip crosses the fused-cover bound: two-join path
        assert result["metrics"]["geometry.fused"]["value"] == 0


def test_star_pip_crosses_the_fused_cover_bound_and_suite_mix_does_not():
    g = WebGrid(COVER_RES)

    def structs(polys):
        return _cover_cell_count(polys, g) * max(len(p.edges) for p in polys)

    assert structs(inputs.workload_polygons("suite_mix", 1)) * run.N_SALT <= FUSE_EDGE_STRUCTS_MAX
    for seed in range(50):
        assert structs(inputs.star_polygons(seed)) > FUSE_EDGE_STRUCTS_MAX
    assert inputs.star_polygons(3) == inputs.star_polygons(3) != inputs.star_polygons(4)


def _as_zonal_rows(expected):
    return [
        {"geom_id": g, "n_pages": n, "sum_val": s, "min_val": mn, "max_val": mx, "mean_val": m}
        for g, (n, s, mn, mx, m) in expected.items()
    ]


def test_corrupted_reference_makes_each_check_fail():
    docs = inputs.documents(5, 500)
    ref = R.Reference(
        docs, 20, bench.REP_STRIDE, inputs.workload_polygons("suite_mix", 5), inputs.knn_query_ids(5)
    )
    try:
        zonal_rows = _as_zonal_rows(ref.zonal)
        knn_rows = [
            {"q_id": q, "rank": r, "doc_id": d, "dist2": d2} for (q, r), (d, d2) in ref.knn.items()
        ]
        rollup_rows = [(t, n, s) for t, (n, s) in ref.rollup.items()]
        dedup_rows = [{"doc_a": a, "doc_b": b, "jaccard": j} for (a, b), j in ref.dedup.items()]
        assert R.check_zonal(zonal_rows, ref.zonal) is None
        assert R.check_count(ref.join_rows, ref.join_rows) is None
        assert R.check_knn(knn_rows, ref.knn) is None
        assert R.check_rollup(rollup_rows, ref.rollup) is None
        assert R.check_dedup(dedup_rows, ref.dedup) is None

        g = next(g for g, v in ref.zonal.items() if v[0] > 0)
        bad_zonal = dict(ref.zonal)
        n, s, mn, mx, m = bad_zonal[g]
        bad_zonal[g] = (n, s + 1, mn, mx, m)
        assert R.check_zonal(zonal_rows, bad_zonal) is not None
        assert R.check_count(ref.join_rows, ref.join_rows + 1) is not None
        key = next(iter(ref.knn))
        bad_knn = dict(ref.knn)
        bad_knn[key] = (bad_knn[key][0] + 1, bad_knn[key][1])
        assert R.check_knn(knn_rows, bad_knn) is not None
        t = next(iter(ref.rollup))
        bad_rollup = dict(ref.rollup)
        bad_rollup[t] = (ref.rollup[t][0] + 1, ref.rollup[t][1])
        assert R.check_rollup(rollup_rows, bad_rollup) is not None
        bad_dedup = dict(ref.dedup)
        bad_dedup.popitem()
        assert R.check_dedup(dedup_rows, bad_dedup) is not None
    finally:
        ref.close()


def test_inputs_repeat_for_a_seed():
    assert inputs.documents(9, 50) == inputs.documents(9, 50)
    assert inputs.documents(9, 50) != inputs.documents(10, 50)
    assert inputs.knn_query_ids(9) == inputs.knn_query_ids(9)


def test_fails_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: no result, non-zero."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _bench("suite_mix", 0, cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)
