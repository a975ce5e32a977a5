"""Self-tests of the lake benchmark.

    python3 -m pytest perfbench/test_perfbench.py

The arithmetic tests need no JVM.  The smoke test starts one Spark session
and runs every workload at a tiny size twice: as is, where nothing may fail,
and with every expected value skewed, where ``failed_frac`` must be above 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import benchmetrics as M  # noqa: E402


def test_gmean():
    assert M.gmean([2.0, 8.0]) == pytest.approx(4.0)
    assert M.gmean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        M.gmean([1.0, 0.0])
    with pytest.raises(ValueError):
        M.gmean([])


def test_op_p50_gmean_is_gmean_of_per_type_medians():
    lat = {"a": [1.0, 9.0, 2.0], "b": [8.0, 8.0]}
    assert M.op_p50_gmean(lat) == pytest.approx((2.0 * 8.0) ** 0.5)


def test_tail_needs_ten_samples_beyond():
    assert M.tail([1.0] * 19) is None
    p, v = M.tail([float(i) for i in range(1, 21)])
    assert (p, v) == (50.0, 10.0)
    p, v = M.tail([float(i) for i in range(1, 101)])
    assert (p, v) == (90.0, 90.0)
    p, _ = M.tail([1.0] * 1000)
    assert p == 99.0


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert M.percentile(vals, 50) == 3.0
    assert M.percentile(vals, 100) == 5.0
    assert M.percentile(vals, 1) == 1.0


def test_failed_frac():
    assert M.failed_frac(0, 10) == 0.0
    assert M.failed_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        M.failed_frac(0, 0)


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    import statistics
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert M.quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_steal_pct():
    assert M.steal_pct((10, 1000), (30, 2000)) == pytest.approx(2.0)
    assert M.steal_pct((10, 1000), (10, 1000)) == 0.0
    steal, total = M.cpu_jiffies()
    assert 0 <= steal <= total


def test_bytes_created_counts_only_new_files(tmp_path):
    (tmp_path / "old").write_bytes(b"x" * 10)
    before = M.tree_files([str(tmp_path)])
    (tmp_path / "new").write_bytes(b"y" * 7)
    (tmp_path / "old").write_bytes(b"x" * 12)
    assert M.bytes_created(before, M.tree_files([str(tmp_path)])) == 7


def test_exits_nonzero_without_the_package(tmp_path):
    """A checkout holding only BENCHMARK.json and the benchmark must fail
    without printing a result."""
    bare = tmp_path / "bare"
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), bare)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.fixture(scope="module")
def session():
    import run
    root = os.path.join(run.REPO, ".perfbench_runs", f"selftest-{os.getpid()}")
    run.prepare_env(root)
    from datalake_ingestion_system_spark.session import get_spark
    spark = get_spark("perfbench-selftest")
    yield spark, root
    run.stop_jvm(spark)
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("workload", ["lake_query", "lake_write"])
def test_smoke_run_is_correct_and_corruption_is_counted(session, workload,
                                                        capsys):
    import run
    from workloads import WORKLOADS
    spark, root = session
    args = argparse.Namespace(workload=workload, seed=7, seconds=1, trace=1)
    clean = run.measure(spark, WORKLOADS[workload], args,
                        os.path.join(root, workload), 0.0, sys.stderr,
                        scale=0.05)
    assert clean["correct"] and clean["failed"] == 0
    assert clean["attempted"] >= len(WORKLOADS[workload].OP_TYPES)
    metrics = clean["metrics"]
    assert "spark.gc_ms_per_op" in metrics
    assert all(isinstance(v["value"], float) for v in metrics.values())
    # the traced run measures every op type, its own and the others'
    assert all(v["value"] > 0 for k, v in metrics.items()
               if k.endswith(".call_s"))
    bad = run.measure(spark, WORKLOADS[workload], args,
                      os.path.join(root, workload + "-corrupt"), 0.0,
                      sys.stderr, corrupt=True, scale=0.05)
    assert bad["failed"] > 0 and not bad["correct"]
    out = capsys.readouterr().out
    frac = [line.split()[1] for line in out.splitlines()
            if line.strip().startswith("failed_frac")]
    assert float(frac[0]) == 0.0 and float(frac[1]) > 0.0
    # the result object is what the last stdout line carries
    json.dumps(bad)


def test_per_layer_names_match_benchmark_json():
    """Every traced run reports exactly the per_layer names declared."""
    import run
    import tracing
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    names = set(tracing.layer_table([], run.all_op_types()))
    names.add("spark.gc_ms_per_op")
    assert names == declared
