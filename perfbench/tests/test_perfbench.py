"""Tests of the benchmark's own machinery: counters, plan fingerprints,
seeded inputs and the correctness gate.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import run  # noqa: E402
import sparkstats  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    run._environment(2)
    from forex_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    return inputs.query_tables(str(tmp_path_factory.mktemp("q") / "tables"), 7)


def _query(spark, tables, name):
    from forex_data_pipeline_spark import catalog

    catalog._ensure_loaded()
    return catalog.REGISTRY[name].fn(spark, tables)


def _one_job(spark) -> None:
    # an RDD count is exactly one job (a DataFrame count under AQE runs
    # one job per query stage)
    spark.sparkContext.parallelize(range(10), 1).count()


def test_extra_count_adds_exactly_one_job(spark, tables):
    cur = sparkstats.Cursor(spark)
    _query(spark, tables, "pricing_summary").toPandas()
    base = sparkstats.total(cur.take())
    _query(spark, tables, "pricing_summary").toPandas()
    _one_job(spark)
    more = sparkstats.total(cur.take())
    assert base.jobs > 0
    assert more.jobs == base.jobs + 1


def test_same_query_twice_gives_same_plan_and_counts(spark, tables):
    cur = sparkstats.Cursor(spark)
    runs = []
    for _ in range(2):
        _query(spark, tables, "join_revenue_by_nation").toPandas()
        runs.append(sparkstats.total(cur.take()))
    a, b = runs
    assert a.plan_hashes and a.plan_hash == b.plan_hash
    assert (a.jobs, a.stages, a.stage["shuffle_write_bytes"]) == (
        b.jobs, b.stages, b.stage["shuffle_write_bytes"])
    assert a.plan["exchanges"] + a.plan["broadcasts"] > 0


def test_skipped_stages_are_counted_apart(spark):
    cur = sparkstats.Cursor(spark)
    df = spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count()
    df.collect()
    df.collect()  # reuses the first run's shuffle output
    c = sparkstats.total(cur.take())
    assert c.jobs >= 2
    assert c.skipped_stages >= 1


def test_job_groups_separate_counters(spark):
    cur = sparkstats.Cursor(spark)
    sc = spark.sparkContext
    sc.setJobGroup("model:gold_x", "gold", True)
    _one_job(spark)
    sc.setJobGroup("model:gold_x/merge_upsert", "merge", True)
    _one_job(spark)
    _one_job(spark)
    sc.setLocalProperty("spark.jobGroup.id", None)
    groups = cur.take()
    assert groups["model:gold_x"].jobs == 1
    assert groups["model:gold_x/merge_upsert"].jobs == 2


def test_plan_tree_strips_run_specific_text():
    desc = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (5)\n"
        "+- == Final Plan ==\n"
        "   * HashAggregate (4)\n"
        "   +- ShuffleQueryStage (3), Statistics(sizeInBytes=672.0 B)\n"
        "      +- Exchange (2)\n"
        "         +- Scan parquet  (1)\n"
        "+- == Initial Plan ==\n"
        "   HashAggregate (7)\n"
        "\n"
        "(1) Scan parquet \n"
        "Output [1]: [id#{n}L]\n"
        "Location: InMemoryFileIndex [file:/tmp/run{n}/t.parquet]\n"
    )
    a, b = sparkstats.plan_tree(desc.format(n=12)), sparkstats.plan_tree(desc.format(n=99))
    assert a == b
    counts = sparkstats.plan_counts(a[0])
    assert counts["exchanges"] == 1 and counts["scans"] == 1
    assert all("Initial" not in line for line in a[0])


def test_tail_is_max_below_21_samples():
    assert run._tail([1.0, 5.0, 2.0]) == (5.0, 100.0)
    xs = [float(i) for i in range(40)]
    value, pct = run._tail(xs)
    assert value == 29.0 and sum(x > value for x in xs) == 10 and pct == 75.0


def test_inputs_repeat_byte_for_byte(tmp_path):
    for make in (inputs.query_tables, inputs.bar_batches):
        a = make(str(tmp_path / f"{make.__name__}_a"), 3)
        b = make(str(tmp_path / f"{make.__name__}_b"), 3)
        c = make(str(tmp_path / f"{make.__name__}_c"), 4)
        files = sorted(
            os.path.relpath(os.path.join(d, f), a)
            for d, _, fs in os.walk(a) for f in fs
        )
        assert files
        match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        assert not mismatch and not errors
        _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
        assert differ


def test_a_corrupted_result_is_counted(spark, tables):
    import workloads

    pdf = _query(spark, tables, "pricing_summary").toPandas()
    oracle = {"pricing_summary": workloads.value_hash(pdf)}
    assert workloads.wrong_results([("pricing_summary", pdf)], oracle) == 0
    bad = pdf.copy()
    col = bad.select_dtypes("number").columns[0]
    bad.loc[0, col] += 1
    assert workloads.wrong_results([("pricing_summary", bad)], oracle) == 1


def test_full_recompute_comparison_is_strict_and_order_free():
    import pandas as pd
    import workloads

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    assert workloads.same_rows(a, a.iloc[::-1])
    b = a.copy()
    b.loc[1, "v"] = 0.2 + 1e-15
    assert not workloads.same_rows(a, b)
    assert not workloads.same_rows(a, a.astype({"k": "int32"}))


def test_benchmark_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    spec = json.loads((tmp_path / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [*spec["command"], "--workload", spec["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
