"""operators/ranking.py global_rank: the distributed two-pass rank must
equal a single-window row_number, for any shuffle width (its partition
count), and must not contain an unpartitioned window in its plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from forex_data_pipeline_spark.operators.ranking import global_rank
from forex_data_pipeline_spark.session import child_session
from forex_data_pipeline_spark.tables import load
from tests.test_plans import plan_of


@pytest.mark.parametrize("partitions", [1, 3, 8])
def test_global_rank_matches_single_window(spark, sf_dir, partitions):
    child = child_session(
        spark, {"spark.sql.shuffle.partitions": str(partitions)}
    )
    orders = load(child, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked, n = global_rank(orders, ["cents", "o_orderkey"], rank_col="rn")
    assert n == orders.count()

    w = Window.orderBy("cents", "o_orderkey")
    expected = orders.withColumn("rn", F.row_number().over(w).cast("bigint"))
    got = {
        (r["cents"], r["o_orderkey"]): r["rn"] for r in ranked.collect()
    }
    for r in expected.collect():
        assert got[(r["cents"], r["o_orderkey"])] == r["rn"]


def test_global_rank_plan_has_no_unpartitioned_window(spark, sf_dir):
    orders = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked, _ = global_rank(orders, ["cents", "o_orderkey"], rank_col="rn")
    plan = plan_of(ranked)
    # The window must be keyed by the range-partition id: every Window
    # node's partition spec is non-empty (an ORDER-BY-only window would
    # print "Window [...], [cents ASC ...]" with no partition spec and
    # collapse to one task).
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            assert "__range_pid" in line or "_pid" in line
