"""General relational queries over the TPC-H-ish tables (SURVEY §2
families: projections P1-P6, aggregations A1-A7, joins, set ops U1,
windows W1-W4, scalar functions F1-F8, top-k O1, rollup).

Float determinism rules (see operators/indicators.py docstring):
- Sums of money-like doubles are summed as integer cents
  (``round(x·100)→long``) — exact, order-independent — then presented as
  doubles with one division. Never sum raw doubles across rows.
- Per-row scalar float expressions are identical IEEE ops on identical
  inputs → safe to emit raw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import register
from ..operators.joins import asof_join, range_join
from ..session import shuffle_width
from ..tables import load


def _cents_sum(col_expr, alias: str):
    """Exact money sum: round to integer cents, sum longs, divide once."""
    return (
        F.sum(F.round(col_expr * 100).cast("long")).cast("double") / 100.0
    ).alias(alias)


_CENTS_SUM_SQL = "sum(CAST(round(({expr}) * 100) AS BIGINT)) / 100.0"


def _cents_sum_sql(expr: str, alias: str) -> str:
    return f"CAST({_CENTS_SUM_SQL.format(expr=expr)} AS DOUBLE) AS {alias}"


# ------------------------------------------------------------ projections

@register(
    "typed_projection",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           CAST(l_quantity AS BIGINT) AS quantity,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date,
           l_returnflag || '/' || l_linestatus AS flag_status,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
               AS price_dec
    FROM lineitem
    WHERE l_quantity >= 25
    """,
    doc="P1/P2 typed projection + rename + filter (stg_eurusd.sql:27-31): "
    "casts reach the parquet scan as pruned columns + pushed predicate. "
    "DATE/DECIMAL are exercised internally but presented as "
    "string/double — pandas representations of those types differ "
    "between Spark (date/Decimal objects) and DuckDB (datetime64/"
    "float64), which would break value-hash comparison.",
    tags=("projection", "filter"),
)
def typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") >= 25).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("quantity"),
        F.col("l_shipdate").cast("date").cast("string").alias("ship_date"),
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("flag_status"),
        F.col("l_extendedprice")
        .cast("decimal(18,2)")
        .cast("double")
        .alias("price_dec"),
    )


# ----------------------------------------------------------- aggregations

@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           {_cents_sum_sql('l_extendedprice', 'sum_base_price')},
           {_cents_sum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {_cents_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
           {_CENTS_SUM_SQL.format(expr='l_extendedprice')} / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1-A7 grouped hash-agg in TPC-H Q1 shape: partial map-side agg, "
    "one shuffle on the tiny group key; money sums in exact cents.",
    tags=("aggregation",),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    qty_sum = F.sum(F.col("l_quantity").cast("bigint"))
    price_cents = F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        qty_sum.alias("sum_qty"),
        _cents_sum(F.col("l_extendedprice"), "sum_base_price"),
        _cents_sum(disc, "sum_disc_price"),
        _cents_sum(charge, "sum_charge"),
        (qty_sum.cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        ((price_cents / 100.0) / F.count(F.lit(1))).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "distinct_aggregates",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="DISTINCT aggregates (Spark expands to a two-phase plan "
    "automatically; no reference equivalent — surface breadth).",
    tags=("aggregation",),
)
def distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "rollup_order_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(grouping(o_orderstatus) + 2 * grouping(o_orderpriority)
                AS BIGINT) AS grp
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP grouping-sets (generalizes the reference's hand-rolled "
    "7-timeframe grouping-set union, fct:40-57).",
    tags=("aggregation", "set-ops"),
)
def rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.grouping("o_orderstatus") + 2 * F.grouping("o_orderpriority")
        ).cast("bigint").alias("grp"),
    )


# ------------------------------------------------------------------ joins

@register(
    "join_revenue_by_nation",
    oracle=f"""
    SELECT n.n_name,
           r.r_name,
           count(*) AS n_orders,
           {_cents_sum_sql('o.o_totalprice', 'revenue')}
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name, r.r_name
    """,
    doc="Multi-way equi join: fact (orders) joined to dims with "
    "broadcast hints — zero shuffle joins; the only shuffle is the "
    "final small-key aggregation. At 100 TB the dims stay broadcast.",
    tags=("join", "aggregation"),
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name", "r_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _cents_sum(F.col("o_totalprice"), "revenue"),
    )


@register(
    "semi_join_customers",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O')
    """,
    doc="LEFT SEMI join (EXISTS): customers holding an open order — "
    "probe side never duplicated, build side broadcastable.",
    tags=("join",),
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    doc="LEFT ANTI join (NOT EXISTS): customers with no urgent orders — "
    "the building block of the incremental MERGE writer (S9). The "
    "priority filter keeps the result non-empty at every scale factor.",
    tags=("join", "incremental"),
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "asof_join_purchases",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, p.value AS purchase_value,
           (SELECT arg_max(c.value, c.ts) FROM events c
            WHERE c.event_type = 'click'
              AND c.user_id = p.user_id
              AND c.ts <= p.ts) AS value_last_click
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
    doc="AS-OF join (time-series alignment, SURVEY §2.3): each purchase "
    "gets the latest prior click value per user. Union+window "
    "formulation — O(n log n) with one shuffle, vs an O(n·m) "
    "inequality join.",
    tags=("join", "timeseries", "window"),
)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts", ["value"],
        suffix="_last_click",
    )
    return out.select(
        "event_id", "user_id", "ts", "purchase_value", "value_last_click"
    )


@register(
    "asof_join_skew_bucketed",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, p.value AS purchase_value,
           (SELECT arg_max(c.value, c.ts) FROM events c
            WHERE c.event_type = 'click'
              AND c.user_id = p.user_id
              AND c.ts <= p.ts) AS value_last_click
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
    doc="SKEW-AWARE as-of join (operators/joins.py asof_join_bucketed): "
    "identical semantics and oracle as asof_join_purchases, but the "
    "alignment window partitions on (user_id, day-bucket) with a "
    "carry-in pass restoring cross-bucket lookback — so a hot key's "
    "history sort spreads over its time buckets instead of one "
    "straggler task (the plain form's per-key sort is the scale risk "
    "the r3/r4 verdicts flagged). Two bounded shuffles replace one "
    "unbounded-task shuffle; row-parity with the plain form is "
    "property-tested (tests/test_properties.py) and both hit the same "
    "DuckDB oracle here.",
    tags=("join", "timeseries", "window", "skew"),
)
def asof_join_skew_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join_bucketed

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join_bucketed(
        purchases, clicks, ["user_id"], "ts", "ts", ["value"],
        suffix="_last_click", time_bucket="1 day",
    )
    return out.select(
        "event_id", "user_id", "ts", "purchase_value", "value_last_click"
    )


@register(
    "range_join_price_bands",
    oracle="""
    SELECT b.band, count(*) AS n_parts,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS total_price
    FROM part p
    JOIN (VALUES ('budget', 0.0, 1100.0),
                 ('mid', 1100.0, 1600.0),
                 ('premium', 1600.0, 1e9)) AS b(band, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
    doc="Range/band join against a broadcast literal dimension — "
    "evaluated map-side (BroadcastNestedLoopJoin over 3 rows), no "
    "shuffle before the aggregation.",
    tags=("join", "aggregation"),
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 1100.0), ("mid", 1100.0, 1600.0),
         ("premium", 1600.0, 1e9)],
        "band string, lo double, hi double",
    )
    joined = range_join(
        p, bands, F.col("p_retailprice"), F.col("lo"), F.col("hi")
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        _cents_sum(F.col("p_retailprice"), "total_price"),
    )


# ---------------------------------------------------------------- set ops

@register(
    "set_ops_customers",
    oracle="""
    WITH building AS (SELECT c_custkey FROM customer
                      WHERE c_mktsegment = 'BUILDING'),
         rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    SELECT 'both' AS tag, c_custkey FROM
        (SELECT * FROM building INTERSECT SELECT * FROM rich)
    UNION ALL
    SELECT 'building_only', c_custkey FROM
        (SELECT * FROM building EXCEPT SELECT * FROM rich)
    UNION ALL
    SELECT 'rich_only', c_custkey FROM
        (SELECT * FROM rich EXCEPT SELECT * FROM building)
    """,
    doc="U1 + INTERSECT/EXCEPT (reference only has UNION ALL, fct:43-54; "
    "the rest come built-in).",
    tags=("set-ops",),
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")

    def tag(df: DataFrame, t: str) -> DataFrame:
        return df.select(F.lit(t).alias("tag"), "c_custkey")

    return (
        tag(building.intersect(rich), "both")
        .unionByName(tag(building.exceptAll(rich.distinct()), "building_only"))
        .unionByName(tag(rich.exceptAll(building.distinct()), "rich_only"))
    )


# ---------------------------------------------------------------- windows

@register(
    "topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    doc="O1 per-group top-k via row_number (Spark pushes a group-limit "
    "into the sort below the window — no full per-group sort "
    "materialization).",
    tags=("window", "topk"),
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "running_total_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                / 100.0 AS DOUBLE) AS running_spend
    FROM orders
    """,
    doc="W3-style running aggregate: cumulative spend per customer, "
    "summed in exact integer cents (order-independent across engines).",
    tags=("window",),
)
def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(cents).over(w).cast("double") / 100.0).alias("running_spend"),
    )


@register(
    "window_rank_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rnk,
           dense_rank() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate) AS drnk,
           lead(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS next_price
    FROM orders
    """,
    doc="W1 family completeness: rank / dense_rank (date ties share "
    "ranks) + lead — all three share one Window sort.",
    tags=("window",),
)
def window_rank_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    wd = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    wt = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.rank().over(wd).alias("rnk"),
        F.dense_rank().over(wd).alias("drnk"),
        F.lead("o_totalprice").over(wt).alias("next_price"),
    )


# ------------------------------------------------------- scalar functions

@register(
    "surrogate_keys",
    oracle="""
    SELECT o_orderkey,
           md5(concat(CAST(o_orderkey AS VARCHAR), '|', o_orderstatus,
                      '|', CAST(CAST(o_orderdate AS DATE) AS VARCHAR)))
               AS unique_id,
           upper(o_orderpriority) AS priority_uc,
           CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(extract(month FROM o_orderdate) AS BIGINT) AS order_month
    FROM orders
    """,
    doc="F1-F8 scalar functions: md5 surrogate key over concat'd key "
    "material (fct_eurusd_timeframes.sql:83), string case ops, date "
    "part extraction.",
    tags=("scalar",),
)
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("|"),
                F.col("o_orderstatus"),
                F.lit("|"),
                F.col("o_orderdate").cast("date").cast("string"),
            )
        ).alias("unique_id"),
        F.upper("o_orderpriority").alias("priority_uc"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
    )


@register(
    "json_extraction",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS DOUBLE) / count(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON path extraction over events.props (get_json_object → "
    "typed agg); integer sums are exact on both engines.",
    tags=("scalar", "aggregation"),
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k"),
    )


# --------------------------------------------- grouping sets / percentiles

@register(
    "cube_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_items,
           {_cents_sum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus): all 4 grouping sets in one "
    "pass — Spark expands the sets map-side then hash-aggregates once, "
    "i.e. one shuffle regardless of how many sets (the reference's "
    "hand-rolled 7-branch UNION over granularities is this operator "
    "done manually, fct_eurusd_timeframes.sql:40-57). grouping_id "
    "disambiguates NULL-as-subtotal from NULL data.",
    tags=("aggregation", "rollup"),
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_items"),
        _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
    )


@register(
    "quantity_percentiles",
    oracle="""
    SELECT l_linestatus,
           round(quantile_cont(l_quantity, 0.25), 6) AS q25,
           round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           round(quantile_cont(l_quantity, 0.75), 6) AS q75,
           round(quantile_disc(l_quantity, 0.5), 6) AS median_disc
    FROM lineitem
    GROUP BY l_linestatus
    """,
    doc="Exact percentiles (continuous + discrete) per group. Spark's "
    "percentile() is the exact sort-based aggregate (identical "
    "linear-interpolation definition as quantile_cont); at 100 TB "
    "swap in approx_percentile (t-digest sketch, mergeable map-side) "
    "— same call shape.",
    tags=("aggregation",),
)
def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_linestatus").agg(
        F.round(F.percentile(q, F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile(q, F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile(q, F.lit(0.75)), 6).alias("q75"),
        F.round(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"), 6).alias("median_disc"),
    )


@register(
    "approx_distinct_customers",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           CAST(1 AS BOOLEAN) AS hll_within_10pct
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="HyperLogLog++ distinct-count sketch vs exact: emits the exact "
    "count plus a property check that the sketch landed within 10% "
    "(the oracle asserts the property, not the estimate — sketches "
    "are engine-specific). At 100 TB approx_count_distinct is THE "
    "distinct count: mergeable, fixed memory, no giant shuffle of "
    "distinct keys.",
    tags=("aggregation", "approx"),
)
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    return od.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_customers"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey").cast("double")
                - F.count_distinct("o_custkey").cast("double")
            )
            / F.count_distinct("o_custkey")
            <= 0.10
        ).alias("hll_within_10pct"),
    )


@register(
    "range_frame_revenue",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS revenue_7d
    FROM orders
    """,
    doc="RANGE-framed window (trailing 7 calendar days per customer, "
    "value-based frame — peers included, unlike ROWS): the frame key "
    "is integer epoch-days so both engines bound identically; cents "
    "are summed as BIGINT inside the frame (exact at any order).",
    tags=("window",),
)
def range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return od.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(cents).over(w).cast("double") / 100.0).alias("revenue_7d"),
    )


@register(
    "window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Distribution window functions (percent_rank / cume_dist / "
    "ntile): rank arithmetic over int counts — exact; ordering "
    "carries the unique o_orderkey tie-break so both engines see "
    "one total order.",
    tags=("window",),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return od.select(
        "o_orderkey",
        "o_orderstatus",
        # unrounded: both engines define these as exact rank ratios
        # ((r-1)/(n-1), peers/n) — one correctly-rounded division each
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@register(
    "skew_salted_agg",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           {_cents_sum_sql('l_extendedprice', 'revenue')},
           max(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Skew-safe two-stage aggregation (operators/skew.py): stage 1 "
    "groups by (key, salt) — a hot key spreads over 16 reducers — "
    "stage 2 merges partials by key. l_returnflag has only 3 values, "
    "so EVERY key is hot: the worst case for a naive final-agg "
    "reducer. Sums are commutative monoids over integer cents, so "
    "the result is salt-assignment-independent and the oracle is the "
    "plain GROUP BY. Salt is pmod(xxhash64(pk), 16) — deterministic "
    "under task retry, never rand().",
    tags=("aggregation", "skew"),
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    li = load(spark, sf_dir, "lineitem").withColumn(
        "cents", F.round(F.col("l_extendedprice") * 100).cast("long")
    )
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n_items": ("count", "l_orderkey"),
            "revenue_cents": ("sum", "cents"),
            "max_qty": ("max", "l_quantity"),
        },
        salts=16,
        uniform_cols=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag",
        "n_items",
        (F.col("revenue_cents").cast("double") / 100.0).alias("revenue"),
        "max_qty",
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_f,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_o,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="PIVOT (long→wide): explicit value list so Spark skips the "
    "extra distinct-values job — at scale an unbounded pivot is a "
    "full pre-scan plus an unbounded column fan-out; a declared "
    "domain keeps it one aggregate. Oracle is the portable "
    "conditional-aggregation form.",
    tags=("aggregation", "pivot"),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    wide = (
        od.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@register(
    "array_agg_functions",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)) [1:3], ',')
               AS first3_orders,
           CAST(len(list(o_orderkey)) AS INTEGER) AS n_orders,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
               AS priorities
    FROM orders
    GROUP BY o_custkey
    """,
    doc="Array aggregation surface: collect_list → sort → slice, and "
    "collect_set → sort (canonical order makes set semantics "
    "hash-comparable). Arrays stay columnar (no explode round trip); "
    "collect_* state is bounded per key here, the scale caveat is "
    "documented: for unbounded groups prefer top-k windows.",
    tags=("aggregation", "array"),
)
def array_agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    agg = od.groupBy("o_custkey").agg(
        F.slice(F.array_sort(F.collect_list("o_orderkey")), 1, 3).alias(
            "_first3"
        ),
        F.size(F.collect_list("o_orderkey")).alias("n_orders"),
        F.array_sort(F.collect_set("o_orderpriority")).alias("_prios"),
    )
    # arrays are canonicalized to strings for the hash compare (engines
    # render list cells differently); the operators under test are the
    # collect/sort/slice pipeline above
    return agg.select(
        "o_custkey",
        F.concat_ws(",", F.col("_first3").cast("array<string>")).alias(
            "first3_orders"
        ),
        "n_orders",
        F.concat_ws(",", "_prios").alias("priorities"),
    )


_SQL_REVENUE = """
    SELECT n.n_name AS nation,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
"""


@register(
    "sql_interface_revenue",
    oracle=_SQL_REVENUE,
    doc="The SQL entry point: the IDENTICAL ANSI text runs through "
    "spark.sql() over registered views and through the DuckDB oracle "
    "— same parser-facing surface a reference user writes in dbt "
    "models. Catalyst still broadcasts the dims and prunes columns; "
    "declarative SQL and the DataFrame API compile to the same plans.",
    tags=("sql", "join", "aggregation"),
)
def sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_REVENUE)


@register(
    "string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_uc,
           regexp_replace(c_name, '^Customer#0*', '') AS short_id,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           substr(c_name, 1, 8) AS prefix8,
           CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS lev_b,
           CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
           reverse(c_mktsegment) AS seg_rev,
           concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR))
               AS seg_nation
    FROM customer
    """,
    doc="String scalar-function family (F8 generalized): case, regexp "
    "replace, pad, substring, edit distance (the entity-resolution "
    "primitive), position, reverse, concat — all map-side "
    "whole-stage-codegen expressions, byte-identical across engines.",
    tags=("scalar",),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    return cu.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_uc"),
        F.regexp_replace("c_name", "^Customer#0*", "").alias("short_id"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING"))
        .cast("bigint")
        .alias("lev_b"),
        F.instr("c_name", "#").cast("bigint").alias("hash_pos"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.concat_ws(
            "-", "c_mktsegment", F.col("c_nationkey").cast("string")
        ).alias("seg_nation"),
    )


@register(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
           CAST(o_orderdate AS DATE) + 90 AS due_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
           CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow
    FROM orders
    """,
    doc="Date scalar-function family (F4 generalized): calendar parts, "
    "day arithmetic, month boundaries, ISO weekday (pinned to the "
    "unambiguous ISO numbering — engines disagree on locale-relative "
    "DOW). All exact integer/date math.",
    tags=("scalar",),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return od.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("yr"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        F.date_add(d, 90).cast("timestamp_ntz").alias("due_date"),
        F.last_day(d).cast("timestamp_ntz").alias("month_end"),
        F.trunc(d, "month").cast("timestamp_ntz").alias("month_start"),
        # Spark weekday() is Monday=0; ISO numbering is Monday=1
        (F.weekday(d) + 1).cast("bigint").alias("iso_dow"),
    )


@register(
    "star_join_revenue",
    oracle=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_items,
           {_cents_sum_sql('l.l_extendedprice * (1 - l.l_discount)',
                           'revenue')}
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY r.r_name, n.n_name
    """,
    doc="4-hop star join (TPC-H Q5 shape): fact → orders → customer → "
    "nation → region. At 100 TB the only shuffle is lineitem⋈orders "
    "(the two facts); customer/nation/region broadcast, the status "
    "filter pushes into the orders scan before the join, and the "
    "aggregate is partial-before-shuffle. Catalyst join reordering + "
    "AQE pick that plan from the declarative form.",
    tags=("join", "aggregation"),
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    cu = load(spark, sf_dir, "customer")
    na = load(spark, sf_dir, "nation")
    re = load(spark, sf_dir, "region")
    joined = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
    )
    return joined.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
    )


#: the correlated scalar is computed in integer cents (exact sum, exact
#: count) so the 1.5x-mean threshold is the same two IEEE ops on the
#: same exact integers in both engines — double avg() would be
#: summation-order-dependent in a parallel engine and could flip a
#: boundary row.
_ABOVE_AVG_SQL = """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders o
    WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
          (SELECT 1.5 * sum(CAST(round(i.o_totalprice * 100) AS BIGINT))
                  / count(*)
           FROM orders i
           WHERE i.o_orderstatus = o.o_orderstatus)
"""


@register(
    "correlated_subquery_orders",
    oracle=_ABOVE_AVG_SQL,
    doc="Correlated scalar subquery (orders 50% above their own status "
    "group's mean), submitted as SQL text: Catalyst DECORRELATES it "
    "into an aggregate + join — never one subquery execution per outer "
    "row (which would be O(n²) at scale). The cents-based "
    "threshold is exact-integer-fed, so the filter is deterministic "
    "at any parallelism.",
    tags=("sql", "filter", "aggregation"),
)
def correlated_subquery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ABOVE_AVG_SQL)


@register(
    "range_join_bucketed_bands",
    oracle="""
    SELECT b.band, count(*) AS n_parts,
           CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS total_price
    FROM part p
    JOIN (VALUES ('budget', 0.0, 930.0),
                 ('mid', 930.0, 970.0),
                 ('premium', 970.0, 2500.0)) AS b(band, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
    doc="Interval-BUCKETED range join: bands explode into the 100-wide "
    "buckets they overlap, facts hash to their bucket, and the range "
    "join becomes an equi-join on bucket + residual predicate — the "
    "form that scales when the interval table can't broadcast (cost ∝ "
    "facts + interval coverage, never facts × bands). Same result as "
    "the broadcast form on the same bands.",
    tags=("join", "aggregation", "skew"),
)
def range_join_bucketed_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import range_join_bucketed

    p = load(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 930.0), ("mid", 930.0, 970.0),
         ("premium", 970.0, 2500.0)],
        "band string, lo double, hi double",
    )
    joined = range_join_bucketed(
        p, bands, F.col("p_retailprice"), "lo", "hi", bucket_width=100.0
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        _cents_sum(F.col("p_retailprice"), "total_price"),
    )


@register(
    "full_outer_join_coverage",
    oracle="""
    WITH cust AS (
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_mktsegment = 'BUILDING'
    ),
    ord95 AS (
        SELECT o_custkey, count(*) AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01'
          AND o_orderdate < DATE '1996-01-01'
        GROUP BY o_custkey
    )
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           coalesce(c.c_mktsegment, '(none)') AS segment,
           CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders_1995,
           CAST(coalesce(o.cents, 0) / 100.0 AS DOUBLE) AS total_price,
           CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                WHEN o.o_custkey IS NULL THEN 'customer_only'
                ELSE 'both' END AS side
    FROM cust c FULL OUTER JOIN ord95 o ON c.c_custkey = o.o_custkey
    """,
    doc="FULL OUTER join with null-extension on both sides (BUILDING "
    "customers vs 1995 order rollups — each side has rows the other "
    "lacks): the join-family completion beyond inner/semi/anti/as-of/"
    "range. Aggregate-before-join keeps the outer join 1:1 (no fact "
    "fan-out), and nulls are coalesced in-plan so downstream operators "
    "never branch on missingness. Sort-merge on the key at scale; "
    "money exact in cents.",
    tags=("join",),
)
def full_outer_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_mktsegment")
    )
    ord95 = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
    )
    j = cust.join(ord95, cust.c_custkey == ord95.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.coalesce("c_mktsegment", F.lit("(none)")).alias("segment"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders_1995"),
        (F.coalesce("cents", F.lit(0)) / 100.0)
        .cast("double")
        .alias("total_price"),
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
        .alias("side"),
    )


@register(
    "grouping_sets_sales",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                AS BIGINT) AS gid,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    doc="Non-hierarchical GROUPING SETS ((returnflag), (linestatus)) — "
    "two independent marginals in ONE scan + one expand/shuffle, the "
    "case rollup/cube cannot express. grouping_id disambiguates which "
    "set produced each row (a null key vs a key that is null). At "
    "scale this halves the scans vs two grouped queries unioned.",
    tags=("aggregation",),
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "n_rows",
        )
    )


@register(
    "window_value_functions",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS latest_so_far,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Navigation value functions first/last/nth_value over a running "
    "frame (per-customer order history): completes the window family "
    "beyond ranking (rank/lead) and frames (SMA). Keys are integers — "
    "no float plumbing — and the frame is UNBOUNDED-PRECEDING..CURRENT "
    "so last_value is the running latest, not the whole-partition "
    "constant (the classic default-frame trap).",
    tags=("window",),
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_so_far"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@register(
    "unpivot_order_metrics",
    oracle=f"""
    WITH wide AS (
        SELECT o_orderpriority,
               CAST(count(*) AS DOUBLE) AS n_orders,
               {_cents_sum_sql('o_totalprice', 'total_price')},
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                    AS DOUBLE) AS max_price
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value
    FROM wide
    UNION ALL
    SELECT o_orderpriority, 'total_price', total_price FROM wide
    UNION ALL
    SELECT o_orderpriority, 'max_price', max_price FROM wide
    """,
    doc="UNPIVOT (wide→long, the inverse of PIVOT): per-priority order "
    "metrics melted to (priority, metric, value) rows. Spark's "
    "unpivot is a map-side Expand — one pass over the wide table, no "
    "shuffle, no N-way self-union scan (which is how the oracle has "
    "to spell it). Money is exact integer cents before the melt.",
    tags=("setops",),
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        _cents_sum(F.col("o_totalprice"), "total_price"),
        (F.max(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0)
        .cast("double")
        .alias("max_price"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_orders", "total_price", "max_price"],
        "metric",
        "value",
    )


@register(
    "conditional_aggregates",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) FILTER (WHERE o_totalprice > 150000)
                AS BIGINT) AS n_big,
           CAST(sum(CASE WHEN o_totalprice > 150000
                    THEN CAST(round(o_totalprice * 100) AS BIGINT)
                    ELSE 0 END) / 100.0 AS DOUBLE) AS big_total,
           bool_or(o_orderpriority = '1-URGENT') AS has_urgent,
           bool_and(o_totalprice > 0) AS all_positive,
           CAST(count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_custkey END) AS BIGINT) AS n_urgent_custs
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Conditional aggregation family: count_if / FILTER, guarded "
    "conditional sum (exact cents), bool_or / bool_and, and a "
    "conditional DISTINCT count — the idiom that replaces N filtered "
    "self-scans with ONE scan and one shuffle. The CASE inside the "
    "aggregate is evaluated map-side; partial aggregation still "
    "applies to every column.",
    tags=("aggregation",),
)
def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 150000
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy("o_orderstatus").agg(
        F.count_if(big).alias("n_big"),
        (
            F.sum(
                F.when(big, F.round(F.col("o_totalprice") * 100).cast("long"))
                .otherwise(F.lit(0))
            )
            / 100.0
        )
        .cast("double")
        .alias("big_total"),
        F.bool_or(urgent).alias("has_urgent"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.count_distinct(F.when(urgent, F.col("o_custkey"))).alias(
            "n_urgent_custs"
        ),
    )


@register(
    "global_topk_orders",
    oracle=f"""
    SELECT l_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           {_cents_sum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape — global ORDER BY + LIMIT over a 3-table join "
    "and aggregation. Spark compiles the sort+limit to "
    "TakeOrderedAndProject: each partition keeps its local top-10 and "
    "only 10 rows per partition reach the driver — no global sort "
    "shuffle, the operator that makes global top-k viable at 100 TB. "
    "The tie-break (revenue DESC, l_orderkey) makes the top-10 SET "
    "deterministic across engines; revenue is exact integer cents.",
    tags=("join", "aggregation", "topk"),
)
def global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias(
                "order_date"
            ),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


_SQL_EXISTS = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
"""


@register(
    "exists_subquery_priority",
    oracle=_SQL_EXISTS,
    doc="TPC-H Q4 shape — correlated EXISTS subquery, run as the "
    "IDENTICAL ANSI text through spark.sql() and the oracle. Catalyst "
    "decorrelates EXISTS into a left-semi hash join on l_orderkey "
    "(no per-row subquery execution), so the cost is one keyed "
    "shuffle regardless of orders cardinality.",
    tags=("sql", "join", "subquery"),
)
def exists_subquery_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_EXISTS)


@register(
    "stat_moments_corr",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS sx,
               sum(CAST(round(l_discount * 100) AS BIGINT)) AS sy,
               sum(CAST(l_quantity AS BIGINT)
                   * CAST(l_quantity AS BIGINT)) AS sxx,
               sum(CAST(round(l_discount * 100) AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS syy,
               sum(CAST(l_quantity AS BIGINT)
                   * CAST(round(l_discount * 100) AS BIGINT)) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(sx AS DOUBLE) / n AS mean_qty,
           sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / (n * (n - 1)))
               AS stddev_qty,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
               AS corr_qty_disc
    FROM s
    """,
    doc="Statistical moments from EXACT integer sums: sample stddev and "
    "Pearson correlation assembled from (n, Σx, Σy, Σx², Σy², Σxy) "
    "long-integer aggregates — order-independent under any shuffle "
    "partitioning (the naive float stddev/corr is not), then one "
    "deterministic double expression per group. This is also the "
    "single-pass/re-aggregable form: the six sums merge across "
    "partitions, days, or incremental batches without re-reading "
    "history. Discount is held as integer percent (its native grid).",
    tags=("aggregation", "stats"),
)
def stat_moments_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    dsc = F.round(F.col("l_discount") * 100).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).alias("sx"),
        F.sum(dsc).alias("sy"),
        F.sum(qty * qty).alias("sxx"),
        F.sum(dsc * dsc).alias("syy"),
        F.sum(qty * dsc).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "n",
        (sx.cast("double") / n).alias("mean_qty"),
        F.sqrt(
            (n * sxx - sx * sx).cast("double") / (n * (n - 1))
        ).alias("stddev_qty"),
        (
            (n * sxy - sx * sy).cast("double")
            / (
                F.sqrt((n * sxx - sx * sx).cast("double"))
                * F.sqrt((n * syy - sy * sy).cast("double"))
            )
        ).alias("corr_qty_disc"),
    )


@register(
    "string_agg_nations",
    oracle="""
    SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM region JOIN nation ON r_regionkey = n_regionkey
    GROUP BY r_name
    """,
    doc="Ordered string aggregation (LISTAGG / string_agg): nations per "
    "region as one comma-joined, alphabetically-ordered string. Spark "
    "has no ordered string_agg aggregate; the deterministic spelling "
    "is collect_list → array_sort → array_join, which imposes the "
    "total order AFTER the unordered distributed collect — the only "
    "shuffle-order-independent way to build the string. Region side "
    "is broadcast.",
    tags=("aggregation", "join"),
)
def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    na = load(spark, sf_dir, "nation")
    return (
        na.join(F.broadcast(r), na.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations"),
        )
    )


@register(
    "from_json_typed",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_total,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_min,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events
    GROUP BY event_type
    """,
    doc="Typed JSON parse (from_json with a declared schema, not string "
    "get_json_object): events.props → struct<k:bigint>, then exact "
    "integer aggregates per event type. The declared schema keeps the "
    "parse inside codegen and projects ONLY the requested field — at "
    "100 TB the difference between schema-on-read JSON and a "
    "per-row string scan of the whole payload.",
    tags=("scalar", "json", "aggregation"),
)
def from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ev = load(spark, sf_dir, "events")
    schema = StructType([StructField("k", LongType())])
    k = F.from_json(F.col("props"), schema).getField("k")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("k_total"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


@register(
    "having_large_orders",
    oracle="""
    SELECT c_name, o.o_orderkey,
           CAST(CAST(round(o_totalprice * 100) AS BIGINT) / 100.0
                AS DOUBLE) AS total_price,
           big.total_qty
    FROM orders o
    JOIN (SELECT l_orderkey,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                     AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS BIGINT)) > 200) big
      ON o.o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18 shape — HAVING over an aggregate (post-aggregation "
    "filter) feeding an IN-style semi restriction on orders, then a "
    "customer enrichment join. The HAVING filter runs on the "
    "AGGREGATED (order-cardinality) relation, so the selective "
    "predicate cuts the join input by ~90% before any wide join; "
    "quantities sum as exact longs. Both joins are orderkey/custkey "
    "equi-joins — sort-merge at scale, AQE free to broadcast the "
    "filtered side when it fits.",
    tags=("join", "aggregation", "subquery"),
)
def having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            (
                F.round(F.col("o_totalprice") * 100).cast("long") / 100.0
            ).cast("double").alias("total_price"),
            "total_qty",
        )
    )


@register(
    "approx_percentile_prices",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 6) AS exact_p50,
           CAST(1 AS BOOLEAN) AS approx_in_bounds
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Approximate percentile sketch vs exact: emits the exact median "
    "plus the property that approx_percentile (accuracy 10000, i.e. "
    "rank error ≤ n/10000) landed between the exact p45 and p55 — "
    "the oracle asserts the PROPERTY, not the estimate (sketch "
    "internals are engine-specific). At 100 TB the sketch is the only "
    "option: fixed memory, mergeable map-side, no global sort of the "
    "value column; the exact percentile() here is the small-data "
    "cross-check.",
    tags=("aggregation", "approx"),
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return od.groupBy("o_orderstatus").agg(
        F.round(F.percentile(p, F.lit(0.5)), 6).alias("exact_p50"),
        F.approx_percentile(p, F.lit(0.5), F.lit(10000))
        .between(
            F.percentile(p, F.lit(0.45)), F.percentile(p, F.lit(0.55))
        )
        .alias("approx_in_bounds"),
    )


@register(
    "running_distinct_priorities",
    oracle="""
    WITH flagged AS (
        SELECT o_custkey, o_orderdate, o_orderkey,
               CASE WHEN row_number() OVER (
                   PARTITION BY o_custkey, o_orderpriority
                   ORDER BY o_orderdate, o_orderkey) = 1
                    THEN 1 ELSE 0 END AS is_first
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(sum(is_first) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS distinct_priorities_so_far
    FROM flagged
    """,
    doc="Running COUNT(DISTINCT) over a window — an aggregate Spark "
    "(and ANSI SQL) does not support directly — emulated exactly with "
    "two window passes: flag each key's FIRST occurrence per "
    "(partition, value) with row_number, then running-sum the flags. "
    "Both windows share the o_custkey partitioning, so the second "
    "pass reuses the first's shuffle (one exchange total); the "
    "(o_orderdate, o_orderkey) order key is a total order, making "
    "every intermediate deterministic.",
    tags=("window",),
)
def running_distinct_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    w_first = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = od.withColumn(
        "is_first",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
    )
    return flagged.select(
        "o_custkey",
        "o_orderkey",
        F.sum("is_first").over(w_run).cast("bigint").alias(
            "distinct_priorities_so_far"
        ),
    )


@register(
    "map_functions_priority",
    oracle="""
    WITH wide AS (
        SELECT o_orderstatus,
               map_from_entries(list(struct_pack(
                   key := o_orderpriority, value := n))) AS m
        FROM (SELECT o_orderstatus, o_orderpriority,
                     CAST(count(*) AS BIGINT) AS n
              FROM orders GROUP BY 1, 2
              ORDER BY o_orderstatus, o_orderpriority)
        GROUP BY o_orderstatus
    )
    SELECT o_orderstatus,
           CAST(cardinality(m) AS BIGINT) AS n_priorities,
           CAST(m['1-URGENT'][1] AS BIGINT) AS n_urgent,
           u.key AS priority, CAST(u.value AS BIGINT) AS n_orders
    FROM wide, unnest(map_entries(m)) AS t(u)
    """,
    doc="MAP-type round trip: per-status (priority → count) maps built "
    "with map_from_entries, probed with element_at / map size, then "
    "exploded back to rows (map columns never reach the output — "
    "pandas map reprs differ across engines, entries hash "
    "identically). Maps stay inside codegen; the only shuffle is the "
    "initial (status, priority) aggregation.",
    tags=("scalar", "aggregation"),
)
def map_functions_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    wide = counts.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("o_orderpriority", "n"))
            )
        ).alias("m")
    )
    return wide.select(
        "o_orderstatus",
        F.size("m").cast("bigint").alias("n_priorities"),
        F.element_at("m", "1-URGENT").alias("n_urgent"),
        F.explode(F.map_entries("m")).alias("e"),
    ).select(
        "o_orderstatus",
        "n_priorities",
        "n_urgent",
        F.col("e.key").alias("priority"),
        F.col("e.value").alias("n_orders"),
    )


@register(
    "null_semantics",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_orderstatus,
               nullif(o_orderpriority, '1-URGENT') AS p
        FROM orders
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderstatus
            ORDER BY p NULLS FIRST, o_orderkey) AS rn
        FROM t
    )
    SELECT t.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(p) AS BIGINT) AS n_nonnull,
           CAST(count(*) FILTER (WHERE p IS NULL) AS BIGINT) AS n_nulled,
           coalesce(min(p), 'ALL-NULL') AS min_p,
           CAST(min(CASE WHEN rn = 1 THEN o_orderkey END) AS BIGINT)
               AS first_key_nulls_first
    FROM ranked t GROUP BY t.o_orderstatus
    """,
    doc="NULL-semantics family: nullif-manufactured NULLs, "
    "null-skipping COUNT(col) vs COUNT(*), null-skipping MIN + "
    "coalesce fallback, and NULLS FIRST window ordering (Spark "
    "default for ASC is nulls-first, but it is pinned explicitly — "
    "engines differ, which is exactly why the ordering must be "
    "spelled). Every branch is the same three-valued logic Catalyst "
    "and ANSI SQL share, verified cell-exact.",
    tags=("scalar", "aggregation", "window"),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("p"),
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("p").asc_nulls_first(), "o_orderkey"
    )
    ranked = t.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("p").alias("n_nonnull"),
        F.count_if(F.col("p").isNull()).alias("n_nulled"),
        F.coalesce(F.min("p"), F.lit("ALL-NULL")).alias("min_p"),
        F.min(F.when(F.col("rn") == 1, F.col("o_orderkey")))
        .cast("bigint")
        .alias("first_key_nulls_first"),
    )


@register(
    "asof_forward_next_purchase",
    oracle="""
    SELECT v.event_id, v.user_id, v.ts,
           (SELECT arg_min(p.value, p.ts) FROM events p
            WHERE p.event_type = 'purchase'
              AND p.user_id = v.user_id
              AND p.ts >= v.ts) AS value_next_purchase
    FROM events v
    WHERE v.event_type = 'view'
    """,
    doc="FORWARD as-of join: each view gets the value of the user's "
    "NEXT purchase at-or-after it — the attribution/label-lookup "
    "direction (what outcome followed this event), mirror of the "
    "backward form. Same union + key-partitioned window plan, frame "
    "flipped to [current, unbounded following]; one shuffle, no "
    "inequality-join row explosion.",
    tags=("join", "timeseries", "window"),
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        views, purchases, ["user_id"], "ts", "ts", ["value"],
        suffix="_next_purchase", direction="forward",
    )
    return out.select("event_id", "user_id", "ts", "value_next_purchase")


@register(
    "price_histogram",
    oracle="""
    SELECT CAST(CASE WHEN b < 0 THEN 0 WHEN b > 11 THEN 11 ELSE b END
                AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS min_price,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS max_price
    FROM (SELECT o_totalprice,
                 CAST(floor(o_totalprice / 50000) AS BIGINT) AS b
          FROM orders)
    GROUP BY 1
    """,
    doc="Equi-width histogram (width_bucket semantics: 50k-wide price "
    "buckets, clamped under/overflow bins) — the profiling primitive "
    "behind data exploration and skew diagnosis. Bucket assignment is "
    "a map-side integer floor (one expression, no join against a "
    "bucket table); one hash-agg shuffle keyed by ≤12 buckets, "
    "partial-aggregated to a handful of rows per task regardless of "
    "input size. Bucket edges are exact integer math; min/max are "
    "presented as exact cents.",
    tags=("aggregation", "stats"),
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    bucket = (
        F.when(b < 0, F.lit(0)).when(b > 11, F.lit(11)).otherwise(b)
    ).cast("bigint")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.min(cents) / 100.0).cast("double").alias("min_price"),
        (F.max(cents) / 100.0).cast("double").alias("max_price"),
    )


@register(
    "heavy_hitter_keys",
    oracle="""
    WITH per_key AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
    SELECT o_custkey, n,
           CAST(n AS DOUBLE) / n_total AS share,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY n DESC, o_custkey) AS rn
          FROM per_key), tot
    WHERE rn <= 10
    """,
    doc="Heavy-hitter diagnosis: the top-10 hottest join/agg keys and "
    "their share of the table — the profiling query you run BEFORE "
    "choosing a skew strategy (salting via operators/skew.py, AQE "
    "skew-join, or broadcast). One key-partial-aggregated shuffle "
    "(bytes ∝ distinct keys), a tiny scalar total joined as a "
    "single-row broadcast, integer/integer share.",
    tags=("aggregation", "stats", "topk"),
)
def heavy_hitter_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    tot = o.agg(F.count(F.lit(1)).alias("n_total"))
    w = Window.orderBy(F.col("n").desc(), "o_custkey")
    return (
        per_key.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "n",
            (F.col("n").cast("double") / F.col("n_total")).alias("share"),
            "rank",
        )
    )


@register(
    "array_set_operations",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               list_sort(list_distinct(list(o_orderpriority)))
                   AS prios
        FROM orders WHERE o_custkey < 100 GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(len(prios) AS BIGINT) AS n_distinct_prios,
           coalesce(array_to_string(list_sort(list_intersect(prios,
               ['1-URGENT', '2-HIGH'])), ','), '') AS urgent_overlap,
           coalesce(array_to_string(list_sort(list_filter(prios,
               p -> NOT list_contains(['1-URGENT', '2-HIGH'], p))), ','), '')
               AS non_urgent,
           list_has_any(prios, ['1-URGENT']) AS has_urgent
    FROM per_cust
    """,
    doc="Array set-operation family (intersect / except / overlap-test "
    "/ distinct) on collected per-customer priority sets — all "
    "map-side codegen expressions after one collect_set shuffle. "
    "Arrays are sorted before string presentation so the distributed "
    "collect order never leaks into results.",
    tags=("scalar", "aggregation"),
)
def array_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    urgent = F.array(F.lit("1-URGENT"), F.lit("2-HIGH"))
    per_cust = o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_set("o_orderpriority")).alias("prios")
    )
    return per_cust.select(
        "o_custkey",
        F.size("prios").cast("bigint").alias("n_distinct_prios"),
        F.array_join(
            F.array_sort(F.array_intersect("prios", urgent)), ","
        ).alias("urgent_overlap"),
        F.array_join(
            F.array_sort(F.array_except("prios", urgent)), ","
        ).alias("non_urgent"),
        F.arrays_overlap(
            "prios", F.array(F.lit("1-URGENT"))
        ).alias("has_urgent"),
    )


@register(
    "rfm_segments",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               max(CAST(o_orderdate AS DATE)) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, frequency,
               CAST(cents / 100.0 AS DOUBLE) AS monetary,
               ntile(4) OVER (ORDER BY last_order, o_custkey) AS r,
               ntile(4) OVER (ORDER BY frequency, o_custkey) AS f,
               ntile(4) OVER (ORDER BY cents, o_custkey) AS m
        FROM per_cust
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CASE WHEN r = 4 AND f = 4 AND m = 4 THEN 'champion'
                WHEN r >= 3 AND f >= 3 THEN 'loyal'
                WHEN r <= 1 THEN 'lapsed'
                ELSE 'regular' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(monetary * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS segment_value
    FROM scored GROUP BY r, f, m
    """,
    doc="RFM segmentation (recency/frequency/monetary quartiles via "
    "ntile + rule-based segment labels): the classic customer-value "
    "rollup. Every ntile ordering carries the customer key as a total "
    "tie-break — without it quartile boundaries are "
    "partitioning-dependent and the result non-deterministic (the "
    "bug this query exists to demonstrate avoiding). Money stays "
    "exact integer cents through both aggregations.",
    tags=("window", "aggregation", "analytics"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )
    scored = per_cust.select(
        "o_custkey",
        "frequency",
        (F.col("cents") / 100.0).cast("double").alias("monetary"),
        F.ntile(4)
        .over(Window.orderBy("last_order", "o_custkey"))
        .cast("bigint")
        .alias("r"),
        F.ntile(4)
        .over(Window.orderBy("frequency", "o_custkey"))
        .cast("bigint")
        .alias("f"),
        F.ntile(4)
        .over(Window.orderBy("cents", "o_custkey"))
        .cast("bigint")
        .alias("m"),
    )
    seg = (
        F.when(
            (F.col("r") == 4) & (F.col("f") == 4) & (F.col("m") == 4),
            "champion",
        )
        .when((F.col("r") >= 3) & (F.col("f") >= 3), "loyal")
        .when(F.col("r") <= 1, "lapsed")
        .otherwise("regular")
    )
    return scored.groupBy("r", "f", "m").agg(
        F.first(seg).alias("segment"),
        F.count(F.lit(1)).alias("n_customers"),
        (
            F.sum(F.round(F.col("monetary") * 100).cast("long")) / 100.0
        )
        .cast("double")
        .alias("segment_value"),
    ).select("r", "f", "m", "segment", "n_customers", "segment_value")


@register(
    "null_safe_join",
    oracle="""
    WITH a AS (
        SELECT nullif(o_orderpriority, '1-URGENT') AS p,
               CAST(count(*) AS BIGINT) AS n_a
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
    ),
    b AS (
        SELECT nullif(o_orderpriority, '1-URGENT') AS p,
               CAST(count(*) AS BIGINT) AS n_b
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    )
    SELECT coalesce(a.p, '<null>') AS priority, n_a, n_b
    FROM a JOIN b ON a.p IS NOT DISTINCT FROM b.p
    """,
    doc="NULL-safe equality join (<=> / IS NOT DISTINCT FROM): the two "
    "NULL groups MATCH each other — a plain equi-join would silently "
    "drop them (NULL = NULL is NULL), the classic silent-data-loss "
    "bug when joining on nullable keys. Catalyst plans <=> as an "
    "ordinary hash join key, so the fix costs nothing.",
    tags=("join", "scalar"),
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    p = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("p")

    def side(status: str, out: str) -> DataFrame:
        return (
            o.filter(F.col("o_orderstatus") == status)
            .groupBy(p)
            .agg(F.count(F.lit(1)).alias(out))
        )

    a, b = side("O", "n_a"), side("F", "n_b")
    return a.join(b, a["p"].eqNullSafe(b["p"])).select(
        F.coalesce(a["p"], F.lit("<null>")).alias("priority"),
        "n_a",
        "n_b",
    )


@register(
    "weekly_revenue_change",
    oracle="""
    WITH weekly AS (
        SELECT o_orderstatus,
               CAST(date_trunc('week', CAST(o_orderdate AS DATE))
                    AS VARCHAR) AS week_start,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, week_start,
           CAST(cents / 100.0 AS DOUBLE) AS revenue,
           CAST((cents - lag(cents) OVER w) / 100.0 AS DOUBLE)
               AS wow_change,
           CAST(cents - first_value(cents) OVER w AS BIGINT)
               AS cents_vs_first_week
    FROM weekly
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY week_start)
    """,
    doc="Week-over-week change: ISO-week truncation, exact-cents "
    "weekly rollup, then lag/first_value deltas per status — the "
    "reporting idiom layered on the engine's date + window + exact "
    "money primitives. The week key is presented as a string so both "
    "engines hash the same calendar fact, not their date reprs.",
    tags=("window", "aggregation", "analytics"),
)
def weekly_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    weekly = o.groupBy(
        "o_orderstatus",
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .cast("string")
        .alias("week_start"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    w = Window.partitionBy("o_orderstatus").orderBy("week_start")
    c = F.col("cents")
    return weekly.select(
        "o_orderstatus",
        "week_start",
        (c / 100.0).cast("double").alias("revenue"),
        ((c - F.lag(c).over(w)) / 100.0).cast("double").alias(
            "wow_change"
        ),
        (c - F.first(c).over(w)).cast("bigint").alias(
            "cents_vs_first_week"
        ),
    )


@register(
    "parts_supplied_by_nation",
    oracle="""
    SELECT n_name, p_brand,
           CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                / 100.0 AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part ON p_partkey = l.l_partkey
    JOIN supplier ON s_suppkey = l.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_size >= 30
    GROUP BY n_name, p_brand
    """,
    doc="TPC-H Q2/Q9-flavored catalog rollup over the two least-hot "
    "dimensions (part, supplier): lineitem enriched through part → "
    "supplier → nation, filtered on part size, rolled up to "
    "(nation, brand) with a distinct-part count and exact-cents "
    "revenue. part and supplier broadcast below the threshold; the "
    "only wide shuffle is the final group-by — and the p_size filter "
    "prunes the broadcast build side before the join.",
    tags=("join", "aggregation"),
)
def parts_supplied_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part").filter(F.col("p_size") >= 30)
    su = load(spark, sf_dir, "supplier")
    na = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy("n_name", "p_brand")
        .agg(
            F.count_distinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_lineitems"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                )
                / 100.0
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "part_affinity_pairs",
    oracle="""
    SELECT a_part, b_part, n_orders_together
    FROM (
        SELECT a.l_partkey AS a_part, b.l_partkey AS b_part,
               CAST(count(*) AS BIGINT) AS n_orders_together,
               row_number() OVER (
                   ORDER BY count(*) DESC, a.l_partkey, b.l_partkey)
                   AS rn
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey)
    WHERE rn <= 20
    """,
    doc="Market-basket affinity: part pairs co-occurring in the same "
    "order, top-20. The self-join is keyed on l_orderkey, so the "
    "pair blow-up is per-order LOCAL — bounded by (items/order "
    "choose 2), ~21 pairs for TPC-H's ≤7 items — i.e. linear in "
    "orders, never corpus². Distinct-first collapses repeated parts "
    "per order before pairing; the co-occurrence count partial-"
    "aggregates before its shuffle. The same shape mines token "
    "co-occurrence and item2vec training pairs.",
    tags=("join", "aggregation", "topk", "analytics"),
)
def part_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a_part")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("b_part")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("a_part") < F.col("b_part"))
        .groupBy("a_part", "b_part")
        .agg(F.count(F.lit(1)).alias("n_orders_together"))
    )
    w = Window.orderBy(
        F.col("n_orders_together").desc(), "a_part", "b_part"
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("a_part", "b_part", "n_orders_together")
    )


@register(
    "shipping_delay_stats",
    oracle="""
    WITH d AS (
        SELECT o_orderpriority,
               CAST(datediff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) AS BIGINT)
                   AS delay_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(delay_days) AS BIGINT) AS total_delay_days,
           CAST(sum(delay_days) AS DOUBLE) / count(*) AS avg_delay,
           round(quantile_cont(delay_days, 0.5), 6) AS p50_delay,
           round(quantile_cont(delay_days, 0.9), 6) AS p90_delay,
           CAST(max(delay_days) AS BIGINT) AS max_delay
    FROM d GROUP BY o_orderpriority
    """,
    doc="Operational SLA rollup: order→ship delay in whole days per "
    "priority — exact integer day arithmetic, exact long sum (the "
    "mean is one integer/integer divide), and exact interpolated "
    "percentiles over integers. The orderkey join is the one "
    "shuffle; the delay distribution answers 'does 1-URGENT actually "
    "ship faster' — the question the priority column exists for.",
    tags=("join", "aggregation", "stats"),
)
def shipping_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    d = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        )
        .cast("bigint")
        .alias("delay_days"),
    )
    dd = F.col("delay_days")
    return d.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum(dd).alias("total_delay_days"),
        (F.sum(dd).cast("double") / F.count(F.lit(1))).alias("avg_delay"),
        F.round(F.percentile(dd, F.lit(0.5)), 6).alias("p50_delay"),
        F.round(F.percentile(dd, F.lit(0.9)), 6).alias("p90_delay"),
        F.max(dd).alias("max_delay"),
    )


@register(
    "revenue_share_of_total",
    oracle="""
    WITH rev AS (
        SELECT n_name,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name,
           CAST(cents / 100.0 AS DOUBLE) AS revenue,
           CAST(cents AS DOUBLE) / sum(cents) OVER () AS share_of_total,
           CAST(rank() OVER (ORDER BY cents DESC, n_name) AS BIGINT)
               AS revenue_rank
    FROM rev
    """,
    doc="Percent-of-total: per-nation revenue share via an "
    "unbounded-window sum OVER () — computed on the AGGREGATED "
    "(nation-cardinality) relation, so the single-partition window "
    "that would be a bottleneck on raw data touches 25 rows. Exact "
    "integer cents end to end; one integer/integer divide per share; "
    "rank carries a name tie-break.",
    tags=("window", "aggregation", "join", "analytics"),
)
def revenue_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    na = load(spark, sf_dir, "nation")
    rev = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    w_all = Window.partitionBy()
    c = F.col("cents")
    return rev.select(
        "n_name",
        (c / 100.0).cast("double").alias("revenue"),
        (c.cast("double") / F.sum(c).over(w_all)).alias("share_of_total"),
        F.rank()
        .over(Window.orderBy(c.desc(), "n_name"))
        .cast("bigint")
        .alias("revenue_rank"),
    )


@register(
    "mad_robust_stats",
    oracle="""
    WITH med AS (
        SELECT l_returnflag,
               round(quantile_cont(CAST(l_quantity AS BIGINT), 0.5), 6)
                   AS med_qty
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           m.med_qty,
           round(quantile_cont(
               abs(CAST(l.l_quantity AS BIGINT) - m.med_qty), 0.5), 6)
               AS mad_qty
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, m.med_qty
    """,
    doc="Robust statistics: median absolute deviation per group — the "
    "outlier-resistant spread measure (stddev is hijacked by one bad "
    "tick; MAD is not). Two-pass by necessity (the deviation needs "
    "the median first): pass one aggregates per-group medians "
    "(group-cardinality, broadcast back), pass two takes the median "
    "of absolute deviations. Quantities are exact integers; the "
    "interpolated median is the same deterministic expression both "
    "engines compute.",
    tags=("aggregation", "stats"),
)
def mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    med = li.groupBy("l_returnflag").agg(
        F.round(F.percentile(q, F.lit(0.5)), 6).alias("med_qty")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med_qty")
        .agg(
            F.round(
                F.percentile(F.abs(q - F.col("med_qty")), F.lit(0.5)), 6
            ).alias("mad_qty")
        )
        .select("l_returnflag", "med_qty", "mad_qty")
    )


@register(
    "topk_with_ties",
    oracle="""
    SELECT o_orderstatus, o_orderkey,
           CAST(CAST(round(o_totalprice * 100) AS BIGINT) / 100.0
                AS DOUBLE) AS total_price,
           CAST(rnk AS BIGINT) AS price_rank
    FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                 rank() OVER (
                     PARTITION BY o_orderstatus
                     ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)
                         DESC) AS rnk
          FROM orders)
    WHERE rnk <= 3
    """,
    doc="Top-k WITH TIES (rank ≤ k, not row_number ≤ k): every order "
    "tied at a qualifying price survives, so the result is a "
    "deterministic SET even though price ties exist — the correct "
    "semantics when 'top 3 prices' means prices, not rows. Ranking "
    "on exact integer cents removes float-comparison ambiguity; "
    "Spark's window group-limit pushdown applies to rank() exactly "
    "as to row_number().",
    tags=("window", "topk"),
)
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_orderstatus").orderBy(cents.desc())
    return (
        o.withColumn("price_rank", F.rank().over(w).cast("bigint"))
        .filter(F.col("price_rank") <= 3)
        .select(
            "o_orderstatus",
            "o_orderkey",
            (cents / 100.0).cast("double").alias("total_price"),
            "price_rank",
        )
    )


@register(
    "try_cast_safe_parsing",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT))
                AS BIGINT) AS n_parsed,
           CAST(count(*) FILTER (
               WHERE TRY_CAST(o_orderpriority AS BIGINT) IS NULL)
               AS BIGINT) AS n_unparseable_full,
           CAST(sum(TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT))
                AS BIGINT) AS priority_digit_sum,
           CAST(max(CASE WHEN o_totalprice <> 0
                    THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
                / 100.0 AS DOUBLE) AS max_nonzero_price
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Error-safe parsing family (TRY_CAST semantics): the priority "
    "prefix digit parses, the full '1-URGENT' string does NOT — and "
    "returns NULL instead of failing the query, which is the "
    "difference between one malformed record and a dead 100 TB job. "
    "NULL-skipping aggregates then count/sum only the parseable "
    "values; the guarded division-free max shows the CASE-guard "
    "twin. Pure map-side expressions, byte-identical across engines.",
    tags=("scalar", "aggregation", "quality"),
)
def try_cast_safe_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    digit = F.expr(
        "try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)"
    )
    full = F.expr("try_cast(o_orderpriority AS BIGINT)")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(digit).alias("n_parsed"),
        F.count_if(full.isNull()).alias("n_unparseable_full"),
        F.sum(digit).alias("priority_digit_sum"),
        (
            F.max(F.when(F.col("o_totalprice") != 0, cents)) / 100.0
        )
        .cast("double")
        .alias("max_nonzero_price"),
    )


@register(
    "keyset_pagination",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           o_orderstatus
    FROM orders
    WHERE (CAST(o_orderdate AS DATE), o_orderkey)
              > (DATE '1997-06-15', 1000)
    ORDER BY CAST(o_orderdate AS DATE), o_orderkey
    LIMIT 20
    """,
    doc="Keyset (seek) pagination: the next page after cursor "
    "(1997-06-15, order 1000) via a composite-key range predicate + "
    "TakeOrderedAndProject — the scale-correct pagination. OFFSET n "
    "scans and discards n rows every page (page 10,000 of a 100 TB "
    "table reads half the table); the seek predicate instead pushes "
    "to the scan and each page costs the same. The (date, key) "
    "tuple comparison is spelled as the expanded OR-form in Spark — "
    "identical semantics, same pushdown.",
    tags=("filter", "topk"),
)
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    cursor_d = F.lit("1997-06-15").cast("date")
    after_cursor = (d > cursor_d) | (
        (d == cursor_d) & (F.col("o_orderkey") > 1000)
    )
    return (
        o.filter(after_cursor)
        .select(
            "o_orderkey",
            d.cast("string").alias("order_date"),
            "o_orderstatus",
        )
        .orderBy("order_date", "o_orderkey")
        .limit(20)
    )


@register(
    "benford_first_digit",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT)
                   AS first_digit
        FROM orders WHERE o_totalprice > 0
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d)
    SELECT first_digit,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE) / n_total AS observed_share,
           round(ln(1.0 + 1.0 / first_digit) / ln(10.0), 6)
               AS benford_expected
    FROM d, tot
    GROUP BY first_digit, n_total
    """,
    doc="Benford's-law first-digit profile — the data-forensics check "
    "for fabricated or truncated numeric feeds (real transaction "
    "amounts follow log(1+1/d); synthetic uniform data will NOT, "
    "which this query makes visible). Digit extraction is exact "
    "integer-cents string math; shares are integer ratios; the "
    "expected curve is a rounded closed form. One scan, one "
    "9-bucket aggregation.",
    tags=("aggregation", "stats", "quality"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("bigint").alias(
            "first_digit"
        )
    )
    tot = d.agg(F.count(F.lit(1)).alias("n_total"))
    fd = F.col("first_digit")
    return (
        d.groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "n",
            (F.col("n").cast("double") / F.col("n_total")).alias(
                "observed_share"
            ),
            F.round(
                F.log(1.0 + 1.0 / fd) / F.log(F.lit(10.0)), 6
            ).alias("benford_expected"),
        )
    )


@register(
    "suspicious_duplicate_orders",
    oracle="""
    SELECT o_custkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
           CAST(count(*) AS BIGINT) AS n_duplicates,
           CAST(min(o_orderkey) AS BIGINT) AS first_orderkey,
           CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    HAVING count(*) > 1
    """,
    doc="Double-submission detection: multiple orders by the same "
    "customer on the same calendar day — the business-level duplicate "
    "the row-level dedup operators (D1/D2) cannot see, caught by "
    "grouping on the natural duplicate key with a HAVING filter. "
    "(An earlier revision also keyed on the exact-cents amount; with "
    "continuous synthetic prices that key matches nothing at any test "
    "SF, making the oracle vacuously green — the day-level key yields "
    "rows at sf0.001/0.01/0.1: 1/32/355.) Money folded as exact "
    "integer cents; one hash-agg shuffle, no join.",
    tags=("aggregation", "quality", "dedup"),
)
def suspicious_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.groupBy(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_duplicates"),
            F.min("o_orderkey").alias("first_orderkey"),
            F.sum(cents).alias("total_cents"),
        )
        .filter(F.col("n_duplicates") > 1)
        .select(
            "o_custkey",
            F.col("_day").cast("string").alias("order_day"),
            "n_duplicates",
            "first_orderkey",
            "total_cents",
        )
    )


@register(
    "priority_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderpriority AS to_p,
               lag(o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
                   AS from_p
        FROM orders
    ),
    t AS (
        SELECT from_p, to_p, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE from_p IS NOT NULL GROUP BY from_p, to_p
    ),
    row_tot AS (SELECT from_p, CAST(sum(n) AS BIGINT) AS n_from
                FROM t GROUP BY from_p)
    SELECT t.from_p, t.to_p, t.n,
           CAST(t.n AS DOUBLE) / n_from AS transition_prob
    FROM t JOIN row_tot ON t.from_p = row_tot.from_p
    """,
    doc="First-order Markov transition matrix over each customer's "
    "consecutive order priorities (lag on the (date, orderkey) total "
    "order): the sequence-modeling rollup behind next-action "
    "prediction and behavioral drift detection. One customer-keyed "
    "window, one (from,to)-keyed aggregation, row-normalized with "
    "exact integer ratios — 5×5 output regardless of input size.",
    tags=("window", "aggregation", "analytics"),
)
def priority_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    seq = o.select(
        F.col("o_orderpriority").alias("to_p"),
        F.lag("o_orderpriority").over(w).alias("from_p"),
    ).filter(F.col("from_p").isNotNull())
    t = seq.groupBy("from_p", "to_p").agg(F.count(F.lit(1)).alias("n"))
    row_tot = t.groupBy("from_p").agg(F.sum("n").alias("n_from"))
    return t.join(F.broadcast(row_tot), "from_p").select(
        "from_p",
        "to_p",
        "n",
        (F.col("n").cast("double") / F.col("n_from")).alias(
            "transition_prob"
        ),
    )


def _morton16(x: str, y: str) -> str:
    """Engine-agnostic 16-bit Morton (Z-order) interleave of two 8-bit
    values, as pure integer arithmetic (div/mod/multiply — identical
    semantics in Spark SQL and DuckDB; no engine-specific bit operators)."""
    terms = []
    for i in range(8):
        terms.append(f"(({x} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({y} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "zorder_clustering_key",
    oracle=f"""
    WITH keyed AS (
        SELECT l_partkey, l_suppkey,
               {_morton16('(l_partkey % 256)', '(l_suppkey % 256)')} AS morton
        FROM lineitem
    )
    SELECT CAST(morton // 256 AS BIGINT) AS ztile,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_partkey % 256) AS BIGINT) AS min_x,
           CAST(max(l_partkey % 256) AS BIGINT) AS max_x,
           CAST(min(l_suppkey % 256) AS BIGINT) AS min_y,
           CAST(max(l_suppkey % 256) AS BIGINT) AS max_y
    FROM keyed GROUP BY 1
    """,
    doc="Z-order (Morton) clustering key: interleaves the bits of two "
    "join/filter dimensions so one sort key preserves locality in BOTH "
    "— the layout trick behind Delta Z-ORDER / parquet row-group "
    "skipping on multidimensional predicates. Per 256-key Z-tile the "
    "x/y ranges stay within a 16x16 square (asserted by the oracle "
    "min/max), i.e. sortWithinPartitions(morton) yields tight min/max "
    "stats on both columns at 100 TB. Pure integer div/mod arithmetic "
    "- engine-portable and codegen-friendly.",
    tags=("scale", "layout", "aggregation"),
)
def zorder_clustering_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    morton_expr = _morton16("(l_partkey % 256)", "(l_suppkey % 256)").replace(
        "//", "div"
    )
    keyed = li.select(
        "l_partkey", "l_suppkey", F.expr(morton_expr).alias("morton")
    )
    return keyed.groupBy(
        F.expr("morton div 256").cast("bigint").alias("ztile")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.min(F.col("l_partkey") % 256)).cast("bigint").alias("min_x"),
        (F.max(F.col("l_partkey") % 256)).cast("bigint").alias("max_x"),
        (F.min(F.col("l_suppkey") % 256)).cast("bigint").alias("min_y"),
        (F.max(F.col("l_suppkey") % 256)).cast("bigint").alias("max_y"),
    )


@register(
    "customer_order_distribution",
    oracle="""
    SELECT c_count,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM (
        SELECT c.c_custkey,
               CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: customers-per-order-count histogram. The "
    "LEFT join preserves zero-order customers (count(o_orderkey) "
    "counts only matches — an inner join would silently drop the 0 "
    "bucket), with a pushed-down non-join predicate on the orders "
    "side. Two aggregations: per-customer count, then the "
    "distribution; the first groupBy reuses the join's hash "
    "partitioning on custkey, so only one wide shuffle plus the tiny "
    "final one.",
    tags=("join", "aggregation"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per = (
        cu.join(od, cu.c_custkey == od.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "fk_integrity_check",
    oracle="""
    SELECT 'orders.o_custkey -> customer.c_custkey' AS relationship,
           CAST(count(*) AS BIGINT) AS n_orphans
    FROM orders o
    WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
           CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE l.l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem.l_partkey -> part.p_partkey',
           CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE l.l_partkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier.s_suppkey',
           CAST(count(*) AS BIGINT)
    FROM lineitem l
    WHERE l.l_suppkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation.n_nationkey',
           CAST(count(*) AS BIGINT)
    FROM customer c
    WHERE c.c_nationkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM nation n
                      WHERE n.n_nationkey = c.c_nationkey)
    """,
    doc="Referential-integrity audit — the dbt `relationships` test, "
    "completing the reference's declarative test family (unique / "
    "not_null / accepted_values, marts_eurusd.yml). Each FK edge is a "
    "LEFT ANTI join (dimension side broadcast) counting orphans; NULL "
    "keys are excluded per dbt semantics. 0 rows violated = pass, and "
    "the query returns the per-edge audit table a warehouse would "
    "alert on.",
    tags=("quality", "join"),
)
def fk_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _anti_edge(child: str, fk: str, parent: str, pk: str) -> DataFrame:
        ch = load(spark, sf_dir, child).filter(F.col(fk).isNotNull())
        pa = load(spark, sf_dir, parent).select(pk)
        return (
            ch.join(F.broadcast(pa), ch[fk] == pa[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(
                F.lit(f"{child}.{fk} -> {parent}.{pk}").alias(
                    "relationship"
                ),
                "n_orphans",
            )
        )

    # The fact table's three FK edges share ONE lineitem pass (was: 3
    # separate scans, one per anti-join branch): probe each parent key
    # set with a left join + null-match indicator, count all three
    # orphan tallies in a single aggregate. The part/supplier parents
    # are true dimensions and stay broadcast; the orders probe is left
    # to the planner — the old form FORCED a broadcast of orders,
    # which is data-proportional, not a dimension (a 100 TB driver
    # OOM waiting to happen).
    # The single-pass probe replaces anti-joins with left joins, which
    # are only count-preserving when parent keys are UNIQUE — a
    # duplicated parent key would fan out fact rows and corrupt the
    # OTHER edges' orphan tallies (the old per-edge anti-join was
    # immune). TPC-H PKs are unique, but an FK *integrity audit* is
    # exactly the operator that meets dirty data: dropDuplicates() on
    # the three parent-key projections is cheap insurance
    # (dimension-sized for part/supplier; one extra same-key aggregate
    # for orders that shares the probe join's partitioning at scale)
    # and provably a no-op on clean parents.
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    ordk = load(spark, sf_dir, "orders").select("o_orderkey").dropDuplicates()
    partk = load(spark, sf_dir, "part").select("p_partkey").dropDuplicates()
    suppk = (
        load(spark, sf_dir, "supplier").select("s_suppkey").dropDuplicates()
    )
    probed = (
        li.join(
            F.broadcast(partk), li.l_partkey == partk.p_partkey, "left"
        )
        .join(F.broadcast(suppk), li.l_suppkey == suppk.s_suppkey, "left")
        .join(ordk, li.l_orderkey == ordk.o_orderkey, "left")
    )

    def _orphans(fk: str, pk: str) -> F.Column:
        # NULL FKs are excluded per dbt relationship-test semantics;
        # coalesce keeps the count 0 (not NULL) on an empty fact table,
        # matching the anti-join count() the oracle computes.
        return F.coalesce(
            F.sum(
                F.when(
                    F.col(fk).isNotNull() & F.col(pk).isNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint")

    li_edges = (
        probed.agg(
            _orphans("l_orderkey", "o_orderkey").alias("ord_o"),
            _orphans("l_partkey", "p_partkey").alias("part_o"),
            _orphans("l_suppkey", "s_suppkey").alias("supp_o"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(
                            "lineitem.l_orderkey -> orders.o_orderkey"
                        ).alias("relationship"),
                        F.col("ord_o").alias("n_orphans"),
                    ),
                    F.struct(
                        F.lit(
                            "lineitem.l_partkey -> part.p_partkey"
                        ).alias("relationship"),
                        F.col("part_o").alias("n_orphans"),
                    ),
                    F.struct(
                        F.lit(
                            "lineitem.l_suppkey -> supplier.s_suppkey"
                        ).alias("relationship"),
                        F.col("supp_o").alias("n_orphans"),
                    ),
                )
            ).alias("e")
        )
        .select("e.relationship", "e.n_orphans")
    )
    return (
        _anti_edge("orders", "o_custkey", "customer", "c_custkey")
        .unionByName(li_edges)
        .unionByName(
            _anti_edge("customer", "c_nationkey", "nation", "n_nationkey")
        )
    )


@register(
    "source_freshness_audit",
    oracle="""
    WITH per AS (
        SELECT event_type, max(ts) AS latest, count(*) AS n_events
        FROM events GROUP BY event_type
    ),
    now_ref AS (SELECT max(latest) AS now FROM per)
    SELECT p.event_type,
           p.latest,
           CAST(p.n_events AS BIGINT) AS n_events,
           CAST(epoch_ms(n.now) - epoch_ms(p.latest) AS BIGINT)
               AS staleness_ms,
           CAST(epoch_ms(n.now) - epoch_ms(p.latest) > 3600000
                AS BOOLEAN) AS is_stale
    FROM per p CROSS JOIN now_ref n
    """,
    doc="Source-freshness audit — the dbt `source freshness` check: "
    "per-series latest event time and staleness versus the feed's "
    "global high watermark (deterministic 'now'), with a 1-hour "
    "warn_after threshold. The global watermark is a one-row "
    "broadcast cross join — no skew, no second scan at 100 TB "
    "(both aggregates reuse the same shuffle).",
    tags=("quality", "aggregation"),
)
def source_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest"), F.count(F.lit(1)).alias("n_events")
    )
    now_ref = per.agg(F.max("latest").alias("now"))
    j = per.crossJoin(F.broadcast(now_ref))
    stale_ms = F.expr(
        "unix_micros(CAST(now AS TIMESTAMP)) div 1000"
        " - unix_micros(CAST(latest AS TIMESTAMP)) div 1000"
    )
    return j.select(
        "event_type", "latest",
        F.col("n_events").cast("bigint").alias("n_events"),
        stale_ms.cast("bigint").alias("staleness_ms"),
        (stale_ms > 3600000).alias("is_stale"),
    )


_SQL_NOT_IN_TRAP = """
    WITH keys AS (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT CAST(NULL AS BIGINT)
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM keys)) AS n_not_in,
        (SELECT CAST(count(*) AS BIGINT) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM keys k
                           WHERE k.o_custkey = c.c_custkey)) AS n_not_exists
"""


@register(
    "not_in_null_trap",
    oracle=_SQL_NOT_IN_TRAP,
    doc="Three-valued-logic parity check: NOT IN against a subquery "
    "containing a NULL returns zero rows (x <> NULL is UNKNOWN for "
    "every x), while NOT EXISTS with an equality correlation ignores "
    "the NULL and returns the real complement. Identical ANSI text on "
    "both engines; the two scalar counts make the trap explicit "
    "(n_not_in = 0, n_not_exists = the true count). Catalyst compiles "
    "NOT IN to a null-aware anti join — a different (and more "
    "expensive) physical operator than the left-anti of NOT EXISTS.",
    tags=("sql", "subquery", "null-semantics"),
)
def not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_NOT_IN_TRAP)


_SQL_MULTI_EXISTS = """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1
                  FROM lineitem l1 JOIN lineitem l2
                    ON l1.l_orderkey = l2.l_orderkey
                   AND l1.l_suppkey <> l2.l_suppkey
                  WHERE l1.l_orderkey = o.o_orderkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem lr
                      WHERE lr.l_orderkey = o.o_orderkey
                        AND lr.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
"""


@register(
    "multi_exists_order_audit",
    oracle=_SQL_MULTI_EXISTS,
    doc="TPC-H Q21 shape: one positive EXISTS (order touched by at "
    "least two distinct suppliers — a self-join inside the subquery) "
    "and one NOT EXISTS (no returned line) correlated to the same "
    "outer row. Catalyst decorrelates both into a semi + anti join "
    "chain on l_orderkey, so each is a keyed shuffle, not a per-row "
    "probe. Identical ANSI text on both engines.",
    tags=("sql", "subquery", "join"),
)
def multi_exists_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_MULTI_EXISTS)


_SQL_DORMANT_RICH = """
    WITH t AS (
        SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS total_c,
               CAST(count(*) AS BIGINT) AS n
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_acctbal_cents
    FROM customer c CROSS JOIN t
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * t.n > t.total_c
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01')
    GROUP BY c.c_mktsegment
"""


@register(
    "dormant_rich_customers",
    oracle=_SQL_DORMANT_RICH,
    doc="TPC-H Q22 shape: above-average-balance customers DORMANT "
    "since 2000-01-01 (no orders on/after the cutoff), per market "
    "segment. The average threshold is compared by integer cross-"
    "multiplication (cents x n > total_cents) instead of a float "
    "avg() — an order-dependent double average would make the "
    "boundary rows engine-dependent; this way the predicate is exact "
    "at any parallelism. (Q22's literal 'no orders at all' is "
    "vacuous on this corpus — every customer orders at sf<=0.1 — so "
    "dormancy is a recency cutoff: 5/55/646 rows at "
    "sf0.001/0.01/0.1.) One-row aggregate cross-joined (broadcast), "
    "then an anti join against recent orders. Identical ANSI text on "
    "both engines.",
    tags=("sql", "subquery", "join", "aggregation"),
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_DORMANT_RICH)


#: fuzzy_name_pairs chunk-pair fan-out: rows-per-chunk target. Blocks
#: are ~125 forever on this corpus (the business keys carry all the
#: entropy), so per-block rows ~ n_cust/125 and a one-task-per-block
#: GEMM saturates ~10x beyond sf10 (1.5M customers). C =
#: clamp(n_cust/_FZ_CHUNK_ROWS, 1, 16) keeps C=1 (identical plan) at
#: every bench SF and splits the quadratic in-block work into
#: C(C+1)/2 tasks beyond. Tests force it small to pin branch equality.
_FZ_CHUNK_ROWS = 2_000_000


@register(
    "fuzzy_name_pairs",
    oracle="""
    WITH blocked AS (
        SELECT c_nationkey, c_mktsegment,
               strlen(c_name) AS name_len,
               substr(c_name, 1, 4) AS name_pfx,
               c_custkey, c_name
        FROM customer
    )
    SELECT a.c_nationkey, a.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_close_pairs,
           CAST(min(levenshtein(a.c_name, b.c_name)) AS BIGINT) AS min_dist
    FROM blocked a JOIN blocked b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.name_len = b.name_len
     AND a.name_pfx = b.name_pfx
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    GROUP BY a.c_nationkey, a.c_mktsegment
    """,
    doc="Blocked fuzzy string-similarity join: candidate pairs are "
    "generated only within (nation, segment, name-length, 4-char-"
    "prefix) blocks. The length and prefix components make block "
    "cardinality GROW with data diversity (the business keys alone "
    "are ~125 blocks forever, so block size — and in-block quadratic "
    "cost — would grow linearly with the corpus). NOTE the semantic "
    "trade: equality blocking on length/prefix is APPROXIMATE for "
    "free-form names (a lev<=2 pair differing by an indel or a "
    "first-4-chars edit lands in different blocks — the standard "
    "blocking-recall trade of entity resolution); on this corpus the "
    "pair set is UNCHANGED, asserted against an exhaustive "
    "business-key-only levenshtein join by tests/test_skew_bucketing"
    ".py::test_fuzzy_blocking_is_lossless_on_current_names.\n\n"
    "The in-block verify is EXACT and DP-FREE, built on an identity "
    "for equal-length strings (block keys guarantee equal length): "
    "lev(a,b) <= 2 iff hamming(a,b) <= 2 (in which case lev = "
    "hamming — a cost-2 edit script on equal lengths is either <=2 "
    "substitutions or one insert+delete pair, and lev=1 needs "
    "hamming=1) OR a and b share a 1-deletion variant (the "
    "insert+delete 'shift' case, in which case lev = 2 exactly when "
    "hamming > 2). Both sides run vectorized inside ONE Arrow-batched "
    "applyInPandas kernel per block: (1) hamming candidates come from "
    "a hashed positional one-hot float32 GEMM — match-count M >= "
    "true matches, so M >= L-2 is a sound superset — re-checked with "
    "an exact vectorized codepoint compare; (2) shift pairs come "
    "from an exact numpy uniqueness scan over all n*L one-deletion "
    "variants. The kernel emits ONE aggregate row per block "
    "(pair count + min dist): nothing pair-sized ever leaves the "
    "executors, and the driver-side plan is a 125-row groupBy.\n\n"
    "History of measured alternatives (rounds 3-7, kept as the "
    "engineering record): a broadcast-hint revision died at plan "
    "time at scale; the salted shuffle equi-join + JVM banded "
    "levenshtein (threshold form) with a share-free thermometer-bag "
    "prefilter in the join condition reached the Catalyst floor of "
    "~80ns per candidate — 7.3s at sf1 but 345s at sf10, because "
    "candidates on this degenerate fixed-format corpus (every name "
    "'Customer#%09d', ~125 blocks forever) are Theta(n^2) BY DATA "
    "CONSTRUCTION and no sound content-blocking can split them "
    "(the entropy is ~log10(n) digits). The GEMM kernel does the "
    "same quadratic candidate work at BLAS throughput instead: "
    "sf10 345s -> ~35s, sf1 7.3s -> ~2s, oracle hash unchanged at "
    "every scale.\n\n"
    "Chunk-pair fan-out (round 8, the simhash/embedding-LSH "
    "pattern): blocks are ~125 forever on this corpus, so per-block "
    "rows grow linearly and a one-task-per-block GEMM becomes a "
    "straggler ~10x beyond sf10. Rows hash into C chunks "
    "(C = clamp(n_cust / _FZ_CHUNK_ROWS, 1, 16)); each block becomes "
    "C(C+1)/2 chunk-pair groups, each computing only its cross-chunk "
    "(or in-chunk, on the diagonal) pairs — every unordered pair "
    "lands in exactly one group, so the union over groups is the "
    "single-block result by construction. C=1 degenerates to the "
    "single-task-per-block plan (one group per block), so there is "
    "ONE code path and no branch to diverge; "
    "tests/test_skew_bucketing.py pins forced-fan-out == C=1 == "
    "oracle at test scale.",
    tags=("join", "text", "similarity"),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    cu = load(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment",
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 4).alias("name_pfx"),
        "c_custkey", "c_name",
    )
    # one driver scalar (metadata-cheap count) sizes the fan-out; at
    # bench SFs C=1 and the plan is the familiar one-task-per-block
    n_cust = cu.count()
    n_chunks = int(min(16, max(1, n_cust // _FZ_CHUNK_ROWS)))
    chunk_pairs = spark.createDataFrame(
        [(a, b) for a in range(n_chunks) for b in range(a, n_chunks)],
        "ca int, cb int",
    )

    def block_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        empty = pd.DataFrame(
            {
                "c_nationkey": pd.Series([], dtype="int32"),
                "c_mktsegment": pd.Series([], dtype="object"),
                "n_close_pairs": pd.Series([], dtype="int64"),
                "min_dist": pd.Series([], dtype="int64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        ca = int(pdf["ca"].iloc[0])
        cb = int(pdf["cb"].iloc[0])
        ch = pdf["c"].to_numpy(dtype=np.int64)
        names = pdf["c_name"].tolist()
        ids = pdf["c_custkey"].to_numpy(dtype=np.int64)
        lch = int(pdf["name_len"].iloc[0])
        diag = ca == cb
        ia = np.nonzero(ch == ca)[0]
        ib = ia if diag else np.nonzero(ch == cb)[0]
        if len(ia) == 0 or len(ib) == 0 or (diag and len(ia) < 2):
            return empty
        # codepoint matrix — unicode-safe, and the block key guarantees
        # every name here has exactly lch characters
        u32 = np.array(
            [[ord(c) for c in s] for s in names], dtype=np.uint32
        )
        # (1) hamming <= 2 via hashed one-hot GEMM superset + exact check
        sym = ((u32 * np.uint32(131)) + np.uint32(7)) % np.uint32(8)
        x = np.zeros((n, lch * 8), dtype=np.float32)
        x[
            np.arange(n)[:, None],
            np.arange(lch)[None, :] * 8 + sym.astype(np.int64),
        ] = 1.0
        xb, idb, ub = x[ib], ids[ib], u32[ib]
        dists: "dict[tuple[int, int], int]" = {}
        step = max(1, (1 << 22) // max(1, len(ib)))
        for s0 in range(0, len(ia), step):
            sl = ia[s0:s0 + step]
            m = x[sl] @ xb.T  # hashed match count >= true matches
            cand = m >= np.float32(lch - 2)
            if diag:
                cand &= ids[sl][:, None] < idb[None, :]
            rr, cc = np.nonzero(cand)
            if len(rr) == 0:
                continue
            ham = (u32[sl][rr] != ub[cc]).sum(axis=1)
            k = ham <= 2
            for a, b, d in zip(ids[sl][rr][k], idb[cc][k], ham[k]):
                a, b = int(a), int(b)
                # cross groups see each unordered pair once, in
                # arbitrary id order — canonicalize
                dists[(min(a, b), max(a, b))] = int(d)
        # (2) shift pairs: exact uniqueness scan over 1-deletion
        # variants of every row in the group; a cross pair counts only
        # when its members sit in opposite chunks (diag: both in ca)
        if lch >= 2:
            var = np.empty((lch * n, lch - 1), dtype=np.uint32)
            for i in range(lch):
                var[i * n:(i + 1) * n, :i] = u32[:, :i]
                var[i * n:(i + 1) * n, i:] = u32[:, i + 1:]
            vid = np.tile(ids, lch)
            vch = np.tile(ch, lch)
            flat = np.ascontiguousarray(var).view(
                np.dtype((np.void, var.dtype.itemsize * (lch - 1)))
            ).ravel()
            order = np.argsort(flat, kind="stable")
            fs = flat[order]
            starts = np.flatnonzero(
                np.r_[True, fs[1:] != fs[:-1]]
            )
            ends = np.r_[starts[1:], len(fs)]
            for g0, g1 in zip(starts, ends):
                if g1 - g0 < 2:
                    continue
                sel = order[g0:g1]
                gids, gch = vid[sel], vch[sel]
                if diag:
                    amem = np.unique(gids)
                    for ii in range(len(amem)):
                        for jj in range(ii + 1, len(amem)):
                            key = (int(amem[ii]), int(amem[jj]))
                            if key not in dists:
                                dists[key] = 2
                else:
                    amem = np.unique(gids[gch == ca])
                    bmem = np.unique(gids[gch == cb])
                    for a in amem:
                        for b in bmem:
                            a2, b2 = int(a), int(b)
                            key = (min(a2, b2), max(a2, b2))
                            if key not in dists:
                                dists[key] = 2
        if not dists:
            return empty
        return pd.DataFrame(
            {
                "c_nationkey": [int(pdf["c_nationkey"].iloc[0])],
                "c_mktsegment": [pdf["c_mktsegment"].iloc[0]],
                "n_close_pairs": [len(dists)],
                "min_dist": [min(dists.values())],
            }
        )

    fanned = (
        cu.withColumn(
            "c",
            F.pmod(F.xxhash64("c_custkey"), F.lit(n_chunks)).cast("int"),
        )
        .crossJoin(F.broadcast(chunk_pairs))
        .filter((F.col("ca") == F.col("c")) | (F.col("cb") == F.col("c")))
    )
    per_block = fanned.groupBy(
        "c_nationkey", "c_mktsegment", "name_len", "name_pfx",
        "ca", "cb",
    ).applyInPandas(
        block_kernel,
        "c_nationkey int, c_mktsegment string, "
        "n_close_pairs long, min_dist long",
    )
    return per_block.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_close_pairs").cast("bigint").alias("n_close_pairs"),
        F.min("min_dist").cast("bigint").alias("min_dist"),
    )


_SQL_RECURSIVE_HIERARCHY = """
    WITH RECURSIVE chain AS (
        SELECT c_custkey, CAST(c_custkey AS BIGINT) AS node,
               CAST(0 AS BIGINT) AS depth
        FROM customer
        UNION ALL
        SELECT c_custkey, CAST(floor(node / 10.0) AS BIGINT), depth + 1
        FROM chain WHERE node >= 10
    )
    SELECT c_custkey, node AS root_key, depth
    FROM chain WHERE node < 10
"""


@register(
    "recursive_cte_hierarchy",
    oracle=_SQL_RECURSIVE_HIERARCHY,
    doc="Recursive CTE (Spark >= 4.0): every customer key walks a "
    "synthetic parent chain (parent = key/10) to its root, returning "
    "root and depth — the org-chart / BOM-explosion query class that "
    "previously needed driver-side iteration (cf. dedup_clusters' "
    "iterative min-label propagation). Identical ANSI text on both "
    "engines; each recursion step is one self-join the engine "
    "schedules, state bounded by the frontier.",
    tags=("sql", "recursive", "hierarchy"),
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_RECURSIVE_HIERARCHY)


_SQL_LATERAL_TOPK = """
    SELECT n.n_name, x.c_custkey, x.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2
    ) x
"""


@register(
    "lateral_topk_per_nation",
    oracle=_SQL_LATERAL_TOPK,
    doc="Correlated LATERAL derived table (top-2 customers by balance "
    "per nation): the SQL-standard spelling of per-group top-k. "
    "Catalyst decorrelates the LATERAL into a ranked window + filter "
    "instead of 25 separate scans — same plan as the "
    "row_number formulation (q:topk_orders_per_customer), different "
    "surface. Identical ANSI text on both engines; unique tie-break "
    "key keeps the LIMIT deterministic.",
    tags=("sql", "join", "subquery", "topk"),
)
def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_TOPK)


_SQL_TRAILING_7D = """
    SELECT o_custkey, o_orderdate,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rev_7d_cents,
           CAST(count(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_orders_7d
    FROM orders
"""


@register(
    "trailing_window_interval_frame",
    oracle=_SQL_TRAILING_7D,
    doc="Time-based RANGE frame (RANGE BETWEEN INTERVAL 7 DAY "
    "PRECEDING): trailing 7-day spend per customer — unlike a ROWS "
    "frame, the window is defined by event-time distance, so gaps and "
    "same-day peer rows are handled per the SQL standard (peers enter "
    "together). Exact integer cents inside the frame sum. Identical "
    "ANSI text on both engines; one sort per customer partition.",
    tags=("sql", "window", "timeseries"),
)
def trailing_window_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_TRAILING_7D)


@register(
    "hll_sketch_rollup",
    oracle=None,  # HLL sketches are Spark-native (no DuckDB twin);
    # the driver runs its rows-only check, and tests/test_properties.py
    # asserts merge-associativity + <5% error vs the exact count.
    doc="Mergeable HyperLogLog sketches (hll_sketch_agg / "
    "hll_union_agg / hll_sketch_estimate): per series-day sketches of "
    "the user population are built once, then UNIONED per series — "
    "the pre-aggregated-rollup pattern that makes distinct-count "
    "dashboards O(sketch) instead of O(raw rescan) at 100 TB. The "
    "day sketches are reusable state: any date range's distinct count "
    "is a union over stored sketches, never a raw recount.",
    tags=("aggregation", "approx", "scale"),
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(CAST(user_id AS STRING))").alias("sk"))
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("bigint")
        .alias("est_distinct_users"),
    )


@register(
    "union_by_name_evolution",
    oracle="""
    WITH u AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders
        UNION ALL
        SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_price,
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_priority
    FROM u
    """,
    doc="Schema-evolving union (unionByName(allowMissingColumns=True)): "
    "two vintages of the orders extract — one carries price, the newer "
    "one priority — stack by COLUMN NAME with absent columns "
    "null-filled, the append pattern when a feed adds or drops fields "
    "mid-history (positional UNION would silently misalign). The "
    "oracle spells out the null-fill the operator performs.",
    tags=("set-ops", "schema"),
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    old_vintage = od.select("o_orderkey", "o_totalprice")
    new_vintage = od.select("o_orderkey", "o_orderpriority")
    u = old_vintage.unionByName(new_vintage, allowMissingColumns=True)
    return u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_price"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_priority"),
    )


@register(
    "asof_join_with_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT arg_max(c.value, c.ts) FROM events c
            WHERE c.event_type = 'click'
              AND c.user_id = p.user_id
              AND c.ts <= p.ts
              AND c.ts >= p.ts - INTERVAL 1 HOUR) AS click_value_1h
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
    doc="AS-OF join with a staleness tolerance: the latest prior click "
    "counts only if it is at most 1 hour old — the production guard "
    "that plain as-of joins silently lack (an unbounded lookback "
    "happily attributes a purchase to a week-old quote). Same one-"
    "shuffle union+window kernel; the matched timestamp rides along "
    "and the tolerance is a post-filter, so no extra join.",
    tags=("join", "timeseries", "window"),
)
def asof_join_with_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "value")
        .withColumn("click_ts", F.col("ts"))
    )
    out = asof_join(
        purchases, clicks, ["user_id"], "ts", "ts",
        ["value", "click_ts"], suffix="_m",
    )
    fresh = F.col("click_ts_m") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return out.select(
        "event_id", "user_id", "ts",
        F.when(fresh, F.col("value_m")).alias("click_value_1h"),
    )


# ------------------------------------------- TPC-H shapes, second wave

@register(
    "bilateral_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           {_cents_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN region r1 ON r1.r_regionkey = n1.n_regionkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE ((r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
        OR (r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                           AND TIMESTAMP '1997-12-31'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape (volume shipping): revenue flowing between two "
    "trading blocs per supplier/customer nation and year, via the "
    "8-table chain lineitem-supplier-nation-region x orders-customer-"
    "nation-region. Bloc filtering is at REGION granularity (nation "
    "pairs are too sparse to guarantee rows at every test SF — sf0.001 "
    "carries only 10 suppliers); nation+region are broadcast on both "
    "legs; money in exact cents. The date range prunes the fact scan.",
    tags=("sql", "join", "aggregation"),
)
def bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp_ntz"),
            F.lit("1997-12-31").cast("timestamp_ntz"),
        )
    )
    su = load(spark, sf_dir, "supplier")
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    na = load(spark, sf_dir, "nation")
    re = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n1 = na.join(
        F.broadcast(re), na.n_regionkey == re.r_regionkey
    ).select(
        F.col("n_nationkey").alias("s_nkey"),
        F.col("n_name").alias("supp_nation"),
        F.col("r_name").alias("supp_region"),
    )
    n2 = na.join(
        F.broadcast(re), na.n_regionkey == re.r_regionkey
    ).select(
        F.col("n_nationkey").alias("c_nkey"),
        F.col("n_name").alias("cust_nation"),
        F.col("r_name").alias("cust_region"),
    )
    j = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            (
                (F.col("supp_region") == "EUROPE")
                & (F.col("cust_region") == "ASIA")
            )
            | (
                (F.col("supp_region") == "ASIA")
                & (F.col("cust_region") == "EUROPE")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
    ).agg(
        _cents_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
        )
    )


@register(
    "market_share_by_year",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
               THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT) ELSE 0 END) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(CAST(round(
                 l.l_extendedprice * (1 - l.l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS DOUBLE) AS mkt_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
    GROUP BY 1
    """,
    doc="TPC-H Q8 shape (national market share): within one region's "
    "market for one part type, the share of revenue supplied by one "
    "nation, per order year. Numerator and denominator are both exact "
    "integer-cents sums folded in ONE aggregation (conditional sum), "
    "so the share is a single correctly-rounded division — no "
    "float-order dependence at any parallelism. 8-table join tree: "
    "region/nation broadcast, the customer-region filter prunes "
    "before the fact join.",
    tags=("sql", "join", "aggregation"),
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    su = load(spark, sf_dir, "supplier")
    od = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    na = load(spark, sf_dir, "nation")
    re = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = na.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = na.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(re), F.col("c_rkey") == F.col("r_regionkey"))
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", cents).otherwise(F.lit(0))
    )
    den = F.sum(cents)
    return j.groupBy(
        F.year("o_orderdate").cast("bigint").alias("o_year")
    ).agg((num.cast("double") / den.cast("double")).alias("mkt_share"))


@register(
    "returned_items_top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_cents_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY 1, 2, 3
    ORDER BY sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned items): the 20 customers who "
    "returned the most revenue in a half-year window. Revenue ranked "
    "on the exact integer-cents sum (ties then broken by the unique "
    "c_custkey) so the LIMIT frontier is deterministic — ranking on "
    "the rounded double could reorder equal-cents neighbors. Global "
    "top-k via TakeOrderedAndProject after a keyed agg; date filter "
    "prunes orders before the fact join.",
    tags=("sql", "join", "aggregation", "topk"),
)
def returned_items_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = load(spark, sf_dir, "customer")
    od = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    na = load(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    agg = (
        cu.join(od, cu.c_custkey == od.o_custkey)
        .join(li, od.o_orderkey == li.l_orderkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
        )
    )
    return (
        agg.orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            (F.col("revenue_cents").cast("double") / 100.0).alias("revenue"),
        )
    )


@register(
    "shipping_delay_distribution",
    oracle="""
    SELECT o.o_orderpriority,
           CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) < 30
                THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) < 90
                THEN 'normal'
                ELSE 'slow' END AS delay_class,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
    doc="TPC-H Q12 shape adapted to the available columns (no "
    "l_shipmode/commit/receipt dates in this corpus): line-level "
    "shipping delay (o_orderdate -> l_shipdate, whole days — exact "
    "on midnight-aligned timestamps) bucketed fast/normal/slow and "
    "cross-tabbed against order priority. One fact-fact equi-join "
    "then a tiny-key agg; the CASE is pure integer comparison.",
    tags=("sql", "join", "aggregation"),
)
def shipping_delay_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    cls = (
        F.when(delay < 30, "fast").when(delay < 90, "normal").otherwise("slow")
    )
    return (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority", cls.alias("delay_class"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "promo_revenue_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(CAST(sum(CASE WHEN p.p_type = 'PROMO'
               THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT) ELSE 0 END) AS BIGINT) AS BIGINT)
               AS promo_cents,
           CAST(CAST(sum(CAST(round(
               l.l_extendedprice * (1 - l.l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS BIGINT) AS total_cents,
           CAST(CAST(sum(CASE WHEN p.p_type = 'PROMO'
               THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT) ELSE 0 END) AS BIGINT) AS DOUBLE)
           / CAST(CAST(sum(CAST(round(
                 l.l_extendedprice * (1 - l.l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS DOUBLE) AS promo_share
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    """,
    doc="TPC-H Q14 shape (promotion effect), per ship year: promo and "
    "total revenue as exact integer cents in one conditional "
    "aggregation, share = one division of the two exact sums — the "
    "same single-agg discipline as market_share_by_year. The "
    "part join broadcasts at dim scale; at fact-fact scale it rides "
    "a shuffle join on partkey.",
    tags=("sql", "join", "aggregation"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    )
    total = F.sum(cents)
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .groupBy(F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(
            promo.alias("promo_cents"),
            total.alias("total_cents"),
            (promo.cast("double") / total.cast("double")).alias("promo_share"),
        )
    )


@register(
    "brand_quantity_revenue",
    oracle=f"""
    SELECT {_cents_sum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#2'
           AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_brand = 'Brand#15'
           AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_brand = 'Brand#23'
           AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
    """,
    doc="TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three "
    "brand/size/quantity predicate conjunctions unioned by OR across "
    "a part join — the disjunctive-predicate pattern that exercises "
    "Catalyst's CNF conversion and partial pushdown (the p_brand/"
    "p_size legs prune the part side before the join; the quantity "
    "legs prune lineitem). Single-row exact-cents answer.",
    tags=("sql", "join", "aggregation"),
)
def brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#2") & q.between(1, 11) & s.between(1, 5))
        | ((b == "Brand#15") & q.between(10, 20) & s.between(1, 10))
        | ((b == "Brand#23") & q.between(20, 30) & s.between(1, 15))
    )
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .filter(cond)
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ------------------------------------------------ global-rank derived ops

@register(
    "equi_depth_histogram",
    oracle="""
    WITH ranked AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               row_number() OVER (
                   ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                            o_orderkey) AS rn,
               (SELECT count(*) FROM orders) AS n
        FROM orders)
    SELECT CAST((rn - 1) * 16 // n + 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(CAST(sum(cents) AS BIGINT) AS BIGINT) AS total_cents
    FROM ranked
    GROUP BY 1
    """,
    doc="Equi-depth (equal-height) 16-bucket histogram of order value — "
    "the optimizer-statistics / quantile-binning primitive the "
    "equi-WIDTH price_histogram can't provide under skew. The global "
    "rank comes from operators/ranking.py global_rank (range "
    "repartition + per-partition offsets + partition-local windows), "
    "NOT an ORDER-BY-only window: no single task ever holds the whole "
    "relation, so the plan survives 100 TB. Bucket assignment "
    "((rank-1)·B div N) is pure integer math on the exact cents key "
    "with o_orderkey as the total-order tie-break — identical in any "
    "engine; the oracle's single-window row_number is the semantic "
    "twin at oracle scale.",
    tags=("aggregation", "rank", "statistics"),
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank

    orders = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    ranked, n = global_rank(orders, ["cents", "o_orderkey"], rank_col="rn")
    return (
        ranked.select(
            # exact integer floor-div, bit-identical to the oracle's //
            F.expr(f"(rn - 1) * 16 div {n}").alias("_b"),
            "cents",
        )
        .groupBy((F.col("_b") + 1).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


@register(
    "per_key_hash_sample",
    oracle="""
    SELECT o_orderpriority, o_orderkey, CAST(sample_rank AS BIGINT)
               AS sample_rank
    FROM (
        SELECT o_orderpriority, o_orderkey,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey)
                   AS sample_rank
        FROM orders)
    WHERE sample_rank <= 20
    """,
    doc="Deterministic fixed-n-per-group sampling (the distributed "
    "replacement for reservoir sampling when reproducibility matters): "
    "rank rows within each group by a cryptographic hash of their key "
    "and keep the first n — a uniform-ish, seedless, rerun-stable "
    "sample. Unlike rand()-based sampling it is idempotent across "
    "retries and engines. The row_number window is group-limit "
    "pushed (each partition keeps only its running top-20), one "
    "shuffle on the group key. Complements stratified_sample "
    "(fraction-per-stratum) with exact-count-per-stratum semantics.",
    tags=("sampling", "window"),
)
def per_key_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), "o_orderkey"
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.row_number().over(w).cast("bigint").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= 20)
    )


# ------------------------------------------------ more TPC-H query shapes

@register(
    "discount_band_revenue",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           {_cents_sum_sql('l_extendedprice * l_discount',
                           'discount_revenue')},
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    GROUP BY 1
    """,
    doc="TPC-H Q6 shape (forecasting revenue change): pure "
    "scan-filter-aggregate with BETWEEN + range predicates — no join, "
    "so the whole query is one WholeStageCodegen span over the "
    "parquet scan with both predicates pushed to the reader "
    "(PushedFilters on l_discount/l_quantity) and only three columns "
    "read. Revenue = Σ price·discount in exact integer cents, grouped "
    "per ship year. The canonical 'is pushdown actually working' "
    "probe: at 100 TB this query's cost is exactly the row groups the "
    "min/max stats can't skip.",
    tags=("sql", "filter", "aggregation"),
)
def discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .groupBy(F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * F.col("l_discount"),
                "discount_revenue",
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "top_revenue_suppliers",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(
                   l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                   AS BIGINT) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_cents AS BIGINT) AS total_cents,
           CAST(r.total_cents AS DOUBLE) / 100.0 AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
    """,
    doc="TPC-H Q15 shape (top supplier): quarterly revenue per "
    "supplier (exact cents), then the scalar-MAX subquery keeps every "
    "supplier tied at the maximum — the view+max pattern from the "
    "spec, deterministic WITHOUT a tie-break because ties are "
    "returned, not ranked away. The rev aggregate shuffles on "
    "l_suppkey once and is reused for both the max and the final "
    "filter; the supplier dim broadcasts. Shipdate range is pushed "
    "to the scan.",
    tags=("sql", "join", "subquery", "aggregation"),
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("total_cents")
        )
    )
    # in-plan scalar max: broadcast the 1-row global aggregate and
    # equi-join it against the per-supplier totals — no driver
    # collect. rev is consumed by two branches (the max and the final
    # filter); without a checkpoint each branch re-runs the full
    # lineitem scan+agg (no ReusedExchange across the branches, same
    # as the old collect() form). localCheckpoint pins the
    # SUPPLIER-sized aggregate once, so the fact scan happens exactly
    # once at any scale.
    rev = rev.localCheckpoint(eager=False)
    max_rev = rev.agg(F.max("total_cents").alias("_max_cents"))
    rev_top = rev.join(
        F.broadcast(max_rev),
        F.col("total_cents") == F.col("_max_cents"),
    ).drop("_max_cents")
    return (
        su.join(rev_top, su.s_suppkey == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_cents").cast("bigint").alias("total_cents"),
            (F.col("total_cents").cast("double") / 100.0).alias(
                "total_revenue"
            ),
        )
    )


@register(
    "small_quantity_revenue",
    oracle="""
    WITH pq AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS n_lines
        FROM lineitem GROUP BY l_partkey)
    SELECT CAST(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS BIGINT) AS revenue_cents,
           CAST(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS DOUBLE) / 700.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS BIGINT) * 5 * pq.n_lines < pq.sum_qty
    """,
    doc="TPC-H Q17 shape (small-quantity-order revenue): lineitems "
    "below 20% of their part's average quantity, for one brand. The "
    "correlated avg subquery is decorrelated into a per-part "
    "aggregate joined back on partkey — co-partitioned with the "
    "aggregation's own shuffle, so ONE exchange serves both. The 20% "
    "threshold compare is cross-multiplied into exact integers "
    "(5·qty·n < Σqty — quantities are integral) instead of dividing, "
    "so no float boundary can flip a row. Brand filter prunes the "
    "broadcast part dim before the join; avg_yearly = cents/700 is "
    "one exact division.",
    tags=("sql", "join", "subquery", "aggregation"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pq = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    cents = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
    )
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(pq.withColumnRenamed("l_partkey", "pq_partkey"),
              li.l_partkey == F.col("pq_partkey"))
        .filter(
            F.col("l_quantity").cast("bigint") * 5 * F.col("n_lines")
            < F.col("sum_qty")
        )
        .agg(
            cents.cast("bigint").alias("revenue_cents"),
            (cents.cast("double") / 700.0).alias("avg_yearly"),
        )
    )


@register(
    "concurrent_open_orders",
    oracle="""
    WITH closed AS (
        SELECT l_orderkey, max(l_shipdate) AS close_ts
        FROM lineitem GROUP BY l_orderkey),
    iv AS (
        SELECT CAST(o.o_orderdate AS DATE) AS d_open,
               CAST(c.close_ts AS DATE) AS d_close
        FROM orders o JOIN closed c ON o.o_orderkey = c.l_orderkey),
    deltas AS (
        SELECT d_open AS day, 1 AS opened, 0 AS closed_n, 1 AS delta
        FROM iv
        UNION ALL
        SELECT d_close + 1 AS day, 0 AS opened, 1 AS closed_n, -1 AS delta
        FROM iv),
    daily AS (
        SELECT day,
               CAST(sum(opened) AS BIGINT) AS n_opened,
               CAST(sum(closed_n) AS BIGINT) AS n_closed,
               CAST(sum(delta) AS BIGINT) AS day_delta
        FROM deltas GROUP BY day)
    SELECT CAST(day AS VARCHAR) AS day_str, n_opened, n_closed,
           CAST(sum(day_delta) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS open_orders
    FROM daily
    """,
    doc="Concurrent-open-orders time series (interval stabbing count): "
    "each order is open from o_orderdate until its last line ships; "
    "the daily open count comes from the EVENT-DIFFERENCE method — "
    "+1 at open, −1 the day after close, per-day delta aggregation, "
    "then a running sum over the per-DAY table. The O(n·span) naive "
    "form (explode every order to every day it spans, or a day×order "
    "range join) never materializes: the corpus-sized work is one "
    "groupBy(orderkey) + one groupBy(day) partial agg, and the "
    "running sum touches only calendar-sized rows (~2.5k days here; "
    "bounded by the calendar, not the data — the one place an "
    "ORDER-BY window is legitimately safe at 100 TB). Exact integer "
    "counts; days emitted as strings (engine date dtypes differ).",
    tags=("sql", "window", "aggregation", "timeseries"),
)
def concurrent_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    closed = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_ts")
    )
    iv = orders.join(
        closed, orders.o_orderkey == closed.l_orderkey
    ).select(
        F.to_date("o_orderdate").alias("d_open"),
        F.to_date("close_ts").alias("d_close"),
    )
    opens = iv.select(
        F.col("d_open").alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed_n"),
        F.lit(1).alias("delta"),
    )
    closes = iv.select(
        F.date_add("d_close", 1).alias("day"),
        F.lit(0).alias("opened"),
        F.lit(1).alias("closed_n"),
        F.lit(-1).alias("delta"),
    )
    daily = (
        opens.unionAll(closes)
        .groupBy("day")
        .agg(
            F.sum("opened").cast("bigint").alias("n_opened"),
            F.sum("closed_n").cast("bigint").alias("n_closed"),
            F.sum("delta").alias("day_delta"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("string").alias("day_str"),
        "n_opened",
        "n_closed",
        F.sum("day_delta").over(w).cast("bigint").alias("open_orders"),
    )


@register(
    "pagerank_part_graph",
    # No oracle: iterative float algorithm (like ann_ivf_topk); checked
    # against a numpy power-iteration reference in tests/test_graph.py.
    doc="PageRank over the part co-purchase graph — the iterative "
    "graph-analytics pattern (label propagation's weighted sibling; "
    "dedup_clusters already covers the min-label form). Edges: parts "
    "sharing an order, generated ORDER-LOCALLY (pairs within each "
    "order's part list — linear in orders, never corpus²), "
    "deduplicated, both directions. 10 damped (0.85) power "
    "iterations, each ONE edge-keyed shuffle join + ONE dst-keyed "
    "aggregation — the textbook distributed PageRank plan; lineage "
    "is truncated every 4 rounds (localCheckpoint) so the plan "
    "doesn't deepen with iterations. The co-order graph is "
    "bidirectional by construction, so every node has out-degree "
    ">= 1 — there are NO dangling nodes and no redistribution term "
    "is needed (a directed-graph variant would need one). Output: "
    "top-20 parts with unique tie-break.",
    tags=("sql", "graph", "iterative", "topk"),
)
def pagerank_part_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # Checkpoint the CANONICAL pair set (s < d) — half the rows of the
    # bidirectional table the r10 form materialized (r11: the sf1
    # profile put 7.8 s of 38 in that first checkpoint alone); both
    # consumers below (degree counts, edge expansion) read it from RAM
    # and the doubling happens map-side inside the one edge build.
    canon = _order_part_pairs(li).distinct().localCheckpoint(eager=True)
    # out_deg(x) = #pairs touching x — one map-side explode of the
    # checkpointed pairs, no bidirectional table needed
    deg = (
        canon.select(F.explode(F.array("s", "d")).alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
    )
    und = canon.select(
        F.col("s").alias("src"), F.col("d").alias("dst")
    ).unionAll(
        canon.select(F.col("d").alias("src"), F.col("s").alias("dst"))
    )
    # The static edge table is laid out by the iteration join key ONCE
    # (repartition before the checkpoint): at bench SF the per-round
    # join broadcasts the node-sized rank table so this is moot, but at
    # cluster scale (rank table too big to broadcast -> SMJ/SHJ) the
    # src layout keeps the 10 per-round joins from reshuffling the
    # edge table every round.
    edges = (
        und.join(deg, "src").repartition("src").localCheckpoint(eager=True)
    )
    d = 0.85
    # Iteration 0 unrolled: every starting rank is the literal 1.0, so
    # joining the constant rank table into the edge list is an identity
    # — the first round's contributions read straight off the edge
    # table (same IEEE expression, 1.0/out_deg). With it the node
    # universe table disappears entirely (r11; it was a distinct
    # shuffle + an eager checkpoint consumed exactly once): the
    # contribution aggregate covers every node because the symmetric
    # co-order graph has in-degree >= 1, which is also why no outer
    # join is needed in later rounds (r10).
    ranks = (
        edges.select(
            F.col("dst").alias("node"),
            (F.lit(1.0) / F.col("out_deg")).alias("c"),
        )
        .groupBy("node")
        .agg((F.lit(1.0 - d) + F.lit(d) * F.sum("c")).alias("rank"))
    )
    for i in range(1, 10):
        ranks = (
            edges.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(
                (F.lit(1.0 - d) + F.lit(d) * F.sum("c")).alias("rank")
            )
        )
        if i % 4 == 3:
            ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.orderBy(F.col("rank").desc(), "node")
        .limit(20)
        .select(
            F.col("node").alias("p_partkey"),
            F.col("rank").alias("pagerank"),
        )
    )


# broadcast the node->pi orientation table only while it is provably
# small; 10M (node, pi) int64 pairs ~ 160 MB, the edge of sane broadcast
_TRI_BCAST_MAX_NODES = 10_000_000


def _order_part_pairs(li: DataFrame) -> DataFrame:
    """Canonical per-order part pairs (s < d), one row per
    (order, pair): each order's sorted part set expands to its C(n,2)
    pairs MAP-SIDE via higher-order array functions — ONE l_orderkey
    shuffle (collect_set) instead of the distinct + self-join pair
    formulation (two shuffles), measured 4.4 s → 2.9 s at sf0.1 with a
    provably identical pair set. Safe because an order's part list is
    bounded (tpch ≤ 7 lines; real carts are O(10²)) — the pair blow-up
    is per-ROW C(n,2), never corpus². Shared by the co-order graph
    family (triangles, pagerank, BFS) and basket lift."""
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return _pairs_from_partsets(ps)


def _pairs_from_partsets(ps: DataFrame) -> DataFrame:
    """Map-side C(n,2) pair expansion of a (…, ps: sorted part array)
    frame — the second half of ``_order_part_pairs``, split out so a
    caller that needs the part sets for OTHER aggregates too (basket
    lift: item counts, basket total) can materialize ``ps`` once."""
    pair_structs = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size("ps")),
                lambda y: F.struct(x.alias("s"), y.alias("d")),
            ),
        )
    )
    return ps.select(F.explode(pair_structs).alias("e")).select("e.s", "e.d")


def _oriented_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented edge list for the part co-order graph, PRE-
    checkpoint (exposed so tests/test_plans.py can lock the join
    strategy — the query itself checkpoints the result)."""
    li = load(spark, sf_dir, "lineitem")
    # canonical undirected edges (s < d), deduplicated; 2 consumers below
    und = _order_part_pairs(li).distinct().localCheckpoint(eager=True)
    # total order pi(x) = (degree, id) packed into one int64 key
    deg = (
        und.select(F.col("s").alias("node"))
        .unionAll(und.select(F.col("d").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            "node",
            (F.col("degree") * F.lit(10_000_000_000) + F.col("node")).alias("pi"),
        )
    )
    # SIZE-GATED broadcast for the orientation joins: deg is NODE-sized
    # (one row per part), fine to broadcast at sf0.1 (~20k parts) but a
    # node table is data-proportional, so above the gate the orientation
    # falls back to a shuffle join (r2 verdict item 5). The gate probe
    # is a parquet-footer count of the part table (the node universe) —
    # metadata-only, no scan.
    pis = deg.select(F.col("node").alias("s"), F.col("pi").alias("pi_s"))
    pid = deg.select(F.col("node").alias("d"), F.col("pi").alias("pi_d"))
    n_nodes_max = load(spark, sf_dir, "part").count()
    if n_nodes_max <= _TRI_BCAST_MAX_NODES:
        pis, pid = F.broadcast(pis), F.broadcast(pid)
    return (
        und.join(pis, "s")
        .join(pid, "d")
        .select(
            F.when(F.col("pi_s") < F.col("pi_d"), F.col("s"))
            .otherwise(F.col("d"))
            .alias("u"),
            F.when(F.col("pi_s") < F.col("pi_d"), F.col("d"))
            .otherwise(F.col("s"))
            .alias("v"),
        )
    )


@register(
    "triangle_count_part_graph",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS s, b.p AS d
          FROM op a JOIN op b ON a.k = b.k AND a.p < b.p),
    tri AS (
        SELECT e1.s AS a, e1.d AS b, e2.d AS c
        FROM e e1
        JOIN e e2 ON e2.s = e1.s AND e2.d > e1.d
        JOIN e e3 ON e3.s = e1.d AND e3.d = e2.d
    ),
    pern AS (
        SELECT node, count(*) AS triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT CAST(node AS BIGINT) AS p_partkey,
           CAST(triangles AS BIGINT) AS triangles
    FROM pern ORDER BY triangles DESC, node LIMIT 20
    """,
    doc="Exact triangle counting over the part co-order graph "
    "(top-20 parts by triangle membership), via the EDGE-ITERATOR "
    "algorithm: edges are DEGREE-ORIENTED (directed from the "
    "lower-(degree, id) endpoint to the higher — so every "
    "out-adjacency list is bounded by O(sqrt(m)), a hub never owns "
    "a fat list), out-neighborhoods are collected once as sorted "
    "arrays, and each edge (u,v) finds its triangles as "
    "|N+(u) ∩ N+(v)| with a map-side array_intersect — each "
    "triangle surfaces exactly once, at its (lowest, middle) edge. "
    "Shuffle volume stays EDGE-sized (two adjacency equi-joins); "
    "the quadratic wedge set of the naive plan (sum of deg² rows) "
    "is never materialized — measured 5× faster at sf0.1. The "
    "DuckDB oracle enumerates the same triangles with the naive "
    "id-canonical 3-way self-join; both enumerate each triangle "
    "exactly once, so per-node counts hash-match while the Spark "
    "plan is the one you'd actually run on 100 TB. Edges are "
    "generated order-locally (pairs within each order's part list — "
    "linear in orders, never corpus²), same discipline as pagerank.",
    tags=("sql", "graph", "join", "topk"),
)
def triangle_count_part_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    oriented = _oriented_part_edges(spark, sf_dir).localCheckpoint(
        eager=True
    )
    # out-adjacency (higher-pi neighbors only) as one sorted array per
    # node — list length bounded by the orientation, never hub-sized.
    # Checkpointed: three consumers (the wedge-width probe and both
    # join sides) must not re-run the groupBy.
    adj = oriented.groupBy(F.col("u").alias("node")).agg(
        F.sort_array(F.collect_list("v")).alias("nbrs")
    ).localCheckpoint(eager=True)
    # The adjacency joins' OUTPUT is wedge-sized (each edge row carries
    # its endpoints' out-lists: Sigma deg_out^2 array elements), but
    # their shuffle MAP output is edge/node-sized — so AQE sizes the
    # stage for the small side and, bounded above by
    # spark.sql.shuffle.partitions (it can only coalesce DOWN), leaves
    # a handful of tasks external-sorting gigabytes of array-fat rows
    # (measured at the sf10 rehearsal: 3 busy cores, 37 GB of sort
    # spill, >29 min before the kill). The wedge volume is exactly
    # computable from the degree sequence for the cost of one
    # node-sized aggregate — derive the join width from it and pin it
    # with explicit keyed repartitions (REPARTITION_BY_NUM is not
    # AQE-coalescable), so every sort stays ~64 MB at any scale.
    wedge_elems = int(
        adj.select(
            F.sum(
                F.size("nbrs").cast("bigint") * F.size("nbrs").cast("bigint")
            )
        ).collect()[0][0]
        or 0
    )
    width = max(
        shuffle_width(spark), min(4096, wedge_elems * 16 // (64 << 20) + 1)
    )
    adj_u = adj.select(F.col("node").alias("u"), F.col("nbrs").alias("nu"))
    adj_v = adj.select(F.col("node").alias("v"), F.col("nbrs").alias("nv"))
    # edge (u,v): common out-neighbors close one triangle each; the
    # left join keeps edges whose v has no out-list (leaf of the order)
    per_edge = (
        oriented.repartition(width, "u")
        .join(adj_u, "u")
        .repartition(width, "v")
        .join(adj_v, "v", "left")
        .select(
            "u",
            "v",
            F.array_intersect(
                "nu", F.coalesce("nv", F.array().cast("array<bigint>"))
            ).alias("ws"),
        )
        .filter(F.size("ws") > 0)
    )
    # ONE pass over the wedge join: each qualifying edge emits its u, v
    # and witness contributions as a single exploded struct array. The
    # previous 3-branch unionAll re-executed the join per branch (unions
    # re-run differently-projected subtrees — no ReusedExchange for the
    # post-shuffle compute), tripling the heaviest stage in the repo.
    contrib = per_edge.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("u").alias("node"), F.size("ws").alias("c")
                    ),
                    F.struct(
                        F.col("v").alias("node"), F.size("ws").alias("c")
                    ),
                ),
                F.transform(
                    "ws",
                    lambda w: F.struct(
                        w.alias("node"), F.lit(1).alias("c")
                    ),
                ),
            )
        ).alias("e")
    ).select("e.node", "e.c")
    pern = contrib.groupBy("node").agg(F.sum("c").alias("triangles"))
    return (
        pern.orderBy(F.col("triangles").desc(), "node")
        .limit(20)
        .select(
            F.col("node").cast("bigint").alias("p_partkey"),
            F.col("triangles").cast("bigint").alias("triangles"),
        )
    )


@register(
    "pandas_udaf_gini",
    oracle="""
    WITH c AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                            o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders)
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(CAST(sum((2 * rn - n - 1) * cents) AS BIGINT) AS DOUBLE)
           / (CAST(max(n) AS BIGINT)
              * CAST(CAST(sum(cents) AS BIGINT) AS BIGINT)) AS gini
    FROM c GROUP BY o_orderpriority
    """,
    doc="Revenue-concentration Gini per priority class, computed by a "
    "GROUPED_AGG pandas UDF — the vectorized UDAF shape (with a "
    "SCALAR pandas UDF doing the cents cast), completing the Arrow "
    "surface alongside grouped-map, mapInPandas, UDTF and the "
    "stateful forms. Inside the UDAF everything is Python-int "
    "arithmetic (arbitrary precision, sorted-rank formula "
    "Σ(2i−n−1)·xᵢ), emitted as ONE final float division — the same "
    "exact-integer discipline as the declarative queries, which is "
    "why a window-rank SQL oracle hash-matches a numpy-free UDAF "
    "bit-for-bit. Partial aggregation does NOT apply to grouped-agg "
    "UDAFs (whole groups ship to Python) — acceptable for bounded "
    "groups; the declarative twin would be the window formulation "
    "in the oracle.",
    tags=("sql", "udf", "aggregation"),
)
def pandas_udaf_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.pandas_udfs import (
        gini_from_cents,
        group_size,
        to_cents,
    )

    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority", to_cents("o_totalprice").alias("cents")
        )
        .groupBy("o_orderpriority")
        .agg(
            group_size("cents").alias("n_orders"),
            gini_from_cents("cents").alias("gini"),
        )
    )


@register(
    "part_leader_suppliers",
    oracle="""
    WITH sup_part AS (
        SELECT l_suppkey, l.l_partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sp_qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
         AND p.p_name LIKE '%g%'
        GROUP BY l_suppkey, l.l_partkey),
    leaders AS (
        SELECT l_partkey, l_suppkey, sp_qty
        FROM (SELECT l_partkey, l_suppkey, sp_qty,
                     row_number() OVER (
                         PARTITION BY l_partkey
                         ORDER BY sp_qty DESC, l_suppkey) AS rn
              FROM sup_part)
        WHERE rn = 1)
    SELECT s.s_suppkey, s.s_name,
           CAST(count(*) AS BIGINT) AS n_parts_led,
           CAST(CAST(sum(ld.sp_qty) AS BIGINT) AS BIGINT) AS total_led_qty
    FROM supplier s JOIN leaders ld ON s.s_suppkey = ld.l_suppkey
    GROUP BY s.s_suppkey, s.s_name
    """,
    doc="TPC-H Q2/Q20-flavored greatest-per-group decorrelation: for "
    "every 'g…'-named part, the supplier who shipped the most of it "
    "(the correlated 'WHERE qty = (SELECT max … FOR THIS PART)' "
    "shape, decorrelated to a per-part window group-limit), then a "
    "per-supplier leaderboard. The (supplier, part) aggregate and "
    "the per-part argmax share one partkey-shuffled stage; ties "
    "break to the lowest suppkey (total order — the repo's top-k "
    "rule); quantities are exact bigints; the supplier dim "
    "broadcasts. Replaces a share-threshold formulation that was "
    "degenerate (empty) on uniformly-spread synthetic data at every "
    "SF.",
    tags=("sql", "join", "subquery", "window", "aggregation"),
)
def part_leader_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part").filter(F.col("p_name").like("%g%"))
    su = load(spark, sf_dir, "supplier")
    sup_part = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sp_qty"))
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("sp_qty").desc(), "l_suppkey"
    )
    leaders = (
        sup_part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        su.join(leaders, su.s_suppkey == leaders.l_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts_led"),
            F.sum("sp_qty").cast("bigint").alias("total_led_qty"),
        )
    )


@register(
    "reaggregable_moments_rollup",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                    AS BIGINT) AS BIGINT) AS s1,
               CAST(CAST(sum(CAST(round(value * 1000000) AS BIGINT)
                    * CAST(round(value * 1000000) AS BIGINT))
                    AS BIGINT) AS BIGINT) AS s2
        FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(date_trunc('month', day) AS DATE) AS month,
           CAST(CAST(sum(n) AS BIGINT) AS BIGINT) AS n,
           CAST(CAST(sum(s1) AS BIGINT) AS BIGINT) AS s1_micro,
           CAST(sum(s1) AS DOUBLE) / CAST(sum(n) AS BIGINT) / 1000000
               AS mean_value
    FROM daily
    GROUP BY 1, 2
    """,
    doc="Re-aggregable partial-state rollup — the incremental-warehouse "
    "algebra every streaming/medallion pipeline depends on: daily "
    "(count, Σx, Σx²) moment states in exact integer micro-units roll "
    "up to monthly by PLAIN ADDITION, provably equal to aggregating "
    "the raw stream directly (the commutative-monoid property the "
    "HLL/CMS sketches share). s2 stays bigint-exact because "
    "|value|≤~500 units → x_micro² ≤ 2.5e17 and the corpus sum stays "
    "under int64 at any realistic per-(type,month) volume; at larger "
    "scales the state type widens to DECIMAL(38). The two-level "
    "aggregation is the map-side-combine story made explicit: the "
    "wide shuffle carries day states, not events.",
    tags=("timeseries", "aggregation", "pipeline"),
)
def reaggregable_moments_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    micro = F.round(F.col("value") * 1000000).cast("long")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micro).alias("s1"),
        F.sum(micro * micro).alias("s2"),
    )
    return daily.groupBy(
        "event_type",
        F.date_trunc("month", "day").cast("date").alias("month"),
    ).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s1_micro"),
        (
            F.sum("s1").cast("double")
            / F.sum("n").cast("bigint")
            / 1000000
        ).alias("mean_value"),
    )


@register(
    "table_profile_orders",
    oracle="""
    SELECT col, n_rows, n_nulls, n_distinct, min_str, max_str FROM (
        SELECT 'o_orderstatus' AS col,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
               CAST(min(o_orderstatus) AS VARCHAR) AS min_str,
               CAST(max(o_orderstatus) AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(count(DISTINCT o_orderpriority) AS BIGINT),
               CAST(min(o_orderpriority) AS VARCHAR),
               CAST(max(o_orderpriority) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(count(DISTINCT o_custkey) AS BIGINT),
               CAST(min(o_custkey) AS VARCHAR),
               CAST(max(o_custkey) AS VARCHAR)
        FROM orders)
    """,
    doc="Single-pass column profiling (the dbt-docs / Deequ / "
    "OPTIMIZE-stats surface): per-column row count, null count, exact "
    "distinct count, and min/max — the health summary every warehouse "
    "table page shows. All columns profile in ONE scan: the "
    "count(DISTINCT x) trio expands to Spark's multi-distinct Expand "
    "plan (one extra shuffle per distinct column, partial-aggregated "
    "— not one job per column, and never a driver loop over columns). "
    "min/max stringify so heterogeneous column types share one "
    "result schema; the unpivot to (col, stats) rows is map-side.",
    tags=("sql", "aggregation", "quality"),
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"nn_{c}"
            ),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{c}"),
        ]
    wide = orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack}) AS "
        "(col, n_nulls, n_distinct, min_str, max_str)",
    ).select("col", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str")


@register(
    "bfs_khop_reach",
    oracle="""
    WITH RECURSIVE op AS (
        SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
    ),
    und AS (SELECT DISTINCT a.p AS s, b.p AS d
            FROM op a JOIN op b ON a.k = b.k AND a.p < b.p),
    e AS (SELECT s, d FROM und UNION ALL SELECT d AS s, s AS d FROM und),
    seeds AS (SELECT DISTINCT s AS node FROM e WHERE s < 5),
    bfs(node, dist) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.d, b.dist + 1 FROM bfs b JOIN e ON e.s = b.node
        WHERE b.dist < 3
    ),
    md AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
    SELECT CAST(dist AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes
    FROM md GROUP BY dist
    """,
    doc="Multi-source BFS reach over the part co-order graph: nodes "
    "within 3 hops of the seed set (parts 0-4), counted per minimum "
    "hop distance. The Spark side is the distributed frontier "
    "pattern — per round ONE edge equi-join on the frontier + "
    "distinct + anti-join against the visited set, so each round's "
    "work is frontier-sized (never paths — the naive recursive "
    "all-paths expansion is exponential on a dense graph); lineage "
    "is truncated per round. The oracle is DuckDB's WITH RECURSIVE "
    "UNION fixpoint over (node, dist) pairs — bounded by nodes x "
    "depth, then min(dist) per node. Same reachability frontier, "
    "two execution models, hash-matched.",
    tags=("sql", "graph", "iterative", "join"),
)
def bfs_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    und = _order_part_pairs(li).distinct()
    bidir = und.unionAll(
        und.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint(eager=True)
    seeds = (
        bidir.select(F.col("s").alias("node"))
        .filter(F.col("node") < 5)
        .distinct()
    )
    visited = seeds.select("node", F.lit(0).alias("dist")).localCheckpoint(
        eager=True
    )
    frontier = seeds
    for h in range(1, 4):
        nxt = (
            bidir.join(frontier.select(F.col("node").alias("s")), "s")
            .select(F.col("d").alias("node"))
            .distinct()
        )
        newly = (
            nxt.join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("dist"))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionAll(newly)
        frontier = newly
    return visited.groupBy(F.col("dist").cast("bigint").alias("hop")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


@register(
    "basket_lift_pairs",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
    n AS (SELECT count(DISTINCT k) AS total FROM op),
    item AS (SELECT p, count(*) AS c FROM op GROUP BY p),
    pair AS (
        SELECT a.p AS pa, b.p AS pb, count(*) AS cab
        FROM op a JOIN op b ON a.k = b.k AND a.p < b.p
        GROUP BY 1, 2
    )
    SELECT pa, pb, CAST(cab AS BIGINT) AS n_both,
           CAST(cab AS DOUBLE) * (SELECT total FROM n)
               / (ia.c * ib.c) AS lift
    FROM pair
    JOIN item ia ON ia.p = pa
    JOIN item ib ON ib.p = pb
    WHERE cab >= 2
    ORDER BY lift DESC, pa, pb LIMIT 20
    """,
    doc="Market-basket LIFT (P(a,b) / P(a)P(b)) for co-ordered part "
    "pairs with support >= 2, top-20 — the statistical upgrade of "
    "`part_affinity_pairs`' raw co-occurrence counts: lift > 1 means "
    "genuinely associated, not merely both popular. Pair counts are "
    "generated ORDER-LOCALLY (keyed self-join on l_orderkey — linear "
    "in orders, never corpus²); item counts ride in as a broadcast "
    "join; lift is one IEEE division of exact integer counts "
    "(identical on both engines — no float accumulation). Top-20 via "
    "TakeOrderedAndProject with a unique (pa, pb) tie-break.",
    tags=("join", "aggregation", "topk", "analytics"),
)
def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # ONE lineitem pass: the per-order sorted part set feeds the pair
    # expansion AND the per-item order counts AND the basket total —
    # the old shape scanned and shuffled lineitem three times (the
    # (order,part) distinct twice, the collect_set once). ps is
    # order-count-sized with bounded arrays (TPC-H <= 7 parts/order),
    # so materializing it is the cheap side of that trade (r11).
    ps = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=True)
    )
    # per-order pairs appear exactly once per order (collect_set dedups
    # in-order), so the pair count IS the co-occurrence count
    pair = (
        _pairs_from_partsets(ps)
        .groupBy(F.col("s").alias("pa"), F.col("d").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= 2)
    )
    # exploding the distinct part sets reproduces the (order, part)
    # distinct relation exactly — same counts, no second corpus pass
    item = (
        ps.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = ps.agg(F.count(F.lit(1)).alias("total"))
    ia = item.select(F.col("p").alias("pa"), F.col("c").alias("ca"))
    ib = item.select(F.col("p").alias("pb"), F.col("c").alias("cb"))
    lift = (
        F.col("cab").cast("double")
        * F.col("total")
        / (F.col("ca") * F.col("cb"))
    )
    return (
        pair.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .crossJoin(F.broadcast(total))
        .select(
            "pa", "pb",
            F.col("cab").cast("bigint").alias("n_both"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(20)
    )


# --- functional-dependency discovery audit ---------------------------------

#: candidate FDs (table, determinant, dependent) — one true PK-backed
#: dependency and three plausible-but-false ones a profiler must refute
_FD_CANDIDATES = (
    ("nation", "n_nationkey", "n_regionkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
)


@register(
    "functional_dependency_audit",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{t}.{det}->{dep}' AS candidate,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
           CAST(max(n_dep) AS BIGINT) AS max_distinct_dep,
           CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) = 0 AS BOOLEAN)
               AS fd_holds
    FROM (SELECT {det}, count(DISTINCT {dep}) AS n_dep
          FROM {t} GROUP BY {det})
    """
        for t, det, dep in _FD_CANDIDATES
    ),
    doc="Functional-dependency discovery audit — the schema-profiling "
    "step that validates (or refutes) candidate column dependencies "
    "before they are baked into dedup keys or surrogate-key designs: "
    "for each (determinant → dependent) candidate, count determinant "
    "groups, groups with >1 distinct dependent (violations), and the "
    "worst group's distinct-dependent count. One true PK-backed FD "
    "(nation.n_nationkey → n_regionkey) and three plausible-but-false "
    "ones. Plan: per candidate a single groupBy(det) count-distinct "
    "partial agg → 1 row; the union is 4 independent scans each "
    "collapsing map-side — at 100 TB each candidate costs one "
    "shuffle of (det, dep) pairs, nothing pairwise. All integers.",
    tags=("relational", "quality", "profile"),
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for t, det, dep in _FD_CANDIDATES:
        g = (
            load(spark, sf_dir, t)
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("n_dep"))
        )
        viol = F.sum((F.col("n_dep") > 1).cast("int")).cast("bigint")
        outs.append(
            g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                viol.alias("n_violating_groups"),
                F.max("n_dep").cast("bigint").alias("max_distinct_dep"),
            ).select(
                F.lit(f"{t}.{det}->{dep}").alias("candidate"),
                "n_groups",
                "n_violating_groups",
                "max_distinct_dep",
                (F.col("n_violating_groups") == 0).alias("fd_holds"),
            )
        )
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged


@register(
    "profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS supp_nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)
                  - CAST(round(p.p_retailprice * l.l_quantity * 90)
                         AS BIGINT)) AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (product-type profit): profit per supplier "
    "nation per order year for one part family, where profit is "
    "revenue minus a 90%-of-retail cost proxy (the testdata has no "
    "partsupp/ps_supplycost table, so the cost leg re-uses "
    "p_retailprice — same join tree, same agg shape). Determinism: "
    "both legs are independently rounded to integer cents at the "
    "lineitem, so the sum is exact in any order. Plan: the p_name "
    "LIKE filter prunes part BEFORE the fact join (partkey-selective), "
    "supplier/nation broadcast, orders joined only for the year — at "
    "100 TB the only big-big shuffle is lineitem-orders on orderkey.",
    tags=("sql", "join", "aggregation"),
)
def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey", "p_retailprice")
    su = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint")
        - F.round(F.col("p_retailprice") * F.col("l_quantity") * 90)
        .cast("bigint")
    )
    j = (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(od, li.l_orderkey == od.o_orderkey)
    )
    return j.groupBy(
        F.col("n_name").alias("supp_nation"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
    ).agg(F.sum(profit).cast("bigint").alias("profit_cents"))


# --------------------------------------- Kaplan-Meier survival curve

_KM_CENSOR_DAYS = 365


@register(
    "kaplan_meier_shipping",
    oracle=f"""
    WITH spans AS (
      SELECT CAST(least(date_diff('day', o.o_orderdate, l.l_shipdate),
                        {_KM_CENSOR_DAYS}) AS BIGINT) AS t,
             CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
                       <= {_KM_CENSOR_DAYS} THEN 1 ELSE 0 END AS death
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    ), cells AS (
      SELECT t,
             CAST(count(*) FILTER (WHERE death = 1) AS BIGINT) AS n_deaths,
             CAST(count(*) AS BIGINT) AS n_leaving
      FROM spans GROUP BY 1
    ), risk AS (
      SELECT t, n_deaths,
             CAST(sum(n_leaving) OVER (ORDER BY t DESC) AS BIGINT)
                 AS n_at_risk
      FROM cells
    ), terms AS (
      SELECT t, n_deaths, n_at_risk,
             CAST(round(ln(1.0 - CAST(n_deaths AS DOUBLE)
                                 / CAST(n_at_risk AS DOUBLE))
                        * 1000000000) AS BIGINT) AS term_nano
      FROM risk WHERE n_deaths > 0 AND n_deaths < n_at_risk
    )
    SELECT t, n_deaths, n_at_risk,
           CAST(sum(term_nano) OVER (ORDER BY t) AS BIGINT)
               AS log_surv_nano,
           CAST(round(exp(CAST(sum(term_nano) OVER (ORDER BY t) AS DOUBLE)
                          / 1000000000.0) * 1000000) AS BIGINT)
               AS survival_ppm
    FROM terms
    """,
    doc="Kaplan-Meier product-limit survival estimator over "
    "time-to-ship, with administrative right-censoring at "
    f"{_KM_CENSOR_DAYS} days (observations still 'alive' at the "
    "horizon leave the risk set without a death event — the textbook "
    "KM censoring mechanics, which a plain delay histogram like "
    "q:`shipping_delay_distribution` cannot express). Determinism: "
    "the product Π(1 - d_i/n_i) runs in log space; each "
    "ln(1 - d/n) takes an identical double on both engines (exact "
    "casts + one correctly-rounded divide) and is rounded to integer "
    "NANO-units before the cumulative sum, so summation order and "
    "libm ulp wobble never reach the hash; survival is re-exposed as "
    "integer ppm. Scale: the corpus-sized work is one equi-join plus "
    "one map-side-combinable groupBy to per-day cells; the risk-set "
    "windows run over <= censor-horizon rows (bounded by distinct "
    "day values, NOT data volume), so the single-partition window is "
    "constant-size at any corpus scale.",
    tags=("analytics", "stats", "window", "aggregation"),
)
def kaplan_meier_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    delay = F.datediff("l_shipdate", "o_orderdate")
    spans = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.least(delay, F.lit(_KM_CENSOR_DAYS)).cast("bigint").alias("t"),
            F.when(delay <= _KM_CENSOR_DAYS, 1).otherwise(0).alias("death"),
        )
    )
    cells = spans.groupBy("t").agg(
        F.count(F.when(F.col("death") == 1, 1)).cast("bigint")
        .alias("n_deaths"),
        F.count(F.lit(1)).cast("bigint").alias("n_leaving"),
    )
    w_desc = Window.orderBy(F.desc("t"))
    risk = cells.select(
        "t",
        "n_deaths",
        F.sum("n_leaving").over(w_desc).cast("bigint").alias("n_at_risk"),
    )
    term_nano = F.round(
        F.log(
            F.lit(1.0)
            - F.col("n_deaths").cast("double")
            / F.col("n_at_risk").cast("double")
        )
        * F.lit(1000000000)
    ).cast("bigint")
    terms = risk.filter(
        (F.col("n_deaths") > 0) & (F.col("n_deaths") < F.col("n_at_risk"))
    ).withColumn("term_nano", term_nano)
    w_asc = Window.orderBy("t")
    log_surv = F.sum("term_nano").over(w_asc).cast("bigint")
    return terms.select(
        "t",
        "n_deaths",
        "n_at_risk",
        log_surv.alias("log_surv_nano"),
        F.round(
            F.exp(log_surv.cast("double") / F.lit(1000000000.0))
            * F.lit(1000000)
        ).cast("bigint").alias("survival_ppm"),
    )


@register(
    "revenue_bridge_decomposition",
    oracle="""
    WITH li AS (
      SELECT p.p_brand AS brand, year(o.o_orderdate) AS y,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS rev_cents,
             CAST(l.l_quantity AS BIGINT) AS qty
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE year(o.o_orderdate) IN (1997, 1998)
    ), cells AS (
      SELECT brand, y, CAST(sum(rev_cents) AS BIGINT) AS rev,
             CAST(sum(qty) AS BIGINT) AS qty
      FROM li GROUP BY 1, 2
    ), wide AS (
      SELECT brand,
             max(CASE WHEN y = 1997 THEN rev END) AS rev0,
             max(CASE WHEN y = 1998 THEN rev END) AS rev1,
             max(CASE WHEN y = 1997 THEN qty END) AS qty0,
             max(CASE WHEN y = 1998 THEN qty END) AS qty1
      FROM cells GROUP BY 1
      HAVING max(CASE WHEN y = 1997 THEN rev END) IS NOT NULL
         AND max(CASE WHEN y = 1998 THEN rev END) IS NOT NULL
    )
    SELECT brand, rev0, rev1, qty0, qty1,
           (CAST(qty1 AS DOUBLE) - CAST(qty0 AS DOUBLE))
               * (CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
               AS volume_effect,
           (CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE)
            - CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
               * CAST(qty0 AS DOUBLE) AS price_effect,
           (CAST(qty1 AS DOUBLE) - CAST(qty0 AS DOUBLE))
               * (CAST(rev1 AS DOUBLE) / CAST(qty1 AS DOUBLE)
                  - CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
               AS mix_effect
    FROM wide
    """,
    doc="Revenue-bridge (price/volume/mix) decomposition per brand, "
    "1997 -> 1998 — the FP&A waterfall: delta-revenue splits exactly "
    "into volume = dQ*P0, price = dP*Q0, and the cross (mix) term "
    "dQ*dP, so volume_effect + price_effect + mix_effect == "
    "rev1 - rev0 by algebra. Determinism: the year cells are exact "
    "integer cents/quantity sums; unit prices are one "
    "correctly-rounded divide each, and the effect products are the "
    "identical IEEE chain on both engines — emitted UNROUNDED. "
    "Scale: part dim broadcast into the lineitem-orders equi-join, "
    "one map-side-combinable groupBy to |brands x 2| cells, then a "
    "constant-size pivot; brands missing a year are excluded "
    "symmetrically on both engines.",
    tags=("analytics", "aggregation", "join", "sql"),
)
def revenue_bridge_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount",
        "l_quantity",
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("y")
    ).filter(F.col("y").isin(1997, 1998))
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    cells = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"), "y")
        .agg(
            F.sum(rev).cast("bigint").alias("rev"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint")
            .alias("qty"),
        )
    )

    def _yr(col: str, y: int):
        return F.max(F.when(F.col("y") == y, F.col(col)))

    wide = cells.groupBy("brand").agg(
        _yr("rev", 1997).alias("rev0"),
        _yr("rev", 1998).alias("rev1"),
        _yr("qty", 1997).alias("qty0"),
        _yr("qty", 1998).alias("qty1"),
    ).filter(F.col("rev0").isNotNull() & F.col("rev1").isNotNull())
    q0, q1 = F.col("qty0").cast("double"), F.col("qty1").cast("double")
    p0 = F.col("rev0").cast("double") / F.col("qty0").cast("double")
    p1 = F.col("rev1").cast("double") / F.col("qty1").cast("double")
    return wide.select(
        "brand", "rev0", "rev1", "qty0", "qty1",
        ((q1 - q0) * p0).alias("volume_effect"),
        ((p1 - p0) * q0).alias("price_effect"),
        ((q1 - q0) * (p1 - p0)).alias("mix_effect"),
    )
