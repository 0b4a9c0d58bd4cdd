"""Driver-visible pipeline queries: the full silver→gold medallion
transform and the incremental MERGE writer, each hash-checked against a
DuckDB re-implementation (SURVEY §5 'pipeline-level golden test').

``events`` stands in for the tick stream: event_type ≙ symbol,
value ≙ close price.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..catalog import register
from ..operators.candles import REFERENCE_TIMEFRAMES, multi_timeframe_ohlc
from ..operators.dedup import keyed_latest
from ..operators.indicators import sma_sql, with_indicators
from ..sources.writers import merge_upsert
from ..tables import load
from .timeseries import _bucket_sql


def _gold_branches() -> str:
    branches = []
    for tf in REFERENCE_TIMEFRAMES:
        branches.append(
            f"""
        SELECT symbol, '{tf.name}' AS timeframe,
               {_bucket_sql('observed_at', tf.seconds, tf.shift_seconds)}
                   AS candle_start,
               arg_min(close_price, observed_at) AS open_value,
               max(close_price) AS high_value,
               min(close_price) AS low_value,
               arg_max(close_price, observed_at) AS close_value,
               count(*) AS n_ticks
        FROM silver GROUP BY 1, 2, 3"""
        )
    return "\nUNION ALL\n".join(branches)


@register(
    "medallion_gold",
    oracle=f"""
    WITH silver AS (
        SELECT event_type AS symbol, ts AS observed_at, value AS close_price
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY event_type, ts ORDER BY event_id DESC) = 1
    ),
    candles AS ({_gold_branches()}),
    ind AS (
        SELECT *,
               close_value - lag(close_value) OVER w AS price_diff,
               {sma_sql('close_value', 20, 'w')} AS sma_20,
               {sma_sql('close_value', 50, 'w')} AS sma_50
        FROM candles
        WINDOW w AS (PARTITION BY symbol, timeframe ORDER BY candle_start)
    )
    SELECT md5(concat_ws('|', symbol, timeframe,
                         CAST(candle_start AS VARCHAR))) AS unique_id,
           symbol, timeframe, candle_start, open_value, high_value,
           low_value, close_value, n_ticks, price_diff, sma_20, sma_50
    FROM ind
    """,
    doc="The reference's whole silver→gold pipeline in one plan "
    "(stg_eurusd.sql:14-42 + fct_eurusd_timeframes.sql:15-86): typed "
    "dedup, 7-timeframe candles, indicators, md5 surrogate key — vs a "
    "full DuckDB re-implementation. Audit timestamps excluded "
    "(volatile, SURVEY §7 hard-part 6).",
    tags=("pipeline", "timeseries", "flagship"),
)
def medallion_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    silver = keyed_latest(
        ev.select(
            F.col("event_type").alias("symbol"),
            F.col("ts").alias("observed_at"),
            F.col("value").alias("close_price"),
            "event_id",
        ),
        ["symbol", "observed_at"],
        [F.col("event_id").desc()],
    ).drop("event_id")
    candles = multi_timeframe_ohlc(
        silver, "observed_at", "close_price", ["symbol"]
    )
    ind = with_indicators(candles, ["symbol", "timeframe"])
    return ind.select(
        F.md5(
            F.concat_ws(
                "|", "symbol", "timeframe",
                F.col("candle_start").cast("string"),
            )
        ).alias("unique_id"),
        "symbol", "timeframe", "candle_start", "open_value", "high_value",
        "low_value", "close_value", "n_ticks", "price_diff", "sma_20",
        "sma_50",
    )


@register(
    "incremental_merge",
    oracle="SELECT event_id, ts, event_type, value FROM events",
    doc="S9 MERGE upsert driven end-to-end: three overlapping batches "
    "upserted into a parquet table must reconstruct exactly the full "
    "keyed table — no duplicates, no losses (stg_eurusd.sql:2-11 "
    "semantics without BigQuery).",
    tags=("pipeline", "incremental"),
)
def incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    path = f"{scratch_dir('fx_merge_')}/t"
    batches = [
        ev.filter(F.col("ts") < F.lit("2024-01-15")),
        # deliberate overlaps: re-delivered rows must upsert, not dup
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-12")) & (F.col("ts") < F.lit("2024-01-24"))
        ),
        ev.filter(F.col("ts") >= F.lit("2024-01-22")),
    ]
    for b in batches:
        merge_upsert(spark, path, b, ["event_id"])
    return spark.read.parquet(path)


@register(
    "compaction_file_audit",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(DISTINCT event_type) AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_after,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
    """,
    doc="OPTIMIZE-style small-file compaction, audited end-to-end from "
    "REAL file metadata: events are written day-partitioned with one "
    "file per (day, event_type) — the many-tiny-files layout a "
    "per-batch writer produces — then sources.writers.compact() "
    "rewrites to one file per day partition. Both layouts are audited "
    "with the _metadata.file_path hidden column (measured from disk, "
    "not assumed), and the oracle states the EXPECTED arithmetic: "
    "files_before = distinct event_types that day, files_after = 1, "
    "rows preserved. A wrong compaction (lost rows, leftover files, "
    "broken partition recovery) hash-mismatches. At 100 TB this runs "
    "per recent partition only — cost follows churn, not table size.",
    tags=("pipeline", "lakehouse", "quality"),
)
def compaction_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import compact

    ev = (
        load(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .withColumn("day", F.to_date("ts"))
    )
    root = f"{scratch_dir('fx_compact_')}/t"
    # one file per (day, event_type) leaf: repartition groups each leaf
    # into a single task, partitionBy makes it a directory
    (
        ev.repartition("day", "event_type")
        .write.mode("overwrite")
        .partitionBy("day", "event_type")
        .parquet(root)
    )
    before = (
        spark.read.parquet(root)
        .groupBy("day")
        .agg(
            F.countDistinct(F.col("_metadata.file_path")).alias(
                "files_before"
            )
        )
    )
    before = before.localCheckpoint(eager=True)  # pin pre-compaction stats
    compact(spark, root, partition_cols=["day"])
    after = (
        spark.read.parquet(root)
        .groupBy("day")
        .agg(
            F.countDistinct(F.col("_metadata.file_path")).alias("files_after"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return before.join(after, "day").select(
        "day", "files_before", "files_after", "n_rows"
    )


@register(
    "snapshot_cdc_diff",
    oracle="""
    WITH snap_a AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 0
    ),
    snap_b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 11 <> 0
    ),
    diff AS (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS key,
               CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                    WHEN b.o_orderkey IS NULL THEN 'delete'
                    WHEN a.o_orderstatus <> b.o_orderstatus
                      OR a.o_totalprice <> b.o_totalprice THEN 'update'
                    ELSE 'unchanged' END AS change_type
        FROM snap_a a FULL OUTER JOIN snap_b b
          ON a.o_orderkey = b.o_orderkey
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows
    FROM diff GROUP BY change_type
    """,
    doc="Snapshot CDC diff: two table snapshots (deterministically "
    "perturbed projections of orders — rows dropped on each side to "
    "create inserts/deletes, a status mutation to create updates) are "
    "FULL OUTER joined on the key and classified "
    "insert/delete/update/unchanged — the change-data-capture audit a "
    "warehouse emits between loads, and the read-side dual of the "
    "MERGE writer (S9). One keyed shuffle; the classifier is pure "
    "column logic (no UDF).",
    tags=("pipeline", "incremental", "join"),
)
def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load(spark, sf_dir, "orders")
    snap_a = od.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = od.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    a = snap_a.alias("a")
    b = snap_b.alias("b")
    diff = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "insert")
        .when(F.col("b.o_orderkey").isNull(), "delete")
        .when(
            (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
            | (F.col("a.o_totalprice") != F.col("b.o_totalprice")),
            "update",
        )
        .otherwise("unchanged")
    )
    return diff.select(change.alias("change_type")).groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "late_data_accounting",
    oracle="""
    WITH arrivals AS (
        SELECT event_type, ts, event_id,
               max(ts) OVER (PARTITION BY event_type
                             ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS high_wm
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN ts < high_wm - INTERVAL 5 MINUTE
                           THEN 1 END) AS BIGINT) AS late_5m,
           CAST(count(CASE WHEN ts < high_wm - INTERVAL 15 MINUTE
                           THEN 1 END) AS BIGINT) AS late_15m,
           CAST(count(CASE WHEN ts < high_wm - INTERVAL 1 HOUR
                           THEN 1 END) AS BIGINT) AS late_1h
    FROM arrivals GROUP BY event_type
    """,
    doc="Late-data accounting for watermark sizing (SURVEY §2.10): "
    "replaying events in arrival order (event_id), an event is late "
    "for delay D if its event time is more than D behind the running "
    "high watermark at arrival. Counts per series for 5m/15m/1h "
    "candidate delays tell you exactly how many rows each "
    "withWatermark setting would drop — measured, not guessed. One "
    "window sort + one aggregation.",
    tags=("streaming", "timeseries", "quality"),
)
def late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arrivals = ev.select(
        "event_type", "ts", "event_id", F.max("ts").over(w).alias("high_wm")
    )

    def late(delay: str, alias: str):
        return F.count(
            F.when(
                F.col("ts") < F.col("high_wm") - F.expr(f"INTERVAL {delay}"),
                1,
            )
        ).alias(alias)

    return arrivals.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        late("5 MINUTES", "late_5m"),
        late("15 MINUTES", "late_15m"),
        late("1 HOUR", "late_1h"),
    )


@register(
    "time_travel_diff",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS latest,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS v0_rows,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS v1_rows,
           CAST((SELECT count(*) FROM customer WHERE c_custkey % 7 = 0)
                AS BIGINT) AS n_changed
    """,
    doc="Versioned-table time travel, audited end-to-end from REAL "
    "writes (the compaction_file_audit discipline): v0 = the customer "
    "dim committed copy-on-write, v1 = a MERGE rewriting every 7th "
    "customer's segment as a NEW version (atomic manifest flip, "
    "sources/writers.py write_version/merge_versioned). Both versions "
    "are then read back THROUGH the time-travel API and diffed "
    "row-to-row; the oracle states the expected arithmetic (row "
    "counts preserved, exactly the keyed rows changed, latest "
    "manifest = 1). A broken commit (manifest pointing at a "
    "half-written dir, merge dropping rows, v0 mutated in place) "
    "hash-mismatches. History cost at 100 TB is bounded by churn × "
    "retained versions, the standard lakehouse trade.",
    tags=("pipeline", "lakehouse"),
)
def time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import (
        latest_version,
        merge_versioned,
        read_version,
        write_version,
    )

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    table = f"{scratch_dir('fx_tt_')}/customer"
    write_version(cust, table)
    updates = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_mktsegment", F.lit("MIGRATED")
    )
    merge_versioned(spark, table, updates, ["c_custkey"])

    v0 = read_version(spark, table, 0)
    v1 = read_version(spark, table)
    changed = (
        v0.select("c_custkey", F.col("c_mktsegment").alias("seg0"))
        .join(
            v1.select("c_custkey", F.col("c_mktsegment").alias("seg1")),
            "c_custkey",
        )
        .filter(F.col("seg0") != F.col("seg1"))
    )
    return spark.createDataFrame(
        [
            (
                latest_version(table),
                v0.count(),
                v1.count(),
                changed.count(),
            )
        ],
        "latest bigint, v0_rows bigint, v1_rows bigint, n_changed bigint",
    )


def _li_row_key() -> F.Column:
    """Portable row-content key for the lineitem fingerprint: PK +
    integer-cents money + enum flags, '|'-joined as strings. Floats are
    cents-cast BEFORE stringification (CAST-to-string of raw doubles is
    not engine-portable); timestamps are excluded for the same reason
    (the fingerprint covers a declared column set, like any checksum
    contract)."""
    return F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    )


_LI_ROW_KEY_SQL = (
    "concat_ws('|', CAST(l_orderkey AS VARCHAR), "
    "CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR), "
    "CAST(l_suppkey AS VARCHAR), "
    "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), "
    "l_returnflag, l_linestatus)"
)


@register(
    "dataset_merkle_fingerprint",
    oracle=f"""
    WITH hashed AS (
        SELECT CAST(('0x' || substr(md5(concat_ws('|',
                   CAST(l_orderkey AS VARCHAR),
                   CAST(l_linenumber AS VARCHAR))), 1, 13)) AS BIGINT)
                   % 64 AS bucket,
               CAST(('0x' || substr(md5({_LI_ROW_KEY_SQL}), 1, 13))
                   AS BIGINT) AS row_hash
        FROM lineitem
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(row_hash AS DECIMAL(38,0))) AS VARCHAR)
               AS bucket_hash
    FROM hashed GROUP BY bucket
    """,
    doc="Merkle-style dataset fingerprint: every row hashes its "
    "declared content columns to a portable 52-bit md5 integer "
    "(Spark conv(substr(md5)) == DuckDB ('0x'||substr(md5))::BIGINT "
    "— the same cross-engine identity driver_sim's agg-checksum mode "
    "uses), rows land in one of 64 PK-hashed buckets, and each bucket "
    "emits (n_rows, DECIMAL(38,0) hash-sum). The 64-row result is the "
    "table's integrity manifest: two snapshots are equal iff their "
    "manifests are, and a divergence names the buckets to re-sync — "
    "the standard way to compare 100 TB replicas without moving data "
    "(cf. the row-count-only audit of the reference's loader, "
    "extract_forex.py:173-179, which cannot localize). One shuffle, "
    "map-side partial agg, constant 64-row output at any scale; the "
    "sum is order-independent so the fingerprint is partitioning- and "
    "parallelism-invariant.",
    tags=("pipeline", "quality", "lakehouse"),
)
def dataset_merkle_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pk = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    hashed = li.select(
        F.pmod(
            F.conv(F.substring(F.md5(pk), 1, 13), 16, 10).cast("bigint"),
            F.lit(64),
        ).alias("bucket"),
        F.conv(F.substring(F.md5(_li_row_key()), 1, 13), 16, 10)
        .cast("bigint")
        .alias("row_hash"),
    )
    return hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("row_hash").cast("decimal(38,0)"))
        .cast("string")
        .alias("bucket_hash"),
    )


_FP_SNAP_SQL = """
        SELECT o_orderkey // 500 AS bucket,
               CAST(('0x' || substr(md5(concat_ws('|',
                   CAST(o_orderkey AS VARCHAR), o_orderstatus,
                   CAST(CAST(round(o_totalprice * 100)
                        + CASE WHEN repriced AND o_orderkey // 1000 = 1
                               THEN 1 ELSE 0 END AS BIGINT) AS VARCHAR))),
                   1, 13)) AS BIGINT) AS row_hash
        FROM orders, (SELECT {repriced} AS repriced)
        WHERE {keep}
"""


@register(
    "fingerprint_diff_localization",
    oracle=f"""
    WITH fa AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(row_hash) AS BIGINT) AS h
        FROM ({_FP_SNAP_SQL.format(repriced="FALSE", keep="TRUE")})
        GROUP BY bucket
    ),
    fb AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(row_hash) AS BIGINT) AS h
        FROM ({_FP_SNAP_SQL.format(repriced="TRUE",
                                   keep="o_orderkey >= 500")})
        GROUP BY bucket
    )
    SELECT COALESCE(fa.bucket, fb.bucket) AS bucket,
           fa.n_rows AS a_rows, fb.n_rows AS b_rows,
           fa.h AS a_hash, fb.h AS b_hash
    FROM fa FULL JOIN fb ON fa.bucket = fb.bucket
    WHERE fa.h IS DISTINCT FROM fb.h
       OR fa.n_rows IS DISTINCT FROM fb.n_rows
    """,
    doc="Merkle localization: fingerprint TWO snapshots of orders — "
    "the original, and a snapshot with a deterministic 'repriced day' "
    "(keys in [1000, 2000) get +1 cent) PLUS a ranged delete (keys "
    "[0, 500) dropped — an expired-retention partition) — with RANGE "
    "buckets (o_orderkey div 500, integer division on both engines), "
    "FULL-OUTER-join the manifests, and emit only the buckets whose "
    "(hash, count) IS DISTINCT FROM the twin's. The outer join is "
    "load-bearing: a bucket whose entire key range was inserted or "
    "deleted exists in only ONE manifest and an inner join would "
    "silently drop it from the diff — here bucket 0 surfaces with a "
    "NULL b-side. Because the perturbations are key-contiguous and "
    "buckets are key-ranged, the diff localizes to the deleted bucket "
    "+ the repriced bucket(s) out of N/500 — the re-sync set a 100 TB "
    "replica repair ships, vs re-reading the table. Two single-shuffle "
    "manifests + a 64-ish-row join; nothing row-sized leaves the "
    "executors.",
    tags=("pipeline", "incremental", "lakehouse"),
)
def fingerprint_diff_localization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    od = load(spark, sf_dir, "orders")

    def manifest(repriced: bool, keep: "str | None" = None) -> DataFrame:
        cents = F.round(F.col("o_totalprice") * 100).cast("bigint") + (
            F.when(
                F.lit(repriced)
                & (F.expr("o_orderkey div 1000") == 1),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        key = F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            cents.cast("bigint").cast("string"),
        )
        snap = od.filter(F.expr(keep)) if keep else od
        hashed = snap.select(
            F.expr("o_orderkey div 500").cast("long").alias("bucket"),
            F.conv(F.substring(F.md5(key), 1, 13), 16, 10)
            .cast("bigint")
            .alias("row_hash"),
        )
        return hashed.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_hash").alias("h"),
        )

    fa = manifest(False).alias("fa")
    fb = manifest(True, keep="o_orderkey >= 500").alias("fb")
    return (
        fa.join(fb, F.col("fa.bucket") == F.col("fb.bucket"), "full_outer")
        .filter(
            ~F.col("fa.h").eqNullSafe(F.col("fb.h"))
            | ~F.col("fa.n_rows").eqNullSafe(F.col("fb.n_rows"))
        )
        .select(
            F.coalesce(F.col("fa.bucket"), F.col("fb.bucket"))
            .alias("bucket"),
            F.col("fa.n_rows").alias("a_rows"),
            F.col("fb.n_rows").alias("b_rows"),
            F.col("fa.h").alias("a_hash"),
            F.col("fb.h").alias("b_hash"),
        )
    )
