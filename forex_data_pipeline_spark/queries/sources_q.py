"""Source/sink format coverage (SURVEY §2.1): the engine must ingest
more than parquet — the reference's Bronze layer is "whatever files the
extractor wrote" behind an external table
(/root/reference/.github/workflows/daily_run.yml:55-59), and a real
lake has CSV/JSON landing zones.

Each query is a write→read round trip: a projection of a test table is
written in the format under test (to scratch), read back with an
explicit schema (never inferSchema on the hot path — it double-reads
the data), and aggregated. The oracle aggregates the original parquet
directly, so a hash match proves the round trip is lossless.

Doubles survive both formats bit-exactly: Spark writes them with
Java's shortest round-trippable representation (Double.toString /
Jackson), so parse(write(x)) == x.

Scale notes: CSV/JSON scans are splittable (uncompressed / bzip2), so
the read side parallelizes like parquet minus the columnar features —
no pushdown, no pruning, no row-group skipping. The engine treats them
as landing formats: one pass to typed parquet/Delta, then query that
(exactly the reference's extract→Bronze design).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scratch import scratch_dir
from ..catalog import register
from ..session import child_session
from ..tables import load

_AGG_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total_price,
           CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS first_order
    FROM orders
    GROUP BY o_orderstatus
"""

_ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
    ]
)


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents).cast("double") / 100.0).alias("total_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
    )


def _orders_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )


@register(
    "csv_source_agg",
    oracle=_AGG_ORACLE,
    doc="CSV sink+source round trip: write orders projection as "
    "headered CSV, read back with an explicit schema (no "
    "inferSchema double-scan), aggregate. Hash match vs the "
    "parquet oracle proves losslessness incl. double round-trip.",
    tags=("source", "sink"),
)
def csv_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{scratch_dir('fx_csv_')}/orders"
    _orders_proj(spark, sf_dir).write.mode("overwrite").option(
        "header", True
    ).option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").csv(path)
    back = (
        spark.read.schema(_ORDERS_SCHEMA)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )
    return _roundtrip_agg(back)


@register(
    "json_source_agg",
    oracle=_AGG_ORACLE,
    doc="JSON-lines sink+source round trip with explicit schema; same "
    "lossless-round-trip proof as csv_source_agg for the second "
    "landing format.",
    tags=("source", "sink"),
)
def json_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{scratch_dir('fx_json_')}/orders"
    _orders_proj(spark, sf_dir).write.mode("overwrite").option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ).json(path)
    back = (
        spark.read.schema(_ORDERS_SCHEMA)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .json(path)
    )
    return _roundtrip_agg(back)


@register(
    "orc_source_agg",
    oracle=_AGG_ORACLE,
    doc="ORC sink+source round trip — the other columnar lake format "
    "Spark ships natively (vectorized reader, predicate pushdown, "
    "column pruning, stripe-level min/max skipping — the same scan "
    "features as parquet, unlike the CSV/JSON landing formats). "
    "Identical aggregate, identical oracle: a hash match proves "
    "byte-lossless storage of longs/doubles/timestamps.",
    tags=("source", "sink"),
)
def orc_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{scratch_dir('fx_orc_')}/orders"
    src = _orders_proj(spark, sf_dir)
    src.write.mode("overwrite").orc(path)
    # ORC stores the timestamp flavor it was given (NTZ here) and,
    # unlike parquet, refuses an NTZ→LTZ schema coercion at read — the
    # explicit read schema must carry the written flavor.
    back = spark.read.schema(src.schema).orc(path)
    return _roundtrip_agg(back)


@register(
    "csv_malformed_quarantine",
    oracle="""
    SELECT 'good' AS bucket, CAST(3 AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'quarantined', CAST(2 AS BIGINT)
    """,
    doc="Schema-drift tolerance at the landing zone: PERMISSIVE CSV "
    "parse of a fixed 5-line file with 2 corrupt rows routes "
    "unparseable lines into _corrupt_record instead of failing the "
    "job — at 100 TB a single bad line must never kill a scan; the "
    "quarantine bucket is counted and auditable. (Inputs are literal "
    "in the query, so the oracle is the expected constant table.)",
    tags=("source", "quality"),
)
def csv_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("fx_badcsv_")
    with open(f"{path}/landing.csv", "w") as f:
        f.write(
            "1,A,10.5,2024-01-01T00:00:00\n"
            "not,a,valid,row,extra,fields\n"
            "2,B,20.25,2024-01-02T00:00:00\n"
            "3,C,oops_not_a_number,2024-01-03T00:00:00\n"
            "4,D,40.0,2024-01-04T00:00:00\n"
        )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("code", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # SPARK-21610: corrupt-record refs need materialization
    )
    bucket = F.when(
        F.col("_corrupt_record").isNull(), F.lit("good")
    ).otherwise(F.lit("quarantined"))
    return back.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "parquet_stats_pushdown",
    oracle="""
    SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_lineitem,
           CAST((SELECT min(l_orderkey) FROM lineitem) AS BIGINT)
               AS min_orderkey,
           CAST((SELECT max(l_partkey) FROM lineitem) AS BIGINT)
               AS max_partkey,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
           CAST((SELECT max(o_custkey) FROM orders) AS BIGINT)
               AS max_custkey
    """,
    doc="Metadata-only statistics: COUNT/MIN/MAX answered from parquet "
    "FOOTERS via DSv2 aggregate pushdown "
    "(spark.sql.parquet.aggregatePushdown — the plan shows "
    "PushedAggregation and reads zero data pages; asserted in "
    "tests/test_plans.py). At 100 TB this is the difference between "
    "a row-count taking milliseconds and a full scan: the table "
    "profile every pipeline health-check opens with. The V2-reader "
    "confs are scoped to this query (read on a child session of the "
    "caller's) because the session-global default stays on the "
    "battle-tested V1 path.",
    tags=("source", "aggregation", "pushdown"),
)
def parquet_stats_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    v2 = child_session(spark, {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    })
    li = v2.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
        F.count(F.lit(1)).alias("n_lineitem"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_partkey").alias("max_partkey"),
    ).collect()[0]
    od = v2.read.parquet(f"{sf_dir}/orders.parquet").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("o_custkey").alias("max_custkey"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                li["n_lineitem"], li["min_orderkey"], li["max_partkey"],
                od["n_orders"], od["max_custkey"],
            )
        ],
        "n_lineitem bigint, min_orderkey bigint, max_partkey bigint, "
        "n_orders bigint, max_custkey bigint",
    )
