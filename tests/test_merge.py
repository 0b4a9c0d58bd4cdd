"""Unit tests for the incremental MERGE writer (S9) and its helpers."""

from __future__ import annotations

import pandas as pd
import pytest

from forex_data_pipeline_spark.sources.writers import (
    high_watermark,
    merge_upsert,
    replace_table,
    write_partitioned,
)


def _rows(spark, path, order=("k",)):
    return (
        spark.read.parquet(path)
        .toPandas()
        .sort_values(list(order))
        .reset_index(drop=True)
    )


def test_merge_rewrite_upserts(spark, tmp_path):
    path = f"{tmp_path}/t"
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    merge_upsert(spark, path, base, ["k"])
    batch = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "k int, s string, v int"
    )
    merge_upsert(spark, path, batch, ["k"])
    got = _rows(spark, path)
    exp = pd.DataFrame(
        {"k": [1, 2, 3, 4], "s": ["a", "B", "c", "d"], "v": [10, 99, 30, 40]}
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # the swap onto a path that holds no table yet moves it into place
    replace_table(batch, f"{tmp_path}/fresh")
    got = _rows(spark, f"{tmp_path}/fresh")
    exp = pd.DataFrame({"k": [2, 4], "s": ["B", "d"], "v": [99, 40]})
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_high_watermark(spark, tmp_path):
    from forex_data_pipeline_spark.sources.writers import column_max

    path = f"{tmp_path}/w"
    df = spark.createDataFrame([(1, 5), (2, 9), (3, None)], "k int, v int")
    assert high_watermark(spark, path, "v", df.schema) is None
    write_partitioned(df, path)
    assert high_watermark(spark, path, "v", df.schema) == 9  # NULLs never win
    assert column_max(spark.createDataFrame([], "v int"), "v") is None


def test_sort_within_clusters_rows_for_rowgroup_skipping(spark, tmp_path):
    """cluster_by analogue: sort_within must leave each output file
    internally sorted on the cluster key so parquet row-group min/max
    stats are selective."""
    import glob

    import pandas as pd

    from forex_data_pipeline_spark.sources.writers import write_partitioned
    from forex_data_pipeline_spark.tables import load

    df = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "value"
    )
    path = str(tmp_path / "clustered")
    write_partitioned(df, path, sort_within=("event_type",))
    for f in glob.glob(f"{path}/*.parquet"):
        col = pd.read_parquet(f, columns=["event_type"])["event_type"]
        assert col.is_monotonic_increasing, f


def test_parquet_schema_evolution_merge_schema(spark, tmp_path):
    """Schema drift across landed batches (a column added mid-stream)
    must be readable as one table via mergeSchema: old rows surface
    NULL for the new column, new rows carry it — the Bronze-layer
    contract when an upstream extractor gains a field."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolving")
    spark.range(3).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    ).write.parquet(f"{base}/b1")
    spark.range(3, 6).select(
        F.col("id"),
        (F.col("id") * 1.0).alias("v"),
        F.lit("eur_usd").alias("source_symbol"),
    ).write.parquet(f"{base}/b2")

    merged = spark.read.option("mergeSchema", True).parquet(
        f"{base}/b1", f"{base}/b2"
    )
    assert "source_symbol" in merged.columns
    assert merged.count() == 6
    assert merged.filter(F.col("source_symbol").isNull()).count() == 3
    assert (
        merged.filter(F.col("source_symbol") == "eur_usd").count() == 3
    )


def test_versioned_writes_time_travel(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from forex_data_pipeline_spark.sources.writers import (
        latest_version,
        merge_versioned,
        read_version,
        table_versions,
        write_version,
    )
    from forex_data_pipeline_spark.tables import load

    table = str(tmp_path / "versioned")
    nat = load(spark, sf_dir, "nation")
    v0 = write_version(nat, table)
    assert v0 == 0 and latest_version(table) == 0

    updates = nat.limit(3).withColumn("n_name", F.lit("RENAMED"))
    v1 = merge_versioned(spark, table, updates, ["n_nationkey"])
    assert v1 == 1 and table_versions(table) == [0, 1]

    # time travel: v0 unchanged, latest reflects the merge
    old = read_version(spark, table, 0)
    assert old.filter(F.col("n_name") == "RENAMED").count() == 0
    new = read_version(spark, table)
    assert new.count() == nat.count()
    assert new.filter(F.col("n_name") == "RENAMED").count() == 3

    # the manifest, not directory listing, defines "committed":
    # an orphan data dir (crashed writer) must stay invisible
    import os
    os.makedirs(f"{table}/v=99", exist_ok=True)
    assert latest_version(table) == 1
    assert read_version(spark, table).count() == nat.count()

    # and the version's _filelist, not a listing, defines its files: a
    # stray part file is not read, and a missing filelist (a version
    # being deleted) is a clean error, never a partial scan
    import shutil

    v0_dir = f"{table}/v=0"
    part = sorted(p for p in os.listdir(v0_dir) if p.endswith(".parquet"))[0]
    shutil.copy(f"{v0_dir}/{part}", f"{v0_dir}/part-stray.parquet")
    assert read_version(spark, table, 0).count() == nat.count()
    os.remove(f"{v0_dir}/_filelist")
    with pytest.raises(FileNotFoundError):
        read_version(spark, table, 0)
