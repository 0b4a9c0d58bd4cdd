"""Harness self-tests: the driver_sim agg-checksum fallback must be a
faithful stand-in for the full value-hash when results are too large to
ship to the driver (see SCALING.md — simhash emits 44.9M pairs at sf1).

The checksum is (count, DECIMAL(38,0) sum of portable 52-bit md5 row
hashes), computed ENGINE-SIDE on both engines over the '|'-join of the
name-sorted columns cast to string. These tests pin the two properties
the sweep depends on: cross-engine hash equality on identical results,
and detection of a single-row difference.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
)

from driver_sim import _agg_checksum  # noqa: E402

from conftest import SF_DIR  # noqa: E402


def _docs_sql(where: str = "TRUE") -> str:
    return (
        "SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars "
        f"FROM read_parquet('{SF_DIR}/documents.parquet') WHERE {where}"
    )


def test_agg_checksum_matches_identical_results(spark, oracle_con):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("doc_id", "lang", "CAST(n_chars AS BIGINT) AS n_chars")
    )
    s, d = _agg_checksum(df, oracle_con, _docs_sql())
    assert s == d
    assert s[0] > 0 and s[1] is not None


def test_agg_checksum_detects_single_row_difference(spark, oracle_con):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("doc_id", "lang", "CAST(n_chars AS BIGINT) AS n_chars")
    )
    # oracle drops exactly one row: count and hash-sum must both move
    mn = oracle_con.execute(
        f"SELECT min(doc_id) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    s, d = _agg_checksum(df, oracle_con, _docs_sql(f"doc_id <> {mn}"))
    assert s[0] == d[0] + 1
    assert s[1] != d[1]


def test_agg_checksum_column_order_is_name_sorted(spark, oracle_con):
    # same columns selected in a different order must hash identically
    a = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "lang", "doc_id", "CAST(n_chars AS BIGINT) AS n_chars"
    )
    s, d = _agg_checksum(a, oracle_con, _docs_sql())
    assert s == d


def test_sharded_checksum_matches_identical_results(spark, oracle_con):
    """Per-bucket fold over the shard key must agree bucket-for-bucket
    with DuckDB executing one bucket at a time (the sf10 fallback for
    oracles that exhaust DuckDB's spill disk in one shot)."""
    from driver_sim import _sharded_checksum

    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("doc_id", "lang", "CAST(n_chars AS BIGINT) AS n_chars")
    )
    s, d, dropped, spot = _sharded_checksum(df, oracle_con, _docs_sql(),
                                            "doc_id", 8)
    assert dropped == []
    assert s == d and len(s) > 1  # really split across buckets
    assert sum(v[0] for v in s.values()) > 0
    # smallest-bucket strict spot-check ran and agreed
    assert spot is not None and spot[1] is True and spot[2] > 0


def test_sharded_checksum_detects_single_row_difference(spark, oracle_con):
    from driver_sim import _sharded_checksum

    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("doc_id", "lang", "CAST(n_chars AS BIGINT) AS n_chars")
    )
    mn = oracle_con.execute(
        f"SELECT min(doc_id) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    s, d, _, _spot = _sharded_checksum(
        df, oracle_con, _docs_sql(f"doc_id <> {mn}"), "doc_id", 8
    )
    assert s != d
    assert sum(v[0] for v in s.values()) == sum(v[0] for v in d.values()) + 1


def test_sharded_checksum_drops_float_columns_honestly(spark, oracle_con):
    """Float outputs are excluded from the row key (engine-specific
    VARCHAR rendering) and REPORTED — the integer columns still check."""
    from driver_sim import _sharded_checksum

    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr(
            "doc_id", "CAST(n_chars AS BIGINT) AS n_chars",
            "CAST(n_chars AS DOUBLE) / 7 AS ratio",
        )
    )
    sql = (
        "SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, "
        "CAST(n_chars AS DOUBLE) / 7 AS ratio "
        f"FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    s, d, dropped, spot = _sharded_checksum(df, oracle_con, sql,
                                            "doc_id", 4)
    assert dropped == ["ratio"]
    assert s == d
    # the spot-check covers what the checksums drop: full rows of the
    # smallest bucket compare strictly WITH the float column
    assert spot is not None and spot[1] is True


def test_sharded_spot_subshards_when_smallest_bucket_over_cap(
    spark, oracle_con, monkeypatch
):
    """When even the smallest bucket exceeds _SPOT_MAX_ROWS (the
    smallest IS the global minimum, so no bucket fits), the strict
    spot must SUB-SHARD that bucket with a salted second hash and
    check the largest sub-slice under the cap instead of silently
    skipping (r9 verdict item 6: a sharded record's float coverage
    could vanish just because row counts grew past the cap)."""
    import driver_sim
    from driver_sim import _sharded_checksum

    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("doc_id", "lang", "CAST(n_chars AS BIGINT) AS n_chars")
    )
    s, d, _, spot = _sharded_checksum(df, oracle_con, _docs_sql(),
                                      "doc_id", 8)
    sizes = sorted(v[0] for v in s.values())
    assert sizes[0] > 4  # enough rows for the sub-shard to split

    # cap below every bucket: previously a silent skip — now the spot
    # must run on a sub-slice of the smallest bucket and match
    monkeypatch.setattr(driver_sim, "_SPOT_MAX_ROWS", sizes[0] - 1)
    _, _, _, spot_sub = _sharded_checksum(df, oracle_con, _docs_sql(),
                                          "doc_id", 8)
    assert spot_sub is not None and spot_sub[1] is True
    assert 0 < spot_sub[2] <= sizes[0] - 1
    assert isinstance(spot_sub[0], str) and "." in spot_sub[0]

    # cap of 0 rows: nothing can ever fit → honest skip (ok=None),
    # which the sweep then treats as a FAILURE unless the forensics
    # escape hatch SPARK_SIM_ALLOW_SPOT_SKIP is set
    monkeypatch.setattr(driver_sim, "_SPOT_MAX_ROWS", 0)
    _, _, _, spot_skip = _sharded_checksum(df, oracle_con, _docs_sql(),
                                           "doc_id", 8)
    assert spot_skip is not None and spot_skip[1] is None


def test_merkle_fingerprint_partitioning_invariant(spark, tmp_path):
    """The manifest must be identical however the table is laid out on
    disk or shuffled at runtime — the property that makes it usable to
    compare two 100 TB replicas with different file layouts."""
    from forex_data_pipeline_spark.queries.pipeline_q import (
        dataset_merkle_fingerprint,
    )

    base = dataset_merkle_fingerprint(spark, SF_DIR).toPandas()
    base = base.sort_values("bucket").reset_index(drop=True)

    # re-lay the table out: 13 files, rows scattered by a hash column
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    alt_dir = str(tmp_path / "alt")
    import os as _os

    _os.makedirs(alt_dir)
    li.repartition(13, "l_partkey").write.parquet(f"{alt_dir}/lineitem.parquet")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = dataset_merkle_fingerprint(spark, alt_dir)
        # the query call must not reset the width this half runs at
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        alt = alt.toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    alt = alt.sort_values("bucket").reset_index(drop=True)

    assert base["bucket"].tolist() == alt["bucket"].tolist()
    assert base["n_rows"].tolist() == alt["n_rows"].tolist()
    assert base["bucket_hash"].tolist() == alt["bucket_hash"].tolist()
