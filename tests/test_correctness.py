"""Runs every registered query against its DuckDB oracle — the same
check the verify driver performs (at sf0.001 by default for speed; set
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the driver's scale)."""

from __future__ import annotations

import pytest

from forex_data_pipeline_spark import catalog
from tests.conftest import assert_df_matches_oracle

catalog._ensure_loaded()
ORACLE_CASES = sorted(n for n, s in catalog.REGISTRY.items() if s.oracle)
NO_ORACLE_CASES = sorted(n for n, s in catalog.REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    spec = catalog.REGISTRY[name]
    assert_df_matches_oracle(spec.fn(spark, sf_dir), oracle_con, spec.oracle)


@pytest.mark.parametrize("name", NO_ORACLE_CASES)
def test_query_runs(name, spark, sf_dir):
    """Weaker rows-only check for non-SQL-expressible ops (mirrors the
    driver's fallback)."""
    spec = catalog.REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    assert df.count() > 0


def test_every_oracle_key_has_query():
    q, o = catalog.queries(), catalog.oracle_sql()
    assert set(o) <= set(q)


def test_sharded_oracle_templates_equal_plain_oracle(oracle_con):
    """The sharded-mode oracle artifacts (QuerySpec.oracle_sharded +
    oracle_shard_setup, used by driver_sim at rehearsal SFs where the
    plain oracle exceeds container resources) must be EQUAL to the
    plain oracle: running the setup once and unioning every bucket's
    template output must reproduce the plain oracle's rows exactly.
    Pure DuckDB — pins the template so it cannot drift from the
    strict oracle it stands in for. Bucket predicate mirrors
    driver_sim._sharded_checksum's md5-52-bit bucketing."""
    import pandas as pd

    buckets = 4
    checked = 0
    for name, spec in sorted(catalog.REGISTRY.items()):
        if not getattr(spec, "oracle_sharded", None):
            continue
        assert spec.oracle and spec.shard_key
        if getattr(spec, "oracle_shard_setup", None):
            oracle_con.execute(spec.oracle_shard_setup)
        skey = (
            f"coalesce(CAST({spec.shard_key} AS VARCHAR), '~null~')"
        )
        bkt = (
            f"(CAST(('0x'||substr(md5({skey}),1,13)) AS BIGINT) "
            f"% {buckets})"
        )
        parts = []
        for i in range(buckets):
            body = spec.oracle_sharded.replace(
                "{pred}", f"{bkt} = {i}"
            )
            parts.append(oracle_con.execute(body).df())
        got = pd.concat(parts, ignore_index=True)
        exp = oracle_con.execute(spec.oracle).df()
        assert len(got) == len(exp) > 0, name
        key = sorted(got.columns)
        got_s = got[key].sort_values(key).reset_index(drop=True)
        exp_s = exp[key].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got_s, exp_s, check_dtype=False)
        checked += 1
    assert checked >= 1  # bloom is registered with a template today
