#!/usr/bin/env python
"""Driver simulation: runs the __spark_entry__ contract exactly like the
round driver — plain un-tuned SparkSession, sf0.01 tables, STRICT
order-insensitive value-hash comparison against the DuckDB oracles
(repr-equality on floats, no tolerance).

Usage: python scripts/driver_sim.py [sf_dir] [name1,name2,...]
Exit code 0 iff every oracle-backed query hash-matches.

Every per-query outcome is also appended to SWEEPS.jsonl (repo root) as
one machine-readable line: run id, sf_dir, query, verification MODE
(strict / agg-checksum / sharded-checksum / rows-only / error), result,
row counts — the durable record of which query was verified HOW at
which scale (VERDICT r7 item #7). Set SPARK_SIM_NO_LOG=1 to suppress.

Fallback ladder per query (strongest first):
1. strict        — full result to pandas on both engines, value-hash.
2. agg-checksum  — result exceeds spark driver maxResultSize: engine-
                   side (count, sum of 52-bit md5 row keys) on both.
3. sharded-checksum — DuckDB itself exhausts memory/disk materializing
                   the oracle in one shot (first hit: bloom at sf10):
                   if the query registers a shard_key output column,
                   both engines compute the agg checksum PER md5-bucket
                   of that column (SPARK_SIM_ORACLE_BUCKETS, default 8)
                   and the per-bucket tuples must match. The bucket
                   filter pushes below the oracle's joins/aggregations,
                   dividing DuckDB's peak spill by the bucket count.
                   SPARK_SIM_FORCE_SHARDED=1 forces this path for every
                   shard_key query (used by tests to pin equivalence).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].map(repr)
    df = df.astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


#: Column types safe for the cross-engine CAST-to-string checksum
#: (float/timestamp formatting differs between engines; the normal
#: value_hash path repr()s floats in pandas on BOTH sides instead).
#: Exact names, NOT prefixes: a bare prefix "int" would also match
#: Spark "interval ..." dtypes, whose string rendering differs between
#: engines and would turn into a spurious MISMATCH.
_AGG_SAFE_EXACT = {"tinyint", "smallint", "int", "bigint", "string",
                   "boolean", "date"}


def _agg_safe_type(t: str) -> bool:
    return t in _AGG_SAFE_EXACT or t.startswith("decimal")


def _agg_checksum(df, con, oracle_sql: str):
    """Order-independent (count, sum-of-52-bit-md5) comparison for
    results too large to ship to the driver: each row is keyed by the
    '|'-join of its name-sorted columns CAST to string, hashed to a
    52-bit integer via md5 (portable: Spark conv(substr(md5)) ==
    DuckDB ('0x'||substr(md5))::BIGINT), and summed in DECIMAL(38,0)
    (a BIGINT sum overflows past ~2k rows of 52-bit values). Strictly
    weaker than the full value-hash only in that engine differences
    would need to cancel exactly in the sum — 2^-52-scale likelihood.
    Returns (spark_tuple, duck_tuple)."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.conv(F.substring(F.md5(key), 1, 13), 16, 10)
            .cast("decimal(38,0)")
        ).alias("hs"),
    ).collect()[0]
    key_sql = "concat_ws('|', " + ", ".join(
        f"CAST({c} AS VARCHAR)" for c in cols
    ) + ")"
    n2, h2 = con.execute(
        f"SELECT count(*), sum(CAST(CAST(('0x'||substr(md5({key_sql}),1,13))"
        f" AS BIGINT) AS DECIMAL(38,0))) FROM ({oracle_sql})"
    ).fetchone()
    return (
        (int(row["n"]), None if row["hs"] is None else int(row["hs"])),
        (int(n2), None if h2 is None else int(h2)),
    )


def _spec(name: str):
    from forex_data_pipeline_spark import catalog

    catalog._ensure_loaded()
    return catalog.REGISTRY.get(name)


def _duck_resource_error(exc: Exception) -> bool:
    """DuckDB ran out of memory or spill disk materializing the oracle
    — the class of failure the sharded mode exists for. Matched against
    DuckDB's actual resource-exhaustion phrasings only (a broad 'disk'/
    'IOException' substring would reroute unrelated failures into the
    sharded retry and hide the original error); the caller prints the
    original exception before retrying regardless."""
    s = f"{type(exc).__name__}: {exc}"
    return any(
        k in s for k in (
            "OutOfMemoryException", "Out of Memory Error",
            "could not allocate", "failed to allocate",
            "No space left on device",
        )
    )


_B52_DUCK = "CAST(('0x'||substr(md5({key}),1,13)) AS BIGINT)"

#: row cap for the sharded mode's smallest-bucket strict spot-check
#: (full rows cross the driver there; beyond this it is exactly the
#: failure class sharding avoids)
_SPOT_MAX_ROWS = 500_000


def _sharded_checksum(df, con, oracle_sql: str, key: str, buckets: int,
                      sharded_template: "str | None" = None,
                      setup_sql: "str | None" = None):
    """Per-bucket (count, sum-of-52-bit-md5) comparison: rows partition
    by md5-bucket of the shard_key OUTPUT column — a pure partition of
    the result set, so equality of all bucket tuples iff equality of
    the whole multiset (up to 2^-52-scale hash collisions, same as
    _agg_checksum). DuckDB executes one bucket at a time with the
    bucket predicate pushed below the oracle's joins/aggregations, so
    its peak memory/spill divides by the bucket count; Spark computes
    all buckets in one pass (one small groupBy).

    Float/double columns are EXCLUDED from the row key (their VARCHAR
    rendering is engine-specific); the dropped names are returned and
    printed/logged so the weakening is on the record. How much the drop
    weakens the check depends on the query: for the doc-keyed shard
    queries every float output is a derived ratio of integer outputs
    that ARE checksummed (e.g. contamination_rate = n_contaminated /
    n_shingles), so the drop loses nothing there — but for the PAIR
    queries (minhash_lsh_pairs' est_jaccard, embedding_near_dup_pairs'
    / embedding_near_dup_lsh's cos_sim) the similarity value is NOT a
    ratio of checksummed integer columns, so sharded mode verifies only
    (a_id, b_id) pair MEMBERSHIP for those in the checksums: a
    similarity-value divergence that stays on the same side of the
    threshold would pass the per-bucket sums. Two mitigations: the
    strict value-hash runs at sf0.001/0.01/0.1 compare those floats
    exactly, and the smallest non-empty bucket additionally gets a
    FULL-ROW strict spot-check (floats included, same value_hash as
    the normal path) inside every sharded run.
    Returns (spark_dict, duck_dict, dropped_cols, spot) where spot is
    None (no non-empty bucket) or (label, ok|None-if-skipped, rows);
    label is the bucket index, or "i.j/k" when the smallest bucket
    exceeded _SPOT_MAX_ROWS and sub-slice j of k was checked instead
    (see the spot-check comment below)."""
    from pyspark.sql import functions as F

    safe = {c for c, t in df.dtypes if _agg_safe_type(t)}
    dropped = sorted(c for c in df.columns if c not in safe)
    cols = sorted(safe)
    if key not in safe or not cols:
        raise ValueError(
            f"shard_key {key!r} or all columns non-portable: {dropped}"
        )
    rowkey = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    skey = F.coalesce(F.col(key).cast("string"), F.lit("~null~"))
    bkt = (
        F.conv(F.substring(F.md5(skey), 1, 13), 16, 10)
        .cast("bigint") % buckets
    )
    got = {
        int(r["bkt"]): (int(r["n"]), None if r["hs"] is None else int(r["hs"]))
        for r in df.groupBy(bkt.alias("bkt"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.conv(F.substring(F.md5(rowkey), 1, 13), 16, 10)
                .cast("decimal(38,0)")
            ).alias("hs"),
        )
        .collect()
    }
    key_sql = "concat_ws('|', " + ", ".join(
        f"CAST({c} AS VARCHAR)" for c in cols
    ) + ")"
    skey_sql = f"coalesce(CAST({key} AS VARCHAR), '~null~')"
    bkt_sql = f"({_B52_DUCK.format(key=skey_sql)} % {buckets})"
    if sharded_template is not None and setup_sql:
        # one-time global-state staging (CREATE OR REPLACE TEMP TABLE
        # …): the train set / sketch params materialize once instead
        # of once per bucket (QuerySpec.oracle_shard_setup)
        con.execute(setup_sql)
    exp = {}
    for i in range(buckets):
        if sharded_template is not None:
            # SOURCE-pushed template (QuerySpec.oracle_sharded): the
            # bucket predicate restricts the oracle's per-row side at
            # the source, before its heavy CTEs — no outer WHERE that
            # the optimizer may fail to push (round 8: bloom's outer
            # bucket filter never reached the tokenize; every bucket
            # materialized the full corpus and blew the spill disk).
            # str.replace, not .format: generated SQL can contain
            # regex quantifiers like {4} that .format would reject.
            body = sharded_template.replace("{pred}", f"{bkt_sql} = {i}")
            sql = (
                f"SELECT count(*), "
                f"sum(CAST({_B52_DUCK.format(key=key_sql)} "
                f"AS DECIMAL(38,0))) FROM ({body})"
            )
        else:
            sql = (
                f"SELECT count(*), "
                f"sum(CAST({_B52_DUCK.format(key=key_sql)} "
                f"AS DECIMAL(38,0)))"
                f" FROM ({oracle_sql}) WHERE {bkt_sql} = {i}"
            )
        n2, h2 = con.execute(sql).fetchone()
        if n2:
            exp[i] = (int(n2), None if h2 is None else int(h2))
    # Smallest-bucket STRICT spot-check (floats included): the bucket
    # checksums above drop float columns (engine-specific VARCHAR
    # rendering), which for pair queries weakens the check to id
    # membership. One full-row fetch of the smallest non-empty bucket
    # runs the SAME strict value-hash as the normal path (pandas repr
    # on both engines), so each sharded record carries at least one
    # float-exact slice. If even the smallest bucket exceeds
    # _SPOT_MAX_ROWS (the smallest bucket IS the global minimum, so no
    # other bucket can fit either), the bucket is SUB-SHARDED with an
    # independently-salted second hash of the shard key and the largest
    # sub-slice under the cap is spot-checked instead — previously the
    # spot silently skipped here (r9 verdict item 6), meaning a sharded
    # record's float coverage could vanish just because the row count
    # grew past the cap. A skip (ok=None) now requires every sub-slice
    # to exceed the cap too — i.e. extreme key skew where one shard-key
    # value alone holds > _SPOT_MAX_ROWS rows — and the caller treats
    # it as a FAILURE unless SPARK_SIM_ALLOW_SPOT_SKIP=1.
    spot = None
    if exp:
        i_min = min(exp, key=lambda i: exp[i][0])
        n_min = exp[i_min][0]
        spot_label: "int | str" = i_min
        pred_sql = f"{bkt_sql} = {i_min}"
        pred_spark = bkt == i_min
        if n_min > _SPOT_MAX_ROWS:
            # salt-prefixed second md5: independent of the bucket hash
            # (same key → same bucket, but sub-slices split it further)
            k = max(2, 2 * -(-n_min // max(1, _SPOT_MAX_ROWS)))
            sub = (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("~spot~"), skey)), 1, 13
                    ), 16, 10,
                ).cast("bigint") % k
            )
            sizes = {
                int(r["sub"]): int(r["n"])
                for r in df.filter(pred_spark)
                .groupBy(sub.alias("sub"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            fitting = [
                j for j, n in sizes.items()
                if 0 < n <= _SPOT_MAX_ROWS
            ]
            if not fitting:
                return got, exp, dropped, (i_min, None, n_min)
            # largest fitting sub-slice = maximum float coverage the
            # cap allows (the whole-bucket path keeps "smallest bucket"
            # because bucket counts are fixed and small; here every
            # candidate already fits, so bigger is strictly better)
            j = max(fitting, key=lambda j: sizes[j])
            sub_sql = _B52_DUCK.format(key=f"'~spot~'||{skey_sql}")
            pred_sql += f" AND ({sub_sql} % {k}) = {j}"
            pred_spark = pred_spark & (sub == j)
            spot_label = f"{i_min}.{j}/{k}"
        if sharded_template is not None:
            body = sharded_template.replace("{pred}", pred_sql)
            full_sql = f"SELECT * FROM ({body})"
        else:
            full_sql = (
                f"SELECT * FROM ({oracle_sql}) WHERE {pred_sql}"
            )
        duck_rows = con.execute(full_sql).df()
        spark_rows = df.filter(pred_spark).toPandas()
        spot = (
            spot_label,
            len(spark_rows) == len(duck_rows)
            and value_hash(spark_rows) == value_hash(duck_rows),
            len(duck_rows),
        )
    return got, exp, dropped, spot


_RUN_ID = datetime.datetime.now().strftime("%Y%m%dT%H%M%S")


def _log_sweep(sf_dir: str, name: str, mode: str, ok, rows_got, rows_exp,
               detail: str = "") -> None:
    """One machine-readable line per query per run → SWEEPS.jsonl."""
    if os.environ.get("SPARK_SIM_NO_LOG"):
        return
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SWEEPS.jsonl",
    )
    rec = {
        "run": _RUN_ID,
        "ts": datetime.datetime.now().isoformat(timespec="seconds"),
        "sf_dir": sf_dir,
        "query": name,
        "mode": mode,
        "ok": ok,
        "rows_got": rows_got,
        "rows_exp": rows_exp,
    }
    if detail:
        rec["detail"] = detail[:500]
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
    )
    # The driver-faithful session keeps Spark's 1g default heap — right
    # for the driver's sf0.01 runs. Full-catalog runs at sf0.1 need
    # more (1g across 16 threads is ~64 MB/task; triangle counting
    # OOMs): SPARK_SIM_MEM=4g lifts it without touching anything else.
    mem = os.environ.get("SPARK_SIM_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    import __spark_entry__ as ent

    n = len(ent.entry(spark).collect())
    print(f"entry: {n} rows")
    assert n > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = ent.queries(), ent.oracle_sql()
    # optional filter: scripts/driver_sim.py [sf_dir] [name1,name2,...]
    if len(sys.argv) > 2:
        wanted = set(sys.argv[2].split(","))
        qs = {n: f for n, f in qs.items() if n in wanted}
    buckets = int(os.environ.get("SPARK_SIM_ORACLE_BUCKETS", "8"))
    force_sharded = bool(os.environ.get("SPARK_SIM_FORCE_SHARDED"))
    fails = []

    def _sharded(name, df, mode_label):
        spec = _spec(name)
        if getattr(spec, "oracle_sharded", None):
            mode_label += "-source-pushed"
        try:
            s, d, dropped, spot = _sharded_checksum(
                df, con, oracles[name], spec.shard_key, buckets,
                sharded_template=getattr(spec, "oracle_sharded", None),
                setup_sql=getattr(spec, "oracle_shard_setup", None),
            )
        except Exception as exc:  # noqa: BLE001
            fails.append(name)
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            _log_sweep(sf_dir, name, mode_label, False, None, None,
                       f"{type(exc).__name__}: {exc}")
            return
        n_s = sum(v[0] for v in s.values())
        n_d = sum(v[0] for v in d.values())
        ok = s == d and n_s > 0
        if spot is not None and spot[1] is False:
            ok = False  # float-exact slice disagreed
        if (
            spot is not None and spot[1] is None
            and not os.environ.get("SPARK_SIM_ALLOW_SPOT_SKIP")
        ):
            # no float-exact slice could run (even sub-sharding found
            # no slice under the cap — extreme shard-key skew): a
            # sharded record may not ship with a silently-skipped
            # spot (r9 verdict item 6); escape hatch for forensics
            ok = False
        if not ok:
            fails.append(name)
        note = f", dropped={dropped}" if dropped else ""
        if spot is not None:
            verdict = {True: "ok", False: "MISMATCH", None: "skipped"}[
                spot[1]
            ]
            note += (
                f", strict-spot bucket {spot[0]} ({spot[2]} rows, "
                f"floats incl.): {verdict}"
            )
        print(
            f"{name}: {'OK' if ok else 'MISMATCH'} "
            f"({mode_label}, {buckets} buckets{note}) rows={n_s}/{n_d}"
        )
        _log_sweep(sf_dir, name, mode_label, ok, n_s, n_d,
                   note.lstrip(", "))

    for name, fn in qs.items():
        df = None
        spec = _spec(name)
        try:
            df = fn(spark, sf_dir)
            if (
                force_sharded
                and spec is not None and spec.shard_key
                and name in oracles
            ):
                _sharded(name, df, "sharded-checksum-forced")
                continue
            got = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            # Result set too big for the driver (e.g. quadratic pair
            # outputs at scale-rehearsal SFs): fall back to the
            # order-independent aggregate checksum, computed engine-side
            # on BOTH engines — nothing corpus-sized crosses the driver.
            # df is None if fn() itself raised; dtypes triggers plan
            # analysis and can throw — guard both so a weird failure is
            # RECORDED per-query instead of crashing the sweep.
            try:
                agg_ok = (
                    df is not None
                    and "maxResultSize" in str(exc)
                    and name in oracles
                    and all(_agg_safe_type(t) for _, t in df.dtypes)
                )
            except Exception:  # noqa: BLE001
                agg_ok = False
            if agg_ok:
                try:
                    s, d = _agg_checksum(df, con, oracles[name])
                except Exception as exc2:  # noqa: BLE001
                    # DuckDB exhausted memory/spill disk on the one-shot
                    # checksum: retry per-bucket if the query shards
                    if (
                        _duck_resource_error(exc2)
                        and spec is not None and spec.shard_key
                    ):
                        print(
                            f"{name}: duck resource error on one-shot "
                            f"checksum ({type(exc2).__name__}: {exc2}) "
                            "— retrying sharded"
                        )
                        _sharded(name, df, "sharded-checksum")
                        continue
                    fails.append(name)
                    print(f"{name}: ERROR {type(exc2).__name__}: {exc2}")
                    _log_sweep(sf_dir, name, "agg-checksum", False, None,
                               None, f"{type(exc2).__name__}: {exc2}")
                    continue
                ok = s == d and s[0] > 0
                if not ok:
                    fails.append(name)
                print(
                    f"{name}: {'OK' if ok else 'MISMATCH'} "
                    f"(agg-checksum) rows={s[0]}/{d[0]}"
                )
                _log_sweep(sf_dir, name, "agg-checksum", ok, s[0], d[0])
                continue
            fails.append(name)
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            _log_sweep(sf_dir, name, "error", False, None, None,
                       f"{type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only {len(got)}")
            _log_sweep(sf_dir, name, "rows-only", None, len(got), None)
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            # oracle itself died (first hit: bloom at sf10 — DuckDB
            # exceeded container spill disk): per-bucket retry
            if (
                _duck_resource_error(exc)
                and spec is not None and spec.shard_key
            ):
                print(
                    f"{name}: duck resource error on oracle "
                    f"({type(exc).__name__}: {exc}) — retrying sharded"
                )
                _sharded(name, df, "sharded-checksum")
                continue
            fails.append(name)
            print(f"{name}: ORACLE-ERROR {type(exc).__name__}: {exc}")
            _log_sweep(sf_dir, name, "oracle-error", False, len(got),
                       None, f"{type(exc).__name__}: {exc}")
            continue
        ok = len(got) == len(exp) and value_hash(got) == value_hash(exp)
        if ok and len(exp) == 0:  # a 0-row oracle proves nothing
            ok = False
            print(f"{name}: VACUOUS (oracle returned 0 rows)")
        if not ok:
            fails.append(name)
        print(f"{name}: {'OK' if ok else 'MISMATCH'} rows={len(got)}/{len(exp)}")
        _log_sweep(sf_dir, name, "strict", ok, len(got), len(exp))
    print(f"{len(qs) - len(fails)}/{len(qs)} ok; FAILS: {fails or 'none'}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
