"""Sinks: partitioned parquet writer + incremental MERGE upsert (SURVEY
§2.1 S3/S4/S9).

The reference's MERGE is day-partitioned, so its daily cost follows the
batch, not the table (models/staging/stg_eurusd.sql:2-11,
models/marts/fct_eurusd_timeframes.sql:2-13). Here:

- ``merge_upsert`` — existing ⋉̸ keys(batch) ∪ batch, the whole table,
  through :func:`replace_table`.
- append — the medallion's silver: its watermark admits only keys above
  every stored key, so a MERGE would remove nothing. A day adds part
  files and rewrites none; nothing compacts them, so silver's file
  count grows with every run.
- range replace — the medallion's gold: a run recomputes every stored
  row at or after a known edge and none before it, so ``existing below
  the edge ∪ recomputed`` goes through :func:`replace_table`.

Atomicity caveat (SURVEY §7 hard-part 1): without a transactional table
format, :func:`replace_table` swaps directories (brief window where the
table is a moved-aside copy). Delta Lake's MERGE INTO would subsume this
behind one interface; it is not available in this container.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = (),
    mode: str = "overwrite",
    coalesce_small: bool = False,
    sort_within: Sequence[str] = (),
) -> None:
    """S3/S4: snappy parquet (Spark default codec), hive-style partition
    dirs like the reference's ``symbol/year=/month=`` layout
    (extract_forex.py:159-168). ``coalesce_small`` mirrors its
    one-file-per-batch small-file control (extract_forex.py:168-171).

    ``sort_within`` = the reference's ``cluster_by``
    (fct_eurusd_timeframes.sql:11): sortWithinPartitions before the
    write clusters rows so parquet row-group min/max stats become
    selective — scans filtered on the sort key skip whole row groups
    (the poor man's Z-order; no extra shuffle, just an in-partition
    sort at write time)."""
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    w = (df.coalesce(1) if coalesce_small else df).write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def read_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """The parquet table at ``path``, or None when there is none (missing
    path; an empty dir too when ``schema`` is None). Without ``schema``
    the read infers it — one Spark job — so callers reuse the frame
    instead of probing for existence and reading again; a known
    ``schema`` costs no job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException:
        return None


def replace_table(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = (),
    sort_within: Sequence[str] = (),
) -> None:
    """Replace the table at ``path`` with ``df`` — which may read ``path``
    itself — by writing a sibling temp dir and swapping it in. A missing
    ``path`` simply receives the temp dir."""
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    write_partitioned(df, tmp, partition_cols, sort_within=sort_within)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def merge_upsert(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    keys: Sequence[str],
    *,
    sort_within: Sequence[str] = (),
) -> None:
    """S9 MERGE: upsert ``new_df`` into the parquet table at ``path`` on
    ``keys`` — new rows win, untouched rows are preserved.

    Equivalent to ``MERGE INTO path USING new_df ON keys WHEN MATCHED
    UPDATE ALL WHEN NOT MATCHED INSERT ALL``.
    """
    keys = list(keys)
    existing = read_table(spark, path)
    if existing is None:
        write_partitioned(new_df, path, sort_within=sort_within)
        return

    kept = existing.join(new_df.select(*keys).distinct(), keys, "left_anti")
    result = kept.unionByName(new_df.select(*kept.columns))
    replace_table(result, path, sort_within=sort_within)


def high_watermark(spark: SparkSession, path: str, col: str, schema: StructType):
    """P3: max(col) of an existing table, None when absent or empty
    (stg_eurusd.sql:18-21). Collected on the driver so the incremental
    filter becomes a pushable literal predicate. ``schema`` as in
    :func:`read_table`."""
    table = read_table(spark, path, schema)
    return None if table is None else column_max(table, col)


def column_max(table: DataFrame, col: str):
    """max(col) of ``table`` (None when empty) in one Spark job: a top-1 per
    partition, where a global aggregate adds an exchange and, under AQE, a job."""
    row = table.select(col).orderBy(F.col(col).desc_nulls_last()).first()
    return None if row is None else row[0]


def compact(
    spark: SparkSession, path: str, *, partition_cols: Sequence[str]
) -> int:
    """Small-file compaction: rewrite the table at ``path`` into one file
    per ``partition_cols`` partition, atomically via
    :func:`replace_table`. Returns the row count preserved.

    The daily micro-batch regime produces one file per batch
    (the reference's one-parquet-per-day layout,
    /root/reference/scripts/extract_forex.py:168-171); after a year a
    day-partitioned table is 365 tiny files per partition key and scan
    task scheduling dominates runtime. Periodic compaction restores
    ~maxPartitionBytes-sized files; at 100 TB this runs per-partition
    (only recent partitions churn) as the reference's cost model
    intends."""
    df = spark.read.parquet(path)
    n = df.count()
    replace_table(df.repartition(1, *partition_cols), path, partition_cols)
    return n


# ---------------------------------------------------------- time travel

_LATEST = "_LATEST"


def table_versions(table_dir: str) -> "list[int]":
    """All committed versions, ascending."""
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=")
    )


def latest_version(table_dir: str) -> "int | None":
    """The committed latest, read from the manifest (NOT max(dir):
    a crashed writer may leave a data dir without the manifest flip —
    such orphans are invisible, which is the atomicity contract)."""
    p = os.path.join(table_dir, _LATEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


_FILELIST = "_filelist"


def _write_filelist(version_dir: str) -> None:
    """Record the version's data files inside the version dir BEFORE it
    is published (the transaction-log analogue of Delta listing data
    files in the commit json). Readers resolve files from this list,
    never from a directory listing: a listing taken while the directory
    is being deleted or rewritten can return a SUBSET of the part files,
    and a scan of it serves torn data without an error. With an
    explicit list a missing file fails the scan (FileNotFoundError); it
    can never shrink it."""
    parts = sorted(
        f for f in os.listdir(version_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    tmp = os.path.join(version_dir, f".{_FILELIST}.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write("\n".join(parts))
    os.replace(tmp, os.path.join(version_dir, _FILELIST))


def write_version(df: DataFrame, table_dir: str) -> int:
    """Copy-on-write versioned write (Delta/Iceberg-style time travel,
    minus the transaction log): data lands in ``v=<n>``, then a tiny
    manifest flip (os.replace — atomic on POSIX) commits it. Readers
    resolve the manifest first, so a concurrent reader sees either the
    old or the new version, never a half-written directory. Old
    versions stay readable for time travel / reproducible training
    runs (the lakehouse feature LLM pipelines lean on for dataset
    versioning)."""
    os.makedirs(table_dir, exist_ok=True)
    cur = latest_version(table_dir)
    nxt = 0 if cur is None else cur + 1
    vdir = os.path.join(table_dir, f"v={nxt}")
    df.write.mode("overwrite").parquet(vdir)
    _write_filelist(vdir)  # before the manifest flip publishes it
    tmp = os.path.join(table_dir, f".{_LATEST}.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(str(nxt))
    os.replace(tmp, os.path.join(table_dir, _LATEST))
    return nxt


def read_version(
    spark: SparkSession, table_dir: str, version: "int | None" = None
) -> DataFrame:
    """Time-travel read: ``version=None`` resolves the committed
    latest via the manifest.

    The scan is built from the version's ``_filelist`` (written at
    commit time, see :func:`_write_filelist`), NOT a directory listing,
    so the reader contract is the committed snapshot or a clean error,
    never a partial scan. A missing filelist is an error too: every
    ledger writer commits one, so its absence means the version is
    being (or was) deleted."""
    v = latest_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    vdir = os.path.join(table_dir, f"v={v}")
    # No directory-listing fallback when the filelist is gone: rmtree
    # deletes the filelist and the part files in arbitrary order, and
    # listing the half-deleted dir would serve a silent subset.
    with open(os.path.join(vdir, _FILELIST)) as f:
        parts = [ln for ln in f.read().splitlines() if ln]
    if not parts:  # empty-table version: scan the (empty-schema) dir
        return spark.read.parquet(vdir)
    return spark.read.parquet(*[os.path.join(vdir, p) for p in parts])


def merge_versioned(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: "Sequence[str]",
) -> int:
    """MERGE as a new version: read committed latest, upsert (anti-join
    + union — same algebra as merge_upsert), commit copy-on-write.
    History stays intact; re-running the same batch produces an
    idempotent-content new version."""
    cur = latest_version(table_dir)
    if cur is None:
        return write_version(updates, table_dir)
    base = read_version(spark, table_dir)
    remaining = base.join(updates.select(*keys).distinct(), list(keys), "left_anti")
    merged = remaining.unionByName(updates)
    return write_version(merged, table_dir)
