"""Sinks: partitioned parquet writer + incremental MERGE upsert (SURVEY
§2.1 S3/S4/S9).

The reference's MERGE is day-partitioned, so its daily cost follows the
batch, not the table (models/staging/stg_eurusd.sql:2-11,
models/marts/fct_eurusd_timeframes.sql:2-13). Here:

- ``merge_upsert`` — ``rewrite``: existing ⋉̸ keys(batch) ∪ batch, the
  whole table, through :func:`replace_table`; ``dynamic``: the same over
  only the partitions the batch touches, the 100 TB path.
- append — the medallion's silver: its watermark admits only keys above
  every stored key, so a MERGE would remove nothing. A day adds part
  files and rewrites none; nothing compacts them, so silver's file
  count grows with every run.
- range replace — the medallion's gold: a run recomputes every stored
  row at or after a known edge and none before it, so ``existing below
  the edge ∪ recomputed`` goes through :func:`replace_table`.

Atomicity caveat (SURVEY §7 hard-part 1): without a transactional table
format, :func:`replace_table` swaps directories (brief window where the
table is a moved-aside copy) and ``dynamic`` relies on Spark's
output-committer per-partition atomicity. Delta Lake's MERGE INTO would
subsume these behind one interface; it is not available in this container.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
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
    itself — by writing a sibling temp dir and swapping it in."""
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    write_partitioned(df, tmp, partition_cols, sort_within=sort_within)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def merge_upsert(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    keys: Sequence[str],
    *,
    partition_cols: Sequence[str] = (),
    strategy: str = "rewrite",
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
        write_partitioned(new_df, path, partition_cols, sort_within=sort_within)
        return

    if strategy == "dynamic" and partition_cols:
        # Scale path: touch only the partitions present in the new batch.
        parts = new_df.select(*partition_cols).distinct()
        touched = existing.join(F.broadcast(parts), list(partition_cols), "left_semi")
        kept = touched.join(new_df.select(*keys).distinct(), keys, "left_anti")
        result = kept.unionByName(new_df.select(*kept.columns))
        if sort_within:
            result = result.sortWithinPartitions(*sort_within)
        # dynamic overwrite replaces only the partitions in `result`; a
        # per-write option, as concurrent models share the session conf
        w = result.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        w.partitionBy(*partition_cols).parquet(path)
        return

    kept = existing.join(new_df.select(*keys).distinct(), keys, "left_anti")
    result = kept.unionByName(new_df.select(*kept.columns))
    replace_table(result, path, partition_cols, sort_within)


def high_watermark(
    spark: SparkSession, path: str, col: str, schema: StructType | None = None
):
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


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    key_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed, optionally sorted, managed parquet table — the
    co-located-join layout: two tables bucketed by the same key into the
    same bucket count join with NO shuffle (each bucket pair meets
    locally), and sortBy pre-sorts within buckets so sort-merge join
    skips its sort too. This is the 100 TB answer for a join both of
    whose sides are too big to broadcast and which is executed
    repeatedly (fact-to-fact); the write pays the shuffle once.

    The reference's ``cluster_by=['timeframe']``
    (/root/reference/models/marts/fct_eurusd_timeframes.sql:11) is the
    warehouse cousin of this layout.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        buckets, *key_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact(
    spark: SparkSession,
    path: str,
    *,
    target_files: int = 1,
    partition_cols: Sequence[str] = (),
) -> int:
    """Small-file compaction: rewrite the table at ``path`` into
    ``target_files`` files (per partition when partitioned), atomically
    via :func:`replace_table`. Returns the row count preserved.

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
    compacted = (df.repartition(target_files, *partition_cols)
                 if partition_cols else df.coalesce(target_files))
    replace_table(compacted, path, partition_cols)
    return n


def delete_rows(
    spark: SparkSession,
    path: str,
    predicate: Column,
    *,
    partition_cols: Sequence[str] = (),
) -> int:
    """DELETE WHERE for a parquet table: rewrite ``path`` keeping only
    rows NOT matching ``predicate``, atomically via
    :func:`replace_table`. Returns rows deleted.

    The retention / right-to-erasure half of the CRUD surface the
    MERGE writer (upsert) doesn't cover. On a partitioned table a
    predicate on the partition column prunes the rewrite to affected
    partitions at scan time (partition pruning makes untouched
    partitions a metadata-only copy); with Delta/Iceberg the same call
    maps to a native DELETE."""
    df = spark.read.parquet(path)
    keep = df.filter(~predicate)
    n_deleted = df.count() - keep.count()
    replace_table(keep, path, partition_cols)
    return n_deleted


def write_with_expectations(
    df: DataFrame,
    path: str,
    expectations: "dict[str, Column]",
    *,
    quarantine_path: "str | None" = None,
    partition_cols: "Sequence[str]" = (),
) -> "DataFrame":
    """Constraint-gated write (dbt test severity=error, Delta-style
    CHECK constraints): rows satisfying every expectation land in
    ``path``; violators are quarantined (with a per-rule flag column
    each) instead of poisoning the table or failing the job. Returns
    the audit frame (rule → violation count, plus the pass count under
    rule '__passed').

    One scan feeds both writes: the rule columns are computed once,
    the pass/fail split is two filters over the same plan (Spark scans
    twice but map-side only — no shuffle), and the audit aggregates
    the tiny flag columns. Per-rule flags in the quarantine output
    make triage queryable ('which rule killed this row').
    """
    if not expectations:
        # any_viol below would stay None and ~None is a TypeError at
        # plan build; an expectation-gated write with no expectations
        # is a caller bug, not an all-pass write — fail loudly.
        raise ValueError("expectations must be non-empty")

    # SQL three-valued logic: a NULL expectation result is a VIOLATION
    # (the row can't be shown valid) — coalescing here guarantees every
    # row lands in exactly one of target/quarantine; without it,
    # NULL-condition rows would satisfy neither filter and vanish.
    flagged = df.select(
        "*",
        *[
            (~F.coalesce(cond, F.lit(False))).alias(f"__viol_{name}")
            for name, cond in expectations.items()
        ],
    )
    any_viol = None
    for name in expectations:
        c = F.col(f"__viol_{name}")
        any_viol = c if any_viol is None else (any_viol | c)

    passed = flagged.filter(~any_viol).drop(
        *[f"__viol_{n}" for n in expectations]
    )
    write_partitioned(passed, path, partition_cols=partition_cols)
    if quarantine_path is not None:
        flagged.filter(any_viol).write.mode("overwrite").parquet(
            quarantine_path
        )

    spark = df.sparkSession
    # ONE aggregation pass for the whole audit (per-rule sums + total +
    # any-violation count ride the same scan), unpivoted driver-side
    counts = flagged.agg(
        *[
            F.sum(F.col(f"__viol_{name}").cast("long")).alias(name)
            for name in expectations
        ],
        F.sum(any_viol.cast("long")).alias("__any_viol"),
        F.count(F.lit(1)).alias("__total"),
    ).collect()[0]
    rows = [(name, int(counts[name] or 0)) for name in expectations]
    rows.append(
        ("__passed", int(counts["__total"]) - int(counts["__any_viol"] or 0))
    )
    return spark.createDataFrame(rows, "rule string, violations bigint")


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
    never from a directory listing — a directory listing raced against
    a concurrent VACUUM's rmtree can return a SUBSET of part files and
    silently serve torn (partial) data, the exact failure the
    stress test in tests/test_merge.py caught: with an explicit file
    list, a vacuumed file fails the scan (FileNotFound → clean job
    error), it can never shrink the scan."""
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
    commit time), NOT a directory listing: listing a version dir that
    a concurrent VACUUM is rmtree-ing can return a subset of part
    files and silently serve torn data (caught by the r9 stress test
    in tests/test_merge.py). With explicit paths every vacuumed file
    fails the scan cleanly (FileNotFound), and a fully-vacuumed
    version fails at filelist-open — the reader contract is committed
    snapshot or clean error, never partial. There is deliberately NO
    directory-scan fallback for a missing filelist (see the inline
    comment): every ledger writer commits one, so its absence means a
    vacuum is (or was) deleting this version."""
    v = latest_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    vdir = os.path.join(table_dir, f"v={v}")
    # No directory-listing fallback when the filelist is gone: every
    # ledger writer commits one, so its absence means a VACUUM is (or
    # was) removing this version — rmtree deletes the filelist and the
    # part files in arbitrary order, and listing the half-deleted dir
    # would serve a silent subset. Missing filelist → clean error.
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


class ConcurrentWriteError(RuntimeError):
    """Another writer claimed the same version slot (or the table moved
    past the expected version). The caller's merge was computed against
    a stale snapshot — re-read and retry, Delta-style."""


def _flip_latest_monotone(table_dir: str, nxt: int) -> None:
    """Advance the manifest to ``nxt`` if it is ahead of the committed
    latest. The read-compare-replace runs under a short O_EXCL lock
    file so two winners (e.g. a recovering writer publishing v=5 while
    a newer one publishes v=6) can never interleave into a manifest
    REGRESSION; the data directories themselves are immutable once
    claimed, so the lock only ever guards this microsecond flip."""
    import time as _time

    lock = os.path.join(table_dir, ".manifest.lock")
    fd = None
    for _ in range(2000):  # ~20 s worst case; flips take microseconds
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            _time.sleep(0.01)
    if fd is None:
        raise ConcurrentWriteError(
            f"manifest lock {lock} is stuck; a writer crashed mid-flip"
        )
    try:
        cur = latest_version(table_dir)
        if cur is None or nxt > cur:
            tmp = os.path.join(
                table_dir, f".{_LATEST}.{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as f:
                f.write(str(nxt))
            os.replace(tmp, os.path.join(table_dir, _LATEST))
    finally:
        os.close(fd)
        os.unlink(lock)


def write_version_cas(
    df: DataFrame,
    table_dir: str,
    expected_version: "int | None | object" = ...,
) -> int:
    """Optimistic-concurrency commit for the copy-on-write ledger
    (closes the ``pipeline/runner.py`` "table-sharing is the caller's
    contract" gap: with plain ``write_version`` two concurrent writers
    are last-writer-wins at the directory level and one commit is
    silently lost).

    Protocol, mirroring Delta's put-if-absent commit on a filesystem
    with atomic rename:

    1. resolve the committed latest; if ``expected_version`` was given
       and no longer matches, fail fast with ConcurrentWriteError
       (the caller's upsert was computed against a stale base);
    2. write the data to a uniquely-named staging dir (crash-safe:
       an abandoned staging dir is invisible and swept by
       scratch hygiene, never half-visible);
    3. CLAIM the version slot with one atomic ``os.rename(staging,
       v=<n>)`` — POSIX rename onto an existing non-empty directory
       fails, so exactly one concurrent writer wins the slot and the
       LOSER RAISES ConcurrentWriteError instead of clobbering;
    4. publish via a monotone manifest flip (see
       ``_flip_latest_monotone``).

    Crash window: a writer that dies between 3 and 4 leaves a claimed,
    complete, unpublished ``v=<n>``; the next successful writer's flip
    (a higher n) publishes past it, and ``vacuum_versions`` leaves
    dirs newer than the manifest alone, so nothing is lost or
    corrupted — the orphan is simply never the committed latest.
    Readers (``read_version``) resolve the manifest first and never
    see any of this."""
    os.makedirs(table_dir, exist_ok=True)
    cur = latest_version(table_dir)
    if expected_version is not ... and cur != expected_version:
        raise ConcurrentWriteError(
            f"expected committed version {expected_version} but found "
            f"{cur}; recompute against the new snapshot and retry"
        )
    if expected_version is not ...:
        # serializability pin: the slot MUST be expected+1 — skipping
        # past an occupied slot would commit a merge computed against
        # a base that slot superseded
        nxt = 0 if expected_version is None else expected_version + 1
    else:
        nxt = max(
            [cur if cur is not None else -1, *table_versions(table_dir)]
        ) + 1
    staging = os.path.join(table_dir, f".staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    _write_filelist(staging)  # travels into v=<n> with the rename
    try:
        os.rename(staging, os.path.join(table_dir, f"v={nxt}"))
    except OSError as exc:
        shutil.rmtree(staging, ignore_errors=True)
        # Commit recovery (the Delta log-replay analogue): a claimed
        # slot is always a COMPLETE write (the rename happens after
        # staging finishes, _SUCCESS included), so the occupant is a
        # durable commit whose writer either already flipped the
        # manifest (flip below is a no-op) or crashed pre-flip (we
        # publish it). Either way the caller rebases onto it — an
        # orphaned slot can never wedge the table.
        if os.path.isdir(os.path.join(table_dir, f"v={nxt}")):
            _flip_latest_monotone(table_dir, nxt)
        raise ConcurrentWriteError(
            f"version slot v={nxt} in {table_dir} was claimed by a "
            f"concurrent writer"
        ) from exc
    _flip_latest_monotone(table_dir, nxt)
    return nxt


def merge_versioned_cas(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: "Sequence[str]",
    max_retries: int = 5,
) -> int:
    """Serializable MERGE: the upsert is computed against the committed
    latest and committed with ``write_version_cas(expected_version=
    that latest)``. If another writer commits in between, the stale
    merge is thrown away and recomputed against the NEW snapshot —
    optimistic concurrency with rebase-and-retry, so N concurrent
    mergers all land (in some serial order) instead of last-writer-
    wins dropping N-1 of them."""
    last_exc: "ConcurrentWriteError | None" = None
    for _ in range(max_retries):
        cur = latest_version(table_dir)
        if cur is None:
            try:
                return write_version_cas(
                    updates, table_dir, expected_version=None
                )
            except ConcurrentWriteError as exc:
                last_exc = exc
                continue
        base = read_version(spark, table_dir, cur)
        remaining = base.join(
            updates.select(*keys).distinct(), list(keys), "left_anti"
        )
        merged = remaining.unionByName(updates)
        try:
            return write_version_cas(
                merged, table_dir, expected_version=cur
            )
        except ConcurrentWriteError as exc:
            last_exc = exc
            continue
    raise ConcurrentWriteError(
        f"merge into {table_dir} lost the commit race {max_retries} "
        f"times"
    ) from last_exc


def vacuum_versions(table_dir: str, keep_last: int = 2) -> "list[int]":
    """Retention for the copy-on-write ledger (the VACUUM half of time
    travel): drop all but the newest ``keep_last`` committed versions,
    returning the versions removed. Without this a streaming versioned
    sink accumulates one full snapshot per micro-batch forever — at
    scale the ledger's storage is bounded by ``keep_last`` x table
    size, the same knob as Delta's retention window.

    The committed latest is never removable (``keep_last`` >= 1
    enforced); STALE orphan dirs (a crashed writer below the committed
    latest) are swept too, but dirs NEWER than the manifest are left
    alone — one may be an in-flight write that has not flipped the
    manifest yet. The manifest always points at a surviving version
    throughout, so a reader resolving it never loses its snapshot to
    this call's ordering."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cur = latest_version(table_dir)
    if cur is None:
        return []
    committed = [v for v in table_versions(table_dir) if v <= cur]
    keep = set(committed[-keep_last:]) | {cur}
    removed = []
    for d in os.listdir(table_dir):
        if not d.startswith("v="):
            continue
        v = int(d.split("=", 1)[1])
        if v in keep or v > cur:
            continue
        shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
        removed.append(v)
    return sorted(removed)
