"""Unit tests for the incremental MERGE writer (S9) — both strategies."""

from __future__ import annotations

import pandas as pd

from forex_data_pipeline_spark.sources.writers import (
    high_watermark,
    merge_upsert,
    write_partitioned,
)


def _is_clean_vacuum_race(exc: Exception) -> bool:
    """Only the expected vacuum-race failure shapes count as a CLEAN
    read_version failure in the concurrency tests: the filelist open on
    a deleted version dir (FileNotFoundError/OSError), Spark analysis
    of a vanished path (AnalysisException PATH_NOT_FOUND), or a scan
    that lost part files mid-job (Py4JJavaError / SparkException
    wrapping FileNotFoundException). Anything else — e.g. a TypeError
    in filelist parsing — is a reader BUG and must surface instead of
    being absorbed into the clean-failure counter (ADVICE r9)."""
    if isinstance(exc, OSError):  # FileNotFoundError is a subclass
        return True
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    if isinstance(exc, (Py4JJavaError, PySparkException)):
        s = str(exc)
        return any(
            k in s
            for k in (
                "FileNotFound", "PATH_NOT_FOUND", "does not exist",
                "No such file",
            )
        )
    return False


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


def test_merge_dynamic_touches_only_new_partitions(spark, tmp_path):
    path = f"{tmp_path}/p"
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10), (2, "2024-01-01", 20), (3, "2024-01-02", 30)],
        "k int, day string, v int",
    )
    write_partitioned(base, path, ("day",))
    batch = spark.createDataFrame(
        [(3, "2024-01-02", 99), (4, "2024-01-03", 40)], "k int, day string, v int"
    )
    merge_upsert(spark, path, batch, ["k"], partition_cols=("day",),
                 strategy="dynamic")
    got = _rows(spark, path)
    # partition dirs come back type-inferred (date-like strings → DATE)
    got["day"] = got["day"].astype(str)
    exp = pd.DataFrame(
        {
            "k": [1, 2, 3, 4],
            "v": [10, 20, 99, 40],
            "day": ["2024-01-01", "2024-01-01", "2024-01-02", "2024-01-03"],
        }
    )
    pd.testing.assert_frame_equal(
        got[["k", "v", "day"]], exp, check_dtype=False
    )


def test_merge_dynamic_leaves_session_conf_unchanged(spark, tmp_path):
    """Dynamic overwrite is a per-write option: the runner runs models
    concurrently in one session, so a merge must not flip the
    session-wide partitionOverwriteMode under another model's write."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    path = f"{tmp_path}/c"
    base = spark.createDataFrame(
        [(1, "d1", 1), (2, "d2", 2)], "k int, day string, v int"
    )
    write_partitioned(base, path, ("day",))
    batch = spark.createDataFrame([(2, "d2", 22)], "k int, day string, v int")
    merge_upsert(spark, path, batch, ["k"], partition_cols=("day",),
                 strategy="dynamic")
    assert spark.conf.get(key) == before
    # d1 was not in the batch and survives: the write was dynamic
    assert _rows(spark, path).v.tolist() == [1, 22]


def test_merge_key_moving_partition_dynamic(spark, tmp_path):
    """A key that moves partitions in the batch must not end up twice:
    the old partition copy survives only if untouched — document the
    dynamic-strategy contract: keys are immutable within partitions
    (true for event-time partitioning, the reference's model)."""
    path = f"{tmp_path}/m"
    base = spark.createDataFrame(
        [(1, "d1", 1), (2, "d2", 2)], "k int, day string, v int"
    )
    write_partitioned(base, path, ("day",))
    # same key, same partition — the supported shape
    batch = spark.createDataFrame([(2, "d2", 22)], "k int, day string, v int")
    merge_upsert(spark, path, batch, ["k"], partition_cols=("day",),
                 strategy="dynamic")
    got = _rows(spark, path)
    assert got.v.tolist() == [1, 22]


def test_high_watermark(spark, tmp_path):
    from forex_data_pipeline_spark.sources.writers import column_max

    path = f"{tmp_path}/w"
    assert high_watermark(spark, path, "v") is None
    write_partitioned(
        spark.createDataFrame([(1, 5), (2, 9), (3, None)], "k int, v int"),
        path,
    )
    assert high_watermark(spark, path, "v") == 9  # NULLs never win
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


def test_delete_rows_retention_and_erasure(spark, tmp_path):
    """delete_rows: retention/erasure rewrite must drop exactly the
    matching rows, keep everything else byte-identical, and stay
    atomic (table readable before and after)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from forex_data_pipeline_spark.sources.writers import delete_rows

    path = str(tmp_path / "users")
    df = spark.createDataFrame(
        pd.DataFrame(
            {"user_id": [1, 2, 3, 4], "day": ["a", "a", "b", "b"],
             "v": [10.0, 20.0, 30.0, 40.0]}
        )
    )
    df.write.parquet(path)

    n = delete_rows(spark, path, F.col("user_id") == 2)
    assert n == 1
    got = spark.read.parquet(path).orderBy("user_id").toPandas()
    assert got.user_id.tolist() == [1, 3, 4]
    assert got.v.tolist() == [10.0, 30.0, 40.0]

    # deleting nothing is a no-op rewrite
    assert delete_rows(spark, path, F.col("user_id") == 99) == 0
    assert spark.read.parquet(path).count() == 3


def test_write_with_expectations_gates_and_quarantines(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from forex_data_pipeline_spark.sources.writers import (
        write_with_expectations,
    )
    from forex_data_pipeline_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    # plant violations: negative quantity, null returnflag, and a NULL
    # quantity whose between() evaluates to SQL NULL — three-valued
    # logic must treat that as a violation, not let the row vanish
    bad = spark.createDataFrame(
        [(-1, 1, -5.0, None), (-2, 1, 999.0, "N"), (-3, 1, None, "N")],
        "l_orderkey bigint, l_linenumber int, l_quantity double, "
        "l_returnflag string",
    )
    inp = li.unionByName(bad)
    target = str(tmp_path / "gated")
    quarantine = str(tmp_path / "quarantine")
    audit = write_with_expectations(
        inp,
        target,
        {
            "quantity_in_range": F.col("l_quantity").between(1, 50),
            "returnflag_not_null": F.col("l_returnflag").isNotNull(),
        },
        quarantine_path=quarantine,
    )
    rows = {r.rule: r.violations for r in audit.collect()}
    n_in = inp.count()
    assert rows["quantity_in_range"] == 3  # -5, 999, and NULL qty
    assert rows["returnflag_not_null"] == 1
    assert rows["__passed"] == n_in - 3  # one row violates both rules

    written = spark.read.parquet(target)
    assert written.count() == n_in - 3
    assert written.filter(~F.col("l_quantity").between(1, 50)).count() == 0
    assert written.filter(F.col("l_quantity").isNull()).count() == 0

    q = spark.read.parquet(quarantine)
    assert q.count() == 3  # every non-passing row accounted for
    assert "__viol_quantity_in_range" in q.columns
    # triage: each quarantined row carries which rule(s) it broke
    assert q.filter(F.col("__viol_returnflag_not_null")).count() == 1
    assert q.filter(F.col("l_quantity").isNull()).count() == 1


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


def test_vacuum_versions_retention(spark, sf_dir, tmp_path):
    """vacuum_versions drops all but the newest keep_last committed
    snapshots plus stale sub-manifest orphans, never touches the
    committed latest or dirs newer than the manifest (a possibly
    in-flight write), and the survivors stay readable."""
    import os

    from pyspark.sql import functions as F

    from forex_data_pipeline_spark.sources.writers import (
        latest_version,
        read_version,
        table_versions,
        vacuum_versions,
        write_version,
    )
    from forex_data_pipeline_spark.tables import load

    table = str(tmp_path / "vacuumed")
    nat = load(spark, sf_dir, "nation")
    for i in range(4):  # v0..v3
        write_version(nat.withColumn("rev", F.lit(i)), table)
    # a stale orphan below the manifest (crashed writer, then a later
    # successful commit reused a higher number) and a fresh orphan
    # above it (in-flight writer)
    os.makedirs(f"{table}/v=98", exist_ok=False)  # > latest: in-flight
    assert latest_version(table) == 3

    removed = vacuum_versions(table, keep_last=2)
    assert removed == [0, 1]
    assert table_versions(table) == [2, 3, 98]  # 98 untouched
    assert latest_version(table) == 3
    assert read_version(spark, table).count() == nat.count()
    assert read_version(spark, table, 2).count() == nat.count()

    # keep_last clamps at the committed latest
    import pytest as _pytest

    with _pytest.raises(ValueError):
        vacuum_versions(table, keep_last=0)

    # empty ledger is a no-op
    assert vacuum_versions(str(tmp_path / "nothere")) == []


def test_write_version_cas_stale_expected_raises(spark, tmp_path):
    """CAS contract: a writer whose expected_version is stale must
    RAISE instead of clobbering (the last-writer-wins gap
    pipeline/runner.py documents for plain write_version)."""
    import pytest

    from forex_data_pipeline_spark.sources.writers import (
        ConcurrentWriteError,
        latest_version,
        read_version,
        write_version_cas,
    )

    path = f"{tmp_path}/t"
    df1 = spark.createDataFrame([(1, "a")], "k int, s string")
    v0 = write_version_cas(df1, path, expected_version=None)
    assert v0 == 0
    # writer A reads the snapshot...
    seen = latest_version(path)
    # ...writer B commits first...
    v1 = write_version_cas(
        spark.createDataFrame([(2, "b")], "k int, s string"),
        path,
        expected_version=seen,
    )
    assert v1 == 1
    # ...and writer A's stale commit must fail, leaving v1 intact.
    with pytest.raises(ConcurrentWriteError):
        write_version_cas(
            spark.createDataFrame([(9, "stale")], "k int, s string"),
            path,
            expected_version=seen,
        )
    assert latest_version(path) == 1
    assert read_version(spark, path).count() == 1


def test_write_version_cas_slot_claim_is_exclusive(spark, tmp_path):
    """The rename-claim itself must be exclusive even when both writers
    read the same expected version and race past the fast-path check:
    exactly one wins the v=<n> slot, the loser raises."""
    import os

    import pytest

    from forex_data_pipeline_spark.sources.writers import (
        ConcurrentWriteError,
        write_version_cas,
    )

    path = f"{tmp_path}/t"
    write_version_cas(
        spark.createDataFrame([(0, "base")], "k int, s string"), path
    )
    # simulate the other racer having already claimed v=1 after our
    # fast-path check: occupy the slot directly
    os.makedirs(os.path.join(path, "v=1"))
    with open(os.path.join(path, "v=1", "_SUCCESS"), "w"):
        pass
    with pytest.raises(ConcurrentWriteError):
        # expected_version=0 passes the fast check (manifest still 0),
        # nxt resolves past the orphan only when expected is unset —
        # with expected pinned the claim must fail, not skip ahead
        df = spark.createDataFrame([(1, "x")], "k int, s string")
        # force the pinned-slot path: nxt = max(dirs)+1 would skip, so
        # assert the stale-base detection via the occupied slot
        write_version_cas(df, path, expected_version=0)


def test_merge_versioned_cas_concurrent_writers_both_land(
    spark, tmp_path
):
    """Two concurrent mergers into one table must BOTH land (in some
    serial order) under merge_versioned_cas — the optimistic-
    concurrency behavior plain merge_versioned cannot give (one of the
    two would silently vanish)."""
    import threading

    from forex_data_pipeline_spark.sources.writers import (
        latest_version,
        merge_versioned_cas,
        read_version,
        write_version_cas,
    )

    path = f"{tmp_path}/t"
    write_version_cas(
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1)], "k int, s string, v int"
        ),
        path,
    )
    barrier = threading.Barrier(2)
    errs: list = []

    def merger(key: int, tag: str) -> None:
        try:
            upd = spark.createDataFrame(
                [(key, tag, 2)], "k int, s string, v int"
            )
            barrier.wait()
            merge_versioned_cas(spark, path, upd, ["k"])
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=merger, args=(2, "B"))
    t2 = threading.Thread(target=merger, args=(3, "C"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    final = {
        (r["k"], r["s"], r["v"])
        for r in read_version(spark, path).collect()
    }
    # both merges present: k=2 updated by B, k=3 inserted by C, k=1 kept
    assert final == {(1, "a", 1), (2, "B", 2), (3, "C", 2)}
    assert latest_version(path) == 2


def test_reader_snapshot_isolation_under_merge_and_vacuum(
    spark, tmp_path
):
    """A reader pinned to version N while a concurrent writer lands
    N+1, N+2, ... and vacuums to keep_last=2 must read N CONSISTENTLY
    for as long as N's files exist, and fail with a CLEAN error once
    VACUUM removes them — never silently partial or mixed-version
    data. (Delta calls this reader-side snapshot isolation; the COW
    ledger gets it from immutable v=<n> dirs + manifest-first
    resolution, and the failure mode after retention expiry from
    Spark's default ignoreMissingFiles=false.)"""
    import threading

    from forex_data_pipeline_spark.sources.writers import (
        latest_version,
        merge_versioned_cas,
        read_version,
        vacuum_versions,
        write_version_cas,
    )

    assert spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false"

    path = f"{tmp_path}/t"
    base = [(i, 0) for i in range(10)]
    write_version_cas(
        spark.createDataFrame(base, "k int, ver int"), path
    )
    pinned_v = latest_version(path)
    pinned = read_version(spark, path, pinned_v)
    snapshot0 = {tuple(r) for r in pinned.collect()}
    assert snapshot0 == set(base)

    stop = threading.Event()
    writer_err: list = []

    def writer() -> None:
        try:
            for j in range(1, 7):
                upd = spark.createDataFrame(
                    [(100 + j, j)], "k int, ver int"
                )
                merge_versioned_cas(spark, path, upd, ["k"])
                vacuum_versions(path, keep_last=2)
        except Exception as exc:  # noqa: BLE001
            writer_err.append(exc)
        finally:
            stop.set()

    t = threading.Thread(target=writer)
    consistent_reads = 0
    clean_expiry = 0
    # One guaranteed pinned pass BEFORE the writer starts: on a
    # contended local scheduler the writer's merges + vacuum can all
    # finish before the reader's first collect, leaving
    # consistent_reads == 0 and flaking the both-phases assert below.
    # v=N is untouched here (no writer yet), so this pass must succeed.
    got = {
        tuple(r) for r in read_version(spark, path, pinned_v).collect()
    }
    assert got == snapshot0
    consistent_reads += 1
    t.start()
    try:
        while not stop.is_set() or clean_expiry == 0:
            try:
                # re-resolve from the PINNED version number each pass
                # (a fresh DataFrame, like a new reader session asking
                # for time travel to N)
                got = {
                    tuple(r)
                    for r in read_version(spark, path, pinned_v).collect()
                }
            except Exception as exc:  # noqa: BLE001
                # N vacuumed away: clean job-level failure is the
                # contract (no partial rows may have been returned).
                # Only the expected FileNotFound shapes qualify —
                # any other exception is a reader bug and must fail
                # the test, not count as a clean race.
                if not _is_clean_vacuum_race(exc):
                    raise
                clean_expiry += 1
                if stop.is_set():
                    break
                continue
            assert got == snapshot0, (
                f"pinned read of v={pinned_v} returned foreign rows: "
                f"{got ^ snapshot0}"
            )
            consistent_reads += 1
    finally:
        t.join()
    assert not writer_err, writer_err
    # the race must have exercised BOTH phases: consistent pinned reads
    # while N lived, clean errors after retention removed it
    assert consistent_reads > 0
    assert clean_expiry > 0
    # and the writer's 6 merges all landed on top
    final = {tuple(r) for r in read_version(spark, path).collect()}
    assert final == set(base) | {(100 + j, j) for j in range(1, 7)}


def test_cas_ledger_concurrent_merge_read_vacuum_stress(
    spark, tmp_path
):
    """Property-style stress beyond the pairwise races above: N writer
    threads x M reader threads x a vacuum loop, all against one table,
    for a few hundred interleavings. Every reader pass must see a
    COMMITTED snapshot or fail cleanly (pinned version vacuumed away)
    — never torn/mixed-version data. Torn reads are detected by three
    invariants every committed version satisfies by construction:

    1. unique keys (MERGE semantics — a read mixing two versions'
       files would duplicate surviving keys);
    2. all 10 base keys present with ver=0 (base rows survive every
       merge — a partial-file read drops some);
    3. per-writer PREFIX closure: writer w's merge j commits only
       after its j-1 (sequential in-thread), so a committed snapshot
       contains rows j=1..m for some m — a mix of old+new version
       files can show j without j-1 only via tearing.

    Finally all N*K merges must have landed in some serial order."""
    import threading

    from forex_data_pipeline_spark.sources.writers import (
        merge_versioned_cas,
        read_version,
        vacuum_versions,
        write_version_cas,
    )

    assert spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false"

    path = f"{tmp_path}/t"
    base = [(i, 0, 0) for i in range(10)]
    write_version_cas(
        spark.createDataFrame(base, "k int, w int, j int"), path
    )

    n_writers, n_merges = 3, 8
    stop = threading.Event()
    errors: list = []

    def writer(w: int) -> None:
        try:
            for j in range(1, n_merges + 1):
                upd = spark.createDataFrame(
                    [(1000 * (w + 1) + j, w, j)], "k int, w int, j int"
                )
                # under 3-way contention the 5-rebase budget of a
                # single merge_versioned_cas call can be exhausted;
                # the test is about isolation, not retry budgets
                for _ in range(20):
                    try:
                        merge_versioned_cas(spark, path, upd, ["k"])
                        break
                    except Exception as exc:  # noqa: BLE001
                        if "lost the commit race" not in str(exc):
                            raise
                else:
                    raise RuntimeError(f"writer {w} merge {j} starved")
        except Exception as exc:  # noqa: BLE001
            errors.append(("writer", w, exc))

    def vacuumer() -> None:
        try:
            while not stop.is_set():
                vacuum_versions(path, keep_last=2)
        except Exception as exc:  # noqa: BLE001
            errors.append(("vacuum", None, exc))

    consistent = [0] * 2
    clean_fail = [0] * 2

    def reader(r: int) -> None:
        try:
            while not stop.is_set():
                try:
                    rows = read_version(spark, path).collect()
                except Exception as exc:  # noqa: BLE001
                    # resolved version vacuumed between manifest read
                    # and file scan: clean job-level failure is the
                    # contract (never partial rows). Narrowed to the
                    # expected FileNotFound shapes — an unrelated
                    # reader bug re-raises into `errors` and fails
                    # the test instead of hiding in this counter.
                    if not _is_clean_vacuum_race(exc):
                        raise
                    clean_fail[r] += 1
                    continue
                got = [(x["k"], x["w"], x["j"]) for x in rows]
                keys = [k for k, _, _ in got]
                assert len(keys) == len(set(keys)), (
                    f"reader {r}: duplicate keys (torn read): {sorted(got)}"
                )
                snap = set(got)
                assert {(i, 0, 0) for i in range(10)} <= snap, (
                    f"reader {r}: base rows missing (torn read)"
                )
                for w in range(n_writers):
                    js = sorted(j for _, ww, j in snap if ww == w and j > 0)
                    assert js == list(range(1, len(js) + 1)), (
                        f"reader {r}: writer {w} rows not prefix-closed "
                        f"(torn read): {js}"
                    )
                consistent[r] += 1
        except Exception as exc:  # noqa: BLE001
            errors.append(("reader", r, exc))

    threads = [
        threading.Thread(target=writer, args=(w,))
        for w in range(n_writers)
    ]
    aux = [threading.Thread(target=vacuumer)] + [
        threading.Thread(target=reader, args=(r,)) for r in range(2)
    ]
    for t in aux:
        t.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    for t in aux:
        t.join()

    assert not errors, errors
    assert all(c > 0 for c in consistent), consistent
    # every merge landed in some serial order
    final = {
        (r["k"], r["w"], r["j"])
        for r in read_version(spark, path).collect()
    }
    expect = set(base) | {
        (1000 * (w + 1) + j, w, j)
        for w in range(n_writers)
        for j in range(1, n_merges + 1)
    }
    assert final == expect
