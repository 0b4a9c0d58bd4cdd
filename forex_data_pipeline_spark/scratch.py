"""Per-process scratch directories, swept at interpreter exit.

Streaming/versioned-table queries stage source chunks, checkpoints,
and state ledgers on local disk. ``tempfile.mkdtemp`` alone leaks
those across repeated full-catalog sweeps (gigabytes at sf0.1).
``scratch_dir`` parents everything under one per-process root that an
``atexit`` hook removes, so a sweep leaves /tmp as it found it while
any DataFrame returned from a query can still lazily read its state
files for the remainder of the process.

Callers that finish with a directory mid-process (e.g. a stream
source after ``awaitTermination``) should additionally ``rmtree`` it
eagerly; the atexit sweep is the backstop, not the primary cleanup.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ROOT: str | None = None


def scratch_root() -> str:
    """The per-process scratch root (created on first use)."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="fx_scratch_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def scratch_dir(prefix: str = "") -> str:
    """A fresh directory under the swept scratch root."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


def stage_hash_chunks(df: DataFrame, key: str, dest: str) -> None:
    """Stage ``df`` as three stream-source files ``dest/chunk_{k}.parquet``,
    chunk ``k`` holding the rows whose ``key`` hashes to ``k``, in ONE
    pass over ``df``: a write partitioned on the chunk, after a
    repartition that puts each chunk in one task and so in one part file,
    which then moves into ``dest``. Every chunk must hold rows; an empty
    one (no ``chunk=k`` directory) raises ValueError."""
    stage = scratch_dir("fx_chunk_stage_")
    (
        df.withColumn("chunk", (F.col(key) * F.lit(2654435761)) % 3)
        .repartition(3, "chunk")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(stage)
    )
    for k in range(3):
        chunk_dir = os.path.join(stage, f"chunk={k}")
        if not os.path.isdir(chunk_dir):
            raise ValueError(
                f"chunk {k} of 3 is empty: no {key} hashes to it, so "
                f"{chunk_dir} was not written"
            )
        (part,) = [f for f in os.listdir(chunk_dir) if f.endswith(".parquet")]
        os.rename(
            os.path.join(chunk_dir, part),
            os.path.join(dest, f"chunk_{k}.parquet"),
        )
    shutil.rmtree(stage, ignore_errors=True)
