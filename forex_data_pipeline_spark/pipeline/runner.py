"""Concurrent model runner — dbt ``threads: 4`` parity.

The reference's dbt invocation runs up to 4 INDEPENDENT models
concurrently on one warehouse connection (reference README.md:147,
.github/workflows/daily_run.yml:128 — ``threads: 4`` in profiles.yml);
dependent models still execute in DAG order. This module reproduces
that execution model on one SparkSession: models declare ``ref()``
edges, a topological scheduler dispatches every model whose
dependencies are satisfied onto a thread pool, and each worker thread
tags its Spark jobs with a per-model job group plus a scheduler-pool
local property.

Spark-side concurrency notes (why this is safe and what it buys):

- A SparkSession is thread-safe for job submission; local properties
  (job group, scheduler pool) are per-thread, so concurrent models
  neither mix their job groups nor cancel each other.
- On a FAIR-configured cluster (``spark.scheduler.mode=FAIR`` with a
  pool per model), concurrent models share executors proportionally —
  a long gold rebuild cannot starve a 2-second quality check. Under
  the default FIFO scheduler concurrent jobs still interleave whenever
  the head job leaves free task slots; the pool property is simply
  inert, so the runner works unchanged on any session.
- Parallelism is for INDEPENDENT models only. Two models that write
  the same table path are not independent even without a ref() edge —
  every writer here is last-writer-wins at the directory level — so
  such writers must be serialized by a DAG edge, as in dbt (where
  they'd be the same model). ``validate`` enforces declared-edge
  acyclicity, and ``run_batch_concurrent`` refuses symbols that share
  a ``base_dir``.

Results record per-model wall-clock (started/finished monotonic
stamps), which is how tests prove two independent models actually
overlapped rather than serialized.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class Model:
    """One node of the model DAG: ``fn(spark)`` runs the model's
    actions (reads, transforms, writes); ``deps`` are model names that
    must complete first (dbt ``ref()`` edges)."""

    name: str
    fn: Callable[[SparkSession], object]
    deps: tuple[str, ...] = ()


@dataclass
class ModelResult:
    name: str
    status: str  # "success" | "error" | "skipped"
    started: float | None = None  # time.monotonic()
    finished: float | None = None
    error: BaseException | None = None
    value: object = None

    @property
    def elapsed(self) -> float | None:
        if self.started is None or self.finished is None:
            return None
        return self.finished - self.started


def validate(models: Sequence[Model]) -> dict[str, Model]:
    """Reject duplicate names, unknown deps, and cycles (Kahn)."""
    by_name: dict[str, Model] = {}
    for m in models:
        if m.name in by_name:
            raise ValueError(f"duplicate model name: {m.name}")
        by_name[m.name] = m
    for m in models:
        for d in m.deps:
            if d not in by_name:
                raise ValueError(f"{m.name} depends on unknown model {d}")
    indeg = {m.name: len(set(m.deps)) for m in models}
    out: dict[str, list[str]] = {m.name: [] for m in models}
    for m in models:
        for d in set(m.deps):
            out[d].append(m.name)
    ready = [n for n, k in indeg.items() if k == 0]
    seen = 0
    while ready:
        n = ready.pop()
        seen += 1
        for o in out[n]:
            indeg[o] -= 1
            if indeg[o] == 0:
                ready.append(o)
    if seen != len(models):
        cyclic = sorted(n for n, k in indeg.items() if k > 0)
        raise ValueError(f"model DAG has a cycle through: {cyclic}")
    return by_name


def run_models(
    spark: SparkSession,
    models: Sequence[Model],
    *,
    threads: int = 4,  # profiles.yml threads: 4 (reference README:147)
) -> dict[str, ModelResult]:
    """Execute the model DAG with up to ``threads`` concurrent models,
    each in scheduler pool ``dbt.<model>``.

    A model failure marks every (transitive) downstream model
    ``skipped`` (dbt's behavior); independent subgraphs keep running.
    Returns per-model results with monotonic start/finish stamps.
    """
    by_name = validate(models)
    results = {m.name: ModelResult(m.name, "pending") for m in models}
    remaining_deps = {m.name: set(m.deps) for m in models}
    dependents: dict[str, list[str]] = {m.name: [] for m in models}
    for m in models:
        for d in set(m.deps):
            dependents[d].append(m.name)
    lock = threading.Lock()

    def worker(name: str) -> None:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"dbt.{name}")
        sc.setJobGroup(f"model:{name}", f"model {name}", True)
        try:
            r = results[name]
            r.started = time.monotonic()
            r.value = by_name[name].fn(spark)
            r.finished = time.monotonic()
            r.status = "success"
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def skip_downstream(name: str) -> None:
        # transitively mark unscheduled dependents skipped
        stack = list(dependents[name])
        while stack:
            n = stack.pop()
            if results[n].status == "pending":
                results[n].status = "skipped"
                stack.extend(dependents[n])

    ready = [n for n, deps in remaining_deps.items() if not deps]
    futures = {}
    with ThreadPoolExecutor(max_workers=max(1, threads)) as ex:
        for n in ready:
            futures[ex.submit(worker, n)] = n
        while futures:
            done, _ = wait(futures, return_when=FIRST_COMPLETED)
            newly_ready: list[str] = []
            for fut in done:
                n = futures.pop(fut)
                err = fut.exception()
                with lock:
                    if err is not None:
                        results[n].status = "error"
                        results[n].error = err
                        if results[n].finished is None:
                            results[n].finished = time.monotonic()
                        skip_downstream(n)
                    else:
                        for o in dependents[n]:
                            remaining_deps[o].discard(n)
                            if (
                                not remaining_deps[o]
                                and results[o].status == "pending"
                            ):
                                newly_ready.append(o)
            for n in newly_ready:
                futures[ex.submit(worker, n)] = n
    return results


def medallion_models(cfg, raw) -> list[Model]:
    """The reference's daily DAG as runner models for ONE symbol and
    its raw batch: bronze → silver → gold → checks (each edge is a dbt
    ref()).
    Several symbols' model lists concatenate into one run — their
    models are mutually independent (per-symbol base_dir), which is
    exactly where ``threads: 4`` buys wall-clock."""
    from . import medallion as med

    sym = cfg.symbol.replace("/", "_").lower()
    return [
        Model(f"bronze_{sym}", lambda sp: med.bronze_ingest(cfg, raw)),
        Model(
            f"silver_{sym}",
            lambda sp: med.silver_run(sp, cfg),
            (f"bronze_{sym}",),
        ),
        Model(
            f"gold_{sym}",
            lambda sp: med.gold_run(sp, cfg),
            (f"silver_{sym}",),
        ),
        Model(
            f"checks_{sym}",
            lambda sp: med.gold_checks(sp, cfg),
            (f"gold_{sym}",),
        ),
    ]


def run_batch_concurrent(
    spark: SparkSession,
    cfgs_and_raws: Sequence[tuple],
    *,
    threads: int = 4,
) -> dict[str, ModelResult]:
    """Multi-symbol daily run over ``[(cfg, raw_df), ...]``: each
    pipeline is a 4-model chain; chains from different symbols
    interleave across ``threads`` workers like dbt scheduling
    independent model subtrees. Symbols must use distinct
    ``base_dir``s (shared-table writers are dependencies, not
    parallelism — module docstring)."""
    dirs = [cfg.base_dir for cfg, _ in cfgs_and_raws]
    if len(set(dirs)) != len(dirs):
        raise ValueError("concurrent symbols must not share base_dir")
    models: list[Model] = []
    for cfg, raw in cfgs_and_raws:
        models += medallion_models(cfg, raw)
    return run_models(spark, models, threads=threads)
