"""The workloads. Each warms up, then runs closed-loop with one client
for the given number of seconds and at least MIN_PASSES passes or
MIN_DAYS days (an operation that starts inside the window runs to its
end), then checks every result outside the window.

An operation is a query (``query_mix``) or one pipeline day
(``daily_incremental``).
"""

from __future__ import annotations

import gc
import importlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

import duckdb

import inputs
import sparkstats
from tracing import Tracer

#: query_mix: read-only queries from bench.py's HEADLINE set whose cost
#: is set by the engine rather than by data volume, so several passes
#: fit one run, plus the streaming flagship, which drains a file-source
#: stream through streaming/candles_stream.py. Grouped by the
#: ``queries/`` module that hosts them.
QUERIES = (
    # queries/timeseries.py
    "candles_5m",
    # queries/relational.py
    "pricing_summary", "join_revenue_by_nation", "asof_join_purchases",
    # queries/indicators_q.py (a pandas-UDF kernel)
    "ewma_macd",
    # queries/llm_ops.py
    "tfidf_top_terms",
    # queries/ml_q.py
    "bm25_topk",
    # queries/streaming_q.py
    "streaming_candles_5m",
)
#: every query_mix window holds at least this many whole passes, so its
#: tail rests on at least 21 samples (see run._tail)
MIN_PASSES = 3
#: every daily_incremental window holds at least this many days
MIN_DAYS = 2
QUERY_MODULES = ("timeseries", "relational", "indicators_q", "llm_ops", "ml_q",
                 "streaming_q")
MEDALLION_LAYERS = ("bronze", "silver", "gold", "checks")
SILVER_COLS = ["symbol", "observed_at", "open_price", "high_price",
               "low_price", "close_price"]
GOLD_COLS = ["unique_id", "symbol", "timeframe", "candle_start", "open_value",
             "high_value", "low_value", "close_value", "n_ticks", "price_diff",
             "sma_20", "sma_50"]


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    cursor: "sparkstats.Cursor | None"  # set only in a traced run
    work: str  # this run's scratch directory
    inputs: str  # the per-seed input cache
    cores: int


@dataclass
class Outcome:
    latencies: list = field(default_factory=list)  # seconds per operation
    attempted: int = 0
    failed: int = 0
    window_s: float = 0.0  # window start to the end of the last operation
    layer: dict = field(default_factory=dict)  # per-layer metrics
    record: dict = field(default_factory=dict)  # rows for the trace file
    phases: dict = field(default_factory=dict)  # seconds spent per phase

    @property
    def ops_per_s(self) -> float:
        return len(self.latencies) / self.window_s


def value_hash(pdf) -> str:
    """The order-insensitive strict value hash the engine's oracle
    harness compares with (scripts/driver_sim.py)."""
    return importlib.import_module("driver_sim").value_hash(pdf)


def same_rows(a, b) -> bool:
    """Whether two frames hold the same rows, in any order, with
    identical column types and exactly equal values."""
    cols = sorted(a.columns)
    if cols != sorted(b.columns) or list(a[cols].dtypes) != list(b[cols].dtypes):
        return False
    a, b = (x[cols].sort_values(cols).reset_index(drop=True) for x in (a, b))
    return a.equals(b)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default


def _release_state(spark) -> None:
    """Free the previous query's cached and checkpointed blocks before
    the next one, as bench.py's timed loop does."""
    spark.catalog.clearCache()
    gc.collect()
    jsc = spark.sparkContext._jsc.sc()
    spark.sparkContext._jvm.System.gc()
    rdds = jsc.getPersistentRDDs().toList()
    for i in range(rdds.size()):
        rdds.apply(i)._2().unpersist(True)


def _add_spark_totals(layer: dict, c: "sparkstats.Counters", busy_s: float,
                      cores: int, ops: int) -> None:
    s = c.stage
    layer.update({
        "spark.jobs": c.jobs, "spark.stages": c.stages,
        "spark.tasks": s["tasks"], "spark.failed_tasks": s["failed_tasks"],
        "spark.executor_run_s": s["executor_run_s"],
        "spark.executor_cpu_s": s["executor_cpu_s"], "spark.gc_s": s["gc_s"],
        "spark.shuffle_read_bytes": s["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": s["shuffle_write_bytes"],
        "spark.spill_bytes": s["spill_bytes"],
        "spark.idle_slot_s": busy_s * cores - s["executor_run_s"],
        "tables.input_bytes": s["input_bytes"] / max(ops, 1),
        "tables.input_rows": s["input_rows"] / max(ops, 1),
    })
    for k, v in c.plan.items():
        layer[f"plan.{k}"] = v / max(ops, 1)


# ------------------------------------------------------------------ query_mix

def _oracle_hashes(data: str, catalog) -> dict[str, str]:
    """DuckDB oracle hashes, computed once per input directory (the
    tables are read-only)."""
    path = os.path.join(data, "oracle_hashes.json")
    if os.path.exists(path):
        with open(path) as f:
            hashes = json.load(f)
        if set(QUERIES) <= set(hashes):
            return hashes
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    hashes = {n: value_hash(con.execute(catalog.REGISTRY[n].oracle).df())
              for n in QUERIES}
    con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(hashes, f)
    os.rename(path + ".tmp", path)
    return hashes


def wrong_results(results: list, oracle: dict[str, str]) -> int:
    """How many (query name, pandas result) pairs differ from their
    oracle hash."""
    return sum(value_hash(pdf) != oracle[name] for name, pdf in results)


def _query_module(catalog, name: str) -> str:
    fn = catalog.REGISTRY[name].fn
    inner = fn.__closure__[0].cell_contents if fn.__closure__ else fn
    return inner.__module__.rsplit(".", 1)[-1]


def query_mix(ctx: Ctx) -> Outcome:
    catalog = importlib.import_module("forex_data_pipeline_spark.catalog")
    out = Outcome()
    t = time.monotonic()
    data = inputs.query_tables(os.path.join(ctx.inputs, "tables"), ctx.seed)
    oracle = _oracle_hashes(data, catalog)
    out.phases["inputs"] = time.monotonic() - t
    spark, sc, tr = ctx.spark, ctx.spark.sparkContext, ctx.tracer
    order = inputs.query_order(list(QUERIES), ctx.seed, passes=200)
    # warm-up: one untimed pass pays the first-call costs (codegen,
    # Python worker start-up), which vary with the host far more than
    # the queries themselves
    t = time.monotonic()
    warm = len(QUERIES)
    for name in order[:warm]:
        _release_state(spark)
        catalog.REGISTRY[name].fn(spark, data).toPandas()
    out.phases["warm-up"] = time.monotonic() - t
    probe = _StreamProbe(
        importlib.import_module("forex_data_pipeline_spark.queries.streaming_q")
    ) if ctx.cursor else None
    results = []
    per_module: dict[str, list] = {m: [] for m in QUERY_MODULES}
    totals = sparkstats.Counters()
    if ctx.cursor:
        ctx.cursor.take()
    start = time.monotonic()
    end = start
    for i, name in enumerate(order[warm:]):
        # whole passes only, so every query is sampled equally often
        if (i % len(QUERIES) == 0 and i >= MIN_PASSES * len(QUERIES)
                and time.monotonic() - start >= ctx.seconds):
            break
        _release_state(spark)
        out.attempted += 1
        pdf = None
        with tr.span(f"query:{name}", request=name) as sid:
            if ctx.cursor:
                sc.setJobGroup(f"q:{name}", name, True)
            t0 = time.perf_counter()
            try:
                with tr.span("call", parent=sid, request=name):
                    df = catalog.REGISTRY[name].fn(spark, data)
                with tr.span("action", parent=sid, request=name):
                    pdf = df.toPandas()
            except Exception as exc:  # noqa: BLE001 - one failed operation
                out.record.setdefault("errors", []).append(f"{name}: {exc!r}"[:500])
            dt = time.perf_counter() - t0
            end = time.monotonic()
        if pdf is None:
            out.failed += 1
            continue
        out.latencies.append(dt)
        results.append((name, pdf))
        if ctx.cursor:
            sc.setLocalProperty("spark.jobGroup.id", None)
            c = sparkstats.total(ctx.cursor.take())
            totals.add(c)
            per_module[_query_module(catalog, name)].append((dt, c))
            out.record.setdefault("queries", []).append(
                {"name": name, "wall_s": dt, **c.as_dict()})
    out.window_s = end - start
    t = time.monotonic()
    out.failed += wrong_results(results, oracle)
    out.phases["check"] = time.monotonic() - t
    if ctx.cursor:
        probe.restore()
        L = out.layer
        L.update(_stream_layer(probe.drains))
        for m, rows in per_module.items():
            L[f"queries.{m}.wall_s"] = _mean([dt for dt, _ in rows])
            L[f"queries.{m}.jobs"] = _mean([c.jobs for _, c in rows])
            L[f"queries.{m}.stages"] = _mean([c.stages for _, c in rows])
            for key in ("tasks", "executor_run_s", "spill_bytes"):
                L[f"queries.{m}.{key}"] = _mean([c.stage[key] for _, c in rows])
            L[f"queries.{m}.shuffle_bytes"] = _mean(
                [c.stage["shuffle_write_bytes"] for _, c in rows])
        _add_spark_totals(L, totals, sum(out.latencies), ctx.cores, len(results))
    return out


# ---------------------------------------------------------- daily_incremental

class _WriterProbe:
    """Rebinds ``merge_upsert``, ``high_watermark`` and
    ``write_partitioned`` in ``pipeline.medallion``'s namespace with
    wrappers that time each call and run it under a child job group
    (``model:<name>/<writer>``), restoring the model's group after."""

    NAMES = ("merge_upsert", "high_watermark", "write_partitioned")

    def __init__(self, med, spark):
        self.med, self.sc = med, spark.sparkContext
        self.calls: list[tuple] = []  # (writer, model, start, end)
        self.saved = {n: getattr(med, n) for n in self.NAMES}
        for n, fn in self.saved.items():
            setattr(med, n, self._wrap(n, fn))

    def _wrap(self, writer, fn):
        sc = self.sc

        def wrapper(*args, **kwargs):
            group = sc.getLocalProperty("spark.jobGroup.id")
            desc = sc.getLocalProperty("spark.job.description")
            model = group.split(":", 1)[1] if group else None
            sc.setJobGroup(f"{group}/{writer}", writer, True)
            t0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls.append((writer, model, t0, time.monotonic()))
                if group:
                    sc.setJobGroup(group, desc, True)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

        return wrapper

    def restore(self) -> None:
        for n, fn in self.saved.items():
            setattr(self.med, n, fn)


def _files_since(root: str, since: float) -> tuple[int, int]:
    n = size = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since and not f.startswith("."):
                n += 1
                size += st.st_size
    return n, size


def _layer_of(group: str | None) -> str | None:
    """The medallion layer of a runner job group:
    ``model:gold_eur_usd/merge_upsert`` -> ``gold``."""
    if not group or not group.startswith("model:"):
        return None
    return group[len("model:"):].split("_", 1)[0]


def daily_incremental(ctx: Ctx) -> Outcome:
    med = importlib.import_module("forex_data_pipeline_spark.pipeline.medallion")
    runner = importlib.import_module("forex_data_pipeline_spark.pipeline.runner")
    out = Outcome()
    t = time.monotonic()
    data = inputs.bar_batches(os.path.join(ctx.inputs, "bars"), ctx.seed)
    out.phases["inputs"] = time.monotonic() - t
    spark, tr = ctx.spark, ctx.tracer
    threads = min(4, ctx.cores)
    syms = [(s, s.replace("/", "_").lower()) for s in inputs.SYMBOLS]

    def run_day(batch_files):
        pairs = [(cfg, spark.read.parquet(*files))
                 for cfg, files in zip(inc, batch_files)]
        return runner.run_batch_concurrent(spark, pairs, threads=threads)

    def day_ok(res) -> bool:
        return all(r.status == "success" for r in res.values()) and all(
            v == 0 for k, r in res.items() if k.startswith("checks_")
            for v in r.value.values())

    probe = _WriterProbe(med, spark) if ctx.cursor else None
    inc = [med.PipelineConfig(base_dir=f"{ctx.work}/inc/{key}", symbol=s)
           for s, key in syms]
    day_rows: list[dict] = []
    in_bytes = 0
    def batch(name):
        return [[f"{data}/{key}/{name}.parquet"] for _, key in syms]

    try:
        # backfill, then day 1 as the warm-up: the first incremental day
        # runs code paths and plans the backfill never ran
        for name in ("history", "day_01"):
            files = batch(name)
            in_bytes += sum(os.path.getsize(f[0]) for f in files)
            t0 = time.perf_counter()
            res = run_day(files)
            if name == "history":
                backfill_s = time.perf_counter() - t0
            else:
                out.phases["warm-up day"] = time.perf_counter() - t0
            out.attempted += 1
            out.failed += not day_ok(res)
        if ctx.cursor:
            ctx.cursor.take()
            probe.calls.clear()
        processed = 1
        start = time.monotonic()
        end = start
        for day in range(2, inputs.DAYS + 1):
            if day > 1 + MIN_DAYS and time.monotonic() - start >= ctx.seconds:
                break
            files = batch(f"day_{day:02d}")
            day_bytes = sum(os.path.getsize(f[0]) for f in files)
            wall0 = time.time()
            out.attempted += 1
            with tr.span(f"day:{day}", request=str(day)) as sid:
                t0 = time.perf_counter()
                try:
                    res = run_day(files)
                except Exception as exc:  # noqa: BLE001 - one failed operation
                    res = None
                    out.record.setdefault("errors", []).append(repr(exc)[:500])
                dt = time.perf_counter() - t0
                end = time.monotonic()
            processed = day
            in_bytes += day_bytes
            if res is None or not day_ok(res):
                out.failed += 1
                continue
            out.latencies.append(dt)
            if ctx.cursor:
                day_rows.append(_trace_day(ctx, probe, res, sid, day, dt,
                                           day_bytes, wall0))
        out.window_s = end - start
    finally:
        if probe:
            probe.restore()

    # correctness: the incremental tables equal one full recompute over
    # the union of every batch the run processed (silver_transform and
    # gold_transform on all of it, as run_batch does on an empty table)
    t = time.monotonic()
    from pyspark.sql import functions as F
    union = [sum(parts, []) for parts in zip(
        batch("history"), *(batch(f"day_{d:02d}") for d in range(1, processed + 1)))]
    for cfg, files in zip(inc, union):
        raw = spark.read.parquet(*files).withColumn("symbol", F.lit(cfg.symbol))
        silver = med.silver_transform(raw)
        expected = {"silver_path": silver, "gold_path": med.gold_transform(cfg, silver)}
        for path_attr, cols in (("silver_path", SILVER_COLS), ("gold_path", GOLD_COLS)):
            got = spark.read.parquet(getattr(cfg, path_attr)).select(*cols).toPandas()
            if not same_rows(got, expected[path_attr].select(*cols).toPandas()):
                out.failed += 1
                out.record.setdefault("errors", []).append(
                    f"{path_attr} of {cfg.symbol} differs from a full recompute")
    stored = inputs.dir_bytes(f"{ctx.work}/inc")
    out.phases["check"] = time.monotonic() - t

    if ctx.cursor:
        L = out.layer
        L["runner.backfill_s"] = backfill_s
        for group, keys in (
            ("runner", ("bronze_s", "silver_s", "gold_s", "checks_s",
                        "busy_threads", "models_failed")),
            ("writers", ("merge_upsert_s", "merge_calls", "high_watermark_s",
                         "batch_bytes", "bytes_written", "files_written",
                         "write_amp")),
        ):
            for key in keys:
                L[f"{group}.{key}"] = _median([r[key] for r in day_rows])
        for layer in MEDALLION_LAYERS:
            for k in ("jobs", "input_bytes", "shuffle_bytes", "output_bytes"):
                L[f"medallion.{layer}.{k}"] = _mean(
                    [r["medallion"][layer][k] for r in day_rows])
        totals = sparkstats.Counters()
        for r in day_rows:
            totals.add(r["counters"])
        _add_spark_totals(L, totals, sum(out.latencies), ctx.cores, len(day_rows))
        out.record["days"] = [{k: v for k, v in r.items() if k != "counters"}
                              | {"counters": r["counters"].as_dict()}
                              for r in day_rows]
    out.layer["writers.bytes_stored_per_input_byte"] = stored / in_bytes
    out.record["backfill_s"] = out.phases["backfill"] = backfill_s
    return out


def _trace_day(ctx, probe, res, day_sid, day, wall_s, day_bytes, wall0) -> dict:
    """Spans and counters of one traced day."""
    tr = ctx.tracer
    model_sid = {}
    for name, r in res.items():
        if r.started is not None:
            model_sid[name] = tr.add(f"model:{name}", r.started, r.finished,
                                     parent=day_sid, request=str(day))
    for writer, model, a, b in probe.calls:
        tr.add(f"writer:{writer}", a, b, parent=model_sid.get(model),
               request=str(day), model=model)
    by_layer = {k: 0.0 for k in MEDALLION_LAYERS}
    for name, r in res.items():
        by_layer[name.split("_", 1)[0]] += r.elapsed or 0.0
    writes = {w: [b - a for wr, _m, a, b in probe.calls if wr == w]
              for w in _WriterProbe.NAMES}
    probe.calls.clear()
    groups = ctx.cursor.take()
    med = {k: dict.fromkeys(("jobs", "input_bytes", "shuffle_bytes",
                             "output_bytes"), 0.0) for k in MEDALLION_LAYERS}
    for g, c in groups.items():
        layer = _layer_of(g)
        if layer in med:
            m = med[layer]
            m["jobs"] += c.jobs
            m["input_bytes"] += c.stage["input_bytes"]
            m["shuffle_bytes"] += c.stage["shuffle_write_bytes"]
            m["output_bytes"] += c.stage["output_bytes"]
    n_files, n_bytes = _files_since(f"{ctx.work}/inc", wall0)
    return {
        "day": day, "wall_s": wall_s,
        **{f"{k}_s": v for k, v in by_layer.items()},
        "busy_threads": sum(by_layer.values()) / wall_s,
        "models_failed": sum(r.status != "success" for r in res.values()),
        "merge_upsert_s": sum(writes["merge_upsert"]),
        "merge_calls": len(writes["merge_upsert"]),
        "high_watermark_s": sum(writes["high_watermark"]),
        "batch_bytes": day_bytes, "bytes_written": n_bytes, "files_written": n_files,
        "write_amp": n_bytes / day_bytes,
        "medallion": med, "counters": sparkstats.total(groups),
    }


# ------------------------------------------------------------------- stream

def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p
            for p in q.recentProgress]


class _StreamProbe:
    """Rebinds ``run_available_now_to_table`` in a module's namespace
    with a wrapper that keeps each drain's wall time and progress."""

    def __init__(self, mod):
        self.mod, self.saved = mod, mod.run_available_now_to_table
        self.drains: list[dict] = []

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            q = self.saved(*args, **kwargs)
            self.drains.append({"wall_s": time.perf_counter() - t0,
                                "progress": _progress(q)})
            return q

        mod.run_available_now_to_table = wrapper

    def restore(self) -> None:
        self.mod.run_available_now_to_table = self.saved


def _stream_layer(drains: list[dict]) -> dict:
    """The ``stream.*`` metrics of a list of drains, each with its wall
    time and ``recentProgress``."""
    prog = [p for d in drains for p in d["progress"]]

    def med(key):
        return _median([p["durationMs"].get(key, 0) for p in prog])

    def state(p):
        return (p.get("stateOperators") or [{}])[0]

    last = [state(d["progress"][-1]) for d in drains if d["progress"]]
    return {
        "stream.batches": _mean([len(d["progress"]) for d in drains]),
        "stream.events_per_s": _median(
            [sum(p["numInputRows"] for p in d["progress"]) / d["wall_s"]
             for d in drains]),
        "stream.add_batch_ms": med("addBatch"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.get_batch_ms": med("getBatch"),
        "stream.state_rows": _median([s.get("numRowsTotal", 0) for s in last]),
        "stream.state_bytes": _median([s.get("memoryUsedBytes", 0) for s in last]),
        "stream.state_partitions": _median(
            [s.get("numShufflePartitions", 0) for s in last]),
        "stream.rows_dropped_by_watermark": _median(
            [sum(state(p).get("numRowsDroppedByWatermark", 0) for p in d["progress"])
             for d in drains]),
    }


WORKLOADS = {
    "query_mix": query_mix,
    "daily_incremental": daily_incremental,
}
