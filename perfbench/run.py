#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its
per-layer metrics, each as ``{"value", "unit"}``). A traced run also
writes its spans and per-operation counters to
``.perfbench/traces/<workload>-seed<n>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import os
import time

# set-up time counts from process start: anchor the clock first
_CLK_TCK = os.sysconf("SC_CLK_TCK")
with open("/proc/self/stat") as _f:
    _START_TICKS = int(_f.read().rsplit(")", 1)[1].split()[19])
PROCESS_START = time.perf_counter() - (
    time.clock_gettime(time.CLOCK_BOOTTIME) - _START_TICKS / _CLK_TCK
)

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")
PACKAGE = "forex_data_pipeline_spark"

#: processes whose CPU use would distort a timing on a small host
_STRAY = ("driver_sim.py", "bench.py", "pytest", "perfbench/run.py",
          "org.apache.spark.deploy.SparkSubmit")


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _environment(cores: int, traced: bool = True) -> None:
    """Pin the engine to the host's cores and keep every file inside WORK.
    A traced run keeps every job, stage and plan in the status stores;
    an untraced one keeps Spark's defaults."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {k}=100000" for k in (
                "spark.ui.retainedJobs", "spark.ui.retainedStages",
                "spark.sql.ui.retainedExecutions",
            ) if traced
        ) + " --conf spark.ui.showConsoleProgress=false"
        + f" --conf spark.sql.warehouse.dir={WORK}/warehouse pyspark-shell",
    })
    for p in (REPO, os.path.join(REPO, "scripts"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _strays() -> list[str]:
    """Other processes that would compete for the cores."""
    mine = {os.getpid()}
    pid = os.getpid()
    while pid > 1:  # ancestors
        with open(f"/proc/{pid}/stat") as f:
            pid = int(f.read().rsplit(")", 1)[1].split()[1])
        mine.add(pid)
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if any(s in cmd for s in _STRAY):
            found.append(f"{d}: {cmd[:120]}")
    return found


def _wait_for_quiet_host() -> None:
    deadline = time.monotonic() + 30
    while True:
        strays = _strays()
        if not strays:
            return
        if time.monotonic() > deadline:
            _fail("refusing to time while other processes compete for the "
                  "cores:\n  " + "\n  ".join(strays), 3)
        time.sleep(1)


def _setup():
    """Build the session, import the query registry and run one warm-up
    action, all counted from process start; return (total, session,
    import) seconds and the session."""
    t = time.perf_counter()
    spark = importlib.import_module(f"{PACKAGE}.session").get_spark("perfbench")
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    importlib.import_module(f"{PACKAGE}.catalog")._ensure_loaded()
    import_s = time.perf_counter() - t
    spark.range(1000).selectExpr("sum(id)").collect()
    total = time.perf_counter() - PROCESS_START
    spark.sparkContext.setLogLevel("ERROR")
    return total, session_s, import_s, spark


def _tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    that percentile. Below 21 samples that percentile would not lie
    above the median, so the tail is then the maximum."""
    s = sorted(xs)
    if len(s) < 21:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def _stop_jvm(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python
    worker it started) has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py")):
        _fail(f"the engine package {PACKAGE}/ is not in {REPO}")
    if not os.path.isfile(os.path.join(REPO, "scripts", "driver_sim.py")):
        _fail(f"scripts/driver_sim.py (the oracle value hash) is not in {REPO}")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    cores = len(os.sched_getaffinity(0))
    _environment(cores, bool(args.trace))
    _wait_for_quiet_host()

    # the benchmark's own modules load after the timed set-up
    setup_s, session_s, import_s, spark = _setup()
    import sparkstats
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        _stop_jvm(spark)
        _fail(f"unknown workload {args.workload!r}; one of {list(workloads.WORKLOADS)}")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    traced = bool(args.trace)
    layer: dict = {}
    if traced:
        layer["host.job_latency_ms_pre"] = sparkstats.job_latency_ms(spark)
        layer["host.jvm_canary_s_pre"] = sparkstats.jvm_canary_s(spark)

    run_dir = os.path.join(WORK, "run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = workloads.Ctx(
        spark=spark, seed=args.seed, seconds=args.seconds,
        tracer=Tracer(traced),
        cursor=sparkstats.Cursor(spark) if traced else None,
        work=run_dir,
        inputs=os.path.join(WORK, "inputs", f"{args.workload}-seed{args.seed}"),
        cores=cores,
    )
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
        if traced:
            layer["host.job_latency_ms_post"] = sparkstats.job_latency_ms(spark)
            layer["host.jvm_canary_s_post"] = sparkstats.jvm_canary_s(spark)
        rss = sparkstats.peak_rss_mb(jvm_pid)
    finally:
        _stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if not out.latencies:
        _fail("no operation completed", 4)

    tail, tail_pct = _tail(out.latencies)
    e2e = {
        "setup_s": setup_s,
        "success_ratio": (out.attempted - out.failed) / out.attempted,
        "peak_rss_mb": rss,
        "op_p50_s": statistics.median(out.latencies),
        "op_tail_s": tail,
        "ops_per_s": out.ops_per_s,
    }
    layer.update(out.layer)
    layer.update({
        "session.start_s": session_s,
        "catalog.import_s": import_s,
        "trace.op_p50_s": e2e["op_p50_s"],
        "trace.ops_per_s": e2e["ops_per_s"],
    })
    print(f"# {args.workload} seed={args.seed}: {len(out.latencies)} operations "
          f"in {out.window_s:.1f} s; op_tail_s is p{tail_pct:.1f}; "
          f"{out.failed} of {out.attempted} failed")
    print(f"# latencies (s): {[round(x, 4) for x in out.latencies]}")
    print("# phases (s): " + ", ".join(
        f"{k} {v:.1f}" for k, v in {"setup": setup_s, **out.phases,
                                    "window": out.window_s}.items()))
    for err in out.record.get("errors", [])[:5]:
        print(f"# error: {err}")

    section = "per_layer" if traced else "end_to_end"
    values = layer if traced else e2e
    unknown = set(values) - {m["name"] for m in spec[section]} - (
        set(e2e) if traced else set())
    if unknown:
        _fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if traced:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        ctx.tracer.write(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
             "per_layer": layer, **out.record})
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec[section]
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
