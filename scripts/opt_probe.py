#!/usr/bin/env python
"""Optimization-round probe: for each named query, record a bracketed
solo timing (canary + best-of-N) and dump `.explain("formatted")` to
plans/$OPT_PLAN_ROUND/<name>_<tag>.txt (default r11).

Usage: python scripts/opt_probe.py TAG NAME [NAME...]
  TAG is `before` or `after` (the plans/r10 file suffix).
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), OPT_RUNS
(default 2), OPT_NO_PLAN=1 to skip the explain dump (timing only).

Prints one line per query:
  name<TAB>best_sec<TAB>rows<TAB>canary_pre<TAB>canary_post
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_state  # noqa: E402
from forex_data_pipeline_spark import catalog  # noqa: E402
from forex_data_pipeline_spark.session import get_spark  # noqa: E402


def _canary(spark) -> float:
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr(
        "sum(CAST(id AS DOUBLE) * id)"
    ).collect()
    return time.perf_counter() - t0


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("OPT_RUNS", "2")))
    plan_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("OPT_PLAN_ROUND", "r11"),
    )
    os.makedirs(plan_dir, exist_ok=True)
    spark = get_spark("opt-probe")
    catalog._ensure_loaded()
    # warmup: JVM + codegen + parquet footers
    catalog.REGISTRY["pricing_summary"].fn(spark, sf_dir).count()
    for name in names:
        spark.sparkContext.setJobDescription(f"opt_probe:{name}")
        if not os.environ.get("OPT_NO_PLAN"):
            # plan BEFORE timing so codegen caches stay comparable;
            # explain is driver-only, no job runs
            df = catalog.REGISTRY[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(plan_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(buf.getvalue())
            del df
        c_pre = round(min(_canary(spark), _canary(spark)), 3)
        best, rows = float("inf"), -1
        for _ in range(runs):
            release_state(spark)
            t0 = time.perf_counter()
            rows = catalog.REGISTRY[name].fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        c_post = round(min(_canary(spark), _canary(spark)), 3)
        print(f"{name}\t{best:.3f}\t{rows}\t{c_pre}\t{c_post}", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
