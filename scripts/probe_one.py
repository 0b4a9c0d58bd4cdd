#!/usr/bin/env python
"""Single-run timing probe for scale rehearsals: one query, one run,
prints `name<TAB>seconds<TAB>rows`.  Used to gauge heavy queries before
committing to bench.py's best-of-2 (which doubles the cost and can
blow the foreground-shell window at rehearsal SFs).

Usage: python scripts/probe_one.py SF_DIR NAME [NAME...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release_state  # noqa: E402
from forex_data_pipeline_spark import catalog  # noqa: E402
from forex_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("probe-one")
    catalog._ensure_loaded()
    # warmup on something tiny so JVM/codegen startup stays out of run 1
    # (PROBE_WARMUP overrides for partial rehearsal dirs, e.g. the sf100
    # events-only probe where the default's lineitem scan has no file)
    warm = os.environ.get("PROBE_WARMUP", "pricing_summary")
    catalog.REGISTRY[warm].fn(spark, sf_dir).count()
    for name in names:
        release_state(spark)
        t0 = time.perf_counter()
        n = catalog.REGISTRY[name].fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        print(f"{name}\t{dt:.3f}\t{n}", flush=True)


if __name__ == "__main__":
    main()
