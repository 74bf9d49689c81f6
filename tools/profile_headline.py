#!/usr/bin/env python3
"""Ad-hoc headline profiling harness: bench.py's exact timing recipe
(sf0.001 warmup, tune_for_input, min-of-3 with cache clears) over a
subset of headline queries, so perf work iterates without paying the
full bench + sweep. Usage:
  python3 tools/profile_headline.py [name ...]   # default: all headline
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kafka_streams_and_ktable_example_spark import plans  # noqa: E402
from kafka_streams_and_ktable_example_spark.session import (  # noqa: E402
    force,
    get_spark,
    tune_for_input,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or list(plans.headline_queries())
    spark = get_spark("profile")
    warm = "/root/testdata/sf0.001"
    for n in names:
        try:
            plans.REGISTRY[n].spark(spark, warm).collect()
        except Exception:
            pass
    spark.catalog.clearCache()
    tune_for_input(spark, sf_dir)
    total = 0.0
    for n in names:
        best = float("inf")
        best_build = float("inf")
        for _ in range(3):
            t0 = time.time()
            df = plans.REGISTRY[n].spark(spark, sf_dir)
            try:
                # build = DataFrame construction (py4j round trips) +
                # Catalyst analysis/optimization/planning; exec = the jobs.
                # Both are inside bench.py's timed window — a query whose
                # build dominates is fixed with expr-string construction,
                # not plan changes (see operators/dedup.py r6).
                df._jdf.queryExecution().executedPlan()
            except Exception:
                pass
            t1 = time.time()
            force(df)
            t2 = time.time()
            best = min(best, t2 - t0)
            best_build = min(best_build, t1 - t0)
            spark.catalog.clearCache()
        total += best
        print(f"{n}: {best:.3f}s (build {best_build:.3f}s)", flush=True)
    print(f"TOTAL {total:.3f}s")


if __name__ == "__main__":
    main()
