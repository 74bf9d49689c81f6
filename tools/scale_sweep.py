#!/usr/bin/env python3
"""Registry-wide robustness sweep at the synthetic 10x replica (~6M-row
lineitem, "1.0x").

Correctness is gated at driver scales by tools/verify_local.py; this sweep
answers the OTHER hardening question: does every registry plan still
EXECUTE at 10x the gate data — no ANSI overflow (Spark 4 throws on int64
overflow), no OOM from an accidentally-global structure, no fixture path
that only works at toy sizes. Each query runs once against the replica
with the noop sink (full computation, nothing collected); failures are
reported with their exception.

Usage:
  python3 tools/scale_sweep.py                 # all batch queries
  python3 tools/scale_sweep.py --streaming     # include streaming replays
  python3 tools/scale_sweep.py --only name...  # subset
  python3 tools/scale_sweep.py --smoke 10      # deterministic N-query
                                               # rotation (window keyed by
                                               # git commit count, so each
                                               # commit smokes a different
                                               # slice; preflight runs this)
Writes tools-local JSON to /tmp/scale_sweep.json and prints a summary.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Scratch hygiene (VERDICT r8 directive #8): route this run's shuffle/
# blockmgr spill into a dedicated dir and remove it on exit — including
# exit-after-failure. The r8 triangle 100x disk-fill FAIL followed several
# aborted rejected-variant runs whose orphan /tmp/blockmgr-* dirs (3.5 GB
# found at r9 start) were never reclaimed; a runner that fails on a full
# disk must not also be the thing that filled it. SPARK_LOCAL_DIRS must be
# set BEFORE the JVM starts, hence before the get_spark import chain runs.
_SCRATCH = tempfile.mkdtemp(prefix="sweep_scratch_")
os.environ.setdefault("SPARK_LOCAL_DIRS", _SCRATCH)
atexit.register(shutil.rmtree, _SCRATCH, ignore_errors=True)

from kafka_streams_and_ktable_example_spark import plans  # noqa: E402
from kafka_streams_and_ktable_example_spark.session import force, get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--smoke", type=int, default=0, metavar="N",
                    help="run a deterministic N-query rotating sample")
    ap.add_argument("--factor", type=int, default=10,
                    help="replica scale factor vs sf0.1 (10 = the default "
                         "robustness sweep; 100 = the 60M-row stress point)")
    ap.add_argument("--out", default="/tmp/scale_sweep.json",
                    help="result JSON path")
    args = ap.parse_args()

    spark = get_spark("scale-sweep")
    from kafka_streams_and_ktable_example_spark.sources.scale_replicate import (
        replicate_sf,
    )

    big_dir = replicate_sf(spark, "/root/testdata/sf0.1", args.factor)
    from kafka_streams_and_ktable_example_spark.session import tune_for_input

    n_init = tune_for_input(spark, big_dir)
    print(f"sweeping registry at {big_dir} (initialPartitionNum={n_init})", flush=True)

    results: dict[str, dict] = {}
    names = args.only or sorted(plans.REGISTRY)
    if args.smoke and not args.only:
        # rotating window over the sorted batch names, keyed by the git
        # commit count: every commit's preflight smokes a different slice,
        # so a plan regression at scale surfaces within ~|registry|/N
        # commits instead of at the next manual full sweep
        import subprocess

        batch = [n for n in names if "streaming" not in plans.REGISTRY[n].tags]
        try:
            tick = int(
                subprocess.run(
                    ["git", "rev-list", "--count", "HEAD"],
                    capture_output=True, text=True, cwd=Path(__file__).parent.parent,
                ).stdout.strip()
            )
        except (ValueError, OSError):
            tick = 0
        off = (tick * args.smoke) % len(batch)
        names = [batch[(off + i) % len(batch)] for i in range(args.smoke)]
        print(f"smoke sample (tick={tick}): {', '.join(names)}", flush=True)
    for name in names:
        q = plans.REGISTRY[name]
        if "streaming" in q.tags and not args.streaming:
            results[name] = {"status": "skipped-streaming"}
            continue
        t0 = time.time()
        try:
            force(q.spark(spark, big_dir))
            results[name] = {"status": "ok", "sec": round(time.time() - t0, 2)}
            print(f"ok    {name} ({results[name]['sec']}s)", flush=True)
        except Exception as exc:
            du = shutil.disk_usage("/tmp")
            results[name] = {
                "status": "FAIL",
                "sec": round(time.time() - t0, 2),
                "err": f"{type(exc).__name__}: {str(exc)[:400]}",
                "tmp_free_gb": round(du.free / 2**30, 1),
            }
            print(f"FAIL  {name}: {results[name]['err']}", flush=True)
            traceback.print_exc(limit=3)
        finally:
            spark.catalog.clearCache()

    n_ok = sum(1 for r in results.values() if r["status"] == "ok")
    n_fail = sum(1 for r in results.values() if r["status"] == "FAIL")
    n_skip = len(results) - n_ok - n_fail
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"\n{n_ok} ok, {n_fail} FAIL, {n_skip} skipped at {args.factor}x replica")
    slow = sorted(
        ((r.get("sec", 0), n) for n, r in results.items() if r["status"] == "ok"),
        reverse=True,
    )[:15]
    print("slowest:", ", ".join(f"{n}={s}s" for s, n in slow))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
