#!/usr/bin/env python3
"""Registry-wide timing + Python-boundary sweep (optimization r10).

The bench covers 13 headline queries; this sweep covers the OTHER ~500
batch queries so the guide §1 "measure first" step reaches every
operator family. For each batch query it records:

- BUILD seconds: DataFrame construction + physical planning (the
  driver-side cost class r10 batch 1 attacked),
- EXEC seconds: ONE noop-sink action (guide §1.4 — times the
  computation, not the sink),
- JVM<->Python boundary nodes in the executed plan (guide §4:
  BatchEvalPython / ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
  / PythonMapInArrow / AggregateInPandas / MapInArrow),
- shuffle + broadcast Exchange counts (guide §2 shuffle budget).

Single-draw timings are OUTLIER DETECTION, not benchmarks — this box
swings ±2x on sub-second jobs; anything flagged slow gets a paired
re-run before an optimization decision (OPTIMIZATION_r10.md hygiene
rule). Results go to JSON sorted by exec desc.

Usage: python3 tools/registry_sweep.py [sf_dir] [--out FILE]
                                       [--only name1,name2] [--draws N]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# same exclusions and Python-boundary node list as the plan audit
from plan_audit import _PY_NODES, _SKIP, _SKIP_PREFIXES  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    # flag VALUES are not positionals: without this, `--out /tmp/r.json`
    # with no explicit sf_dir made the output path the data dir
    flag_vals = {i + 1 for i, a in enumerate(argv) if a in ("--out", "--only", "--draws")}
    args = [
        a for i, a in enumerate(argv) if not a.startswith("--") and i not in flag_vals
    ]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out = "/tmp/registry_sweep.json"
    only: set[str] | None = None
    draws = 1
    for i, a in enumerate(argv):
        if a == "--out":
            out = argv[i + 1]
        elif a == "--only":
            only = set(argv[i + 1].split(","))
        elif a == "--draws":
            draws = int(argv[i + 1])

    from kafka_streams_and_ktable_example_spark import plans
    from kafka_streams_and_ktable_example_spark.session import (
        force,
        get_spark,
        tune_for_input,
    )

    spark = get_spark("registry_sweep")
    tune_for_input(spark, sf_dir)
    # warm-up: one scan-aggregate forced before the loop so JVM/codegen/
    # noop-committer spin-up doesn't land on the alphabetically-first
    # query (observed: agg_aqp_sample_estimate read 6.6 s build / 4.2 s
    # exec cold vs 0.24 / 0.57 warm)
    try:
        force(plans.REGISTRY["q1_pricing_summary"].spark(spark, sf_dir))
    except Exception:
        pass
    rows = []
    t_start = time.time()
    for name, q in sorted(plans.REGISTRY.items()):
        if name.startswith(_SKIP_PREFIXES) or name in _SKIP:
            continue
        if only is not None and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        rec: dict = {"name": name}
        try:
            t0 = time.time()
            df = q.spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rec["build_s"] = round(time.time() - t0, 3)
            py = {n: plan.count(n) for n in _PY_NODES if n in plan}
            if py:
                rec["py_nodes"] = py
            rec["exchanges"] = plan.count("Exchange hashpartitioning")
            rec["broadcasts"] = plan.count("BroadcastExchange")
            best = None
            for _ in range(draws):
                t1 = time.time()
                force(df)
                d = time.time() - t1
                best = d if best is None else min(best, d)
            rec["exec_s"] = round(best, 3)
        except Exception as exc:  # record, keep sweeping
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            spark.catalog.clearCache()
        rows.append(rec)

    rows.sort(key=lambda r: -(r.get("exec_s") or 0.0))
    payload = {
        "sf_dir": sf_dir,
        "draws": draws,
        "wall_s": round(time.time() - t_start, 1),
        "n": len(rows),
        "rows": rows,
    }
    Path(out).write_text(json.dumps(payload, indent=1))
    errs = [r for r in rows if "error" in r]
    pys = [r for r in rows if "py_nodes" in r]
    print(f"swept {len(rows)} queries in {payload['wall_s']}s -> {out}")
    print(f"errors: {len(errs)}", [r["name"] for r in errs][:10])
    print(f"python-boundary plans: {len(pys)}")
    for r in pys:
        print("  ", r["name"], r["py_nodes"])
    print("top 15 exec:")
    for r in rows[:15]:
        print(f"  {r['name']:45s} exec {r.get('exec_s')} build {r.get('build_s')}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
