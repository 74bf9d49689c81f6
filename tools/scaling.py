#!/usr/bin/env python3
"""Measure headline-query scaling across sf0.001 / sf0.01 / sf0.1 and write
SCALING.md — evidence for the would-it-survive-100x question: per-query
wall time vs data size after warm-up, with the 0.1/0.01 ratio (a plan that
scales linearly in data shows ~10x on 10x rows MINUS the fixed task/sched
overhead floor, so well under 10x at these sizes).

Usage: python3 tools/scaling.py [factor ...]
  factor: extra key-offset replica factors of sf0.1 to time (default: 10).
  e.g. `python3 tools/scaling.py 10 100` adds 6M-row AND 60M-row points,
  giving three decades of scale so slopes separate from the sched floor.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from kafka_streams_and_ktable_example_spark import plans  # noqa: E402
from kafka_streams_and_ktable_example_spark.session import force, get_spark  # noqa: E402

SFS = ["0.001", "0.01", "0.1"]


def main() -> None:
    spark = get_spark("scaling")
    headline = plans.headline_queries()
    # warm every plan shape once
    for fn in headline.values():
        try:
            fn(spark, "/root/testdata/sf0.001").collect()
        except Exception:
            pass
    spark.catalog.clearCache()

    dirs = [(sf, f"/root/testdata/sf{sf}") for sf in SFS]
    # synthetic Nx replicas of sf0.1 (key-offset, content perturbed) — the
    # points past the scheduling-overhead floor where slopes become real
    factors = [int(a) for a in sys.argv[1:]] or [10]
    for factor in factors:
        try:
            from kafka_streams_and_ktable_example_spark.sources.scale_replicate import replicate_sf

            label = "1.0x" if factor == 10 else f"{factor}x"
            dirs.append((label, replicate_sf(spark, "/root/testdata/sf0.1", factor)))
        except Exception as exc:  # replica is optional evidence, not a gate
            print(f"scaling: {factor}x replica unavailable: {exc}")

    results: dict[str, dict[str, float]] = {}
    failures: list[str] = []
    for sf, sf_dir in dirs:
        from kafka_streams_and_ktable_example_spark.session import tune_for_input

        tune_for_input(spark, sf_dir)
        for name, fn in headline.items():
            print(f"scaling: [{sf}] {name} ...", flush=True)
            t0 = time.time()
            try:
                force(fn(spark, sf_dir))
            except Exception as exc:
                # one pathological query must not lose the whole sweep;
                # record the failure and move on
                failures.append(f"{name}@{sf}: {type(exc).__name__}")
                print(f"scaling: [{sf}] {name} FAILED: {exc}", flush=True)
                continue
            dt = round(time.time() - t0, 3)
            results.setdefault(name, {})[sf] = dt
            print(f"scaling: [{sf}] {name} {dt}s", flush=True)
            # registry queries persist() intermediates; without clearing,
            # caches accumulate across the sweep and later queries measure
            # GC pressure instead of their own plan (q9 118s polluted vs
            # 29s clean at the 100x point)
            spark.catalog.clearCache()

    big_labels = [lbl for lbl, _ in dirs if lbl not in SFS]
    hdr = "| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | 0.1/0.01 |"
    sep = "|---|---|---|---|---|"
    prev = "0.1"
    for lbl in big_labels:
        hdr += f" {lbl} (s) | {lbl}/{prev} |"
        sep += "---|---|"
        prev = lbl
    lines = [
        "# SCALING — headline query wall time vs scale factor",
        "",
        "Generated by `python3 tools/scaling.py` (local[32], warm plans,",
        "noop sink). lineitem rows: sf0.001≈6k, sf0.01≈60k, sf0.1≈600k;",
        "replica points are deterministic Nx key-offset replicas of sf0.1",
        "with perturbed content (sources/scale_replicate.py): 1.0x≈6M rows,",
        "100x≈60M rows. Each ratio column divides by the previous scale",
        "point (a 10x-data step, except 100x/1.0x which is also 10x);",
        "values well under the data ratio mean the fixed scheduling floor",
        "still dominates — i.e., headroom, not a super-linear term.",
        "",
        hdr,
        sep,
    ]
    for name, row in results.items():
        ratio = row["0.1"] / row["0.01"] if row["0.01"] > 0 else float("nan")
        line = (
            f"| {name} | {row['0.001']} | {row['0.01']} | {row['0.1']} "
            f"| {ratio:.1f}x |"
        )
        prev = "0.1"
        for lbl in big_labels:
            if lbl in row:
                r = row[lbl] / row[prev] if row.get(prev, 0) > 0 else float("nan")
                line += f" {row[lbl]} | {r:.1f}x |"
            else:
                line += " — | — |"
            prev = lbl
        lines.append(line)
    if failures:
        lines += ["", "Failed measurements: " + ", ".join(failures)]
    Path("SCALING.md").write_text("\n".join(lines) + "\n")
    print(f"SCALING.md written ({len(results)} queries)")


if __name__ == "__main__":
    main()
