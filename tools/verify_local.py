#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its oracle_sql() in
DuckDB over the same parquet tables, then compares:
  - row count
  - column names (sorted)
  - order-insensitive values (columns sorted by name, rows sorted, floats
    canonicalized)

Usage:
  python3 tools/verify_local.py                 # sf0.001, all queries
  python3 tools/verify_local.py --sf 0.01       # the real t2 gate scale
  python3 tools/verify_local.py --only q1_pricing_summary ktable_...
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v):
    # numpy scalars (the pandas/--driver-canon path) canonicalize through
    # their Python value WITHOUT collapsing dtype: np.int64(3) -> '3' but
    # np.float64(3.0) -> '3.0', so an integer column that a pandas fetch
    # coerced to float64 stays visibly different from int64.
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    import datetime as _dt

    # Spark's toPandas yields datetime.date for a DATE column where
    # DuckDB's fetchdf yields midnight Timestamps, so on the pandas path
    # (--driver-canon) a midnight Timestamp renders as its date. The
    # row-wise fetch returns datetime.date from both engines, so there a
    # DATE never equals a TIMESTAMP at midnight.
    if type(v).__name__ == "Timestamp":  # pandas, without importing it here
        v = v.to_pydatetime()
        if v.time() == _dt.time():
            return v.date().isoformat()
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # full shortest-round-trip repr: stricter than any driver hash —
        # if this matches, the doubles are bit-identical across engines
        return repr(v)
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        v = int(v)
    # tag the rest (ints, decimals, nested values): the driver hashes 123
    # and '123' differently, so a string must never equal a number here
    return "n:" + str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


def fetch_driver_canon(sdf, con, sql):
    """Reproduce the DRIVER's fetch path instead of the strict one.

    The default verifier fetches both engines row-wise (collect/fetchall),
    which preserves exact Python int/float types. A harness that instead
    pulls results through pandas/Arrow inherits dtype coercions — the one
    that mattered in round 4's diagnosis: DuckDB `sum(BIGINT)` returns
    HUGEINT, and `.fetchdf()` coerces HUGEINT to float64 (or object),
    so an all-integer column can hash-mismatch Spark's int64 while every
    value is numerically identical. This mode fetches Spark via
    .toPandas() and DuckDB via .fetchdf() and canonicalizes the resulting
    *pandas* values, so that class of divergence reproduces locally.
    """
    spdf = sdf.toPandas()
    ddf = con.execute(sql).fetchdf()
    return (
        list(spdf.columns),
        [tuple(r) for r in spdf.itertuples(index=False, name=None)],
        list(ddf.columns),
        [tuple(r) for r in ddf.itertuples(index=False, name=None)],
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.001")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--show-diff", type=int, default=3)
    ap.add_argument(
        "--driver-canon",
        action="store_true",
        help="fetch through pandas/Arrow like the driver harness does, so "
        "dtype-coercion divergences (HUGEINT->float64 etc.) reproduce",
    )
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="run under a BARE SparkSession (no session.py confs) — the "
        "driver's session shape. Catches queries whose correctness depends "
        "on a tuned conf (the round-6 driver-red class: "
        "spark.sql.python.filterPushdown.enabled, UTC session timezone, "
        "warehouse dir).",
    )
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"

    import __spark_entry__ as entry

    if args.vanilla:
        # The driver builds its own session with default confs; mimic that
        # exactly: master + nothing else (UI off only to avoid port races
        # with a concurrently-running tuned session — it carries no SQL
        # semantics).
        import os

        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        print(f"[vanilla session] timeZone={spark.conf.get('spark.sql.session.timeZone')}"
              f" filterPushdown={spark.conf.get('spark.sql.python.filterPushdown.enabled')}")
    else:
        from kafka_streams_and_ktable_example_spark.session import get_spark

        spark = get_spark("verify_local")
    qs = entry.queries()
    oracles = entry.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    names = args.only or list(qs)
    n_pass = n_fail = n_weak = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            if not args.driver_canon:
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            if args.driver_canon:
                srows = sdf.collect()
            print(f"weak  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_weak += 1
            continue
        try:
            if args.driver_canon:
                scols, srows, dcols, drows = fetch_driver_canon(
                    sdf, con, oracles[name]
                )
            else:
                r = con.execute(oracles[name])
                dcols = [d[0] for d in r.description]
                drows = r.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: engine error: {e}")
            n_fail += 1
            continue
        sc, sr = canon_rows(scols, srows)
        dc, dr = canon_rows(dcols, drows)
        ok = True
        if sc != dc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={dc}")
            ok = False
        elif len(sr) != len(dr):
            print(f"FAIL  {name}: rowcount spark={len(sr)} duck={len(dr)}")
            ok = False
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][: args.show_diff]
            extra_s = [r_ for r_ in sr if r_ not in set(dr)][: args.show_diff]
            print(f"FAIL  {name}: values differ; first aligned diffs: {diffs}")
            if extra_s:
                print(f"      spark-only rows: {extra_s}")
            ok = False
        if ok:
            print(f"pass  {name} ({len(sr)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1

    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} FAIL at sf{args.sf}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
