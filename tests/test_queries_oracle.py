"""Registry-wide oracle gate: every query in plans.REGISTRY that declares an
oracle must match DuckDB bit-for-bit at sf0.001 (the driver does the same at
sf0.01 — tools/verify_local.py --sf 0.01 covers that scale pre-commit)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

from kafka_streams_and_ktable_example_spark import plans
from kafka_streams_and_ktable_example_spark.sources.tables import TABLE_NAMES

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from verify_local import canon_rows  # noqa: E402


def test_canon_tells_int_from_str():
    """The driver hashes 123 and '123' differently, so the canon must too."""
    assert canon_rows(["x"], [(123,)]) != canon_rows(["x"], [("123",)])


def test_canon_tells_date_from_midnight_timestamp():
    """Row-wise fetches return datetime.date for a DATE column from both
    engines, so a DATE must not match a TIMESTAMP at midnight; only the
    pandas fetch (a midnight Timestamp for DuckDB's DATE) folds the two."""
    import datetime as dt

    import pandas as pd

    day = dt.date(1995, 3, 15)
    midnight = dt.datetime(1995, 3, 15)
    assert canon_rows(["d"], [(day,)]) != canon_rows(["d"], [(midnight,)])
    assert canon_rows(["d"], [(day,)]) == canon_rows(["d"], [(pd.Timestamp(day),)])


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


ORACLE_QUERIES = sorted(n for n, q in plans.REGISTRY.items() if q.oracle)
WEAK_QUERIES = sorted(n for n, q in plans.REGISTRY.items() if not q.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, sf_dir, duck, name):
    q = plans.REGISTRY[name]
    sdf = q.spark(spark, sf_dir)
    sc, sr = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    res = duck.execute(q.oracle)
    dc, dr = canon_rows([d[0] for d in res.description], res.fetchall())
    assert sc == dc, f"{name}: column names differ"
    assert len(sr) == len(dr), f"{name}: row counts differ"
    assert sr == dr, f"{name}: values differ; first diff: " + str(
        next(((a, b) for a, b in zip(sr, dr) if a != b), None)
    )


@pytest.mark.parametrize("name", WEAK_QUERIES)
def test_weak_query_runs(spark, sf_dir, name):
    """Queries without an oracle must still run and return a stable schema."""
    q = plans.REGISTRY[name]
    sdf = q.spark(spark, sf_dir)
    assert sdf.columns
    assert sdf.count() >= 0


def test_no_pandas_coercion_hazard_types_in_oracles():
    """No oracle may surface HUGEINT/DECIMAL/UINT result columns: a harness
    that fetches DuckDB results through pandas/Arrow coerces those to
    float64/object and hash-mismatches Spark's int64 even when every value
    is identical (the round-4 pipeline_yield_funnel driver-red root cause).
    Resolves each oracle's schema with a LIMIT 0 wrap — no data scanned."""
    from oracle_type_audit import audit

    offenders, errors = audit()
    assert not errors, errors
    assert not offenders, offenders
