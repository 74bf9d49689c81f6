"""Parquet table loaders for the driver-provided synthetic tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under the sf dir.

Scans are plain ``spark.read.parquet`` so Catalyst predicate pushdown and
column pruning reach the parquet reader (verify with
``df.explain("formatted")`` — look for PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: path -> observed StructType. Schema inference reads parquet footers on
#: the DRIVER on every spark.read.parquet call (~100 ms for lineitem, per
#: call, inside any timed window that builds the plan); the testdata and
#: replica tables are immutable, so one inference per path is enough and
#: subsequent loads pass the schema explicitly (~20 ms). StructType is
#: session-independent — safe across session restarts in tests.
_SCHEMA_CACHE: dict[str, object] = {}

#: (session id, path) -> DataFrame handle. Even WITH the schema cache,
#: each spark.read.schema(...).parquet(path) costs 2-3 py4j round trips —
#: measured ~16 ms apiece on this box (r10: the headline set makes ~28
#: load_table calls per bench pass, ~0.45 s of pure driver latency inside
#: the timed window). A DataFrame is an immutable logical-plan handle, so
#: reusing it is plan-construction reuse, NOT result caching: nothing is
#: persisted, every action still scans the parquet. Keyed on the session
#: object's id so test-suite session restarts never leak a frame across
#: JVMs; keyed on path so scale sweeps in one session stay distinct.
_FRAME_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def events_schema_and_ts_normalizer(spark: SparkSession, path: str):
    """Observed parquet schema for events + a fn normalizing ts to TimestampType.

    Some driver testdata generations store ts as TIMESTAMP(NANOS)
    (pandas-written), which Spark's parquet reader surfaces as long under
    legacy.parquet.nanosAsLong; others store TIMESTAMP(MICROS), which Spark
    reads as TIMESTAMP_NTZ. Adapt on the observed schema so both generations
    load identically — for batch reads AND file-source streams (which need
    an explicit schema and therefore must match the file's physical type).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if path not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[path] = spark.read.parquet(path).schema
    schema = _SCHEMA_CACHE[path]
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):

        def norm(df: DataFrame) -> DataFrame:
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    elif isinstance(ts_type, T.TimestampNTZType):

        def norm(df: DataFrame) -> DataFrame:
            return df.withColumn("ts", F.col("ts").cast("timestamp"))

    else:

        def norm(df: DataFrame) -> DataFrame:
            return df

    return schema, norm


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (id(spark), path)
    hit = _FRAME_CACHE.get(key)
    # the cached entry pins the session object, so a matching id() always
    # means the same live session (ids recycle only after GC). Contract:
    # a table path is immutable once read (testdata is static; replica
    # fixtures are mtime-content-addressed dirs), so reusing the handle —
    # including its file listing — is plan-construction reuse only.
    if hit is not None and hit[0] is spark:
        return hit[1]
    if len(_FRAME_CACHE) >= 256:
        # bound the cache across session restarts (long pytest runs):
        # drop entries pinned to sessions other than the caller's so dead
        # sessions and their py4j-backed frames become collectable
        for k in [k for k, v in _FRAME_CACHE.items() if v[0] is not spark]:
            del _FRAME_CACHE[k]
    if name == "events":
        # events needs the legacy-nanos conf set BEFORE its scan plans,
        # and its ts normalizer — schema caching happens inside
        schema, norm = events_schema_and_ts_normalizer(spark, path)
        df = norm(spark.read.schema(schema).parquet(path))
    else:
        if path not in _SCHEMA_CACHE:
            _SCHEMA_CACHE[path] = spark.read.parquet(path).schema
        df = spark.read.schema(_SCHEMA_CACHE[path]).parquet(path)
    _FRAME_CACHE[key] = (spark, df)
    return df


def register_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register each table as a temp view so queries can use spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
