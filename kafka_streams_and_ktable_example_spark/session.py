"""SparkSession factory.

Local harness runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM). The config here is chosen to also be the right *shape* for a
large cluster run: AQE on (runtime re-plan, skew-join handling, partition
coalescing), Arrow on (vectorized Python interop), UTC session timezone
(parity with the DuckDB oracle, which is UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Driver heap when $SPARK_GRAFT_DRIVER_MEM is unset: half the
    machine's physical RAM, 1g to 48g. A fixed 48g let the heap outgrow a
    small machine's RAM before G1 collected, and the kernel killed the
    JVM."""
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(48, half_gib))}g"


# --- query-scratch lifecycle -------------------------------------------------
# Some plans (graph_edge_triangle_support's K-pass close) must write
# intermediate parquet OUTSIDE Spark's managed storage: the returned
# DataFrame reads that scratch lazily, so the query itself can never
# delete it. tools/scale_sweep.py routes it under a per-run
# SPARK_LOCAL_DIRS it removes at exit, but ad-hoc sessions (bench.py,
# verify_local.py, a user REPL) would leak GBs of tri_kpass_* dirs in
# /tmp per invocation at replica scale (ADVICE r9). Plans register
# their scratch here; a process-exit hook removes whatever is left.
# atexit (not a SparkContext-stop listener) because it fires for EVERY
# session shape — including the driver's vanilla session, which never
# touches this module's get_spark().
_SCRATCH_DIRS: set[str] = set()
_SCRATCH_ATEXIT_REGISTERED = False


def register_scratch_dir(path: str) -> str:
    """Track a plan-created scratch dir for cleanup at process exit.

    Returns ``path`` so call sites can register inline. Removal is
    idempotent (``ignore_errors``) — harnesses that clean their own
    scratch first (scale_sweep's SPARK_LOCAL_DIRS teardown) stay safe.
    """
    global _SCRATCH_ATEXIT_REGISTERED
    _SCRATCH_DIRS.add(path)
    if not _SCRATCH_ATEXIT_REGISTERED:
        import atexit

        atexit.register(cleanup_scratch_dirs)
        _SCRATCH_ATEXIT_REGISTERED = True
    return path


def cleanup_scratch_dirs() -> None:
    """Remove every registered scratch dir. Safe to call any time the
    registered frames are no longer needed (tests call it directly)."""
    import shutil

    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """mkdtemp + cleanup registration, the standard way for a plan to
    allocate run-scoped scratch (changelog replay chunks, roundtrip
    staging, checkpoints). Lands inside ``SPARK_LOCAL_DIRS`` when a
    harness provides one — sweep runners remove that root at exit,
    failures included — else the default tmp dir; either way the dir is
    registered for process-exit removal, so replica-scale runs through
    bench.py / verify_local.py / ad-hoc sessions stop accreting scratch
    on the box whose disk exhaustion caused the r8/r9 sweep FAILs."""
    import tempfile

    d = (os.environ.get("SPARK_LOCAL_DIRS") or "").split(",")[0] or None
    return register_scratch_dir(tempfile.mkdtemp(prefix=prefix, dir=d))


# ~1 MB of parquet-on-disk per initial shuffle partition. The sizing must
# absorb JOIN FAN-OUT, not just compression: snappy parquet expands ~4-8x
# into rows, and a multi-join spine (q9: lineitem x part x supplier x
# orders) multiplies shuffled bytes several times more. Measured: at the
# 10x replica (~170 MB parquet) 32 initial partitions put q9 at 25 s
# (spilling sorts) while 170-256 run it at ~2 s; at sf0.1 (17 MB) the
# core-count floor keeps the r1-era latency. 1 MB/partition reproduces
# both endpoints: sf0.1 -> floor(32), 10x -> ~170, 100x -> cap.
_TARGET_PARQUET_BYTES_PER_PARTITION = 1 * 1024 * 1024


def input_bytes(sf_dir: str) -> int:
    """Total on-disk bytes of the scale factor's parquet tables."""
    total = 0
    try:
        for name in os.listdir(sf_dir):
            p = os.path.join(sf_dir, name)
            if name.endswith(".parquet"):
                if os.path.isdir(p):  # partitioned/replica layout
                    for root, _dirs, files in os.walk(p):
                        total += sum(
                            os.path.getsize(os.path.join(root, f)) for f in files
                        )
                else:
                    total += os.path.getsize(p)
    except OSError:
        return 0
    return total


def tuned_initial_partitions(sf_dir: str, cpus: int | None = None) -> int:
    """Input-size-aware AQE ``initialPartitionNum``.

    Round 3 pinned it at 8x cores: right at the 60M-row 100x replica
    (sort spills gone, q9 149 -> 12 s) but a flat ~1.3x latency tax on
    every sf0.1 query (256 tasks per shuffle for ~100 MB of input,
    BENCH_r03 vs r01). The correct number tracks the INPUT: start wide
    enough that a shuffle partition holds ~64 MB pre-coalesce, floor at
    the core count (full parallelism at tiny inputs), cap at 16x cores
    (AQE coalescing makes the top end cheap, but task-launch overhead is
    real). On a 1000-executor cluster the same formula lands in the
    thousands, which is what a 100 TB shuffle wants.
    """
    cpus = cpus or default_parallelism()
    nbytes = input_bytes(sf_dir)
    if nbytes <= 0:
        return cpus * 8  # unknown input: the scale-safe round-3 default
    want = (nbytes + _TARGET_PARQUET_BYTES_PER_PARTITION - 1) \
        // _TARGET_PARQUET_BYTES_PER_PARTITION
    return int(max(cpus, min(cpus * 16, want)))


def tune_for_input(spark: SparkSession, sf_dir: str) -> int:
    """Re-point AQE's initial shuffle width at a new input scale.

    ``initialPartitionNum`` is a runtime SQL conf, so benchmarks sweeping
    several scale factors in one session call this between scales.
    """
    n = tuned_initial_partitions(sf_dir)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(n)
    )
    return n


def force(df: DataFrame) -> None:
    """Execute ``df`` in full through the noop sink, collecting nothing.

    Falls back to ``collect()`` ONLY for frames the noop sink cannot plan
    (an ``AnalysisException`` at planning time). A runtime job failure
    propagates: retrying it through ``collect()`` would run the whole
    query a second time (the r8 triangle 100x disk-fill ran twice
    back-to-back because a bare ``except`` swallowed the first failure).
    """
    try:
        df.write.mode("overwrite").format("noop").save()
    except AnalysisException:
        df.collect()


def get_spark(app_name: str = "kafka_streams_and_ktable_example_spark") -> SparkSession:
    """Build (or return) the shared SparkSession.

    Notes for 100 TB scale: everything configured here is declarative and
    cluster-agnostic — shuffle partition count is the only local-mode
    number, and AQE coalescing makes it an upper bound rather than a fixed
    fan-out.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes the real fan-out: shuffles START wide and coalesce
        # down to ~64 MB partitions, so 100x-replica joins keep
        # partitions spill-free — the same setting a 1000-executor
        # cluster wants (initialPartitionNum high, AQE right-sizes).
        # Without it, shuffle.partitions=32 put ~1 GB per partition at
        # the 60M-row replica and sort spills dominated the join-heavy
        # queries (SCALING.md records the before/after). The width is
        # INPUT-SIZE-AWARE (tuned_initial_partitions): a fixed 8x cores
        # taxed every sf0.1 query ~1.3x for nothing (BENCH_r03 vs r01).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(
                tuned_initial_partitions(
                    os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
                    cpus,
                )
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (Spark 4.1, off by default):
        # lets connectors consume scan predicates reader-side
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # bucketed-table materialization (operators/bucketed.py) needs a
        # writable warehouse; keep it out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
