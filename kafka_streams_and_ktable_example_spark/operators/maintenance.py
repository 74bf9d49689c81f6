"""Table maintenance: Z-order layout, copy-on-write merge, file manifests
and versioned snapshots.

The reference has no storage layer at all (its state lives in Kafka
Streams' RocksDB stores, `kafka_streams.clj:64,80`); on Spark the
equivalent operational concern is parquet table hygiene: how a table is
laid out for skip-scans, how it is updated in place and how a
multi-table version is published atomically — the OPTIMIZE / MERGE /
VACUUM of Delta/Iceberg, expressed on plain parquet.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def zorder_value(cols: list, n_bits: int = 8, cuts_per_col: list | None = None):
    """Morton (Z-order) interleave expression over up to 4 numeric columns.

    Each column is ranked into 2**n_bits range buckets (approx-percentile
    cut points — placement only, results never depend on them), then the
    bucket ids' bits are interleaved: bit i of column j lands at position
    i * n_cols + j. Rows close in Z-value are close in EVERY clustered
    dimension, so after a repartitionByRange + sortWithinPartitions on
    this value, parquet row-group min/max stats are tight on all the
    clustered columns at once — the multi-column skip-scan layout
    (Delta/Iceberg's OPTIMIZE ZORDER BY, on plain parquet).

    Returns (zorder Column, bucket Columns) given per-column cut lists.
    """
    from pyspark.sql import functions as F

    from .ranking import _coarse_bucket

    n_cols = len(cols)
    buckets = []
    for j, c in enumerate(cols):
        b = _coarse_bucket(c, cuts_per_col[j], True).cast("long")
        # normalize to the full n_bits width: a low-cardinality column
        # (fewer cut points than 2**n_bits) would otherwise occupy only
        # the LOW bits of the interleave and the sort would ignore it —
        # every dimension's most-significant bit must land in the z
        # value's top bit group
        n_buckets_j = len(cuts_per_col[j]) + 1
        if n_buckets_j < 2**n_bits:
            b = F.floor(b * (2**n_bits) / n_buckets_j).cast("long")
        buckets.append(b)
    z = F.lit(0).cast("long")
    for bit in range(n_bits):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * n_cols + j,
            )
    return z, buckets


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list,
    n_bits: int = 8,
    n_files: int = 8,
) -> str:
    """Materialize ``df`` Z-ordered by ``cols``: range-partitioned and
    sorted by the interleaved value, so every output file/row-group covers
    a small hyper-rectangle of the clustered space."""
    from pyspark.sql import functions as F

    from .ranking import approx_cut_points

    n_buckets = 2**n_bits
    cuts = [approx_cut_points(df, c, n_buckets) for c in cols]
    z, _ = zorder_value(cols, n_bits, cuts)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def cow_merge(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
    tombstone_col: str = "_tombstone",
) -> dict:
    """Copy-on-write MERGE on hive-partitioned plain parquet — the
    Delta/Iceberg ``MERGE INTO`` expressed with nothing but directory swaps.

    Semantics: rows in ``updates`` with ``tombstone_col`` true DELETE the
    matching base row; all other update rows UPSERT (replace-or-insert by
    ``key``). Only partitions named by the updates are ever read or
    rewritten: the touched partition values (dimension-scale — the same
    metadata a table format keeps in its manifest) drive both the
    partition-pruned base scan and the post-write directory swaps, so at
    100 TB a merge touching one day rewrites one day, not the table. The
    rewrite goes to a sibling temp dir first and each touched partition
    directory is swapped by rename — readers never see a half-merged
    partition. Untouched partition directories keep their very inodes
    (asserted in tests/test_maintenance_cow_merge.py).
    """
    from pyspark.sql import functions as F

    touched = [
        r[0]
        for r in updates.select(partition_col).distinct().collect()
    ]
    base = spark.read.parquet(base_path)
    data_cols = [c for c in base.columns]
    live = base.where(F.col(partition_col).isin(touched))
    survivors = live.join(
        updates.select(key).distinct(), key, "left_anti"
    )
    upserts = updates.where(~F.col(tombstone_col)).select(*data_cols)
    merged = survivors.select(*data_cols).unionByName(upserts)

    tmp = tempfile.mkdtemp(
        prefix="cow_merge_", dir=os.path.dirname(base_path.rstrip("/"))
    )
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)

    # Swap the partition directories Spark actually wrote (their names
    # carry Spark's own value escaping — never re-derive them); a touched
    # value with NO output dir means every row of that partition was
    # deleted, so its base dir (found by the same written-name convention
    # from a probe listing) is removed.
    written = {
        d
        for d in os.listdir(tmp)
        if d.startswith(f"{partition_col}=")
    }
    swapped = []
    for part in sorted(written):
        src = os.path.join(tmp, part)
        dst = os.path.join(base_path, part)
        old = dst + ".old"
        if os.path.exists(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        if os.path.exists(old):
            shutil.rmtree(old)
        swapped.append(part)
    if len(written) < len(touched):
        # fully-deleted partitions: their base dirs are the touched ones
        # not re-written; base dir names come from listing base_path
        survivors_by_name = written
        for d in os.listdir(base_path):
            if (
                d.startswith(f"{partition_col}=")
                and d not in survivors_by_name
                and d.split("=", 1)[1] in {str(v) for v in touched}
            ):
                shutil.rmtree(os.path.join(base_path, d))
                swapped.append(d + " (dropped)")
    shutil.rmtree(tmp)
    return {"touched_partitions": swapped}


def file_manifest(path: str, column: str) -> list:
    """(file, min, max) of ``column`` per parquet FILE — the manifest a
    table format (Iceberg/Delta) keeps so planners can skip whole files
    without opening them. Footer-only reads at manifest scale (one
    metadata fetch per file, no data IO); on a cluster this list lives in
    the catalog, not on the driver."""
    import pyarrow.parquet as pq

    out = []
    for fname in sorted(os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fname)).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        out.append((os.path.join(path, fname), lo, hi))
    return out


def prune_files(manifest: list, lo, hi) -> list:
    """Files whose [min, max] interval intersects [lo, hi] — the file-skip
    decision a manifest-driven planner makes before any scan task
    launches."""
    return [
        f
        for f, mn, mx in manifest
        if mn is not None and mx is not None and mx >= lo and mn <= hi
    ]


def publish_snapshot(
    spark: SparkSession, root: str, tables: dict
) -> int:
    """Atomic MULTI-TABLE publish — the cross-table transaction a plain
    object store can actually give you: every table of the new version is
    written under ``root/v<N>/<name>`` first (invisible to readers), then
    ONE pointer file (``root/_CURRENT``) is swapped by rename. Readers
    resolve the pointer before touching any table, so they see version N
    entirely or version N-1 entirely — never a mix — and historical
    versions remain addressable for time travel until vacuumed. This is
    the snapshot-isolation core of every table format, reduced to its
    two primitives: immutable version directories + an atomic pointer.

    Returns the published version number.
    """
    cur = os.path.join(root, "_CURRENT")
    version = current_version(root) + 1
    vdir = os.path.join(root, f"v{version}")
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(vdir, name))
    tmp = cur + f".tmp-{version}"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, cur)  # atomic on POSIX
    return version


def current_version(root: str) -> int:
    """Version the ``_CURRENT`` pointer names; 0 if never published."""
    try:
        with open(os.path.join(root, "_CURRENT")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return 0


def read_snapshot(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> DataFrame:
    """Read table ``name`` at ``version`` (default: the current pointer)."""
    v = current_version(root) if version is None else version
    return spark.read.parquet(os.path.join(root, f"v{v}", name))


def vacuum_versions(root: str, retain: int = 2) -> list:
    """Expire old snapshot versions — the VACUUM half of the versioned-
    publish transaction story (`publish_snapshot`): delete every version
    directory older than the newest ``retain`` versions, never touching
    the ``_CURRENT`` pointer's target. Time travel keeps working within
    the retention window; storage stops growing without bound.

    Returns the version numbers removed. Safety order matters: the
    pointer is resolved FIRST, then only strictly-older directories go —
    a concurrent reader that resolved the pointer before the vacuum
    still reads a fully-intact version (readers inside the retention
    window are never broken; readers pinned to an expired version get a
    clean missing-directory error, the same contract as Delta/Iceberg
    VACUUM).
    """
    cur = current_version(root)
    cutoff = cur - retain + 1
    removed = []
    for entry in sorted(os.listdir(root)):
        if not entry.startswith("v"):
            continue
        try:
            v = int(entry[1:])
        except ValueError:
            continue
        if v < cutoff and v != cur:
            shutil.rmtree(os.path.join(root, entry))
            removed.append(v)
    return removed
