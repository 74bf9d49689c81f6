"""KTable semantics on Spark — the reference's core operator set (SURVEY §2 Table A).

The reference maintains, over an upsert/delete changelog keyed by
``client:::ticker``, the materialized view::

    SELECT client, collect_set(id) FROM latest_snapshot
    WHERE exchange = 'NASDAQ' GROUP BY client

where a group whose set would be empty is absent from the view
(`our-service/src/our_service/kafka_streams.clj:60-89`). Per SURVEY §4.3,
snapshot-recompute over the latest-per-key state is semantically identical
to the reference's incremental adder/subtractor reduce
(`kafka_streams.clj:72-79`), because the aggregate is a pure function of
the current snapshot.

Scale notes (100 TB): ``compact`` (and so ``latest_snapshot``) uses a
``max_by`` aggregation rather than a window + row_number. Both shuffle once
by key, but the aggregate form gets map-side partial aggregation (each
input partition pre-reduces to at most one row per key before the
exchange) and avoids the full sort a window requires — at 100 TB of
changelog the shuffle volume is bounded by |distinct keys|, not |records|.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def compact(changelog: DataFrame) -> DataFrame:
    """Latest record per key, tombstones RETAINED (unlike latest_snapshot).

    This is Kafka log compaction as an aggregation: keeping the tombstone
    marker lets a later batch's stale record (offset below the tombstone's)
    lose the max_by race, so out-of-order delivery across batches stays
    correct.
    """
    # expr-string aggregates: same tree, ~8 fewer py4j round trips (~6 ms
    # each) per consumer build than the Column form
    return changelog.groupBy("key").agg(
        F.expr("max_by(`value`, `offset`) AS `value`"),
        F.expr("max(`offset`) AS `offset`"),
    )


def compact_flat(df: DataFrame, payload_cols: list) -> DataFrame:
    """``compact`` over flat columns: the latest ``payload_cols`` and
    ``tombstone`` per key (tombstones retained), plus the max offset."""
    packed = F.max_by(F.struct(*payload_cols, "tombstone"), "offset")
    return (
        df.groupBy("key")
        .agg(packed.alias("p"), F.max("offset").alias("offset"))
        .select("key", "p.*", "offset")
    )


def latest_snapshot(changelog: DataFrame) -> DataFrame:
    """O1 — changelog → table: latest value per key, tombstones dropped.

    Mirrors `KStreamBuilder.table` (`kafka_streams.clj:64`): the compacted
    topic's latest-offset-wins rule, with a null value deleting the key
    (`kafka_streams.clj:21-26`). Returns one row per live key with the
    value struct's fields flattened alongside the key.
    """
    live = compact(changelog).where("`value` IS NOT NULL")
    return live.select("key", "offset", "value.*")


def grouped_reduce_view(
    snapshot: DataFrame,
    predicate: Optional[Column | str],
    group_col: str,
    collect_col: str,
    set_col: str = "positions",
) -> DataFrame:
    """O2–O4 — filter → re-key groupBy → set reduce, on a snapshot.

    - filter: KTable.filter with retraction semantics
      (`kafka_streams.clj:65-67`) — free under snapshot-recompute since a
      row that stops matching simply isn't in the recomputed snapshot.
    - groupBy: the re-keying projection (`kafka_streams.clj:68-71`); the
      Spark shuffle IS the reference's internal repartition topic.
    - collect_set: the adder/subtractor set reduce (`kafka_streams.clj:72-80`);
      a group with no surviving rows vanishes from the grouped aggregate,
      reproducing the nil-deletes-row rule (`kafka_streams.clj:77-79`).
    """
    filtered = snapshot.where(predicate) if predicate is not None else snapshot
    return filtered.groupBy(group_col).agg(
        F.expr(f"sort_array(collect_set(`{collect_col}`)) AS `{set_col}`")
    )


def shareholders_view(changelog: DataFrame) -> DataFrame:
    """The reference's full topology (`kafka_streams.clj:60-81`) in one call.

    changelog(key, value struct{client,id,ticker,exchange,amount}, offset)
    → view(client, positions array<string>) for the NASDAQ positions.
    """
    return grouped_reduce_view(
        latest_snapshot(changelog),
        predicate="exchange = 'NASDAQ'",
        group_col="client",
        collect_col="id",
    )


def positions_csv(view: DataFrame) -> DataFrame:
    """``shareholders_view`` → (client, positions string): the registry's
    set-valued encoding, the sorted set comma-joined."""
    return view.selectExpr("client", "concat_ws(',', positions) AS positions")


def scan_view(view: DataFrame) -> list[tuple]:
    """O6 — point-in-time full scan of the view (`kafka_streams.clj:83-89`).

    The reference returns [{:key k :value v} ...]; here: sorted python list
    of (group, sorted positions) for assertions. Tests-only — production
    access is spark.sql over the registered view.
    """
    rows = view.collect()
    return sorted((r[0], list(r[1])) for r in rows)


def snapshot_asof(changelog: DataFrame, max_offset) -> DataFrame:
    """Point-in-time KTable: the latest-per-key live snapshot as of a log
    position — time travel over the changelog. The reference can only scan
    the CURRENT store state (`kafka_streams.clj:83-89`); retaining the log
    makes any historical snapshot one predicate away. The offset filter
    pushes to the parquet scan, so an old snapshot reads less, not more.

    ``max_offset`` may be a literal or a 1-row/1-col DataFrame (computed
    cut), in which case it is broadcast and applied as a cross-join filter.
    """
    if isinstance(max_offset, DataFrame):
        cut_col = max_offset.columns[0]
        filtered = changelog.crossJoin(F.broadcast(max_offset)).where(
            F.col("offset") <= F.col(cut_col)
        )
        return latest_snapshot(filtered.select(*changelog.columns))
    return latest_snapshot(changelog.where(F.col("offset") <= F.lit(max_offset)))


def snapshot_diff(
    old_snap: DataFrame, new_snap: DataFrame, key: str, value_cols: list[str]
) -> DataFrame:
    """Snapshot-to-snapshot CDC diff: given two materialized KTable
    snapshots (e.g. two ``snapshot_asof`` cuts), emit one row per changed
    key with ``change_type`` insert / update / delete plus the old and new
    value columns. Unchanged keys produce no row.

    This is the batch analog of replaying the changelog between two
    offsets — the reference can only observe its per-record print trace
    (`kafka_streams.clj:94`); diffing snapshots reconstructs the same
    information set-wise. One full-outer join hash-partitioned on the key;
    the change filter uses null-safe inequality so NULL-valued columns
    diff correctly. At 100 TB both sides shuffle once on the key — or not
    at all when both snapshots are bucketed on it.
    """
    o = old_snap.select(
        F.col(key).alias("_ok"), *[F.col(c).alias(f"old_{c}") for c in value_cols]
    )
    n = new_snap.select(
        F.col(key).alias("_nk"), *[F.col(c).alias(f"new_{c}") for c in value_cols]
    )
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    return (
        o.join(n, o["_ok"] == n["_nk"], "full_outer")
        .where(F.col("_ok").isNull() | F.col("_nk").isNull() | changed)
        .select(
            F.coalesce("_ok", "_nk").alias(key),
            F.when(F.col("_ok").isNull(), "insert")
            .when(F.col("_nk").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            *[F.col(f"old_{c}") for c in value_cols],
            *[F.col(f"new_{c}") for c in value_cols],
        )
    )


def version_history(changelog: DataFrame, value_cols: list[str]) -> DataFrame:
    """SCD2-style version table from the changelog: every non-tombstone
    record becomes a version row with ``[valid_from, valid_to)`` offset
    validity — ``valid_to`` is the next record's offset for the key (a
    newer version or a tombstone), null while current.

    One shuffle by key + one ordered window (lead). Tombstones close the
    last version's interval but emit no row of their own — the
    subtractor's nil analog (`kafka_streams.clj:77-79`) viewed
    temporally.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("key").orderBy("offset")
    return (
        changelog.withColumn("valid_to", F.lead("offset").over(w))
        .where(F.col("value").isNotNull())
        .select(
            "key",
            *[F.col(f"value.{c}").alias(c) for c in value_cols],
            F.col("offset").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
