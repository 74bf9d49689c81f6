"""Streaming machinery: the reference's topology under Structured Streaming.

The reference consumes a compacted Kafka topic and maintains state
incrementally (`our-service/src/our_service/kafka_streams.clj:60-96`). Here
the same semantics run as a micro-batch pipeline:

    changelog stream → foreachBatch: compact(state ∪ batch) → snapshot store
                                                        ↓
                              view = filter + groupBy + collect_set (recompute)

Per SURVEY §4.3, snapshot-recompute of the grouped set view is semantically
identical to Kafka Streams' adder/subtractor maintenance, so per-batch
recompute over the maintained snapshot gives KTable correctness; the
changelog *compaction* (latest record per key, tombstones retained) is the
real incremental state.

Correctness contract (SURVEY §7.4): view contents at batch boundaries —
what the reference's interactive query observes — not the per-record change
trace (micro-batching legitimately conflates intra-batch updates; the
reference's cache=0 per-record emission is not promised).

Scale/production shape: state lives in memory between batches, with
parquet snapshot and delta files under it (stand-ins for a keyed Delta
MERGE on a cluster). Every job commits through ``IvmJob``: each table's
committed version is kept in memory (``localCheckpoint``), and an epoch's
files land in fresh ``<work_dir>/<table>/{snapshot,delta}/<version>/``
directories, one manifest naming them is published last with
``os.replace``, and only then is the in-memory version swapped and are
older files deleted — a crash at any point leaves a manifest naming
complete files, from which a fresh job rebuilds the tables. Every job
returns each table whole, as one query, and each table costs a commit two
Spark actions: materialize, then write. ``SetIvmJob`` keeps one
client-keyed table whose changed rows carry the version being committed,
so a batch writes only those rows as a keyed delta, and the whole table
every ``SNAPSHOT_EVERY`` versions; the other six jobs write every table
in full each batch. The checkpointed file
source replays an unfinished batch id with the same files, so a batch
whose (query id, epoch) the manifest already holds is skipped, and any
other batch is applied.

The machinery every streaming query in ``plans/`` runs on:

- sources: ``chunk_stream`` (a file stream reading one chunk file per
  micro-batch) over the files of ``write_changelog_chunks`` (an
  offset-ordered split) and ``append_replay_file`` (one frame appended as
  the next micro-batch); ``events_stream`` (events.parquet as a stream);
- runners: ``replay`` drives a foreachBatch function over
  ``chunk_stream`` at a small per-batch shuffle width; ``replay_changelog``
  replays a changelog through a new ``IvmJob``; ``drain`` runs a streaming
  frame into a memory sink at the same width and returns the sink's
  table;
- state: ``IvmJob`` and its jobs — ``ChangelogStreamJob`` (the
  reference's topology, run by ``run_shareholders_stream``),
  ``AggIvmJob``, ``JoinIvmJob``, ``StreamingLshDedupJob``,
  ``Scd2IvmJob``, ``SetIvmJob`` and ``CogroupIvmJob``.

Kafka wiring: swap the parquet file source for
``spark.readStream.format("kafka").option("subscribe", topic)`` and
``from_json(value)`` — the rest of the pipeline is source-agnostic
(`kafka_streams.clj:55` startingOffsets=earliest ≡
option("startingOffsets", "earliest")). Not exercised in this container
(no broker); the file source drives the identical code path.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..operators.ktable import compact, compact_flat, grouped_reduce_view
from ..session import scratch_dir
from ..sources.changelog import CHANGELOG_SCHEMA


_SMALL_SHUFFLE_KEYS = (
    "spark.sql.shuffle.partitions",
    # AQE's initial fan-out would otherwise override the low setting:
    # the session configures a wide initialPartitionNum for replica-scale
    # joins, which is pure scheduler overhead on tiny per-batch deltas
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
)


@contextlib.contextmanager
def small_shuffle(spark: SparkSession):
    """Pin per-batch shuffle fan-out (and AQE's initial fan-out) to 8 for a
    ``replay`` or ``drain``; the previous values come back on exit. A
    stateful query's shuffle width is its state-store task count per
    micro-batch, so a bare session's 200 would run 200 tasks a batch."""
    prev = {k: spark.conf.get(k, None) for k in _SMALL_SHUFFLE_KEYS}
    for k in _SMALL_SHUFFLE_KEYS:
        spark.conf.set(k, "8")
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: Versions divisible by this commit each delta table as a snapshot; the
#: versions between append one delta file per table.
SNAPSHOT_EVERY = 8


class IvmJob:
    """Base of the foreachBatch jobs: state tables under ``work_dir``,
    committed once per (query id, epoch), each table's committed version
    kept in memory between batches.

    A subclass implements ``update(batch_df) -> {table: DataFrame}`` over
    the tables it ``read``s, each table returned whole. ``DELTAS`` maps a
    table to its key columns; such a table also has an int ``_v`` column,
    the version that last wrote the row. ``update`` stamps every row it
    changes with ``_v = next_version`` and never drops a row (a key that
    leaves the table stays as a row its readers filter out), so the rows
    with ``_v = v`` are exactly version ``v``'s delta, and on rebuild they
    replace the rows with the same key.

    ``process_batch`` commits the result as version ``v``:

    - the new version of each table is materialized in memory
      (``localCheckpoint``, memory and disk, at most the default
      parallelism in partitions);
    - a whole table, and a delta table at every ``SNAPSHOT_EVERY``-th
      version, is written as ``<table>/snapshot/<v>/``; a delta table's
      other versions write only its ``_v = v`` rows, as one file in
      ``<table>/delta/<v>/``;
    - ``_manifest.json`` (version, commit key, and per table its schema,
      snapshot version and delta versions) is published with
      ``os.replace``;
    - only then does the new in-memory version replace the old one, whose
      cache is released, and are files the manifest no longer names
      deleted.

    A crash at any step leaves a manifest naming complete files. A fresh
    job rebuilds each table once, on first ``read``, from its snapshot and
    then its deltas in version order. A batch whose commit key the
    manifest already holds is skipped: Spark replays an unfinished batch
    id with the same files. The key's query id is the stream's (stable
    across restarts on one checkpoint) and None for a direct call, so a
    fresh stream's epoch 0 still applies after a direct epoch-0 call.

    A frame from ``read`` serves the in-memory version, so it is valid
    until the next commit or ``close``.
    """

    DELTAS: dict[str, list[str]] = {}

    def __init__(self, spark: SparkSession, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self._manifest_path = os.path.join(work_dir, "_manifest.json")
        self._cached: list[DataFrame] = []
        self._live: dict[str, DataFrame] = {}
        try:
            with open(self._manifest_path) as f:
                self.manifest = json.load(f)
        except FileNotFoundError:
            self.manifest = {"version": 0, "commit": None, "tables": {}}

    @property
    def next_version(self) -> int:
        """The version the next commit writes."""
        return self.manifest["version"] + 1

    def _dir(self, table: str, kind: str, version) -> str:
        return os.path.join(self.work_dir, table, kind, str(version))

    def read(self, table: str, schema) -> DataFrame:
        """The committed ``table``; an empty ``schema`` frame before any
        commit."""
        if table not in self._live:
            entry = self.manifest["tables"].get(table)
            if entry is None:
                return self.spark.createDataFrame([], schema)
            self._live[table] = self._materialize(self._rebuild(table, entry))
        return self._live[table]

    def _rebuild(self, table: str, entry: dict) -> DataFrame:
        """``table`` read back from its snapshot and deltas, with the
        schema recorded at commit (no schema-inference job)."""
        schema = StructType.fromJson(entry["schema"])
        if entry["snapshot"] is None:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(
                self._dir(table, "snapshot", entry["snapshot"])
            )
        for v in entry["deltas"]:
            delta = self.spark.read.schema(schema).parquet(
                self._dir(table, "delta", v)
            )
            df = self._apply(table, df, delta)
        return df

    def _apply(self, table: str, df: DataFrame, delta: DataFrame) -> DataFrame:
        keys = self.DELTAS[table]
        kept = df.join(F.broadcast(delta.select(*keys)), keys, "left_anti")
        return kept.unionByName(delta)

    def _materialize(self, df: DataFrame) -> DataFrame:
        """``df`` computed once into memory and disk, its lineage cut; a
        union grows the partition count, so it is bounded here."""
        n = self.spark.sparkContext.defaultParallelism
        return df.coalesce(n).localCheckpoint(eager=True)

    @staticmethod
    def _release(df: DataFrame) -> None:
        """Drop the blocks of a ``_materialize``d frame."""
        df._jdf.queryExecution().logical().rdd().unpersist(False)

    def _persist(self, df: DataFrame) -> DataFrame:
        """``df`` materialized for this batch; released once the batch
        commits."""
        self._cached.append(self._materialize(df))
        return self._cached[-1]

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        commit = [
            self.spark.sparkContext.getLocalProperty("sql.streaming.queryId"),
            epoch_id,
        ]
        if commit == self.manifest["commit"]:
            return
        version = self.next_version
        live, tables = {}, {}
        try:
            for name, df in self.update(batch_df).items():
                entry = self.manifest["tables"].get(
                    name, {"snapshot": None, "deltas": []}
                )
                live[name] = self._materialize(df)
                if name in self.DELTAS and version % SNAPSHOT_EVERY:
                    delta = live[name].where(F.col("_v") == version)
                    delta.coalesce(1).write.mode("overwrite").parquet(
                        self._dir(name, "delta", version)
                    )
                    entry = {**entry, "deltas": entry["deltas"] + [version]}
                else:
                    live[name].write.mode("overwrite").parquet(
                        self._dir(name, "snapshot", version)
                    )
                    entry = {"snapshot": version, "deltas": []}
                tables[name] = {**entry, "schema": df.schema.jsonValue()}
            manifest = {"version": version, "commit": commit, "tables": tables}
            with open(self._manifest_path + ".tmp", "w") as f:
                json.dump(manifest, f)
            os.replace(self._manifest_path + ".tmp", self._manifest_path)
            self.manifest = manifest
        except BaseException:
            for df in live.values():
                self._release(df)
            raise
        finally:
            while self._cached:
                self._release(self._cached.pop())
        for name, df in live.items():
            if name in self._live:
                self._release(self._live[name])
            self._live[name] = df
        for name, entry in tables.items():
            named = {f"snapshot/{entry['snapshot']}"}
            named.update(f"delta/{v}" for v in entry["deltas"])
            for kind in ("snapshot", "delta"):
                d = os.path.join(self.work_dir, name, kind)
                for v in os.listdir(d) if os.path.isdir(d) else ():
                    if f"{kind}/{v}" not in named:
                        shutil.rmtree(os.path.join(d, v), ignore_errors=True)

    def close(self) -> None:
        """Release the in-memory versions; a later ``read`` rebuilds from
        files."""
        while self._live:
            self._release(self._live.popitem()[1])


def chunk_stream(spark: SparkSession, chunk_dir: str, schema) -> DataFrame:
    """File stream over ``chunk_dir`` reading one chunk file per
    micro-batch. The file source takes files in (mtime, path) order, which
    ``write_changelog_chunks`` pins to chunk order."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )


def drain(df: DataFrame, mode: str, checkpoint: str | None = None) -> DataFrame:
    """Run the streaming ``df`` to completion into a memory sink — output
    mode ``mode``, availableNow trigger, checkpoint in ``checkpoint`` (a
    temporary one when None), small per-batch shuffle width — and return
    the sink's table."""
    name = f"drain_{uuid.uuid4().hex[:8]}"
    writer = df.writeStream.outputMode(mode).format("memory").queryName(name)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    with small_shuffle(df.sparkSession):
        writer.trigger(availableNow=True).start().awaitTermination()
    return df.sparkSession.table(name)


def replay(
    spark: SparkSession, chunk_dir: str, schema, process, work_dir: str
) -> None:
    """chunk_stream → foreachBatch(process) → availableNow at the small
    per-batch shuffle width; the checkpoint lives in ``work_dir``."""
    with small_shuffle(spark):
        (
            chunk_stream(spark, chunk_dir, schema)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def replay_changelog(
    spark: SparkSession, job_cls, changelog: DataFrame, n_chunks: int, name: str
) -> IvmJob:
    """Replay ``changelog`` through a new ``job_cls`` as ``n_chunks``
    offset-ordered micro-batches, chunk and state dirs from
    ``session.scratch_dir``; returns the job holding the final state."""
    chunk_dir = scratch_dir(f"{name}_chunks_")
    write_changelog_chunks(changelog, chunk_dir, n_chunks=n_chunks)
    job = job_cls(spark, scratch_dir(f"{name}_state_"))
    replay(spark, chunk_dir, changelog.schema, job.process_batch, job.work_dir)
    return job


class ChangelogStreamJob(IvmJob):
    """foreachBatch maintainer of a compacted snapshot + materialized view:
    each micro-batch, state ← compact(state ∪ batch)."""

    def update(self, batch_df: DataFrame) -> dict:
        state = self.read("state", CHANGELOG_SCHEMA)
        return {"state": compact(state.unionByName(batch_df))}

    def snapshot(self) -> DataFrame:
        """Live rows of the maintained state (tombstones dropped), value
        fields flattened — the O1 table."""
        st = self.read("state", CHANGELOG_SCHEMA).where(F.col("value").isNotNull())
        return st.select("key", "offset", "value.*")


def run_shareholders_stream(
    spark: SparkSession, changelog_dir: str, work_dir: str | None = None
) -> DataFrame:
    """Run the reference's full topology incrementally over a directory of
    changelog parquet chunk files (each file ≈ a Kafka micro-batch), then
    return the final materialized view (client, positions-array).

    Mirrors create-kafka-stream-topology + start (kafka_streams.clj:60-96):
    build is lazy, .start() executes, the view is queryable afterwards.
    """
    job = ChangelogStreamJob(spark, work_dir or scratch_dir("ktable_stream_"))
    replay(spark, changelog_dir, CHANGELOG_SCHEMA, job.process_batch, job.work_dir)
    return grouped_reduce_view(
        job.snapshot(),
        predicate=F.col("exchange") == "NASDAQ",
        group_col="client",
        collect_col="id",
        set_col="positions",
    )


def write_changelog_chunks(
    changelog: DataFrame, out_dir: str, n_chunks: int = 8
) -> str:
    """Split a changelog into offset-ordered chunk files so the file stream
    replays it as n_chunks micro-batches (earlier offsets first, like a
    Kafka topic replay). The file source replays in (mtime, path) order and
    the parallel write tasks finish in any order, so each file's mtime is
    pinned in chunk order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = changelog.agg(
        F.min("offset").alias("lo"), F.max("offset").alias("hi")
    ).collect()[0]
    lo, hi = bounds.lo, bounds.hi
    width = max(1, (hi - lo + n_chunks) // n_chunks)
    # ONE write job partitioned by chunk id (not n_chunks jobs each
    # re-deriving the changelog): the source plan runs once, each chunk
    # lands as chunk=<i>/part-*.parquet, then files move up flattened
    staging = os.path.join(out_dir, "_staging")
    chunk_id = F.least(
        F.floor((F.col("offset") - F.lit(lo)) / F.lit(width)),
        F.lit(n_chunks - 1),
    ).cast("int")
    (
        changelog.withColumn("chunk", chunk_id)
        .repartition("chunk")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(staging)
    )
    n_files = 0
    for i in range(n_chunks):
        d = os.path.join(staging, f"chunk={i}")
        if not os.path.isdir(d):
            continue
        for j, f in enumerate(sorted(os.listdir(d))):
            if f.endswith(".parquet"):
                dst = os.path.join(out_dir, f"{i:03d}-{j}.parquet")
                os.rename(os.path.join(d, f), dst)
                os.utime(dst, (1_600_000_000 + n_files,) * 2)
                n_files += 1
    shutil.rmtree(staging)
    return out_dir


def append_replay_file(df: DataFrame, chunk_dir: str) -> None:
    """Append ``df`` to ``chunk_dir`` as the next micro-batch: one parquet
    file whose mtime is pinned one second after the newest file already
    there, so ``chunk_stream`` replays it after them whatever the wall
    clock says."""
    os.makedirs(chunk_dir, exist_ok=True)
    files = [f for f in os.listdir(chunk_dir) if f.endswith(".parquet")]
    mtime = 1 + max(
        (os.path.getmtime(os.path.join(chunk_dir, f)) for f in files),
        default=1_600_000_000 - 1,
    )
    staging = os.path.join(chunk_dir, "_staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in sorted(os.listdir(staging)) if f.endswith(".parquet"))
    dst = os.path.join(chunk_dir, f"{len(files):03d}-append.parquet")
    os.rename(os.path.join(staging, part), dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(staging)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (ts normalized to TimestampType).

    The explicit stream schema must match the file's physical ts type, which
    differs across testdata generations (TIMESTAMP(NANOS) → long vs
    TIMESTAMP(MICROS) → TIMESTAMP_NTZ) — introspect the batch schema first.
    """
    from ..sources.tables import events_schema_and_ts_normalizer

    path = os.path.join(sf_dir, "events.parquet")
    schema, norm = events_schema_and_ts_normalizer(spark, path)
    if os.path.isdir(path):
        # Spark-written table (e.g. the 10x replica): already a directory
        # of part files — stream it directly. The symlink indirection
        # below would bury the part files one level deep, where the file
        # stream's directory listing never finds them (zero batches).
        return norm(spark.readStream.schema(schema).parquet(path))
    stream_dir = scratch_dir("events_stream_")
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    return norm(spark.readStream.schema(schema).parquet(stream_dir))


class AggIvmJob(IvmJob):
    """TRUE incremental view maintenance of a grouped aggregate — the
    literal adder/subtractor of `kafka_streams.clj:72-79`, applied to
    sum/count aggregates instead of sets, with NO per-batch recompute of
    the view.

    Two state tables:

    - ``compact_state``: latest record per key (tombstones retained) —
      consulted only to learn each changed key's PREVIOUS contribution;
    - ``agg_state``: (group, n_rows, total) — updated by folding in
      per-batch deltas: ``-old_contribution`` (subtractor) and
      ``+new_contribution`` (adder) per changed key. A group whose count
      reaches zero is dropped — the subtractor's nil-deletes-row rule.

    The deltas come from the changed keys alone, but every batch still
    rewrites both tables in full (parquet has no keyed in-place update; a
    keyed Delta MERGE on a cluster would rewrite only the touched files).
    Re-keying (a key's group column changing) is handled naturally: the
    subtract lands on the old group, the add on the new one.
    """

    AGG_SCHEMA = "o_custkey long, n_orders long, total_price double"

    def update(self, batch_df: DataFrame) -> dict:
        state = self.read("compact_state", batch_df.schema)
        agg = self.read("agg_state", self.AGG_SCHEMA)

        batch_keys = batch_df.select("key").distinct()
        # subtractor: the previous live contribution of every changed key
        neg = (
            state.join(batch_keys, "key", "left_semi")
            .where(F.col("value").isNotNull())
            .select(
                F.col("value.o_custkey").alias("o_custkey"),
                F.lit(-1).cast("long").alias("n_orders"),
                (-F.col("value.o_totalprice")).alias("total_price"),
            )
        )
        # adder: the new winning contribution (union-compact beats stale
        # batch records whose offset is below the stored one)
        merged = compact(state.unionByName(batch_df))
        pos = (
            merged.join(batch_keys, "key", "left_semi")
            .where(F.col("value").isNotNull())
            .select(
                F.col("value.o_custkey").alias("o_custkey"),
                F.lit(1).cast("long").alias("n_orders"),
                F.col("value.o_totalprice").alias("total_price"),
            )
        )
        new_agg = (
            agg.unionByName(neg)
            .unionByName(pos)
            .groupBy("o_custkey")
            .agg(
                F.sum("n_orders").alias("n_orders"),
                F.sum("total_price").alias("total_price"),
            )
            .where(F.col("n_orders") > 0)  # nil-deletes-row
        )
        return {"agg_state": new_agg, "compact_state": merged}

    def view(self) -> DataFrame:
        return self.read("agg_state", self.AGG_SCHEMA)


class JoinIvmJob(IvmJob):
    """TRUE incremental maintenance of a two-table JOIN view (delta-join)
    over a multiplexed CDC stream — the KTable-KTable join maintained the
    way Kafka Streams maintains it (per-record state lookups on the other
    side), generalized to micro-batch deltas:

        Δ(A ⋈ B) = ΔA ⋈ B_new  ∪  (A_new ∖ ΔA-keys) ⋈ ΔB

    Per batch, the stored view loses every row touching a changed key on
    either side and gains the two delta-join terms, so A ⋈ B is never
    recomputed; each of the three state tables (compacted A = orders,
    compacted B = customer, the join view) is still rewritten in full.
    On a cluster, A-state is partitioned by the join key (o_custkey) so
    the (A ∖ ΔA) ⋈ ΔB probe is a co-partitioned lookup, and the view is
    partitioned by the same key so a keyed Delta MERGE of the retract
    step prunes partitions.
    """

    A_SCHEMA = "key long, o_custkey long, o_totalprice double, tombstone boolean, offset long"
    B_SCHEMA = "key long, c_mktsegment string, tombstone boolean, offset long"
    VIEW_SCHEMA = (
        "o_orderkey long, o_custkey long, o_totalprice double, c_mktsegment string"
    )

    def update(self, batch_df: DataFrame) -> dict:
        # sever the streaming lineage: a streaming-sourced plan disables AQE
        # for every derived job, so the tiny per-batch deltas would shuffle
        # at the full static partition count. Materializing the delta as a
        # batch RDD gives everything downstream AQE's partition coalescing
        # (observed 10x on the 8-batch replay).
        batch_df = self._persist(batch_df)
        a_state = self.read("a_state", self.A_SCHEMA)
        b_state = self.read("b_state", self.B_SCHEMA)
        view = self.read("view_state", self.VIEW_SCHEMA)

        da = batch_df.where(F.col("src") == "o").select(
            "key", "o_custkey", "o_totalprice", "tombstone", "offset"
        )
        db = batch_df.where(F.col("src") == "c").select(
            "key", "c_mktsegment", "tombstone", "offset"
        )
        # materialize the compacted states: each feeds its own state AND
        # the delta-join terms AND the view — unmaterialized, the commit
        # re-runs the compaction lineage three times per batch
        a_new = self._persist(
            compact_flat(a_state.unionByName(da), ["o_custkey", "o_totalprice"])
        )
        b_new = self._persist(
            compact_flat(b_state.unionByName(db), ["c_mktsegment"])
        )

        a_keys = da.select("key").distinct()
        b_keys = db.select("key").distinct()
        a_live = a_new.where(~F.col("tombstone"))
        b_live = b_new.where(~F.col("tombstone")).select(
            F.col("key").alias("o_custkey"), "c_mktsegment"
        )

        # retract: drop every stored row touching a changed key on either side
        keep = view.join(
            a_keys.select(F.col("key").alias("o_orderkey")), "o_orderkey", "left_anti"
        ).join(b_keys.select(F.col("key").alias("o_custkey")), "o_custkey", "left_anti")
        # ΔA ⋈ B_new: changed orders against the full (compacted) customer side
        add_a = (
            a_live.join(a_keys, "key", "left_semi")
            .join(b_live, "o_custkey")
            .select(
                F.col("key").alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
                "c_mktsegment",
            )
        )
        # (A_new ∖ ΔA) ⋈ ΔB: unchanged orders re-joined only against changed
        # customers (semi-filter BEFORE the join — the probe cost scales with
        # |ΔB|'s key range, not |B|)
        add_b = (
            a_live.join(a_keys, "key", "left_anti")
            .join(b_live.join(b_keys.select(F.col("key").alias("o_custkey")), "o_custkey", "left_semi"), "o_custkey")
            .select(
                F.col("key").alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
                "c_mktsegment",
            )
        )
        # the three legs are map-only (broadcast semi/anti joins), so the
        # union's task count is the SUM of the legs' partitions; the commit
        # coalesces it back to the default parallelism
        new_view = (
            keep.select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
            .unionByName(add_a)
            .unionByName(add_b)
        )
        return {"view_state": new_view, "a_state": a_new, "b_state": b_new}

    def view_df(self) -> DataFrame:
        return self.read("view_state", self.VIEW_SCHEMA)


class StreamingLshDedupJob(IvmJob):
    """Incremental corpus dedup: each arriving micro-batch of documents is
    checked against the accumulated LSH band index and only novel docs
    survive — the streaming shape of MinHash-LSH dedup, where a 100 TB
    corpus is deduped as it is ingested instead of re-pairing the world
    per delivery.

    Drop rule: a doc is dropped iff ANY earlier doc (smaller doc_id within
    the batch, or anything already indexed) shares an LSH band. All seen
    docs' bands enter the index (kept or not), which makes the rule
    order-insensitive ("earlier" = doc_id, not arrival race) and exactly
    expressible in SQL — the oracle replays it as one NOT EXISTS.

    Retraction: a record with NULL text is a tombstone (the changelog
    convention everywhere in this repo — kafka_streams.clj treats a nil
    value as a delete). A tombstoned doc's bands are REMOVED from the
    index and the doc leaves the kept set, so it stops matching future
    candidates; a later re-add is evaluated fresh. Within one batch,
    deletes apply against prior state first, then the batch's upserts
    are processed — two anti-joins on doc_id, no extra shuffle shape.

    State: band index (doc_id, band_idx, band_hash) and the kept-doc set,
    both rewritten in full per batch. The probe is
    |batch bands| ⋈ index on (band_idx, band_hash) — an equi-join on the
    blocking key, never a doc-pair product; at scale the index is
    partitioned by band_hash so the probe is co-located.
    """

    IDX_SCHEMA = "doc_id long, band_idx int, band_hash string"
    KEPT_SCHEMA = "doc_id long, lang string"

    def update(self, batch_df: DataFrame) -> dict:
        from ..operators.dedup import lsh_bands, minhash_signatures

        batch_df = self._persist(batch_df)
        idx = self.read("band_index", self.IDX_SCHEMA)
        kept = self.read("kept", self.KEPT_SCHEMA)

        # tombstones first: retract deleted docs' bands + kept rows so they
        # stop matching future candidates and a re-add starts fresh
        dels = batch_df.where(F.col("text").isNull()).select("doc_id")
        idx = idx.join(dels, "doc_id", "left_anti")
        kept = kept.join(dels, "doc_id", "left_anti")
        batch_df = batch_df.where(F.col("text").isNotNull())

        bands_new = self._persist(lsh_bands(minhash_signatures(batch_df)))
        dup_vs_index = (
            bands_new.join(idx, ["band_idx", "band_hash"], "left_semi")
            .select("doc_id")
        )
        a = bands_new.select(
            F.col("doc_id").alias("later"), "band_idx", "band_hash"
        )
        b = bands_new.select(
            F.col("doc_id").alias("earlier"), "band_idx", "band_hash"
        )
        dup_intra = (
            a.join(b, ["band_idx", "band_hash"])
            .where(F.col("later") > F.col("earlier"))
            .select(F.col("later").alias("doc_id"))
        )
        dropped = dup_vs_index.unionByName(dup_intra).distinct()
        kept_batch = batch_df.select("doc_id", "lang").join(
            dropped, "doc_id", "left_anti"
        )
        new_kept = kept.unionByName(kept_batch)
        new_idx = idx.unionByName(
            bands_new.select("doc_id", "band_idx", "band_hash")
        )
        return {"kept": new_kept, "band_index": new_idx}

    def kept_df(self) -> DataFrame:
        return self.read("kept", self.KEPT_SCHEMA)


class Scd2IvmJob(IvmJob):
    """Incremental SCD2 (slowly-changing-dimension type 2) maintenance
    over a changelog replay — the temporal face of the KTable: where
    `ktable_version_history_scd2` rebuilds the full validity history in
    one batch window pass, this job maintains it per micro-batch, windowing
    only the batch and the open rows of changed keys:

    - each batch's records append NEW version rows;
    - a changed key's currently-OPEN row (valid_to null) is closed by the
      first new offset — done by replaying that one stored row through
      the same per-key lead() window as the batch records;
    - tombstones close intervals without opening one (the subtractor's
      nil at kafka_streams.clj:77-79, viewed temporally);
    - closed history rows pass through untouched, though the parquet
      table is rewritten in full each batch (at cluster scale the history
      partition is append-only and only the open-rows partition churns —
      the standard warehouse CDC-merge layout).

    Final state must equal the batch recompute, proving
    incremental ≡ recompute for the temporal view as well (SURVEY §4.3).
    """

    SCD_SCHEMA = (
        "key long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, valid_from long, valid_to long"
    )

    def update(self, batch_df: DataFrame) -> dict:
        from pyspark.sql import Window as W

        scd = self.view()
        keys = batch_df.select("key").distinct()
        is_open = F.col("valid_to").isNull()
        # rows the batch cannot touch: all closed history + open rows of
        # unchanged keys
        untouched = scd.where(~is_open).unionByName(
            scd.where(is_open).join(keys, "key", "left_anti")
        )
        # open rows of changed keys re-enter the window as pseudo-events
        # at their original valid_from; batch rows carry tombstone flags
        carried = (
            scd.where(is_open)
            .join(keys, "key", "left_semi")
            .select(
                "key",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                F.col("valid_from").alias("offset"),
                F.lit(False).alias("tombstone"),
            )
        )
        events = batch_df.select(
            "key",
            F.col("value.o_custkey").alias("o_custkey"),
            F.col("value.o_orderstatus").alias("o_orderstatus"),
            F.col("value.o_totalprice").alias("o_totalprice"),
            "offset",
            F.col("value").isNull().alias("tombstone"),
        )
        combined = carried.unionByName(events).dropDuplicates(
            ["key", "offset"]
        )
        w = W.partitionBy("key").orderBy("offset")
        versioned = (
            combined.withColumn("valid_to", F.lead("offset").over(w))
            .where(~F.col("tombstone"))
            .select(
                "key",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                F.col("offset").alias("valid_from"),
                "valid_to",
            )
        )
        return {"scd2_state": untouched.unionByName(versioned)}

    def view(self) -> DataFrame:
        return self.read("scd2_state", self.SCD_SCHEMA)


class SetIvmJob(IvmJob):
    """Incremental maintenance of the reference's SET-valued view: the
    per-client position set stored as a sorted array, rebuilt per
    micro-batch for the clients the batch touches only.

    ``client`` is the prefix of ``key``, so every record of a client lives
    in that client's row. State is one client-keyed table,
    ``compact_state``: per client, its visible ids (non-tombstone, NASDAQ)
    as a sorted ``positions`` array, its compacted changelog as
    ``records`` (latest record per key, tombstones retained), and ``_v``.
    A client whose positions empty keeps its row with an empty array, and
    the view reads ``size(positions) > 0`` (the subtractor's
    nil-deletes-row, kafka_streams.clj:77-79), so no row is ever deleted.

    ``update`` returns the new table as one query: the rows of clients the
    batch does not touch, unchanged, and the batch's clients recomputed.
    The two joins share one broadcast of the batch's clients. The
    recomputed side explodes those clients' records, adds the batch and
    goes through one ``repartition("client")``; grouping by (client, key)
    with ``max_by(value, offset)`` compacts them as ``compact`` does, and
    grouping the same partitions by client collects each client's
    positions and records, stamped ``_v`` with the version being
    committed. The table commits as a keyed delta (``IvmJob.DELTAS``): a
    batch writes only its clients' rows, and every ``SNAPSHOT_EVERY``
    versions the whole table. This is the set face of the IVM jobs,
    beside aggregate (AggIvmJob), join (JoinIvmJob) and dimension history
    (Scd2IvmJob).
    """

    STATE_SCHEMA = StructType(
        [
            StructField("client", StringType()),
            StructField("positions", ArrayType(StringType())),
            StructField("records", ArrayType(CHANGELOG_SCHEMA)),
            StructField("_v", IntegerType()),
        ]
    )
    DELTAS = {"compact_state": ["client"]}

    def update(self, batch_df: DataFrame) -> dict:
        state = self.read("compact_state", self.STATE_SCHEMA)
        batch = batch_df.selectExpr(
            "split(key, ':::')[0] AS client", "key", "value", "offset"
        )
        clients = F.broadcast(batch.select("client"))
        kept = state.join(clients, "client", "left_anti")
        old = (
            state.join(clients, "client", "left_semi")
            .selectExpr("client", "explode(records) AS r")
            .select("client", "r.*")
        )
        changed = (
            old.unionByName(batch)
            .repartition("client")
            .groupBy("client", "key")
            .agg(
                F.expr("max_by(value, offset) AS value"),
                F.expr("max(offset) AS offset"),
            )
            .groupBy("client")
            .agg(
                F.expr(
                    "sort_array(collect_set(CASE WHEN value.exchange = 'NASDAQ'"
                    " THEN value.id END)) AS positions"
                ),
                F.expr("collect_list(struct(key, value, offset)) AS records"),
            )
            .withColumn("_v", F.lit(self.next_version))
        )
        return {"compact_state": kept.unionByName(changed)}

    _view: tuple[DataFrame, DataFrame] | None = None

    def view(self) -> DataFrame:
        """The view over the committed ``compact_state``, built once per
        version, so a read pays no analysis for the filter and projection."""
        state = self.read("compact_state", self.STATE_SCHEMA)
        if self._view is None or self._view[0] is not state:
            self._view = (
                state,
                state.where("size(positions) > 0").select("client", "positions"),
            )
        return self._view[1]


class CogroupIvmJob(IvmJob):
    """Incremental maintenance of a COGROUP view (KStreams 2.5
    ``KGroupedStream.cogroup``): two differently-keyed changelog entities
    (orders, share positions) merge into ONE per-client aggregate table,
    updated per micro-batch by recomputing only the *changed clients'*
    rows — the full per-client recompute never runs.

    KStreams executes cogroup as one state store receiving every
    stream's adder; the micro-batch analog here is group-scoped
    recompute: each batch determines the set of clients any delta
    touches (via the OLD state of changed keys — a tombstone's client
    only exists there — plus the new values), then rebuilds just those
    clients' aggregate rows from the compacted state and swaps them
    into the view. Clients whose every contribution disappeared vanish
    (the nil-deletes-row rule, kafka_streams.clj:77-79, lifted to the
    merged table).

    State tables, both rewritten in full per batch (a keyed Delta MERGE
    at cluster scale): the compacted flat changelog (partition by key) and
    the cogrouped view (partition by client — the retract/insert swap
    then prunes to changed-client partitions).
    """

    VIEW_SCHEMA = (
        "client string, n_orders long, total_price double,"
        " n_positions long, n_nasdaq long"
    )

    PAYLOAD = ["src", "o_custkey", "o_totalprice", "client", "exchange"]

    @staticmethod
    def _client_of(df: DataFrame):
        """Grouping key of a live record: orders group via the FK,
        positions via the value's client field."""
        return F.when(
            F.col("src") == "o", F.col("o_custkey").cast("string")
        ).otherwise(F.col("client"))

    def update(self, batch_df: DataFrame) -> dict:
        # sever streaming lineage so AQE coalesces the tiny per-batch plans
        batch_df = self._persist(batch_df)
        state = self.read("compact_state", batch_df.schema)
        view = self.view()

        keys = batch_df.select("key").distinct()
        merged = self._persist(
            compact_flat(state.unionByName(batch_df), self.PAYLOAD)
        )

        # clients the batch touches: previous owners of changed keys (the
        # only place a tombstoned key's client survives) + new values
        old_rows = state.join(keys, "key", "left_semi")
        new_rows = merged.join(keys, "key", "left_semi")
        clients = (
            old_rows.where(~F.col("tombstone"))
            .select(self._client_of(old_rows).alias("client"))
            .unionByName(
                new_rows.where(~F.col("tombstone")).select(
                    self._client_of(new_rows).alias("client")
                )
            )
            .distinct()
        )

        # group-scoped recompute: only changed clients' state rows
        live = merged.where(~F.col("tombstone")).withColumn(
            "gclient", self._client_of(merged)
        )
        scoped = live.join(
            clients.select(F.col("client").alias("gclient")), "gclient", "left_semi"
        )
        ordagg = (
            scoped.where(F.col("src") == "o")
            .groupBy("gclient")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
        )
        posagg = (
            scoped.where(F.col("src") == "s")
            .groupBy("gclient")
            .agg(
                F.count("*").alias("n_positions"),
                F.count(F.when(F.col("exchange") == "NASDAQ", 1)).alias(
                    "n_nasdaq"
                ),
            )
        )
        updated = (
            ordagg.join(posagg, "gclient", "full_outer")
            .select(
                F.col("gclient").alias("client"),
                F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                F.coalesce("total_price", F.lit(0.0)).alias("total_price"),
                F.coalesce("n_positions", F.lit(0)).alias("n_positions"),
                F.coalesce("n_nasdaq", F.lit(0)).alias("n_nasdaq"),
            )
        )
        untouched = view.join(clients, "client", "left_anti")
        return {
            "cogroup_view": untouched.unionByName(updated),
            "compact_state": merged,
        }

    def view(self) -> DataFrame:
        return self.read("cogroup_view", self.VIEW_SCHEMA)
