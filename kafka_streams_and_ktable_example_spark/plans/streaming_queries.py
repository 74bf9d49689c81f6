"""Streaming queries in the registry.

Each function below is one query's whole definition, with its constants
written inline next to its oracle; the machinery it runs on (stream
sources, replay and drain runners, the IVM jobs) lives in
``streaming/pipeline.py``. Every query runs a real Structured Streaming
query to completion (availableNow trigger) and returns the final result,
and every one carries a FULL SQL oracle, because snapshot-recompute ≡
incremental maintenance (SURVEY §4.3): the streaming pipeline's final
state must equal the batch recompute DuckDB performs.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import functions as F

from ..operators.ktable import positions_csv
from ..session import register_scratch_dir, scratch_dir
from ..sources.changelog import (
    cogroup_multiplexed_changelog,
    multiplexed_join_changelog,
    orders_changelog,
    shareholders_changelog,
)
from ..sources.fixture_cache import ensure_layout, fixture_dir
from ..sources.tables import load_table
from ..streaming.pipeline import (
    AggIvmJob,
    CogroupIvmJob,
    JoinIvmJob,
    Scd2IvmJob,
    SetIvmJob,
    StreamingLshDedupJob,
    append_replay_file,
    chunk_stream,
    drain,
    events_stream,
    replay,
    replay_changelog,
    run_shareholders_stream,
    write_changelog_chunks,
)
from .catalog import register
from .ktable_queries import _COGROUP_ORACLE, _SHAREHOLDERS_VIEW


@register(
    "streaming_shareholders_incremental",
    oracle=_SHAREHOLDERS_VIEW,
    doc="The reference's topology under Structured Streaming: changelog "
    "replayed as 8 micro-batches through foreachBatch compaction state; "
    "final view must equal the batch recompute (SURVEY §4.3) — and the "
    "batch oracle proves it.",
    tags=("streaming", "ktable", "parity"),
)
def streaming_shareholders_incremental(spark, sf_dir):
    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = scratch_dir("shareholders_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=8)
    return positions_csv(run_shareholders_stream(spark, chunk_dir))


@register(
    "streaming_shareholders_stateful",
    oracle=_SHAREHOLDERS_VIEW,
    doc="The reference's adder/subtractor reduce (kafka_streams.clj:72-79) "
    "as a true per-group stateful operator: applyInPandasWithState keeps "
    "each client's latest-per-key records in managed group state and "
    "emits the updated position set per micro-batch; the final emissions "
    "must equal the batch recompute.",
    tags=("streaming", "ktable", "stateful", "parity"),
)
def streaming_shareholders_stateful(spark, sf_dir):
    from ..streaming.stateful import run_shareholders_stateful

    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = scratch_dir("shareholders_stateful_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=8)
    return run_shareholders_stateful(spark, chunk_dir)


def _events_windowed(spark, sf_dir, slide):
    """Per-type count and value total over 1-hour event-time windows,
    sliding by ``slide`` (tumbling when None), with a 10-minute watermark.
    The memory sink is the O6 'queryable store' analog for streams; in
    complete mode its final contents equal the batch aggregate."""
    win = F.window("ts", "1 hour", slide) if slide else F.window("ts", "1 hour")
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(win, "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return drain(agg, "complete").select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "streaming_events_tumbling",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc="Streaming tumbling 1-hour window with event-time watermark over the "
    "events replay; complete-mode memory sink equals the batch aggregate.",
    tags=("streaming", "events"),
)
def streaming_events_tumbling(spark, sf_dir):
    return _events_windowed(spark, sf_dir, None)


@register(
    "streaming_events_sliding",
    oracle="""
-- make_timestamp(micros) is tz-independent; CAST(to_timestamp(..) AS
-- TIMESTAMP) would round-trip through DuckDB's session TimeZone and
-- shift window starts on a non-UTC driver box.
SELECT make_timestamp(1000000 * 1800
           * (CAST(floor(epoch(ts) / 1800) AS BIGINT) - j))
           AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS j)
GROUP BY 1, 2
""",
    doc="Streaming sliding window (1 hour size, 30 min slide): each event "
    "belongs to exactly two overlapping windows. The batch oracle "
    "replicates window assignment arithmetically (epoch-aligned starts, "
    "like Spark's window()).",
    tags=("streaming", "events"),
)
def streaming_events_sliding(spark, sf_dir):
    return _events_windowed(spark, sf_dir, "30 minutes")


def _interval_join(spark, sf_dir, how):
    """Clicks joined (``how``) to the same user's purchases at most 1 hour
    after them. Both sides carry a 2-hour event-time watermark, so Spark
    bounds the join state: rows older than watermark + interval are
    evicted, the mechanism that keeps state finite on an unbounded stream
    (and that releases an outer join's null rows)."""
    left = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("left_id"),
            "user_id",
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", "2 hours")
    )
    right = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", "2 hours")
    )
    return left.join(
        right,
        F.expr(
            "user_id = r_user_id AND right_ts >= left_ts "
            "AND right_ts <= left_ts + INTERVAL 1 HOUR"
        ),
        how,
    )


@register(
    "streaming_stream_stream_join",
    oracle="""
SELECT c.event_id AS left_id, p.event_id AS right_id, c.user_id,
       CAST(c.ts AS TIMESTAMP) AS left_ts,
       CAST(p.ts AS TIMESTAMP) AS right_ts
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
    doc="Stream-stream inner interval join: purchases within 1 hour after a "
    "click by the same user, with watermarks on both sides bounding join "
    "state; the availableNow replay must emit exactly the batch self-join "
    "pairs.",
    tags=("streaming", "join", "events"),
)
def streaming_stream_stream_join(spark, sf_dir):
    joined = _interval_join(spark, sf_dir, "inner").select(
        "left_id", "right_id", "user_id", "left_ts", "right_ts"
    )
    return drain(joined, "append")


@register(
    "streaming_stream_static_enrich",
    oracle="""
SELECT event_id, user_id, c_name, c_mktsegment, value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
""",
    doc="Stream-static enrichment: every purchase event joins its customer "
    "dimension row per micro-batch as a broadcast hash join — no stream "
    "shuffle, no join state, no watermark needed (the static side is a "
    "table, not a stream). Append replay equals the batch join.",
    tags=("streaming", "join", "events"),
)
def streaming_stream_static_enrich(spark, sf_dir):
    events = events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    # no forced broadcast: customer scales with SF; the per-micro-batch
    # planner broadcasts it while it fits and falls back to a shuffle
    # join once it doesn't.
    enriched = events.join(
        cust, F.col("user_id") == F.col("c_custkey")
    ).select("event_id", "user_id", "c_name", "c_mktsegment", "value")
    return drain(enriched, "append")


@register(
    "streaming_events_session_window",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT CAST(min(ts) AS TIMESTAMP) AS session_start, user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
FROM sessions GROUP BY user_id, sid
""",
    doc="Streaming sessionization via session_window (30-min inactivity "
    "gap): Spark merges overlapping per-event windows into sessions in "
    "state; final merged sessions equal the batch lag/running-sum "
    "sessionization.",
    tags=("streaming", "events", "stateful"),
)
def streaming_events_session_window(spark, sf_dir):
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    # Complete-mode output goes through foreachBatch to a parquet dir
    # (last batch overwrites), NOT the memory sink: the memory sink
    # collects every result row to the DRIVER, which at the 100x replica
    # (60M events → millions of sessions) exceeded
    # spark.driver.maxResultSize (measured r6: 1037 MiB of task results).
    # foreachBatch writes the same complete-mode relation executor-side —
    # identical rows at any scale, driver memory stays flat.
    #
    # The dir is fixed per (application, sf_dir), NOT mkdtemp-per-call:
    # the returned DataFrame reads it lazily so rmtree here is unsafe, and
    # a fresh dir per invocation accumulated unbounded temp disk across
    # replica-scale sweeps (millions of session rows per complete-mode
    # rewrite). mode("overwrite") below handles staleness; the app id
    # keeps concurrent sessions apart, and the scratch registration
    # removes the dir at cleanup or process exit.
    sf_key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out_dir = register_scratch_dir(
        os.path.join(
            tempfile.gettempdir(),
            f"events_sessions_{spark.sparkContext.applicationId}_{sf_key}",
        )
    )
    os.makedirs(out_dir, exist_ok=True)

    def sink(batch_df, _bid):
        # complete mode re-emits the whole result each batch: overwrite
        batch_df.write.mode("overwrite").parquet(out_dir)

    (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir).select(
        F.col("session_window.start").alias("session_start"),
        "user_id",
        "n_events",
        "total_value",
    )


@register(
    "streaming_dedup_by_key",
    oracle="""
SELECT event_id, user_id, event_type
FROM events
""",
    doc="Streaming exact dedup: dropDuplicates on the record key with a "
    "watermark bounding the dedup state (keys older than the watermark "
    "are evicted — the unbounded-stream memory guarantee). event_id is "
    "unique in the fixture, so the deduped replay equals the full table; "
    "the operator's value is the StateStoreDedup plan it exercises.",
    tags=("streaming", "dedup", "stateful"),
)
def streaming_dedup_by_key(spark, sf_dir):
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return drain(deduped, "append")


@register(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT event_id, user_id, event_type
FROM events
""",
    doc="Streaming dedup with BOUNDED retention semantics: "
    "dropDuplicatesWithinWatermark only suppresses duplicates arriving "
    "within the watermark delay of the first sighting, then expires the "
    "key — unlike dropDuplicates, state size is bounded by the event-time "
    "window rather than the key universe, the right contract for an "
    "endless at-least-once Kafka feed. event_id is unique in the fixture, "
    "so the replay equals the full table; the value is the "
    "within-watermark eviction plan it exercises.",
    tags=("streaming", "dedup", "stateful"),
)
def streaming_dedup_within_watermark(spark, sf_dir):
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return drain(deduped, "append")


@register(
    "streaming_stream_stream_left_outer",
    oracle="""
WITH l AS (
  SELECT event_id AS left_id, user_id, ts AS left_ts FROM events
  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-29 00:00:00'
), r AS (
  SELECT event_id AS right_id, user_id AS r_user_id, ts AS right_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT l.left_id, l.user_id, r.right_id
FROM l LEFT JOIN r
  ON l.user_id = r.r_user_id
 AND r.right_ts >= l.left_ts
 AND r.right_ts <= l.left_ts + INTERVAL 1 HOUR
""",
    doc="Stream-stream LEFT OUTER interval join with watermark-driven null "
    "emission: unmatched clicks surface with a null purchase once the "
    "watermark passes their match window (state eviction, not batch "
    "logic). Output restricted to the watermark-closed region so the "
    "availableNow replay equals the batch left join.",
    tags=("streaming", "join", "events"),
)
def streaming_stream_stream_left_outer(spark, sf_dir):
    # Determinism contract: output is restricted to the CLOSED region
    # left_ts < 2024-01-29 — lefts old enough that the final watermark
    # (min over both sides of max event time − delay) provably passed
    # their match window, so every unmatched one has emitted its null row
    # by query end. The cutoff must be applied AFTER the join, not on the
    # left source: filtering the source would shrink the left side's max
    # event time and hold the global watermark back below the cutoff
    # itself, permanently trapping the newest lefts in state (found
    # empirically; the reference's unwindowed KTable never hits this —
    # compaction semantics make late data trivially correct,
    # SURVEY §2 Table B).
    cutoff = F.lit("2024-01-29 00:00:00").cast("timestamp")
    joined = (
        _interval_join(spark, sf_dir, "left_outer")
        .where(F.col("left_ts") < cutoff)
        .select("left_id", "user_id", "right_id")
    )
    return drain(joined, "append")


@register(
    "streaming_orders_rollup_ivm",
    oracle="""
WITH changelog AS MATERIALIZED (
  SELECT o_orderkey AS key, o_custkey, o_totalprice,
         o_orderkey * 3 AS off, FALSE AS tombstone
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2,
         o_orderkey * 3 + 1, FALSE
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, o_orderkey * 3 + 2, TRUE
  FROM orders WHERE o_orderkey % 20 = 0
), latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn
    FROM changelog
  ) WHERE rn = 1 AND NOT tombstone
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
FROM latest GROUP BY o_custkey
""",
    doc="TRUE incremental view maintenance (the adder/subtractor of "
    "kafka_streams.clj:72-79 for sum/count aggregates): per micro-batch, "
    "each changed key's old contribution is subtracted and its new one "
    "added — the view is never recomputed (each batch still rewrites "
    "the state tables in full), zero-count groups vanish "
    "(nil-deletes-row). Final state "
    "equals the batch recompute, proving snapshot-recompute ≡ "
    "incremental maintenance (SURVEY §4.3) in the other direction.",
    tags=("streaming", "ktable", "stateful", "parity"),
)
def streaming_orders_rollup_ivm(spark, sf_dir):
    job = replay_changelog(
        spark, AggIvmJob, orders_changelog(spark, sf_dir), 8, "orders_ivm"
    )
    return job.view().select(
        "o_custkey",
        "n_orders",
        F.round("total_price", 2).alias("total_price"),
    )


@register(
    "streaming_join_view_ivm",
    oracle="""
WITH ocl AS (
  SELECT o_orderkey AS key, o_custkey, o_totalprice,
         o_orderkey * 6 AS off, FALSE AS tomb
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2,
         o_orderkey * 6 + 1, FALSE
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, o_orderkey * 6 + 2, TRUE
  FROM orders WHERE o_orderkey % 20 = 0
), olatest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn
    FROM ocl) WHERE rn = 1 AND NOT tomb
), ccl AS (
  SELECT c_custkey AS key, c_mktsegment, c_custkey * 60 + 3 AS off,
         FALSE AS tomb
  FROM customer
  UNION ALL
  SELECT c_custkey, 'VIP', c_custkey * 60 + 4, FALSE
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, NULL, c_custkey * 60 + 5, TRUE
  FROM customer WHERE c_custkey % 13 = 0
), clatest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn
    FROM ccl) WHERE rn = 1 AND NOT tomb
)
SELECT o.key AS o_orderkey, o.o_custkey,
       round(o.o_totalprice, 2) AS o_totalprice, c.c_mktsegment
FROM olatest o JOIN clatest c ON o.o_custkey = c.key
""",
    doc="Delta-maintained JOIN view (incremental view maintenance for "
    "joins): an 8-micro-batch replay of a multiplexed orders+customer CDC "
    "stream through streaming/pipeline.py::JoinIvmJob — per batch the view "
    "loses rows touching changed keys and gains ΔA⋈B ∪ (A∖ΔA)⋈ΔB; the "
    "full join is never recomputed. Exercises updates and tombstones on "
    "BOTH sides (an order re-pointing revenue, a customer deletion "
    "retracting all its orders). Final view must equal the batch join of "
    "the two latest-per-key snapshots.",
    tags=("streaming", "ktable", "stateful", "join", "parity"),
)
def streaming_join_view_ivm(spark, sf_dir):
    cl = multiplexed_join_changelog(spark, sf_dir)
    job = replay_changelog(spark, JoinIvmJob, cl, 8, "join_ivm")
    return job.view_df().select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "c_mktsegment",
    )


@register(
    "streaming_lsh_dedup_incremental",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(range(1, len(w) - 1),
                                        i -> array_to_string(w[i:i+2], ' ')))
         ELSE [] END AS shs
  FROM toks
), ex AS MATERIALIZED (
  SELECT doc_id, unnest(shs) AS sh FROM sh
), seeds AS (
  SELECT unnest(range(4)) AS seed
), digs AS (
  SELECT doc_id, seed, md5(seed || ':' || sh) AS dig
  FROM ex CROSS JOIN seeds
), mh AS (
  SELECT doc_id, seed,
         min(substr(dig, 1, 8)) AS m0, min(substr(dig, 9, 8)) AS m1,
         min(substr(dig, 17, 8)) AS m2, min(substr(dig, 25, 8)) AS m3
  FROM digs GROUP BY doc_id, seed
), bands AS MATERIALIZED (
  SELECT doc_id, CAST(seed AS INT) AS band_idx,
         md5(m0 || ',' || m1 || ',' || m2 || ',' || m3) AS band_hash
  FROM mh
)
SELECT d.doc_id, d.lang
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND b.doc_id < a.doc_id
  WHERE a.doc_id = d.doc_id)
""",
    doc="Incremental (streaming) MinHash-LSH dedup: documents arrive in "
    "doc_id-ordered micro-batches; each batch's LSH bands probe the "
    "accumulated band index and only novel docs survive "
    "(streaming/pipeline.py::StreamingLshDedupJob). A doc is dropped iff "
    "any earlier doc shares a band — order-insensitive, so the oracle "
    "replays the whole policy as one NOT EXISTS. The 100 TB shape: dedup "
    "at ingest via an equi-join on the band key against a persistent "
    "index, instead of re-pairing the full corpus per delivery.",
    tags=("streaming", "dedup", "lsh", "pipeline"),
)
def streaming_lsh_dedup_incremental(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", F.col("doc_id").alias("offset")
    )
    return replay_changelog(
        spark, StreamingLshDedupJob, docs, 6, "lshdedup"
    ).kept_df()


@register(
    "streaming_stream_stream_full_outer",
    oracle="""
WITH l AS (
  SELECT event_id AS left_id, user_id, ts AS left_ts FROM events
  WHERE event_type = 'click'
), r AS (
  SELECT event_id AS right_id, user_id AS r_user_id, ts AS right_ts
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT l.left_id, l.user_id, l.left_ts, r.right_id, r.r_user_id, r.right_ts
  FROM l FULL JOIN r
    ON l.user_id = r.r_user_id
   AND r.right_ts >= l.left_ts
   AND r.right_ts <= l.left_ts + INTERVAL 1 HOUR
)
SELECT left_id, coalesce(user_id, r_user_id) AS user_id, right_id
FROM j
WHERE (right_id IS NULL AND left_ts < TIMESTAMP '2024-01-29 00:00:00')
   OR (left_id IS NULL AND right_ts < TIMESTAMP '2024-01-29 00:00:00')
   OR (left_id IS NOT NULL AND right_id IS NOT NULL
       AND left_ts < TIMESTAMP '2024-01-29 00:00:00')
""",
    doc="Stream-stream FULL OUTER interval join: both sides emit "
    "null-padded rows on watermark state eviction — never-converting "
    "clicks AND orphan purchases. Output restricted per-shape to the "
    "watermark-closed region (unmatched left by left_ts, unmatched right "
    "by right_ts, matched by left_ts) so the availableNow replay equals "
    "the batch full join with the identical CASE filter.",
    tags=("streaming", "join", "events"),
)
def streaming_stream_stream_full_outer(spark, sf_dir):
    # Determinism contract (the left-outer join's, applied per side): an
    # unmatched left needs left_ts closed, an unmatched right needs
    # right_ts closed, a matched pair is keyed by its left. The filter
    # sits AFTER the join: filtering a source would hold the global
    # watermark back and trap rows in state.
    cutoff = F.lit("2024-01-29 00:00:00").cast("timestamp")
    closed = (
        (F.col("right_id").isNull() & (F.col("left_ts") < cutoff))
        | (F.col("left_id").isNull() & (F.col("right_ts") < cutoff))
        | (
            F.col("left_id").isNotNull()
            & F.col("right_id").isNotNull()
            & (F.col("left_ts") < cutoff)
        )
    )
    joined = (
        _interval_join(spark, sf_dir, "full_outer")
        .where(closed)
        .select(
            "left_id",
            F.coalesce("user_id", "r_user_id").alias("user_id"),
            "right_id",
        )
    )
    return drain(joined, "append")


@register(
    "streaming_distinct_users_hourly",
    oracle="""
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events CROSS JOIN mx
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTE
GROUP BY 1
""",
    doc="Chained stateful operators (Spark 3.5+ multi-stateful streaming): "
    "event-time dropDuplicates on (user_id, hour) -> tumbling hourly count "
    "= EXACT distinct users per hour, the decomposition every streaming "
    "engine uses because COUNT(DISTINCT) isn't incrementally mergeable. "
    "Append mode emits a window when its end crosses the final watermark "
    "(max event time - 10 min); the oracle applies the same closure rule "
    "in SQL, so the streaming result is bit-predictable from batch data. "
    "Dedup state is bounded by (active hours x users), expired by the "
    "shared watermark.",
    tags=("streaming", "events", "dedup"),
)
def streaming_distinct_users_hourly(spark, sf_dir):
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .withColumn("hr", F.date_trunc("hour", "ts"))
        .dropDuplicates(["user_id", "hr"])
    )
    agg = deduped.groupBy(F.window("ts", "1 hour")).agg(
        F.count("*").alias("distinct_users")
    )
    return drain(agg, "append").select(
        F.col("window.start").alias("window_start"), "distinct_users"
    )


@register(
    "streaming_watermark_late_drop",
    oracle="""
WITH wm1 AS (
  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events
  WHERE event_type <> 'error'
),
wm2 AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
included AS (
  SELECT ts FROM events WHERE event_type <> 'error'
  UNION ALL
  SELECT e.ts FROM events e, wm1
  WHERE e.event_type = 'error'
    AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm1.w
)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM included, wm2
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm2.w
GROUP BY 1
""",
    doc="Watermark late-data DROP semantics, observable and exactly "
    "predictable: events replayed as three micro-batches (all non-error "
    "first, then the error events at/after the resulting watermark, then "
    "the out-of-order late errors). An error row survives iff "
    "its hour-window was still open at the batch-2 watermark (window end > "
    "max(on-time ts) - 10 min); append mode then emits windows whose end "
    "passed the final watermark. The oracle states both rules "
    "arithmetically — the eviction contract that bounds window state on an "
    "unbounded stream, and one the reference never had to define (its "
    "KTable pipeline is unwindowed latest-offset-wins, "
    "kafka_streams.clj:60-81).",
    tags=("streaming", "events", "watermark"),
)
def streaming_watermark_late_drop(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # Three batches, not two: Spark's stateful operators use TWO watermarks
    # (SPARK-40925) — late-input filtering uses the PREVIOUS batch's
    # watermark, eviction the current one — so the on-time batch must land
    # two triggers before the late data for the drop to be observable.
    # Batch 1 (errors at/after the batch-0 watermark, often empty) advances
    # the query one trigger, which (a) emits every window closed by the
    # batch-0 watermark and (b) arms the late filter for batch 2.
    on_time = events.where(F.col("event_type") != "error")
    wm1 = (
        on_time.agg((F.max("ts") - F.expr("INTERVAL 10 minutes")).alias("w"))
        .collect()[0]
        .w
    )
    is_error = F.col("event_type") == "error"
    replay_dir = scratch_dir("events_late_replay_")
    for part in (
        on_time,
        events.where(is_error & (F.col("ts") >= F.lit(wm1))),
        events.where(is_error & (F.col("ts") < F.lit(wm1))),
    ):
        append_replay_file(part, replay_dir)

    agg = (
        chunk_stream(spark, replay_dir, events.schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events"))
    )
    return drain(agg, "append").select(
        F.col("window.start").alias("window_start"), "n_events"
    )


@register(
    "streaming_session_timeout_custom",
    oracle="""
WITH e AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
),
g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM g0
), s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
       CAST(epoch_us(max(ts)) AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""".replace("FROM g0", "FROM e"),
    doc="Custom stateful sessionization with EVENT-TIME TIMEOUTS "
    "(applyInPandasWithState + GroupStateTimeout.EventTimeTimeout): the "
    "open session parks in group state with a timeout at last_event + "
    "30 min, and the WATERMARK — not new data — closes it (Spark calls "
    "the function with hasTimedOut). This is the lifecycle shape the "
    "built-in session_window cannot express (custom emission, "
    "per-group timers); the replay ends with two far-future sentinel "
    "batches because timeout processing runs on the previous batch's "
    "watermark (SPARK-40925 two-watermark model). Result must equal the "
    "batch gap-and-islands sessionization.",
    tags=("streaming", "stateful", "session"),
)
def streaming_session_timeout_custom(spark, sf_dir):
    from ..streaming.stateful import GAP_US, run_sessionize_with_timeout

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select("user_id", F.unix_micros("ts").alias("ts_us"))
    )
    cl = ev.withColumn("offset", F.col("ts_us"))
    chunk_dir = scratch_dir("session_timeout_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=6)

    far = ev.agg(F.max("ts_us")).first()[0] + 10 * GAP_US
    schema = "user_id long, ts_us long, offset long"
    for k in range(2):
        sentinel = (-1, far + k * 1_000_000, far + k * 1_000_000)
        append_replay_file(spark.createDataFrame([sentinel], schema), chunk_dir)

    out = run_sessionize_with_timeout(spark, chunk_dir, schema)
    return out.where(F.col("user_id") >= 0).select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )


@register(
    "streaming_scd2_incremental",
    oracle="""
WITH changelog AS MATERIALIZED (
  SELECT o_orderkey AS key, o_custkey, o_orderstatus, o_totalprice,
         o_orderkey * 3 AS off, FALSE AS tombstone
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, 'U', o_totalprice * 2,
         o_orderkey * 3 + 1, FALSE
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, NULL, o_orderkey * 3 + 2, TRUE
  FROM orders WHERE o_orderkey % 20 = 0
), hist AS (
  SELECT *, lead(off) OVER (PARTITION BY key ORDER BY off) AS valid_to
  FROM changelog
)
SELECT key, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       off AS valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM hist WHERE NOT tombstone
""",
    doc="SCD2 history maintained INCREMENTALLY "
    "(streaming/pipeline.py::Scd2IvmJob): the orders changelog replays "
    "as 6 offset-ordered micro-batches; each batch appends its version "
    "rows and closes the open interval of every changed key by "
    "replaying just that one stored row through the per-key lead() "
    "window — closed history is never re-read. Tombstones close "
    "without opening (the subtractor's nil, temporally). The final "
    "table must equal the one-shot batch window build "
    "(ktable_version_history_scd2's oracle verbatim) — incremental ≡ "
    "recompute for the temporal view, completing the IVM story "
    "(aggregate: streaming_orders_rollup_ivm, join: "
    "streaming_join_view_ivm, now dimension history). At warehouse "
    "scale this is the CDC-merge that maintains every SCD2 dimension: "
    "per batch only the batch and the open rows of changed keys are "
    "windowed (the parquet table is still rewritten in full).",
    tags=("streaming", "ktable", "stateful", "scd2", "parity"),
)
def streaming_scd2_incremental(spark, sf_dir):
    job = replay_changelog(
        spark, Scd2IvmJob, orders_changelog(spark, sf_dir), 6, "scd2_ivm"
    )
    return job.view().select(
        "key",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


@register(
    "streaming_observe_metrics",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_null_value
FROM events
""",
    doc="In-flight pipeline observability via Dataset.observe(): the "
    "event stream carries an 'audit' observation (row count, cents "
    "total, null-value count) computed INSIDE the streaming query — "
    "map-side accumulator-style, no extra pass, no second scan — and "
    "each micro-batch's observed metrics surface through the query "
    "progress feed (recentProgress / StreamingQueryListener, the hook "
    "a production job wires to its metrics sink). Summing the per-"
    "batch observations must reproduce the batch aggregate exactly — "
    "the conservation check that catches silent row loss in a "
    "pipeline. The returned relation is the O(1) metrics row itself: "
    "observe's whole point is metrics without materializing data.",
    tags=("streaming", "ops", "observe"),
)
def streaming_observe_metrics(spark, sf_dir):
    import uuid as _uuid

    stream = events_stream(spark, sf_dir)
    obs = stream.observe(
        "audit",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.count_if(F.col("value").isNull()).alias("nulls"),
    )
    # its own start, not drain(): the metrics live on the query handle's
    # recentProgress, which drain does not return
    name = f"observe_{_uuid.uuid4().hex[:8]}"
    query = (
        obs.select("event_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # recentProgress is a rolling window (numRecentProgressUpdates,
    # default 100): if this replay ever produced that many batches the
    # sum below would silently undercount — fail loudly instead
    retention = int(
        spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
    )
    if len(query.recentProgress) >= retention:
        raise RuntimeError(
            "observe replay hit the recentProgress retention cap "
            f"({retention}); metrics sum would undercount"
        )
    n_events = total_cents = n_nulls = 0
    for progress in query.recentProgress:
        audit = (progress.observedMetrics or {}).get("audit")
        if audit is not None:
            n_events += audit["rows"] or 0
            total_cents += audit["cents"] or 0
            n_nulls += audit["nulls"] or 0
    return spark.createDataFrame(
        [(n_events, total_cents, n_nulls)],
        "n_events long, total_cents long, n_null_value long",
    )


@register(
    "streaming_shareholders_set_ivm",
    oracle=_SHAREHOLDERS_VIEW,
    doc="The reference's set-valued view maintained INCREMENTALLY as "
    "sorted arrays (streaming/pipeline.py::SetIvmJob): per micro-batch "
    "only the changed clients' records are compacted and their arrays "
    "re-collected — no collect_set recompute of the snapshot; the one "
    "client-keyed state table commits those clients' rows as a keyed "
    "delta (a full snapshot every 8 versions), and the view skips a "
    "client whose array is empty. "
    "This is SURVEY §7.4 hard-part #4's '100 TB representation' "
    "(sorted arrays + set algebra instead of per-group re-collection) "
    "actually wired: final state must equal the batch-recomputed "
    "shareholders view exactly.",
    tags=("streaming", "ktable", "stateful", "parity"),
)
def streaming_shareholders_set_ivm(spark, sf_dir):
    job = replay_changelog(
        spark, SetIvmJob, shareholders_changelog(spark, sf_dir), 6, "set_ivm"
    )
    return positions_csv(job.view())


@register(
    "streaming_update_mode_emissions",
    oracle="""
WITH b AS (
  SELECT min(event_id) AS lo, max(event_id) AS hi FROM events
), e AS (
  SELECT event_type,
         least((event_id - lo) // greatest(1, (hi - lo + 4) // 4), 3)
           AS chunk
  FROM events, b
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT chunk) AS BIGINT) AS n_emissions
FROM e GROUP BY event_type
""",
    doc="UPDATE output mode on a plain streaming aggregate — the third "
    "output mode as a first-class registry query (append: windowed "
    "queries; complete: streaming_topk_complete; update: here): events "
    "replay as 4 deterministic event-id-range micro-batches and the "
    "per-type count emits ONLY the groups each batch changed — the "
    "sink accumulates one row per (batch, changed group), so the "
    "emission log itself is checkable: a type's final count is its "
    "largest emission and its emission count equals the number of "
    "batches containing it (both order-independent, hence exactly "
    "reproducible by the oracle's chunk arithmetic). Update mode is "
    "the changelog-emission contract of the reference's KTable "
    "(kafka_streams.clj:77-79) applied to Spark's own aggregates — "
    "downstream consumers get deltas, not snapshots.",
    tags=("streaming", "agg", "parity"),
)
def streaming_update_mode_emissions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("offset"), "event_type"
    )
    chunk_dir = scratch_dir("update_mode_chunks_")
    write_changelog_chunks(ev, chunk_dir, n_chunks=4)

    stream = chunk_stream(spark, chunk_dir, "offset long, event_type string")
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    return drain(agg, "update").groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_emissions"),
    )


@register(
    "streaming_rewindowed_hourly",
    oracle="""
WITH tens AS (
  SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS w10, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(time_bucket(INTERVAL 1 HOUR, w10) AS TIMESTAMP) AS hour_start,
       event_type,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_subwindows
FROM tens GROUP BY 1, 2
""",
    doc="Chained streaming time windows (SPARK-40821, Spark 3.4+): a "
    "10-minute tumbling count RE-WINDOWED into hourly totals by "
    "windowing on the first aggregate's window column — the multi-"
    "grain rollup cascade (minute -> hour -> day) that pre-3.4 "
    "required two jobs with an intermediate sink. Both tiers share "
    "one watermark lineage; the second tier's state is bounded by "
    "first-tier GROUPS (6 sub-windows/hour/type), not events — the "
    "re-aggregation property that makes cascaded dashboards cheap at "
    "any scale. Emitted in append mode at query end; the oracle "
    "replays both grains with time_bucket.",
    tags=("streaming", "window", "agg"),
)
def streaming_rewindowed_hourly(spark, sf_dir):
    # chained stateful aggregations are append-only (complete mode is
    # rejected), and append emits a window only once the watermark passes
    # its end — so the replay carries THREE far-future sentinel batches
    # (appended after the data file) that push the watermark beyond
    # every real window through BOTH stateful tiers (the SPARK-40925
    # two-watermark model needs the extra batches), exactly the
    # streaming_session_timeout_custom pattern. Sentinel windows are
    # dropped from the result by their marker type.
    schema = "ts timestamp, event_type string"
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    chunk_dir = scratch_dir("rewin_chunks_")
    append_replay_file(ev, chunk_dir)
    far = ev.agg(
        (F.max("ts") + F.expr("INTERVAL 240 HOURS")).alias("t")
    ).collect()[0]["t"]
    for _ in range(3):
        append_replay_file(
            spark.createDataFrame([(far, "__wm__")], schema), chunk_dir
        )

    stream = chunk_stream(spark, chunk_dir, schema).withWatermark(
        "ts", "0 seconds"
    )
    tens = stream.groupBy(
        F.window("ts", "10 minutes").alias("w10"), "event_type"
    ).agg(F.count("*").alias("n"))
    hourly = tens.groupBy(
        F.window(F.col("w10"), "1 hour").alias("wh"), "event_type"
    ).agg(
        F.sum("n").alias("n_events"),
        F.count("*").alias("n_subwindows"),
    )
    return (
        drain(hourly, "append")
        .where(F.col("event_type") != "__wm__")
        .select(
            F.col("wh.start").alias("hour_start"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_subwindows").cast("long").alias("n_subwindows"),
        )
    )


@register(
    "streaming_stream_stream_left_semi",
    oracle="""
SELECT c.event_id AS left_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS left_ts
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
""",
    doc="Stream-stream LEFT SEMI interval join (Spark 3.4+): clicks that "
    "were followed by a same-user purchase within the hour, emitted "
    "ONCE regardless of how many purchases matched — the streaming "
    "EXISTS. Completes the stream-stream join family (inner, "
    "left-outer, full-outer, now semi). Same state story as the "
    "others: watermarks on both sides bound the buffered rows; semi "
    "emits as soon as the first match arrives, and the replay must "
    "equal the batch EXISTS exactly.",
    tags=("streaming", "join", "events"),
)
def streaming_stream_stream_left_semi(spark, sf_dir):
    joined = _interval_join(spark, sf_dir, "left_semi")
    return drain(joined, "append").select("left_id", "user_id", "left_ts")


@register(
    "streaming_union_two_sources",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
         AS n_clicks,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS n_purchases
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY 1
""",
    doc="UNION of two independent streams into one stateful aggregate — "
    "the multi-topic consumer shape (clicks topic + purchases topic -> "
    "one hourly rollup): each side is its own readStream instance, "
    "unionByName merges them BEFORE the watermark/groupBy so the "
    "aggregate sees one logical stream and the watermark is the min "
    "over both sources' progress (Spark's multi-source semantics — "
    "the slower topic holds the watermark back, which is the correct "
    "conservative behavior and the thing to monitor in production). "
    "Complete-mode result equals the batch union.",
    tags=("streaming", "events", "agg"),
)
def streaming_union_two_sources(spark, sf_dir):
    clicks = events_stream(spark, sf_dir).where(
        F.col("event_type") == "click"
    )
    purchases = events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    both = clicks.unionByName(purchases).withWatermark("ts", "10 minutes")
    agg = both.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias(
            "n_clicks"
        ),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_purchases"
        ),
    )
    return drain(agg, "complete").select(
        "hour_start",
        F.col("n_clicks").cast("long").alias("n_clicks"),
        F.col("n_purchases").cast("long").alias("n_purchases"),
    )


@register(
    "streaming_cogroup_ivm",
    oracle=_COGROUP_ORACLE,
    doc="KStreams 2.5 COGROUP maintained INCREMENTALLY "
    "(streaming/pipeline.py::CogroupIvmJob): the multiplexed "
    "orders+positions changelog replays as 6 micro-batches; each batch "
    "recomputes ONLY the clients its deltas touch (changed-key old state "
    "names the client a tombstone removes; new values name the client it "
    "joins) and swaps those rows into the per-client merged table — "
    "per-batch work is bounded by changed clients' state rows, never a "
    "snapshot-wide recompute. A client whose last contribution on both "
    "streams disappears vanishes from the view (nil-deletes-row lifted "
    "to the cogrouped table). Final state must equal the batch cogroup "
    "(ktable_cogroup_two_streams) exactly — same oracle.",
    tags=("streaming", "ktable", "stateful", "parity"),
)
def streaming_cogroup_ivm(spark, sf_dir):
    cl = cogroup_multiplexed_changelog(spark, sf_dir)
    return replay_changelog(spark, CogroupIvmJob, cl, 6, "cogroup_ivm").view()


@register(
    "streaming_tvd_drift_monitor",
    oracle="""
WITH ev AS (
  SELECT event_id,
         least(greatest(coalesce(CAST(round(value * 100) AS BIGINT), 0),
                        0) // 2000, 9) AS bucket
  FROM events
), b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM ev),
ch AS (
  SELECT least((event_id - lo) // greatest(1, (hi - lo + 6) // 6), 5)
           AS chunk,
         bucket
  FROM ev CROSS JOIN b
), hist AS (
  SELECT chunk, bucket, count(*) AS c FROM ch GROUP BY 1, 2
), n AS (SELECT chunk, sum(c) AS n FROM hist GROUP BY chunk),
grid AS (
  SELECT n.chunk, g.bucket, n.n
  FROM n CROSS JOIN (SELECT unnest(range(10)) AS bucket) g
), filled AS (
  SELECT grid.chunk, grid.bucket, grid.n, coalesce(hist.c, 0) AS c
  FROM grid LEFT JOIN hist
    ON grid.chunk = hist.chunk AND grid.bucket = hist.bucket
), ref AS (
  SELECT bucket, c AS rc, n AS rn FROM filled WHERE chunk = 0
)
SELECT CAST(filled.chunk AS BIGINT) AS batch_id,
       CAST(any_value(filled.n) AS BIGINT) AS n_events,
       CAST(sum(abs(filled.c * 1000000 // filled.n
                    - ref.rc * 1000000 // ref.rn)) // 2 AS BIGINT)
         AS tvd_e6
FROM filled JOIN ref ON filled.bucket = ref.bucket
GROUP BY filled.chunk
""",
    doc="Streaming data-drift monitor: six event_id-"
    "ordered micro-batches each score their 10-bucket value histogram "
    "against the first batch's reference via total variation distance "
    "— TVD instead of PSI because |p-q| needs no logarithm, making "
    "the whole gate exact e6 integer arithmetic in both engines. "
    "foreachBatch touches only the bounded histogram (10 rows per "
    "batch collected to driver state, never the data), the production "
    "shape of a drift gate in front of a model-serving or "
    "training-data pipeline. The oracle replays the chunk-assignment "
    "formula (least/floor over the event_id range) arithmetically, so "
    "the streaming output is exactly value-checkable from batch data.",
    tags=("streaming", "qa", "drift", "ops"),
)
def streaming_tvd_drift_monitor(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("offset"),
        F.expr(
            "least(greatest(coalesce("
            "CAST(round(value * 100) AS BIGINT), 0), 0) div 2000, 9)"
        ).alias("bucket"),
    )
    # the 6-chunk split is cached per sf_dir and reused across runs; the
    # oracle's chunk arithmetic assumes the same 6 chunks
    replay_dir = fixture_dir(
        "events_tvd_chunks6", sf_dir, mtime_of="events.parquet"
    )

    def _write(path: str) -> None:
        write_changelog_chunks(ev, path, n_chunks=6)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    ensure_layout(replay_dir, _write)

    results: list[tuple[int, int, int]] = []
    ref: dict = {}

    def _score(df, epoch_id: int) -> None:
        rows = df.groupBy("bucket").count().collect()  # bounded: <=10 rows
        hist = {int(r["bucket"]): int(r["count"]) for r in rows}
        n = sum(hist.values())
        if not ref:
            ref["h"], ref["n"] = hist, n
        q, qn = ref["h"], ref["n"]
        tvd = (
            sum(
                abs(
                    hist.get(b, 0) * 1_000_000 // n
                    - q.get(b, 0) * 1_000_000 // qn
                )
                for b in range(10)
            )
            // 2
        )
        results.append((int(epoch_id), n, tvd))

    replay(spark, replay_dir, "bucket long", _score, scratch_dir("tvd_drift_"))
    return spark.createDataFrame(
        sorted(results), "batch_id long, n_events long, tvd_e6 long"
    )
