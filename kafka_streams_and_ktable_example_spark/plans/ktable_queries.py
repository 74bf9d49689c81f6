"""Reference-parity queries: KTable semantics over synthesized changelogs.

These exercise SURVEY §2 Table A (O1–O6) on deterministic changelogs derived
from the shared parquet tables, so the DuckDB oracle can replay the identical
stream (FIXTURES.md §B2). The Spark side goes through the real engine
operators (sources.changelog + operators.ktable); the oracle re-derives the
same semantics in portable SQL (ROW_NUMBER latest-wins).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.ktable import latest_snapshot, positions_csv, shareholders_view
from ..sources.changelog import orders_changelog, shareholders_changelog
from .catalog import register

# Shared oracle CTE replaying sources.changelog.shareholders_changelog.
_SHAREHOLDERS_CTE = """
WITH changelog AS MATERIALIZED (
  SELECT CAST(o_custkey AS VARCHAR) AS client,
         'T' || CAST(o_orderkey % 7 AS VARCHAR) AS ticker,
         CASE CAST(o_orderkey % 3 AS INT)
           WHEN 0 THEN 'NASDAQ' WHEN 1 THEN 'LON' ELSE 'NYSE' END AS exchange,
         o_orderkey AS off,
         (o_orderkey % 11 = 0) AS tombstone
  FROM orders
), keyed AS (
  SELECT client || ':::' || ticker AS key, * FROM changelog
), latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn
    FROM keyed
  ) WHERE rn = 1 AND NOT tombstone
)
"""

# The view over ``latest``: each client's NASDAQ keys as one sorted CSV
# string (what ``positions_csv`` makes of the Spark side's array), as the
# final SELECT and as the body of a CTE.
_POSITIONS_AGG = "string_agg(key, ',' ORDER BY key) AS positions"
_VIEW_SELECT = f"""SELECT client,
       {_POSITIONS_AGG}
FROM latest WHERE exchange = 'NASDAQ'
GROUP BY client
"""
_VIEW_CTE_BODY = f"""  SELECT client, {_POSITIONS_AGG}
  FROM latest WHERE exchange = 'NASDAQ'
  GROUP BY client
"""
# The shareholders view's whole oracle.
_SHAREHOLDERS_VIEW = _SHAREHOLDERS_CTE + "\n" + _VIEW_SELECT

# Shared oracle CTE replaying sources.changelog.orders_changelog.
_ORDERS_CL_CTE = """
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
), latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn
    FROM changelog
  ) WHERE rn = 1 AND NOT tombstone
)
"""

# The orders changelog and the shareholders changelog cogrouped per client:
# the oracle of the batch cogroup and of its streaming (IVM) form.
_COGROUP_ORACLE = (
    _ORDERS_CL_CTE
    + """
, shcl AS (
  SELECT CAST(o_custkey AS VARCHAR) AS client,
         'T' || CAST(o_orderkey % 7 AS VARCHAR) AS ticker,
         CASE CAST(o_orderkey % 3 AS INT)
           WHEN 0 THEN 'NASDAQ' WHEN 1 THEN 'LON' ELSE 'NYSE' END AS exchange,
         o_orderkey AS soff,
         (o_orderkey % 11 = 0) AS stomb
  FROM orders
), shlatest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY client || ':::' || ticker ORDER BY soff DESC) AS rn
    FROM shcl
  ) WHERE rn = 1 AND NOT stomb
), ordagg AS (
  SELECT CAST(o_custkey AS VARCHAR) AS client,
         count(*) AS n_orders,
         round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
  FROM latest GROUP BY 1
), posagg AS (
  SELECT client,
         count(*) AS n_positions,
         count(CASE WHEN exchange = 'NASDAQ' THEN 1 END) AS n_nasdaq
  FROM shlatest GROUP BY client
)
SELECT coalesce(o.client, p.client) AS client,
       CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
       coalesce(o.total_price, 0.0) AS total_price,
       CAST(coalesce(p.n_positions, 0) AS BIGINT) AS n_positions,
       CAST(coalesce(p.n_nasdaq, 0) AS BIGINT) AS n_nasdaq
FROM ordagg o FULL OUTER JOIN posagg p ON o.client = p.client
"""
)


@register(
    "ktable_shareholders_view",
    oracle=_SHAREHOLDERS_VIEW,
    doc="The reference's full topology (kafka_streams.clj:60-81): changelog → "
    "latest snapshot → NASDAQ filter → per-client position set.",
    headline=True,
    tags=("ktable", "parity"),
)
def ktable_shareholders_view(spark, sf_dir):
    return positions_csv(shareholders_view(shareholders_changelog(spark, sf_dir)))


@register(
    "ktable_latest_snapshot_agg",
    oracle=_ORDERS_CL_CTE
    + """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
FROM latest
GROUP BY o_orderstatus
""",
    doc="O1 latest-per-key with tombstones over the orders changelog, then a "
    "grouped aggregate on the surviving snapshot.",
    tags=("ktable", "parity"),
)
def ktable_latest_snapshot_agg(spark, sf_dir):
    snap = latest_snapshot(orders_changelog(spark, sf_dir))
    return snap.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "ktable_filter_retraction",
    oracle=_SHAREHOLDERS_CTE
    + """
SELECT exchange,
       CAST(count(*) AS BIGINT) AS live_positions,
       CAST(count(DISTINCT client) AS BIGINT) AS clients
FROM latest
GROUP BY exchange
""",
    doc="KTable.filter retraction semantics (kafka_streams.clj:65-67): keys "
    "whose latest value flipped exchanges count only under the final one.",
    tags=("ktable", "parity"),
)
def ktable_filter_retraction(spark, sf_dir):
    snap = latest_snapshot(shareholders_changelog(spark, sf_dir))
    return snap.groupBy("exchange").agg(
        F.count("*").alias("live_positions"),
        F.countDistinct("client").alias("clients"),
    )


@register(
    "ktable_orders_rollup_by_cust",
    oracle=_ORDERS_CL_CTE
    + """
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
FROM latest
GROUP BY o_custkey
""",
    doc="FIXTURES B2: changelog-on-orders snapshot rolled up per customer — "
    "KTable grouped aggregate at TPC-H shape.",
    headline=True,
    tags=("ktable", "parity"),
)
def ktable_orders_rollup_by_cust(spark, sf_dir):
    snap = latest_snapshot(orders_changelog(spark, sf_dir))
    return snap.groupBy("o_custkey").agg(
        F.expr("count(*) AS n_orders"),
        F.expr("round(sum(o_totalprice), 2) AS total_price"),
    )


@register(
    "ktable_view_deltas",
    oracle=_SHAREHOLDERS_CTE
    + f"""
, half AS (SELECT CAST(max(off) // 2 AS BIGINT) AS cut FROM changelog
), old_latest AS (
  SELECT client, ticker, exchange, tombstone,
         row_number() OVER (PARTITION BY client, ticker ORDER BY off DESC) AS rn,
         client || ':::' || ticker AS key
  FROM changelog, half WHERE off <= cut
), old_view AS (
  SELECT client, {_POSITIONS_AGG}
  FROM old_latest WHERE rn = 1 AND NOT tombstone AND exchange = 'NASDAQ'
  GROUP BY client
), new_view AS (
{_VIEW_CTE_BODY})
SELECT coalesce(o.client, n.client) AS client,
       CASE WHEN o.client IS NULL THEN 'insert'
            WHEN n.client IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       n.positions AS positions
FROM old_view o FULL OUTER JOIN new_view n ON o.client = n.client
WHERE o.client IS NULL OR n.client IS NULL OR o.positions != n.positions
""",
    doc="Derived KTables are changelog streams: the view's own change "
    "records between two points in the log (first half vs full replay) — "
    "(client, insert/update/delete, new-value-or-null), the record shape "
    "a downstream consumer or compacted Kafka sink expects "
    "(kafka_streams.clj:77-79, 94). One |groups|-sized full-outer join.",
    tags=("ktable", "parity", "deltas"),
)
def ktable_view_deltas(spark, sf_dir):
    from ..operators.deltas import view_deltas

    cl = shareholders_changelog(spark, sf_dir)
    cut = cl.agg(F.expr("max(offset) div 2").cast("long").alias("cut"))
    old_cl = cl.crossJoin(F.broadcast(cut)).where(F.col("offset") <= F.col("cut"))
    old_v = shareholders_view(old_cl.select("key", "value", "offset"))
    new_v = shareholders_view(cl)
    return view_deltas(positions_csv(old_v), positions_csv(new_v))


@register(
    "ktable_version_history_scd2",
    oracle=_ORDERS_CL_CTE
    + """
, hist AS (
  SELECT *, lead(off) OVER (PARTITION BY key ORDER BY off) AS valid_to
  FROM changelog
)
SELECT key, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       off AS valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM hist WHERE NOT tombstone
""",
    doc="SCD2 version history from the changelog: every upsert becomes a "
    "version row with [valid_from, valid_to) offset validity; a newer "
    "record or a tombstone closes the interval (the subtractor's nil, "
    "kafka_streams.clj:77-79, viewed temporally). One shuffle by key + "
    "one lead window — the dimension-history build a warehouse runs on "
    "every CDC feed.",
    tags=("ktable", "window"),
)
def ktable_version_history_scd2(spark, sf_dir):
    from ..operators.ktable import version_history

    cl = orders_changelog(spark, sf_dir)
    return version_history(
        cl, ["o_custkey", "o_orderstatus", "o_totalprice"]
    ).select(
        "key",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "valid_from",
        "valid_to",
        "is_current",
    )


@register(
    "ktable_snapshot_asof_offset",
    oracle=_ORDERS_CL_CTE
    + """
, half AS (SELECT CAST(max(off) // 2 AS BIGINT) AS cut FROM changelog
), snap_asof AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn2
    FROM changelog, half WHERE off <= cut
  ) WHERE rn2 = 1 AND NOT tombstone
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
FROM snap_asof GROUP BY o_orderstatus
""",
    doc="Time travel: the KTable snapshot as of a historical log position "
    "(offset ≤ cut), aggregated — the reference can only scan CURRENT "
    "store state (kafka_streams.clj:83-89); retaining the log makes any "
    "past snapshot one pushed-down predicate away.",
    tags=("ktable", "parity"),
)
def ktable_snapshot_asof_offset(spark, sf_dir):
    from ..operators.ktable import snapshot_asof

    cl = orders_changelog(spark, sf_dir)
    cut = cl.agg(F.expr("max(offset) div 2").cast("long").alias("cut"))
    snap = snapshot_asof(cl, cut)
    return snap.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _order_cash(spark, sf_dir):
    """Per-client order cash table: live orders' count and rounded total,
    from the orders changelog's latest snapshot."""
    return (
        latest_snapshot(orders_changelog(spark, sf_dir))
        .groupBy(F.col("o_custkey").cast("string").alias("client"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "ktable_table_table_join",
    oracle=_SHAREHOLDERS_CTE
    + f"""
, view AS (
{_VIEW_CTE_BODY}), ocl AS (
  SELECT o_orderkey AS okey, o_custkey, o_totalprice,
         o_orderkey * 3 AS ooff, FALSE AS otomb
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2,
         o_orderkey * 3 + 1, FALSE
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, o_orderkey * 3 + 2, TRUE
  FROM orders WHERE o_orderkey % 20 = 0
), olatest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY okey ORDER BY ooff DESC) AS orn
    FROM ocl
  ) WHERE orn = 1 AND NOT otomb
), cash AS (
  SELECT CAST(o_custkey AS VARCHAR) AS client,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
  FROM olatest GROUP BY 1
)
SELECT v.client, v.positions, c.n_orders, c.total_price
FROM view v JOIN cash c ON v.client = c.client
""",
    doc="KTable-KTable equi-join — the one Kafka Streams 0.10.1 DSL operator "
    "the reference's topology doesn't call (KStreams offers "
    "KTable.join(KTable); SURVEY §2 Table B): the NASDAQ-positions view "
    "joined with an independently-maintained per-client order-cash view, "
    "both snapshot-derived from their own changelogs. In KStreams this "
    "join is co-partitioned by key; Spark's shuffle provides the same "
    "co-location, and each side's aggregation already partitioned by the "
    "join key, so AQE plans the join without an extra exchange.",
    tags=("ktable", "parity", "join"),
)
def ktable_table_table_join(spark, sf_dir):
    view = positions_csv(shareholders_view(shareholders_changelog(spark, sf_dir)))
    return view.join(_order_cash(spark, sf_dir), "client")


@register(
    "ktable_range_scan",
    oracle=_SHAREHOLDERS_CTE
    + """
SELECT key, off AS offset, client, key AS id, ticker, exchange
FROM latest
WHERE key >= '2' AND key < '3'
""",
    doc="Store range scan — the ReadOnlyKeyValueStore.range(from, to) "
    "interactive-query analog (KStreams offers .range; the reference only "
    "calls .all() at kafka_streams.clj:85). Lexicographic key range over "
    "the latest-per-key store; the range predicate is on the group key, so "
    "Catalyst pushes it below the max_by aggregation — only keys in range "
    "shuffle, the store is never fully materialized.",
    tags=("ktable", "parity"),
)
def ktable_range_scan(spark, sf_dir):
    snap = latest_snapshot(shareholders_changelog(spark, sf_dir))
    return snap.where((F.col("key") >= "2") & (F.col("key") < "3")).select(
        "key", "offset", "client", "id", "ticker", "exchange"
    )


@register(
    "kafka_wire_changelog_view",
    oracle=_SHAREHOLDERS_VIEW,
    doc="The reference's view computed from KAFKA-WIRE-SHAPED records: the "
    "shareholders changelog is re-encoded as the Kafka source's record "
    "shape (key binary, value json-binary-or-NULL tombstone, partition "
    "int, offset long — 4 partitions like docker-compose.yml:13), parsed "
    "back through sources/kafka.py::parse_changelog_records (binary cast, "
    "from_json null passthrough, (partition<<40)|offset total order), then "
    "run through the standard topology. Result must equal "
    "ktable_shareholders_view bit-for-bit — proving the Kafka ingress path "
    "is semantics-preserving, with only the broker swap left for a real "
    "deployment.",
    tags=("ktable", "parity", "kafka"),
)
def kafka_wire_changelog_view(spark, sf_dir):
    from ..sources.kafka import parse_changelog_records

    cl = shareholders_changelog(spark, sf_dir)
    raw = cl.select(
        F.encode(F.col("key"), "UTF-8").alias("key"),
        F.when(
            F.col("value").isNotNull(), F.encode(F.to_json("value"), "UTF-8")
        ).alias("value"),
        F.pmod(F.col("value.client").cast("int"), F.lit(4))
        .cast("int")
        .alias("partition"),
        F.col("offset"),
    )
    # tombstones carry no value struct to derive the partition from; a real
    # producer hashes the KEY — derive it the same way (client is the key
    # prefix), so tombstone and upsert records for one key share a partition
    raw = raw.withColumn(
        "partition",
        F.pmod(F.split(F.col("key").cast("string"), ":::")[0].cast("int"), F.lit(4))
        .cast("int"),
    )
    return positions_csv(shareholders_view(parse_changelog_records(raw)))


@register(
    "ktable_snapshot_diff",
    oracle=_ORDERS_CL_CTE
    + """
, half AS (SELECT CAST(max(off) // 2 AS BIGINT) AS cut FROM changelog)
, old_snap AS (
  SELECT key, o_orderstatus, o_totalprice FROM (
    SELECT key, o_orderstatus, o_totalprice, tombstone,
           ROW_NUMBER() OVER (PARTITION BY key ORDER BY off DESC) AS rn2
    FROM changelog, half WHERE off <= cut
  ) WHERE rn2 = 1 AND NOT tombstone
)
SELECT coalesce(o.key, n.key) AS key,
       CASE WHEN o.key IS NULL THEN 'insert'
            WHEN n.key IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       o.o_orderstatus AS old_o_orderstatus,
       round(CAST(o.o_totalprice AS DOUBLE), 2) AS old_o_totalprice,
       n.o_orderstatus AS new_o_orderstatus,
       round(CAST(n.o_totalprice AS DOUBLE), 2) AS new_o_totalprice
FROM old_snap o FULL OUTER JOIN latest n ON o.key = n.key
WHERE o.key IS NULL OR n.key IS NULL
   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
""",
    doc="Snapshot-to-snapshot CDC diff: materialize the KTable as of the "
    "log midpoint and as of the head, then emit insert/update/delete rows "
    "for every key whose state changed between the two cuts — the batch "
    "reconstruction of the per-record change trace the reference prints "
    "(kafka_streams.clj:94). One full-outer join on the key; null-safe "
    "column comparison (eqNullSafe / IS DISTINCT FROM) so NULL values "
    "diff correctly.",
    tags=("ktable", "parity", "cdc"),
)
def ktable_snapshot_diff(spark, sf_dir):
    from ..operators.ktable import snapshot_asof, snapshot_diff

    cl = orders_changelog(spark, sf_dir)
    cut = cl.agg(F.expr("max(offset) div 2").cast("long").alias("cut"))
    old = snapshot_asof(cl, cut)
    new = latest_snapshot(cl)
    diff = snapshot_diff(old, new, "key", ["o_orderstatus", "o_totalprice"])
    return diff.select(
        "key",
        "change_type",
        "old_o_orderstatus",
        F.round("old_o_totalprice", 2).alias("old_o_totalprice"),
        "new_o_orderstatus",
        F.round("new_o_totalprice", 2).alias("new_o_totalprice"),
    )


@register(
    "ktable_branch_split",
    oracle=_SHAREHOLDERS_CTE
    + """
SELECT CASE WHEN exchange = 'NASDAQ' THEN 'nasdaq'
            WHEN exchange = 'LON' THEN 'lon'
            ELSE 'other' END AS branch,
       CAST(count(*) AS BIGINT) AS n_positions,
       CAST(count(DISTINCT client) AS BIGINT) AS n_clients
FROM latest GROUP BY 1
""",
    doc="KStream.branch analog (KStreams 0.10.1 DSL surface the reference "
    "never calls): the live snapshot split into disjoint predicate "
    "branches (NASDAQ / LON / catch-all) in ONE scan — a single CASE "
    "column instead of N filtered passes — then per-branch position and "
    "client counts. At 100 TB branching by predicate costs one pass "
    "regardless of branch count.",
    tags=("ktable", "parity", "dsl"),
)
def ktable_branch_split(spark, sf_dir):
    snap = latest_snapshot(shareholders_changelog(spark, sf_dir))
    branch = (
        F.when(F.col("exchange") == "NASDAQ", "nasdaq")
        .when(F.col("exchange") == "LON", "lon")
        .otherwise("other")
    )
    return snap.groupBy(branch.alias("branch")).agg(
        F.count("*").alias("n_positions"),
        F.count_distinct("client").alias("n_clients"),
    )


@register(
    "ktable_mapvalues_filternot",
    oracle=_SHAREHOLDERS_CTE
    + """
SELECT key, ticker || '@' || exchange AS mapped
FROM latest WHERE NOT (exchange = 'NASDAQ')
""",
    doc="KTable.filterNot + KTable.mapValues analogs (KStreams 0.10.1 DSL "
    "surface the reference never calls): inverse-predicate filter with "
    "retraction-by-recompute semantics (SURVEY §4.3) followed by a "
    "value-space projection — key preserved, value rewritten, no "
    "repartition (mapValues' no-rekey contract is exactly a narrow "
    "Spark projection).",
    tags=("ktable", "parity", "dsl"),
)
def ktable_mapvalues_filternot(spark, sf_dir):
    snap = latest_snapshot(shareholders_changelog(spark, sf_dir))
    return snap.where(~(F.col("exchange") == "NASDAQ")).select(
        "key", F.concat_ws("@", "ticker", "exchange").alias("mapped")
    )


@register(
    "ktable_table_outer_join",
    oracle=_SHAREHOLDERS_CTE
    + f"""
, view AS (
{_VIEW_CTE_BODY}), ocl AS (
  SELECT o_orderkey AS okey, o_custkey, o_totalprice,
         o_orderkey * 3 AS ooff, FALSE AS otomb
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 2,
         o_orderkey * 3 + 1, FALSE
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, o_orderkey * 3 + 2, TRUE
  FROM orders WHERE o_orderkey % 20 = 0
), olatest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY okey ORDER BY ooff DESC) AS orn
    FROM ocl
  ) WHERE orn = 1 AND NOT otomb
), cash AS (
  SELECT CAST(o_custkey AS VARCHAR) AS client,
         CAST(count(*) AS BIGINT) AS n_orders,
         round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_price
  FROM olatest GROUP BY 1
)
SELECT coalesce(v.client, c.client) AS client,
       v.positions, c.n_orders, c.total_price,
       v.client IS NOT NULL AS has_positions,
       c.client IS NOT NULL AS has_cash
FROM view v FULL OUTER JOIN cash c ON v.client = c.client
""",
    doc="KTable.outerJoin(KTable) — the KStreams 0.10.1 DSL's outer table "
    "join (SURVEY §2 Table B; the reference calls none of the join "
    "family): a row exists in the result while EITHER side's table has "
    "the key, null-padded on the absent side; when the last side's key "
    "is tombstoned the result row vanishes — which snapshot-recompute "
    "gives for free, exactly like the nil-deletes-row rule "
    "(kafka_streams.clj:77-79). Both inputs arrive partitioned by the "
    "join key from their own aggregations, so the full outer join adds "
    "no exchange.",
    tags=("ktable", "parity", "join"),
)
def ktable_table_outer_join(spark, sf_dir):
    view = positions_csv(shareholders_view(shareholders_changelog(spark, sf_dir)))
    v = view.alias("v")
    c = _order_cash(spark, sf_dir).alias("c")
    return (
        v.join(c, F.col("v.client") == F.col("c.client"), "full_outer")
        .select(
            F.coalesce(F.col("v.client"), F.col("c.client")).alias("client"),
            "positions",
            "n_orders",
            "total_price",
            F.col("v.client").isNotNull().alias("has_positions"),
            F.col("c.client").isNotNull().alias("has_cash"),
        )
    )


# corruption injection rule shared by the two corrupt-wire queries (and
# replayed verbatim by their oracles): non-tombstone values at off%13==0
# truncate to 10 bytes, at off%17==0 become empty bytes; keys at off%19==0
# are nulled. Tombstones (wire NULL) stay legitimate deletes throughout.
_CORRUPT_EXCLUDE_SQL = (
    "((NOT tombstone AND (off % 13 = 0 OR off % 17 = 0)) OR off % 19 = 0)"
)


def _corrupt_wire_records(spark, sf_dir):
    from ..sources.changelog import shareholders_changelog

    cl = shareholders_changelog(spark, sf_dir)
    val_json = F.to_json("value")
    good_val = F.when(
        F.col("value").isNotNull(), F.encode(val_json, "UTF-8")
    )
    corrupted_val = (
        F.when(
            F.col("value").isNotNull() & (F.col("offset") % 13 == 0),
            F.encode(F.substring(val_json, 1, 10), "UTF-8"),  # truncated JSON
        )
        .when(
            F.col("value").isNotNull() & (F.col("offset") % 17 == 0),
            F.encode(F.lit(""), "UTF-8"),  # empty (not null!) payload
        )
        .otherwise(good_val)
    )
    return cl.select(
        F.when(F.col("offset") % 19 != 0, F.encode(F.col("key"), "UTF-8"))
        .alias("key"),
        corrupted_val.alias("value"),
        F.pmod(F.split(F.col("key"), ":::")[0].cast("int"), F.lit(4))
        .cast("int")
        .alias("partition"),
        F.col("offset"),
    )


@register(
    "kafka_wire_corrupt_view",
    oracle=_SHAREHOLDERS_CTE.replace(
        "), keyed AS (",
        "), filtered AS (\n"
        "  SELECT * FROM changelog\n"
        "  WHERE NOT ((NOT tombstone AND (off % 13 = 0 OR off % 17 = 0))\n"
        "             OR off % 19 = 0)\n"
        "), keyed AS (",
    ).replace("FROM changelog\n  ), keyed", "FROM changelog\n  ), keyed")
    .replace("SELECT client || ':::' || ticker AS key, * FROM changelog",
             "SELECT client || ':::' || ticker AS key, * FROM filtered")
    + "\n"
    + _VIEW_SELECT,
    doc="Malformed-record hardening (kafka_streams.clj:21-26 NotSerializeNil "
    "parity): the shareholders changelog is wire-encoded, then corrupted — "
    "truncated JSON at off%13, EMPTY (non-null) payloads at off%17, null "
    "keys at off%19 — and parsed with sources/kafka.py's quarantine "
    "policy. Corrupt records are dropped (NOT mistaken for tombstones: a "
    "naive from_json null is a silent DELETE), wire-NULL tombstones still "
    "delete, and the resulting view equals a clean replay that excludes "
    "exactly the corrupted offsets.",
    tags=("ktable", "parity", "kafka"),
)
def kafka_wire_corrupt_view(spark, sf_dir):
    from ..sources.kafka import parse_changelog_records

    parsed = parse_changelog_records(_corrupt_wire_records(spark, sf_dir))
    return positions_csv(shareholders_view(parsed))


@register(
    "kafka_wire_quarantine_audit",
    oracle="""
WITH changelog AS MATERIALIZED (
  SELECT CAST(o_custkey AS VARCHAR) AS client,
         o_orderkey AS off,
         (o_orderkey % 11 = 0) AS tombstone
  FROM orders
)
SELECT reason, CAST(count(*) AS BIGINT) AS n_records FROM (
  SELECT CASE WHEN off % 19 = 0 THEN 'null_key' ELSE 'malformed_value' END
           AS reason
  FROM changelog
  WHERE (NOT tombstone AND (off % 13 = 0 OR off % 17 = 0)) OR off % 19 = 0
) GROUP BY reason
""",
    doc="The dead-letter side of the corrupt-wire parse: quarantined "
    "records counted by reason (null_key beats malformed_value when both "
    "apply). Together with kafka_wire_corrupt_view this proves record "
    "conservation — every wire record lands in exactly one of "
    "{changelog, quarantine}.",
    tags=("ktable", "parity", "kafka"),
)
def kafka_wire_quarantine_audit(spark, sf_dir):
    from ..sources.kafka import quarantined_changelog_records

    q = quarantined_changelog_records(_corrupt_wire_records(spark, sf_dir))
    return q.groupBy("reason").agg(F.count("*").alias("n_records"))


@register(
    "ktable_global_table_join",
    oracle=_SHAREHOLDERS_CTE
    + """
, dim AS (
  SELECT DISTINCT ticker,
         'S' || CAST(CAST(substr(ticker, 2) AS INT) % 3 AS VARCHAR)
           AS sector
  FROM latest
)
SELECT d.sector,
       CAST(count(*) AS BIGINT) AS n_positions,
       CAST(count(DISTINCT l.client) AS BIGINT) AS n_clients
FROM latest l JOIN dim d ON l.ticker = d.ticker
GROUP BY d.sector
""",
    doc="GlobalKTable join (the KStreams 0.10.2 DSL completion, one "
    "release past the reference's 0.10.1 topology): the KTable snapshot "
    "joins a small fully-replicated dimension (ticker -> sector) on a "
    "NON-KEY column — exactly what GlobalKTable exists for, joining "
    "without re-keying/co-partitioning the stream side. On Spark the "
    "full replication IS a broadcast hash join: the snapshot keeps its "
    "(client:::ticker) partitioning, the dim ships to every task, no "
    "repartition topic / Exchange on the big side (the plan shape "
    "test_plans.py pins for broadcast dims). Rollup: positions and "
    "distinct clients per sector.",
    tags=("ktable", "join", "parity"),
)
def ktable_global_table_join(spark, sf_dir):
    cl = shareholders_changelog(spark, sf_dir)
    snap = latest_snapshot(cl).select("client", "ticker")
    dim = (
        snap.select("ticker")
        .distinct()
        .select(
            "ticker",
            F.concat(
                F.lit("S"),
                (F.substring("ticker", 2, 10).cast("int") % 3).cast(
                    "string"
                ),
            ).alias("sector"),
        )
    )
    return (
        snap.join(F.broadcast(dim), "ticker")
        .groupBy("sector")
        .agg(
            F.count("*").alias("n_positions"),
            F.count_distinct("client").alias("n_clients"),
        )
    )


@register(
    "ktable_per_record_trace",
    oracle=_SHAREHOLDERS_CTE
    + """
, ivals AS MATERIALIZED (
  SELECT client, key AS id, exchange, tombstone, off,
         lead(off) OVER (PARTITION BY key ORDER BY off) AS nxt
  FROM keyed
), vis AS (
  SELECT client, id, off, nxt FROM ivals
  WHERE NOT tombstone AND exchange = 'NASDAQ'
), recs AS (
  SELECT client, off FROM keyed
), sets AS (
  SELECT r.client, r.off,
         coalesce(string_agg(v.id, ',' ORDER BY v.id), '') AS positions
  FROM recs r LEFT JOIN vis v
    ON v.client = r.client AND v.off <= r.off
   AND (v.nxt IS NULL OR r.off < v.nxt)
  GROUP BY r.client, r.off
)
SELECT client, off AS offset, positions FROM (
  SELECT client, off, positions,
         coalesce(lag(positions) OVER (PARTITION BY client ORDER BY off),
                  '') AS prev
  FROM sets
) WHERE positions <> prev
""",
    doc="The reference's PER-RECORD emission trace, reconstructed "
    "deterministically in batch — closing the one semantic delta "
    "SURVEY §7.4 ranks hardest: with CACHE_MAX_BYTES_BUFFERING=0 "
    "(kafka_streams.clj:51) the reference prints the updated client "
    "set after EVERY input record; micro-batching conflates those "
    "intra-batch updates. This query recovers the full cache=0 trace "
    "from the log alone: each key's records become SCD2-style "
    "validity intervals, every input offset probes its client's "
    "visible (non-tombstone, NASDAQ) intervals — an interval join "
    "whose fan-out is positions-per-client, not corpus size — and a "
    "per-client lag() drops no-op emissions, leaving exactly the "
    "sequence of distinct view states the reference's print sink "
    "would show, at every offset granularity. Contract: emit-on-"
    "change of the VISIBLE set (the aggregate's output), the same "
    "observable the reference's debug sink records.",
    tags=("ktable", "parity", "trace"),
)
def ktable_per_record_trace(spark, sf_dir):
    from pyspark.sql import Window as W

    cl = shareholders_changelog(spark, sf_dir)
    keyed = cl.select(
        "key",
        F.split("key", ":::").getItem(0).alias("client"),
        F.col("value.exchange").alias("exchange"),
        F.col("value").isNull().alias("tombstone"),
        F.col("offset").alias("off"),
    )
    ivals = keyed.withColumn(
        "nxt", F.lead("off").over(W.partitionBy("key").orderBy("off"))
    )
    vis = ivals.where(
        (~F.col("tombstone")) & (F.col("exchange") == "NASDAQ")
    ).select(
        F.col("client").alias("v_client"),
        F.col("key").alias("id"),
        F.col("off").alias("v_off"),
        "nxt",
    )
    recs = keyed.select("client", "off")
    sets = (
        recs.join(
            vis,
            (F.col("v_client") == F.col("client"))
            & (F.col("v_off") <= F.col("off"))
            & (F.col("nxt").isNull() | (F.col("off") < F.col("nxt"))),
            "left",
        )
        .groupBy("client", "off")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("id"))).alias(
                "positions"
            )
        )
    )
    w = W.partitionBy("client").orderBy("off")
    return (
        sets.withColumn(
            "prev", F.coalesce(F.lag("positions").over(w), F.lit(""))
        )
        .where(F.col("positions") != F.col("prev"))
        .select("client", F.col("off").alias("offset"), "positions")
    )


@register(
    "ktable_keyset_pagination",
    oracle=_SHAREHOLDERS_CTE
    + """
SELECT key, client, ticker, exchange
FROM latest
WHERE key > '3' AND exchange = 'NASDAQ'
ORDER BY key LIMIT 50
""",
    doc="KEYSET pagination of the interactive store scan — page-after-"
    "cursor (key > last-seen, ORDER BY key, LIMIT page) instead of "
    "OFFSET, which re-scans and re-sorts everything it skips and so "
    "collapses at deep pages; the keyset predicate pushes down to the "
    "scan and the page costs the same whether it is page 2 or page "
    "2000 — the only pagination that survives a store of 10^9 keys "
    "(and what the reference's .range(from,to) store API paginates "
    "with naturally). TakeOrdered keeps the limit a partial top-k, "
    "no global sort.",
    tags=("ktable", "parity", "pagination"),
)
def ktable_keyset_pagination(spark, sf_dir):
    cl = shareholders_changelog(spark, sf_dir)
    snap = latest_snapshot(cl)
    return (
        snap.where(
            (F.col("key") > "3") & (F.col("exchange") == "NASDAQ")
        )
        .select("key", "client", "ticker", "exchange")
        .orderBy("key")
        .limit(50)
    )


@register(
    "scd2_interval_audit",
    oracle=_ORDERS_CL_CTE
    + """
, hist AS (
  SELECT key, off AS valid_from,
         lead(off) OVER (PARTITION BY key ORDER BY off) AS valid_to,
         tombstone
  FROM changelog
), audited AS (
  SELECT key,
         count(*) AS n_versions,
         count(*) FILTER (WHERE valid_to IS NULL AND NOT tombstone)
           AS n_open,
         count(*) FILTER (WHERE valid_to IS NOT NULL
                          AND valid_to <= valid_from) AS n_inverted,
         max(valid_from) AS last_change_off
  FROM hist GROUP BY key
)
SELECT CAST(n_versions AS BIGINT) AS n_versions,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n_open) AS BIGINT) AS n_open_rows,
       CAST(sum(n_inverted) AS BIGINT) AS n_inverted_intervals,
       CAST(max(last_change_off) AS BIGINT) AS max_offset
FROM audited GROUP BY n_versions
""",
    doc="SCD2 temporal-integrity audit — the invariants a validity-"
    "interval table must hold before anyone trusts a temporal join "
    "(join_temporal_dim_asof): per key, version counts, at most one "
    "open (non-tombstoned, valid_to null) row, and ZERO inverted "
    "intervals (valid_to <= valid_from), rolled up by version-count "
    "cohort so the report is dimension-sized and non-vacuous (the "
    "violation columns read 0 on healthy data, but they sit inside "
    "populated cohort rows — an auditor sees the denominator, not "
    "just an empty violations list). Same lead() build as the SCD2 "
    "view itself, so the audit costs one window pass.",
    tags=("ktable", "scd2", "qa"),
)
def scd2_interval_audit(spark, sf_dir):
    from pyspark.sql import Window as W

    cl = orders_changelog(spark, sf_dir)
    hist = cl.select(
        "key",
        F.col("offset").alias("valid_from"),
        F.col("value").isNull().alias("tombstone"),
    ).withColumn(
        "valid_to",
        F.lead("valid_from").over(W.partitionBy("key").orderBy("valid_from")),
    )
    audited = hist.groupBy("key").agg(
        F.count("*").alias("n_versions"),
        F.count(
            F.when(F.col("valid_to").isNull() & ~F.col("tombstone"), 1)
        ).alias("n_open"),
        F.count(
            F.when(
                F.col("valid_to").isNotNull()
                & (F.col("valid_to") <= F.col("valid_from")),
                1,
            )
        ).alias("n_inverted"),
        F.max("valid_from").alias("last_change_off"),
    )
    return audited.groupBy("n_versions").agg(
        F.count("*").alias("n_keys"),
        F.sum("n_open").cast("long").alias("n_open_rows"),
        F.sum("n_inverted").cast("long").alias("n_inverted_intervals"),
        F.max("last_change_off").cast("long").alias("max_offset"),
    ).select(
        F.col("n_versions").cast("long").alias("n_versions"),
        "n_keys",
        "n_open_rows",
        "n_inverted_intervals",
        "max_offset",
    )


@register(
    "ktable_store_metrics",
    oracle=_SHAREHOLDERS_CTE
    + """
SELECT k.ticker,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(count(DISTINCT k.key) AS BIGINT) AS n_keys,
       CAST(count(*) FILTER (WHERE k.tombstone) AS BIGINT) AS n_tombstones,
       CAST((SELECT count(*) FROM latest l
             WHERE l.ticker = k.ticker) AS BIGINT) AS live_keys
FROM keyed k GROUP BY k.ticker
""",
    doc="Store introspection metrics — the per-store gauges Kafka "
    "Streams exposes over JMX (record counts, key cardinality, "
    "tombstone share, live entries after compaction), recomputed "
    "relationally per ticker from the log + the latest snapshot: "
    "n_records/n_keys is the compaction amplification factor, "
    "n_keys - live_keys the tombstoned remainder. The ops surface "
    "that sits NEXT to the interactive query API — capacity planning "
    "reads these before anyone scans state. Two dimension-sized "
    "aggregations over relations the engine already maintains.",
    tags=("ktable", "parity", "ops"),
)
def ktable_store_metrics(spark, sf_dir):
    cl = shareholders_changelog(spark, sf_dir)
    keyed = cl.select(
        "key",
        F.split("key", ":::").getItem(1).alias("ticker"),
        F.col("value").isNull().alias("tombstone"),
    )
    per_log = keyed.groupBy("ticker").agg(
        F.count("*").alias("n_records"),
        F.count_distinct("key").alias("n_keys"),
        F.count(F.when(F.col("tombstone"), 1)).alias("n_tombstones"),
    )
    live = (
        latest_snapshot(cl)
        .groupBy("ticker")
        .agg(F.count("*").alias("live_keys"))
    )
    return per_log.join(live, "ticker", "left").select(
        "ticker",
        "n_records",
        "n_keys",
        "n_tombstones",
        F.coalesce("live_keys", F.lit(0)).cast("long").alias("live_keys"),
    )


@register(
    "ktable_bitemporal_asof",
    oracle="""
WITH bt AS MATERIALIZED (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         o_orderkey * 10 AS valid_from, o_orderkey * 10 AS txn
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'C', o_orderkey * 10, o_orderkey * 10 + 5
  FROM orders WHERE o_orderkey % 7 = 0
), cut AS (SELECT max(key) * 10 AS tmax FROM bt),
belief1 AS (
  SELECT key, status FROM (
    SELECT key, status,
           row_number() OVER (PARTITION BY key
                              ORDER BY txn DESC, valid_from DESC) AS rn
    FROM bt, cut WHERE txn <= tmax  -- T1: corrections not yet arrived
  ) WHERE rn = 1
), belief2 AS (
  SELECT key, status FROM (
    SELECT key, status,
           row_number() OVER (PARTITION BY key
                              ORDER BY txn DESC, valid_from DESC) AS rn
    FROM bt  -- T2: all transactions known
  ) WHERE rn = 1
)
SELECT b2.status,
       CAST((SELECT count(*) FROM belief1 b1
             WHERE b1.status = b2.status) AS BIGINT) AS n_at_t1,
       CAST(count(*) AS BIGINT) AS n_at_t2,
       CAST(count(*) FILTER (
         WHERE (SELECT b1.status FROM belief1 b1 WHERE b1.key = b2.key)
               <> b2.status) AS BIGINT) AS n_revised_into
FROM belief2 b2 GROUP BY b2.status
""",
    doc="BITEMPORAL as-of — transaction time joins valid time (the "
    "SQL:2011 system+application period pair, and the audit question "
    "snapshot_asof alone cannot answer): late CORRECTION records "
    "restate history (same valid_from, later txn), and the query "
    "reports what the store believed about each key at transaction "
    "cut T1 (corrections not yet arrived) vs T2 (all known), with "
    "per-status revision counts — 'what did we know and when did we "
    "know it'. Belief resolution is latest-txn-wins then "
    "latest-valid-wins, one window per cut; at scale both cuts are "
    "pushed-down predicates over the same txn-ordered log the KTable "
    "already keeps.",
    tags=("ktable", "parity", "scd2"),
)
def ktable_bitemporal_asof(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_orderkey") * 10).alias("valid_from"),
        (F.col("o_orderkey") * 10).alias("txn"),
    )
    corr = orders.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit("C").alias("status"),
        (F.col("o_orderkey") * 10).alias("valid_from"),
        (F.col("o_orderkey") * 10 + 5).alias("txn"),
    )
    bt = base.unionByName(corr)
    cut = bt.agg((F.max("key") * 10).alias("tmax"))
    w = W.partitionBy("key").orderBy(
        F.col("txn").desc(), F.col("valid_from").desc()
    )

    def belief(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("key", "status")
        )

    b1 = belief(
        bt.crossJoin(F.broadcast(cut)).where(F.col("txn") <= F.col("tmax"))
    )
    b2 = belief(bt)
    t1_counts = b1.groupBy("status").agg(F.count("*").alias("n_at_t1"))
    revised = (
        b2.join(
            b1.select(
                F.col("key").alias("k1"), F.col("status").alias("s1")
            ),
            b2["key"] == F.col("k1"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_at_t2"),
            F.count(F.when(F.col("s1") != F.col("status"), 1)).alias(
                "n_revised_into"
            ),
        )
    )
    return revised.join(F.broadcast(t1_counts), "status", "left").select(
        "status",
        F.coalesce("n_at_t1", F.lit(0)).cast("long").alias("n_at_t1"),
        "n_at_t2",
        "n_revised_into",
    )


@register(
    "ktable_tombstone_rate_trend",
    oracle=_SHAREHOLDERS_CTE
    + """
, mx AS (SELECT max(off) + 1 AS mo FROM keyed)
SELECT CAST(k.off * 10 // mx.mo AS INT) AS offset_decile,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(count(*) FILTER (WHERE k.tombstone) AS BIGINT) AS n_tombstones,
       CAST(count(*) FILTER (WHERE k.tombstone) * 10000 // count(*)
            AS BIGINT) AS tombstone_rate_e4
FROM keyed k CROSS JOIN mx
GROUP BY 1
""",
    doc="Changelog HEALTH trend: tombstone share per offset decile of "
    "the log — a rising curve means deletes are accelerating (churn, "
    "or an upstream bug mass-retracting state) and compaction debt is "
    "building; flat means steady state. Decile edges derive from the "
    "log's own max offset (scale-invariant), the rate is exact "
    "integer, and the whole audit is one scan + a 10-row rollup over "
    "data the KTable pipeline already reads. Pairs with "
    "ktable_store_metrics' per-ticker point-in-time view: this is "
    "the same health question over TIME.",
    tags=("ktable", "parity", "ops"),
)
def ktable_tombstone_rate_trend(spark, sf_dir):
    cl = shareholders_changelog(spark, sf_dir)
    keyed = cl.select(
        F.col("offset").alias("off"),
        F.col("value").isNull().alias("tombstone"),
    )
    mx = keyed.agg((F.max("off") + 1).alias("mo"))
    return (
        keyed.crossJoin(F.broadcast(mx))
        .groupBy(
            F.expr("CAST(off * 10 div mo AS INT)").alias("offset_decile")
        )
        .agg(
            F.count("*").alias("n_records"),
            F.count(F.when(F.col("tombstone"), 1)).alias("n_tombstones"),
            F.expr(
                "CAST(count(CASE WHEN tombstone THEN 1 END) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("tombstone_rate_e4"),
        )
    )


@register(
    "ktable_flatmapvalues_tokens",
    oracle=_SHAREHOLDERS_CTE
    + """
SELECT key, unnest([ticker, exchange]) AS part
FROM latest WHERE exchange = 'NASDAQ'
""",
    doc="KStream.flatMapValues analog (one record in, N records out — the "
    "last 0.10.1 DSL arrow without a parity query): each NASDAQ "
    "position's value splits into its component atoms (ticker, "
    "exchange) as separate records under the same key. In Spark this "
    "is a generator expression (explode) fused into the scan stage — "
    "no shuffle, no Python — which is exactly flatMapValues' "
    "no-repartition contract (key unchanged, value multiplied).",
    tags=("ktable", "parity", "dsl"),
)
def ktable_flatmapvalues_tokens(spark, sf_dir):
    snap = latest_snapshot(shareholders_changelog(spark, sf_dir))
    return snap.where(F.col("exchange") == "NASDAQ").select(
        "key",
        F.explode(F.array(F.col("ticker"), F.col("exchange"))).alias("part"),
    )


@register(
    "ktable_through_rekey_copartition",
    oracle=_SHAREHOLDERS_CTE
    + """
SELECT exchange,
       CAST(count(*) AS BIGINT) AS n_positions,
       CAST(count(DISTINCT client) AS BIGINT) AS n_clients
FROM latest GROUP BY exchange
""",
    doc="KStream.through analog — the explicit rekey-via-topic that "
    "co-partitions a stream before a keyed operation: the latest "
    "snapshot is repartitioned by its new key (exchange) and the "
    "downstream aggregate then runs partition-local. In Spark the "
    "repartition IS the aggregate's hash exchange — Catalyst inserts "
    "exactly one, proving 'through + groupByKey' collapses to a "
    "single shuffle (plan-pinned: one Exchange hashpartitioning on "
    "exchange feeds the partial-agg pair). The distinct-client count "
    "rides the same exchange via partial aggregation.",
    tags=("ktable", "parity", "dsl"),
)
def ktable_through_rekey_copartition(spark, sf_dir):
    snap = latest_snapshot(shareholders_changelog(spark, sf_dir))
    return snap.repartition(F.col("exchange")).groupBy("exchange").agg(
        F.count("*").cast("long").alias("n_positions"),
        F.countDistinct("client").cast("long").alias("n_clients"),
    )
