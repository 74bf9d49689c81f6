"""Changelog synthesis — the reference's data contract over parquet inputs.

The reference's input is a compacted Kafka topic of ``(String key,
EDN-value-or-null)`` records where a null value is a tombstone
(`our-service/src/our_service/kafka_streams.clj:21-26`,
`our-service/src/our_service/fake_producer.clj:24-36`). We model that
contract as a DataFrame::

    key STRING | BIGINT, value STRUCT<...> (null = tombstone), offset BIGINT

``offset`` is the per-key total order (the compaction "latest wins" key —
`docker-compose.yml:13`). Two synthetic changelogs are derived
deterministically from the driver's parquet tables so the SQL oracle can
derive the identical stream (FIXTURES.md §B2):

- ``orders_changelog``: key = o_orderkey; every order gets a base record,
  keys % 10 == 0 get a later update (price uplift), keys % 20 == 0 end
  with a tombstone.
- ``shareholders_changelog``: the reference's share-position domain
  (`fake_producer.clj:24-36`) synthesized from orders — key =
  "client:::ticker", value = {client, id, ticker, exchange, amount},
  tombstones for o_orderkey % 11 == 0. Multiple orders collide on the
  same key at different offsets, exercising latest-wins and
  exchange-flip retraction (`kafka_streams.clj:65-67`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import load_table

# Schema of the reference's share-holders changelog value
# (fake_producer.clj:31-36): {client, id, ticker, exchange, amount}.
POSITION_SCHEMA = T.StructType(
    [
        T.StructField("client", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("ticker", T.StringType()),
        T.StructField("exchange", T.StringType()),
        T.StructField("amount", T.IntegerType()),
    ]
)

CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), nullable=False),
        T.StructField("value", POSITION_SCHEMA, nullable=True),
        T.StructField("offset", T.LongType(), nullable=False),
    ]
)


def changelog_from_rows(spark: SparkSession, rows) -> DataFrame:
    """Build a share-holders changelog from python rows.

    ``rows`` is a list of (key, value_dict_or_None, offset). Used by tests
    to replay the reference's golden scenario (fake_producer.clj:48-54).
    """
    data = [
        (
            key,
            None
            if value is None
            else (
                value["client"],
                value["id"],
                value["ticker"],
                value["exchange"],
                value["amount"],
            ),
            offset,
        )
        for key, value, offset in rows
    ]
    return spark.createDataFrame(data, CHANGELOG_SCHEMA)


def from_wire_json(wire: DataFrame) -> DataFrame:
    """JSON wire records ``(key, value_json, offset)`` → the changelog
    contract: ``value_json`` parses into the position struct, and a null
    (tombstone) stays null (`kafka_streams.clj:21-26`)."""
    return wire.select(
        "key", F.from_json("value_json", POSITION_SCHEMA).alias("value"), "offset"
    )


def orders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic upsert/delete changelog keyed by o_orderkey.

    value struct: (o_custkey, o_orderstatus, o_totalprice). Base record at
    offset 3k; update (status 'U', price * 2 — binary-exact so float sums
    stay oracle-comparable) at 3k+1 for keys % 10 == 0;
    tombstone (null value) at 3k+2 for keys % 20 == 0.
    """
    # ONE pass over orders derives all three record kinds (base / update /
    # tombstone) as an inline record array, exploded row-side — the union
    # form read the table three times (3x scan I/O at 100 TB; three scan
    # stages locally). Record multiset is identical to the old union; the
    # value dtype is taken from the table schema so no field type shifts.
    # The null slots are dropped with a relational WHERE after the explode,
    # NOT a filter() lambda on the array: the higher-order function is
    # evaluated interpreted per row, and at the 100x replica (15M orders)
    # that one lambda cost 7.7 s vs 2.6 s for the codegen'd WHERE form
    # (measured r6, SCALING.md "Single-scan changelog A/B at scale").
    # Expression-string construction (r10): the Column form of this fanout
    # cost ~35 py4j round trips (~6 ms each) per consumer build; the
    # strings assemble the identical record array in one selectExpr call.
    orders = load_table(spark, sf_dir, "orders")
    sch = orders.schema
    vddl = T.StructType(
        [sch["o_custkey"], sch["o_orderstatus"], sch["o_totalprice"]]
    ).simpleString()
    val = (
        "named_struct('o_custkey', o_custkey, 'o_orderstatus', o_orderstatus,"
        " 'o_totalprice', o_totalprice)"
    )
    upd_val = (
        "named_struct('o_custkey', o_custkey, 'o_orderstatus', 'U',"
        " 'o_totalprice', o_totalprice * 2)"
    )
    r_base = (
        f"named_struct('key', o_orderkey, 'value', {val},"
        " 'offset', o_orderkey * 3)"
    )
    r_upd = (
        "CASE WHEN o_orderkey % 10 = 0 THEN"
        f" named_struct('key', o_orderkey, 'value', {upd_val},"
        " 'offset', o_orderkey * 3 + 1) END"
    )
    r_tomb = (
        "CASE WHEN o_orderkey % 20 = 0 THEN"
        f" named_struct('key', o_orderkey, 'value', CAST(NULL AS {vddl}),"
        " 'offset', o_orderkey * 3 + 2) END"
    )
    return (
        orders.selectExpr(f"explode(array({r_base}, {r_upd}, {r_tomb})) AS r")
        .where("r IS NOT NULL")
        .select("r.key", "r.value", "r.offset")
    )


def shareholders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's share-position changelog synthesized from orders.

    client = o_custkey (as string), ticker = 'T' || (o_orderkey % 7),
    exchange cycles NASDAQ/LON/NYSE by o_orderkey % 3, amount from
    o_totalprice; o_orderkey is the offset. o_orderkey % 11 == 0 produces a
    tombstone for its key — the `amount == 0 → null` producer rule
    (fake_producer.clj:26-29). `id == key` invariant preserved
    (fake_producer.clj:33).
    """
    # expression-string construction (r10): the Column form of this body
    # cost ~25 py4j round trips (~6 ms each on this box) inside every
    # consumer's timed build; the strings assemble the identical tree in
    # one selectExpr call. Values are unchanged (same ops, same order).
    orders = load_table(spark, sf_dir, "orders")
    client = "CAST(o_custkey AS STRING)"
    ticker = "concat('T', CAST(o_orderkey % 7 AS STRING))"
    key = f"concat_ws(':::', {client}, {ticker})"
    exchange = (
        "CASE WHEN o_orderkey % 3 = 0 THEN 'NASDAQ'"
        " WHEN o_orderkey % 3 = 1 THEN 'LON' ELSE 'NYSE' END"
    )
    value = (
        f"named_struct('client', {client}, 'id', {key}, 'ticker', {ticker},"
        f" 'exchange', {exchange}, 'amount', CAST(o_totalprice AS INT))"
    )
    pos_ddl = POSITION_SCHEMA.simpleString()
    return orders.selectExpr(
        f"{key} AS key",
        f"CAST(CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE {value} END"
        f" AS {pos_ddl}) AS value",
        "o_orderkey AS offset",
    )


def multiplexed_join_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two entities' changelogs multiplexed on one totally-ordered stream —
    the CDC-topic shape a join-view maintainer consumes.

    Flat columns (a tagged union instead of per-source structs):
    ``key, src ('o'|'c'), o_custkey, o_totalprice, c_mktsegment, tombstone,
    offset``.

    - orders (src='o', key=o_orderkey): base at 6k, price*2 update at 6k+1
      for keys %10==0, tombstone at 6k+2 for keys %20==0.
    - customer (src='c', key=c_custkey): base at 60k+3, segment→'VIP'
      update at 60k+4 for keys %7==0, tombstone at 60k+5 for keys %13==0.

    The 6/60 offset multipliers (orders keys are ~10× denser) interleave
    the two entities evenly across the offset range, and the mod-6
    residues {0,1,2} vs {3,4,5} keep every offset globally unique, so an
    offset-ordered replay is a deterministic total order.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nul_d = F.lit(None).cast("double")
    nul_l = F.lit(None).cast("long")
    nul_s = F.lit(None).cast("string")

    def orow(ocust, oprice, tomb, off):
        return [
            F.col("o_orderkey").alias("key"),
            F.lit("o").alias("src"),
            ocust.alias("o_custkey"),
            oprice.alias("o_totalprice"),
            nul_s.alias("c_mktsegment"),
            F.lit(tomb).alias("tombstone"),
            off.alias("offset"),
        ]

    def crow(seg, tomb, off):
        return [
            F.col("c_custkey").alias("key"),
            F.lit("c").alias("src"),
            nul_l.alias("o_custkey"),
            nul_d.alias("o_totalprice"),
            seg.alias("c_mktsegment"),
            F.lit(tomb).alias("tombstone"),
            off.alias("offset"),
        ]

    ok = F.col("o_orderkey")
    ck = F.col("c_custkey")

    # ONE pass per source table (was three each): the three record kinds
    # fan out as an inline array exploded row-side, so orders and
    # customer are each scanned once — 6 scans -> 2 at any input size.
    # Null slots drop via a relational WHERE, not a filter() lambda on
    # the array (the HOF runs interpreted per row — see orders_changelog).
    def fanout(df, recs):
        first = F.struct(*recs[0])
        rest = [
            F.when(cond, F.struct(*cols)) for cond, cols in recs[1:]
        ]
        return (
            df.select(F.explode(F.array(first, *rest)).alias("r"))
            .where(F.col("r").isNotNull())
            .select("r.*")
        )

    o_part = fanout(
        orders,
        [
            orow(F.col("o_custkey"), F.col("o_totalprice"), False, ok * 6),
            (ok % 10 == 0,
             orow(F.col("o_custkey"), F.col("o_totalprice") * 2, False, ok * 6 + 1)),
            (ok % 20 == 0, orow(nul_l.cast("long"), nul_d, True, ok * 6 + 2)),
        ],
    )
    c_part = fanout(
        cust,
        [
            crow(F.col("c_mktsegment"), False, ck * 60 + 3),
            (ck % 7 == 0, crow(F.lit("VIP"), False, ck * 60 + 4)),
            (ck % 13 == 0, crow(nul_s, True, ck * 60 + 5)),
        ],
    )
    return o_part.unionByName(c_part)


def cogroup_multiplexed_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two differently-keyed entity changelogs multiplexed on one totally-
    ordered stream — the input shape of a KStreams 2.5 COGROUP (two
    grouped streams feeding ONE keyed state store).

    Flat tagged-union columns::

        key string, src ('o'|'s'), o_custkey long, o_totalprice double,
        client string, exchange string, tombstone boolean, offset long

    - orders entity (src='o', key='o:'||o_orderkey): the standard
      orders_changelog records (base/update/tombstone), offsets doubled
      to even numbers.
    - share-position entity (src='s', key='s:'||client:::ticker): the
      reference's shareholders_changelog records, offsets mapped to odd
      numbers — the interleave keeps every offset globally unique so an
      offset-ordered replay is a deterministic total order.

    Both entities group to the same client key downstream (orders via
    CAST(o_custkey AS STRING), positions via value.client).
    """
    nul_d = F.lit(None).cast("double")
    nul_l = F.lit(None).cast("long")
    nul_s = F.lit(None).cast("string")

    ocl = orders_changelog(spark, sf_dir).select(
        F.concat(F.lit("o:"), F.col("key").cast("string")).alias("key"),
        F.lit("o").alias("src"),
        F.col("value.o_custkey").alias("o_custkey"),
        F.col("value.o_totalprice").alias("o_totalprice"),
        nul_s.alias("client"),
        nul_s.alias("exchange"),
        F.col("value").isNull().alias("tombstone"),
        (F.col("offset") * 2).alias("offset"),
    )
    scl = shareholders_changelog(spark, sf_dir).select(
        F.concat(F.lit("s:"), F.col("key")).alias("key"),
        F.lit("s").alias("src"),
        nul_l.alias("o_custkey"),
        nul_d.alias("o_totalprice"),
        F.col("value.client").alias("client"),
        F.col("value.exchange").alias("exchange"),
        F.col("value").isNull().alias("tombstone"),
        (F.col("offset") * 2 + 1).alias("offset"),
    )
    return ocl.unionByName(scl)
