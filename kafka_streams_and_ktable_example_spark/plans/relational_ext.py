"""M3 extension surface: subquery shapes, disjunctive pushdown, as-of join.

The reference has no joins or subqueries at all (SURVEY §2 Table B —
`kafka_streams.clj:60-81` is a single-input topology), so everything here
is Table B coverage: the query shapes a user of a general engine needs,
each as a declarative plan Catalyst can rewrite (semi/anti joins stay
joins, scalar subqueries become broadcast cross joins, OR-of-ANDs
predicates push to the parquet scan).

Scale notes: every dimension side here is broadcast-eligible; the only
fact-fact shuffles are keyed by orderkey (uniform — no skew). The as-of
join deliberately avoids a range self-join: it is the union + partitioned
ordered-scan pattern (one shuffle by user, one sort — the same plan a
1000-executor cluster wants, since candidate pair count never
materializes).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import register
from .ktable_queries import _POSITIONS_AGG


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape: EXISTS decorrelates to a left-semi join with a "
    "non-equi residual; Spark plans it as a semi hash join — the probe "
    "side never duplicates orders rows.",
    tags=("tpch", "join", "subquery"),
)
def q4_order_priority(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    return (
        orders.join(li, on=cond, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q7_volume_shipping",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1, 2, 3
""",
    doc="TPC-H Q7 shape: 5-way join — one fact-fact shuffle join "
    "(lineitem-orders on orderkey) and four broadcast dims; the nation "
    "pair filter prunes before the join via the broadcast sides.",
    headline=True,
    tags=("tpch", "join"),
)
def q7_volume_shipping(spark, sf_dir):
    # expression-string construction: each Column op is a ~6 ms py4j
    # round trip inside bench.py's timed window (r10; same tree either way)
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.selectExpr("n_nationkey AS s_nk", "n_name AS supp_nation")
    n2 = nation.selectExpr("n_nationkey AS c_nk", "n_name AS cust_nation")
    return (
        li.where(
            "l_shipdate BETWEEN CAST('1996-01-01' AS TIMESTAMP)"
            " AND CAST('1997-12-31' AS TIMESTAMP)"
        )
        .join(sup, F.expr("s_suppkey = l_suppkey"))
        .join(orders, F.expr("o_orderkey = l_orderkey"))
        .join(cust, F.expr("c_custkey = o_custkey"))
        .join(F.broadcast(n1), F.expr("s_nk = s_nationkey"))
        .join(F.broadcast(n2), F.expr("c_nk = c_nationkey"))
        .where(
            "(supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')"
            " OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')"
        )
        .groupBy("supp_nation", "cust_nation", F.expr("year(l_shipdate) AS l_year"))
        .agg(
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
            )
        )
    )


@register(
    "q14_promo_revenue",
    oracle="""
SELECT round(CAST(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                  / sum(l_extendedprice * (1 - l_discount)) AS DOUBLE),
             2) AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1998-06-01'
  AND l_shipdate < TIMESTAMP '1998-07-01'
""",
    doc="TPC-H Q14 shape: broadcast dim join + conditional-aggregate ratio; "
    "the month filter pushes to the lineitem scan.",
    tags=("tpch", "join", "agg"),
)
def q14_promo_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
        )
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 2).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_orders",
    oracle="""
SELECT c_custkey, o_orderkey,
       round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, o_orderkey, o_totalprice
HAVING sum(l_quantity) > 250
""",
    doc="TPC-H Q18 shape: aggregate-then-filter (HAVING) over a 3-way join; "
    "the quantity rollup happens keyed by orderkey so the customer join is "
    "on pre-aggregated (small) data.",
    tags=("tpch", "join", "agg"),
)
def q18_large_orders(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .where(F.col("_qty") > 250)
    )
    return (
        orders.join(qty, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("_qty", 2).alias("total_qty"),
        )
    )


@register(
    "q19_disjunctive_pushdown",
    oracle="""
SELECT round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 30)
""",
    doc="TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst "
    "extracts the single-side conjuncts (l_quantity <= 30, p_size ranges) "
    "and pushes them below the join to both scans.",
    tags=("tpch", "join", "pushdown"),
)
def q19_disjunctive_pushdown(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def arm(brand, size_lo, size_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(size_lo, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    pred = (
        arm("Brand#12", 1, 15, 1, 11)
        | arm("Brand#23", 10, 30, 10, 20)
        | arm("Brand#3", 20, 50, 20, 30)
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .where(pred)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q22_dormant_customers",
    oracle="""
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_cust,
       round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
""",
    doc="TPC-H Q22 shape: uncorrelated scalar subquery (broadcast as a "
    "1-row cross join) + NOT EXISTS (left-anti join against the filtered "
    "orders side).",
    tags=("tpch", "join", "subquery"),
)
def q22_dormant_customers(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), how="left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "correlated_above_avg_orders",
    oracle="""
SELECT o_orderkey, o_custkey,
       round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice
FROM orders o
WHERE o_totalprice > 1.5 * (
  SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
""",
    doc="Correlated scalar subquery: orders 50% above their customer's "
    "average. Decorrelated to aggregate-then-join (partial agg + one "
    "shuffle on custkey) rather than a per-row window sort.",
    tags=("join", "subquery"),
)
def correlated_above_avg_orders(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("_ck")).agg(
        F.avg("o_totalprice").alias("_avg")
    )
    return (
        orders.join(per_cust, F.col("_ck") == F.col("o_custkey"))
        .where(F.col("o_totalprice") > 1.5 * F.col("_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


@register(
    "join_asof_prior_click",
    oracle="""
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
), errors AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
)
SELECT e.event_id AS error_id, e.user_id,
       c.event_id AS prior_click_id,
       CAST(c.ts AS TIMESTAMP) AS prior_click_ts
FROM errors e ASOF JOIN clicks c
  ON e.user_id = c.user_id AND e.ts > c.ts
""",
    doc="As-of join: each error event matched to the latest strictly-prior "
    "click of the same user. Implemented as union + one ordered scan per "
    "user partition (last-non-null carry-forward) — one shuffle, one sort, "
    "no range self-join, candidate pairs never materialize. DuckDB oracle "
    "uses its native ASOF JOIN.",
    tags=("join", "asof", "events"),
)
def join_asof_prior_click(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("error_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.lit(1).alias("kind"),  # sorts after errors at equal ts → strict <
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("error_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(0).alias("kind"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    merged = errors.unionByName(clicks).select(
        "user_id",
        "ts",
        "error_id",
        F.last("click_id", ignorenulls=True).over(w).alias("prior_click_id"),
        F.last("click_ts", ignorenulls=True).over(w).alias("prior_click_ts"),
    )
    return merged.where(
        F.col("error_id").isNotNull() & F.col("prior_click_id").isNotNull()
    ).select(
        F.col("error_id").alias("error_id"),
        "user_id",
        "prior_click_id",
        "prior_click_ts",
    )


@register(
    "agg_percentiles",
    oracle="""
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       round(CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                           THEN l_extendedprice END) AS DOUBLE), 2) AS p50,
       round(CAST(max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                           THEN l_extendedprice END) AS DOUBLE), 2) AS p90,
       round(CAST(max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                           THEN l_extendedprice END) AS DOUBLE), 2) AS p99
FROM ranked GROUP BY l_returnflag
""",
    doc="Discrete percentiles per group as explicit order statistics "
    "(value at rank ceil(p*n)) — no interpolation, so results are exact "
    "data values and engine-independent (continuous-interpolation "
    "midpoints round differently across engines in the last ulp). At "
    "100 TB swap for approx_percentile (t-digest) and accept the "
    "documented error bound.",
    tags=("agg", "window"),
)
def agg_percentiles(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wc = W.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )

    def at(p):
        return F.round(
            F.max(
                F.when(
                    F.col("rn") == F.ceil(p * F.col("n")).cast("long"),
                    F.col("l_extendedprice"),
                )
            ),
            2,
        )

    return ranked.groupBy("l_returnflag").agg(
        at(0.5).alias("p50"), at(0.9).alias("p90"), at(0.99).alias("p99")
    )


_SQL_ENTRYPOINT = """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register(
    "sql_entrypoint_customer_by_nation",
    oracle=_SQL_ENTRYPOINT,
    doc="The engine's SQL surface: the identical ANSI-SQL text runs through "
    "spark.sql() over registered views AND through DuckDB as its own "
    "oracle — one query text, two engines, bit-equal results. (The "
    "reference has no query language at all — SURVEY §2 Table B.)",
    tags=("sql",),
)
def sql_entrypoint_customer_by_nation(spark, sf_dir):
    from ..sources.tables import register_tables

    register_tables(spark, sf_dir, names=("customer", "nation"))
    return spark.sql(_SQL_ENTRYPOINT)


@register(
    "ktable_point_lookup",
    oracle=f"""
WITH changelog AS MATERIALIZED (
  SELECT CAST(o_custkey AS VARCHAR) AS client,
         'T' || CAST(o_orderkey % 7 AS VARCHAR) AS ticker,
         CASE CAST(o_orderkey % 3 AS INT)
           WHEN 0 THEN 'NASDAQ' WHEN 1 THEN 'LON' ELSE 'NYSE' END AS exchange,
         o_orderkey AS off,
         (o_orderkey % 11 = 0) AS tombstone
  FROM orders
), latest AS (
  SELECT client, ticker, exchange, tombstone,
         row_number() OVER (PARTITION BY client, ticker ORDER BY off DESC) AS rn,
         client || ':::' || ticker AS key
  FROM changelog
)
SELECT client, {_POSITIONS_AGG}
FROM latest
WHERE rn = 1 AND NOT tombstone AND exchange = 'NASDAQ' AND client = '42'
GROUP BY client
""",
    doc="Interactive point query — the KeyValueStore .get(key) the "
    "reference's store API offers but never calls "
    "(kafka_streams.clj:83-89 uses only .all). Catalyst cannot push the "
    "client predicate below the latest-per-key aggregation on its own "
    "(client is derived from the aggregated value), but the engine can: "
    "client is a prefix of the group key, so filtering the changelog by "
    "key prefix commutes with both aggregations — the lookup replays one "
    "client's history instead of materializing the whole view.",
    tags=("ktable", "lookup"),
)
def ktable_point_lookup(spark, sf_dir):
    from ..operators.ktable import positions_csv, shareholders_view
    from ..sources.changelog import shareholders_changelog

    cl = shareholders_changelog(spark, sf_dir).where(
        F.col("key").startswith("42:::")
    )
    return positions_csv(shareholders_view(cl))


@register(
    "join_salted_skew",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value * c_acctbal) AS DOUBLE), 2) AS weighted
FROM events JOIN customer ON c_custkey = user_id % 100
GROUP BY event_type
""",
    doc="Skew-resilient join: user_id % 100 concentrates events onto 100 "
    "hot customer keys. The salted plan explodes the (small) customer "
    "side SALT ways and scatters events uniformly across salt replicas, "
    "so no single reducer owns a hot key — the manual version of what "
    "AQE skew-join does, needed when skew exceeds AQE's split "
    "granularity at cluster scale.",
    tags=("join", "skew"),
)
def join_salted_skew(spark, sf_dir):
    SALT = 8
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    salted_ev = ev.select(
        "event_type",
        "value",
        (F.col("user_id") % 100).alias("jk"),
        (F.pmod(F.col("event_id"), SALT)).alias("salt"),
    )
    salted_cust = cust.select(
        F.col("c_custkey").alias("jk"),
        "c_acctbal",
        F.explode(F.array(*[F.lit(s) for s in range(SALT)])).alias("salt"),
    )
    return (
        salted_ev.join(salted_cust, on=["jk", "salt"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value") * F.col("c_acctbal")), 2).alias("weighted"),
        )
    )


_GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS total_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register(
    "agg_grouping_sets_native",
    oracle=_GROUPING_SETS_SQL,
    doc="Native GROUPING SETS through spark.sql — one scan with an Expand "
    "node generating all grouping combinations in a single aggregation "
    "pass (the union-of-groupbys variant elsewhere in the catalog scans "
    "the fact table once per set). Identical SQL text runs on both "
    "engines.",
    tags=("agg", "sql"),
)
def agg_grouping_sets_native(spark, sf_dir):
    from ..sources.tables import register_tables

    register_tables(spark, sf_dir, names=("lineitem",))
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "window_range_frame_trailing",
    oracle="""
SELECT o_orderkey, o_custkey,
       round(CAST(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 2) AS trailing_30d_spend
FROM orders
""",
    doc="RANGE-frame window: per-customer trailing-30-day spend — a "
    "value-based frame (all rows within the interval), not a row-count "
    "frame; ties in o_orderdate share identical frames on both engines.",
    tags=("window",),
)
def window_range_frame_trailing(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    day = 24 * 3600
    # NTZ → TIMESTAMP → epoch seconds (session tz is UTC, so lossless)
    epoch = F.col("o_orderdate").cast("timestamp").cast("long")
    w = W.partitionBy("o_custkey").orderBy(epoch).rangeBetween(-30 * day, 0)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d_spend"),
    )


@register(
    "setop_bag_semantics",
    oracle="""
WITH a AS MATERIALIZED (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 45),
     b AS MATERIALIZED (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS n
FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
UNION ALL
SELECT 'intersect_all', CAST(count(*) AS BIGINT)
FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
""",
    doc="Bag-semantics set operators (EXCEPT ALL / INTERSECT ALL): "
    "multiplicity-aware subtraction/intersection — one shuffle each on "
    "the compared row, counts reconciled per key.",
    tags=("setop",),
)
def setop_bag_semantics(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") > 45).select(F.col("l_suppkey").alias("k"))
    b = li.where(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    ex = a.exceptAll(b).agg(
        F.lit("except_all").alias("op"), F.count("*").alias("n")
    )
    ia = a.intersectAll(b).agg(
        F.lit("intersect_all").alias("op"), F.count("*").alias("n")
    )
    return ex.unionByName(ia)


@register(
    "groupwise_argmax_supplier",
    oracle="""
SELECT s_nationkey, s_suppkey, s_name,
       round(CAST(s_acctbal AS DOUBLE), 2) AS s_acctbal
FROM supplier s
WHERE s_acctbal = (
  SELECT max(s2.s_acctbal) FROM supplier s2
  WHERE s2.s_nationkey = s.s_nationkey)
""",
    doc="Groupwise argmax (TPC-H Q2's correlated-max shape): richest "
    "supplier(s) per nation via a correlated max subquery. Decorrelated "
    "to aggregate + broadcast join-back — no window sort; ties keep all "
    "maximal rows, matching the subquery semantics exactly.",
    tags=("join", "subquery", "agg"),
)
def groupwise_argmax_supplier(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    mx = sup.groupBy(F.col("s_nationkey").alias("_nk")).agg(
        F.max("s_acctbal").alias("_mx")
    )
    return (
        sup.join(
            F.broadcast(mx),
            (F.col("_nk") == F.col("s_nationkey"))
            & (F.col("s_acctbal") == F.col("_mx")),
        )
        .select(
            "s_nationkey",
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


@register(
    "format_roundtrip_csv_json",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY event_type
""",
    doc="Multi-format source/sink coverage: events split three ways round-"
    "trip through CSV, JSON, and ORC sinks+scans, re-united and aggregated "
    "— the result must equal the parquet-native aggregate, proving "
    "schema-faithful serialization on all three formats. (Value doubles "
    "survive because the text writers emit shortest-round-trip reprs and "
    "ORC is binary.)",
    tags=("formats", "scan"),
)
def format_roundtrip_csv_json(spark, sf_dir):
    from ..session import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = scratch_dir("fmt_roundtrip_")
    csv_dir, json_dir, orc_dir = f"{base}/csv", f"{base}/json", f"{base}/orc"
    ev.where(F.col("event_id") % 3 == 0).write.mode("overwrite").option(
        "header", "true"
    ).csv(csv_dir)
    ev.where(F.col("event_id") % 3 == 1).write.mode("overwrite").json(json_dir)
    ev.where(F.col("event_id") % 3 == 2).write.mode("overwrite").orc(orc_dir)
    schema = "event_id long, event_type string, value double"
    back = (
        spark.read.schema(schema).option("header", "true").csv(csv_dir)
        .unionByName(spark.read.schema(schema).json(json_dir))
        .unionByName(spark.read.schema(schema).orc(orc_dir))
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "window_percent_rank_cume_dist",
    oracle="""
SELECT s_suppkey,
       s_nationkey,
       round(CAST(percent_rank() OVER w AS DOUBLE), 6) AS pct_rank,
       round(CAST(cume_dist() OVER w AS DOUBLE), 6) AS cume
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
""",
    doc="Distribution analytics percent_rank / cume_dist per nation "
    "(deterministic: the order key is tie-broken by the unique suppkey).",
    tags=("window",),
)
def window_percent_rank_cume_dist(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "scalar_map_funcs",
    oracle="""
SELECT n_nationkey,
       map(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)])['name'][1]
         AS name_via_map,
       CAST(cardinality(map(['name', 'region'],
                            [n_name, CAST(n_regionkey AS VARCHAR)])) AS INT)
         AS map_size
FROM nation
""",
    doc="Map-typed scalar functions: construct a map column, element_at "
    "extraction and cardinality — results projected to plain columns so "
    "both engines hash identically (map values themselves are not "
    "portably hashable).",
    tags=("scalar", "map"),
)
def scalar_map_funcs(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("name"), F.col("n_name"),
        F.lit("region"), F.col("n_regionkey").cast("string"),
    )
    return nation.select(
        "n_nationkey",
        F.element_at(m, "name").alias("name_via_map"),
        F.size(m).alias("map_size"),
    )


@register(
    "q8_market_share",
    oracle="""
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS vol,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n1.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
)
SELECT l_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END)
                  / sum(vol) AS DOUBLE), 4) AS mkt_share
FROM base GROUP BY l_year
""",
    doc="TPC-H Q8 shape: 7-way join (two roles for nation) feeding a "
    "conditional-aggregate market-share ratio; the region filter prunes "
    "through two broadcast hops before touching the fact table.",
    tags=("tpch", "join", "agg"),
)
def q8_market_share(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(
            orders.where(
                F.col("o_orderdate").between(
                    F.lit("1996-01-01").cast("timestamp"),
                    F.lit("1997-12-31").cast("timestamp"),
                )
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nk") == F.col("c_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("c_rk"),
        )
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nk") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").alias("l_year"),
            vol.alias("vol"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("vol")).otherwise(0.0)
    ) / F.sum("vol")
    return base.groupBy("l_year").agg(F.round(share, 4).alias("mkt_share"))


@register(
    "q9_product_profit",
    oracle="""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       round(CAST(sum(l_extendedprice * (1 - l_discount)
                      - 0.1 * p_retailprice * l_quantity) AS DOUBLE), -1)
         AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""",
    doc="TPC-H Q9 shape: profit rollup by supplier nation and year over a "
    "5-way join; the LIKE filter on part prunes the broadcast side before "
    "the fact join (supplycost is synthesized as 10% of retail price — "
    "the testdata has no partsupp table; profit rounded to tens because "
    "cross-engine summation-order noise on multi-million sums straddles "
    "cent boundaries).",
    headline=True,
    tags=("tpch", "join", "agg"),
)
def q9_product_profit(spark, sf_dir):
    # expression-string construction: py4j round-trip economy (see q7)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(
            F.broadcast(part.where("p_name LIKE '%widget%'")),
            F.expr("p_partkey = l_partkey"),
        )
        .join(sup, F.expr("s_suppkey = l_suppkey"))
        .join(F.broadcast(nation), F.expr("n_nationkey = s_nationkey"))
        .join(orders, F.expr("o_orderkey = l_orderkey"))
        .groupBy(
            F.expr("n_name AS nation"),
            F.expr("year(o_orderdate) AS o_year"),
        )
        .agg(
            F.expr(
                "round(sum((l_extendedprice * (1 - l_discount))"
                " - ((0.1D * p_retailprice) * l_quantity)), -1) AS profit"
            )
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""",
    doc="TPC-H Q13 shape: customers-per-order-count histogram — left outer "
    "join with a join-side filter (customers with zero qualifying orders "
    "must appear as c_count=0), then a second aggregation over the first.",
    tags=("tpch", "join", "agg"),
)
def q13_customer_distribution(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, on=cond, how="left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q15_top_supplier",
    oracle="""
WITH revenue AS MATERIALIZED (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice * (1 - l_discount)) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(total AS DOUBLE), 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total = (SELECT max(total) FROM revenue)
""",
    doc="TPC-H Q15 shape: argmax over a derived aggregate view — the "
    "revenue CTE is computed once, its max is an uncorrelated scalar "
    "subquery (broadcast 1-row join), ties keep all maximal suppliers.",
    tags=("tpch", "join", "subquery", "agg"),
)
def q15_top_supplier(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total"))
    ).persist()  # feeds both the join and the max scalar
    mx = revenue.agg(F.max("total").alias("_mx"))
    return (
        sup.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .where(F.col("total") == F.col("_mx"))
        .select(
            "s_suppkey", "s_name", F.round("total", 2).alias("total_revenue")
        )
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
SELECT round(CAST(sum(l_extendedprice) / 7.0 AS DOUBLE), 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#5'
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)
""",
    doc="TPC-H Q17 shape: correlated scalar average with a multiplier — "
    "decorrelated to a per-part aggregate joined back; the brand filter "
    "broadcasts so the per-part averages are only computed for the "
    "surviving parts' lineitems.",
    tags=("tpch", "join", "subquery", "agg"),
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand = part.where(F.col("p_brand") == "Brand#5").select("p_partkey")
    avg_qty = (
        li.join(F.broadcast(brand), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("l_partkey").alias("_pk"))
        .agg((0.2 * F.avg("l_quantity")).alias("_thr"))
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("_pk") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("_thr"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q21_waiting_orders",
    oracle="""
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
""",
    doc="TPC-H Q21 shape: the hardest decorrelation in the suite — an "
    "EXISTS (another supplier contributed to the order) and a NOT EXISTS "
    "(no other supplier shipped later) against the same fact table, "
    "planned as a semi join + anti join on l_orderkey.",
    tags=("tpch", "join", "subquery"),
)
def q21_waiting_orders(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    l1 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_suppkey").alias("r_suppkey"),
        F.col("l_shipdate").alias("r_shipdate"),
    )
    semi = l1.join(
        l2,
        (F.col("r_orderkey") == F.col("l_orderkey"))
        & (F.col("r_suppkey") != F.col("l_suppkey")),
        how="left_semi",
    )
    anti = semi.join(
        l2,
        (F.col("r_orderkey") == F.col("l_orderkey"))
        & (F.col("r_suppkey") != F.col("l_suppkey"))
        & (F.col("r_shipdate") > F.col("l_shipdate")),
        how="left_anti",
    )
    return (
        anti.join(
            orders.where(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "q12_priority_by_linestatus",
    oracle="""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate
GROUP BY l_linestatus
""",
    doc="TPC-H Q12 shape (testdata lineitem has no l_shipmode/commitdate, "
    "so the class split keys on o_orderpriority and the lateness residual "
    "on shipdate > orderdate): fact-fact equi join with a non-equi "
    "residual, then conditional-sum pivot into two counters per group.",
    tags=("tpch", "join", "agg"),
)
def q12_priority_by_linestatus(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q11_important_part_values",
    oracle="""
WITH v AS MATERIALIZED (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS val
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_7', 'NATION_8')
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, round(CAST(val AS DOUBLE), 2) AS part_value
FROM v
WHERE val > (SELECT sum(val) * 0.001 FROM v)
""",
    doc="TPC-H Q11 shape (no partsupp in testdata; lineitem through the "
    "chosen nations' suppliers is the supply relation): per-part value vs "
    "a fraction-of-global-total scalar subquery. The derived view is "
    "persisted and reused for both the rows and the total — one shuffle, "
    "and the 1-row total broadcasts.",
    tags=("tpch", "join", "subquery", "agg"),
)
def q11_important_part_values(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    sup_n = sup.join(
        F.broadcast(nation.where(F.col("n_name").isin("NATION_7", "NATION_8"))),
        F.col("n_nationkey") == F.col("s_nationkey"),
    ).select("s_suppkey")
    v = (
        li.join(sup_n, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val")
        )
    ).persist()  # feeds both the row set and the global total
    thr = v.agg((F.sum("val") * 0.001).alias("_thr"))
    return (
        v.crossJoin(F.broadcast(thr))
        .where(F.col("val") > F.col("_thr"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("val", 2).alias("part_value"),
        )
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
WITH supply AS MATERIALIZED (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       round(CAST(unit_cost AS DOUBLE), 2) AS cost
FROM part
JOIN supply ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE p_size = 15 AND p_type = 'PROMO' AND r_name = 'EUROPE'
  AND unit_cost = (
    SELECT min(s2.unit_cost) FROM supply s2
    JOIN supplier sp ON sp.s_suppkey = s2.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = sp.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE s2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
""",
    doc="TPC-H Q2 shape (supply relation derived from lineitem: per "
    "part-supplier min unit price stands in for ps_supplycost — min is "
    "order-insensitive so the double compares exactly across engines): "
    "correlated min-cost subquery decorrelated to a per-part window min "
    "over the already-filtered candidates — zero extra shuffles vs the "
    "groupBy-and-join-back plan, and ties keep every cheapest supplier.",
    tags=("tpch", "join", "subquery", "window"),
)
def q2_min_cost_supplier(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    sup_eur = (
        sup.join(
            F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == "EUROPE")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part_f = part.where(
        (F.col("p_size") == 15) & (F.col("p_type") == "PROMO")
    ).select("p_partkey", "p_type")
    cand = supply.join(
        F.broadcast(part_f), F.col("p_partkey") == F.col("l_partkey")
    ).join(sup_eur, F.col("s_suppkey") == F.col("l_suppkey"))
    w = W.partitionBy("l_partkey")
    return (
        cand.withColumn("_min", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("_min"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.round("unit_cost", 2).alias("cost"),
        )
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 14, 23, 45, 19, 3, 36, 9)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    doc="TPC-H Q16 shape (lineitem part-supplier pairs stand in for "
    "partsupp; negative account balance stands in for the complaints "
    "filter): NOT IN → broadcast anti join, then count(DISTINCT) over "
    "three grouping columns — Spark expands to a two-phase distinct agg.",
    tags=("tpch", "join", "subquery", "agg"),
)
def q16_supplier_part_counts(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    part_f = part.where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_size").isin(1, 14, 23, 45, 19, 3, 36, 9))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = sup.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(part_f), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            bad,
            F.col("s_suppkey") == F.col("l_suppkey"),
            how="left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_shippers",
    oracle="""
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_4')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 50)
""",
    doc="TPC-H Q20 shape (shipped quantity above a fixed threshold stands "
    "in for the availqty-vs-half-of-shipped comparison, red for forest): "
    "nested IN — part-name filter broadcasts into the lineitem agg, the "
    "HAVING prunes groups map-side-combined, and the surviving supplier "
    "keys semi-join the nation-filtered suppliers. l_quantity is integer-"
    "valued so the HAVING sum compares exactly across engines.",
    tags=("tpch", "join", "subquery", "agg"),
)
def q20_excess_shippers(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    red = part.where(F.col("p_name").like("%red%")).select("p_partkey")
    heavy = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 50)
        .select("l_suppkey")
    )
    return (
        sup.join(
            F.broadcast(nation.where(F.col("n_name").isin("NATION_3", "NATION_4"))),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(heavy, F.col("l_suppkey") == F.col("s_suppkey"), how="left_semi")
        .select("s_name", "s_acctbal")
    )


_LATERAL_TOPK_SQL = """
SELECT n.n_name, t.s_name, t.s_acctbal
FROM nation n, LATERAL (
  SELECT s_name, round(CAST(s_acctbal AS DOUBLE), 2) AS s_acctbal
  FROM supplier s
  WHERE s.s_nationkey = n.n_nationkey
  ORDER BY s.s_acctbal DESC, s_name
  LIMIT 2
) t
"""


@register(
    "sql_lateral_topk_per_nation",
    oracle=_LATERAL_TOPK_SQL,
    doc="Correlated LATERAL subquery with ORDER BY + LIMIT (SQL:1999 "
    "lateral derived table, Spark 4 decorrelation): top-2 suppliers by "
    "account balance per nation. Catalyst decorrelates the per-row "
    "subquery into a ranked join — semantically the window top-k, but "
    "expressed in the portable SQL form analysts actually write. "
    "Identical SQL text runs on both engines; the inner projection "
    "rounds to keep the double exact cross-engine.",
    tags=("sql", "join", "topk"),
)
def sql_lateral_topk_per_nation(spark, sf_dir):
    from ..sources.tables import register_tables

    register_tables(spark, sf_dir, names=("nation", "supplier"))
    return spark.sql(_LATERAL_TOPK_SQL)


@register(
    "join_temporal_dim_asof",
    oracle="""
WITH ccl AS (
  SELECT c_custkey AS key, c_mktsegment, c_custkey * 60 + 3 AS off
  FROM customer
  UNION ALL
  SELECT c_custkey, 'VIP', c_custkey * 60 + 4
  FROM customer WHERE c_custkey % 7 = 0
), scd AS MATERIALIZED (
  SELECT key, c_mktsegment, off AS valid_from,
         lead(off) OVER (PARTITION BY key ORDER BY off) AS valid_to
  FROM ccl
), facts AS (
  SELECT o_orderkey, o_custkey,
         o_custkey * 60 + 3 + (o_orderkey % 3) AS fact_off,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT s.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(f.cents) AS BIGINT) AS cents
FROM facts f
JOIN scd s
  ON s.key = f.o_custkey
 AND s.valid_from <= f.fact_off
 AND (s.valid_to IS NULL OR f.fact_off < s.valid_to)
GROUP BY s.c_mktsegment
""",
    doc="Temporal dimension join — facts joined to the dim VERSION valid "
    "at fact time (the FOR SYSTEM_TIME AS OF of SQL:2011, and the only "
    "correct way to join facts against a slowly-changing dimension; "
    "joining the current dim silently rewrites history): the customer "
    "changelog becomes SCD2 validity intervals (same lead() build as "
    "ktable_version_history_scd2), each order probes with an event "
    "position that lands before or after its customer's VIP upgrade "
    "(o_orderkey %% 3 spreads probes across both versions), and the "
    "interval predicate picks exactly one version per fact. Scale "
    "shape: equi-join on the customer key does the heavy lifting — "
    "the interval check is a residual filter on the <=2 versions per "
    "key, NOT a range join; both sides shuffle once on the key, and "
    "at warehouse scale the dim side is the small one.",
    tags=("join", "asof", "scd2", "ktable"),
)
def join_temporal_dim_asof(spark, sf_dir):
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("key"),
        "c_mktsegment",
        (F.col("c_custkey") * 60 + 3).alias("off"),
    )
    vip = cust.where(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("key"),
        F.lit("VIP").alias("c_mktsegment"),
        (F.col("c_custkey") * 60 + 4).alias("off"),
    )
    scd = (
        base.unionByName(vip)
        .withColumn(
            "valid_to",
            F.lead("off").over(W.partitionBy("key").orderBy("off")),
        )
        .withColumnRenamed("off", "valid_from")
    )
    orders = load_table(spark, sf_dir, "orders")
    facts = orders.select(
        "o_custkey",
        (
            F.col("o_custkey") * 60 + 3 + (F.col("o_orderkey") % 3)
        ).alias("fact_off"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    joined = facts.join(
        scd,
        (facts["o_custkey"] == scd["key"])
        & (scd["valid_from"] <= facts["fact_off"])
        & (scd["valid_to"].isNull() | (facts["fact_off"] < scd["valid_to"])),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )
