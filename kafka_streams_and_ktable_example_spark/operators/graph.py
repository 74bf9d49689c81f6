"""The graph queries' edge lists, defined once for both engines.

Two graphs come out of the TPC-H tables:

- **nation trade**: ``lineitem ⋈ supplier ⋈ orders ⋈ customer``, one edge
  per lineitem, from its supplier's nation to its customer's nation;
- **part co-purchase**: one edge per pair of distinct parts bought in the
  same order.

Each graph query keeps its own projection, casts, aggregation and
``persist``/``localCheckpoint``; what an edge is lives here, as a DataFrame
builder for the Spark side and as a SQL fragment for the DuckDB oracle (and
for ``graph_bfs_reachability``, whose one SQL text runs on both engines).
The fragments are plain strings that oracles concatenate, never format, so
DuckDB ``{...}`` literals in an oracle need no escaping.

Scale note: every builder touches the fact tables once. The nation-trade
queries aggregate straight to at most |nations|^2 edges; the co-purchase
pairs are bounded by the pairs actually co-ordered, deduplicated before any
query-side work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import load_table

# The nation-trade join, as the FROM clause of an oracle CTE (aliases l, s,
# o, c), and the same join restricted to edges between different nations.
NATION_TRADE_SQL = """  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
"""
CROSS_BORDER_SQL = NATION_TRADE_SQL + "  WHERE s.s_nationkey <> c.c_nationkey\n"
# The distinct undirected cross-border nation pairs (a < b), as the body of
# an oracle CTE.
TRADE_PAIRS_SQL = (
    """  SELECT DISTINCT least(s.s_nationkey, c.c_nationkey) AS a,
         greatest(s.s_nationkey, c.c_nationkey) AS b
"""
    + CROSS_BORDER_SQL
)

# The undirected weighted trade graph as an oracle's opening CTE:
# ``ew(a, b, w)``, a < b, w the cross-border lineitems between them.
TRADE_EDGES_CTE = (
    """
WITH ew AS MATERIALIZED (
  SELECT least(s.s_nationkey, c.c_nationkey) AS a,
         greatest(s.s_nationkey, c.c_nationkey) AS b,
         count(*) AS w
"""
    + CROSS_BORDER_SQL
    + """  GROUP BY 1, 2
)"""
)

# The part co-purchase graph as an oracle's opening CTE: ``e(pa, pb)``, the
# distinct part pairs with pa < pb.
PART_PAIRS_CTE = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS pa,
         greatest(a.l_partkey, b.l_partkey) AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""


def nation_trade(spark, sf_dir) -> DataFrame:
    """One row per lineitem with its supplier's ``s_nationkey`` and its
    customer's ``c_nationkey`` (plus ``l_extendedprice`` for value-weighted
    edges; a query that does not read it has it pruned from the scan)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )


def cross_border_trade(spark, sf_dir) -> DataFrame:
    """``nation_trade`` without the lineitems sold inside one nation."""
    return nation_trade(spark, sf_dir).where(
        F.col("s_nationkey") != F.col("c_nationkey")
    )


def trade_edges(spark, sf_dir) -> DataFrame:
    """The undirected weighted trade graph ``(a, b, w)``: a < b are nation
    keys and w counts the cross-border lineitems between them."""
    return (
        cross_border_trade(spark, sf_dir)
        .groupBy(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .agg(F.count("*").alias("w"))
    )


def trade_pairs(spark, sf_dir) -> DataFrame:
    """The unweighted undirected trade graph: distinct ``(a, b)`` with
    a < b, one per pair of nations that trade across the border."""
    return (
        cross_border_trade(spark, sf_dir)
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct()
    )


def part_pairs(spark, sf_dir) -> DataFrame:
    """The part co-purchase graph: distinct ``(pa, pb)`` with pa < pb, one
    per pair of parts that share an order."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
    )
