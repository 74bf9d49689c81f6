"""Advanced surface pack: higher-order array functions, running-distinct
windows, calendar-spine gap fill, corpus heavy hitters, an iterative graph
algorithm (weighted PageRank in exact integer algebra), and a one-pass
declarative data-quality rule engine.

None of these exist in the reference (SURVEY §2 Table B — the topology at
`kafka_streams.clj:60-81` is a single unwindowed set-aggregate view); they
round out the general-analytics and pipeline-QA surface a user expects on
top of the changelog core.

Scale notes (the properties that survive 100 TB):
- Higher-order functions (`transform`/`filter`/`aggregate`/`zip_with`) are
  single codegen'd expressions over array columns — a map-only pass, no
  Python, no shuffle.
- The PageRank edge list is aggregated to |nations|^2 rows BEFORE any
  iteration, so three Lloyd-style rounds iterate over a tiny cached graph
  while the only fact-table work is one join+groupBy. All rank arithmetic
  is floor-division integer algebra, so both engines (and any two cluster
  runs with different partial-sum orders) agree bit-for-bit.
- Gap fill builds the calendar spine from a 1-row bounds aggregate —
  |days| x |types| rows regardless of fact size.
- Heavy hitters is a two-stage count (map-side partial before the only
  shuffle) with a relative threshold, so output is bounded by vocabulary,
  not corpus size.
- The QA rule engine evaluates every rule as conditional aggregates in ONE
  scan (uniqueness via count - count_distinct in the same pass).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import as_double_array
from ..operators.graph import (
    CROSS_BORDER_SQL,
    NATION_TRADE_SQL,
    TRADE_PAIRS_SQL,
    cross_border_trade,
    nation_trade,
    trade_pairs,
)
from ..sources.tables import load_table
from .catalog import register


@register(
    "scalar_higher_order_funcs",
    oracle="""
WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
       round(list_sum(list_transform(v, x -> x * x)), 4) AS sum_sq_r4,
       list_bool_or(list_transform(v, x -> abs(x) > 2.0)) AS any_abs_gt2,
       list_bool_and(list_transform(v, x -> abs(x) < 3.0)) AS all_abs_lt3,
       array_to_string(
         list_transform(v[1:3],
                        x -> CAST(CAST(floor(x * 2000.0 + 0.5) AS BIGINT) AS VARCHAR)),
         ',') AS head3_milli,
       round(list_sum(list_transform(range(1, len(v) + 1),
                                     i -> v[i] * v[len(v) - i + 1])), 4) AS rev_dot_r4
FROM e
""",
    doc="Higher-order array function surface: filter (positive count), "
    "aggregate fold (sum of squares), exists/forall (abs-value predicates), "
    "transform+slice (head-3 in integer milli-units — cross-engine float "
    "formatting is avoided by flooring to scaled integers), and zip_with "
    "with reverse (self-reversed dot product). Every expression is a "
    "single JVM codegen'd pass over the array column: no UDF, no shuffle, "
    "no explode — the shape that keeps per-row array math free at 100 TB.",
    tags=("scalar", "array", "higher-order"),
)
def scalar_higher_order_funcs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    v = F.col("v")
    return emb.select(
        "vec_id",
        F.size(F.filter(v, lambda x: x > F.lit(0.0))).alias("n_pos"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sum_sq_r4"),
        F.exists(v, lambda x: F.abs(x) > F.lit(2.0)).alias("any_abs_gt2"),
        F.forall(v, lambda x: F.abs(x) < F.lit(3.0)).alias("all_abs_lt3"),
        F.array_join(
            F.transform(
                F.slice(v, 1, 3),
                lambda x: F.floor(x * F.lit(2000.0) + F.lit(0.5)).cast("string"),
            ),
            ",",
        ).alias("head3_milli"),
        F.round(
            F.aggregate(
                F.zip_with(v, F.reverse(v), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("rev_dot_r4"),
    )


@register(
    "window_running_distinct",
    oracle="""
WITH flagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events
)
SELECT event_id, user_id,
       CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
         AS n_distinct_types_seen
FROM flagged
""",
    doc="Running COUNT(DISTINCT) over a window — an op Spark's window "
    "functions don't support directly — decomposed into two supported "
    "windows: flag each (user, event_type)'s first occurrence via "
    "row_number, then running-sum the flags in event-time order. Ties "
    "broken by event_id so both engines see one sequence. Two sorts share "
    "the user_id partitioning; state per group is O(1), and the same "
    "decomposition is the standard scale trick on any SQL engine whose "
    "windows reject DISTINCT.",
    tags=("events", "window", "analytics"),
)
def window_running_distinct(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_first"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w_run).cast("long").alias("n_distinct_types_seen"),
    )


@register(
    "events_calendar_gap_fill",
    oracle="""
WITH ev AS MATERIALIZED (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
daily AS (
  SELECT event_type AS et, d AS dd, CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
days AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM ev)
SELECT t.event_type, day, coalesce(n, 0) AS n_events
FROM days CROSS JOIN types t
LEFT JOIN daily ON daily.et = t.event_type AND daily.dd = day
""",
    doc="Zero-filled daily time series per event type: a calendar spine "
    "generated with sequence()/explode from a ONE-ROW min/max bounds "
    "aggregate, crossed with the distinct type dimension, left-joined to "
    "the per-day counts. The spine is |days| x |types| rows no matter how "
    "large the fact table is, and both join inputs are aggregates, so the "
    "fills are broadcast joins over tiny sides — the gap-fill shape that "
    "stays O(calendar) at 100 TB.",
    tags=("events", "calendar", "analytics"),
)
def events_calendar_gap_fill(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "event_type"
    )
    daily = (
        ev.groupBy(F.col("event_type").alias("et"), F.col("d").alias("dd"))
        .agg(F.count("*").alias("n"))
    )
    days = (
        ev.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    types = ev.select("event_type").distinct()
    return (
        days.crossJoin(types)
        .join(
            daily,
            (F.col("day") == F.col("dd")) & (F.col("event_type") == F.col("et")),
            "left",
        )
        .select(
            "event_type",
            "day",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )


@register(
    "text_heavy_hitters",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
),
counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM toks WHERE length(term) >= 3 GROUP BY term
)
SELECT term, n_occurrences
FROM counts
WHERE n_occurrences * 20 >= (SELECT count(*) FROM documents)
""",
    doc="Corpus-wide heavy hitters: terms whose total occurrence count "
    "clears a RELATIVE threshold (>= one occurrence per 20 documents), so "
    "the definition is scale-invariant. Exact two-stage count: tokens "
    "combine map-side (partial_count under the only exchange), the final "
    "aggregate is |vocabulary|-bounded, and the doc-count threshold side "
    "is a 1-row broadcast — the exact-counting complement to sketch-based "
    "frequent-items at any corpus size.",
    tags=("text", "agg", "analytics"),
)
def text_heavy_hitters(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"))
        .where(F.length("term") >= 3)
        .groupBy("term")
        .agg(F.count("*").alias("n_occurrences"))
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (
        counts.crossJoin(F.broadcast(n_docs))
        .where(F.col("n_occurrences") * 20 >= F.col("n_docs"))
        .select("term", "n_occurrences")
    )


_PAGERANK_SCALE = 1_000_000_000_000


@register(
    "graph_pagerank_nations",
    oracle="""
WITH edges AS MATERIALIZED (
  SELECT CAST(s.s_nationkey AS BIGINT) AS src, CAST(c.c_nationkey AS BIGINT) AS dst,
         CAST(count(*) AS BIGINT) AS w
"""
    + NATION_TRADE_SQL
    + """  GROUP BY 1, 2
),
e AS MATERIALIZED (
  SELECT src, dst, w, CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS outw
  FROM edges
),
n AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS node, n_name FROM nation),
p AS MATERIALIZED (
  SELECT CAST(1000000000000 // count(*) AS BIGINT) AS base,
         CAST(15 * (1000000000000 // count(*)) // 100 AS BIGINT) AS tele
  FROM nation
),
r0 AS (SELECT node, base AS rank FROM n CROSS JOIN p),
r1 AS (
  SELECT n.node,
         CAST((SELECT tele FROM p)
              + 85 * coalesce(sum(r.rank * e.w // e.outw), 0) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN e ON e.dst = n.node
         LEFT JOIN r0 r ON r.node = e.src
  GROUP BY n.node
),
r2 AS (
  SELECT n.node,
         CAST((SELECT tele FROM p)
              + 85 * coalesce(sum(r.rank * e.w // e.outw), 0) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN e ON e.dst = n.node
         LEFT JOIN r1 r ON r.node = e.src
  GROUP BY n.node
),
r3 AS (
  SELECT n.node,
         CAST((SELECT tele FROM p)
              + 85 * coalesce(sum(r.rank * e.w // e.outw), 0) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN e ON e.dst = n.node
         LEFT JOIN r2 r ON r.node = e.src
  GROUP BY n.node
)
SELECT CAST(n.node AS INT) AS nationkey, n.n_name AS n_name, r3.rank AS rank_e12
FROM n JOIN r3 ON r3.node = n.node
""",
    doc="Iterative graph algorithm: 3 unrolled rounds of weighted PageRank "
    "(damping 0.85) over the nation-to-nation trade graph, where an edge "
    "src->dst carries the number of lineitems a supplier in src shipped to "
    "a customer in dst. ALL rank arithmetic is exact integer algebra "
    "(ranks in 1e-12 units, floor division) so partial-sum order — across "
    "engines or across cluster runs — can never flip a digit; this is the "
    "same trick events_anomaly_rolling_zscore uses for windows. The fact "
    "tables are touched ONCE to build the aggregated edge list (<= "
    "|nations|^2 = 625 rows, persisted); each iteration then joins rank "
    "vector to edges at dimension scale, which is why 30 more iterations "
    "would cost nothing at 100 TB.",
    tags=("graph", "iterative", "analytics"),
)
def graph_pagerank_nations(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    n_nodes = nation.count()  # 25-row dimension: driver-side scalar is scale-safe
    base = _PAGERANK_SCALE // n_nodes
    tele = 15 * base // 100

    edges = (
        nation_trade(spark, sf_dir)
        .groupBy(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    e = edges.join(outw, "src").persist()

    nodes = nation.select(F.col("n_nationkey").cast("long").alias("node"))
    r = nodes.select("node", F.lit(base).alias("rank"))
    for _ in range(3):
        contrib = e.join(r, F.col("src") == F.col("node")).select(
            "dst", F.expr("rank * w div outw").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        r = nodes.join(summed, F.col("node") == F.col("dst"), "left").select(
            "node",
            (
                F.lit(tele) + F.expr("85 * coalesce(s, CAST(0 AS BIGINT)) div 100")
            ).cast("long").alias("rank"),
        )
    dim = nation.select("n_nationkey", "n_name")
    return r.join(F.broadcast(dim), r.node == dim.n_nationkey).select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("n_name"),
        F.col("rank").alias("rank_e12"),
    )


@register(
    "qa_constraint_checks",
    oracle="""
WITH a AS MATERIALIZED (
  SELECT
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_null,
    CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
             THEN 1 ELSE 0 END) AS BIGINT) AS r_pos,
    CAST(sum(CASE WHEN o_orderstatus IS NULL
                    OR o_orderstatus NOT IN ('O', 'F', 'P')
             THEN 1 ELSE 0 END) AS BIGINT) AS r_dom,
    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS r_uniq,
    CAST(sum(CASE WHEN o_orderdate IS NULL
                    OR o_orderdate < TIMESTAMP '1990-01-01'
                    OR o_orderdate >= TIMESTAMP '2030-01-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS r_date
  FROM orders
)
SELECT rule, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'o_custkey_not_null' AS rule, r_null AS n_violations FROM a
  UNION ALL SELECT 'o_totalprice_positive', r_pos FROM a
  UNION ALL SELECT 'o_orderstatus_domain', r_dom FROM a
  UNION ALL SELECT 'o_orderkey_unique', r_uniq FROM a
  UNION ALL SELECT 'o_orderdate_in_range', r_date FROM a
)
""",
    doc="Declarative data-quality rule engine, ONE scan: not-null, value "
    "range, accepted-values domain, primary-key uniqueness (count - "
    "count_distinct in the same aggregate), and date sanity over orders — "
    "then stack() pivots the single aggregate row into a per-rule report "
    "with pass/fail. The dbt-test / Deequ-style contract check at fact-"
    "table scale costs exactly one map-side-combined aggregation pass, "
    "regardless of how many rules are registered.",
    tags=("qa", "profiling", "agg"),
)
def qa_constraint_checks(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    viol = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    agg = orders.agg(
        viol(F.col("o_custkey").isNull()).alias("r_null"),
        viol(
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
        ).alias("r_pos"),
        viol(
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("O", "F", "P")
        ).alias("r_dom"),
        (F.count("*") - F.count_distinct("o_orderkey")).alias("r_uniq"),
        viol(
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("2030-01-01").cast("timestamp"))
        ).alias("r_date"),
    )
    stacked = agg.select(
        F.expr(
            "stack(5, "
            "'o_custkey_not_null', r_null, "
            "'o_totalprice_positive', r_pos, "
            "'o_orderstatus_domain', r_dom, "
            "'o_orderkey_unique', r_uniq, "
            "'o_orderdate_in_range', r_date) AS (rule, n_violations)"
        )
    )
    return stacked.select(
        "rule",
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


@register(
    "events_value_ewma",
    oracle="""
WITH cents AS (
  SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS iv
  FROM events
),
framed AS (
  SELECT event_id, user_id, iv,
         list(iv) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS lst
  FROM cents
)
SELECT event_id, user_id, iv AS value_cents,
       CAST(list_sum(list_transform(range(1, len(lst) + 1),
                                    i -> lst[i] * (1::BIGINT << (i - 1))))
            // ((1::BIGINT << len(lst)) - 1) AS BIGINT) AS ewma_cents,
       CAST(len(lst) AS BIGINT) AS n_window
FROM framed
""",
    doc="Exponentially-weighted moving average over each user's trailing 10 "
    "events in EXACT integer algebra: values in cents, binary decay "
    "weights 2^position (most recent heaviest), EWMA = weighted-sum div "
    "(2^n - 1). collect_list over the ROWS frame is frame-ordered on both "
    "engines, and every operation is integer multiply/shift/floor-divide, "
    "so no partial-sum order — across engines or cluster runs — can flip "
    "a digit (the events_anomaly_rolling_zscore trick applied to decay "
    "smoothing). One shuffle+sort by user feeds the whole computation.",
    tags=("events", "window", "analytics"),
)
def events_value_ewma(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    iv = F.round(F.col("value") * 100).cast("long")
    w10 = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, W.currentRow)
    )
    framed = ev.select(
        "event_id",
        "user_id",
        iv.alias("iv"),
        F.collect_list(iv).over(w10).alias("lst"),
    )
    return framed.select(
        "event_id",
        "user_id",
        F.col("iv").alias("value_cents"),
        F.expr(
            "aggregate(zip_with(lst, sequence(0, size(lst) - 1),"
            "                   (x, i) -> x * shiftleft(1L, i)),"
            "          0L, (a, x) -> a + x)"
            " div (shiftleft(1L, size(lst)) - 1)"
        ).alias("ewma_cents"),
        F.size("lst").cast("long").alias("n_window"),
    )


@register(
    "agg_histogram_equi_depth",
    oracle="""
WITH ranked AS (
  SELECT l_extendedprice,
         ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS bucket
  FROM lineitem
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(min(l_extendedprice), 2) AS lo,
       round(max(l_extendedprice), 2) AS hi
FROM ranked GROUP BY bucket
""",
    doc="Exact equi-depth (decile) histogram of l_extendedprice over a "
    "fully tie-broken total order (price, orderkey, linenumber) so both "
    "engines assign identical bucket boundaries, then per-bucket count "
    "and range. The complement of agg_histogram_equi_width. Computed "
    "with the TWO-PHASE exact-rank plan (operators/ranking.py): approx-"
    "percentile cut points range-bucket the fact table, a PARTITIONED "
    "window ranks within buckets, and broadcast prefix offsets make the "
    "rank global — bit-identical to the oracle's global ntile, with no "
    "single-partition sort anywhere in the plan.",
    tags=("agg", "profiling", "analytics"),
)
def agg_histogram_equi_depth(spark, sf_dir):
    from ..operators.ranking import ntile_from_rank, with_exact_global_order

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = with_exact_global_order(
        li,
        [("l_extendedprice", True), ("l_orderkey", True), ("l_linenumber", True)],
        rank_name="_rk",
    )
    n = li.agg(F.count("*").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "l_extendedprice",
            ntile_from_rank(F.col("_rk"), F.col("_n"), 10).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


@register(
    "embedding_kmeans_lloyd2",
    oracle="""
WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
a0 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c0.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_distance(e.v, c0.cv), 4),
                                       c0.cid) AS rn
    FROM e CROSS JOIN c0
  ) WHERE rn = 1
),
dims AS (
  SELECT a0.cid, i.i AS pos, round(avg(e.v[i.i]), 3) AS cval
  FROM a0 JOIN e USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY 1, 2
),
c1 AS (SELECT cid, list(cval ORDER BY pos) AS cv FROM dims GROUP BY cid),
a1 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT e.vec_id, c1.cid, round(list_distance(e.v, c1.cv), 4) AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_distance(e.v, c1.cv), 4),
                                       c1.cid) AS rn
    FROM e CROSS JOIN c1
  ) WHERE rn = 1
)
SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned,
       round(avg(dist), 4) AS mean_dist
FROM a1 GROUP BY cid
""",
    doc="TWO full Lloyd (k-means) rounds, k=8: assign to seed centroids "
    "(vec_id<8), RECOMPUTE centroids as per-dimension means (rounded to "
    "3dp so both engines agree on the new centers), re-assign against the "
    "recomputed centroids, report per-cluster size and mean distance. "
    "Extends embedding_kmeans_one_iter to the true iterative loop: centroid "
    "recompute is posexplode + (cid, dim) aggregate — shuffle bounded by "
    "k x dims = 512 rows — and each assignment remains a broadcast "
    "map-only pass over the corpus, the shape that makes N Lloyd rounds "
    "N broadcast scans at 100 TB.",
    tags=("similarity", "analytics", "clustering", "iterative"),
)
def embedding_kmeans_lloyd2(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )

    def dist_to(cv_col):
        return F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("v"), cv_col, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x,
                )
            ),
            4,
        )

    def assign(cent):
        w = W.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            emb.join(F.broadcast(cent))
            .select("vec_id", "cid", dist_to(F.col("cv")).alias("dist"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    c0 = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    a0 = assign(c0).select("vec_id", "cid")
    dims = (
        a0.join(emb, "vec_id")
        .select("cid", F.posexplode("v").alias("pos0", "val"))
        .groupBy("cid", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg("val"), 3).alias("cval"))
    )
    c1 = dims.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s.cval,
        ).alias("cv")
    )
    a1 = assign(c1)
    return a1.groupBy("cid").agg(
        F.count("*").alias("n_assigned"),
        F.round(F.avg("dist"), 4).alias("mean_dist"),
    )


@register(
    "scalar_map_higher_order",
    oracle="""
WITH per AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       string_agg(event_type || ':' || CAST(n AS VARCHAR),
                  ',' ORDER BY event_type) AS counts_enc,
       string_agg(event_type || ':' || CAST(n * 2 AS VARCHAR),
                  ',' ORDER BY event_type) AS doubled_enc,
       coalesce(string_agg(CASE WHEN n >= 3
                                THEN event_type || ':' || CAST(n AS VARCHAR)
                           END, ',' ORDER BY event_type), '') AS frequent_enc,
       string_agg(event_type || ':'
                    || CAST(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
                            AS VARCHAR),
                  ',' ORDER BY event_type) AS avg_cents_enc
FROM per GROUP BY user_id
""",
    doc="Map-typed higher-order function surface: per-user maps event_type "
    "-> count and -> cents-sum built with map_from_entries, then "
    "transform_values (scale), map_filter (threshold), and map_zip_with "
    "(floor-divide the two maps into a per-type average). Maps are "
    "encoded as sorted 'k:v' strings because map hashing is not portable "
    "across engines; the DuckDB oracle computes the same contract from "
    "the flat (user, type) aggregate with ordered string_agg. The map "
    "column shape is ONE row per user regardless of event count, and all "
    "map lambdas are codegen'd JVM expressions — the pattern for carrying "
    "per-entity feature dictionaries through a 100 TB pipeline without "
    "exploding them.",
    tags=("scalar", "map", "higher-order", "events"),
)
def scalar_map_higher_order(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    iv = F.round(F.col("value") * 100).cast("long")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"), F.sum(iv).alias("s")
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("mc"),
        F.map_from_entries(F.collect_list(F.struct("event_type", "s"))).alias("ms"),
    )

    def enc(mcol):
        return F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(mcol),
                    lambda e: F.concat_ws(":", e.key, e.value.cast("string")),
                )
            ),
            ",",
        )

    return m.select(
        "user_id",
        enc(F.col("mc")).alias("counts_enc"),
        enc(F.transform_values("mc", lambda k, v: v * 2)).alias("doubled_enc"),
        enc(F.map_filter("mc", lambda k, v: v >= 3)).alias("frequent_enc"),
        enc(
            F.map_zip_with("mc", "ms", lambda k, c, s: F.floor(s / c).cast("long"))
        ).alias("avg_cents_enc"),
    )


@register(
    "agg_modern_conditional",
    oracle="""
WITH o AS (
  SELECT o_orderstatus, o_custkey, o_totalprice, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) * 10000000000 + o_orderkey
           AS ord_key
  FROM orders
)
SELECT o_orderstatus,
       CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
       bool_or(o_totalprice > 100000) AS any_big,
       bool_and(o_totalprice > 0) AS all_positive,
       arg_max(o_custkey, ord_key) AS top_custkey,
       arg_min(o_custkey, ord_key) AS bottom_custkey
FROM o GROUP BY o_orderstatus
""",
    doc="Modern conditional-aggregate surface: count_if, bool_or/bool_and "
    "(ANY/EVERY), and max_by/min_by (argmax/argmin) — the aggregates that "
    "replace self-joins and CASE pyramids. Argmax is made deterministic "
    "under price ties by ordering on an exact integer composite "
    "(cents * 1e10 + orderkey), the same scaled-integer trick the EWMA "
    "and PageRank queries use. One map-side-combined aggregation pass; "
    "every function is a built-in JVM aggregate (no UDAF).",
    tags=("agg", "modern", "analytics"),
)
def agg_modern_conditional(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    ord_key = (
        F.round(F.col("o_totalprice") * 100).cast("long") * F.lit(10000000000)
        + F.col("o_orderkey")
    )
    return o.select(
        "o_orderstatus", "o_custkey", "o_totalprice", ord_key.alias("ord_key")
    ).groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.bool_or(F.col("o_totalprice") > 100000).alias("any_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.max_by("o_custkey", "ord_key").alias("top_custkey"),
        F.min_by("o_custkey", "ord_key").alias("bottom_custkey"),
    )


_BFS_SQL = (
    """
WITH RECURSIVE edges AS (
  SELECT CAST(s.s_nationkey AS BIGINT) AS src,
         CAST(c.c_nationkey AS BIGINT) AS dst,
         CAST(count(*) AS BIGINT) AS w
"""
    + CROSS_BORDER_SQL
    + """  GROUP BY 1, 2
), strong AS (
  SELECT src, dst FROM (
    SELECT src, dst, w,
           count(*) OVER (PARTITION BY src) AS src_cnt,
           sum(w)   OVER (PARTITION BY src) AS src_tot
    FROM edges
  ) WHERE w * src_cnt >= src_tot
), bfs AS (
  SELECT CAST(0 AS BIGINT) AS nation, 0 AS depth
  UNION ALL
  SELECT e.dst, b.depth + 1
  FROM bfs b JOIN strong e ON e.src = b.nation
  WHERE b.depth < 3
)
SELECT nation, CAST(min(depth) AS INT) AS min_depth,
       CAST(count(*) AS BIGINT) AS n_walks
FROM bfs GROUP BY nation
"""
)


@register(
    "graph_bfs_reachability",
    oracle=_BFS_SQL,
    doc="Recursive-CTE BFS (WITH RECURSIVE, Spark 4 native) over the "
    "sparsified nation trade graph (each source keeps only its above-"
    "average-weight out-edges — a per-source threshold so no node goes "
    "edgeless): from nation 0, every nation reachable in <= 3 hops, its "
    "shortest depth, and the number of distinct walks that reach it. The "
    "fact tables are touched exactly once to build the weighted edge list "
    "(same join spine as the PageRank query); the recursion then runs at "
    "graph scale (<= 625 edges), so each iteration is a dimension-sized "
    "join no matter how large lineitem is. Identical SQL text runs on "
    "both engines — the threshold is multiplication-only (w * src_cnt >= "
    "src_tot), no division dialect.",
    tags=("graph", "sql", "iterative"),
)
def graph_bfs_reachability(spark, sf_dir):
    from ..sources.tables import register_tables

    register_tables(
        spark, sf_dir, names=("lineitem", "supplier", "orders", "customer")
    )
    return spark.sql(_BFS_SQL)


@register(
    "agg_quantile_fixed_bin_rollup",
    oracle="""
WITH cents AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
), mm AS (
  SELECT min(v) AS mn, max(v) AS mx FROM cents
), binned AS (
  SELECT flag,
         least(255, (v - mn) * 256 // (mx - mn + 1)) AS bin,
         mn, mx
  FROM cents CROSS JOIN mm
), hist AS MATERIALIZED (
  SELECT flag, bin, max(mn) AS mn, max(mx) AS mx, count(*) AS c
  FROM binned GROUP BY flag, bin
), cum AS (
  SELECT flag, bin, mn, mx,
         sum(c) OVER (PARTITION BY flag ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY flag) AS n
  FROM hist
), tgt AS (
  SELECT flag, bin, mn, mx, n, p
  FROM cum CROSS JOIN (SELECT unnest([50, 95, 99]) AS p)
  WHERE cum >= (n * p + 99) // 100
), pick AS (
  SELECT flag, p, CAST(max(n) AS BIGINT) AS n,
         max(mn) + (min(bin) * (max(mx) - max(mn) + 1)) // 256
           AS est_cents
  FROM tgt GROUP BY flag, p
)
SELECT flag, max(n) AS n,
       CAST(max(CASE WHEN p = 50 THEN est_cents END) AS BIGINT)
         AS p50_est_cents,
       CAST(max(CASE WHEN p = 95 THEN est_cents END) AS BIGINT)
         AS p95_est_cents,
       CAST(max(CASE WHEN p = 99 THEN est_cents END) AS BIGINT)
         AS p99_est_cents
FROM pick GROUP BY flag
""",
    doc="MERGEABLE quantile rollup via fixed-width binning — the "
    "two-pass sketch pattern for percentiles at 100 TB when "
    "approx_percentile's opaque sketch can't be hash-checked: pass 1 is "
    "an exact global min/max (one tiny agg, broadcast); pass 2 buckets "
    "every value into 256 equi-width bins and counts per (group, bin) "
    "— a map-side-combining aggregate whose output is bounded by "
    "groups x 256 and which MERGES across shards/days by plain "
    "addition, the property count(DISTINCT)-style exact percentiles "
    "lack. p50/p95/p99 are then read off the cumulative histogram at "
    "dimension scale (bin lower edge = conservative estimate with "
    "error <= bin width). Everything is integer cents, so estimate "
    "AND error are bit-identical cross-engine. The same histogram "
    "re-aggregates to any coarser grouping without rescanning facts.",
    tags=("agg", "sketch", "percentile"),
)
def agg_quantile_fixed_bin_rollup(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    mm = cents.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    binned = cents.crossJoin(F.broadcast(mm)).select(
        "flag",
        F.expr("least(255, (v - mn) * 256 div (mx - mn + 1))").alias("bin"),
        "mn",
        "mx",
    )
    hist = binned.groupBy("flag", "bin").agg(
        F.max("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.count("*").alias("c"),
    )
    w_cum = (
        W.partitionBy("flag")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = hist.select(
        "flag",
        "bin",
        "mn",
        "mx",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(W.partitionBy("flag")).alias("n"),
    )
    tgt = (
        cum.crossJoin(
            F.broadcast(
                cum.sparkSession.range(1).select(
                    F.explode(F.array(F.lit(50), F.lit(95), F.lit(99))).alias(
                        "p"
                    )
                )
            )
        )
        .where(F.col("cum") >= F.expr("(n * p + 99) div 100"))
    )
    pick = tgt.groupBy("flag", "p").agg(
        F.max("n").cast("long").alias("n"),
        F.expr(
            "max(mn) + (min(bin) * (max(mx) - max(mn) + 1)) div 256"
        ).alias("est_cents"),
    )
    return pick.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("p") == 50, F.col("est_cents")))
        .cast("long")
        .alias("p50_est_cents"),
        F.max(F.when(F.col("p") == 95, F.col("est_cents")))
        .cast("long")
        .alias("p95_est_cents"),
        F.max(F.when(F.col("p") == 99, F.col("est_cents")))
        .cast("long")
        .alias("p99_est_cents"),
    )


@register(
    "graph_weighted_sssp",
    oracle="""
WITH edges AS MATERIALIZED (
  SELECT CAST(s.s_nationkey AS BIGINT) AS src,
         CAST(c.c_nationkey AS BIGINT) AS dst,
         CAST(count(*) AS BIGINT) AS w
"""
    + CROSS_BORDER_SQL
    + """  GROUP BY 1, 2
), e AS MATERIALIZED (
  SELECT src, dst, 1000000 // (w + 1) AS cost FROM edges
), n AS (SELECT CAST(n_nationkey AS BIGINT) AS node, n_name FROM nation),
s0 AS MATERIALIZED (
  SELECT src AS root FROM (
    SELECT src, sum(w) AS tw FROM edges GROUP BY src
    ORDER BY tw DESC, src LIMIT 1)
), d0 AS (
  SELECT node, CASE WHEN node = (SELECT root FROM s0) THEN CAST(0 AS BIGINT)
                    ELSE CAST(1000000000000000 AS BIGINT) END AS dist
  FROM n
), d1 AS (
  SELECT n.node, least(min(d.dist),
                       coalesce(min(du.dist + e.cost),
                                CAST(1000000000000000 AS BIGINT))) AS dist
  FROM n
  JOIN d0 d ON d.node = n.node
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN d0 du ON du.node = e.src
  GROUP BY n.node
), d2 AS (
  SELECT n.node, least(min(d.dist),
                       coalesce(min(du.dist + e.cost),
                                CAST(1000000000000000 AS BIGINT))) AS dist
  FROM n
  JOIN d1 d ON d.node = n.node
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN d1 du ON du.node = e.src
  GROUP BY n.node
), d3 AS (
  SELECT n.node, least(min(d.dist),
                       coalesce(min(du.dist + e.cost),
                                CAST(1000000000000000 AS BIGINT))) AS dist
  FROM n
  JOIN d2 d ON d.node = n.node
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN d2 du ON du.node = e.src
  GROUP BY n.node
)
SELECT CAST(n.node AS INT) AS nationkey, n.n_name, d3.dist AS dist
FROM n JOIN d3 ON d3.node = n.node
WHERE d3.dist < 1000000000000000
""",
    doc="Weighted single-source shortest path (3 unrolled Bellman-Ford "
    "relaxation rounds = all paths up to 3 hops) over the nation trade "
    "graph from nation 0, edge cost inversely proportional to trade "
    "volume (1e6 div (w+1)) — the 'cheapest route through the supply "
    "network' query. All arithmetic is integer; INF is an explicit "
    "sentinel so min() stays total. Scale shape mirrors "
    "graph_pagerank_nations: facts are touched once to build the "
    "<=|nations|^2 aggregated edge list, every relaxation is a "
    "dimension-scale join — a 30-round Bellman-Ford over a billion-"
    "edge fact table costs 30 dimension joins plus ONE fact pass, "
    "which is why the unrolled-rounds pattern is the Spark-native way "
    "to run Pregel-class algorithms without a graph engine.",
    tags=("graph", "iterative", "analytics"),
)
def graph_weighted_sssp(spark, sf_dir):
    INF = 1_000_000_000_000_000
    edges = (
        cross_border_trade(spark, sf_dir)
        .groupBy(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    # the edge list is dimension-scale (<= |nations|^2): materialize it
    # once and CUT the lineage so the unrolled relaxation rounds plan
    # against a 625-row leaf instead of re-deriving the 4-table fact
    # join per round (same localCheckpoint trick as connected_components)
    e = (
        edges.select(
            "src", "dst", "w", F.expr("1000000 div (w + 1)").alias("cost")
        )
        .coalesce(1)
        .localCheckpoint()
    )
    nation = load_table(spark, sf_dir, "nation")
    nodes = nation.select(
        F.col("n_nationkey").cast("long").alias("node"), "n_name"
    )
    # source = the nation with the most outgoing trade (tie: smallest key)
    # — data-derived so the query is non-vacuous at every scale factor
    root = (
        e.groupBy("src")
        .agg(F.sum("w").alias("tw"))
        .orderBy(F.col("tw").desc(), "src")
        .limit(1)
        .select(F.col("src").alias("root"))
    )
    dist = nodes.crossJoin(F.broadcast(root)).select(
        "node",
        F.when(F.col("node") == F.col("root"), F.lit(0))
        .otherwise(F.lit(INF))
        .cast("long")
        .alias("dist"),
    )
    for _ in range(3):
        du = dist.select(
            F.col("node").alias("src"), F.col("dist").alias("du")
        )
        relax = (
            nodes.select("node")
            .join(dist, "node")
            .join(F.broadcast(e), e["dst"] == F.col("node"), "left")
            .join(F.broadcast(du), "src", "left")
            .groupBy("node")
            .agg(
                F.least(
                    F.min("dist"),
                    F.coalesce(
                        F.min(F.col("du") + F.col("cost")),
                        F.lit(INF).cast("long"),
                    ),
                ).alias("dist")
            )
        )
        dist = relax
    return (
        nodes.join(dist, "node")
        .where(F.col("dist") < INF)
        .select(
            F.col("node").cast("int").alias("nationkey"), "n_name", "dist"
        )
    )


@register(
    "pandas_udaf_weighted_mean",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(l_quantity AS BIGINT)) //
            sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
         AS wmean_cents
FROM lineitem GROUP BY l_returnflag
""",
    doc="Pandas GROUPED-AGG UDAF (@pandas_udf returning a scalar per "
    "group) — the custom-aggregate escape hatch completing the Arrow "
    "UDF surface (scalar: mapInPandas/mapInArrow, grouped-map: "
    "applyInPandas, table: @udtf, stateful: applyInPandasWithState, "
    "and now aggregate): a quantity-weighted mean computed inside "
    "numpy on int64 cents so the result is exact and engine-"
    "comparable. Spark evaluates grouped-agg pandas UDFs with partial "
    "Arrow batches per group after the group shuffle — the same "
    "topology as a built-in aggregate minus map-side combine, which "
    "is the documented cost of custom aggregation (use builtins when "
    "algebra allows; this exists for when it doesn't).",
    tags=("agg", "pandas-udf", "surface"),
)
def pandas_udaf_weighted_mean(spark, sf_dir):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _wmean(price, qty):
        import numpy as np

        cents = np.round(price.to_numpy() * 100).astype("int64")
        q = qty.to_numpy().astype("int64")
        return int((cents * q).sum() // q.sum())

    # annotations set explicitly: the module's postponed annotations would
    # leave pandas unresolvable when pyspark inspects the signature
    _wmean.__annotations__ = {
        "price": pd.Series,
        "qty": pd.Series,
        "return": int,
    }
    wmean_cents = pandas_udf(_wmean, "long")

    li = load_table(spark, sf_dir, "lineitem")
    # grouped-agg pandas UDFs cannot share an agg with non-pandas
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT): run the builtin count
    # as its own dimension-scale aggregate and join
    wm = li.groupBy("l_returnflag").agg(
        wmean_cents("l_extendedprice", "l_quantity").alias("wmean_cents")
    )
    counts = li.groupBy("l_returnflag").agg(F.count("*").alias("n_items"))
    return counts.join(wm, "l_returnflag").select(
        "l_returnflag", "n_items", "wmean_cents"
    )


@register(
    "udf_arrow_scalar_labeled_slowpath",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> length(t) >= 6)) AS INT) AS n_long_tokens
FROM documents WHERE doc_id % 5 = 0
""",
    doc="Arrow-optimized scalar Python UDF (Spark 4 useArrow=True) — the "
    "LABELED SLOW PATH, registered deliberately: the same long-token "
    "count is one builtin higher-order expression "
    "(text_* queries do exactly that), and this query exists to pin "
    "the escape hatch's semantics and its cost model, not to "
    "recommend it. Arrow batching removes pickle row-trips (~10x "
    "over classic UDFs) but the expression still leaves codegen, so "
    "the rule stands: builtins first, Arrow-batch UDFs when Python "
    "is genuinely required, never row-at-a-time. Input is pre-"
    "filtered to a 20% slice so the Python boundary sees the minimum "
    "rows — push filters BELOW the UDF, always.",
    tags=("surface", "pandas-udf", "text"),
)
def udf_arrow_scalar_labeled_slowpath(spark, sf_dir):
    from pyspark.sql.functions import udf

    @udf("int", useArrow=True)
    def n_long_tokens(text: str) -> int:
        return sum(1 for t in text.split(" ") if len(t) >= 6)

    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", n_long_tokens("text").alias("n_long_tokens")
    )


@register(
    "arrow_grouped_apply_label_stats",
    oracle="""
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), x AS (
  SELECT label,
         CAST(round(v[1] * 1000) AS BIGINT) AS d0,
         CAST(round(v[2] * 1000) AS BIGINT) AS d1
  FROM e
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(d0) AS BIGINT) AS sum_d0_e3,
       CAST(sum(d1) AS BIGINT) AS sum_d1_e3,
       CAST(max(abs(d0)) AS BIGINT) AS max_abs_d0_e3
FROM x GROUP BY label
""",
    doc="applyInArrow grouped map (Spark 4): per-label statistics "
    "computed directly on Arrow RecordBatches — the zero-copy grouped "
    "escape hatch one step below applyInPandas (no pandas object "
    "materialization, so per-group overhead is the Arrow buffer "
    "itself; the right tier when the kernel is columnar math, as "
    "mapInArrow is for the ungrouped case). Elements pre-scale to "
    "integer e3 INSIDE the kernel so the sums are exact cross-engine. "
    "Completes the Arrow surface matrix: scalar (mapInArrow), grouped "
    "(this), cogrouped + stateful (pandas variants).",
    tags=("pandas-udf", "surface", "similarity"),
)
def arrow_grouped_apply_label_stats(spark, sf_dir):
    import pyarrow as pa

    def stats(table: "pa.Table") -> "pa.Table":
        import numpy as np
        import pyarrow.compute as pc

        label = table.column("label")[0].as_py()
        flat = pc.list_flatten(table.column("embedding"))
        mat = flat.to_numpy(zero_copy_only=False).reshape(len(table), -1)
        d0 = np.round(mat[:, 0] * 1000).astype("int64")
        d1 = np.round(mat[:, 1] * 1000).astype("int64")
        return pa.table(
            {
                "label": pa.array([label], type=pa.int32()),
                "n_vectors": [len(table)],
                "sum_d0_e3": [int(d0.sum())],
                "sum_d1_e3": [int(d1.sum())],
                "max_abs_d0_e3": [int(np.abs(d0).max())],
            }
        )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "embedding"
    )
    return emb.groupBy("label").applyInArrow(
        stats,
        schema=(
            "label int, n_vectors long, sum_d0_e3 long, "
            "sum_d1_e3 long, max_abs_d0_e3 long"
        ),
    )


@register(
    "udf_scalar_iter_model_init",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
            AS INT) AS n_stopwords
FROM documents WHERE doc_id % 10 = 0
""",
    doc="Iterator-form pandas UDF (Iterator[pd.Series] -> "
    "Iterator[pd.Series]) — the variant that exists for EXPENSIVE "
    "PER-EXECUTOR INITIALIZATION: the 'model' (here a stopword set "
    "standing in for a tokenizer or an ONNX session) is constructed "
    "ONCE before the batch loop instead of per batch or per row — "
    "load-a-model-per-partition is the single most common real "
    "reason training pipelines drop into Python, and this is its "
    "correct shape. Labeled slow path like "
    "udf_arrow_scalar_labeled_slowpath: the same count is one "
    "builtin higher-order filter (the oracle), and the filter is "
    "pushed below the UDF so Python sees a 10% slice.",
    tags=("pandas-udf", "surface", "text"),
)
def udf_scalar_iter_model_init(spark, sf_dir):
    from typing import Iterator as _Iterator

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _count_stopwords(
        batches,
    ):
        # expensive init happens ONCE per worker task, outside the loop
        model = frozenset(("the", "a", "of", "and", "to", "in", "is"))
        for texts in batches:
            yield texts.map(
                lambda t: sum(1 for w in t.split(" ") if w in model)
            ).astype("int32")

    _count_stopwords.__annotations__ = {
        "batches": _Iterator[pd.Series],
        "return": _Iterator[pd.Series],
    }
    n_stopwords = pandas_udf(_count_stopwords, "int")

    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", n_stopwords("text").alias("n_stopwords")
    )


@register(
    "graph_kcore_membership",
    oracle="""
WITH edges0 AS MATERIALIZED (
"""
    + TRADE_PAIRS_SQL
    + """), deg0 AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM edges0 UNION ALL SELECT b FROM edges0) GROUP BY n
), alive1 AS (SELECT n FROM deg0 WHERE d >= 3),
e1 AS (
  SELECT a, b FROM edges0
  WHERE a IN (SELECT n FROM alive1) AND b IN (SELECT n FROM alive1)
), deg1 AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY n
), alive2 AS (SELECT n FROM deg1 WHERE d >= 3),
e2 AS (
  SELECT a, b FROM e1
  WHERE a IN (SELECT n FROM alive2) AND b IN (SELECT n FROM alive2)
), deg2 AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY n
), alive3 AS (SELECT n FROM deg2 WHERE d >= 3)
SELECT CAST(nt.n_nationkey AS INT) AS nationkey, nt.n_name,
       nt.n_nationkey IN (SELECT n FROM alive3) AS in_3core_after_3_rounds,
       CAST(coalesce((SELECT d FROM deg0 WHERE deg0.n = nt.n_nationkey), 0)
            AS BIGINT) AS initial_degree
FROM nation nt
""",
    doc="k-core decomposition (k=3, three unrolled peel rounds) over the "
    "undirected nation trade graph: nodes with degree < k peel off, "
    "degrees recompute on the surviving subgraph, repeat — the "
    "cohesion filter community detection and fraud-ring analysis "
    "start from (a 3-core member has 3 neighbors that THEMSELVES "
    "stay connected, which no simple degree threshold gives). Same "
    "Pregel-by-unrolling shape as PageRank/SSSP: one fact pass "
    "builds the <=|nations|^2 deduplicated edge list, every peel "
    "round is a dimension-scale semi-join + degree count. Three "
    "rounds suffice for this graph's diameter; more rounds cost one "
    "dimension join each.",
    tags=("graph", "iterative", "analytics"),
)
def graph_kcore_membership(spark, sf_dir):
    edges = trade_pairs(spark, sf_dir).coalesce(1).localCheckpoint()

    def degrees(e):
        return (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )

    deg0 = degrees(edges).persist()
    e = edges
    core = None
    # membership = survivors of the THIRD degree test (alive3), i.e.
    # degree >= 3 in the twice-peeled subgraph — the loop's last alive
    # set, matching the oracle's alive3 exactly (recomputing degrees
    # after the third edge filter would be alive4)
    for _ in range(3):
        core = degrees(e).where(F.col("d") >= 3).select("n")
        e = (
            e.join(core.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(core.withColumnRenamed("n", "b"), "b", "left_semi")
        )
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(
            core.withColumnRenamed("n", "n_nationkey").withColumn(
                "in_core", F.lit(True)
            ),
            "n_nationkey",
            "left",
        )
        .join(
            F.broadcast(
                deg0.withColumnRenamed("n", "n_nationkey").withColumnRenamed(
                    "d", "initial_degree"
                )
            ),
            "n_nationkey",
            "left",
        )
        .select(
            F.col("n_nationkey").cast("int").alias("nationkey"),
            "n_name",
            F.coalesce("in_core", F.lit(False)).alias(
                "in_3core_after_3_rounds"
            ),
            F.coalesce("initial_degree", F.lit(0))
            .cast("long")
            .alias("initial_degree"),
        )
    )


@register(
    "nation_trade_balance",
    oracle="""
WITH flows AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
"""
    + CROSS_BORDER_SQL
    + """  GROUP BY 1, 2
), exports AS (
  SELECT src AS nationkey, sum(cents) AS out_cents FROM flows GROUP BY src
), imports AS (
  SELECT dst AS nationkey, sum(cents) AS in_cents FROM flows GROUP BY dst
)
SELECT CAST(n.n_nationkey AS INT) AS nationkey, n.n_name,
       CAST(coalesce(e.out_cents, 0) AS BIGINT) AS export_cents,
       CAST(coalesce(i.in_cents, 0) AS BIGINT) AS import_cents,
       CAST(coalesce(e.out_cents, 0) - coalesce(i.in_cents, 0) AS BIGINT)
         AS net_cents
FROM nation n
LEFT JOIN exports e ON e.nationkey = n.n_nationkey
LEFT JOIN imports i ON i.nationkey = n.n_nationkey
""",
    doc="Trade balance per nation — the directed-flow read of the same "
    "cross-nation edge list the graph family iterates on (PageRank/"
    "SSSP/k-core build it identically): supplier-side revenue is an "
    "export, customer-side spend an import, net position their "
    "difference in exact cents. Fact tables are touched once into the "
    "<=|nations|^2 flow matrix; everything after is dimension-sized "
    "with LEFT joins so zero-flow nations still report (non-vacuous "
    "denominators, the lesson every audit query here applies).",
    tags=("analytics", "graph", "agg"),
)
def nation_trade_balance(spark, sf_dir):
    flows = (
        cross_border_trade(spark, sf_dir)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    flows = flows.persist()
    exports = flows.groupBy(F.col("src").alias("nationkey")).agg(
        F.sum("cents").alias("out_cents")
    )
    imports = flows.groupBy(F.col("dst").alias("nationkey")).agg(
        F.sum("cents").alias("in_cents")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )
    return (
        nation.join(F.broadcast(exports), "nationkey", "left")
        .join(F.broadcast(imports), "nationkey", "left")
        .select(
            F.col("nationkey").cast("int").alias("nationkey"),
            "n_name",
            F.coalesce("out_cents", F.lit(0))
            .cast("long")
            .alias("export_cents"),
            F.coalesce("in_cents", F.lit(0))
            .cast("long")
            .alias("import_cents"),
            (
                F.coalesce("out_cents", F.lit(0))
                - F.coalesce("in_cents", F.lit(0))
            )
            .cast("long")
            .alias("net_cents"),
        )
    )


@register(
    "graph_personalized_pagerank",
    oracle="""
WITH edges AS MATERIALIZED (
  SELECT CAST(s.s_nationkey AS BIGINT) AS src, CAST(c.c_nationkey AS BIGINT) AS dst,
         CAST(count(*) AS BIGINT) AS w
"""
    + NATION_TRADE_SQL
    + """  GROUP BY 1, 2
),
e AS MATERIALIZED (
  SELECT src, dst, w, CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS outw
  FROM edges
),
seeds AS MATERIALIZED (
  SELECT CAST(n_nationkey AS BIGINT) AS node
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
n AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS node, n_name FROM nation),
p AS MATERIALIZED (
  SELECT CAST(1000000000000 // count(*) AS BIGINT) AS pers FROM seeds
),
pn AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN n.node IN (SELECT node FROM seeds)
              THEN (SELECT pers FROM p) ELSE 0 END AS pers
  FROM n
),
r0 AS (SELECT node, pers AS rank FROM pn),
r1 AS (
  SELECT pn.node,
         CAST(15 * pn.pers // 100
              + 85 * coalesce(sum(r.rank * e.w // e.outw), 0) // 100 AS BIGINT) AS rank
  FROM pn LEFT JOIN e ON e.dst = pn.node
          LEFT JOIN r0 r ON r.node = e.src
  GROUP BY pn.node, pn.pers
),
r2 AS (
  SELECT pn.node,
         CAST(15 * pn.pers // 100
              + 85 * coalesce(sum(r.rank * e.w // e.outw), 0) // 100 AS BIGINT) AS rank
  FROM pn LEFT JOIN e ON e.dst = pn.node
          LEFT JOIN r1 r ON r.node = e.src
  GROUP BY pn.node, pn.pers
),
r3 AS (
  SELECT pn.node,
         CAST(15 * pn.pers // 100
              + 85 * coalesce(sum(r.rank * e.w // e.outw), 0) // 100 AS BIGINT) AS rank
  FROM pn LEFT JOIN e ON e.dst = pn.node
          LEFT JOIN r2 r ON r.node = e.src
  GROUP BY pn.node, pn.pers
)
SELECT CAST(n.node AS INT) AS nationkey, n.n_name AS n_name, r3.rank AS rank_e12
FROM n JOIN r3 ON r3.node = n.node
""",
    doc="PERSONALIZED PageRank (3 unrolled rounds, damping 0.85) over the "
    "same nation trade graph as graph_pagerank_nations, but the teleport "
    "mass is restricted to a seed set (ASIA nations) — the localized-"
    "influence / recommendation variant: ranks answer 'which nations does "
    "ASIA's trade flow reach', not 'which nations are globally central'. "
    "Identical exact-integer algebra (1e-12 rank units, floor division) "
    "and identical scale shape: fact tables build the <=625-row edge list "
    "once; every extra iteration is a dimension-scale join. The seed "
    "personalization is how PPR runs at 100 TB: one shared edge list, "
    "many seed vectors.",
    tags=("graph", "iterative", "analytics"),
)
def graph_personalized_pagerank(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    seeds_df = nation.join(
        F.broadcast(region.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").cast("long").alias("node"))
    n_seeds = seeds_df.count()  # bounded dimension: driver scalar is scale-safe
    pers_val = _PAGERANK_SCALE // n_seeds

    edges = (
        nation_trade(spark, sf_dir)
        .groupBy(
            F.col("s_nationkey").cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    e = edges.join(outw, "src").persist()

    nodes = nation.select(F.col("n_nationkey").cast("long").alias("node"))
    pn = nodes.join(
        F.broadcast(seeds_df.withColumn("_s", F.lit(1))), "node", "left"
    ).select(
        "node",
        F.when(F.col("_s").isNotNull(), F.lit(pers_val))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pers"),
    )
    r = pn.select("node", F.col("pers").alias("rank"))
    for _ in range(3):
        contrib = e.join(r, F.col("src") == F.col("node")).select(
            "dst", F.expr("rank * w div outw").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        r = pn.join(summed, F.col("node") == F.col("dst"), "left").select(
            "node",
            (
                F.expr("15 * pers div 100")
                + F.expr("85 * coalesce(s, CAST(0 AS BIGINT)) div 100")
            ).cast("long").alias("rank"),
        )
    dim = nation.select("n_nationkey", "n_name")
    return r.join(F.broadcast(dim), r.node == dim.n_nationkey).select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("n_name"),
        F.col("rank").alias("rank_e12"),
    )


@register(
    "agg_aqp_sample_estimate",
    oracle="""
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                                        AS VARCHAR)), 1, 4)) AS INT) % 100
           AS bucket
  FROM lineitem
)
SELECT l_returnflag,
       CAST(sum(cents) AS BIGINT) AS exact_cents,
       CAST(sum(CASE WHEN bucket < 5 THEN cents ELSE 0 END) * 20 AS BIGINT)
         AS est_cents,
       CAST(abs(sum(CASE WHEN bucket < 5 THEN cents ELSE 0 END) * 20
                - sum(cents)) * 10000 // sum(cents) AS BIGINT)
         AS rel_err_e4
FROM base GROUP BY l_returnflag
""",
    doc="Approximate query processing: a deterministic 5% md5-bucket "
    "sample of lineitem estimates per-flag revenue (Horvitz-Thompson "
    "scale-up x20) next to the exact figure, reporting the realized "
    "relative error in e4 units — the accuracy audit a 100 TB "
    "deployment runs before trusting sample-based dashboards. The "
    "sample predicate is pure row-local arithmetic on the scan (no "
    "shuffle to sample), the estimator is a conditional aggregate in "
    "the SAME single-shuffle pass as the exact sum, and because the "
    "bucket hash is deterministic the 'estimate' is reproducible and "
    "hash-checkable — unlike rand()-based sampling, which no oracle "
    "could replay.",
    tags=("agg", "sampling", "aqp"),
)
def agg_aqp_sample_estimate(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast(
                            "string"
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            % 100
        ).alias("bucket"),
    )
    in_sample = F.when(F.col("bucket") < 5, F.col("cents")).otherwise(F.lit(0))
    return base.groupBy("l_returnflag").agg(
        F.sum("cents").cast("long").alias("exact_cents"),
        (F.sum(in_sample) * 20).cast("long").alias("est_cents"),
        F.expr(
            "CAST(abs(sum(CASE WHEN bucket < 5 THEN cents ELSE 0 END) * 20"
            " - sum(cents)) * 10000 div sum(cents) AS BIGINT)"
        ).alias("rel_err_e4"),
    )


@register(
    "embedding_silhouette_by_cluster",
    oracle="""
WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
a0 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c0.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_distance(e.v, c0.cv), 4),
                                       c0.cid) AS rn
    FROM e CROSS JOIN c0
  ) WHERE rn = 1
),
dims AS (
  SELECT a0.cid, i.i AS pos, round(avg(e.v[i.i]), 3) AS cval
  FROM a0 JOIN e USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY 1, 2
),
c1 AS (SELECT cid, list(cval ORDER BY pos) AS cv FROM dims GROUP BY cid),
d AS (
  SELECT e.vec_id, c1.cid, round(list_distance(e.v, c1.cv), 4) AS dist,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round(list_distance(e.v, c1.cv), 4),
                                     c1.cid) AS rn
  FROM e CROSS JOIN c1
),
ab AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cid END) AS cid,
         max(CASE WHEN rn = 1 THEN dist END) AS a,
         max(CASE WHEN rn = 2 THEN dist END) AS b
  FROM d WHERE rn <= 2 GROUP BY vec_id
)
SELECT CAST(cid AS BIGINT) AS cid,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CASE WHEN b > 0
                THEN CAST(round((b - a) / b * 10000) AS BIGINT)
                ELSE 0 END) // count(*) AS BIGINT) AS mean_silhouette_e4,
       CAST(sum(CAST(round(a * 10000) AS BIGINT)) // count(*) AS BIGINT)
         AS mean_intra_e4,
       CAST(sum(CAST(round(b * 10000) AS BIGINT)) // count(*) AS BIGINT)
         AS mean_nearest_other_e4
FROM ab GROUP BY cid
""",
    doc="Per-cluster simplified silhouette after the same two Lloyd "
    "rounds as embedding_kmeans_lloyd2 — the cluster-quality score a "
    "SemDeDup/curation pipeline uses to decide whether k was sane "
    "before trusting cluster-level pruning: a(i) = distance to own "
    "centroid, b(i) = distance to the nearest other centroid, s = "
    "(b-a)/max(a,b), which under argmin assignment reduces to "
    "(b-a)/b >= 0 (Rousseeuw 1987, medoid-free variant). Both "
    "distances fall out of ONE broadcast k-centroid distance pass: "
    "rn=1 is the assignment (a), rn=2 the runner-up (b) under the "
    "same vec_id-partitioned window, per-point scores quantize to e4 "
    "integers BEFORE cluster means so every aggregate is summation-"
    "order-free. Scale shape: two broadcast map-only corpus passes "
    "(assign + score) and a k x dims centroid shuffle — identical to "
    "the Lloyd rounds themselves.",
    tags=("similarity", "analytics", "clustering", "eval"),
)
def embedding_silhouette_by_cluster(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )

    def dist_to(cv_col):
        return F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("v"), cv_col, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0).cast("double"),
                    lambda acc, x: acc + x,
                )
            ),
            4,
        )

    w = W.partitionBy("vec_id").orderBy("dist", "cid")
    c0 = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    a0 = (
        emb.join(F.broadcast(c0))
        .select("vec_id", "cid", dist_to(F.col("cv")).alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    dims = (
        a0.join(emb, "vec_id")
        .select("cid", F.posexplode("v").alias("pos0", "val"))
        .groupBy("cid", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg("val"), 3).alias("cval"))
    )
    c1 = dims.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s.cval,
        ).alias("cv")
    )
    d = (
        emb.join(F.broadcast(c1))
        .select("vec_id", "cid", dist_to(F.col("cv")).alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
    )
    ab = d.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("cid"),
        F.max(F.when(F.col("rn") == 1, F.col("dist"))).alias("a"),
        F.max(F.when(F.col("rn") == 2, F.col("dist"))).alias("b"),
    )
    return ab.groupBy(F.col("cid").cast("long").alias("cid")).agg(
        F.count("*").alias("n_points"),
        F.expr(
            "CAST(sum(CASE WHEN b > 0"
            " THEN CAST(round((b - a) / b * 10000) AS BIGINT)"
            " ELSE 0 END) div count(*) AS BIGINT)"
        ).alias("mean_silhouette_e4"),
        F.expr(
            "CAST(sum(CAST(round(a * 10000) AS BIGINT)) div count(*)"
            " AS BIGINT)"
        ).alias("mean_intra_e4"),
        F.expr(
            "CAST(sum(CAST(round(b * 10000) AS BIGINT)) div count(*)"
            " AS BIGINT)"
        ).alias("mean_nearest_other_e4"),
    )
