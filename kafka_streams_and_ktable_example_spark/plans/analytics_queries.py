"""Behavioral / statistical analytics pack: cohort retention, transition
matrices, gaps-and-islands streaks, histograms, regression aggregates,
deterministic mode, referential-integrity QA, share-of-total, and a
deterministic k-means Lloyd step over the embeddings table.

None of these exist in the reference (SURVEY §2 Table B — the topology at
`kafka_streams.clj:60-81` is a single unwindowed set-aggregate view); they
are the general analytics surface a user of the engine expects on top of the
changelog core. Every query is declarative DataFrame API so Catalyst keeps
scans pruned; aggregates shrink the data BEFORE any window/cross-join step,
so each plan's shuffle volume is bounded by group cardinality, not fact-table
size — the property that keeps these shapes viable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import as_double_array
from ..operators.graph import PART_PAIRS_CTE, part_pairs
from ..sources.tables import load_table
from .catalog import register

# graph_edge_triangle_support K-pass close sizing (r9). Input gate: the
# 10x replica (~170 MB lineitem parquet, 4.11e8 wedges, ~7 GB exchange)
# runs single-action comfortably; the 100x replica (~1.7 GB parquet,
# 4.11e9 wedges) filled the disk twice — 512 MB splits those regimes.
# Row cost: >=14.4 B/row measured on the wire at 100x (59+ GB for
# <=4.11e9 rows, lz4 shuffle compression on); 18 B budgets the tail.
# Scratch budget: 12 GB/pass is right for THIS box (~70 GB free /tmp);
# on a cluster the budget is per-executor shuffle storage, so it is
# overridable (r9 directive #4) via the runtime conf
# ``spark.graft.tri.scratchBudget`` (bytes). K is NOT capped:
# the r9 plan silently clamped K at 16, so past ~192 GiB of wedge
# bytes (~300x replica) per-pass scratch would exceed the budget again
# and the disk-fill failure mode would return with no warning (ADVICE
# r9). Now K scales with the wedge count — more passes cost time, never
# disk — and a warning fires past _TRI_KPASS_WARN_PASSES so an
# operator knows the budget is undersized for the input.
_TRI_KPASS_INPUT_MIN_BYTES = 512 * 1024 * 1024
_TRI_WEDGE_ROW_BYTES = 18
_TRI_SCRATCH_BUDGET_BYTES = 12 * 1024**3
_TRI_KPASS_WARN_PASSES = 64
# Sanity ceiling, NOT a silent clamp (that was the r9 defect): each pass
# is a full Spark job, so a K this large can only mean a misconfigured
# budget (e.g. spark.graft.tri.scratchBudget=0 floors to 1 byte) or an
# input no number of passes could finish anyway — _tri_n_passes RAISES
# past it, naming the computed K and the override conf, instead of
# launching an effectively unbounded job loop at plan-call time. The
# default budget only reaches it past ~2.9e15 wedges (~10^6x replica).
_TRI_KPASS_MAX_PASSES = 4096

# Introspection for tests/profilers: the plan's last sizing decision
# (n_passes, wedge_rows, budget_bytes, scratch dir or None). The K-pass
# path is eager-by-design past the gate (the sizing aggregate + K
# close/write jobs run at plan-call time — documented at the call site),
# so attribution harnesses read this instead of re-deriving it.
_TRI_LAST_PLAN_INFO: dict = {}


def _tri_scratch_budget_bytes(spark) -> int:
    """Resolve the per-pass scratch budget: runtime conf, else default."""
    v = spark.conf.get("spark.graft.tri.scratchBudget", None)
    # floor at 1 byte so pass sizing never divides by zero; a budget so
    # small that K would exceed the sanity ceiling raises loudly there
    return max(1, int(v)) if v else _TRI_SCRATCH_BUDGET_BYTES


def _tri_n_passes(wedge_rows: int, budget_bytes: int) -> int:
    """K = ceil-ish(wedge_bytes / budget), >= 1, uncapped (see above) —
    but a K past the sanity ceiling is a configuration error, not a
    plan: raise loudly rather than enqueue that many sequential jobs."""
    k = int(max(1, wedge_rows * _TRI_WEDGE_ROW_BYTES // budget_bytes + 1))
    if k > _TRI_KPASS_MAX_PASSES:
        raise ValueError(
            f"triangle K-pass sizing computed {k} passes for "
            f"{wedge_rows} wedges under a {budget_bytes}-byte scratch "
            "budget — the budget (spark.graft.tri.scratchBudget) is "
            "almost certainly misconfigured; refusing to launch an "
            "unbounded job loop"
        )
    return k


@register(
    "events_retention_cohort",
    oracle="""
WITH firstseen AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week,
                      CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT)
         AS weeks_since,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM events e JOIN firstseen f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
    doc="Cohort retention matrix: users bucketed by first-seen week, activity "
    "counted per (cohort, weeks-since-cohort) cell — the standard retention "
    "triangle. Two aggregations shuffle on user_id then on the (small) "
    "cohort key; the firstseen side is an aggregate of the same table, so "
    "a cluster reuses the user_id partitioning for both the min() and the "
    "join probe.",
    tags=("events", "agg", "analytics"),
)
def events_retention_cohort(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    return (
        ev.join(first, "user_id")
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.to_date(F.date_trunc("week", F.col("ts"))), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("weeks_since"),
            "user_id",
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "events_page_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
    doc="First-order Markov transition matrix over per-user event sequences: "
    "lag() in event-time order, then count per (prev, next) pair. One "
    "shuffle+sort by user feeds the window; the transition count output is "
    "|event_types|^2 rows regardless of input size. Ties in ts broken by "
    "event_id so the sequence (and therefore the matrix) is deterministic.",
    tags=("events", "window", "analytics"),
)
def events_page_transitions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n_transitions"))
    )


@register(
    "events_streaks_gaps_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), grp AS (
  SELECT user_id, d,
         date_diff('day', DATE '2024-01-01', d)
           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, count(*) AS len FROM grp GROUP BY user_id, island
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS max_streak
FROM streaks GROUP BY user_id
""",
    doc="Gaps-and-islands: per-user runs of consecutive active days. The "
    "classic trick — day_index minus row_number is constant within a "
    "consecutive run — turns streak detection into a plain groupBy; no "
    "self-join, no iteration. Everything after the distinct-days dedup "
    "stays partitioned by user_id, so the window sort, the island groupBy "
    "and the final rollup share one exchange.",
    tags=("events", "window", "analytics"),
)
def events_streaks_gaps_islands(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        (
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("len").alias("max_streak"),
    )


@register(
    "agg_histogram_equi_width",
    oracle="""
WITH ext AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
)
SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19) AS INT)
         AS bucket,
       round(lo + CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19) AS INT)
                  * ((hi - lo) / 20), 2) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n
FROM orders CROSS JOIN ext
GROUP BY 1, 2
""",
    doc="Equi-width histogram (20 buckets) of order totals: global min/max "
    "from one aggregate, broadcast back onto the fact scan, bucket index "
    "computed in codegen. Identical IEEE expression on both engines, so "
    "bucket boundaries are bit-exact. Two passes over the fact table (one "
    "tiny aggregate + one bucketed count) — the standard distributed "
    "histogram plan; no sort anywhere.",
    tags=("agg", "profiling", "analytics"),
)
def agg_histogram_equi_width(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    ext = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 20
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width), F.lit(19)
    ).cast("int")
    return (
        orders.join(F.broadcast(ext))
        .select(
            bucket.alias("bucket"),
            F.round(F.col("lo") + bucket * width, 2).alias("bucket_lo"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg_corr_regression",
    oracle="""
SELECT l_returnflag,
       round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
       round(covar_pop(l_extendedprice, l_quantity), 2) AS price_qty_covar,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
""",
    doc="Bivariate statistics per group: Pearson correlation, population "
    "covariance and the OLS fit of price on quantity — all single-pass "
    "decomposable aggregates (sums of x, y, xy, x^2), so Spark computes "
    "them with map-side partials and one shuffle of 3 group rows. The "
    "feature-correlation screen a training pipeline runs before fitting "
    "anything.",
    tags=("agg", "analytics", "profiling"),
)
def agg_corr_regression(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
        F.round(F.covar_pop("l_extendedprice", "l_quantity"), 2).alias(
            "price_qty_covar"
        ),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.count("*").alias("n"),
    )


@register(
    "agg_mode_deterministic",
    oracle="""
WITH counts AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS cnt
  FROM customer GROUP BY c_mktsegment, c_nationkey
), ranked AS (
  SELECT c_mktsegment, c_nationkey, cnt,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cnt DESC, c_nationkey) AS rn
  FROM counts
)
SELECT c_mktsegment, CAST(c_nationkey AS INT) AS mode_nation,
       CAST(cnt AS BIGINT) AS mode_count
FROM ranked WHERE rn = 1
""",
    doc="Deterministic mode per group: most frequent nation per market "
    "segment, ties broken by smallest key (built-in mode() is "
    "tie-nondeterministic in both engines, so it can't be oracle-checked; "
    "this spelling can). Spark side is two aggregations — count per "
    "(segment, nation), then max_by over a (cnt, -nation) struct — no "
    "window sort at all; the oracle uses the equivalent row_number "
    "spelling.",
    tags=("agg", "analytics"),
)
def agg_mode_deterministic(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("cnt")
    )
    best = F.struct(F.col("cnt"), (-F.col("c_nationkey")).alias("neg"))
    return counts.groupBy("c_mktsegment").agg(
        F.max_by("c_nationkey", best).cast("int").alias("mode_nation"),
        F.max("cnt").alias("mode_count"),
    )


@register(
    "qa_referential_orphans",
    oracle="""
SELECT 'orders.o_custkey->customer' AS relation,
       CAST(count(*) AS BIGINT) AS n_orphans
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
UNION ALL
SELECT 'events.user_id->customer',
       CAST(count(*) AS BIGINT)
FROM events e WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
""",
    doc="Referential-integrity QA sweep: orphan counts for four foreign-key "
    "relations, long-form. Each check is a left-anti join against the "
    "DISTINCT key set of the dimension — the key set is aggregated first "
    "so the anti-join build side is minimal and broadcastable; the fact "
    "side streams through without a sort. (events.user_id has no FK by "
    "design — the nonzero row proves the check detects violations.)",
    tags=("join", "profiling", "qa"),
)
def qa_referential_orphans(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ev = load_table(spark, sf_dir, "events")

    def orphans(fact, fk, dim, pk, relation):
        keys = F.broadcast(dim.select(F.col(pk).alias(fk)).distinct())
        return (
            fact.select(fk)
            .join(keys, fk, "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(relation).alias("relation"), "n_orphans")
        )

    return (
        orphans(orders, "o_custkey", cust, "c_custkey", "orders.o_custkey->customer")
        .unionAll(
            orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders")
        )
        .unionAll(orphans(li, "l_partkey", part, "p_partkey", "lineitem.l_partkey->part"))
        .unionAll(orphans(ev, "user_id", cust, "c_custkey", "events.user_id->customer"))
    )


@register(
    "agg_share_of_total",
    oracle="""
WITH rev AS (
  SELECT n_name, CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, round(revenue, 2) AS revenue,
       round(revenue / sum(revenue) OVER (), 6) AS revenue_share
FROM rev
""",
    doc="Share-of-total (ratio_to_report): per-nation revenue and its share "
    "of the grand total. The unpartitioned window runs AFTER aggregation, "
    "over 25 nation rows — the single-partition window is fine because the "
    "input is group-cardinality-sized, never fact-sized (putting an empty "
    "OVER () on the fact table is the classic scale mistake this plan "
    "avoids). Bounded dims broadcast into the fact scan; customer is left "
    "to AQE (it scales with SF).",
    tags=("agg", "window", "join", "analytics"),
)
def agg_share_of_total(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    # grand total as a broadcast singleton instead of an empty-frame
    # window: same result, but the plan carries no unpartitioned
    # WindowExec at all (exchange reuse dedups the shared agg subplan)
    tot = rev.agg(F.sum("revenue").alias("_tot"))
    return rev.crossJoin(F.broadcast(tot)).select(
        "n_name",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.col("_tot"), 6).alias("revenue_share"),
    )


@register(
    "embedding_kmeans_one_iter",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), assigned AS (
  SELECT vec_id, cid, dist FROM (
    SELECT e.vec_id, cent.cid,
           round(list_distance(e.v, cent.cv), 4) AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_distance(e.v, cent.cv), 4), cent.cid)
             AS rn
    FROM e CROSS JOIN cent) WHERE rn = 1
)
SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned,
       round(avg(dist), 4) AS mean_dist
FROM assigned GROUP BY cid
""",
    doc="One deterministic Lloyd (k-means) assignment step, k=8: centroids "
    "seeded from vec_id<8, every vector assigned to its nearest centroid by "
    "Euclidean distance (rounded before ranking so both engines agree; ties "
    "to smallest centroid id), then per-cluster size and mean distance. "
    "The 8-row centroid side broadcasts, so the assignment is a map-only "
    "pass over the corpus — exactly the shape each Lloyd iteration keeps at "
    "100 TB (iterate by re-seeding `cent` from the recomputed means; "
    "`ann_topk_ivf` shows the same centroid machinery as a query stage).",
    tags=("similarity", "analytics", "clustering"),
)
def embedding_kmeans_one_iter(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
        ),
        4,
    )
    w = W.partitionBy("vec_id").orderBy("dist", "cid")
    assigned = (
        emb.join(F.broadcast(cent))
        .select("vec_id", "cid", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return assigned.groupBy("cid").agg(
        F.count("*").alias("n_assigned"),
        F.round(F.avg("dist"), 4).alias("mean_dist"),
    )


@register(
    "events_anomaly_rolling_zscore",
    oracle="""
WITH cents AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100) AS BIGINT) AS iv
  FROM events
), framed AS (
  SELECT event_id, user_id, iv,
         count(*) OVER w AS n,
         sum(iv) OVER w AS s,
         sum(iv * iv) OVER w AS ssq
  FROM cents
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, iv AS value_cents, CAST(n AS BIGINT) AS n_window
FROM framed
WHERE n >= 5 AND (n * iv - s) * (n * iv - s) > 4 * (n * ssq - s * s)
""",
    doc="Rolling anomaly detection, EXACT integer arithmetic: flag an event "
    "when it sits more than 2 population-stddevs from its trailing-10 "
    "window mean — the |x-mean| > 2s test algebraically cleared of "
    "division: (n*x - s)^2 > 4*(n*ssq - s^2) over penny-scaled values, so "
    "both engines decide every boundary identically (float stddev differs "
    "in the last ulp between implementations; integers never do). One "
    "shuffle+sort by user feeds all three frame aggregates.",
    tags=("events", "window", "profiling", "analytics"),
)
def events_anomaly_rolling_zscore(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    iv = F.round(F.col("value") * 100).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, W.currentRow)
    )
    framed = ev.select(
        "event_id",
        "user_id",
        iv.alias("iv"),
        F.count("*").over(w).alias("n"),
        F.sum(iv).over(w).alias("s"),
        F.sum(iv * iv).over(w).alias("ssq"),
    )
    lhs = (F.col("n") * F.col("iv") - F.col("s"))
    rhs = 4 * (F.col("n") * F.col("ssq") - F.col("s") * F.col("s"))
    return framed.where((F.col("n") >= 5) & (lhs * lhs > rhs)).select(
        "event_id",
        "user_id",
        F.col("iv").alias("value_cents"),
        F.col("n").alias("n_window"),
    )


@register(
    "scalar_bitwise_funcs",
    oracle="""
SELECT o_orderpriority,
       CAST(bit_count(CAST(sum(o_orderkey & 255) AS BIGINT)) AS INT)
         AS low_byte_sum_bits,
       CAST(max(o_orderkey >> 8) AS BIGINT) AS max_high,
       CAST(min(xor(o_orderkey, o_custkey)) AS BIGINT) AS min_xor,
       CAST(max(o_orderkey | 15) AS BIGINT) AS max_or
FROM orders GROUP BY o_orderpriority
""",
    doc="Bitwise scalar surface (AND/OR/XOR/shift/popcount) — the bit "
    "manipulation primitives under any hash/bitmap/bloom construction "
    "(SimHash's hamming distance already leans on bit_count). All stay "
    "integer codegen expressions; one aggregation, map-side partials.",
    tags=("scalar",),
)
def scalar_bitwise_funcs(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    return orders.groupBy("o_orderpriority").agg(
        F.bit_count(F.sum(ok.bitwiseAND(F.lit(255)))).cast("int").alias(
            "low_byte_sum_bits"
        ),
        F.max(F.shiftright(ok, 8)).alias("max_high"),
        F.min(ok.bitwiseXOR(F.col("o_custkey"))).alias("min_xor"),
        F.max(ok.bitwiseOR(F.lit(15))).alias("max_or"),
    )


@register(
    "window_first_last_nth",
    oracle="""
SELECT user_id, event_id,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type) OVER
         (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_type,
       nth_value(event_type, 3) OVER w AS third_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    doc="Positional window values: first/last/nth event type per user in "
    "event-time order — first_value over the running frame, last_value "
    "over the full-partition frame (the default running frame is the "
    "classic last_value gotcha this query pins), nth_value(3) null until "
    "the frame holds 3 rows. One shuffle+sort serves all three.",
    tags=("window", "events"),
)
def window_first_last_nth(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    running = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    full = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(running).alias("first_type"),
        F.last("event_type").over(full).alias("last_type"),
        F.nth_value("event_type", 3).over(running).alias("third_type"),
    )


@register(
    "basket_top_copurchase_partner",
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2
), pairs AS (
  SELECT a.l_partkey AS part, b.l_partkey AS partner,
         CAST(count(*) AS BIGINT) AS cnt
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
)
SELECT part,
       arg_max(partner, cnt * 1000000000 + (1000000000 - partner))
         AS top_partner,
       CAST(max(cnt) AS BIGINT) AS cnt
FROM pairs GROUP BY part
""",
    doc="Market-basket co-purchase: for every part, the partner part most "
    "often ordered together (ties -> smaller partner key, exact integer "
    "composite argmax key cnt*1e9 + (1e9 - partner)). The fact table is "
    "never self-joined: baskets collapse to one array per order (basket "
    "size is bounded by lines-per-order, <= 7 here), ordered pairs unfold "
    "from a codegen'd transform x transform, and two partial-agg shuffles "
    "(pair count, per-part argmax) do the rest. At 100 TB the pair stream "
    "is ~|lineitem| * (basket-1) rows -- linear, not quadratic, and the "
    "collect_set shuffle reuses the natural l_orderkey clustering of the "
    "table layout.",
    tags=("analytics", "basket"),
)
def basket_top_copurchase_partner(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "parts",
                        lambda x: F.transform(
                            F.col("parts"),
                            lambda y: F.struct(
                                x.alias("part"), y.alias("partner")
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.part", "pr.partner")
        .where(F.col("part") != F.col("partner"))
    )
    cnts = pairs.groupBy("part", "partner").agg(F.count("*").alias("cnt"))
    order_key = F.col("cnt") * F.lit(1000000000) + (
        F.lit(1000000000) - F.col("partner")
    )
    return cnts.groupBy("part").agg(
        F.max_by("partner", order_key).alias("top_partner"),
        F.max("cnt").alias("cnt"),
    )


@register(
    "events_max_concurrency_daily",
    oracle="""
WITH iv AS MATERIALIZED (
  SELECT event_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
  FROM events WHERE event_type = 'signup'
), pts AS (
  SELECT s AS t, 1 AS d, event_id FROM iv
  UNION ALL
  SELECT e AS t, -1 AS d, event_id FROM iv
), run AS (
  SELECT t, d,
         sum(d) OVER (ORDER BY t, d, event_id ROWS UNBOUNDED PRECEDING) AS c
  FROM pts
)
SELECT CAST(t AS DATE) AS day, CAST(max(c) AS BIGINT) AS max_concurrent
FROM run WHERE d = 1 GROUP BY 1
""",
    doc="Peak concurrency per day for 30-minute signup sessions via the "
    "classic +1/-1 boundary sweep -- but decomposed for scale: the running "
    "sum is computed per hour bucket (window partitioned by hour, ordered "
    "by (t, delta, event_id) -- a total order, so ties are deterministic), "
    "then each bucket adds a prefix offset built with ZERO unpartitioned "
    "windows: per-day nets theta-self-joined into day offsets, plus a "
    "day-partitioned window over the hour nets. Equivalent to the global "
    "ordered scan the oracle runs, but no single-partition sort anywhere "
    "-- the two-level prefix-sum trick that makes ordered sweeps "
    "distributable.",
    tags=("analytics", "interval"),
)
def events_max_concurrency_daily(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "signup")
        .select("event_id", "ts")
    )
    starts = ev.select(
        F.col("ts").alias("t"), F.lit(1).alias("d"), "event_id"
    )
    ends = ev.select(
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("d"),
        "event_id",
    )
    pts = starts.unionAll(ends).withColumn("hr", F.date_trunc("hour", "t"))
    within = pts.withColumn(
        "run_in",
        F.sum("d").over(
            W.partitionBy("hr")
            .orderBy("t", "d", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    # two-level prefix sum over the tiny hour-bucket relation, with NO
    # unpartitioned window anywhere: day offsets come from a theta
    # self-join of per-day nets (|days|² pairs of a dimension-sized
    # relation), hour offsets from a day-PARTITIONED window on top
    hr_nets = (
        pts.groupBy("hr")
        .agg(F.sum("d").alias("net"))
        .withColumn("day", F.date_trunc("day", "hr"))
    )
    day_nets = hr_nets.groupBy("day").agg(F.sum("net").alias("day_net"))
    a, b = day_nets.alias("a"), day_nets.alias("b")
    day_off = (
        a.join(b, F.col("b.day") < F.col("a.day"), "left")
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.coalesce(F.sum("b.day_net"), F.lit(0)).alias("doff"))
    )
    w_day = (
        W.partitionBy("day").orderBy("hr").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = (
        hr_nets.join(F.broadcast(day_off), "day")
        .withColumn(
            "off",
            F.col("doff") + F.coalesce(F.sum("net").over(w_day), F.lit(0)),
        )
        .select("hr", "off")
    )
    conc = within.join(F.broadcast(offsets), "hr").withColumn(
        "c", F.col("off") + F.col("run_in")
    )
    return (
        conc.where(F.col("d") == 1)
        .groupBy(F.to_date("t").alias("day"))
        .agg(F.max("c").cast("long").alias("max_concurrent"))
    )


_TIME_GRAIN_SQL = """
WITH e AS (
  SELECT date_trunc('day', ts) AS d, date_trunc('week', ts) AS w,
         date_trunc('month', ts) AS m,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT CASE WHEN grouping(d) = 0 THEN 'day'
            WHEN grouping(w) = 0 THEN 'week'
            ELSE 'month' END AS grain,
       CAST(coalesce(d, w, m) AS DATE) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM e
GROUP BY GROUPING SETS ((d), (w), (m))
"""


@register(
    "agg_time_grain_rollup",
    oracle=_TIME_GRAIN_SQL,
    doc="Multi-grain time rollup (day + week + month) in ONE scan via "
    "GROUPING SETS over three date_trunc buckets: the Expand node fans "
    "each event into its three grain rows before a single partial-agg "
    "shuffle, instead of three separate scans+unions. Values are exact "
    "integer cents. The per-grain output cardinality is bounded by the "
    "calendar, so the shuffle shrinks to O(buckets) regardless of fact "
    "size. Identical SQL text runs on both engines.",
    tags=("agg", "sql", "timeseries"),
)
def agg_time_grain_rollup(spark, sf_dir):
    from ..sources.tables import register_tables

    register_tables(spark, sf_dir, names=("events",))
    return spark.sql(_TIME_GRAIN_SQL)


@register(
    "events_sequence_regex_match",
    oracle="""
WITH coded AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'click' THEN 'c' WHEN 'signup' THEN 's'
              WHEN 'error' THEN 'e' WHEN 'view' THEN 'v'
              WHEN 'purchase' THEN 'p' ELSE 'x' END AS ch
  FROM events
), seqs AS (
  SELECT user_id, count(*) AS n_events,
         string_agg(ch, '' ORDER BY ts, event_id) AS seq
  FROM coded GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(seq, 'v[^e]*?p')) AS BIGINT)
         AS n_clean_funnels,
       CAST(coalesce(list_max(list_transform(
              regexp_extract_all(seq, 'e+'), x -> len(x))), 0) AS BIGINT)
         AS longest_error_run
FROM seqs
""",
    doc="Complex-event-processing pattern match (the MATCH_RECOGNIZE / "
    "Flink CEP analog): each user's event history is collapsed to a "
    "single-char-per-event string in event-time order, and sequence "
    "patterns become plain regexes — 'view then purchase with no error "
    "between' is v[^e]*?p (lazy, so each funnel closes at its FIRST "
    "purchase, the CEP skip-to-next-match policy), and error-burst "
    "length is the longest e+ run. Scale shape: ONE shuffle keyed on "
    "user_id; per-user state is the event string (bounded by events/"
    "user, the same bound any CEP engine's NFA buffer needs). The "
    "encode, the ordered fold, and both regexes all run inside codegen "
    "— no UDF, no self-join per pattern step, unlike the naive k-way "
    "sequential join that explodes at 100 TB.",
    tags=("events", "cep", "window"),
)
def events_sequence_regex_match(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "error", "e")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("x")
    )
    coded = events.select(
        "user_id", F.struct("ts", "event_id", ch.alias("ch")).alias("rec")
    )
    seqs = coded.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("rec")), lambda r: r["ch"]
            ),
            "",
        ).alias("seq"),
    )
    return seqs.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.size(F.expr(r"regexp_extract_all(seq, 'v[^e]*?p', 0)"))
        .cast("long")
        .alias("n_clean_funnels"),
        F.coalesce(
            F.array_max(
                F.transform(
                    F.expr("regexp_extract_all(seq, 'e+', 0)"),
                    lambda x: F.length(x),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("longest_error_run"),
    )


@register(
    "join_asof_interpolate",
    oracle="""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag,
         CASE WHEN event_type = 'click'
              THEN CAST(round(value * 100) AS BIGINT) END AS cv
  FROM events WHERE event_type IN ('click', 'signup')
), winged AS (
  SELECT user_id, event_id, t, tag,
         last_value(cv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, tag, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v0,
         last_value(CASE WHEN cv IS NOT NULL THEN t END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, tag, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t0,
         first_value(cv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, tag, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v1,
         first_value(CASE WHEN cv IS NOT NULL THEN t END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, tag, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t1
  FROM pts
)
SELECT event_id, user_id, v0 AS prior_e2, v1 AS next_e2,
       CASE WHEN t1 = t0 THEN v0
            ELSE CAST((v0 * (t1 - t) + v1 * (t - t0)) // (t1 - t0)
                      AS BIGINT) END AS interp_e2
FROM winged
WHERE tag = 1 AND v0 IS NOT NULL AND v1 IS NOT NULL
""",
    doc="Interpolation as-of join: every signup gets the same-user click "
    "value LINEARLY INTERPOLATED between the nearest click before and "
    "after it — the time-series alignment primitive one step past plain "
    "as-of (which only takes the prior point). Implemented join-free as "
    "a union-merge: both streams share one per-user sort, the prior "
    "wing is last_value(IGNORE NULLS) over the preceding frame and the "
    "next wing first_value over the following frame — exactly a merge "
    "join's single pass, versus the naive per-row range join that "
    "re-scans the click table per signup. Interpolation is exact "
    "integer algebra on (cents x epoch-micros) with the weighted form "
    "v0*(t1-t) + v1*(t-t0) keeping every term non-negative, so floor "
    "division agrees across engines and no float rounding can flip a "
    "hash. Scale: one shuffle on user_id, window state O(1) per row.",
    tags=("join", "asof", "events"),
)
def join_asof_interpolate(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    pts = events.where(
        F.col("event_type").isin("click", "signup")
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
        F.when(
            F.col("event_type") == "click",
            F.round(F.col("value") * 100).cast("long"),
        ).alias("cv"),
    )
    w = W.partitionBy("user_id").orderBy("t", "tag", "event_id")
    prev = w.rowsBetween(W.unboundedPreceding, -1)
    nxt = w.rowsBetween(1, W.unboundedFollowing)
    ct = F.when(F.col("cv").isNotNull(), F.col("t"))
    winged = pts.select(
        "user_id",
        "event_id",
        "t",
        "tag",
        F.last("cv", ignorenulls=True).over(prev).alias("v0"),
        F.last(ct, ignorenulls=True).over(prev).alias("t0"),
        F.first("cv", ignorenulls=True).over(nxt).alias("v1"),
        F.first(ct, ignorenulls=True).over(nxt).alias("t1"),
    )
    return winged.where(
        (F.col("tag") == 1)
        & F.col("v0").isNotNull()
        & F.col("v1").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.col("v0").alias("prior_e2"),
        F.col("v1").alias("next_e2"),
        F.when(F.col("t1") == F.col("t0"), F.col("v0"))
        .otherwise(
            F.expr(
                "CAST((v0 * (t1 - t) + v1 * (t - t0)) div (t1 - t0)"
                " AS BIGINT)"
            )
        )
        .alias("interp_e2"),
    )


@register(
    "basket_association_rules",
    oracle="""
WITH baskets AS MATERIALIZED (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2
), nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM baskets),
item AS MATERIALIZED (
  SELECT l_partkey, count(*) AS c FROM baskets GROUP BY 1
), pair AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons, count(*) AS c_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
)
SELECT p.ante, p.cons,
       CAST(p.c_ab AS BIGINT) AS c_ab,
       CAST(p.c_ab * 10000 // ia.c AS BIGINT) AS conf_e4,
       CAST(p.c_ab * nb.n * 10000 // (ia.c * ic.c) AS BIGINT) AS lift_e4
FROM pair p
JOIN item ia ON ia.l_partkey = p.ante
JOIN item ic ON ic.l_partkey = p.cons
CROSS JOIN nb
WHERE p.c_ab >= 3
""",
    doc="Association rules (support / confidence / lift — the Apriori "
    "2-itemset output): every co-purchase pair with support >= 3 "
    "becomes a directed rule ante->cons scored by confidence "
    "c_ab/c_ante and lift c_ab*N/(c_ante*c_cons), both exact integer "
    "e4. The pair stream unfolds join-free from per-order part arrays "
    "(linear in lineitem x basket width, never a fact self-join — "
    "same base as basket_top_copurchase_partner); item supports are "
    "one partial-agg pass and join back BROADCAST at dimension scale. "
    "The support floor prunes the rule table before the joins, the "
    "same pruning Apriori's monotonicity gives. Overflow bound: "
    "c_ab * N * 1e4 needs c_ab*N < 9.2e14 — holds while pair support "
    "x basket count stays under ~1e14; rescale N first beyond that.",
    tags=("analytics", "basket", "rules"),
)
def basket_association_rules(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    baskets = baskets.persist()
    nb = baskets.agg(F.count("*").alias("n"))
    item = baskets.select(
        F.explode("parts").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count("*").alias("c"))
    pairs = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "parts",
                        lambda x: F.transform(
                            F.col("parts"),
                            lambda y: F.struct(
                                x.alias("ante"), y.alias("cons")
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.ante", "pr.cons")
        .where(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("ante"), F.col("c").alias("ca"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("c").alias("cc"))
    return (
        pairs.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.expr("CAST(c_ab * 10000 div ca AS BIGINT)").alias("conf_e4"),
            F.expr(
                "CAST(c_ab * n * 10000 div (ca * cc) AS BIGINT)"
            ).alias("lift_e4"),
        )
    )


@register(
    "events_session_capped_duration",
    oracle="""
WITH ord AS (
  SELECT user_id, event_id, epoch_us(ts) AS t
  FROM events
), flagged AS (
  SELECT user_id, event_id, t,
         CASE WHEN t - lag(t) OVER w > 1800000000 OR
                   lag(t) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM ord WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), sess AS (
  SELECT user_id, event_id, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), capped AS (
  SELECT user_id, sid, t,
         (t - min(t) OVER (PARTITION BY user_id, sid)) // 1800000000
           AS sub
  FROM sess
)
SELECT user_id, CAST(sid AS BIGINT) AS sid, CAST(sub AS BIGINT) AS sub,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(t) AS BIGINT) AS start_us,
       CAST(max(t) AS BIGINT) AS end_us
FROM capped GROUP BY user_id, sid, sub
""",
    doc="Sessionization with BOTH an inactivity gap (30 min) and a hard "
    "duration cap (30 min from session start) — the session shape session_window cannot "
    "express (its windows extend indefinitely under continuous "
    "activity; ops dashboards and billing meters cap them): gap "
    "sessions come from the classic flag+running-sum pass, then each "
    "session splits at exact cap boundaries from its own start via "
    "pure arithmetic — no second shuffle, no iteration, the cap rides "
    "the same user-partitioned sort. All event-time math in integer "
    "epoch-micros. At 100 TB this is one shuffle by user plus "
    "codegen.",
    tags=("events", "session", "window"),
)
def events_session_capped_duration(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.col("t") - F.lag("t").over(w) > 1_800_000_000, 1
        )
        .when(F.lag("t").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    capped = sess.withColumn(
        "sub",
        F.expr(
            "(t - min(t) OVER (PARTITION BY user_id, sid))"
            " div 1800000000"
        ),
    )
    return capped.groupBy("user_id", "sid", "sub").agg(
        F.count("*").alias("n_events"),
        F.min("t").alias("start_us"),
        F.max("t").alias("end_us"),
    )


@register(
    "sample_contrastive_pairs",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, label FROM embeddings
), anchors AS (
  SELECT vec_id AS aid, label AS alabel FROM e
  WHERE vec_id % 25 = 0 AND vec_id < 2000
), pos AS (
  SELECT aid, min_by(vec_id, md5(aid || ':' || vec_id) || lpad(CAST(vec_id AS VARCHAR), 12, '0')) AS pos_id
  FROM anchors JOIN e ON e.label = anchors.alabel
              AND e.vec_id <> anchors.aid
  GROUP BY aid
), neg AS (
  SELECT aid, min_by(vec_id, md5(aid || ':' || vec_id) || lpad(CAST(vec_id AS VARCHAR), 12, '0')) AS neg_id,
         min_by(label, md5(aid || ':' || vec_id) || lpad(CAST(vec_id AS VARCHAR), 12, '0')) AS neg_label
  FROM anchors JOIN e ON e.label <> anchors.alabel
  GROUP BY aid
)
SELECT a.aid, a.alabel, p.pos_id, n.neg_id, n.neg_label
FROM anchors a JOIN pos p ON p.aid = a.aid JOIN neg n ON n.aid = a.aid
""",
    doc="Contrastive training-pair mining: each anchor gets one positive "
    "(same label) and one hard-ish negative (different label), both "
    "drawn by DETERMINISTIC hash lottery — min over md5(anchor:cand) — "
    "so the pair manifest is reproducible on any engine / cluster "
    "size, the property random sampling lacks and a training run "
    "needs for resumability. Scale shape: anchors broadcast; each "
    "candidate row evaluates its hash ticket map-side and the per-"
    "anchor argmin partial-aggregates BEFORE the shuffle (min_by over "
    "a corpus never materializes the candidate pairs). Labels-only "
    "projection — embeddings stay in storage until the training "
    "loader fetches the winning ids.",
    tags=("sampling", "similarity", "pipeline"),
)
def sample_contrastive_pairs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    anchors = e.where(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2000)
    ).select(
        F.col("vec_id").alias("aid"), F.col("label").alias("alabel")
    )
    ticket = F.concat(
        F.md5(
            F.concat_ws(
                ":", F.col("aid").cast("string"),
                F.col("vec_id").cast("string"),
            )
        ),
        F.lpad(F.col("vec_id").cast("string"), 12, "0"),
    )
    pos = (
        e.join(
            F.broadcast(anchors),
            (e["label"] == F.col("alabel")) & (e["vec_id"] != F.col("aid")),
        )
        .groupBy("aid")
        .agg(F.min_by("vec_id", ticket).alias("pos_id"))
    )
    neg = (
        e.join(F.broadcast(anchors), e["label"] != F.col("alabel"))
        .groupBy("aid")
        .agg(
            F.min_by("vec_id", ticket).alias("neg_id"),
            F.min_by("label", ticket).alias("neg_label"),
        )
    )
    return (
        anchors.join(pos, "aid").join(neg, "aid")
        .select("aid", "alabel", "pos_id", "neg_id", "neg_label")
    )


@register(
    "join_asof_nearest",
    oracle="""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag,
         CASE WHEN event_type = 'click'
              THEN CAST(round(value * 100) AS BIGINT) END AS cv
  FROM events WHERE event_type IN ('click', 'signup')
), winged AS (
  SELECT user_id, event_id, t, tag,
         last_value(cv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, tag, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v0,
         last_value(CASE WHEN cv IS NOT NULL THEN t END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, tag, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t0,
         first_value(cv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, tag, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v1,
         first_value(CASE WHEN cv IS NOT NULL THEN t END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, tag, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t1
  FROM pts
)
SELECT event_id, user_id,
       CASE WHEN t1 IS NULL OR (t0 IS NOT NULL AND t - t0 <= t1 - t)
            THEN v0 ELSE v1 END AS nearest_e2,
       CASE WHEN t1 IS NULL OR (t0 IS NOT NULL AND t - t0 <= t1 - t)
            THEN t - t0 ELSE t1 - t END AS gap_us
FROM winged
WHERE tag = 1 AND (v0 IS NOT NULL OR v1 IS NOT NULL)
""",
    doc="NEAREST-direction as-of join (pandas merge_asof "
    "direction='nearest'): each signup takes the same-user click value "
    "closest in time on EITHER side, ties to the earlier one — "
    "completing the as-of family (prior: join_asof_prior_click, "
    "interpolated: join_asof_interpolate). Same join-free union-merge "
    "plan: one per-user sort feeds both IGNORE-NULLS wings, the "
    "direction choice is a codegen CASE on the two gaps, and rows with "
    "only one neighbor fall back to it — no second pass, no range "
    "join.",
    tags=("join", "asof", "events"),
)
def join_asof_nearest(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    pts = events.where(
        F.col("event_type").isin("click", "signup")
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
        F.when(
            F.col("event_type") == "click",
            F.round(F.col("value") * 100).cast("long"),
        ).alias("cv"),
    )
    w = W.partitionBy("user_id").orderBy("t", "tag", "event_id")
    prev = w.rowsBetween(W.unboundedPreceding, -1)
    nxt = w.rowsBetween(1, W.unboundedFollowing)
    ct = F.when(F.col("cv").isNotNull(), F.col("t"))
    winged = pts.select(
        "user_id",
        "event_id",
        "t",
        "tag",
        F.last("cv", ignorenulls=True).over(prev).alias("v0"),
        F.last(ct, ignorenulls=True).over(prev).alias("t0"),
        F.first("cv", ignorenulls=True).over(nxt).alias("v1"),
        F.first(ct, ignorenulls=True).over(nxt).alias("t1"),
    )
    take_prior = F.col("t1").isNull() | (
        F.col("t0").isNotNull()
        & (F.col("t") - F.col("t0") <= F.col("t1") - F.col("t"))
    )
    return winged.where(
        (F.col("tag") == 1)
        & (F.col("v0").isNotNull() | F.col("v1").isNotNull())
    ).select(
        "event_id",
        "user_id",
        F.when(take_prior, F.col("v0")).otherwise(F.col("v1")).alias(
            "nearest_e2"
        ),
        F.when(take_prior, F.col("t") - F.col("t0"))
        .otherwise(F.col("t1") - F.col("t"))
        .alias("gap_us"),
    )


@register(
    "stats_ctr_wilson_lower",
    oracle="""
WITH pc AS (
  SELECT user_id,
         count(*) FILTER (WHERE event_type = 'purchase') AS s,
         count(*) FILTER (WHERE event_type IN ('click', 'purchase')) AS n
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY user_id
), scored AS (
  SELECT user_id, s, n,
         CAST(floor(
           (s + 2 - 2 * sqrt(CAST(s AS DOUBLE) * (n - s) / n + 1))
           / (n + 4) * 1000000) AS BIGINT) AS wilson_lb_e6
  FROM pc WHERE n > 0
)
SELECT user_id, CAST(s AS BIGINT) AS s, CAST(n AS BIGINT) AS n,
       wilson_lb_e6
FROM scored ORDER BY wilson_lb_e6 DESC, user_id LIMIT 25
""",
    doc="Conversion ranking by the WILSON LOWER BOUND (z=2), not the raw "
    "rate — the 'how not to sort by average rating' correction: a 1/1 "
    "user must not outrank a 90/100 user, and the lower confidence "
    "bound encodes exactly that. Algebra note: the bound is "
    "restated as (s + 2 - 2*sqrt(s(n-s)/n + 1))/(n+4) so the only "
    "irrational step is ONE sqrt of a small rational — IEEE sqrt and "
    "division are correctly-rounded operations, bit-identical on any "
    "engine, so flooring to e6 micro-units is deterministic (unlike "
    "chained float summations, which is why this works where naive "
    "float aggregation wouldn't). Selection is TakeOrdered top-k over "
    "a per-user aggregate — one partial-agg shuffle.",
    tags=("analytics", "stats", "topk"),
)
def stats_ctr_wilson_lower(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    pc = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("s"),
        F.count("*").alias("n"),
    )
    wilson = F.floor(
        (
            F.col("s")
            + 2
            - 2
            * F.sqrt(
                F.col("s").cast("double")
                * (F.col("n") - F.col("s"))
                / F.col("n")
                + 1
            )
        )
        / (F.col("n") + 4)
        * 1000000
    ).cast("bigint")
    return (
        pc.where(F.col("n") > 0)
        .select(
            "user_id",
            F.col("s").cast("long").alias("s"),
            F.col("n").cast("long").alias("n"),
            wilson.alias("wilson_lb_e6"),
        )
        .orderBy(F.col("wilson_lb_e6").desc(), "user_id")
        .limit(25)
    )


@register(
    "events_bot_regularity_flags",
    oracle="""
WITH ord AS (
  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
), gaps AS (
  SELECT user_id,
         (t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id))
           // 1000000 AS g
  FROM ord
), agg AS (
  SELECT user_id, count(g) AS n, sum(g) AS sg, sum(g * g) AS sg2
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_gaps,
       CAST(sg // n AS BIGINT) AS mean_gap_s,
       CAST(n * sg2 - sg * sg AS BIGINT) AS var_num,
       (n * sg2 - sg * sg) * 100 < sg * sg AS bot_like
FROM agg WHERE n >= 10
""",
    doc="Bot / automation detection by inter-event REGULARITY: humans "
    "arrive with bursty, high-variance gaps; schedulers tick. Per user "
    "the inter-event gaps (integer seconds) fold into the one-pass "
    "moment pair (sum, sum-of-squares), and the flag is the exact "
    "integer restatement of coefficient-of-variation < 0.1: "
    "n*sum(g^2) - sum(g)^2 scaled against sum(g)^2 — no division, no "
    "floats, no second pass. One user-partitioned sort for the lag, "
    "one partial-aggregating shuffle; the moment pair re-merges "
    "across shards, so the detector is incrementally maintainable "
    "the same way the IVM aggregates are. The min-gap-count floor "
    "keeps small-sample users out of the verdict.",
    tags=("events", "qa", "analytics"),
)
def events_bot_regularity_flags(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    gaps = ev.select(
        "user_id",
        F.expr("(t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)) div 1000000").alias("g"),
    )
    agg = (
        gaps.where(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("g").alias("n"),
            F.sum("g").alias("sg"),
            F.sum(F.col("g") * F.col("g")).alias("sg2"),
        )
    )
    var_num = F.col("n") * F.col("sg2") - F.col("sg") * F.col("sg")
    return agg.where(F.col("n") >= 10).select(
        "user_id",
        F.col("n").cast("long").alias("n_gaps"),
        F.expr("CAST(sg div n AS BIGINT)").alias("mean_gap_s"),
        var_num.cast("long").alias("var_num"),
        (var_num * 100 < F.col("sg") * F.col("sg")).alias("bot_like"),
    )


@register(
    "events_last_touch_attribution",
    oracle="""
WITH ord AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), touched AS (
  SELECT user_id, event_id, event_type, cents,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM ord
)
SELECT coalesce(touch, 'organic') AS touch,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS attributed_cents
FROM touched WHERE event_type = 'purchase'
GROUP BY 1
""",
    doc="LAST-TOUCH revenue attribution: every purchase credits the "
    "user's most recent preceding non-purchase event (purchases with "
    "no prior touch fall to 'organic') — the single-touch attribution "
    "model marketing reporting starts from. Join-free: one per-user "
    "event-time sort feeds an IGNORE-NULLS last_value over the "
    "preceding frame (the as-of family's machinery pointed at "
    "attribution), then a dimension-sized rollup of counts and exact "
    "integer cents per touch type. Swapping to first-touch is the "
    "same plan with an unbounded-preceding first_value.",
    tags=("events", "analytics", "asof"),
)
def events_last_touch_attribution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("organic")).alias("touch"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").cast("long").alias("attributed_cents"),
        )
    )


@register(
    "orders_mom_growth",
    oracle="""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
)
SELECT month, CAST(cents AS BIGINT) AS cents,
       CAST(lag(cents) OVER (ORDER BY month) AS BIGINT) AS prev_cents,
       CAST((cents - lag(cents) OVER (ORDER BY month)) * 10000
            // lag(cents) OVER (ORDER BY month) AS BIGINT) AS mom_delta_e4
FROM monthly
""",
    doc="Month-over-month revenue growth: monthly cents from one partial-"
    "aggregating pass, then lag + exact integer delta (e4 basis "
    "points, floor semantics both engines since revenue is positive). "
    "The growth window runs over the MONTHS relation — dimension "
    "scale by construction (a century is 1200 rows), which is why a "
    "single-series ordered window is legitimate here where it is a "
    "scale-killer on fact rows: the aggregate shrinks first "
    "(the same argument as embedding_dim_variance_ranking's 64-row "
    "sort, stated once more because period-over-period reporting is "
    "where people most often sort facts by accident).",
    tags=("analytics", "window", "agg"),
)
def orders_mom_growth(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    w = W.partitionBy(F.lit(0)).orderBy("month")
    prev = F.lag("cents").over(w)
    return monthly.select(
        "month",
        F.col("cents").cast("long").alias("cents"),
        prev.cast("long").alias("prev_cents"),
        F.expr(
            "CAST((cents - lag(cents) OVER (PARTITION BY 0 ORDER BY month))"
            " * 10000 div lag(cents) OVER (PARTITION BY 0 ORDER BY month)"
            " AS BIGINT)"
        ).alias("mom_delta_e4"),
    )


@register(
    "events_error_rate_sla",
    oracle="""
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
         count(*) AS n,
         count(*) FILTER (WHERE event_type = 'error') AS errs
  FROM events GROUP BY 1
)
SELECT hour_start,
       CAST(n AS BIGINT) AS n_events,
       CAST(errs AS BIGINT) AS n_errors,
       CAST(errs * 10000 // n AS BIGINT) AS error_rate_e4,
       errs * 4 > n AS sla_breach
FROM hourly
""",
    doc="Operational SLA monitor: hourly error fraction in exact integer "
    "basis points with a breach flag at the 25% threshold, stated as "
    "the cross-multiplication errs*4 > n so no division can round a "
    "boundary differently across engines. One partial-aggregating "
    "pass; output is |hours| rows. This is the alerting query a "
    "streaming deployment runs in update mode over the same aggregate "
    "(streaming_update_mode_emissions demonstrates that delivery "
    "path) — batch and stream share the plan.",
    tags=("events", "qa", "analytics"),
)
def events_error_rate_sla(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errs"),
    )
    return hourly.select(
        "hour_start",
        F.col("n").cast("long").alias("n_events"),
        F.col("errs").cast("long").alias("n_errors"),
        F.expr("CAST(errs * 10000 div n AS BIGINT)").alias("error_rate_e4"),
        (F.col("errs") * 4 > F.col("n")).alias("sla_breach"),
    )


@register(
    "qa_benford_first_digit",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders WHERE o_totalprice > 0
), n AS (SELECT count(*) AS n FROM digits),
counts AS (
  SELECT d, count(*) AS c FROM digits GROUP BY d
), benford(d, share_e4) AS (
  VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
         (6, 669), (7, 580), (8, 512), (9, 458)
)
SELECT b.d AS digit,
       CAST(coalesce(c.c, 0) AS BIGINT) AS observed,
       CAST(coalesce(c.c, 0) * 10000 // n.n AS BIGINT) AS observed_e4,
       CAST(b.share_e4 AS BIGINT) AS benford_e4,
       CAST(abs(coalesce(c.c, 0) * 10000 // n.n - b.share_e4) AS BIGINT)
         AS abs_dev_e4
FROM benford b LEFT JOIN counts c ON c.d = b.d CROSS JOIN n
""",
    doc="Benford's-law first-digit audit — the classic fabricated-data "
    "detector for financial columns: leading digits of order totals "
    "(read off the integer-cents string, so no float log10 anywhere) "
    "against the Benford expectation table (an inline VALUES dim, "
    "shares in e4), with per-digit absolute deviation. Organic "
    "transaction amounts track the curve; invented ones don't. One "
    "scan, nine-row output; at audit scale the same query runs per "
    "(entity, period) partition to localize the anomaly.",
    tags=("qa", "analytics", "stats"),
)
def qa_benford_first_digit(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("d")
    )
    digits = digits.persist()
    n = digits.agg(F.count("*").alias("n"))
    counts = digits.groupBy("d").agg(F.count("*").alias("c"))
    benford = spark.createDataFrame(
        [(1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
         (6, 669), (7, 580), (8, 512), (9, 458)],
        "digit int, benford_e4 long",
    )
    return (
        benford.join(
            counts, benford["digit"] == counts["d"], "left"
        )
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce("c", F.lit(0)).cast("long").alias("observed"),
            F.expr(
                "CAST(coalesce(c, 0) * 10000 div n AS BIGINT)"
            ).alias("observed_e4"),
            "benford_e4",
            F.expr(
                "CAST(abs(coalesce(c, 0) * 10000 div n - benford_e4)"
                " AS BIGINT)"
            ).alias("abs_dev_e4"),
        )
    )


@register(
    "events_markov_baseline_accuracy",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), trans AS (
  SELECT prev_type, event_type AS next_type, count(*) AS c
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
), best AS (
  SELECT prev_type,
         min_by(next_type,
                lpad(CAST(100000000 - c AS VARCHAR), 9, '0') || next_type)
           AS predicted,
         max(c) AS hits,
         sum(c) AS total
  FROM trans GROUP BY prev_type
)
SELECT prev_type, predicted,
       CAST(hits AS BIGINT) AS hits,
       CAST(total AS BIGINT) AS total,
       CAST(hits * 10000 // total AS BIGINT) AS accuracy_e4
FROM best
""",
    doc="Majority-class next-event baseline — the floor any sequence "
    "model must beat, read straight off the Markov transition counts "
    "(events_page_transitions' relation): per previous event type, "
    "predict the most frequent successor (argmax key: inverted "
    "zero-padded count + type string so ties break deterministically) and report its "
    "empirical accuracy in exact basis points. Publishing the "
    "baseline next to the transition matrix is what makes a "
    "'sequence model improves next-event prediction' claim testable. "
    "Dimension-sized throughout after the one windowed fact pass.",
    tags=("events", "analytics", "eval"),
)
def events_markov_baseline_accuracy(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("c"))
    )
    return trans.groupBy("prev_type").agg(
        # (count desc, type asc) argmax as ONE string key: inverted
        # zero-padded count prefix + type — DuckDB's min_by rejects
        # struct keys, strings it accepts everywhere
        F.min_by(
            "next_type",
            F.concat(
                F.lpad((F.lit(100000000) - F.col("c")).cast("string"), 9, "0"),
                F.col("next_type"),
            ),
        ).alias("predicted"),
        F.max("c").cast("long").alias("hits"),
        F.sum("c").cast("long").alias("total"),
        F.expr("CAST(max(c) * 10000 div sum(c) AS BIGINT)").alias(
            "accuracy_e4"
        ),
    )


@register(
    "events_segment_transition_matrix",
    oracle="""
WITH weekly AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
         count(*) AS n
  FROM events GROUP BY 1, 2
), tiered AS (
  SELECT user_id, week,
         CASE WHEN n >= 12 THEN 'power' WHEN n >= 5 THEN 'core'
              ELSE 'casual' END AS tier
  FROM weekly
), paired AS (
  SELECT user_id, tier,
         lag(tier) OVER (PARTITION BY user_id ORDER BY week) AS prev_tier
  FROM tiered
)
SELECT prev_tier, tier AS next_tier,
       CAST(count(*) AS BIGINT) AS n_users_weeks
FROM paired WHERE prev_tier IS NOT NULL
GROUP BY 1, 2
""",
    doc="Customer-lifecycle SEGMENT transition matrix: users tiered by "
    "weekly activity (casual/core/power on exact count thresholds), "
    "then week-over-week tier movements counted — the churn/upgrade "
    "flow behind every retention dashboard, and the input to a "
    "lifecycle Markov model (events_markov_baseline_accuracy shows "
    "the baseline read-off). Note the lag is over each user's "
    "OBSERVED weeks (a silent week doesn't interpose; the gap-aware "
    "variant joins the calendar spine of events_calendar_gap_fill "
    "first — documented so the semantic choice is explicit). One "
    "user-week aggregate, one user-partitioned window, |tiers|^2 "
    "output.",
    tags=("events", "analytics", "window"),
)
def events_segment_transition_matrix(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "user_id",
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
    ).agg(F.count("*").alias("n"))
    tier = (
        F.when(F.col("n") >= 12, "power")
        .when(F.col("n") >= 5, "core")
        .otherwise("casual")
    )
    tiered = weekly.select("user_id", "week", tier.alias("tier"))
    w = W.partitionBy("user_id").orderBy("week")
    paired = tiered.select(
        F.col("tier").alias("next_tier"),
        F.lag("tier").over(w).alias("prev_tier"),
    )
    return (
        paired.where(F.col("prev_tier").isNotNull())
        .groupBy("prev_tier", "next_tier")
        .agg(F.count("*").alias("n_users_weeks"))
    )


@register(
    "supplier_otif_score",
    oracle="""
WITH lags AS (
  SELECT l.l_suppkey,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_shipments,
       CAST(count(*) FILTER (WHERE lag_days <= 60) AS BIGINT) AS on_time,
       CAST(count(*) FILTER (WHERE lag_days <= 60) * 10000 // count(*)
            AS BIGINT) AS otif_e4
FROM lags GROUP BY l_suppkey
""",
    doc="Supplier on-time delivery scorecard: ship lag (ship date minus "
    "order date) per lineitem, on-time fraction per supplier in exact "
    "integer basis points at a 60-day promise — the vendor-performance "
    "rollup every procurement pipeline maintains. The orders join "
    "re-uses the l_orderkey spine (the engine's hottest join path, "
    "AQE-broadcast at small SF, co-shuffled at large), then one "
    "partial-aggregating rollup to supplier grain.",
    tags=("analytics", "agg", "join"),
)
def supplier_otif_score(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lags = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_suppkey",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "lag_days"
        ),
    )
    on_time = F.count(F.when(F.col("lag_days") <= 60, 1))
    return lags.groupBy("l_suppkey").agg(
        F.count("*").alias("n_shipments"),
        on_time.alias("on_time"),
        F.expr(
            "CAST(count(CASE WHEN lag_days <= 60 THEN 1 END) * 10000"
            " div count(*) AS BIGINT)"
        ).alias("otif_e4"),
    )


@register(
    "events_session_length_histogram",
    oracle="""
WITH ord AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
), flagged AS (
  SELECT user_id, t, event_id,
         CASE WHEN t - lag(t) OVER w > 1800000000 OR
                   lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM ord WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), lens AS (
  SELECT user_id, sid, count(*) AS len FROM sess GROUP BY 1, 2
)
SELECT CAST(length(bin(len)) - 1 AS INT) AS log2_bucket,
       CAST(power(2, length(bin(len)) - 1) AS BIGINT) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(len) AS BIGINT) AS n_events
FROM lens GROUP BY 1, 2
""",
    doc="Session-length distribution in LOG2 buckets — the heavy-tail-"
    "friendly histogram (linear buckets waste 90%% of bins on the "
    "tail): sessions come from the standard gap flag + running sum, "
    "lengths bucket by floor(log2) via the bin()-string-length trick "
    "(text_bm25_more_like_this's IDF uses the same float-free log), "
    "bucket floor recovered as a power of two. Distribution shape is "
    "what tells you whether a 30-minute gap is the right sessionizer "
    "setting before shipping it. One windowed pass + two dimension-"
    "scale aggregations.",
    tags=("events", "session", "analytics"),
)
def events_session_length_histogram(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(F.col("t") - F.lag("t").over(w) > 1_800_000_000, 1)
        .when(F.lag("t").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = flagged.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    lens = sess.groupBy("user_id", "sid").agg(F.count("*").alias("len"))
    bucket = (F.length(F.bin("len")) - 1).cast("int")
    return lens.groupBy(
        bucket.alias("log2_bucket"),
        F.pow(F.lit(2), bucket).cast("long").alias("bucket_lo"),
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum("len").cast("long").alias("n_events"),
    )


@register(
    "qa_duplicate_payment_candidates",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS amt_band,
         CAST(o_orderdate AS DATE) AS d
  FROM orders
)
SELECT a.o_custkey,
       a.o_orderkey AS key_a, b.o_orderkey AS key_b,
       CAST(a.amt_band AS BIGINT) AS amt_band,
       CAST(date_diff('day', a.d, b.d) AS BIGINT) AS days_apart
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.amt_band = b.amt_band
 AND a.o_orderkey < b.o_orderkey
 AND abs(date_diff('day', a.d, b.d)) <= 90
""",
    doc="Duplicate-payment candidate pairs — the accounts-payable fraud/"
    "error sweep: same customer, same $10k spend band (integer-cents "
    "banding; exact-amount equality finds nothing in data this "
    "dispersed, so the screen bands first and lets a human or a "
    "second rule refine), within 90 days, different order keys. The "
    "self-join is BLOCKED on the (customer, band) "
    "equi-key so the pair space is per-block quadratic only where "
    "amounts actually repeat (rare by construction), with the date "
    "window as residual predicate — the same blocked-join discipline "
    "as every dedup operator here, applied to a finance QA control.",
    tags=("qa", "analytics", "join"),
)
def qa_duplicate_payment_candidates(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT) div 1000000"
        ).alias("amt_band"),
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.select(
        F.col("o_orderkey").alias("key_a"),
        F.col("o_custkey").alias("cust"),
        "amt_band",
        F.col("d").alias("da"),
    )
    b = o.select(
        F.col("o_orderkey").alias("key_b"),
        F.col("o_custkey").alias("cust_b"),
        F.col("amt_band").alias("band_b"),
        F.col("d").alias("db"),
    )
    return (
        a.join(
            b,
            (F.col("cust") == F.col("cust_b"))
            & (F.col("amt_band") == F.col("band_b"))
            & (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.datediff(F.col("da"), F.col("db"))) <= 90),
        )
        .select(
            F.col("cust").alias("o_custkey"),
            "key_a",
            "key_b",
            "amt_band",
            F.datediff(F.col("db"), F.col("da"))
            .cast("long")
            .alias("days_apart"),
        )
    )


@register(
    "events_seasonal_naive_backtest",
    oracle="""
WITH hourly AS MATERIALIZED (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
         count(*) AS n
  FROM events GROUP BY 1, 2
), joined AS (
  SELECT a.event_type, a.h, a.n AS actual, p.n AS predicted
  FROM hourly a JOIN hourly p
    ON p.event_type = a.event_type
   AND p.h = a.h - INTERVAL 24 HOURS
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours_scored,
       CAST(sum(abs(actual - predicted)) AS BIGINT) AS mae_num,
       CAST(sum(abs(actual - predicted)) * 100 // count(*) AS BIGINT)
         AS mae_e2,
       CAST(count(*) FILTER (WHERE abs(actual - predicted) * 2
                             > predicted) AS BIGINT) AS n_anomalous
FROM joined GROUP BY event_type
""",
    doc="Seasonal-naive forecast BACKTEST: predict each hour's event "
    "count with the same hour yesterday (the baseline every real "
    "forecaster must beat, same role as events_markov_baseline_"
    "accuracy for sequences), score by exact integer MAE, and flag "
    "hours where the residual exceeds half the prediction — which "
    "doubles as a seasonality-adjusted anomaly detector (a raw "
    "threshold fires every daily peak; the seasonal difference "
    "doesn't). The 24-hour shift is an equi-join on the hourly "
    "AGGREGATE against itself — dimension scale, no window over "
    "facts, no gap-sensitivity (a missing hour simply doesn't "
    "score).",
    tags=("events", "analytics", "eval"),
)
def events_seasonal_naive_backtest(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    hourly = hourly.persist()
    pred = hourly.select(
        F.col("event_type").alias("p_type"),
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("p_h"),
        F.col("n").alias("predicted"),
    )
    joined = hourly.join(
        pred,
        (F.col("event_type") == F.col("p_type"))
        & (F.col("h") == F.col("p_h")),
    ).select("event_type", F.col("n").alias("actual"), "predicted")
    resid = F.abs(F.col("actual") - F.col("predicted"))
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_hours_scored"),
        F.sum(resid).cast("long").alias("mae_num"),
        F.expr(
            "CAST(sum(abs(actual - predicted)) * 100 div count(*)"
            " AS BIGINT)"
        ).alias("mae_e2"),
        F.count(F.when(resid * 2 > F.col("predicted"), 1)).alias(
            "n_anomalous"
        ),
    )


@register(
    "events_ab_assignment_srm_check",
    oracle="""
WITH users AS (
  SELECT DISTINCT user_id FROM events
), assigned AS (
  SELECT user_id,
         CASE WHEN CAST(('0x' || substr(md5('exp1:' || user_id), 1, 4))
                        AS INT) % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM users
), counts AS (
  SELECT count(*) FILTER (WHERE arm = 'A') AS na,
         count(*) FILTER (WHERE arm = 'B') AS nb,
         count(*) AS n
  FROM assigned
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(abs(na - nb) * 10000 // n AS BIGINT) AS imbalance_e4,
       CAST((na - nb) * (na - nb) * 10000 // n AS BIGINT) AS chi2_e4,
       (na - nb) * (na - nb) * 10 < n * 384 AS srm_ok
FROM counts
""",
    doc="Experiment assignment + SAMPLE-RATIO-MISMATCH check: users "
    "land in arm A/B by a salted hash of their id (deterministic, "
    "sticky, engine-independent — the assignment IS the experiment "
    "registry, same md5-bucket idiom as the sampling family), and "
    "the 50/50 contract is audited with the one-degree chi-square "
    "statistic (na-nb)^2/n stated in cross-multiplied integers: "
    "srm_ok iff chi2 < 3.84 (the 5%% critical value, scaled x10/x10000 "
    "to stay integral). SRM is the first thing to check before "
    "reading ANY experiment result — a failed ratio means the "
    "assignment or logging pipeline is dropping one arm's traffic.",
    tags=("analytics", "qa", "sampling"),
)
def events_ab_assignment_srm_check(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    counts = users.select(arm.alias("arm")).agg(
        F.count(F.when(F.col("arm") == "A", 1)).alias("na"),
        F.count(F.when(F.col("arm") == "B", 1)).alias("nb"),
        F.count("*").alias("n"),
    )
    return counts.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr("CAST(abs(na - nb) * 10000 div n AS BIGINT)").alias(
            "imbalance_e4"
        ),
        F.expr(
            "CAST((na - nb) * (na - nb) * 10000 div n AS BIGINT)"
        ).alias("chi2_e4"),
        F.expr("(na - nb) * (na - nb) * 10 < n * 384").alias("srm_ok"),
    )


@register(
    "events_purchase_session_position",
    oracle="""
WITH ord AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
), flagged AS (
  SELECT user_id, event_id, event_type, t,
         CASE WHEN t - lag(t) OVER w > 1800000000 OR
                   lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM ord WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), sess AS (
  SELECT user_id, event_id, event_type, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), pos AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY t, event_id) AS p,
         count(*) OVER (PARTITION BY user_id, sid) AS len
  FROM sess
)
SELECT CAST((p - 1) * 4 // len AS INT) AS position_quartile,
       CAST(count(*) AS BIGINT) AS n_purchases
FROM pos WHERE event_type = 'purchase' AND len >= 4
GROUP BY 1
""",
    doc="WHERE in a session do purchases happen: each purchase's ordinal "
    "position inside its (30-min-gap) session, normalized to a quartile "
    "of the session's length — early-session purchases mean intent "
    "arrives formed, late ones mean the session built it, and the "
    "distribution drives where to spend UX effort. Sessions >= 4 "
    "events so quartiles are meaningful. Everything rides ONE "
    "user-partitioned sort (session ids, positions and lengths are "
    "three windows over the same ordering) plus a 4-row rollup.",
    tags=("events", "session", "analytics"),
)
def events_purchase_session_position(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(F.col("t") - F.lag("t").over(w) > 1_800_000_000, 1)
        .when(F.lag("t").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = flagged.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    ws = W.partitionBy("user_id", "sid")
    pos = sess.select(
        "event_type",
        F.row_number().over(ws.orderBy("t", "event_id")).alias("p"),
        F.count("*").over(ws).alias("len"),
    )
    return (
        pos.where((F.col("event_type") == "purchase") & (F.col("len") >= 4))
        .groupBy(
            F.expr("CAST((p - 1) * 4 div len AS INT)").alias(
                "position_quartile"
            )
        )
        .agg(F.count("*").alias("n_purchases"))
    )


@register(
    "segment_parttype_affinity",
    oracle="""
WITH base AS MATERIALIZED (
  SELECT c.c_mktsegment AS seg, p.p_type AS ptype
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p ON l.l_partkey = p.p_partkey
), n AS (SELECT count(*) AS n FROM base),
seg_tot AS (SELECT seg, count(*) AS ns FROM base GROUP BY seg),
typ_tot AS (SELECT ptype, count(*) AS nt FROM base GROUP BY ptype),
cell AS (
  SELECT seg, ptype, count(*) AS c FROM base GROUP BY seg, ptype
)
SELECT cell.seg, cell.ptype,
       CAST(cell.c AS BIGINT) AS n_lines,
       CAST(cell.c * n.n * 10000 // (s.ns * t.nt) AS BIGINT) AS lift_e4
FROM cell
JOIN seg_tot s ON s.seg = cell.seg
JOIN typ_tot t ON t.ptype = cell.ptype
CROSS JOIN n
""",
    doc="Customer-segment x part-type AFFINITY matrix: observed purchase "
    "share per (segment, type) cell against the independence "
    "expectation, as exact integer lift (the contingency-lift "
    "statistic behind every 'which products over-index with which "
    "audience' analysis; >1e4 over-indexes). The four-table star "
    "resolves with dimension broadcasts, facts are touched once, and "
    "the three marginals plus the cell table are all partial-agg "
    "rollups — |segments| x |types| output regardless of fact size. "
    "Overflow: c * N needs total lines^2 < 9.2e18 — holds to ~3e9 "
    "lineitems; band N first beyond that.",
    tags=("analytics", "join", "agg"),
)
def segment_parttype_affinity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("p_type").alias("ptype"),
        )
    )
    base = base.persist()
    n = base.agg(F.count("*").alias("n"))
    seg_tot = base.groupBy("seg").agg(F.count("*").alias("ns"))
    typ_tot = base.groupBy("ptype").agg(F.count("*").alias("nt"))
    cell = base.groupBy("seg", "ptype").agg(F.count("*").alias("c"))
    return (
        cell.join(F.broadcast(seg_tot), "seg")
        .join(F.broadcast(typ_tot), "ptype")
        .crossJoin(F.broadcast(n))
        .select(
            "seg",
            "ptype",
            F.col("c").cast("long").alias("n_lines"),
            F.expr(
                "CAST(c * n * 10000 div (ns * nt) AS BIGINT)"
            ).alias("lift_e4"),
        )
    )


@register(
    "part_dead_stock_screen",
    oracle="""
WITH last_move AS (
  SELECT l_partkey, max(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_partkey
), horizon AS (
  SELECT max(l_shipdate) - INTERVAL 60 DAY AS cutoff FROM lineitem
)
SELECT p.p_type,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(count(*) FILTER (WHERE lm.l_partkey IS NULL) AS BIGINT)
         AS never_moved,
       CAST(count(*) FILTER (WHERE lm.last_ship < h.cutoff) AS BIGINT)
         AS stale,
       CAST((count(*) FILTER (WHERE lm.l_partkey IS NULL)
             + count(*) FILTER (WHERE lm.last_ship < h.cutoff)) * 10000
            // count(*) AS BIGINT) AS dead_rate_e4
FROM part p
LEFT JOIN last_move lm ON lm.l_partkey = p.p_partkey
CROSS JOIN horizon h
GROUP BY p.p_type
""",
    doc="Dead-stock screen per part type: parts that NEVER shipped "
    "(left-join null — the anti-join reading) plus parts whose last "
    "movement predates a 60-day horizon anchored to the data's own "
    "max date (scale-invariant, the vacuous-constant lesson applied), "
    "rolled into a dead rate per type — the inventory-rationalization "
    "report. One fact aggregation to last-movement per part, then "
    "dimension-sized joins; the never-moved arm costs nothing extra "
    "because the LEFT join already encodes it.",
    tags=("analytics", "qa", "join"),
)
def part_dead_stock_screen(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    last_move = li.groupBy("l_partkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    horizon = li.agg(
        (F.max("l_shipdate") - F.expr("INTERVAL 60 DAYS")).alias("cutoff")
    )
    never = F.count(F.when(F.col("l_partkey").isNull(), 1))
    stale = F.count(F.when(F.col("last_ship") < F.col("cutoff"), 1))
    return (
        part.join(last_move, part["p_partkey"] == last_move["l_partkey"], "left")
        .crossJoin(F.broadcast(horizon))
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_parts"),
            never.alias("never_moved"),
            stale.alias("stale"),
            F.expr(
                "CAST((count(CASE WHEN l_partkey IS NULL THEN 1 END)"
                " + count(CASE WHEN last_ship < cutoff THEN 1 END)) * 10000"
                " div count(*) AS BIGINT)"
            ).alias("dead_rate_e4"),
        )
    )


@register(
    "customer_interpurchase_gap_stats",
    oracle="""
WITH gaps AS (
  SELECT c.c_mktsegment AS seg,
         date_diff('day',
                   lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                            ORDER BY o.o_orderdate,
                                                     o.o_orderkey),
                   o.o_orderdate) AS gap_days
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT seg,
       CAST(count(gap_days) AS BIGINT) AS n_gaps,
       CAST(sum(gap_days) // count(gap_days) AS BIGINT) AS mean_gap_days,
       CAST(min(gap_days) AS BIGINT) AS min_gap_days,
       CAST(max(gap_days) AS BIGINT) AS max_gap_days,
       CAST(count(*) FILTER (WHERE gap_days = 0) AS BIGINT)
         AS same_day_repeats
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY seg
""",
    doc="Inter-purchase gap statistics per market segment — the "
    "repurchase-cadence profile that sets reorder-reminder timing and "
    "churn-definition windows (a customer is 'churned' only relative "
    "to their segment's natural cadence): per-customer order-date "
    "lags (ties broken by order key), rolled into exact integer gap "
    "stats with the same-day-repeat count split out (those are "
    "basket splits, not cadence). One customer-partitioned sort, one "
    "dimension rollup — the fact table never self-joins.",
    tags=("analytics", "window", "agg"),
)
def customer_interpurchase_gap_stats(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    return gaps.groupBy("seg").agg(
        F.count("gap_days").alias("n_gaps"),
        F.expr(
            "CAST(sum(gap_days) div count(gap_days) AS BIGINT)"
        ).alias("mean_gap_days"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
        F.count(F.when(F.col("gap_days") == 0, 1)).alias(
            "same_day_repeats"
        ),
    )


@register(
    "events_velocity_rule_flags",
    oracle="""
WITH ord AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
), windowed AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY t
                        RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
           AS n_10min
  FROM ord
)
SELECT user_id,
       CAST(max(n_10min) AS BIGINT) AS peak_10min,
       max(n_10min) >= 6 AS velocity_flag
FROM windowed GROUP BY user_id
""",
    doc="Velocity rule — the rate-limit / fraud primitive 'more than K "
    "actions in any M-minute window': per user, the trailing-10-minute "
    "event count via a RANGE frame over epoch-micros (value-based, so "
    "the window is true wall-clock M minutes regardless of event "
    "density — the ROWS-frame version would be wrong exactly when it "
    "matters), peak taken per user, flag at K=6. One user-partitioned "
    "sort; frame state is bounded by the densest 10 minutes. The "
    "streaming twin is the same aggregate under "
    "streaming_update_mode_emissions' delivery.",
    tags=("events", "qa", "window"),
)
def events_velocity_rule_flags(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-600_000_000, 0)
    )
    windowed = ev.select(
        "user_id", F.count("*").over(w).alias("n_10min")
    )
    return windowed.groupBy("user_id").agg(
        F.max("n_10min").cast("long").alias("peak_10min"),
        (F.max("n_10min") >= 6).alias("velocity_flag"),
    )


@register(
    "events_signup_to_purchase_latency",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END)
           AS first_purchase
  FROM events GROUP BY user_id
), lat AS (
  SELECT user_id,
         date_diff('day', first_signup, first_purchase) AS days
  FROM firsts
  WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_signup
)
SELECT CAST(least(days // 7, 4) AS INT) AS week_bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(min(days) AS BIGINT) AS min_days,
       CAST(max(days) AS BIGINT) AS max_days
FROM lat GROUP BY 1
""",
    doc="Activation latency — first signup to first purchase, the "
    "conversion-speed funnel metric (how long the product takes to "
    "prove itself), bucketed by week with a 4+ tail: both firsts come "
    "from ONE conditional-min aggregate per user (no join between "
    "event types, no window), purchases predating the signup are "
    "excluded as data errors rather than negative latencies. The "
    "cheapest of the funnel family by construction — a single "
    "partial-agg pass feeding a 5-row histogram.",
    tags=("events", "analytics", "agg"),
)
def events_signup_to_purchase_latency(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("first_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    lat = firsts.where(
        F.col("first_signup").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_signup"))
    ).select(
        F.datediff(
            F.col("first_purchase"), F.col("first_signup")
        ).alias("days")
    )
    return lat.groupBy(
        F.expr("CAST(least(days div 7, 4) AS INT)").alias("week_bucket")
    ).agg(
        F.count("*").alias("n_users"),
        F.min("days").cast("long").alias("min_days"),
        F.max("days").cast("long").alias("max_days"),
    )


@register(
    "profile_price_qty_2d_histogram",
    oracle="""
WITH ext AS (
  SELECT min(l_extendedprice) AS plo, max(l_extendedprice) AS phi,
         min(l_quantity) AS qlo, max(l_quantity) AS qhi
  FROM lineitem
)
SELECT CAST(least(floor((l_extendedprice - plo) / ((phi - plo) / 8)), 7)
            AS INT) AS price_bin,
       CAST(least(floor((l_quantity - qlo) / ((qhi - qlo) / 8)), 7)
            AS INT) AS qty_bin,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem CROSS JOIN ext
GROUP BY 1, 2
""",
    doc="2-D profiling histogram (price x quantity, 8x8 bins) — the "
    "joint-density sketch that catches relationships a pair of 1-D "
    "histograms cannot (a diagonal ridge means price scales with "
    "quantity; an L-shape means two regimes): one tiny min/max "
    "aggregate broadcasts the bin geometry back onto the scan, bin "
    "indices compute in codegen with identical IEEE arithmetic on "
    "both engines, one partial-agg shuffle lands at most 64 cells. "
    "The bivariate member of the profiling family "
    "(agg_histogram_equi_width / corr_regression's numeric "
    "complement).",
    tags=("agg", "profiling", "analytics"),
)
def profile_price_qty_2d_histogram(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_quantity"
    )
    ext = li.agg(
        F.min("l_extendedprice").alias("plo"),
        F.max("l_extendedprice").alias("phi"),
        F.min("l_quantity").alias("qlo"),
        F.max("l_quantity").alias("qhi"),
    )
    pbin = F.least(
        F.floor(
            (F.col("l_extendedprice") - F.col("plo"))
            / ((F.col("phi") - F.col("plo")) / 8)
        ),
        F.lit(7),
    ).cast("int")
    qbin = F.least(
        F.floor(
            (F.col("l_quantity") - F.col("qlo"))
            / ((F.col("qhi") - F.col("qlo")) / 8)
        ),
        F.lit(7),
    ).cast("int")
    return (
        li.crossJoin(F.broadcast(ext))
        .groupBy(pbin.alias("price_bin"), qbin.alias("qty_bin"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "events_intra_session_funnel",
    oracle="""
WITH ord AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
), flagged AS (
  SELECT user_id, event_id, event_type, t,
         CASE WHEN t - lag(t) OVER w > 1800000000 OR
                   lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
  FROM ord WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), sess AS (
  SELECT user_id, event_type, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), per_sess AS (
  SELECT user_id, sid,
         min(CASE WHEN event_type = 'view' THEN t END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN t END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN t END) AS t_purchase
  FROM sess GROUP BY user_id, sid
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT)
         AS with_view,
       CAST(count(*) FILTER (WHERE t_view IS NOT NULL
                             AND t_click > t_view) AS BIGINT)
         AS view_then_click,
       CAST(count(*) FILTER (WHERE t_view IS NOT NULL
                             AND t_click > t_view
                             AND t_purchase > t_click) AS BIGINT)
         AS full_funnel
FROM per_sess
""",
    doc="Funnel WITHIN a session — stricter than the user-level funnel "
    "(events_funnel_conversion): view -> click -> purchase must all "
    "happen inside ONE 30-minute-gap session and in order (first-"
    "occurrence times per stage, strict inequalities — NULL "
    "comparisons false out naturally, so sessions missing a stage "
    "drop from later counts without explicit checks). Session "
    "identity and all three stage minima ride the same user-"
    "partitioned sort as the other session queries; output is a "
    "single funnel row. The session constraint is what separates "
    "'converted eventually' from 'converted in the visit', which is "
    "the number a landing-page change actually moves.",
    tags=("events", "session", "analytics"),
)
def events_intra_session_funnel(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t")
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(F.col("t") - F.lag("t").over(w) > 1_800_000_000, 1)
        .when(F.lag("t").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = flagged.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("t"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("t"))
        ).alias("t_purchase"),
    )
    return per_sess.agg(
        F.count("*").alias("n_sessions"),
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("with_view"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("view_then_click"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("full_funnel"),
    )


@register(
    "supplier_leadtime_trend",
    oracle="""
WITH lags AS (
  SELECT l.l_suppkey,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
           AS x,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS y
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), mom AS (
  SELECT l_suppkey, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sx2
  FROM lags GROUP BY l_suppkey
)
SELECT l_suppkey,
       CAST(n AS BIGINT) AS n_shipments,
       CAST(sy // n AS BIGINT) AS mean_lag_days,
       CAST((n * sxy - sx * sy) * 1000000
            // (n * sx2 - sx * sx) AS BIGINT) AS slope_e6,
       (n * sxy - sx * sy) > 0 AS worsening
FROM mom WHERE n * sx2 - sx * sx > 0
""",
    doc="Lead-time TREND per supplier — is delivery getting slower? The "
    "OLS slope of ship-lag over order date, per supplier, in exact "
    "integer algebra (slope = (nSxy - SxSy)/(nSx2 - Sx^2), e6-scaled "
    "floor division; x is epoch-day so every moment is an int64-safe "
    "product at any realistic scale). Positive slope = worsening — "
    "the leading indicator procurement wants BEFORE the OTIF "
    "scorecard (supplier_otif_score) degrades. The moment quintet is "
    "one partial-agg pass and merges across shards like every moment "
    "aggregate here; degenerate suppliers (all orders one day) are "
    "excluded by the zero-variance guard.",
    tags=("analytics", "stats", "agg"),
)
def supplier_leadtime_trend(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lags = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_suppkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("x"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("y"),
    )
    mom = lags.groupBy("l_suppkey").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    var_x = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.where(var_x > 0).select(
        "l_suppkey",
        F.col("n").cast("long").alias("n_shipments"),
        F.expr("CAST(sy div n AS BIGINT)").alias("mean_lag_days"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000"
            " div (n * sx2 - sx * sx) AS BIGINT)"
        ).alias("slope_e6"),
        (cov > 0).alias("worsening"),
    )


@register(
    "events_new_vs_returning_daily",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS d
  FROM events e
)
SELECT d AS day,
       CAST(count(*) AS BIGINT) AS active_users,
       CAST(count(*) FILTER (WHERE d = f.first_day) AS BIGINT) AS new_users,
       CAST(count(*) FILTER (WHERE d > f.first_day) AS BIGINT)
         AS returning_users
FROM daily JOIN firsts f USING (user_id)
GROUP BY d
""",
    doc="Daily active users split NEW vs RETURNING — the growth-"
    "accounting identity every DAU chart should decompose into "
    "(growth from acquisition looks identical to growth from "
    "retention until you split it): first-seen day per user from one "
    "min() aggregate, distinct user-days classified against it. Both "
    "aggregations shuffle on user_id and can share the exchange; "
    "output is |days| rows. Pairs with events_retention_cohort "
    "(the same split, cohort-resolved) and "
    "events_segment_transition_matrix (intensity rather than "
    "presence).",
    tags=("events", "analytics", "agg"),
)
def events_new_vs_returning_daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        daily.join(firsts, "user_id")
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.count("*").alias("active_users"),
            F.count(F.when(F.col("d") == F.col("first_day"), 1)).alias(
                "new_users"
            ),
            F.count(F.when(F.col("d") > F.col("first_day"), 1)).alias(
                "returning_users"
            ),
        )
    )


@register(
    "events_mean_shift_detection",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), framed AS (
  SELECT event_type, day,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS pre7,
         count(*) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_pre,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS post7,
         count(*) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS n_post
  FROM daily
), full_frames AS (
  SELECT event_type, day, pre7, post7, abs(post7 - pre7) AS gap
  FROM framed WHERE n_pre = 7 AND n_post = 7
), ranked AS (
  SELECT event_type, day, pre7, post7, gap,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY gap DESC, day) AS rn
  FROM full_frames
)
SELECT event_type, day AS shift_day,
       CAST(pre7 AS BIGINT) AS pre7, CAST(post7 AS BIGINT) AS post7,
       CAST(gap AS BIGINT) AS gap
FROM ranked WHERE rn = 1
""",
    doc="Level-shift (changepoint) detection on daily event volume: for "
    "each day with a full 7-day frame on both sides, the absolute gap "
    "between the preceding-7-day and following-7-day sums; each event "
    "type reports its maximal-gap day — the rolling two-sample mean-"
    "shift test that flags deploy regressions / traffic breaks without "
    "the sequential CUSUM recursion (which no distributed window can "
    "express; the two fixed frames are the standard scalable substitute). "
    "ROWS frames over existing days make both engines agree even if a "
    "day is absent. Plan: one (type, day) pre-aggregate — the only "
    "fact-table shuffle — then windows partitioned by event_type over "
    "|days| rows each, then a per-type argmax. 100 TB: the fact table "
    "collapses to |types|x|days| rows before any window runs.",
    tags=("analytics", "timeseries", "window"),
)
def events_mean_shift_detection(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    by_day = W.partitionBy("event_type").orderBy("day")
    pre_f = by_day.rowsBetween(-7, -1)
    post_f = by_day.rowsBetween(0, 6)
    framed = daily.select(
        "event_type",
        "day",
        F.sum("cnt").over(pre_f).alias("pre7"),
        F.count("*").over(pre_f).alias("n_pre"),
        F.sum("cnt").over(post_f).alias("post7"),
        F.count("*").over(post_f).alias("n_post"),
    ).where((F.col("n_pre") == 7) & (F.col("n_post") == 7))
    ranked = framed.select(
        "event_type",
        "day",
        "pre7",
        "post7",
        F.abs(F.col("post7") - F.col("pre7")).alias("gap"),
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.desc("gap"), F.asc("day"))
        ),
    )
    return ranked.where(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("shift_day"),
        F.col("pre7").cast("long").alias("pre7"),
        F.col("post7").cast("long").alias("post7"),
        F.col("gap").cast("long").alias("gap"),
    )


@register(
    "events_timeseries_sax_similarity",
    oracle="""
WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
daily AS (
  SELECT user_id,
         date_diff('day', (SELECT d0 FROM bounds), CAST(ts AS DATE)) AS di,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
p1 AS (
  SELECT user_id, map_from_entries(list(struct_pack(k := di, v := cents))) AS m
  FROM daily GROUP BY user_id
),
prof AS (
  SELECT user_id,
         list_transform(range(0, 30),
                        i -> coalesce(m[i][1], CAST(0 AS BIGINT))) AS arr
  FROM p1
),
segs AS (
  SELECT user_id, arr,
         list_transform(range(0, 6),
                        k -> list_sum(arr[CAST(k*5+1 AS INT):CAST(k*5+5 AS INT)])) AS s
  FROM prof
),
words AS (
  SELECT user_id, arr,
         array_to_string(list_transform(range(0, 6), i ->
           'LLMMHH'[CAST(1 + len(list_filter(range(0, 6),
              j -> s[j+1] < s[i+1] OR (s[j+1] = s[i+1] AND j < i))) AS INT)]),
           '') AS word
  FROM segs
),
cand AS (
  SELECT a.user_id AS uid, b.user_id AS neighbor,
         CAST(list_sum(list_transform(range(1, 31),
           i -> (a.arr[CAST(i AS INT)] - b.arr[CAST(i AS INT)])
              * (a.arr[CAST(i AS INT)] - b.arr[CAST(i AS INT)]))) AS BIGINT)
           AS dist_cents2
  FROM words a JOIN words b
    ON a.word = b.word AND a.user_id <> b.user_id
)
SELECT uid, neighbor, dist_cents2, CAST(rn AS INT) AS rank FROM (
  SELECT uid, neighbor, dist_cents2,
         row_number() OVER (PARTITION BY uid
                            ORDER BY dist_cents2, neighbor) AS rn
  FROM cand) WHERE rn <= 3
""",
    doc="Time-series similarity search via SAX-style symbolic blocking "
    "(Lin et al.): each user's 30-day spend profile is piecewise-"
    "aggregated into 6 segments, discretized into rank-tercile symbols "
    "(L/M/H, ties broken by segment index — fully integer, no sigma "
    "estimate), and only users sharing the 6-symbol word are compared "
    "with the exact squared distance; top-3 nearest per user. The "
    "word-blocked pair space is the standard answer to all-pairs "
    "time-series search: candidates share a word, never an n^2 cross. "
    "Plan: one (user, day) shuffle builds profiles map-side, "
    "symbolization is pure codegen array algebra, and one shuffle on "
    "the word feeds the per-block numpy top-3 kernel (operators/"
    "similarity.py::intvec_block_topk_neighbors — int64-exact, rows "
    "cross the Python boundary once, the quadratic distance matrix "
    "never leaves the task, and the per-user rank window disappears "
    "because a user's block holds all its candidates). 100 TB: "
    "degenerate words (e.g. near-empty profiles) are the skew risk — "
    "cap or sub-split hot words, same playbook as hot LSH bands.",
    tags=("analytics", "timeseries", "similarity"),
)
def events_timeseries_sax_similarity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.agg(F.min(F.col("ts").cast("date")).alias("_d0"))
    daily = (
        ev.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("_d0")).alias("di"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("user_id", "di")
        .agg(F.sum("c").alias("cents"))
    )
    prof = (
        daily.groupBy("user_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("di", "cents"))).alias("m")
        )
        .select(
            "user_id",
            F.expr(
                "transform(sequence(0, 29),"
                " i -> coalesce(element_at(m, i), CAST(0 AS BIGINT)))"
            ).alias("arr"),
        )
    )
    segs = prof.select(
        "user_id",
        "arr",
        F.expr(
            "transform(sequence(0, 5),"
            " k -> aggregate(slice(arr, k*5+1, 5), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x))"
        ).alias("s"),
    )
    words = segs.select(
        "user_id",
        "arr",
        F.expr(
            "array_join(transform(sequence(0, 5), i ->"
            " substring('LLMMHH', 1 + size(filter(sequence(0, 5),"
            "   j -> s[j] < s[i] OR (s[j] = s[i] AND j < i))), 1)), '')"
        ).alias("word"),
    )
    # r10: the per-word pair join + interpreted integer-L2 HOF + rank
    # window ran quadratic work through the JVM pair stream; a user's
    # word block holds ALL its candidates, so the global top-3 is
    # block-local and the whole tail collapses into the numpy block
    # kernel (EXACT: int64 arithmetic is identical in numpy and the JVM;
    # ordering (dist, neighbor) replicated by lexsort — equivalence
    # pinned row-identical in tests/test_sax_kernel.py). 10x replica:
    # 7.24 -> 1.78 s.
    from ..operators.similarity import intvec_block_topk_neighbors

    return intvec_block_topk_neighbors(
        words.select("word", F.col("user_id").alias("uid"), "arr"), k=3
    ).select("uid", "neighbor", F.col("dist").alias("dist_cents2"), "rank")


@register(
    "qa_population_stability_index",
    oracle="""
WITH tagged AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
              THEN 'ref' ELSE 'cur' END AS era,
         least(CAST(round(o_totalprice) AS BIGINT) // 20000, 9) AS bin
  FROM orders
), binned AS (
  SELECT era, bin, count(*) AS c FROM tagged GROUP BY era, bin
), tot AS (
  SELECT era, sum(c) AS t FROM binned GROUP BY era
), shares AS (
  SELECT b.bin,
         max(CASE WHEN b.era = 'ref' THEN CAST(b.c AS DOUBLE) / t.t END) AS p,
         max(CASE WHEN b.era = 'cur' THEN CAST(b.c AS DOUBLE) / t.t END) AS q
  FROM binned b JOIN tot t ON b.era = t.era
  GROUP BY b.bin
), terms AS (
  SELECT bin,
         CAST(round(p * 1000000) AS BIGINT) AS p_e6,
         CAST(round(q * 1000000) AS BIGINT) AS q_e6,
         CAST(round((coalesce(p, 0.0001) - coalesce(q, 0.0001))
                    * ln(coalesce(p, 0.0001) / coalesce(q, 0.0001))
                    * 1000000) AS BIGINT) AS psi_term_e6
  FROM shares
)
SELECT CAST(bin AS BIGINT) AS bin, p_e6, q_e6, psi_term_e6,
       (SELECT CAST(sum(psi_term_e6) AS BIGINT) FROM terms) AS psi_total_e6
FROM terms
""",
    doc="Population Stability Index — the standard drift gate for "
    "features and training-data distributions: order totals are binned "
    "into fixed-width buckets, the pre-1998 era is the reference "
    "population, and each bin contributes (p-q)*ln(p/q), epsilon-"
    "floored for empty bins (0.0001, the conventional PSI floor) and "
    "e6-rounded BEFORE summation so the total is order-free. PSI > 0.2 "
    "conventionally blocks a deploy/dataset refresh. Plan shape: one "
    "(era, bin) aggregate over the fact table (20 groups, map-side "
    "partials), everything after is a 10-row pivot — the fact table is "
    "scanned once. 100 TB: same plan; fixed-width bins avoid the "
    "global quantile pass a decile binning would need (and when decile "
    "bins ARE wanted, ranking.py's two-phase cut points slot in).",
    tags=("qa", "stats", "drift"),
)
def qa_population_stability_index(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "ref"
        )
        .otherwise("cur")
        .alias("era"),
        F.least(F.expr("CAST(round(o_totalprice) AS BIGINT) div 20000"), F.lit(9).cast("long")).alias(
            "bin"
        ),
    )
    binned = tagged.groupBy("era", "bin").agg(F.count("*").alias("c"))
    tot = binned.groupBy("era").agg(F.sum("c").alias("t"))
    shares = (
        binned.join(tot, "era")
        .groupBy("bin")
        .agg(
            F.max(
                F.when(F.col("era") == "ref", F.col("c").cast("double") / F.col("t"))
            ).alias("p"),
            F.max(
                F.when(F.col("era") == "cur", F.col("c").cast("double") / F.col("t"))
            ).alias("q"),
        )
    )
    pf = F.coalesce(F.col("p"), F.lit(0.0001))
    qf = F.coalesce(F.col("q"), F.lit(0.0001))
    terms = shares.select(
        F.col("bin").cast("long").alias("bin"),
        F.round(F.col("p") * 1000000).cast("long").alias("p_e6"),
        F.round(F.col("q") * 1000000).cast("long").alias("q_e6"),
        F.round((pf - qf) * F.log(pf / qf) * 1000000)
        .cast("long")
        .alias("psi_term_e6"),
    )
    total = terms.agg(F.sum("psi_term_e6").cast("long").alias("psi_total_e6"))
    return terms.crossJoin(F.broadcast(total))


@register(
    "events_slo_burn_rate",
    oracle="""
WITH d AS (
  SELECT user_id % 4 AS svc, CAST(ts AS DATE) AS dy,
         count(*) FILTER (WHERE event_type = 'error') AS e,
         count(*) AS n
  FROM events GROUP BY 1, 2
), w AS (
  SELECT svc, dy,
         e * 50000 // n AS burn1_e4,
         (sum(e) OVER (PARTITION BY svc ORDER BY dy
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) * 50000
           // (sum(n) OVER (PARTITION BY svc ORDER BY dy
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
           AS burn7_e4,
         count(*) OVER (PARTITION BY svc ORDER BY dy
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS nf
  FROM d
)
SELECT CAST(svc AS BIGINT) AS svc, dy AS day,
       CAST(burn1_e4 AS BIGINT) AS burn1_e4,
       CAST(burn7_e4 AS BIGINT) AS burn7_e4,
       burn1_e4 >= 10500 AND burn7_e4 >= 10000 AS page_alert
FROM w WHERE nf = 7
""",
    doc="Multi-window SLO burn rate (the Google SRE workbook alerting "
    "policy): per service shard, the error-budget burn — error share "
    "over a 20% budget, in exact e4 basis points via cross-"
    "multiplication (e*50000 div n), no float division — measured "
    "simultaneously over the 1-day and rolling 7-day windows; a page "
    "fires only when the SHORT window burns hot (>=1.05x budget) AND "
    "the LONG window confirms (>=1.0x) — fast detection without "
    "single-spike flapping. Windows are partitioned by service and "
    "ROWS-framed over the daily pre-aggregate, so the fact table "
    "shuffles once at (svc, day) grain and every window task holds "
    "|days| rows. 100 TB: identical plan; the pre-aggregate IS the "
    "fact-table reduction.",
    tags=("analytics", "sre", "window", "timeseries"),
)
def events_slo_burn_rate(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        (F.col("user_id") % 4).alias("svc"),
        F.col("ts").cast("date").alias("dy"),
    ).agg(
        F.sum((F.col("event_type") == "error").cast("long")).alias("e"),
        F.count("*").alias("n"),
    )
    win = W.partitionBy("svc").orderBy("dy").rowsBetween(-6, 0)
    w = d.select(
        "svc",
        "dy",
        F.expr("e * 50000 div n").alias("burn1_e4"),
        F.expr("(sum(e) OVER (PARTITION BY svc ORDER BY dy"
               " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) * 50000"
               " div (sum(n) OVER (PARTITION BY svc ORDER BY dy"
               " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))").alias("burn7_e4"),
        F.count("*").over(win).alias("nf"),
    ).where(F.col("nf") == 7)
    return w.select(
        F.col("svc").cast("long").alias("svc"),
        F.col("dy").alias("day"),
        F.col("burn1_e4").cast("long").alias("burn1_e4"),
        F.col("burn7_e4").cast("long").alias("burn7_e4"),
        ((F.col("burn1_e4") >= 10500) & (F.col("burn7_e4") >= 10000)).alias(
            "page_alert"
        ),
    )


@register(
    "events_anomaly_mad_daily",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS dy,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, list(cents ORDER BY cents) AS cs,
         CAST(count(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type
), m2 AS (
  SELECT event_type, cs[CAST((n + 1) // 2 AS INT)] AS med FROM med
), dev AS (
  SELECT d.event_type, d.dy, d.cents, m2.med,
         abs(d.cents - m2.med) AS adev
  FROM daily d JOIN m2 USING (event_type)
), madt AS (
  SELECT event_type, list(adev ORDER BY adev) AS ds,
         CAST(count(*) AS BIGINT) AS n
  FROM dev GROUP BY event_type
), mad AS (
  SELECT event_type, ds[CAST((n + 1) // 2 AS INT)] AS mad FROM madt
)
SELECT dev.event_type, dev.dy AS day, dev.cents, dev.med AS median_cents,
       mad.mad AS mad_cents,
       dev.adev > 3 * mad.mad AS is_anomaly
FROM dev JOIN mad USING (event_type)
""",
    doc="Robust daily anomaly flags via median absolute deviation: per "
    "event type, the exact median of daily value totals, the exact MAD "
    "around it, and a |x - med| > 3*MAD flag — the outlier rule that "
    "(unlike the rolling z-score twin events_anomaly_rolling_zscore) "
    "a single extreme day cannot poison, since both location and "
    "scale are medians. Exact medians come from a dimension-bounded "
    "ordered collect per type (|days| elements — never corpus-scale), "
    "so the whole statistic is integer arithmetic. Plan: one fact "
    "shuffle to (type, day) grain, two |types|-row median rollups, "
    "and broadcast joins back — the fact table is scanned once.",
    tags=("analytics", "timeseries", "robust-stats"),
)
def events_anomaly_mad_daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("dy")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    med = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list("cents")).alias("cs"),
        F.count("*").cast("long").alias("n"),
    ).select(
        "event_type",
        F.expr("element_at(cs, CAST((n + 1) div 2 AS INT))").alias("med"),
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "dy",
        "cents",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.array_sort(F.collect_list("adev")).alias("ds"),
        F.count("*").cast("long").alias("n"),
    ).select(
        "event_type",
        F.expr("element_at(ds, CAST((n + 1) div 2 AS INT))").alias("mad"),
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        F.col("dy").alias("day"),
        "cents",
        F.col("med").alias("median_cents"),
        F.col("mad").alias("mad_cents"),
        (F.col("adev") > 3 * F.col("mad")).alias("is_anomaly"),
    )


@register(
    "qa_k_anonymity_audit",
    oracle="""
WITH classes AS MATERIALIZED (
  SELECT c_mktsegment, c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) % 100)
              AS BIGINT) AS l_div
  FROM customer
  GROUP BY c_mktsegment, c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT)
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(cnt) AS BIGINT) AS k_anonymity,
       CAST(min(l_div) AS BIGINT) AS l_diversity,
       CAST(count(*) FILTER (WHERE cnt < 5) AS BIGINT) AS n_small_classes,
       CAST(coalesce(sum(cnt) FILTER (WHERE cnt < 5), 0) AS BIGINT)
         AS n_rows_at_risk
FROM classes GROUP BY c_mktsegment
""",
    doc="k-anonymity / l-diversity audit over quasi-identifiers — the "
    "privacy-governance gate a dataset passes before release (Sweeney "
    "2002; Machanavajjhala 2007): customers are partitioned into "
    "equivalence classes by the QI tuple (segment, nation, account-"
    "balance band) and each segment reports its k (smallest class), its "
    "l (fewest distinct sensitive values — the balance cents digits, the "
    "sub-band detail the QI coarsening is meant to hide — in any class), "
    "and the "
    "classes/rows that would re-identify under k=5. Pure two-level "
    "aggregation: the class table is bounded by QI-combination "
    "cardinality (not row count), builds with one partial-agg shuffle, "
    "and the per-segment rollup is |classes|-scale — the audit costs "
    "one scan at any corpus size.",
    tags=("qa", "governance"),
)
def qa_k_anonymity_audit(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(
        F.count("*").cast("long").alias("cnt"),
        F.countDistinct(
            F.round(F.col("c_acctbal") * 100).cast("long") % 100
        )
        .cast("long")
        .alias("l_div"),
    )
    return classes.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.min("cnt").cast("long").alias("k_anonymity"),
        F.min("l_div").cast("long").alias("l_diversity"),
        F.sum((F.col("cnt") < 5).cast("long"))
        .cast("long")
        .alias("n_small_classes"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") < 5, F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("n_rows_at_risk"),
    )


@register(
    "stats_join_cardinality_estimate",
    oracle="""
WITH cc AS MATERIALIZED (
  SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS cnt FROM customer
  GROUP BY c_nationkey
), sc AS MATERIALIZED (
  SELECT s_nationkey AS k, CAST(count(*) AS BIGINT) AS cnt FROM supplier
  GROUP BY s_nationkey
), tot AS (
  SELECT (SELECT sum(cnt) FROM cc) AS totc,
         (SELECT sum(cnt) FROM sc) AS tots,
         (SELECT count(*) FROM cc) AS ndvc,
         (SELECT count(*) FROM sc) AS ndvs
), hist AS (
  SELECT CAST(coalesce(sum(cc.cnt * sc.cnt), 0) AS BIGINT) AS est
  FROM cc JOIN sc ON cc.k = sc.k
), act AS (
  SELECT CAST(count(*) AS BIGINT) AS actual
  FROM customer JOIN supplier ON c_nationkey = s_nationkey
)
SELECT CAST(totc * tots // greatest(ndvc, ndvs) AS BIGINT)
         AS uniform_est,
       hist.est AS histogram_est,
       act.actual AS actual_rows,
       CAST(totc * tots // greatest(ndvc, ndvs) * 10000 // act.actual
            AS BIGINT) AS uniform_err_e4,
       CAST(hist.est * 10000 // act.actual AS BIGINT) AS histogram_err_e4
FROM tot, hist, act
""",
    doc="Cost-based-optimizer join cardinality estimation as a first-"
    "class query — the System-R uniform-NDV formula |A|*|B|/max(ndv_A,"
    "ndv_B) (Selinger 1979) next to the per-key histogram estimate "
    "sum(cnt_A(k)*cnt_B(k)) and the ACTUAL join count, with e4 error "
    "ratios. The histogram estimate is provably exact for equi-joins "
    "(it's computed here by a counts-join whose cost is |keys|, not "
    "|join output| — the reason real optimizers ship MCV histograms), "
    "while uniform-NDV is off exactly by the key-skew factor; the gap "
    "IS the query's payload. All integer arithmetic; the per-key count "
    "tables build map-side and the join of counts is NDV-bounded, so "
    "the estimator costs O(ndv) at any fact size — estimating a join "
    "must never cost the join.",
    tags=("analytics", "stats", "optimizer"),
)
def stats_join_cardinality_estimate(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    cc = cust.groupBy(F.col("c_nationkey").alias("k")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    sc = supp.groupBy(F.col("s_nationkey").alias("k")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    tot = (
        cc.agg(
            F.sum("cnt").cast("long").alias("totc"),
            F.count("*").cast("long").alias("ndvc"),
        )
        .crossJoin(
            F.broadcast(
                sc.agg(
                    F.sum("cnt").cast("long").alias("tots"),
                    F.count("*").cast("long").alias("ndvs"),
                )
            )
        )
    )
    hist = (
        cc.join(sc.select("k", F.col("cnt").alias("cnt_s")), "k")
        .agg(
            F.coalesce(F.sum(F.col("cnt") * F.col("cnt_s")), F.lit(0))
            .cast("long")
            .alias("est")
        )
    )
    act = (
        cust.join(supp, cust["c_nationkey"] == supp["s_nationkey"])
        .agg(F.count("*").cast("long").alias("actual"))
    )
    return (
        tot.crossJoin(F.broadcast(hist))
        .crossJoin(F.broadcast(act))
        .select(
            F.expr("CAST(totc * tots div greatest(ndvc, ndvs) AS BIGINT)")
            .alias("uniform_est"),
            F.col("est").alias("histogram_est"),
            F.col("actual").alias("actual_rows"),
            F.expr(
                "CAST(totc * tots div greatest(ndvc, ndvs) * 10000"
                " div actual AS BIGINT)"
            ).alias("uniform_err_e4"),
            F.expr("CAST(est * 10000 div actual AS BIGINT)").alias(
                "histogram_err_e4"
            ),
        )
    )


@register(
    "agg_eager_pushdown_join",
    oracle="""
SELECT c_mktsegment,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_mktsegment
""",
    doc="Eager aggregation / group-by pushdown (Yan & Larson, VLDB "
    "1995): the semantically-declared plan is join-then-aggregate, but "
    "the EXECUTED plan pre-aggregates lineitem to one row per orderkey "
    "BEFORE the join — the join then moves |orders| rows instead of "
    "|lineitem| rows, and the final rollup is a cheap re-aggregation "
    "of partials (sum of sums; the order count becomes exact because "
    "pre-aggregation collapses each orderkey to one row). At 100 TB "
    "this is the difference between shuffling the fact table once at "
    "line grain and once at order grain — the transformation Catalyst "
    "does not yet apply automatically (SPARK-36183), so the operator "
    "encodes it explicitly and the oracle states the undecomposed "
    "form, proving the rewrite is semantics-preserving.",
    tags=("agg", "join", "optimizer"),
)
def agg_eager_pushdown_join(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    return (
        per_order.join(
            orders.select("o_orderkey", "o_custkey"),
            per_order["l_orderkey"] == orders["o_orderkey"],
        )
        .join(
            # customer scales with SF — no forced broadcast; AQE promotes a
            # broadcast join at small inputs and shuffles at 100 TB
            cust.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("qty").cast("long").alias("sum_qty"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


@register(
    "stats_cusum_changepoint",
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), m AS (
  SELECT CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents FROM daily
), s0 AS (
  SELECT yr, d, cents,
         sum(cents - mean_cents) OVER w AS cum
  FROM daily, m
  WINDOW w AS (PARTITION BY yr ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT yr, d, cents, cum,
         min(cum) OVER (PARTITION BY yr ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_min
  FROM s0
), c AS (
  SELECT yr, d, cents, cum - run_min AS cusum_pos, mean_cents
  FROM s, m
)
SELECT yr,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(cusum_pos) AS BIGINT) AS max_cusum_cents,
       CAST(count(*) FILTER (WHERE cusum_pos > mean_cents) AS BIGINT)
         AS n_alarm_days
FROM c GROUP BY yr
""",
    doc="CUSUM changepoint detection (Page 1954) over daily revenue — "
    "the sequential drift monitor a pipeline runs on its own output "
    "metrics: the one-sided CUSUM C_t = max(0, C_{t-1} + dev_t) is a "
    "RECURSION no window function states directly, but the classic "
    "identity C_t = S_t - min_{k<=t} S_k (prefix sum minus running "
    "minimum of the prefix sum) turns it into two stacked ordered "
    "window aggregates — both engines state it identically and the "
    "arithmetic is all integer cents. Detector resets yearly, so every "
    "window is PARTITIONED (bounded by days-per-year); alarms fire "
    "when accumulated positive deviation exceeds one mean day of "
    "revenue. Output is the per-year monitoring summary, |years| "
    "rows.",
    tags=("analytics", "stats", "qa"),
)
def stats_cusum_changepoint(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderdate").alias("d"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    m = daily.agg(
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("mean_cents")
    )
    w = (
        W.partitionBy("yr")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = (
        daily.crossJoin(F.broadcast(m))
        .withColumn("cum", F.sum(F.col("cents") - F.col("mean_cents")).over(w))
        .withColumn("run_min", F.min("cum").over(w))
    )
    c = s.select(
        "yr",
        "mean_cents",
        (F.col("cum") - F.col("run_min")).alias("cusum_pos"),
    )
    return c.groupBy("yr").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("cusum_pos").cast("long").alias("max_cusum_cents"),
        F.sum((F.col("cusum_pos") > F.col("mean_cents")).cast("long"))
        .cast("long")
        .alias("n_alarm_days"),
    )


@register(
    "events_attribution_last_touch",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT event_id, user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us
  FROM events
), coded AS (
  SELECT *,
         CASE WHEN event_type = 'click' THEN ts_us * 4 + 1
              WHEN event_type = 'view'  THEN ts_us * 4 + 2
         END AS touch_code
  FROM e
), attr AS (
  SELECT event_id, user_id, event_type, ts_us,
         max(touch_code) OVER (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM coded
)
SELECT CAST(event_id AS BIGINT) AS purchase_id,
       CAST(user_id AS BIGINT) AS user_id,
       CASE WHEN last_touch IS NULL THEN 'none'
            WHEN last_touch % 4 = 1 THEN 'click' ELSE 'view' END
         AS attributed_to,
       CAST(coalesce(ts_us - last_touch // 4, 0) AS BIGINT) AS lag_us
FROM attr WHERE event_type = 'purchase'
""",
    doc="Last-touch conversion attribution — the marketing-analytics "
    "primitive behind every campaign report: each purchase is credited "
    "to the same user's most recent click or view inside a 24h "
    "attribution window. The windowed argmax is an INTEGER max over an "
    "encoded (ts_us*4 + channel) key — no struct comparison, no "
    "self-join, identical semantics in both engines even on "
    "timestamp ties (same code, same max) — and the window is the "
    "strictly-past epoch-us RANGE frame shared with the PIT training "
    "query, so attribution and feature assembly obey the same leakage "
    "boundary. One user-keyed shuffle, per-user ordered state bounded "
    "by events-per-window.",
    tags=("events", "analytics", "window"),
)
def events_attribution_last_touch(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    coded = ev.withColumn(
        "touch_code",
        F.when(
            F.col("event_type") == "click", F.col("ts_us") * 4 + 1
        ).when(F.col("event_type") == "view", F.col("ts_us") * 4 + 2),
    )
    past = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-86400000000, -1)
    )
    attr = coded.withColumn("last_touch", F.max("touch_code").over(past))
    return attr.where(F.col("event_type") == "purchase").select(
        F.col("event_id").cast("long").alias("purchase_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.when(F.col("last_touch").isNull(), F.lit("none"))
        .when(F.col("last_touch") % 4 == 1, F.lit("click"))
        .otherwise(F.lit("view"))
        .alias("attributed_to"),
        F.coalesce(
            F.col("ts_us") - F.expr("last_touch div 4"), F.lit(0)
        )
        .cast("long")
        .alias("lag_us"),
    )


@register(
    "stats_survival_hazard_table",
    oracle="""
WITH o AS MATERIALIZED (
  SELECT o_custkey,
         CAST(date_diff('day',
              lag(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey),
              o_orderdate) AS BIGINT) AS gap_days
  FROM orders
), gaps AS (
  SELECT gap_days FROM o WHERE gap_days IS NOT NULL
), by_t AS (
  SELECT gap_days AS t_days, CAST(count(*) AS BIGINT) AS n_events
  FROM gaps GROUP BY gap_days
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gaps),
risk AS (
  SELECT t_days, n_events,
         CAST(n - coalesce(sum(n_events) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_at_risk
  FROM by_t, tot
)
SELECT t_days, n_at_risk, n_events,
       CAST(n_events * 10000 // n_at_risk AS BIGINT) AS hazard_e4
FROM risk WHERE t_days <= 60
""",
    doc="Survival-analysis hazard table (the Kaplan-Meier / "
    "Nelson-Aalen sufficient statistics; Kaplan & Meier 1958) over "
    "customer reorder gaps — the churn/retention primitive: for each "
    "observed time-to-next-order t, the number still at risk (gaps >= "
    "t, via total minus the prefix sum of earlier events) and the "
    "discrete hazard d_t/n_t. Emitting the (t, n_at_risk, d_t) table "
    "rather than the survival curve keeps every value INTEGER-exact — "
    "the KM product estimator is a float fold the caller can apply to "
    "this table in one bounded pass. Per-customer gaps come from one "
    "partitioned lag; the event table is grouped to |distinct t| rows "
    "BEFORE the prefix accumulation, which runs as the TWO-PHASE exact "
    "cumsum (operators/ranking.py) — no unpartitioned window anywhere "
    "in the plan even at duration-cardinality. Clipped to t<=60d for a "
    "stable report.",
    tags=("analytics", "stats", "customer"),
)
def stats_survival_hazard_table(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..operators.ranking import with_exact_global_order

    orders = load_table(spark, sf_dir, "orders")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate"),
                F.lag("o_orderdate").over(
                    W.partitionBy("o_custkey").orderBy(
                        "o_orderdate", "o_orderkey"
                    )
                ),
            )
            .cast("long")
            .alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    by_t = gaps.groupBy(F.col("gap_days").alias("t_days")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    tot = gaps.agg(F.count("*").cast("long").alias("n"))
    cum = with_exact_global_order(
        by_t,
        [("t_days", True)],
        rank_name="_rk",
        cumsum_of="n_events",
        cumsum_name="_cum",
    )
    risk = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_at_risk",
            (F.col("n") - (F.col("_cum") - F.col("n_events"))).cast("long"),
        )
    )
    return risk.where(F.col("t_days") <= 60).select(
        "t_days",
        "n_at_risk",
        "n_events",
        F.expr("CAST(n_events * 10000 div n_at_risk AS BIGINT)").alias(
            "hazard_e4"
        ),
    )


@register(
    "stats_sprt_ab_test",
    oracle="""
WITH obs AS MATERIALIZED (
  SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id,
         CASE WHEN event_type = 'purchase' THEN 200671
              ELSE -50010 END AS llr_inc
  FROM events WHERE user_id % 2 = 0
), cum AS (
  SELECT row_number() OVER (ORDER BY ts_us, event_id) AS rk,
         sum(llr_inc) OVER (ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr,
         llr_inc
  FROM obs
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_obs,
         CAST(count(*) FILTER (WHERE llr_inc > 0) AS BIGINT) AS n_success,
         CAST(max(CASE WHEN rk = (SELECT max(rk) FROM cum) THEN llr END)
              AS BIGINT) AS final_llr_e6,
         CAST(coalesce(min(rk) FILTER (WHERE llr >= 2944439), 0)
              AS BIGINT) AS cross_h1_at,
         CAST(coalesce(min(rk) FILTER (WHERE llr <= -2944439), 0)
              AS BIGINT) AS cross_h0_at
  FROM cum
)
SELECT n_obs, n_success, final_llr_e6, cross_h1_at, cross_h0_at,
       CASE
         WHEN cross_h1_at > 0 AND (cross_h0_at = 0 OR cross_h1_at < cross_h0_at)
           THEN 'accept_h1'
         WHEN cross_h0_at > 0 THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM agg
""",
    doc="Wald's Sequential Probability Ratio Test (Wald 1945) — the "
    "always-valid A/B stopping rule: each variant-A observation adds a "
    "PRECOMPUTED integer e6 log-likelihood-ratio increment (success "
    "ln(p1/p0)=+200671, failure ln(q1/q0)=-50010 for H0: rate=0.18 vs "
    "H1: rate=0.22), the running LLR is an ordered cumulative sum, and "
    "the decision is the FIRST boundary crossing at ±ln(19)e6 "
    "(alpha=beta=0.05). No float log in either engine — the constants "
    "are burned in, so the entire sequential trajectory is integer-"
    "exact and the stopping time is reproducible to the exact "
    "observation. Spark side runs the cumsum as the two-phase exact "
    "global order (no unpartitioned window); the oracle states the "
    "plain windowed form.",
    tags=("analytics", "stats", "events"),
)
def stats_sprt_ab_test(spark, sf_dir):
    from ..operators.ranking import with_exact_global_order

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % 2 == 0
    ).select(
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit(200671))
        .otherwise(F.lit(-50010))
        .alias("llr_inc"),
    )
    cum = with_exact_global_order(
        ev,
        [("ts_us", True), ("event_id", True)],
        rank_name="rk",
        cumsum_of="llr_inc",
        cumsum_name="llr",
    )
    agg = cum.agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum((F.col("llr_inc") > 0).cast("long"))
        .cast("long")
        .alias("n_success"),
        F.max_by("llr", "rk").cast("long").alias("final_llr_e6"),
        F.coalesce(
            F.min(F.when(F.col("llr") >= 2944439, F.col("rk"))), F.lit(0)
        )
        .cast("long")
        .alias("cross_h1_at"),
        F.coalesce(
            F.min(F.when(F.col("llr") <= -2944439, F.col("rk"))), F.lit(0)
        )
        .cast("long")
        .alias("cross_h0_at"),
    )
    return agg.select(
        "n_obs",
        "n_success",
        "final_llr_e6",
        "cross_h1_at",
        "cross_h0_at",
        F.when(
            (F.col("cross_h1_at") > 0)
            & (
                (F.col("cross_h0_at") == 0)
                | (F.col("cross_h1_at") < F.col("cross_h0_at"))
            ),
            F.lit("accept_h1"),
        )
        .when(F.col("cross_h0_at") > 0, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


@register(
    "qa_join_skew_report",
    oracle="""
WITH ks AS (
  SELECT 'orders.o_custkey' AS key_col, o_custkey AS k, count(*) AS cnt
  FROM orders GROUP BY o_custkey
  UNION ALL
  SELECT 'lineitem.l_suppkey', l_suppkey, count(*)
  FROM lineitem GROUP BY l_suppkey
  UNION ALL
  SELECT 'lineitem.l_orderkey', l_orderkey, count(*)
  FROM lineitem GROUP BY l_orderkey
), stats AS (
  SELECT key_col,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         CAST(min(CASE WHEN cnt = mx THEN k END) AS BIGINT) AS heaviest_key
  FROM (SELECT *, max(cnt) OVER (PARTITION BY key_col) AS mx FROM ks)
  GROUP BY key_col
)
SELECT key_col, n_keys, n_rows, max_cnt, heaviest_key,
       CAST(max_cnt * n_keys * 100 // n_rows AS BIGINT) AS skew_x100
FROM stats
""",
    doc="Join-key skew report — the diagnostic that decides whether a "
    "shuffle join needs salting or AQE skew handling BEFORE it runs: "
    "for each candidate join key, the key cardinality, total rows, the "
    "heaviest key and its count, and the skew factor max/avg (x100 "
    "integer). A skew factor near 100 means uniform keys (hash "
    "partitioning balances); 10x that means one reducer owns the hot "
    "key and the join needs the salted plan (join_salted_skew) or AQE "
    "skew-join. Each key profile is one partial-agg shuffle bounded by "
    "key cardinality; the per-key-column rollup is |keys|-scale. "
    "Heaviest-key identification uses a window partitioned by key "
    "column (bounded partitions), min-id tie-break.",
    tags=("qa", "join", "optimizer"),
)
def qa_join_skew_report(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    parts = [
        ("orders.o_custkey", orders.select(F.col("o_custkey").alias("k"))),
        ("lineitem.l_suppkey", li.select(F.col("l_suppkey").alias("k"))),
        ("lineitem.l_orderkey", li.select(F.col("l_orderkey").alias("k"))),
    ]
    ks = None
    for name, df in parts:
        c = df.groupBy("k").agg(F.count("*").alias("cnt")).select(
            F.lit(name).alias("key_col"), "k", "cnt"
        )
        ks = c if ks is None else ks.unionByName(c)
    mx = ks.withColumn(
        "mx", F.max("cnt").over(W.partitionBy("key_col"))
    )
    stats = mx.groupBy("key_col").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.min(F.when(F.col("cnt") == F.col("mx"), F.col("k")))
        .cast("long")
        .alias("heaviest_key"),
    )
    return stats.select(
        "key_col",
        "n_keys",
        "n_rows",
        "max_cnt",
        "heaviest_key",
        F.expr("CAST(max_cnt * n_keys * 100 div n_rows AS BIGINT)").alias(
            "skew_x100"
        ),
    )


@register(
    "stats_forecast_backtest",
    oracle="""
WITH m AS MATERIALIZED (
  SELECT date_trunc('month', o_orderdate) AS mo,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), r AS (
  SELECT mo, cents, row_number() OVER (ORDER BY mo) AS rk FROM m
), preds AS (
  SELECT 'naive_last' AS method, a.cents AS actual, b.cents AS pred
  FROM r a JOIN r b ON b.rk = a.rk - 1
  UNION ALL
  SELECT 'seasonal_12', a.cents, b.cents
  FROM r a JOIN r b ON b.rk = a.rk - 12
  UNION ALL
  SELECT 'ma_3', a.cents,
         (b1.cents + b2.cents + b3.cents) // 3
  FROM r a JOIN r b1 ON b1.rk = a.rk - 1
           JOIN r b2 ON b2.rk = a.rk - 2
           JOIN r b3 ON b3.rk = a.rk - 3
)
SELECT method,
       CAST(count(*) AS BIGINT) AS n_months,
       CAST(sum(abs(actual - pred)) // count(*) AS BIGINT) AS mae_cents,
       CAST(sum(abs(actual - pred)) * 10000 // sum(actual) AS BIGINT)
         AS wape_e4
FROM preds GROUP BY method
""",
    doc="Forecast backtest — the model-selection report a demand/"
    "capacity pipeline runs before trusting any forecast: three "
    "classical baselines (naive last-value, seasonal-naive t-12, "
    "3-month moving average) replayed over the monthly revenue series "
    "with per-method MAE and WAPE (weighted absolute percentage "
    "error, e4). Lags are RANK-JOINS on the aggregated month table "
    "(|months| rows — the series is bounded by calendar grain, so "
    "lag-as-join costs nothing and the plan keeps the zero-"
    "unpartitioned-window invariant; the month rank itself is a "
    "window over a table already reduced to month grain... stated as "
    "a rank via the two-phase exact order on the Spark side). All "
    "integer cents; ties impossible (months are unique).",
    tags=("analytics", "stats", "timeseries"),
)
def stats_forecast_backtest(spark, sf_dir):
    from ..operators.ranking import with_exact_global_order

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mo")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # NOT persisted (r11 measured-and-rejected): the seven lag-join legs
    # below repeat this subtree textually, but runtime exchange reuse
    # already dedups the identical month-aggregation exchanges — a
    # persist() serializes the first materialization instead and read
    # 0.84x at the 10x replica / 0.52x at 100x (OPTIMIZATION_r11.md §2,
    # measured with the §1 Evidence A/B), so the duplicated-looking plan
    # is the fast form
    r = with_exact_global_order(
        m.withColumn("_mo_us", F.unix_micros("mo")),
        [("_mo_us", True)],
        rank_name="rk",
    ).select("cents", "rk")

    def lagged(k, alias):
        return r.select(
            (F.col("rk") + k).alias("rk"), F.col("cents").alias(alias)
        )

    naive = (
        r.join(lagged(1, "pred"), "rk")
        .select(F.lit("naive_last").alias("method"), "cents", "pred")
    )
    seasonal = (
        r.join(lagged(12, "pred"), "rk")
        .select(F.lit("seasonal_12").alias("method"), "cents", "pred")
    )
    ma3 = (
        r.join(lagged(1, "p1"), "rk")
        .join(lagged(2, "p2"), "rk")
        .join(lagged(3, "p3"), "rk")
        .select(
            F.lit("ma_3").alias("method"),
            "cents",
            F.expr("(p1 + p2 + p3) div 3").alias("pred"),
        )
    )
    preds = naive.unionByName(seasonal).unionByName(ma3)
    return preds.groupBy("method").agg(
        F.count("*").cast("long").alias("n_months"),
        F.expr(
            "CAST(sum(abs(cents - pred)) div count(*) AS BIGINT)"
        ).alias("mae_cents"),
        F.expr(
            "CAST(sum(abs(cents - pred)) * 10000 div sum(cents) AS BIGINT)"
        ).alias("wape_e4"),
    )


@register(
    "stats_diff_in_diff",
    oracle="""
WITH e AS (
  SELECT user_id % 2 = 0 AS treated,
         ts >= TIMESTAMP '2024-01-16 00:00:00' AS post,
         CAST(event_type = 'purchase' AS INT) AS y
  FROM events
), cells AS (
  SELECT treated, post,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) * 10000 // count(*) AS BIGINT) AS rate_e4
  FROM e GROUP BY treated, post
)
SELECT
  CAST(sum(CASE WHEN treated AND NOT post THEN n END) AS BIGINT)
    AS n_treat_pre,
  CAST(sum(CASE WHEN treated AND post THEN n END) AS BIGINT)
    AS n_treat_post,
  CAST(sum(CASE WHEN NOT treated AND NOT post THEN n END) AS BIGINT)
    AS n_ctrl_pre,
  CAST(sum(CASE WHEN NOT treated AND post THEN n END) AS BIGINT)
    AS n_ctrl_post,
  CAST(sum(CASE WHEN treated AND NOT post THEN rate_e4 END) AS BIGINT)
    AS rate_treat_pre_e4,
  CAST(sum(CASE WHEN treated AND post THEN rate_e4 END) AS BIGINT)
    AS rate_treat_post_e4,
  CAST(sum(CASE WHEN NOT treated AND NOT post THEN rate_e4 END) AS BIGINT)
    AS rate_ctrl_pre_e4,
  CAST(sum(CASE WHEN NOT treated AND post THEN rate_e4 END) AS BIGINT)
    AS rate_ctrl_post_e4,
  CAST((sum(CASE WHEN treated AND post THEN rate_e4 END)
        - sum(CASE WHEN treated AND NOT post THEN rate_e4 END))
       - (sum(CASE WHEN NOT treated AND post THEN rate_e4 END)
          - sum(CASE WHEN NOT treated AND NOT post THEN rate_e4 END))
       AS BIGINT) AS did_e4
FROM cells
""",
    doc="Difference-in-differences — the workhorse causal-inference "
    "estimator for a rollout without randomized holdout (Card & "
    "Krueger 1994): purchase-rate change of the treated group minus "
    "the contemporaneous change of the control group, removing shared "
    "time trends. The 2x2 (group x period) cell table is one "
    "conditional-aggregate pass over the fact stream (rates as e4 "
    "integers, floor semantics identical in both engines); the DiD "
    "estimate folds four cells in the final 1-row projection. At "
    "100 TB this is a single map-side-combinable aggregation — causal "
    "panels never need more than one scan.",
    tags=("analytics", "stats", "events"),
)
def stats_diff_in_diff(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "post"
        ),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    cells = ev.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(sum(y) * 10000 div count(*) AS BIGINT)").alias(
            "rate_e4"
        ),
    )

    def cell(t, p, col):
        return F.sum(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        ).cast("long")

    return cells.agg(
        cell(True, False, "n").alias("n_treat_pre"),
        cell(True, True, "n").alias("n_treat_post"),
        cell(False, False, "n").alias("n_ctrl_pre"),
        cell(False, True, "n").alias("n_ctrl_post"),
        cell(True, False, "rate_e4").alias("rate_treat_pre_e4"),
        cell(True, True, "rate_e4").alias("rate_treat_post_e4"),
        cell(False, False, "rate_e4").alias("rate_ctrl_pre_e4"),
        cell(False, True, "rate_e4").alias("rate_ctrl_post_e4"),
        (
            (cell(True, True, "rate_e4") - cell(True, False, "rate_e4"))
            - (cell(False, True, "rate_e4") - cell(False, False, "rate_e4"))
        )
        .cast("long")
        .alias("did_e4"),
    )


@register(
    "stats_ks_two_sample",
    oracle="""
WITH o AS (
  SELECT CAST(o_totalprice * 100 AS BIGINT) AS cents,
         o_custkey % 2 = 0 AS g1
  FROM orders
), lvl AS (
  SELECT cents,
         sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS c1,
         count(*) AS ct
  FROM o GROUP BY cents
), tot AS (
  SELECT sum(c1) AS n1, sum(ct) AS n FROM lvl
), cum AS (
  SELECT cents,
         sum(c1) OVER (ORDER BY cents) AS cum1,
         sum(ct) OVER (ORDER BY cents) AS cumt
  FROM lvl
), d AS (
  SELECT cents,
         abs(CAST(cum1 AS DOUBLE) / n1
             - CAST(cumt - cum1 AS DOUBLE) / (n - n1)) AS dd
  FROM cum CROSS JOIN tot
), mx AS (
  SELECT max(dd) AS mxd FROM d
)
SELECT CAST(tot.n1 AS BIGINT) AS n1,
       CAST(tot.n - tot.n1 AS BIGINT) AS n2,
       CAST(floor(mx.mxd * 1000000) AS BIGINT) AS ks_e6,
       (SELECT min(cents) FROM d WHERE d.dd = mx.mxd) AS ks_at_cents,
       CAST(floor(1.35810 * sqrt(CAST(tot.n AS DOUBLE)
            / (CAST(tot.n1 AS DOUBLE) * (tot.n - tot.n1)))
            * 1000000) AS BIGINT) AS crit_e6,
       CAST(mx.mxd > 1.35810 * sqrt(CAST(tot.n AS DOUBLE)
            / (CAST(tot.n1 AS DOUBLE) * (tot.n - tot.n1))) AS BOOLEAN)
         AS reject_h0
FROM tot CROSS JOIN mx
""",
    doc="Two-sample Kolmogorov-Smirnov test between the order-value "
    "distributions of the two assignment arms (even/odd custkey) — the "
    "standard drift / A-A distribution check that SRM counting "
    "(events_ab_assignment_srm_check) cannot see: equal arm sizes can "
    "still hide a shifted metric distribution. D = max over pooled "
    "value levels of |F1(v) - F2(v)| computed EXACTLY: per-level "
    "counts are one hash aggregation, the two running counts come from "
    "the two-phase exact-global-order operator (partitioned windows + "
    "broadcast bucket offsets, sharing one cut-point job — zero "
    "unpartitioned WindowExec), and ECDF evaluation at the top edge of "
    "each tie group falls out of value-level grouping. The ratio "
    "arithmetic is IEEE DOUBLE with identical expression structure on "
    "both engines, floored to e6 once at the end; the rejection "
    "threshold is Smirnov's asymptotic c(0.05)=1.3581 * "
    "sqrt(n/(n1*n2)), computed in DOUBLE so no integer product of two "
    "sample sizes can overflow. At 100 TB: two shuffles bounded by "
    "|distinct cents| and a broadcast of 1-row totals.",
    tags=("analytics", "stats"),
)
def stats_ks_two_sample(spark, sf_dir):
    from ..operators.ranking import approx_cut_points, with_exact_global_order

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(o_totalprice * 100 AS BIGINT)").alias("cents"),
        (F.col("o_custkey") % 2 == 0).alias("g1"),
    )
    lvl = o.groupBy("cents").agg(
        F.sum(F.col("g1").cast("long")).alias("c1"),
        F.count("*").alias("ct"),
    )
    cuts = approx_cut_points(lvl, "cents", 64)
    # both running sums share ONE bucket+window+offsets pass (r10: the
    # old two sequential calls ran the whole ranking machinery twice
    # over the same total order for values identical by construction)
    cum = with_exact_global_order(
        lvl,
        [("cents", True)],
        rank_name="_rk1",
        cumsum_of=["c1", "ct"],
        cumsum_name=["cum1", "cumt"],
        cuts=cuts,
    ).drop("_rk1")
    tot = lvl.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("ct").cast("long").alias("n"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        "n1",
        "n",
        F.abs(
            F.col("cum1").cast("double") / F.col("n1")
            - (F.col("cumt") - F.col("cum1")).cast("double")
            / (F.col("n") - F.col("n1"))
        ).alias("dd"),
    )
    mx = d.agg(F.max("dd").alias("mxd"))
    at = (
        d.crossJoin(F.broadcast(mx))
        .where(F.col("dd") == F.col("mxd"))
        .agg(F.min("cents").alias("ks_at_cents"))
    )
    crit = (
        F.lit(1.35810)
        * F.sqrt(
            F.col("n").cast("double")
            / (F.col("n1").cast("double") * (F.col("n") - F.col("n1")))
        )
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("n1"),
            (F.col("n") - F.col("n1")).cast("long").alias("n2"),
            F.floor(F.col("mxd") * 1000000).cast("long").alias("ks_e6"),
            F.col("ks_at_cents"),
            F.floor(crit * 1000000).cast("long").alias("crit_e6"),
            (F.col("mxd") > crit).alias("reject_h0"),
        )
    )


# Benjamini-Hochberg step-up critical values for m=25 simultaneous two-sided
# z-tests at FDR alpha=0.05: crit_i = floor(Phi^-1(1 - (i*0.05/25)/2) * 1e6),
# i.e. the |z| that corresponds to the BH boundary p_(i) <= i*alpha/m.
# Burned in (stdlib statistics.NormalDist().inv_cdf) because neither engine
# ships an inverse normal CDF; p <= i*alpha/m  <=>  |z| >= crit_i since the
# two-sided p-value is strictly decreasing in |z|.
_BH_CRIT_E6 = [
    (1, 3090232), (2, 2878161), (3, 2747781), (4, 2652069), (5, 2575829),
    (6, 2512144), (7, 2457263), (8, 2408915), (9, 2365618), (10, 2326347),
    (11, 2290367), (12, 2257129), (13, 2226211), (14, 2197286),
    (15, 2170090), (16, 2144410), (17, 2120071), (18, 2096927),
    (19, 2074854), (20, 2053748), (21, 2033520), (22, 2014090),
    (23, 1995393), (24, 1977368), (25, 1959963),
]
_BH_CRIT_SQL = ", ".join(f"({i}, {c})" for i, c in _BH_CRIT_E6)


@register(
    "stats_fdr_bh_correction",
    oracle=f"""
WITH cells AS (
  SELECT c.c_nationkey AS nationkey,
         count(*) AS n,
         sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS k
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
), tot AS (
  SELECT sum(n) AS nn, sum(k) AS kk FROM cells
), z AS (
  SELECT nationkey, n, k,
         CAST(k * 1000000 // n AS BIGINT) AS rate_e6,
         CAST(floor(abs(
           (CAST(k AS DOUBLE) / n - CAST(kk AS DOUBLE) / nn)
           / sqrt((CAST(kk AS DOUBLE) / nn) * (1.0 - CAST(kk AS DOUBLE) / nn)
                  / n)) * 1000000) AS BIGINT) AS absz_e6
  FROM cells CROSS JOIN tot
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY absz_e6 DESC, nationkey) AS rk
  FROM z
), crit(rk, crit_e6) AS (VALUES {{BH}}),
flagged AS (
  SELECT ranked.*, crit.crit_e6,
         ranked.absz_e6 >= crit.crit_e6 AS passes
  FROM ranked JOIN crit USING (rk)
), istar AS (
  SELECT coalesce(max(CASE WHEN passes THEN rk END), 0) AS cutoff
  FROM flagged
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       CAST(n AS BIGINT) AS n_orders,
       CAST(k AS BIGINT) AS n_high,
       rate_e6, absz_e6,
       CAST(rk AS BIGINT) AS z_rank,
       CAST(crit_e6 AS BIGINT) AS crit_e6,
       rk <= cutoff AS discovered
FROM flagged CROSS JOIN istar
""".replace("{BH}", _BH_CRIT_SQL),
    doc="Benjamini-Hochberg FDR correction (Benjamini & Hochberg 1995) over "
    "25 simultaneous per-nation proportion tests — the multiple-testing "
    "gate every metrics platform needs before declaring per-segment "
    "winners: each nation's high-priority order rate is z-tested against "
    "the pooled rate, and the BH step-up rule admits the largest rank i "
    "whose ordered statistic clears the i*alpha/m boundary (everything "
    "ranked above is discovered with it). The inverse-normal boundary "
    "values are burned-in e6 constants from their defining formula "
    "Phi^-1(1-(i*alpha/m)/2), so the monotone p-value comparison becomes "
    "an exact integer compare on floor(|z|*1e6); z itself is IEEE DOUBLE "
    "with identical expression structure on both engines. The scan "
    "aggregates to 25 cells in one fact-side shuffle; ranking those 25 "
    "rows is a window over a broadcast-sized relation joined to the "
    "25-row critical table — at 100 TB the plan is one aggregation plus "
    "constant-size post-processing.",
    tags=("analytics", "stats"),
)
def stats_fdr_bh_correction(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.col("o_orderpriority")
                .isin("1-URGENT", "2-HIGH")
                .cast("long")
            ).alias("k"),
        )
    )
    tot = cells.agg(F.sum("n").alias("nn"), F.sum("k").alias("kk"))
    p0 = F.col("kk").cast("double") / F.col("nn")
    z = cells.crossJoin(F.broadcast(tot)).select(
        "nationkey",
        "n",
        "k",
        F.expr("CAST(k * 1000000 div n AS BIGINT)").alias("rate_e6"),
        F.floor(
            F.abs(
                (F.col("k").cast("double") / F.col("n") - p0)
                / F.sqrt(p0 * (F.lit(1.0) - p0) / F.col("n"))
            )
            * 1000000
        )
        .cast("long")
        .alias("absz_e6"),
    )
    # 25-row relation: the rank window is partitioned by a constant-true
    # bucket of broadcast size, which is the documented exception to the
    # no-global-window rule only when cardinality is schema-bounded; keep
    # it join-based anyway to preserve the zero-unpartitioned-window
    # invariant registry-wide.
    a, b = z.alias("a"), z.alias("b")
    ranked = (
        a.join(
            b,
            (F.col("b.absz_e6") > F.col("a.absz_e6"))
            | (
                (F.col("b.absz_e6") == F.col("a.absz_e6"))
                & (F.col("b.nationkey") < F.col("a.nationkey"))
            ),
            "left",
        )
        .groupBy(
            F.col("a.nationkey").alias("nationkey"),
            F.col("a.n").alias("n"),
            F.col("a.k").alias("k"),
            F.col("a.rate_e6").alias("rate_e6"),
            F.col("a.absz_e6").alias("absz_e6"),
        )
        .agg((F.count(F.col("b.nationkey")) + 1).cast("long").alias("rk"))
    )
    crit = spark.createDataFrame(_BH_CRIT_E6, "rk long, crit_e6 long")
    flagged = ranked.join(F.broadcast(crit), "rk").withColumn(
        "passes", F.col("absz_e6") >= F.col("crit_e6")
    )
    istar = flagged.agg(
        F.coalesce(
            F.max(F.when(F.col("passes"), F.col("rk"))), F.lit(0)
        ).alias("cutoff")
    )
    return flagged.crossJoin(F.broadcast(istar)).select(
        F.col("nationkey").cast("long").alias("nationkey"),
        F.col("n").cast("long").alias("n_orders"),
        F.col("k").cast("long").alias("n_high"),
        "rate_e6",
        "absz_e6",
        F.col("rk").alias("z_rank"),
        F.col("crit_e6"),
        (F.col("rk") <= F.col("cutoff")).alias("discovered"),
    )


@register(
    "stats_acf_monthly_revenue",
    oracle="""
WITH m AS MATERIALIZED (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS mrk,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), st AS (
  SELECT count(*) AS n,
         CAST(sum(cents) // count(*) AS BIGINT) AS mean_c,
         greatest(1, CAST(sum(cents) // count(*) AS BIGINT) // 10000) AS s
  FROM m
), d AS (
  SELECT mrk,
         CAST(CASE WHEN cents >= mean_c
              THEN (cents - mean_c) // s
              ELSE -((mean_c - cents) // s) END AS BIGINT) AS dev
  FROM m CROSS JOIN st
), den AS (
  SELECT sum(dev * dev) AS denom FROM d
), lags(lag) AS (VALUES (1), (2), (3), (4), (5), (6)),
num AS (
  SELECT lag,
         count(*) AS n_pairs,
         sum(a.dev * b.dev) AS num
  FROM lags JOIN d a ON TRUE JOIN d b ON b.mrk = a.mrk - lag
  GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(CASE WHEN num >= 0 THEN num * 1000000 // denom
            ELSE -((-num) * 1000000 // denom) END AS BIGINT) AS acf_e6,
       CASE WHEN num >= 0
            THEN (num * 1000000 // denom) * (num * 1000000 // denom)
            ELSE ((-num) * 1000000 // denom) * ((-num) * 1000000 // denom)
       END * (SELECT n FROM st) > 4000000000000 AS beyond_white_noise
FROM num CROSS JOIN den
""",
    doc="Sample autocorrelation function (lags 1-6) of the monthly revenue "
    "series with the 2/sqrt(n) white-noise band — the first diagnostic "
    "a forecasting pipeline runs (seasonality shows as a spike at the "
    "seasonal lag, trend as slow decay). The series is the calendar-"
    "bounded month aggregate, so lags are absolute-month-index equi-"
    "joins (no rank, no window of any kind); deviations are quantized "
    "to 1e-4 of the series mean (sign-split integer division so Spark "
    "div and DuckDB // agree on negatives) which keeps every product "
    "within int64 at ANY scale factor — devs are scale-free multiples "
    "of 1e4, so sum(dev*dev) <= n * 1e10-ish regardless of revenue "
    "magnitude — while costing only ~2e-4 relative quantization in the "
    "e6 ACF output. The white-noise flag |r| > 2/sqrt(n) is the exact "
    "integer comparison r_e6^2 * n > 4e12. One fact-table aggregation; "
    "everything after runs at month-count scale.",
    tags=("analytics", "stats", "timeseries"),
)
def stats_acf_monthly_revenue(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mrk")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("cents")
    )
    st = m.agg(
        F.count("*").alias("n"),
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("mean_c"),
        F.expr(
            "greatest(CAST(1 AS BIGINT),"
            " CAST(sum(cents) div count(*) AS BIGINT) div 10000)"
        ).alias("s"),
    )
    d = m.crossJoin(F.broadcast(st)).select(
        "mrk",
        F.expr(
            "CAST(CASE WHEN cents >= mean_c"
            " THEN (cents - mean_c) div s"
            " ELSE -((mean_c - cents) div s) END AS BIGINT)"
        ).alias("dev"),
        "n",
    )
    den = d.agg(
        F.sum(F.col("dev") * F.col("dev")).alias("denom"),
        F.any_value("n").alias("n"),
    )
    lags = spark.range(1, 7).select(F.col("id").alias("lag"))
    a, b = d.alias("a"), d.alias("b")
    num = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(b, F.col("b.mrk") == F.col("a.mrk") - F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("a.dev") * F.col("b.dev")).alias("num"),
        )
    )
    r = F.expr(
        "CASE WHEN num >= 0 THEN num * 1000000 div denom"
        " ELSE -((-num) * 1000000 div denom) END"
    )
    rabs = F.expr(
        "CASE WHEN num >= 0 THEN num * 1000000 div denom"
        " ELSE (-num) * 1000000 div denom END"
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        r.cast("long").alias("acf_e6"),
        (rabs * rabs * F.col("n") > F.lit(4000000000000)).alias(
            "beyond_white_noise"
        ),
    )


@register(
    "stats_cramers_v",
    oracle="""
WITH obs AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS o
  FROM orders GROUP BY 1, 2
), rt AS (SELECT s, sum(o) AS row_tot FROM obs GROUP BY s),
ct AS (SELECT p, sum(o) AS col_tot FROM obs GROUP BY p),
n AS (SELECT sum(o) AS tot FROM obs),
terms AS (
  SELECT CAST(floor(
           (obs.o - CAST(rt.row_tot AS DOUBLE) * ct.col_tot / n.tot)
           * (obs.o - CAST(rt.row_tot AS DOUBLE) * ct.col_tot / n.tot)
           / (CAST(rt.row_tot AS DOUBLE) * ct.col_tot / n.tot) * 10000)
         AS BIGINT) AS term_e4
  FROM obs JOIN rt ON obs.s = rt.s JOIN ct ON obs.p = ct.p CROSS JOIN n
), dims AS (
  SELECT count(DISTINCT s) AS r, count(DISTINCT p) AS c FROM obs
)
SELECT CAST((SELECT tot FROM n) AS BIGINT) AS n_obs,
       CAST(dims.r AS BIGINT) AS n_rows,
       CAST(dims.c AS BIGINT) AS n_cols,
       CAST(sum(term_e4) AS BIGINT) AS chi2_e4,
       CAST(floor(sqrt(CAST(sum(term_e4) AS DOUBLE) / 10000
            / ((SELECT tot FROM n)
               * least(dims.r - 1, dims.c - 1))) * 1000000) AS BIGINT)
         AS cramers_v_e6
FROM terms CROSS JOIN dims
GROUP BY dims.r, dims.c
""",
    doc="Cramer's V effect size for the order-status x priority "
    "association — the companion to stats_chi2_independence that a "
    "feature-selection pass actually ranks by (chi2 alone grows with N; "
    "V = sqrt(chi2 / (N * min(r-1, c-1))) is the [0,1] normalized "
    "strength). Per-cell chi2 terms are the same IEEE-DOUBLE expression "
    "as the chi2 query, floored to e4 integers BEFORE the total so the "
    "sum is an exact integer in both engines (a DOUBLE total would "
    "depend on summation order); the final sqrt maps one exact integer "
    "through one deterministic libm call. Contingency cells come from "
    "one fact aggregation; everything else is |cells|-scale.",
    tags=("analytics", "stats"),
)
def stats_cramers_v(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count("*").alias("o"))
    rt = obs.groupBy("s").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("p").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(F.sum("o").alias("tot"))
    dims = obs.agg(
        F.countDistinct("s").alias("r"), F.countDistinct("p").alias("c")
    )
    terms = (
        obs.join(F.broadcast(rt), "s")
        .join(F.broadcast(ct), "p")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "CAST(floor("
                "(o - CAST(row_tot AS DOUBLE) * col_tot / tot)"
                " * (o - CAST(row_tot AS DOUBLE) * col_tot / tot)"
                " / (CAST(row_tot AS DOUBLE) * col_tot / tot) * 10000)"
                " AS BIGINT)"
            ).alias("term_e4"),
            F.col("tot"),
        )
    )
    return (
        terms.groupBy("tot")
        .agg(F.sum("term_e4").cast("long").alias("chi2_e4"))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("tot").cast("long").alias("n_obs"),
            F.col("r").cast("long").alias("n_rows"),
            F.col("c").cast("long").alias("n_cols"),
            F.col("chi2_e4"),
            F.floor(
                F.sqrt(
                    F.col("chi2_e4").cast("double")
                    / 10000
                    / (
                        F.col("tot")
                        * F.least(F.col("r") - 1, F.col("c") - 1)
                    )
                )
                * 1000000
            )
            .cast("long")
            .alias("cramers_v_e6"),
        )
    )


@register(
    "stats_mann_kendall_sen",
    oracle="""
WITH m AS MATERIALIZED (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS mrk,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), pairs AS MATERIALIZED (
  SELECT a.mrk AS ma, b.mrk AS mb,
         CASE WHEN b.cents > a.cents THEN 1
              WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn,
         CASE WHEN b.cents >= a.cents
              THEN (b.cents - a.cents) * 100 // (b.mrk - a.mrk)
              ELSE -((a.cents - b.cents) * 100 // (b.mrk - a.mrk)) END
           AS slope_e2
  FROM m a JOIN m b ON b.mrk > a.mrk
), s AS (
  SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
         count(*) AS n_pairs FROM pairs
), nn AS (SELECT count(*) AS n FROM m),
ties AS (
  SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_sum
  FROM (SELECT count(*) AS t FROM m GROUP BY cents HAVING count(*) > 1)
), var18 AS (
  SELECT CAST(n * (n - 1) * (2 * n + 5) - tie_sum AS BIGINT) AS varnum
  FROM nn CROSS JOIN ties
), med AS (
  SELECT slope_e2 AS sen_slope_e2
  FROM (SELECT slope_e2,
               row_number() OVER (ORDER BY slope_e2, ma, mb) AS rk
        FROM pairs) r CROSS JOIN s
  WHERE rk = (n_pairs + 1) // 2
)
SELECT CAST(nn.n AS BIGINT) AS n_months,
       CAST(s.n_pairs AS BIGINT) AS n_pairs,
       s.s_stat,
       var18.varnum AS var_num18,
       CAST(CASE WHEN s.s_stat = 0 THEN 0
            ELSE CASE WHEN s.s_stat > 0 THEN 1 ELSE -1 END
                 * CAST(floor((abs(s.s_stat) - 1)
                   / sqrt(var18.varnum / 18.0) * 1000000) AS BIGINT)
            END AS BIGINT) AS z_e6,
       CASE WHEN s.s_stat = 0 THEN FALSE
            ELSE floor((abs(s.s_stat) - 1)
                 / sqrt(var18.varnum / 18.0) * 1000000) > 1959963
       END AS significant_trend,
       med.sen_slope_e2
FROM nn CROSS JOIN s CROSS JOIN var18 CROSS JOIN med
""",
    doc="Mann-Kendall nonparametric trend test with Sen's slope over the "
    "monthly revenue series — the robust is-there-a-trend check that "
    "does not assume normal residuals (Mann 1945, Kendall 1975; Sen "
    "1968). S = sum of pairwise sign comparisons over the calendar-"
    "bounded month table (a theta self-join of ~n^2/2 pairs where n = "
    "months, bounded by calendar grain, NOT data volume); variance "
    "carries the exact tie correction [n(n-1)(2n+5) - sum t(t-1)(2t+5)]"
    "/18 as an integer numerator; z uses the continuity correction "
    "(|S|-1)/sigma floored to e6 with the 1.959964 two-sided 5% "
    "boundary as an integer compare. Sen's slope is the EXACT lower "
    "median of pairwise slopes (quantized to cents-per-month e2 with "
    "sign-split division so Spark div and DuckDB // agree), ranked by "
    "the two-phase exact-global-order operator — no unpartitioned "
    "window. One fact aggregation; all pair math runs at month-pair "
    "scale.",
    tags=("analytics", "stats", "timeseries"),
)
def stats_mann_kendall_sen(spark, sf_dir):
    from ..operators.ranking import with_exact_global_order

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mrk")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("cents")
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(b, F.col("b.mrk") > F.col("a.mrk")).select(
        F.col("a.mrk").alias("ma"),
        F.col("b.mrk").alias("mb"),
        F.expr(
            "CASE WHEN b.cents > a.cents THEN 1"
            " WHEN b.cents < a.cents THEN -1 ELSE 0 END"
        ).alias("sgn"),
        F.expr(
            "CASE WHEN b.cents >= a.cents"
            " THEN (b.cents - a.cents) * 100 div (b.mrk - a.mrk)"
            " ELSE -((a.cents - b.cents) * 100 div (b.mrk - a.mrk)) END"
        ).alias("slope_e2"),
    )
    s = pairs.agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count("*").alias("n_pairs"),
    )
    nn = m.agg(F.count("*").alias("n"))
    ties = (
        m.groupBy("cents")
        .agg(F.count("*").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_sum")
        )
    )
    var18 = (
        nn.crossJoin(F.broadcast(ties))
        .select(
            F.expr(
                "CAST(n * (n - 1) * (2 * n + 5) - tie_sum AS BIGINT)"
            ).alias("varnum"),
            "n",
        )
    )
    ranked = with_exact_global_order(
        pairs, [("slope_e2", True), ("ma", True), ("mb", True)],
        rank_name="rk",
    )
    med = (
        ranked.crossJoin(F.broadcast(s))
        .where(F.expr("rk = (n_pairs + 1) div 2"))
        .select(F.col("slope_e2").alias("sen_slope_e2"))
    )
    absz = F.expr(
        "floor((abs(s_stat) - 1) / sqrt(varnum / 18.0) * 1000000)"
    )
    return (
        var18.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("n").cast("long").alias("n_months"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("s_stat"),
            F.col("varnum").alias("var_num18"),
            F.expr(
                "CAST(CASE WHEN s_stat = 0 THEN 0"
                " ELSE CASE WHEN s_stat > 0 THEN 1 ELSE -1 END"
                " * CAST(floor((abs(s_stat) - 1)"
                " / sqrt(varnum / 18.0) * 1000000) AS BIGINT)"
                " END AS BIGINT)"
            ).alias("z_e6"),
            F.expr(
                "CASE WHEN s_stat = 0 THEN FALSE"
                " ELSE floor((abs(s_stat) - 1)"
                " / sqrt(varnum / 18.0) * 1000000) > 1959963 END"
            ).alias("significant_trend"),
            F.col("sen_slope_e2"),
        )
    )


@register(
    "geo_grid_neighbor_pairs",
    oracle="""
WITH pts AS MATERIALIZED (
  SELECT c_custkey AS id,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000000 AS x_u,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8))
              AS BIGINT) % 1000000 AS y_u
  FROM customer
), cells AS (
  SELECT id, x_u, y_u, x_u // 10000 AS cx, y_u // 10000 AS cy FROM pts
), cand AS (
  SELECT a.id AS id1, b.id AS id2,
         (a.x_u - b.x_u) * (a.x_u - b.x_u)
         + (a.y_u - b.y_u) * (a.y_u - b.y_u) AS d2
  FROM cells a
  JOIN (SELECT unnest([-1, 0, 1]) AS dx) dxs ON TRUE
  JOIN (SELECT unnest([-1, 0, 1]) AS dys) dys ON TRUE
  JOIN cells b
    ON b.cx = a.cx + dxs.dx AND b.cy = a.cy + dys.dys AND b.id > a.id
), within AS (
  SELECT * FROM cand WHERE d2 <= 100000000
), closest AS (
  SELECT d2, id1, id2,
         row_number() OVER (ORDER BY d2, id1, id2) AS rk
  FROM within
)
SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_points,
       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidate_pairs,
       CAST((SELECT count(*) FROM within) AS BIGINT) AS n_within_radius,
       CAST((SELECT min(d2) FROM within) AS BIGINT) AS closest_d2,
       CAST((SELECT id1 FROM closest WHERE rk = 1) AS BIGINT)
         AS closest_id1,
       CAST((SELECT id2 FROM closest WHERE rk = 1) AS BIGINT)
         AS closest_id2
""",
    doc="Spatial self-join via grid-cell blocking — the distance-join "
    "pattern (geohash / S2-cell bucketing) that makes proximity queries "
    "feasible at scale: every point lands in one 10k-unit grid cell, "
    "candidate pairs come ONLY from the 3x3 neighborhood equi-join "
    "(cell ids are join keys, so Catalyst plans a plain shuffled hash "
    "join — never an all-pairs cross product), and the exact distance "
    "predicate prunes candidates to true neighbors. Coordinates are "
    "md5-derived micro-degree integers (planar approximation), so d^2 "
    "is exact int64 arithmetic — no trig, no floating-point boundary "
    "flips on the radius predicate. The radius (10k units) equals the "
    "cell size, so the 3x3 stencil is provably complete. Reports "
    "candidate-vs-confirmed counts (the blocking selectivity a tuner "
    "watches) plus the single closest pair via min-aggregation. At "
    "100 TB: one shuffle on cell id with a 9x stencil fan-out — the "
    "standard near-duplicate-location shape.",
    tags=("analytics", "geo", "join"),
)
def geo_grid_neighbor_pairs(spark, sf_dir):
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (
            F.conv(
                F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 1000000
        ).alias("x_u"),
        (
            F.conv(
                F.substring(F.md5(F.col("c_custkey").cast("string")), 9, 8),
                16,
                10,
            ).cast("bigint")
            % 1000000
        ).alias("y_u"),
    )
    cells = pts.select(
        "id",
        "x_u",
        "y_u",
        F.expr("x_u div 10000").alias("cx"),
        F.expr("y_u div 10000").alias("cy"),
    )
    stencil = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    a = cells.alias("a")
    b = cells.alias("b")
    cand = (
        a.join(F.broadcast(stencil))
        .join(
            b,
            (F.col("b.cx") == F.col("a.cx") + F.col("dx"))
            & (F.col("b.cy") == F.col("a.cy") + F.col("dy"))
            & (F.col("b.id") > F.col("a.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            (
                (F.col("a.x_u") - F.col("b.x_u"))
                * (F.col("a.x_u") - F.col("b.x_u"))
                + (F.col("a.y_u") - F.col("b.y_u"))
                * (F.col("a.y_u") - F.col("b.y_u"))
            ).alias("d2"),
        )
    )
    within = cand.where(F.col("d2") <= 100000000)
    n_pts = pts.agg(F.count("*").cast("long").alias("n_points"))
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidate_pairs"))
    closest = within.agg(
        F.count("*").cast("long").alias("n_within_radius"),
        F.min("d2").cast("long").alias("closest_d2"),
        F.min_by(
            F.struct("id1", "id2"), F.struct("d2", "id1", "id2")
        ).alias("cp"),
    )
    return (
        n_pts.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(closest))
        .select(
            "n_points",
            "n_candidate_pairs",
            "n_within_radius",
            "closest_d2",
            F.col("cp.id1").cast("long").alias("closest_id1"),
            F.col("cp.id2").cast("long").alias("closest_id2"),
        )
    )


@register(
    "events_position_based_attribution",
    oracle="""
WITH ord AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
         CAST(round(value * 100) AS BIGINT) AS cents,
         count(*) FILTER (WHERE event_type = 'purchase') OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_p
  FROM events
), conv AS (
  SELECT user_id, prior_p + 1 AS conv_idx, event_id AS conv_id, cents
  FROM ord WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, prior_p + 1 AS conv_idx, event_type, t, event_id,
         row_number() OVER (PARTITION BY user_id, prior_p
                            ORDER BY t, event_id) AS pos,
         count(*) OVER (PARTITION BY user_id, prior_p) AS m
  FROM ord WHERE event_type <> 'purchase'
), credited AS (
  SELECT t.event_type,
         t.pos = 1 AS is_first,
         t.pos = t.m AS is_last,
         CASE WHEN t.m = 1 THEN 10000
              WHEN t.m = 2 THEN 5000
              WHEN t.pos = 1 OR t.pos = t.m THEN 4000
              ELSE 2000 // (t.m - 2) END AS bp,
         c.cents
  FROM touch t JOIN conv c
    ON t.user_id = c.user_id AND t.conv_idx = c.conv_idx
)
SELECT event_type AS touch_type,
       CAST(count(*) AS BIGINT) AS n_credited_touches,
       CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
         AS n_as_first,
       CAST(sum(CASE WHEN is_last THEN 1 ELSE 0 END) AS BIGINT)
         AS n_as_last,
       CAST(sum(bp) AS BIGINT) AS credited_bp_total,
       CAST(sum(cents * bp // 10000) AS BIGINT) AS credited_cents
FROM credited GROUP BY event_type
""",
    doc="Position-based (U-shaped 40/20/40) multi-touch attribution — the "
    "multi-touch model that fixes last-touch's blind spot by crediting "
    "discovery AND closing touches: each purchase's path is every "
    "non-purchase touch since the user's previous purchase, first and "
    "last touches get 4000 basis points each, middle touches split the "
    "remaining 2000 evenly (integer floor per touch, documented "
    "remainder drop; 1-touch and 2-touch paths degenerate to 100%% and "
    "50/50). Path segmentation is a running purchase count over the "
    "user-partitioned event order (no self-join to find segment "
    "boundaries), position/size are windows over the same partition, "
    "and the only join is touches-to-their-conversion on (user, "
    "purchase index) — shuffle bounded by event count on the user key. "
    "Touches after a user's final purchase are unconverted and drop "
    "out of the inner join, matching the attribution contract. Credits "
    "are exact integer basis points and floor-divided cents, identical "
    "in both engines.",
    tags=("events", "analytics", "attribution"),
)
def events_position_based_attribution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    wp = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ord_ = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        "ts",
        F.coalesce(
            F.count(
                F.when(F.col("event_type") == "purchase", F.lit(1))
            ).over(wp),
            F.lit(0),
        ).alias("prior_p"),
    )
    conv = ord_.where(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("prior_p") + 1).alias("conv_idx"),
        "cents",
    )
    wseg = W.partitionBy("user_id", "prior_p").orderBy("ts", "event_id")
    wcnt = W.partitionBy("user_id", "prior_p")
    touch = ord_.where(F.col("event_type") != "purchase").select(
        "user_id",
        (F.col("prior_p") + 1).alias("conv_idx"),
        "event_type",
        F.row_number().over(wseg).alias("pos"),
        F.count("*").over(wcnt).alias("m"),
    )
    credited = touch.join(conv, ["user_id", "conv_idx"]).select(
        "event_type",
        (F.col("pos") == 1).alias("is_first"),
        (F.col("pos") == F.col("m")).alias("is_last"),
        F.expr(
            "CASE WHEN m = 1 THEN 10000 WHEN m = 2 THEN 5000"
            " WHEN pos = 1 OR pos = m THEN 4000"
            " ELSE 2000 div (m - 2) END"
        ).alias("bp"),
        "cents",
    )
    return credited.groupBy(
        F.col("event_type").alias("touch_type")
    ).agg(
        F.count("*").cast("long").alias("n_credited_touches"),
        F.sum(F.col("is_first").cast("long")).cast("long").alias("n_as_first"),
        F.sum(F.col("is_last").cast("long")).cast("long").alias("n_as_last"),
        F.sum("bp").cast("long").alias("credited_bp_total"),
        F.sum(F.expr("cents * bp div 10000")).cast("long").alias(
            "credited_cents"
        ),
    )


@register(
    "ml_decision_tree_split",
    oracle="""
WITH b AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS bucket,
         count(*) AS n,
         sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS k
  FROM orders GROUP BY 1
), cum AS (
  SELECT bucket,
         sum(n) OVER (ORDER BY bucket) AS nl,
         sum(k) OVER (ORDER BY bucket) AS kl
  FROM b
), tot AS (
  SELECT sum(n) AS nn, sum(k) AS kk FROM b
), scored AS (
  SELECT bucket, nl, kl, nn - nl AS nr, kk - kl AS kr,
         CASE WHEN nl < nn THEN
           CAST(floor((CAST(kl AS DOUBLE) * kl / nl
               + CAST(nl - kl AS DOUBLE) * (nl - kl) / nl
               + CAST(kk - kl AS DOUBLE) * (kk - kl) / (nn - nl)
               + CAST((nn - nl) - (kk - kl) AS DOUBLE)
                 * ((nn - nl) - (kk - kl)) / (nn - nl)) * 1000000
               / nn) AS BIGINT) END AS purity_e6
  FROM cum CROSS JOIN tot WHERE nl < nn
), best AS (
  SELECT max(purity_e6) AS best_purity FROM scored
), pick AS (
  SELECT min(bucket) AS best_bucket FROM scored, best
  WHERE purity_e6 = best_purity
)
SELECT CAST(tot.nn AS BIGINT) AS n_total,
       CAST(tot.kk AS BIGINT) AS k_total,
       CAST(floor((1.0 - (CAST(tot.kk AS DOUBLE) * tot.kk
            + CAST(tot.nn - tot.kk AS DOUBLE) * (tot.nn - tot.kk))
            / (CAST(tot.nn AS DOUBLE) * tot.nn)) * 1000000) AS BIGINT)
         AS parent_gini_e6,
       CAST((pick.best_bucket + 1) * 10000 AS BIGINT) AS split_cents,
       CAST(s.nl AS BIGINT) AS n_left,
       CAST(s.kl AS BIGINT) AS k_left,
       CAST(s.nr AS BIGINT) AS n_right,
       CAST(s.kr AS BIGINT) AS k_right,
       CAST(1000000 - s.purity_e6 AS BIGINT) AS weighted_gini_e6
FROM pick JOIN scored s ON s.bucket = pick.best_bucket
CROSS JOIN tot CROSS JOIN best
""",
    doc="CART best-split search (Breiman et al. 1984) — the inner loop of "
    "decision-tree training as a set-oriented plan: find the price "
    "threshold that minimizes weighted Gini impurity of the "
    "high-priority label. Candidates are $100 price buckets (bounded "
    "by the price domain, not row count); left/right class counts for "
    "EVERY candidate come from one cumulative pass via the two-phase "
    "exact-global-order operator (cumsum of n and k share one "
    "cut-point job — no unpartitioned window); minimizing weighted "
    "Gini is equivalent to maximizing sum_side sum_class k^2/n, "
    "computed once per candidate in IEEE DOUBLE with identical "
    "structure on both engines and floored to e6 (normalized by N so "
    "the score is scale-free). Argmax ties break to the smallest "
    "split. At 100 TB: one fact aggregation to bucket grain, then "
    "bucket-scale post-processing — the reason tree libraries "
    "pre-bin features (LightGBM histograms) and exactly that shape "
    "in Spark terms.",
    tags=("analytics", "ml"),
)
def ml_decision_tree_split(spark, sf_dir):
    from ..operators.ranking import approx_cut_points, with_exact_global_order

    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy(
        F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT) div 10000"
        ).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
        ).alias("k"),
    )
    cuts = approx_cut_points(b, "bucket", 64)
    # both running sums share ONE bucket+window+offsets pass (r10: the
    # old two sequential calls ran the whole ranking machinery twice
    # over the same total order for values identical by construction)
    cum = with_exact_global_order(
        b, [("bucket", True)], rank_name="_r1", cumsum_of=["n", "k"],
        cumsum_name=["nl", "kl"], cuts=cuts,
    ).drop("_r1")
    tot = b.agg(F.sum("n").alias("nn"), F.sum("k").alias("kk"))
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("nl") < F.col("nn"))
        .select(
            "bucket",
            "nl",
            "kl",
            (F.col("nn") - F.col("nl")).alias("nr"),
            (F.col("kk") - F.col("kl")).alias("kr"),
            F.expr(
                "CASE WHEN nl < nn THEN"
                " CAST(floor((CAST(kl AS DOUBLE) * kl / nl"
                " + CAST(nl - kl AS DOUBLE) * (nl - kl) / nl"
                " + CAST(kk - kl AS DOUBLE) * (kk - kl) / (nn - nl)"
                " + CAST((nn - nl) - (kk - kl) AS DOUBLE)"
                "   * ((nn - nl) - (kk - kl)) / (nn - nl)) * 1000000"
                " / nn) AS BIGINT) END"
            ).alias("purity_e6"),
            "nn",
            "kk",
        )
    )
    best = scored.agg(F.max("purity_e6").alias("best_purity"))
    pick = (
        scored.crossJoin(F.broadcast(best))
        .where(F.col("purity_e6") == F.col("best_purity"))
        .agg(F.min("bucket").alias("best_bucket"))
    )
    return (
        scored.crossJoin(F.broadcast(pick))
        .where(F.col("bucket") == F.col("best_bucket"))
        .select(
            F.col("nn").cast("long").alias("n_total"),
            F.col("kk").cast("long").alias("k_total"),
            F.expr(
                "CAST(floor((1.0 - (CAST(kk AS DOUBLE) * kk"
                " + CAST(nn - kk AS DOUBLE) * (nn - kk))"
                " / (CAST(nn AS DOUBLE) * nn)) * 1000000) AS BIGINT)"
            ).alias("parent_gini_e6"),
            F.expr("CAST((best_bucket + 1) * 10000 AS BIGINT)").alias(
                "split_cents"
            ),
            F.col("nl").cast("long").alias("n_left"),
            F.col("kl").cast("long").alias("k_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.col("kr").cast("long").alias("k_right"),
            F.expr("CAST(1000000 - purity_e6 AS BIGINT)").alias(
                "weighted_gini_e6"
            ),
        )
    )


@register(
    "stats_ab_power_sample_size",
    oracle="""
WITH u AS (
  SELECT count(DISTINCT user_id) AS n_users,
         count(DISTINCT CASE WHEN event_type = 'purchase'
                        THEN user_id END) AS n_conv
  FROM events
), daily AS (
  SELECT count(*) AS user_days, count(DISTINCT d) AS n_days
  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
), mde(mde_pct) AS (VALUES (5), (10), (15), (20)),
calc AS (
  SELECT mde_pct,
         CAST(n_conv AS DOUBLE) / n_users AS p1,
         CAST(n_conv AS DOUBLE) / n_users * (1.0 + mde_pct / 100.0) AS p2,
         user_days // n_days AS daily_users
  FROM mde CROSS JOIN u CROSS JOIN daily
)
SELECT CAST(mde_pct AS BIGINT) AS mde_pct,
       CAST(floor(p1 * 1000000) AS BIGINT) AS p_base_e6,
       CAST(floor(p2 * 1000000) AS BIGINT) AS p_target_e6,
       CAST(ceil((2.801585 * 2.801585)
            * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
            / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm,
       CAST(2 * ceil((2.801585 * 2.801585)
            * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
            / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_total,
       CAST(ceil(2.0 * ceil((2.801585 * 2.801585)
            * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
            / ((p2 - p1) * (p2 - p1))) / daily_users) AS BIGINT)
         AS est_days_to_run
FROM calc
""",
    doc="A/B-test power analysis — the sample-size calculator run BEFORE "
    "launching an experiment (the design-side complement to the "
    "SPRT/Welch/SRM analysis queries): for a grid of relative MDEs "
    "(5-20%) over the observed user-level conversion baseline, "
    "n per arm = ceil((z_0.975 + z_0.80)^2 * (p1(1-p1) + p2(1-p2)) / "
    "(p2-p1)^2), the classical two-proportion formula (Fleiss) with "
    "z_0.975 + z_0.80 = 1.959964 + 0.841621 = 2.801585 burned in from "
    "the inverse normal CDF, plus an estimated run length from "
    "observed daily active users. Baseline and traffic come from two "
    "distinct-aggregations over the fact stream (map-side combinable); "
    "the MDE grid is a 4-row inline relation — at 100 TB the plan is "
    "two scans and constant-size arithmetic, all IEEE DOUBLE with "
    "identical expression structure in both engines.",
    tags=("analytics", "stats", "events"),
)
def stats_ab_power_sample_size(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    u = ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_conv"),
    )
    daily = (
        ev.select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
        .agg(
            F.count("*").alias("user_days"),
            F.countDistinct("d").alias("n_days"),
        )
    )
    mde = spark.createDataFrame([(5,), (10,), (15,), (20,)], "mde_pct int")
    calc = (
        F.broadcast(mde)
        .crossJoin(F.broadcast(u))
        .crossJoin(F.broadcast(daily))
        .select(
            "mde_pct",
            F.expr("CAST(n_conv AS DOUBLE) / n_users").alias("p1"),
            F.expr(
                "CAST(n_conv AS DOUBLE) / n_users * (1.0 + mde_pct / 100.0)"
            ).alias("p2"),
            F.expr("user_days div n_days").alias("daily_users"),
        )
    )
    n_expr = (
        "ceil((2.801585 * 2.801585)"
        " * (p1 * (1.0 - p1) + p2 * (1.0 - p2))"
        " / ((p2 - p1) * (p2 - p1)))"
    )
    return calc.select(
        F.col("mde_pct").cast("long").alias("mde_pct"),
        F.expr("CAST(floor(p1 * 1000000) AS BIGINT)").alias("p_base_e6"),
        F.expr("CAST(floor(p2 * 1000000) AS BIGINT)").alias("p_target_e6"),
        F.expr(f"CAST({n_expr} AS BIGINT)").alias("n_per_arm"),
        F.expr(f"CAST(2 * {n_expr} AS BIGINT)").alias("n_total"),
        F.expr(
            f"CAST(ceil(2.0 * {n_expr} / daily_users) AS BIGINT)"
        ).alias("est_days_to_run"),
    )


@register(
    "agg_trimmed_winsorized_mean",
    oracle="""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), r AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rk
  FROM o
), n AS (
  SELECT count(*) AS n, count(*) * 5 // 100 AS k FROM o
), caps AS (
  SELECT (SELECT cents FROM r, n WHERE rk = k + 1) AS low_cap,
         (SELECT cents FROM r, n WHERE rk = n.n - k) AS high_cap
  FROM n LIMIT 1
), kept AS (
  SELECT sum(cents) AS s_kept, count(*) AS n_kept
  FROM r, n WHERE rk > k AND rk <= n.n - k
)
SELECT CAST(n.n AS BIGINT) AS n,
       CAST(n.k AS BIGINT) AS k_trimmed_each_side,
       CAST((SELECT sum(cents) FROM o) // n.n AS BIGINT) AS mean_cents,
       CAST(s_kept // n_kept AS BIGINT) AS trimmed_mean_cents,
       CAST((s_kept + n.k * low_cap + n.k * high_cap) // n.n AS BIGINT)
         AS winsorized_mean_cents,
       CAST(low_cap AS BIGINT) AS low_cap_cents,
       CAST(high_cap AS BIGINT) AS high_cap_cents
FROM n CROSS JOIN caps CROSS JOIN kept
""",
    doc="5% trimmed and winsorized means of order value — the robust "
    "location estimates a metrics platform reports next to the plain "
    "mean when heavy tails would otherwise let a few whale orders move "
    "the number (Tukey; Huber 1981). EXACT order statistics, not "
    "approx_percentile: the two caps are k-th-order-statistic "
    "SELECTIONS (bucket histogram -> locate -> single-bucket sort, "
    "r11 exact_kth_value — never a full-data rank), and the trimmed "
    "sum over ranks (k, n-k] folds into one conditional aggregate via "
    "the prefix-sum identity S(j) = sum(cents < v_j) + (j - "
    "count(cents < v_j)) * v_j, exact for any tie multiplicity because "
    "values strictly below the j-th order statistic occupy exactly the "
    "first count(<v_j) ranks. All integer cents, floor-exact in both "
    "engines; at 100 TB the only corpus-scale passes are map-side-"
    "combinable aggregates plus two ~n/64-row bucket sorts.",
    tags=("analytics", "agg", "robust"),
)
def agg_trimmed_winsorized_mean(spark, sf_dir):
    from ..operators.ranking import approx_cut_points, exact_kth_values

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    # ONE histogram+locate+sort pass answers BOTH trim caps (the plural
    # operator; a first cut with two single-k selections measured 0.78x
    # at the 10x replica — the duplicated tiny-stage machinery is the
    # job floor, so the multi-rank form halves it)
    cuts = approx_cut_points(o, "cents")
    caps = exact_kth_values(
        o,
        "cents",
        [
            ("low_cap", "(_n * 5 div 100) + 1"),
            ("high_cap", "_n - (_n * 5 div 100)"),
        ],
        cuts=cuts,
    ).select("low_cap", "high_cap")
    stats = (
        o.crossJoin(F.broadcast(caps))
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s_all"),
            F.sum(F.when(F.col("cents") < F.col("low_cap"), F.col("cents"))).alias("s_lt_lo"),
            F.count(F.when(F.col("cents") < F.col("low_cap"), True)).alias("c_lt_lo"),
            F.sum(F.when(F.col("cents") < F.col("high_cap"), F.col("cents"))).alias("s_lt_hi"),
            F.count(F.when(F.col("cents") < F.col("high_cap"), True)).alias("c_lt_hi"),
            F.min("low_cap").alias("low_cap"),
            F.min("high_cap").alias("high_cap"),
        )
    )
    # S(j) = sum of the j smallest; s_kept = S(n-k) - S(k), n_kept = n - 2k
    return stats.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(n * 5 div 100 AS BIGINT) AS k_trimmed_each_side",
        "CAST(s_all div n AS BIGINT) AS mean_cents",
        "CAST(((coalesce(s_lt_hi, 0) + (n - (n * 5 div 100) - c_lt_hi) * high_cap)"
        "  - (coalesce(s_lt_lo, 0) + ((n * 5 div 100) - c_lt_lo) * low_cap))"
        " div (n - 2 * (n * 5 div 100)) AS BIGINT) AS trimmed_mean_cents",
        "CAST((((coalesce(s_lt_hi, 0) + (n - (n * 5 div 100) - c_lt_hi) * high_cap)"
        "  - (coalesce(s_lt_lo, 0) + ((n * 5 div 100) - c_lt_lo) * low_cap))"
        " + (n * 5 div 100) * low_cap + (n * 5 div 100) * high_cap) div n"
        " AS BIGINT) AS winsorized_mean_cents",
        "CAST(low_cap AS BIGINT) AS low_cap_cents",
        "CAST(high_cap AS BIGINT) AS high_cap_cents",
    )


@register(
    "ml_cumulative_gains_deciles",
    oracle="""
WITH o AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS score,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
), t AS (
  SELECT y, ntile(10) OVER (ORDER BY score DESC, o_orderkey) AS decile
  FROM o
), cells AS (
  SELECT decile, count(*) AS n, sum(y) AS k FROM t GROUP BY decile
), tot AS (
  SELECT sum(n) AS nn, sum(k) AS kk FROM cells
), cum AS (
  SELECT a.decile, a.n, a.k, sum(b.k) AS cum_k
  FROM cells a JOIN cells b ON b.decile <= a.decile
  GROUP BY a.decile, a.n, a.k
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n AS BIGINT) AS n,
       CAST(k AS BIGINT) AS n_pos,
       CAST(k * 10000 // n AS BIGINT) AS rate_e4,
       CAST((k * 10000 // n) * 10000
            // (kk * 10000 // nn) AS BIGINT) AS lift_e4,
       CAST(cum_k * 10000 // kk AS BIGINT) AS cum_capture_e4
FROM cum CROSS JOIN tot
""",
    doc="Cumulative-gains / lift table at score deciles — the model-"
    "triage report (alongside ml_auc_mann_whitney and "
    "ml_calibration_bins) that tells a targeting team what fraction of "
    "positives the top-k% of scores captures: orders ranked by value "
    "as the score, EXACT ntile(10) from the two-phase global rank (the "
    "ntile_from_rank operator is bit-identical to the SQL window "
    "function, so the oracle states plain ntile), per-decile positive "
    "rate, lift vs base rate, and cumulative capture. The decile "
    "cumsum is a 10-row theta self-join, not a window. Integer e4 "
    "ratios throughout (lift composes two floor-divisions in the same "
    "order on both engines). One fact shuffle for the rank, one "
    "10-cell aggregate after.",
    tags=("analytics", "ml", "eval"),
)
def ml_cumulative_gains_deciles(spark, sf_dir):
    from ..operators.ranking import ntile_from_rank, with_exact_global_order

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("score"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("y"),
    )
    ranked = with_exact_global_order(
        o, [("score", False), ("o_orderkey", True)], rank_name="rk"
    )
    nrow = o.agg(F.count("*").alias("nn"), F.sum("y").alias("kk"))
    t = ranked.crossJoin(F.broadcast(nrow)).select(
        "y",
        ntile_from_rank(F.col("rk"), F.col("nn"), 10).alias("decile"),
    )
    cells = t.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("y").alias("k")
    )
    a, b = cells.alias("a"), cells.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(
            F.col("a.decile").alias("decile"),
            F.col("a.n").alias("n"),
            F.col("a.k").alias("k"),
        )
        .agg(F.sum("b.k").alias("cum_k"))
    )
    return cum.crossJoin(F.broadcast(nrow)).select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("n_pos"),
        F.expr("CAST(k * 10000 div n AS BIGINT)").alias("rate_e4"),
        F.expr(
            "CAST((k * 10000 div n) * 10000 div (kk * 10000 div nn)"
            " AS BIGINT)"
        ).alias("lift_e4"),
        F.expr("CAST(cum_k * 10000 div kk AS BIGINT)").alias(
            "cum_capture_e4"
        ),
    )


@register(
    "stats_ccf_count_vs_value",
    oracle="""
WITH m AS MATERIALIZED (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS mrk,
         count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*)
              AS BIGINT) AS avg_cents
  FROM orders GROUP BY 1
), st AS (
  SELECT count(*) AS n,
         CAST(sum(n_orders) // count(*) AS BIGINT) AS mean_x,
         greatest(1, CAST(sum(n_orders) // count(*) AS BIGINT) // 10000)
           AS sx,
         CAST(sum(avg_cents) // count(*) AS BIGINT) AS mean_y,
         greatest(1, CAST(sum(avg_cents) // count(*) AS BIGINT) // 10000)
           AS sy
  FROM m
), d AS (
  SELECT mrk,
         CAST(CASE WHEN n_orders >= mean_x
              THEN (n_orders - mean_x) // sx
              ELSE -((mean_x - n_orders) // sx) END AS BIGINT) AS dx,
         CAST(CASE WHEN avg_cents >= mean_y
              THEN (avg_cents - mean_y) // sy
              ELSE -((mean_y - avg_cents) // sy) END AS BIGINT) AS dy
  FROM m CROSS JOIN st
), den AS (
  SELECT sum(dx * dx) AS dxx, sum(dy * dy) AS dyy FROM d
), lags(lag) AS (VALUES (-6), (-4), (-2), (-1), (0), (1), (2), (4), (6)),
num AS (
  SELECT lag, count(*) AS n_pairs, sum(a.dx * b.dy) AS num
  FROM lags JOIN d a ON TRUE JOIN d b ON b.mrk = a.mrk + lag
  GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag_months,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(CASE WHEN num >= 0
            THEN num * 1000000 // CAST(floor(sqrt(CAST(dxx AS DOUBLE)
                 * dyy)) AS BIGINT)
            ELSE -((-num) * 1000000 // CAST(floor(sqrt(CAST(dxx AS DOUBLE)
                 * dyy)) AS BIGINT)) END AS BIGINT) AS ccf_e6
FROM num CROSS JOIN den
""",
    doc="Cross-correlation function between monthly order COUNT and "
    "monthly AVERAGE order value at leads/lags up to 6 months — the "
    "does-volume-lead-price diagnostic (a negative value at lag 0 with "
    "the demand-mix story, or a lead at k<0, decides whether one "
    "series forecasts the other; Box & Jenkins ch. 11). Same machinery "
    "as stats_acf_monthly_revenue generalized to two series: calendar-"
    "bounded month aggregate, absolute-month-index lag joins (negative "
    "lags probe count LEADING value), sign-split scale-free integer "
    "quantization (1e-4 of each series' mean) so products stay in "
    "int64 at any SF, and the normalizer sqrt(sum dx^2 * sum dy^2) "
    "maps two exact integers through one deterministic sqrt+floor. "
    "One fact aggregation; month-scale math after.",
    tags=("analytics", "stats", "timeseries"),
)
def stats_ccf_count_vs_value(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mrk")
    ).agg(
        F.count("*").alias("n_orders"),
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div count(*) AS BIGINT)"
        ).alias("avg_cents"),
    )
    st = m.agg(
        F.count("*").alias("n"),
        F.expr("CAST(sum(n_orders) div count(*) AS BIGINT)").alias("mean_x"),
        F.expr(
            "greatest(CAST(1 AS BIGINT),"
            " CAST(sum(n_orders) div count(*) AS BIGINT) div 10000)"
        ).alias("sx"),
        F.expr("CAST(sum(avg_cents) div count(*) AS BIGINT)").alias(
            "mean_y"
        ),
        F.expr(
            "greatest(CAST(1 AS BIGINT),"
            " CAST(sum(avg_cents) div count(*) AS BIGINT) div 10000)"
        ).alias("sy"),
    )
    d = m.crossJoin(F.broadcast(st)).select(
        "mrk",
        F.expr(
            "CAST(CASE WHEN n_orders >= mean_x"
            " THEN (n_orders - mean_x) div sx"
            " ELSE -((mean_x - n_orders) div sx) END AS BIGINT)"
        ).alias("dx"),
        F.expr(
            "CAST(CASE WHEN avg_cents >= mean_y"
            " THEN (avg_cents - mean_y) div sy"
            " ELSE -((mean_y - avg_cents) div sy) END AS BIGINT)"
        ).alias("dy"),
    )
    den = d.agg(
        F.sum(F.col("dx") * F.col("dx")).alias("dxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("dyy"),
    )
    lags = spark.createDataFrame(
        [(-6,), (-4,), (-2,), (-1,), (0,), (1,), (2,), (4,), (6,)],
        "lag long",
    )
    a, b = d.alias("a"), d.alias("b")
    num = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(b, F.col("b.mrk") == F.col("a.mrk") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("a.dx") * F.col("b.dy")).alias("num"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("long").alias("lag_months"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(CASE WHEN num >= 0"
            " THEN num * 1000000 div CAST(floor(sqrt(CAST(dxx AS DOUBLE)"
            " * dyy)) AS BIGINT)"
            " ELSE -((-num) * 1000000 div CAST(floor(sqrt(CAST(dxx"
            " AS DOUBLE) * dyy)) AS BIGINT)) END AS BIGINT)"
        ).alias("ccf_e6"),
    )


@register(
    "qa_functional_dependency_audit",
    oracle="""
WITH cands(lhs, rhs) AS (
  VALUES ('o_custkey', 'o_orderstatus'),
         ('o_orderpriority', 'o_orderstatus'),
         ('o_orderstatus', 'o_orderpriority'),
         ('o_orderdate', 'o_orderpriority')
), pro AS (
  SELECT 'o_custkey' AS lhs, 'o_orderstatus' AS rhs,
         CAST(o_custkey AS VARCHAR) AS l, o_orderstatus AS r FROM orders
  UNION ALL
  SELECT 'o_orderpriority', 'o_orderstatus',
         o_orderpriority, o_orderstatus FROM orders
  UNION ALL
  SELECT 'o_orderstatus', 'o_orderpriority',
         o_orderstatus, o_orderpriority FROM orders
  UNION ALL
  SELECT 'o_orderdate', 'o_orderpriority',
         CAST(o_orderdate AS VARCHAR), o_orderpriority FROM orders
), grp AS (
  SELECT lhs, rhs, l, count(DISTINCT r) AS n_rhs,
         sum(cnt_top) AS n_rows, max(cnt_top) AS top_cnt
  FROM (
    SELECT lhs, rhs, l, r, count(*) AS cnt_top
    FROM pro GROUP BY lhs, rhs, l, r
  ) GROUP BY lhs, rhs, l
)
SELECT lhs, rhs,
       CAST(count(*) AS BIGINT) AS n_lhs_groups,
       CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(n_rows) - sum(top_cnt) AS BIGINT) AS g3_repair_rows,
       CAST((sum(n_rows) - sum(top_cnt)) * 1000000 // sum(n_rows)
            AS BIGINT) AS g3_error_e6,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds_exactly
FROM grp GROUP BY lhs, rhs
""",
    doc="Functional-dependency discovery audit (Metanome / TANE family; "
    "g3 error from Kivinen & Mannila 1995) — the data-profiling "
    "primitive that decides whether a column pair behaves as a key-"
    "determines-value contract before anyone builds a join or an SCD "
    "on it: for each candidate FD, group by the LHS and count RHS "
    "diversity; g3 = minimum fraction of rows to delete for the FD to "
    "hold exactly = 1 - sum(per-group majority count)/N, reported as "
    "an exact e6 integer alongside violating-group counts. Candidates "
    "are a 4-row inline relation unioned into one tall scan, so ALL "
    "FDs are audited in a single aggregation pass over the fact table "
    "(shuffle keyed on (fd, lhs-value) — Metanome's stripped-partition "
    "trick expressed as a groupBy). At 100 TB: one shuffle bounded by "
    "LHS cardinality per candidate.",
    tags=("analytics", "qa", "profiling"),
)
def qa_functional_dependency_audit(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")

    def leg(lhs, rhs, lcol, rcol):
        return orders.select(
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            lcol.cast("string").alias("l"),
            rcol.cast("string").alias("r"),
        )

    pro = (
        leg("o_custkey", "o_orderstatus", F.col("o_custkey"),
            F.col("o_orderstatus"))
        .unionByName(
            leg("o_orderpriority", "o_orderstatus",
                F.col("o_orderpriority"), F.col("o_orderstatus"))
        )
        .unionByName(
            leg("o_orderstatus", "o_orderpriority",
                F.col("o_orderstatus"), F.col("o_orderpriority"))
        )
        .unionByName(
            leg("o_orderdate", "o_orderpriority",
                F.col("o_orderdate"), F.col("o_orderpriority"))
        )
    )
    pairs = pro.groupBy("lhs", "rhs", "l", "r").agg(
        F.count("*").alias("cnt_top")
    )
    grp = pairs.groupBy("lhs", "rhs", "l").agg(
        F.countDistinct("r").alias("n_rhs"),
        F.sum("cnt_top").alias("n_rows"),
        F.max("cnt_top").alias("top_cnt"),
    )
    return grp.groupBy("lhs", "rhs").agg(
        F.count("*").cast("long").alias("n_lhs_groups"),
        F.sum((F.col("n_rhs") > 1).cast("long"))
        .cast("long")
        .alias("n_violating_groups"),
        (F.sum("n_rows") - F.sum("top_cnt"))
        .cast("long")
        .alias("g3_repair_rows"),
        F.expr(
            "CAST((sum(n_rows) - sum(top_cnt)) * 1000000"
            " div sum(n_rows) AS BIGINT)"
        ).alias("g3_error_e6"),
        (F.sum((F.col("n_rhs") > 1).cast("long")) == 0).alias(
            "holds_exactly"
        ),
    )


@register(
    "stats_event_study_leads_lags",
    oracle="""
WITH e AS (
  SELECT user_id % 2 = 0 AS treated,
         CAST(CASE WHEN datediff('day', DATE '2024-01-16', CAST(ts AS DATE)) >= 0
              THEN datediff('day', DATE '2024-01-16', CAST(ts AS DATE)) // 7
              ELSE -((-datediff('day', DATE '2024-01-16', CAST(ts AS DATE)) + 6) // 7)
              END AS BIGINT) AS rel_week,
         CAST(event_type = 'purchase' AS INT) AS y
  FROM events
  WHERE CAST(ts AS DATE) >= DATE '2024-01-16' - INTERVAL 28 DAY
    AND CAST(ts AS DATE) < DATE '2024-01-16' + INTERVAL 28 DAY
), cells AS (
  SELECT rel_week, treated, count(*) AS n,
         CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS rate_e6
  FROM e GROUP BY 1, 2
), wide AS (
  SELECT rel_week,
         sum(CASE WHEN treated THEN n END) AS n_treat,
         sum(CASE WHEN NOT treated THEN n END) AS n_ctrl,
         sum(CASE WHEN treated THEN rate_e6 END)
           - sum(CASE WHEN NOT treated THEN rate_e6 END) AS gap_e6
  FROM cells GROUP BY rel_week
), base AS (
  SELECT CAST(sum(gap_e6) // count(*) AS BIGINT) AS pre_gap_e6
  FROM wide WHERE rel_week < 0
)
SELECT CAST(rel_week AS BIGINT) AS rel_week,
       CAST(n_treat AS BIGINT) AS n_treat,
       CAST(n_ctrl AS BIGINT) AS n_ctrl,
       CAST(gap_e6 AS BIGINT) AS gap_e6,
       CAST(gap_e6 - pre_gap_e6 AS BIGINT) AS effect_e6,
       rel_week < 0 AS is_pre_period
FROM wide CROSS JOIN base
""",
    doc="Event-study leads-and-lags plot around the treatment date — the "
    "parallel-trends diagnostic that must accompany any difference-in-"
    "differences readout (stats_diff_in_diff): per relative week in a "
    "[-4, +4) window around the 2024-01-16 rollout, the treated-minus-"
    "control purchase-rate gap, centered by the PRE-period mean gap so "
    "pre-treatment weeks hovering at ~0 validate the identifying "
    "assumption and post-treatment weeks trace the dynamic effect "
    "(Angrist & Pischke ch. 5). One conditional-aggregate pass to "
    "(week x arm) cells — integer e6 rates with floor semantics "
    "identical in both engines, week bucketing via SIGN-SPLIT floor "
    "division of day offsets (DuckDB // truncates toward zero on "
    "negatives; the CASE makes both engines floor). At 100 TB this "
    "stays one "
    "map-side-combinable aggregation plus constant-size centering.",
    tags=("analytics", "stats", "events"),
)
def stats_event_study_leads_lags(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    t0 = F.lit("2024-01-16").cast("date")
    d = F.col("ts").cast("date")
    e = ev.where(
        (d >= F.date_sub(t0, 28)) & (d < F.date_add(t0, 28))
    ).select(
        (F.col("user_id") % 2 == 0).alias("treated"),
        F.when(
            F.datediff(d, t0) >= 0, F.expr("CAST(datediff(ts, DATE'2024-01-16') div 7 AS BIGINT)")
        )
        .otherwise(
            F.expr("CAST(-((-datediff(ts, DATE'2024-01-16') + 6) div 7) AS BIGINT)")
        )
        .alias("rel_week"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    cells = e.groupBy("rel_week", "treated").agg(
        F.count("*").alias("n"),
        F.expr("CAST(sum(y) * 1000000 div count(*) AS BIGINT)").alias(
            "rate_e6"
        ),
    )
    wide = cells.groupBy("rel_week").agg(
        F.sum(F.when(F.col("treated"), F.col("n"))).alias("n_treat"),
        F.sum(F.when(~F.col("treated"), F.col("n"))).alias("n_ctrl"),
        (
            F.sum(F.when(F.col("treated"), F.col("rate_e6")))
            - F.sum(F.when(~F.col("treated"), F.col("rate_e6")))
        ).alias("gap_e6"),
    )
    base = wide.where(F.col("rel_week") < 0).agg(
        F.expr("CAST(sum(gap_e6) div count(*) AS BIGINT)").alias(
            "pre_gap_e6"
        )
    )
    return wide.crossJoin(F.broadcast(base)).select(
        F.col("rel_week").cast("long").alias("rel_week"),
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.col("gap_e6").cast("long").alias("gap_e6"),
        (F.col("gap_e6") - F.col("pre_gap_e6")).cast("long").alias(
            "effect_e6"
        ),
        (F.col("rel_week") < 0).alias("is_pre_period"),
    )


@register(
    "agg_exact_mad_robust_scale",
    oracle="""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), n AS (SELECT count(*) AS n FROM o),
r1 AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rk FROM o
), med AS (
  SELECT cents AS median_cents FROM r1, n WHERE rk = (n.n + 1) // 2
), dev AS (
  SELECT o.o_orderkey, abs(o.cents - med.median_cents) AS ad
  FROM o CROSS JOIN med
), r2 AS (
  SELECT ad, row_number() OVER (ORDER BY ad, o_orderkey) AS rk FROM dev
), mad AS (
  SELECT ad AS mad_cents FROM r2, n WHERE rk = (n.n + 1) // 2
)
SELECT CAST(n.n AS BIGINT) AS n,
       CAST(median_cents AS BIGINT) AS median_cents,
       CAST(mad_cents AS BIGINT) AS mad_cents,
       CAST(mad_cents * 14826 // 10000 AS BIGINT)
         AS sigma_hat_cents,
       CAST((SELECT count(*) FROM dev, mad
             WHERE ad > 3 * (mad_cents * 14826 // 10000)) AS BIGINT)
         AS n_beyond_3sigma
FROM n CROSS JOIN med CROSS JOIN mad
""",
    doc="Exact median absolute deviation — the robust scale estimate "
    "(Hampel 1974) behind every outlier fence that cannot trust the "
    "standard deviation under heavy tails: global EXACT median of "
    "order cents, exact median of absolute deviations from it, the "
    "consistency-scaled sigma-hat = 1.4826 * MAD as an integer e4 "
    "multiply, and the count of observations beyond the 3-sigma-hat "
    "fence. Everything is integer cents. Both medians are k-th-order-"
    "statistic SELECTIONS (bucket histogram -> locate the k-th bucket "
    "-> sort that one bucket), not full global rankings: the only "
    "corpus-scale passes are map-side-combinable counts and a single-"
    "bucket sort of ~n/64 rows — the exact-robust-statistics shape at "
    "100 TB (r11; the full-rank composition showcase lives in "
    "stats_ks_two_sample / agg_histogram_equi_depth).",
    tags=("analytics", "agg", "robust"),
)
def agg_exact_mad_robust_scale(spark, sf_dir):
    from ..operators.ranking import approx_cut_points, exact_kth_value

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    # ONE percentile job sizes BOTH selections: the ad cuts are the
    # |c - m_hat| images of the cents cuts (m_hat = the sketch's own middle
    # cut). Cut quality moves only bucket balance, never the selected value
    # (exact_kth_value contract) — the r10 shape ran the full median
    # machinery a second time at build just to sketch the derived `ad`.
    cents_cuts = approx_cut_points(o, "cents")
    m_hat = cents_cuts[len(cents_cuts) // 2] if cents_cuts else 0.0
    ad_cuts = sorted({abs(c - m_hat) for c in cents_cuts})
    # no persists: the median/MAD subtrees repeat under every consumer
    # textually, but runtime exchange/broadcast reuse dedups them — the
    # persisted variant measured 1.2x slower at the 100x replica
    # (/tmp-scratch persist-vs-reuse A/B, r11 §report)
    med = exact_kth_value(
        o, "cents", value_name="median_cents", cuts=cents_cuts
    )
    dev = o.crossJoin(F.broadcast(med.select("median_cents"))).select(
        "o_orderkey",
        F.abs(F.col("cents") - F.col("median_cents")).alias("ad"),
    )
    mad = exact_kth_value(
        dev, "ad", value_name="mad_cents", cuts=ad_cuts
    ).select("mad_cents")
    fence = dev.crossJoin(F.broadcast(mad)).agg(
        F.sum(
            (
                F.col("ad")
                > 3 * F.expr("mad_cents * 14826 div 10000")
            ).cast("long")
        ).alias("n_beyond_3sigma")
    )
    return (
        med.crossJoin(F.broadcast(mad))
        .crossJoin(F.broadcast(fence))
        .select(
            F.col("_n").cast("long").alias("n"),
            F.col("median_cents").cast("long").alias("median_cents"),
            F.col("mad_cents").cast("long").alias("mad_cents"),
            F.expr("CAST(mad_cents * 14826 div 10000 AS BIGINT)").alias(
                "sigma_hat_cents"
            ),
            F.col("n_beyond_3sigma").cast("long").alias("n_beyond_3sigma"),
        )
    )


@register(
    "stats_stratified_ate_subclassification",
    oracle="""
WITH u AS (
  SELECT user_id, user_id % 2 = 0 AS treated, count(*) AS n_events,
         CASE WHEN 5 * count(*) FILTER (WHERE event_type = 'purchase')
                   > count(*) THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id
), r AS (
  SELECT *, ntile(5) OVER (ORDER BY n_events, user_id) AS stratum
  FROM u
), cells AS (
  SELECT stratum, treated, count(*) AS n, sum(y) AS k
  FROM r GROUP BY 1, 2
), wide AS (
  SELECT stratum,
         sum(CASE WHEN treated THEN n END) AS n_t,
         sum(CASE WHEN NOT treated THEN n END) AS n_c,
         CAST(sum(CASE WHEN treated THEN k END) * 1000000
              // sum(CASE WHEN treated THEN n END) AS BIGINT) AS rate_t_e6,
         CAST(sum(CASE WHEN NOT treated THEN k END) * 1000000
              // sum(CASE WHEN NOT treated THEN n END) AS BIGINT)
           AS rate_c_e6
  FROM cells GROUP BY stratum
), tot AS (
  SELECT sum(n_t + n_c) AS nn FROM wide
), ate AS (
  SELECT CAST(sum((n_t + n_c) * (rate_t_e6 - rate_c_e6)) AS BIGINT)
         AS wsum, (SELECT nn FROM tot) AS nn
  FROM wide
)
SELECT CAST(stratum AS BIGINT) AS stratum,
       CAST(n_t AS BIGINT) AS n_treated,
       CAST(n_c AS BIGINT) AS n_control,
       rate_t_e6, rate_c_e6,
       CAST(rate_t_e6 - rate_c_e6 AS BIGINT) AS stratum_effect_e6,
       CAST(CASE WHEN wsum >= 0 THEN wsum // nn
            ELSE -((-wsum) // nn) END AS BIGINT) AS ate_e6
FROM wide CROSS JOIN ate
""",
    doc="Average treatment effect by subclassification on an observed "
    "confounder (Cochran 1968; the stratified estimator Rosenbaum & "
    "Rubin's propensity methods generalize): users stratified into "
    "activity quintiles (exact ntile from the two-phase global rank — "
    "activity volume is the confounder that correlates with both "
    "assignment opportunity and purchase propensity), per-stratum "
    "treated-vs-control gaps in the heavy-buyer outcome (purchase "
    "share of events > 20% — every fixture user converts at least "
    "once, so raw conversion is degenerate), and the ATE as the "
    "stratum-size-weighted average of within-stratum effects — all "
    "integer e6 with a sign-split final division. The report shows "
    "BOTH the per-stratum effects (effect-modification check) and the "
    "pooled estimate, which is what separates it from the naive "
    "marginal gap when strata are imbalanced. One fact aggregation to "
    "users, one rank pass, then 10-cell arithmetic — at 100 TB the "
    "user table is the only shuffled relation.",
    tags=("analytics", "stats", "events"),
)
def stats_stratified_ate_subclassification(spark, sf_dir):
    from ..operators.ranking import ntile_from_rank, with_exact_global_order

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (
            5
            * F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
            > F.count("*")
        )
        .cast("int")
        .alias("y"),
    ).select(
        "user_id",
        (F.col("user_id") % 2 == 0).alias("treated"),
        "n_events",
        "y",
    )
    ranked = with_exact_global_order(
        u, [("n_events", True), ("user_id", True)], rank_name="rk"
    )
    nu = u.agg(F.count("*").alias("n_users"))
    r = ranked.crossJoin(F.broadcast(nu)).select(
        "treated",
        "y",
        ntile_from_rank(F.col("rk"), F.col("n_users"), 5).alias("stratum"),
    )
    cells = r.groupBy("stratum", "treated").agg(
        F.count("*").alias("n"), F.sum("y").alias("k")
    )
    wide = cells.groupBy("stratum").agg(
        F.sum(F.when(F.col("treated"), F.col("n"))).alias("n_t"),
        F.sum(F.when(~F.col("treated"), F.col("n"))).alias("n_c"),
        F.expr(
            "CAST(sum(CASE WHEN treated THEN k END) * 1000000"
            " div sum(CASE WHEN treated THEN n END) AS BIGINT)"
        ).alias("rate_t_e6"),
        F.expr(
            "CAST(sum(CASE WHEN NOT treated THEN k END) * 1000000"
            " div sum(CASE WHEN NOT treated THEN n END) AS BIGINT)"
        ).alias("rate_c_e6"),
    )
    ate = wide.agg(
        F.sum(
            (F.col("n_t") + F.col("n_c"))
            * (F.col("rate_t_e6") - F.col("rate_c_e6"))
        ).alias("wsum"),
        F.sum(F.col("n_t") + F.col("n_c")).alias("nn"),
    )
    return wide.crossJoin(F.broadcast(ate)).select(
        F.col("stratum").cast("long").alias("stratum"),
        F.col("n_t").cast("long").alias("n_treated"),
        F.col("n_c").cast("long").alias("n_control"),
        "rate_t_e6",
        "rate_c_e6",
        (F.col("rate_t_e6") - F.col("rate_c_e6")).cast("long").alias(
            "stratum_effect_e6"
        ),
        F.expr(
            "CAST(CASE WHEN wsum >= 0 THEN wsum div nn"
            " ELSE -((-wsum) div nn) END AS BIGINT)"
        ).alias("ate_e6"),
    )


@register(
    "pipeline_ab_experiment_readout",
    oracle="""
WITH u AS (
  SELECT user_id, user_id % 2 = 0 AS treated,
         CASE WHEN 5 * count(*) FILTER (WHERE event_type = 'purchase')
                   > count(*) THEN 1 ELSE 0 END AS y
  FROM events GROUP BY user_id
), arms AS (
  SELECT sum(CASE WHEN treated THEN 1 ELSE 0 END) AS n_t,
         sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS n_c,
         sum(CASE WHEN treated THEN y ELSE 0 END) AS k_t,
         sum(CASE WHEN NOT treated THEN y ELSE 0 END) AS k_c
  FROM u
), der AS (
  SELECT *,
         CAST(k_t * 1000000 // n_t AS BIGINT) AS rate_t_e6,
         CAST(k_c * 1000000 // n_c AS BIGINT) AS rate_c_e6,
         (CAST(k_t + k_c AS DOUBLE)) / (n_t + n_c) AS p_pool,
         CAST(k_t AS DOUBLE) / n_t - CAST(k_c AS DOUBLE) / n_c AS diff
  FROM arms
), z AS (
  SELECT *,
         diff / sqrt(p_pool * (1.0 - p_pool)
                     * (1.0 / n_t + 1.0 / n_c)) AS zval
  FROM der
)
SELECT CAST(n_t AS BIGINT) AS n_treated,
       CAST(n_c AS BIGINT) AS n_control,
       CAST((n_t - n_c) * (n_t - n_c) * 1000000 AS BIGINT)
         > 3841459 * (n_t + n_c) AS srm_detected,
       rate_t_e6, rate_c_e6,
       CAST(rate_t_e6 - rate_c_e6 AS BIGINT) AS abs_lift_e6,
       CAST((rate_t_e6 - rate_c_e6) * 10000
            // rate_c_e6 AS BIGINT) AS rel_lift_bp,
       CAST(CASE WHEN zval >= 0 THEN CAST(floor(zval * 1000000) AS BIGINT)
            ELSE -CAST(floor(-zval * 1000000) AS BIGINT) END AS BIGINT)
         AS z_e6,
       abs(zval) > 1.959964 AS significant_95,
       CASE WHEN CAST((n_t - n_c) * (n_t - n_c) * 1000000 AS BIGINT)
                 > 3841459 * (n_t + n_c) THEN 'INVALID_SRM'
            WHEN abs(zval) <= 1.959964 THEN 'INCONCLUSIVE'
            WHEN zval > 0 THEN 'SHIP'
            ELSE 'ROLLBACK' END AS verdict
FROM z
""",
    doc="End-to-end A/B experiment readout — the composed decision "
    "artifact an experimentation platform renders from the primitives "
    "this registry exposes separately (SRM guard -> effect -> "
    "significance -> verdict): user-level conversion by parity arms in "
    "ONE aggregation, the sample-ratio-mismatch chi-square as an EXACT "
    "integer cross-multiplication against the 3.841459 (95%, 1df) "
    "boundary so the validity gate never touches a float, the pooled "
    "two-proportion z in IEEE DOUBLE with sign-split e6 flooring, and "
    "a four-way verdict (INVALID_SRM trumps everything — a biased "
    "split makes effect sizes meaningless; then INCONCLUSIVE / SHIP / "
    "ROLLBACK). The rel-lift guard divides by the control rate, "
    "nonzero by fixture. At 100 TB: one user-grain shuffle, one row "
    "out — the whole readout is map-side combinable.",
    tags=("analytics", "stats", "events", "pipeline"),
)
def pipeline_ab_experiment_readout(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            5
            * F.count(F.when(F.col("event_type") == "purchase", F.lit(1)))
            > F.count("*")
        )
        .cast("int")
        .alias("y")
    ).select((F.col("user_id") % 2 == 0).alias("treated"), "y")
    arms = u.agg(
        F.sum(F.when(F.col("treated"), 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(~F.col("treated"), 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("treated"), F.col("y")).otherwise(0)).alias(
            "k_t"
        ),
        F.sum(F.when(~F.col("treated"), F.col("y")).otherwise(0)).alias(
            "k_c"
        ),
    )
    der = arms.select(
        "*",
        F.expr("CAST(k_t * 1000000 div n_t AS BIGINT)").alias("rate_t_e6"),
        F.expr("CAST(k_c * 1000000 div n_c AS BIGINT)").alias("rate_c_e6"),
        F.expr("(CAST(k_t + k_c AS DOUBLE)) / (n_t + n_c)").alias("p_pool"),
        F.expr(
            "CAST(k_t AS DOUBLE) / n_t - CAST(k_c AS DOUBLE) / n_c"
        ).alias("diff"),
    )
    z = der.select(
        "*",
        F.expr(
            "diff / sqrt(p_pool * (1.0 - p_pool)"
            " * (1.0 / n_t + 1.0 / n_c))"
        ).alias("zval"),
    )
    srm = "CAST((n_t - n_c) * (n_t - n_c) * 1000000 AS BIGINT) > 3841459 * (n_t + n_c)"
    return z.select(
        F.col("n_t").cast("long").alias("n_treated"),
        F.col("n_c").cast("long").alias("n_control"),
        F.expr(srm).alias("srm_detected"),
        "rate_t_e6",
        "rate_c_e6",
        (F.col("rate_t_e6") - F.col("rate_c_e6")).cast("long").alias(
            "abs_lift_e6"
        ),
        F.expr(
            "CAST((rate_t_e6 - rate_c_e6) * 10000 div rate_c_e6"
            " AS BIGINT)"
        ).alias("rel_lift_bp"),
        F.expr(
            "CAST(CASE WHEN zval >= 0"
            " THEN CAST(floor(zval * 1000000) AS BIGINT)"
            " ELSE -CAST(floor(-zval * 1000000) AS BIGINT) END AS BIGINT)"
        ).alias("z_e6"),
        F.expr("abs(zval) > 1.959964").alias("significant_95"),
        F.expr(
            f"CASE WHEN {srm} THEN 'INVALID_SRM'"
            " WHEN abs(zval) <= 1.959964 THEN 'INCONCLUSIVE'"
            " WHEN zval > 0 THEN 'SHIP'"
            " ELSE 'ROLLBACK' END"
        ).alias("verdict"),
    )


@register(
    "graph_degree_assortativity",
    oracle=PART_PAIRS_CTE
    + """, adj AS MATERIALIZED (
  SELECT pa AS n, pb AS m FROM e UNION SELECT pb, pa FROM e
), deg AS MATERIALIZED (SELECT n, count(*) AS d FROM adj GROUP BY n),
dir AS (
  SELECT dj.d AS j, dk.d AS k
  FROM adj JOIN deg dj ON adj.n = dj.n JOIN deg dk ON adj.m = dk.n
), s AS (
  SELECT count(*) AS m, sum(j) AS sj, sum(j * k) AS sjk,
         sum(j * j) AS sjj
  FROM dir
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST(m // 2 AS BIGINT) AS n_edges,
       CAST(CASE WHEN CAST(m AS DOUBLE) * sjj - CAST(sj AS DOUBLE) * sj
                      = 0.0 THEN 0
            WHEN CAST(m AS DOUBLE) * sjk - CAST(sj AS DOUBLE) * sj >= 0.0
            THEN CAST(floor((CAST(m AS DOUBLE) * sjk
                 - CAST(sj AS DOUBLE) * sj) * 1000000
                 / (CAST(m AS DOUBLE) * sjj - CAST(sj AS DOUBLE) * sj))
                 AS BIGINT)
            ELSE -CAST(floor((CAST(sj AS DOUBLE) * sj
                 - CAST(m AS DOUBLE) * sjk) * 1000000
                 / (CAST(m AS DOUBLE) * sjj - CAST(sj AS DOUBLE) * sj))
                 AS BIGINT)
            END AS BIGINT) AS assortativity_e6
FROM s
""",
    doc="Degree assortativity of the part co-purchase graph (Newman "
    "2002) — do frequently-bundled hub parts attach to other hubs "
    "(r > 0) or to long-tail accessories (r < 0, the disassortative "
    "signature of hub-and-spoke catalogs)? Nodes are parts, edges are "
    "distinct same-order co-purchases (the basket family's edge set; "
    "unlike the 25-node nation graph this stays sparse and non-"
    "regular at every scale factor — a saturated or regular graph has "
    "zero degree variance, guarded to r=0). r is the Pearson "
    "correlation of endpoint degrees over the doubled directed edge "
    "list, collapsing for an undirected graph to (m*Sjk - Sj^2) / "
    "(m*Sjj - Sj^2). The moment SUMS are exact int64 (m <= "
    "21*|orders|, degrees bounded by part fan-out) but their cross "
    "products m*Sjj overflow int64 at the 10x replica, so the final "
    "ratio runs in IEEE DOUBLE with identical expression structure on "
    "both engines, sign-split floored to e6 (ADVICE-r1 overflow "
    "lesson applied). The co-purchase self-join shuffles "
    "on orderkey once; degree moments run at part-dimension scale.",
    tags=("graph", "analytics"),
)
def graph_degree_assortativity(spark, sf_dir):
    e = part_pairs(spark, sf_dir)
    # no distinct() on the doubled edge list: e is distinct with pa < pb,
    # so branch-1 rows satisfy n < m and branch-2 rows n > m — the union
    # is duplicate-free by construction (r10: the redundant dedup was a
    # full-width Exchange + two-phase HashAggregate over 2|e| rows)
    adj = (
        e.select(F.col("pa").alias("n"), F.col("pb").alias("m"))
        .union(e.select(F.col("pb").alias("n"), F.col("pa").alias("m")))
        # reused by degree table AND moment pass: persist cuts the
        # lineitem self-join lineage so the fact scan runs once
        .persist()
    )
    deg = adj.groupBy("n").agg(F.count("*").alias("d")).persist()
    dj = deg.select(F.col("n").alias("jn"), F.col("d").alias("j"))
    dk = deg.select(F.col("n").alias("kn"), F.col("d").alias("k"))
    dir_ = adj.join(dj, F.col("n") == F.col("jn")).join(
        dk, F.col("m") == F.col("kn")
    )
    s = dir_.agg(
        F.count("*").alias("m_cnt"),
        F.sum("j").alias("sj"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") * F.col("j")).alias("sjj"),
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    return s.crossJoin(F.broadcast(n_nodes)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.expr("CAST(m_cnt div 2 AS BIGINT)").alias("n_edges"),
        F.expr(
            "CAST(CASE WHEN CAST(m_cnt AS DOUBLE) * sjj"
            " - CAST(sj AS DOUBLE) * sj = 0.0 THEN 0"
            " WHEN CAST(m_cnt AS DOUBLE) * sjk"
            " - CAST(sj AS DOUBLE) * sj >= 0.0"
            " THEN CAST(floor((CAST(m_cnt AS DOUBLE) * sjk"
            " - CAST(sj AS DOUBLE) * sj) * 1000000"
            " / (CAST(m_cnt AS DOUBLE) * sjj"
            " - CAST(sj AS DOUBLE) * sj)) AS BIGINT)"
            " ELSE -CAST(floor((CAST(sj AS DOUBLE) * sj"
            " - CAST(m_cnt AS DOUBLE) * sjk) * 1000000"
            " / (CAST(m_cnt AS DOUBLE) * sjj"
            " - CAST(sj AS DOUBLE) * sj)) AS BIGINT)"
            " END AS BIGINT)"
        ).alias("assortativity_e6"),
    )


@register(
    "stats_price_index_laspeyres_paasche",
    oracle="""
WITH pm AS MATERIALIZED (
  SELECT l_partkey,
         (year(l_shipdate) * 12 + month(l_shipdate)) AS mrk,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              // sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS unit_cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
), base_mrk AS (SELECT min(mrk) AS m0 FROM pm),
base AS (
  SELECT l_partkey, unit_cents AS p0, qty AS q0
  FROM pm JOIN base_mrk ON pm.mrk = base_mrk.m0
), matched AS (
  SELECT pm.mrk, pm.l_partkey, pm.unit_cents AS pt, pm.qty AS qt,
         base.p0, base.q0
  FROM pm JOIN base USING (l_partkey)
), idx AS (
  SELECT mrk, count(*) AS n_matched_parts,
         sum(pt * q0) AS l_num, sum(p0 * q0) AS l_den,
         sum(pt * qt) AS p_num, sum(p0 * qt) AS p_den
  FROM matched GROUP BY mrk
)
SELECT CAST(mrk AS BIGINT) AS mrk,
       CAST(n_matched_parts AS BIGINT) AS n_matched_parts,
       CAST(floor(CAST(l_num AS DOUBLE) * 1000000 / l_den) AS BIGINT)
         AS laspeyres_e6,
       CAST(floor(CAST(p_num AS DOUBLE) * 1000000 / p_den) AS BIGINT)
         AS paasche_e6,
       CAST(floor(sqrt((CAST(l_num AS DOUBLE) * 1000000 / l_den)
            * (CAST(p_num AS DOUBLE) * 1000000 / p_den))) AS BIGINT)
         AS fisher_e6
FROM idx
""",
    doc="Monthly Laspeyres, Paasche, and Fisher price indexes over the "
    "lineitem part basket — the inflation/price-trend instrumentation "
    "a marketplace runs on its own catalog (ILO CPI manual ch. 15): "
    "base period = earliest ship month, matched-sample semantics "
    "(only parts present in both base and current month enter, the "
    "standard treatment of assortment churn), Laspeyres weights by "
    "base quantities, Paasche by current, Fisher = geometric mean of "
    "the two. Unit prices are integer cents per unit (floor), all "
    "four basket sums are exact int64, and the ratios run in IEEE "
    "DOUBLE with identical structure (numerators near 1e15 * 1e6 "
    "would overflow an int64 cross-multiply at scale), Fisher through "
    "one sqrt. Plan: one fact aggregation to (part, month) grain, a "
    "part-keyed join against the base basket, a month-grain rollup — "
    "no windows anywhere.",
    tags=("analytics", "stats", "timeseries"),
)
def stats_price_index_laspeyres_paasche(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mrk"),
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
            " div sum(CAST(l_quantity AS BIGINT)) AS BIGINT)"
        ).alias("unit_cents"),
        F.expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)").alias(
            "qty"
        ),
    )
    base_mrk = pm.agg(F.min("mrk").alias("m0"))
    base = (
        pm.crossJoin(F.broadcast(base_mrk))
        .where(F.col("mrk") == F.col("m0"))
        .select(
            "l_partkey",
            F.col("unit_cents").alias("p0"),
            F.col("qty").alias("q0"),
        )
    )
    matched = pm.join(base, "l_partkey").select(
        "mrk",
        F.col("unit_cents").alias("pt"),
        F.col("qty").alias("qt"),
        "p0",
        "q0",
    )
    idx = matched.groupBy("mrk").agg(
        F.count("*").alias("n_matched_parts"),
        F.sum(F.col("pt") * F.col("q0")).alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).alias("l_den"),
        F.sum(F.col("pt") * F.col("qt")).alias("p_num"),
        F.sum(F.col("p0") * F.col("qt")).alias("p_den"),
    )
    return idx.select(
        F.col("mrk").cast("long").alias("mrk"),
        F.col("n_matched_parts").cast("long").alias("n_matched_parts"),
        F.expr(
            "CAST(floor(CAST(l_num AS DOUBLE) * 1000000 / l_den)"
            " AS BIGINT)"
        ).alias("laspeyres_e6"),
        F.expr(
            "CAST(floor(CAST(p_num AS DOUBLE) * 1000000 / p_den)"
            " AS BIGINT)"
        ).alias("paasche_e6"),
        F.expr(
            "CAST(floor(sqrt((CAST(l_num AS DOUBLE) * 1000000 / l_den)"
            " * (CAST(p_num AS DOUBLE) * 1000000 / p_den))) AS BIGINT)"
        ).alias("fisher_e6"),
    )


@register(
    "graph_rich_club_coefficient",
    oracle=PART_PAIRS_CTE
    + """, adj AS MATERIALIZED (
  SELECT pa AS n, pb AS m FROM e UNION SELECT pb, pa FROM e
), deg AS MATERIALIZED (SELECT n, count(*) AS d FROM adj GROUP BY n),
ks(k) AS (VALUES (1), (2), (4), (8)),
club AS (
  SELECT k, count(*) AS n_k FROM ks JOIN deg ON deg.d > k GROUP BY k
), internal AS (
  SELECT ks.k, count(*) // 2 AS e_k
  FROM ks
  JOIN adj ON TRUE
  JOIN deg da ON adj.n = da.n AND da.d > ks.k
  JOIN deg db ON adj.m = db.n AND db.d > ks.k
  GROUP BY ks.k
)
SELECT CAST(club.k AS BIGINT) AS k,
       CAST(club.n_k AS BIGINT) AS n_club_nodes,
       CAST(coalesce(internal.e_k, 0) AS BIGINT) AS n_club_edges,
       CAST(CASE WHEN club.n_k < 2 THEN 0
            ELSE coalesce(internal.e_k, 0) * 2000000
                 // (club.n_k * (club.n_k - 1)) END AS BIGINT)
         AS rich_club_phi_e6
FROM club LEFT JOIN internal ON club.k = internal.k
""",
    doc="Rich-club coefficient phi(k) of the part co-purchase graph "
    "(Colizza et al. 2006) — do the best-connected parts form a "
    "densely wired club? For each degree threshold k, phi(k) = "
    "2*E_k / (N_k*(N_k-1)): edges among nodes of degree > k over the "
    "possible pairs. Companion to graph_degree_assortativity on the "
    "same deduplicated edge fixture, answering the question "
    "assortativity's single number cannot (WHERE in the degree "
    "hierarchy the interconnection concentrates). Exact integers "
    "end-to-end: club membership is a broadcast degree-table "
    "semi-join on each edge endpoint, the e6 ratio is one integer "
    "division, and N_k*(N_k-1) stays in int64 because club sizes "
    "shrink with k (and the k grid is a 4-row inline relation — all "
    "thresholds in ONE pass over the edge list). Facts collapse to "
    "edges once; everything after runs at edge-list scale.",
    tags=("graph", "analytics"),
)
def graph_rich_club_coefficient(spark, sf_dir):
    e = part_pairs(spark, sf_dir)
    # no distinct() on the doubled edge list: e is distinct with pa < pb,
    # so branch-1 rows satisfy n < m and branch-2 rows n > m — the union
    # is duplicate-free by construction (r10: the redundant dedup was a
    # full-width Exchange + two-phase HashAggregate over 2|e| rows)
    adj = (
        e.select(F.col("pa").alias("n"), F.col("pb").alias("m"))
        .union(e.select(F.col("pb").alias("n"), F.col("pa").alias("m")))
        # reused by degree table AND moment pass: persist cuts the
        # lineitem self-join lineage so the fact scan runs once
        .persist()
    )
    deg = adj.groupBy("n").agg(F.count("*").alias("d")).persist()
    ks = spark.createDataFrame([(1,), (2,), (4,), (8,)], "k long")
    club = (
        F.broadcast(ks)
        .join(deg, F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_k"))
    )
    da = deg.select(F.col("n").alias("an"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("bn"), F.col("d").alias("db"))
    internal = (
        F.broadcast(ks)
        .join(adj, F.lit(True))
        .join(da, (F.col("n") == F.col("an")) & (F.col("da") > F.col("k")))
        .join(db, (F.col("m") == F.col("bn")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.expr("count(*) div 2").alias("e_k"))
    )
    return (
        club.join(internal, "k", "left")
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_k").cast("long").alias("n_club_nodes"),
            F.coalesce(F.col("e_k"), F.lit(0)).cast("long").alias(
                "n_club_edges"
            ),
            F.expr(
                "CAST(CASE WHEN n_k < 2 THEN 0"
                " ELSE coalesce(e_k, 0) * 2000000"
                " div (n_k * (n_k - 1)) END AS BIGINT)"
            ).alias("rich_club_phi_e6"),
        )
    )


@register(
    "stats_huber_onestep_location",
    oracle="""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), n AS (SELECT count(*) AS n FROM o),
r1 AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rk FROM o
), med AS (
  SELECT cents AS med FROM r1, n WHERE rk = (n.n + 1) // 2
), dev AS (
  SELECT o.o_orderkey, o.cents, abs(o.cents - med.med) AS ad
  FROM o CROSS JOIN med
), r2 AS (
  SELECT ad, row_number() OVER (ORDER BY ad, o_orderkey) AS rk FROM dev
), sig AS (
  SELECT greatest(1, ad * 14826 // 10000) AS sigma
  FROM r2, n WHERE rk = (n.n + 1) // 2
), u AS (
  SELECT CASE WHEN cents >= med
         THEN least((cents - med) * 10000 // sigma, 13450)
         ELSE -least((med - cents) * 10000 // sigma, 13450) END AS psi,
         CASE WHEN ad * 10000 // sigma <= 13450 THEN 1 ELSE 0 END
           AS inlier
  FROM dev CROSS JOIN med CROSS JOIN sig
), s AS (
  SELECT sum(psi) AS sum_psi, sum(inlier) AS n_in FROM u
)
SELECT CAST(n.n AS BIGINT) AS n,
       CAST(med AS BIGINT) AS median_cents,
       CAST(sigma AS BIGINT) AS sigma_hat_cents,
       CAST(n_in AS BIGINT) AS n_inliers,
       CAST(sum_psi AS BIGINT) AS sum_psi_e4,
       CAST(med + CASE WHEN sum_psi >= 0
            THEN (sum_psi // n_in) * sigma // 10000
            ELSE -(((-sum_psi) // n_in) * sigma // 10000) END AS BIGINT)
         AS huber_onestep_cents
FROM n CROSS JOIN med CROSS JOIN sig CROSS JOIN s
""",
    doc="Huber one-step M-estimator of location (Huber 1964; the "
    "fully-iterated IRLS limit's first Newton step from the median, "
    "which already attains most of the efficiency gain): residuals "
    "standardize against the MAD-based sigma-hat in SCALE-FREE e4 "
    "units, the psi function clips at c = 1.345 (95% Gaussian "
    "efficiency) as an integer clamp at +/-13450, and the step is "
    "median + sigma * mean(psi over inliers) composed from sign-split "
    "integer divisions. The bounded psi is what makes this "
    "overflow-proof at ANY scale: every term is <= 13450 regardless "
    "of revenue magnitude, so the global sum stays in int64 at 1e14 "
    "rows (the raw weighted-sum formulation would overflow at 1e10). "
    "Two exact k-th-order-statistic selections (median, MAD — bucket "
    "histogram -> locate -> single-bucket sort, r11) + one bounded "
    "aggregation — the same shape as agg_exact_mad_robust_scale with "
    "a Newton step on top.",
    tags=("analytics", "stats", "robust"),
)
def stats_huber_onestep_location(spark, sf_dir):
    from ..operators.ranking import approx_cut_points, exact_kth_value

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    # one percentile job for both selections — ad cuts derived as the
    # |c - m_hat| images of the cents cuts (see agg_exact_mad_robust_scale)
    cents_cuts = approx_cut_points(o, "cents")
    m_hat = cents_cuts[len(cents_cuts) // 2] if cents_cuts else 0.0
    ad_cuts = sorted({abs(c - m_hat) for c in cents_cuts})
    # no persists — runtime exchange/broadcast reuse dedups the repeated
    # selection subtrees (see agg_exact_mad_robust_scale)
    med = exact_kth_value(o, "cents", value_name="med", cuts=cents_cuts)
    dev = o.crossJoin(F.broadcast(med.select("med"))).select(
        "o_orderkey",
        "cents",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("ad"),
    )
    sig = exact_kth_value(dev, "ad", cuts=ad_cuts).select(
        F.expr(
            "greatest(CAST(1 AS BIGINT), ad * 14826 div 10000)"
        ).alias("sigma")
    )
    u = dev.crossJoin(F.broadcast(sig)).select(
        F.expr(
            "CASE WHEN cents >= med"
            " THEN least((cents - med) * 10000 div sigma, 13450)"
            " ELSE -least((med - cents) * 10000 div sigma, 13450) END"
        ).alias("psi"),
        F.expr(
            "CASE WHEN ad * 10000 div sigma <= 13450 THEN 1 ELSE 0 END"
        ).alias("inlier"),
        "med",
        "sigma",
    )
    s = u.groupBy("med", "sigma").agg(
        F.sum("psi").alias("sum_psi"), F.sum("inlier").alias("n_in")
    )
    return s.crossJoin(
        F.broadcast(med.select(F.col("_n").alias("n")))
    ).select(
        F.col("n").cast("long").alias("n"),
        F.col("med").cast("long").alias("median_cents"),
        F.col("sigma").cast("long").alias("sigma_hat_cents"),
        F.col("n_in").cast("long").alias("n_inliers"),
        F.col("sum_psi").cast("long").alias("sum_psi_e4"),
        F.expr(
            "CAST(med + CASE WHEN sum_psi >= 0"
            " THEN (sum_psi div n_in) * sigma div 10000"
            " ELSE -(((-sum_psi) div n_in) * sigma div 10000) END"
            " AS BIGINT)"
        ).alias("huber_onestep_cents"),
    )


@register(
    "supplier_dual_sourcing_risk",
    oracle="""
WITH src AS (
  SELECT l_partkey,
         count(DISTINCT l_suppkey) AS n_suppliers,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM lineitem GROUP BY l_partkey
), joined AS (
  SELECT p.p_brand, src.n_suppliers, src.rev_cents
  FROM src JOIN part p ON src.l_partkey = p.p_partkey
)
SELECT p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_sourced,
       CAST(sum(rev_cents) AS BIGINT) AS revenue_cents,
       CAST(sum(CASE WHEN n_suppliers = 1 THEN rev_cents ELSE 0 END)
            AS BIGINT) AS revenue_at_risk_cents,
       CAST(sum(CASE WHEN n_suppliers = 1 THEN rev_cents ELSE 0 END)
            * 10000 // sum(rev_cents) AS BIGINT) AS risk_share_e4
FROM joined GROUP BY p_brand
""",
    doc="Dual-sourcing supply-chain risk screen — the procurement "
    "dashboard that flags revenue concentrated on single-sourced "
    "parts (the lesson every supply-chain postmortem repeats: "
    "single-source = single point of failure): per part, the distinct "
    "supplier count and revenue from lineitem in one aggregation; per "
    "brand, the count and exact revenue share flowing through parts "
    "with exactly one supplier. One fact-table shuffle on partkey "
    "(distinct-supplier count is map-side partial-aggregable), a "
    "part-dimension join, a brand rollup — integer cents and e4 "
    "shares throughout. At 100 TB the plan never materializes "
    "anything larger than the part dimension.",
    tags=("analytics", "supplier", "qa"),
)
def supplier_dual_sourcing_risk(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    src = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
            " AS BIGINT)"
        ).alias("rev_cents"),
    )
    joined = src.join(part, src.l_partkey == part.p_partkey)
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum((F.col("n_suppliers") == 1).cast("long"))
        .cast("long")
        .alias("n_single_sourced"),
        F.sum("rev_cents").cast("long").alias("revenue_cents"),
        F.sum(
            F.when(F.col("n_suppliers") == 1, F.col("rev_cents")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("revenue_at_risk_cents"),
        F.expr(
            "CAST(sum(CASE WHEN n_suppliers = 1 THEN rev_cents ELSE 0 END)"
            " * 10000 div sum(rev_cents) AS BIGINT)"
        ).alias("risk_share_e4"),
    )


@register(
    "stats_overdispersion_index",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
  FROM events GROUP BY 1, 2
), k AS (
  SELECT greatest(1, max(c) // 1000000) AS k FROM daily
), s AS (
  SELECT event_type, count(*) AS n,
         sum(c // k) AS sc, sum((c // k) * (c // k)) AS scc,
         any_value(k) AS k
  FROM daily CROSS JOIN k GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(k * (sc // n) AS BIGINT) AS mean_daily,
       CAST(k * (k * ((n * scc - sc * sc) // (n * n))) AS BIGINT)
         AS var_daily_floor,
       CAST(k * ((n * scc - sc * sc) * 10000 // (n * n * (sc // n)))
            AS BIGINT) AS dispersion_e4,
       k * ((n * scc - sc * sc) * 10000 // (n * n * (sc // n))) > 15000
         AS overdispersed
FROM s
""",
    doc="Overdispersion index (variance-to-mean ratio; Cox 1983) of "
    "daily event counts per type — the diagnostic that decides whether "
    "a count series is Poisson (index ~1, so Poisson control limits "
    "and Poisson bootstrap are valid) or overdispersed (index >> 1, "
    "reach for negative-binomial / quasi-likelihood instead). The "
    "population variance comes from the exact integer identity "
    "(n*sum(c^2) - sum(c)^2) / n^2 over counts PRE-SCALED by K = "
    "max(1, max_daily // 1e6): at 1e10-events/day scale the raw "
    "squared term would overflow int64, and the index rescales by K "
    "(exact when K=1, i.e. every tested scale; a documented e-6-"
    "relative quantization beyond). The e4 index divides by the "
    "floored mean with a 1.5 threshold flag. "
    "One (type, day) aggregation then a per-type fold: two map-side-"
    "combinable shuffles, nothing else, at any scale.",
    tags=("analytics", "stats", "events"),
)
def stats_overdispersion_index(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("c"))
    k = daily.agg(
        F.expr(
            "greatest(CAST(1 AS BIGINT), max(c) div 1000000)"
        ).alias("k")
    )
    s = daily.crossJoin(F.broadcast(k)).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("c div k")).alias("sc"),
        F.sum(F.expr("(c div k) * (c div k)")).alias("scc"),
        F.any_value("k").alias("k"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.expr("CAST(k * (sc div n) AS BIGINT)").alias("mean_daily"),
        F.expr(
            "CAST(k * (k * ((n * scc - sc * sc) div (n * n))) AS BIGINT)"
        ).alias("var_daily_floor"),
        F.expr(
            "CAST(k * ((n * scc - sc * sc) * 10000 div (n * n * (sc div n)))"
            " AS BIGINT)"
        ).alias("dispersion_e4"),
        F.expr(
            "k * ((n * scc - sc * sc) * 10000 div (n * n * (sc div n)))"
            " > 15000"
        ).alias("overdispersed"),
    )


@register(
    "qa_order_lineitem_reconciliation",
    oracle="""
WITH li AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS line_cents
  FROM lineitem GROUP BY l_orderkey
), rec AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
         li.line_cents,
         CASE WHEN li.line_cents IS NULL THEN 'NO_LINES'
              WHEN li.line_cents * 10000
                   // CAST(round(o.o_totalprice * 100) AS BIGINT)
                   BETWEEN 9900 AND 10100 THEN 'RECONCILED_1PCT'
              WHEN li.line_cents * 10000
                   // CAST(round(o.o_totalprice * 100) AS BIGINT) < 9900
                   THEN 'LINES_UNDER'
              ELSE 'LINES_OVER' END AS bucket
  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(header_cents) AS BIGINT) AS header_cents_total,
       CAST(coalesce(sum(line_cents), 0) AS BIGINT) AS line_cents_total,
       CAST(coalesce(sum(line_cents), 0) - sum(header_cents) AS BIGINT)
         AS discrepancy_cents
FROM rec GROUP BY bucket
""",
    doc="Order-header vs lineitem-detail reconciliation — the double-"
    "entry control every billing/finance pipeline runs nightly: "
    "header totals against the sum of their detail lines, bucketed "
    "into RECONCILED (within 1%), LINES_UNDER, LINES_OVER, and "
    "NO_LINES (headers with no detail at all — the left join's null "
    "side), with exact integer-cents discrepancy totals per bucket. "
    "On this fixture the buckets are deliberately non-vacuous: the "
    "generator does not maintain the TPC-H price identity, so the "
    "report shows a real discrepancy distribution rather than an "
    "all-green vanity check. One detail-side aggregation, one "
    "header-side join on the order key, a four-bucket rollup — "
    "map-side combinable at any scale.",
    tags=("analytics", "qa"),
)
def qa_order_lineitem_reconciliation(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.expr(
            "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
            " AS BIGINT)"
        ).alias("line_cents")
    )
    rec = orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left"
    ).select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
            "header_cents"
        ),
        "line_cents",
        F.expr(
            "CASE WHEN line_cents IS NULL THEN 'NO_LINES'"
            " WHEN line_cents * 10000"
            " div CAST(round(o_totalprice * 100) AS BIGINT)"
            " BETWEEN 9900 AND 10100 THEN 'RECONCILED_1PCT'"
            " WHEN line_cents * 10000"
            " div CAST(round(o_totalprice * 100) AS BIGINT) < 9900"
            " THEN 'LINES_UNDER' ELSE 'LINES_OVER' END"
        ).alias("bucket"),
    )
    return rec.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("header_cents").cast("long").alias("header_cents_total"),
        F.coalesce(F.sum("line_cents"), F.lit(0))
        .cast("long")
        .alias("line_cents_total"),
        (
            F.coalesce(F.sum("line_cents"), F.lit(0))
            - F.sum("header_cents")
        )
        .cast("long")
        .alias("discrepancy_cents"),
    )


@register(
    "stats_partial_correlation",
    oracle="""
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice) AS BIGINT) // 10 AS y,
         CAST(round(l_discount * 100) AS BIGINT) AS z
  FROM lineitem
), m AS (
  SELECT count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
         sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
  FROM v
), r AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS rxy,
         (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
         / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
           AS rxz,
         (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
         / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
           AS rzy
  FROM m
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN rxy >= 0 THEN CAST(floor(rxy * 1000000) AS BIGINT)
            ELSE -CAST(floor(-rxy * 1000000) AS BIGINT) END AS BIGINT)
         AS r_qty_price_e6,
       CAST(CASE WHEN rxz >= 0 THEN CAST(floor(rxz * 1000000) AS BIGINT)
            ELSE -CAST(floor(-rxz * 1000000) AS BIGINT) END AS BIGINT)
         AS r_qty_disc_e6,
       CAST(CASE WHEN rzy >= 0 THEN CAST(floor(rzy * 1000000) AS BIGINT)
            ELSE -CAST(floor(-rzy * 1000000) AS BIGINT) END AS BIGINT)
         AS r_price_disc_e6,
       CAST(CASE WHEN (rxy - rxz * rzy) >= 0
            THEN CAST(floor((rxy - rxz * rzy)
                 / sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy))
                 * 1000000) AS BIGINT)
            ELSE -CAST(floor(-(rxy - rxz * rzy)
                 / sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy))
                 * 1000000) AS BIGINT) END AS BIGINT)
         AS partial_r_given_disc_e6
FROM r
""",
    doc="First-order partial correlation of quantity and price "
    "CONTROLLING for discount — the confounder-adjusted association "
    "screen (r_xy.z = (r_xy - r_xz r_zy) / sqrt((1-r_xz^2)(1-r_zy^2)), "
    "Yule 1907) that belongs next to agg_corr_regression's marginal "
    "correlations: a price-quantity association can be entirely a "
    "discount artifact, and this is the one-pass test. Correlation is "
    "invariant under linear rescaling, so price quantizes to TEN-"
    "DOLLAR units before the moment sums — that keeps sum(y^2) exact "
    "int64 to ~1e10 rows (cents would overflow at the 10x replica), "
    "the documented bound for this fixture's magnitudes — and the "
    "n*Sxy-class cross terms run in IEEE DOUBLE with identical "
    "structure on both engines, sign-split floored to e6. ONE "
    "map-side-combinable aggregation over the fact table — nothing "
    "else.",
    tags=("analytics", "stats"),
)
def stats_partial_correlation(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_quantity AS BIGINT)").alias("x"),
        F.expr("CAST(round(l_extendedprice) AS BIGINT) div 10").alias("y"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("z"),
    )
    m = li.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
    )

    def corr_expr(sab, sa, sb, saa, sbb):
        return (
            f"((CAST(n AS DOUBLE) * {sab} - CAST({sa} AS DOUBLE) * {sb})"
            f" / sqrt((CAST(n AS DOUBLE) * {saa}"
            f" - CAST({sa} AS DOUBLE) * {sa})"
            f" * (CAST(n AS DOUBLE) * {sbb}"
            f" - CAST({sb} AS DOUBLE) * {sb})))"
        )

    r = m.select(
        "n",
        F.expr(corr_expr("sxy", "sx", "sy", "sxx", "syy")).alias("rxy"),
        F.expr(corr_expr("sxz", "sx", "sz", "sxx", "szz")).alias("rxz"),
        F.expr(corr_expr("syz", "sy", "sz", "syy", "szz")).alias("rzy"),
    )

    def e6(expr):
        return (
            f"CAST(CASE WHEN ({expr}) >= 0"
            f" THEN CAST(floor(({expr}) * 1000000) AS BIGINT)"
            f" ELSE -CAST(floor(-({expr}) * 1000000) AS BIGINT) END"
            f" AS BIGINT)"
        )

    partial = (
        "(rxy - rxz * rzy)"
        " / sqrt((1.0 - rxz * rxz) * (1.0 - rzy * rzy))"
    )
    return r.select(
        F.col("n").cast("long").alias("n"),
        F.expr(e6("rxy")).alias("r_qty_price_e6"),
        F.expr(e6("rxz")).alias("r_qty_disc_e6"),
        F.expr(e6("rzy")).alias("r_price_disc_e6"),
        F.expr(e6(partial)).alias("partial_r_given_disc_e6"),
    )


@register(
    "graph_edge_triangle_support",
    oracle=PART_PAIRS_CTE
    + """, wedges AS (
  SELECT x.pa AS u, x.pb AS v, y.pb AS w
  FROM e x JOIN e y ON x.pa = y.pa AND x.pb < y.pb
), tri AS MATERIALIZED (
  SELECT w.u, w.v, w.w
  FROM wedges w JOIN e ON e.pa = w.v AND e.pb = w.w
), support AS (
  SELECT pa, pb, sum(sup) AS support FROM (
    SELECT u AS pa, v AS pb, count(*) AS sup FROM tri GROUP BY 1, 2
    UNION ALL
    SELECT u, w, count(*) FROM tri GROUP BY 1, 2
    UNION ALL
    SELECT v, w, count(*) FROM tri GROUP BY 1, 2
  ) GROUP BY pa, pb
), dist AS (
  SELECT coalesce(support.support, 0) AS sup
  FROM e LEFT JOIN support USING (pa, pb)
)
SELECT CAST(sup AS BIGINT) AS triangle_support,
       CAST(count(*) AS BIGINT) AS n_edges
FROM dist GROUP BY sup
""",
    doc="Per-edge triangle support distribution over the part "
    "co-purchase graph — the quantity k-truss decomposition peels on "
    "(an edge in a k-truss supports >= k-2 triangles; Cohen 2008) and "
    "the densest non-iterative cohesion signal after triangle count: "
    "support 0 edges are bridges no community algorithm should merge "
    "across, high-support edges sit inside shopping-basket cliques. "
    "r8 plan, rebuilt from the 100x profile (VERDICT r7 directive #3; "
    "edge BUILD was 451 s of the 863 s wall, not the triangle math): "
    "(1) co-purchase pairs are generated ORDER-LOCALLY — collect_set "
    "per order (baskets are bounded, ~7 items) then a double explode "
    "over the sorted array — replacing the lineitem self-join and its "
    "two 60M-row sort-merge legs with one groupBy shuffle; (2) edges "
    "are oriented low->high by (degree, id) — the standard "
    "degree-ordered compact-forward trick that bounds out-degrees "
    "against hubs — and wedges come off each anchor's sorted "
    "out-adjacency array (posexplode + slice, codegen), so the "
    "e-with-e wedge self-join disappears; (3) each triangle closes by "
    "exactly one equi-join of the slim (anchor, v, w) wedge stream "
    "against the oriented edge list — the inherent Sum C(outdeg,2) "
    "volume — then support folds back to id-canonical edges by "
    "unioning the three sides (ReuseExchange shares the one tri "
    "subplan across all three aggregates within the single action). "
    "A/B at the 10x replica, same harness: r7 plan 478 s, r8 plan "
    "290 s. r9 revision after the r8 plan FAILED its 100x sweep on "
    "disk (sort spill of the wedge exchange): the (v,w) pair packs "
    "into one long and the close is a HINTED shuffle_hash join with "
    "the edge list as build side — the wedge stream is never sorted, "
    "so it hits disk exactly once. Alternated A/B at 10x: packed+SHJ "
    "124-178 s vs the r8 two-col SMJ close 335-470 s (the r8 'SHJ "
    "179 s vs SMJ 109 s' verdict inverts on the packed key). Earlier "
    "rejected alternatives (r8 measurements): array_intersect close "
    "470 s (boxed per-row hash sets, no codegen); sequential count() "
    "barriers 400-478 s (they only serialize what AQE overlaps — "
    "single-action plans already dedupe the cached subtrees). Exact "
    "integer histogram out.",
    tags=("graph", "analytics"),
)
def graph_edge_triangle_support(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # (1) order-local pair generation: i<j over the order's sorted
    # distinct-part array (explode + slice — codegen, no HOF lambdas).
    # Cache lifetime (ADVICE r8): the persisted frames below (e, deg,
    # oriented, tri) are deliberately NOT unpersisted — the returned
    # DataFrame is lazy, so an unpersist here would drop the cache
    # before the caller's action consumes it. Harnesses that run many
    # queries in one session (bench.py, verify, the sweeps) call
    # spark.catalog.clearCache() between queries; ad-hoc sessions rely
    # on LRU block eviction, which is storage-pool pressure, not a leak.
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    e = (
        baskets.where(F.size("ps") >= 2)
        .selectExpr("ps", "posexplode(ps) AS (i, pa)")
        .selectExpr("pa", "explode(slice(ps, i + 2, size(ps))) AS pb")
        .distinct()
        .persist()
    )
    # (2) degree-ordered orientation: pack (degree, id) into one long so
    # ordering, grouping and the close join all move single ints.
    # INVARIANT (ADVICE r8): the packing d*2^32 + id and the % 2^32
    # recovery below require 0 <= id < 2^31 (the r9 close join also
    # packs an id PAIR as id_v*2^32 + id_w) and degree < 2^31 (sums fit
    # a signed long). l_partkey tops out ~2M at the 100x replica;
    # tests/test_plans.py::test_triangle_support_id_packing_bounds
    # asserts the id bound on real fixtures so a remapped/high key range
    # fails loudly instead of silently corrupting triangle counts.
    deg = (
        e.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .persist()
    )
    da = deg.select(
        F.col("node").alias("pa"),
        (F.col("d") * F.lit(2**32) + F.col("pa")).alias("orda"),
    )
    db = deg.select(
        F.col("node").alias("pb"),
        (F.col("d") * F.lit(2**32) + F.col("pb")).alias("ordb"),
    )
    oriented = (
        e.join(da, "pa")
        .join(db, "pb")
        .select(
            F.least("orda", "ordb").alias("src"),
            F.greatest("orda", "ordb").alias("dst"),
        )
        .persist()
    )
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    ).persist()

    # The (v, w) id pair packs into ONE long bc = id_v*2^32 + id_w
    # (ids < 2^31 — asserted by the packing-bounds test): the wedge
    # exchange is the 100x disk budget's dominant term, and dropping a
    # field slot cuts each UnsafeRow from 3 to 2 longs while keeping
    # the LOW-entropy raw ids that lz4 likes (the high-entropy
    # degree-packed ords tripled the compressed stream — r8
    # measurement). The close join key becomes a single long equi-key.
    def wedges_of(anchors):
        return (
            anchors.where(F.size("nbrs") >= 2)
            .selectExpr("src AS u", "nbrs", "posexplode(nbrs) AS (i, v)")
            .selectExpr(
                "u", "v", "explode(slice(nbrs, i + 2, size(nbrs))) AS w"
            )
            .select(
                (F.col("u") % F.lit(2**32)).alias("a"),
                (
                    (F.col("v") % F.lit(2**32)) * F.lit(2**32)
                    + (F.col("w") % F.lit(2**32))
                ).alias("bc"),
            )
        )

    oriented_ids = oriented.select(
        (
            (F.col("src") % F.lit(2**32)) * F.lit(2**32)
            + (F.col("dst") % F.lit(2**32))
        ).alias("sbc")
    )

    # (3) close: a triangle appears as exactly ONE wedge (anchored at
    # its lowest-order vertex) closed by one oriented edge. The join is
    # HINTED shuffle_hash with the edge list as build side, for two
    # load-bearing reasons (r9, measured): (a) sort-merge would SORT the
    # wedge stream — billions of rows at the 100x replica — and that
    # external sort's spill contributed to the r8 100x disk FAIL; SHJ
    # streams the probe side, so the wedge stream hits disk exactly once
    # (its shuffle files). Alternated same-session A/B at 10x:
    # packed+SHJ 123.7/177.9 s vs packed+SMJ 410 s vs the r8 two-col
    # SMJ 335/470 s (the r8 'SHJ 179 vs SMJ 109' verdict inverts on the
    # single-long key). (b) the hint pins the strategy: AQE's runtime
    # stats put the packed single-column edge list under the 64 MB
    # broadcast threshold at 10x and the resulting broadcast attempt of
    # 12M rows blew spark.driver.maxResultSize. Build side per
    # partition is |E|/initialPartitionNum packed longs — a few MB at
    # every scale.
    def close(wedge_stream):
        return (
            wedge_stream.join(
                oriented_ids.hint("shuffle_hash"),
                F.col("bc") == F.col("sbc"),
            )
            .select(
                "a",
                F.shiftright("bc", 32).alias("b"),
                (F.col("bc") % F.lit(2**32)).alias("c"),
            )
        )

    def fold_support(tri):
        sides = (
            tri.groupBy(
                F.least("a", "b").alias("pa"),
                F.greatest("a", "b").alias("pb"),
            )
            .agg(F.count("*").alias("sup"))
            .unionByName(
                tri.groupBy(
                    F.least("a", "c").alias("pa"),
                    F.greatest("a", "c").alias("pb"),
                ).agg(F.count("*").alias("sup"))
            )
            .unionByName(
                tri.groupBy(
                    F.least("b", "c").alias("pa"),
                    F.greatest("b", "c").alias("pb"),
                ).agg(F.count("*").alias("sup"))
            )
        )
        return sides.groupBy("pa", "pb").agg(
            F.sum("sup").alias("support")
        )

    # Scratch-bounded K-pass close (r9). Even with SHJ, the single-action
    # wedge exchange is Sum C(outdeg,2) rows written to shuffle scratch
    # ALL AT ONCE — measured 4.11e9 rows / >59 GB at the 100x replica
    # against ~78 GB free, which is the disk-fill both 100x FAILs died
    # of (tools/scale_sweep_r{8,9}_triangle_100x*.json). Past an
    # input-size gate the anchors split into K = ceil(wedge_bytes /
    # budget) disjoint hash shards; each pass closes its shard's wedges
    # and writes the per-edge partial support to parquet scratch (rows
    # bounded by 3·triangles/K, orders of magnitude below the wedge
    # stream), so peak shuffle scratch is ~1/K of the exchange. The
    # wedge count comes from one cheap aggregate over the cached
    # adjacency — no wedge is materialized to size the plan. A real
    # cluster wants the same shape: shuffle storage is a provisioned
    # budget, not an unbounded spill pool. Gate scales (certification,
    # bench, 10x sweeps) take the single-action path below; only
    # replica-scale inputs pay the extra sizing action.
    from ..operators.dedup import _plan_size_bytes

    n_passes = 1
    wedge_rows = 0
    budget = _TRI_SCRATCH_BUDGET_BYTES
    if _plan_size_bytes(li) >= _TRI_KPASS_INPUT_MIN_BYTES:
        wedge_rows = int(
            adj.agg(
                F.sum(
                    F.expr(
                        "CAST(size(nbrs) AS BIGINT) * (size(nbrs) - 1) / 2"
                    )
                ).alias("w")
            ).first()["w"]
            or 0
        )
        budget = _tri_scratch_budget_bytes(spark)
        n_passes = _tri_n_passes(wedge_rows, budget)
        if n_passes > _TRI_KPASS_WARN_PASSES:
            import warnings as _warnings

            _warnings.warn(
                f"graph_edge_triangle_support: {n_passes} close passes for "
                f"{wedge_rows} wedges under a {budget}-byte scratch budget "
                "— raise spark.graft.tri.scratchBudget if more per-pass "
                "shuffle storage is available",
                stacklevel=2,
            )
    _TRI_LAST_PLAN_INFO.clear()
    _TRI_LAST_PLAN_INFO.update(
        n_passes=n_passes, wedge_rows=wedge_rows, budget_bytes=budget,
        scratch=None,
    )
    if n_passes > 1:
        import gc as _gc
        import os as _os

        from ..session import scratch_dir

        # the partial-support scratch lands inside SPARK_LOCAL_DIRS when a
        # harness provides one (tools/scale_sweep.py removes its scratch
        # dir at exit, failures included) and is registered for
        # process-exit cleanup in every session shape — the returned frame
        # reads these files lazily, so the query itself can never delete
        # them (the r9 /tmp leak; removal is idempotent, so
        # double-cleanup with the sweep runner is safe).
        scratch = scratch_dir("tri_kpass_")
        _TRI_LAST_PLAN_INFO["scratch"] = scratch
        part_dir = _os.path.join(scratch, "support_parts")
        for i in range(n_passes):
            shard = adj.where(F.pmod(F.hash("src"), n_passes) == i)
            tri_i = close(wedges_of(shard)).persist()
            fold_support(tri_i).write.mode("append").parquet(part_dir)
            tri_i.unpersist()
            # drop py4j refs then nudge the JVM so ContextCleaner
            # reclaims the finished pass's shuffle files — that
            # reclamation is what bounds peak scratch to ~1/K
            del tri_i, shard
            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        support = (
            spark.read.parquet(part_dir)
            .groupBy("pa", "pb")
            .agg(F.sum("support").alias("support"))
        )
    else:
        tri = close(wedges_of(adj)).persist()
        support = fold_support(tri)
    dist = e.join(support, ["pa", "pb"], "left").select(
        F.coalesce(F.col("support"), F.lit(0)).alias("sup")
    )
    return dist.groupBy(
        F.col("sup").cast("long").alias("triangle_support")
    ).agg(F.count("*").cast("long").alias("n_edges"))
