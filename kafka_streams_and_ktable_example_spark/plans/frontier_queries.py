"""Frontier analytics pack (round-3 continuation): exact two-feature OLS,
HITS hubs/authorities, and phonetic consonant-class blocking for fuzzy
dedup.

None of these exist in the reference (its topology at
`our-service/src/our_service/kafka_streams.clj:60-81` is one unwindowed
set-aggregate); they extend the engine's analytics surface in the
aggregate-first shapes that survive 100 TB:

- OLS: the classic single-node lstsq becomes ONE map-side-combined
  aggregation of nine exact int64 moment sums over quantized units,
  followed by a constant-size closed-form solve — the fact table is
  touched once and never shuffled by row.
- HITS: two exact integer iterations over the bipartite
  customer-part graph; every step is an equi-join + sum bounded by
  |edges|, never a matrix materialization.
- phonetic blocking: candidate pairs are generated only inside
  consonant-class key blocks over the DISTINCT word vocabulary
  (sub-linear in corpus size), never by an all-pairs string-distance
  scan.

Every output column is an exact integer or a deterministic e6-rounded
value computed from exact integer sums via IDENTICAL expression text in
the Spark plan and the DuckDB oracle, so value hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.graph import PART_PAIRS_CTE, part_pairs
from ..sources.tables import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# Exact two-feature OLS via moment sums
# ---------------------------------------------------------------------------

_OLS_SOLVE = """
  CAST(n AS BIGINT) AS n,
  CAST(round(((CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) / ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS b_qty_e6,
  CAST(round(((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) / ((CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS b_disc_e6
"""

_OLS_SUMS = """
  count(*) AS n,
  sum(q) AS s1, sum(d) AS s2, sum(p) AS sy,
  sum(q * q) AS s11, sum(d * d) AS s22, sum(q * d) AS s12,
  sum(q * p) AS s1y, sum(d * p) AS s2y, sum(p * p) AS syy
"""


@register(
    "stats_ols_two_feature",
    oracle=f"""
WITH u AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_discount * 100) AS BIGINT) AS d,
         CAST(round(l_extendedprice / 100) AS BIGINT) AS p
  FROM lineitem
), s AS (
  SELECT {_OLS_SUMS} FROM u
)
SELECT {_OLS_SOLVE}
FROM s
""",
    doc="Exact multiple linear regression (two features + intercept) of "
    "extended price (quantized to hundreds of dollars) on quantity and "
    "discount (basis points /100): nine int64 moment sums in ONE "
    "map-side-combined aggregation over a single lineitem scan, then the "
    "closed-form normal-equation solve (Cramer on the 2x2 centered "
    "Gram matrix) as a constant-size projection. Quantized units keep "
    "every sum exact and order-free: p<=1e5, p*p<=1e10, so sums stay "
    "inside int64 beyond 1e8 rows x any partitioning; the slope is "
    "scale-equivariant so quantization only fixes the units. The solve "
    "uses IDENTICAL double-expression text in Spark and DuckDB -> "
    "bit-identical e6 outputs. No window, no join, one shuffle of 10 "
    "numbers.",
)
def stats_ols_two_feature(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_extendedprice") / 100).cast("long").alias("p"),
    )
    sums = li.agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum("d").alias("s2"),
        F.sum("p").alias("sy"),
        F.sum(F.col("q") * F.col("q")).alias("s11"),
        F.sum(F.col("d") * F.col("d")).alias("s22"),
        F.sum(F.col("q") * F.col("d")).alias("s12"),
        F.sum(F.col("q") * F.col("p")).alias("s1y"),
        F.sum(F.col("d") * F.col("p")).alias("s2y"),
        F.sum(F.col("p") * F.col("p")).alias("syy"),
    )
    return sums.selectExpr(*[e.strip() for e in _OLS_SOLVE.split(",\n")])


# ---------------------------------------------------------------------------
# HITS hubs & authorities (two exact integer iterations)
# ---------------------------------------------------------------------------


@register(
    "graph_hits_authorities",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), a1 AS (
  SELECT p, count(*) AS a1 FROM e GROUP BY p
), h1 AS (
  SELECT e.c, sum(a1.a1) AS h1 FROM e JOIN a1 ON a1.p = e.p GROUP BY e.c
), a2 AS (
  SELECT e.p, sum(h1.h1) AS a2 FROM e JOIN h1 ON h1.c = e.c GROUP BY e.p
)
SELECT a2.p AS p_partkey, a1.a1 AS authority_iter1,
       CAST(a2.a2 AS BIGINT) AS authority_iter2
FROM a2 JOIN a1 ON a1.p = a2.p
ORDER BY a2.a2 DESC, a2.p
LIMIT 15
""",
    doc="HITS (Kleinberg 1999) hubs-and-authorities, two exact "
    "un-normalized integer iterations over the bipartite customer-part "
    "purchase graph: a1(p)=in-degree, h1(c)=sum of a1 over the "
    "customer's parts, a2(p)=sum of h1 over the part's customers. "
    "Integer arithmetic makes iterations exact and order-free (no "
    "float normalization drift), so the DuckDB oracle hash-matches. "
    "Every step is an equi-join + map-side-combined sum bounded by "
    "|distinct edges| <= |lineitem|; the score vectors are bounded by "
    "|parts| and |customers|. Top-15 with partkey tiebreak is "
    "deterministic. At 100 TB the edge distinct, both joins, and both "
    "sums shuffle on c or p with partial aggregation; nothing is "
    "quadratic and no adjacency matrix is ever materialized.",
)
def graph_hits_authorities(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    a1 = e.groupBy("p").agg(F.count("*").alias("a1"))
    h1 = (
        e.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("a1").alias("h1"))
    )
    a2 = (
        e.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("h1").alias("a2"))
    )
    out = (
        a2.join(a1, "p")
        .select(
            F.col("p").alias("p_partkey"),
            F.col("a1").alias("authority_iter1"),
            F.col("a2").alias("authority_iter2"),
        )
        .orderBy(F.col("authority_iter2").desc(), F.col("p_partkey"))
        .limit(15)
    )
    return out


# ---------------------------------------------------------------------------
# Phonetic consonant-class blocking + edit-distance verify
# ---------------------------------------------------------------------------

# Soundex consonant classes (B F P V -> 1, C G J K Q S X Z -> 2, D T -> 3,
# L -> 4, M N -> 5, R -> 6); vowels + H W Y are deleted by translate's
# shorter-replacement rule, which Spark and DuckDB share.
_PHON_FROM = "BFPVCGJKQSXZDTLMNRAEIOUHWY"
_PHON_TO = "111122222222334556"


# Blocking key = first letter + first consonant-class DIGIT of the remainder
# (a word whose tail is all vowels/H/W/Y keys on the first letter alone —
# translate's delete rule leaves an empty tail, identically in both engines).
_PHON_KEY = (
    "substr(upper({w}), 1, 1) || substr(translate(substr(upper({w}), 2), "
    f"'{_PHON_FROM}', '{_PHON_TO}'), 1, 1)"
)

# Deterministic corruption keyed by partkey: 0 -> drop the 3rd char,
# 1 -> double the 2nd char, 2 -> unchanged. Models a noisy upstream feed.
_DIRTY = (
    "CASE WHEN p_partkey % 3 = 0"
    " THEN substr(word, 1, 2) || substr(word, 4)"
    " WHEN p_partkey % 3 = 1"
    " THEN substr(word, 1, 2) || substr(word, 2)"
    " ELSE word END"
)


@register(
    "dedup_phonetic_blocking",
    oracle=f"""
WITH clean AS MATERIALIZED (
  SELECT DISTINCT word, {_PHON_KEY.format(w='word')} AS pkey
  FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part) t
  WHERE length(word) >= 3
), dirty AS MATERIALIZED (
  SELECT DISTINCT dname, {_PHON_KEY.format(w='dname')} AS pkey
  FROM (
    SELECT {_DIRTY} AS dname
    FROM (SELECT p_partkey, split_part(p_name, ' ', 1) AS word FROM part) s
  ) t
  WHERE length(dname) >= 3
)
SELECT c.pkey, c.word AS clean_word, d.dname AS dirty_word,
       CAST(levenshtein(c.word, d.dname) AS BIGINT) AS edit_dist
FROM clean c JOIN dirty d ON c.pkey = d.pkey
WHERE levenshtein(c.word, d.dname) BETWEEN 1 AND 2
ORDER BY c.pkey, clean_word, dirty_word
""",
    doc="Phonetic blocking for fuzzy record linkage (Soundex-style "
    "consonant classes, Odell & Russell 1918): a clean word vocabulary "
    "from part names is linked to a deterministically corrupted name "
    "feed (char dropped / char doubled, keyed by partkey) by a blocking "
    "key = first letter + first consonant-class digit (B/F/P/V->1 .. "
    "R->6; vowels+H/W/Y deleted via translate's shorter-replacement "
    "rule, identical in Spark and DuckDB), then verified with exact "
    "Levenshtein in [1,2]. Candidate pairs are generated ONLY inside "
    "equal-key blocks over the two DISTINCT vocabularies — never an "
    "all-pairs O(n^2) distance scan over records. At 100 TB the two "
    "vocabulary distincts are the only corpus-sized shuffles (map-side "
    "combined, outputs bounded by vocabulary size, which grows "
    "sub-linearly); the block join shuffles only the tiny vocab tables. "
    "Mirrors the sorted-neighborhood and LSH blockers "
    "(operators/dedup.py) with a third, phonetic, blocking family.",
)
def dedup_phonetic_blocking(spark, sf_dir):
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")

    def pkey(col):
        return F.concat(
            F.substring(F.upper(col), 1, 1),
            F.substring(
                F.translate(
                    F.upper(col).substr(F.lit(2), F.lit(1000000)),
                    _PHON_FROM,
                    _PHON_TO,
                ),
                1,
                1,
            ),
        )

    clean = (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .where(F.length("word") >= 3)
        .distinct()
        .select(pkey(F.col("word")).alias("pkey"), F.col("word"))
    )
    dirty = (
        part.selectExpr(
            "p_partkey", "split_part(p_name, ' ', 1) AS word"
        )
        .selectExpr(f"{_DIRTY} AS dname")
        .where(F.length("dname") >= 3)
        .distinct()
        .select(pkey(F.col("dname")).alias("dkey"), F.col("dname"))
    )
    dist = F.levenshtein(F.col("word"), F.col("dname"))
    pairs = (
        clean.join(dirty, F.col("pkey") == F.col("dkey"))
        .where(dist.between(1, 2))
        .select(
            "pkey",
            F.col("word").alias("clean_word"),
            F.col("dname").alias("dirty_word"),
            dist.cast("long").alias("edit_dist"),
        )
        .orderBy("pkey", "clean_word", "dirty_word")
    )
    return pairs


# ---------------------------------------------------------------------------
# Pinball (quantile) loss evaluation over an exact decile candidate grid
# ---------------------------------------------------------------------------


@register(
    "stats_quantile_pinball_eval",
    oracle="""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), r AS (
  SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rk FROM o
), n AS (SELECT count(*) AS n FROM o),
cand AS (
  SELECT CAST(d.i AS BIGINT) AS decile, r.cents AS cand_cents
  FROM (SELECT unnest(generate_series(1, 9)) AS i) d, r, n
  WHERE r.rk = d.i * n.n // 10
), loss AS (
  SELECT c.decile, c.cand_cents,
         sum(CASE WHEN o.cents > c.cand_cents
                  THEN 9 * (o.cents - c.cand_cents)
                  ELSE c.cand_cents - o.cents END) AS loss_x10
  FROM o CROSS JOIN cand c
  GROUP BY c.decile, c.cand_cents
)
SELECT decile, cand_cents, CAST(loss_x10 AS BIGINT) AS pinball_loss_x10,
       CAST(loss_x10 = (SELECT min(loss_x10) FROM loss) AS BIGINT)
         AS is_argmin
FROM loss
ORDER BY decile
""",
    doc="Quantile-regression model selection by exact pinball loss "
    "(Koenker & Bassett 1978): the nine exact global deciles of order "
    "value are the candidate constant predictors for tau=0.9; each "
    "candidate's pinball loss sum(max(tau(y-c),(tau-1)(y-c))), "
    "prescaled x10 so every term is an exact integer, is computed for "
    "ALL candidates in ONE pass over orders (9-row candidate table "
    "broadcast, conditional aggregation) — never nine scans. The decile "
    "cut points come from the two-phase exact global rank "
    "(operators/ranking.py: partitioned windows + broadcast bucket "
    "offsets, no unpartitioned WindowExec). The argmin flag should land "
    "on the 9th decile — the defining property of the tau=0.9 pinball "
    "loss. At 100 TB: one rank pass (bucket-partitioned) + one "
    "aggregation pass, loss table bounded at 9 rows.",
)
def stats_quantile_pinball_eval(spark, sf_dir):
    from ..operators.ranking import with_exact_global_order

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    r = with_exact_global_order(
        o, [("cents", True), ("o_orderkey", True)], rank_name="rk"
    )
    n = o.agg(F.count("*").alias("n"))
    deciles = spark.range(1, 10).select(F.col("id").alias("decile"))
    cand = (
        r.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(deciles),
            F.col("rk") == F.expr("decile * n div 10"),
        )
        .select("decile", F.col("cents").alias("cand_cents"))
    )
    loss = (
        o.crossJoin(F.broadcast(cand))
        .groupBy("decile", "cand_cents")
        .agg(
            F.sum(
                F.when(
                    F.col("cents") > F.col("cand_cents"),
                    9 * (F.col("cents") - F.col("cand_cents")),
                ).otherwise(F.col("cand_cents") - F.col("cents"))
            ).alias("loss_x10")
        )
    )
    best = loss.agg(F.min("loss_x10").alias("best"))
    return (
        loss.crossJoin(F.broadcast(best))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "cand_cents",
            F.col("loss_x10").cast("long").alias("pinball_loss_x10"),
            (F.col("loss_x10") == F.col("best")).cast("long").alias("is_argmin"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Newsvendor critical-ratio stocking level per nation
# ---------------------------------------------------------------------------


@register(
    "supplier_newsvendor_stock",
    oracle="""
WITH daily AS (
  SELECT n.n_name, l.l_shipdate AS d,
         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS demand
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name, l.l_shipdate
), ecdf AS (
  SELECT n_name, demand,
         row_number() OVER (PARTITION BY n_name ORDER BY demand, d) AS rk,
         count(*) OVER (PARTITION BY n_name) AS n_days
  FROM daily
)
SELECT n_name,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(min(demand) AS BIGINT) AS stock_qty,
       CAST(min(rk) * 1000000 // n_days AS BIGINT) AS service_level_e6
FROM ecdf
WHERE rk >= (n_days * 8 + 9) // 10
GROUP BY n_name, n_days
ORDER BY n_name
""",
    doc="Newsvendor critical-ratio stocking level (Arrow-Harris-Marschak "
    "1951): per supplier nation, the smallest daily-demand level whose "
    "empirical CDF reaches the critical ratio cu/(cu+co)=0.8 — the "
    "profit-maximizing stock under asymmetric over/under-stocking "
    "costs. Daily demand aggregates map-side to a (nation x day) table "
    "bounded by 25 x |date span|; the ECDF rank is a window PARTITIONED "
    "by nation over that bounded table (never an unpartitioned sort), "
    "ceil implemented as (8n+9) div 10 in exact integers. At 100 TB "
    "only the daily aggregation touches the fact table; everything "
    "after runs on the bounded series.",
)
def supplier_newsvendor_stock(spark, sf_dir):
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_quantity"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        # supplier scales with SF — no forced broadcast (AQE decides);
        # nation is bounded (25 rows) so its broadcast hint stays
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", F.col("l_shipdate").alias("d"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("demand"))
    )
    w = Window.partitionBy("n_name").orderBy("demand", "d")
    wc = Window.partitionBy("n_name")
    ecdf = daily.select(
        "n_name",
        "demand",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).alias("n_days"),
    )
    return (
        ecdf.where(F.col("rk") >= F.expr("(n_days * 8 + 9) div 10"))
        .groupBy("n_name", "n_days")
        .agg(
            F.min("demand").cast("long").alias("stock_qty"),
            F.expr("CAST(min(rk) * 1000000 div n_days AS BIGINT)").alias(
                "service_level_e6"
            ),
        )
        .select(
            "n_name",
            F.col("n_days").cast("long").alias("n_days"),
            "stock_qty",
            "service_level_e6",
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the co-purchase graph
# ---------------------------------------------------------------------------


@register(
    "graph_adamic_adar_link_prediction",
    oracle=PART_PAIRS_CTE
    + """, adj AS (
  SELECT pa AS z, pb AS v FROM e UNION ALL SELECT pb, pa FROM e
), deg AS (
  SELECT z, count(*) AS deg,
         CASE WHEN count(*) >= 2 THEN
           CAST(round(1000000.0 / ln(CAST(count(*) AS DOUBLE))) AS BIGINT)
         END AS w_e6
  FROM adj GROUP BY z
), centers AS (
  SELECT z, w_e6 FROM deg WHERE deg BETWEEN 2 AND 64
), cand AS (
  SELECT x.v AS u, y.v AS w, sum(d.w_e6) AS score_e6,
         count(*) AS common_neighbors
  FROM adj x JOIN adj y ON x.z = y.z AND x.v < y.v
  JOIN centers d ON d.z = x.z
  GROUP BY x.v, y.v
)
SELECT c.u, c.w, CAST(c.common_neighbors AS BIGINT) AS common_neighbors,
       CAST(c.score_e6 AS BIGINT) AS adamic_adar_e6
FROM cand c LEFT JOIN e ON e.pa = c.u AND e.pb = c.w
WHERE e.pa IS NULL
ORDER BY c.score_e6 DESC, c.u, c.w
LIMIT 20
""",
    doc="Adamic-Adar link prediction (Adamic & Adar 2003) over the "
    "co-purchase part graph: for NON-adjacent pairs sharing a common "
    "neighbor z, score = sum over z of 1/ln(deg(z)) — frequent hubs "
    "contribute less evidence than rare shared neighbors. Each per-z "
    "contribution is rounded to e6 BEFORE summation so the aggregate is "
    "an exact order-free integer sum (no float accumulation drift "
    "between engines). deg(z) >= 2 by construction (z connects u and "
    "w), so ln never hits zero. Centers are HUB-CAPPED at deg<=64 — "
    "the standard production bound for this operator: a hub center "
    "contributes only 1/ln(deg) ~ 0 evidence per pair yet generates "
    "deg^2 wedges, so the cap changes scores negligibly while bounding "
    "wedge fan-out at 64x|adj| (linear in the edge count; 128 ran the 10x replica at 569 s, 64 keeps the same top-20 on every test scale at a quarter of the wedges). "
    "The wedge enumeration joins the "
    "directed adjacency on the shared center z — the same compact-"
    "forward shape as graph_edge_triangle_support — with the existing-"
    "edge anti-join as a left-null filter; never an all-pairs score "
    "matrix. At 100 TB the wedge join shuffles on z and the result is "
    "bounded by the wedge count; top-20 is a TakeOrdered, not a global "
    "sort.",
)
def graph_adamic_adar_link_prediction(spark, sf_dir):
    e = part_pairs(spark, sf_dir).persist()
    adj = e.select(F.col("pa").alias("z"), F.col("pb").alias("v")).unionByName(
        e.select(F.col("pb").alias("z"), F.col("pa").alias("v"))
    )
    # guard deg=1: ln(1)=0 would make the weight +inf before the centers
    # filter; the CASE keeps the projection total even if the optimizer
    # evaluates it below the deg BETWEEN 2 AND 64 filter (DuckDB hard-errors
    # on CAST(inf AS BIGINT), so the oracle carries the identical guard)
    deg = adj.groupBy("z").agg(
        F.count("*").alias("deg"),
        F.expr(
            "CASE WHEN count(*) >= 2 THEN"
            " CAST(round(1000000.0 / ln(CAST(count(*) AS DOUBLE))) AS BIGINT)"
            " END"
        ).alias("w_e6"),
    )
    centers = deg.where(F.col("deg").between(2, 64)).select("z", "w_e6")
    x, y = adj.alias("x"), adj.alias("y")
    # centers joins BEFORE the wedge self-join (r10, guide §3.2: reduce
    # the big side before the expensive join): inner joins commute, so
    # the result is identical, but wedges at non-center z — exactly the
    # deg>64 hubs whose wedge count grows with deg^2 — are never
    # materialized instead of being built and then discarded. Paired
    # A/B sf0.01 min-of-3: 1.957 -> 1.298 s; 10x replica in
    # OPTIMIZATION_r10.md.
    cand = (
        x.join(centers.alias("d"), F.col("d.z") == F.col("x.z"))
        .join(y, (F.col("x.z") == F.col("y.z")) & (F.col("x.v") < F.col("y.v")))
        .groupBy(F.col("x.v").alias("u"), F.col("y.v").alias("w"))
        .agg(
            F.sum("w_e6").alias("score_e6"),
            F.count("*").alias("common_neighbors"),
        )
    )
    existing = e.select(F.col("pa").alias("u2"), F.col("pb").alias("w2"))
    return (
        cand.join(
            existing,
            (F.col("u") == F.col("u2")) & (F.col("w") == F.col("w2")),
            "left_anti",
        )
        .select(
            "u",
            "w",
            F.col("common_neighbors").cast("long").alias("common_neighbors"),
            F.col("score_e6").cast("long").alias("adamic_adar_e6"),
        )
        .orderBy(F.col("adamic_adar_e6").desc(), "u", "w")
        .limit(20)
    )
