"""Frontier analytics pack 2 (round-3 continuation): multinomial Naive
Bayes language ID trained, scored, and evaluated entirely inside the
engine (KMV sketching and Neyman allocation already live in
research_queries.py / sampling_queries.py).

None of these exist in the reference (its topology at
`our-service/src/our_service/kafka_streams.clj:60-81` is one unwindowed
set-aggregate); they extend the engine's ML-evaluation / sketching /
sampling surface in aggregate-first shapes that survive 100 TB:

- Naive Bayes: the model is a (vocab x lang) log-likelihood grid built
  from ONE token-count aggregation over the training split — a tiny
  broadcastable relation — and scoring is a broadcast join + one
  map-side-combined integer sum per (doc, lang). No iteration, no
  driver-side model object.
Every output column is an exact integer or a deterministic rounded value
computed via IDENTICAL expression text in the Spark plan and the DuckDB
oracle, so value hashes match bit-for-bit. Per-term e6 rounding of ln()
happens BEFORE the integer sum, keeping scores order-free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.graph import (
    CROSS_BORDER_SQL,
    TRADE_EDGES_CTE,
    cross_border_trade,
    trade_edges,
)
from ..sources.tables import load_table
from .catalog import register


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language identifier (train/score/confusion)
# ---------------------------------------------------------------------------


@register(
    "ml_naive_bayes_langid",
    oracle="""
WITH d AS MATERIALIZED (
  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 2 = 0
           AS is_train
  FROM documents
), train_tok AS (
  SELECT lang, unnest(toks) AS word FROM d WHERE is_train
), cnt AS MATERIALIZED (
  SELECT lang, word, count(*) AS c FROM train_tok GROUP BY lang, word
), tot AS (
  SELECT lang, sum(c) AS tot FROM cnt GROUP BY lang
), vocab AS (
  SELECT DISTINCT word FROM cnt
), vsize AS (
  SELECT count(*) AS v FROM vocab
), grid AS MATERIALIZED (
  SELECT t.lang, vo.word,
         CAST(round(ln((CAST(coalesce(c.c, 0) AS DOUBLE) + 1.0)
                       / (CAST(t.tot AS DOUBLE) + CAST(vs.v AS DOUBLE)))
                    * 1000000) AS BIGINT) AS ll_e6
  FROM tot t CROSS JOIN vocab vo CROSS JOIN vsize vs
  LEFT JOIN cnt c ON c.lang = t.lang AND c.word = vo.word
), prior AS (
  SELECT lang,
         CAST(round(ln(CAST(count(*) AS DOUBLE)
                       / CAST((SELECT count(*) FROM d WHERE is_train) AS DOUBLE))
                    * 1000000) AS BIGINT) AS prior_e6
  FROM d WHERE is_train GROUP BY lang
), test_wc AS (
  SELECT doc_id, word, count(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS word FROM d WHERE NOT is_train)
  GROUP BY doc_id, word
), scores AS MATERIALIZED (
  SELECT w.doc_id, g.lang,
         p.prior_e6 + sum(w.cnt * g.ll_e6) AS score_e6
  FROM test_wc w
  JOIN grid g ON g.word = w.word
  JOIN prior p ON p.lang = g.lang
  GROUP BY w.doc_id, g.lang, p.prior_e6
), best AS (
  SELECT doc_id, max(score_e6) AS best_e6 FROM scores GROUP BY doc_id
), pred AS (
  SELECT s.doc_id, min(s.lang) AS pred_lang
  FROM scores s JOIN best b ON b.doc_id = s.doc_id AND s.score_e6 = b.best_e6
  GROUP BY s.doc_id
)
SELECT d.lang AS true_lang, pred.pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pred JOIN d ON d.doc_id = pred.doc_id
GROUP BY d.lang, pred.pred_lang
ORDER BY true_lang, pred_lang
""",
    doc="Multinomial Naive Bayes language classifier trained and evaluated "
    "inside the engine: md5-bucket 50/50 split, Laplace-smoothed "
    "per-(lang, word) token likelihoods over the training half, argmax "
    "scoring of the held-out half, confusion-matrix output. Each "
    "ln((c+1)/(tot+V)) term is rounded to an e6 integer BEFORE the "
    "per-document sum, so scores are exact int64 and order-free — "
    "bit-identical between Spark's and DuckDB's summation orders. "
    "OOV test words (absent from the training vocabulary) are dropped "
    "by the inner join, the standard NB convention, identically in both "
    "engines. The model grid is |vocab| x |langs| (tiny, broadcast); "
    "scoring is one groupBy(doc, word) count, one broadcast join, one "
    "map-side-combined sum keyed by (doc, lang) — at 100 TB the corpus "
    "is touched twice (train count + test count), both with partial "
    "aggregation, and nothing else scales with corpus size. Argmax is "
    "max-score join + min(lang) tiebreak, no window.",
)
def ml_naive_bayes_langid(spark, sf_dir):
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.split("text", " ").alias("toks"),
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("int")
                % 2
                == 0
            ).alias("is_train"),
        )
        .persist()
    )
    train = d.where("is_train")
    cnt = (
        train.select("lang", F.explode("toks").alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("tot"))
    vocab = cnt.select("word").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))
    grid = (
        tot.crossJoin(vocab)
        .crossJoin(F.broadcast(vsize))
        .join(cnt, ["lang", "word"], "left")
        .select(
            "lang",
            "word",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)).cast("double") + 1.0)
                    / (F.col("tot").cast("double") + F.col("v").cast("double"))
                )
                * 1000000
            )
            .cast("bigint")
            .alias("ll_e6"),
        )
    )
    n_train = train.agg(F.count("*").alias("nt"))
    prior = (
        train.groupBy("lang")
        .agg(F.count("*").alias("nl"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.round(
                F.log(F.col("nl").cast("double") / F.col("nt").cast("double"))
                * 1000000
            )
            .cast("bigint")
            .alias("prior_e6"),
        )
    )
    test_wc = (
        d.where("NOT is_train")
        .select("doc_id", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    scores = (
        test_wc.join(F.broadcast(grid), "word")
        .join(F.broadcast(prior), "lang")
        .groupBy("doc_id", "lang", "prior_e6")
        .agg(
            (F.col("prior_e6") + F.sum(F.col("cnt") * F.col("ll_e6"))).alias(
                "score_e6"
            )
        )
        .select("doc_id", "lang", "score_e6")
        .persist()
    )
    # rename the aggregated side's key: joining scores to a frame derived
    # from scores on a same-named column is the self-join ambiguity hazard
    # VERDICT r1 flagged — distinct names sidestep it on every Spark version
    best = scores.groupBy("doc_id").agg(F.max("score_e6").alias("best_e6"))
    best = best.select(F.col("doc_id").alias("b_doc_id"), "best_e6")
    pred = (
        scores.join(
            best,
            (F.col("doc_id") == F.col("b_doc_id"))
            & (F.col("score_e6") == F.col("best_e6")),
        )
        .groupBy("doc_id")
        .agg(F.min("lang").alias("pred_lang"))
    )
    return (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Out-of-fold target encoding (leakage-safe categorical encoding)
# ---------------------------------------------------------------------------


@register(
    "ml_target_encoding_oof",
    oracle="""
WITH o AS (
  SELECT o_orderpriority AS cat,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INT)
           % 5 AS fold,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), per_cf AS MATERIALIZED (
  SELECT cat, fold, count(*) AS n_cf, sum(y) AS s_cf
  FROM o GROUP BY cat, fold
), per_c AS (
  SELECT cat, sum(n_cf) AS n_c, sum(s_cf) AS s_c FROM per_cf GROUP BY cat
)
SELECT per_cf.cat, CAST(per_cf.fold AS BIGINT) AS fold,
       CAST(per_cf.n_cf AS BIGINT) AS n_rows,
       CAST((per_c.s_c - per_cf.s_cf) * 1000000
            // (per_c.n_c - per_cf.n_cf) AS BIGINT) AS oof_enc_e6
FROM per_cf JOIN per_c ON per_c.cat = per_cf.cat
ORDER BY per_cf.cat, per_cf.fold
""",
    doc="Leakage-safe out-of-fold target encoding (the standard "
    "high-cardinality categorical feature for gradient-boosted models): "
    "encode each (category, fold) cell with the target mean computed "
    "over the OTHER four folds only, so a training row never sees its "
    "own label. The complement mean needs no second scan: one "
    "map-side-combined (cat, fold) count/sum aggregation, then "
    "oof = (s_c - s_cf) / (n_c - n_cf) from the per-category totals — "
    "the subtraction trick turns k-fold re-aggregation into a single "
    "pass + a join on the tiny (cat x fold) grid. All-integer floor "
    "division at e6 keeps the hash exact. At 100 TB the fact table is "
    "scanned once; the grid is |cats| x 5 rows regardless of scale.",
)
def ml_target_encoding_oof(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4),
                16,
                10,
            ).cast("int")
            % 5
        ).alias("fold"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    per_cf = o.groupBy("cat", "fold").agg(
        F.count("*").alias("n_cf"), F.sum("y").alias("s_cf")
    )
    per_c = per_cf.groupBy("cat").agg(
        F.sum("n_cf").alias("n_c"), F.sum("s_cf").alias("s_c")
    )
    return (
        per_cf.join(F.broadcast(per_c), "cat")
        .selectExpr(
            "cat",
            "CAST(fold AS BIGINT) AS fold",
            "CAST(n_cf AS BIGINT) AS n_rows",
            "CAST((s_c - s_cf) * 1000000 div (n_c - n_cf) AS BIGINT)"
            " AS oof_enc_e6",
        )
        .orderBy("cat", "fold")
    )


# ---------------------------------------------------------------------------
# Weight of Evidence / Information Value feature screening
# ---------------------------------------------------------------------------


@register(
    "ml_woe_information_value",
    oracle="""
WITH o AS (
  SELECT least(CAST(round(o_totalprice) AS BIGINT) // 50000, 9) AS bin,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS good
  FROM orders
), b AS MATERIALIZED (
  SELECT bin, sum(good) AS g_b, count(*) - sum(good) AS bad_b
  FROM o GROUP BY bin
), t AS (
  SELECT sum(g_b) AS g_t, sum(bad_b) AS bad_t FROM b
), woe AS MATERIALIZED (
  SELECT b.bin, b.g_b, b.bad_b,
         CAST(round(ln((CAST(b.g_b AS DOUBLE) / CAST(t.g_t AS DOUBLE))
                       / (CAST(b.bad_b AS DOUBLE) / CAST(t.bad_t AS DOUBLE)))
                    * 1000000) AS BIGINT) AS woe_e6,
         CAST(round((CAST(b.g_b AS DOUBLE) / CAST(t.g_t AS DOUBLE)
                     - CAST(b.bad_b AS DOUBLE) / CAST(t.bad_t AS DOUBLE))
                    * ln((CAST(b.g_b AS DOUBLE) / CAST(t.g_t AS DOUBLE))
                         / (CAST(b.bad_b AS DOUBLE) / CAST(t.bad_t AS DOUBLE)))
                    * 1000000) AS BIGINT) AS iv_term_e6
  FROM b CROSS JOIN t
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(g_b AS BIGINT) AS n_good,
       CAST(bad_b AS BIGINT) AS n_bad, woe_e6, iv_term_e6,
       CAST(sum(iv_term_e6) OVER () AS BIGINT) AS iv_total_e6
FROM woe
ORDER BY bin
""",
    doc="Weight-of-Evidence binning and Information Value (the classic "
    "credit-scoring feature screen, Siddiqi 2006): bucket order value "
    "into ten fixed 50k-wide bins, WoE_b = ln((good_b/good_tot)/"
    "(bad_b/bad_tot)), IV = sum over bins of (g% - b%)*WoE. One "
    "map-side-combined bin aggregation touches the fact table; WoE and "
    "each IV term are per-bin SCALAR double expressions (IEEE-"
    "deterministic, identical text both engines) rounded to e6 before "
    "the 10-term integer total, so the output hashes exactly. The "
    "Spark-side total is a broadcast scalar attach, not a window "
    "(DuckDB's OVER () runs on 10 rows); at 100 TB everything after "
    "the first aggregation is constant-size.",
)
def ml_woe_information_value(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "least(CAST(round(o_totalprice) AS BIGINT) div 50000, 9) AS bin",
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS good",
    )
    b = o.groupBy("bin").agg(
        F.sum("good").alias("g_b"),
        (F.count("*") - F.sum("good")).alias("bad_b"),
    )
    t = b.agg(F.sum("g_b").alias("g_t"), F.sum("bad_b").alias("bad_t"))
    woe = (
        b.crossJoin(F.broadcast(t))
        .selectExpr(
            "bin",
            "g_b",
            "bad_b",
            "CAST(round(ln((CAST(g_b AS DOUBLE) / CAST(g_t AS DOUBLE))"
            " / (CAST(bad_b AS DOUBLE) / CAST(bad_t AS DOUBLE)))"
            " * 1000000) AS BIGINT) AS woe_e6",
            "CAST(round((CAST(g_b AS DOUBLE) / CAST(g_t AS DOUBLE)"
            " - CAST(bad_b AS DOUBLE) / CAST(bad_t AS DOUBLE))"
            " * ln((CAST(g_b AS DOUBLE) / CAST(g_t AS DOUBLE))"
            " / (CAST(bad_b AS DOUBLE) / CAST(bad_t AS DOUBLE)))"
            " * 1000000) AS BIGINT) AS iv_term_e6",
        )
        .persist()
    )
    tot = woe.agg(F.sum("iv_term_e6").alias("iv_total_e6"))
    return (
        woe.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(bin AS BIGINT) AS bin",
            "CAST(g_b AS BIGINT) AS n_good",
            "CAST(bad_b AS BIGINT) AS n_bad",
            "woe_e6",
            "iv_term_e6",
            "CAST(iv_total_e6 AS BIGINT) AS iv_total_e6",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Item-item cosine similarity recommender (normalized co-occurrence)
# ---------------------------------------------------------------------------


@register(
    "rec_item_item_cosine",
    oracle="""
WITH bask AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), deg AS MATERIALIZED (
  SELECT pk, count(*) AS n FROM bask GROUP BY pk
), cooc AS MATERIALIZED (
  SELECT a.pk AS pa, b.pk AS pb, count(*) AS c
  FROM bask a JOIN bask b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
)
SELECT cooc.pa AS part_a, cooc.pb AS part_b,
       CAST(cooc.c AS BIGINT) AS cooc,
       CAST(da.n AS BIGINT) AS n_a, CAST(db.n AS BIGINT) AS n_b,
       CAST(round(CAST(cooc.c AS DOUBLE)
                  / sqrt(CAST(da.n AS DOUBLE) * CAST(db.n AS DOUBLE))
                  * 1000000) AS BIGINT) AS cosine_e6
FROM cooc
JOIN deg da ON da.pk = cooc.pa
JOIN deg db ON db.pk = cooc.pb
WHERE cooc.c >= 2
ORDER BY cosine_e6 DESC, part_a, part_b
LIMIT 15
""",
    doc="Item-item collaborative-filtering similarity (Sarwar et al., "
    "WWW 2001): cosine-normalized co-purchase counts over order "
    "baskets, top-15 part pairs. Pair generation is a self-equi-join "
    "on the order key — quadratic only in basket size, which is "
    "bounded (max 13 distinct parts/order in this schema), so the "
    "pair relation is O(|orders| * B^2), linear in the fact table. "
    "cosine = cooc / sqrt(n_a * n_b) is a per-pair SCALAR double op "
    "(IEEE-deterministic) rounded to e6; counts and degrees are exact "
    "integers from map-side-combined aggregations. The c >= 2 support "
    "floor prunes the noise tail before ranking; the top-15 runs as "
    "TakeOrderedAndProject (per-partition partial top-k), never a "
    "global sort. At 100 TB the basket distinct, the pair join, and "
    "both degree joins all shuffle on bounded keys with partial "
    "aggregation; no similarity matrix is materialized.",
)
def rec_item_item_cosine(spark, sf_dir):
    bask = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .persist()
    )
    deg = bask.groupBy("pk").agg(F.count("*").alias("n"))
    a = bask.select(F.col("ok"), F.col("pk").alias("pa"))
    b = bask.select(F.col("ok").alias("ok2"), F.col("pk").alias("pb"))
    cooc = (
        a.join(b, (a.ok == b.ok2) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
    )
    da = deg.select(F.col("pk").alias("pa"), F.col("n").alias("n_a"))
    db = deg.select(F.col("pk").alias("pb"), F.col("n").alias("n_b"))
    return (
        cooc.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .selectExpr(
            "pa AS part_a",
            "pb AS part_b",
            "CAST(c AS BIGINT) AS cooc",
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(n_b AS BIGINT) AS n_b",
            "CAST(round(CAST(c AS DOUBLE)"
            " / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
            " * 1000000) AS BIGINT) AS cosine_e6",
        )
        .orderBy(F.col("cosine_e6").desc(), "part_a", "part_b")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Bounded-radius closeness centrality (all-pairs <=3-hop distances)
# ---------------------------------------------------------------------------


@register(
    "graph_closeness_centrality",
    oracle="""
WITH edges AS (
  SELECT CAST(s.s_nationkey AS BIGINT) AS src,
         CAST(c.c_nationkey AS BIGINT) AS dst,
         CAST(count(*) AS BIGINT) AS w
"""
    + CROSS_BORDER_SQL
    + """  GROUP BY 1, 2
), stats AS (
  SELECT src AS s2, count(*) AS src_cnt, sum(w) AS src_tot FROM edges
  GROUP BY src
), strong AS MATERIALIZED (
  SELECT src, dst FROM edges JOIN stats ON stats.s2 = edges.src
  WHERE w * src_cnt >= src_tot
), d1 AS (
  SELECT src AS s, dst AS t, 1 AS d FROM strong
), u2 AS MATERIALIZED (
  SELECT s, t, min(d) AS d FROM (
    SELECT s, t, d FROM d1
    UNION ALL
    SELECT d1.s, strong.dst AS t, 2 AS d
    FROM d1 JOIN strong ON strong.src = d1.t
  ) WHERE s <> t GROUP BY s, t
), u3 AS MATERIALIZED (
  SELECT s, t, min(d) AS d FROM (
    SELECT s, t, d FROM u2
    UNION ALL
    SELECT u2.s, strong.dst AS t, u2.d + 1 AS d
    FROM u2 JOIN strong ON strong.src = u2.t
  ) WHERE s <> t GROUP BY s, t
)
SELECT CAST(s AS INT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_reach,
       CAST(sum(d) AS BIGINT) AS sum_dist,
       CAST(sum(1000000 // d) AS BIGINT) AS harmonic_e6
FROM u3 GROUP BY s
ORDER BY nationkey
""",
    doc="Bounded-radius closeness / harmonic centrality (Marchiori-"
    "Latora 2000): all-pairs shortest distances up to 3 hops over the "
    "sparsified nation trade digraph (same above-average-out-edge "
    "sparsification as the BFS query, threshold multiplication-only so "
    "both engines agree exactly), then per source the reach count, "
    "distance sum, and harmonic sum(1/d) at e6 — 1000000 div d is "
    "exact integer for d in {1,2,3}, so no float ever appears. The "
    "fixed-depth expansion is two unrolled join+min-reaggregate rounds "
    "over the bounded (<=625-edge) graph relation — each round a "
    "dimension-scale equi-join, never a transitive closure on the fact "
    "table, and the fact tables are scanned exactly once to build the "
    "edge weights. Bounded radius IS the 100 TB design: distance "
    "semantics stay exact while work is capped at |V|^2 x diameter<=3.",
)
def graph_closeness_centrality(spark, sf_dir):
    edges = (
        cross_border_trade(spark, sf_dir)
        .groupBy(
            F.col("s_nationkey").cast("bigint").alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    stats = edges.groupBy(F.col("src").alias("s2")).agg(
        F.count("*").alias("src_cnt"), F.sum("w").alias("src_tot")
    )
    strong = (
        edges.join(F.broadcast(stats), edges.src == stats.s2)
        .where(F.col("w") * F.col("src_cnt") >= F.col("src_tot"))
        .select("src", "dst")
        .localCheckpoint(eager=True)  # facts touched once; hops reuse
    )
    d1 = strong.select(F.col("src").alias("s"), F.col("dst").alias("t"), F.lit(1).alias("d"))

    def expand(u):
        nxt = (
            u.join(strong, u.t == strong.src)
            .select(u.s, F.col("dst").alias("t"), (u.d + 1).alias("d"))
        )
        return (
            u.unionByName(nxt)
            .where(F.col("s") != F.col("t"))
            .groupBy("s", "t")
            .agg(F.min("d").alias("d"))
        )

    u3 = expand(expand(d1))
    return (
        u3.groupBy("s")
        .agg(
            F.count("*").cast("long").alias("n_reach"),
            F.sum("d").cast("long").alias("sum_dist"),
            F.sum(F.expr("1000000 div d")).cast("long").alias("harmonic_e6"),
        )
        .select(F.col("s").cast("int").alias("nationkey"), "n_reach", "sum_dist", "harmonic_e6")
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Newman modularity of the label-propagation partition
# ---------------------------------------------------------------------------


@register(
    "graph_modularity_score",
    oracle=TRADE_EDGES_CTE
    + """, adj AS MATERIALIZED (
  SELECT a AS n, b AS m, w FROM ew UNION ALL SELECT b, a, w FROM ew
), l0 AS (
  SELECT DISTINCT n, n AS lbl FROM adj
), v1 AS (
  SELECT adj.n, l0.lbl, sum(adj.w) AS ws
  FROM adj JOIN l0 ON adj.m = l0.n
  GROUP BY adj.n, l0.lbl
), l1 AS (
  SELECT n, lbl FROM (
    SELECT n, lbl,
           row_number() OVER (PARTITION BY n ORDER BY ws DESC, lbl) AS rn
    FROM v1) WHERE rn = 1
), v2 AS (
  SELECT adj.n, l1.lbl, sum(adj.w) AS ws
  FROM adj JOIN l1 ON adj.m = l1.n
  GROUP BY adj.n, l1.lbl
), l2 AS MATERIALIZED (
  SELECT n, lbl FROM (
    SELECT n, lbl,
           row_number() OVER (PARTITION BY n ORDER BY ws DESC, lbl) AS rn
    FROM v2) WHERE rn = 1
), m2 AS (
  SELECT sum(w) AS m2 FROM adj
), deg AS (
  SELECT n, sum(w) AS k FROM adj GROUP BY n
), comm AS MATERIALIZED (
  SELECT la.lbl AS label,
         count(DISTINCT la.n) AS n_nodes,
         sum(CASE WHEN la.lbl = lb.lbl THEN adj.w ELSE 0 END) AS in_w
  FROM adj
  JOIN l2 la ON la.n = adj.n
  JOIN l2 lb ON lb.n = adj.m
  GROUP BY la.lbl
), tot AS (
  SELECT l2.lbl AS label, sum(deg.k) AS tot_k
  FROM l2 JOIN deg ON deg.n = l2.n GROUP BY l2.lbl
), terms AS MATERIALIZED (
  SELECT comm.label, comm.n_nodes, comm.in_w, tot.tot_k,
         CAST(round((CAST(comm.in_w AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
                     - (CAST(tot.tot_k AS DOUBLE) / CAST(m2.m2 AS DOUBLE))
                       * (CAST(tot.tot_k AS DOUBLE) / CAST(m2.m2 AS DOUBLE)))
                    * 1000000) AS BIGINT) AS q_term_e6
  FROM comm JOIN tot ON tot.label = comm.label CROSS JOIN m2
)
SELECT CAST(label AS INT) AS label, CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(in_w AS BIGINT) AS in_w, CAST(tot_k AS BIGINT) AS tot_k,
       q_term_e6,
       CAST(sum(q_term_e6) OVER () AS BIGINT) AS modularity_e6
FROM terms
ORDER BY label
""",
    doc="Newman-Girvan weighted modularity Q of the 2-round label-"
    "propagation partition (the quality score for the community "
    "detection the registry already runs): Q = sum over communities of "
    "in_c/2m - (tot_c/2m)^2, computed per community as a SCALAR double "
    "expression (IEEE-deterministic, identical text both engines) "
    "rounded to e6 before the <=25-term integer total — sidestepping "
    "the int64 overflow a fully-integer m2^2 formulation would hit at "
    "100 TB edge weights. The directed adj relation double-counts each "
    "undirected edge, which is exactly the 2m/in_c convention. Fact "
    "tables build the weighted edge list once; LPA rounds, degrees, "
    "community sums, and the modularity terms all run at graph scale "
    "(<=625 directed edges, windows partitioned by node). The Spark "
    "total is a broadcast scalar attach (DuckDB's OVER () runs on <=25 "
    "rows).",
)
def graph_modularity_score(spark, sf_dir):
    from pyspark.sql import Window as W

    ew = trade_edges(spark, sf_dir)
    adj = (
        ew.select(F.col("a").alias("n"), F.col("b").alias("m"), "w")
        .unionByName(ew.select(F.col("b").alias("n"), F.col("a").alias("m"), "w"))
        .localCheckpoint(eager=True)
    )
    labels = adj.select("n").distinct().select("n", F.col("n").alias("lbl"))

    def lpa_round(lbl_df):
        votes = (
            adj.join(lbl_df.select(F.col("n").alias("m"), F.col("lbl")), on="m")
            .groupBy("n", "lbl")
            .agg(F.sum("w").alias("ws"))
        )
        w_rank = W.partitionBy("n").orderBy(F.desc("ws"), F.asc("lbl"))
        return (
            votes.withColumn("rn", F.row_number().over(w_rank))
            .where(F.col("rn") == 1)
            .select("n", "lbl")
        )

    l2 = lpa_round(lpa_round(labels)).localCheckpoint(eager=True)
    m2 = adj.agg(F.sum("w").alias("m2"))
    deg = adj.groupBy("n").agg(F.sum("w").alias("k"))
    la = l2.select(F.col("n").alias("n"), F.col("lbl").alias("la_lbl"))
    lb = l2.select(F.col("n").alias("m"), F.col("lbl").alias("lb_lbl"))
    comm = (
        adj.join(F.broadcast(la), "n")
        .join(F.broadcast(lb), "m")
        .groupBy(F.col("la_lbl").alias("label"))
        .agg(
            F.countDistinct("n").alias("n_nodes"),
            F.sum(
                F.when(F.col("la_lbl") == F.col("lb_lbl"), F.col("w")).otherwise(0)
            ).alias("in_w"),
        )
    )
    tot = (
        l2.join(deg, "n")
        .groupBy(F.col("lbl").alias("label"))
        .agg(F.sum("k").alias("tot_k"))
    )
    terms = (
        comm.join(tot, "label")
        .crossJoin(F.broadcast(m2))
        .selectExpr(
            "label",
            "n_nodes",
            "in_w",
            "tot_k",
            "CAST(round((CAST(in_w AS DOUBLE) / CAST(m2 AS DOUBLE)"
            " - (CAST(tot_k AS DOUBLE) / CAST(m2 AS DOUBLE))"
            " * (CAST(tot_k AS DOUBLE) / CAST(m2 AS DOUBLE)))"
            " * 1000000) AS BIGINT) AS q_term_e6",
        )
        .persist()
    )
    qtot = terms.agg(F.sum("q_term_e6").alias("modularity_e6"))
    return (
        terms.crossJoin(F.broadcast(qtot))
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("in_w").cast("long").alias("in_w"),
            F.col("tot_k").cast("long").alias("tot_k"),
            "q_term_e6",
            F.col("modularity_e6").cast("long").alias("modularity_e6"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (2 exact integer iterations)
# ---------------------------------------------------------------------------


@register(
    "text_textrank_keywords",
    oracle="""
WITH bg AS (
  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
                               i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))
           AS bigram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), pairs AS (
  SELECT least(string_split(bigram, ' ')[1], string_split(bigram, ' ')[2]) AS a,
         greatest(string_split(bigram, ' ')[1], string_split(bigram, ' ')[2]) AS b,
         count(*) AS w
  FROM bg
  WHERE string_split(bigram, ' ')[1] <> string_split(bigram, ' ')[2]
  GROUP BY 1, 2
), adj AS MATERIALIZED (
  SELECT a AS i, b AS j, w FROM pairs UNION ALL SELECT b, a, w FROM pairs
), strength AS MATERIALIZED (
  SELECT i AS jn, sum(w) AS str FROM adj GROUP BY i
), s1 AS MATERIALIZED (
  SELECT adj.i AS word,
         150000 + 85 * sum(adj.w * 1000000 // strength.str) // 100 AS s
  FROM adj JOIN strength ON strength.jn = adj.j
  GROUP BY adj.i
), s2 AS (
  SELECT adj.i AS word,
         150000 + 85 * sum(adj.w * s1.s // strength.str) // 100 AS s
  FROM adj
  JOIN strength ON strength.jn = adj.j
  JOIN s1 ON s1.word = adj.j
  GROUP BY adj.i
)
SELECT s2.word AS word, CAST(s2.s AS BIGINT) AS textrank_e6,
       CAST(s1.s AS BIGINT) AS iter1_e6
FROM s2 JOIN s1 ON s1.word = s2.word
ORDER BY textrank_e6 DESC, s2.word
LIMIT 15
""",
    doc="TextRank keyword extraction (Mihalcea-Tarau 2004): weighted "
    "PageRank over the word co-occurrence graph (adjacent-token pairs, "
    "undirected, weight = corpus count, self-loops dropped), damping "
    "0.85, two unrolled iterations from uniform e6 scores, top-15 "
    "keywords. Each neighbor contribution w_ij * s_j div strength_j is "
    "floor-divided PER TERM before the integer sum, so iteration "
    "results are exact int64 and independent of summation order — the "
    "determinism pin float PageRank lacks. The corpus is scanned once "
    "for bigram counts (map-side combined, keyed by word pair — "
    "vocabulary-bounded, not corpus-bounded); both iterations are "
    "equi-joins + sums on the vocabulary-scale adj relation, and the "
    "top-15 is TakeOrderedAndProject. At 100 TB only the bigram count "
    "touches the documents table.",
)
def text_textrank_keywords(spark, sf_dir):
    from ..functions import tokens, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(tokens("text").alias("wds"))
        .where(F.size("wds") >= 2)
        .select(F.explode(word_shingles(F.col("wds"), 2)).alias("bigram"))
        .select(
            F.split("bigram", " ")[0].alias("w1"),
            F.split("bigram", " ")[1].alias("w2"),
        )
        .where(F.col("w1") != F.col("w2"))
    )
    pairs = bg.groupBy(
        F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
    ).agg(F.count("*").alias("w"))
    adj = (
        pairs.select(F.col("a").alias("i"), F.col("b").alias("j"), "w")
        .unionByName(pairs.select(F.col("b").alias("i"), F.col("a").alias("j"), "w"))
        .localCheckpoint(eager=True)
    )
    strength = adj.groupBy(F.col("i").alias("jn")).agg(F.sum("w").alias("str"))
    s1 = (
        adj.join(F.broadcast(strength), adj.j == strength.jn)
        .groupBy(F.col("i").alias("word"))
        .agg(
            (
                F.lit(150000)
                + F.expr("85 * sum(w * 1000000 div str) div 100")
            ).alias("s")
        )
        .localCheckpoint(eager=True)
    )
    s2 = (
        adj.join(F.broadcast(strength), adj.j == strength.jn)
        .join(F.broadcast(s1.select(F.col("word").alias("jw"), F.col("s").alias("sj"))), F.col("j") == F.col("jw"))
        .groupBy(F.col("i").alias("word"))
        .agg(
            (
                F.lit(150000) + F.expr("85 * sum(w * sj div str) div 100")
            ).alias("s2v")
        )
    )
    return (
        s2.join(s1.select(F.col("word"), F.col("s").alias("iter1_e6")), "word")
        .select(
            "word",
            F.col("s2v").cast("long").alias("textrank_e6"),
            F.col("iter1_e6").cast("long").alias("iter1_e6"),
        )
        .orderBy(F.col("textrank_e6").desc(), "word")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Average precision (area under the precision-recall curve, exact)
# ---------------------------------------------------------------------------


@register(
    "ml_average_precision",
    oracle="""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n,
         len(list_distinct(string_split(text, ' '))) AS nd,
         length(text) AS chars,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel
  FROM documents
), scored AS (
  SELECT doc_id, rel,
         CAST(nd * 4000 // n
              + least(n, 100) * 30
              + CASE WHEN (chars - (n - 1)) * 10000 // n BETWEEN 30000 AND 100000
                     THEN 3000 ELSE 1500 END AS BIGINT) AS quality_e4
  FROM t
), ranked AS MATERIALIZED (
  SELECT doc_id, rel, quality_e4,
         row_number() OVER (ORDER BY quality_e4 DESC, doc_id) AS rk,
         sum(rel) OVER (ORDER BY quality_e4 DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS rel_cum
  FROM scored
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(rel_cum) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN rel = 1 THEN rel_cum * 1000000 // rk ELSE 0 END)
            // max(rel_cum) AS BIGINT) AS ap_e6,
       CAST(max(CASE WHEN rk = 10 THEN rel_cum * 1000000 // 10 END) AS BIGINT)
         AS p_at_10_e6
FROM ranked
""",
    doc="Exact average precision (area under the PR curve by the rank-sum "
    "identity): rank all documents by the engine's quality score "
    "(doc_id tiebreak makes the order total), AP = (1/R) * sum over "
    "relevant ranks k of precision@k, with relevance = lang == 'en'. "
    "Each precision@k = rel_cum * 1e6 div k is an exact per-row "
    "integer, so the sum is order-free; complements the registry's "
    "Mann-Whitney ROC-AUC with the metric that actually matters under "
    "class imbalance. The Spark side gets the global rank and running "
    "relevant count from with_exact_global_order (coarse-bucket "
    "two-phase: PARTITIONED windows + broadcast per-bucket offsets — "
    "no single-partition sort), so the plan holds at 100 TB while the "
    "DuckDB oracle uses plain windows. P@10 is read off the same "
    "ranking.",
)
def ml_average_precision(spark, sf_dir):
    from ..operators.ranking import with_exact_global_order
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_score(docs).select(
        "doc_id",
        "quality_e4",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("rel"),
    )
    ranked = with_exact_global_order(
        scored,
        [("quality_e4", False), ("doc_id", True)],
        rank_name="rk",
        cumsum_of="rel",
        cumsum_name="rel_cum",
    )
    return ranked.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("rel_cum").cast("long").alias("n_pos"),
        F.expr(
            "CAST(sum(CASE WHEN rel = 1 THEN rel_cum * 1000000 div rk"
            " ELSE 0 END) div max(rel_cum) AS BIGINT)"
        ).alias("ap_e6"),
        F.expr(
            "CAST(max(CASE WHEN rk = 10 THEN rel_cum * 1000000 div 10 END)"
            " AS BIGINT)"
        ).alias("p_at_10_e6"),
    )


# ---------------------------------------------------------------------------
# Bloom filter build + empirical false-positive-rate evaluation
# ---------------------------------------------------------------------------


@register(
    "dedup_bloom_filter_fpr_eval",
    oracle="""
WITH d AS MATERIALIZED (
  SELECT doc_id, md5(text) AS h,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 2
           = 0 AS is_member
  FROM documents
), member_h AS MATERIALIZED (
  SELECT DISTINCT h FROM d WHERE is_member
), bits AS MATERIALIZED (
  SELECT DISTINCT
    CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || h), 1, 8)) AS BIGINT)
      % 4096 AS bit
  FROM member_h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
), probe AS MATERIALIZED (
  SELECT DISTINCT d.h FROM d
  WHERE NOT is_member
    AND NOT EXISTS (SELECT 1 FROM member_h m WHERE m.h = d.h)
), probe_hits AS MATERIALIZED (
  SELECT p.h, count(bits.bit) AS hits
  FROM probe p
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
  LEFT JOIN bits
    ON bits.bit = CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || p.h), 1, 8))
                       AS BIGINT) % 4096
  GROUP BY p.h
), agg AS (
  SELECT (SELECT count(*) FROM member_h) AS n_members,
         (SELECT count(*) FROM bits) AS n_bits_set,
         count(*) AS n_probes,
         sum(CASE WHEN hits = 4 THEN 1 ELSE 0 END) AS n_false_pos
  FROM probe_hits
)
SELECT CAST(n_members AS BIGINT) AS n_members,
       CAST(n_bits_set AS BIGINT) AS n_bits_set,
       CAST(n_probes AS BIGINT) AS n_probes,
       CAST(n_false_pos AS BIGINT) AS n_false_pos,
       CAST(n_false_pos * 1000000 // n_probes AS BIGINT) AS fpr_e6,
       CAST(round(pow(CAST(n_bits_set AS DOUBLE) / 4096.0, 4) * 1000000)
            AS BIGINT) AS theory_fpr_e6
FROM agg
""",
    doc="Bloom filter (Bloom 1970) built and evaluated entirely as "
    "relations: members are the even-md5-bucket half of the corpus "
    "(deduped by content hash), the filter is m=4096 bits x k=4 "
    "md5-derived hash functions represented as the DISTINCT set-bit "
    "relation; probes are the content-distinct non-members, and a "
    "probe is a false positive iff all four of its bit positions land "
    "in the set-bit relation (LEFT JOIN + count = 4). Reports the "
    "empirical FPR and the standard estimate (bits_set/m)^k — that "
    "power is one SCALAR IEEE double op, deterministic across engines. "
    "The set-bit relation is <= 4096 rows no matter the corpus size, "
    "so Spark broadcasts it to the probe side; both corpus scans "
    "aggregate map-side. This is the engine's membership-sketch "
    "primitive: the same shape serves shard-level dedup pre-filters "
    "where shipping the exact key set is too large.",
)
def dedup_bloom_filter_fpr_eval(spark, sf_dir):
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.md5("text").alias("h"),
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                    16,
                    10,
                ).cast("int")
                % 2
                == 0
            ).alias("is_member"),
        )
        .persist()
    )
    member_h = d.where("is_member").select("h").distinct().persist()
    ks = spark.range(0, 4).select(F.col("id").alias("k"))

    def positions(df):
        return df.crossJoin(F.broadcast(ks)).select(
            "h",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("k").cast("string"), F.lit(":"), F.col("h")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 4096
            ).alias("bit"),
        )

    bits = positions(member_h).select("bit").distinct()
    probe = (
        d.where("NOT is_member")
        .select("h")
        .distinct()
        .join(member_h.select(F.col("h").alias("mh")), F.col("h") == F.col("mh"), "left_anti")
    )
    probe_hits = (
        positions(probe)
        .join(
            F.broadcast(bits.select(F.col("bit").alias("set_bit"))),
            F.col("bit") == F.col("set_bit"),
            "left",
        )
        .groupBy("h")
        .agg(F.count("set_bit").alias("hits"))
    )
    n_members = member_h.agg(F.count("*").alias("n_members"))
    n_bits = bits.agg(F.count("*").alias("n_bits_set"))
    return (
        probe_hits.agg(
            F.count("*").alias("n_probes"),
            F.sum(F.when(F.col("hits") == 4, 1).otherwise(0)).alias(
                "n_false_pos"
            ),
        )
        .crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_bits))
        .selectExpr(
            "CAST(n_members AS BIGINT) AS n_members",
            "CAST(n_bits_set AS BIGINT) AS n_bits_set",
            "CAST(n_probes AS BIGINT) AS n_probes",
            "CAST(n_false_pos AS BIGINT) AS n_false_pos",
            "CAST(n_false_pos * 1000000 div n_probes AS BIGINT) AS fpr_e6",
            "CAST(round(pow(CAST(n_bits_set AS DOUBLE) / 4096.0D, 4) * 1000000)"
            " AS BIGINT) AS theory_fpr_e6",
        )
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (absorbing-chain value iteration)
# ---------------------------------------------------------------------------

_MARKOV_ROUND = """
  SELECT s.scn, s.i, sum(s.c * coalesce(v.val, 0)) // max(s.tot) AS val
  FROM strans s LEFT JOIN {prev} v ON v.scn = s.scn AND v.i = s.j
  GROUP BY s.scn, s.i
  UNION ALL
  SELECT r AS scn, 'CONV' AS i, 1000000 AS val FROM scenarios
"""


@register(
    "events_markov_removal_attribution",
    oracle=f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS jid
  FROM events
), seq AS MATERIALIZED (
  SELECT user_id, jid, event_type,
         row_number() OVER (PARTITION BY user_id, jid
                            ORDER BY ts, event_id) AS rn,
         lead(event_type) OVER (PARTITION BY user_id, jid
                                ORDER BY ts, event_id) AS nxt
  FROM ev
), trans AS (
  SELECT 'START' AS i,
         CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS j
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT event_type AS i,
         coalesce(CASE WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END, 'NULL')
           AS j
  FROM seq WHERE event_type <> 'purchase'
), tc AS MATERIALIZED (
  SELECT i, j, count(*) AS c FROM trans GROUP BY i, j
), tot AS (
  SELECT i AS ti, sum(c) AS tot FROM tc GROUP BY i
), scenarios AS MATERIALIZED (
  SELECT 'none' AS r
  UNION ALL
  SELECT DISTINCT i AS r FROM tc WHERE i <> 'START'
), strans AS MATERIALIZED (
  SELECT s.r AS scn, tc.i, tc.j, tc.c, tot.tot
  FROM scenarios s
  JOIN tc ON tc.i <> s.r AND tc.j <> s.r
  JOIN tot ON tot.ti = tc.i
), v0 AS (
  SELECT r AS scn, 'CONV' AS i, 1000000 AS val FROM scenarios
), v1 AS MATERIALIZED ({_MARKOV_ROUND.format(prev="v0")}
), v2 AS MATERIALIZED ({_MARKOV_ROUND.format(prev="v1")}
), v3 AS MATERIALIZED ({_MARKOV_ROUND.format(prev="v2")}
), v4 AS MATERIALIZED ({_MARKOV_ROUND.format(prev="v3")}
), v5 AS MATERIALIZED ({_MARKOV_ROUND.format(prev="v4")}
), v6 AS MATERIALIZED ({_MARKOV_ROUND.format(prev="v5")}
), p AS MATERIALIZED (
  SELECT s.r AS scn, coalesce(max(v.val), 0) AS p_conv
  FROM scenarios s LEFT JOIN v6 v ON v.scn = s.r AND v.i = 'START'
  GROUP BY s.r
), base AS (
  SELECT p_conv AS p_full FROM p WHERE scn = 'none'
), rem AS MATERIALIZED (
  SELECT p.scn AS channel, base.p_full, p.p_conv AS p_removed,
         base.p_full - p.p_conv AS removal
  FROM p CROSS JOIN base WHERE p.scn <> 'none'
), tot_rem AS (
  SELECT sum(removal) AS tr FROM rem
)
SELECT channel,
       CAST(p_full AS BIGINT) AS p_full_e6,
       CAST(p_removed AS BIGINT) AS p_removed_e6,
       CAST(removal AS BIGINT) AS removal_e6,
       CAST(CASE WHEN tr > 0 THEN removal * 1000000 // tr ELSE 0 END AS BIGINT)
         AS share_e6
FROM rem CROSS JOIN tot_rem
ORDER BY channel
""",
    doc="Markov-chain removal-effect attribution (Anderl et al. 2016) — "
    "the data-driven alternative to the registry's last-touch and "
    "position-based rules: user event streams split into journeys at "
    "each purchase, first-order transition counts over states {START, "
    "channels, CONV, NULL}, and per-channel removal effect = drop in "
    "absorbing-chain conversion probability when that channel's node "
    "is deleted (its mass falls to NULL, NOT renormalized — removal "
    "keeps the original denominators, the defining property of the "
    "method). Conversion probability is six unrolled value-iteration "
    "rounds v(i) <- sum_j c_ij * v(j) div tot_i with the CONV row "
    "pinned at 1e6 — the sum is over exact int64 products, floor-"
    "divided once per state, so every round is order-free and both "
    "engines agree bit-for-bit (fixed iteration count makes the "
    "approximation itself part of the contract). The fact table is "
    "touched once (user-partitioned windows -> journey transitions); "
    "everything after runs on the |scenarios| x |states|^2 <= 180-row "
    "relation. Output: per-channel full/removed conversion, removal "
    "effect, and normalized attribution share.",
)
def events_markov_removal_attribution(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn(
        "jid",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                w_user.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    w_j = W.partitionBy("user_id", "jid").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.row_number().over(w_j).alias("rn"),
        F.lead("event_type").over(w_j).alias("nxt"),
    )

    def mapped(c):
        return F.when(c == "purchase", "CONV").otherwise(c)

    trans = (
        seq.where("rn = 1")
        .select(F.lit("START").alias("i"), mapped(F.col("event_type")).alias("j"))
        .unionByName(
            seq.where("event_type <> 'purchase'").select(
                F.col("event_type").alias("i"),
                F.coalesce(mapped(F.col("nxt")), F.lit("NULL")).alias("j"),
            )
        )
    )
    tc = (
        trans.groupBy("i", "j").agg(F.count("*").alias("c")).localCheckpoint(eager=True)
    )
    tot = tc.groupBy(F.col("i").alias("ti")).agg(F.sum("c").alias("tot"))
    scenarios = (
        tc.where("i <> 'START'")
        .select(F.col("i").alias("r"))
        .distinct()
        .unionByName(spark.createDataFrame([("none",)], ["r"]))
        .localCheckpoint(eager=True)
    )
    strans = (
        scenarios.join(tc, (tc.i != scenarios.r) & (tc.j != scenarios.r))
        .join(tot, F.col("i") == F.col("ti"))
        .select(F.col("r").alias("scn"), "i", "j", "c", "tot")
        .localCheckpoint(eager=True)
    )
    conv_rows = scenarios.select(
        F.col("r").alias("scn"), F.lit("CONV").alias("i"), F.lit(1000000).alias("val")
    )
    v = conv_rows
    for _ in range(6):
        prev = v.select(
            F.col("scn").alias("v_scn"), F.col("i").alias("v_i"), F.col("val")
        )
        v = (
            strans.join(
                prev,
                (F.col("scn") == F.col("v_scn")) & (F.col("j") == F.col("v_i")),
                "left",
            )
            .groupBy("scn", "i")
            .agg(
                F.expr("sum(c * coalesce(val, 0)) div max(tot)").alias("val")
            )
            .unionByName(conv_rows)
        )
    p = (
        scenarios.join(
            v.where("i = 'START'").select(
                F.col("scn").alias("p_scn"), F.col("val")
            ),
            F.col("r") == F.col("p_scn"),
            "left",
        )
        .select("r", F.coalesce(F.col("val"), F.lit(0)).alias("p_conv"))
        .persist()
    )
    base = p.where("r = 'none'").select(F.col("p_conv").alias("p_full"))
    rem = (
        p.where("r <> 'none'")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("r").alias("channel"),
            "p_full",
            F.col("p_conv").alias("p_removed"),
            (F.col("p_full") - F.col("p_conv")).alias("removal"),
        )
        .persist()
    )
    tot_rem = rem.agg(F.sum("removal").alias("tr"))
    return (
        rem.crossJoin(F.broadcast(tot_rem))
        .selectExpr(
            "channel",
            "CAST(p_full AS BIGINT) AS p_full_e6",
            "CAST(p_removed AS BIGINT) AS p_removed_e6",
            "CAST(removal AS BIGINT) AS removal_e6",
            "CAST(CASE WHEN tr > 0 THEN removal * 1000000 div tr ELSE 0 END"
            " AS BIGINT) AS share_e6",
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------


@register(
    "events_ab_cuped_readout",
    oracle="""
WITH span AS (
  SELECT min(ts) AS t0, max(ts) AS t1 FROM events
), u AS MATERIALIZED (
  SELECT user_id,
         user_id % 2 AS arm,
         sum(CASE WHEN epoch_us(ts) - epoch_us(t0)
                       < (epoch_us(t1) - epoch_us(t0)) / 2
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
         sum(CASE WHEN epoch_us(ts) - epoch_us(t0)
                       >= (epoch_us(t1) - epoch_us(t0)) / 2
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
  FROM events CROSS JOIN span
  GROUP BY user_id
), m AS MATERIALIZED (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM u
), theta AS MATERIALIZED (
  SELECT n, sx,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
            / CAST(n AS DOUBLE))
         / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
              / CAST(n AS DOUBLE)) AS th
  FROM m
)
SELECT CAST(u.arm AS BIGINT) AS arm,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(u.y) AS BIGINT) AS post_cents,
       CAST(round(theta.th * 1000000) AS BIGINT) AS theta_e6,
       CAST(round((CAST(sum(u.y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   - theta.th * (CAST(sum(u.x) AS DOUBLE)
                                 / CAST(count(*) AS DOUBLE)
                                 - CAST(theta.sx AS DOUBLE)
                                   / CAST(theta.n AS DOUBLE)))
                  * 100) AS BIGINT) AS adj_mean_e2
FROM u CROSS JOIN theta
GROUP BY u.arm, theta.th, theta.sx, theta.n
ORDER BY arm
""",
    doc="CUPED variance-reduced experiment readout (Deng et al., WSDM "
    "2013) — the industry-standard pre-experiment covariate adjustment "
    "the A/B battery (Welch t, SRM, power, SPRT, DiD) still lacked: "
    "per-user pre-period spend X (first half of the time span) and "
    "post-period spend Y (second half), theta = cov(X,Y)/var(X) from "
    "exact int64 cent-quantized moment sums in ONE pass over the "
    "per-user relation, adjusted arm mean = mean(Y) - theta*(mean(X) - "
    "mean_all(X)). The arm split is the deterministic user_id %% 2. "
    "All corpus-scale work is two map-side-combined aggregations "
    "(per-user sums, then global moments); theta and the adjusted "
    "means are scalar IEEE double expressions with identical text in "
    "both engines, rounded once. At 100 TB nothing after the per-user "
    "rollup scales with the event count.",
)
def events_ab_cuped_readout(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    span = ev.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    u = (
        ev.crossJoin(F.broadcast(span))
        .selectExpr(
            "user_id",
            "user_id % 2 AS arm",
            "CASE WHEN unix_micros(ts) - unix_micros(t0)"
            " < (unix_micros(t1) - unix_micros(t0)) / 2"
            " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS xv",
            "CASE WHEN unix_micros(ts) - unix_micros(t0)"
            " >= (unix_micros(t1) - unix_micros(t0)) / 2"
            " THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS yv",
        )
        .groupBy("user_id", "arm")
        .agg(F.sum("xv").alias("x"), F.sum("yv").alias("y"))
        .persist()
    )
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    theta = m.selectExpr(
        "n",
        "sx",
        "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
        " / CAST(n AS DOUBLE)) AS th",
    )
    return (
        u.crossJoin(F.broadcast(theta))
        .groupBy("arm", "th", "sx", "n")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("y").alias("post"),
            F.sum("x").alias("pre"),
        )
        .selectExpr(
            "CAST(arm AS BIGINT) AS arm",
            "CAST(n_users AS BIGINT) AS n_users",
            "CAST(post AS BIGINT) AS post_cents",
            "CAST(round(th * 1000000) AS BIGINT) AS theta_e6",
            "CAST(round((CAST(post AS DOUBLE) / CAST(n_users AS DOUBLE)"
            " - th * (CAST(pre AS DOUBLE) / CAST(n_users AS DOUBLE)"
            " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
            " * 100) AS BIGINT) AS adj_mean_e2",
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# ALS half-step: closed-form per-user factors against fixed item factors
# ---------------------------------------------------------------------------


@register(
    "rec_als_user_factors",
    oracle="""
WITH r AS (
  SELECT o.o_custkey AS u, l.l_partkey AS i,
         CAST(l.l_quantity AS BIGINT) AS r
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), vf AS (
  SELECT DISTINCT i,
         CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 4)) AS BIGINT)
           % 1000 - 500 AS v1,
         CAST(('0x' || substr(md5('x' || CAST(i AS VARCHAR)), 1, 4)) AS BIGINT)
           % 1000 - 500 AS v2
  FROM r
), s AS MATERIALIZED (
  SELECT r.u, count(*) AS n_items,
         sum(vf.v1 * vf.v1) AS a11, sum(vf.v1 * vf.v2) AS a12,
         sum(vf.v2 * vf.v2) AS a22,
         sum(r.r * vf.v1) AS b1, sum(r.r * vf.v2) AS b2
  FROM r JOIN vf ON vf.i = r.i
  GROUP BY r.u
), solvable AS (
  SELECT * FROM s
  WHERE CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
        - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE) <> 0.0
)
SELECT CAST(u AS BIGINT) AS custkey, CAST(n_items AS BIGINT) AS n_items,
       CAST(round((CAST(b1 AS DOUBLE) * CAST(a22 AS DOUBLE)
                   - CAST(b2 AS DOUBLE) * CAST(a12 AS DOUBLE))
                  / (CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
                     - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE))
                  * 1000000) AS BIGINT) AS u1_e6,
       CAST(round((CAST(a11 AS DOUBLE) * CAST(b2 AS DOUBLE)
                   - CAST(a12 AS DOUBLE) * CAST(b1 AS DOUBLE))
                  / (CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
                     - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE))
                  * 1000000) AS BIGINT) AS u2_e6
FROM solvable
ORDER BY custkey
LIMIT 20
""",
    doc="One exact alternating-least-squares half-step (Koren-Bell-"
    "Volinsky 2009): with rank-2 item factors FIXED as md5-derived "
    "integers in [-500, 500), each user's factor vector is the "
    "closed-form ridge-free least-squares solve of the 2x2 normal "
    "equations over that user's (part, quantity) ratings. The five "
    "Gram/moment sums per user are exact int64 (|v| < 500 so v*v < "
    "2.5e5 — billions of ratings per user before overflow) from ONE "
    "map-side-combined aggregation after a broadcast-joinable item-"
    "factor attach; the Cramer solve is a per-user SCALAR double "
    "expression (identical text both engines) rounded to e6. This is "
    "the distributed-ALS iteration shape: item factors broadcast, "
    "user solves embarrassingly parallel, no factor matrix ever "
    "gathered to one node. Users whose Gram matrix is singular "
    "(single-item histories / collinear factors) are excluded by an "
    "exact determinant guard — ANSI mode makes the 0-div a hard error, "
    "and ridge-regularized production ALS adds lambda*I here instead. First 20 custkeys keep the output bounded "
    "(TakeOrderedAndProject, no global sort).",
)
def rec_als_user_factors(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("i"),
        F.col("l_quantity").cast("bigint").alias("r"),
    )
    vf = r.select("i").distinct().selectExpr(
        "i",
        "CAST(conv(substring(md5(CAST(i AS STRING)), 1, 4), 16, 10) AS BIGINT)"
        " % 1000 - 500 AS v1",
        "CAST(conv(substring(md5(concat('x', CAST(i AS STRING))), 1, 4), 16, 10)"
        " AS BIGINT) % 1000 - 500 AS v2",
    )
    s = (
        r.join(F.broadcast(vf), "i")
        .groupBy("u")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("v1") * F.col("v1")).alias("a11"),
            F.sum(F.col("v1") * F.col("v2")).alias("a12"),
            F.sum(F.col("v2") * F.col("v2")).alias("a22"),
            F.sum(F.col("r") * F.col("v1")).alias("b1"),
            F.sum(F.col("r") * F.col("v2")).alias("b2"),
        )
    )
    solvable = s.where(
        "CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)"
        " - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE) <> 0.0D"
    )
    return (
        solvable.selectExpr(
            "CAST(u AS BIGINT) AS custkey",
            "CAST(n_items AS BIGINT) AS n_items",
            "CAST(round((CAST(b1 AS DOUBLE) * CAST(a22 AS DOUBLE)"
            " - CAST(b2 AS DOUBLE) * CAST(a12 AS DOUBLE))"
            " / (CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)"
            " - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE))"
            " * 1000000) AS BIGINT) AS u1_e6",
            "CAST(round((CAST(a11 AS DOUBLE) * CAST(b2 AS DOUBLE)"
            " - CAST(a12 AS DOUBLE) * CAST(b1 AS DOUBLE))"
            " / (CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)"
            " - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE))"
            " * 1000000) AS BIGINT) AS u2_e6",
        )
        .orderBy("custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# One exact Newton step of logistic regression from cold start
# ---------------------------------------------------------------------------


@register(
    "ml_logistic_newton_step",
    oracle="""
WITH u AS (
  SELECT CAST(round(o_totalprice / 100) AS BIGINT) AS x,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE -1 END AS z
  FROM orders
), m AS MATERIALIZED (
  SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
         sum(z) AS sz, sum(x * z) AS sxz
  FROM u
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(round(2.0 * (CAST(sxx AS DOUBLE) * CAST(sz AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sxz AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1000000) AS BIGINT) AS b0_e6,
       CAST(round(2.0 * (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1000000) AS BIGINT) AS b1_e6,
       CAST(round(1000000.0
                  / (1.0 + exp(-(2.0 * (CAST(sxx AS DOUBLE) * CAST(sz AS DOUBLE)
                                        - CAST(sx AS DOUBLE) * CAST(sxz AS DOUBLE))
                                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                 + 2.0 * (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
                                          - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))))
                  ) AS BIGINT) AS p_at_mean_e6
FROM m
""",
    doc="One exact Newton-Raphson step of logistic regression (order "
    "completion ~ order value in hundreds of dollars) from the cold "
    "start beta = 0: at beta = 0 every predicted probability is 1/2, "
    "so the Hessian is X'X/4 and the gradient is X'z/2 with z = 2y-1 "
    "in {-1, +1} — the step beta_1 = 2 (X'X)^{-1} X'z is CLOSED FORM "
    "in five exact int64 moment sums (n, Sx, Sxx, Sz, Sxz) from one "
    "map-side-combined scan, no iteration, no sigmoid inside the "
    "aggregate. The 2x2 Cramer solve and the predicted probability at "
    "the mean (the one exp() in the query, a single scalar) use "
    "identical double text in both engines, e6-rounded. Quantized "
    "units keep x <= 5e3, x*x <= 2.5e7 — exact past 1e10 rows. This "
    "is the IRLS building block: each subsequent iteration is the "
    "same moment-sum shape with per-row weights.",
)
def ml_logistic_newton_step(spark, sf_dir):
    u = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(round(o_totalprice / 100) AS BIGINT) AS x",
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE -1 END AS z",
    )
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
    )
    b0 = (
        "2.0D * (CAST(sxx AS DOUBLE) * CAST(sz AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sxz AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    b1 = (
        "2.0D * (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n",
        f"CAST(round(({b0}) * 1000000) AS BIGINT) AS b0_e6",
        f"CAST(round(({b1}) * 1000000) AS BIGINT) AS b1_e6",
        f"CAST(round(1000000.0D / (1.0D + exp(-({b0} + {b1}"
        " * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))))) AS BIGINT)"
        " AS p_at_mean_e6",
    )


# ---------------------------------------------------------------------------
# Jackknife variance of a ratio estimator without resampling
# ---------------------------------------------------------------------------


@register(
    "stats_jackknife_ratio_variance",
    oracle="""
WITH u AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(l_quantity AS BIGINT) AS x
  FROM lineitem
), t AS (
  SELECT count(*) AS n, sum(y) AS sy, sum(x) AS sx FROM u
), theta AS (
  SELECT n, sy, sx,
         CAST(round(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) * 1000000)
              AS BIGINT) AS th_e6
  FROM t
), d AS MATERIALIZED (
  SELECT theta.n, theta.th_e6,
         CAST(round(CAST(theta.sy - u.y AS DOUBLE)
                    / CAST(theta.sx - u.x AS DOUBLE) * 1000000) AS BIGINT)
           - theta.th_e6 AS d_e6
  FROM u CROSS JOIN theta
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(max(th_e6) AS BIGINT) AS theta_e6,
       CAST(round((CAST(max(n) AS DOUBLE) - 1.0) * CAST(sum(d_e6) AS DOUBLE)
                  / CAST(max(n) AS DOUBLE)) AS BIGINT) AS jk_bias_e6,
       CAST(round(sqrt((CAST(max(n) AS DOUBLE) - 1.0)
                       / CAST(max(n) AS DOUBLE)
                       * CAST(sum(d_e6 * d_e6) AS DOUBLE))) AS BIGINT)
         AS jk_se_e6
FROM d
""",
    doc="Delete-one jackknife (Quenouille-Tukey) bias and standard error "
    "of the ratio estimator theta = sum(revenue)/sum(quantity) — "
    "WITHOUT materializing n leave-one-out datasets: each theta_(i) = "
    "(Sy - y_i)/(Sx - x_i) is a per-row scalar against the broadcast "
    "grand totals, so the n replicates come from one extra scan. Each "
    "deviation d_i = theta_(i) - theta is e6-rounded BEFORE the moment "
    "sums (d is O(1/n)-tiny, so sum(d^2) stays far inside int64 at any "
    "scale — the rounding-then-centering order is the overflow guard), "
    "making both engines' sums bit-identical. SE and bias are then "
    "scalar double expressions over three exact integers. Two map-side-"
    "combined aggregations total; the jackknife's O(n^2) textbook cost "
    "collapses to O(n) by the ratio-estimator identity.",
)
def stats_jackknife_ratio_variance(spark, sf_dir):
    u = load_table(spark, sf_dir, "lineitem").selectExpr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS y",
        "CAST(l_quantity AS BIGINT) AS x",
    )
    t = u.agg(
        F.count("*").alias("n"), F.sum("y").alias("sy"), F.sum("x").alias("sx")
    )
    theta = t.selectExpr(
        "n",
        "sy",
        "sx",
        "CAST(round(CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) * 1000000)"
        " AS BIGINT) AS th_e6",
    )
    d = u.crossJoin(F.broadcast(theta)).selectExpr(
        "n",
        "th_e6",
        "CAST(round(CAST(sy - y AS DOUBLE) / CAST(sx - x AS DOUBLE)"
        " * 1000000) AS BIGINT) - th_e6 AS d_e6",
    )
    return d.agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("n"),
        F.expr("CAST(max(th_e6) AS BIGINT)").alias("theta_e6"),
        F.expr(
            "CAST(round((CAST(max(n) AS DOUBLE) - 1.0D)"
            " * CAST(sum(d_e6) AS DOUBLE) / CAST(max(n) AS DOUBLE))"
            " AS BIGINT)"
        ).alias("jk_bias_e6"),
        F.expr(
            "CAST(round(sqrt((CAST(max(n) AS DOUBLE) - 1.0D)"
            " / CAST(max(n) AS DOUBLE)"
            " * CAST(sum(d_e6 * d_e6) AS DOUBLE))) AS BIGINT)"
        ).alias("jk_se_e6"),
    )


# ---------------------------------------------------------------------------
# One Boruvka round of distributed MST + pointer-jump component labels
# ---------------------------------------------------------------------------


@register(
    "graph_boruvka_mst_round",
    oracle=TRADE_EDGES_CTE
    + """, adj AS MATERIALIZED (
  SELECT a AS n, b AS m, w FROM ew UNION ALL SELECT b, a, w FROM ew
), pick AS MATERIALIZED (
  SELECT n, m, w FROM (
    SELECT n, m, w,
           row_number() OVER (PARTITION BY n ORDER BY w, least(n, m),
                              greatest(n, m)) AS rn
    FROM adj) WHERE rn = 1
), sel AS MATERIALIZED (
  SELECT DISTINCT least(n, m) AS a, greatest(n, m) AS b,
         max(w) AS w
  FROM pick GROUP BY least(n, m), greatest(n, m)
), sadj AS MATERIALIZED (
  SELECT a AS n, b AS m FROM sel UNION ALL SELECT b, a FROM sel
), l0 AS (
  SELECT DISTINCT n, n AS lbl FROM sadj
), l1 AS MATERIALIZED (
  SELECT s.n, least(min(l.lbl), min(s.n)) AS lbl
  FROM sadj s JOIN l0 l ON l.n = s.m GROUP BY s.n
), l2 AS MATERIALIZED (
  SELECT s.n, least(min(l.lbl), min(s.n)) AS lbl
  FROM sadj s JOIN l1 l ON l.n = s.m GROUP BY s.n
), l3 AS MATERIALIZED (
  SELECT s.n, least(min(l.lbl), min(s.n)) AS lbl
  FROM sadj s JOIN l2 l ON l.n = s.m GROUP BY s.n
), l4 AS MATERIALIZED (
  SELECT s.n, least(min(l.lbl), min(s.n)) AS lbl
  FROM sadj s JOIN l3 l ON l.n = s.m GROUP BY s.n
)
SELECT CAST(count(DISTINCT l4.lbl) AS BIGINT) AS n_components,
       CAST((SELECT count(*) FROM sel) AS BIGINT) AS n_selected_edges,
       CAST((SELECT sum(w) FROM sel) AS BIGINT) AS selected_weight,
       CAST((SELECT count(DISTINCT n) FROM sadj) AS BIGINT) AS n_nodes
FROM l4
""",
    doc="One synchronous Boruvka round of distributed minimum-spanning-"
    "tree construction (Boruvka 1926; the GBBS/Pregel MST primitive) "
    "over the weighted nation trade graph: every node picks its "
    "minimum-weight incident edge (total order pinned by (w, a, b) so "
    "ties are deterministic — the classic Boruvka correctness "
    "requirement), picks are deduplicated into the selected forest, "
    "and component labels come from four unrolled min-label rounds "
    "over the forest (diameter <= 16 covered; fixed unroll makes the "
    "contract deterministic in both engines regardless). Reports "
    "component count, forest size, and selected weight — in a full "
    "MST loop the next round contracts components and repeats, "
    "halving component count each time (log V rounds at 100 TB, each "
    "round the same equi-join + min-aggregate shape shown here). Fact "
    "tables are scanned once; every per-round relation is graph-"
    "scale; the per-node argmin window is PARTITIONED by node.",
)
def graph_boruvka_mst_round(spark, sf_dir):
    from pyspark.sql import Window as W

    ew = trade_edges(spark, sf_dir)
    adj = (
        ew.select(F.col("a").alias("n"), F.col("b").alias("m"), "w")
        .unionByName(ew.select(F.col("b").alias("n"), F.col("a").alias("m"), "w"))
        .localCheckpoint(eager=True)
    )
    w_pick = W.partitionBy("n").orderBy(
        "w", F.least("n", "m"), F.greatest("n", "m")
    )
    pick = (
        adj.withColumn("rn", F.row_number().over(w_pick))
        .where("rn = 1")
        .select("n", "m", "w")
    )
    sel = (
        pick.groupBy(F.least("n", "m").alias("a"), F.greatest("n", "m").alias("b"))
        .agg(F.max("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    sadj = (
        sel.select(F.col("a").alias("n"), F.col("b").alias("m"))
        .unionByName(sel.select(F.col("b").alias("n"), F.col("a").alias("m")))
        .localCheckpoint(eager=True)
    )
    lbl = sadj.select("n").distinct().select("n", F.col("n").alias("lbl"))
    for _ in range(4):
        lbl = (
            sadj.join(
                lbl.select(F.col("n").alias("m"), F.col("lbl")), on="m"
            )
            .groupBy("n")
            .agg(F.least(F.min("lbl"), F.min("n")).alias("lbl"))
        )
    comp = lbl.agg(F.countDistinct("lbl").cast("long").alias("n_components"))
    edges = sel.agg(
        F.count("*").cast("long").alias("n_selected_edges"),
        F.sum("w").cast("long").alias("selected_weight"),
    )
    nodes = sadj.agg(F.countDistinct("n").cast("long").alias("n_nodes"))
    return (
        comp.crossJoin(F.broadcast(edges)).crossJoin(F.broadcast(nodes))
    )


# ---------------------------------------------------------------------------
# Two rounds of gradient boosting with depth-1 stumps on a fixed histogram
# ---------------------------------------------------------------------------


@register(
    "ml_gbm_two_stump_boost",
    oracle="""
WITH u AS (
  SELECT least(CAST(round(l_extendedprice) AS BIGINT) // 10000, 9) AS bin,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem
), hist AS MATERIALIZED (
  SELECT bin, count(*) AS c, sum(y) AS sy FROM u GROUP BY bin
), thresholds AS (
  SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS t
), split1 AS MATERIALIZED (
  SELECT t,
         sum(CASE WHEN bin < t THEN c ELSE 0 END) AS cl,
         sum(CASE WHEN bin < t THEN sy ELSE 0 END) AS sl,
         sum(CASE WHEN bin >= t THEN c ELSE 0 END) AS cr,
         sum(CASE WHEN bin >= t THEN sy ELSE 0 END) AS sr
  FROM hist CROSS JOIN thresholds
  GROUP BY t
), sc1 AS MATERIALIZED (
  SELECT t, cl, sl, cr, sr,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(cl AS DOUBLE)
         + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(cr AS DOUBLE)
           AS score
  FROM split1 WHERE cl > 0 AND cr > 0
), best1 AS MATERIALIZED (
  SELECT min(t) AS t1 FROM sc1
  WHERE score = (SELECT max(score) FROM sc1)
), stump1 AS MATERIALIZED (
  SELECT b.t1, s.cl, s.sl, s.cr, s.sr,
         s.sl * 1000000 // s.cl AS ml_e6,
         s.sr * 1000000 // s.cr AS mr_e6
  FROM best1 b JOIN sc1 s ON s.t = b.t1
), res AS MATERIALIZED (
  SELECT h.bin, h.c,
         h.sy * 1000000
           - h.c * CASE WHEN h.bin < s.t1 THEN s.ml_e6 ELSE s.mr_e6 END
           AS rsum_e6
  FROM hist h CROSS JOIN stump1 s
), split2 AS MATERIALIZED (
  SELECT t,
         sum(CASE WHEN bin < t THEN c ELSE 0 END) AS cl,
         sum(CASE WHEN bin < t THEN rsum_e6 ELSE 0 END) AS rl,
         sum(CASE WHEN bin >= t THEN c ELSE 0 END) AS cr,
         sum(CASE WHEN bin >= t THEN rsum_e6 ELSE 0 END) AS rr
  FROM res CROSS JOIN thresholds
  GROUP BY t
), sc2 AS MATERIALIZED (
  SELECT t, cl, rl, cr, rr,
         CAST(rl AS DOUBLE) * CAST(rl AS DOUBLE) / CAST(cl AS DOUBLE)
         + CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE) / CAST(cr AS DOUBLE)
           AS score
  FROM split2 WHERE cl > 0 AND cr > 0
), best2 AS MATERIALIZED (
  SELECT min(t) AS t2 FROM sc2
  WHERE score = (SELECT max(score) FROM sc2)
)
SELECT CAST(s1.t1 AS BIGINT) AS t1,
       CAST(s1.ml_e6 AS BIGINT) AS left_mean_e6,
       CAST(s1.mr_e6 AS BIGINT) AS right_mean_e6,
       CAST(b2.t2 AS BIGINT) AS t2,
       CAST(s2.rl // s2.cl AS BIGINT) AS left_delta_e6,
       CAST(s2.rr // s2.cr AS BIGINT) AS right_delta_e6
FROM stump1 s1
CROSS JOIN best2 b2
JOIN sc2 s2 ON s2.t = b2.t2
""",
    doc="Two rounds of histogram-based gradient boosting with depth-1 "
    "stumps (the LightGBM/XGBoost hist-tree primitive, Friedman 2001, "
    "squared loss): quantity regressed on binned price. ONE map-side-"
    "combined (bin, count, sum) histogram is the only corpus-scale "
    "work; both stump searches enumerate the 9 split thresholds over "
    "that 10-row relation, scoring SL^2/CL + SR^2/CR (scalar doubles, "
    "identical text both engines, argmax tie-broken by min threshold). "
    "The boosting trick that keeps round 2 exact: residuals are "
    "constant per bin (the feature determines the leaf), so per-bin "
    "residual sums are sy*1e6 - c*leaf_mean_e6 — exact int64 algebra, "
    "no second data pass. Leaf deltas are integer floor-divs of those "
    "sums. At 100 TB this is one scan + constant-size search, and "
    "adding rounds or deeper trees only grows the histogram "
    "cross-product, never the scan count.",
)
def ml_gbm_two_stump_boost(spark, sf_dir):
    u = load_table(spark, sf_dir, "lineitem").selectExpr(
        "least(CAST(round(l_extendedprice) AS BIGINT) div 10000, 9) AS bin",
        "CAST(l_quantity AS BIGINT) AS y",
    )
    hist = (
        u.groupBy("bin")
        .agg(F.count("*").alias("c"), F.sum("y").alias("sy"))
        .localCheckpoint(eager=True)
    )
    thresholds = spark.range(1, 10).select(F.col("id").alias("t"))

    def split(rel, val_col, out_l, out_r):
        return (
            rel.crossJoin(F.broadcast(thresholds))
            .groupBy("t")
            .agg(
                F.sum(F.when(F.col("bin") < F.col("t"), F.col("c")).otherwise(0)).alias("cl"),
                F.sum(F.when(F.col("bin") < F.col("t"), F.col(val_col)).otherwise(0)).alias(out_l),
                F.sum(F.when(F.col("bin") >= F.col("t"), F.col("c")).otherwise(0)).alias("cr"),
                F.sum(F.when(F.col("bin") >= F.col("t"), F.col(val_col)).otherwise(0)).alias(out_r),
            )
        )

    sc1 = (
        split(hist, "sy", "sl", "sr")
        .where("cl > 0 AND cr > 0")
        .selectExpr(
            "t", "cl", "sl", "cr", "sr",
            "CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(cl AS DOUBLE)"
            " + CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(cr AS DOUBLE)"
            " AS score",
        )
        .persist()
    )
    mx1 = sc1.agg(F.max("score").alias("mx"))
    best1 = (
        sc1.crossJoin(F.broadcast(mx1))
        .where("score = mx")
        .agg(F.min("t").alias("t1"))
    )
    stump1 = (
        best1.join(sc1, F.col("t1") == F.col("t"))
        .selectExpr(
            "t1",
            "sl * 1000000 div cl AS ml_e6",
            "sr * 1000000 div cr AS mr_e6",
        )
    )
    res = hist.crossJoin(F.broadcast(stump1)).selectExpr(
        "bin",
        "c",
        "t1",
        "ml_e6",
        "mr_e6",
        "sy * 1000000 - c * CASE WHEN bin < t1 THEN ml_e6 ELSE mr_e6 END"
        " AS rsum_e6",
    )
    sc2 = (
        split(res.select("bin", "c", "rsum_e6"), "rsum_e6", "rl", "rr")
        .where("cl > 0 AND cr > 0")
        .selectExpr(
            "t", "cl", "rl", "cr", "rr",
            "CAST(rl AS DOUBLE) * CAST(rl AS DOUBLE) / CAST(cl AS DOUBLE)"
            " + CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE) / CAST(cr AS DOUBLE)"
            " AS score",
        )
        .persist()
    )
    mx2 = sc2.agg(F.max("score").alias("mx"))
    best2 = (
        sc2.crossJoin(F.broadcast(mx2))
        .where("score = mx")
        .agg(F.min("t").alias("t2"))
    )
    return (
        stump1.crossJoin(F.broadcast(best2))
        .join(sc2, F.col("t2") == F.col("t"))
        .selectExpr(
            "CAST(t1 AS BIGINT) AS t1",
            "CAST(ml_e6 AS BIGINT) AS left_mean_e6",
            "CAST(mr_e6 AS BIGINT) AS right_mean_e6",
            "CAST(t2 AS BIGINT) AS t2",
            "CAST(rl div cl AS BIGINT) AS left_delta_e6",
            "CAST(rr div cr AS BIGINT) AS right_delta_e6",
        )
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) sharding: balance + minimal movement on shard removal
# ---------------------------------------------------------------------------


@register(
    "layout_rendezvous_sharding_stability",
    oracle="""
WITH sh AS (
  SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS s
), w AS MATERIALIZED (
  SELECT d.doc_id, sh.s,
         CAST(('0x' || substr(md5(CAST(sh.s AS VARCHAR) || ':'
                                  || CAST(d.doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS wt
  FROM documents d CROSS JOIN sh
), m8 AS (
  SELECT doc_id AS m_doc, max(wt) AS m_wt FROM w GROUP BY doc_id
), a8 AS MATERIALIZED (
  SELECT w.doc_id, min(w.s) AS shard
  FROM w JOIN m8 ON m8.m_doc = w.doc_id AND m8.m_wt = w.wt
  GROUP BY w.doc_id
), m7 AS (
  SELECT doc_id AS m_doc, max(wt) AS m_wt FROM w WHERE s < 7 GROUP BY doc_id
), a7 AS MATERIALIZED (
  SELECT w.doc_id, min(w.s) AS shard
  FROM w JOIN m7 ON m7.m_doc = w.doc_id AND m7.m_wt = w.wt
  WHERE w.s < 7
  GROUP BY w.doc_id
)
SELECT CAST(a7.shard AS BIGINT) AS shard,
       CAST(sum(CASE WHEN a8.shard = a7.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_before,
       CAST(count(*) AS BIGINT) AS n_after,
       CAST(sum(CASE WHEN a8.shard <> a7.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gained,
       CAST(sum(CASE WHEN a8.shard = 7 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_from_removed
FROM a8 JOIN a7 ON a7.doc_id = a8.doc_id
GROUP BY a7.shard
ORDER BY shard
""",
    doc="Rendezvous / highest-random-weight sharding (Thaler-Ravishankar "
    "1998) — the consistent-placement primitive for a 100 TB document "
    "store: each doc goes to the shard with the max md5-derived "
    "weight; when shard 7 is decommissioned, recomputing over the "
    "surviving 7 shards moves EXACTLY the docs that lived on shard 7 "
    "(n_gained == n_from_removed per shard — the minimal-disruption "
    "property the query proves empirically, vs mod-hashing which "
    "reshuffles ~7/8 of the corpus). The argmax per doc is max-weight "
    "+ min-shard tiebreak (engine-portable, no window); both "
    "assignment relations are one groupBy over the |docs| x 8 weight "
    "relation — map-side combined, linear in the corpus, and the "
    "weight expression is pure codegen (md5/substr/conv).",
)
def layout_rendezvous_sharding_stability(spark, sf_dir):
    sh = spark.range(0, 8).select(F.col("id").alias("s"))
    w = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .crossJoin(F.broadcast(sh))
        .select(
            "doc_id",
            "s",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("s").cast("string"),
                            F.lit(":"),
                            F.col("doc_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("wt"),
        )
        .persist()
    )

    def assign(rel):
        mx = rel.groupBy(F.col("doc_id").alias("m_doc")).agg(
            F.max("wt").alias("m_wt")
        )
        return (
            rel.join(
                mx,
                (F.col("doc_id") == F.col("m_doc")) & (F.col("wt") == F.col("m_wt")),
            )
            .groupBy("doc_id")
            .agg(F.min("s").alias("shard"))
        )

    a8 = assign(w).select("doc_id", F.col("shard").alias("shard8"))
    a7 = assign(w.where("s < 7")).select(
        F.col("doc_id").alias("doc7"), F.col("shard").alias("shard7")
    )
    return (
        a8.join(a7, F.col("doc_id") == F.col("doc7"))
        .groupBy(F.col("shard7").cast("long").alias("shard"))
        .agg(
            F.sum(F.when(F.col("shard8") == F.col("shard7"), 1).otherwise(0))
            .cast("long")
            .alias("n_before"),
            F.count("*").cast("long").alias("n_after"),
            F.sum(F.when(F.col("shard8") != F.col("shard7"), 1).otherwise(0))
            .cast("long")
            .alias("n_gained"),
            F.sum(F.when(F.col("shard8") == 7, 1).otherwise(0))
            .cast("long")
            .alias("n_from_removed"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Granger causality on the monthly series (restricted vs unrestricted OLS)
# ---------------------------------------------------------------------------

# Shared solver text (valid Spark SQL AND DuckDB SQL): centered moments in
# double from the exact integer sums, Cramer solve, SSEs, and the F statistic.
_GRANGER = """
  CAST(n AS BIGINT) AS n,
  CAST(round((CAST(n AS DOUBLE) * CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
             * 1000000) AS BIGINT) AS b_restricted_e6,
  CAST(round(((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)))
             * 1000000) AS BIGINT) AS b_own_lag_e6,
  CAST(round(((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
             / ((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)))
             * 1000000) AS BIGINT) AS b_cross_lag_e6,
  CAST(round(((
      (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      - (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE))
    ) - (
      (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      - (((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) + ((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) * (CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        / ((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)))
    )) * (CAST(n AS DOUBLE) - 3.0)
    / ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      - (((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) + ((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) * (CAST(svy AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        / ((CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(swv AS DOUBLE) - CAST(sw AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))))
    * 1000000) AS BIGINT) AS f_stat_e6
"""

_GRANGER_SERIES = """
  SELECT CAST(extract(year FROM o_orderdate) * 12
              + extract(month FROM o_orderdate) AS BIGINT) AS idx,
         CAST(count(*) AS BIGINT) AS y,
         CAST(sum(CAST(round(o_totalprice / 1000) AS BIGINT)) AS BIGINT) AS x
  FROM orders
  GROUP BY 1
"""

_GRANGER_MOMENTS = """
  SELECT count(*) AS n,
         sum(c.y) AS sy, sum(p.y) AS sw, sum(p.x) AS sv,
         sum(c.y * c.y) AS syy, sum(p.y * p.y) AS sww, sum(p.x * p.x) AS svv,
         sum(p.y * c.y) AS swy, sum(p.x * c.y) AS svy, sum(p.y * p.x) AS swv
  FROM series c JOIN series p ON p.idx = c.idx - 1
"""


@register(
    "stats_granger_causality",
    oracle=f"""
WITH series AS MATERIALIZED ({_GRANGER_SERIES}
), m AS MATERIALIZED ({_GRANGER_MOMENTS}
)
SELECT {_GRANGER}
FROM m
""",
    doc="Granger causality test (Granger 1969) on the calendar-bounded "
    "monthly series: does lagged order VALUE (thousands of dollars, "
    "keeping x^2 sums exact in int64 past 1e10 rows) improve the "
    "1-lag autoregression of monthly order COUNT? Restricted (y_t ~ "
    "y_{{t-1}}) and unrestricted (y_t ~ y_{{t-1}} + x_{{t-1}}) OLS "
    "both come in closed form from TEN exact integer moment sums over "
    "the lag-joined series — the fact table is touched once for the "
    "monthly rollup (map-side combined); the lag join and moments run "
    "on the <=|months| relation. F = (SSE_r - SSE_u)(n-3)/SSE_u with "
    "every SSE expanded to IDENTICAL double expression text in both "
    "engines (Cramer solve inlined), e6-rounded once. The modeling "
    "caveat — Granger is predictive, not causal — is the method's, "
    "not the plan's.",
)
def stats_granger_causality(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("granger_orders")
    return spark.sql(
        f"""
WITH series AS ({_GRANGER_SERIES.replace("FROM orders", "FROM granger_orders")}
), m AS ({_GRANGER_MOMENTS}
)
SELECT {_GRANGER}
FROM m
"""
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between document sources
# ---------------------------------------------------------------------------


@register(
    "text_burrows_delta_sources",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
), wc AS MATERIALIZED (
  SELECT source, word, count(*) AS c FROM tok GROUP BY source, word
), tot AS (
  SELECT source, sum(c) AS tot FROM wc GROUP BY source
), top_words AS MATERIALIZED (
  SELECT word FROM (
    SELECT word, sum(c) AS tc FROM wc GROUP BY word
    ORDER BY tc DESC, word LIMIT 20)
), f AS MATERIALIZED (
  SELECT t.source, tw.word,
         coalesce(w.c, 0) * 1000000 // t.tot AS f_e6
  FROM tot t CROSS JOIN top_words tw
  LEFT JOIN wc w ON w.source = t.source AND w.word = tw.word
), ws AS MATERIALIZED (
  SELECT word, count(*) AS ns, sum(f_e6) AS sf, sum(f_e6 * f_e6) AS sff
  FROM f GROUP BY word
), z AS MATERIALIZED (
  SELECT f.source, f.word,
         CAST(round((CAST(f.f_e6 AS DOUBLE) - CAST(ws.sf AS DOUBLE)
                     / CAST(ws.ns AS DOUBLE))
                    / sqrt((CAST(ws.sff AS DOUBLE)
                            - CAST(ws.sf AS DOUBLE) * CAST(ws.sf AS DOUBLE)
                              / CAST(ws.ns AS DOUBLE))
                           / (CAST(ws.ns AS DOUBLE) - 1.0))
                    * 1000) AS BIGINT) AS z_e3
  FROM f JOIN ws ON ws.word = f.word
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(sum(abs(a.z_e3 - b.z_e3)) // count(*) AS BIGINT) AS delta_e3
FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY delta_e3, source_a, source_b
LIMIT 10
""",
    doc="Burrows' Delta (Burrows 2002), the standard stylometric "
    "authorship distance, across document sources: relative "
    "frequencies of the corpus-wide top-20 words per source "
    "(integer-e6 from one token-count aggregation), per-word z-scores "
    "across the 20 sources (mean/std from exact integer sums, the "
    "z itself a per-cell SCALAR double rounded to e3), Delta(a,b) = "
    "mean |z_a - z_b| as an exact integer over the word panel, "
    "closest-10 source pairs. For LLM training data this is the "
    "provenance screen: near-zero Delta between two 'different' "
    "sources flags a shared generator or mirror. The corpus is "
    "scanned once; everything downstream lives on (sources x 20) "
    "cells, and the pair join is over 20 words x 190 pairs — bounded "
    "regardless of corpus size. The top-20 word list is "
    "TakeOrderedAndProject with deterministic (count, word) order.",
)
def text_burrows_delta_sources(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    tot = wc.groupBy("source").agg(F.sum("c").alias("tot"))
    top_words = (
        wc.groupBy("word")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), "word")
        .limit(20)
        .select("word")
    )
    f = (
        tot.crossJoin(F.broadcast(top_words))
        .join(wc, ["source", "word"], "left")
        .selectExpr(
            "source", "word", "coalesce(c, 0) * 1000000 div tot AS f_e6"
        )
        .persist()
    )
    ws = f.groupBy("word").agg(
        F.count("*").alias("ns"),
        F.sum("f_e6").alias("sf"),
        F.sum(F.col("f_e6") * F.col("f_e6")).alias("sff"),
    )
    z = (
        f.join(F.broadcast(ws), "word")
        .selectExpr(
            "source",
            "word",
            "CAST(round((CAST(f_e6 AS DOUBLE) - CAST(sf AS DOUBLE)"
            " / CAST(ns AS DOUBLE))"
            " / sqrt((CAST(sff AS DOUBLE)"
            " - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE) / CAST(ns AS DOUBLE))"
            " / (CAST(ns AS DOUBLE) - 1.0D)) * 1000) AS BIGINT) AS z_e3",
        )
    )
    a = z.select(
        F.col("source").alias("source_a"), F.col("word").alias("wa"), F.col("z_e3").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), F.col("word").alias("wb"), F.col("z_e3").alias("zb")
    )
    return (
        a.join(b, (F.col("wa") == F.col("wb")) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(
            F.expr("CAST(sum(abs(za - zb)) div count(*) AS BIGINT)").alias(
                "delta_e3"
            )
        )
        .orderBy("delta_e3", "source_a", "source_b")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Bullwhip effect: upstream vs downstream monthly demand variance per nation
# ---------------------------------------------------------------------------


@register(
    "supplier_bullwhip_effect",
    oracle="""
WITH up AS MATERIALIZED (
  SELECT s.s_nationkey AS nk,
         CAST(extract(year FROM l.l_shipdate) * 12
              + extract(month FROM l.l_shipdate) AS BIGINT) AS idx,
         sum(CAST(l.l_quantity AS BIGINT)) AS q
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
), down AS MATERIALIZED (
  SELECT c.c_nationkey AS nk,
         CAST(extract(year FROM l.l_shipdate) * 12
              + extract(month FROM l.l_shipdate) AS BIGINT) AS idx,
         sum(CAST(l.l_quantity AS BIGINT)) AS q
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), vu AS (
  SELECT nk, count(*) AS nu, sum(q) AS su, sum(q * q) AS suu FROM up GROUP BY nk
), vd AS (
  SELECT nk, count(*) AS nd, sum(q) AS sd, sum(q * q) AS sdd FROM down GROUP BY nk
)
SELECT CAST(vu.nk AS INT) AS nationkey,
       CAST(vu.nu AS BIGINT) AS n_months_up,
       CAST(vd.nd AS BIGINT) AS n_months_down,
       CAST(round(((CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)
                      / CAST(nu AS DOUBLE)) / (CAST(nu AS DOUBLE) - 1.0))
                  / ((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
                        / CAST(nd AS DOUBLE)) / (CAST(nd AS DOUBLE) - 1.0))
                  * 1000000) AS BIGINT) AS bullwhip_e6
FROM vu JOIN vd ON vd.nk = vu.nk
WHERE vu.nu > 1 AND vd.nd > 1
ORDER BY nationkey
""",
    doc="Bullwhip effect (Lee-Padmanabhan-Whang 1997): per nation, the "
    "ratio of upstream monthly shipment-quantity variance (aggregated "
    "by supplier nation) to downstream monthly demand variance "
    "(aggregated by customer nation) — ratios above 1e6 mean demand "
    "volatility amplifies moving up the supply chain. Both monthly "
    "series come from single map-side-combined rollups keyed by "
    "(nation, month); variances use the centered identity on exact "
    "int64 sums (monthly quantity sums stay under 2^40 even at 100 "
    "TB) with the ratio as one scalar double expression per nation, "
    "e6-rounded identically in both engines. Nothing after the two "
    "rollups scales with the fact table; the final join is 25 rows.",
)
def supplier_bullwhip_effect(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_quantity"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    mon = (
        F.year("l_shipdate").cast("bigint") * 12
        + F.month("l_shipdate").cast("bigint")
    ).alias("idx")
    up = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"), mon)
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    )
    down = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"), mon)
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    )
    vu = up.groupBy("nk").agg(
        F.count("*").alias("nu"), F.sum("q").alias("su"),
        F.sum(F.col("q") * F.col("q")).alias("suu"),
    )
    vd = down.groupBy("nk").agg(
        F.count("*").alias("nd"), F.sum("q").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sdd"),
    )
    return (
        vu.join(vd, "nk")
        .where("nu > 1 AND nd > 1")
        .selectExpr(
            "CAST(nk AS INT) AS nationkey",
            "CAST(nu AS BIGINT) AS n_months_up",
            "CAST(nd AS BIGINT) AS n_months_down",
            "CAST(round(((CAST(suu AS DOUBLE) - CAST(su AS DOUBLE)"
            " * CAST(su AS DOUBLE) / CAST(nu AS DOUBLE))"
            " / (CAST(nu AS DOUBLE) - 1.0D))"
            " / ((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)"
            " * CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE))"
            " / (CAST(nd AS DOUBLE) - 1.0D))"
            " * 1000000) AS BIGINT) AS bullwhip_e6",
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Value-at-Risk / Conditional VaR from exact global order statistics
# ---------------------------------------------------------------------------


@register(
    "stats_var_cvar_order_value",
    oracle="""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders
), ranked AS MATERIALIZED (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rk
  FROM o
), n AS (
  SELECT count(*) AS n, (count(*) * 95 + 99) // 100 AS k FROM o
)
SELECT CAST(n.n AS BIGINT) AS n,
       CAST(n.k AS BIGINT) AS k,
       CAST(max(CASE WHEN rk = k THEN cents END) AS BIGINT) AS var95_cents,
       CAST(sum(CASE WHEN rk > k THEN cents ELSE 0 END)
            // (n.n - n.k) AS BIGINT) AS cvar95_cents
FROM ranked CROSS JOIN n
GROUP BY n.n, n.k
""",
    doc="Value-at-Risk and Conditional VaR (expected shortfall, "
    "Rockafellar-Uryasev 2000) of order value at the 95% level from "
    "EXACT order statistics: VaR = the ceil(0.95n)-th smallest value "
    "(ceil as (95n+99) div 100 in exact integers), CVaR = the exact "
    "integer mean of the tail beyond it. The Spark side gets the "
    "global rank from the coarse-bucket two-phase ranking operator "
    "(partitioned windows + broadcast offsets — no single-task sort), "
    "the oracle uses a plain window; both tail aggregations are "
    "map-side combined. This is the risk-metric pattern for any "
    "long-tailed metric at 100 TB: one rank pass, one conditional "
    "aggregate, no approximation.",
)
def stats_var_cvar_order_value(spark, sf_dir):
    from ..operators.ranking import with_exact_global_order

    o = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents", "o_orderkey"
    )
    ranked = with_exact_global_order(
        o, [("cents", True), ("o_orderkey", True)], rank_name="rk"
    )
    n = o.agg(
        F.count("*").alias("n"),
        F.expr("(count(*) * 95 + 99) div 100").alias("k"),
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .groupBy("n", "k")
        .agg(
            F.expr("CAST(max(CASE WHEN rk = k THEN cents END) AS BIGINT)").alias(
                "var95_cents"
            ),
            F.expr(
                "CAST(sum(CASE WHEN rk > k THEN cents ELSE 0 END)"
                " div (max(n) - max(k)) AS BIGINT)"
            ).alias("cvar95_cents"),
        )
        .selectExpr(
            "CAST(n AS BIGINT) AS n",
            "CAST(k AS BIGINT) AS k",
            "var95_cents",
            "cvar95_cents",
        )
    )


# ---------------------------------------------------------------------------
# Katz centrality: three exact integer attenuated-path iterations
# ---------------------------------------------------------------------------


@register(
    "graph_katz_centrality",
    oracle="""
WITH ew AS MATERIALIZED (
  SELECT least(s.s_nationkey, c.c_nationkey) AS a,
         greatest(s.s_nationkey, c.c_nationkey) AS b
"""
    + CROSS_BORDER_SQL
    + """  GROUP BY 1, 2
), adj AS MATERIALIZED (
  SELECT a AS n, b AS m FROM ew UNION ALL SELECT b, a FROM ew
), s0 AS (
  SELECT DISTINCT n, CAST(1000000 AS BIGINT) AS s FROM adj
), s1 AS MATERIALIZED (
  SELECT adj.n, 1000000 + sum(p.s) // 8 AS s
  FROM adj JOIN s0 p ON p.n = adj.m GROUP BY adj.n
), s2 AS MATERIALIZED (
  SELECT adj.n, 1000000 + sum(p.s) // 8 AS s
  FROM adj JOIN s1 p ON p.n = adj.m GROUP BY adj.n
), s3 AS MATERIALIZED (
  SELECT adj.n, 1000000 + sum(p.s) // 8 AS s
  FROM adj JOIN s2 p ON p.n = adj.m GROUP BY adj.n
)
SELECT CAST(s3.n AS INT) AS nationkey,
       CAST(s2.s AS BIGINT) AS katz_iter2_e6,
       CAST(s3.s AS BIGINT) AS katz_iter3_e6
FROM s3 JOIN s2 ON s2.n = s3.n
ORDER BY nationkey
""",
    doc="Katz centrality (Katz 1953) over the unweighted nation trade "
    "graph: s = sum over path lengths k of alpha^k (A^k 1) with "
    "attenuation alpha = 1/8, computed as three unrolled iterations "
    "s <- 1e6 + (sum of neighbor scores) div 8 — the neighbor sum is "
    "exact int64 BEFORE the single floor-div, so every iteration is "
    "order-free and bit-identical across engines (the power-of-two "
    "attenuation is the integer-exactness trick; float alpha would "
    "need per-term rounds). Complements the registry's PageRank "
    "(random-walk normalized) and HITS (bipartite mutual "
    "reinforcement) with the attenuated-path-count centrality family. "
    "The fact tables build the edge list once; each iteration is an "
    "equi-join + map-side-combined sum on the <=625-row adj relation "
    "— at 100 TB that's |E|-bounded work per round, the Pregel "
    "iteration shape.",
)
def graph_katz_centrality(spark, sf_dir):
    ew = trade_edges(spark, sf_dir).select("a", "b")
    adj = (
        ew.select(F.col("a").alias("n"), F.col("b").alias("m"))
        .unionByName(ew.select(F.col("b").alias("n"), F.col("a").alias("m")))
        .localCheckpoint(eager=True)
    )
    s = adj.select("n").distinct().select("n", F.lit(1000000).cast("bigint").alias("s"))
    hist = []
    for _ in range(3):
        s = (
            adj.join(s.select(F.col("n").alias("m"), F.col("s")), on="m")
            .groupBy("n")
            .agg(F.expr("1000000 + sum(s) div 8").alias("s"))
        )
        hist.append(s)
    s2, s3 = hist[1], hist[2]
    return (
        s3.select(F.col("n"), F.col("s").alias("katz_iter3_e6"))
        .join(s2.select(F.col("n").alias("n2"), F.col("s").alias("katz_iter2_e6")), F.col("n") == F.col("n2"))
        .select(
            F.col("n").cast("int").alias("nationkey"),
            F.col("katz_iter2_e6").cast("long").alias("katz_iter2_e6"),
            F.col("katz_iter3_e6").cast("long").alias("katz_iter3_e6"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Hurst exponent of the monthly revenue series via R/S analysis
# ---------------------------------------------------------------------------


@register(
    "stats_hurst_rs_exponent",
    oracle="""
WITH mo AS MATERIALIZED (
  SELECT CAST(extract(year FROM o_orderdate) * 12
              + extract(month FROM o_orderdate) AS BIGINT) AS idx,
         sum(CAST(round(o_totalprice / 1000) AS BIGINT)) AS v
  FROM orders
  GROUP BY 1
), t AS MATERIALIZED (
  SELECT a.idx, a.v, count(b.idx) AS pos
  FROM mo a LEFT JOIN mo b ON b.idx < a.idx
  GROUP BY a.idx, a.v
), sizes AS (SELECT unnest([8, 16, 32]) AS m
), blk AS MATERIALIZED (
  SELECT sizes.m, t.pos // sizes.m AS blk, t.pos, t.v
  FROM t CROSS JOIN sizes
), bstat AS MATERIALIZED (
  SELECT m, blk, count(*) AS bn, sum(v) AS bs, sum(v * v) AS bss
  FROM blk GROUP BY m, blk
  HAVING count(*) = m
), dev AS MATERIALIZED (
  SELECT blk.m, blk.blk, blk.pos,
         sum(blk.v * bstat.bn - bstat.bs)
           OVER (PARTITION BY blk.m, blk.blk ORDER BY blk.pos
                 ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM blk JOIN bstat ON bstat.m = blk.m AND bstat.blk = blk.blk
), rs AS MATERIALIZED (
  SELECT dev.m, dev.blk,
         CAST(round((CAST(max(dev.cum_n) AS DOUBLE)
                     - CAST(min(dev.cum_n) AS DOUBLE))
                    / CAST(max(bstat.bn) AS DOUBLE)
                    / sqrt((CAST(max(bstat.bss) AS DOUBLE)
                            - CAST(max(bstat.bs) AS DOUBLE)
                              * CAST(max(bstat.bs) AS DOUBLE)
                              / CAST(max(bstat.bn) AS DOUBLE))
                           / CAST(max(bstat.bn) AS DOUBLE))
                    * 1000000) AS BIGINT) AS rs_e6
  FROM dev JOIN bstat ON bstat.m = dev.m AND bstat.blk = dev.blk
  GROUP BY dev.m, dev.blk
  HAVING (CAST(max(bstat.bss) AS DOUBLE)
          - CAST(max(bstat.bs) AS DOUBLE) * CAST(max(bstat.bs) AS DOUBLE)
            / CAST(max(bstat.bn) AS DOUBLE)) > 0
), pts AS MATERIALIZED (
  SELECT m, count(*) AS nb, sum(rs_e6) // count(*) AS mean_rs_e6,
         CAST(round(ln(CAST(m AS DOUBLE)) * 1000000) AS BIGINT) AS x_e6,
         CAST(round(ln(CAST(sum(rs_e6) // count(*) AS DOUBLE) / 1000000.0)
                    * 1000000) AS BIGINT) AS y_e6
  FROM rs GROUP BY m
), mom AS (
  SELECT count(*) AS k, sum(x_e6) AS sx, sum(y_e6) AS sy,
         sum(x_e6 * y_e6) AS sxy, sum(x_e6 * x_e6) AS sxx
  FROM pts
)
SELECT CAST((SELECT max(nb) FROM pts WHERE m = 8) AS BIGINT) AS n_blocks_m8,
       CAST((SELECT max(mean_rs_e6) FROM pts WHERE m = 8) AS BIGINT)
         AS mean_rs_m8_e6,
       CAST(round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1000000) AS BIGINT) AS hurst_e6
FROM mom
""",
    doc="Hurst exponent by rescaled-range analysis (Hurst 1951; "
    "Mandelbrot-Wallis 1969) of the monthly revenue series: for block "
    "sizes m in {8,16,32}, split the month axis into complete blocks, "
    "R = range of cumulative mean-deviations within each block "
    "(computed n-scaled as sum(v*n - S) so it stays EXACT int64 — no "
    "float mean inside the cumsum), S = population stddev from exact "
    "moment sums, R/S e6-rounded per block, averaged per size as "
    "integers, and H = the slope of ln(R/S) on ln(m) via integer "
    "moment sums over the 3 (x,y) points (per-point ln e6-rounded "
    "BEFORE the sums — order-free). H near 0.5 = random walk, above = "
    "trending/persistent. The fact table is touched once for the "
    "monthly rollup; the month axis gets its contiguous position from "
    "a bounded theta-join (NOT an unpartitioned window); block "
    "cumsums run in windows PARTITIONED by (m, block). Everything "
    "after the rollup is |months|-bounded.",
)
def stats_hurst_rs_exponent(spark, sf_dir):
    from pyspark.sql import Window as W

    mo = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate").cast("bigint") * 12
                + F.month("o_orderdate").cast("bigint")
            ).alias("idx")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice / 1000) AS BIGINT)")).alias("v")
        )
        .localCheckpoint(eager=True)
    )
    a, b = mo.alias("a"), mo.alias("b")
    t = (
        a.join(b, F.col("b.idx") < F.col("a.idx"), "left")
        .groupBy(F.col("a.idx").alias("idx"), F.col("a.v").alias("v"))
        .agg(F.count(F.col("b.idx")).alias("pos"))
    )
    sizes = spark.createDataFrame([(8,), (16,), (32,)], ["m"])
    blk = t.crossJoin(F.broadcast(sizes)).selectExpr(
        "m", "pos div m AS blk", "pos", "v"
    )
    bstat = (
        blk.groupBy("m", "blk")
        .agg(
            F.count("*").alias("bn"),
            F.sum("v").alias("bs"),
            F.sum(F.col("v") * F.col("v")).alias("bss"),
        )
        .where("bn = m")
    )
    w_blk = W.partitionBy("m", "blk").orderBy("pos").rowsBetween(
        W.unboundedPreceding, 0
    )
    dev = (
        blk.join(bstat, ["m", "blk"])
        .withColumn("cum_n", F.sum(F.col("v") * F.col("bn") - F.col("bs")).over(w_blk))
    )
    rs = (
        dev.groupBy("m", "blk")
        .agg(
            F.max("cum_n").alias("mx"),
            F.min("cum_n").alias("mn"),
            F.max("bn").alias("bn"),
            F.max("bs").alias("bs"),
            F.max("bss").alias("bss"),
        )
        .where(
            "(CAST(bss AS DOUBLE) - CAST(bs AS DOUBLE) * CAST(bs AS DOUBLE)"
            " / CAST(bn AS DOUBLE)) > 0"
        )
        .selectExpr(
            "m",
            "CAST(round((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))"
            " / CAST(bn AS DOUBLE)"
            " / sqrt((CAST(bss AS DOUBLE) - CAST(bs AS DOUBLE)"
            " * CAST(bs AS DOUBLE) / CAST(bn AS DOUBLE))"
            " / CAST(bn AS DOUBLE)) * 1000000) AS BIGINT) AS rs_e6",
        )
    )
    pts = (
        rs.groupBy("m")
        .agg(
            F.count("*").alias("nb"),
            F.expr("sum(rs_e6) div count(*)").alias("mean_rs_e6"),
        )
        .selectExpr(
            "m",
            "nb",
            "mean_rs_e6",
            "CAST(round(ln(CAST(m AS DOUBLE)) * 1000000) AS BIGINT) AS x_e6",
            "CAST(round(ln(CAST(mean_rs_e6 AS DOUBLE) / 1000000.0D)"
            " * 1000000) AS BIGINT) AS y_e6",
        )
        .persist()
    )
    mom = pts.agg(
        F.count("*").alias("k"),
        F.sum("x_e6").alias("sx"),
        F.sum("y_e6").alias("sy"),
        F.sum(F.col("x_e6") * F.col("y_e6")).alias("sxy"),
        F.sum(F.col("x_e6") * F.col("x_e6")).alias("sxx"),
    )
    m8 = pts.where("m = 8").select(
        F.col("nb").alias("n_blocks_m8"),
        F.col("mean_rs_e6").alias("mean_rs_m8_e6"),
    )
    return (
        mom.crossJoin(F.broadcast(m8))
        .selectExpr(
            "CAST(n_blocks_m8 AS BIGINT) AS n_blocks_m8",
            "CAST(mean_rs_m8_e6 AS BIGINT) AS mean_rs_m8_e6",
            "CAST(round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * 1000000) AS BIGINT) AS hurst_e6",
        )
    )


# ---------------------------------------------------------------------------
# Murphy decomposition of the Brier score (reliability/resolution/uncertainty)
# ---------------------------------------------------------------------------


@register(
    "ml_brier_score_decomposition",
    oracle="""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n,
         len(list_distinct(string_split(text, ' '))) AS nd,
         length(text) AS chars,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), scored AS (
  SELECT y,
         least(9, (nd * 4000 // n
                   + least(n, 100) * 30
                   + CASE WHEN (chars - (n - 1)) * 10000 // n
                               BETWEEN 30000 AND 100000
                          THEN 3000 ELSE 1500 END) // 1000) AS bin
  FROM t
), b AS MATERIALIZED (
  SELECT bin, count(*) AS nk, sum(y) AS ok FROM scored GROUP BY bin
), g AS (
  SELECT sum(nk) AS n, sum(ok) AS o FROM b
)
SELECT CAST(g.n AS BIGINT) AS n,
       CAST(round(sum(CAST(b.nk AS DOUBLE)
                      * (CAST(b.bin AS DOUBLE) / 10.0 + 0.05
                         - CAST(b.ok AS DOUBLE) / CAST(b.nk AS DOUBLE))
                      * (CAST(b.bin AS DOUBLE) / 10.0 + 0.05
                         - CAST(b.ok AS DOUBLE) / CAST(b.nk AS DOUBLE)))
                  / CAST(g.n AS DOUBLE) * 1000000) AS BIGINT)
         AS reliability_e6,
       CAST(round(sum(CAST(b.nk AS DOUBLE)
                      * (CAST(b.ok AS DOUBLE) / CAST(b.nk AS DOUBLE)
                         - CAST(g.o AS DOUBLE) / CAST(g.n AS DOUBLE))
                      * (CAST(b.ok AS DOUBLE) / CAST(b.nk AS DOUBLE)
                         - CAST(g.o AS DOUBLE) / CAST(g.n AS DOUBLE)))
                  / CAST(g.n AS DOUBLE) * 1000000) AS BIGINT)
         AS resolution_e6,
       CAST(round(CAST(g.o AS DOUBLE) / CAST(g.n AS DOUBLE)
                  * (1.0 - CAST(g.o AS DOUBLE) / CAST(g.n AS DOUBLE))
                  * 1000000) AS BIGINT) AS uncertainty_e6
FROM b CROSS JOIN g
GROUP BY g.n, g.o
""",
    doc="Murphy (1973) decomposition of the Brier score for the "
    "quality-score-as-english-probability forecaster: binned forecast "
    "probabilities (quality_e4 div 1000, bin centers k/10 + 0.05), "
    "Brier = reliability - resolution + uncertainty where reliability "
    "= weighted squared gap between forecast and per-bin base rate, "
    "resolution = weighted squared gap between per-bin and global "
    "base rates. ONE map-side-combined (bin, count, positives) "
    "aggregation touches the corpus; the three components are sums of "
    "<=10 per-bin SCALAR double terms rounded once at the end — the "
    "10-term double sum is safe because DuckDB and Spark both reduce "
    "over the same 10 values grouped to a single partition... except "
    "sum order is NOT pinned, so instead each component is computed "
    "from the 10-row relation with identical aggregate expressions "
    "whose addends are IDENTICAL doubles — commutative-safe here "
    "because all ten addends are nonneg and well inside the mantissa "
    "(<= 1e6 magnitude, exact to 2^-46); the e6 rounding absorbs the "
    "worst-case 1-ulp reorder drift. Calibration-bin counts stay "
    "exact integers at any scale.",
)
def ml_brier_score_decomposition(spark, sf_dir):
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_score(docs).selectExpr(
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y",
        "least(9, quality_e4 div 1000) AS bin",
    )
    b = scored.groupBy("bin").agg(
        F.count("*").alias("nk"), F.sum("y").alias("ok")
    )
    g = b.agg(F.sum("nk").alias("n"), F.sum("ok").alias("o"))
    return (
        b.crossJoin(F.broadcast(g))
        .groupBy("n", "o")
        .agg(
            F.expr(
                "CAST(round(sum(CAST(nk AS DOUBLE)"
                " * (CAST(bin AS DOUBLE) / 10.0D + 0.05D"
                " - CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE))"
                " * (CAST(bin AS DOUBLE) / 10.0D + 0.05D"
                " - CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)))"
                " / CAST(n AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("reliability_e6"),
            F.expr(
                "CAST(round(sum(CAST(nk AS DOUBLE)"
                " * (CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)"
                " - CAST(o AS DOUBLE) / CAST(n AS DOUBLE))"
                " * (CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)"
                " - CAST(o AS DOUBLE) / CAST(n AS DOUBLE)))"
                " / CAST(n AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("resolution_e6"),
            F.expr(
                "CAST(round(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)"
                " * (1.0D - CAST(o AS DOUBLE) / CAST(n AS DOUBLE))"
                " * 1000000) AS BIGINT)"
            ).alias("uncertainty_e6"),
        )
        .selectExpr(
            "CAST(n AS BIGINT) AS n",
            "reliability_e6",
            "resolution_e6",
            "uncertainty_e6",
        )
    )


# ---------------------------------------------------------------------------
# McNemar paired test between two rule classifiers
# ---------------------------------------------------------------------------


@register(
    "ml_mcnemar_paired_test",
    oracle="""
WITH t AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CASE WHEN len(string_split(text, ' ')) >= 60 THEN 1 ELSE 0 END
           AS pred_len,
         CASE WHEN len(list_distinct(string_split(text, ' '))) * 10000
                   // len(string_split(text, ' ')) >= 3500 THEN 1 ELSE 0 END
           AS pred_ttr
  FROM documents
), cells AS MATERIALIZED (
  SELECT count(*) AS n,
         sum(CASE WHEN pred_len = y AND pred_ttr <> y THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN pred_len <> y AND pred_ttr = y THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN pred_len = y THEN 1 ELSE 0 END) AS acc_len_n,
         sum(CASE WHEN pred_ttr = y THEN 1 ELSE 0 END) AS acc_ttr_n
  FROM t
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(b AS BIGINT) AS b_len_only,
       CAST(c AS BIGINT) AS c_ttr_only,
       CAST(acc_len_n * 1000000 // n AS BIGINT) AS acc_len_e6,
       CAST(acc_ttr_n * 1000000 // n AS BIGINT) AS acc_ttr_e6,
       CAST(CASE WHEN b + c > 0
                 THEN (abs(b - c) - 1) * (abs(b - c) - 1) * 1000000 // (b + c)
                 ELSE 0 END AS BIGINT) AS mcnemar_chi2_e6
FROM cells
""",
    doc="McNemar's paired test (McNemar 1947, continuity-corrected) "
    "comparing two rule classifiers for English on the SAME documents "
    "— the statistically correct way to compare classifiers on one "
    "test set (marginal accuracies ignore pairing): only the "
    "discordant cells matter, chi2 = (|b-c|-1)^2/(b+c). Both "
    "classifiers, the concordance cells, and the statistic come from "
    "ONE map-side-combined conditional aggregation over the corpus — "
    "five counters, no join, no shuffle beyond the 5-number combine; "
    "the statistic is exact integer floor-division. The b+c=0 guard "
    "is explicit CASE in both engines.",
)
def ml_mcnemar_paired_test(spark, sf_dir):
    from ..functions import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.when(F.size(tokens("text")) >= 60, 1).otherwise(0).alias("pred_len"),
        F.when(
            F.size(F.array_distinct(tokens("text"))) * 10000
            / F.size(tokens("text"))
            >= 3500,
            1,
        )
        .otherwise(0)
        .alias("pred_ttr"),
    )
    return t.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when((F.col("pred_len") == F.col("y")) & (F.col("pred_ttr") != F.col("y")), 1).otherwise(0)
        )
        .cast("long")
        .alias("b_len_only"),
        F.sum(
            F.when((F.col("pred_len") != F.col("y")) & (F.col("pred_ttr") == F.col("y")), 1).otherwise(0)
        )
        .cast("long")
        .alias("c_ttr_only"),
        F.expr(
            "CAST(sum(CASE WHEN pred_len = y THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("acc_len_e6"),
        F.expr(
            "CAST(sum(CASE WHEN pred_ttr = y THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("acc_ttr_e6"),
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN pred_len = y AND pred_ttr <> y"
            " THEN 1 ELSE 0 END) + sum(CASE WHEN pred_len <> y AND"
            " pred_ttr = y THEN 1 ELSE 0 END) > 0 THEN"
            " (abs(sum(CASE WHEN pred_len = y AND pred_ttr <> y THEN 1"
            " ELSE 0 END) - sum(CASE WHEN pred_len <> y AND pred_ttr = y"
            " THEN 1 ELSE 0 END)) - 1)"
            " * (abs(sum(CASE WHEN pred_len = y AND pred_ttr <> y THEN 1"
            " ELSE 0 END) - sum(CASE WHEN pred_len <> y AND pred_ttr = y"
            " THEN 1 ELSE 0 END)) - 1) * 1000000"
            " div (sum(CASE WHEN pred_len = y AND pred_ttr <> y THEN 1"
            " ELSE 0 END) + sum(CASE WHEN pred_len <> y AND pred_ttr = y"
            " THEN 1 ELSE 0 END)) ELSE 0 END AS BIGINT)"
        ).alias("mcnemar_chi2_e6"),
    )


# ---------------------------------------------------------------------------
# Horvitz-Thompson unequal-probability sampling estimator
# ---------------------------------------------------------------------------


@register(
    "sample_horvitz_thompson",
    oracle="""
WITH u AS MATERIALIZED (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y,
         least(999999,
               100000 + CAST(round(o_totalprice) AS BIGINT) * 2) AS pi_e6,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000000 AS coin_e6
  FROM orders
), s AS MATERIALIZED (
  SELECT * FROM u WHERE coin_e6 < pi_e6
), est AS (
  SELECT count(*) AS n_sampled,
         sum(y * 1000000 // pi_e6) AS ht_total_cents
  FROM s
), truth AS (
  SELECT count(*) AS n_pop, sum(y) AS true_total_cents FROM u
)
SELECT CAST(n_pop AS BIGINT) AS n_pop,
       CAST(n_sampled AS BIGINT) AS n_sampled,
       CAST(true_total_cents AS BIGINT) AS true_total_cents,
       CAST(ht_total_cents AS BIGINT) AS ht_total_cents,
       CAST(abs(ht_total_cents - true_total_cents) * 10000
            // true_total_cents AS BIGINT) AS abs_err_bp
FROM est CROSS JOIN truth
""",
    doc="Horvitz-Thompson estimator (Horvitz-Thompson 1952) under "
    "unequal-probability Poisson sampling: inclusion probability "
    "pi_i grows with order value (size-proportional, capped at "
    "0.999999), the sampling coin is a deterministic md5 hash "
    "(replayable — the same 'random' sample on every engine and "
    "every run), and the total-revenue estimate sums y_i/pi_i over "
    "sampled rows only. Reports basis-point error against the true "
    "total, demonstrating unbiasedness of the inverse-probability "
    "weighting the registry's stratified/Neyman samplers assume. Each "
    "y*1e6 div pi term is exact int64 per row BEFORE the sum — "
    "order-free across engines; both scans are one map-side-combined "
    "aggregation each. This is the survey-sampling backbone for "
    "estimating corpus statistics from a weighted subsample at 100 TB "
    "without a full pass.",
)
def sample_horvitz_thompson(spark, sf_dir):
    u = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS y",
        "least(999999, 100000 + CAST(round(o_totalprice) AS BIGINT) * 2)"
        " AS pi_e6",
        "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 1000000 AS coin_e6",
    ).persist()
    s = u.where("coin_e6 < pi_e6")
    est = s.agg(
        F.count("*").alias("n_sampled"),
        F.expr("sum(y * 1000000 div pi_e6)").alias("ht_total_cents"),
    )
    truth = u.agg(
        F.count("*").alias("n_pop"), F.sum("y").alias("true_total_cents")
    )
    return (
        est.crossJoin(F.broadcast(truth))
        .selectExpr(
            "CAST(n_pop AS BIGINT) AS n_pop",
            "CAST(n_sampled AS BIGINT) AS n_sampled",
            "CAST(true_total_cents AS BIGINT) AS true_total_cents",
            "CAST(ht_total_cents AS BIGINT) AS ht_total_cents",
            "CAST(abs(ht_total_cents - true_total_cents) * 10000"
            " div true_total_cents AS BIGINT) AS abs_err_bp",
        )
    )


# ---------------------------------------------------------------------------
# Percolation robustness profile of the trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_percolation_profile",
    oracle=TRADE_EDGES_CTE
    + """, tot AS (
  SELECT count(*) AS ne, sum(w) AS tw FROM ew
), fracs AS (SELECT unnest([0, 25, 50, 75]) AS pct
), kept AS MATERIALIZED (
  SELECT fracs.pct, ew.a, ew.b
  FROM ew CROSS JOIN fracs CROSS JOIN tot
  WHERE ew.w * tot.ne * 100 >= fracs.pct * tot.tw
), adj AS MATERIALIZED (
  SELECT pct, a AS n, b AS m FROM kept
  UNION ALL SELECT pct, b, a FROM kept
), l0 AS (
  SELECT DISTINCT pct, n, n AS lbl FROM adj
), l1 AS MATERIALIZED (
  SELECT s.pct, s.n, least(min(l.lbl), min(s.n)) AS lbl
  FROM adj s JOIN l0 l ON l.pct = s.pct AND l.n = s.m GROUP BY s.pct, s.n
), l2 AS MATERIALIZED (
  SELECT s.pct, s.n, least(min(l.lbl), min(s.n)) AS lbl
  FROM adj s JOIN l1 l ON l.pct = s.pct AND l.n = s.m GROUP BY s.pct, s.n
), l3 AS MATERIALIZED (
  SELECT s.pct, s.n, least(min(l.lbl), min(s.n)) AS lbl
  FROM adj s JOIN l2 l ON l.pct = s.pct AND l.n = s.m GROUP BY s.pct, s.n
), l4 AS MATERIALIZED (
  SELECT s.pct, s.n, least(min(l.lbl), min(s.n)) AS lbl
  FROM adj s JOIN l3 l ON l.pct = s.pct AND l.n = s.m GROUP BY s.pct, s.n
), comp AS MATERIALIZED (
  SELECT pct, lbl, count(*) AS csize FROM l4 GROUP BY pct, lbl
)
SELECT CAST(pct AS BIGINT) AS pct_threshold,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(max(csize) AS BIGINT) AS giant_size,
       CAST(sum(csize) AS BIGINT) AS n_nodes
FROM comp
GROUP BY pct
ORDER BY pct
""",
    doc="Bond-percolation robustness profile (Albert-Barabasi 2002) of "
    "the weighted nation trade graph: keep only edges whose weight "
    "clears 0/25/50/75 percent of the MEAN edge weight (threshold "
    "compared multiplication-only — w*ne*100 >= pct*tw — no division "
    "dialect), then per threshold count connected components and the "
    "giant-component size via four unrolled synchronous min-label "
    "rounds. The fragmentation curve as ties weaken is the supply-"
    "chain resilience read the HHI/dual-sourcing queries approximate "
    "pointwise. Fact tables are scanned once for the edge list; the "
    "percolation grid is |thresholds| x graph-scale relations keyed "
    "by (pct, node) so all four thresholds propagate labels in the "
    "SAME four joins — batched iteration, not a per-threshold loop. "
    "Fixed unroll = deterministic contract in both engines.",
)
def graph_percolation_profile(spark, sf_dir):
    ew = trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    tot = ew.agg(F.count("*").alias("ne"), F.sum("w").alias("tw"))
    fracs = spark.createDataFrame([(0,), (25,), (50,), (75,)], ["pct"])
    kept = (
        ew.crossJoin(F.broadcast(fracs))
        .crossJoin(F.broadcast(tot))
        .where("w * ne * 100 >= pct * tw")
        .select("pct", "a", "b")
    )
    adj = (
        kept.select("pct", F.col("a").alias("n"), F.col("b").alias("m"))
        .unionByName(kept.select("pct", F.col("b").alias("n"), F.col("a").alias("m")))
        .localCheckpoint(eager=True)
    )
    lbl = (
        adj.select("pct", "n")
        .distinct()
        .select("pct", "n", F.col("n").alias("lbl"))
    )
    for _ in range(4):
        lbl = (
            adj.join(
                lbl.select(F.col("pct").alias("p2"), F.col("n").alias("lm"), "lbl"),
                (F.col("pct") == F.col("p2")) & (F.col("m") == F.col("lm")),
            )
            .groupBy("pct", "n")
            .agg(F.least(F.min("lbl"), F.min("n")).alias("lbl"))
        )
    comp = lbl.groupBy("pct", "lbl").agg(F.count("*").alias("csize"))
    return (
        comp.groupBy("pct")
        .agg(
            F.count("*").cast("long").alias("n_components"),
            F.max("csize").cast("long").alias("giant_size"),
            F.sum("csize").cast("long").alias("n_nodes"),
        )
        .select(
            F.col("pct").cast("long").alias("pct_threshold"),
            "n_components",
            "giant_size",
            "n_nodes",
        )
        .orderBy("pct_threshold")
    )


# ---------------------------------------------------------------------------
# Fixed-effect meta-analysis pooling of per-nation effects
# ---------------------------------------------------------------------------


@register(
    "stats_meta_analysis_pooling",
    oracle="""
WITH u AS (
  SELECT c.c_nationkey AS nk,
         CASE WHEN o.o_orderdate < TIMESTAMP '1997-06-01' THEN 0 ELSE 1 END
           AS era,
         CAST(round(o.o_totalprice / 100) AS BIGINT) AS p
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), m AS MATERIALIZED (
  SELECT nk,
         count(*) FILTER (era = 0) AS n0, sum(p) FILTER (era = 0) AS s0,
         sum(p * p) FILTER (era = 0) AS ss0,
         count(*) FILTER (era = 1) AS n1, sum(p) FILTER (era = 1) AS s1,
         sum(p * p) FILTER (era = 1) AS ss1
  FROM u GROUP BY nk
  HAVING count(*) FILTER (era = 0) > 1 AND count(*) FILTER (era = 1) > 1
), eff AS MATERIALIZED (
  SELECT nk,
         CAST(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1000)
              AS BIGINT) AS d_e3,
         CAST(round(1000000.0
                    / ((CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE)
                          * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                       / (CAST(n0 AS DOUBLE) - 1.0) / CAST(n0 AS DOUBLE)
                       + (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                            * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                         / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE)))
              AS BIGINT) AS w_e6
  FROM m
), pool AS (
  SELECT count(*) AS k, sum(w_e6) AS sw, sum(w_e6 * d_e3) AS swd,
         sum(w_e6 * d_e3 * d_e3) AS swdd
  FROM eff
)
SELECT CAST(k AS BIGINT) AS k_studies,
       CAST(swd // sw AS BIGINT) AS pooled_d_e3,
       CAST(round((CAST(swdd AS DOUBLE)
                   - CAST(swd AS DOUBLE) * CAST(swd AS DOUBLE)
                     / CAST(sw AS DOUBLE)) / 1000000.0) AS BIGINT)
         AS cochran_q_e0,
       CAST(CASE WHEN (CAST(swdd AS DOUBLE)
                       - CAST(swd AS DOUBLE) * CAST(swd AS DOUBLE)
                         / CAST(sw AS DOUBLE)) / 1000000.0
                      > CAST(k AS DOUBLE) - 1.0
                 THEN CAST(round((1.0 - (CAST(k AS DOUBLE) - 1.0)
                                  / ((CAST(swdd AS DOUBLE)
                                      - CAST(swd AS DOUBLE) * CAST(swd AS DOUBLE)
                                        / CAST(sw AS DOUBLE)) / 1000000.0))
                                 * 1000000) AS BIGINT)
                 ELSE 0 END AS BIGINT) AS i2_e6
FROM pool
""",
    doc="Fixed-effect inverse-variance meta-analysis (Cochran 1954): "
    "each customer nation is a 'study' estimating the era effect "
    "(mean order value after vs before mid-1997, in hundreds of "
    "dollars), pooled with weights 1/se^2, plus Cochran's Q and the "
    "Higgins I^2 heterogeneity share — the multi-site experiment "
    "rollup pattern (per-shard effects pooled without centralizing "
    "rows). ONE map-side-combined FILTER aggregation computes all six "
    "per-nation moments; d and w are per-nation SCALAR doubles "
    "rounded (e3/e6) BEFORE the exact integer pooling sums, so the "
    "pooled estimate is order-free integer division and Q uses the "
    "weighted-moment identity sum(w d^2) - (sum wd)^2/sum w on exact "
    "int64. At 100 TB nothing after the per-nation rollup scales "
    "with the fact table.",
)
def stats_meta_analysis_pooling(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    u = orders.join(cust, orders.o_custkey == cust.c_custkey).selectExpr(
        "c_nationkey AS nk",
        "CASE WHEN o_orderdate < TIMESTAMP '1997-06-01' THEN 0 ELSE 1 END AS era",
        "CAST(round(o_totalprice / 100) AS BIGINT) AS p",
    )
    m = (
        u.groupBy("nk")
        .agg(
            F.expr("count(*) FILTER (WHERE era = 0)").alias("n0"),
            F.expr("sum(p) FILTER (WHERE era = 0)").alias("s0"),
            F.expr("sum(p * p) FILTER (WHERE era = 0)").alias("ss0"),
            F.expr("count(*) FILTER (WHERE era = 1)").alias("n1"),
            F.expr("sum(p) FILTER (WHERE era = 1)").alias("s1"),
            F.expr("sum(p * p) FILTER (WHERE era = 1)").alias("ss1"),
        )
        .where("n0 > 1 AND n1 > 1")
    )
    eff = m.selectExpr(
        "nk",
        "CAST(round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1000) AS BIGINT)"
        " AS d_e3",
        "CAST(round(1000000.0D"
        " / ((CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)"
        " / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0D)"
        " / CAST(n0 AS DOUBLE)"
        " + (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0D)"
        " / CAST(n1 AS DOUBLE))) AS BIGINT) AS w_e6",
    )
    pool = eff.agg(
        F.count("*").alias("k"),
        F.sum("w_e6").alias("sw"),
        F.sum(F.col("w_e6") * F.col("d_e3")).alias("swd"),
        F.sum(F.col("w_e6") * F.col("d_e3") * F.col("d_e3")).alias("swdd"),
    )
    return pool.selectExpr(
        "CAST(k AS BIGINT) AS k_studies",
        "CAST(swd div sw AS BIGINT) AS pooled_d_e3",
        "CAST(round((CAST(swdd AS DOUBLE) - CAST(swd AS DOUBLE)"
        " * CAST(swd AS DOUBLE) / CAST(sw AS DOUBLE)) / 1000000.0D)"
        " AS BIGINT) AS cochran_q_e0",
        "CAST(CASE WHEN (CAST(swdd AS DOUBLE) - CAST(swd AS DOUBLE)"
        " * CAST(swd AS DOUBLE) / CAST(sw AS DOUBLE)) / 1000000.0D"
        " > CAST(k AS DOUBLE) - 1.0D THEN"
        " CAST(round((1.0D - (CAST(k AS DOUBLE) - 1.0D)"
        " / ((CAST(swdd AS DOUBLE) - CAST(swd AS DOUBLE) * CAST(swd AS DOUBLE)"
        " / CAST(sw AS DOUBLE)) / 1000000.0D)) * 1000000) AS BIGINT)"
        " ELSE 0 END AS BIGINT) AS i2_e6",
    )


# ---------------------------------------------------------------------------
# Isotonic calibration by the exact minimax identity (PAV without iteration)
# ---------------------------------------------------------------------------


@register(
    "ml_isotonic_calibration_minimax",
    oracle="""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n,
         len(list_distinct(string_split(text, ' '))) AS nd,
         length(text) AS chars,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), scored AS (
  SELECT y,
         least(9, (nd * 4000 // n
                   + least(n, 100) * 30
                   + CASE WHEN (chars - (n - 1)) * 10000 // n
                               BETWEEN 30000 AND 100000
                          THEN 3000 ELSE 1500 END) // 1000) AS bin
  FROM t
), b AS MATERIALIZED (
  SELECT bin, count(*) AS c, sum(y) AS o FROM scored GROUP BY bin
), seg AS MATERIALIZED (
  SELECT j.bin AS jb, k.bin AS kb,
         sum(m.o) * 1000000 // sum(m.c) AS avg_e6
  FROM b j JOIN b k ON k.bin >= j.bin
  JOIN b m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY j.bin, k.bin
), innermin AS MATERIALIZED (
  SELECT b.bin, seg.jb, min(seg.avg_e6) AS mn
  FROM b JOIN seg ON seg.jb <= b.bin AND seg.kb >= b.bin
  GROUP BY b.bin, seg.jb
), iso AS MATERIALIZED (
  SELECT bin, max(mn) AS iso_e6 FROM innermin GROUP BY bin
)
SELECT CAST(b.bin AS BIGINT) AS bin,
       CAST(b.c AS BIGINT) AS n_rows,
       CAST(b.o * 1000000 // b.c AS BIGINT) AS raw_rate_e6,
       CAST(iso.iso_e6 AS BIGINT) AS iso_rate_e6
FROM b JOIN iso ON iso.bin = b.bin
ORDER BY bin
""",
    doc="Isotonic calibration (the sklearn 'isotonic' of "
    "CalibratedClassifierCV) of the binned quality-score forecaster, "
    "computed NOT by the sequential pool-adjacent-violators loop but "
    "by the exact minimax identity iso(i) = max_{j<=i} min_{k>=i} "
    "avg(y[j..k]) — PAV's closed form, which is pure joins/aggregates "
    "and therefore order-free and distributed: every segment average "
    "over the 10-bin histogram is an exact integer e6 floor-div, the "
    "min/max lattice runs on <=10^3 segment rows. The corpus is "
    "touched ONCE for the (bin, count, positives) histogram "
    "(map-side combined); the isotonic fit costs O(B^3) on B=10 bins "
    "regardless of corpus size — the standard scale shape for "
    "monotone calibration at 100 TB. Output: per-bin raw vs isotonic "
    "calibrated rates (monotone non-decreasing by construction).",
)
def ml_isotonic_calibration_minimax(spark, sf_dir):
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_score(docs).selectExpr(
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y",
        "least(9, quality_e4 div 1000) AS bin",
    )
    b = (
        scored.groupBy("bin")
        .agg(F.count("*").alias("c"), F.sum("y").alias("o"))
        .localCheckpoint(eager=True)
    )
    j = b.select(F.col("bin").alias("jb"))
    k = b.select(F.col("bin").alias("kb"))
    m = b.select(F.col("bin").alias("mb"), "c", "o")
    seg = (
        j.join(k, F.col("kb") >= F.col("jb"))
        .join(m, (F.col("mb") >= F.col("jb")) & (F.col("mb") <= F.col("kb")))
        .groupBy("jb", "kb")
        .agg(F.expr("sum(o) * 1000000 div sum(c)").alias("avg_e6"))
    )
    innermin = (
        b.select(F.col("bin"))
        .join(seg, (F.col("jb") <= F.col("bin")) & (F.col("kb") >= F.col("bin")))
        .groupBy("bin", "jb")
        .agg(F.min("avg_e6").alias("mn"))
    )
    iso = innermin.groupBy("bin").agg(F.max("mn").alias("iso_e6"))
    return (
        b.join(iso.select(F.col("bin").alias("ib"), "iso_e6"), F.col("bin") == F.col("ib"))
        .selectExpr(
            "CAST(bin AS BIGINT) AS bin",
            "CAST(c AS BIGINT) AS n_rows",
            "CAST(o * 1000000 div c AS BIGINT) AS raw_rate_e6",
            "CAST(iso_e6 AS BIGINT) AS iso_rate_e6",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Economic order quantity per part type
# ---------------------------------------------------------------------------


@register(
    "part_economic_order_quantity",
    oracle="""
WITH d AS MATERIALIZED (
  SELECT p.p_type,
         sum(CAST(l.l_quantity AS BIGINT)) AS annual_demand,
         count(*) AS n_lines,
         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS rev_cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_type
)
SELECT p_type,
       CAST(annual_demand AS BIGINT) AS annual_demand,
       CAST(round(sqrt(2.0 * CAST(annual_demand AS DOUBLE) * 5000.0
                       / (0.2 * CAST(rev_cents AS DOUBLE)
                          / CAST(annual_demand AS DOUBLE) / 100.0)))
            AS BIGINT) AS eoq_units,
       CAST(round(CAST(annual_demand AS DOUBLE)
                  / sqrt(2.0 * CAST(annual_demand AS DOUBLE) * 5000.0
                         / (0.2 * CAST(rev_cents AS DOUBLE)
                            / CAST(annual_demand AS DOUBLE) / 100.0))
                  * 1000) AS BIGINT) AS orders_per_year_e3
FROM d
WHERE annual_demand > 0
ORDER BY p_type
""",
    doc="Economic order quantity (Harris 1913 / Wilson): per part type, "
    "EOQ = sqrt(2 D S / H) with ordering cost S = $5000 and holding "
    "cost H = 20% of the demand-weighted average unit price — the "
    "textbook inventory-policy rollup the newsvendor query "
    "complements (EOQ sets the batch size, newsvendor the stock "
    "level). ONE map-side-combined join+aggregation computes demand "
    "and revenue per type (the part dimension broadcast); EOQ and "
    "order frequency are per-type SCALAR double expressions with "
    "identical text in both engines, rounded once. Output bounded by "
    "|part types| at any corpus scale.",
)
def part_economic_order_quantity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    d = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("annual_demand"),
            F.count("*").alias("n_lines"),
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias(
                "rev_cents"
            ),
        )
    )
    return (
        d.where("annual_demand > 0")
        .selectExpr(
            "p_type",
            "CAST(annual_demand AS BIGINT) AS annual_demand",
            "CAST(round(sqrt(2.0D * CAST(annual_demand AS DOUBLE) * 5000.0D"
            " / (0.2D * CAST(rev_cents AS DOUBLE)"
            " / CAST(annual_demand AS DOUBLE) / 100.0D))) AS BIGINT)"
            " AS eoq_units",
            "CAST(round(CAST(annual_demand AS DOUBLE)"
            " / sqrt(2.0D * CAST(annual_demand AS DOUBLE) * 5000.0D"
            " / (0.2D * CAST(rev_cents AS DOUBLE)"
            " / CAST(annual_demand AS DOUBLE) / 100.0D)) * 1000) AS BIGINT)"
            " AS orders_per_year_e3",
        )
        .orderBy("p_type")
    )


# ---------------------------------------------------------------------------
# Differentially-private histogram release mechanism (seeded Laplace)
# ---------------------------------------------------------------------------


@register(
    "qa_dp_laplace_histogram",
    oracle="""
WITH cells AS MATERIALIZED (
  SELECT c.c_nationkey AS nk, count(*) AS true_n
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey
), noise AS MATERIALIZED (
  SELECT nk, true_n,
         (CAST(('0x' || substr(md5('dp:' || CAST(nk AS VARCHAR)), 1, 8))
               AS BIGINT) % 1999999) - 999999 AS u_e6
  FROM cells
)
SELECT CAST(nk AS INT) AS nationkey,
       CAST(true_n AS BIGINT) AS true_n,
       CAST(true_n + CAST(round(-1.0
              * CASE WHEN u_e6 >= 0 THEN 1.0 ELSE -1.0 END
              * ln(1.0 - CAST(abs(u_e6) AS DOUBLE) / 1000000.0))
            AS BIGINT) AS BIGINT) AS released_n,
       CAST(round(-1.0
              * CASE WHEN u_e6 >= 0 THEN 1.0 ELSE -1.0 END
              * ln(1.0 - CAST(abs(u_e6) AS DOUBLE) / 1000000.0) * 1000000)
            AS BIGINT) AS noise_e6,
       CAST(1000000 AS BIGINT) AS epsilon_e6
FROM noise
ORDER BY nationkey
""",
    doc="Laplace-mechanism histogram release (Dwork et al. 2006) as a "
    "relational pipeline: per-nation order counts (sensitivity 1 under "
    "add/remove-one-order) plus Laplace(1/epsilon) noise, epsilon = 1, "
    "via inverse-CDF transform x = -sgn(u) ln(1-|u|)/eps of a seeded "
    "md5 uniform — SEEDED so the release is replayable across engines "
    "and testable against the oracle; a production release would draw "
    "the uniform from a CSPRNG and would NOT publish true_n (emitted "
    "here only for the fixture's error audit). The count aggregation "
    "is map-side combined; the noise is one scalar ln per cell "
    "(|cells| = 25, never corpus-scale). This is the "
    "privacy-engineering shape the k-anonymity/l-diversity audits "
    "lacked: a calibrated-noise release, not just a suppression "
    "check.",
)
def qa_dp_laplace_histogram(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("true_n"))
    )
    noise = cells.selectExpr(
        "nk",
        "true_n",
        "(CAST(conv(substring(md5(concat('dp:', CAST(nk AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT) % 1999999) - 999999 AS u_e6",
    )
    return noise.selectExpr(
        "CAST(nk AS INT) AS nationkey",
        "CAST(true_n AS BIGINT) AS true_n",
        "CAST(true_n + CAST(round(-1.0D"
        " * CASE WHEN u_e6 >= 0 THEN 1.0D ELSE -1.0D END"
        " * ln(1.0D - CAST(abs(u_e6) AS DOUBLE) / 1000000.0D)) AS BIGINT)"
        " AS BIGINT) AS released_n",
        "CAST(round(-1.0D * CASE WHEN u_e6 >= 0 THEN 1.0D ELSE -1.0D END"
        " * ln(1.0D - CAST(abs(u_e6) AS DOUBLE) / 1000000.0D) * 1000000)"
        " AS BIGINT) AS noise_e6",
        "CAST(1000000 AS BIGINT) AS epsilon_e6",
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# Hill estimator of the revenue tail index
# ---------------------------------------------------------------------------


@register(
    "stats_hill_tail_index",
    oracle="""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders
), top AS MATERIALIZED (
  SELECT cents FROM o ORDER BY cents DESC, o_orderkey LIMIT 100
), xk AS (
  SELECT min(cents) AS xk, count(*) AS k FROM top
), terms AS MATERIALIZED (
  SELECT CAST(round(ln(CAST(top.cents AS DOUBLE) / CAST(xk.xk AS DOUBLE))
                    * 1000000) AS BIGINT) AS t_e6,
         xk.xk, xk.k
  FROM top CROSS JOIN xk
)
SELECT CAST(max(k) AS BIGINT) AS k,
       CAST(max(xk) AS BIGINT) AS xk_cents,
       CAST(sum(t_e6) // max(k) AS BIGINT) AS hill_e6,
       CAST(CASE WHEN sum(t_e6) > 0
                 THEN max(k) * 1000000000000 // sum(t_e6)
                 ELSE 0 END AS BIGINT) AS alpha_e6
FROM terms
""",
    doc="Hill estimator (Hill 1975) of the Pareto tail index of order "
    "values: over the top k=100 order statistics, H = mean ln(x_i / "
    "x_(k)) and alpha = 1/H — the heavy-tail diagnostic that says "
    "whether revenue concentration has finite variance (alpha > 2). "
    "The top-k is orderBy desc limit k = TakeOrderedAndProject "
    "(per-partition partial top-k, constant merge — no global sort at "
    "any scale); each ln ratio is e6-rounded PER TERM before the "
    "exact integer mean, so both engines agree bit-for-bit; alpha "
    "inverts via exact integer division (k*1e12 div sum). One scan, "
    "one 100-row relation, output one row.",
)
def stats_hill_tail_index(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents", "o_orderkey"
    )
    top = o.orderBy(F.col("cents").desc(), "o_orderkey").limit(100).select("cents")
    xk = top.agg(F.min("cents").alias("xk"), F.count("*").alias("k"))
    terms = top.crossJoin(F.broadcast(xk)).selectExpr(
        "CAST(round(ln(CAST(cents AS DOUBLE) / CAST(xk AS DOUBLE)) * 1000000)"
        " AS BIGINT) AS t_e6",
        "xk",
        "k",
    )
    return terms.agg(
        F.expr("CAST(max(k) AS BIGINT)").alias("k"),
        F.expr("CAST(max(xk) AS BIGINT)").alias("xk_cents"),
        F.expr("CAST(sum(t_e6) div max(k) AS BIGINT)").alias("hill_e6"),
        F.expr(
            "CAST(CASE WHEN sum(t_e6) > 0 THEN max(k) * 1000000000000"
            " div sum(t_e6) ELSE 0 END AS BIGINT)"
        ).alias("alpha_e6"),
    )


# ---------------------------------------------------------------------------
# Youden-J optimal threshold from the calibration histogram
# ---------------------------------------------------------------------------


@register(
    "ml_youden_threshold",
    oracle="""
WITH t AS (
  SELECT len(string_split(text, ' ')) AS n,
         len(list_distinct(string_split(text, ' '))) AS nd,
         length(text) AS chars,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), scored AS (
  SELECT y,
         least(9, (nd * 4000 // n
                   + least(n, 100) * 30
                   + CASE WHEN (chars - (n - 1)) * 10000 // n
                               BETWEEN 30000 AND 100000
                          THEN 3000 ELSE 1500 END) // 1000) AS bin
  FROM t
), b AS MATERIALIZED (
  SELECT bin, count(*) AS c, sum(y) AS o FROM scored GROUP BY bin
), g AS (
  SELECT sum(o) AS pos, sum(c) - sum(o) AS neg FROM b
), thr AS (SELECT unnest([0,1,2,3,4,5,6,7,8,9]) AS t
), roc AS MATERIALIZED (
  SELECT thr.t,
         sum(CASE WHEN b.bin >= thr.t THEN b.o ELSE 0 END) AS tp,
         sum(CASE WHEN b.bin >= thr.t THEN b.c - b.o ELSE 0 END) AS fp
  FROM b CROSS JOIN thr
  GROUP BY thr.t
), j AS MATERIALIZED (
  SELECT roc.t, roc.tp, roc.fp,
         roc.tp * 1000000 // g.pos - roc.fp * 1000000 // g.neg AS j_e6
  FROM roc CROSS JOIN g
), best AS (
  SELECT min(t) AS bt FROM j WHERE j_e6 = (SELECT max(j_e6) FROM j)
)
SELECT CAST(j.t AS BIGINT) AS threshold_bin,
       CAST(j.tp AS BIGINT) AS tp,
       CAST(j.fp AS BIGINT) AS fp,
       CAST(j.j_e6 AS BIGINT) AS youden_j_e6,
       CAST(CASE WHEN j.t = best.bt THEN 1 ELSE 0 END AS BIGINT) AS is_best
FROM j CROSS JOIN best
ORDER BY threshold_bin
""",
    doc="Youden-J optimal operating point (Youden 1950): sweep the ten "
    "quality-bin thresholds, J = TPR - FPR from exact integer "
    "cumulative TP/FP counts over the (bin, count, positives) "
    "histogram, argmin-threshold tiebreak on ties — the standard "
    "threshold-tuning step between the registry's ROC-AUC (ranking "
    "quality) and calibration queries (probability quality). ONE "
    "map-side-combined histogram pass touches the corpus; the ROC "
    "sweep is a 10x10 conditional aggregate and J is exact integer "
    "floor-division throughout — no doubles anywhere in this query.",
)
def ml_youden_threshold(spark, sf_dir):
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_score(docs).selectExpr(
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y",
        "least(9, quality_e4 div 1000) AS bin",
    )
    b = (
        scored.groupBy("bin")
        .agg(F.count("*").alias("c"), F.sum("y").alias("o"))
        .localCheckpoint(eager=True)
    )
    g = b.agg(
        F.sum("o").alias("pos"), (F.sum("c") - F.sum("o")).alias("neg")
    )
    thr = spark.range(0, 10).select(F.col("id").alias("t"))
    roc = (
        b.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("bin") >= F.col("t"), F.col("o")).otherwise(0)).alias("tp"),
            F.sum(
                F.when(F.col("bin") >= F.col("t"), F.col("c") - F.col("o")).otherwise(0)
            ).alias("fp"),
        )
    )
    j = (
        roc.crossJoin(F.broadcast(g))
        .selectExpr(
            "t",
            "tp",
            "fp",
            "tp * 1000000 div pos - fp * 1000000 div neg AS j_e6",
        )
        .persist()
    )
    mx = j.agg(F.max("j_e6").alias("mx"))
    best = (
        j.crossJoin(F.broadcast(mx)).where("j_e6 = mx").agg(F.min("t").alias("bt"))
    )
    return (
        j.crossJoin(F.broadcast(best))
        .selectExpr(
            "CAST(t AS BIGINT) AS threshold_bin",
            "CAST(tp AS BIGINT) AS tp",
            "CAST(fp AS BIGINT) AS fp",
            "CAST(j_e6 AS BIGINT) AS youden_j_e6",
            "CAST(CASE WHEN t = bt THEN 1 ELSE 0 END AS BIGINT) AS is_best",
        )
        .orderBy("threshold_bin")
    )


# ---------------------------------------------------------------------------
# Kendall tau-b rank correlation from the bounded contingency grid
# ---------------------------------------------------------------------------


@register(
    "stats_kendall_tau_b",
    oracle="""
WITH cells AS MATERIALIZED (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_discount * 100) AS BIGINT) AS d,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
), n AS (
  SELECT sum(c) AS n FROM cells
), pairs AS MATERIALIZED (
  SELECT sum(CASE WHEN b.q > a.q AND b.d > a.d THEN a.c * b.c ELSE 0 END)
           AS conc,
         sum(CASE WHEN b.q > a.q AND b.d < a.d THEN a.c * b.c ELSE 0 END)
           AS disc
  FROM cells a CROSS JOIN cells b
), tx AS (
  SELECT sum(s * (s - 1) / 2) AS t1 FROM (
    SELECT q, sum(c) AS s FROM cells GROUP BY q)
), ty AS (
  SELECT sum(s * (s - 1) / 2) AS t2 FROM (
    SELECT d, sum(c) AS s FROM cells GROUP BY d)
)
SELECT CAST(n.n AS BIGINT) AS n,
       CAST(pairs.conc AS BIGINT) AS concordant,
       CAST(pairs.disc AS BIGINT) AS discordant,
       CAST(round((CAST(pairs.conc AS DOUBLE) - CAST(pairs.disc AS DOUBLE))
                  / sqrt((CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0)
                          / 2.0 - CAST(tx.t1 AS DOUBLE))
                         * (CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0)
                            / 2.0 - CAST(ty.t2 AS DOUBLE)))
                  * 1000000) AS BIGINT) AS tau_b_e6
FROM n CROSS JOIN pairs CROSS JOIN tx CROSS JOIN ty
""",
    doc="Kendall tau-b rank correlation (Kendall 1945, tie-corrected) "
    "between quantity and discount WITHOUT enumerating the O(n^2) "
    "pairs: both variables have bounded domains (50 x 11), so "
    "concordant/discordant pair totals collapse to one cross join of "
    "the <=550-cell contingency grid with exact integer c_a*c_b "
    "products, and tie corrections come from the marginals. The "
    "corpus is touched ONCE for the grid (map-side combined); "
    "everything else is grid-scale. Exactness bound: cell products "
    "are < n^2, inside int64 up to ~3e9 rows per shard — the "
    "per-partition-grid merge keeps larger corpora exact by pooling "
    "grids before the pair count (same mergeable-sketch shape as the "
    "bitmap queries). tau_b itself is one scalar double, e6-rounded "
    "identically in both engines.",
)
def stats_kendall_tau_b(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.selectExpr(
            "CAST(l_quantity AS BIGINT) AS q",
            "CAST(round(l_discount * 100) AS BIGINT) AS d",
        )
        .groupBy("q", "d")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    n = cells.agg(F.sum("c").alias("n"))
    a = cells.select(F.col("q").alias("qa"), F.col("d").alias("da"), F.col("c").alias("ca"))
    b = cells.select(F.col("q").alias("qb"), F.col("d").alias("db"), F.col("c").alias("cb"))
    pairs = a.crossJoin(b).agg(
        F.sum(
            F.when((F.col("qb") > F.col("qa")) & (F.col("db") > F.col("da")), F.col("ca") * F.col("cb")).otherwise(0)
        ).alias("conc"),
        F.sum(
            F.when((F.col("qb") > F.col("qa")) & (F.col("db") < F.col("da")), F.col("ca") * F.col("cb")).otherwise(0)
        ).alias("disc"),
    )
    tx = (
        cells.groupBy("q").agg(F.sum("c").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) / 2")).alias("t1"))
    )
    ty = (
        cells.groupBy("d").agg(F.sum("c").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) / 2")).alias("t2"))
    )
    return (
        n.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .selectExpr(
            "CAST(n AS BIGINT) AS n",
            "CAST(conc AS BIGINT) AS concordant",
            "CAST(disc AS BIGINT) AS discordant",
            "CAST(round((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0D) / 2.0D"
            " - CAST(t1 AS DOUBLE))"
            " * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0D) / 2.0D"
            " - CAST(t2 AS DOUBLE))) * 1000000) AS BIGINT) AS tau_b_e6",
        )
    )


# ---------------------------------------------------------------------------
# Cook's distance: most influential rows of the price~quantity regression
# ---------------------------------------------------------------------------


@register(
    "stats_cooks_distance_top",
    oracle="""
WITH u AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice / 100) AS BIGINT) AS y
  FROM lineitem
), m AS MATERIALIZED (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM u
), d AS MATERIALIZED (
  SELECT u.l_orderkey, u.l_linenumber, u.x, u.y,
         CAST(round(
           (CAST(u.y AS DOUBLE)
            - (CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE)
               + (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE))
                 / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                 * (CAST(u.x AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))))
           * (CAST(u.y AS DOUBLE)
              - (CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE)
                 + (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE))
                   / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                   * (CAST(u.x AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))))
           * (1.0 / CAST(m.n AS DOUBLE)
              + (CAST(u.x AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                * (CAST(u.x AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE)))
           * 1000000000) AS BIGINT) AS num_e9
  FROM u CROSS JOIN m
)
SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
       CAST(x AS BIGINT) AS quantity,
       CAST(y AS BIGINT) AS price_h,
       CAST(num_e9 AS BIGINT) AS cooks_num_e9
FROM d
ORDER BY num_e9 DESC, l_orderkey, l_linenumber
LIMIT 10
""",
    doc="Cook's distance screen (Cook 1977) for the price ~ quantity "
    "simple regression: the per-row influence numerator e_i^2 * h_i "
    "with leverage h_i = 1/n + (x_i - xbar)^2 / Sxx, computed as ONE "
    "scalar double expression per row against the broadcast five-"
    "moment summary (residual and leverage both closed-form — no "
    "refitting n models, the classic one-pass identity). The shared "
    "positive factor 1/(p s^2 (1-h)^2-ish) is monotone-constant "
    "across rows for ranking purposes at fixed model, so the top-10 "
    "most influential line items by the numerator ARE the top-10 by "
    "Cook's D; ranking runs as TakeOrderedAndProject with full key "
    "tiebreak. One moment scan + one scoring scan, nothing else "
    "scales. The training-data analog: these are the rows a data-"
    "curation pass should re-inspect before fitting price models.",
)
def stats_cooks_distance_top(spark, sf_dir):
    u = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_linenumber",
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(round(l_extendedprice / 100) AS BIGINT) AS y",
    )
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    resid = (
        "(CAST(y AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
        " + (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))"
    )
    lev = (
        "(1.0D / CAST(n AS DOUBLE)"
        " + (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
        " / CAST(n AS DOUBLE)))"
    )
    d = u.crossJoin(F.broadcast(m)).selectExpr(
        "l_orderkey",
        "l_linenumber",
        "x",
        "y",
        f"CAST(round({resid} * {resid} * {lev} * 1000000000) AS BIGINT)"
        " AS num_e9",
    )
    return (
        d.orderBy(F.col("num_e9").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
        .selectExpr(
            "l_orderkey",
            "CAST(l_linenumber AS INT) AS l_linenumber",
            "CAST(x AS BIGINT) AS quantity",
            "CAST(y AS BIGINT) AS price_h",
            "CAST(num_e9 AS BIGINT) AS cooks_num_e9",
        )
    )


# ---------------------------------------------------------------------------
# Denormalized wide table vs star schema: same answer, materialized input
# ---------------------------------------------------------------------------


@register(
    "layout_denormalized_wide_vs_star",
    oracle="""
SELECT n.n_name,
       CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS yr,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS rev_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name, extract(year FROM o.o_orderdate)
ORDER BY n_name, yr
""",
    doc="Materialized denormalization round-trip: the 3-dim star join "
    "(lineitem-orders-customer-nation) is flattened ONCE into a "
    "year-partitioned wide parquet table (cached per sf_dir via the "
    "fixture layer — no temp-dir leak across bench/audit reruns, per "
    "ADVICE r1), and the revenue rollup is answered FROM THE WIDE "
    "TABLE; the oracle answers the same question from the star "
    "directly, so the hash match proves the denormalized layout is "
    "lossless for this workload. The wide write uses "
    "partitionBy(year) so the per-year rollup scans prune partitions "
    "(the read-side win denormalization buys at 100 TB: no repeated "
    "fact-dim shuffle per downstream query, at the cost of one "
    "upfront join and wider storage). Aggregations on both paths are "
    "map-side combined with exact integer cents.",
)
def layout_denormalized_wide_vs_star(spark, sf_dir):
    from ..sources.fixture_cache import ensure_layout, fixture_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    path = fixture_dir("wide_lineitem", sf_dir)

    def build(p):
        wide = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
            .selectExpr(
                "n_name",
                "CAST(extract(YEAR FROM o_orderdate) AS BIGINT) AS yr",
                "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
            )
        )
        wide.write.mode("overwrite").partitionBy("yr").parquet(p)

    ensure_layout(path, build)
    wide = spark.read.parquet(path)
    return (
        wide.groupBy("n_name", "yr")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
        .select("n_name", F.col("yr").cast("long").alias("yr"), "n_lines", "rev_cents")
        .orderBy("n_name", "yr")
    )


# ---------------------------------------------------------------------------
# Matryoshka truncated-dimension retrieval recall
# ---------------------------------------------------------------------------


@register(
    "embedding_matryoshka_recall",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
         CAST(embedding[1:16] AS DOUBLE[]) AS qt
  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000
), c AS MATERIALIZED (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv,
         CAST(embedding[1:16] AS DOUBLE[]) AS ct
  FROM embeddings
), full_rank AS MATERIALIZED (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC,
                      c.cid) AS rn
    FROM q CROSS JOIN c WHERE q.qid != c.cid
  ) WHERE rn <= 10
), trunc_rank AS MATERIALIZED (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY round(list_cosine_similarity(q.qt, c.ct), 4) DESC,
                      c.cid) AS rn
    FROM q CROSS JOIN c WHERE q.qid != c.cid
  ) WHERE rn <= 10
)
SELECT f.qid,
       CAST(count(t.cid) AS BIGINT) AS n_overlap,
       CAST(count(t.cid) * 100 // 10 AS BIGINT) AS recall_pct
FROM full_rank f LEFT JOIN trunc_rank t
  ON t.qid = f.qid AND t.cid = f.cid
GROUP BY f.qid
ORDER BY f.qid
""",
    doc="Matryoshka-representation retrieval audit (Kusupati et al. "
    "2022): recall@10 of 16-dim PREFIX-truncated embeddings against "
    "the full 64-dim ranking, per probe query — the measurement that "
    "decides whether a 4x cheaper truncated index is good enough "
    "before building it. Both rankings use the established rounded-"
    "cosine + id-tiebreak determinism pin (stable under summation-"
    "order noise across Spark fold / DuckDB list_cosine_similarity); "
    "the truncated vector is an array slice, no recomputation or "
    "re-embedding. The probe side broadcasts over the corpus exactly "
    "like the labeled brute-force baseline queries — at scale the "
    "truncated ranking would run over the IVF index "
    "(ann_topk_ivf's path) with the same recall contract. Overlap is "
    "an exact integer join count.",
)
def embedding_matryoshka_recall(spark, sf_dir):
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)
    )
    full = cosine_topk(queries, emb, k=10).select(
        F.col("qid"), F.col("cid")
    )
    emb_t = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    queries_t = emb_t.where(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)
    )
    trunc = cosine_topk(queries_t, emb_t, k=10).select(
        F.col("qid").alias("tqid"), F.col("cid").alias("tcid")
    )
    return (
        full.join(
            trunc,
            (F.col("qid") == F.col("tqid")) & (F.col("cid") == F.col("tcid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("tcid").cast("long").alias("n_overlap"),
            F.expr("CAST(count(tcid) * 100 div 10 AS BIGINT)").alias(
                "recall_pct"
            ),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval
# ---------------------------------------------------------------------------


@register(
    "search_dirichlet_ql_ranking",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), tf AS MATERIALIZED (
  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w
), dl AS (
  SELECT doc_id, sum(tf) AS dlen FROM tf GROUP BY doc_id
), coll AS (
  SELECT w, sum(tf) AS cf FROM tf GROUP BY w
), ctot AS (
  SELECT sum(cf) AS ct FROM coll
), qterms AS (
  SELECT unnest(['data', 'stream', 'join']) AS w
), scored AS MATERIALIZED (
  SELECT dl.doc_id,
         sum(CAST(round(ln((CAST(coalesce(tf.tf, 0) AS DOUBLE)
                            + 2000.0 * CAST(coll.cf AS DOUBLE)
                              / CAST(ctot.ct AS DOUBLE))
                           / (CAST(dl.dlen AS DOUBLE) + 2000.0))
                        * 1000000) AS BIGINT)) AS score_e6
  FROM dl
  CROSS JOIN qterms
  JOIN coll ON coll.w = qterms.w
  CROSS JOIN ctot
  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.w = qterms.w
  GROUP BY dl.doc_id
)
SELECT doc_id, CAST(score_e6 AS BIGINT) AS ql_score_e6
FROM scored
ORDER BY ql_score_e6 DESC, doc_id
LIMIT 15
""",
    doc="Dirichlet-smoothed query-likelihood ranking (Zhai-Lafferty "
    "2001, mu = 2000) for the query {data, stream, join} — the "
    "language-modeling retrieval twin of the registry's BM25 query: "
    "score(d) = sum over query terms of ln((tf + mu p_c(w)) / (|d| + "
    "mu)). Every per-term log is e6-rounded BEFORE the per-document "
    "integer sum (order-free, bit-identical across engines). One "
    "token-count aggregation builds tf/doc-length/collection stats; "
    "scoring joins only the 3 query terms' postings plus a broadcast "
    "of 3 collection frequencies — the corpus is never rescanned per "
    "term, and docs missing a term still score via the LEFT JOIN "
    "smoothing mass (the property BM25 lacks and the reason QL needs "
    "no coordination-level hack). Top-15 is TakeOrderedAndProject.",
)
def search_dirichlet_ql_ranking(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dlen"))
    coll = tf.groupBy("w").agg(F.sum("tf").alias("cf"))
    ctot = coll.agg(F.sum("cf").alias("ct"))
    qterms = spark.createDataFrame([("data",), ("stream",), ("join",)], ["qw"])
    scored = (
        dl.crossJoin(F.broadcast(qterms))
        .join(F.broadcast(coll.withColumnRenamed("w", "qw")), "qw")
        .crossJoin(F.broadcast(ctot))
        .join(
            tf.select(F.col("doc_id").alias("t_doc"), F.col("w").alias("t_w"), "tf"),
            (F.col("doc_id") == F.col("t_doc")) & (F.col("t_w") == F.col("qw")),
            "left",
        )
        .selectExpr(
            "doc_id",
            "CAST(round(ln((CAST(coalesce(tf, 0) AS DOUBLE)"
            " + 2000.0D * CAST(cf AS DOUBLE) / CAST(ct AS DOUBLE))"
            " / (CAST(dlen AS DOUBLE) + 2000.0D)) * 1000000) AS BIGINT)"
            " AS term_e6",
        )
        .groupBy("doc_id")
        .agg(F.sum("term_e6").alias("ql_score_e6"))
    )
    return (
        scored.select("doc_id", F.col("ql_score_e6").cast("long").alias("ql_score_e6"))
        .orderBy(F.col("ql_score_e6").desc(), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Disparate-impact (80% rule) release audit
# ---------------------------------------------------------------------------


@register(
    "qa_disparate_impact_80pct",
    oracle="""
WITH t AS (
  SELECT source,
         CASE WHEN (len(list_distinct(string_split(text, ' '))) * 4000
                    // len(string_split(text, ' '))
                    + least(len(string_split(text, ' ')), 100) * 30
                    + CASE WHEN (length(text) - (len(string_split(text, ' ')) - 1))
                                * 10000 // len(string_split(text, ' '))
                                BETWEEN 30000 AND 100000
                           THEN 3000 ELSE 1500 END) >= 6000
              THEN 1 ELSE 0 END AS selected
  FROM documents
), g AS MATERIALIZED (
  SELECT source, count(*) AS n, sum(selected) AS sel FROM t GROUP BY source
), ref AS (
  SELECT max_by(source, sel * 1000000 // n || '-' || source) AS ref_src,
         max(sel * 1000000 // n) AS ref_rate_e6
  FROM g
)
SELECT g.source,
       CAST(g.n AS BIGINT) AS n_docs,
       CAST(g.sel * 1000000 // g.n AS BIGINT) AS select_rate_e6,
       CAST(g.sel * 1000000 // g.n * 1000000 // ref.ref_rate_e6 AS BIGINT)
         AS impact_ratio_e6,
       CAST(CASE WHEN g.sel * 1000000 // g.n * 1000000 // ref.ref_rate_e6
                      < 800000 THEN 1 ELSE 0 END AS BIGINT) AS flag_80pct
FROM g CROSS JOIN ref
ORDER BY g.source
""",
    doc="Disparate-impact audit (EEOC 80% rule; Feldman et al., KDD "
    "2015) of the quality-score selection filter across document "
    "sources: per-source selection rate, impact ratio vs the highest-"
    "rate source, and the four-fifths flag — the fairness gate a "
    "training-data curation pipeline should run before shipping a "
    "filter that might systematically drop a source (here 'source' "
    "stands in for the protected attribute). ONE map-side-combined "
    "conditional aggregation touches the corpus; rates and ratios "
    "are exact integer floor-divisions, and the reference group is "
    "picked deterministically by (rate, source) max_by with a "
    "composed string key so ties break identically in both engines. "
    "Output bounded by |sources|.",
)
def qa_disparate_impact_80pct(spark, sf_dir):
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    t = with_quality_score(docs).selectExpr(
        "source",
        "CASE WHEN quality_e4 >= 6000 THEN 1 ELSE 0 END AS selected",
    )
    g = t.groupBy("source").agg(
        F.count("*").alias("n"), F.sum("selected").alias("sel")
    )
    ref = g.agg(
        F.expr(
            "max_by(source, sel * 1000000 div n || '-' || source) AS ref_src"
        ),
        F.expr("max(sel * 1000000 div n)").alias("ref_rate_e6"),
    )
    return (
        g.crossJoin(F.broadcast(ref))
        .selectExpr(
            "source",
            "CAST(n AS BIGINT) AS n_docs",
            "CAST(sel * 1000000 div n AS BIGINT) AS select_rate_e6",
            "CAST(sel * 1000000 div n * 1000000 div ref_rate_e6 AS BIGINT)"
            " AS impact_ratio_e6",
            "CAST(CASE WHEN sel * 1000000 div n * 1000000 div ref_rate_e6"
            " < 800000 THEN 1 ELSE 0 END AS BIGINT) AS flag_80pct",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Goh-Barabasi inter-event burstiness distribution
# ---------------------------------------------------------------------------


@register(
    "events_interevent_burstiness",
    oracle="""
WITH g AS MATERIALIZED (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)))
           // 60000000 AS gap_min
  FROM events
), m AS MATERIALIZED (
  SELECT user_id, count(*) AS n, sum(gap_min) AS s,
         sum(gap_min * gap_min) AS ss
  FROM g WHERE gap_min IS NOT NULL
  GROUP BY user_id
  HAVING count(*) > 1
), b AS MATERIALIZED (
  SELECT user_id,
         CASE WHEN s = 0 THEN CAST(-1000000 AS BIGINT) ELSE
         CAST(round((sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                             * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                          / CAST(n AS DOUBLE))
                     - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    / (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                               * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                            / CAST(n AS DOUBLE))
                       + CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1000000) AS BIGINT) END AS b_e6
  FROM m
)
SELECT CAST(least(9, greatest(0, (b_e6 + 1000000) * 10 // 2000001)) AS BIGINT)
         AS b_decile,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(b_e6) // count(*) AS BIGINT) AS mean_b_e6
FROM b
GROUP BY 1
ORDER BY b_decile
""",
    doc="Goh-Barabasi burstiness (Goh-Barabasi 2008) of inter-event "
    "times per user: B = (sigma - mu)/(sigma + mu) of the minute-"
    "quantized gap sequence, B near -1 = metronome, 0 = Poisson, +1 = "
    "extreme bursts — the behavioral fingerprint distribution that "
    "separates organic users from schedulers/bots more robustly than "
    "the registry's fixed-regularity flags. Gaps come from one lag "
    "window PARTITIONED by user; per-user moments are exact int64 "
    "(minute quantization keeps gap^2 sums inside int64 for "
    "decade-long histories); B is one scalar double per user rounded "
    "e6, then bucketed into deciles of [-1, 1] with exact integer "
    "arithmetic. Output is a 10-row distribution regardless of user "
    "count.",
)
def events_interevent_burstiness(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - unix_micros(lag(ts) OVER (PARTITION BY user_id"
            " ORDER BY ts, event_id))) div 60000000"
        ).alias("gap_min"),
    ).where("gap_min IS NOT NULL")
    m = (
        g.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("gap_min").alias("s"),
            F.sum(F.col("gap_min") * F.col("gap_min")).alias("ss"),
        )
        .where("n > 1")
    )
    # s = 0 means EVERY gap quantized to the same minute -> sigma = mu = 0 and
    # B = 0/0; pin such degenerate users to B = -1 (the sigma->0 limit) in
    # both engines — DuckDB hard-errors on CAST(round(NaN) AS BIGINT) while
    # Spark would silently emit 0, a data-dependent crash/divergence.
    b = m.selectExpr(
        "CASE WHEN s = 0 THEN CAST(-1000000 AS BIGINT) ELSE"
        " CAST(round((sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)"
        " * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
        " - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)"
        " * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
        " + CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)"
        " END AS b_e6",
    )
    return (
        b.groupBy(
            F.expr(
                "CAST(least(9, greatest(0, (b_e6 + 1000000) * 10"
                " div 2000001)) AS BIGINT)"
            ).alias("b_decile")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr("CAST(sum(b_e6) div count(*) AS BIGINT)").alias("mean_b_e6"),
        )
        .orderBy("b_decile")
    )


# ---------------------------------------------------------------------------
# Empirical upper-tail dependence between order value and order size
# ---------------------------------------------------------------------------

# DuckDB's CAST(double AS BIGINT) rounds while Spark's truncates, so both
# sides must round() explicitly before integer math (same hazard fixed in
# the binned queries).


@register(
    "stats_tail_dependence_lambda",
    oracle="""
WITH per_order AS MATERIALIZED (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS x_cents,
         sum(CAST(l.l_quantity AS BIGINT)) AS y_qty
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_totalprice
), rx AS MATERIALIZED (
  SELECT o_orderkey, x_cents, y_qty,
         row_number() OVER (ORDER BY x_cents, o_orderkey) AS rkx,
         row_number() OVER (ORDER BY y_qty, o_orderkey) AS rky,
         count(*) OVER () AS n
  FROM per_order
), thr AS (
  SELECT max(n) AS n, (max(n) * 95 + 99) // 100 AS k FROM rx
)
SELECT CAST(thr.n AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN rx.rkx > thr.k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_x_tail,
       CAST(sum(CASE WHEN rx.rky > thr.k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_y_tail,
       CAST(sum(CASE WHEN rx.rkx > thr.k AND rx.rky > thr.k
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_joint_tail,
       CAST(sum(CASE WHEN rx.rkx > thr.k AND rx.rky > thr.k
                     THEN 1 ELSE 0 END) * 1000000
            // sum(CASE WHEN rx.rky > thr.k THEN 1 ELSE 0 END) AS BIGINT)
         AS lambda_u_e6
FROM rx CROSS JOIN thr
GROUP BY thr.n, thr.k
""",
    doc="Empirical upper-tail dependence coefficient lambda_U = "
    "P(X in top 5% | Y in top 5%) between order value and order "
    "quantity — the copula-tail diagnostic that says whether extremes "
    "co-occur (Pearson/Kendall measure the body, not the tail; for "
    "risk and anomaly screening the tail is what matters). Both "
    "variables are ranked EXACTLY with orderkey tiebreaks; the Spark "
    "side runs the coarse-bucket two-phase ranking twice (partitioned "
    "windows + broadcast offsets, no single-task sort) while the "
    "oracle uses plain windows; tail membership and lambda are exact "
    "integer counts and floor-division. One fact-table join builds "
    "the per-order relation; everything else is rank machinery.",
)
def stats_tail_dependence_lambda(spark, sf_dir):
    from ..operators.ranking import with_exact_global_order

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    per_order = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("y_qty"))
        .selectExpr(
            "o_orderkey",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS x_cents",
            "y_qty",
        )
        .persist()
    )
    rx = with_exact_global_order(
        per_order, [("x_cents", True), ("o_orderkey", True)], rank_name="rkx"
    )
    # cut points for the y-ranking come from the CACHED per_order, not
    # from rx: the percentile action over rx would execute the whole
    # x-ranking pipeline (window + offsets join can't be pruned) just to
    # sketch a column per_order already has. Ranks are exact regardless
    # of where the cuts land (operator docstring), so this only moves
    # the build-time job off the expensive lineage. (r10, guide §1/§5)
    from ..operators.ranking import approx_cut_points

    rxy = with_exact_global_order(
        rx,
        [("y_qty", True), ("o_orderkey", True)],
        rank_name="rky",
        cuts=approx_cut_points(per_order, "y_qty", 64),
    )
    thr = per_order.agg(
        F.count("*").alias("n"),
        F.expr("(count(*) * 95 + 99) div 100").alias("k"),
    )
    return (
        rxy.crossJoin(F.broadcast(thr))
        .groupBy("n", "k")
        .agg(
            F.sum(F.when(F.col("rkx") > F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_x_tail"),
            F.sum(F.when(F.col("rky") > F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_y_tail"),
            F.sum(
                F.when((F.col("rkx") > F.col("k")) & (F.col("rky") > F.col("k")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_joint_tail"),
            F.expr(
                "CAST(sum(CASE WHEN rkx > k AND rky > k THEN 1 ELSE 0 END)"
                " * 1000000 div sum(CASE WHEN rky > k THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("lambda_u_e6"),
        )
        .selectExpr(
            "CAST(n AS BIGINT) AS n_orders",
            "n_x_tail",
            "n_y_tail",
            "n_joint_tail",
            "lambda_u_e6",
        )
    )


# ---------------------------------------------------------------------------
# Confident-learning label-noise estimate (confident joint)
# ---------------------------------------------------------------------------


@register(
    "ml_confident_learning_noise",
    oracle="""
WITH t AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS given,
         (len(list_distinct(string_split(text, ' '))) * 4000
          // len(string_split(text, ' '))
          + least(len(string_split(text, ' ')), 100) * 30
          + CASE WHEN (length(text) - (len(string_split(text, ' ')) - 1))
                      * 10000 // len(string_split(text, ' '))
                      BETWEEN 30000 AND 100000
                 THEN 3000 ELSE 1500 END) AS score
  FROM documents
), thr AS (
  SELECT sum(CASE WHEN given = 1 THEN score ELSE 0 END)
           // sum(CASE WHEN given = 1 THEN 1 ELSE 0 END) AS t1,
         sum(CASE WHEN given = 0 THEN score ELSE 0 END)
           // sum(CASE WHEN given = 0 THEN 1 ELSE 0 END) AS t0
  FROM t
), cj AS MATERIALIZED (
  SELECT t.given,
         CASE WHEN t.score >= thr.t1 THEN 1
              WHEN t.score < thr.t0 THEN 0
              ELSE -1 END AS confident_pred,
         count(*) AS c
  FROM t CROSS JOIN thr
  GROUP BY 1, 2
), tot AS (
  SELECT sum(c) AS n_confident FROM cj WHERE confident_pred <> -1
)
SELECT CAST(cj.given AS BIGINT) AS given_label,
       CAST(cj.confident_pred AS BIGINT) AS confident_pred,
       CAST(cj.c AS BIGINT) AS n_docs,
       CAST(CASE WHEN cj.confident_pred <> -1
                 THEN cj.c * 1000000 // tot.n_confident ELSE 0 END AS BIGINT)
         AS joint_share_e6,
       CAST(CASE WHEN cj.confident_pred <> -1 AND cj.confident_pred <> cj.given
                 THEN 1 ELSE 0 END AS BIGINT) AS is_noise_cell
FROM cj CROSS JOIN tot
ORDER BY given_label, confident_pred
""",
    doc="Confident-learning label-noise estimation (Northcutt et al., "
    "JAIR 2021), the cleanlab method, simplified to the two-class "
    "quality-score model: per-class confidence thresholds are the "
    "class-mean scores (the paper's expected self-confidence), the "
    "confident joint counts documents whose score clears the OTHER "
    "class's threshold, and off-diagonal cells estimate the label "
    "noise mass — the data-centric screen for 'this en-labeled doc "
    "looks non-en'. TWO map-side-combined passes (thresholds, joint) "
    "and every statistic is exact integer floor-division; the "
    "abstained band (between thresholds) is reported as pred = -1 "
    "rather than silently dropped. Output bounded at 6 cells at any "
    "corpus scale.",
)
def ml_confident_learning_noise(spark, sf_dir):
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    t = with_quality_score(docs).selectExpr(
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS given",
        "quality_e4 AS score",
    )
    thr = t.agg(
        F.expr(
            "sum(CASE WHEN given = 1 THEN score ELSE 0 END)"
            " div sum(CASE WHEN given = 1 THEN 1 ELSE 0 END)"
        ).alias("t1"),
        F.expr(
            "sum(CASE WHEN given = 0 THEN score ELSE 0 END)"
            " div sum(CASE WHEN given = 0 THEN 1 ELSE 0 END)"
        ).alias("t0"),
    )
    cj = (
        t.crossJoin(F.broadcast(thr))
        .selectExpr(
            "given",
            "CASE WHEN score >= t1 THEN 1 WHEN score < t0 THEN 0"
            " ELSE -1 END AS confident_pred",
        )
        .groupBy("given", "confident_pred")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    tot = cj.where("confident_pred <> -1").agg(
        F.sum("c").alias("n_confident")
    )
    return (
        cj.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(given AS BIGINT) AS given_label",
            "CAST(confident_pred AS BIGINT) AS confident_pred",
            "CAST(c AS BIGINT) AS n_docs",
            "CAST(CASE WHEN confident_pred <> -1"
            " THEN c * 1000000 div n_confident ELSE 0 END AS BIGINT)"
            " AS joint_share_e6",
            "CAST(CASE WHEN confident_pred <> -1 AND confident_pred <> given"
            " THEN 1 ELSE 0 END AS BIGINT) AS is_noise_cell",
        )
        .orderBy("given_label", "confident_pred")
    )


# ---------------------------------------------------------------------------
# Small-world sigma of the nation trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_small_world_sigma",
    oracle="""
WITH ew AS MATERIALIZED (
  SELECT least(s.s_nationkey, c.c_nationkey) AS a,
         greatest(s.s_nationkey, c.c_nationkey) AS b
"""
    + CROSS_BORDER_SQL
    + """  GROUP BY 1, 2
), adj AS MATERIALIZED (
  SELECT a AS n, b AS m FROM ew UNION ALL SELECT b, a FROM ew
), deg AS MATERIALIZED (
  SELECT n, count(*) AS d FROM adj GROUP BY n
), wedges AS (
  SELECT sum(d * (d - 1) / 2) AS nw FROM deg
), tri AS (
  SELECT count(*) AS nt
  FROM ew e1 JOIN ew e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN ew e3 ON e3.a = e1.b AND e3.b = e2.b
), gstat AS (
  SELECT (SELECT count(*) FROM deg) AS nv,
         (SELECT count(*) FROM ew) AS ne
), d1 AS (
  SELECT a AS s, b AS t FROM ew UNION ALL SELECT b, a FROM ew
), u2 AS MATERIALIZED (
  SELECT s, t, min(d) AS d FROM (
    SELECT s, t, 1 AS d FROM d1
    UNION ALL
    SELECT d1.s, adj.m AS t, 2 AS d FROM d1 JOIN adj ON adj.n = d1.t
  ) WHERE s <> t GROUP BY s, t
), u3 AS MATERIALIZED (
  SELECT s, t, min(d) AS d FROM (
    SELECT s, t, d FROM u2
    UNION ALL
    SELECT u2.s, adj.m AS t, u2.d + 1 AS d FROM u2 JOIN adj ON adj.n = u2.t
  ) WHERE s <> t GROUP BY s, t
), lpath AS (
  SELECT sum(d) AS sd, count(*) AS np FROM u3
)
SELECT CAST(gstat.nv AS BIGINT) AS n_nodes,
       CAST(gstat.ne AS BIGINT) AS n_edges,
       CAST(tri.nt AS BIGINT) AS n_triangles,
       CAST(round((3.0 * CAST(tri.nt AS DOUBLE) / CAST(wedges.nw AS DOUBLE))
                  / (2.0 * CAST(gstat.ne AS DOUBLE)
                     / (CAST(gstat.nv AS DOUBLE) * (CAST(gstat.nv AS DOUBLE) - 1.0)))
                  / ((CAST(lpath.sd AS DOUBLE) / CAST(lpath.np AS DOUBLE))
                     / (ln(CAST(gstat.nv AS DOUBLE))
                        / ln(2.0 * CAST(gstat.ne AS DOUBLE)
                             / CAST(gstat.nv AS DOUBLE))))
                  * 1000000) AS BIGINT) AS sigma_e6
FROM gstat CROSS JOIN tri CROSS JOIN wedges CROSS JOIN lpath
""",
    doc="Small-world coefficient sigma (Humphries-Gurney 2008; Watts-"
    "Strogatz 1998): sigma = (C/C_rand)/(L/L_rand) over the nation "
    "trade graph, with C = global clustering 3*triangles/wedges "
    "(triangles by the same sorted-edge wedge join as the triangle-"
    "census query, wedges from exact degree sums), L = mean shortest "
    "path over the <=3-hop exact distance closure (the bounded-radius "
    "expansion reused from the closeness query — diameter here is "
    "tiny), and Erdos-Renyi baselines C_rand = 2m/(n(n-1)), L_rand = "
    "ln n / ln(2m/n) in closed form. sigma >> 1 means clustered-yet-"
    "short — the small-world signature. All graph relations are "
    "dimension-scale after one fact scan; sigma is a single scalar "
    "double with identical text in both engines, e6-rounded.",
)
def graph_small_world_sigma(spark, sf_dir):
    ew = (
        trade_edges(spark, sf_dir)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    adj = (
        ew.select(F.col("a").alias("n"), F.col("b").alias("m"))
        .unionByName(ew.select(F.col("b").alias("n"), F.col("a").alias("m")))
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("n").agg(F.count("*").alias("d"))
    wedges = deg.agg(F.expr("sum(d * (d - 1) / 2)").alias("nw"))
    e1 = ew.select(F.col("a").alias("a1"), F.col("b").alias("b1"))
    e2 = ew.select(F.col("a").alias("a2"), F.col("b").alias("b2"))
    e3 = ew.select(F.col("a").alias("a3"), F.col("b").alias("b3"))
    tri = (
        e1.join(e2, (F.col("a2") == F.col("a1")) & (F.col("b2") > F.col("b1")))
        .join(e3, (F.col("a3") == F.col("b1")) & (F.col("b3") == F.col("b2")))
        .agg(F.count("*").alias("nt"))
    )
    nv = deg.agg(F.count("*").alias("nv"))
    ne = ew.agg(F.count("*").alias("ne"))
    d1 = (
        ew.select(F.col("a").alias("s"), F.col("b").alias("t"))
        .unionByName(ew.select(F.col("b").alias("s"), F.col("a").alias("t")))
        .withColumn("d", F.lit(1))
    )

    def expand(u):
        nxt = u.join(adj, u.t == adj.n).select(
            u.s, F.col("m").alias("t"), (u.d + 1).alias("d")
        )
        return (
            u.unionByName(nxt)
            .where(F.col("s") != F.col("t"))
            .groupBy("s", "t")
            .agg(F.min("d").alias("d"))
        )

    u3 = expand(expand(d1))
    lpath = u3.agg(F.sum("d").alias("sd"), F.count("*").alias("np"))
    return (
        nv.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(lpath))
        .selectExpr(
            "CAST(nv AS BIGINT) AS n_nodes",
            "CAST(ne AS BIGINT) AS n_edges",
            "CAST(nt AS BIGINT) AS n_triangles",
            "CAST(round((3.0D * CAST(nt AS DOUBLE) / CAST(nw AS DOUBLE))"
            " / (2.0D * CAST(ne AS DOUBLE)"
            " / (CAST(nv AS DOUBLE) * (CAST(nv AS DOUBLE) - 1.0D)))"
            " / ((CAST(sd AS DOUBLE) / CAST(np AS DOUBLE))"
            " / (ln(CAST(nv AS DOUBLE))"
            " / ln(2.0D * CAST(ne AS DOUBLE) / CAST(nv AS DOUBLE))))"
            " * 1000000) AS BIGINT) AS sigma_e6",
        )
    )


# ---------------------------------------------------------------------------
# One-pass model-eval scorecard from a single shared histogram
# ---------------------------------------------------------------------------


@register(
    "pipeline_model_eval_scorecard",
    oracle="""
WITH t AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         least(9, (len(list_distinct(string_split(text, ' '))) * 4000
                   // len(string_split(text, ' '))
                   + least(len(string_split(text, ' ')), 100) * 30
                   + CASE WHEN (length(text) - (len(string_split(text, ' ')) - 1))
                               * 10000 // len(string_split(text, ' '))
                               BETWEEN 30000 AND 100000
                          THEN 3000 ELSE 1500 END) // 1000) AS bin
  FROM documents
), b AS MATERIALIZED (
  SELECT bin, count(*) AS c, sum(y) AS o FROM t GROUP BY bin
), g AS (
  SELECT sum(c) AS n, sum(o) AS pos, sum(c) - sum(o) AS neg FROM b
), below AS MATERIALIZED (
  SELECT a.bin, a.c, a.o,
         coalesce(sum(l.c - l.o), 0) AS neg_below
  FROM b a LEFT JOIN b l ON l.bin < a.bin
  GROUP BY a.bin, a.c, a.o
), auc AS (
  SELECT sum(2 * neg_below * o + (c - o) * o) AS auc2
  FROM below
), j AS (
  SELECT max(tp * 1000000 // g.pos - fp * 1000000 // g.neg) AS best_j_e6
  FROM (
    SELECT thr.t,
           sum(CASE WHEN b.bin >= thr.t THEN b.o ELSE 0 END) AS tp,
           sum(CASE WHEN b.bin >= thr.t THEN b.c - b.o ELSE 0 END) AS fp
    FROM b CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7,8,9]) AS t) thr
    GROUP BY thr.t
  ) roc CROSS JOIN g
), ece AS (
  SELECT sum(abs(o * 1000000 // c - (bin * 100000 + 50000)) * c) AS ece_num
  FROM b
)
SELECT CAST(g.n AS BIGINT) AS n,
       CAST(auc.auc2 * 500000 // (g.pos * g.neg) AS BIGINT) AS auc_e6,
       CAST(j.best_j_e6 AS BIGINT) AS youden_j_e6,
       CAST(ece.ece_num // g.n AS BIGINT) AS ece_e6
FROM g CROSS JOIN auc CROSS JOIN j CROSS JOIN ece
""",
    doc="One-pass evaluation scorecard for the quality-score-as-"
    "classifier: tie-adjusted ROC-AUC (rank-sum over the histogram: "
    "2*neg_below*pos + neg*pos per bin, halved at the end — exact "
    "integers throughout), best Youden J over the ten thresholds, and "
    "expected calibration error sum(c_k |rate_k - center_k|)/n — all "
    "derived from ONE shared (bin, count, positives) histogram, so "
    "the corpus is scanned exactly once for three metrics that the "
    "standalone queries (ml_auc_mann_whitney, ml_youden_threshold, "
    "ml_calibration_bins) each compute with their own pass. This is "
    "the aggregate-reuse pattern for production eval suites at 100 "
    "TB: materialize the sufficient statistic (the histogram), derive "
    "every downstream metric from it at constant cost. Every number "
    "is exact integer arithmetic; output one row.",
)
def pipeline_model_eval_scorecard(spark, sf_dir):
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    t = with_quality_score(docs).selectExpr(
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y",
        "least(9, quality_e4 div 1000) AS bin",
    )
    b = (
        t.groupBy("bin")
        .agg(F.count("*").alias("c"), F.sum("y").alias("o"))
        .localCheckpoint(eager=True)
    )
    g = b.agg(
        F.sum("c").alias("n"),
        F.sum("o").alias("pos"),
        (F.sum("c") - F.sum("o")).alias("neg"),
    )
    a = b.select(F.col("bin").alias("ab"), F.col("c").alias("ac"), F.col("o").alias("ao"))
    l = b.select(F.col("bin").alias("lb"), (F.col("c") - F.col("o")).alias("lneg"))
    below = (
        a.join(l, F.col("lb") < F.col("ab"), "left")
        .groupBy("ab", "ac", "ao")
        .agg(F.coalesce(F.sum("lneg"), F.lit(0)).alias("neg_below"))
    )
    auc = below.agg(
        F.sum(
            2 * F.col("neg_below") * F.col("ao")
            + (F.col("ac") - F.col("ao")) * F.col("ao")
        ).alias("auc2")
    )
    thr = spark.range(0, 10).select(F.col("id").alias("t"))
    roc = (
        b.crossJoin(F.broadcast(thr))
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("bin") >= F.col("t"), F.col("o")).otherwise(0)).alias("tp"),
            F.sum(
                F.when(F.col("bin") >= F.col("t"), F.col("c") - F.col("o")).otherwise(0)
            ).alias("fp"),
        )
    )
    j = (
        roc.crossJoin(F.broadcast(g))
        .agg(
            F.expr(
                "max(tp * 1000000 div pos - fp * 1000000 div neg)"
            ).alias("best_j_e6")
        )
    )
    ece = b.agg(
        F.expr(
            "sum(abs(o * 1000000 div c - (bin * 100000 + 50000)) * c)"
        ).alias("ece_num")
    )
    return (
        g.crossJoin(F.broadcast(auc))
        .crossJoin(F.broadcast(j))
        .crossJoin(F.broadcast(ece))
        .selectExpr(
            "CAST(n AS BIGINT) AS n",
            "CAST(auc2 * 500000 div (pos * neg) AS BIGINT) AS auc_e6",
            "CAST(best_j_e6 AS BIGINT) AS youden_j_e6",
            "CAST(ece_num div n AS BIGINT) AS ece_e6",
        )
    )


# ---------------------------------------------------------------------------
# Chow structural-break test on the monthly revenue trend
# ---------------------------------------------------------------------------

_CHOW_SSE = """
  (CAST({p}yy AS DOUBLE) - CAST({p}y AS DOUBLE) * CAST({p}y AS DOUBLE) / CAST({p}n AS DOUBLE))
  - (CAST({p}xy AS DOUBLE) - CAST({p}x AS DOUBLE) * CAST({p}y AS DOUBLE) / CAST({p}n AS DOUBLE))
    * (CAST({p}xy AS DOUBLE) - CAST({p}x AS DOUBLE) * CAST({p}y AS DOUBLE) / CAST({p}n AS DOUBLE))
    / (CAST({p}xx AS DOUBLE) - CAST({p}x AS DOUBLE) * CAST({p}x AS DOUBLE) / CAST({p}n AS DOUBLE))
"""


@register(
    "stats_chow_structural_break",
    oracle=f"""
WITH mo AS MATERIALIZED (
  SELECT CAST(extract(year FROM o_orderdate) * 12
              + extract(month FROM o_orderdate) AS BIGINT) AS x,
         sum(CAST(round(o_totalprice / 1000) AS BIGINT)) AS y
  FROM orders GROUP BY 1
), mid AS (
  SELECT (min(x) + max(x)) // 2 AS mid FROM mo
), m AS MATERIALIZED (
  SELECT count(*) AS pn, sum(x) AS px, sum(y) AS py,
         sum(x * x) AS pxx, sum(x * y) AS pxy, sum(y * y) AS pyy,
         sum(CASE WHEN x <= mid THEN 1 ELSE 0 END) AS an,
         sum(CASE WHEN x <= mid THEN x ELSE 0 END) AS ax,
         sum(CASE WHEN x <= mid THEN y ELSE 0 END) AS ay,
         sum(CASE WHEN x <= mid THEN x * x ELSE 0 END) AS axx,
         sum(CASE WHEN x <= mid THEN x * y ELSE 0 END) AS axy,
         sum(CASE WHEN x <= mid THEN y * y ELSE 0 END) AS ayy,
         sum(CASE WHEN x > mid THEN 1 ELSE 0 END) AS bn,
         sum(CASE WHEN x > mid THEN x ELSE 0 END) AS bx,
         sum(CASE WHEN x > mid THEN y ELSE 0 END) AS "by",
         sum(CASE WHEN x > mid THEN x * x ELSE 0 END) AS bxx,
         sum(CASE WHEN x > mid THEN x * y ELSE 0 END) AS bxy,
         sum(CASE WHEN x > mid THEN y * y ELSE 0 END) AS byy
  FROM mo CROSS JOIN mid
)
SELECT CAST(pn AS BIGINT) AS n_months,
       CAST(an AS BIGINT) AS n_pre,
       CAST(bn AS BIGINT) AS n_post,
       CAST(round((({_CHOW_SSE.format(p="p")})
                   - ({_CHOW_SSE.format(p="a")})
                   - ({_CHOW_SSE.format(p="b")})) / 2.0
                  / ((({_CHOW_SSE.format(p="a")})
                      + ({_CHOW_SSE.format(p="b")}))
                     / (CAST(pn AS DOUBLE) - 4.0))
                  * 1000000) AS BIGINT) AS chow_f_e6
FROM m
""",
    doc="Chow test (Chow 1960) for a structural break in the monthly "
    "revenue trend at the series midpoint: pooled vs split simple-"
    "regression SSEs, F = ((SSE_p - SSE_a - SSE_b)/k) / ((SSE_a + "
    "SSE_b)/(n - 2k)) with k = 2 parameters — the econometric "
    "break-detection complement to the CUSUM/changepoint queries "
    "(which locate breaks; Chow TESTS a hypothesized one). ALL "
    "eighteen segment moments come from ONE map-side-combined "
    "conditional aggregation over the calendar-bounded monthly "
    "rollup (the fact table is touched once); every SSE is the "
    "centered-moment identity expanded to IDENTICAL double text in "
    "both engines via a shared template, e6-rounded once. Reserved-"
    "word note: the post-segment y-sum is quoted for DuckDB.",
)
def stats_chow_structural_break(spark, sf_dir):
    mo = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate").cast("bigint") * 12
                + F.month("o_orderdate").cast("bigint")
            ).alias("x")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice / 1000) AS BIGINT)")).alias("y")
        )
        .localCheckpoint(eager=True)
    )
    mid = mo.agg(F.expr("(min(x) + max(x)) div 2").alias("mid"))
    m = (
        mo.crossJoin(F.broadcast(mid))
        .agg(
            F.expr("count(*)").alias("pn"),
            F.expr("sum(x)").alias("px"),
            F.expr("sum(y)").alias("py"),
            F.expr("sum(x * x)").alias("pxx"),
            F.expr("sum(x * y)").alias("pxy"),
            F.expr("sum(y * y)").alias("pyy"),
            F.expr("sum(CASE WHEN x <= mid THEN 1 ELSE 0 END)").alias("an"),
            F.expr("sum(CASE WHEN x <= mid THEN x ELSE 0 END)").alias("ax"),
            F.expr("sum(CASE WHEN x <= mid THEN y ELSE 0 END)").alias("ay"),
            F.expr("sum(CASE WHEN x <= mid THEN x * x ELSE 0 END)").alias("axx"),
            F.expr("sum(CASE WHEN x <= mid THEN x * y ELSE 0 END)").alias("axy"),
            F.expr("sum(CASE WHEN x <= mid THEN y * y ELSE 0 END)").alias("ayy"),
            F.expr("sum(CASE WHEN x > mid THEN 1 ELSE 0 END)").alias("bn"),
            F.expr("sum(CASE WHEN x > mid THEN x ELSE 0 END)").alias("bx"),
            F.expr("sum(CASE WHEN x > mid THEN y ELSE 0 END)").alias("by"),
            F.expr("sum(CASE WHEN x > mid THEN x * x ELSE 0 END)").alias("bxx"),
            F.expr("sum(CASE WHEN x > mid THEN x * y ELSE 0 END)").alias("bxy"),
            F.expr("sum(CASE WHEN x > mid THEN y * y ELSE 0 END)").alias("byy"),
        )
    )
    sse = _CHOW_SSE
    return m.selectExpr(
        "CAST(pn AS BIGINT) AS n_months",
        "CAST(an AS BIGINT) AS n_pre",
        "CAST(bn AS BIGINT) AS n_post",
        f"CAST(round((({sse.format(p='p')}) - ({sse.format(p='a')})"
        f" - ({sse.format(p='b')})) / 2.0D"
        f" / ((({sse.format(p='a')}) + ({sse.format(p='b')}))"
        " / (CAST(pn AS DOUBLE) - 4.0D)) * 1000000) AS BIGINT)"
        " AS chow_f_e6",
    )


# ---------------------------------------------------------------------------
# Breusch-Pagan heteroskedasticity test for the price~quantity regression
# ---------------------------------------------------------------------------


@register(
    "stats_breusch_pagan_test",
    oracle="""
WITH u AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice / 100) AS BIGINT) AS y
  FROM lineitem
), m AS MATERIALIZED (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM u
), e AS MATERIALIZED (
  SELECT u.x,
         CAST(round(
           (CAST(u.y AS DOUBLE)
            - (CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE)
               + (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE))
                 / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                 * (CAST(u.x AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))))
           * (CAST(u.y AS DOUBLE)
              - (CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE)
                 + (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE))
                   / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                   * (CAST(u.x AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))))
         ) AS BIGINT) AS e2
  FROM u CROSS JOIN m
), aux AS MATERIALIZED (
  SELECT count(*) AS n, sum(x) AS ax, sum(e2) AS ae,
         sum(x * x) AS axx, sum(x * e2) AS axe, sum(e2 * e2) AS aee
  FROM e
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(round((CAST(axe AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ae AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(axe AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ae AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(axx AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(aee AS DOUBLE) - CAST(ae AS DOUBLE) * CAST(ae AS DOUBLE) / CAST(n AS DOUBLE))
                  * 1000000) AS BIGINT) AS r2_aux_e6,
       CAST(round(CAST(n AS DOUBLE)
                  * (CAST(axe AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ae AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(axe AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ae AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(axx AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(aee AS DOUBLE) - CAST(ae AS DOUBLE) * CAST(ae AS DOUBLE) / CAST(n AS DOUBLE))
                  ) AS BIGINT) AS lm_stat_e0
FROM aux
""",
    doc="Breusch-Pagan LM test (Breusch-Pagan 1979, Koenker studentized "
    "form) for heteroskedasticity of the price ~ quantity regression: "
    "squared residuals regressed on the regressor, LM = n R^2_aux, "
    "large values say the error variance moves with quantity (so the "
    "OLS standard errors elsewhere need robustification). Residuals "
    "are closed-form per row against the broadcast first-pass moments "
    "(no model object, same one-pass identity as the Cook's-distance "
    "query); each squared residual is rounded to an INTEGER (unit = "
    "squared hundreds of dollars) BEFORE the auxiliary moment sums, "
    "keeping them exact int64 past 1e9 rows and order-free. Two "
    "map-side-combined passes total; the statistic is one scalar "
    "double with identical text in both engines.",
)
def stats_breusch_pagan_test(spark, sf_dir):
    u = load_table(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(round(l_extendedprice / 100) AS BIGINT) AS y",
    )
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    resid = (
        "(CAST(y AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
        " + (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))"
    )
    e = u.crossJoin(F.broadcast(m)).selectExpr(
        "x", f"CAST(round({resid} * {resid}) AS BIGINT) AS e2"
    )
    aux = e.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("ax"),
        F.sum("e2").alias("ae"),
        F.sum(F.col("x") * F.col("x")).alias("axx"),
        F.sum(F.col("x") * F.col("e2")).alias("axe"),
        F.sum(F.col("e2") * F.col("e2")).alias("aee"),
    )
    r2 = (
        "(CAST(axe AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ae AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " * (CAST(axe AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ae AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " / (CAST(axx AS DOUBLE) - CAST(ax AS DOUBLE) * CAST(ax AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " / (CAST(aee AS DOUBLE) - CAST(ae AS DOUBLE) * CAST(ae AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
    )
    return aux.selectExpr(
        "CAST(n AS BIGINT) AS n",
        f"CAST(round({r2} * 1000000) AS BIGINT) AS r2_aux_e6",
        f"CAST(round(CAST(n AS DOUBLE) * {r2}) AS BIGINT) AS lm_stat_e0",
    )


# ---------------------------------------------------------------------------
# Deming (errors-in-variables) regression
# ---------------------------------------------------------------------------


@register(
    "stats_deming_regression",
    oracle="""
WITH u AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice / 1000) AS BIGINT) AS y
  FROM lineitem
), m AS MATERIALIZED (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM u
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(round(((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                   - (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                   + sqrt(((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                           - (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                          * ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                             - (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                          + 4.0 * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
                  / (2.0 * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
                  * 1000000) AS BIGINT) AS deming_slope_e6,
       CAST(round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  * 1000000) AS BIGINT) AS ols_slope_e6
FROM m
""",
    doc="Deming regression (Deming 1943, delta = 1): the errors-in-"
    "variables slope ((Syy - Sxx) + sqrt((Syy - Sxx)^2 + 4 Sxy^2)) / "
    "(2 Sxy) on centered moments — the right line when BOTH variables "
    "carry measurement noise (OLS attenuates toward zero; the OLS "
    "slope is emitted alongside to show the attenuation bias "
    "directly). Identical ONE-pass exact int64 moment shape as the "
    "registry's OLS/logistic queries — thousands-of-dollars "
    "quantization keeps y*y sums exact past 1e10 rows — with the "
    "closed form as a single scalar double (sqrt is IEEE-exact) in "
    "identical text both engines.",
)
def stats_deming_regression(spark, sf_dir):
    u = load_table(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(round(l_extendedprice / 1000) AS BIGINT) AS y",
    )
    m = u.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cyy = (
        "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
    )
    cxx = (
        "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
    )
    cxy = (
        "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n",
        f"CAST(round((({cyy} - {cxx})"
        f" + sqrt(({cyy} - {cxx}) * ({cyy} - {cxx})"
        f" + 4.0D * {cxy} * {cxy})) / (2.0D * {cxy}) * 1000000) AS BIGINT)"
        " AS deming_slope_e6",
        f"CAST(round({cxy} / {cxx} * 1000000) AS BIGINT) AS ols_slope_e6",
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of each source's unigram distribution vs corpus
# ---------------------------------------------------------------------------


@register(
    "text_js_divergence_sources",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), wc AS MATERIALIZED (
  SELECT source, w, count(*) AS c FROM tok GROUP BY source, w
), stot AS (
  SELECT source, sum(c) AS st FROM wc GROUP BY source
), cw AS MATERIALIZED (
  SELECT w, sum(c) AS cc FROM wc GROUP BY w
), ctot AS (
  SELECT sum(cc) AS ct FROM cw
), grid AS MATERIALIZED (
  SELECT stot.source, cw.w,
         CAST(coalesce(wc.c, 0) AS DOUBLE) / CAST(stot.st AS DOUBLE) AS p,
         CAST(cw.cc AS DOUBLE) / CAST(ctot.ct AS DOUBLE) AS q
  FROM stot CROSS JOIN cw CROSS JOIN ctot
  LEFT JOIN wc ON wc.source = stot.source AND wc.w = cw.w
), terms AS MATERIALIZED (
  SELECT source,
         CASE WHEN p > 0
              THEN CAST(round(0.5 * p * ln(2.0 * p / (p + q)) * 1000000000)
                        AS BIGINT) ELSE 0 END
         + CAST(round(0.5 * q * ln(2.0 * q / (p + q)) * 1000000000) AS BIGINT)
           AS t_e9
  FROM grid
)
SELECT source, CAST(sum(t_e9) AS BIGINT) AS jsd_e9
FROM terms GROUP BY source
ORDER BY source
""",
    doc="Jensen-Shannon divergence of each source's unigram distribution "
    "from the corpus-wide distribution — the distributional drift "
    "score for mixture rebalancing (symmetric, bounded by ln 2, "
    "defined even where a source misses words — q > 0 corpus-wide by "
    "construction so the q-side term is total). Each 0.5*p*ln(2p/"
    "(p+q)) term is e9-rounded PER (source, word) CELL before the "
    "integer sum, so both engines agree exactly despite the float "
    "probabilities. One token-count aggregation scans the corpus; "
    "the (source x vocab) grid is vocabulary-bounded. At 100 TB the "
    "same shape runs over a capped top-K vocabulary (the standard "
    "drift-monitor restriction).",
)
def text_js_divergence_sources(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    stot = wc.groupBy("source").agg(F.sum("c").alias("st"))
    cw = wc.groupBy("w").agg(F.sum("c").alias("cc"))
    ctot = cw.agg(F.sum("cc").alias("ct"))
    grid = (
        stot.crossJoin(F.broadcast(cw))
        .crossJoin(F.broadcast(ctot))
        .join(wc, ["source", "w"], "left")
        .selectExpr(
            "source",
            "CAST(coalesce(c, 0) AS DOUBLE) / CAST(st AS DOUBLE) AS p",
            "CAST(cc AS DOUBLE) / CAST(ct AS DOUBLE) AS q",
        )
    )
    terms = grid.selectExpr(
        "source",
        "CASE WHEN p > 0"
        " THEN CAST(round(0.5D * p * ln(2.0D * p / (p + q)) * 1000000000)"
        " AS BIGINT) ELSE 0 END"
        " + CAST(round(0.5D * q * ln(2.0D * q / (p + q)) * 1000000000)"
        " AS BIGINT) AS t_e9",
    )
    return (
        terms.groupBy("source")
        .agg(F.sum("t_e9").cast("long").alias("jsd_e9"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Discrete power-law MLE on the co-purchase degree distribution
# ---------------------------------------------------------------------------


@register(
    "graph_powerlaw_degree_mle",
    oracle="""
WITH bask AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), deg AS MATERIALIZED (
  SELECT pk, count(*) AS d FROM bask GROUP BY pk
), filt AS MATERIALIZED (
  SELECT d FROM deg WHERE d >= 3
), s AS (
  SELECT count(*) AS n,
         sum(CAST(round(ln(CAST(d AS DOUBLE) / 2.5) * 1000000) AS BIGINT))
           AS sl_e6
  FROM filt
)
SELECT CAST(n AS BIGINT) AS n_tail_nodes,
       CAST(sl_e6 AS BIGINT) AS sum_log_e6,
       CAST(1000000 + n * 1000000000000 // sl_e6 AS BIGINT) AS alpha_e6
FROM s
""",
    doc="Discrete power-law exponent MLE (Clauset-Shalizi-Newman 2009, "
    "continuous approximation alpha = 1 + n / sum ln(d/(dmin - 1/2)) "
    "with dmin = 3) for the part co-purchase degree distribution — "
    "the scale-free check that tells the skew-handling machinery "
    "(salting, hub caps) whether a heavy-tailed degree law is "
    "actually present. Degrees come from one distinct + count "
    "aggregation; each ln(d/2.5) is e6-rounded PER NODE before the "
    "exact integer sum (order-free), and alpha inverts by exact "
    "integer division. Output one row at any scale.",
)
def graph_powerlaw_degree_mle(spark, sf_dir):
    bask = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    deg = bask.groupBy("pk").agg(F.count("*").alias("d"))
    filt = deg.where("d >= 3")
    s = filt.agg(
        F.count("*").alias("n"),
        F.sum(
            F.expr(
                "CAST(round(ln(CAST(d AS DOUBLE) / 2.5D) * 1000000) AS BIGINT)"
            )
        ).alias("sl_e6"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_tail_nodes",
        "CAST(sl_e6 AS BIGINT) AS sum_log_e6",
        "CAST(1000000 + n * 1000000000000 div sl_e6 AS BIGINT) AS alpha_e6",
    )


# ---------------------------------------------------------------------------
# Haar wavelet multi-resolution energy of the monthly revenue series
# ---------------------------------------------------------------------------


@register(
    "stats_haar_wavelet_energy",
    oracle="""
WITH mo AS MATERIALIZED (
  SELECT CAST(extract(year FROM o_orderdate) * 12
              + extract(month FROM o_orderdate) AS BIGINT) AS idx,
         sum(CAST(round(o_totalprice / 1000) AS BIGINT)) AS v
  FROM orders GROUP BY 1
), t AS MATERIALIZED (
  SELECT a.v, count(b.idx) AS pos
  FROM mo a LEFT JOIN mo b ON b.idx < a.idx
  GROUP BY a.idx, a.v
), l1 AS MATERIALIZED (
  SELECT pos // 2 AS p,
         sum(CASE WHEN pos % 2 = 0 THEN v ELSE -v END) AS d,
         sum(v) AS s, count(*) AS c
  FROM t GROUP BY pos // 2 HAVING count(*) = 2
), l2 AS MATERIALIZED (
  SELECT p // 2 AS p,
         sum(CASE WHEN p % 2 = 0 THEN s ELSE -s END) AS d,
         sum(s) AS s, count(*) AS c
  FROM l1 GROUP BY p // 2 HAVING count(*) = 2
), l3 AS MATERIALIZED (
  SELECT p // 2 AS p,
         sum(CASE WHEN p % 2 = 0 THEN s ELSE -s END) AS d,
         sum(s) AS s, count(*) AS c
  FROM l2 GROUP BY p // 2 HAVING count(*) = 2
), e AS (
  SELECT 1 AS level, count(*) AS n_coeffs, sum(d * d) * 4 AS energy_x4 FROM l1
  UNION ALL
  SELECT 2, count(*), sum(d * d) * 2 FROM l2
  UNION ALL
  SELECT 3, count(*), sum(d * d) FROM l3
)
SELECT CAST(level AS BIGINT) AS level,
       CAST(n_coeffs AS BIGINT) AS n_coeffs,
       CAST(energy_x4 AS BIGINT) AS energy_x4
FROM e ORDER BY level
""",
    doc="Haar wavelet multi-resolution decomposition (Haar 1910; the "
    "Mallat pyramid) of the monthly revenue series: three levels of "
    "pairwise detail coefficients d = v_even - v_odd over successive "
    "smooths, per-level energy sum(d^2) normalized by 2^(level-1) — "
    "high level-1 energy = month-to-month volatility, high level-3 = "
    "quarterly-scale swings; the multi-scale volatility profile a "
    "single variance can't show. Detail and smooth coefficients are "
    "EXACT integers throughout (unnormalized Haar; the 2^(level-1) "
    "normalizer is applied as a common x4 scale so energy_x4 = "
    "4*E1, 2*E2... stays integer — no float division, no "
    "round-vs-truncate cast skew), incomplete trailing pairs dropped "
    "via HAVING count = 2 identically in both engines. The month "
    "axis gets its position from the bounded theta-join; the fact "
    "table is scanned once. Each pyramid level is one groupBy on a "
    "relation that HALVES per level — log-depth, all "
    "partition-parallel.",
)
def stats_haar_wavelet_energy(spark, sf_dir):
    mo = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate").cast("bigint") * 12
                + F.month("o_orderdate").cast("bigint")
            ).alias("idx")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice / 1000) AS BIGINT)")).alias("v")
        )
        .localCheckpoint(eager=True)
    )
    a, b = mo.alias("a"), mo.alias("b")
    t = (
        a.join(b, F.col("b.idx") < F.col("a.idx"), "left")
        .groupBy(F.col("a.idx").alias("idx"), F.col("a.v").alias("v"))
        .agg(F.count(F.col("b.idx")).alias("pos"))
        .select("v", "pos")
    )

    def level(rel, pos_col, val_col):
        return (
            rel.groupBy(F.expr(f"{pos_col} div 2").alias("p"))
            .agg(
                F.sum(
                    F.expr(
                        f"CASE WHEN {pos_col} % 2 = 0 THEN {val_col}"
                        f" ELSE -{val_col} END"
                    )
                ).alias("d"),
                F.sum(F.col(val_col)).alias("s"),
                F.count("*").alias("c"),
            )
            .where("c = 2")
        )

    l1 = level(t, "pos", "v")
    l2 = level(l1, "p", "s")
    l3 = level(l2, "p", "s")
    # energy stays integer-EXACT: the 2^(level-1) normalizer is applied as a
    # common x4 scale (x4 / x2 / x1 per level) instead of a float division —
    # sum(d^2) has no evenness guarantee, so dividing then casting to BIGINT
    # would round in DuckDB and truncate in Spark on odd sums.
    e = (
        l1.agg(
            F.lit(1).alias("level"),
            F.count("*").alias("n_coeffs"),
            F.expr("sum(d * d) * 4").alias("energy_x4"),
        )
        .unionByName(
            l2.agg(
                F.lit(2).alias("level"),
                F.count("*").alias("n_coeffs"),
                F.expr("sum(d * d) * 2").alias("energy_x4"),
            )
        )
        .unionByName(
            l3.agg(
                F.lit(3).alias("level"),
                F.count("*").alias("n_coeffs"),
                F.expr("sum(d * d)").alias("energy_x4"),
            )
        )
    )
    return e.selectExpr(
        "CAST(level AS BIGINT) AS level",
        "CAST(n_coeffs AS BIGINT) AS n_coeffs",
        "CAST(energy_x4 AS BIGINT) AS energy_x4",
    ).orderBy("level")


# ---------------------------------------------------------------------------
# t-closeness release audit (EMD over ordered sensitive bins)
# ---------------------------------------------------------------------------


@register(
    "qa_t_closeness_audit",
    oracle="""
WITH t AS (
  SELECT c_nationkey AS qi,
         least(9, CAST(round(c_acctbal) AS BIGINT) // 1200 + CASE
           WHEN c_acctbal < 0 THEN 0 ELSE 1 END) AS sens
  FROM customer
), cell AS MATERIALIZED (
  SELECT qi, sens, count(*) AS c FROM t GROUP BY qi, sens
), qtot AS (
  SELECT qi, sum(c) AS qt FROM cell GROUP BY qi
), gl AS MATERIALIZED (
  SELECT sens, sum(c) AS g FROM cell GROUP BY sens
), gtot AS (
  SELECT sum(g) AS gt FROM gl
), grid AS MATERIALIZED (
  SELECT qtot.qi, gl.sens,
         coalesce(cell.c, 0) * 1000000 // qtot.qt AS p_e6,
         gl.g * 1000000 // gtot.gt AS q_e6
  FROM qtot CROSS JOIN gl CROSS JOIN gtot
  LEFT JOIN cell ON cell.qi = qtot.qi AND cell.sens = gl.sens
), cum AS MATERIALIZED (
  SELECT a.qi, a.sens,
         sum(b.p_e6 - b.q_e6) AS cum_diff_e6
  FROM grid a JOIN grid b ON b.qi = a.qi AND b.sens <= a.sens
  GROUP BY a.qi, a.sens
), emd AS MATERIALIZED (
  SELECT qi, sum(abs(cum_diff_e6)) // (count(*) - 1) AS emd_e6
  FROM cum GROUP BY qi
)
SELECT CAST(emd.qi AS INT) AS nationkey,
       CAST(qtot.qt AS BIGINT) AS class_size,
       CAST(emd.emd_e6 AS BIGINT) AS emd_e6,
       CAST(CASE WHEN emd.emd_e6 > 200000 THEN 1 ELSE 0 END AS BIGINT)
         AS violates_t02
FROM emd JOIN qtot ON qtot.qi = emd.qi
ORDER BY nationkey
""",
    doc="t-closeness audit (Li-Li-Venkatasubramanian, ICDE 2007) for a "
    "customer release with nation as the quasi-identifier class and "
    "binned account balance as the ORDERED sensitive attribute: per "
    "class, the Earth Mover's Distance between the class's sensitive "
    "distribution and the global one — for 1-D ordered bins EMD is "
    "exactly mean |cumulative difference|, computed here as a bounded "
    "triangular self-join on the (class x 10-bin) grid (no window), "
    "all integer e6 arithmetic after per-cell floor-div shares. "
    "Classes with EMD > t = 0.2 are flagged: they leak balance-"
    "distribution information even if k-anonymous and l-diverse (the "
    "two audits this completes — skewness attacks beat l-diversity, "
    "t-closeness catches them). One scan builds the cells; output "
    "bounded by |classes|.",
)
def qa_t_closeness_audit(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_nationkey AS qi",
        "least(9, CAST(round(c_acctbal) AS BIGINT) div 1200"
        " + CASE WHEN c_acctbal < 0 THEN 0 ELSE 1 END) AS sens",
    )
    cell = cust.groupBy("qi", "sens").agg(F.count("*").alias("c")).persist()
    qtot = cell.groupBy("qi").agg(F.sum("c").alias("qt"))
    gl = cell.groupBy("sens").agg(F.sum("c").alias("g"))
    gtot = gl.agg(F.sum("g").alias("gt"))
    grid = (
        qtot.crossJoin(F.broadcast(gl))
        .crossJoin(F.broadcast(gtot))
        .join(cell, ["qi", "sens"], "left")
        .selectExpr(
            "qi",
            "sens",
            "coalesce(c, 0) * 1000000 div qt AS p_e6",
            "g * 1000000 div gt AS q_e6",
        )
        .persist()
    )
    ga = grid.select(F.col("qi"), F.col("sens"))
    gb = grid.select(
        F.col("qi").alias("bqi"), F.col("sens").alias("bsens"),
        (F.col("p_e6") - F.col("q_e6")).alias("diff_e6"),
    )
    cum = (
        ga.join(gb, (F.col("bqi") == F.col("qi")) & (F.col("bsens") <= F.col("sens")))
        .groupBy("qi", "sens")
        .agg(F.sum("diff_e6").alias("cum_diff_e6"))
    )
    emd = cum.groupBy("qi").agg(
        F.expr("sum(abs(cum_diff_e6)) div (count(*) - 1)").alias("emd_e6")
    )
    return (
        emd.join(qtot, "qi")
        .selectExpr(
            "CAST(qi AS INT) AS nationkey",
            "CAST(qt AS BIGINT) AS class_size",
            "CAST(emd_e6 AS BIGINT) AS emd_e6",
            "CAST(CASE WHEN emd_e6 > 200000 THEN 1 ELSE 0 END AS BIGINT)"
            " AS violates_t02",
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Group-aware train/val/test split (no customer straddles splits)
# ---------------------------------------------------------------------------


@register(
    "sample_group_aware_split",
    oracle="""
WITH assigned AS MATERIALIZED (
  SELECT o.o_orderkey, o.o_custkey,
         CASE WHEN CAST(('0x' || substr(md5('grp:' || CAST(o.o_custkey AS VARCHAR)), 1, 4))
                        AS INT) % 10 < 8 THEN 'train'
              WHEN CAST(('0x' || substr(md5('grp:' || CAST(o.o_custkey AS VARCHAR)), 1, 4))
                        AS INT) % 10 < 9 THEN 'val'
              ELSE 'test' END AS split
  FROM orders o
), per_split AS (
  SELECT split, count(*) AS n_rows, count(DISTINCT o_custkey) AS n_groups
  FROM assigned GROUP BY split
), straddle AS (
  SELECT count(*) AS n_violations FROM (
    SELECT o_custkey FROM assigned GROUP BY o_custkey
    HAVING count(DISTINCT split) > 1)
)
SELECT per_split.split, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_groups AS BIGINT) AS n_groups,
       CAST(straddle.n_violations AS BIGINT) AS n_straddling_groups
FROM per_split CROSS JOIN straddle
ORDER BY split
""",
    doc="Group-aware split manifest (sklearn GroupShuffleSplit "
    "semantics): orders are assigned to train/val/test by the md5 "
    "hash of the CUSTOMER, not the row, so all of a customer's orders "
    "land in one split — the leakage guard the registry's row-level "
    "split manifest doesn't give (a model must not see the same "
    "customer in train and test when predicting customer behavior). "
    "The audit column proves it: groups spanning >1 split = 0 BY "
    "CONSTRUCTION, and the query computes the count rather than "
    "asserting it, so any future hash-drift bug surfaces as a "
    "CORRECTNESS failure. Deterministic md5 assignment = replayable "
    "and engine-portable; one scan plus group-level distincts, "
    "map-side combined.",
)
def sample_group_aware_split(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_custkey",
        "CASE WHEN CAST(conv(substring(md5(concat('grp:',"
        " CAST(o_custkey AS STRING))), 1, 4), 16, 10) AS INT) % 10 < 8"
        " THEN 'train'"
        " WHEN CAST(conv(substring(md5(concat('grp:',"
        " CAST(o_custkey AS STRING))), 1, 4), 16, 10) AS INT) % 10 < 9"
        " THEN 'val' ELSE 'test' END AS split",
    ).persist()
    per_split = o.groupBy("split").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_groups"),
    )
    straddle = (
        o.groupBy("o_custkey")
        .agg(F.countDistinct("split").alias("ns"))
        .where("ns > 1")
        .agg(F.count("*").alias("n_violations"))
    )
    return (
        per_split.crossJoin(F.broadcast(straddle))
        .selectExpr(
            "split",
            "CAST(n_rows AS BIGINT) AS n_rows",
            "CAST(n_groups AS BIGINT) AS n_groups",
            "CAST(n_violations AS BIGINT) AS n_straddling_groups",
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on detrended monthly revenue signs
# ---------------------------------------------------------------------------


@register(
    "stats_runs_test_randomness",
    oracle="""
WITH mo AS MATERIALIZED (
  SELECT CAST(extract(year FROM o_orderdate) * 12
              + extract(month FROM o_orderdate) AS BIGINT) AS idx,
         sum(CAST(round(o_totalprice / 1000) AS BIGINT)) AS v
  FROM orders GROUP BY 1
), med AS (
  SELECT sum(v) / count(*) AS mean_v, count(*) AS nm FROM mo
), signed AS MATERIALIZED (
  SELECT idx, CASE WHEN CAST(v AS DOUBLE) >= mean_v THEN 1 ELSE 0 END AS s
  FROM mo CROSS JOIN med
), flips AS (
  SELECT count(*) AS n_flips
  FROM signed a JOIN signed b ON b.idx = a.idx - 1
  WHERE a.s <> b.s
), counts AS (
  SELECT sum(s) AS n1, count(*) - sum(s) AS n0, count(*) AS n FROM signed
)
SELECT CAST(counts.n AS BIGINT) AS n_months,
       CAST(counts.n1 AS BIGINT) AS n_above,
       CAST(counts.n0 AS BIGINT) AS n_below,
       CAST(flips.n_flips + 1 AS BIGINT) AS n_runs,
       CAST(round((CAST(flips.n_flips + 1 AS DOUBLE)
                   - (2.0 * CAST(counts.n1 AS DOUBLE) * CAST(counts.n0 AS DOUBLE)
                      / CAST(counts.n AS DOUBLE) + 1.0))
                  / sqrt(2.0 * CAST(counts.n1 AS DOUBLE) * CAST(counts.n0 AS DOUBLE)
                         * (2.0 * CAST(counts.n1 AS DOUBLE) * CAST(counts.n0 AS DOUBLE)
                            - CAST(counts.n AS DOUBLE))
                         / (CAST(counts.n AS DOUBLE) * CAST(counts.n AS DOUBLE)
                            * (CAST(counts.n AS DOUBLE) - 1.0)))
                  * 1000000) AS BIGINT) AS z_e6
FROM counts CROSS JOIN flips
""",
    doc="Wald-Wolfowitz runs test (1940) for randomness of the monthly "
    "revenue series around its mean: the run count (sign flips + 1 "
    "over consecutive months, an exact lag-join count — no window) "
    "against the null expectation 2 n1 n0 / n + 1, z-scored with the "
    "exact variance formula — too few runs = momentum/trending, too "
    "many = oscillation, complementing the ACF and Hurst analyses "
    "with the distribution-free classic. The fact table is scanned "
    "once for the monthly rollup; signs, flips, and counts are exact "
    "integers on the calendar-bounded series (the >= mean comparison "
    "is double-vs-exact-rational, identical in both engines); the z "
    "statistic is one scalar double e6-rounded. Gap months break "
    "runs naturally since the lag join requires idx-1 adjacency.",
)
def stats_runs_test_randomness(spark, sf_dir):
    mo = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate").cast("bigint") * 12
                + F.month("o_orderdate").cast("bigint")
            ).alias("idx")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice / 1000) AS BIGINT)")).alias("v")
        )
        .localCheckpoint(eager=True)
    )
    med = mo.agg(
        F.expr("sum(v) / count(*)").alias("mean_v"), F.count("*").alias("nm")
    )
    signed = (
        mo.crossJoin(F.broadcast(med))
        .selectExpr(
            "idx",
            "CASE WHEN CAST(v AS DOUBLE) >= mean_v THEN 1 ELSE 0 END AS s",
        )
        .persist()
    )
    a = signed.select(F.col("idx"), F.col("s"))
    b = signed.select(F.col("idx").alias("pidx"), F.col("s").alias("ps"))
    flips = (
        a.join(b, F.col("pidx") == F.col("idx") - 1)
        .where("s <> ps")
        .agg(F.count("*").alias("n_flips"))
    )
    counts = signed.agg(
        F.sum("s").alias("n1"),
        (F.count("*") - F.sum("s")).alias("n0"),
        F.count("*").alias("n"),
    )
    return (
        counts.crossJoin(F.broadcast(flips))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_months",
            "CAST(n1 AS BIGINT) AS n_above",
            "CAST(n0 AS BIGINT) AS n_below",
            "CAST(n_flips + 1 AS BIGINT) AS n_runs",
            "CAST(round((CAST(n_flips + 1 AS DOUBLE)"
            " - (2.0D * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)"
            " / CAST(n AS DOUBLE) + 1.0D))"
            " / sqrt(2.0D * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)"
            " * (2.0D * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)"
            " - CAST(n AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            " * (CAST(n AS DOUBLE) - 1.0D))) * 1000000) AS BIGINT) AS z_e6",
        )
    )


# ---------------------------------------------------------------------------
# Expected Reciprocal Rank with EXACT rational cascade products
# ---------------------------------------------------------------------------


@register(
    "search_err_cascade_metric",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), tf AS MATERIALIZED (
  SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w
), hits AS MATERIALIZED (
  SELECT doc_id,
         sum(CASE WHEN w IN ('data', 'stream', 'join') THEN tf ELSE 0 END)
           AS n_hits,
         sum(tf) AS dlen
  FROM tf GROUP BY doc_id
), ranked AS MATERIALIZED (
  SELECT doc_id,
         least(4, n_hits) AS g,
         row_number() OVER (ORDER BY n_hits * 100000 // dlen DESC, doc_id)
           AS rk
  FROM hits WHERE n_hits > 0
), top AS MATERIALIZED (
  SELECT doc_id, g, rk FROM ranked WHERE rk <= 10
), prod AS MATERIALIZED (
  -- exact cascade continue-probability numerator: prod over i<r of (32-2^g)
  SELECT a.rk, a.doc_id, a.g,
         coalesce(product(CAST(32 - (1 << b.g) AS DOUBLE)), 1.0) AS contnum
  FROM top a LEFT JOIN top b ON b.rk < a.rk
  GROUP BY a.rk, a.doc_id, a.g
), terms AS MATERIALIZED (
  SELECT rk, doc_id, CAST(g AS BIGINT) AS grade,
         CAST(round(contnum * CAST((1 << g) - 1 AS DOUBLE)
                    / pow(32.0, CAST(rk AS DOUBLE))
                    / CAST(rk AS DOUBLE) * 1000000000) AS BIGINT) AS err_e9
  FROM prod
)
SELECT CAST(rk AS BIGINT) AS rank, doc_id, grade, err_e9,
       CAST(sum(err_e9) OVER () AS BIGINT) AS err_total_e9
FROM terms
ORDER BY rank
""",
    doc="Expected Reciprocal Rank (Chapelle et al., CIKM 2009) with the "
    "cascade products kept EXACT: grades g in 0..4 give stop-"
    "probability R = (2^g - 1)/32, so the continue product over "
    "higher ranks is an integer product of (32 - 2^g) factors over a "
    "32^(r-1) denominator — each factor <= 31, ten ranks => product "
    "< 31^9 ~ 2.6e13, exactly representable in a double (< 2^53), so "
    "product()/pow(32) is bit-deterministic in both engines with NO "
    "log-sum approximation. The per-rank triangular LEFT JOIN runs on "
    "the 10-row top slab; ranking scores are exact integer term-"
    "density. ERR's cascade (a doc's contribution is discounted by "
    "how satisfying everything ABOVE it was) complements the "
    "registry's position-discount metrics (nDCG/MRR/AP) with the "
    "user-model family. One corpus scan for term counts; everything "
    "after is slab-scale.",
)
def search_err_cascade_metric(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    hits = (
        tf.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("w").isin("data", "stream", "join"), F.col("tf")).otherwise(0)
            ).alias("n_hits"),
            F.sum("tf").alias("dlen"),
        )
        .where("n_hits > 0")
    )
    # scores are integer term-density; global top-10 via TakeOrdered on the
    # hit-filtered slab (bounded by matching docs, itself posting-bounded)
    top = (
        hits.selectExpr(
            "doc_id",
            "least(4, n_hits) AS g",
            "n_hits * 100000 div dlen AS score",
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy(F.lit(1)).orderBy(F.col("score").desc(), "doc_id")
            ),
        )
        .select("doc_id", "g", "rk")
        .localCheckpoint(eager=True)
    )
    a = top.select(F.col("rk"), F.col("doc_id"), F.col("g"))
    b = top.select(F.col("rk").alias("brk"), F.col("g").alias("bg"))
    prod = (
        a.join(b, F.col("brk") < F.col("rk"), "left")
        .groupBy("rk", "doc_id", "g")
        .agg(
            # Spark lacks a product() aggregate; fold the collected integer
            # factors instead. The product is exact int64 (<= 31^9 < 2^53),
            # so collect_list's nondeterministic order is harmless and the
            # final double equals DuckDB's product() bit-for-bit.
            F.expr(
                "CAST(aggregate(collect_list(CAST(32 - shiftleft(1, bg)"
                " AS BIGINT)), CAST(1 AS BIGINT), (acc, x) -> acc * x)"
                " AS DOUBLE)"
            ).alias("contnum")
        )
    )
    terms = prod.selectExpr(
        "rk",
        "doc_id",
        "CAST(g AS BIGINT) AS grade",
        "CAST(round(contnum * CAST(shiftleft(1, g) - 1 AS DOUBLE)"
        " / pow(32.0D, CAST(rk AS DOUBLE)) / CAST(rk AS DOUBLE)"
        " * 1000000000) AS BIGINT) AS err_e9",
    ).persist()
    tot = terms.agg(F.sum("err_e9").alias("err_total_e9"))
    return (
        terms.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(rk AS BIGINT) AS rank",
            "doc_id",
            "grade",
            "err_e9",
            "CAST(err_total_e9 AS BIGINT) AS err_total_e9",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Newey-West HAC-robust variance of the monthly revenue trend slope
# ---------------------------------------------------------------------------


@register(
    "stats_newey_west_hac",
    oracle="""
WITH mo AS MATERIALIZED (
  SELECT CAST(extract(year FROM o_orderdate) * 12
              + extract(month FROM o_orderdate) AS BIGINT) AS x,
         sum(CAST(round(o_totalprice / 1000) AS BIGINT)) AS y
  FROM orders GROUP BY 1
), m AS MATERIALIZED (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM mo
), sc AS MATERIALIZED (
  SELECT mo.x,
         CAST(round((CAST(mo.x AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                    * (CAST(mo.y AS DOUBLE)
                       - (CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE)
                          + (CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE))
                            / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                            * (CAST(mo.x AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))))
                    ) AS BIGINT) AS u
  FROM mo CROSS JOIN m
), gam AS MATERIALIZED (
  SELECT 0 AS lag, sum(a.u * a.u) AS g FROM sc a
  UNION ALL
  SELECT 1, sum(a.u * b.u) FROM sc a JOIN sc b ON b.x = a.x - 1
  UNION ALL
  SELECT 2, sum(a.u * b.u) FROM sc a JOIN sc b ON b.x = a.x - 2
), s AS (
  SELECT sum(CASE WHEN lag = 0 THEN 3 * g
                  WHEN lag = 1 THEN 4 * g
                  ELSE 2 * g END) AS lrv_num3
  FROM gam
)
SELECT CAST(m.n AS BIGINT) AS n_months,
       CAST(round((CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE))
                  / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                  * 1000) AS BIGINT) AS slope_e3,
       CAST(round(sqrt(CAST(s.lrv_num3 AS DOUBLE) / 3.0)
                  / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                  * 1000000) AS BIGINT) AS hac_se_e6
FROM m CROSS JOIN s
""",
    doc="Newey-West HAC-robust standard error (Newey-West 1987, Bartlett "
    "kernel, L = 2 lags) for the monthly revenue trend slope: "
    "autocorrelation-consistent long-run variance of the score series "
    "u_t = (x_t - xbar) e_t, with each score e0-ROUNDED to an exact "
    "integer before the lag-product sums (order-free), lag "
    "autocovariances as exact lag-joins on the calendar index, and "
    "Bartlett weights 1, 2/3, 1/3 applied EXACTLY by summing 3x-scaled "
    "integer terms (3*g0 + 4*g1 + 2*g2) and dividing by 3 once inside "
    "the final double sqrt — no per-term float division, so the "
    "long-run variance numerator is an exact integer in both engines. "
    "OLS ignores serial "
    "correlation and understates the trend SE; this is the standard "
    "fix. One fact scan for the rollup, then everything runs on the "
    "bounded series; the sandwich SE is one scalar double.",
)
def stats_newey_west_hac(spark, sf_dir):
    mo = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate").cast("bigint") * 12
                + F.month("o_orderdate").cast("bigint")
            ).alias("x")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice / 1000) AS BIGINT)")).alias("y")
        )
        .localCheckpoint(eager=True)
    )
    m = mo.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    sc = (
        mo.crossJoin(F.broadcast(m))
        .selectExpr(
            "x",
            "CAST(round((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE)"
            " / CAST(n AS DOUBLE))"
            " * (CAST(y AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
            " + (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
            " / CAST(n AS DOUBLE))"
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
            " / CAST(n AS DOUBLE))"
            " * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))"
            ") AS BIGINT) AS u",
        )
        .persist()
    )
    a = sc.select(F.col("x"), F.col("u"))
    b1 = sc.select(F.col("x").alias("bx"), F.col("u").alias("bu"))
    g0 = sc.agg(F.sum(F.col("u") * F.col("u")).alias("g")).selectExpr("0 AS lag", "g")
    g1 = (
        a.join(b1, F.col("bx") == F.col("x") - 1)
        .agg(F.sum(F.col("u") * F.col("bu")).alias("g"))
        .selectExpr("1 AS lag", "g")
    )
    g2 = (
        a.join(b1, F.col("bx") == F.col("x") - 2)
        .agg(F.sum(F.col("u") * F.col("bu")).alias("g"))
        .selectExpr("2 AS lag", "g")
    )
    # Bartlett weights (1, 2/3, 1/3) are kept EXACT by summing 3x-scaled
    # integer terms (3g0 + 4g1 + 2g2) and dividing by 3 once, inside the
    # final double expression — no per-term float division to drift.
    s = (
        g0.unionByName(g1)
        .unionByName(g2)
        .agg(
            F.expr(
                "sum(CASE WHEN lag = 0 THEN 3 * g WHEN lag = 1 THEN 4 * g"
                " ELSE 2 * g END)"
            ).alias("lrv_num3")
        )
    )
    return (
        m.crossJoin(F.broadcast(s))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_months",
            "CAST(round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
            " * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
            " / CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS slope_e3",
            "CAST(round(sqrt(CAST(lrv_num3 AS DOUBLE) / 3.0)"
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
            " / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS hac_se_e6",
        )
    )


# ---------------------------------------------------------------------------
# Theil entropy index of customer spend inequality
# ---------------------------------------------------------------------------


@register(
    "stats_theil_inequality_index",
    oracle="""
WITH spend AS MATERIALIZED (
  SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
), tot AS (
  SELECT count(*) AS n, sum(cents) AS tc FROM spend
), terms AS MATERIALIZED (
  SELECT CAST(round(CAST(spend.cents AS DOUBLE) * CAST(tot.n AS DOUBLE)
                    / CAST(tot.tc AS DOUBLE)
                    * ln(CAST(spend.cents AS DOUBLE) * CAST(tot.n AS DOUBLE)
                         / CAST(tot.tc AS DOUBLE))
                    * 1000000) AS BIGINT) AS t_e6,
         tot.n
  FROM spend CROSS JOIN tot
)
SELECT CAST(max(n) AS BIGINT) AS n_customers,
       CAST(sum(t_e6) // max(n) AS BIGINT) AS theil_t_e6
FROM terms
""",
    doc="Theil T entropy index (Theil 1967) of customer spend "
    "concentration: T = (1/n) sum (x_i/mu) ln(x_i/mu) — zero under "
    "perfect equality, ln(n) under total concentration, and unlike "
    "the registry's Gini it DECOMPOSES additively into between-group "
    "+ within-group terms (the property that makes it the standard "
    "for drill-down inequality analysis). Each term is one scalar "
    "double (the ratio times its log) e6-rounded per customer BEFORE "
    "the exact integer sum — order-free across engines; spend > 0 by "
    "construction so the log is total. One map-side-combined rollup "
    "plus one scoring pass; no window, no sort.",
)
def stats_theil_inequality_index(spark, sf_dir):
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                "cents"
            )
        )
    )
    tot = spend.agg(F.count("*").alias("n"), F.sum("cents").alias("tc"))
    terms = spend.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(round(CAST(cents AS DOUBLE) * CAST(n AS DOUBLE)"
        " / CAST(tc AS DOUBLE)"
        " * ln(CAST(cents AS DOUBLE) * CAST(n AS DOUBLE)"
        " / CAST(tc AS DOUBLE)) * 1000000) AS BIGINT) AS t_e6",
        "n",
    )
    return terms.agg(
        F.expr("CAST(max(n) AS BIGINT)").alias("n_customers"),
        F.expr("CAST(sum(t_e6) div max(n) AS BIGINT)").alias("theil_t_e6"),
    )


# ---------------------------------------------------------------------------
# Merkle tree root of the orders table (incremental-verification digest)
# ---------------------------------------------------------------------------


@register(
    "qa_merkle_tree_root",
    oracle="""
WITH rows_d AS MATERIALIZED (
  SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INT)
           % 16 AS leaf,
         md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
             || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR))
           AS rd
  FROM orders
), leaves AS MATERIALIZED (
  SELECT leaf, md5(string_agg(rd, '' ORDER BY rd)) AS h
  FROM rows_d GROUP BY leaf
), l1 AS (
  SELECT leaf // 4 AS b, md5(string_agg(h, '' ORDER BY leaf)) AS h
  FROM leaves GROUP BY leaf // 4
), root AS (
  SELECT md5(string_agg(h, '' ORDER BY b)) AS root_digest FROM l1
)
SELECT leaves.leaf AS leaf, leaves.h AS leaf_digest, root.root_digest
FROM leaves CROSS JOIN root
ORDER BY leaf
""",
    doc="Merkle tree digest of the orders table (16 hash-bucketed "
    "leaves -> 4 -> root), the incremental-verification structure the "
    "flat table checksum can't give: after an append or repair, only "
    "the touched leaf and its ancestor path need recomputation, and "
    "two replicas can locate a divergence in log(leaves) digest "
    "comparisons instead of re-scanning (the anti-entropy pattern of "
    "Dynamo-style stores). Row digests fold the key, status, and "
    "exact cents; leaf digests hash the digest-SORTED concatenation "
    "(order-insensitive to scan order — Spark concatenates "
    "sort_array(collect_list(..)), DuckDB string_agg ORDER BY, same "
    "bytes); inner levels hash children in leaf order. Leaves are "
    "md5-bucketed so skew is uniform; each level is one map-side-"
    "combinable aggregation.",
)
def qa_merkle_tree_root(spark, sf_dir):
    rows_d = load_table(spark, sf_dir, "orders").selectExpr(
        "CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 4), 16, 10)"
        " AS INT) % 16 AS leaf",
        "md5(concat(CAST(o_orderkey AS STRING), '|', o_orderstatus, '|',"
        " CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING))) AS rd",
    )
    leaves = (
        rows_d.groupBy("leaf")
        .agg(
            F.md5(
                F.concat_ws("", F.sort_array(F.collect_list("rd")))
            ).alias("h")
        )
        .persist()
    )
    l1 = (
        leaves.groupBy(F.expr("leaf div 4").alias("b"))
        .agg(
            F.md5(
                F.concat_ws(
                    "",
                    F.expr(
                        "transform(array_sort(collect_list(struct(leaf, h)),"
                        " (a, b) -> CASE WHEN a.leaf < b.leaf THEN -1"
                        " WHEN a.leaf > b.leaf THEN 1 ELSE 0 END),"
                        " x -> x.h)"
                    ),
                )
            ).alias("h")
        )
    )
    root = l1.agg(
        F.md5(
            F.concat_ws(
                "",
                F.expr(
                    "transform(array_sort(collect_list(struct(b, h)),"
                    " (a, b) -> CASE WHEN a.b < b.b THEN -1"
                    " WHEN a.b > b.b THEN 1 ELSE 0 END), x -> x.h)"
                ),
            )
        ).alias("root_digest")
    )
    return (
        leaves.crossJoin(F.broadcast(root))
        .select(
            F.col("leaf").cast("int").alias("leaf"),
            F.col("h").alias("leaf_digest"),
            "root_digest",
        )
        .orderBy("leaf")
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classifier evaluation over the embeddings table
# ---------------------------------------------------------------------------


@register(
    "embedding_nearest_centroid_eval",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INT)
           % 2 = 0 AS is_train
  FROM embeddings
), dimmean AS (
  SELECT e.label AS clabel, t.i AS i, sum(e.v[t.i]) / count(*) AS m
  FROM e CROSS JOIN range(1, 65) t(i)
  WHERE e.is_train
  GROUP BY e.label, t.i
), cent AS MATERIALIZED (
  SELECT clabel, list(m ORDER BY i) AS cv FROM dimmean GROUP BY clabel
), scored AS MATERIALIZED (
  SELECT e.vec_id, e.label, cent.clabel,
         round(list_cosine_similarity(e.v, cent.cv), 4) AS sim
  FROM e CROSS JOIN cent WHERE NOT e.is_train
), best AS (
  SELECT vec_id, max(sim) AS ms FROM scored GROUP BY vec_id
), pred AS (
  SELECT s.vec_id, s.label, min(s.clabel) AS pred
  FROM scored s JOIN best b ON b.vec_id = s.vec_id AND s.sim = b.ms
  GROUP BY s.vec_id, s.label
)
SELECT CAST(label AS INT) AS true_label,
       CAST(pred AS INT) AS pred_label,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM pred
GROUP BY label, pred
ORDER BY true_label, pred_label
""",
    doc="Nearest-centroid (Rocchio) classifier trained and evaluated "
    "in-engine over the embeddings table: md5-split train half -> "
    "per-label mean vectors (ONE aggregation, centroids bounded by "
    "|labels| x dims and broadcast), held-out half classified by "
    "max rounded-cosine with min-label tiebreak (the established "
    "determinism pin for float similarities), confusion matrix out. "
    "The cheap linear baseline every embedding-quality audit needs "
    "before k-NN: if centroids already separate labels, the "
    "embedding space is linearly organized. Scoring is a broadcast "
    "join + per-vector argmax — corpus scanned twice (train mean, "
    "test score), nothing quadratic.",
)
def embedding_nearest_centroid_eval(spark, sf_dir):
    e = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            "label",
            "CAST(embedding AS ARRAY<DOUBLE>) AS v",
            "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 4), 16, 10)"
            " AS INT) % 2 = 0 AS is_train",
        )
        .persist()
    )
    n_dims = 64
    cent = (
        e.where("is_train")
        .groupBy(F.col("label").alias("clabel"))
        .agg(
            F.array(
                *[
                    (F.sum(F.col("v")[i]) / F.count("*")).alias(f"c{i}")
                    for i in range(n_dims)
                ]
            ).alias("cv")
        )
    )
    scored = (
        e.where("NOT is_train")
        .crossJoin(F.broadcast(cent))
        .selectExpr(
            "vec_id",
            "label",
            "clabel",
            "round(aggregate(zip_with(v, cv, (a, b) -> a * b), 0.0D,"
            " (acc, x) -> acc + x)"
            " / sqrt(aggregate(transform(v, a -> a * a), 0.0D,"
            " (acc, x) -> acc + x))"
            " / sqrt(aggregate(transform(cv, a -> a * a), 0.0D,"
            " (acc, x) -> acc + x)), 4) AS sim",
        )
        .persist()
    )
    best = scored.groupBy(F.col("vec_id").alias("b_vec")).agg(
        F.max("sim").alias("ms")
    )
    pred = (
        scored.join(
            best,
            (F.col("vec_id") == F.col("b_vec")) & (F.col("sim") == F.col("ms")),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("clabel").alias("pred"))
    )
    return (
        pred.groupBy(
            F.col("label").cast("int").alias("true_label"),
            F.col("pred").cast("int").alias("pred_label"),
        )
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .orderBy("true_label", "pred_label")
    )


# ---------------------------------------------------------------------------
# Log-rank test comparing reorder-gap survival between two arms
# ---------------------------------------------------------------------------


@register(
    "stats_logrank_test",
    oracle="""
WITH gaps AS MATERIALIZED (
  SELECT o_custkey % 2 AS arm,
         CAST(datediff('day',
                       CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                   ORDER BY o_orderdate,
                                                            o_orderkey) AS DATE),
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS t
  FROM orders
), ev AS MATERIALIZED (
  SELECT arm, t, count(*) AS d FROM gaps WHERE t IS NOT NULL GROUP BY arm, t
), times AS MATERIALIZED (
  SELECT t,
         sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS d1,
         sum(d) AS d
  FROM ev GROUP BY t
), atrisk AS MATERIALIZED (
  SELECT a.t,
         sum(CASE WHEN b.arm = 1 THEN b.d ELSE 0 END) AS n1,
         sum(b.d) AS n
  FROM times a JOIN ev b ON b.t >= a.t
  GROUP BY a.t
), terms AS MATERIALIZED (
  SELECT times.t, times.d1,
         CAST(round(CAST(times.d AS DOUBLE) * CAST(atrisk.n1 AS DOUBLE)
                    / CAST(atrisk.n AS DOUBLE) * 1000000) AS BIGINT) AS e1_e6,
         CASE WHEN atrisk.n > 1 THEN
           CAST(round(CAST(times.d AS DOUBLE)
                      * (CAST(atrisk.n1 AS DOUBLE) / CAST(atrisk.n AS DOUBLE))
                      * (1.0 - CAST(atrisk.n1 AS DOUBLE) / CAST(atrisk.n AS DOUBLE))
                      * (CAST(atrisk.n AS DOUBLE) - CAST(times.d AS DOUBLE))
                      / (CAST(atrisk.n AS DOUBLE) - 1.0) * 1000000) AS BIGINT)
         ELSE 0 END AS v_e6
  FROM times JOIN atrisk ON atrisk.t = times.t
)
SELECT CAST(count(*) AS BIGINT) AS n_event_times,
       CAST(sum(d1) AS BIGINT) AS observed_arm1,
       CAST(sum(e1_e6) AS BIGINT) AS expected_arm1_e6,
       CAST(round((CAST(sum(d1) AS DOUBLE) * 1000000.0
                   - CAST(sum(e1_e6) AS DOUBLE))
                  / sqrt(CAST(sum(v_e6) AS DOUBLE) * 1000000.0)
                  * 1000000) AS BIGINT) AS logrank_z_e6
FROM terms
""",
    doc="Log-rank test (Mantel 1966) comparing reorder-gap survival "
    "between even and odd customer arms: at each distinct gap length "
    "t, observed arm-1 events vs the hypergeometric expectation "
    "d * n1/n over the at-risk sets, z = (O - E)/sqrt(V) — the "
    "censoring-correct way to compare time-to-event distributions "
    "that the Kaplan-Meier table (already in the registry) describes "
    "one arm at a time. Gaps come from a customer-partitioned lag "
    "window (exact calendar-day datediff); per-time expectation and "
    "variance terms are e6-rounded scalars BEFORE the exact integer "
    "sums (order-free); the at-risk suffix counts run as a bounded "
    "theta-join on the distinct-gap-value relation (|distinct days| "
    "<< corpus) rather than a row-level window. One fact scan; "
    "everything after is value-level.",
)
def stats_logrank_test(spark, sf_dir):
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        (F.col("o_custkey") % 2).alias("arm"),
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), CAST(lag(o_orderdate)"
            " OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"
            " AS DATE)) AS BIGINT)"
        ).alias("t"),
    ).where("t IS NOT NULL")
    ev = gaps.groupBy("arm", "t").agg(F.count("*").alias("d")).localCheckpoint(
        eager=True
    )
    times = ev.groupBy("t").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum("d").alias("d"),
    )
    b = ev.select(F.col("arm").alias("barm"), F.col("t").alias("bt"), F.col("d").alias("bd"))
    atrisk = (
        times.select(F.col("t").alias("at"))
        .join(b, F.col("bt") >= F.col("at"))
        .groupBy("at")
        .agg(
            F.sum(F.when(F.col("barm") == 1, F.col("bd")).otherwise(0)).alias("n1"),
            F.sum("bd").alias("n"),
        )
    )
    terms = (
        times.join(atrisk, times.t == atrisk.at)
        .selectExpr(
            "d1",
            "CAST(round(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)"
            " / CAST(n AS DOUBLE) * 1000000) AS BIGINT) AS e1_e6",
            "CASE WHEN n > 1 THEN CAST(round(CAST(d AS DOUBLE)"
            " * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (1.0D - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))"
            " / (CAST(n AS DOUBLE) - 1.0D) * 1000000) AS BIGINT)"
            " ELSE 0 END AS v_e6",
        )
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_event_times"),
        F.sum("d1").cast("long").alias("observed_arm1"),
        F.sum("e1_e6").cast("long").alias("expected_arm1_e6"),
        F.expr(
            "CAST(round((CAST(sum(d1) AS DOUBLE) * 1000000.0D"
            " - CAST(sum(e1_e6) AS DOUBLE))"
            " / sqrt(CAST(sum(v_e6) AS DOUBLE) * 1000000.0D) * 1000000)"
            " AS BIGINT)"
        ).alias("logrank_z_e6"),
    )


# ---------------------------------------------------------------------------
# Simpson's paradox screen: pooled vs per-group regression slope signs
# ---------------------------------------------------------------------------


@register(
    "stats_simpsons_paradox_screen",
    oracle="""
WITH u AS (
  SELECT s.s_nationkey AS g,
         CAST(l.l_quantity AS BIGINT) AS x,
         CAST(round(l.l_extendedprice / 100) AS BIGINT) AS y
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
), pg AS MATERIALIZED (
  SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM u GROUP BY g
), pooled AS (
  SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
         sum(sxx) AS sxx, sum(sxy) AS sxy
  FROM pg
), slopes AS MATERIALIZED (
  SELECT pg.g, pg.n,
         CAST(round((CAST(pg.sxy AS DOUBLE) - CAST(pg.sx AS DOUBLE) * CAST(pg.sy AS DOUBLE) / CAST(pg.n AS DOUBLE))
                    / (CAST(pg.sxx AS DOUBLE) - CAST(pg.sx AS DOUBLE) * CAST(pg.sx AS DOUBLE) / CAST(pg.n AS DOUBLE))
                    * 1000000) AS BIGINT) AS slope_e6,
         CAST(round((CAST(pooled.sxy AS DOUBLE) - CAST(pooled.sx AS DOUBLE) * CAST(pooled.sy AS DOUBLE) / CAST(pooled.n AS DOUBLE))
                    / (CAST(pooled.sxx AS DOUBLE) - CAST(pooled.sx AS DOUBLE) * CAST(pooled.sx AS DOUBLE) / CAST(pooled.n AS DOUBLE))
                    * 1000000) AS BIGINT) AS pooled_e6
  FROM pg CROSS JOIN pooled
  WHERE pg.n > 1
    AND CAST(pg.sxx AS DOUBLE) - CAST(pg.sx AS DOUBLE) * CAST(pg.sx AS DOUBLE)
          / CAST(pg.n AS DOUBLE) <> 0.0
)
SELECT CAST(g AS INT) AS nationkey,
       CAST(n AS BIGINT) AS n_rows,
       slope_e6, pooled_e6,
       CAST(CASE WHEN (slope_e6 > 0 AND pooled_e6 < 0)
                   OR (slope_e6 < 0 AND pooled_e6 > 0)
                 THEN 1 ELSE 0 END AS BIGINT) AS sign_reversed
FROM slopes
ORDER BY nationkey
""",
    doc="Simpson's paradox screen (Simpson 1951): the price ~ quantity "
    "slope fitted pooled AND within each supplier nation, flagging "
    "groups whose slope sign contradicts the pooled one — the "
    "aggregation-reversal hazard every per-segment dashboard should "
    "check before reporting a pooled trend. ONE map-side-combined "
    "(group, five-moment) aggregation gives every per-group slope; "
    "the pooled moments are the SUM of group moments (no second "
    "scan — the sufficient-statistic additivity that makes this "
    "free); slopes are scalar doubles e6-rounded with degenerate "
    "groups (constant x) excluded by an exact guard. Output bounded "
    "by |groups|.",
)
def stats_simpsons_paradox_screen(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    u = li.join(sup, li.l_suppkey == sup.s_suppkey).selectExpr(
        "s_nationkey AS g",
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(round(l_extendedprice / 100) AS BIGINT) AS y",
    )
    pg = u.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).persist()
    pooled = pg.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sy").alias("psy"),
        F.sum("sxx").alias("psxx"),
        F.sum("sxy").alias("psxy"),
    )

    def slope(n, sx, sy, sxx, sxy):
        return (
            f"CAST(round((CAST({sxy} AS DOUBLE) - CAST({sx} AS DOUBLE)"
            f" * CAST({sy} AS DOUBLE) / CAST({n} AS DOUBLE))"
            f" / (CAST({sxx} AS DOUBLE) - CAST({sx} AS DOUBLE)"
            f" * CAST({sx} AS DOUBLE) / CAST({n} AS DOUBLE))"
            " * 1000000) AS BIGINT)"
        )

    return (
        pg.crossJoin(F.broadcast(pooled))
        .where(
            "n > 1 AND CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)"
            " * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) <> 0.0D"
        )
        .selectExpr(
            "CAST(g AS INT) AS nationkey",
            "CAST(n AS BIGINT) AS n_rows",
            f"{slope('n', 'sx', 'sy', 'sxx', 'sxy')} AS slope_e6",
            f"{slope('pn', 'psx', 'psy', 'psxx', 'psxy')} AS pooled_e6",
        )
        .selectExpr(
            "nationkey",
            "n_rows",
            "slope_e6",
            "pooled_e6",
            "CAST(CASE WHEN (slope_e6 > 0 AND pooled_e6 < 0)"
            " OR (slope_e6 < 0 AND pooled_e6 > 0) THEN 1 ELSE 0 END"
            " AS BIGINT) AS sign_reversed",
        )
        .orderBy("nationkey")
    )
