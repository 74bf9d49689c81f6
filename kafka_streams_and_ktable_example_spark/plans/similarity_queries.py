"""M4 similarity-search queries over the embeddings table.

Brute-force cosine top-k (built-in expressions AND the numpy/Arrow scale
path), blocked cosine near-dup join, and multimodal binary-column queries.

Float note: cosine values are rounded to 4 decimals in BOTH engines and
ranking uses (rounded value, id) — stable under sub-1e-4 summation-order
noise between Spark's fold, numpy's matmul, and DuckDB's
list_cosine_similarity.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.multimodal import attach_fake_media, decode_media, frame_sample
from ..operators.similarity import (
    cosine_neardup_blocked,
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_numpy,
)
from ..sources.tables import load_table
from .catalog import register

_ANN_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000
), c AS MATERIALIZED (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), sims AS (
  SELECT qid, cid, round(list_cosine_similarity(qv, cv), 4) AS cos_sim
  FROM q CROSS JOIN c WHERE qid != cid
), ranked AS (
  SELECT qid, cid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
  FROM sims
)
SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank FROM ranked WHERE rn <= 5
"""


@register(
    "ann_topk_bruteforce",
    oracle=_ANN_ORACLE,
    doc="Brute-force cosine top-5 for a 2% query sample vs the full corpus, "
    "entirely in built-in expressions (zip_with/aggregate dot product, "
    "broadcast query side, window rank).",
    tags=("similarity", "ann"),
)
def ann_topk_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)
    )
    return cosine_topk(queries, emb, k=5)


@register(
    "ann_topk_vectorized",
    oracle=_ANN_ORACLE,
    doc="Same semantics on the scale path: mapInPandas numpy matmul with "
    "per-partition partial top-k — shuffle volume independent of corpus "
    "size. Must agree with the built-in path AND the oracle. NB the "
    "probe set here is a fixed PERCENTAGE of the corpus (vec_id%50), so "
    "probe x corpus work grows quadratically under replica scaling — "
    "fine as a correctness query, wrong as a scale benchmark; "
    "ann_topk_fixed_probe is the headline timing twin (fixed query "
    "batch vs growing corpus, the actual serving shape).",
    tags=("similarity", "ann", "pandas-udf"),
)
def ann_topk_vectorized(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)
    )
    return cosine_topk_numpy(queries, emb, k=5)


@register(
    "ann_topk_fixed_probe",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
), c AS MATERIALIZED (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), sims AS (
  SELECT qid, cid, round(list_cosine_similarity(qv, cv), 4) AS cos_sim
  FROM q CROSS JOIN c WHERE qid != cid
), ranked AS (
  SELECT qid, cid, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn
  FROM sims
)
SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank FROM ranked WHERE rn <= 5
""",
    doc="ANN serving shape for scale benchmarking: a FIXED batch of 10 "
    "query vectors (vec_id < 10) against the whole corpus via the "
    "mapInPandas numpy path — per-partition partial top-k, shuffle "
    "bounded by |queries| x k x partitions. Unlike the %-sampled probe "
    "of ann_topk_vectorized (probe grows with the corpus, so replica "
    "sweeps measure a quadratic artifact), this is the production "
    "question 'given this query batch, how fast over N vectors' — "
    "timing scales linearly in corpus size, which the 100x replica "
    "sweep verifies.",
    headline=True,
    tags=("similarity", "ann", "pandas-udf"),
)
def ann_topk_fixed_probe(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_numpy(queries, emb, k=5)


@register(
    "ann_topk_ivf",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
  SELECT unnest(range(64)) AS i
), cd AS (
  SELECT label, i, avg(v[CAST(i AS INT) + 1]) AS av
  FROM e CROSS JOIN dims GROUP BY label, i
), cent AS (
  SELECT label, list(av ORDER BY i) AS cv FROM cd GROUP BY label
), q AS (
  SELECT vec_id AS qid, v AS qv FROM e
  WHERE vec_id % 50 = 0 AND vec_id < 2000
), probe AS (
  SELECT qid, qv, label FROM (
    SELECT qid, qv, label,
           row_number() OVER (
             PARTITION BY qid
             ORDER BY round(list_cosine_similarity(qv, cv), 4) DESC, label
           ) AS pr
    FROM q CROSS JOIN cent) WHERE pr <= 2
), sims AS (
  SELECT qid, e.vec_id AS cid,
         round(list_cosine_similarity(qv, v), 4) AS cos_sim
  FROM probe JOIN e ON e.label = probe.label
  WHERE e.vec_id != qid
)
SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank FROM (
  SELECT qid, cid, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, cid) AS rn
  FROM sims) WHERE rn <= 5
""",
    doc="IVF-style ANN: per-label centroids (the coarse quantizer), each "
    "query probes its 2 nearest buckets, exact cosine only within them — "
    "the scale path when brute force over the full corpus is too much. "
    "Deterministic (label buckets + rounded sims), so fully "
    "oracle-checkable. Note the synthetic embeddings are isotropic (labels "
    "are not cosine clusters), so recall here is ~nprobe/n_buckets by "
    "construction; on real clustered embeddings the same pipeline probes "
    "the buckets that matter (tests/test_dedup.py asserts the "
    "exactness-within-probe invariant).",
    tags=("similarity", "ann"),
)
def ann_topk_ivf(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)
    )
    return cosine_topk_ivf(queries, emb, dim=64, k=5, nprobe=2)


@register(
    "embedding_cosine_neardup",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.vec_id % 20 = 0 AND a.vec_id < 2000
  AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
""",
    doc="Blocked embedding near-dup join: 5% probe sample × corpus within "
    "the same label block, cosine ≥ 0.3 — the 'new batch vs corpus' "
    "incremental dedup shape; blocking bounds the pair space.",
    tags=("similarity", "dedup"),
)
def embedding_cosine_neardup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_blocked(
        emb,
        probe_filter=(F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2000),
        threshold=0.3
    )


# --------------------------------------------------------------------------
# Multimodal binary-column plumbing
# --------------------------------------------------------------------------


@register(
    "multimodal_binary_stats",
    oracle="""
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CAST(doc_id % 8 * 160 + 320 AS INT) AS width,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha
FROM documents
""",
    doc="Multimodal columns: opaque binary payload + typed metadata struct; "
    "engine-side byte length and SHA-256 without decoding.",
    tags=("multimodal",),
)
def multimodal_binary_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs)
    return media.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.width").alias("width"),
        F.length("media_bytes").cast("long").alias("n_bytes"),
        F.sha2("media_bytes", 256).alias("payload_sha"),
    )


@register(
    "multimodal_decode_features",
    oracle="""
WITH d AS (
  SELECT doc_id, text, sha256(text) AS dig FROM documents
)
SELECT doc_id,
       CAST(length(text) AS DOUBLE) AS n_bytes,
       CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS first_byte,
       CAST(list_sum(list_transform(range(8),
              i -> CAST(('0x' || substr(dig, CAST(i * 2 + 1 AS INT), 2))
                        AS INT))) / 8.0 AS DOUBLE) AS sig_mean,
       CAST(CAST(('0x' || substr(dig, 1, 2)) AS INT) AS DOUBLE) AS sig_head
FROM d
""",
    doc="Decode/feature-extract via mapInPandas (Arrow batches): stubbed "
    "deterministic sha256 byte-statistics decode — the real-codec swap "
    "point. The stub is deliberately hash-derived so even the Python-side "
    "decode path is fully oracle-checked (the SQL recomputes the digest "
    "statistics; text is ASCII so char length == byte length).",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_decode_features(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return decode_media(attach_fake_media(docs))


@register(
    "multimodal_frame_sample",
    oracle="""
WITH v AS MATERIALIZED (
  SELECT doc_id, CAST(doc_id % 16 + 1 AS INT) AS n_frames
  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2
), f AS (
  SELECT doc_id, CAST(unnest(range(n_frames)) AS INT) AS frame_idx FROM v
)
SELECT doc_id, frame_idx FROM f WHERE frame_idx % 4 = 0
""",
    doc="Video frame sampling: explode frame indices relationally, keep "
    "every 4th — a projection, not a UDF.",
    tags=("multimodal",),
)
def multimodal_frame_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(attach_fake_media(docs), every_n=4)


@register(
    "ann_lsh_rp_pairs",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), nn AS (
  SELECT count(*) AS cnt FROM e
), w AS (
  SELECT greatest(8, CAST(ceil(log2(cnt / 64.0)) AS INT)) AS bits FROM nn
), planes AS (
  SELECT unnest(range(4 * bits)) AS p FROM w
), dots AS (
  SELECT vec_id, p,
         list_sum(list_transform(range(1, 65), i ->
           v[CAST(i AS INT)] * CASE WHEN (strpos('0123456789abcdef',
             substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)) - 1) % 2 = 0
             THEN 1.0 ELSE -1.0 END)) AS dp
  FROM e CROSS JOIN planes
), codes AS (
  SELECT vec_id,
         string_agg(CASE WHEN round(dp, 6) > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS code
  FROM dots GROUP BY vec_id
), bands AS MATERIALIZED (
  SELECT vec_id, b AS band_idx,
         substr(code, CAST(b * bits + 1 AS INT), CAST(bits AS INT))
           AS band_val
  FROM codes CROSS JOIN (SELECT unnest(range(4)) AS b) CROSS JOIN w
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(ea.v, eb.v), 4) AS cos_sim
FROM cand c JOIN e ea ON c.id_a = ea.vec_id JOIN e eb ON c.id_b = eb.vec_id
WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.3
""",
    doc="LSH-bucketed ANN (the metadata-free scale path next to IVF): "
    "sign-of-projection onto md5-derived hyperplanes → 4 bands → "
    "bucket equi-join for candidates → exact cosine ≥ 0.3 verify. "
    "Candidate generation never touches the O(n²) pair space and runs "
    "entirely in whole-stage codegen (constant ±1 arrays). Band width "
    "is STATISTICS-DRIVEN (operators/similarity.py::rp_lsh_band_bits, "
    "identical formula in the oracle): bits = max(8, ceil(log2(n/64))) "
    "so per-band bucket selectivity tracks corpus growth instead of "
    "saturating — a fixed width degrades to ~n²/2^bits pair work once "
    "the corpus outgrows its bucket space (measured: 4-bit bands at "
    "the 10x replica, 8-bit bands at 100x). Gate scales sit on the "
    "8-bit floor; the 100x replica plans 12-bit bands.",
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_rp_pairs(spark, sf_dir):
    from ..operators.similarity import rp_lsh_candidate_pairs, with_norm
    from ..functions import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    cand = rp_lsh_candidate_pairs(emb, n_planes=None)
    e = with_norm(emb).select(
        F.col("vec_id"), F.col("_v").alias("v"), F.col("_norm").alias("n")
    )
    ea = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    eb = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    sim = F.round(
        cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 4
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos_sim", sim)
        .where(F.col("cos_sim") >= 0.3)
        .select("id_a", "id_b", "cos_sim")
    )


@register(
    "multimodal_resize_stub",
    oracle="""
WITH m AS (
  SELECT doc_id, length(text) AS orig_len,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         doc_id % 8 * 160 + 320 AS w,
         doc_id % 8 * 90 + 180 AS h
  FROM documents
)
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(greatest(1, orig_len * 50176 // (w * h))) AS BIGINT)
         AS total_resized_bytes
FROM m GROUP BY media_type
""",
    doc="Resize plumbing (224x224 target): mapInPandas rescales each "
    "payload's byte length by the pixel ratio (deterministic stub; "
    "resize_media(fake=False) swaps in the real PNG resize as another row "
    "function, and the Arrow batch "
    "shape, schema and metadata update are the real contract). Verified "
    "through pure length arithmetic per media type, since payload bytes "
    "are opaque to the oracle.",
    tags=("multimodal", "pandas-udf"),
)
def multimodal_resize_stub(spark, sf_dir):
    from ..operators.multimodal import resize_media

    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs)
    resized = resize_media(media, target_w=224, target_h=224)
    mtype = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return (
        resized.withColumn("media_type", mtype)
        .groupBy("media_type")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("n_bytes").alias("total_resized_bytes"),
        )
    )


@register(
    "embedding_label_coherence",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
  SELECT label, unnest(v) AS x, unnest(generate_series(1, len(v))) AS i
  FROM e
), cent AS (
  SELECT label, list(round(ax, 3) ORDER BY i) AS cv
  FROM (SELECT label, i, avg(x) AS ax FROM dims GROUP BY label, i)
  GROUP BY label
)
SELECT e.label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CAST(round(list_cosine_similarity(e.v, c.cv) * 10000)
                     AS BIGINT)) // count(*) AS BIGINT) AS mean_cos_e4
FROM e JOIN cent c USING (label)
GROUP BY e.label
""",
    doc="Cluster/domain coherence score: mean cosine of every vector to its "
    "label centroid (integer-scaled x10^4; per-vector cosines rounded to "
    "exact ints BEFORE averaging so the mean is order-independent across "
    "engines). Low coherence flags a mislabeled or heterogeneous source "
    "shard — the embedding-space analog of the text quality pass. Centroid "
    "components are 3dp-rounded (same cross-engine contract as the Lloyd "
    "queries). Plan: one posexplode shuffle at (label, dim) grain to build "
    "k centroids, centroids broadcast back, cosine in codegen, one final "
    "label-grain aggregate — the corpus is scanned twice but shuffled only "
    "at dimension x label and label grain, never by vector.",
    tags=("similarity", "quality", "clustering"),
)
def embedding_label_coherence(spark, sf_dir):
    from ..functions import as_double_array, cosine

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", as_double_array("embedding").alias("v")
    )
    dims = emb.select("label", F.posexplode("v").alias("i", "x"))
    cent = (
        dims.groupBy("label", "i")
        .agg(F.avg("x").alias("ax"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "ax"))),
                lambda s: F.round(s["ax"], 3),
            ).alias("cv")
        )
    )
    joined = emb.join(F.broadcast(cent), "label")
    cos_e4 = F.round(cosine(F.col("v"), F.col("cv")) * 10000).cast("long")
    return joined.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.floor(F.sum(cos_e4) / F.count("*")).cast("long").alias("mean_cos_e4"),
    )


@register(
    "multimodal_png_decode_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(8 + doc_id % 5 AS INT) AS w, CAST(8 + doc_id % 7 AS INT) AS h
  FROM documents WHERE doc_id % 4 = 0
),
px AS (
  SELECT d.doc_id, d.w, d.h, (x + y + d.doc_id) % 256 AS v
  FROM d, range(0, 16) tx(x), range(0, 16) ty(y)
  WHERE x < d.w AND y < d.h
)
SELECT doc_id, w AS width, h AS height, CAST(1 AS INT) AS channels,
       CAST(sum(v) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id, w, h
""",
    doc="REAL image decode, no codec library: each row synthesizes a "
    "genuine PNG (graded pattern, per-image scanline filter) in one Arrow "
    "stage, and a second mapInPandas stage decodes it with the stdlib "
    "codec — chunk CRC walk, zlib inflate, scanline unfilter "
    "(operators/png_codec.py, the only PNG decoder). "
    "The oracle recomputes geometry and the exact pixel checksum in "
    "closed form, so the decode is value-checked end to end: a single "
    "wrong byte after unfiltering fails the gate. Plumbing is the scale "
    "pattern: payload bytes live only inside the pipelined stage — no "
    "shuffle ever carries them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_png_decode_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_png, png_decode_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    return png_decode_stats(attach_synth_png(docs))


@register(
    "multimodal_png_interlace_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(1 + doc_id % 12 AS INT) AS w,
         CAST(1 + doc_id % 11 AS INT) AS h
  FROM documents WHERE doc_id % 4 = 3
),
px AS (
  SELECT d.doc_id, d.w, d.h, (x + 2 * y + d.doc_id) % 256 AS v
  FROM d, range(0, 12) tx(x), range(0, 11) ty(y)
  WHERE x < d.w AND y < d.h
)
SELECT doc_id, w AS width, h AS height, CAST(1 AS INT) AS channels,
       CAST(sum(v) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id, w, h
""",
    doc="REAL ADAM7-INTERLACED PNG path — the seven-pass progressive "
    "layout web PNGs commonly carry, previously a ValueError boundary: "
    "each row synthesizes a genuine interlace=1 PNG (seven "
    "independently-filtered sub-images per spec 8.2; the 1..12 x 1..11 "
    "geometries force EMPTY passes, which contribute no bytes at all) "
    "and the stdlib codec decodes it — per-pass unfilter with a fresh "
    "zero prior row, then de-interlace scatter back onto the full grid "
    "(operators/png_codec.py). Interlacing reorders wire bytes only, so "
    "the same closed-form pixel checksum as the plain-scan query "
    "hash-checks it: a wrong pass origin/step, a filter context bleeding "
    "across passes, or mis-handled empty passes shifts pixel_sum. "
    "Payloads stay inside pipelined Arrow stages — no shuffle carries "
    "them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_png_interlace_real(spark, sf_dir):
    from ..operators.multimodal import (
        attach_synth_png_interlaced,
        png_decode_stats,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 3)
    return png_decode_stats(attach_synth_png_interlaced(docs))


@register(
    "multimodal_png_resize_real",
    oracle="""
WITH d AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 7 AS h
  FROM documents WHERE doc_id % 4 = 2
),
px AS (
  SELECT d.doc_id,
         ((j * d.w // 8) + (i * d.h // 8) + d.doc_id) % 256 AS v
  FROM d, range(0, 8) ti(i), range(0, 8) tj(j)
)
SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(sum(v) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id
""",
    doc="REAL decode + resize: synthesized PNGs are decoded (stdlib codec) "
    "and nearest-neighbor-resampled to 8x8 on the actual pixel grid — "
    "output pixel (i, j) samples source (i*h//8, j*w//8), integer-exact — "
    "then checksummed. The oracle recomputes the resampled pattern in "
    "closed form, so the resize math itself is value-checked, not just "
    "the plumbing (contrast multimodal_resize_stub, which verifies only "
    "length arithmetic on opaque bytes).",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_png_resize_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_png, png_resize_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 2)
    return png_resize_stats(attach_synth_png(docs), new_w=8, new_h=8)


@register(
    "multimodal_png_rgb_resize_real",
    oracle="""
WITH d AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 7 AS h
  FROM documents WHERE doc_id % 4 = 1
), px AS (
  SELECT d.doc_id, ch.c AS ch,
         (3 * (j * d.w // 8) + 5 * (i * d.h // 8) + 7 * ch.c + d.doc_id) % 256 AS v
  FROM d, range(0, 8) ti(i), range(0, 8) tj(j), range(0, 3) ch(c)
)
SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(sum(v) AS BIGINT) AS pixel_sum,
       CAST(sum(v) FILTER (ch = 0) AS BIGINT) AS sum_r,
       CAST(sum(v) FILTER (ch = 1) AS BIGINT) AS sum_g,
       CAST(sum(v) FILTER (ch = 2) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
""",
    doc="REAL color image path end to end, no codec library: synthesized "
    "RGB8 (color-type-2) PNGs are decoded (chunk CRC walk + inflate + "
    "bpp-aware unfilter), channel-interleaved nearest-neighbor-resampled "
    "to 8x8, RE-ENCODED as genuine RGB PNGs (resize_media fake=False — "
    "the former gray8-only NotImplementedError path), then decoded again "
    "into per-channel checksums. The oracle recomputes the resampled "
    "pattern per channel in closed form, so a channel-swap or stride bug "
    "anywhere in decode->resize->encode->decode fails the hash. Payload "
    "bytes live only inside pipelined Arrow stages — no shuffle carries "
    "them (operators/png_codec.py, operators/multimodal.py).",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_png_rgb_resize_real(spark, sf_dir):
    from ..operators.multimodal import (
        attach_synth_png_rgb,
        png_channel_stats,
        resize_media,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 1)
    resized = resize_media(attach_synth_png_rgb(docs), 8, 8, fake=False)
    return png_channel_stats(resized)


@register(
    "multimodal_png_palette_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(8 + doc_id % 5 AS INT) AS w, CAST(8 + doc_id % 7 AS INT) AS h
  FROM documents WHERE doc_id % 4 = 3
), px AS (
  SELECT d.doc_id, d.w, d.h, ch.c AS ch,
         CASE ch.c
           WHEN 0 THEN (7 * ((x + 2 * y + d.doc_id) % 16) + d.doc_id) % 256
           WHEN 1 THEN (11 * ((x + 2 * y + d.doc_id) % 16) + 2 * d.doc_id) % 256
           ELSE (13 * ((x + 2 * y + d.doc_id) % 16) + 3 * d.doc_id) % 256
         END AS v
  FROM d, range(0, 16) tx(x), range(0, 16) ty(y), range(0, 3) ch(c)
  WHERE x < d.w AND y < d.h
)
SELECT doc_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
       CAST(sum(v) AS BIGINT) AS pixel_sum,
       CAST(sum(v) FILTER (ch = 0) AS BIGINT) AS sum_r,
       CAST(sum(v) FILTER (ch = 1) AS BIGINT) AS sum_g,
       CAST(sum(v) FILTER (ch = 2) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, w, h
""",
    doc="REAL paletted-PNG path (color type 3 — the indexed-color format "
    "web crawls are full of): each row synthesizes a genuine PLTE-chunk "
    "PNG (16-entry palette, per-image scanline filter), and the stdlib "
    "codec decodes it — CRC walk, inflate, 1-byte-per-pixel unfilter, "
    "then palette expansion to interleaved RGB (operators/png_codec.py). "
    "Per-channel checksums are recomputed in closed form "
    "by the oracle, so a palette-indexing or expansion bug fails the "
    "hash. Closes the paletted-PNG NotImplementedError boundary from "
    "rounds 4-5. Payload bytes stay inside pipelined Arrow stages — no "
    "shuffle carries them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_png_palette_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_png_pal, png_channel_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 3)
    return png_channel_stats(attach_synth_png_pal(docs))


@register(
    "multimodal_jpeg_decode_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(8 * (1 + doc_id % 2) AS INT) AS w,
         CAST(8 * (1 + doc_id % 3) AS INT) AS h
  FROM documents WHERE doc_id % 5 = 0
), px AS (
  SELECT d.doc_id, d.w, d.h,
         (37 * (x // 8) + 53 * (y // 8) + 11 * d.doc_id) % 256 AS v
  FROM d, range(0, 16) tx(x), range(0, 24) ty(y)
  WHERE x < d.w AND y < d.h
), rec AS (
  SELECT doc_id, w, h,
         LEAST(255, GREATEST(0,
           128 + 2 * (CASE WHEN v >= 128 THEN (8 * (v - 128) + 8) // 16
                           ELSE -((8 * (128 - v) + 8) // 16) END))) AS r
  FROM px
)
SELECT doc_id, w AS width, h AS height, CAST(sum(r) AS BIGINT) AS pixel_sum
FROM rec GROUP BY doc_id, w, h
""",
    doc="REAL baseline JPEG path, no codec library: each row synthesizes "
    "a genuine entropy-coded JFIF JPEG (grayscale SOF0, Annex-K huffman "
    "tables, byte-stuffed scan, flat q=16 quant table) and the stdlib "
    "codec decodes it — marker walk, huffman DC-differential + AC "
    "run-length decode, dequantize, exact 2-D IDCT, clamp "
    "(operators/jpeg_codec.py). Sources are BLOCK-CONSTANT images, so "
    "the lossy round trip has an exact closed form the oracle recomputes "
    "per pixel: recon = clamp(128 + 2 * round_half_up(8|v-128| / 16) * "
    "sign(v-128)) — a single wrong huffman bit or IDCT coefficient "
    "shifts pixel_sum and fails the hash. General (AC-bearing) images "
    "are covered by round-trip error-bound pytest. Closes the JPEG "
    "NotImplementedError boundary from rounds 4-5; payloads stay inside "
    "pipelined Arrow stages — no shuffle carries them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_jpeg_decode_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_jpeg, jpeg_decode_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return jpeg_decode_stats(attach_synth_jpeg(docs))


@register(
    "multimodal_jpeg_resize_real",
    oracle="""
WITH d AS (
  SELECT doc_id, 1 + doc_id % 2 AS sx, 1 + doc_id % 3 AS sy
  FROM documents WHERE doc_id % 5 = 1
), px AS (
  SELECT d.doc_id,
         (37 * ((j * d.sx) // 8) + 53 * ((i * d.sy) // 8) + 11 * d.doc_id)
           % 256 AS v
  FROM d, range(0, 8) ti(i), range(0, 8) tj(j)
), rec AS (
  SELECT doc_id,
         LEAST(255, GREATEST(0,
           128 + 2 * (CASE WHEN v >= 128 THEN (8 * (v - 128) + 8) // 16
                           ELSE -((8 * (128 - v) + 8) // 16) END))) AS r
  FROM px
)
SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
       CAST(sum(r) AS BIGINT) AS pixel_sum
FROM rec GROUP BY doc_id
""",
    doc="REAL JPEG decode + resize: the entropy-coded payload is decoded "
    "(huffman, dequantize, IDCT — jpeg_codec.py) and nearest-neighbor-"
    "resampled to 8x8 on the actual decoded pixel grid — output (i, j) "
    "samples source (i*h//8, j*w//8), integer-exact. Sources are block-"
    "constant, so the oracle composes BOTH transforms in closed form: "
    "resample the block pattern, then the DC-only quantization round "
    "trip per pixel. A resize stride bug or any decode error shifts "
    "pixel_sum. (The resized grid mixes source blocks, so it is NOT "
    "re-encoded — re-encoding would add AC lossiness no SQL oracle can "
    "replay; the PNG family covers the re-encode leg losslessly.)",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_jpeg_resize_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_jpeg, jpeg_resize_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 1)
    return jpeg_resize_stats(attach_synth_jpeg(docs), 8, 8)


@register(
    "multimodal_jpeg_color_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(16 * (1 + doc_id % 2) AS INT) AS w,
         CAST(16 * (1 + doc_id % 3) AS INT) AS h
  FROM documents WHERE doc_id % 5 = 3
), tiles AS (
  SELECT d.doc_id, d.w, d.h,
         (37 * tx + 53 * ty + 11 * d.doc_id) % 256 AS r,
         (23 * tx + 41 * ty + 7 * d.doc_id) % 256 AS g,
         (29 * tx + 31 * ty + 13 * d.doc_id) % 256 AS b
  FROM d, range(0, 2) t1(tx), range(0, 3) t2(ty)
  WHERE tx < d.w // 16 AND ty < d.h // 16
), ycc AS (
  -- integer fixed-point RGB->YCbCr; +65536 offsets keep numerators
  -- non-negative so DuckDB's truncating // equals Python's floor //
  SELECT doc_id, w, h,
    LEAST(255, GREATEST(0, (77*r + 150*g + 29*b + 128) // 256)) AS y,
    LEAST(255, GREATEST(0,
      (-43*r - 85*g + 128*b + 128 + 65536) // 256 - 128)) AS cb,
    LEAST(255, GREATEST(0,
      (128*r - 107*g - 21*b + 128 + 65536) // 256 - 128)) AS cr
  FROM tiles
), rq AS (
  -- flat q=16 DC-only quantization round trip per component
  SELECT doc_id, w, h,
    LEAST(255, GREATEST(0, 128 + 2 * (CASE WHEN y >= 128
      THEN (8*(y-128)+8)//16 ELSE -((8*(128-y)+8)//16) END))) AS y2,
    LEAST(255, GREATEST(0, 128 + 2 * (CASE WHEN cb >= 128
      THEN (8*(cb-128)+8)//16 ELSE -((8*(128-cb)+8)//16) END))) AS cb2,
    LEAST(255, GREATEST(0, 128 + 2 * (CASE WHEN cr >= 128
      THEN (8*(cr-128)+8)//16 ELSE -((8*(128-cr)+8)//16) END))) AS cr2
  FROM ycc
), rgb2 AS (
  SELECT doc_id, w, h,
    LEAST(255, GREATEST(0,
      y2 + (359*(cr2-128) + 128 + 65536) // 256 - 256)) AS r2,
    LEAST(255, GREATEST(0,
      y2 - ((88*(cb2-128) + 183*(cr2-128) + 128 + 65536) // 256 - 256))) AS g2,
    LEAST(255, GREATEST(0,
      y2 + (454*(cb2-128) + 128 + 65536) // 256 - 256)) AS b2
  FROM rq
)
SELECT doc_id, w AS width, h AS height,
       CAST(256 * sum(r2) AS BIGINT) AS sum_r,
       CAST(256 * sum(g2) AS BIGINT) AS sum_g,
       CAST(256 * sum(b2) AS BIGINT) AS sum_b
FROM rgb2 GROUP BY doc_id, w, h
""",
    doc="REAL COLOR JPEG path, no codec library: each row synthesizes a "
    "genuine YCbCr 4:2:0 baseline JFIF JPEG (SOF0 with sampling factors "
    "2x2/1x1/1x1, interleaved MCU scan — 4 Y blocks + Cb + Cr per MCU "
    "with per-component DC predictors, 2x2 box chroma subsampling, flat "
    "q=16) and the stdlib codec decodes it: generic multi-component "
    "plane decode, chroma upsample by replication, integer fixed-point "
    "YCbCr->RGB (operators/jpeg_codec.py::decode_rgb_jpeg). Sources are "
    "MCU-CONSTANT (16x16 tiles of a single RGB color), so every stage "
    "has an exact closed form the oracle replays per tile: RGB->YCbCr "
    "(floor-division fixed point, offsets keep numerators positive so "
    "DuckDB's truncating // agrees), identity subsample, DC-only "
    "quantization round trip, then YCbCr->RGB. A wrong sampling factor, "
    "swapped chroma plane, DC-predictor cross-talk, or conversion "
    "rounding bug shifts a channel checksum and fails the hash. Closes "
    "the color-JPEG ValueError boundary from round 6 (the last "
    "still-image gap); general color images are covered by round-trip "
    "pytest. Payloads stay inside pipelined Arrow stages — no shuffle "
    "carries them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_jpeg_color_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_color_jpeg, jpeg_color_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 3)
    return jpeg_color_stats(attach_synth_color_jpeg(docs))


@register(
    "multimodal_jpeg_restart_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(8 * (1 + doc_id % 2) AS INT) AS w,
         CAST(8 * (1 + doc_id % 3) AS INT) AS h
  FROM documents WHERE doc_id % 5 = 4
), px AS (
  SELECT d.doc_id, d.w, d.h,
         (37 * (x // 8) + 53 * (y // 8) + 11 * d.doc_id) % 256 AS v
  FROM d, range(0, 16) tx(x), range(0, 24) ty(y)
  WHERE x < d.w AND y < d.h
), rec AS (
  SELECT doc_id, w, h,
         LEAST(255, GREATEST(0,
           128 + 2 * (CASE WHEN v >= 128 THEN (8 * (v - 128) + 8) // 16
                           ELSE -((8 * (128 - v) + 8) // 16) END))) AS r
  FROM px
)
SELECT doc_id, w AS width, h AS height, CAST(sum(r) AS BIGINT) AS pixel_sum
FROM rec GROUP BY doc_id, w, h
""",
    doc="REAL JPEG RESTART-MARKER path (DRI/RSTm — T.81 E.1.4/E.2.4, "
    "what camera firmware emits for error resilience and what crawl "
    "JPEGs routinely carry): each row synthesizes a baseline JPEG whose "
    "scan is split by RSTm markers every 1 + id%3 MCUs (byte-aligned "
    "1-padding, modulo-8 marker sequence, DC predictor reset), and the "
    "stdlib codec decodes it — the reader re-syncs at every boundary "
    "and verifies the marker sequence "
    "(operators/jpeg_codec.py::_BitReader.sync_restart). Restart "
    "markers change the wire bytes but not the pixels, so the same "
    "block-constant closed form as multimodal_jpeg_decode_real "
    "hash-checks the result: a missed predictor reset or misaligned "
    "resync corrupts every post-marker block and fails the hash. "
    "Closes the restart-interval ValueError boundary from rounds 4-6. "
    "Payloads stay inside pipelined Arrow stages — no shuffle carries "
    "them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_jpeg_restart_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_jpeg_dri, jpeg_decode_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 4)
    return jpeg_decode_stats(attach_synth_jpeg_dri(docs))


@register(
    "multimodal_jpeg_progressive_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(8 * (1 + doc_id % 2) AS INT) AS w,
         CAST(8 * (1 + doc_id % 3) AS INT) AS h
  FROM documents WHERE doc_id % 4 = 1
), px AS (
  SELECT d.doc_id, d.w, d.h,
         (37 * (x // 8) + 53 * (y // 8) + 11 * d.doc_id) % 256 AS v
  FROM d, range(0, 16) tx(x), range(0, 24) ty(y)
  WHERE x < d.w AND y < d.h
), rec AS (
  SELECT doc_id, w, h,
         LEAST(255, GREATEST(0,
           128 + 2 * (CASE WHEN v >= 128 THEN (8 * (v - 128) + 8) // 16
                           ELSE -((8 * (128 - v) + 8) // 16) END))) AS r
  FROM px
)
SELECT doc_id, w AS width, h AS height, CAST(sum(r) AS BIGINT) AS pixel_sum
FROM rec GROUP BY doc_id, w, h
""",
    doc="REAL PROGRESSIVE (SOF2) JPEG path, no codec library — the web's "
    "second-most-common JPEG flavor and the last still-image ValueError "
    "boundary from round 6: each row synthesizes a genuine six-scan "
    "progressive JPEG (spectral selection + successive approximation "
    "per T.81 Annex G — DC first/refine with arithmetic point "
    "transform, AC first scans with EOB runs, AC refinement with "
    "buffered correction bits, per-scan OPTIMAL huffman tables since "
    "the Annex-K baseline tables carry no EOBn symbols) and the stdlib "
    "codec decodes it: coefficient state accumulated across scans, then "
    "the same dequantize + IDCT as baseline "
    "(operators/jpeg_codec.py::decode_gray8_progressive). Progressive "
    "re-orders wire bits but reconstructs identical coefficients, so "
    "the baseline block-constant closed form hash-checks the decode: a "
    "wrong point transform, dropped EOB-run correction bit, or "
    "mis-snapshotted between-scan huffman table shifts pixel_sum. "
    "General images (nonzero ACs, ZRL, refinement corrections) are "
    "covered by 200+ round-trip pytest cases against the baseline "
    "decoder. Payloads stay inside pipelined Arrow stages — no shuffle "
    "carries them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_jpeg_progressive_real(spark, sf_dir):
    from ..operators.multimodal import (
        attach_synth_progressive_jpeg,
        jpeg_decode_stats,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 1)
    return jpeg_decode_stats(attach_synth_progressive_jpeg(docs))


@register(
    "multimodal_jpeg_progressive_color_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(16 * (1 + doc_id % 2) AS INT) AS w,
         CAST(16 * (1 + doc_id % 3) AS INT) AS h
  FROM documents WHERE doc_id % 4 = 2
), tiles AS (
  SELECT d.doc_id, d.w, d.h,
         (37 * tx + 53 * ty + 11 * d.doc_id) % 256 AS r,
         (23 * tx + 41 * ty + 7 * d.doc_id) % 256 AS g,
         (29 * tx + 31 * ty + 13 * d.doc_id) % 256 AS b
  FROM d, range(0, 2) t1(tx), range(0, 3) t2(ty)
  WHERE tx < d.w // 16 AND ty < d.h // 16
), ycc AS (
  SELECT doc_id, w, h,
    LEAST(255, GREATEST(0, (77*r + 150*g + 29*b + 128) // 256)) AS y,
    LEAST(255, GREATEST(0,
      (-43*r - 85*g + 128*b + 128 + 65536) // 256 - 128)) AS cb,
    LEAST(255, GREATEST(0,
      (128*r - 107*g - 21*b + 128 + 65536) // 256 - 128)) AS cr
  FROM tiles
), rq AS (
  SELECT doc_id, w, h,
    LEAST(255, GREATEST(0, 128 + 2 * (CASE WHEN y >= 128
      THEN (8*(y-128)+8)//16 ELSE -((8*(128-y)+8)//16) END))) AS y2,
    LEAST(255, GREATEST(0, 128 + 2 * (CASE WHEN cb >= 128
      THEN (8*(cb-128)+8)//16 ELSE -((8*(128-cb)+8)//16) END))) AS cb2,
    LEAST(255, GREATEST(0, 128 + 2 * (CASE WHEN cr >= 128
      THEN (8*(cr-128)+8)//16 ELSE -((8*(128-cr)+8)//16) END))) AS cr2
  FROM ycc
), rgb2 AS (
  SELECT doc_id, w, h,
    LEAST(255, GREATEST(0,
      y2 + (359*(cr2-128) + 128 + 65536) // 256 - 256)) AS r2,
    LEAST(255, GREATEST(0,
      y2 - ((88*(cb2-128) + 183*(cr2-128) + 128 + 65536) // 256 - 256))) AS g2,
    LEAST(255, GREATEST(0,
      y2 + (454*(cb2-128) + 128 + 65536) // 256 - 256)) AS b2
  FROM rq
)
SELECT doc_id, w AS width, h AS height,
       CAST(256 * sum(r2) AS BIGINT) AS sum_r,
       CAST(256 * sum(g2) AS BIGINT) AS sum_g,
       CAST(256 * sum(b2) AS BIGINT) AS sum_b
FROM rgb2 GROUP BY doc_id, w, h
""",
    doc="REAL PROGRESSIVE COLOR JPEG path — closes the last still-image "
    "boundary entirely: each row synthesizes a genuine ten-scan "
    "progressive YCbCr 4:2:0 JPEG (libjpeg's default color progression "
    "— one INTERLEAVED DC-first scan in MCU order with per-component "
    "predictors and separate luma/chroma optimal huffman tables, "
    "per-component AC band scans with EOB runs, AC refinements with "
    "correction bits, interleaved raw-bit DC refinement — "
    "operators/jpeg_codec.py::encode_rgb_progressive) and the stdlib "
    "codec decodes it: multi-scan coefficient accumulation over each "
    "component's own block grid (T.81 G.1.1 non-interleaved AC order "
    "vs MCU-order DC), then the same dequantize + IDCT + chroma "
    "upsample + integer YCbCr->RGB as baseline color. MCU-constant "
    "tiles keep the whole pipeline closed-form, so the SAME color "
    "oracle chain as multimodal_jpeg_color_real hash-checks it: a "
    "mixed-up component block grid, wrong interleave order, or chroma "
    "table cross-talk shifts a channel checksum. General color images "
    "are covered by progressive-vs-baseline equality pytests. Payloads "
    "stay inside pipelined Arrow stages — no shuffle carries them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_jpeg_progressive_color_real(spark, sf_dir):
    from ..operators.multimodal import (
        attach_synth_progressive_color_jpeg,
        jpeg_color_stats,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 2)
    return jpeg_color_stats(attach_synth_progressive_color_jpeg(docs))


@register(
    "multimodal_corrupt_quarantine",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(doc_id % 4 AS INT) AS fmt FROM documents
), px AS (
  SELECT d.doc_id, (x + y + d.doc_id) % 256 AS v
  FROM d, range(0, 16) tx(x), range(0, 16) ty(y)
  WHERE d.fmt = 0 AND x < 8 + d.doc_id % 5 AND y < 8 + d.doc_id % 7
), sums AS (
  SELECT doc_id, sum(v) AS s FROM px GROUP BY doc_id
)
SELECT fmt,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (fmt = 0) AS BIGINT) AS n_ok,
       CAST(count(*) FILTER (fmt <> 0) AS BIGINT) AS n_quarantined,
       CAST(coalesce(sum(s), 0) AS BIGINT) AS pixel_sum_ok
FROM d LEFT JOIN sums USING (doc_id)
GROUP BY fmt
""",
    doc="CORRUPTION-NEVER-MISPARSES for media — the decode-side analog "
    "of kafka_wire_corrupt_view's quarantine contract: payloads are "
    "valid PNGs (fmt 0), PNGs with a flipped IDAT byte the CRC must "
    "catch (fmt 1), JPEGs truncated mid-header/mid-scan (fmt 2), and "
    "GIFs truncated inside the LZW sub-block chain (fmt 3). Each "
    "decodes through its own stdlib codec; ValueError quarantines the "
    "row. Per-format totals prove RECORD CONSERVATION (n = n_ok + "
    "n_quarantined), that every corrupt payload was caught (n_ok = 0 "
    "outside fmt 0 — a decoder that silently accepts a lying CRC or a "
    "truncated entropy stream shifts the count), and that the valid "
    "slice decoded to the exact closed-form pixel checksum (a decoder "
    "that quarantines valid payloads, or decodes them wrong, shifts "
    "n_ok or pixel_sum_ok). Payloads stay inside pipelined Arrow "
    "stages; only 4 aggregate rows cross the shuffle.",
    tags=("multimodal", "pandas-udf", "codec", "quality"),
)
def multimodal_corrupt_quarantine(spark, sf_dir):
    from ..operators.multimodal import (
        attach_synth_corrupt_media,
        media_quarantine_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return media_quarantine_stats(attach_synth_corrupt_media(docs))


@register(
    "multimodal_crossformat_exact_dedup",
    oracle="""
WITH d AS (
  SELECT doc_id, doc_id % 7 AS k, doc_id % 3 AS f FROM documents
)
SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT f) AS BIGINT) AS n_formats,
       CAST(16 AS INT) AS width, CAST(8 AS INT) AS height
FROM d GROUP BY k
""",
    doc="CONTAINER-AGNOSTIC exact dedup — the integration query the "
    "codec family exists for: every document carries the same logical "
    "image in ONE of three lossless containers (PNG RGB with varied "
    "scanline filters, TIFF with PackBits + alternating byte order, "
    "single-frame GIF through a grayscale palette), where pixel content "
    "depends only on the duplicate key id % 7. On the wire the "
    "duplicates share nothing — different container families, entropy "
    "coders, endianness — so byte-hash dedup (multimodal_exact_dedup) "
    "cannot see them; this pipeline decodes each payload through its "
    "own codec, fingerprints the DECODED pixels, and groups on the "
    "digest. The oracle verifies the resulting group structure (keeper, "
    "sizes, per-group format diversity) from id arithmetic — "
    "reproducible only if PNG inflate+unfilter, TIFF IFD+RLE, and GIF "
    "LZW+palette all emit bit-identical pixels. At scale only 32-byte "
    "digests cross the single shuffle; payloads decode in-stage.",
    tags=("multimodal", "pandas-udf", "codec", "dedup"),
)
def multimodal_crossformat_exact_dedup(spark, sf_dir):
    from ..operators.multimodal import (
        attach_synth_crossformat,
        crossformat_dedup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    return crossformat_dedup_groups(attach_synth_crossformat(docs))


@register(
    "multimodal_tiff_packbits_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
         CAST(4 + doc_id % 6 AS INT) AS h
  FROM documents WHERE doc_id % 3 = 2
), px AS (
  SELECT d.doc_id, d.w, d.h, (x // 4 + y + d.doc_id) % 256 AS v
  FROM d, range(0, 17) tx(x), range(0, 10) ty(y)
  WHERE x < d.w AND y < d.h
)
SELECT doc_id, w AS width, h AS height, CAST(1 AS INT) AS channels,
       CAST(sum(v) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id, w, h
""",
    doc="REAL TIFF path — the scan/fax/document container, a genuinely "
    "different layout family from PNG/JPEG/GIF (tag-directory metadata "
    "instead of framed chunks): each row synthesizes a baseline TIFF "
    "with PACKBITS RLE compression (TIFF 6.0 section 9 — repeat and "
    "literal runs, the -128 no-op), a MULTI-STRIP layout "
    "(RowsPerStrip = 1 + id%3, so strip reassembly carries weight), and "
    "ALTERNATING byte order (big-endian 'MM' for odd ids, 'II' for "
    "even), and the stdlib codec decodes it: byte-order-aware IFD walk "
    "with inline-vs-offset value parsing, per-strip PackBits expansion "
    "(operators/tiff_codec.py). TIFF is lossless, so the oracle "
    "recomputes every pixel from the synthesis pattern: a wrong endian "
    "swap, strip off-by-one, or RLE run-length bug shifts pixel_sum. "
    "Payloads stay inside pipelined Arrow stages — no shuffle carries "
    "them.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_tiff_packbits_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_tiff, png_decode_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 2)
    return png_decode_stats(attach_synth_tiff(docs))


@register(
    "multimodal_gif_animation_real",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(8 * (1 + doc_id % 2) AS INT) AS w,
         CAST(2 + doc_id % 3 AS INT) AS nf,
         CAST(4 + doc_id % 5 AS INT) AS delay_cs
  FROM documents WHERE doc_id % 3 = 1
), px AS (
  SELECT d.doc_id, d.w, d.nf, d.delay_cs, f.f,
         (x + 2 * y + 3 * f.f + d.doc_id) % 16 AS i
  FROM d, range(0, 16) tx(x), range(0, 8) ty(y), range(0, 4) f(f)
  WHERE x < d.w AND f.f < d.nf
)
SELECT doc_id, w AS width, CAST(8 AS INT) AS height, nf AS n_frames,
       delay_cs,
       CAST(sum((3 * i) % 256) AS BIGINT) AS sum_r,
       CAST(sum((5 * i) % 256) AS BIGINT) AS sum_g,
       CAST(sum((7 * i) % 256) AS BIGINT) AS sum_b,
       CAST(sum((3*i)%256 + (5*i)%256 + (7*i)%256) FILTER (f = 0)
            AS BIGINT) AS sum_f0
FROM px GROUP BY doc_id, w, nf, delay_cs
""",
    doc="REAL animated-GIF path end to end, no codec library — the "
    "web's most common animation container, with GENUINE LZW entropy "
    "coding (variable-width codes 5..12 bits, clear/EOI, early-change "
    "width growth, 4096-entry dictionary reset, KwKwK case, "
    "little-endian packing in <=255-byte sub-blocks): each row "
    "synthesizes a multi-frame GIF89a (graphic-control frame delays, "
    "frame 0 stored in the 4-pass GIF row interlace for odd ids) and "
    "the stdlib codec decodes it — LZW decode, de-interlace, global "
    "color table expansion to RGB (operators/gif_codec.py). GIF is "
    "LOSSLESS, so the oracle recomputes every pixel directly from the "
    "index pattern and the deterministic palette — no quantization "
    "closed form needed: one wrong LZW code width, a mis-scattered "
    "interlace row, or a palette off-by-one shifts a channel checksum. "
    "Payloads stay inside pipelined Arrow stages — no shuffle carries "
    "them.",
    tags=("multimodal", "pandas-udf", "codec", "video"),
)
def multimodal_gif_animation_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_gif, gif_animation_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 1)
    return gif_animation_stats(attach_synth_gif(docs))


@register(
    "multimodal_avi_mjpg_video_real",
    oracle="""
WITH d AS (
  SELECT doc_id, 2 + doc_id % 3 AS nf
  FROM documents WHERE doc_id % 5 = 2
), px AS (
  SELECT d.doc_id, d.nf, f.f,
         (37 * bx.bx + 11 * d.doc_id + 19 * f.f) % 256 AS v
  FROM d, range(0, 5) f(f), range(0, 2) bx(bx)
  WHERE f.f < d.nf
), rec AS (
  SELECT doc_id, nf, f,
         64 * LEAST(255, GREATEST(0,
           128 + 2 * (CASE WHEN v >= 128 THEN (8 * (v - 128) + 8) // 16
                           ELSE -((8 * (128 - v) + 8) // 16) END))) AS s
  FROM px
)
SELECT doc_id, CAST(nf AS INT) AS n_frames, CAST(16 AS INT) AS width,
       CAST(8 AS INT) AS height, CAST(10 AS INT) AS fps,
       CAST(sum(s) AS BIGINT) AS pixel_sum,
       CAST(sum(s) FILTER (f = 0) AS BIGINT) AS sum_f0
FROM rec GROUP BY doc_id, nf
""",
    doc="REAL compressed-video path end to end, no ffmpeg: each row "
    "synthesizes a genuine AVI/Motion-JPEG clip (RIFF container with "
    "avih/strh/strf headers, movi 00dc chunks, idx1 index; every frame "
    "a real entropy-coded baseline JPEG) and the stdlib codecs decode "
    "it — RIFF chunk walk with even-byte padding and header validation, "
    "then huffman + dequantize + IDCT per frame "
    "(operators/avi_codec.py + operators/jpeg_codec.py). Block-constant "
    "frames keep the lossy round trip exactly closed-form, so the "
    "oracle recomputes whole-clip and first-frame checksums per pixel "
    "block. Replaces the last bespoke-container-only leg of the video "
    "path (FRV1 remains as the raw-frame baseline); payloads stay "
    "inside pipelined Arrow stages — no shuffle carries them.",
    tags=("multimodal", "pandas-udf", "codec", "video"),
)
def multimodal_avi_mjpg_video_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_avi, avi_video_stats

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 2)
    return avi_video_stats(attach_synth_avi(docs))


@register(
    "decontam_embedding_neardup",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ev AS (SELECT vec_id AS eid, v AS evv FROM e WHERE vec_id < 50)
SELECT e.vec_id,
       CAST(count(*) AS BIGINT) AS n_eval_hits,
       max(round(list_cosine_similarity(e.v, ev.evv), 4)) AS max_cos
FROM e CROSS JOIN ev
WHERE e.vec_id >= 50
  AND round(list_cosine_similarity(e.v, ev.evv), 4) >= 0.3
GROUP BY e.vec_id
""",
    doc="Embedding-space decontamination — the semantic complement of "
    "decontam_ngram_overlap: training vectors too close (cosine >= 0.3) "
    "to ANY vector of a FIXED-size eval benchmark (vec_id < 50) are "
    "flagged with their hit count and worst similarity. The eval side is "
    "constant-size by construction (a benchmark, not a corpus slice), so "
    "the broadcast × per-partition scan plan holds at any corpus scale — "
    "the corpus never shuffles, norms are computed once before the join.",
    tags=("similarity", "decontam", "pipeline"),
)
def decontam_embedding_neardup(spark, sf_dir):
    from ..functions import cosine
    from ..operators.similarity import with_norm

    emb = load_table(spark, sf_dir, "embeddings")
    e = with_norm(emb).select(
        "vec_id", F.col("_v").alias("v"), F.col("_norm").alias("n")
    )
    ev = e.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("eid"),
        F.col("v").alias("evv"),
        F.col("n").alias("en"),
    )
    train = e.where(F.col("vec_id") >= 50)
    sim = F.round(
        cosine(F.col("v"), F.col("evv"), F.col("n"), F.col("en")), 4
    )
    return (
        train.crossJoin(F.broadcast(ev))
        .withColumn("cos", sim)
        .where(F.col("cos") >= 0.3)
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.max("cos").alias("max_cos"),
        )
    )


@register(
    "ann_pq_adc_topk",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), subs AS MATERIALIZED (
  SELECT vec_id, j, v[j * 8 + 1 : j * 8 + 8] AS sv
  FROM e, (SELECT unnest(range(8)) AS j)
), cb AS MATERIALIZED (
  SELECT vec_id AS cid, j, sv AS cv FROM subs WHERE vec_id < 16
), dist AS (
  SELECT s.vec_id, s.j, c.cid,
         CAST(round(list_reduce(
           list_transform(range(8),
             i -> (s.sv[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])
                  * (s.sv[CAST(i AS INT) + 1] - c.cv[CAST(i AS INT) + 1])),
           (x, y) -> x + y) * 1000000) AS BIGINT) AS d_e6
  FROM subs s JOIN cb c ON s.j = c.j
), codes AS MATERIALIZED (
  SELECT vec_id, j, cid AS code, d_e6 AS qerr_e6 FROM (
    SELECT vec_id, j, cid, d_e6,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d_e6, cid) AS rn
    FROM dist) WHERE rn = 1
), qdist AS (
  -- BOUNDED probe sample: the % stride alone made the query set a
  -- corpus FRACTION, so ADC scoring (queries x corpus) grew
  -- quadratically — the r7 100x sweep hit a disk-filling shuffle. The
  -- vec_id cap fixes the probe count at any scale (40 at sf0.1+).
  SELECT d.vec_id AS qid, d.j, d.cid, d.d_e6
  FROM dist d WHERE d.vec_id % 50 = 0 AND d.vec_id < 2000
), adc AS (
  SELECT q.qid, c.vec_id AS cid, sum(q.d_e6) AS adc_e6
  FROM codes c JOIN qdist q ON q.j = c.j AND q.cid = c.code
  WHERE c.vec_id <> q.qid
  GROUP BY q.qid, c.vec_id
)
SELECT qid, cid, CAST(rn AS BIGINT) AS rn, CAST(adc_e6 AS BIGINT) AS adc_e6
FROM (
  SELECT qid, cid, adc_e6,
         row_number() OVER (PARTITION BY qid ORDER BY adc_e6, cid) AS rn
  FROM adc) WHERE rn <= 5
""",
    doc="Product-quantization ANN with asymmetric distance (Jegou et al. "
    "2011): 64-dim vectors split into 8 subspaces of 8 dims, each "
    "subvector quantized to its nearest of 16 codebook centroids "
    "(seeded from vec_id<16), so a vector becomes 8 small codes — 32x "
    "compression. Query time is ADC: the query's exact distance to "
    "every (subspace, centroid) pair is a 1280-entry lookup table, and "
    "a candidate's distance is the SUM of 8 table lookups on its codes "
    "— the corpus's floats are never touched again. Top-5 per query by "
    "ADC. Scale shape: codebook and lookup tables broadcast (m*k "
    "bounded); quantization is one scan + a per-(vec, subspace) argmin "
    "bounded by m*k rows each; the ADC pass joins codes to the "
    "broadcast table and partial-aggregates map-side. Every distance "
    "is folded left-to-right then scaled to integer e6 BEFORE any "
    "cross-row sum, so the index is bit-identical on any engine — the "
    "IVF-PQ memory-budget path for billion-vector ANN, minus IVF "
    "(compose with ann_topk_ivf's centroid routing).",
    tags=("similarity", "ann", "pq"),
)
def ann_pq_adc_topk(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions import as_double_array

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    subs = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
        "v",
    ).select(
        "vec_id", "j", F.expr("slice(v, j * 8 + 1, 8)").alias("sv")
    )
    cb = subs.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), "j", F.col("sv").alias("cv")
    )
    d_e6 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        * 1000000
    ).cast("bigint")
    dist = subs.join(F.broadcast(cb), "j").select(
        "vec_id", "j", "cid", d_e6.alias("d_e6")
    )
    w_code = W.partitionBy("vec_id", "j").orderBy("d_e6", "cid")
    codes = (
        dist.withColumn("rn", F.row_number().over(w_code))
        .where(F.col("rn") == 1)
        .select("vec_id", "j", F.col("cid").alias("code"))
    )
    # bounded probe sample (vec_id cap): ADC cost is queries x corpus, so
    # the probe set must be FIXED-size, never a corpus fraction — the r7
    # 100x sweep caught the unbounded form filling the disk mid-shuffle
    qdist = dist.where(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)
    ).select(F.col("vec_id").alias("qid"), "j", "cid", "d_e6")
    adc = (
        codes.join(
            F.broadcast(qdist),
            (codes["j"] == qdist["j"]) & (codes["code"] == qdist["cid"]),
        )
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("cid2"))
        .agg(F.sum("d_e6").alias("adc_e6"))
    )
    w_top = W.partitionBy("qid").orderBy("adc_e6", "cid2")
    return (
        adc.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= 5)
        .select(
            "qid",
            F.col("cid2").alias("cid"),
            F.col("rn").cast("long").alias("rn"),
            F.col("adc_e6").cast("long").alias("adc_e6"),
        )
    )


@register(
    "ann_truncated_rerank_recall",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS MATERIALIZED (
  -- BOUNDED query sample (vec_id cap): the stride alone scaled |Q| with
  -- the corpus, making the brute-force base |Q| x corpus QUADRATIC
  -- (r7 100x sweep: 739 s). Fixed at 40 probes for sf0.1 and above.
  SELECT vec_id AS qid, v AS qv FROM e
  WHERE vec_id % 50 = 0 AND vec_id < 2000
), pairs AS MATERIALIZED (
  SELECT q.qid, e.vec_id AS cid,
         CAST(round(list_reduce(
           list_transform(range(16),
             i -> (q.qv[CAST(i AS INT) + 1] - e.v[CAST(i AS INT) + 1])
                  * (q.qv[CAST(i AS INT) + 1] - e.v[CAST(i AS INT) + 1])),
           (x, y) -> x + y) * 1000000) AS BIGINT) AS d16_e6,
         CAST(round(list_reduce(
           list_transform(range(64),
             i -> (q.qv[CAST(i AS INT) + 1] - e.v[CAST(i AS INT) + 1])
                  * (q.qv[CAST(i AS INT) + 1] - e.v[CAST(i AS INT) + 1])),
           (x, y) -> x + y) * 1000000) AS BIGINT) AS d64_e6
  FROM q JOIN e ON e.vec_id <> q.qid
), exact5 AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY d64_e6, cid) AS rn
    FROM pairs) WHERE rn <= 5
), cand20 AS (
  SELECT qid, cid, d64_e6 FROM (
    SELECT qid, cid, d64_e6,
           row_number() OVER (PARTITION BY qid ORDER BY d16_e6, cid) AS rn
    FROM pairs) WHERE rn <= 20
), rerank5 AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY d64_e6, cid) AS rn
    FROM cand20) WHERE rn <= 5
)
SELECT x.qid,
       CAST(count(r.cid) AS BIGINT) AS n_overlap,
       CAST(count(r.cid) * 10000 // 5 AS BIGINT) AS recall5_e4
FROM exact5 x LEFT JOIN rerank5 r ON x.qid = r.qid AND x.cid = r.cid
GROUP BY x.qid
""",
    doc="Two-stage retrieval with truncated embeddings (the Matryoshka / "
    "adaptive-retrieval pattern): stage 1 ranks every candidate by the "
    "FIRST 16 of 64 dims (4x cheaper distance, and at cluster scale 4x "
    "less memory bandwidth — the prefix index can stay RAM-resident "
    "when the full vectors cannot), keeps top-20; stage 2 reranks just "
    "those 20 with full 64-dim distance; recall@5 against the exact "
    "full-dim top-5 measures what the truncation lost. All distances "
    "fold left-to-right then scale to integer e6 before any ranking, "
    "so the eval is bit-identical cross-engine. The eval's brute-force "
    "pair base is query-sample-bounded (|Q| x corpus, broadcast "
    "queries, per-partition partial top-k) — the same shape as "
    "ann_recall_eval.",
    tags=("similarity", "ann", "eval"),
)
def ann_truncated_rerank_recall(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions import as_double_array

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    # bounded query sample — see the oracle note (r7: |Q| must not scale
    # with the corpus or the brute-force eval base goes quadratic)
    q = emb.where((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )

    def sq_l2_e6(a, b, ndim):
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.slice(a, 1, ndim),
                    F.slice(b, 1, ndim),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            * 1000000
        ).cast("bigint")

    pairs = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cid"),
            sq_l2_e6(F.col("qv"), F.col("v"), 16).alias("d16_e6"),
            sq_l2_e6(F.col("qv"), F.col("v"), 64).alias("d64_e6"),
        )
    )
    pairs = pairs.persist()
    w64 = W.partitionBy("qid").orderBy("d64_e6", "cid")
    exact5 = (
        pairs.withColumn("rn", F.row_number().over(w64))
        .where(F.col("rn") <= 5)
        .select("qid", "cid")
    )
    w16 = W.partitionBy("qid").orderBy("d16_e6", "cid")
    cand20 = (
        pairs.withColumn("rn", F.row_number().over(w16))
        .where(F.col("rn") <= 20)
        .select("qid", "cid", "d64_e6")
    )
    # rename BOTH join columns on the reranked side: exact5 and rerank5
    # derive from the same `pairs` frame, and a raw qid == qid predicate
    # is the trivially-true self-join hazard (can degrade to
    # cartesian-with-filter on some resolutions) — name-disjoint columns
    # force a real equi-join
    rerank5 = (
        cand20.withColumn("rn", F.row_number().over(w64))
        .where(F.col("rn") <= 5)
        .select(F.col("qid").alias("rqid"), F.col("cid").alias("rcid"))
    )
    return (
        exact5.join(
            rerank5,
            (F.col("qid") == F.col("rqid"))
            & (F.col("cid") == F.col("rcid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("rcid").cast("long").alias("n_overlap"),
            F.expr("CAST(count(rcid) * 10000 div 5 AS BIGINT)").alias(
                "recall5_e4"
            ),
        )
    )


@register(
    "embedding_covariance_topcells",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (SELECT count(*) AS n FROM e),
dims AS (SELECT unnest(range(64)) AS i),
xi AS MATERIALIZED (
  SELECT vec_id, i,
         CAST(round(v[CAST(i AS INT) + 1] * 1000) AS BIGINT) AS x
  FROM e CROSS JOIN dims
), sums AS MATERIALIZED (
  SELECT i, sum(x) AS sx FROM xi GROUP BY i
), cross_ AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
  FROM xi a JOIN xi b ON a.vec_id = b.vec_id AND a.i < b.i
  GROUP BY a.i, b.i
), cov AS (
  SELECT c.i, c.j,
         CAST((n.n * c.sxy - sa.sx * sb.sx) // (n.n * n.n) AS BIGINT)
           AS cov_e6
  FROM cross_ c
  JOIN sums sa ON sa.i = c.i
  JOIN sums sb ON sb.i = c.j
  CROSS JOIN n
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, cov_e6
FROM cov
ORDER BY abs(cov_e6) DESC, i, j LIMIT 20
""",
    doc="Distributed covariance matrix over the embedding corpus — the "
    "single-pass moment aggregation behind PCA/whitening at scale: "
    "each row contributes its 64*63/2 off-diagonal products (elements "
    "pre-scaled to integer e3, so every cross-engine sum is exact), "
    "the per-cell sums partial-aggregate map-side into a FIXED 2016-"
    "cell output no matter how many vectors stream through, and "
    "cov = (n*Sxy - Sx*Sy)/n^2 assembles cells from the merged "
    "moments — re-aggregable across shards by plain addition, the "
    "property a 100 TB covariance needs (the corpus is scanned once; "
    "nothing row-level ever shuffles except dim-pair partial sums). "
    "Top-20 strongest covariances reported via TakeOrdered. Overflow "
    "bound: n * Sxy stays under int64 while n^2 * 0.25e6 * dims < "
    "9.2e18 — holds to ~200M vectors; rescale to e2 beyond.",
    tags=("similarity", "analytics", "moments"),
)
def embedding_covariance_topcells(spark, sf_dir):
    from ..functions import as_double_array

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    xi = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "v", lambda x: F.round(x * 1000).cast("bigint")
            )
        ).alias("i", "x"),
    )
    xi = xi.persist()
    n = emb.agg(F.count("*").alias("n"))
    sums = xi.groupBy("i").agg(F.sum("x").alias("sx"))
    # per-row dim-pair products unfold in codegen (2016 pairs per row),
    # then ONE partial-aggregating shuffle onto the fixed cell grid
    pairs = (
        emb.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(62)),
                        lambda i: F.transform(
                            F.sequence(i + 1, F.lit(63)),
                            lambda j: F.struct(
                                i.alias("i"),
                                j.alias("j"),
                                (
                                    F.round(
                                        F.element_at(F.col("v"), i + 1)
                                        * 1000
                                    ).cast("bigint")
                                    * F.round(
                                        F.element_at(F.col("v"), j + 1)
                                        * 1000
                                    ).cast("bigint")
                                ).alias("p"),
                            ),
                        ),
                    )
                )
            ).alias("c")
        )
        .select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sxy"))
    )
    sa = sums.select(F.col("i").alias("si"), F.col("sx").alias("sxa"))
    sb = sums.select(F.col("i").alias("sj"), F.col("sx").alias("sxb"))
    cov = (
        pairs.join(F.broadcast(sa), pairs["i"] == sa["si"])
        .join(F.broadcast(sb), pairs["j"] == sb["sj"])
        .crossJoin(F.broadcast(n))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.expr(
                "CAST((n * sxy - sxa * sxb) div (n * n) AS BIGINT)"
            ).alias("cov_e6"),
        )
    )
    return cov.orderBy(F.abs(F.col("cov_e6")).desc(), "i", "j").limit(20)


@register(
    "multimodal_wav_decode_real",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS dig FROM documents
), s AS (
  SELECT doc_id,
         CAST(('0x' || substr(dig, i * 4 + 1, 4)) AS INT) - 32768 AS smp
  FROM d, (SELECT unnest(range(16)) AS i)
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
       CAST(16 AS INT) AS n_samples,
       CAST(max(abs(smp)) AS INT) AS peak,
       CAST(sum(smp * smp) AS BIGINT) AS energy
FROM s GROUP BY doc_id
""",
    doc="REAL audio container round trip — the WAV analog of "
    "multimodal_png_decode_real: a spec-correct RIFF/WAVE PCM16 file is "
    "synthesized per document (samples derived from sha256 of the id) "
    "and decoded by a genuine stdlib container parser "
    "(operators/wav_codec.py: RIFF magic + declared-size chunk walk + "
    "fmt contract validation + PCM16LE unpack; malformed bytes raise "
    "and quarantine, never mis-parse). The decoded waveform reduces to "
    "integer stats (peak, energy) whose closed form the oracle "
    "recomputes from the same digest — so the entire encode→parse→"
    "decode path is value-checked, not just smoke-tested. Runs Arrow-"
    "batched in mapInPandas with only (id, 100-byte wav) per row — the "
    "decode-at-scale shape where executor memory is payload-bound.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_wav_decode_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_wav, wav_decode_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return wav_decode_stats(attach_synth_wav(docs))


@register(
    "multimodal_wav_stereo_real",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS dig FROM documents
), s AS (
  SELECT doc_id, CAST(i // 2 AS INT) AS f, CAST(i % 2 AS INT) AS ch,
         CAST(('0x' || substr(dig, i * 4 + 1, 4)) AS INT) - 32768 AS smp
  FROM d, (SELECT unnest(range(16)) AS i)
), fr AS (
  SELECT doc_id, f,
         max(CASE WHEN ch = 0 THEN smp END) AS l,
         max(CASE WHEN ch = 1 THEN smp END) AS r
  FROM s GROUP BY doc_id, f
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate, CAST(8 AS INT) AS n_frames,
       CAST(max(abs(l)) AS INT) AS peak_l,
       CAST(max(abs(r)) AS INT) AS peak_r,
       CAST(sum(l * l) AS BIGINT) AS energy_l,
       CAST(sum(r * r) AS BIGINT) AS energy_r,
       CAST(sum(l * r) AS BIGINT) AS lr_dot
FROM fr GROUP BY doc_id
""",
    doc="REAL stereo audio path — extends the WAV codec past mono: a "
    "spec-correct 2-channel PCM16 RIFF file (frame-interleaved L R, "
    "block-align 4) is synthesized per document, parsed by the genuine "
    "container walk (which now validates block_align/byte_rate "
    "consistency and frame alignment), de-interleaved, and reduced to "
    "exact per-channel integer stats plus the L·R frame dot product. "
    "The oracle reconstructs both channels from the same sha256 digest "
    "in closed form, so interleave order, channel split, and the fmt "
    "arithmetic are all value-checked (operators/wav_codec.py, "
    "operators/multimodal.py).",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_wav_stereo_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_wav_stereo, wav_stereo_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return wav_stereo_stats(attach_synth_wav_stereo(docs))


@register(
    "multimodal_mulaw_roundtrip_real",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS dig FROM documents
), s AS (
  SELECT doc_id,
         CAST(('0x' || substr(dig, i * 4 + 1, 4)) AS INT) - 32768 AS smp
  FROM d, (SELECT unnest(range(16)) AS i)
), seg AS (
  SELECT doc_id, smp,
         CASE WHEN smp < 0 THEN -1 ELSE 1 END AS sgn,
         least(abs(smp), 32635) + 132 AS v
  FROM s
), e AS (
  SELECT doc_id, smp, sgn, v,
         CASE WHEN v >= 16384 THEN 7
              WHEN v >= 8192 THEN 6
              WHEN v >= 4096 THEN 5
              WHEN v >= 2048 THEN 4
              WHEN v >= 1024 THEN 3
              WHEN v >= 512 THEN 2
              WHEN v >= 256 THEN 1
              ELSE 0 END AS ex
  FROM seg
), rec AS (
  SELECT doc_id, smp,
         sgn * ((((v // CAST(power(2, ex + 3) AS BIGINT)) % 16) * 8 + 132)
                * CAST(power(2, ex) AS BIGINT) - 132) AS r
  FROM e
)
SELECT doc_id,
       CAST(max(abs(smp)) AS BIGINT) AS peak_orig,
       CAST(sum(r * r) AS BIGINT) AS energy_recon,
       CAST(max(abs(r - smp)) AS BIGINT) AS max_abs_err,
       CAST(sum(abs(r - smp)) AS BIGINT) AS sum_abs_err
FROM rec GROUP BY doc_id
""",
    doc="REAL G.711 μ-law compressed-audio round trip — the stateless "
    "companion to multimodal_adpcm_roundtrip_real: each document's "
    "sha256-derived PCM waveform is compressed through the genuine ITU-T "
    "companding law (operators/g711_codec.py: bias, clip, segment = top "
    "bit of the biased high byte, 4-bit mantissa, ones-complement), "
    "containerized, parsed back, and expanded; the lossy round trip "
    "reduces to exact integer stats. Because companding is stateless per "
    "sample, the oracle replays encode→decode with plain integer CASE "
    "arithmetic — every segment boundary and mantissa shift is "
    "value-checked without a recursive CTE. Payload bytes live only "
    "inside pipelined Arrow stages.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_mulaw_roundtrip_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_mulaw, mulaw_roundtrip_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return mulaw_roundtrip_stats(attach_synth_mulaw(docs))


@register(
    "multimodal_alaw_roundtrip_real",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS dig FROM documents
), s AS (
  SELECT doc_id,
         CAST(('0x' || substr(dig, i * 4 + 1, 4)) AS INT) - 32768 AS smp
  FROM d, (SELECT unnest(range(16)) AS i)
), seg AS (
  SELECT doc_id, smp,
         CASE WHEN smp >= 0 THEN 1 ELSE -1 END AS sgn,
         least(CASE WHEN smp >= 0 THEN smp // 8
                    ELSE (-smp - 1) // 8 END, 4095) AS v
  FROM s
), e AS (
  SELECT doc_id, smp, sgn, v,
         CASE WHEN v >= 2048 THEN 7
              WHEN v >= 1024 THEN 6
              WHEN v >= 512 THEN 5
              WHEN v >= 256 THEN 4
              WHEN v >= 128 THEN 3
              WHEN v >= 64 THEN 2
              WHEN v >= 32 THEN 1
              ELSE 0 END AS ex
  FROM seg
), rec AS (
  SELECT doc_id, smp,
         sgn * (CASE WHEN ex = 0 THEN 16 * (v // 2) + 8
                ELSE (16 * ((v // CAST(power(2, ex) AS BIGINT)) % 16) + 264)
                     * CAST(power(2, ex - 1) AS BIGINT) END) AS r
  FROM e
)
SELECT doc_id,
       CAST(max(abs(smp)) AS BIGINT) AS peak_orig,
       CAST(sum(r * r) AS BIGINT) AS energy_recon,
       CAST(max(abs(r - smp)) AS BIGINT) AS max_abs_err,
       CAST(sum(abs(r - smp)) AS BIGINT) AS sum_abs_err
FROM rec GROUP BY doc_id
""",
    doc="REAL G.711 A-law (PCMA) compressed-audio round trip — completes "
    "the G.711 pair next to multimodal_mulaw_roundtrip_real: the same "
    "sha256-derived PCM waveform compressed through the genuine "
    "European-telephony companding law (operators/g711_codec.py: "
    "sign-fold to the 13-bit domain, segment by magnitude, 4-bit "
    "mantissa, alternating-bit 0x55/0xD5 mask), containerized, parsed "
    "back, and expanded. Stateless per sample, so the oracle replays "
    "encode->decode with integer CASE arithmetic — the closed form is "
    "verified EXHAUSTIVELY against the codec for all 65536 int16 values "
    "in pytest, so every segment boundary, mantissa shift, and the "
    "negative-fold (-s-1)//8 identity is value-checked. Payload bytes "
    "live only inside pipelined Arrow stages.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_alaw_roundtrip_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_alaw, alaw_roundtrip_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return alaw_roundtrip_stats(attach_synth_alaw(docs))


_AHASH_CTE = """
WITH g AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 7 AS h FROM documents
), px AS (
  SELECT doc_id,
         CAST(i AS INT) AS i,
         (((i % 8) * w // 8) + ((i // 8) * h // 8) + doc_id) % 256 AS p
  FROM g, (SELECT unnest(range(64)) AS i)
), m AS (
  SELECT doc_id, sum(p) // 64 AS mean FROM px GROUP BY doc_id
), bits AS (
  SELECT px.doc_id,
         sum(CASE WHEN i < 32 AND p > mean
                  THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS ahash_lo,
         sum(CASE WHEN i >= 32 AND p > mean
                  THEN CAST(1 AS BIGINT) << (i - 32) ELSE 0 END) AS ahash_hi
  FROM px JOIN m ON m.doc_id = px.doc_id
  GROUP BY px.doc_id
)
"""


@register(
    "multimodal_image_ahash",
    oracle=_AHASH_CTE
    + """
SELECT doc_id, CAST(ahash_lo AS BIGINT) AS ahash_lo,
       CAST(ahash_hi AS BIGINT) AS ahash_hi
FROM bits
""",
    doc="Perceptual average-hash of REAL decoded images: each synthetic "
    "PNG is genuinely decoded (inflate + unfilter), nearest-neighbor "
    "downsampled to 8x8 on the decoded pixel grid, and hashed by the "
    "mean-threshold rule — the classic aHash, the cheapest perceptual "
    "fingerprint family (aHash/dHash/pHash) used for image dedup at "
    "crawl scale. The whole pipeline runs Arrow-batched in "
    "mapInPandas; only the two 32-bit hash words leave the Python "
    "boundary, never pixels. The oracle recomputes the hash in closed "
    "form from the synthesis formula — so decode, resample, mean and "
    "bit packing are all value-checked end to end.",
    tags=("multimodal", "dedup", "codec"),
)
def multimodal_image_ahash(spark, sf_dir):
    from ..operators.multimodal import attach_synth_png, png_ahash

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return png_ahash(attach_synth_png(docs))


@register(
    "multimodal_ahash_neardup_pairs",
    oracle=_AHASH_CTE
    + """
, grp AS (
  SELECT ahash_lo, ahash_hi, min(doc_id) AS keeper
  FROM bits GROUP BY ahash_lo, ahash_hi
), assign AS (
  SELECT b.doc_id AS id_a, g.keeper AS id_b, CAST(0 AS BIGINT) AS hamming
  FROM bits b JOIN grp g USING (ahash_lo, ahash_hi)
  WHERE b.doc_id <> g.keeper
), q AS (
  SELECT keeper, ahash_lo, ahash_hi,
         ahash_lo % 65536 AS q0, ahash_lo // 65536 AS q1,
         ahash_hi % 65536 AS q2, ahash_hi // 65536 AS q3
  FROM grp
), cross_ AS (
  SELECT DISTINCT a.keeper AS ka, b.keeper AS kb,
         a.ahash_lo AS alo, a.ahash_hi AS ahi,
         b.ahash_lo AS blo, b.ahash_hi AS bhi
  FROM q a JOIN q b
    ON (a.ahash_lo < b.ahash_lo
        OR (a.ahash_lo = b.ahash_lo AND a.ahash_hi < b.ahash_hi))
   AND (a.q0 = b.q0 OR a.q1 = b.q1 OR a.q2 = b.q2 OR a.q3 = b.q3)
)
SELECT id_a, id_b, hamming FROM assign
UNION ALL
SELECT least(ka, kb) AS id_a, greatest(ka, kb) AS id_b,
       CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi))
            AS BIGINT) AS hamming
FROM cross_
WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 3
""",
    doc="Near-duplicate image DEDUP ASSIGNMENT by perceptual-hash hamming "
    "distance <= 3 — the output contract every at-scale deduper uses: "
    "(a) each exact-duplicate doc maps to its hash-group's canonical "
    "keeper (min doc_id; hamming 0), LINEAR in the corpus, and (b) "
    "near-dup links are emitted between group KEEPERS only, found by "
    "the quarter-pigeonhole blocking join (any pair within distance 3 "
    "agrees exactly on one of the four 16-bit quarters) over DISTINCT "
    "64-bit hash values — bounded by hash diversity, not corpus size. "
    "Each of the four blocking joins keeps only pairs whose EARLIER "
    "quarters differ ('first matching quarter' rule), so the union is "
    "disjoint and needs no distinct. History: through round 6 this "
    "query emitted ALL doc pairs per hash group — an output "
    "QUADRATIC in group size that the round-7 100x sweep caught as a "
    "GC death (500k docs over ~9k distinct hashes -> 3e10 pairs); the "
    "keeper contract is the fix, not a cap — no information a deduper "
    "needs is lost (pairs are recoverable per group on demand). Never "
    "compares pixels cross-image; payload bytes stay in Arrow stages.",
    tags=("multimodal", "dedup", "lsh"),
)
def multimodal_ahash_neardup_pairs(spark, sf_dir):
    from ..operators.multimodal import attach_synth_png, png_ahash

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hashes = png_ahash(attach_synth_png(docs)).persist()

    # one shuffle on the 64-bit hash: group -> canonical keeper. Bounded
    # by hash diversity, not corpus size.
    grp = hashes.groupBy("ahash_lo", "ahash_hi").agg(
        F.min("doc_id").alias("keeper")
    )

    # (a) exact-dup assignment: every non-keeper doc maps to its keeper.
    # LINEAR output; the join key is the hash, AQE broadcasts the small
    # group table at runtime from shuffle stats.
    assign = (
        hashes.join(grp, ["ahash_lo", "ahash_hi"])
        .where(F.col("doc_id") != F.col("keeper"))
        .select(
            F.col("doc_id").alias("id_a"),
            F.col("keeper").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )

    # (b) near-dup links BETWEEN KEEPERS: quarter-pigeonhole blocking
    # over distinct hash values only (any pair within hamming 3 agrees
    # exactly on one 16-bit quarter)
    hv = grp.select(
        "keeper",
        "ahash_lo",
        "ahash_hi",
        (F.col("ahash_lo") % 65536).alias("q0"),
        F.expr("ahash_lo div 65536").alias("q1"),
        (F.col("ahash_hi") % 65536).alias("q2"),
        F.expr("ahash_hi div 65536").alias("q3"),
    )
    a = hv.select(
        F.col("keeper").alias("ka"),
        F.col("ahash_lo").alias("alo"),
        F.col("ahash_hi").alias("ahi"),
        *[F.col(f"q{i}").alias(f"a{i}") for i in range(4)],
    )
    b = hv.select(
        F.col("keeper").alias("kb"),
        F.col("ahash_lo").alias("blo"),
        F.col("ahash_hi").alias("bhi"),
        *[F.col(f"q{i}").alias(f"b{i}") for i in range(4)],
    )
    ordered = F.struct("alo", "ahi") < F.struct("blo", "bhi")
    hash_pairs = None
    for i in range(4):
        cond = (F.col(f"a{i}") == F.col(f"b{i}")) & ordered
        for j in range(i):  # first-match rule -> disjoint union, no distinct
            cond &= F.col(f"a{j}") != F.col(f"b{j}")
        c = a.join(b, cond).select("ka", "kb", "alo", "ahi", "blo", "bhi")
        hash_pairs = c if hash_pairs is None else hash_pairs.unionByName(c)
    hamming = F.bit_count(
        F.col("alo").bitwiseXOR(F.col("blo"))
    ) + F.bit_count(F.col("ahi").bitwiseXOR(F.col("bhi")))
    cross = (
        hash_pairs.select("ka", "kb", hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= 3)
        .select(
            F.least("ka", "kb").alias("id_a"),
            F.greatest("ka", "kb").alias("id_b"),
            "hamming",
        )
    )
    return assign.unionByName(cross)


@register(
    "embedding_dim_variance_ranking",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (SELECT count(*) AS n FROM e),
xi AS (
  SELECT vec_id, i,
         CAST(round(v[CAST(i AS INT) + 1] * 1000) AS BIGINT) AS x
  FROM e, (SELECT unnest(range(64)) AS i)
), mom AS (
  SELECT i, sum(x) AS sx, sum(x * x) AS sx2 FROM xi GROUP BY i
), var_ AS (
  SELECT CAST(i AS INT) AS dim,
         CAST((n.n * sx2 - sx * sx) // (n.n * n.n) AS BIGINT) AS var_e6
  FROM mom CROSS JOIN n
)
SELECT dim, var_e6,
       CAST(row_number() OVER (ORDER BY var_e6 DESC, dim) AS BIGINT)
         AS var_rank,
       row_number() OVER (ORDER BY var_e6 DESC, dim) <= 32 AS keep_dim
FROM var_
""",
    doc="Per-dimension variance ranking — the feature-selection half of "
    "the covariance story (embedding_covariance_topcells computes the "
    "off-diagonal; this is the diagonal put to work): each dim's "
    "variance comes from the same mergeable (sum, sum-of-squares) "
    "moment pair in integer e3 units, then dims rank by variance and "
    "the bottom half is flagged prunable — the cheap dimensionality "
    "reduction (variance thresholding) run before anything as fancy "
    "as PCA, and the complement of ann_truncated_rerank_recall's "
    "prefix truncation. The ranking window is over the FIXED 64-row "
    "moment table, not data — a dimension-scale sort is the one place "
    "a single-task global window is scale-safe; the registry plan "
    "guard exempts this query BY NAME with that justification.",
    tags=("similarity", "analytics", "moments"),
)
def embedding_dim_variance_ranking(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions import as_double_array

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    xi = emb.select(
        F.posexplode(
            F.transform("v", lambda x: F.round(x * 1000).cast("bigint"))
        ).alias("i", "x")
    )
    n = emb.agg(F.count("*").alias("n"))
    mom = xi.groupBy("i").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    var_ = mom.crossJoin(F.broadcast(n)).select(
        F.col("i").cast("int").alias("dim"),
        F.expr("CAST((n * sx2 - sx * sx) div (n * n) AS BIGINT)").alias(
            "var_e6"
        ),
    )
    # 64-row moment table: rank within a single constant partition — the
    # registry plan guard forbids unpartitioned windows, and a literal
    # partition key keeps the (dimension-scale) sort inside one task by
    # construction rather than by accident
    w = W.partitionBy(F.lit(0)).orderBy(F.col("var_e6").desc(), "dim")
    return var_.select(
        "dim",
        "var_e6",
        F.row_number().over(w).cast("long").alias("var_rank"),
        (F.row_number().over(w) <= 32).alias("keep_dim"),
    )


@register(
    "multimodal_scene_cut_segments",
    oracle="""
WITH meta AS (
  SELECT doc_id, CAST(doc_id % 16 + 1 AS INT) AS n_frames FROM documents
), frames AS (
  SELECT doc_id, CAST(i AS INT) AS i,
         CAST(('0x' || substr(md5(doc_id || ':' || i), 1, 4)) AS INT) % 256
           AS sig
  FROM meta, (SELECT unnest(range(16)) AS i)
  WHERE i < n_frames
), diffs AS (
  SELECT doc_id, i, sig,
         abs(sig - lag(sig) OVER (PARTITION BY doc_id ORDER BY i))
           AS jump
  FROM frames
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(count(*) FILTER (WHERE jump > 128) AS BIGINT) AS n_cuts,
       CAST(1 + count(*) FILTER (WHERE jump > 128) AS BIGINT) AS n_scenes,
       CAST(count(*) * 100 //
            (1 + count(*) FILTER (WHERE jump > 128)) AS BIGINT)
         AS mean_scene_len_e2
FROM diffs GROUP BY doc_id
""",
    doc="Video scene-cut segmentation — the temporal boundary detector "
    "run per media asset: consecutive frame signatures (here a "
    "deterministic per-frame hash standing in for a frame embedding; "
    "the plumbing is what's under test) are compared with lag() inside "
    "each doc's frame sequence and a jump above threshold opens a new "
    "scene; per-asset scene counts and mean scene length follow from "
    "one conditional aggregate. Scale shape: frames explode scan-"
    "local, the only shuffle keys on the asset id, and per-asset "
    "window state is one previous frame — identical to how the real "
    "thing runs when the signature column is a decoded-frame "
    "embedding distance (swap the hash for frame_sample + a Pandas-"
    "UDF distance; the plan does not change).",
    tags=("multimodal", "window", "pipeline"),
)
def multimodal_scene_cut_segments(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 16 + 1).cast("int").alias("n_frames")
    )
    frames = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("i"),
    ).select(
        "doc_id",
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % 256
        ).alias("sig"),
    )
    w = W.partitionBy("doc_id").orderBy("i")
    diffs = frames.withColumn(
        "jump", F.abs(F.col("sig") - F.lag("sig").over(w))
    )
    cuts = F.count(F.when(F.col("jump") > 128, 1))
    return diffs.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        cuts.alias("n_cuts"),
        (F.lit(1) + cuts).cast("long").alias("n_scenes"),
        F.expr(
            "CAST(count(*) * 100 div"
            " (1 + count(CASE WHEN jump > 128 THEN 1 END)) AS BIGINT)"
        ).alias("mean_scene_len_e2"),
    )


@register(
    "embedding_label_separability",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), probes AS (
  -- BOUNDED probe sample (vec_id cap): the stride alone scaled probes
  -- with the corpus — probes x corpus cosine pairs went quadratic at
  -- the r7 100x sweep (522 s). Fixed at 100 probes for sf0.1+.
  SELECT vec_id AS pid, label AS plabel, v AS pv FROM e
  WHERE vec_id % 20 = 0 AND vec_id < 2000
), pairs AS (
  SELECT p.plabel,
         e.label = p.plabel AS same_label,
         CAST(round(list_cosine_similarity(p.pv, e.v) * 10000) AS BIGINT)
           AS cos_e4
  FROM probes p JOIN e ON e.vec_id <> p.pid
)
SELECT plabel AS label,
       CAST(count(*) FILTER (WHERE same_label) AS BIGINT) AS n_within,
       CAST(sum(cos_e4) FILTER (WHERE same_label)
            // count(*) FILTER (WHERE same_label) AS BIGINT)
         AS mean_within_e4,
       CAST(count(*) FILTER (WHERE NOT same_label) AS BIGINT) AS n_inter,
       CAST(sum(cos_e4) FILTER (WHERE NOT same_label)
            // count(*) FILTER (WHERE NOT same_label) AS BIGINT)
         AS mean_inter_e4
FROM pairs GROUP BY plabel
""",
    doc="Label SEPARABILITY in embedding space — the silhouette "
    "question reduced to its decision-relevant core: for a probe "
    "sample, mean cosine to same-label vectors vs different-label "
    "vectors per label (a gap near zero means the labels are not "
    "cosine clusters — which is precisely what ann_topk_ivf's "
    "docstring warns about for THIS synthetic corpus, and now the "
    "engine measures it instead of asserting it). Cosines round to "
    "integer e4 BEFORE the means so the cross-row division is exact "
    "integer (mean-of-rounded, the established float discipline). "
    "Probe-sample-bounded: |probes| x corpus with the probe side "
    "broadcast, never corpus^2.",
    tags=("similarity", "eval", "analytics"),
)
def embedding_label_separability(spark, sf_dir):
    from ..functions import cosine
    from ..operators.similarity import with_norm

    emb = load_table(spark, sf_dir, "embeddings")
    e = with_norm(emb).select(
        "vec_id", "label", F.col("_v").alias("v"), F.col("_norm").alias("nm")
    )
    # bounded probe sample — see the oracle note (r7: a corpus-fraction
    # probe set makes the pair base quadratic)
    probes = e.where(
        (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2000)
    ).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("v").alias("pv"),
        F.col("nm").alias("pn"),
    )
    pairs = (
        e.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("pid"))
        .select(
            "plabel",
            (F.col("label") == F.col("plabel")).alias("same_label"),
            F.round(
                cosine(F.col("pv"), F.col("v"), F.col("pn"), F.col("nm"))
                * 10000
            )
            .cast("long")
            .alias("cos_e4"),
        )
    )
    within = F.when(F.col("same_label"), F.col("cos_e4"))
    inter = F.when(~F.col("same_label"), F.col("cos_e4"))
    return pairs.groupBy(F.col("plabel").alias("label")).agg(
        F.count(within).alias("n_within"),
        F.expr(
            "CAST(sum(CASE WHEN same_label THEN cos_e4 END)"
            " div count(CASE WHEN same_label THEN 1 END) AS BIGINT)"
        ).alias("mean_within_e4"),
        F.count(inter).alias("n_inter"),
        F.expr(
            "CAST(sum(CASE WHEN NOT same_label THEN cos_e4 END)"
            " div count(CASE WHEN NOT same_label THEN 1 END) AS BIGINT)"
        ).alias("mean_inter_e4"),
    )


@register(
    "ann_ivf_partitioned_index_scan",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
  SELECT unnest(range(64)) AS i
), cd AS (
  SELECT label, i, avg(v[CAST(i AS INT) + 1]) AS av
  FROM e CROSS JOIN dims GROUP BY label, i
), cent AS (
  SELECT label, list(av ORDER BY i) AS cv FROM cd GROUP BY label
), q AS (
  SELECT vec_id AS qid, v AS qv FROM e
  WHERE vec_id % 100 = 0 AND vec_id < 2000
), probe AS (
  SELECT qid, qv, label FROM (
    SELECT qid, qv, label,
           row_number() OVER (
             PARTITION BY qid
             ORDER BY round(list_cosine_similarity(qv, cv), 4) DESC, label
           ) AS pr
    FROM q CROSS JOIN cent) WHERE pr <= 2
), sims AS (
  SELECT qid, e.vec_id AS cid,
         round(list_cosine_similarity(qv, v), 4) AS cos_sim
  FROM probe JOIN e ON e.label = probe.label
  WHERE e.vec_id != qid
)
SELECT qid, cid, cos_sim, CAST(rn AS INT) AS rank FROM (
  SELECT qid, cid, cos_sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, cid) AS rn
  FROM sims) WHERE rn <= 5
""",
    doc="IVF index SERVING on a partition-pruned layout: the corpus is "
    "materialized once partitioned by coarse bucket (partitionBy(label) "
    "parquet — the on-disk inverted file), and each query's nprobe=2 "
    "bucket list becomes a static partition filter, so the scan never "
    "opens unprobed buckets' files (plan-pinned: PartitionFilters on "
    "label, asserted by test_ivf_partitioned_scan_prunes). Same "
    "semantics as ann_topk_ivf — layout is an access-path property "
    "(the layout_zorder_range_scan contract) — but the I/O story is "
    "the 100 TB one: cost per query = nprobe/|buckets| of the index "
    "FILES, not a full scan filtered after read. The probed-label "
    "collect is bounded by |queries| x nprobe.",
    tags=("similarity", "ann", "layout"),
)
def ann_ivf_partitioned_index_scan(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions import cosine
    from ..operators.similarity import ivf_centroids, with_norm
    from ..sources.fixture_cache import ensure_layout, fixture_dir

    emb = load_table(spark, sf_dir, "embeddings")
    path = ensure_layout(
        fixture_dir("emb_ivf_part", sf_dir, mtime_of="embeddings.parquet"),
        lambda p: emb.write.partitionBy("label").mode("overwrite").parquet(p),
    )
    queries = emb.where(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
    )

    cents = ivf_centroids(emb, 64)
    cn = with_norm(cents, "cv").select(
        "label", F.col("_v").alias("cv"), F.col("_norm").alias("cnorm")
    )
    q = with_norm(queries, "embedding").select(
        F.col("vec_id").alias("qid"),
        F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    probe_w = W.partitionBy("qid").orderBy(F.desc("cent_sim"), F.asc("label"))
    probe = (
        q.crossJoin(F.broadcast(cn))
        .select(
            "qid", "qv", "qn", "label",
            F.round(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cnorm")), 4
            ).alias("cent_sim"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= 2)
        .select("qid", "qv", "qn", "label")
    )
    # bounded driver scalar: |queries| x nprobe labels
    labels = sorted(
        {r["label"] for r in probe.select("label").distinct().collect()}
    )
    idx = spark.read.parquet(path).where(F.col("label").isin(labels))
    c = with_norm(idx, "embedding").select(
        F.col("vec_id").alias("cid"),
        "label",
        F.col("_v").alias("cv"),
        F.col("_norm").alias("cn"),
    )
    sims = (
        c.join(F.broadcast(probe), on="label")
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 4
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("qid", "cid", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


@register(
    "embedding_sq8_quantization_error",
    oracle="""
WITH e AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), d AS (
  SELECT i.i AS i, min(v[CAST(i.i AS INT)]) AS mn, max(v[CAST(i.i AS INT)]) AS mx
  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
  GROUP BY i.i
), stats AS MATERIALIZED (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM d
), rec AS (
  SELECT vec_id, label,
         CAST(list_sum(list_transform(range(1, 65), i ->
           CAST(round(pow(v[CAST(i AS INT)]
               - (mns[CAST(i AS INT)]
                  + round((v[CAST(i AS INT)] - mns[CAST(i AS INT)]) * 255
                          / (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]))
                    * (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]) / 255), 2)
             * 1000000) AS BIGINT))) AS BIGINT) AS sqerr_e6
  FROM e CROSS JOIN stats
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(sqerr_e6) // count(*) AS BIGINT) AS mean_sqerr_e6
FROM rec GROUP BY label
""",
    doc="Scalar int8 (SQ8) vector-quantization error audit: each dimension "
    "gets a per-corpus [min, max] range, every component is quantized to "
    "0..255 and reconstructed, and the per-vector squared reconstruction "
    "error (each TERM rounded to an e6 integer before summation, so "
    "every aggregate is order-free) rolls up per label. SQ8 is the standard 4x "
    "memory compression for serving ANN indexes; this query is the "
    "accuracy check run before switching the index to quantized storage. "
    "Plan: the dim-stats aggregate shuffles 64 rows (posexplode grain, "
    "map-side partials), the stats broadcast back as one 2x64 row, and "
    "quantize+reconstruct+error is a single codegen'd higher-order fold "
    "per vector — the corpus is scanned twice, shuffled never (label "
    "rollup aside). 100 TB: identical shape, stats row is O(dims).",
    tags=("similarity", "quantization", "eval"),
)
def embedding_sq8_quantization_error(spark, sf_dir):
    from ..functions import as_double_array

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    dims = e.select(F.posexplode("v").alias("i0", "x"))
    d = dims.groupBy("i0").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    stats = d.agg(
        F.expr("transform(array_sort(collect_list(struct(i0, mn))), s -> s.mn)").alias("mns"),
        F.expr("transform(array_sort(collect_list(struct(i0, mx))), s -> s.mx)").alias("mxs"),
    )
    rec = e.crossJoin(F.broadcast(stats)).select(
        "label",
        F.expr(
            "aggregate(sequence(1, 64), CAST(0 AS BIGINT),"
            " (acc, i) -> acc + CAST(round("
            "   pow(element_at(v, i) - (element_at(mns, i)"
            "     + round((element_at(v, i) - element_at(mns, i)) * 255"
            "             / (element_at(mxs, i) - element_at(mns, i)))"
            "       * (element_at(mxs, i) - element_at(mns, i)) / 255), 2)"
            "   * 1000000) AS BIGINT))"
        ).alias("sqerr_e6"),
    )
    return rec.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.expr("CAST(sum(sqerr_e6) div count(*) AS BIGINT)").alias("mean_sqerr_e6"),
    )


@register(
    "pipeline_multimodal_prep",
    oracle=_AHASH_CTE
    + """
, keeper AS (
  SELECT ahash_lo, ahash_hi, min(doc_id) AS doc_id FROM bits GROUP BY 1, 2
), tq AS (
  SELECT doc_id,
         CAST(len(list_distinct(string_split(text, ' '))) * 4000
                // len(string_split(text, ' '))
              + least(len(string_split(text, ' ')), 100) * 30
              + CASE WHEN (length(text) - (len(string_split(text, ' ')) - 1))
                          * 10000 // len(string_split(text, ' '))
                          BETWEEN 30000 AND 100000
                     THEN 3000 ELSE 1500 END AS BIGINT) AS quality_e4
  FROM documents
), kept AS (
  SELECT k.doc_id FROM keeper k JOIN tq USING (doc_id)
  WHERE tq.quality_e4 >= 6000
), pxs AS (
  SELECT g.doc_id, g.w, g.h,
         CAST(sum((x + y + g.doc_id) % 256) AS BIGINT) AS ps
  FROM g, range(0, 16) tx(x), range(0, 16) ty(y)
  WHERE x < g.w AND y < g.h
  GROUP BY g.doc_id, g.w, g.h
)
SELECT CAST(('0x' || substr(md5(CAST(kept.doc_id AS VARCHAR)), 1, 4)) AS INT)
         % 8 AS shard,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(pxs.w * pxs.h) AS BIGINT) AS total_pixels,
       CAST(sum(pxs.ps) AS BIGINT) AS pixel_checksum
FROM kept JOIN pxs USING (doc_id)
GROUP BY 1
""",
    doc="End-to-end MULTIMODAL dataset prep — the image twin of "
    "pipeline_pretraining_prep: synthesize real PNGs, DECODE them with "
    "the stdlib codec (inflate + unfilter), aHash the decoded pixels, "
    "drop perceptual exact-duplicates (min-id keeper per 64-bit hash), "
    "gate on the text quality score, and assign survivors to md5-bucket "
    "shards with per-shard image counts, pixel totals, and an exact "
    "pixel checksum the oracle recomputes in closed form from the "
    "synthesis formula — so decode, hash, dedup, gate and shard are ALL "
    "value-checked in one query. Plan shape: pixels never leave the two "
    "Arrow decode stages (only 2x32-bit hashes and per-image ints "
    "shuffle); the dedup groupBy is keyed on the hash words; everything "
    "downstream is dimension-sized. 100 TB: this is the crawl-prep "
    "shape — payload-local decode, digest-keyed dedup, bounded-key "
    "shard assignment.",
    tags=("pipeline", "multimodal", "dedup", "codec"),
)
def pipeline_multimodal_prep(spark, sf_dir):
    from ..operators.multimodal import (
        attach_synth_png,
        png_ahash_decode_stats,
    )
    from ..operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    media = attach_synth_png(docs.select("doc_id"))
    # r10 (guide §4): ONE fused decode emits hash words and decode stats
    # together, and the fused frame is persisted because the keeper
    # groupBy and the stats join both consume it — synth+decode run once
    # per image instead of twice (the payload crosses the Python
    # boundary once; the cached frame is 6 ints/image, safe at any
    # scale). Values byte-identical to the unfused pair
    # (tests/test_multimodal_fused.py).
    fused = png_ahash_decode_stats(media).persist()
    hashes = fused.select("doc_id", "ahash_lo", "ahash_hi")
    stats = fused.select("doc_id", "width", "height", "channels", "pixel_sum")
    keeper = hashes.groupBy("ahash_lo", "ahash_hi").agg(
        F.min("doc_id").alias("doc_id")
    )
    q = with_quality_score(docs).select("doc_id", "quality_e4")
    kept = keeper.join(q, "doc_id").where(F.col("quality_e4") >= 6000)
    merged = kept.join(stats, "doc_id")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 8
    )
    return merged.groupBy(shard.alias("shard")).agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum(F.col("width") * F.col("height")).cast("long").alias("total_pixels"),
        F.sum("pixel_sum").cast("long").alias("pixel_checksum"),
    )


_ADPCM_STEP_TABLE_SQL = "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767]"
_ADPCM_INDEX_TABLE_SQL = "[-1,-1,-1,-1,2,4,6,8]"
_HEXD = "0123456789abcdef"


@register(
    "multimodal_adpcm_roundtrip_real",
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS dig FROM documents
), smp AS (
  SELECT d.doc_id, CAST(t.i AS INT) AS i,
         CAST(
           (strpos('{_HEXD}', substr(d.dig, CAST(t.i*4+1 AS INT), 1)) - 1) * 4096
         + (strpos('{_HEXD}', substr(d.dig, CAST(t.i*4+2 AS INT), 1)) - 1) * 256
         + (strpos('{_HEXD}', substr(d.dig, CAST(t.i*4+3 AS INT), 1)) - 1) * 16
         + (strpos('{_HEXD}', substr(d.dig, CAST(t.i*4+4 AS INT), 1)) - 1)
         - 32768 AS INT) AS s
  FROM d, (SELECT unnest(range(16)) AS i) t
), sm AS (
  SELECT doc_id, i, s,
         {_ADPCM_STEP_TABLE_SQL} AS stt,
         {_ADPCM_INDEX_TABLE_SQL} AS itt
  FROM smp
), rec AS (
  SELECT doc_id, -1 AS i, 0 AS p, 0 AS ix,
         CAST(NULL AS INT) AS s, CAST(NULL AS INT) AS recon
  FROM d
  UNION ALL
  SELECT q.doc_id, q.i, q.p2, q.ix2, q.s, q.p2
  FROM (
    SELECT w.doc_id, w.i, w.s,
           least(32767, greatest(-32768,
             w.p + CASE WHEN w.sgn THEN -1 ELSE 1 END *
               (w.step // 8
                + CASE WHEN w.b4 THEN w.step ELSE 0 END
                + CASE WHEN w.b2 THEN w.step // 2 ELSE 0 END
                + CASE WHEN w.b1 THEN w.step // 4 ELSE 0 END))) AS p2,
           least(88, greatest(0, w.ix + w.itt[
             CASE WHEN w.b4 THEN 4 ELSE 0 END
           + CASE WHEN w.b2 THEN 2 ELSE 0 END
           + CASE WHEN w.b1 THEN 1 ELSE 0 END + 1])) AS ix2
    FROM (
      SELECT v.*, (v.ad2 - CASE WHEN v.b2 THEN v.step // 2 ELSE 0 END)
                  >= v.step // 4 AS b1
      FROM (
        SELECT u.*, u.ad2 >= u.step // 2 AS b2
        FROM (
          SELECT z.*, (z.ad - CASE WHEN z.b4 THEN z.step ELSE 0 END) AS ad2
          FROM (
            SELECT r.doc_id, sm.i, sm.s, r.p, r.ix, sm.itt,
                   sm.stt[r.ix + 1] AS step,
                   sm.s - r.p < 0 AS sgn,
                   abs(sm.s - r.p) AS ad,
                   abs(sm.s - r.p) >= sm.stt[r.ix + 1] AS b4
            FROM rec r JOIN sm ON sm.doc_id = r.doc_id AND sm.i = r.i + 1
          ) z
        ) u
      ) v
    ) w
  ) q
)
SELECT doc_id,
  CAST(max(abs(s)) AS BIGINT) AS peak_orig,
  CAST(sum(recon * recon) AS BIGINT) AS energy_recon,
  CAST(max(abs(s - recon)) AS BIGINT) AS max_abs_err,
  CAST(sum(abs(s - recon)) AS BIGINT) AS sum_abs_err
FROM rec WHERE i >= 0
GROUP BY doc_id
""",
    doc="REAL lossy audio-compression round trip — IMA ADPCM (public "
    "IMA/DVI 1992 spec, the RFC 3551 DVI4 tables): per document a "
    "sha256-derived 16-sample PCM16 waveform is compressed 4:1 through "
    "the genuine adaptive-step-size quantizer (operators/adpcm_codec.py "
    "encode), framed, parsed back, and decoded by the matching state "
    "machine; the output is the exact integer fingerprint of the round "
    "trip (reconstructed energy, max/sum absolute quantization error). "
    "The DuckDB oracle replays the SAME 89-step quantizer state machine "
    "with a recursive CTE over (predictor, step-index) — every adaptive "
    "transition is value-checked, not smoke-tested, which is the "
    "strongest check a lossy codec admits. Completes the codec family "
    "(PNG lossless image, WAV container, ADPCM lossy audio); video "
    "remains the one documented stub. Arrow-batched mapInPandas with "
    "only (id, 17-byte payload) per row — at 100 TB the decode is "
    "payload-bound, embarrassingly parallel, and shuffle-free.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_adpcm_roundtrip_real(spark, sf_dir):
    from ..operators.multimodal import attach_synth_adpcm, adpcm_roundtrip_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return adpcm_roundtrip_stats(attach_synth_adpcm(docs))


@register(
    "multimodal_framevid_scene_cuts_real",
    oracle="""
WITH g AS (
  SELECT doc_id, 4 + doc_id % 5 AS nf FROM documents
), fr AS (
  SELECT g.doc_id, CAST(t.f AS INT) AS f,
         sum((px.i % 8 + 2 * (px.i // 8) + t.f * t.f + g.doc_id) % 256)
           AS fsum
  FROM g,
       (SELECT unnest(range(9)) AS f) t,
       (SELECT unnest(range(48)) AS i) px
  WHERE t.f < g.nf
  GROUP BY g.doc_id, t.f
), m AS (
  SELECT doc_id, f, fsum, fsum // 48 AS mean,
         lag(fsum // 48) OVER (PARTITION BY doc_id ORDER BY f) AS prev_mean
  FROM fr
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(fsum) AS BIGINT) AS pixel_sum,
       CAST(count(CASE WHEN abs(mean - prev_mean) >= 8 THEN 1 END) AS BIGINT)
         AS n_scene_cuts
FROM m GROUP BY doc_id
""",
    doc="REAL video container round trip — the frame-level stand-in "
    "VERDICT r3 asked for: an AVI-like raw-frame container (FRV1: "
    "RIFF-style declared-size framing, operators/framevid_codec.py) is "
    "synthesized per document (8x6 gray8, 4+id%5 frames, deterministic "
    "pixel pattern with a quadratic-in-frame term so brightness deltas "
    "vary), genuinely parsed back (magic + header + exact payload-size "
    "reconciliation; malformed raises), and reduced to frame stats: "
    "count, exact all-frame pixel checksum, and mean-brightness-delta "
    "scene cuts (the classic cut detector). The oracle recomputes every "
    "frame mean in closed form from the synthesis formula, so container "
    "framing, frame slicing, and the cut rule are all value-checked. "
    "Completes the codec family: PNG image, WAV container, ADPCM lossy "
    "audio, FRV1 video — each with its own real-decode stats query. "
    "Arrow-batched mapInPandas; only 3 scalars per "
    "payload leave Python — at 100 TB the decode is payload-bound and "
    "shuffle-free.",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_framevid_scene_cuts_real(spark, sf_dir):
    from ..operators.multimodal import (
        attach_synth_framevid,
        framevid_scene_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return framevid_scene_stats(attach_synth_framevid(docs))
