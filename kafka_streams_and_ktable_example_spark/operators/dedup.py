"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB case:

- **exact**: hash-groupBy on a fingerprint — one shuffle keyed by the
  fingerprint; survivors = min id per group (deterministic keeper policy).
- **MinHash + LSH**: per-doc signature is computed in the scan stage (no
  shuffle); banding turns near-dup detection into an equi-join on
  (band_idx, band_hash) — the shuffle is keyed by band hash whose
  cardinality ~ |docs|·bands, so it parallelizes perfectly and never
  materializes the O(n²) pair space.
- **SimHash**: 64-bit signature from token hashes; candidate blocking by
  16-bit quarters (pigeonhole: hamming ≤ 3 ⇒ at least one identical
  quarter), then exact hamming check on candidates only.
- **n-gram Jaccard**: exact verification on a candidate pair set (from LSH
  or a shingle-inverted-index join) — never run all-pairs at scale.

Hash family note: we use lexicographic-min over md5 hex strings as the
MinHash permutation (see functions.seeded_md5) — portable across engines,
uniform, and entirely JVM-evaluated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F



def _exploded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    fan_out: bool = True,
) -> DataFrame:
    """(id, shingle) rows: one per distinct n-gram shingle per doc.

    Tokenization happens BEFORE the repartition exchange so split() runs
    once per row; after a collapsed projection Catalyst would re-inline it
    into every per-shingle lambda element. The repartition fans the
    CPU-bound shingle/hash work out to all cores (a small parquet file
    arrives as one input split; at cluster scale the source has enough
    splits and AQE coalesces the excess).

    Expressions are built as SQL strings (one parse each), not composed
    Column objects: this plan is rebuilt per run, and the ~hundreds of
    py4j round trips the Column form costs were HALF the measured wall
    time of dedup_minhash_lsh at sf0.1 (0.56 s construction vs 0.51 s
    execution). Identical expression tree either way — values and the
    physical plan are unchanged.
    """
    n = int(shingle_n)
    toks = df.selectExpr(
        f"`{id_col}`", f"split(`{text_col}`, ' ') AS _toks"
    )
    if fan_out:
        par = df.sparkSession.sparkContext.defaultParallelism
        toks = toks.repartition(par, id_col)
    return toks.selectExpr(
        f"`{id_col}`",
        "explode(array_distinct("
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(1, size(_toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_toks, i, {n}))) "
        "ELSE CAST(array() AS array<string>) END)) AS sh",
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Survivors after exact dedup: the min-id row of every content group.
    One shuffle on the content hash; no sort, no window."""
    fp = F.md5(F.col(text_col)).alias("content_fp")
    keepers = (
        df.select(F.col(id_col), fp)
        .groupBy("content_fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keepers, on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, mh0..mh{k-1}): min seeded-md5-slice over the doc's distinct
    shingles. Pass a precomputed/cached ``shingles`` (id, sh) frame to
    share the explosion with other stages of a pipeline.

    Each 32-hex-char md5 is sliced into four 8-char sub-hashes, so k hash
    functions cost k/4 digests per shingle: mh[4s+j] = min over shingles of
    substr(md5(s:shingle), 8j+1, 8). Computed via explode + k
    min-aggregates → map-side partial aggregation collapses each partition
    to one row per doc before the (only) shuffle.
    """
    assert num_hashes % 4 == 0, "num_hashes must be a multiple of 4"
    n_seeds = num_hashes // 4
    sh = (
        shingles
        if shingles is not None
        else _exploded_shingles(df, id_col, text_col, shingle_n)
    )
    # project digests once per (row, seed) so the 4 slice-mins below don't
    # recompute the md5 (expr strings: see _exploded_shingles on why)
    digs = sh.selectExpr(
        f"`{id_col}`",
        *[f"md5(concat('{s}:', sh)) AS dig{s}" for s in range(n_seeds)],
    )
    # r10: aggregate the slice-mins as LONGS, not hex strings. For
    # fixed-width lowercase hex, lexicographic order == numeric order, so
    # min(conv(slice,16,10)) mapped back through lpad(lower(hex(x)),8,'0')
    # is byte-identical to min(slice) — but the aggregation buffer becomes
    # 16 longs instead of 16 strings, which (a) upgrades the plan from
    # SortAggregate(+Sort per partition) to a codegen'd HashAggregate
    # (guide §5: no sort, no per-row UTF8String churn), and (b) halves the
    # partial-aggregate bytes if the signature ever crosses an exchange
    # (guide §2.3 narrower types). The single named_struct aggregate plus
    # one selectExpr keeps construction at ~5 py4j round trips (~6 ms
    # each on this box) instead of 17.
    mins = ", ".join(
        f"'n{4 * s + j}', min(cast(conv(substring(dig{s}, {j * 8 + 1}, 8),"
        " 16, 10) as bigint))"
        for s in range(n_seeds)
        for j in range(4)
    )
    num = digs.groupBy(id_col).agg(F.expr(f"named_struct({mins}) AS _n"))
    return num.selectExpr(
        f"`{id_col}`",
        *[
            f"lpad(lower(hex(_n.n{i})), 8, '0') AS mh{i}"
            for i in range(num_hashes)
        ],
    )


def lsh_bands(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band_idx, band_hash): md5 over each band's signature slice."""
    band_structs = ", ".join(
        "struct({b} AS band_idx, md5(concat_ws(',', {cols})) AS band_hash)".format(
            b=b,
            cols=", ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigs.selectExpr(
        f"`{id_col}`", f"explode(array({band_structs})) AS band"
    ).selectExpr(f"`{id_col}`", "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "doc_id",
    broadcast_small: bool = False,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band — the
    equi-join that replaces the O(n²) scan.

    The band table is persisted: both join sides reference it, and without
    a cache Spark would recompute the whole shingle+hash lineage twice.
    (|bands| = |docs| · n_bands rows of (id, int, 32-char hash) — tiny
    relative to the corpus, safe to cache at any scale.)

    ``broadcast_small``: hash-broadcast one side of the self-join instead
    of shuffling both. ONLY legal under a caller-checked input-size gate —
    the band table scales with the corpus, so an unconditional broadcast
    is exactly the executor-OOM pattern tools/plan_audit.py lints against.
    Under the gate it removes both band-key exchanges (measured −0.25 s of
    the sf0.1 wall time); at replica scales callers must leave it False
    and take the shuffle join.
    """
    bands_df = bands_df.persist()
    a = bands_df.selectExpr(f"`{id_col}` AS id_a", "band_idx", "band_hash")
    b = bands_df.selectExpr(f"`{id_col}` AS id_b", "band_idx", "band_hash")
    if broadcast_small:
        a = F.broadcast(a)
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .where("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    shingles=None,
    broadcast_bands: bool | None = None,
) -> DataFrame:
    """Full MinHash-LSH candidate pipeline.

    ``broadcast_bands`` picks the band self-join strategy (semantics
    identical either way). None = auto by Catalyst's corpus-scan size
    estimate — the same free driver-side signal (and the same 4 MB
    threshold) as :func:`jaccard_pairs`'s candidate scope: a small corpus
    broadcasts its (tiny) band table and skips both band-key exchanges,
    while replicas and real corpora keep the shuffle join, whose volume
    is what a 1000-executor cluster wants partitioned. The repartition
    fan-out and band persist stay at EVERY size — measured at sf0.1,
    dropping them makes the query 3x slower (single-split input: the
    fan-out is the only thing spreading the md5 work across cores, and
    without the persist the signature lineage runs twice into the
    self-join)."""
    if broadcast_bands is None:
        broadcast_bands = _plan_size_bytes(df) < _CANDIDATE_SCOPE_MIN_BYTES
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, shingles=shingles
    )
    rows_per_band = num_hashes // bands
    return lsh_candidate_pairs(
        lsh_bands(sigs, id_col, bands, rows_per_band),
        id_col,
        broadcast_small=broadcast_bands,
    )


# --------------------------------------------------------------------------
# n-gram Jaccard verification
# --------------------------------------------------------------------------


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a plan (driver-side, no job). For a
    parquet scan this is the on-disk byte total — a deterministic, free
    signal for small-input shortcuts. Falls back to "huge" on any JVM
    hiccup so callers default to the scale-safe path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 60


#: corpus-scan bytes below which jaccard_pairs skips the candidate-doc
#: semi-join + persist scaffolding: at sub-second inputs (sf0.1 documents
#: is ~0.6 MB) the extra stages cost more than the explosion they avoid,
#: while the 10x replica (~6 MB) and up repay them many times over
#: (BENCH_r04: the scaffolding is why 100x runs in 41 s, not 399 s).
_CANDIDATE_SCOPE_MIN_BYTES = 4 * 1024 * 1024


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_e4: int = 8000,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
    scope_to_candidates: bool | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct shingles for pairs sharing ≥1 shingle
    (inverted-index join), optionally restricted to a candidate pair set.

    Returns (id_a, id_b, jaccard_e4) with jaccard integer-scaled ×10⁴
    (exact in every engine; float round() is not). The inverted-index join
    shuffles by shingle; hot shingles are the skew risk — AQE skew-join
    handles the local harness, salting is the cluster-scale answer.

    ``scope_to_candidates`` controls the candidate-doc semi-join prefilter
    (semantically a no-op either way — it only drops shingle rows of docs
    that cannot appear in the output). None = auto by corpus scan size:
    small corpora skip the semi-join + persist scaffolding whose fixed
    stage cost exceeds the explosion it trims; large corpora keep it (it
    is what keeps the 100x verify shuffle at 2.6M rows instead of 26M).
    """
    ex = (
        shingles
        if shingles is not None
        else _exploded_shingles(df, id_col, text_col, shingle_n)
    )
    scoped = False
    if candidates is not None:
        # a pair sharing two LSH bands arrives twice and the pair-scoped
        # unfold below would double-count its intersection
        candidates = candidates.select("id_a", "id_b").distinct()
        if scope_to_candidates is None:
            scope_to_candidates = _plan_size_bytes(df) >= _CANDIDATE_SCOPE_MIN_BYTES
        scoped = scope_to_candidates
    if scoped:
        # shrink the shingle table to CANDIDATE DOCS before anything else:
        # sizes, unfold, and the (id, sh) join only ever touch docs that
        # appear in a candidate pair (bounded by 2x|candidates|, which is
        # the work you asked to verify — not the corpus). The semi-join is
        # a broadcast filter on the scan at any realistic candidate count,
        # so the full corpus-sized explosion is never shuffled: at the
        # 100x replica this cut the verify stage's shuffle from 26M rows
        # to 2.6M and the pipeline from ~150 s to the LSH stage's cost.
        candidates = candidates.persist()
        cand_docs = (
            candidates.selectExpr(f"id_a AS `{id_col}`")
            .unionByName(candidates.selectExpr(f"id_b AS `{id_col}`"))
            .distinct()
        )
        ex = ex.join(cand_docs, on=id_col, how="left_semi").persist()
    elif shingles is None:
        # ex feeds three consumers (sizes + both join sides); cache it
        # rather than re-running the scan+shingle+explode lineage thrice.
        # (A caller-supplied ``shingles`` frame is the caller's to cache —
        # the pipeline query persists it once for LSH and verify alike.)
        ex = ex.persist()
    sizes = ex.groupBy(id_col).agg(F.expr("count(*) AS sz"))
    a = ex.selectExpr(f"`{id_col}` AS id_a", "sh")
    b = ex.selectExpr(f"`{id_col}` AS id_b", "sh")
    if candidates is not None:
        # PAIR-scoped intersection: unfold each candidate pair by the left
        # doc's shingles, then equi-join the right side on (id_b, sh) —
        # work is O(|candidates| x shingles-per-doc) no matter how hot any
        # single shingle is. The tempting alternative (semi-filter the
        # inverted index to candidate DOCS, then self-join by shingle)
        # re-creates the quadratic term for dense shingle spaces: every
        # doc pair sharing a hot shingle materializes before the pair
        # filter can drop it (observed at the 100x replica: the synthetic
        # 30-word vocabulary made the doc-scoped join spill ~80 GB and
        # die; the pair-scoped join streams).
        # (candidates was distinct'd above: a pair sharing two LSH bands
        # arrives twice and the unfold below would double-count its
        # intersection)
        inter = (
            candidates.join(a, on="id_a")
            .join(b, on=["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.expr("count(*) AS n_inter"))
        )
    else:
        # no candidate restriction: classic inverted-index self-join;
        # hot shingles are the skew risk — AQE skew-join locally,
        # salting at cluster scale
        inter = (
            a.join(b, on="sh")
            .where("id_a < id_b")
            .groupBy("id_a", "id_b")
            .agg(F.expr("count(*) AS n_inter"))
        )
    sza = sizes.selectExpr(f"`{id_col}` AS id_a", "sz AS sz_a")
    szb = sizes.selectExpr(f"`{id_col}` AS id_b", "sz AS sz_b")
    return (
        inter.join(sza, "id_a")
        .join(szb, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "CAST(FLOOR((n_inter * 10000) / ((sz_a + sz_b) - n_inter))"
            " AS BIGINT) AS jaccard_e4",
        )
        .where(f"jaccard_e4 >= {int(threshold_e4)}")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_e4: int = 9000,
) -> DataFrame:
    """Shingle containment ≥ threshold for pairs sharing ≥1 shingle:
    ``containment_e4 = |A ∩ B| * 10000 div min(|A|, |B|)``.

    Catches sub-document duplication that Jaccard misses: a short document
    fully quoted inside a long one has low Jaccard (union is dominated by
    the long doc) but containment 10000. Same inverted-index join shape as
    :func:`jaccard_pairs` — only the denominator differs — so the same
    scale properties hold (shuffle keyed by shingle, cost bounded by
    postings-list sizes, AQE/salting for hot shingles).
    """
    ex = _exploded_shingles(df, id_col, text_col, shingle_n).persist()
    sizes = ex.groupBy(id_col).agg(F.expr("count(*) AS sz"))
    a = ex.selectExpr(f"`{id_col}` AS id_a", "sh")
    b = ex.selectExpr(f"`{id_col}` AS id_b", "sh")
    inter = (
        a.join(b, on="sh")
        .where("id_a < id_b")
        .groupBy("id_a", "id_b")
        .agg(F.expr("count(*) AS n_inter"))
    )
    sza = sizes.selectExpr(f"`{id_col}` AS id_a", "sz AS sz_a")
    szb = sizes.selectExpr(f"`{id_col}` AS id_b", "sz AS sz_b")
    return (
        inter.join(sza, "id_a")
        .join(szb, "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "CAST(FLOOR((n_inter * 10000) / least(sz_a, sz_b))"
            " AS BIGINT) AS containment_e4",
        )
        .where(f"containment_e4 >= {int(threshold_e4)}")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    shingle_n: int = 3,
    window: int = 2,
    threshold_e4: int = 8000,
) -> DataFrame:
    """Sorted-neighborhood dedup: sort each block by a key, compare each
    document only to its next ``window`` neighbors in sort order, score the
    candidate pairs with exact shingle Jaccard. The classic entity-resolution
    alternative to LSH (Hernández & Stolfo, SIGMOD '95): O(n·w) comparisons
    instead of O(n²), no hash-family tuning.

    Plan shape is deliberately join-free: the distinct-shingle arrays ride
    through ONE window sort (partitioned by the block key), neighbors arrive
    via ``lead``, and the Jaccard is ``array_intersect``/``size`` inside
    codegen. The only shuffle is the per-block sort. At 100 TB the block key
    must be finer than ``lang`` (e.g. lang × length-bucket × key-prefix) so
    each sorted run fits an executor — the method degrades gracefully because
    blocks are independent.

    Returns (id_a, id_b, jaccard_e4), id_a < id_b, jaccard_e4 ≥ threshold.
    """
    from ..functions import distinct_shingles

    s = df.select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        F.col(text_col).alias("_key"),
        distinct_shingles(F.col(text_col), shingle_n).alias("_shs"),
    )
    win = W.partitionBy("_blk").orderBy("_key", id_col)
    neighbor_cols = []
    for k in range(1, window + 1):
        neighbor_cols.append(
            F.struct(
                F.lead(id_col, k).over(win).alias("nid"),
                F.lead("_shs", k).over(win).alias("nsh"),
            ).alias(f"_n{k}")
        )
    nb = s.select(F.col(id_col), F.col("_shs"), *neighbor_cols)
    cand = nb.select(
        F.col(id_col).alias("id_x"),
        F.col("_shs").alias("sh_x"),
        F.explode(F.array(*[F.col(f"_n{k}") for k in range(1, window + 1)])).alias("n"),
    ).where(F.col("n.nid").isNotNull())
    inter = F.size(F.array_intersect(F.col("sh_x"), F.col("n.nsh")))
    union = F.size("sh_x") + F.size("n.nsh") - inter
    jac_e4 = F.floor(inter * 10000 / union).cast("long")
    return (
        cand.where(union > 0)
        .select(
            F.least(F.col("id_x"), F.col("n.nid")).alias("id_a"),
            F.greatest(F.col("id_x"), F.col("n.nid")).alias("id_b"),
            jac_e4.alias("jaccard_e4"),
        )
        .where(F.col("jaccard_e4") >= threshold_e4)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _simhash_bit_sums(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, s0..s63): per-doc sum of ±1 contributions for each SimHash bit.

    Bit convention (mirrored in the DuckDB oracle): bit b is bit (3 - b%4)
    of hex digit b//4 of the token's md5 — equivalently bit (63-b) of the
    digest's first 16 hex chars read as a big-endian u64. We parse that
    u64 as two 32-bit halves (conv() of 8 hex chars fits a long exactly)
    so every contribution is a shift/mask — integer expressions inside
    whole-stage codegen, where the previous higher-order-function fold was
    interpreted per array element (~10× slower).

    explode + 64 sum-aggregates: map-side partial aggregation collapses
    each partition to one row per doc, so the single shuffle carries
    |docs| rows of 64 longs regardless of corpus token count. The
    repartition fans the hash work across cores (small parquet inputs
    arrive as one split; at cluster scale the source has enough splits).
    """
    # expression-string construction (r10): the Column form of the 64
    # sum-aggregates cost ~350 py4j round trips (~6 ms each on this box)
    # per consumer build; one named_struct aggregate + a field-expanding
    # select builds the identical aggregate tree in ~8 calls (the
    # optimizer collapses the struct wrap/unwrap — same HashAggregate).
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = (
        df.selectExpr(f"`{id_col}`", f"split(`{text_col}`, ' ') AS _toks")
        .repartition(par, id_col)
        .selectExpr(f"`{id_col}`", "explode(_toks) AS t")
    )
    halves = tok.selectExpr(
        f"`{id_col}`",
        "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) AS hi",
        "CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT) AS lo",
    )

    def contrib(b: int) -> str:
        src, shift = ("hi", 31 - b) if b < 32 else ("lo", 63 - b)
        return f"((shiftright({src}, {shift}) & 1) * 2) - 1"

    sums = ", ".join(f"'s{b}', sum({contrib(b)})" for b in range(64))
    agg = halves.groupBy(id_col).agg(F.expr(f"named_struct({sums}) AS _s"))
    return agg.selectExpr(
        f"`{id_col}`", *[f"_s.s{b} AS s{b}" for b in range(64)]
    )


def _sign_word_expr(bit_range: range, shifts: list[int]) -> str:
    """SQL string assembling a long from sign bits: bit shifts[i] set iff
    s{bit_range[i]} > 0. String form: the Column reduce cost ~200 py4j
    round trips per word (r10); the parsed tree is identical."""
    return " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << s} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for b, s in zip(bit_range, shifts)
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) where simhash is a 64-char '0'/'1' string: the sign of
    each bit's summed ±1 contribution over all the doc's tokens."""
    sums = _simhash_bit_sums(df, id_col, text_col)
    bits = ", ".join(
        f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(64)
    )
    return sums.selectExpr(f"`{id_col}`", f"concat({bits}) AS simhash")


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit quarters (hamming ≤ 3 ⇒
    some quarter identical, by pigeonhole), then exact hamming on the
    candidates. Returns (id_a, id_b, hamming).

    The signature travels as two longs (hi/lo 32-bit words), so blocking
    keys are shift/mask extractions and the hamming check is
    bit_count(xor) — all integer codegen, no string comparison. The
    signature table is persisted: both join sides reference it, and it is
    |docs| rows of 3 numbers — safe to cache at any scale.
    """
    sums = _simhash_bit_sums(df, id_col, text_col)
    sig = sums.selectExpr(
        f"`{id_col}`",
        f"{_sign_word_expr(range(32), [31 - b for b in range(32)])} AS hi",
        f"{_sign_word_expr(range(32, 64), [63 - b for b in range(32, 64)])}"
        " AS lo",
    ).persist()
    mask = (1 << 16) - 1
    quarters = sig.selectExpr(
        f"`{id_col}`",
        "hi",
        "lo",
        "explode(array("
        f"named_struct('q_idx', 0, 'q_val', shiftright(hi, 16) & CAST({mask} AS BIGINT)),"
        f"named_struct('q_idx', 1, 'q_val', hi & CAST({mask} AS BIGINT)),"
        f"named_struct('q_idx', 2, 'q_val', shiftright(lo, 16) & CAST({mask} AS BIGINT)),"
        f"named_struct('q_idx', 3, 'q_val', lo & CAST({mask} AS BIGINT))"
        ")) AS q",
    ).select(id_col, "hi", "lo", "q.q_idx", "q.q_val")
    a = quarters.selectExpr(
        f"`{id_col}` AS id_a", "hi AS hi_a", "lo AS lo_a", "q_idx", "q_val"
    )
    b = quarters.selectExpr(
        f"`{id_col}` AS id_b", "hi AS hi_b", "lo AS lo_b", "q_idx", "q_val"
    )
    cand = (
        a.join(b, on=["q_idx", "q_val"])
        .where("id_a < id_b")
        .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
    )
    return (
        cand.selectExpr(
            "id_a",
            "id_b",
            "CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS INT)"
            " AS hamming",
        )
        .where(f"hamming <= {int(max_hamming)}")
    )


# --------------------------------------------------------------------------
# duplicate-cluster labeling (connected components over candidate pairs)
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node of the candidate-pair graph with the minimum doc id
    reachable from it — i.e. assign every near-duplicate document to its
    duplicate CLUSTER (the step after pair generation: a training-data
    pipeline keeps one survivor per cluster, not per pair).

    Iterative min-label propagation on DataFrames:
    ``lbl_{t+1}(v) = min(lbl_t(v), min over neighbors u of lbl_t(u))``
    until a fixpoint. Labels are monotonically non-increasing, so the
    total of all labels strictly decreases until convergence — that sum
    (in DECIMAL(38,0): no overflow at any scale) is the convergence test,
    one cheap action per round.

    Scale notes: each round is one shuffle join (edges ⋈ labels, keyed by
    node) + one groupBy — both partition-local after the first round if
    AQE keeps the partitioning. Rounds needed = graph diameter; near-dup
    clusters are small and dense (diameter ≤ ~3), so this converges in a
    handful of rounds even at 100 TB. ``localCheckpoint`` cuts the lineage
    each round so the plan stays constant-size. For adversarial
    long-chain graphs, swap the propagation body for the large-star /
    small-star variant (Kiveris et al., "Connected Components in
    MapReduce") — same interface.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_total = None
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        total = labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("t")
        ).collect()[0]["t"]
        if total == prev_total:
            break
        prev_total = total
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
