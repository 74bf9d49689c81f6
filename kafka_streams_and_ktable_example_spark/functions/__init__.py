"""Reusable column builders — all JVM-side built-ins (no Python UDFs).

Everything here stays inside whole-stage codegen / Catalyst expressions so
the hot path never crosses into Python. Cross-engine portability matters:
these expressions are mirrored in DuckDB oracle SQL, so they stick to
md5/string/arithmetic primitives both engines evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (documents are single-space separated)."""
    return F.split(text if isinstance(text, Column) else F.col(text), " ")


def word_shingles(toks: Column, n: int) -> Column:
    """n-gram word shingles as an array of space-joined strings.

    transform(sequence(...)) keeps this a single codegen'd expression:
    [concat(w[i..i+n-1]) for i in 1..len-n+1]. Docs shorter than n yield an
    empty array (guarded: Spark's sequence(1, 0) would count DOWN).
    """
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def distinct_shingles(text: Column | str, n: int) -> Column:
    return F.array_distinct(word_shingles(tokens(text), n))


def seeded_md5(seed: int, value: Column) -> Column:
    """Deterministic per-seed hash family: md5('<seed>:' || value).

    Lexicographic min over these hex strings is a valid MinHash permutation
    (uniform over strings), and is exactly reproducible in any engine with
    a standard md5 — unlike integer-truncation schemes whose byte order
    differs across engines.
    """
    return F.md5(F.concat(F.lit(f"{seed}:"), value))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, sequential fold (matches
    DuckDB's list_dot_product summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def as_double_array(a: Column | str) -> Column:
    return F.col(a).cast("array<double>") if isinstance(a, str) else a.cast("array<double>")


def cosine(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    """Cosine similarity; pass precomputed norms to avoid recomputing them
    per candidate pair (they're per-row, compute once before the join)."""
    na = norm_a if norm_a is not None else l2_norm(a)
    nb = norm_b if norm_b is not None else l2_norm(b)
    return dot(a, b) / (na * nb)
