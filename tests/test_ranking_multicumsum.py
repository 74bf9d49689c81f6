"""Pin the r10 multi-cumsum extension of with_exact_global_order: N
running sums computed in ONE bucket+window+offsets pass must be
row-identical to N sequential single-cumsum calls over the same total
order (the shape stats_ks_two_sample / ml_decision_tree_split used
before the rewrite), including against a plain unpartitioned-window
reference."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _fixture(spark):
    # unique key (total order without a tie-break), values with repeats,
    # negatives, and a zero so coarse-bucket edges get exercised
    rows = [(i, (i * 37) % 11 - 3, (i * 53) % 7) for i in range(500)]
    return spark.createDataFrame(rows, "key long, v1 long, v2 long")


def test_multi_cumsum_matches_chained_single_calls(spark):
    from kafka_streams_and_ktable_example_spark.operators.ranking import (
        approx_cut_points,
        with_exact_global_order,
    )

    df = _fixture(spark)
    cuts = approx_cut_points(df, "key", 8)

    fused = with_exact_global_order(
        df,
        [("key", True)],
        rank_name="rk",
        cumsum_of=["v1", "v2"],
        cumsum_name=["c1", "c2"],
        cuts=cuts,
    )
    chained = with_exact_global_order(
        with_exact_global_order(
            df,
            [("key", True)],
            rank_name="_r1",
            cumsum_of="v1",
            cumsum_name="c1",
            cuts=cuts,
        ),
        [("key", True)],
        rank_name="rk",
        cumsum_of="v2",
        cumsum_name="c2",
        cuts=cuts,
    ).drop("_r1")

    cols = ["key", "v1", "v2", "rk", "c1", "c2"]
    a = {r["key"]: r for r in fused.select(cols).collect()}
    b = {r["key"]: r for r in chained.select(cols).collect()}
    assert len(a) == len(b) == 500
    assert a == b

    # and both match the plain global-window reference
    w = Window.orderBy("key")
    wf = w.rowsBetween(Window.unboundedPreceding, 0)
    ref = {
        r["key"]: r
        for r in df.select(
            "key",
            "v1",
            "v2",
            F.row_number().over(w).cast("long").alias("rk"),
            F.sum("v1").over(wf).alias("c1"),
            F.sum("v2").over(wf).alias("c2"),
        ).collect()
    }
    assert a == ref


def test_multi_cumsum_name_length_mismatch_raises(spark):
    """Explicit TypeError, not assert: under `python -O` a stripped
    assert would zip a default str cumsum_name against its CHARACTERS
    and silently emit wrong column names."""
    from kafka_streams_and_ktable_example_spark.operators.ranking import (
        with_exact_global_order,
    )

    df = _fixture(spark)
    with pytest.raises(TypeError):
        with_exact_global_order(
            df,
            [("key", True)],
            cumsum_of=["v1", "v2"],
            cumsum_name=["c1"],
        )
    with pytest.raises(TypeError):
        with_exact_global_order(
            df,
            [("key", True)],
            cumsum_of=["v1", "v2"],  # default str cumsum_name
        )


_SPREAD = [(i * 37) % 101 - 50 for i in range(400)]
_TIES = [i % 3 for i in range(400)]


@pytest.mark.parametrize(
    "vals, lead_asc, cuts",
    [
        pytest.param(_SPREAD, True, None, id="asc"),
        pytest.param(_SPREAD, False, None, id="desc"),
        pytest.param(_TIES, True, None, id="heavy_ties_asc"),
        pytest.param(_TIES, False, None, id="heavy_ties_desc"),
        # approx cuts collapse to the one value, which no row is strictly
        # past: every row lands in bucket 0
        pytest.param([7] * 400, True, None, id="all_equal"),
        # no cuts at all: the constant-bucket path
        pytest.param(_SPREAD, True, [], id="no_cuts"),
    ],
)
def test_global_order_matches_window(spark, vals, lead_asc, cuts):
    """Rank and running sum from the bucketed two-phase form must equal
    a plain unpartitioned row_number() / running-sum window over the same
    total order: leading key either direction, ties broken by ``id``."""
    from kafka_streams_and_ktable_example_spark.operators.ranking import (
        with_exact_global_order,
    )

    df = spark.createDataFrame(
        [(i, v, (i * 53) % 7 - 2) for i, v in enumerate(vals)],
        "id long, v long, w long",
    )
    order = [("v", lead_asc), ("id", True)]
    got = {
        r["id"]: (r["rk"], r["cs"])
        for r in with_exact_global_order(
            df,
            order,
            rank_name="rk",
            cumsum_of="w",
            cumsum_name="cs",
            num_coarse=8,
            cuts=cuts,
        ).collect()
    }
    lead = F.col("v").asc() if lead_asc else F.col("v").desc()
    w = Window.orderBy(lead, F.col("id").asc())
    want = {
        r["id"]: (r["rk"], r["cs"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rk"),
            F.sum("w")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cs"),
        ).collect()
    }
    assert len(got) == len(vals)
    assert got == want
