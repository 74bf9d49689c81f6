"""Semantics + plan-shape tests for the advanced surface pack
(plans/advanced_queries.py): higher-order array functions, running
distinct, calendar gap fill, heavy hitters, integer PageRank, QA rules.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kafka_streams_and_ktable_example_spark import plans


def run(spark, sf_dir, name):
    return plans.REGISTRY[name].spark(spark, sf_dir)


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------- scalar_higher_order_funcs ----------


def test_higher_order_funcs_match_python(spark, sf_dir):
    df = run(spark, sf_dir, "scalar_higher_order_funcs")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(5).collect()
    got = {r["vec_id"]: r for r in df.collect()}
    for row in emb:
        v = [float(x) for x in row["embedding"]]
        g = got[row["vec_id"]]
        assert g["n_pos"] == sum(1 for x in v if x > 0)
        assert g["sum_sq_r4"] == pytest.approx(sum(x * x for x in v), abs=1e-3)
        assert g["any_abs_gt2"] == any(abs(x) > 2.0 for x in v)
        assert g["all_abs_lt3"] == all(abs(x) < 3.0 for x in v)
        want_head = ",".join(str(math.floor(x * 2000.0 + 0.5)) for x in v[:3])
        assert g["head3_milli"] == want_head
        rev = sum(x * y for x, y in zip(v, reversed(v)))
        assert g["rev_dot_r4"] == pytest.approx(rev, abs=1e-3)


def test_higher_order_funcs_plan_is_pure_codegen(spark, sf_dir):
    """Array math must stay JVM-side: no Python eval, no shuffle."""
    p = physical_plan(run(spark, sf_dir, "scalar_higher_order_funcs"))
    assert "EvalPython" not in p  # no row-at-a-time or Arrow Python UDF
    assert "Exchange" not in p  # map-only pass


# ---------- window_running_distinct ----------


def test_running_distinct_final_equals_count_distinct(spark, sf_dir):
    df = run(spark, sf_dir, "window_running_distinct")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    truth = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("n"))
        .collect()
    }
    finals = (
        df.groupBy("user_id").agg(F.max("n_distinct_types_seen").alias("m")).collect()
    )
    for r in finals:
        assert r["m"] == truth[r["user_id"]]


def test_running_distinct_is_monotone_nondecreasing(spark, sf_dir):
    df = run(spark, sf_dir, "window_running_distinct")
    # running distinct can never exceed row position or decrease
    rows = df.orderBy("user_id", "event_id").collect()
    last: dict = {}
    for r in rows:
        prev = last.get(r["user_id"], 0)
        assert r["n_distinct_types_seen"] >= 1
        last[r["user_id"]] = max(prev, r["n_distinct_types_seen"])


# ---------- events_calendar_gap_fill ----------


def test_gap_fill_is_dense_spine(spark, sf_dir):
    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    df = run(spark, sf_dir, "events_calendar_gap_fill")
    ev = load_table(spark, sf_dir, "events")
    n_types = ev.select("event_type").distinct().count()
    lo, hi = ev.agg(
        F.min(F.to_date("ts")), F.max(F.to_date("ts"))
    ).first()
    n_days = (hi - lo).days + 1
    assert df.count() == n_days * n_types
    # totals preserved: gap fill adds only zeros
    assert (
        df.agg(F.sum("n_events")).first()[0] == ev.count()
    )
    assert df.where(F.col("n_events").isNull()).count() == 0


# ---------- text_heavy_hitters ----------


def test_heavy_hitters_partial_agg_before_shuffle(spark, sf_dir):
    p = physical_plan(run(spark, sf_dir, "text_heavy_hitters"))
    assert "partial_count" in p, "token counts must combine map-side"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_heavy_hitters_threshold_is_relative(spark, sf_dir):
    df = run(spark, sf_dir, "text_heavy_hitters")
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    rows = df.collect()
    assert rows, "fixture corpus has common terms"
    for r in rows:
        assert r["n_occurrences"] * 20 >= n_docs
        assert len(r["term"]) >= 3


# ---------- graph_pagerank_nations ----------


def test_pagerank_mass_and_determinism(spark, sf_dir):
    df = run(spark, sf_dir, "graph_pagerank_nations")
    rows = sorted((r["nationkey"], r["rank_e12"]) for r in df.collect())
    total = sum(r for _, r in rows)
    scale = 1_000_000_000_000
    # floor division + dangling nodes only ever LOSE mass, never create it
    # (at sf0.001 only 10 supplier nations exist, so 15 sources are dangling
    # and their non-teleport mass decays — the teleport term is the floor)
    assert total <= scale
    assert total > 0.15 * scale
    assert len(rows) == 25
    # exact integer algebra: a second build is bit-identical
    again = sorted(
        (r["nationkey"], r["rank_e12"])
        for r in run(spark, sf_dir, "graph_pagerank_nations").collect()
    )
    assert rows == again


def test_pagerank_no_cartesian(spark, sf_dir):
    p = physical_plan(run(spark, sf_dir, "graph_pagerank_nations"))
    assert "CartesianProduct" not in p


# ---------- qa_constraint_checks ----------


def test_constraint_checks_shape_and_single_scan(spark, sf_dir):
    df = run(spark, sf_dir, "qa_constraint_checks")
    rows = {r["rule"]: r for r in df.collect()}
    assert set(rows) == {
        "o_custkey_not_null",
        "o_totalprice_positive",
        "o_orderstatus_domain",
        "o_orderkey_unique",
        "o_orderdate_in_range",
    }
    for r in rows.values():
        assert r["passed"] == (r["n_violations"] == 0)
    # one scan: the plan reads the orders parquet exactly once
    p = physical_plan(run(spark, sf_dir, "qa_constraint_checks"))
    assert p.count("FileScan") == 1


# ---------- events_value_ewma ----------


def test_ewma_bounds_and_head(spark, sf_dir):
    df = run(spark, sf_dir, "events_value_ewma")
    rows = df.collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_window"] <= 10
        if r["n_window"] == 1:
            # single-element window: EWMA equals the value exactly
            assert r["ewma_cents"] == r["value_cents"]


# ---------- agg_histogram_equi_depth ----------


def test_equi_depth_buckets_are_balanced_and_ordered(spark, sf_dir):
    rows = sorted(
        (r["bucket"], r["n_rows"], r["lo"], r["hi"])
        for r in run(spark, sf_dir, "agg_histogram_equi_depth").collect()
    )
    assert len(rows) == 10
    sizes = [n for _, n, _, _ in rows]
    assert max(sizes) - min(sizes) <= 1, "equi-depth: sizes differ by at most 1"
    for (_, _, _, hi_prev), (_, _, lo_next, _) in zip(rows, rows[1:]):
        assert hi_prev <= lo_next, "bucket ranges must be non-overlapping"


# ---------- embedding_kmeans_lloyd2 ----------


def test_kmeans_lloyd2_converges_vs_one_iter(spark, sf_dir):
    one = {
        r["cid"]: r["mean_dist"]
        for r in run(spark, sf_dir, "embedding_kmeans_one_iter").collect()
    }
    two = {
        r["cid"]: (r["n_assigned"], r["mean_dist"])
        for r in run(spark, sf_dir, "embedding_kmeans_lloyd2").collect()
    }
    assert sum(n for n, _ in two.values()) == spark.read.parquet(
        f"{sf_dir}/embeddings.parquet"
    ).count()
    # Lloyd monotonicity: mean distance to (recomputed) centroids must not
    # grow on average vs the seed assignment
    avg_one = sum(one.values()) / len(one)
    avg_two = sum(d for _, d in two.values()) / len(two)
    assert avg_two <= avg_one + 1e-9


# ---------- ktable_snapshot_diff ----------


def test_snapshot_diff_identity_is_empty(spark, sf_dir):
    from kafka_streams_and_ktable_example_spark.operators.ktable import (
        latest_snapshot,
        snapshot_diff,
    )
    from kafka_streams_and_ktable_example_spark.sources.changelog import (
        orders_changelog,
    )

    cl = orders_changelog(spark, sf_dir)
    snap = latest_snapshot(cl)
    assert (
        snapshot_diff(snap, snap, "key", ["o_orderstatus", "o_totalprice"]).count()
        == 0
    ), "diffing a snapshot against itself must be empty"


def test_snapshot_diff_classifies_all_three_kinds(spark):
    from kafka_streams_and_ktable_example_spark.operators.ktable import snapshot_diff

    old = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], ["key", "val"]
    )
    new = spark.createDataFrame(
        [("b", 2), ("c", 99), ("d", 4)], ["key", "val"]
    )
    got = {
        r["key"]: r["change_type"]
        for r in snapshot_diff(old, new, "key", ["val"]).collect()
    }
    assert got == {"a": "delete", "c": "update", "d": "insert"}


# ---------- scalar_map_higher_order ----------


def test_map_higher_order_encodings_consistent(spark, sf_dir):
    df = run(spark, sf_dir, "scalar_map_higher_order")
    rows = df.collect()
    assert rows
    for r in rows:
        counts = dict(
            kv.split(":") for kv in r["counts_enc"].split(",") if kv
        )
        doubled = dict(
            kv.split(":") for kv in r["doubled_enc"].split(",") if kv
        )
        assert set(counts) == set(doubled)
        for k, v in counts.items():
            assert int(doubled[k]) == 2 * int(v)
        frequent = dict(
            kv.split(":") for kv in r["frequent_enc"].split(",") if kv
        )
        assert all(int(v) >= 3 for v in frequent.values())
        assert set(frequent) <= set(counts)


def test_hll_sketch_shard_merge_equals_direct(spark, sf_dir):
    """Mergeable-sketch contract for distributed COUNT DISTINCT: building
    one HLL sketch per shard and union-merging the shard sketches must give
    EXACTLY the estimate of a single direct sketch over the whole column —
    the property that lets a 1000-executor cluster (or daily incremental
    loads) maintain approximate distinct counts without ever re-scanning
    history. Also sanity-checks the estimate against the exact count."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    direct = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est")
    ).collect()[0]["est"]

    # shard by status (any partitioning works — that's the point)
    merged = (
        orders.groupBy("o_orderstatus")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    assert merged == direct, "shard-merged sketch must equal direct sketch"

    exact = orders.select("o_custkey").distinct().count()
    assert abs(direct - exact) / exact < 0.05, (direct, exact)


def test_property_weighted_median_crossing_rule(spark):
    """Property: weighted_median picks exactly the first value (in
    (value, tie) order) whose cumulative weight reaches half the total —
    checked against a direct Python model over adversarial inputs
    (duplicate values, zero weights, single-row groups)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kafka_streams_and_ktable_example_spark.operators.stats import weighted_median
    from pyspark.sql import functions as F

    row = st.tuples(
        st.integers(0, 1),          # group
        st.integers(-5, 5),         # value
        st.integers(0, 4),          # weight
    )

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(row, min_size=1, max_size=12))
    def run(rows):
        data = [(g, float(v), w, i) for i, (g, v, w) in enumerate(rows)]
        df = spark.createDataFrame(data, "g int, v double, w long, id long")
        got = {
            r.g: (r.weighted_median_v, r.total_weight)
            for r in weighted_median(
                df, group_col="g", value_col="v",
                weight=F.col("w"), tie_cols=["id"],
            ).collect()
        }
        expected = {}
        for g in {r[0] for r in rows}:
            grp = sorted(
                (float(v), i, w)
                for i, (gg, v, w) in enumerate(rows) if gg == g
            )
            tot = sum(w for _, _, w in grp)
            cum = 0
            for v, _, w in grp:
                cum += w
                if 2 * cum >= tot:
                    expected[g] = (v, tot)
                    break
        assert got == expected

    run()


def test_property_datasource_byte_ranges_read_each_line_once():
    """Property: the changelog_jsonl byte-range reader yields every record
    exactly once for ANY partition count and line-length mix — the
    no-coordination split contract (a line belongs to the partition
    containing its first byte). Pure-Python check, no Spark session."""
    import json
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_streams_and_ktable_example_spark.sources.pydatasource import (
        ChangelogJsonlReader,
    )

    rec = st.tuples(
        st.text(alphabet="abcdefgh:", min_size=1, max_size=30),  # key
        st.one_of(st.none(), st.integers(0, 9)),                 # value
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(rec, min_size=0, max_size=40), st.integers(1, 9))
    def run(recs, n_parts):
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            for i, (k, v) in enumerate(recs):
                f.write(json.dumps({"key": k, "value": v, "offset": i}) + "\n")
            path = f.name
        reader = ChangelogJsonlReader(
            {"path": path, "numPartitions": str(n_parts)}
        )
        parts = reader.partitions()
        # an empty changelog must still present >= 1 (empty) partition —
        # zero input partitions breaks the scan contract (ADVICE r1)
        assert len(parts) >= 1
        got = []
        for part in parts:  # read() yields Arrow RecordBatches
            for rb in reader.read(part):
                got.extend(rb.to_pylist())
        assert sorted(r["offset"] for r in got) == list(range(len(recs)))

    run()


def test_datasource_reads_directory_of_part_files():
    """The reader accepts a directory in df.write.text layout: part files
    unioned, writer metadata (_SUCCESS, dotfiles) skipped, every record
    read exactly once across byte-range splits."""
    import json
    import os
    import tempfile

    from kafka_streams_and_ktable_example_spark.sources.pydatasource import (
        ChangelogJsonlReader,
    )

    d = tempfile.mkdtemp(prefix="cl_dir_")
    offsets = iter(range(100))
    for fname, n in [("part-00000.txt", 3), ("part-00001.txt", 0), ("part-00002.txt", 5)]:
        with open(os.path.join(d, fname), "w") as f:
            for _ in range(n):
                i = next(offsets)
                f.write(json.dumps({"key": f"k{i}", "value": i, "offset": i}) + "\n")
    open(os.path.join(d, "_SUCCESS"), "w").close()
    with open(os.path.join(d, ".part-00000.crc"), "w") as f:
        f.write("not json")

    reader = ChangelogJsonlReader({"path": d, "numPartitions": "4"})
    got = []
    for part in reader.partitions():  # read() yields Arrow RecordBatches
        for rb in reader.read(part):
            got.extend(rb.to_pylist())
    assert sorted(r["offset"] for r in got) == list(range(8))


def test_partitioned_stream_reader_offsets_partitions_arrow():
    """The connector's stream reader: latestOffset advances by at most
    linesPerBatch lines, offsets are exact line boundaries, partitions()
    covers each (start, end) range exactly once across files (an empty
    part file and a _SUCCESS marker included), read() yields Arrow batches
    whose union replays every record exactly once, and the terminal offset
    is stable."""
    import json
    import os
    import tempfile

    from kafka_streams_and_ktable_example_spark.sources.pydatasource import (
        ChangelogJsonlPartitionedStreamReader,
    )

    d = tempfile.mkdtemp(prefix="cl_pstream_")
    offsets = iter(range(1000))
    for fname, n in [("part-0.txt", 7), ("part-1.txt", 0), ("part-2.txt", 12)]:
        with open(os.path.join(d, fname), "w") as f:
            for _ in range(n):
                i = next(offsets)
                f.write(json.dumps({"key": f"k{i}", "value": i, "offset": i}) + "\n")
    open(os.path.join(d, "_SUCCESS"), "w").close()  # writer marker: skipped

    r = ChangelogJsonlPartitionedStreamReader(
        {"path": d, "linesPerBatch": "5", "numPartitions": "3"}
    )
    got = []
    start = r.initialOffset()
    n_batches = 0
    while True:
        end = r.latestOffset()
        if end == start:
            break
        rows = []
        for part in r.partitions(start, end):
            for rb in r.read(part):
                rows.extend(rb.to_pylist())
        assert len(rows) <= 5  # linesPerBatch honored
        got.extend(rows)
        start = end
        n_batches += 1
    assert sorted(x["offset"] for x in got) == list(range(19))
    assert n_batches == 4  # ceil(19/5): bounded micro-batches
    assert r.latestOffset() == start  # the terminal offset is stable
    # replaying a committed range is deterministic (restart recovery)
    s0 = {"file": 0, "pos": 0}
    e0 = r._advance(s0, 5)
    replay = [
        x["offset"]
        for part in r.partitions(s0, e0)
        for rb in r.read(part)
        for x in rb.to_pylist()
    ]
    assert sorted(replay) == list(range(5))

    # restart recovery: a FRESH reader (checkpoint restart) sees the
    # pending batch replayed via partitions(start, end) before any
    # latestOffset call; the clamp must seed the cursor from that end so
    # the next planned batch continues FORWARD instead of regressing to
    # the log head and re-serving committed records
    r2 = ChangelogJsonlPartitionedStreamReader(
        {"path": d, "linesPerBatch": "5", "numPartitions": "3"}
    )
    replayed = [
        x["offset"]
        for part in r2.partitions(s0, e0)
        for rb in r2.read(part)
        for x in rb.to_pylist()
    ]
    assert sorted(replayed) == list(range(5))
    nxt = r2.latestOffset()
    assert (int(nxt["file"]), int(nxt["pos"])) > (
        int(e0["file"]),
        int(e0["pos"]),
    )
    after = [
        x["offset"]
        for part in r2.partitions(e0, nxt)
        for rb in r2.read(part)
        for x in rb.to_pylist()
    ]
    assert sorted(after) == list(range(5, 10))  # no re-served records

    # an empty (clamped) range still yields one empty partition — the
    # same scan contract as the batch reader — and read() yields nothing
    empty_parts = r2.partitions(e0, e0)
    assert len(empty_parts) == 1
    assert [rb for p in empty_parts for rb in r2.read(p)] == []


def test_partitioned_stream_reader_directory_growth():
    """Writer-concurrent log growth is handled loudly, not silently: a
    part file appended (sorting after the snapshot) is picked up by the
    next latestOffset, while mutating the already-snapshotted prefix
    (delete/rename) raises instead of serving wrong byte ranges."""
    import json
    import os
    import tempfile

    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.sources.pydatasource import (
        ChangelogJsonlPartitionedStreamReader,
    )

    def write(path, lo, hi):
        with open(path, "w") as f:
            for i in range(lo, hi):
                f.write(json.dumps({"key": f"k{i}", "value": i, "offset": i}) + "\n")

    d = tempfile.mkdtemp(prefix="cl_grow_")
    write(os.path.join(d, "part-0.txt"), 0, 4)
    r = ChangelogJsonlPartitionedStreamReader(
        {"path": d, "linesPerBatch": "100", "numPartitions": "2"}
    )
    start = r.initialOffset()
    end = r.latestOffset()
    got = [
        x["offset"]
        for p in r.partitions(start, end)
        for rb in r.read(p)
        for x in rb.to_pylist()
    ]
    assert sorted(got) == list(range(4))
    # append a file that sorts after the snapshot: next plan serves it
    write(os.path.join(d, "part-1.txt"), 4, 9)
    end2 = r.latestOffset()
    more = [
        x["offset"]
        for p in r.partitions(end, end2)
        for rb in r.read(p)
        for x in rb.to_pylist()
    ]
    assert sorted(more) == list(range(4, 9))
    # mutating the snapshotted prefix raises loudly
    os.rename(os.path.join(d, "part-0.txt"), os.path.join(d, "part-0-moved.txt"))
    with _pytest.raises(RuntimeError, match="changed under a live stream"):
        r.latestOffset()


# -- real PNG codec (operators/png_codec.py) -------------------------------


def test_png_roundtrip_all_encoder_filters():
    """encode → decode is identity for every encoder filter type and a mix
    of shapes, including 1-pixel-wide and 1-row images."""
    from kafka_streams_and_ktable_example_spark.operators import png_codec

    for w, h in [(1, 1), (1, 9), (9, 1), (12, 10), (16, 16)]:
        px = bytes((3 * x + 5 * y + 11) % 256 for y in range(h) for x in range(w))
        for ft in (0, 1, 2):
            out = png_codec.decode(png_codec.encode_gray8(px, w, h, ft))
            assert out == (w, h, 1, px), (w, h, ft)


def test_png_adam7_interlace_roundtrip():
    """ADAM7-interlaced encode → decode is identity and equals the plain
    encoding's decode, for gray/RGB/paletted, all encoder filter types,
    and geometries that force EMPTY passes (a 1x1 image has six of
    them); interlaced wire bytes genuinely differ from plain."""
    from kafka_streams_and_ktable_example_spark.operators import png_codec as pc

    sizes = [(1, 1), (1, 6), (5, 1), (2, 3), (7, 5), (9, 9), (16, 12), (33, 17)]
    for (w, h) in sizes:
        for ft in (0, 1, 2):
            px = bytes((3 * x + 5 * y + 11) % 256 for y in range(h) for x in range(w))
            inter = pc.encode_gray8(px, w, h, ft, interlace=True)
            assert pc.decode(inter) == (w, h, 1, px), (w, h, ft)
            rgb = bytes(
                (3 * x + 5 * y + 7 * c) % 256
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
            assert pc.decode(pc.encode_rgb8(rgb, w, h, ft, interlace=True)) == (
                w, h, 3, rgb,
            )
            pal = [((3 * i) % 256, (5 * i) % 256, (7 * i) % 256) for i in range(16)]
            idx = bytes((x + y) % 16 for y in range(h) for x in range(w))
            assert pc.decode(
                pc.encode_pal8(idx, w, h, pal, ft, interlace=True)
            ) == pc.decode(pc.encode_pal8(idx, w, h, pal, ft))
    px = bytes((x + y) % 256 for y in range(16) for x in range(16))
    plain, inter = pc.encode_gray8(px, 16, 16), pc.encode_gray8(
        px, 16, 16, interlace=True
    )
    assert plain != inter and pc.decode(plain) == pc.decode(inter)
    # IHDR interlace byte is carried, and unknown methods still raise
    import struct as _struct

    hacked = bytearray(inter)
    at = hacked.index(b"IHDR") + 4 + 12  # tag + IHDR(13th byte: interlace)
    assert hacked[at] == 1
    hacked[at] = 2
    body = bytes(hacked[hacked.index(b"IHDR") + 4 : hacked.index(b"IHDR") + 17])
    import zlib as _zlib

    crc = _zlib.crc32(b"IHDR" + body[:13]) & 0xFFFFFFFF
    hacked[hacked.index(b"IHDR") + 17 : hacked.index(b"IHDR") + 21] = _struct.pack(
        ">I", crc
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported PNG subset"):
        pc.decode(bytes(hacked))


def test_png_paletted_roundtrip_and_errors():
    """Color-type-3 encode→decode: indices expand through the PLTE to the
    exact RGB bytes a color-type-2 decode of the same image yields, for
    every encoder filter type; malformed palettes and a stripped PLTE
    raise ValueError."""
    import struct

    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import png_codec

    for d in (0, 1, 2, 5, 13):
        w, h = 8 + d % 5, 8 + d % 7
        palette = [
            ((7 * p + d) % 256, (11 * p + 2 * d) % 256, (13 * p + 3 * d) % 256)
            for p in range(16)
        ]
        idx = bytes((x + 2 * y + d) % 16 for y in range(h) for x in range(w))
        got = png_codec.decode(
            png_codec.encode_pal8(idx, w, h, palette, filter_type=d % 3)
        )
        expect = bytes(v for i in idx for v in palette[i])
        assert got == (w, h, 3, expect)
        assert got == png_codec.decode(png_codec.encode_rgb8(expect, w, h, d % 3))

    with _pytest.raises(ValueError, match="index out of range"):
        png_codec.encode_pal8(bytes([16]), 1, 1, [(0, 0, 0)] * 16)
    with _pytest.raises(ValueError, match="1..256 entries"):
        png_codec.encode_pal8(b"\0", 1, 1, [])
    # a paletted IHDR without its PLTE is malformed
    raw = png_codec.encode_pal8(bytes([0]), 1, 1, [(1, 2, 3)])
    sig, rest = raw[:8], raw[8:]
    stripped, pos = sig, 0
    while pos < len(rest):
        (ln,) = struct.unpack(">I", rest[pos : pos + 4])
        if rest[pos + 4 : pos + 8] != b"PLTE":
            stripped += rest[pos : pos + 12 + ln]
        pos += 12 + ln
    with _pytest.raises(ValueError, match="missing PLTE"):
        png_codec.decode(stripped)


def test_jpeg_block_constant_closed_form():
    """Baseline JPEG encode→decode of BLOCK-CONSTANT images equals the
    closed form clamp(128 + 2*round_half_up(8|v-128|/16)*sign(v-128))
    exactly — the invariant the multimodal_jpeg_decode_real oracle
    recomputes (huffman DC-differential across blocks, EOB coding,
    dequantize, IDCT all on the line)."""
    import math

    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec

    def expect(val, q=16):
        qd = math.floor(abs(8 * (val - 128)) / q + 0.5) * (1 if val >= 128 else -1)
        return max(0, min(255, math.floor(qd * q / 8.0 + 0.5) + 128))

    for d in range(12):
        w, h = 8 * (1 + d % 2), 8 * (1 + d % 3)
        pat = lambda x, y: (37 * (x // 8) + 53 * (y // 8) + 11 * d) % 256
        px = bytes(pat(x, y) for y in range(h) for x in range(w))
        got = jpeg_codec.decode_gray8_jpeg(
            jpeg_codec.encode_gray8_jpeg(px, w, h, q=16)
        )
        exp = bytes(expect(pat(x, y)) for y in range(h) for x in range(w))
        assert got == (w, h, exp), d
    # non-multiple-of-8 geometry: encoder edge-pads, decoder un-pads
    w, h = 13, 9
    px = bytes(((x // 8) * 31 + (y // 8) * 97 + 40) % 256 for y in range(h) for x in range(w))
    got = jpeg_codec.decode_gray8_jpeg(jpeg_codec.encode_gray8_jpeg(px, w, h))
    exp = bytes(
        expect(((x // 8) * 31 + (y // 8) * 97 + 40) % 256)
        for y in range(h)
        for x in range(w)
    )
    assert got == (w, h, exp)


def test_avi_mjpg_roundtrip_and_errors():
    """AVI/Motion-JPEG container: encode→decode recovers geometry, fps,
    frame count, and the exact closed-form pixels of block-constant
    frames (RIFF chunk walk + per-frame real JPEG decode); malformed
    containers and unsupported streams raise ValueError."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import avi_codec

    def rec(v, q=16):
        qd = (8 * abs(v - 128) + 8) // 16 * (1 if v >= 128 else -1)
        return max(0, min(255, 128 + 2 * qd))

    for d in (0, 2, 7):
        w, h, n = 16, 8, 2 + d % 3
        pat = lambda x, f: (37 * (x // 8) + 11 * d + 19 * f) % 256
        frames = [
            bytes(pat(x, f) for _y in range(h) for x in range(w))
            for f in range(n)
        ]
        W, H, fps, out = avi_codec.decode_avi_mjpg(
            avi_codec.encode_avi_mjpg(frames, w, h, fps=10)
        )
        assert (W, H, fps, len(out)) == (w, h, 10, n)
        for f in range(n):
            assert out[f] == bytes(
                rec(pat(x, f)) for _y in range(h) for x in range(w)
            ), (d, f)

    with _pytest.raises(ValueError, match="missing RIFF/AVI"):
        avi_codec.decode_avi_mjpg(b"RIFF\x04\x00\x00\x00WAVE")
    good = avi_codec.encode_avi_mjpg([bytes(128)], 16, 8)
    with _pytest.raises(ValueError, match="truncated"):
        avi_codec.decode_avi_mjpg(good[:60])
    # frame-count mismatch between avih and movi must be caught
    import struct as _struct

    hacked = bytearray(good)
    at = good.find(b"avih") + 8 + 16  # total_frames field
    hacked[at : at + 4] = _struct.pack("<I", 99)
    with _pytest.raises(ValueError, match="declares 99 frames"):
        avi_codec.decode_avi_mjpg(bytes(hacked))


def test_jpeg_general_roundtrip_and_errors():
    """AC-bearing images: the lossy round trip is bounded (fine quant →
    small error), ZRL/EOB paths execute, and malformed payloads raise."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec

    w, h = 24, 17
    px = bytes((3 * x * x + 5 * y + x * y) % 256 for y in range(h) for x in range(w))
    W, H, out = jpeg_codec.decode_gray8_jpeg(
        jpeg_codec.encode_gray8_jpeg(px, w, h, q=4)
    )
    assert (W, H) == (w, h)
    assert max(abs(a - b) for a, b in zip(px, out)) <= 8
    # a sparse-AC image exercises ZRL (runs of 16+ zero coefficients)
    px2 = bytes(255 if (x, y) == (7, 7) else 0 for y in range(8) for x in range(8))
    W2, H2, out2 = jpeg_codec.decode_gray8_jpeg(
        jpeg_codec.encode_gray8_jpeg(px2, 8, 8, q=2)
    )
    assert (W2, H2) == (8, 8) and len(out2) == 64

    with _pytest.raises(ValueError, match="missing SOI"):
        jpeg_codec.decode_gray8_jpeg(b"\x89PNG\r\n\x1a\n")
    good = jpeg_codec.encode_gray8_jpeg(bytes(64), 8, 8)
    with _pytest.raises(ValueError, match="truncated|marker|missing"):
        jpeg_codec.decode_gray8_jpeg(good[: len(good) // 2])


def test_jpeg_nonflat_quant_table_decode():
    """Externally produced baseline JPEGs carry NON-flat quant tables; the
    decoder dequantizes per coefficient (T.81 F.2.1.4) instead of
    rejecting them (the flat-table invariant belongs to the encoder's
    closed-form oracle only). Patch the DQT of an encoded payload in
    place: (a) for a constant image only the DC coefficient is nonzero,
    so scrambling the AC entries must not change a single pixel; (b) for
    an AC-bearing image, doubling AC entries must decode fine and move
    pixels (proving the per-entry table is actually consulted)."""
    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec

    def patch_dqt(payload: bytes, new_entries: bytes) -> bytes:
        at = payload.find(b"\xff\xdb")
        assert at >= 0
        body_at = at + 5  # marker(2) + seglen(2) + pq/tq(1)
        out = bytearray(payload)
        out[body_at : body_at + 64] = new_entries
        return bytes(out)

    const = bytes([77]) * (16 * 16)
    enc = jpeg_codec.encode_gray8_jpeg(const, 16, 16, q=16)
    base = jpeg_codec.decode_gray8_jpeg(enc)
    scrambled = bytes([16]) + bytes((i * 7) % 255 + 1 for i in range(1, 64))
    assert jpeg_codec.decode_gray8_jpeg(patch_dqt(enc, scrambled)) == base

    px = bytes((5 * x + 11 * y) % 256 for y in range(16) for x in range(16))
    enc2 = jpeg_codec.encode_gray8_jpeg(px, 16, 16, q=4)
    w, h, flat_px = jpeg_codec.decode_gray8_jpeg(enc2)
    doubled = bytes([4]) + bytes([8]) * 63
    w2, h2, nonflat_px = jpeg_codec.decode_gray8_jpeg(patch_dqt(enc2, doubled))
    assert (w2, h2) == (w, h) == (16, 16)
    assert nonflat_px != flat_px


def test_jpeg_16bit_quant_tables():
    """DQT with Pq=1 (16-bit big-endian entries — B.4.1, what
    high-quality encoders emit) parses and dequantizes identically to
    the equivalent 8-bit table, across baseline gray, progressive gray,
    and color payloads; an invalid precision nibble raises."""
    import struct as _struct

    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec as jc

    def rewrite_dqt(payload: bytes, pq: int) -> bytes:
        at = payload.find(b"\xff\xdb")
        (seglen,) = _struct.unpack(">H", payload[at + 2 : at + 4])
        pqtq = payload[at + 4]
        entries = payload[at + 5 : at + 5 + 64]
        if pq == 1:
            body = bytes([0x10 | (pqtq & 0x0F)]) + b"".join(
                _struct.pack(">H", e) for e in entries
            )
        else:
            body = bytes([(pq << 4) | (pqtq & 0x0F)]) + entries
        seg = b"\xff\xdb" + _struct.pack(">H", len(body) + 2) + body
        return payload[:at] + seg + payload[at + 2 + seglen :]

    px = bytes((x * 7 + y * 13) % 256 for y in range(17) for x in range(24))
    for enc in (jc.encode_gray8_jpeg, jc.encode_gray8_progressive):
        p = enc(px, 24, 17, q=16)
        assert jc.decode_gray8_jpeg(rewrite_dqt(p, 1)) == jc.decode_gray8_jpeg(p)
    rgb = bytes(
        (x * 3 + y * 5 + c) % 256 for y in range(20) for x in range(18) for c in range(3)
    )
    p = jc.encode_rgb_jpeg(rgb, 18, 20, q=8)
    assert jc.decode_rgb_jpeg(rewrite_dqt(p, 1)) == jc.decode_rgb_jpeg(p)
    with _pytest.raises(ValueError, match="invalid DQT precision"):
        jc.decode_gray8_jpeg(rewrite_dqt(jc.encode_gray8_jpeg(px, 24, 17), 3))


def test_jpeg_restart_intervals():
    """DRI/RSTm: payloads with restart markers decode to the SAME pixels
    as the marker-free encoding (markers change wire bytes only), for
    block-constant and AC-bearing grayscale and for 4:2:0 color, at
    several interval cadences; a corrupted modulo-8 marker sequence
    raises instead of silently misdecoding."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec as jc

    px = bytes((37 * (x // 8) + 53 * (y // 8) + 11) % 256
               for y in range(24) for x in range(16))
    plain = jc.decode_gray8_jpeg(jc.encode_gray8_jpeg(px, 16, 24, q=16))
    for dri in (1, 2, 3, 5):
        enc = jc.encode_gray8_jpeg(px, 16, 24, q=16, restart_interval=dri)
        assert b"\xff\xdd" in enc and b"\xff\xd0" in enc
        assert jc.decode_gray8_jpeg(enc) == plain

    px2 = bytes((3 * x * x + 5 * y + x * y) % 256
                for y in range(17) for x in range(24))
    p0 = jc.decode_gray8_jpeg(jc.encode_gray8_jpeg(px2, 24, 17, q=4))
    for dri in (1, 4, 7):
        assert jc.decode_gray8_jpeg(
            jc.encode_gray8_jpeg(px2, 24, 17, q=4, restart_interval=dri)
        ) == p0

    rgb = bytes(
        c for y in range(32) for x in range(48)
        for c in ((37 * (x // 16) + 11) % 256, (23 * (y // 16) + 7) % 256,
                  (29 * (x // 16) + 31 * (y // 16)) % 256)
    )
    c0 = jc.decode_rgb_jpeg(jc.encode_rgb_jpeg(rgb, 48, 32, q=16))
    for dri in (1, 2, 5):
        assert jc.decode_rgb_jpeg(
            jc.encode_rgb_jpeg(rgb, 48, 32, q=16, restart_interval=dri)
        ) == c0

    enc = jc.encode_gray8_jpeg(px, 16, 24, q=16, restart_interval=1)
    at = enc.find(b"\xff\xd0")
    bad = enc[: at + 1] + bytes([0xD5]) + enc[at + 2 :]
    with _pytest.raises(ValueError, match="expected RST0"):
        jc.decode_gray8_jpeg(bad)


def test_media_corruption_quarantine_contract():
    """Corruption never misparses: across 200 ids, valid PNGs decode to
    the exact pattern; a flipped IDAT byte always fails the CRC; JPEGs
    and GIFs truncated to 60% always raise ValueError (never IndexError
    or a silent wrong decode) — the invariant
    multimodal_corrupt_quarantine counts on."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import (
        gif_codec,
        png_codec,
    )
    from kafka_streams_and_ktable_example_spark.operators.jpeg_codec import (
        decode_gray8_jpeg,
        encode_gray8_jpeg,
    )

    for d in range(200):
        fmt = d % 4
        w, h = 8 + d % 5, 8 + d % 7
        px = bytes((x + y + d) % 256 for y in range(h) for x in range(w))
        if fmt == 0:
            p = png_codec.encode_gray8(px, w, h, filter_type=d % 3)
            assert png_codec.decode(p) == (w, h, 1, px)
        elif fmt == 1:
            p = png_codec.encode_gray8(px, w, h, filter_type=d % 3)
            buf = bytearray(p)
            buf[p.index(b"IDAT") + 6] ^= 0xFF
            with _pytest.raises(ValueError, match="CRC mismatch"):
                png_codec.decode(bytes(buf))
        elif fmt == 2:
            whole = encode_gray8_jpeg(px, w, h, q=16)
            with _pytest.raises(ValueError):
                decode_gray8_jpeg(whole[: max(20, len(whole) * 3 // 5)])
        else:
            pal = [(i, i, i) for i in range(256)]
            whole = gif_codec.encode_gif([px, px], w, h, pal)
            with _pytest.raises(ValueError):
                gif_codec.decode_gif(whole[: max(20, len(whole) * 3 // 5)])


def test_crossformat_pixel_equivalence():
    """The cross-format dedup contract: the same logical image encoded
    as RGB PNG, RGB TIFF (PackBits, either endian), and palette GIF
    decodes to BIT-IDENTICAL (w, h, channels, pixels) through
    decode_image_bytes — the invariant multimodal_crossformat_exact_dedup
    groups on."""
    from kafka_streams_and_ktable_example_spark.operators import (
        gif_codec,
        png_codec,
        tiff_codec,
    )
    from kafka_streams_and_ktable_example_spark.operators.multimodal import (
        decode_image_bytes,
    )

    w, h = 16, 8
    pal = [(i, i, i) for i in range(256)]
    for key in (0, 3, 6):
        gray = bytes((x + 3 * y + 7 * key) % 256 for y in range(h) for x in range(w))
        rgb = bytes(v for g in gray for v in (g, g, g))
        outs = [
            decode_image_bytes(png_codec.encode_rgb8(rgb, w, h, filter_type=1)),
            decode_image_bytes(
                tiff_codec.encode_tiff(
                    rgb, w, h, channels=3, rows_per_strip=2,
                    packbits=True, big_endian=True,
                )
            ),
            decode_image_bytes(gif_codec.encode_gif([gray], w, h, pal)),
        ]
        assert outs[0] == outs[1] == outs[2] == (w, h, 3, rgb)
    # different keys → different pixels (no false merges)
    a = bytes((x + 3 * y) % 256 for y in range(h) for x in range(w))
    b = bytes((x + 3 * y + 7) % 256 for y in range(h) for x in range(w))
    assert a != b


def test_tiff_packbits_and_container():
    """TIFF: PackBits RLE round-trips across run/literal/mixed inputs
    (incl. the 128-byte run cap and empty input); the container
    round-trips gray and RGB across both byte orders, multi-strip
    layouts, and compressed/uncompressed strips; decode_image_bytes
    dispatches on both byte-order marks; out-of-scope payloads raise."""
    import random

    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import tiff_codec as tc
    from kafka_streams_and_ktable_example_spark.operators.multimodal import (
        decode_image_bytes,
    )

    for seed in range(16):
        rnd = random.Random(seed)
        n = rnd.choice([0, 1, 5, 130, 1000])
        d = (
            bytes(rnd.randrange(256) for _ in range(n))
            if seed % 2
            else bytes([rnd.randrange(4)] * n)
        )
        assert tc.packbits_decode(tc.packbits_encode(d), len(d)) == d
    with _pytest.raises(ValueError, match="truncated PackBits"):
        tc.packbits_decode(b"\x05\x01", 6)

    for (w, h) in [(1, 1), (13, 9), (40, 33)]:
        for ch in (1, 3):
            for rps in (0, 1, 3):
                for pb in (False, True):
                    for be in (False, True):
                        px = bytes(
                            (x // 4 + y + c) % 256
                            for y in range(h)
                            for x in range(w)
                            for c in range(ch)
                        )
                        enc = tc.encode_tiff(
                            px, w, h, ch,
                            rows_per_strip=rps, packbits=pb, big_endian=be,
                        )
                        assert tc.decode_tiff(enc) == (w, h, ch, px)
    px = bytes((x // 4 + y) % 256 for y in range(9) for x in range(13))
    for be in (False, True):
        enc = tc.encode_tiff(px, 13, 9, packbits=True, big_endian=be)
        assert decode_image_bytes(enc) == (13, 9, 1, px)
    with _pytest.raises(ValueError, match="byte-order"):
        tc.decode_tiff(b"XX" + enc[2:])
    # unsupported compression raises (patch the IFD's compression value)
    hacked = bytearray(tc.encode_tiff(px, 13, 9, big_endian=False))
    import struct as _struct

    (ifd_at,) = _struct.unpack("<I", hacked[4:8])
    (n_entries,) = _struct.unpack("<H", hacked[ifd_at : ifd_at + 2])
    for e in range(n_entries):
        at = ifd_at + 2 + 12 * e
        (tag,) = _struct.unpack("<H", hacked[at : at + 2])
        if tag == 259:
            hacked[at + 8 : at + 10] = _struct.pack("<H", 5)  # LZW
    with _pytest.raises(ValueError, match="unsupported TIFF compression"):
        tc.decode_tiff(bytes(hacked))


def test_gif_lzw_roundtrip_and_dictionary_reset():
    """GIF-variant LZW: round trips across min-code-sizes and stream
    lengths that force variable-width growth to 12 bits AND the
    4096-entry dictionary reset (20k-symbol noise), plus the KwKwK
    just-defined-code case on repeating inputs; malformed streams
    raise."""
    import random

    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import gif_codec as gc

    for seed in range(12):
        rnd = random.Random(seed)
        for mcs in (2, 4, 8):
            n = rnd.choice([1, 5, 300, 5000, 20000])
            data = bytes(rnd.randrange(1 << mcs) for _ in range(n))
            assert gc.lzw_decode(gc.lzw_encode(data, mcs), mcs, len(data)) == data
    for pat in (b"\x01" * 5, b"\x01\x02" * 40, b"\x00" * 100):
        assert gc.lzw_decode(gc.lzw_encode(pat, 2), 2, len(pat)) == pat
    with _pytest.raises(ValueError, match="truncated"):
        gc.lzw_decode(gc.lzw_encode(b"\x01\x02\x03" * 50, 2)[:-4], 2, 150)
    with _pytest.raises(ValueError, match="shorter"):
        gc.lzw_decode(gc.lzw_encode(b"\x01\x02", 2), 2, 50)


def test_gif_container_roundtrip_and_errors():
    """Animated GIF89a container: encode → decode is identity for frames,
    geometry, palette prefix and delay, with and without the 4-pass row
    interlace on frame 0; decode_image_bytes serves the first frame
    under the shared RGB contract; out-of-scope payloads raise."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import gif_codec as gc
    from kafka_streams_and_ktable_example_spark.operators.multimodal import (
        decode_image_bytes,
    )

    pal16 = [((3 * i) % 256, (5 * i) % 256, (7 * i) % 256) for i in range(16)]
    for (w, h) in [(16, 8), (1, 1), (7, 13), (40, 33)]:
        for nf in (1, 3):
            for ilace in (False, True):
                frames = [
                    bytes((x + 2 * y + 3 * f) % 16 for y in range(h) for x in range(w))
                    for f in range(nf)
                ]
                payload = gc.encode_gif(
                    frames, w, h, pal16, delay_cs=7, interlace_first=ilace
                )
                W, H, out, pal, delay = gc.decode_gif(payload)
                assert (W, H, out, pal[:16], delay) == (w, h, frames, pal16, 7)
    frames = [bytes((x + y) % 16 for y in range(8) for x in range(16))]
    payload = gc.encode_gif(frames, 16, 8, pal16)
    w, h, ch, rgb = decode_image_bytes(payload)
    assert (w, h, ch) == (16, 8, 3)
    assert rgb == bytes(v for i in frames[0] for v in pal16[i])
    # 256-entry palette exercises the 8-bit min-code-size path
    pal256 = [(i, (2 * i) % 256, (3 * i) % 256) for i in range(256)]
    big = [bytes((x * y + x + y) % 256 for y in range(20) for x in range(20))]
    assert gc.decode_gif(gc.encode_gif(big, 20, 20, pal256))[2] == big
    with _pytest.raises(ValueError, match="bad signature"):
        gc.decode_gif(b"NOTAGIF" + payload)
    with _pytest.raises(ValueError, match="truncated|unknown"):
        gc.decode_gif(payload[: len(payload) - 10])


def test_jpeg_progressive_matches_baseline():
    """PROGRESSIVE (SOF2) decode: the six-scan spectral-selection +
    successive-approximation encoding reconstructs the EXACT same pixels
    as the baseline encoding of the same source (identical quantized
    coefficients, identical dequantize + IDCT), across patterns, sizes,
    quant levels, and pseudo-random fuzz — exercising DC point-transform
    refinement, AC EOB runs spanning blocks, ZRL inside refinement
    scans, and buffered correction bits. Zero fixture bytes checked in."""
    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec as jc

    patterns = [
        lambda x, y, d: (x * 7 + y * 13 + d) % 256,
        lambda x, y, d: 255 * ((x // 2 + y // 3 + d) % 2),
        lambda x, y, d: (x * x * 31 + y * y * 17 + d * 101 + x * y) % 256,
        lambda x, y, d: (37 * (x // 8) + 53 * (y // 8) + 11 * d) % 256,
        lambda x, y, d: (d * 29) % 256,
        lambda x, y, d: 255 if (x, y) == (3, 4) else 0,
    ]
    sizes = [(8, 8), (16, 8), (24, 16), (13, 9), (40, 33), (128, 8)]
    n = 0
    for f in patterns:
        for (w, h) in sizes:
            for d in (0, 1, 5):
                px = bytes(f(x, y, d) % 256 for y in range(h) for x in range(w))
                prog = jc.encode_gray8_progressive(px, w, h, q=16)
                assert jc.sof_marker(prog) == 0xC2
                assert jc.decode_gray8_jpeg(prog) == jc.decode_gray8_jpeg(
                    jc.encode_gray8_jpeg(px, w, h, q=16)
                )
                n += 1
    # deterministic fuzz: noise / sparse spikes / hard edges at 3 quants
    def lcg(seed):
        s = seed
        while True:
            s = (s * 1103515245 + 12345) & 0x7FFFFFFF
            yield (s >> 16) & 0xFF

    for seed in range(40):
        g = lcg(seed + 1)
        w, h = 8 + next(g) % 40, 8 + next(g) % 40
        if seed % 3 == 0:
            px = bytes(next(g) for _ in range(w * h))
        elif seed % 3 == 1:
            buf = bytearray(128 for _ in range(w * h))
            for _ in range(1 + seed % 5):
                buf[(next(g) * next(g)) % (w * h)] = 255
            px = bytes(buf)
        else:
            px = bytes(255 if x < w // 2 else 0 for y in range(h) for x in range(w))
        for q in (3, 16, 128):
            assert jc.decode_gray8_jpeg(
                jc.encode_gray8_progressive(px, w, h, q=q)
            ) == jc.decode_gray8_jpeg(jc.encode_gray8_jpeg(px, w, h, q=q))
            n += 1
    assert n >= 200


def test_jpeg_progressive_boundaries():
    """Progressive scope is asserted, not assumed: color progressive and
    restart intervals inside progressive streams raise ValueError; the
    optimal-table builder handles the single-symbol degenerate case; the
    decoder consumes between-scan DHT redefinitions (each scan carries
    its own table snapshot)."""
    import struct as _struct

    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec as jc

    px = bytes((x + y) % 256 for y in range(16) for x in range(16))
    prog = jc.encode_gray8_progressive(px, 16, 16, q=16)
    # six scans → six SOS markers, one DHT per huffman-coded scan (the
    # DC-refinement scan is raw bits, so 5 DHTs after the SOF)
    assert prog.count(b"\xff\xda") == 6
    assert prog[: 2] == b"\xff\xd8" and prog[-2:] == b"\xff\xd9"

    # multi-component progressive: splice in a LEGAL 3-component SOF2 →
    # the decoder refuses (color progressive is the declared boundary);
    # a declared ncomp that overruns the segment body fails the parse
    at = prog.find(b"\xff\xc2")
    (seglen,) = _struct.unpack(">H", prog[at + 2 : at + 4])
    sof3 = jc._seg(
        0xC2,
        _struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    with _pytest.raises(ValueError, match="multi-component|scan component"):
        jc.decode_gray8_progressive(prog[:at] + sof3 + prog[at + 2 + seglen :])
    hacked = bytearray(prog)
    hacked[at + 9] = 3  # ncomp overruns the 1-component body
    with _pytest.raises(ValueError, match="truncated SOF"):
        jc.decode_gray8_progressive(bytes(hacked))

    # DRI inside a progressive stream is a declared boundary
    dri = b"\xff\xdd" + _struct.pack(">H", 4) + _struct.pack(">H", 2)
    with_dri = prog[:at] + dri + prog[at:]
    with _pytest.raises(ValueError, match="restart markers"):
        jc.decode_gray8_progressive(with_dri)

    # degenerate optimal table: one distinct symbol still yields a legal
    # (single 1-bit code) huffman table — a 8x8 flat image's DC scan
    flat = jc.encode_gray8_progressive(bytes([200]) * 64, 8, 8, q=16)
    assert jc.decode_gray8_jpeg(flat) == jc.decode_gray8_jpeg(
        jc.encode_gray8_jpeg(bytes([200]) * 64, 8, 8, q=16)
    )

    # truncated scan data fails loudly
    with _pytest.raises(ValueError, match="truncated|marker"):
        jc.decode_gray8_progressive(prog[: len(prog) - 40])


def test_jpeg_progressive_color_matches_baseline():
    """PROGRESSIVE COLOR (SOF2 YCbCr 4:2:0, libjpeg's ten-scan plan with
    interleaved DC scans and separate luma/chroma optimal tables)
    decodes to the EXACT same RGB as the baseline encoding of the same
    source — including non-MCU-aligned geometries where the Y
    component's non-interleaved AC block grid (ceil(w/8)) is narrower
    than its MCU coverage, the classic progressive-decoder trap."""
    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec as jc

    patterns = [
        lambda x, y, c, d: (x * 7 + y * 13 + 31 * c + d) % 256,
        lambda x, y, c, d: 255 * ((x // 2 + y // 3 + c + d) % 2),
        lambda x, y, c, d: (x * x * 31 + y * y * 17 + c * 91 + d * 101 + x * y) % 256,
        lambda x, y, c, d: (37 * (x // 16) + 53 * (y // 16) + 11 * d + 19 * c) % 256,
    ]
    # (18, 20), (40, 33), (24, 24): comp grid != MCU coverage for Y
    sizes = [(16, 16), (32, 16), (18, 20), (40, 33), (8, 8), (24, 24)]
    for f in patterns:
        for (w, h) in sizes:
            for d in (0, 3):
                rgb = bytes(
                    f(x, y, c, d) % 256
                    for y in range(h)
                    for x in range(w)
                    for c in range(3)
                )
                prog = jc.encode_rgb_progressive(rgb, w, h, q=16)
                assert jc.sof_marker(prog) == 0xC2
                assert jc.decode_rgb_jpeg(prog) == jc.decode_rgb_jpeg(
                    jc.encode_rgb_jpeg(rgb, w, h, q=16)
                )


def test_jpeg_color_420_roundtrip():
    """Color YCbCr 4:2:0 path: MCU-constant tiles round-trip to the exact
    integer closed form (the multimodal_jpeg_color_real oracle chain),
    general color images round-trip within a lossy bound at fine quant,
    and component-count mismatches raise on both decoders."""
    import random

    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import jpeg_codec as jc

    def rec(v, q=16):
        if v >= 128:
            return min(255, max(0, 128 + (q // 8) * ((8 * (v - 128) + q // 2) // q)))
        return min(255, max(0, 128 - (q // 8) * ((8 * (128 - v) + q // 2) // q)))

    w, h = 32, 48
    rgb = bytearray()
    tiles = {}
    for yy in range(h):
        for xx in range(w):
            tx, ty = xx // 16, yy // 16
            c = ((37 * tx + 53 * ty + 11) % 256,
                 (23 * tx + 41 * ty + 7) % 256,
                 (29 * tx + 31 * ty + 13) % 256)
            rgb += bytes(c)
            tiles[(tx, ty)] = c
    W, H, out = jc.decode_rgb_jpeg(jc.encode_rgb_jpeg(bytes(rgb), w, h, q=16))
    assert (W, H) == (w, h)
    for (tx, ty), (r, g, b) in tiles.items():
        y, cb, cr = jc._rgb_to_ycbcr_int(r, g, b)
        exp = jc._ycbcr_to_rgb_int(rec(y), rec(cb), rec(cr))
        at = (ty * 16 * w + tx * 16) * 3
        assert tuple(out[at : at + 3]) == exp

    # general (AC-bearing, non-MCU-aligned) image: bounded lossy error;
    # chroma subsampling makes the bound looser than grayscale's
    random.seed(11)
    w2, h2 = 24, 20
    smooth = bytes(
        min(255, 40 + 3 * x + 4 * y + ch * 5)
        for y in range(h2) for x in range(w2) for ch in range(3)
    )
    W2, H2, out2 = jc.decode_rgb_jpeg(jc.encode_rgb_jpeg(smooth, w2, h2, q=2))
    assert (W2, H2) == (w2, h2)
    assert max(abs(a - b) for a, b in zip(smooth, out2)) <= 24

    gray = jc.encode_gray8_jpeg(bytes(64), 8, 8)
    with _pytest.raises(ValueError, match="3-component"):
        jc.decode_rgb_jpeg(gray)
    color = jc.encode_rgb_jpeg(bytes(16 * 16 * 3), 16, 16)
    with _pytest.raises(ValueError, match="single-component"):
        jc.decode_gray8_jpeg(color)


def test_png_decode_average_and_paeth_filters():
    """Average (3) and Paeth (4) unfilter paths, exercised by hand-building
    the filtered stream (the encoder only emits 0/1/2)."""
    import struct
    import zlib

    from kafka_streams_and_ktable_example_spark.operators import png_codec

    w, h = 7, 5
    px = bytes((x * x + y * 3) % 256 for y in range(h) for x in range(w))

    def filtered(ftype):
        raw = bytearray()
        prev = bytes(w)
        for y in range(h):
            row = px[y * w : (y + 1) * w]
            raw.append(ftype)
            for x in range(w):
                left = row[x - 1] if x else 0
                up = prev[x]
                upleft = prev[x - 1] if x else 0
                if ftype == 3:
                    pred = (left + up) // 2
                else:
                    pred = png_codec._paeth(left, up, upleft)
                raw.append((row[x] - pred) & 0xFF)
            prev = row
        return bytes(raw)

    for ftype in (3, 4):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + png_codec._chunk(b"IHDR", ihdr)
            + png_codec._chunk(b"IDAT", zlib.compress(filtered(ftype)))
            + png_codec._chunk(b"IEND", b"")
        )
        assert png_codec.decode(png) == (w, h, 1, px), ftype


def test_png_decode_rgb():
    import struct
    import zlib

    from kafka_streams_and_ktable_example_spark.operators import png_codec

    w, h = 4, 3
    px = bytes(range(w * h * 3))
    raw = b"".join(b"\x00" + px[y * w * 3 : (y + 1) * w * 3] for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + png_codec._chunk(b"IHDR", ihdr)
        + png_codec._chunk(b"IDAT", zlib.compress(raw))
        + png_codec._chunk(b"IEND", b"")
    )
    assert png_codec.decode(png) == (w, h, 3, px)


def test_png_decode_rejects_corruption():
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import png_codec

    px = bytes(range(16))
    good = png_codec.encode_gray8(px, 4, 4)
    with _pytest.raises(ValueError, match="CRC"):
        # flip one byte inside the IDAT payload
        bad = bytearray(good)
        bad[len(bad) - 20] ^= 0xFF
        png_codec.decode(bytes(bad))
    with _pytest.raises(ValueError, match="signature"):
        png_codec.decode(b"JFIF" + good)


def test_png_nearest_resize_matches_floor_mapping():
    from kafka_streams_and_ktable_example_spark.operators import png_codec

    w, h = 10, 6
    px = bytes((x + 2 * y) % 256 for y in range(h) for x in range(w))
    out = png_codec.nearest_resize(px, w, h, 4, 4)
    expect = bytes(
        px[(i * h // 4) * w + (j * w // 4)] for i in range(4) for j in range(4)
    )
    assert out == expect


def test_png_rgb8_roundtrip_all_encoder_filters():
    """encode_rgb8 → decode is identity for every encoder filter type —
    including Sub, whose RGB delta must reference the same channel of the
    pixel to the left (bpp=3), not the adjacent byte."""
    from kafka_streams_and_ktable_example_spark.operators import png_codec

    for w, h in [(1, 1), (1, 5), (5, 1), (7, 4)]:
        px = bytes(
            (3 * x + 5 * y + 7 * c + 11) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        for ft in (0, 1, 2):
            png = png_codec.encode_rgb8(px, w, h, filter_type=ft)
            assert png_codec.decode(png) == (w, h, 3, px), (w, h, ft)


def test_png_nearest_resize_rgb_channels_interleaved():
    """Channel-aware resize copies whole bpp-sized pixels: each output
    pixel carries all three source channels of its floor-mapped source."""
    from kafka_streams_and_ktable_example_spark.operators import png_codec

    w, h = 6, 4
    px = bytes(
        (x * 16 + y * 4 + c) % 256 for y in range(h) for x in range(w) for c in range(3)
    )
    out = png_codec.nearest_resize(px, w, h, 3, 2, channels=3)
    expect = bytearray()
    for i in range(2):
        sy = i * h // 2
        for j in range(3):
            sx = j * w // 3
            base = (sy * w + sx) * 3
            expect += px[base : base + 3]
    assert out == bytes(expect)


def test_real_resize_rgb_png_end_to_end():
    """resize_media(fake=False) on an RGB PNG: decode → channel-aware
    resample → re-encode as a genuine color-type-2 PNG (the former
    gray8-only NotImplementedError path)."""
    from kafka_streams_and_ktable_example_spark.operators import png_codec
    from kafka_streams_and_ktable_example_spark.operators.multimodal import (
        decode_image_bytes,
    )

    w, h = 9, 5
    px = bytes(
        (2 * x + 3 * y + 5 * c) % 256 for y in range(h) for x in range(w) for c in range(3)
    )
    png = png_codec.encode_rgb8(px, w, h, filter_type=1)
    # mirror _real_resize's body (it is a closure inside resize_media)
    dw, dh, dc, dpx = decode_image_bytes(png)
    assert (dw, dh, dc, dpx) == (w, h, 3, px)
    out = png_codec.nearest_resize(dpx, dw, dh, 4, 4, channels=dc)
    re = png_codec.encode_rgb8(out, 4, 4)
    assert decode_image_bytes(re) == (4, 4, 3, out)


def test_g711_alaw_codec_contract():
    """G.711 A-law (PCMA): the closed form the DuckDB oracle uses agrees
    with the codec EXHAUSTIVELY over all 65536 int16 samples, the
    quantization error is segment-bounded, and the ALW1 container raises
    on corruption."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators.g711_codec import (
        alaw_decode,
        alaw_decode_sample,
        alaw_encode,
        alaw_encode_sample,
    )

    def closed(s: int) -> int:
        sgn = 1 if s >= 0 else -1
        v = min((s // 8) if s >= 0 else ((-s - 1) // 8), 4095)
        ex = next((k for k in range(7, 0, -1) if v >= (1 << (k + 4))), 0)
        if ex == 0:
            return sgn * (16 * (v // 2) + 8)
        return sgn * ((16 * ((v >> ex) % 16) + 264) * (1 << (ex - 1)))

    for s in range(-32768, 32768):
        r = alaw_decode_sample(alaw_encode_sample(s))
        assert r == closed(s), s
    # error bound: half a quantization step of the top segment
    assert max(
        abs(alaw_decode_sample(alaw_encode_sample(s)) - s)
        for s in range(-32768, 32768, 41)
    ) <= 1024
    samples = [0, 1, -1, 1000, -1000, 32767, -32768]
    payload = alaw_encode(samples)
    assert payload[:4] == b"ALW1"
    assert alaw_decode(payload) == [
        alaw_decode_sample(alaw_encode_sample(s)) for s in samples
    ]
    with _pytest.raises(ValueError, match="magic"):
        alaw_decode(b"ULW1" + payload[4:])
    with _pytest.raises(ValueError, match="holds"):
        alaw_decode(payload[:-2])
    with _pytest.raises(ValueError, match="int16"):
        alaw_encode_sample(40000)


def test_g711_mulaw_codec_contract():
    """G.711 μ-law: spec anchor values, bounded quantization error over
    the full int16 range (sampled), container framing raises on
    corruption, and the stateless closed-form the oracle uses agrees with
    the codec on boundary samples (segment edges ±1)."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators.g711_codec import (
        decode,
        decode_sample,
        encode,
        encode_sample,
    )

    assert encode_sample(0) == 0xFF and decode_sample(0xFF) == 0
    edges = [0, 1, 123, 124, 379, 380, 8191, 8192, 16383, 16384, 32635, 32767]
    for s in edges + [-x for x in edges] + [-32768]:
        r = decode_sample(encode_sample(s))
        clipped = max(-32635, min(32635, s))
        assert abs(r - clipped) <= 1024, (s, r)
        # closed-form replica (the DuckDB oracle's arithmetic)
        sgn = -1 if s < 0 else 1
        v = min(abs(s), 32635) + 132
        ex = next(k for k in range(7, -1, -1) if v >= (1 << (k + 7)) or k == 0)
        assert r == sgn * (
            (((v // (1 << (ex + 3))) % 16) * 8 + 132) * (1 << ex) - 132
        )
    samples = [0, 1, -1, 1000, -1000, 32767, -32768]
    payload = encode(samples)
    assert decode(payload) == [decode_sample(encode_sample(s)) for s in samples]
    with _pytest.raises(ValueError, match="magic"):
        decode(b"XXXX" + payload[4:])
    with _pytest.raises(ValueError, match="need"):
        decode(payload[:-1])


def test_wav_stereo_roundtrip_and_contract():
    """Stereo PCM16 WAV: encode → decode round trip preserves the
    frame-interleaved stream; the parser enforces the stereo fmt
    arithmetic (block_align=4) and frame alignment."""
    import struct

    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators.wav_codec import (
        decode_wav,
        encode_wav,
    )

    samples = [((7 * k + 3) % 65536) - 32768 for k in range(16)]
    wav = encode_wav(samples, sample_rate=44100, channels=2)
    rate, ch, out = decode_wav(wav)
    assert (rate, ch, out) == (44100, 2, samples)
    # odd sample count cannot form stereo frames
    with _pytest.raises(ValueError, match="multiple of channel"):
        encode_wav(samples[:15], channels=2)
    # corrupt block_align: parser must reject, not mis-parse
    bad = bytearray(wav)
    fmt_off = wav.index(b"fmt ") + 8
    bad[fmt_off + 12 : fmt_off + 14] = struct.pack("<H", 2)  # block_align=2
    with _pytest.raises(ValueError, match="block_align"):
        decode_wav(bytes(bad))


def test_wav_codec_roundtrip_and_corruption():
    from kafka_streams_and_ktable_example_spark.operators.wav_codec import decode_wav, encode_wav

    samples = [0, 1, -1, 32767, -32768, 1234, -4321, 99]
    payload = encode_wav(samples, sample_rate=16000)
    rate, ch, out = decode_wav(payload)
    assert (rate, ch, out) == (16000, 1, samples)

    import pytest

    with pytest.raises(ValueError):
        decode_wav(b"JUNK" + payload[4:])  # bad magic
    with pytest.raises(ValueError):
        decode_wav(payload[:-2])  # truncated data chunk
    with pytest.raises(ValueError):
        decode_wav(payload[:12])  # no chunks at all
    # declared-size lie: shrink the RIFF size field
    bad = bytearray(payload)
    bad[4] ^= 0xFF
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_pydatasource_pushfilters_contract():
    """pushFilters: supported offset/key filters are CONSUMED (applied in
    read via _passes), unsupported ones are yielded back for Spark —
    both halves of the Spark 4.1 contract."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        IsNotNull,
        StringStartsWith,
    )

    from kafka_streams_and_ktable_example_spark.sources.pydatasource import (
        ChangelogJsonlReader,
    )

    reader = ChangelogJsonlReader({"path": "/nonexistent"})
    filters = [
        GreaterThan(("offset",), 1000),
        StringStartsWith(("key",), "1"),
        IsNotNull(("key",)),          # unsupported type
        EqualTo(("value_json",), "x"),  # unsupported column
    ]
    leftover = list(reader.pushFilters(filters))
    assert [type(f).__name__ for f in leftover] == [
        "IsNotNull",
        "EqualTo",
    ], "unsupported filters must be yielded back by reference"
    assert len(reader.pushed) == 2

    assert reader._passes("123", 2000) is True
    assert reader._passes("123", 999) is False, "offset filter must drop"
    assert reader._passes("999", 2000) is False, "key prefix must drop"


def test_exact_prior_max_matches_global_window(spark, sf_dir):
    """with_exact_prior_max (two-phase, partitioned windows only) must be
    bit-identical to the naive unpartitioned running-max window, including
    the NULL on the first row of the total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.operators.ranking import (
        with_exact_prior_max,
    )
    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("date").alias("d")
    )
    got = {
        r["event_id"]: r["pm"]
        for r in with_exact_prior_max(
            ev, [("event_id", True)], "d", name="pm", num_coarse=7
        ).collect()
    }
    naive_w = (
        Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r["event_id"]: r["pm"]
        for r in ev.withColumn("pm", F.max("d").over(naive_w)).collect()
    }
    assert got == want
    # two-phase plan must carry no unpartitioned window
    from tests.test_plans import _unpartitioned_windows

    assert (
        _unpartitioned_windows(
            with_exact_prior_max(ev, [("event_id", True)], "d", num_coarse=7)
        )
        == []
    )


def test_rp_lsh_band_bits_tracks_corpus_size():
    """Statistics-driven band width: floor of 8 bits at gate scales
    (driver results pinned), then log-growth so expected bucket size
    stays ~target as the corpus scales."""
    from kafka_streams_and_ktable_example_spark.operators.similarity import (
        rp_lsh_band_bits,
    )

    assert rp_lsh_band_bits(500) == 8
    assert rp_lsh_band_bits(2000) == 8
    assert rp_lsh_band_bits(16384) == 8   # 16384/64 = 256 -> exactly 8
    assert rp_lsh_band_bits(20000) == 9   # first step past the floor
    assert rp_lsh_band_bits(200000) == 12
    assert rp_lsh_band_bits(0) == 8       # degenerate corpus -> floor
    # expected bucket size stays bounded: n / 2^bits <= 2 * target
    for n in (10**4, 10**6, 10**8, 10**10):
        assert n / 2 ** rp_lsh_band_bits(n) <= 128


def test_rp_lsh_adaptive_matches_fixed_at_floor(spark):
    """n_planes=None at a floor-sized corpus must produce exactly the
    fixed 32-plane candidate set (driver gate results are pinned to the
    8-bit floor)."""
    from kafka_streams_and_ktable_example_spark.operators.similarity import (
        rp_lsh_candidate_pairs,
    )
    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    fixed = {
        (r["id_a"], r["id_b"])
        for r in rp_lsh_candidate_pairs(emb, n_planes=32).collect()
    }
    adaptive = {
        (r["id_a"], r["id_b"])
        for r in rp_lsh_candidate_pairs(emb, n_planes=None).collect()
    }
    assert adaptive == fixed and len(adaptive) > 0


def test_burned_in_fixed_point_constants_match_formulas():
    """The integer e6 constants burned into the SPRT and nDCG queries
    must equal their defining formulas — drift here would silently
    change the statistic both engines agree on."""
    import math

    assert round(math.log(0.22 / 0.18) * 1e6) == 200671
    assert round(math.log(0.78 / 0.82) * 1e6) == -50010
    assert round(math.log(19) * 1e6) == 2944439  # ln((1-b)/a), a=b=0.05
    from kafka_streams_and_ktable_example_spark.plans.round3_queries import (
        _DCG_CUM,
        _DCG_W,
    )

    for i, w in enumerate(_DCG_W, start=1):
        assert w == round(1000000 / math.log2(i + 1))
    assert _DCG_CUM == [sum(_DCG_W[: i + 1]) for i in range(10)]


# -- real IMA-ADPCM codec (operators/adpcm_codec.py) ------------------------


def test_adpcm_roundtrip_tracks_waveform():
    """encode → decode reconstructs within the quantizer's step bound and
    converges on slow ramps; odd sample counts pack a padding nibble."""
    from kafka_streams_and_ktable_example_spark.operators import adpcm_codec

    # slow ramp: adaptive step shrinks, error should be tiny at the tail
    ramp = [i * 8 for i in range(101)]  # odd length
    recon = adpcm_codec.decode(adpcm_codec.encode(ramp))
    assert len(recon) == 101
    assert all(abs(a - b) <= 64 for a, b in zip(ramp[10:], recon[10:]))

    # full-range alternation: must clamp, never overflow int16
    wild = [32767, -32768] * 20
    recon2 = adpcm_codec.decode(adpcm_codec.encode(wild))
    assert all(-32768 <= r <= 32767 for r in recon2)

    # deterministic: same input, same bytes
    assert adpcm_codec.encode(ramp) == adpcm_codec.encode(ramp)


def test_adpcm_rejects_malformed_payloads():
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import adpcm_codec

    good = adpcm_codec.encode([0, 100, -100, 5000])
    with _pytest.raises(ValueError, match="magic"):
        adpcm_codec.decode(b"JUNK" + good[4:])
    with _pytest.raises(ValueError, match="truncated"):
        adpcm_codec.decode(good[:6])
    with _pytest.raises(ValueError, match="payload holds"):
        adpcm_codec.decode(good + b"\x00")
    with _pytest.raises(ValueError, match="out of int16"):
        adpcm_codec.encode([40000])


def test_adpcm_container_framing():
    """Header fields parse back exactly; 4:1 compression ratio holds."""
    import struct

    from kafka_streams_and_ktable_example_spark.operators import adpcm_codec

    samples = [(i * 37) % 1000 - 500 for i in range(64)]
    payload = adpcm_codec.encode(samples)
    assert payload[:4] == b"ADP1"
    n, pred, idx = struct.unpack("<Hhb", payload[4:9])
    assert (n, pred, idx) == (64, 0, 0)
    assert len(payload) == 9 + 32  # 64 samples -> 32 packed bytes


def test_resize_media_real_png_roundtrip(spark):
    """resize_media(fake=False): PNG in, genuinely re-encoded PNG out at the
    target geometry, decodable back to the nearest-resampled pixels."""
    from kafka_streams_and_ktable_example_spark.operators import png_codec
    from kafka_streams_and_ktable_example_spark.operators.multimodal import (
        attach_synth_png,
        resize_media,
    )
    from pyspark.sql import functions as F

    docs = spark.range(4).select(F.col("id").alias("doc_id"))
    media = attach_synth_png(docs).select(
        "doc_id",
        "media_bytes",
        F.struct(
            F.lit("image").alias("media_type"),
            (8 + F.col("doc_id") % 5).cast("int").alias("width"),
            (8 + F.col("doc_id") % 7).cast("int").alias("height"),
            F.lit(1).alias("n_frames"),
        ).alias("media_meta"),
    )
    out = {
        r["doc_id"]: r
        for r in resize_media(media, target_w=6, target_h=6, fake=False).collect()
    }
    for d in range(4):
        w, h = 8 + d % 5, 8 + d % 7
        px = bytes((x + y + d) % 256 for y in range(h) for x in range(w))
        expect = png_codec.nearest_resize(px, w, h, 6, 6)
        got = png_codec.decode(bytes(out[d]["media_bytes"]))
        assert got == (6, 6, 1, bytes(expect)), d
        assert (out[d]["width"], out[d]["height"]) == (6, 6)


def test_framevid_codec_roundtrip_and_corruption():
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.operators import framevid_codec

    frames = [bytes((i + f) % 256 for i in range(12)) for f in range(5)]
    payload = framevid_codec.encode(frames, 4, 3, fps=30)
    w, h, fps, out = framevid_codec.decode(payload)
    assert (w, h, fps) == (4, 3, 30)
    assert out == frames

    with _pytest.raises(ValueError, match="magic"):
        framevid_codec.decode(b"RIFF" + payload[4:])
    with _pytest.raises(ValueError, match="truncated"):
        framevid_codec.decode(payload[:8])
    with _pytest.raises(ValueError, match="frame bytes"):
        framevid_codec.decode(payload[:-1])
    with _pytest.raises(ValueError, match="frame 1 holds"):
        framevid_codec.encode([frames[0], frames[1][:-1]], 4, 3)


def test_tuned_initial_partitions_tracks_input(tmp_path):
    """Core-count floor at tiny inputs, ~2 MB parquet per partition in the
    middle, 16x-cores cap at huge inputs; explicit env always wins
    (exercised via tune_for_input in bench/sweeps)."""
    from kafka_streams_and_ktable_example_spark.session import (
        tuned_initial_partitions,
    )

    # empty/unknown dir -> scale-safe default 8x cores
    assert tuned_initial_partitions(str(tmp_path), 32) == 256
    # 1 MB -> floor at core count
    (tmp_path / "t.parquet").write_bytes(b"x" * (1 << 20))
    assert tuned_initial_partitions(str(tmp_path), 32) == 32
    # ~170 MB -> ~2 per 2 MB = 170
    (tmp_path / "t.parquet").write_bytes(b"x" * (170 << 20))
    assert tuned_initial_partitions(str(tmp_path), 32) == 170
    # 10 GB -> capped at 16x cores
    big = tmp_path / "big.parquet"
    big.mkdir()
    (big / "part-0").write_bytes(b"x")
    import os

    os.truncate(big / "part-0", 10 << 30)  # sparse, no disk cost
    (tmp_path / "t.parquet").write_bytes(b"")
    assert tuned_initial_partitions(str(tmp_path), 32) == 512


def test_force_runtime_failure_raises_after_one_job(spark):
    """A job that fails at RUNTIME must propagate from force() without a
    collect() retry: the retry would run the whole query a second time."""
    from kafka_streams_and_ktable_example_spark.session import force

    df = spark.range(4).select(
        F.when(F.col("id") >= 0, F.raise_error(F.lit("boom"))).alias("x")
    )
    sc = spark.sparkContext
    sc.setJobGroup("force_runtime_failure", "force() retry probe")
    try:
        with pytest.raises(Exception, match="boom"):
            force(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("force_runtime_failure")
    assert len(jobs) == 1, jobs


def test_decode_media_real_dispatches_all_codecs(spark):
    """decode_media(fake=False) genuinely decodes PNG, WAV, ADPCM and FRV1
    payloads by container magic, and raises for unknown formats."""
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.operators import (
        adpcm_codec,
        framevid_codec,
        png_codec,
        wav_codec,
    )
    from kafka_streams_and_ktable_example_spark.operators.multimodal import (
        decode_media,
    )

    px = bytes(range(48))
    payloads = [
        (0, png_codec.encode_gray8(px, 8, 6)),
        (1, wav_codec.encode_wav([100, -100, 3000, -3000])),
        (2, adpcm_codec.encode([0, 500, -500, 10000])),
        (3, framevid_codec.encode([px, px], 8, 6)),
    ]
    pdf = pd.DataFrame(payloads, columns=["doc_id", "media_bytes"])
    df = spark.createDataFrame(pdf)
    rows = {r["doc_id"]: r for r in decode_media(df, fake=False).collect()}
    assert rows[0]["n_bytes"] == 48.0  # PNG: w*h
    assert rows[1]["n_bytes"] == 4.0  # WAV: n_samples
    assert rows[2]["n_bytes"] == 4.0  # ADPCM: n_samples
    assert rows[3]["n_bytes"] == 2.0  # FRV1: n_frames

    bad = spark.createDataFrame(
        pd.DataFrame([(9, b"JUNKJUNKJUNKJUNK")], columns=["doc_id", "media_bytes"])
    )
    with _pytest.raises(Exception, match="no codec"):
        decode_media(bad, fake=False).collect()


def test_decode_media_real_zero_length_payloads(spark):
    """Zero-length media is VALID per the containers (0-sample WAV/ADPCM,
    0-frame FRV1): decode_media(fake=False) yields zeroed features rather
    than a ZeroDivisionError (ADVICE r4)."""
    import pandas as pd

    from kafka_streams_and_ktable_example_spark.operators import (
        adpcm_codec,
        framevid_codec,
        wav_codec,
    )
    from kafka_streams_and_ktable_example_spark.operators.multimodal import (
        decode_media,
    )

    payloads = [
        (0, wav_codec.encode_wav([])),
        (1, adpcm_codec.encode([])),
        (2, framevid_codec.encode([], 8, 6)),
    ]
    pdf = pd.DataFrame(payloads, columns=["doc_id", "media_bytes"])
    rows = {
        r["doc_id"]: r
        for r in decode_media(
            spark.createDataFrame(pdf), fake=False
        ).collect()
    }
    assert rows[0]["n_bytes"] == 0.0 and rows[0]["sig_mean"] == 0.0
    assert rows[1]["n_bytes"] == 0.0 and rows[1]["sig_head"] == 0.0
    assert rows[2]["n_bytes"] == 0.0 and rows[2]["sig_mean"] == 0.0


def test_roundtrip_stats_zero_sample_payloads(spark):
    """The stats reducers share decode_media's zero-length contract
    (ADVICE r5): a valid 0-frame stereo WAV / 0-sample ULW1 / 0-sample
    ADPCM payload yields zeroed stats, not a ValueError from max()."""
    import pandas as pd

    from kafka_streams_and_ktable_example_spark.operators import (
        adpcm_codec,
        g711_codec,
        wav_codec,
    )
    from kafka_streams_and_ktable_example_spark.operators.multimodal import (
        adpcm_roundtrip_stats,
        mulaw_roundtrip_stats,
        wav_stereo_stats,
    )

    stereo = spark.createDataFrame(
        pd.DataFrame(
            [(0, wav_codec.encode_wav([], channels=2))],
            columns=["doc_id", "wav_bytes"],
        )
    )
    row = wav_stereo_stats(stereo).collect()[0]
    assert (row["n_frames"], row["peak_l"], row["peak_r"], row["lr_dot"]) == (
        0, 0, 0, 0,
    )

    mulaw = spark.createDataFrame(
        pd.DataFrame(
            [(0, g711_codec.encode([]))], columns=["doc_id", "mulaw_bytes"]
        )
    )
    row = mulaw_roundtrip_stats(mulaw).collect()[0]
    assert (row["peak_orig"], row["max_abs_err"], row["sum_abs_err"]) == (0, 0, 0)

    adpcm = spark.createDataFrame(
        pd.DataFrame(
            [(0, adpcm_codec.encode([]))], columns=["doc_id", "adpcm_bytes"]
        )
    )
    row = adpcm_roundtrip_stats(adpcm).collect()[0]
    assert (row["peak_orig"], row["max_abs_err"], row["sum_abs_err"]) == (0, 0, 0)
