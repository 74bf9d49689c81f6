"""Physical-plan regression tests: the scale properties the engine promises
(README "Scale design") asserted against .explain output, so a future edit
that silently breaks pushdown / broadcast / partial aggregation fails CI,
not a 100 TB run.

These assert plan *shape*, not timings — shape is what survives the jump
from local[8] to a 1000-executor cluster.
"""

from __future__ import annotations

import pytest

from kafka_streams_and_ktable_example_spark import plans


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plan_of(spark, sf_dir):
    def get(name: str) -> str:
        return physical_plan(plans.REGISTRY[name].spark(spark, sf_dir))

    return get


def test_q1_filter_pushed_to_scan(plan_of):
    p = plan_of("q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p, "shipdate filter must reach parquet"
    # single shuffle: partial agg before the exchange, final after
    assert p.count("Exchange hashpartitioning") == 1


def test_q1_column_pruning(plan_of):
    p = plan_of("q1_pricing_summary")
    # the scan must not read unused columns
    assert "l_orderkey" not in p.split("ReadSchema")[-1]


def test_q3_dims_broadcast(plan_of):
    p = plan_of("q3_shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p, "dim filter must reach its scan"


def test_latest_snapshot_is_aggregate_not_window(plan_of):
    """O1 must be max_by aggregation (map-side combine, no sort), never a
    window + row_number (full sort, no partial aggregation)."""
    p = plan_of("ktable_shareholders_view")
    assert "max_by" in p
    assert "row_number" not in p


def test_minhash_single_shuffle_with_partial_agg(plan_of):
    """Signatures must collapse per-partition before their only exchange
    (partial_min under the Exchange) — the property that bounds shuffle
    volume by |docs|, not |shingles|."""
    p = plan_of("dedup_minhash_lsh")
    assert "partial_min" in p


def test_ann_bruteforce_broadcasts_queries(plan_of):
    p = plan_of("ann_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_simhash_stays_integer_codegen(plan_of):
    """The SimHash hot path must be shift/mask integer expressions inside
    codegen — no higher-order-function fold, no python worker."""
    p = plan_of("dedup_simhash_fingerprints")
    assert "shiftright" in p
    assert "LambdaFunction" not in p
    assert "PythonUDF" not in p


def test_exact_dedup_no_sort(plan_of):
    p = plan_of("dedup_exact_summary")
    assert "Sort " not in p, "hash-groupBy dedup must not global-sort"


def test_asof_join_no_cartesian(plan_of):
    """The as-of join must be the union + ordered-partition-scan plan: no
    nested-loop/cartesian product materializing the pair space."""
    p = plan_of("join_asof_prior_click")
    assert "CartesianProduct" not in p
    assert "Union" in p


def test_point_lookup_pushes_key_predicate(plan_of):
    """The .get(key) analog must filter BELOW the first exchange (the
    group-key-prefix rewrite), not scan-then-filter the whole view."""
    p = plan_of("ktable_point_lookup")
    first_exchange = p.find("Exchange hashpartitioning")
    assert first_exchange != -1
    below = p[first_exchange:]
    assert "StartsWith" in below, "key-prefix filter must sit under the shuffle"


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    """Co-bucketed fact tables must join with NO exchange on either side —
    the pre-shuffled-storage contract (operators/bucketed.py)."""
    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.operators.bucketed import materialize_bucketed
    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    li = materialize_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        ),
        "li_bucketed",
        ["l_orderkey"],
        n_buckets=8,
        sort_cols=["l_orderkey"],
    )
    orders = materialize_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        "orders_bucketed",
        ["o_orderkey"],
        n_buckets=8,
        sort_cols=["o_orderkey"],
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = physical_plan(joined)
        assert "Exchange" not in plan, plan
        # and the aggregation on the bucket key reuses the bucketing too
        agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity"))
        assert "Exchange" not in physical_plan(agg)
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout: a predicate on the partition column
    must prune directories at planning time (PartitionFilters on the scan,
    not a post-scan Filter) — the mechanism that turns a 100 TB table into
    a one-partition read."""
    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    out = str(tmp_path / "li_parted")
    load_table(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(out)
    parted = spark.read.parquet(out)
    q = parted.where(F.col("l_returnflag") == "R").agg(
        F.sum("l_quantity").alias("q")
    )
    plan = physical_plan(q)
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "l_returnflag" in part_filters and "= R" in part_filters, plan
    # the predicate is satisfied by pruning alone: no pushed data filter
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_returnflag" not in pushed, plan


def test_q2_decorrelated_min_no_extra_shuffle(plan_of):
    """Q2's correlated min must be a window over the already-shuffled
    candidates plus joined dims — never a second supply aggregation
    joined back (double scan) or a nested loop over parts.

    Bounded dims (nation/region/filtered part) broadcast; the
    supplier-side join is NOT force-broadcast (supplier scales with SF),
    so the static plan carries its shuffle pair and AQE converts it to a
    broadcast at small scale — 4 exchanges pre-AQE is the honest bound
    (supply groupBy, window repartition, supplier join pair)."""
    p = plan_of("q2_min_cost_supplier")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") <= 4


def test_q16_not_in_is_broadcast_anti(plan_of):
    """NOT IN over a tiny dim must plan as a broadcast anti join, not a
    shuffled join or a nested loop."""
    p = plan_of("q16_supplier_part_counts")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_q20_filters_push_to_scan(plan_of):
    """Q20's date range must reach the lineitem parquet scan and the
    part-name LIKE its own scan — the nested-IN shape must not defeat
    pushdown."""
    p = plan_of("q20_excess_shippers")
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "StringContains(p_name,red)" in p


def test_q21_self_joins_no_cartesian(plan_of):
    """The EXISTS/NOT EXISTS pair over the same fact table must stay
    keyed semi/anti joins on l_orderkey — any plan that degrades to a
    nested loop would be quadratic in order size."""
    p = plan_of("q21_waiting_orders")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p and "LeftAnti" in p


def test_posexplode_generates_without_shuffle(plan_of):
    """The generator must expand inside the scan stage: Generate node
    present, zero exchanges (fan-out is partition-local)."""
    p = plan_of("udtf_posexplode_prefix_tokens")
    assert "Generate posexplode" in p
    assert "Exchange hashpartitioning" not in p


def test_profile_reads_table_once(plan_of):
    """One-scan profiling: all column metrics from a single parquet scan
    (the oracle's UNION ALL spelling scans per column; ours must not)."""
    p = plan_of("profile_lineitem_columns")
    assert p.count("Scan parquet") == 1


def test_salted_agg_two_stage_shape(plan_of):
    """Salted aggregation: stage 1 keyed by (key, salt), stage 2 by key —
    exactly two exchanges, with map-side partial aggregation under the
    first (what bounds a hot key's rows per task)."""
    p = plan_of("agg_salted_two_stage")
    assert p.count("Exchange hashpartitioning") == 2
    assert "pmod" in p
    assert "partial_sum" in p


def test_forward_fill_single_shuffle_sorted(plan_of):
    """Gap fill: one shuffle by user + one sort feeding the window — no
    second exchange, no global sort."""
    p = plan_of("window_forward_fill")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Sort " in p
    assert "Exchange rangepartitioning" not in p


def test_kmeans_assignment_is_broadcast_map_only(plan_of):
    """Lloyd assignment step: the 8-row centroid side must broadcast so the
    corpus-side pass is map-only — no shuffle of the fact table before the
    per-vector rank (the property that keeps an iteration linear at scale)."""
    p = plan_of("embedding_kmeans_one_iter")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # only the tiny assignment output shuffles (window by vec_id + final agg)
    assert "Exchange hashpartitioning(v#" not in p


def test_referential_orphans_all_broadcast_anti(plan_of):
    """Every FK check must plan as a broadcast anti-join of the distinct
    key set — the fact side never shuffles or sorts."""
    p = plan_of("qa_referential_orphans")
    assert p.count("BroadcastHashJoin") == 4
    assert all("LeftAnti" in seg for seg in p.split("BroadcastHashJoin")[1:]), p
    assert "SortMergeJoin" not in p


def test_histogram_no_sort_two_scans(plan_of):
    """Equi-width histogram: extent aggregate broadcast back onto the fact
    scan; bucketing is codegen arithmetic — no sort anywhere in the plan."""
    p = plan_of("agg_histogram_equi_width")
    assert "Sort " not in p
    assert "BroadcastNestedLoopJoin" in p


def test_share_of_total_no_window_broadcast_singleton(plan_of):
    """The grand total must attach as a broadcast singleton to the 25-row
    aggregate — no Window node anywhere (the empty-frame window this
    replaced was the repo's last single-partition window shape)."""
    p = plan_of("agg_share_of_total")
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_transition_matrix_single_sequence_sort(plan_of):
    """Markov transitions: one shuffle+sort by user feeds lag(); the
    (prev,next) count then aggregates with map-side partials."""
    p = plan_of("events_page_transitions")
    assert p.count("Exchange hashpartitioning") == 2  # window key + group key
    assert "partial_count" in p


def test_range_scan_filter_below_aggregation(plan_of):
    """The .range(from,to) analog must filter key range BELOW the max_by
    aggregation (only in-range keys shuffle), like the point lookup."""
    p = plan_of("ktable_range_scan")
    first_exchange = p.find("Exchange hashpartitioning")
    assert first_exchange != -1
    below = p[first_exchange:]
    assert ">= 2" in below, "range filter must sit under the shuffle"
    assert "max_by" in p


def test_table_table_join_no_extra_exchange(plan_of):
    """KTable-KTable join: both sides aggregate on the join key, so the
    join must reuse those partitionings — no third exchange between the
    aggregations and the join."""
    p = plan_of("ktable_table_table_join")
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Scale property: when a selective dim filter feeds a SHUFFLE join,
    Spark's runtime bloom filter must be injected on the fact side so
    non-matching rows die at the scan, not at the join. Local thresholds
    are lowered to simulate the 100 TB regime where the fact side dwarfs
    the broadcast limit (the optimization is threshold-gated, not
    shape-gated, so this is the same plan a cluster run gets)."""
    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        orders = (
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
            F.sum("l_quantity")
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, "runtime bloom filter must be injected"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_basket_pairs_no_fact_self_join(plan_of):
    """Co-purchase pairs must unfold from per-order arrays (generator in
    codegen), never a lineitem-lineitem self-join."""
    p = plan_of("basket_top_copurchase_partner")
    assert "Join" not in p, "pair generation must be join-free"
    assert "Generate explode" in p
    # three aggregation shuffles max: basket collect, pair count, argmax
    assert p.count("Exchange hashpartitioning") <= 3


def test_bpe_top20_is_take_ordered(plan_of):
    """Global top-20 must be TakeOrderedAndProject (per-partition heaps),
    never a full Sort of the pair counts."""
    p = plan_of("text_bpe_merge_step")
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p


def test_sorted_neighborhood_join_free(plan_of):
    """Neighbor comparison arrives via lead() over the block sort; no
    inverted-index join anywhere in the plan."""
    p = plan_of("dedup_sorted_neighborhood")
    assert "Join" not in p
    assert "lead(" in p


def test_max_concurrency_fact_window_is_bucketed(plan_of):
    """The event-level running sum must be partitioned by hour bucket; only
    the tiny per-hour offset relation may use a global (unpartitioned)
    window, and it must come back via broadcast."""
    p = plan_of("events_max_concurrency_daily")
    assert "BroadcastHashJoin" in p
    # the fact-side window sorts within hr partitions
    assert "partitionBy" not in p  # sanity: plan text uses windowspec form
    assert "windowspecdefinition(hr" in p.replace(" ", "").replace("#", "#")


def test_max_token_run_zero_shuffle(plan_of):
    """The run-length fold is a codegen'd array aggregate — the plan must be
    a pure scan+project: no Exchange, no Generate, no Window."""
    p = plan_of("text_max_token_run")
    assert "Exchange" not in p
    assert "Window" not in p
    assert "Generate" not in p


def test_bfs_edges_built_once_then_graph_scale(plan_of):
    """The recursive BFS must touch the fact tables only in the edge-list
    CTE; recursion steps join at graph scale."""
    p = plan_of("graph_bfs_reachability")
    assert "UnionLoop" in p or "CTERelation" in p or "Recursion" in p, (
        "plan must contain the recursive loop operator"
    )
    # lineitem appears in exactly one scan lineage
    assert p.count("lineitem.parquet") <= 2  # loop caches may repeat the text


def test_listagg_trims_before_aggregation(plan_of):
    """The ordered-set listagg must see only the WindowGroupLimit-trimmed
    top-k rows — the agg input is bounded by k x |groups|."""
    p = plan_of("agg_listagg_ordered")
    assert "WindowGroupLimit" in p
    assert "listagg" in p


def test_rolling_median_single_window_shuffle(plan_of):
    """The composed rolling median is ONE window pass: a single exchange on
    user_id, no python worker, no extra sort beyond the frame's."""
    p = plan_of("window_rolling_median")
    assert p.count("Exchange hashpartitioning") == 1
    assert "PythonUDF" not in p


def test_intradoc_repetition_zero_shuffle(plan_of):
    """Per-row higher-order-function work must stay inside the scan stage."""
    p = plan_of("text_intradoc_repetition")
    assert "Exchange" not in p
    assert "PythonUDF" not in p


def test_triangle_count_edge_list_once(plan_of):
    """Fact tables feed ONE deduplicated edge list (a single distinct over
    the 4-way join); the closing-edge self-joins run at dimension scale on
    the persisted edge list, never re-deriving the fact join."""
    p = plan_of("graph_triangle_count")
    assert "InMemoryTableScan" in p, "edge list must be reused from cache"
    assert "CartesianProduct" not in p


def test_interval_overlap_is_blocked_equijoin(plan_of):
    """The interval-overlap theta join must ride an equi-join on the day
    bucket (SortMergeJoin/ShuffledHashJoin with join keys), never a
    cartesian or pure broadcast-nested-loop over all pairs."""
    p = plan_of("join_interval_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bitmap_distinct_two_level_aggregation(plan_of):
    """Bitmap distinct = two hash aggregations (word build, popcount sum)
    with map-side partials; no count(distinct) Expand explosion."""
    p = plan_of("agg_bitmap_distinct")
    assert "bit_or" in p
    assert "Expand" not in p


def test_variant_parses_inside_codegen(plan_of):
    p = plan_of("scalar_variant_json")
    assert "Exchange" not in p
    assert "PythonUDF" not in p


def test_python_datasource_plans_batch_scan(spark, sf_dir):
    """The custom connector must appear as a planned BatchScan with its own
    input partitions — not a driver-side collect."""
    from kafka_streams_and_ktable_example_spark.plans import REGISTRY

    df = REGISTRY["sources_python_datasource_view"].spark(spark, sf_dir)
    p = physical_plan(df)
    assert "BatchScan changelog_jsonl" in p or "PythonDataSource" in p


def test_cogroup_asof_single_shuffle_each_side(plan_of):
    """Cogrouped pandas: each input shuffles once on user_id into the
    FlatMapCoGroupsInPandas — the co-partitioned-join shape."""
    p = plan_of("pandas_cogroup_asof")
    assert "FlatMapCoGroupsInPandas" in p
    assert p.count("Exchange hashpartitioning") == 2


def test_dpp_plants_dynamic_pruning_expression(plan_of):
    """The partitioned fact scan must carry a dynamicpruningexpression in
    its PartitionFilters — runtime directory skipping from the broadcast
    dim, not a full scan."""
    p = plan_of("join_partition_pruning_dpp")
    assert "dynamicpruning" in p.lower()


def test_map_in_arrow_no_shuffle(plan_of):
    """The Arrow kernel runs inside the scan stage — no exchange, and the
    scan reads only the two needed columns."""
    p = plan_of("arrow_map_vector_norms")
    assert "MapInArrow" in p
    assert "Exchange" not in p


def test_multi_distinct_expands_once(plan_of):
    """Two count(DISTINCT) branches + plain aggregates must plan as a
    single Expand with partial aggregation — not separate scans joined."""
    p = plan_of("agg_multi_distinct")
    assert "Expand" in p
    assert p.count("Scan parquet") == 1


def test_multimodal_dedup_shuffles_digests_not_payloads(plan_of):
    """The exchange must carry the 32-byte sha, never media_bytes."""
    p = plan_of("multimodal_exact_dedup")
    ex = p.find("Exchange hashpartitioning")
    assert ex != -1
    assert "media_bytes" not in p[:ex], "payload bytes must not reach the shuffle"


def test_shuffle_hash_hint_flips_strategy(plan_of):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin (no sort
    passes), proving the strategy-control surface works."""
    p = plan_of("join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p


# -- registry-wide invariant: no single-partition (unpartitioned) windows --

_WINDOW_NODE_CLASSES = {"WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"}


def _unpartitioned_windows(df) -> list:
    """Window physical nodes with an EMPTY partitionSpec — each one is a
    move-everything-to-one-task operation, the canonical scale-killer."""
    bad = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls in _WINDOW_NODE_CLASSES and node.partitionSpec().isEmpty():
            bad.append(node.nodeName())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return bad


def test_no_unpartitioned_window_in_any_registry_plan(spark, sf_dir):
    """VERDICT r1 'Next round' #2: every registry query's physical plan must
    be free of `WindowExec: No Partition Defined` — global rankings go
    through the two-phase exact plan in operators/ranking.py instead.

    Streaming queries are skipped (calling them executes a full replay;
    their returned frame is a memory-sink scan with no window nodes).
    """
    # AQE off so the full physical tree is visible pre-execution
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # Exempt: windows over DIMENSION-BOUNDED relations (a 64-row
        # moment table; a months series) where a single-task sort is the
        # intended plan — each query's docstring carries the size bound.
        # The guard still bans unpartitioned windows over anything that
        # scales with the fact tables.
        dimension_scale_ok = {
            "embedding_dim_variance_ranking",  # fixed 64-row moment table
            "orders_mom_growth",  # months series (|months| rows)
        }
        offenders = {}
        for name, q in plans.REGISTRY.items():
            if "streaming" in q.tags or name in dimension_scale_ok:
                continue
            df = q.spark(spark, sf_dir)
            bad = _unpartitioned_windows(df)
            if bad:
                offenders[name] = bad
        assert not offenders, f"unpartitioned windows in: {offenders}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """The fact scan must carry might_contain(bloom) built from the
    selective dim side — Spark's runtime-filter shuffle-volume lever."""
    df = plans.REGISTRY["join_runtime_bloom_filter"].spark(spark, sf_dir)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in p
    assert "bloom_filter_agg" in p


def rowgroup_spans(path: str, column: str) -> list:
    """(min, max) per parquet row group for ``column`` — the stats a
    skip-scan consults; tight spans = prunable layout."""
    import os

    import pyarrow.parquet as pq

    spans = []
    for fname in sorted(os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fname)).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    spans.append((col.statistics.min, col.statistics.max))
    return spans


def test_zorder_tightens_rowgroup_spans(spark, sf_dir, tmp_path):
    """Z-ordering must shrink per-row-group (min, max) spans on BOTH
    clustered columns vs a hash-scattered layout — the statistic a
    skip-scan prunes with. Span sum across row groups is the proxy:
    scattered files each cover ~the full value range; Z-ordered files
    cover small hyper-rectangles."""
    from kafka_streams_and_ktable_example_spark.operators.maintenance import (
        write_zordered,
    )
    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    scattered = str(tmp_path / "scatter")
    ev.repartition(8).write.parquet(scattered)
    zed = str(tmp_path / "zorder")
    write_zordered(ev, zed, ["user_id", "value"], n_bits=6, n_files=8)

    assert (
        spark.read.parquet(zed).count() == ev.count()
    ), "clustering must not lose rows"

    for col in ("user_id", "value"):
        sc = rowgroup_spans(scattered, col)
        zs = rowgroup_spans(zed, col)
        # AVERAGE span per row group (group counts differ between layouts):
        # scattered groups each cover ~the whole range; Z-ordered groups
        # cover a fraction of it on every clustered column
        scatter_avg = sum(mx - mn for mn, mx in sc) / len(sc)
        z_avg = sum(mx - mn for mn, mx in zs) / len(zs)
        assert z_avg * 1.8 < scatter_avg, (
            f"{col}: zorder avg span {z_avg} not well under scatter "
            f"avg {scatter_avg}"
        )


# -- round-2 additions: plan shapes of the new flagship operators ----------


def test_countmin_grid_broadcasts(plan_of):
    """The CMS cell grid (bounded at 4x256 rows) must reach the candidate
    probe as a broadcast, and the grid build must partial-aggregate
    map-side — the two properties that keep the sketch pass at one
    bounded shuffle regardless of corpus size."""
    p = plan_of("sketch_countmin_heavy_hitters")
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p


def test_bitmap_jaccard_no_fact_self_join(plan_of):
    """Pair intersections must join the chunked WORD relation (bounded by
    |types| x |chunks|), never the events fact table against itself:
    the plan carries exactly one scan of events per side-shared subtree
    and the bit_or aggregation partial-aggregates before its exchange."""
    p = plan_of("agg_bitmap_set_jaccard")
    assert "partial_bit_or" in p
    assert "CartesianProduct" not in p


def test_pq_codebook_broadcasts(plan_of):
    """PQ quantization joins every (vec, subspace) row against the
    CODEBOOK broadcast-side; ADC probes the broadcast lookup table. No
    shuffle keyed on the corpus pairs."""
    p = plan_of("ann_pq_adc_topk")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_quantile_histogram_partial_agg(plan_of):
    """The 256-bin histogram must partial-aggregate map-side (the
    mergeable-sketch property) and the min/max pass must broadcast back,
    not re-shuffle the facts."""
    p = plan_of("agg_quantile_fixed_bin_rollup")
    assert "partial_count" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_covariance_partial_aggregates(plan_of):
    """Per-cell moment sums must combine map-side: the only exchange for
    the pair grid carries <= 2016 partial rows per task, not the row-level
    product stream."""
    p = plan_of("embedding_covariance_topcells")
    assert "partial_sum" in p


def test_bm25_postings_broadcast_not_shuffled(plan_of):
    """The query vocabulary and document-frequency tables must broadcast
    to the posting stream (corpus side never re-shuffles onto terms for
    the probe), and selection must be TakeOrdered (partial top-k), not a
    global sort."""
    p = plan_of("text_bm25_more_like_this")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_weighted_priority_is_take_ordered(plan_of):
    """The weighted draw must run as TakeOrdered partial top-k — a global
    Sort would single-partition the corpus."""
    p = plan_of("sample_weighted_priority")
    assert "TakeOrderedAndProject" in p
    assert "Sort [pri" not in p


def test_global_table_join_broadcasts_dim(plan_of):
    """GlobalKTable semantics = dim fully replicated: the sector dim must
    be the broadcast side; the snapshot side must NOT gain an extra
    exchange for the join."""
    p = plan_of("ktable_global_table_join")
    assert "BroadcastHashJoin" in p


def test_dsir_ratio_table_broadcasts(plan_of):
    """The 256-bucket ratio table must broadcast onto the token stream —
    the corpus is never shuffled against the benchmark side."""
    p = plan_of("text_dsir_importance")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_manifest_prunes_files(spark, sf_dir):
    """File-skip is real: on the Z-ordered layout the manifest's candidate
    set for the mid-range predicate is a strict, non-empty subset of the
    file list."""
    from kafka_streams_and_ktable_example_spark.operators.maintenance import (
        file_manifest,
        prune_files,
        write_zordered,
    )
    from kafka_streams_and_ktable_example_spark.sources.fixture_cache import (
        ensure_layout,
        fixture_dir,
    )
    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    path = ensure_layout(
        fixture_dir("events_zorder", sf_dir, mtime_of="events.parquet"),
        lambda p: write_zordered(ev, p, ["user_id", "value"], n_bits=6),
    )
    manifest = file_manifest(path, "user_id")
    top = max(mx for _, _, mx in manifest if mx is not None)
    pruned = prune_files(manifest, top // 4, top // 2)
    assert 0 < len(pruned) < len(manifest), (
        f"{len(pruned)}/{len(manifest)} files — skipping must drop some "
        "and keep some"
    )


def test_no_cartesian_product_in_any_registry_plan(spark, sf_dir):
    """Registry-wide: no CartesianProductExec anywhere. Scalar attaches and
    tiny-dim cross joins must plan as BroadcastNestedLoopJoin (bounded
    build side); a CartesianProduct node means a non-broadcast cross join
    slipped in — the other canonical scale-killer next to unpartitioned
    windows."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        offenders = []
        for name, q in plans.REGISTRY.items():
            if "streaming" in q.tags:
                continue
            df = q.spark(spark, sf_dir)
            plan = physical_plan(df)
            if "CartesianProduct" in plan:
                offenders.append(name)
        assert not offenders, f"CartesianProduct in: {offenders}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# -- round-2 wave 2: plan pins for the retrieval / sketch / maintenance ops


def test_hybrid_rrf_arms_bounded(plan_of):
    """Both retrieval arms keep per-query state k-bounded: the BM25 arm
    broadcasts query vocabulary and df; fusion is a join of two top-k
    lists — no cartesian, no global sort."""
    p = plan_of("search_hybrid_rrf")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_bitmap_rolling_window_partitioned_by_chunk(plan_of):
    """The rolling bitmap OR must run under a chunk-partitioned window —
    the property that makes the sliding distinct shard-parallel."""
    p = plan_of("agg_bitmap_rolling_distinct")
    assert "partial_bit_or" in p
    assert "No Partition Defined" not in p


def test_novelty_gram_aggs_partial(plan_of):
    """Corpus novelty: the gram first-occurrence aggregation must partial-
    aggregate map-side (min per gram), and text must not reach the
    shuffle (projection carries only doc_id + gram)."""
    p = plan_of("text_corpus_novelty_curve")
    assert "partial_min" in p


def test_temporal_dim_join_is_equi_not_range(plan_of):
    """The SCD2 temporal join must plan as an EQUI join on the customer
    key (interval check as residual filter), never a range/cartesian
    join."""
    p = plan_of("join_temporal_dim_asof")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_cow_merge_reads_only_touched_partitions(plan_of):
    """The COW-merged table read must scan the merged layout (partitioned
    dirs) — and the registry query's aggregate must partial-aggregate."""
    p = plan_of("maintenance_cow_merge")
    assert "partial_count" in p or "partial_sum" in p


def test_separability_probe_broadcasts(plan_of):
    """Label separability: the probe sample must be the broadcast side of
    the corpus pass (|probes| x corpus, never corpus^2)."""
    p = plan_of("embedding_label_separability")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


# -- round-2 wave 3: research-analytics pack (plans/research_queries.py) --


def test_skyline_is_aggregate_first_not_pairwise(plan_of):
    """Skyline must be the bounded-dim rewrite: min-price-per-size with
    map-side partial agg, suffix-min via broadcast self-join of the
    bounded agg, broadcast probe back — NEVER an all-pairs dominance
    join (no cartesian, no sort-merge on the fact table)."""
    p = plan_of("part_skyline_frontier")
    assert "CartesianProduct" not in p
    assert "partial_min" in p, "per-size min must combine map-side"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_km_risk_sets_join_bounded_histogram(plan_of):
    """KM risk sets must come from the duration HISTOGRAM (bounded by the
    day span), not a subjects x event-times range join: the suffix-sum
    triangle join's build side is the broadcast aggregated histogram,
    and subjects collapse via partial-combined min aggregates."""
    p = plan_of("customer_survival_km_risk")
    assert "CartesianProduct" not in p
    assert "partial_min" in p
    assert "BroadcastNestedLoopJoin" in p


def test_linkage_pairs_only_within_blocks(plan_of):
    """Fellegi-Sunter candidate generation must be an EQUI join on the
    blocking key (nation, segment) with the key-order predicate as a
    residual filter — never a cross product."""
    p = plan_of("customer_record_linkage_fs")
    assert "CartesianProduct" not in p
    assert (
        "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    )


def test_seasonal_decompose_no_global_window(plan_of):
    """The centered moving average must be the +-3-day band self-join on
    the aggregated daily table, not an unpartitioned ordered window over
    the series."""
    p = plan_of("events_seasonal_decompose")
    assert "No Partition Defined" not in p
    assert "BroadcastNestedLoopJoin" in p
    # daily aggregation combines map-side before its shuffle
    assert "partial_sum" in p


def test_kappa_single_pass_confusion_matrix(plan_of):
    """Cohen's kappa must build the 2x2 confusion matrix in ONE full-scan
    aggregate with map-side partials — five longs cross the shuffle, not
    rows."""
    p = plan_of("qa_annotator_kappa")
    assert "partial_count" in p
    assert p.count("Exchange") <= 2  # single-partition final agg only


def test_pca_iterations_on_bounded_cov_table(plan_of):
    """Power iteration must run on the 64x64 moment table: the corpus is
    scanned into partial-aggregated cells; iteration joins broadcast the
    bounded iterate — no corpus-sized shuffle after the moment pass."""
    p = plan_of("embedding_pca_power_iteration")
    assert "partial_sum" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_rake_phrase_split_in_array_expressions(plan_of):
    """RAKE phrase extraction must happen inside array expressions before
    the explode — no per-token shuffle, no windows; word stats partial-
    aggregate on the vocabulary-bounded key."""
    p = plan_of("text_rake_keyphrases")
    assert "No Partition Defined" not in p
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p


def test_kmv_sketch_two_phase_topk(plan_of):
    """KMV build must be two-phase: per-(set,bucket) partial k-smallest
    bounds every sort task (WindowGroupLimit pushes the limit below the
    sort), and the union merge is an aggregate over the bounded
    candidate set — no unpartitioned window, no global sort."""
    p = plan_of("sketch_kmv_distinct_setops")
    assert "No Partition Defined" not in p
    assert "WindowGroupLimit" in p


def test_wav_vad_reduces_inside_arrow_batch(plan_of):
    """VAD segmentation must reduce samples to per-clip ints inside the
    mapInPandas stage: two pythonUDF stages (synth + segment), zero
    exchanges of sample-level rows."""
    p = plan_of("multimodal_wav_vad_segments")
    assert p.count("MapInPandas") == 2
    assert "Exchange" not in p


def test_manual_bloom_semi_joins_are_broadcast(plan_of):
    """The deterministic bloom probe must be two BROADCAST left-semi joins
    (the bit-position set is <= 8192 rows at ANY scale factor) — a shuffle
    semi join here would move the whole fact table, defeating the filter."""
    p = plan_of("join_bloom_prune_accounting")
    assert p.count("BroadcastHashJoin") >= 3  # 2 bloom probes + exact semi
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_zorder_no_global_sort(plan_of):
    """Z-order file assignment is map-side integer arithmetic — the plan
    must carry no global sort / unpartitioned window (a naive ORDER BY
    zval + ntile would single-partition the table)."""
    p = plan_of("layout_zorder_file_skip")
    assert "No Partition Defined" not in p
    assert "rangepartitioning" not in p


def test_repeated_ngram_window_partitioned(plan_of):
    """ExactSubstr span merge: the interval-merge window must be
    partitioned by doc_id (bounded by grams-per-doc), and the gram
    frequency count must partial-aggregate before its exchange."""
    p = plan_of("dedup_repeated_ngram_spans")
    assert "No Partition Defined" not in p
    assert "partial_count" in p or "partial" in p.lower()


def test_ivf_partitioned_scan_prunes(plan_of):
    """IVF serving must read the partitioned index with a PartitionFilters
    entry on the bucket column — unprobed buckets' files are never opened."""
    p = plan_of("ann_ivf_partitioned_index_scan")
    assert "PartitionFilters" in p
    assert "label" in p.split("PartitionFilters")[1][:200]


def test_bucketed_groupby_elides_exchange(plan_of):
    """groupBy on the bucket key of a bucketed table must run with ZERO
    exchanges — the storage distribution satisfies the aggregate."""
    p = plan_of("agg_bucketed_groupby_no_shuffle")
    assert "Exchange" not in p


def test_eager_aggregation_below_the_join(plan_of):
    """agg_eager_pushdown_join: lineitem must PARTIAL-aggregate to order
    grain BEFORE any join (Yan & Larson eager aggregation) — the plan
    must show a hash aggregate keyed by l_orderkey upstream of the first
    join, and the lineitem side must never reach a join at line grain."""
    p = plan_of("agg_eager_pushdown_join")
    first_join = min(
        (p.find(tok) for tok in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
         if p.find(tok) != -1),
        default=-1,
    )
    assert first_join != -1
    # the printed tree is top-down: operators UPSTREAM of the join appear
    # after it in the string — the order-grain aggregate must be there
    upstream = p[first_join:]
    assert "HashAggregate(keys=[l_orderkey" in upstream, (
        "lineitem must pre-aggregate to order grain before (upstream of) "
        "the join"
    )


# -- round-3 continuation: frontier pack (plans/frontier_queries.py) --


def test_ols_single_aggregation_no_join(plan_of):
    """Exact OLS must be ONE map-side-combined aggregation of moment sums
    over one lineitem scan — no join, no window, a single exchange
    carrying ten numbers."""
    p = plan_of("stats_ols_two_feature")
    assert "partial_sum" in p, "moment sums must combine map-side"
    for tok in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "Window"):
        assert tok not in p
    assert p.count("Exchange") <= 1


def test_hits_iterations_are_equi_joins(plan_of):
    """HITS iterations must be equi-joins on c or p with partial-combined
    sums — no cartesian, no matrix-shaped nested-loop join."""
    p = plan_of("graph_hits_authorities")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_sum" in p or "partial_count" in p
    # top-k is a TakeOrderedAndProject, never a global sort of all parts
    assert "TakeOrderedAndProject" in p


def test_phonetic_pairs_only_within_blocks(plan_of):
    """Phonetic linkage candidates must come from an EQUI join on the
    blocking key over the two DISTINCT vocabularies (Levenshtein as a
    residual filter) — never a cross product over records."""
    p = plan_of("dedup_phonetic_blocking")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert (
        "SortMergeJoin" in p or "ShuffledHashJoin" in p
        or "BroadcastHashJoin" in p
    )
    # each vocabulary distinct must combine map-side before its shuffle:
    # two HashAggregate levels (pre/post exchange) per distinct
    assert p.count("HashAggregate") >= 4


def test_pinball_one_pass_over_orders(plan_of):
    """Pinball loss for all nine candidates must come from ONE scan of
    orders with the 9-row candidate table broadcast — never nine scans
    or a shuffled fact-fact join."""
    p = plan_of("stats_quantile_pinball_eval")
    assert "BroadcastNestedLoopJoin" in p  # bounded candidate attach
    assert "partial_sum" in p
    assert "SortMergeJoin" not in p


def test_newsvendor_window_partitioned_by_nation(plan_of):
    """The ECDF rank must be a window PARTITIONED by nation over the
    bounded daily table — never an unpartitioned global sort — and the
    daily demand aggregation must combine map-side."""
    p = plan_of("supplier_newsvendor_stock")
    assert "No Partition Defined" not in p
    assert "partial_sum" in p


def test_adamic_adar_hub_capped_wedges(plan_of):
    """Wedge enumeration must be an equi-join on the shared center z
    with the degree filter applied to the centers side, the non-edge
    check a left-anti join, and top-20 a TakeOrdered — no cartesian,
    no global sort."""
    p = plan_of("graph_adamic_adar_link_prediction")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "LeftAnti" in p


def test_triangle_support_id_packing_bounds(spark, sf_dir):
    """graph_edge_triangle_support packs (degree, id) as d*2^32 + id and
    recovers ids by % 2^32 (ADVICE r8): valid only while every l_partkey
    is in [0, 2^32) and degrees stay below 2^31. Assert the id bound on
    the real fixture so a future remapped/high key range fails this test
    instead of silently corrupting triangle counts. (Degrees are bounded
    by the edge count, orders of magnitude below 2^31 at any replica this
    harness can hold.)"""
    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.sources.tables import load_table

    lo, hi = (
        load_table(spark, sf_dir, "lineitem")
        .agg(F.min("l_partkey"), F.max("l_partkey"))
        .first()
    )
    assert lo >= 0
    # 2^31, not 2^32: the r9 close join also packs the (v, w) id PAIR
    # into one signed long as id_v*2^32 + id_w, which needs id_v < 2^31
    assert hi < 2**31


def test_triangle_support_kpass_equals_single_action(spark, sf_dir, monkeypatch):
    """The scratch-bounded K-pass close (engaged only past the input-size
    gate, i.e. replica scales) must produce byte-identical support
    histograms to the single-action path, the pass count must rise when
    the conf-driven scratch budget shrinks (r9 directive #4), and the
    scratch dir must be registered for process-exit cleanup and actually
    removable (r9 directive #3 — the ad-hoc /tmp leak)."""
    import os

    from kafka_streams_and_ktable_example_spark import session as sess
    from kafka_streams_and_ktable_example_spark.plans import analytics_queries as aq

    monkeypatch.setattr(aq, "_TRI_KPASS_INPUT_MIN_BYTES", 0)
    # Pass 1: gate open, default 12 GiB budget -> K stays 1 (single-action
    # path) but the sizing aggregate records the fixture's real wedge count.
    single = sorted(
        tuple(r)
        for r in plans.REGISTRY["graph_edge_triangle_support"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert aq._TRI_LAST_PLAN_INFO["n_passes"] == 1
    wedge_rows = aq._TRI_LAST_PLAN_INFO["wedge_rows"]
    assert wedge_rows > 0
    # Pass 2: budget sized off the measured wedge bytes so K lands ~5
    # deterministically (no cap to lean on anymore — K now scales).
    budget = max(1, wedge_rows * aq._TRI_WEDGE_ROW_BYTES // 4)
    spark.conf.set("spark.graft.tri.scratchBudget", str(budget))
    try:
        kpass = sorted(
            tuple(r)
            for r in plans.REGISTRY["graph_edge_triangle_support"]
            .spark(spark, sf_dir)
            .collect()
        )
    finally:
        spark.conf.unset("spark.graft.tri.scratchBudget")
    assert kpass == single
    assert len(single) > 0
    info = aq._TRI_LAST_PLAN_INFO
    assert info["budget_bytes"] == budget  # conf was read
    assert info["n_passes"] == aq._tri_n_passes(wedge_rows, budget)
    assert info["n_passes"] > 1  # lower budget -> K rose
    # Scratch lifecycle: dir exists (the collect above consumed it),
    # is registered, and cleanup removes it.
    scratch = info["scratch"]
    assert scratch and os.path.isdir(scratch)
    assert scratch in sess._SCRATCH_DIRS
    sess.cleanup_scratch_dirs()
    assert not os.path.exists(scratch)


def test_tri_n_passes_uncapped():
    """ADVICE r9: the silent K=16 clamp is gone — K keeps scaling with the
    wedge volume so per-pass scratch never exceeds the budget again."""
    from kafka_streams_and_ktable_example_spark.plans import analytics_queries as aq

    assert aq._tri_n_passes(0, aq._TRI_SCRATCH_BUDGET_BYTES) == 1
    # ~350x-replica wedge volume: the old clamp would have returned 16
    # and overrun the 12 GiB budget per pass; now K tracks the input.
    big = 14 * 10**9
    k = aq._tri_n_passes(big, aq._TRI_SCRATCH_BUDGET_BYTES)
    assert k > 16
    assert big * aq._TRI_WEDGE_ROW_BYTES / k <= aq._TRI_SCRATCH_BUDGET_BYTES
    # monotone: halving the budget can only raise K
    assert aq._tri_n_passes(big, aq._TRI_SCRATCH_BUDGET_BYTES // 2) >= k


def test_tri_n_passes_raises_past_sanity_ceiling():
    """A misconfigured budget (e.g. a zero override floored to 1 byte)
    must raise loudly at sizing time, not enqueue an effectively
    unbounded loop of sequential shard jobs."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.plans import analytics_queries as aq

    with _pytest.raises(ValueError, match="scratchBudget"):
        aq._tri_n_passes(4_110_000_000, 1)  # the 100x wedge count, 1-byte budget
    # legitimate scales stay far below the ceiling under the default budget
    assert (
        aq._tri_n_passes(4_110_000_000, aq._TRI_SCRATCH_BUDGET_BYTES)
        <= aq._TRI_KPASS_WARN_PASSES
    )


def test_scratch_dir_registers_and_routes(monkeypatch, tmp_path):
    """session.scratch_dir — the standard allocator behind every plan's
    run-scoped scratch (changelog replay chunks, roundtrip staging, the
    triangle K-pass partial supports) — must (a) register the dir for
    process-exit cleanup and (b) land it inside SPARK_LOCAL_DIRS when a
    harness provides one, so sweep runners reclaim it even on failure."""
    import os

    from kafka_streams_and_ktable_example_spark import session as sess

    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    d1 = sess.scratch_dir("scratchtest_")
    assert os.path.isdir(d1) and d1 in sess._SCRATCH_DIRS

    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{tmp_path},/nonexistent-second")
    d2 = sess.scratch_dir("scratchtest_")
    assert os.path.dirname(d2) == str(tmp_path)
    assert d2 in sess._SCRATCH_DIRS

    sess.cleanup_scratch_dirs()
    assert not os.path.exists(d1) and not os.path.exists(d2)
