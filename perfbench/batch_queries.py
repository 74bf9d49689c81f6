"""``batch_queries``: passes over the 13 headline registry queries.

Set-up runs every headline query once and collects its result; that pass
warms code generation and the JIT. Each timed pass then runs the 13
queries, forced with the noop sink, with the cache cleared between queries,
in an order that rotates with the seed and with the pass number. After the
timed phase, each collected result is compared with the query's DuckDB
oracle.
"""

from __future__ import annotations

import importlib.util
import os
import time

from measure import median

#: The registry's ``headline=True`` queries; the per-layer metric names
#: (``plans.execute_s.<query>``) are built from this list.
HEADLINE = (
    "ktable_shareholders_view",
    "ktable_orders_rollup_by_cust",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_shuffle_fact_fact",
    "window_topk_per_group",
    "q7_volume_shipping",
    "q9_product_profit",
    "pipeline_pretraining_prep",
    "dedup_minhash_lsh",
    "dedup_pipeline_lsh_jaccard",
    "ann_topk_fixed_probe",
)


def load_verify_local(root: str):
    """The repository's oracle comparison module, ``tools/verify_local.py``
    (loaded by path: ``tools/`` is not a package)."""
    path = os.path.join(root, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def run(ctx) -> dict:
    from kafka_streams_and_ktable_example_spark import plans
    from kafka_streams_and_ktable_example_spark.sources.tables import TABLE_NAMES

    headline = plans.headline_queries()
    if set(headline) != set(HEADLINE):
        raise RuntimeError(
            f"headline queries changed: registry {sorted(headline)},"
            f" benchmark {sorted(HEADLINE)}; update HEADLINE and BENCHMARK.json"
        )
    spark, tr = ctx.spark, ctx.tracer
    names = list(headline)
    # --- set-up: one collected pass, kept for the oracle check -----------
    collected = {}
    for name in names:
        df = headline[name](spark, ctx.data_dir)
        collected[name] = (df.columns, [tuple(r) for r in df.collect()])
        spark.catalog.clearCache()
    ctx.setup_done()

    # --- timed phase: whole passes until the run length is used ----------
    passes: list[float] = []
    t_begin = time.perf_counter()
    k = 0
    while not passes or time.perf_counter() - t_begin + median(passes) <= ctx.seconds:
        shift = (ctx.seed + k) % len(names)
        order = names[shift:] + names[:shift]
        t0 = time.perf_counter()
        for name in order:
            ok = True
            try:
                with tr.span("plans.construct", name):
                    df = headline[name](spark, ctx.data_dir)
                with tr.span("plans.plan", name):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("plans.execute", name):
                    df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # a failing query is counted, not fatal
                ctx.log(f"{name}: {exc!r}")
                ok = False
            spark.catalog.clearCache()
            ctx.check(f"pass:{name}", ok)
        passes.append(time.perf_counter() - t0)
        k += 1
    timed_s = time.perf_counter() - t_begin
    ctx.log(
        f"timed phase: {timed_s:.1f} s, {len(passes)} passes ("
        + " ".join(f"{p:.2f}" for p in passes) + " s)"
    )

    # --- the set-up pass's results against the oracles, outside timing ---
    import duckdb

    canon_rows = load_verify_local(ctx.root).canon_rows
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{ctx.run_dir}/tmp'")
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{ctx.data_dir}/{t}.parquet'"
            )
        for name in names:
            res = con.execute(plans.REGISTRY[name].oracle)
            want = canon_rows([d[0] for d in res.description], res.fetchall())
            ctx.check(f"oracle:{name}", canon_rows(*collected[name]) == want)
    finally:
        con.close()

    metrics = {
        "latency_p50_s": (median(passes), "s"),
        "throughput_per_s": (len(passes) * len(names) / timed_s, "1/s"),
    }
    layers = {}
    if tr.enabled:
        n = len(passes)
        spans = [s for s in tr.spans if s["name"].startswith("plans.")]

        def per(field, scale=1.0):
            return sum(s[field] for s in spans) / n * scale

        layers = {
            "plans.construct_s": (tr.total("plans.construct") / n, "s"),
            "plans.plan_s": (tr.total("plans.plan") / n, "s"),
            "plans.execute_s": (tr.total("plans.execute") / n, "s"),
            "plans.jobs": (per("jobs"), "count"),
            "plans.stages": (per("stages"), "count"),
            "plans.tasks": (per("numTasks"), "count"),
            "plans.shuffle_write_mb": (per("shuffleWriteBytes", 1e-6), "MB"),
            "plans.spill_mb": (
                (per("memoryBytesSpilled") + per("diskBytesSpilled")) * 1e-6, "MB"),
            "plans.executor_cpu_s": (per("executorCpuTime", 1e-9), "s"),
            "plans.gc_s": (per("jvmGcTime", 1e-3), "s"),
        }
        for name in names:
            layers[f"plans.execute_s.{name}"] = (
                sum(s["end"] - s["start"] for s in spans
                    if s["name"] == "plans.execute" and s["request"] == name) / n,
                "s",
            )
    return {"metrics": metrics, "layers": layers}
