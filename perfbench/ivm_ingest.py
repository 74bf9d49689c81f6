"""``ivm_ingest``: small-delta writes into the incrementally maintained
shareholders view, each followed by reads of the fresh view.

Set-up bootstraps a ``SetIvmJob`` from the first 90% of the shareholders
changelog's offsets and runs a warm-up batch. The timed phase replays the
held-back 10% (the changelog's own upserts, exchange flips and tombstones,
in its own proportions) as equal-size micro-batches through ``readStream ->
foreachBatch -> availableNow``, the shape of ``run_shareholders_set_ivm``;
the seed picks the slice the replay starts at. After each batch a fixed
number of point lookups, for clients the batch just wrote, and one full
scan read the view. Every read is checked against an in-memory
latest-per-key model, and at the end the maintained view must equal a batch
recompute.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

from measure import dir_files, median, percentile, written_bytes

BOOTSTRAP_SHARE = 0.9
BATCH_SHARE = 0.005  # records per micro-batch, as a share of the changelog
WARMUP_BATCHES = 1
# 5 batches x 4 lookups = 20 lookups, the fewest percentile() takes for a p50
LOOKUPS_PER_BATCH = 4
MIN_TIMED_BATCHES = 5
SHUFFLE_WIDTH = "8"  # the per-batch width run_shareholders_set_ivm pins
EXCHANGES = ("NASDAQ", "LON", "NYSE")
VIEW_EXCHANGE = "NASDAQ"


class ViewModel:
    """Latest value per key, and the NASDAQ position set per client that
    the maintained view must equal. A value is a ``(client, id, ticker,
    exchange, amount)`` tuple, or ``None`` for a tombstone."""

    def __init__(self):
        self.latest: dict[str, tuple[int, tuple | None]] = {}
        self.view: dict[str, set[str]] = {}

    @staticmethod
    def _visible(value):
        if value is not None and value[3] == VIEW_EXCHANGE:
            return value[0], value[1]
        return None

    def apply(self, key: str, value: tuple | None, offset: int) -> None:
        old = self.latest.get(key)
        if old is not None and old[0] > offset:
            return
        if old is not None and (vis := self._visible(old[1])):
            ids = self.view[vis[0]]
            ids.discard(vis[1])
            if not ids:
                del self.view[vis[0]]
        self.latest[key] = (offset, value)
        if vis := self._visible(value):
            self.view.setdefault(vis[0], set()).add(vis[1])

    def lookup(self, client: str):
        ids = self.view.get(client)
        return sorted(ids) if ids else None

    def scan(self) -> list:
        return sorted((c, sorted(ids)) for c, ids in self.view.items())


class TailReplay:
    """The changelog records held back from the bootstrap, replayed in
    offset order as equal-size slices, starting at slice ``start_slice``.

    When the tail runs out the replay starts over from its first record,
    with every offset moved past the previous lap (by ``span``), so offsets
    keep rising and each lap re-sends the same writes as newer records.
    """

    def __init__(self, tail, span: int, size: int, start_slice: int):
        self.tail = sorted(tail, key=lambda r: r[2])
        self.span = span
        self.size = size
        self.pos = start_slice * size

    def batch(self) -> list[tuple[str, tuple | None, int]]:
        out = []
        for _ in range(self.size):
            lap, i = divmod(self.pos, len(self.tail))
            key, value, offset = self.tail[i]
            out.append((key, value, offset + lap * self.span))
            self.pos += 1
        return out


VALUE_FIELDS = ("client", "id", "ticker", "exchange", "amount")
ARROW_SCHEMA = pa.schema(
    [
        pa.field("key", pa.string(), nullable=False),
        pa.field(
            "value",
            pa.struct(
                [pa.field(f, pa.string()) for f in VALUE_FIELDS[:4]]
                + [pa.field("amount", pa.int32())]
            ),
        ),
        pa.field("offset", pa.int64(), nullable=False),
    ]
)


def _to_arrow(rows) -> pa.Table:
    return pa.Table.from_pylist(
        [
            {
                "key": k,
                "value": None if v is None else dict(zip(VALUE_FIELDS, v)),
                "offset": o,
            }
            for k, v, o in rows
        ],
        schema=ARROW_SCHEMA,
    )


def expected_changelog(orders: pa.Table) -> list[tuple[str, tuple | None, int]]:
    """The shareholders changelog, derived in Python from the orders table
    by the rule ``shareholders_changelog`` documents: key
    ``client:::ticker`` with client = o_custkey and ticker = 'T' ||
    o_orderkey % 7, exchange NASDAQ/LON/NYSE by o_orderkey % 3, amount the
    integer part of o_totalprice, a tombstone when o_orderkey % 11 == 0,
    offset o_orderkey."""
    out = []
    for ok, ck, price in zip(
        orders.column("o_orderkey").to_pylist(),
        orders.column("o_custkey").to_pylist(),
        orders.column("o_totalprice").to_pylist(),
    ):
        client, ticker = str(ck), f"T{ok % 7}"
        key = f"{client}:::{ticker}"
        value = None if ok % 11 == 0 else (
            client, key, ticker, EXCHANGES[ok % 3], int(price))
        out.append((key, value, ok))
    return out


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.operators.ktable import (
        grouped_reduce_view,
        latest_snapshot,
        scan_view,
    )
    from kafka_streams_and_ktable_example_spark.sources.changelog import (
        CHANGELOG_SCHEMA,
        shareholders_changelog,
    )
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SetIvmJob

    spark, tr = ctx.spark, ctx.tracer
    for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    ):
        spark.conf.set(k, SHUFFLE_WIDTH)
    src_dir = os.path.join(ctx.run_dir, "ivm_source")
    work_dir = os.path.join(ctx.run_dir, "ivm_work")
    ckpt_dir = os.path.join(ctx.run_dir, "ivm_checkpoint")
    os.makedirs(src_dir)

    # --- set-up: bootstrap the maintained state --------------------------
    with tr.span("sources.changelog_build"):
        changelog = shareholders_changelog(spark, ctx.data_dir)
    records = expected_changelog(pq.read_table(
        os.path.join(ctx.data_dir, "orders.parquet"),
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    ))
    last_offset = max(r[2] for r in records)
    batch_records = int(len(records) * BATCH_SHARE)
    cut = int((last_offset + 1) * BOOTSTRAP_SHARE)
    model = ViewModel()
    tail = []
    for key, value, offset in records:
        if offset < cut:
            model.apply(key, value, offset)
        else:
            tail.append((key, value, offset))
    replay = TailReplay(
        tail,
        span=last_offset + 1 - cut,
        size=batch_records,
        start_slice=ctx.seed % (len(tail) // batch_records),
    )
    bootstrap = changelog.where(F.col("offset") < cut)
    job = SetIvmJob(spark, work_dir)

    def apply_pending(request: str) -> None:
        """Run every staged file through the stream, one micro-batch each."""
        with tr.span("streaming.apply", request) as rec:
            query = (
                spark.readStream.schema(CHANGELOG_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
                .writeStream.foreachBatch(job.process_batch)
                .option("checkpointLocation", ckpt_dir)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
            if rec is not None:
                # micro-batch jobs run under the query's own job group
                rec["extra_groups"] = [str(query.runId)]

    with tr.span("streaming.apply", "bootstrap"):
        job.process_batch(bootstrap, 0)

    rng = random.Random(ctx.seed)
    stats = {"batch_s": [], "lookup_s": [], "scan_s": [], "rows": 0, "absent": 0}
    streaming = {"written": [], "input": [], "state": []}

    def cycle(i: int, timed: bool) -> None:
        rows = replay.batch()
        table = _to_arrow(rows)
        path = os.path.join(src_dir, f"{i:06d}.parquet")
        before = dir_files(work_dir) if tr.enabled else None
        t0 = time.perf_counter()
        with tr.span("sources.stage", f"batch-{i}"):
            pq.write_table(table, path)  # hand-over
        apply_pending(f"batch-{i}")
        batch_s = time.perf_counter() - t0
        if tr.enabled:
            streaming["written"].append(written_bytes(before, dir_files(work_dir)))
            streaming["input"].append(os.path.getsize(path))
            streaming["state"].append(
                sum(
                    sum(dir_files(os.path.join(work_dir, d)).values())
                    for d in ("compact_state", "set_view")
                )
            )
        for key, value, offset in rows:
            model.apply(key, value, offset)
        # read-your-writes: a lookup asks for a client this batch wrote; one
        # whose writes left no NASDAQ position is absent from the view
        for key, _value, _offset in rng.sample(rows, LOOKUPS_PER_BATCH):
            client = key.split(":::")[0]
            t0 = time.perf_counter()
            with tr.span("ktable.lookup_plan", f"batch-{i}"):
                q = job.view().where(F.col("client") == client).select("positions")
                q._jdf.queryExecution().executedPlan()
            with tr.span("ktable.lookup_exec", f"batch-{i}"):
                got = q.collect()
            lookup_s = time.perf_counter() - t0
            want = model.lookup(client)
            stats["absent"] += want is None
            ctx.check("lookup", [list(r[0]) for r in got] == ([want] if want else []))
            if timed:
                stats["lookup_s"].append(lookup_s)
        t0 = time.perf_counter()
        with tr.span("ktable.scan_exec", f"batch-{i}"):
            got = scan_view(job.view())
        scan_s = time.perf_counter() - t0
        ctx.check("scan", got == model.scan())
        if timed:
            stats["batch_s"].append(batch_s)
            stats["scan_s"].append(scan_s)
            stats["rows"] += len(rows)

    for i in range(WARMUP_BATCHES):
        cycle(i, timed=False)
    ctx.setup_done()

    # --- timed phase ------------------------------------------------------
    t_begin = time.perf_counter()
    i = WARMUP_BATCHES
    while time.perf_counter() - t_begin < ctx.seconds or i < WARMUP_BATCHES + MIN_TIMED_BATCHES:
        cycle(i, timed=True)
        i += 1
    timed_s = time.perf_counter() - t_begin
    ctx.log(
        f"timed phase: {timed_s:.1f} s, {len(stats['batch_s'])} batches ("
        + " ".join(f"{b:.2f}" for b in stats["batch_s"])
        + f" s), {len(stats['lookup_s'])} lookups, {len(stats['scan_s'])} scans;"
        f" {stats['absent']} lookups in all found no position"
    )

    # --- final check: the maintained view equals a recompute -------------
    with tr.span("operators.view_build"):
        final = scan_view(
            grouped_reduce_view(
                latest_snapshot(bootstrap.unionByName(
                    spark.read.schema(CHANGELOG_SCHEMA).parquet(src_dir))),
                predicate=F.col("exchange") == VIEW_EXCHANGE,
                group_col="client",
                collect_col="id",
            )
        )
    ctx.check("final_recompute", final == model.scan())
    ctx.check("final_ivm", scan_view(job.view()) == model.scan())

    metrics = {
        "latency_p50_s": (median(stats["batch_s"]), "s"),
        "throughput_per_s": (stats["rows"] / timed_s, "1/s"),
    }
    layers = {}
    if tr.enabled:
        def timed_spans(*names):
            """Spans of the timed batches (not set-up) called one of names."""
            return [
                s for s in tr.spans
                if s["name"] in names and s["request"].startswith("batch-")
                and int(s["request"][len("batch-"):]) >= WARMUP_BATCHES
            ]

        def mean_s(name):
            spans = timed_spans(name)
            return sum(s["end"] - s["start"] for s in spans) / len(spans)

        reads = timed_spans("ktable.lookup_plan", "ktable.lookup_exec", "ktable.scan_exec")
        n_reads = len(timed_spans("ktable.lookup_exec", "ktable.scan_exec"))
        batches = timed_spans("streaming.apply")
        nb = len(batches)
        w = streaming["written"][WARMUP_BATCHES:]
        inp = streaming["input"][WARMUP_BATCHES:]
        layers = {
            "sources.changelog_build_s": (tr.total("sources.changelog_build"), "s"),
            "sources.stage_s": (mean_s("sources.stage"), "s"),
            "operators.view_build_s": (tr.total("operators.view_build"), "s"),
            "operators.view_rows": (len(final), "count"),
            "ktable.lookup_plan_s": (mean_s("ktable.lookup_plan"), "s"),
            "ktable.lookup_exec_s": (mean_s("ktable.lookup_exec"), "s"),
            "ktable.scan_exec_s": (mean_s("ktable.scan_exec"), "s"),
            "ktable.jobs_per_read": (sum(s["jobs"] for s in reads) / n_reads, "count"),
            "ktable.tasks_per_read": (sum(s["numTasks"] for s in reads) / n_reads, "count"),
            "ktable.lookup_p50_s": (percentile(stats["lookup_s"], 50)[0], "s"),
            "ktable.scan_p50_s": (median(stats["scan_s"]), "s"),
            "streaming.jobs_per_batch": (sum(s["jobs"] for s in batches) / nb, "count"),
            "streaming.stages_per_batch": (sum(s["stages"] for s in batches) / nb, "count"),
            "streaming.shuffle_write_mb_per_batch": (
                sum(s["shuffleWriteBytes"] for s in batches) / nb / 1e6, "MB"),
            "streaming.executor_cpu_s_per_batch": (
                sum(s["executorCpuTime"] for s in batches) / nb / 1e9, "s"),
            "streaming.written_mb_per_batch": (sum(w) / len(w) / 1e6, "MB"),
            "streaming.write_amp": (sum(w) / sum(inp), "ratio"),
            "streaming.state_mb": (streaming["state"][-1] / 1e6, "MB"),
        }
    return {"metrics": metrics, "layers": layers}
