"""Streaming pipeline tests (SURVEY §5.2): the golden scenario replayed as
micro-batches, restart/idempotency of the foreachBatch merge, and
stream-equals-batch equivalence on real data."""

from __future__ import annotations

import contextlib
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from kafka_streams_and_ktable_example_spark.operators.ktable import scan_view, shareholders_view
from kafka_streams_and_ktable_example_spark.sources.changelog import (
    changelog_from_rows,
    shareholders_changelog,
)
from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
    ChangelogStreamJob,
    append_replay_file,
    run_shareholders_stream,
    write_changelog_chunks,
)
from tests.test_ktable import pos


def test_golden_scenario_incremental(spark, tmp_path):
    """fake_producer.clj:48-54 as three separate micro-batches, checking the
    view after each — the per-batch observation contract."""
    job = ChangelogStreamJob(spark, str(tmp_path / "state"))
    steps = [
        # (batch rows, expected view after batch)
        ([("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 99), 0)],
         [("daniel", ["daniel:::AAPL"])]),
        ([("daniel:::BT.A", pos("daniel", "BT.A", "LON", 1), 1)],
         [("daniel", ["daniel:::AAPL"])]),
        ([("daniel:::AAPL", None, 2)], []),
    ]
    for epoch, (rows, expected) in enumerate(steps):
        job.process_batch(changelog_from_rows(spark, rows), epoch)
        view = job.snapshot().where(F.col("exchange") == "NASDAQ").groupBy(
            "client"
        ).agg(F.sort_array(F.collect_set("id")).alias("positions"))
        assert scan_view(view) == expected, f"after batch {epoch}"


_ORDERS_SCHEMA = (
    "key long, "
    "value struct<o_custkey:long, o_orderstatus:string, o_totalprice:double>, "
    "offset long"
)
_JOIN_SCHEMA = (
    "key long, src string, o_custkey long, o_totalprice double, "
    "c_mktsegment string, tombstone boolean, offset long"
)
_COGROUP_SCHEMA = (
    "key string, src string, o_custkey long, o_totalprice double,"
    " client string, exchange string, tombstone boolean, offset long"
)
_DOC_A = "the quick brown fox jumps over the lazy dog"
_DOC_B = "a completely different document about spark engines"
_SHAREHOLDER_BATCHES = [
    [
        ("a:::T1", pos("a", "T1", "NASDAQ", 1), 0),
        ("a:::T2", pos("a", "T2", "NASDAQ", 2), 1),
        ("b:::T3", pos("b", "T3", "LON", 3), 2),
    ],
    [
        ("a:::T1", None, 3),
        ("b:::T3", pos("b", "T3", "NASDAQ", 3), 4),
        ("a:::T2", pos("a", "T2", "LON", 2), 5),
    ],
    [
        ("c:::T4", pos("c", "T4", "NASDAQ", 4), 6),
        ("a:::T1", pos("a", "T1", "NASDAQ", 1), 7),
    ],
]
_ORDER_BATCHES = [
    [(1, (100, "O", 10.0), 0), (2, (100, "O", 5.0), 1)],
    [(1, (200, "F", 20.0), 2), (2, None, 3)],
    [(3, (200, "O", 1.0), 4), (1, (100, "O", 7.0), 5)],
]
# job class name -> (batch schema, three batches, view accessor, #tables)
IVM_SCENARIOS = {
    "ChangelogStreamJob": (None, _SHAREHOLDER_BATCHES, "snapshot", 1),
    "AggIvmJob": (_ORDERS_SCHEMA, _ORDER_BATCHES, "view", 2),
    "JoinIvmJob": (
        _JOIN_SCHEMA,
        [
            [
                (1, "c", None, None, "BUILDING", False, 1),
                (10, "o", 1, 100.0, None, False, 2),
                (11, "o", 2, 50.0, None, False, 3),
            ],
            [
                (10, "o", 1, 120.0, None, False, 4),
                (2, "c", None, None, "MACHINERY", False, 5),
            ],
            [
                (1, "c", None, None, None, True, 6),
                (12, "o", 2, 70.0, None, False, 7),
            ],
        ],
        "view_df",
        3,
    ),
    "StreamingLshDedupJob": (
        "doc_id long, text string, lang string",
        [
            [(1, _DOC_A, "en"), (2, "tiny", "en")],
            [(3, _DOC_A, "en"), (4, _DOC_B, "en"), (1, None, "en")],
            [(5, _DOC_B, "en"), (6, _DOC_A + " again", "de")],
        ],
        "kept_df",
        2,
    ),
    "Scd2IvmJob": (_ORDERS_SCHEMA, _ORDER_BATCHES, "view", 1),
    "SetIvmJob": (None, _SHAREHOLDER_BATCHES, "view", 1),
    "CogroupIvmJob": (
        _COGROUP_SCHEMA,
        [
            [
                ("o:1", "o", 7, 100.0, None, None, False, 0),
                ("s:7:::T1", "s", None, None, "7", "NASDAQ", False, 1),
            ],
            [
                ("o:2", "o", 8, 50.0, None, None, False, 2),
                ("o:1", "o", None, None, None, None, True, 3),
            ],
            [
                ("s:7:::T1", "s", None, None, None, None, True, 4),
                ("s:8:::T2", "s", None, None, "8", "LON", False, 5),
            ],
        ],
        "view",
        2,
    ),
}


def _ivm_case(spark, name):
    """(job class, the scenario's three batch DataFrames, view reader)."""
    from kafka_streams_and_ktable_example_spark.streaming import pipeline

    schema, batches, accessor, _ = IVM_SCENARIOS[name]
    frames = [
        changelog_from_rows(spark, rows)
        if schema is None
        else spark.createDataFrame(rows, schema)
        for rows in batches
    ]

    def view(job):
        return sorted(repr(r) for r in getattr(job, accessor)().collect())

    return getattr(pipeline, name), frames, view


def test_batch_replay_is_idempotent(spark, tmp_path):
    """Re-processing the same batch (restart-after-crash) must converge to
    the same state, for every foreachBatch job: replaying epoch 1 in the
    same job and again in a restarted one leaves the view unchanged."""
    for name in IVM_SCENARIOS:
        cls, (b0, b1, _), view = _ivm_case(spark, name)
        work = str(tmp_path / name)
        job = cls(spark, work)
        job.process_batch(b0, 0)
        job.process_batch(b1, 1)
        first = view(job)
        job.process_batch(b1, 1)  # replay in the same process
        job = cls(spark, work)
        job.process_batch(b1, 1)  # replay after a restart
        assert view(job) == first, name


class _Crash(Exception):
    pass


def _inject_crash(m, after_write: int) -> None:
    """Make the next commit die right after its ``after_write``-th parquet
    write, or right after publishing the manifest when no such write
    comes."""
    from pyspark.sql.readwriter import DataFrameWriter

    writes = []
    real_parquet, real_replace = DataFrameWriter.parquet, os.replace

    def parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        writes.append(path)
        if len(writes) == after_write:
            raise _Crash(path)

    def replace(src, dst, *args, **kwargs):
        real_replace(src, dst, *args, **kwargs)
        if dst.endswith("_manifest.json"):
            raise _Crash(dst)

    m.setattr(DataFrameWriter, "parquet", parquet)
    m.setattr(os, "replace", replace)


def _crash_base(spark, tmp_path, name: str, version: int):
    """``name``'s job with ``b0`` committed as version 1 and empty batches
    up to ``version - 1``, in a base dir that each crash copies, and the
    view an uninterrupted run reaches after ``b1`` and ``b2``. Returns
    (job class, b1, b2, view reader, base dir, b1's epoch, that view)."""
    import shutil

    cls, (b0, b1, b2), view = _ivm_case(spark, name)
    base = str(tmp_path / f"base{version}")
    job = cls(spark, base)
    job.process_batch(b0, 0)
    for epoch in range(1, version - 1):
        job.process_batch(b0.limit(0), epoch)
    job.close()
    epoch = version - 1
    shutil.copytree(base, str(tmp_path / f"ref{version}"))
    ref = cls(spark, str(tmp_path / f"ref{version}"))
    ref.process_batch(b1, epoch)
    ref.process_batch(b2, epoch + 1)
    return cls, b1, b2, view, base, epoch, view(ref)


@pytest.mark.parametrize("name", sorted(IVM_SCENARIOS))
def test_crash_mid_commit_replays_to_same_view(spark, tmp_path, monkeypatch, name):
    """Crash injection at every commit boundary: epoch 1 dies after each
    table write and after the manifest write; a restarted job replays the
    same (query id, epoch) and then epoch 2. The view must equal an
    uninterrupted run — no lost state, no delta applied twice. The crashed
    commit is version 2, where a delta table writes its delta, and again
    version ``SNAPSHOT_EVERY``, where every table writes a snapshot."""
    import shutil

    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SNAPSHOT_EVERY

    n_tables = IVM_SCENARIOS[name][3]
    for version in (2, SNAPSHOT_EVERY):
        cls, b1, b2, view, base, epoch, want = _crash_base(spark, tmp_path, name, version)
        for point in range(1, n_tables + 2):
            work = str(tmp_path / f"crash{version}_{point}")
            shutil.copytree(base, work)
            with monkeypatch.context() as m:
                _inject_crash(m, point)
                with contextlib.suppress(_Crash):
                    cls(spark, work).process_batch(b1, epoch)
            job = cls(spark, work)  # the restarted process
            job.process_batch(b1, epoch)
            job.process_batch(b2, epoch + 1)
            assert view(job) == want, (
                f"{name}: crash after step {point} of version {version}"
            )


def test_set_ivm_retry_in_same_process_after_crash(spark, tmp_path, monkeypatch):
    """A SetIvmJob whose commit dies (after its delta or snapshot write,
    or after the manifest) retries the same epoch in the same process: its
    in-memory version is still the last committed one, so the retry and
    the next batch give the uninterrupted view."""
    import shutil

    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SNAPSHOT_EVERY

    for version in (2, SNAPSHOT_EVERY):
        cls, b1, b2, view, base, epoch, want = _crash_base(
            spark, tmp_path, "SetIvmJob", version
        )
        for point in (1, 2):
            work = str(tmp_path / f"retry{version}_{point}")
            shutil.copytree(base, work)
            job = cls(spark, work)
            job.view().count()  # rebuild the in-memory version first
            with monkeypatch.context() as m:
                _inject_crash(m, point)
                with pytest.raises(_Crash):
                    job.process_batch(b1, epoch)
            job.process_batch(b1, epoch)
            job.process_batch(b2, epoch + 1)
            assert view(job) == want, f"retry after step {point} of version {version}"
            job.close()


def _set_batches(spark, n: int) -> list:
    """``n`` deterministic shareholders micro-batches over 5 clients x 4
    tickers: adds, exchange flips, amount changes and tombstones."""
    exchanges = ("NASDAQ", "LON", "NASDAQ", "NYSE")
    out, offset = [], 0
    for b in range(n):
        rows = []
        for j in range(6):
            client, ticker = f"c{(b + j) % 5}", f"T{(b * 3 + j) % 4}"
            value = None if (b + 2 * j) % 7 == 0 else pos(
                client, ticker, exchanges[(b + j) % 4], b * 10 + j
            )
            rows.append((f"{client}:::{ticker}", value, offset))
            offset += 1
        out.append(changelog_from_rows(spark, rows))
    return out


@pytest.fixture(scope="module")
def set_ivm_after_12(spark, tmp_path_factory):
    """A SetIvmJob after 12 batches (a snapshot at version 8, deltas after
    it), with the batches it took."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SetIvmJob

    batches = _set_batches(spark, 12)
    job = SetIvmJob(spark, str(tmp_path_factory.mktemp("set_ivm_12")))
    for epoch, batch in enumerate(batches):
        job.process_batch(batch, epoch)
    yield job, batches
    job.close()


def test_set_ivm_restart_reads_same_view(spark, set_ivm_after_12):
    """A fresh SetIvmJob on the same work_dir rebuilds the view from the
    snapshot plus its deltas, and it equals both the live job's in-memory
    view and a batch recompute of every record."""
    from functools import reduce

    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SetIvmJob

    job, batches = set_ivm_after_12
    live = scan_view(job.view())
    fresh = SetIvmJob(spark, job.work_dir)
    assert fresh.manifest["version"] == 12
    assert list(fresh.manifest["tables"]) == ["compact_state"]
    assert fresh.manifest["tables"]["compact_state"]["snapshot"] == 8
    assert fresh.manifest["tables"]["compact_state"]["deltas"] == [9, 10, 11, 12]
    assert scan_view(fresh.view()) == live
    fresh.close()
    recompute = shareholders_view(
        reduce(lambda a, b: a.unionByName(b), batches)
    )
    assert live == scan_view(recompute)


def test_set_ivm_live_version_partitions_bounded(spark, set_ivm_after_12):
    """Each commit unions the recomputed clients into the live version;
    the commit coalesces it, so the partition count does not grow with
    the batches."""
    job, _ = set_ivm_after_12
    bound = spark.sparkContext.defaultParallelism
    assert job.view().rdd.getNumPartitions() <= bound
    assert job.read("compact_state", None).rdd.getNumPartitions() <= bound


def test_set_ivm_delta_holds_exactly_the_batch_clients(spark, tmp_path):
    """Version 2's delta file holds one row per client of batch 2, all
    stamped ``_v = 2``, and each equals that client's live row."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SetIvmJob

    b1, b2 = _set_batches(spark, 2)
    job = SetIvmJob(spark, str(tmp_path / "work"))
    job.process_batch(b1, 0)
    job.process_batch(b2, 1)
    delta = spark.read.parquet(str(tmp_path / "work" / "compact_state" / "delta" / "2"))
    clients = {r.key.split(":::")[0] for r in b2.collect()}

    def rows(df):
        return sorted(
            (r.client, list(r.positions), sorted(map(repr, r.records)), r._v)
            for r in df.collect()
        )

    got = rows(delta)
    assert [r[0] for r in got] == sorted(clients)
    assert {r[3] for r in got} == {2}
    live = job.read("compact_state", None)
    assert got == rows(live.where(F.col("client").isin(*clients)))
    job.close()


def test_set_ivm_delta_batch_runs_at_most_four_jobs(spark, tmp_path):
    """A delta batch of SetIvmJob, read from a parquet file as a stream's
    batch is, runs at most four Spark jobs: the broadcast of the batch's
    clients, the shuffle map, the materialize and the delta write."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        SNAPSHOT_EVERY,
        SetIvmJob,
    )

    b1, b2 = _set_batches(spark, 2)
    src = str(tmp_path / "b2")
    b2.write.parquet(src)
    job = SetIvmJob(spark, str(tmp_path / "work"))
    job.process_batch(b1, 0)
    assert job.next_version % SNAPSHOT_EVERY
    sc = spark.sparkContext
    group = f"set_ivm_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one SetIvmJob delta batch")
    try:
        job.process_batch(spark.read.schema(b2.schema).parquet(src), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts arrive async
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert job.manifest["tables"]["compact_state"]["deltas"] == [1, 2]
    assert 0 < len(jobs) <= 4, sorted(jobs)
    job.close()


def test_direct_epoch_then_fresh_stream_epoch_zero_both_apply(spark, tmp_path):
    """A direct process_batch(batch, 0) followed by a fresh-checkpoint
    stream, whose first batch is also epoch 0, must apply both: the commit
    key carries the stream's query id, and a direct call has none."""
    from kafka_streams_and_ktable_example_spark.sources.changelog import CHANGELOG_SCHEMA
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SetIvmJob

    job = SetIvmJob(spark, str(tmp_path / "work"))
    job.process_batch(
        changelog_from_rows(spark, [("a:::T1", pos("a", "T1", "NASDAQ", 1), 0)]), 0
    )
    src = str(tmp_path / "src")
    changelog_from_rows(
        spark, [("b:::T2", pos("b", "T2", "NASDAQ", 2), 1)]
    ).write.parquet(src)
    (
        spark.readStream.schema(CHANGELOG_SCHEMA)
        .parquet(src)
        .writeStream.foreachBatch(job.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = sorted((r.client, list(r.positions)) for r in job.view().collect())
    assert got == [("a", ["a:::T1"]), ("b", ["b:::T2"])]


def test_chunk_replay_follows_offset_order(spark, sf_dir, tmp_path):
    """write_changelog_chunks promises earlier offsets first: a stream over
    its output, one file per micro-batch, sees strictly rising batch
    minimum offsets. The chunks are written by 16 parallel tasks, as at
    sf0.1 (at this scale AQE would otherwise coalesce the write into one
    task that writes the chunks in order). Frames added afterwards with
    append_replay_file replay last, in the order they were appended."""
    chunk_dir = str(tmp_path / "chunks")
    cl = shareholders_changelog(spark, sf_dir)
    confs = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        write_changelog_chunks(cl, chunk_dir, n_chunks=8)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    hi = cl.agg(F.max("offset")).first()[0]
    appended = [hi + 1, hi + 2]
    for off in appended:
        append_replay_file(
            spark.createDataFrame([("z:::Z", off)], "key string, offset long"),
            chunk_dir,
        )
    mins = []
    (
        spark.readStream.schema("key string, offset long")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .writeStream.foreachBatch(
            lambda df, _: mins.append(df.agg(F.min("offset")).first()[0])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert len(mins) == 10
    assert all(a < b for a, b in zip(mins, mins[1:])), mins
    assert mins[-2:] == appended


def test_out_of_order_across_batches(spark, tmp_path):
    """A stale record arriving after a newer one (cross-batch) must lose the
    compaction race — including against a tombstone."""
    job = ChangelogStreamJob(spark, str(tmp_path / "state"))
    job.process_batch(
        changelog_from_rows(spark, [("a:::T", None, 10)]), 0
    )  # tombstone at offset 10
    job.process_batch(
        changelog_from_rows(spark, [("a:::T", pos("a", "T", "NASDAQ", 1), 5)]), 1
    )  # stale upsert from the past
    assert job.snapshot().count() == 0


def test_stream_equals_batch_on_real_data(spark, sf_dir):
    """End-to-end: 8-micro-batch streaming replay over the synthesized
    changelog equals the one-shot batch view (SURVEY §4.3)."""
    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = tempfile.mkdtemp(prefix="test_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=8)
    streamed = run_shareholders_stream(spark, chunk_dir)
    batch = shareholders_view(cl)
    assert scan_view(streamed) == scan_view(batch)


def test_stateful_golden_scenario(spark, tmp_path):
    """fake_producer.clj:48-54 through the applyInPandasWithState operator:
    add AAPL@NASDAQ, add BT.A@LON (filtered), delete AAPL → empty view."""
    from kafka_streams_and_ktable_example_spark.streaming.stateful import (
        run_shareholders_stateful,
    )

    rows = [
        ("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 99), 0),
        ("daniel:::BT.A", pos("daniel", "BT.A", "LON", 1), 1),
        ("daniel:::AAPL", None, 2),
    ]
    chunk_dir = str(tmp_path / "chunks")
    write_changelog_chunks(changelog_from_rows(spark, rows), chunk_dir, n_chunks=3)
    final = run_shareholders_stateful(spark, chunk_dir)
    assert final.count() == 0


def test_stateful_equals_batch_on_real_data(spark, sf_dir):
    """The per-group incremental state path must equal the batch recompute
    (SURVEY §4.3) — same contract as the foreachBatch path."""
    from kafka_streams_and_ktable_example_spark.streaming.stateful import (
        run_shareholders_stateful,
    )

    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = tempfile.mkdtemp(prefix="test_stateful_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=6)
    streamed = run_shareholders_stateful(spark, chunk_dir)
    batch = shareholders_view(cl).select(
        "client", F.concat_ws(",", "positions").alias("positions")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_kafka_record_parsing(spark):
    """Kafka record shape → changelog contract: JSON value parses to the
    position struct, a tombstone (null value bytes) stays null
    (NotSerializeNil passthrough, kafka_streams.clj:21-26), the total
    order packs (partition, offset) monotonically per partition, and a
    poison pill is QUARANTINED — never mistaken for a tombstone."""
    from kafka_streams_and_ktable_example_spark.sources.kafka import (
        parse_changelog_records,
        quarantined_changelog_records,
    )

    rows = [
        (
            bytearray(b"daniel:::AAPL"),
            bytearray(
                b'{"client":"daniel","id":"daniel:::AAPL","ticker":"AAPL",'
                b'"exchange":"NASDAQ","amount":99}'
            ),
            1,
            7,
        ),
        (bytearray(b"daniel:::AAPL"), None, 1, 8),  # tombstone
        (bytearray(b"x:::T"), bytearray(b"not json"), 0, 1),  # poison pill
    ]
    raw = spark.createDataFrame(
        rows, "key binary, value binary, partition int, offset long"
    )
    out = parse_changelog_records(raw).orderBy("offset").collect()
    # the poison pill is gone from the changelog...
    assert [r.key for r in out] == ["daniel:::AAPL", "daniel:::AAPL"]
    assert out[0].value.exchange == "NASDAQ" and out[0].value.amount == 99
    assert out[0].offset == (1 << 40) + 7
    assert out[1].value is None  # tombstone passthrough
    assert out[1].offset == (1 << 40) + 8  # later offset, same partition
    # ...and lands in quarantine with its payload and reason
    q = quarantined_changelog_records(raw).collect()
    assert len(q) == 1
    assert q[0].key == "x:::T" and q[0].reason == "malformed_value"
    assert bytes(q[0].raw_value) == b"not json"


def test_kafka_parse_malformed_policies(spark):
    """skip/fail policies + corruption taxonomy: truncated JSON, empty
    (non-null) payloads, and null keys quarantine; sparse-but-valid JSON
    passes (schema-evolution tolerance); fail mode raises."""
    import pytest as _pytest

    from kafka_streams_and_ktable_example_spark.sources.kafka import (
        parse_changelog_records,
        quarantined_changelog_records,
    )

    rows = [
        (bytearray(b"a:::T"), bytearray(b'{"client":"a'), 0, 1),  # truncated
        (bytearray(b"b:::T"), bytearray(b""), 0, 2),  # empty bytes
        (None, bytearray(b'{"client":"c"}'), 0, 3),  # null key
        (bytearray(b"d:::T"), bytearray(b'{"client":"d"}'), 0, 4),  # sparse OK
        (bytearray(b"e:::T"), None, 0, 5),  # tombstone OK
    ]
    raw = spark.createDataFrame(
        rows, "key binary, value binary, partition int, offset long"
    )
    kept = parse_changelog_records(raw).orderBy("offset").collect()
    assert [r.key for r in kept] == ["d:::T", "e:::T"]
    assert kept[0].value.client == "d" and kept[0].value.ticker is None
    assert kept[1].value is None
    reasons = sorted(
        (r.offset, r.reason)
        for r in quarantined_changelog_records(raw).collect()
    )
    assert reasons == [(1, "malformed_value"), (2, "malformed_value"), (3, "null_key")]
    with _pytest.raises(Exception, match="malformed changelog record"):
        parse_changelog_records(raw, malformed="fail").collect()
    with _pytest.raises(ValueError, match="policy"):
        parse_changelog_records(raw, malformed="bogus")


def test_view_delta_trace_golden_scenario(spark, tmp_path):
    """The per-batch change trace of the materialized view over the golden
    scenario (fake_producer.clj:48-54): insert on add, silence on the
    filtered-out add, delete-with-null when the set empties — the records
    the reference's .print sink / downstream KTable consumers observe."""
    from kafka_streams_and_ktable_example_spark.operators.deltas import view_deltas

    job = ChangelogStreamJob(spark, str(tmp_path / "state"))
    batches = [
        [("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 99), 0)],
        [("daniel:::BT.A", pos("daniel", "BT.A", "LON", 1), 1)],
        [("daniel:::AAPL", None, 2)],
    ]
    expected_traces = [
        [("daniel", "insert", ["daniel:::AAPL"])],
        [],  # LON position never enters the NASDAQ view
        [("daniel", "delete", None)],
    ]

    def current_view():
        return (
            job.snapshot()
            .where(F.col("exchange") == "NASDAQ")
            .groupBy("client")
            .agg(F.sort_array(F.collect_set("id")).alias("positions"))
        )

    old = current_view()
    for epoch, (rows, expected) in enumerate(zip(batches, expected_traces)):
        old_rows = old.collect()  # materialize before state mutates
        old_df = spark.createDataFrame(
            old_rows, "client string, positions array<string>"
        )
        job.process_batch(changelog_from_rows(spark, rows), epoch)
        new = current_view()
        got = sorted(
            (r.client, r.op, list(r.positions) if r.positions else None)
            for r in view_deltas(old_df, new).collect()
        )
        assert got == expected, f"batch {epoch}: {got}"
        old = new


def test_checkpoint_resume_across_runs(spark, sf_dir, tmp_path):
    """Fault tolerance: replay half the chunks, then resume the SAME
    checkpoint/state dirs with the full chunk set — the second run must
    process only the new files and converge to the batch answer
    (restart-after-crash, the reference's changelog-restore analog)."""
    import shutil

    cl = shareholders_changelog(spark, sf_dir)
    all_chunks = tempfile.mkdtemp(prefix="resume_all_")
    write_changelog_chunks(cl, all_chunks, n_chunks=6)
    live_dir = str(tmp_path / "live")
    os.makedirs(live_dir)
    files = sorted(os.listdir(all_chunks))
    for f in files[:3]:
        shutil.copy(os.path.join(all_chunks, f), os.path.join(live_dir, f))
    work = str(tmp_path / "work")
    first = run_shareholders_stream(spark, live_dir, work_dir=work)
    first.collect()  # finish run 1
    for f in files[3:]:
        shutil.copy(os.path.join(all_chunks, f), os.path.join(live_dir, f))
    resumed = run_shareholders_stream(spark, live_dir, work_dir=work)
    batch = shareholders_view(cl)
    assert scan_view(resumed) == scan_view(batch)


def test_shuffled_chunk_replay(spark, sf_dir, tmp_path):
    """Out-of-order micro-batch delivery: replaying chunks in scrambled
    order must converge to the same view — compaction state keeps max
    offset per key, including tombstones (log-compaction semantics).
    The file source replays in (mtime, path) order, so both are
    scrambled."""
    import random

    cl = shareholders_changelog(spark, sf_dir)
    chunks = tempfile.mkdtemp(prefix="shuffled_chunks_")
    write_changelog_chunks(cl, chunks, n_chunks=6)
    # scramble delivery order by renaming files
    files = sorted(os.listdir(chunks))
    order = list(range(len(files)))
    random.Random(7).shuffle(order)
    for f, i in zip(files, order):
        scrambled = os.path.join(chunks, f"z{i:03d}.parquet.tmp")
        os.rename(os.path.join(chunks, f), scrambled)
        os.utime(scrambled, (1_600_000_000 + i,) * 2)
    for f in os.listdir(chunks):
        os.rename(os.path.join(chunks, f), os.path.join(chunks, f.replace(".tmp", "")))
    streamed = run_shareholders_stream(spark, chunks)
    batch = shareholders_view(cl)
    assert scan_view(streamed) == scan_view(batch)


def test_watermark_drops_late_data(spark, tmp_path):
    """Event-time watermark semantics, pinned concretely: in append mode a
    row arriving after the watermark has passed its window is DROPPED and
    never emitted. Batch 1 advances event time to 10:00 (+10min watermark
    => windows before 09:50 are closable); batch 2 delivers an event for
    the long-closed 08:00 window — it must not appear."""
    import datetime as dt
    import shutil

    import pyspark.sql.functions as F

    chunk_dir = str(tmp_path / "late_chunks")
    os.makedirs(chunk_dir)
    schema = "event_id long, ts timestamp, value double"

    def write_chunk(name, rows):
        stage = tmp_path / ("stage_" + name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        src = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.move(str(stage / src), os.path.join(chunk_dir, f"{name}.parquet"))

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    write_chunk("000", [(1, t(8, 5), 1.0), (2, t(10, 0), 1.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # late arrival for the closed 08:00 window + a fresh event that
        # keeps the watermark advancing
        write_chunk("001", [(3, t(8, 10), 1.0), (4, t(11, 30), 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {
        (r["window"].start.hour, r.n) for r in spark.table("late_test").collect()
    }
    # the 08:00 window closed with ONLY the on-time event; the late row
    # (event_id 3) was dropped — no (8, 2) emission
    assert (8, 1) in emitted, emitted
    assert (8, 2) not in emitted, emitted


def test_ivm_rekey_and_group_vanish(spark, tmp_path):
    """AggIvmJob: a key re-keying to a new group moves its contribution
    (subtract lands on the old group, add on the new); a group whose
    count reaches zero disappears (nil-deletes-row)."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import AggIvmJob

    schema = (
        "key long, "
        "value struct<o_custkey:long, o_orderstatus:string, o_totalprice:double>, "
        "offset long"
    )
    b1 = spark.createDataFrame(
        [(1, (100, "O", 10.0), 0), (2, (100, "O", 5.0), 1)], schema
    )
    b2 = spark.createDataFrame(
        [(1, (200, "O", 20.0), 2), (2, None, 3)], schema
    )
    job = AggIvmJob(spark, str(tmp_path / "ivm"))
    job.process_batch(b1, 0)
    mid = {
        (r.o_custkey, r.n_orders, r.total_price) for r in job.view().collect()
    }
    assert mid == {(100, 2, 15.0)}
    job.process_batch(b2, 1)
    end = {
        (r.o_custkey, r.n_orders, r.total_price) for r in job.view().collect()
    }
    # key 1 re-keyed 100→200 (value 20), key 2 tombstoned: group 100 is GONE
    assert end == {(200, 1, 20.0)}


def test_ivm_stale_batch_record_loses(spark, tmp_path):
    """An out-of-order record with an offset below the stored one must not
    change the aggregate (union-compact picks the stored winner; the
    subtract/add pair cancels)."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import AggIvmJob

    schema = (
        "key long, "
        "value struct<o_custkey:long, o_orderstatus:string, o_totalprice:double>, "
        "offset long"
    )
    b1 = spark.createDataFrame([(1, (100, "O", 10.0), 5)], schema)
    stale = spark.createDataFrame([(1, (100, "O", 99.0), 2)], schema)
    job = AggIvmJob(spark, str(tmp_path / "ivm2"))
    job.process_batch(b1, 0)
    job.process_batch(stale, 1)
    end = {
        (r.o_custkey, r.n_orders, r.total_price) for r in job.view().collect()
    }
    assert end == {(100, 1, 10.0)}


def test_join_ivm_golden_scenario(spark, tmp_path):
    """JoinIvmJob semantics on a scripted two-entity changelog:
    - an order's update re-prices it in the view;
    - a customer tombstone retracts ALL that customer's orders;
    - an order tombstone removes just that order;
    - a customer arriving AFTER its orders back-fills them into the view.
    """
    import pyspark.sql.functions as F

    from kafka_streams_and_ktable_example_spark.streaming.pipeline import JoinIvmJob

    rows_schema = (
        "key long, src string, o_custkey long, o_totalprice double, "
        "c_mktsegment string, tombstone boolean, offset long"
    )
    batches = [
        # batch 0: customer 1 + orders 10 (cust 1) and 11 (cust 2 — no
        # customer row yet, must NOT appear)
        [
            (1, "c", None, None, "BUILDING", False, 1),
            (10, "o", 1, 100.0, None, False, 2),
            (11, "o", 2, 50.0, None, False, 3),
        ],
        # batch 1: order 10 re-priced; customer 2 arrives (back-fills 11)
        [
            (10, "o", 1, 120.0, None, False, 4),
            (2, "c", None, None, "MACHINERY", False, 5),
        ],
        # batch 2: customer 1 tombstoned (retracts order 10);
        # order 11 tombstoned
        [
            (1, "c", None, None, None, True, 6),
            (11, "o", None, None, None, True, 7),
        ],
    ]
    job = JoinIvmJob(spark, str(tmp_path))
    for epoch, rows in enumerate(batches):
        job.process_batch(spark.createDataFrame(rows, rows_schema), epoch)
        if epoch == 0:
            got = {
                (r.o_orderkey, r.o_totalprice, r.c_mktsegment)
                for r in job.view_df().collect()
            }
            assert got == {(10, 100.0, "BUILDING")}, got
        if epoch == 1:
            got = {
                (r.o_orderkey, r.o_totalprice, r.c_mktsegment)
                for r in job.view_df().collect()
            }
            assert got == {(10, 120.0, "BUILDING"), (11, 50.0, "MACHINERY")}, got
    assert job.view_df().count() == 0  # both legs retracted


def test_streaming_lsh_dedup_drops_known_dup(spark, tmp_path):
    """A doc identical to an earlier-batch doc must be dropped; novel docs
    survive; short docs (no shingles) always survive."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        StreamingLshDedupJob,
    )

    schema = "doc_id long, text string, lang string"
    b0 = [(1, "the quick brown fox jumps over the lazy dog", "en"),
          (2, "tiny", "en")]
    b1 = [(3, "the quick brown fox jumps over the lazy dog", "en"),
          (4, "a completely different document about spark engines", "en")]
    job = StreamingLshDedupJob(spark, str(tmp_path))
    job.process_batch(spark.createDataFrame(b0, schema), 0)
    job.process_batch(spark.createDataFrame(b1, schema), 1)
    kept = {r.doc_id for r in job.kept_df().collect()}
    assert kept == {1, 2, 4}, kept


def test_streaming_lsh_dedup_retraction_add_delete_readd(spark, tmp_path):
    """Tombstone (NULL text) retracts a doc's bands from the index: after
    the delete the doc stops matching future candidates, so a re-add of
    the same content is evaluated fresh and KEPT — replayed through the
    real file-stream machinery as add → delete → re-add micro-batches."""
    import os

    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        StreamingLshDedupJob,
    )

    schema = "doc_id long, text string, lang string"
    text = "the quick brown fox jumps over the lazy dog again and again"
    batches = [
        [(1, text, "en")],          # add
        [(1, None, "en")],          # tombstone: retract bands + kept row
        [(9, text, "en")],          # same content, new id — must survive
    ]
    chunk_dir = tmp_path / "chunks"
    os.makedirs(chunk_dir)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
    # one file per batch, named in replay order
    for i in range(len(batches)):
        stage = tmp_path / f"stage{i}"
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(stage / part, chunk_dir / f"chunk-{i:03d}.parquet")

    job = StreamingLshDedupJob(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunk_dir))
    )
    q = (
        stream.writeStream.foreachBatch(job.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    kept = {r.doc_id for r in job.kept_df().collect()}
    assert kept == {9}, kept  # re-add survives; deleted doc gone
    idx_docs = {
        r.doc_id for r in job.read("band_index", job.IDX_SCHEMA).collect()
    }
    assert idx_docs == {9}, idx_docs  # doc 1's bands fully retracted

    # without retraction the re-add would collide with doc 1's stale bands:
    # prove the index now answers candidates correctly for a near-dup probe
    job.process_batch(
        spark.createDataFrame([(12, text, "en")], schema), 99
    )
    kept2 = {r.doc_id for r in job.kept_df().collect()}
    assert kept2 == {9}, kept2  # 12 collides with 9 (not with ghost 1)


def test_schema_evolution_merged_read(spark, tmp_path):
    """Parquet schema evolution: a v2 writer adds a column; mergeSchema
    reads both generations, null-filling v1 rows — the contract that lets
    a 100 TB table evolve without rewrite."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "tbl")
    spark.range(5).select(F.col("id"), F.lit("a").alias("src")).write.parquet(
        base + "/gen=1"
    )
    spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("src"), F.lit(1.5).alias("score")
    ).write.parquet(base + "/gen=2")
    df = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(df.columns) == {"id", "src", "score", "gen"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[0] is None and rows[7] == 1.5
    assert df.count() == 8


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """Stop-and-resume continuation: a checkpointed availableNow run over
    half the changelog, then MORE files appear and the stream restarts with
    the same checkpoint — the resumed run must pick up exactly the new
    files (source offsets came from the checkpoint, not from scratch) and
    converge to the one-shot batch view. This is the restart contract a
    24/7 ingest job lives on (kafka_streams.clj:55 earliest-offset resume
    ≡ checkpointed file-source offsets)."""
    from kafka_streams_and_ktable_example_spark.sources.changelog import CHANGELOG_SCHEMA

    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = tempfile.mkdtemp(prefix="resume_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=4)
    files = sorted(f for f in os.listdir(chunk_dir) if f.endswith(".parquet"))
    assert len(files) == 4
    hidden = tempfile.mkdtemp(prefix="resume_hidden_")
    # phase 1: only the first two chunks are visible
    for f in files[2:]:
        os.rename(os.path.join(chunk_dir, f), os.path.join(hidden, f))

    work = str(tmp_path / "resume_work")
    state_dir = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    job = ChangelogStreamJob(spark, state_dir)

    def run_once():
        stream = (
            spark.readStream.schema(CHANGELOG_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunk_dir)
        )
        q = (
            stream.writeStream.foreachBatch(job.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]

    first_batches = run_once()
    assert len(first_batches) == 2
    # phase 2: the remaining chunks arrive; same checkpoint, fresh query
    for f in files[2:]:
        os.rename(os.path.join(hidden, f), os.path.join(chunk_dir, f))
    second_batches = run_once()
    assert len(second_batches) == 2, "resume must process ONLY the new files"
    assert min(second_batches) > max(first_batches), "batch ids must continue"

    from kafka_streams_and_ktable_example_spark.operators.ktable import grouped_reduce_view

    resumed_view = grouped_reduce_view(
        job.snapshot(),
        predicate=F.col("exchange") == "NASDAQ",
        group_col="client",
        collect_col="id",
        set_col="positions",
    )
    batch_view = shareholders_view(cl)
    assert scan_view(resumed_view) == scan_view(batch_view)


def test_stream_killed_midway_resumes_from_checkpoint(spark, sf_dir):
    """Crash recovery, not just replay idempotence: the stream is STOPPED
    after the first micro-batch (a hard kill mid-replay), then restarted
    on the SAME checkpoint — the file-source offsets must resume past the
    committed batches (no re-read, no skip) and the final view must equal
    the one-shot batch topology."""
    import os
    import tempfile
    import time

    from kafka_streams_and_ktable_example_spark.operators.ktable import (
        shareholders_view,
    )
    from kafka_streams_and_ktable_example_spark.sources.changelog import (
        CHANGELOG_SCHEMA,
        shareholders_changelog,
    )
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        ChangelogStreamJob,
        write_changelog_chunks,
    )

    cl = shareholders_changelog(spark, sf_dir)
    chunk_dir = tempfile.mkdtemp(prefix="kill_chunks_")
    write_changelog_chunks(cl, chunk_dir, n_chunks=6)
    work_dir = tempfile.mkdtemp(prefix="kill_state_")
    state_dir = os.path.join(work_dir, "state")
    checkpoint = os.path.join(work_dir, "checkpoint")
    job = ChangelogStreamJob(spark, state_dir)

    seen_epochs = []

    def process_then_maybe_die(batch_df, epoch_id):
        job.process_batch(batch_df, epoch_id)
        seen_epochs.append(epoch_id)

    stream = (
        spark.readStream.schema(CHANGELOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_then_maybe_die)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    # let at least one batch commit, then kill mid-run
    deadline = time.time() + 60
    while not seen_epochs and time.time() < deadline:
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    n_before = len(seen_epochs)
    assert n_before < 6, "kill must land mid-replay to test recovery"

    # restart on the same checkpoint: must process ONLY the remainder
    q2 = (
        stream.writeStream.foreachBatch(process_then_maybe_die)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert len(seen_epochs) <= 6 + 1, (
        "resume must not re-deliver committed batches "
        f"(saw {len(seen_epochs)} total epochs)"
    )

    got = sorted(
        tuple(r)
        for r in job.snapshot()
        .where(F.col("exchange") == "NASDAQ")
        .groupBy("client")
        .agg(F.sort_array(F.collect_set("id")).alias("positions"))
        .collect()
    )
    want = sorted(
        tuple(r) for r in shareholders_view(cl).collect()
    )
    assert got == want


def test_stream_join_state_bounded_by_watermark(spark, sf_dir):
    """Watermark eviction is real: after an availableNow replay of the
    interval join, the recorded join-state rows stay well under the total
    input rows — without eviction, state would hold every left AND right
    row seen (the unbounded-state failure mode watermarks exist to
    prevent)."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from kafka_streams_and_ktable_example_spark.sources.tables import (
        events_schema_and_ts_normalizer,
        load_table,
    )
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        write_changelog_chunks,
    )

    # replay events in 6 chunks so the watermark ADVANCES between
    # micro-batches (state is only evicted at batch boundaries; the
    # single-batch helper would show peak state instead)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("offset"), "user_id", "event_type", "ts"
    )
    chunk_dir = tempfile.mkdtemp(prefix="join_state_chunks_")
    write_changelog_chunks(ev, chunk_dir, n_chunks=6)
    n_input = ev.where(
        F.col("event_type").isin("click", "purchase")
    ).count()

    stream = (
        spark.readStream.schema(
            "offset long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    left = (
        stream.where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("left_ts"))
        .withWatermark("left_ts", "30 minutes")
    )
    right = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", "30 minutes")
    )
    joined = left.join(
        right,
        F.expr(
            "user_id = r_user_id AND right_ts >= left_ts "
            "AND right_ts <= left_ts + INTERVAL 1 HOUR"
        ),
    )
    name = f"state_bound_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state_rows = [
        op.numRowsTotal
        for p in q.recentProgress
        for op in (p.stateOperators or [])
    ]
    assert state_rows, "join must report state operator metrics"
    # chunks span ~5 days each; the watermark+interval keeps ≲1 chunk's
    # worth of rows live, so final state must sit well under total input
    assert state_rows[-1] < n_input * 0.6, (
        f"state {state_rows[-1]} rows vs {n_input} inputs — "
        "watermark eviction not happening"
    )


def test_set_ivm_golden_scenario(spark, tmp_path):
    """SetIvmJob semantics, batch by batch: add, retraction by exchange
    flip (the filter's subtractor), delete-to-empty vanishes the row,
    re-add resurrects it — the reference's golden scenario driven through
    the ARRAY-maintained view (SURVEY §7.4 #4)."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import SetIvmJob
    from tests.test_ktable import pos

    job = SetIvmJob(spark, str(tmp_path / "set_ivm"))

    def view_rows():
        return sorted(
            (r["client"], list(r["positions"]))
            for r in job.view().collect()
        )

    steps = [
        # batch 0: two NASDAQ positions for daniel
        (
            [
                ("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 10), 0),
                ("daniel:::MSFT", pos("daniel", "MSFT", "NASDAQ", 5), 1),
            ],
            [("daniel", ["daniel:::AAPL", "daniel:::MSFT"])],
        ),
        # batch 1: AAPL flips to LON -> retracted from the NASDAQ view
        (
            [("daniel:::AAPL", pos("daniel", "AAPL", "LON", 10), 2)],
            [("daniel", ["daniel:::MSFT"])],
        ),
        # batch 2: MSFT tombstone -> set empties -> row vanishes
        (
            [("daniel:::MSFT", None, 3)],
            [],
        ),
        # batch 3: AAPL flips back -> row resurrects
        (
            [("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 10), 4)],
            [("daniel", ["daniel:::AAPL"])],
        ),
    ]
    for epoch, (rows, expected) in enumerate(steps):
        job.process_batch(changelog_from_rows(spark, rows), epoch)
        assert view_rows() == expected, f"after batch {epoch}"


def test_cogroup_ivm_golden_scenario(spark, tmp_path):
    """CogroupIvmJob semantics batch by batch: two entities (orders,
    positions) merge into one per-client row; either side's tombstone
    zeroes its half; a client with no contributions on both sides
    vanishes; re-adds resurrect."""
    from kafka_streams_and_ktable_example_spark.streaming.pipeline import (
        CogroupIvmJob,
    )

    schema = (
        "key string, src string, o_custkey long, o_totalprice double,"
        " client string, exchange string, tombstone boolean, offset long"
    )

    def orow(key, cust, price, tomb, off):
        return (f"o:{key}", "o", cust, price, None, None, tomb, off)

    def srow(key, client, exch, tomb, off):
        return (f"s:{key}", "s", None, None, client, exch, tomb, off)

    job = CogroupIvmJob(spark, str(tmp_path / "cogroup_ivm"))

    def view_rows():
        return sorted(
            (
                r["client"],
                r["n_orders"],
                r["total_price"],
                r["n_positions"],
                r["n_nasdaq"],
            )
            for r in job.view().collect()
        )

    steps = [
        # batch 0: one order + one NASDAQ position for client 7
        (
            [orow(1, 7, 100.0, False, 0), srow("7:::T1", "7", "NASDAQ", False, 1)],
            [("7", 1, 100.0, 1, 1)],
        ),
        # batch 1: client 8 gets an order only -> zero-filled position half
        (
            [orow(2, 8, 50.0, False, 2)],
            [("7", 1, 100.0, 1, 1), ("8", 1, 50.0, 0, 0)],
        ),
        # batch 2: order tombstone -> client 7's order half zeroes
        (
            [orow(1, None, None, True, 3)],
            [("7", 0, 0.0, 1, 1), ("8", 1, 50.0, 0, 0)],
        ),
        # batch 3: position tombstone -> client 7 vanishes entirely
        (
            [srow("7:::T1", None, None, True, 4)],
            [("8", 1, 50.0, 0, 0)],
        ),
        # batch 4: client 8 gains a LON position -> merged row updates
        (
            [srow("8:::T2", "8", "LON", False, 5)],
            [("8", 1, 50.0, 1, 0)],
        ),
    ]
    for epoch, (rows, expected) in enumerate(steps):
        job.process_batch(spark.createDataFrame(rows, schema), epoch)
        assert view_rows() == expected, f"after batch {epoch}"


def test_events_session_stream_dir_is_removed_by_scratch_cleanup(spark, sf_dir):
    """The session-window query writes to a fixed per-(session, args) dir
    under the temp dir; it is registered scratch, so cleanup removes it
    instead of leaving one dir behind per Spark application."""
    import glob

    from kafka_streams_and_ktable_example_spark import plans
    from kafka_streams_and_ktable_example_spark.session import cleanup_scratch_dirs

    query = plans.REGISTRY["streaming_events_session_window"]
    assert query.spark(spark, sf_dir).count() > 0
    pattern = os.path.join(
        tempfile.gettempdir(),
        f"events_sessions_{spark.sparkContext.applicationId}_*",
    )
    assert glob.glob(pattern)
    cleanup_scratch_dirs()
    assert not glob.glob(pattern)
