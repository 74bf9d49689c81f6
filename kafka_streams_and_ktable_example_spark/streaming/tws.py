"""KTable reduce on the transformWithState API (Spark 4 stateful v2).

Fifth implementation of the reference's grouped reduce with adder +
subtractor (`our-service/src/our_service/kafka_streams.clj:72-79`), this
time on Structured Streaming's typed-state operator family
(`transformWithStateInPandas`): each client's latest-per-key position
records live in a typed ``MapState`` (position key → record) instead of a
JSON blob in a single value cell, so per-delta updates touch ONE map entry
— the state store reads/writes are O(changed positions), not
O(client's whole portfolio), which matters for fat keys at 100 TB.

Semantics are identical to ``streaming/stateful.py``: latest offset per
position key wins (compaction), tombstone marks the key dead, the emitted
row is the sorted live-NASDAQ id set, and an empty set means the group row
is absent from the final view (`kafka_streams.clj:77-79`).

Requires the RocksDB state store provider (bundled with Spark 4) —
transformWithState is not supported by the default HDFS-backed provider —
and the ``google.protobuf`` Python package (the transformWithState driver
worker speaks protobuf to the JVM state server). The container this repo
is developed in lacks protobuf, so this module is a GATED implementation:
``HAS_TWS_RUNTIME`` is False there, the registry does not expose it as a
driver query, and its test skips — on a real cluster with protobuf
installed it runs as-is (same semantics, same oracle, as
``streaming_shareholders_stateful``).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from ..session import scratch_dir
from ..sources.changelog import CHANGELOG_SCHEMA
from .pipeline import chunk_stream, drain
from .stateful import last_emission_per_client, position_deltas

_OUTPUT_SCHEMA = "client string, positions string, seq long"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

try:  # the TWS python worker needs protobuf to talk to the state server
    import google.protobuf  # noqa: F401

    HAS_TWS_RUNTIME = True
except ImportError:
    HAS_TWS_RUNTIME = False


class ShareholdersProcessor(StatefulProcessor):
    """Per-client typed state: MapState(position key → latest record)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.records = handle.getMapState(
            "records",
            "pos_key string",
            "off long, id string, exchange string, live boolean",
        )
        self.seq = handle.getValueState("seq", "seq long")

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        (client,) = key
        for pdf in rows:
            for row in pdf.itertuples(index=False):
                map_key = (row.key,)
                if self.records.containsKey(map_key):
                    prev_off = self.records.getValue(map_key)[0]
                    if prev_off >= row.offset:
                        continue  # stale delivery: compaction keeps max offset
                self.records.updateValue(
                    map_key,
                    (
                        int(row.offset),
                        None if row.tomb else row.id,
                        None if row.tomb else row.exchange,
                        not row.tomb,
                    ),
                )
        seq = (self.seq.get()[0] if self.seq.exists() else 0) + 1
        self.seq.update((seq,))
        positions = sorted(
            rec[1]
            for rec in self.records.values()
            if rec[3] and rec[2] == "NASDAQ"
        )
        yield pd.DataFrame(
            {"client": [client], "positions": [",".join(positions)], "seq": [seq]}
        )

    def close(self) -> None:
        pass


def run_shareholders_tws(spark: SparkSession, changelog_dir: str) -> DataFrame:
    """Replay changelog chunks through transformWithStateInPandas; return
    the final view (client, positions-csv), empty-set groups dropped."""
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    )
    try:
        stream = chunk_stream(spark, changelog_dir, CHANGELOG_SCHEMA)
        deltas = position_deltas(stream)
        updates = deltas.groupBy("client").transformWithStateInPandas(
            statefulProcessor=ShareholdersProcessor(),
            outputStructType=_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        all_updates = drain(updates, "update", scratch_dir("ktable_tws_"))
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    return last_emission_per_client(all_updates)
