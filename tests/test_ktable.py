"""Operator-level tests for KTable semantics (SURVEY §5.2).

Covers: the reference's golden scenario (fake_producer.clj:48-54 +
README.md:22-26), tombstones for never-seen keys, repeated tombstones,
out-of-order offsets, exchange flip in/out of the filter (retraction),
set that empties and refills, and a randomized-changelog property test
against a trivial python dict replay oracle (FIXTURES.md §A3).
"""

from __future__ import annotations

import random

from kafka_streams_and_ktable_example_spark.operators.ktable import (
    latest_snapshot,
    positions_csv,
    shareholders_view,
    scan_view,
)
from kafka_streams_and_ktable_example_spark.sources.changelog import (
    changelog_from_rows,
)


def pos(client, ticker, exchange, amount):
    key = f"{client}:::{ticker}"
    return {
        "client": client,
        "id": key,
        "ticker": ticker,
        "exchange": exchange,
        "amount": amount,
    }


def replay_oracle(rows):
    """Trivial python model: last-write-wins dict, drop nulls, group sets."""
    state = {}
    for key, value, offset in sorted(rows, key=lambda r: r[2]):
        if value is None:
            state.pop(key, None)
        else:
            state[key] = value
    view = {}
    for key, value in state.items():
        if value["exchange"] == "NASDAQ":
            view.setdefault(value["client"], set()).add(value["id"])
    return sorted((c, sorted(s)) for c, s in view.items())


def run_view(spark, rows):
    return scan_view(shareholders_view(changelog_from_rows(spark, rows)))


def test_golden_scenario(spark):
    # fake_producer.clj:48-54: add AAPL@NASDAQ, add BT.A@LON, delete AAPL.
    rows = [
        ("daniel:::AAPL", pos("daniel", "AAPL", "NASDAQ", 99), 0),
        ("daniel:::BT.A", pos("daniel", "BT.A", "LON", 1), 1),
    ]
    assert run_view(spark, rows) == [("daniel", ["daniel:::AAPL"])]
    # the registry's set-valued encoding of the same view
    as_csv = lambda: [
        tuple(r)
        for r in positions_csv(
            shareholders_view(changelog_from_rows(spark, rows))
        ).collect()
    ]
    assert as_csv() == [("daniel", "daniel:::AAPL")]
    # step 3: tombstone AAPL -> set empties -> group row deleted entirely
    rows.append(("daniel:::AAPL", None, 2))
    assert run_view(spark, rows) == []
    assert as_csv() == []


def test_latest_wins_out_of_order_offsets(spark):
    rows = [
        ("c:::T", pos("c", "T", "NASDAQ", 5), 10),  # later offset, listed first
        ("c:::T", pos("c", "T", "LON", 1), 3),
    ]
    snap = latest_snapshot(changelog_from_rows(spark, rows))
    got = snap.select("key", "exchange", "amount").collect()
    assert [(r.key, r.exchange, r.amount) for r in got] == [("c:::T", "NASDAQ", 5)]


def test_tombstone_for_never_seen_key_and_repeated_tombstones(spark):
    rows = [
        ("ghost:::X", None, 0),
        ("a:::T", pos("a", "T", "NASDAQ", 1), 1),
        ("a:::T", None, 2),
        ("a:::T", None, 3),
    ]
    assert run_view(spark, rows) == []


def test_filter_retraction_on_exchange_flip(spark):
    # same key flips NASDAQ -> LON: must be retracted from the view
    rows = [
        ("a:::T", pos("a", "T", "NASDAQ", 1), 0),
        ("a:::T", pos("a", "T", "LON", 1), 1),
    ]
    assert run_view(spark, rows) == []
    # flips back in
    rows.append(("a:::T", pos("a", "T", "NASDAQ", 2), 2))
    assert run_view(spark, rows) == [("a", ["a:::T"])]


def test_set_empties_and_refills(spark):
    rows = [
        ("a:::T1", pos("a", "T1", "NASDAQ", 1), 0),
        ("a:::T1", None, 1),
    ]
    assert run_view(spark, rows) == []
    rows.append(("a:::T2", pos("a", "T2", "NASDAQ", 3), 2))
    assert run_view(spark, rows) == [("a", ["a:::T2"])]


def test_multi_client_multi_ticker(spark):
    rows = [
        ("a:::T1", pos("a", "T1", "NASDAQ", 1), 0),
        ("a:::T2", pos("a", "T2", "NASDAQ", 2), 1),
        ("b:::T1", pos("b", "T1", "NASDAQ", 3), 2),
        ("b:::T3", pos("b", "T3", "LON", 4), 3),
    ]
    assert run_view(spark, rows) == [
        ("a", ["a:::T1", "a:::T2"]),
        ("b", ["b:::T1"]),
    ]


def test_property_random_changelogs(spark):
    """view(changelog) == groupby-set(dict-replay(changelog)) — FIXTURES A3."""
    rng = random.Random(42)
    clients = [f"c{i}" for i in range(8)]
    tickers = [f"T{i}" for i in range(5)]
    exchanges = ["NASDAQ", "LON", "NYSE"]
    rows = []
    for offset in range(400):
        client = rng.choice(clients)
        ticker = rng.choice(tickers)
        key = f"{client}:::{ticker}"
        if rng.random() < 0.25:
            rows.append((key, None, offset))
        else:
            rows.append(
                (key, pos(client, ticker, rng.choice(exchanges), rng.randint(1, 1000)), offset)
            )
    assert run_view(spark, rows) == replay_oracle(rows)


def test_property_hypothesis_changelogs(spark):
    """Property (SURVEY §5.2): for ANY upsert/delete sequence,
    view(changelog) == groupby-set(dict-model snapshot). Hypothesis
    explores adversarial orderings (duplicate keys, tombstone-first,
    rekeyed exchanges) beyond the seeded-random test above."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    clients = st.sampled_from(["a", "b", "c"])
    tickers = st.sampled_from(["T1", "T2"])
    exchanges = st.sampled_from(["NASDAQ", "LON"])
    event = st.tuples(clients, tickers, st.one_of(st.none(), exchanges))

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(event, max_size=25))
    def run(seq):
        rows, model = [], {}
        for off, (client, ticker, exchange) in enumerate(seq):
            key = f"{client}:::{ticker}"
            if exchange is None:
                rows.append((key, None, off))
                model.pop(key, None)
            else:
                rows.append((key, pos(client, ticker, exchange, 1), off))
                model[key] = (client, exchange)
        expected = {}
        for key, (client, exchange) in model.items():
            if exchange == "NASDAQ":
                expected.setdefault(client, []).append(key)
        expected_view = sorted((c, sorted(ks)) for c, ks in expected.items())
        view = shareholders_view(changelog_from_rows(spark, rows))
        assert scan_view(view) == expected_view

    run()
