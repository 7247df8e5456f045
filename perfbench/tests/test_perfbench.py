"""Tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from datagen import TradeFeed, make_tables  # noqa: E402
from run import layer_unit  # noqa: E402


# ------------------------------------------------------------------ tail


def test_tail_picks_highest_percentile_with_ten_beyond():
    # 1000 samples: p99 leaves exactly 10 beyond, p99.5 only 5.
    p, v, beyond = stats.tail([float(i) for i in range(1, 1001)])
    assert (p, v, beyond) == (99.0, 990.0, 10)


@pytest.mark.parametrize("n, p", [(20, 50.0), (34, 70.0), (40, 75.0), (100, 90.0), (200, 95.0), (10_000, 99.9)])
def test_tail_percentile_depends_on_sample_count(n, p):
    got, value, beyond = stats.tail(list(range(n)))
    assert got == p
    assert beyond >= stats.MIN_BEYOND
    assert sum(1 for x in range(n) if x > value) == beyond


def test_tail_below_twenty_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 7.0] * 10
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_nearest_rank_and_median():
    assert stats.nearest_rank([4, 1, 3, 2], 50) == 2
    assert stats.nearest_rank([4, 1, 3, 2], 100) == 4
    assert stats.median([4, 1, 3, 2]) == 2.5
    assert stats.median([3, 1, 2]) == 2


# ---------------------------------------------------------- ticks/commits


def test_match_ticks_first_commit_reaching_cumulative_count():
    ticks = [(10.0, 100), (10.1, 200), (10.2, 300)]
    commits = [(10.5, 100), (11.0, 300)]
    assert stats.match_ticks(ticks, commits) == pytest.approx([0.5, 0.9, 0.8])


def test_match_ticks_unreached_tick_is_none():
    assert stats.match_ticks([(1.0, 10), (2.0, 20)], [(1.5, 10)]) == [0.5, None]


def test_match_ticks_partial_commit_does_not_count():
    # A commit that reflects only part of a tick does not make it fresh.
    assert stats.match_ticks([(0.0, 100)], [(1.0, 99), (2.0, 100)]) == [2.0]


def test_match_ticks_no_commits():
    assert stats.match_ticks([(0.0, 1)], []) == [None]


# ------------------------------------------------------- OHLCV reference


def _trades():
    # Two symbols, two 1-minute windows, out-of-order arrival.
    rows = [
        ("BTC", "100.5", "2", 60_000 + 5), ("BTC", "99.0", "1", 60_000 + 1),
        ("BTC", "101.25", "0.5", 60_000 + 9), ("ETH", "10", "3", 60_000 + 2),
        ("BTC", "98", "4", 120_000 + 3),
    ]
    return [{"symbol": s, "price": p, "quantity": q, "trade_time": t} for s, p, q, t in rows]


def test_ohlcv_reference_by_hand():
    ref = stats.ohlcv_reference(_trades())
    c = ref[("BTC", 60_000)]
    assert c["open_price"] == Decimal("99.0")  # earliest trade, not first seen
    assert c["close_price"] == Decimal("101.25")
    assert (c["high_price"], c["low_price"]) == (Decimal("101.25"), Decimal("99.0"))
    assert c["total_volume"] == Decimal("3.5")
    assert c["total_value"] == Decimal("100.5") * 2 + Decimal("99.0") + Decimal("101.25") * Decimal("0.5")
    assert c["n_trades"] == 3
    assert ref[("BTC", 120_000)]["n_trades"] == 1
    assert set(ref) == {("BTC", 60_000), ("BTC", 120_000), ("ETH", 60_000)}


def _served(ref):
    return [
        {"symbol": s, "window_start_ms": w, "open_price": c["open_price"], "high_price": c["high_price"],
         "low_price": c["low_price"], "close_price": c["close_price"], "total_volume": c["total_volume"],
         "total_value": c["total_value"], "n_trades": c["n_trades"],
         "vwap": (c["total_value"] / c["total_volume"]).quantize(Decimal("0.000001"))}
        for (s, w), c in ref.items()
    ]


def test_compare_candles_accepts_the_reference_itself():
    ref = stats.ohlcv_reference(_trades())
    assert stats.compare_candles(_served(ref), ref) == []


@pytest.mark.parametrize("col, value", [
    ("close_price", Decimal("101.26")), ("open_price", Decimal("100.5")),
    ("total_volume", Decimal("3.50000001")), ("n_trades", 4), ("vwap", Decimal("1")),
])
def test_compare_candles_flags_one_altered_candle(col, value):
    ref = stats.ohlcv_reference(_trades())
    rows = _served(ref)
    altered = next(r for r in rows if (r["symbol"], r["window_start_ms"]) == ("BTC", 60_000))
    altered[col] = value
    bad = stats.compare_candles(rows, ref)
    assert len(bad) == 1 and col in bad[0]


def test_compare_candles_flags_missing_and_extra():
    ref = stats.ohlcv_reference(_trades())
    rows = _served(ref)
    rows[0]["window_start_ms"] += 60_000 * 10
    bad = stats.compare_candles(rows, ref)
    assert any("unexpected" in b for b in bad) and any("missing" in b for b in bad)


def test_running_stats_reference_and_compare():
    ref = stats.running_stats_reference(_trades())
    assert ref["BTC"]["n_trades"] == 4 and ref["ETH"]["n_trades"] == 1
    assert ref["BTC"]["high"] == 101.25 and ref["BTC"]["low"] == 98.0
    rows = [{"symbol": s, **{k: v for k, v in a.items()}} for s, a in ref.items()]
    assert stats.compare_running_stats(rows, ref) == []
    rows[0]["total_value"] *= 1.0001
    assert len(stats.compare_running_stats(rows, ref)) == 1


# ---------------------------------------------------------------- inputs


def test_trade_feed_is_seeded_and_exact():
    a, b = TradeFeed(3).trades(50, 1_000), TradeFeed(3).trades(50, 1_000)
    assert a == b and a != TradeFeed(4).trades(50, 1_000)
    t = json.loads(a[0])
    assert len(t["price"].split(".")[1]) == 8 and t["trade_time"] == 1_000


def test_tables_are_seeded():
    x, y = make_tables(7, 0.001), make_tables(7, 0.001)
    assert all(x[k].equals(y[k]) for k in x)
    assert not x["lineitem"].equals(make_tables(8, 0.001)["lineitem"])


def test_layer_units():
    assert [layer_unit(n) for n in ("a.b_s", "c_ms", "d_mb", "e_pct", "spark.jobs")] == ["s", "ms", "MB", "%", "count"]
