"""Pure helpers of the benchmark: percentiles, the tail rule, matching
generator ticks to sink commits, and the independent references the
streaming outputs are checked against. No Spark here; the benchmark's own
tests cover these."""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

#: Percentiles the tail is chosen from, highest first.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 97.5, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples, in
    exact decimal arithmetic (99.9% of 10000 is 9990, not 9991)."""
    return max(1, math.ceil(Decimal(str(p)) * n / 100))


def nearest_rank(values: list[float], p: float) -> float:
    """The ``p``-th percentile by nearest rank: the smallest sample with at
    least ``p`` percent of the samples at or below it."""
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it) for the highest percentile of
    ``TAIL_LADDER`` that has at least ten samples beyond it. With fewer than
    twenty samples no percentile qualifies and the maximum is returned as
    percentile 100 with zero samples beyond."""
    n = len(values)
    for p in TAIL_LADDER:
        beyond = n - _rank(p, n)
        if beyond >= MIN_BEYOND:
            return p, nearest_rank(values, p), beyond
    return 100.0, max(values), 0


def match_ticks(
    ticks: list[tuple[float, int]], commits: list[tuple[float, int]]
) -> list[float | None]:
    """Freshness of each tick.

    ``ticks`` are (due time, trades sent up to and including this tick) in
    schedule order; ``commits`` are (commit time, cumulative ``n_trades`` of
    the serving table after that commit) in commit order. A tick is fresh at
    the first commit whose cumulative count reaches the tick's cumulative
    count, and its latency runs from the tick's due time to that commit.
    None marks a tick no commit reached.
    """
    out: list[float | None] = []
    j, best = 0, 0
    reach: list[tuple[float, int]] = []
    for t, c in commits:  # cumulative counts can only be credited once reached
        best = max(best, c)
        reach.append((t, best))
    for due, cum in ticks:
        while j < len(reach) and reach[j][1] < cum:
            j += 1
        out.append(reach[j][0] - due if j < len(reach) else None)
    return out


def ohlcv_reference(trades, window_ms: int = 60_000) -> dict[tuple[str, int], dict]:
    """1-minute OHLCV per (symbol, window start ms) from raw trade dicts,
    in exact decimals: open/close are the prices of the earliest/latest
    trade, volume and value are exact sums."""
    out: dict[tuple[str, int], dict] = {}
    for tr in trades:
        t = int(tr["trade_time"])
        key = (tr["symbol"], t - t % window_ms)
        p, q = Decimal(tr["price"]), Decimal(tr["quantity"])
        c = out.get(key)
        if c is None:
            out[key] = {
                "open_t": t, "open_price": p, "close_t": t, "close_price": p,
                "high_price": p, "low_price": p, "total_volume": q,
                "total_value": p * q, "n_trades": 1,
            }
            continue
        if t < c["open_t"]:
            c["open_t"], c["open_price"] = t, p
        if t > c["close_t"]:
            c["close_t"], c["close_price"] = t, p
        c["high_price"] = max(c["high_price"], p)
        c["low_price"] = min(c["low_price"], p)
        c["total_volume"] += q
        c["total_value"] += p * q
        c["n_trades"] += 1
    return out


def _close(a, b, rel: float = 1e-9, abs_tol: float = 1e-12) -> bool:
    return a is not None and math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_tol)


def compare_candles(rows: list[dict], ref: dict[tuple[str, int], dict]) -> list[str]:
    """Mismatches between serving-table candles and the reference. Prices,
    volume and trade counts must be exact; value agrees to 1e-9 relative
    and vwap to 1e-6 absolute (the engine's decimal division keeps six
    fractional digits)."""
    bad: list[str] = []
    seen = set()
    for r in rows:
        key = (r["symbol"], int(r["window_start_ms"]))
        seen.add(key)
        c = ref.get(key)
        if c is None:
            bad.append(f"unexpected candle {key}")
            continue
        for col in ("open_price", "high_price", "low_price", "close_price", "total_volume"):
            if Decimal(str(r[col])) != c[col]:
                bad.append(f"{key} {col} {r[col]} != {c[col]}")
        if int(r["n_trades"]) != c["n_trades"]:
            bad.append(f"{key} n_trades {r['n_trades']} != {c['n_trades']}")
        if not _close(r["total_value"], c["total_value"]):
            bad.append(f"{key} total_value {r['total_value']} != {c['total_value']}")
        if not _close(r["vwap"], c["total_value"] / c["total_volume"], rel=0.0, abs_tol=1e-6):
            bad.append(f"{key} vwap {r['vwap']}")
    bad.extend(f"missing candle {k}" for k in ref.keys() - seen)
    return bad


def running_stats_reference(trades) -> dict[str, dict]:
    """All-history per-symbol stats (count, volume, turnover, vwap,
    high, low) in floating point, from raw trade dicts."""
    acc: dict[str, dict] = defaultdict(
        lambda: {"n_trades": 0, "total_volume": 0.0, "total_value": 0.0,
                 "high": -math.inf, "low": math.inf}
    )
    for tr in trades:
        p, q = float(tr["price"]), float(tr["quantity"])
        a = acc[tr["symbol"]]
        a["n_trades"] += 1
        a["total_volume"] += q
        a["total_value"] += p * q
        a["high"] = max(a["high"], p)
        a["low"] = min(a["low"], p)
    for a in acc.values():
        a["vwap"] = a["total_value"] / a["total_volume"]
    return dict(acc)


def compare_running_stats(rows: list[dict], ref: dict[str, dict]) -> list[str]:
    """Mismatches between the running-stats table and the reference:
    counts exact, sums and vwap to 1e-9 (summation order differs)."""
    bad: list[str] = []
    got = {r["symbol"]: r for r in rows}
    for sym in ref.keys() - got.keys():
        bad.append(f"missing symbol {sym}")
    for sym, r in got.items():
        a = ref.get(sym)
        if a is None:
            bad.append(f"unexpected symbol {sym}")
            continue
        if int(r["n_trades"]) != a["n_trades"]:
            bad.append(f"{sym} n_trades {r['n_trades']} != {a['n_trades']}")
        for col in ("total_volume", "total_value", "vwap", "high", "low"):
            if not _close(r[col], a[col]):
                bad.append(f"{sym} {col} {r[col]} != {a[col]}")
    return bad
