"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``--seed``:
the ten fixture-shaped parquet tables ``query_mix`` runs the registry
queries on, and the raw trade JSON lines the two streaming workloads feed
through the candle job. The same seed always gives byte-identical inputs.

The tables follow the column names, types and value ranges of the
fixture schemas the registry queries are written against (FIXTURES.md):
a TPC-H-like star, an ``events`` table, and the ``documents`` /
``embeddings`` corpus tables. ``sf`` scales row counts like the fixtures
do (lineitem ~ 6M x sf, events 1M x sf).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
PART_COLORS = ["red", "blue", "green", "small", "large", "steel"]
PART_NOUNS = ["widget", "bolt", "ring", "gear", "panel"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
VOCAB = (
    "a the data table row column key value part order line customer query "
    "scan filter join agg group sort merge hash window batch stream spark "
    "fast slow big small vector"
).split()

#: Symbols of the synthetic trade feed (the reference subscribes to a
#: handful of Binance pairs).
SYMBOLS = ["BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT", "XRPUSDT", "ADAUSDT", "DOGEUSDT", "AVAXUSDT"]
_BASE_PRICE = [64000.0, 3100.0, 145.0, 580.0, 0.52, 0.45, 0.16, 35.0]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Space-separated token texts; ~20% exact duplicates and ~10% near
    duplicates (one token changed), so the dedup queries have work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.2:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.3:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 0.15, (10, dim))
    label = rng.integers(0, 10, n)
    vecs = (centers[label] + rng.normal(0.0, 0.05, (n, dim))).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables at scale factor ``sf`` (row counts follow the
    fixture ratios; the corpus tables grow sub-linearly like theirs)."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    n_users = max(int(15_000 * sf), 50)

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust)
    customer = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": _names("Customer", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp)
    supplier = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": _names("Supplier", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part)
    part = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{PART_COLORS[a]} {PART_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 5, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    ok = np.arange(n_ord)
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY
    orders = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts_us(odate),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, per)
    n_li = len(l_ok)
    l_ln = np.concatenate([np.arange(1, p + 1) for p in per]) if n_ord else np.zeros(0, int)
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_ln, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(np.repeat(odate, per) + rng.integers(1, 122, n_li) * _US_PER_DAY),
        }
    )
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(30.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables as ``<out_dir>/<name>.parquet`` (the fixture layout
    ``io.read_table`` reads) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


class TradeFeed:
    """Deterministic trade stream: a random walk per symbol, prices and
    quantities as exact 8-decimal strings (the reference's wire format)."""

    def __init__(self, seed: int, symbols: list[str] | None = None):
        self.rng = np.random.default_rng([seed, 7])
        self.symbols = symbols or SYMBOLS
        self.price = np.array(_BASE_PRICE[: len(self.symbols)])
        self.next_id = 0

    def trades(self, n: int, trade_time_ms: int | np.ndarray) -> list[str]:
        """``n`` JSON lines stamped with ``trade_time_ms`` (one value for
        all, or one per trade)."""
        sym = self.rng.integers(0, len(self.symbols), n)
        steps = self.rng.normal(0.0, 5e-4, n)
        qty = self.rng.integers(1, 100_000, n) / 1e4
        times = np.broadcast_to(np.asarray(trade_time_ms, dtype="int64"), (n,))
        out = []
        for i in range(n):
            s = sym[i]
            self.price[s] *= 1.0 + steps[i]
            out.append(
                json.dumps(
                    {
                        "trade_id": self.next_id,
                        "symbol": self.symbols[s],
                        "price": f"{self.price[s]:.8f}",
                        "quantity": f"{qty[i]:.8f}",
                        "trade_time": int(times[i]),
                        "is_buyer_maker": bool(steps[i] < 0),
                    },
                    separators=(",", ":"),
                )
            )
            self.next_id += 1
        return out


def write_backlog(out_dir: str, seed: int, n_trades: int, n_files: int, start_ms: int) -> None:
    """Pre-write a backlog of ``n_trades`` trades in ``n_files`` files,
    1 ms apart in event time (so windows close behind the watermark as the
    drain proceeds, like a replay after downtime)."""
    os.makedirs(out_dir, exist_ok=True)
    feed = TradeFeed(seed)
    per = n_trades // n_files
    for f in range(n_files):
        lo = f * per
        n = per if f < n_files - 1 else n_trades - lo
        lines = feed.trades(n, start_ms + np.arange(lo, lo + n))
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
