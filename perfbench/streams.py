"""Streaming pieces of ``candles_live``: the sink wrapper that logs
commits, reading the serving tables and the generator's files back
without Spark, and the streaming progress records."""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from spans import NullTracer


def read_rows(path: str) -> list[dict]:
    """A parquet table written by Spark, read with pyarrow; a
    ``window_start`` column is also given as ``window_start_ms``."""
    if not os.path.exists(path):
        return []
    t = pq.read_table(path)
    if "window_start" in t.column_names:
        ms = t.column("window_start").cast(pa.timestamp("ms")).cast(pa.int64())
        t = t.append_column("window_start_ms", ms)
    return t.to_pylist()


def table_n_trades(path: str) -> int:
    if not os.path.exists(path):
        return 0
    return int(pq.read_table(path, columns=["n_trades"]).column("n_trades").to_numpy().sum())


def read_trades(pattern: str):
    """Every trade of the JSON-lines files matching ``pattern``."""
    for f in sorted(glob.glob(pattern)):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


class CommitLog:
    """foreachBatch wrapper around an upsert sink. After each batch is
    committed it records (commit time, cumulative ``n_trades`` of the
    serving table). The sink call and the snapshot taken by the monitor
    share one lock, so the monitor never sees a half-swapped table.
    Spans are recorded only when ``tracer_at`` says the batch is traced."""

    def __init__(self, sink, tracer_at=lambda t: NullTracer()):
        self.sink = sink
        self.lock = threading.Lock()
        self.commits: list[tuple[float, int]] = []
        self.tracer_at = tracer_at

    def __call__(self, batch, epoch_id: int) -> None:
        with self.lock:
            with self.tracer_at(time.time()).span("sinks.write", epoch=epoch_id):
                self.sink(batch, epoch_id)
            t = time.time()
            self.commits.append((t, table_n_trades(self.sink.path)))

    def snapshot(self, dest: str) -> bool:
        """Hard-link the current serving table into ``dest``."""
        with self.lock:
            if not os.path.exists(self.sink.path):
                return False
            for dirpath, _, files in os.walk(self.sink.path):
                rel = os.path.relpath(dirpath, self.sink.path)
                os.makedirs(os.path.join(dest, rel), exist_ok=True)
                for f in files:
                    os.link(os.path.join(dirpath, f), os.path.join(dest, rel, f))
        return True


def progress_of(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def progress_epoch(p: dict) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
