"""``candles_live``: the reference's own runtime under an open loop.

A separate generator process (feeder.py) writes ``RATE`` trades/s as one
file every ``TICK`` seconds on a schedule fixed in advance. The job is the
reference's: ``parse_trades`` -> ``candle_stream`` -> ``start_candle_query``
with the ASAP trigger, into a ``ParquetUpsertSink`` keyed on
(symbol, window_start). A tick is fresh at the first commit that raises the
serving table's cumulative ``n_trades`` to the tick's cumulative count;
its latency runs from its due time. A monitor thread calls
``monitor.freshness_ok`` on a snapshot of the serving table every
``MONITOR_EVERY`` seconds; the snapshot is taken under the sink's lock, the
check itself runs outside it, so the monitor is never on the commit path.

Set-up is the restart after downtime: Spark start, then ``availableNow``
drains of a separate backlog, first through the same candle job and sink,
then through ``running_trade_stats`` (``applyInPandasWithState``) into an
upsert sink keyed on symbol (the traced run reports their walls as
``candles.drain_s`` and ``stateful.drain_s``), a read of the candle table
through the io layer, and the first ``WARM_FEED`` seconds of the live
feed. The timed window is
the next ``seconds`` of ticks; the traced run adds a traced window of the
same length right after it. Output check: the final serving table against
OHLCV computed in exact decimals from the generator's files, and its total
``n_trades`` against the trades sent; the set-up drains' tables against
the same OHLCV reference and a float running-stats reference.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import harness
import stats
import streams
from datagen import write_backlog
from spans import NullTracer

RATE, TICK = 1000, 0.1
WARM_FEED = 10.0
MONITOR_EVERY = 2.0
HORIZON_S = 180.0  # monitor.py's freshness horizon (3 minutes)
DRAIN_WAIT_S = 20.0


def _stateful_drain(spark, in_dir: str, sink, checkpoint: str) -> None:
    from crypto_trading_data_pipeline_spark.sources import file_json_stream, parse_trades
    from crypto_trading_data_pipeline_spark.streaming.job import start_candle_query
    from crypto_trading_data_pipeline_spark.streaming.stateful import running_trade_stats

    stats_df = running_trade_stats(parse_trades(file_json_stream(spark, in_dir)))
    start_candle_query(stats_df, sink=sink, checkpoint_dir=checkpoint, available_now=True,
                       query_name="running_stats").awaitTermination()


def _job(spark, in_dir: str, sink, checkpoint: str, available_now: bool):
    from crypto_trading_data_pipeline_spark.sources import file_json_stream, parse_trades
    from crypto_trading_data_pipeline_spark.streaming.job import candle_stream, start_candle_query

    candles = candle_stream(parse_trades(file_json_stream(spark, in_dir)),
                            watermark="2 minutes", window_duration="1 minute")
    return start_candle_query(candles, sink=sink, checkpoint_dir=checkpoint,
                              trigger_seconds=None, available_now=available_now)


class Monitor(threading.Thread):
    def __init__(self, spark, log: streams.CommitLog, work: str):
        super().__init__(daemon=True)
        self.spark, self.log, self.work = spark, log, work
        self.results: list[tuple[float, float, bool]] = []  # (time, check_s, ok)
        self.errors: list[str] = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        from crypto_trading_data_pipeline_spark.monitor import freshness_ok

        i = 0
        while not self._stop_evt.wait(MONITOR_EVERY):
            snap = os.path.join(self.work, f"snap-{i}")
            i += 1
            try:
                if not self.log.snapshot(snap):
                    continue
                t0 = time.perf_counter()
                ok = freshness_ok(self.spark.read.parquet(snap))
                self.results.append((time.time(), time.perf_counter() - t0, ok))
            except Exception as exc:  # noqa: BLE001 — a failed check is recorded, the monitor goes on
                self.errors.append(f"{type(exc).__name__}: {str(exc)[:200]}")
            finally:
                shutil.rmtree(snap, ignore_errors=True)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def run(ctx: harness.Ctx) -> dict:
    from crypto_trading_data_pipeline_spark.io import read_table
    from crypto_trading_data_pipeline_spark.streaming.sinks import ParquetUpsertSink

    warm_in, live_in = ctx.path("warm_in"), ctx.path("live_in")
    os.makedirs(live_in)
    with ctx.own_work():
        write_backlog(warm_in, ctx.seed + 1_000_003, 5_000, 1, start_ms=1_704_067_200_000)
    spark = ctx.start_spark()

    keys = {"keys": ["symbol", "window_start"], "order_col": "n_trades"}
    warm_sink = ParquetUpsertSink(ctx.path("warm_out", "candles.parquet"), **keys)
    stats_sink = ParquetUpsertSink(ctx.path("warm_out", "stats.parquet"), keys=["symbol"], order_col="n_trades")
    with ctx.setup_tracer.span("candles.drain") as candle_drain:
        _job(spark, warm_in, warm_sink, ctx.path("ckpt_warm"), True).awaitTermination()
    with ctx.setup_tracer.span("stateful.drain") as stateful_drain:
        _stateful_drain(spark, warm_in, stats_sink, ctx.path("ckpt_stats"))
    with ctx.setup_tracer.span("io.warm_tables"):
        read_table(spark, ctx.path("warm_out"), "candles").count()

    windows = 2 if ctx.trace else 1
    start = time.time() + 1.0
    t_from = start + WARM_FEED
    t_to = t_from + ctx.seconds
    tracer = ctx.tracer
    log = streams.CommitLog(
        ParquetUpsertSink(ctx.path("serving", "candles.parquet"), **keys),
        tracer_at=lambda t: tracer if t_to <= t < t_to + ctx.seconds else NullTracer(),
    )
    setup_s = ctx.setup_s() + (t_from - time.time())

    query = _job(spark, live_in, log, ctx.path("ckpt_live"), False)
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "feeder.py"),
         "--out", live_in, "--log", ctx.path("feed.json"), "--seed", str(ctx.seed),
         "--rate", str(RATE), "--tick", str(TICK), "--start", repr(start),
         "--duration", repr(WARM_FEED + windows * ctx.seconds)],
    )
    ctx.rss.exclude.add(feeder.pid)
    monitor = Monitor(spark, log, ctx.work)
    monitor.start()
    try:
        time.sleep(max(0.0, t_to - time.time()))
        peak_rss = ctx.rss.stop()
        feeder.wait(timeout=WARM_FEED + windows * ctx.seconds + 60)
        with open(ctx.path("feed.json")) as fh:
            ticks = json.load(fh)
        total = ticks[-1]["cum"]
        deadline = time.time() + DRAIN_WAIT_S
        while time.time() < deadline and (not log.commits or log.commits[-1][1] < total):
            time.sleep(0.1)
    finally:
        monitor.stop()
        query.stop()
        if feeder.poll() is None:
            feeder.kill()
        feeder.wait()

    lat = stats.match_ticks([(t["due"], t["cum"]) for t in ticks], log.commits)
    in_window = [(t, x) for t, x in zip(ticks, lat) if t_from <= t["due"] < t_to]
    ok = [x for _, x in in_window if x is not None and x <= HORIZON_S]
    failed = sum(t["n"] for t, x in in_window if x is None or x > HORIZON_S)
    attempted = sum(t["n"] for t, _ in in_window)
    p_tail, v_tail, beyond = stats.tail(ok)

    ref = stats.ohlcv_reference(streams.read_trades(os.path.join(live_in, "tick-*.json")))
    rows = streams.read_rows(log.sink.path)
    bad = stats.compare_candles(rows, ref)
    backlog = list(streams.read_trades(os.path.join(warm_in, "*.json")))
    bad += [f"set-up candle drain: {m}" for m in stats.compare_candles(
        streams.read_rows(warm_sink.path), stats.ohlcv_reference(backlog))]
    bad += [f"set-up stateful drain: {m}" for m in stats.compare_running_stats(
        streams.read_rows(stats_sink.path), stats.running_stats_reference(backlog))]
    served = sum(int(r["n_trades"]) for r in rows)
    if served != total:
        bad.append(f"serving n_trades {served} != sent {total}")
    mon_fail = [r for r in monitor.results if not r[2]] + monitor.errors
    out = {
        "correct": not bad and not mon_fail,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "latency_p50_s": stats.median(ok),
            "latency_tail_s": v_tail,
            "throughput_per_s": _absorbed_rate(log.commits, t_from, t_to),
        },
        "info": {"ticks": len(in_window), "tail_percentile": p_tail, "tail_beyond": beyond,
                 "rate_per_s": RATE, "tick_s": TICK, "warm_feed_s": WARM_FEED,
                 "trades_sent": total, "commits": len(log.commits),
                 "monitor_checks": len(monitor.results), "monitor_failures": len(mon_fail),
                 "generator_late_max_s": max(t["written"] - t["due"] for t in ticks),
                 "candle_drain_s": candle_drain["end"] - candle_drain["start"],
                 "stateful_drain_s": stateful_drain["end"] - stateful_drain["start"],
                 "mismatches": bad[:20],
                 "latency_by_tick": [round(x, 3) if x is not None else None for x in lat]},
    }
    if ctx.trace:
        out["layers"] = _traced(ctx, spark, query, log, ticks, lat, monitor, t_to, out)
    return out


def _absorbed_rate(commits, t_from: float, t_to: float) -> float:
    """Trades/s the serving table absorbed over the window: the growth of
    cumulative ``n_trades`` between the first and the last commit inside
    the window, over the time between them."""
    inside = [c for c in commits if t_from <= c[0] <= t_to]
    if len(inside) < 2:
        return 0.0
    (t0, c0), (t1, c1) = inside[0], inside[-1]
    return (c1 - c0) / (t1 - t0)


def _traced(ctx, spark, query, log, ticks, lat, monitor, t_from, out) -> dict:
    t_to = t_from + ctx.seconds
    prog = [p for p in streams.progress_of(query) if t_from <= streams.progress_epoch(p) < t_to]
    layers = harness.progress_phases(prog)
    traced = [x for t, x in zip(ticks, lat) if t_from <= t["due"] < t_to and x is not None]
    layers.update(harness.jobs_since(spark, t_from))
    layers.update({
        "sinks.write_s": ctx.tracer.total("sinks.write"),
        "sinks.table_mb": harness.dir_mb(log.sink.path),
        "candles.drain_s": out["info"]["candle_drain_s"],
        "stateful.drain_s": out["info"]["stateful_drain_s"],
        "monitor.check_s": stats.median([r[1] for r in monitor.results]) if monitor.results else 0.0,
        "generator.late_max_s": out["info"]["generator_late_max_s"],
        "trace.overhead_pct": 100.0 * (stats.median(traced) / out["metrics"]["latency_p50_s"] - 1.0),
        "trace.accounted_pct": 100.0 * sum(layers[k] for k in harness.PHASES) / ctx.seconds,
    })
    return layers

