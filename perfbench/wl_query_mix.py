"""``query_mix``: one analyst client in a closed loop over registry queries.

Set-up generates the ten tables twice from the seed, at sf0.01 (warm-up)
and sf0.1 (timed), and evaluates each query's DuckDB oracle on the sf0.01
tables; then it starts Spark, warms the io layer and the noop sink, and
runs one untimed pass of the mix at sf0.01 that collects every result and
checks it against its oracle (the output check). The timed window then
runs whole passes at sf0.1, each a fresh seeded order of the mix, until at
least ``seconds`` have passed and at least two passes are done. One
operation is ``REGISTRY[name].fn(spark, sf_dir)`` (construction) followed
by a noop write (execution). No result of the warm-up can be reused by the
timed window: it reads other files.

In the traced run, a further untraced pass and a traced pass follow the
timed window; the traced pass gives the layer split and the pair gives
the tracing overhead.

Latency is per query (construction plus execution); throughput is queries
per second of a pass, median over the passes.
"""

from __future__ import annotations

import random
import sys
import time

import harness
import stats
from datagen import write_tables
from layers import MODULES
from oracle import duck_connection, frames_differ

#: The mix: two fast ``HEADLINE`` queries of each registry module (one of
#: ml), so that a warm pass takes about five seconds on a 4-core box and
#: every module is measured in every run.
MIX = (
    "q_pricing_summary", "q_join_inner",  # relational
    "q_tick_bars", "q_twap",  # finance
    "q_token_stats", "q_chunk_docs",  # llmdata
    "q_simhash", "q_dup_cluster_stats",  # dedup_advanced
    "q_prefix_dedup", "q_kanonymity",  # corpus_ops
    "q_decision_stump",  # ml
    "q_ohlcv_1min", "q_upsert_last_wins",  # reference_surface
)
WARM_SF, TIMED_SF = 0.01, 0.1
#: Two passes give 26 samples (a p60 tail with ten beyond it). A third
#: pass was tried: it cost 6 s a run and did not narrow the run-to-run
#: spread, which comes from whole runs being faster or slower.
MIN_PASSES = 2


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _mix():
    sys.path.insert(0, harness.ROOT)
    from bench import HEADLINE

    from crypto_trading_data_pipeline_spark.queries import REGISTRY

    missing = [n for n in MIX if n not in HEADLINE or n not in REGISTRY]
    if missing:
        raise SystemExit(f"query_mix: not in bench.HEADLINE/REGISTRY: {missing}")
    return REGISTRY


class _Pass:
    def __init__(self):
        self.lat: list[float] = []
        self.by_query: dict[str, float] = {}
        self.failed = 0
        self.wall = 0.0


def run_pass(spark, registry, sf_dir: str, order, tracer=None, probes=None) -> _Pass:
    """One closed-loop pass. With ``tracer`` each query gets a job group,
    construct/execute spans tagged with its module, and a py4j count over
    construction."""
    res = _Pass()
    t_pass = time.perf_counter()
    for name in order:
        fn = registry[name].fn
        module = fn.__module__.rsplit(".", 1)[-1]
        t0 = time.perf_counter()
        try:
            if tracer is None:
                _noop(fn(spark, sf_dir))
            else:
                spark.sparkContext.setJobGroup(f"q:{name}", name)
                with tracer.span("queries.construct", query=name, module=module):
                    probes["py4j"].active = True
                    df = fn(spark, sf_dir)
                    probes["py4j"].active = False
                probes["catalyst"].add_tracker(df._jdf.queryExecution().tracker())
                with tracer.span("queries.execute", query=name, module=module):
                    _noop(df)
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, the loop goes on
            res.failed += 1
            print(f"query_mix: {name} failed: {type(exc).__name__}: {str(exc)[:200]}", file=sys.stderr)
            continue
        finally:
            if probes is not None:
                probes["py4j"].active = False
        res.lat.append(time.perf_counter() - t0)
        res.by_query[name] = res.lat[-1]
    res.wall = time.perf_counter() - t_pass
    return res


def run(ctx: harness.Ctx) -> dict:
    registry = _mix()
    from crypto_trading_data_pipeline_spark.io import TABLES, read_table

    with ctx.own_work():
        warm_dir = write_tables(ctx.path("sf0.01"), ctx.seed, WARM_SF)
        timed_dir = write_tables(ctx.path("sf0.1"), ctx.seed, TIMED_SF)
        con = duck_connection(warm_dir, TABLES)
        expected = {n: con.execute(registry[n].oracle).fetchdf() for n in MIX}
        con.close()
    spark = ctx.start_spark()
    rng = random.Random(ctx.seed)

    with ctx.setup_tracer.span("io.warm_tables"):
        for d in (warm_dir, timed_dir):
            for t in TABLES:
                read_table(spark, d, t)
    _noop(spark.range(8))
    mismatches = []
    with ctx.setup_tracer.span("warmup"):
        for name in rng.sample(MIX, len(MIX)):
            try:
                got = registry[name].fn(spark, warm_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — reported as a mismatch
                mismatches.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            with ctx.own_work():
                why = frames_differ(got, expected[name])
            if why:
                mismatches.append(f"{name}: {why}")

    setup_s = ctx.setup_s()
    passes: list[_Pass] = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        passes.append(run_pass(spark, registry, timed_dir, rng.sample(MIX, len(MIX))))
    window = time.perf_counter() - t_start
    peak_rss = ctx.rss.stop()

    lat = [x for p in passes for x in p.lat]
    failed = sum(p.failed for p in passes)
    p_tail, v_tail, beyond = stats.tail(lat)
    out = {
        "correct": not mismatches,
        "attempted": len(MIX) * len(passes),
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "latency_p50_s": stats.median(lat),
            "latency_tail_s": v_tail,
            "throughput_per_s": stats.median([len(p.lat) / p.wall for p in passes]),
        },
        "info": {"passes": len(passes), "samples": len(lat), "tail_percentile": p_tail,
                 "tail_beyond": beyond, "window_s": window, "pass_s": [p.wall for p in passes],
                 "query_s": {n: [round(p.by_query.get(n, -1), 3) for p in passes] for n in MIX},
                 "mismatches": mismatches},
    }
    if ctx.trace:
        out["layers"] = _traced(ctx, spark, registry, timed_dir, rng)
    return out


def _traced(ctx, spark, registry, timed_dir, rng) -> dict:
    tracer = ctx.tracer
    probes = {"py4j": harness.Py4jCounter(spark)}
    plain = run_pass(spark, registry, timed_dir, rng.sample(MIX, len(MIX)))
    since = time.time()
    with harness.CatalystPhases(spark) as cat:
        probes["catalyst"] = cat
        traced = run_pass(spark, registry, timed_dir, rng.sample(MIX, len(MIX)), tracer, probes)
    spark.sparkContext.setJobGroup("perfbench", "perfbench")
    layers = {
        "queries.construct_s": tracer.total("queries.construct"),
        "queries.execute_s": tracer.total("queries.execute"),
        "queries.py4j_calls": probes["py4j"].n,
        "catalyst.analysis_ms": cat.ms["analysis"],
        "catalyst.optimization_ms": cat.ms["optimization"],
        "catalyst.planning_ms": cat.ms["planning"],
    }
    for m in MODULES:
        for phase in ("construct", "execute"):
            layers[f"queries.{m}.{phase}_s"] = sum(
                s["end"] - s["start"] for s in tracer.spans
                if s["name"] == f"queries.{phase}" and s["attrs"]["module"] == m
            )
    layers.update(harness.jobs_since(spark, since, group_prefix="q:"))
    layers["trace.overhead_pct"] = 100.0 * (traced.wall / plain.wall - 1.0)
    layers["trace.accounted_pct"] = 100.0 * (layers["queries.construct_s"] + layers["queries.execute_s"]) / plain.wall
    return layers
