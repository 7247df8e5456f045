"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 --trace 0

Runs one workload (``query_mix`` or ``candles_live``; see
perfbench/README.md) against the package in this checkout, checks its
outputs, and prints, as the last line of standard output, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics of the traced run, and the spans are
written to ``.perfbench_run/trace-<workload>-s<seed>.json``. The line
before the result holds the full run record: the environment (nproc,
SPARK_GRAFT_CPUS, load averages, versions), the tail percentile and its
sample count, and the output-check details.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("query_mix", "candles_live")
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "latency_p50_s": "s", "latency_tail_s": "s", "throughput_per_s": "1/s"}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM unwind normally, so Spark, the streams and the generator
    # process are stopped and the scratch directory removed.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    import harness

    ctx = harness.Ctx(args.workload, args.seed, args.seconds, bool(args.trace))
    ctx.prepare()
    sys.path.insert(0, harness.ROOT)
    try:
        package = importlib.import_module("crypto_trading_data_pipeline_spark")
        if not os.path.abspath(package.__file__).startswith(harness.ROOT + os.sep):
            raise ImportError(f"imported from {package.__file__}, not from this checkout")
    except ImportError as exc:
        ctx.close()
        print(f"perfbench: package not found in {harness.ROOT}: {exc}", file=sys.stderr)
        return 2
    import layers as layer_names

    workload = importlib.import_module(f"wl_{args.workload}")
    try:
        out = workload.run(ctx)
        ctx.record_env()
    finally:
        ctx.close()

    if args.trace:
        metrics = {k: {"value": float(out["layers"].get(k, 0.0)), "unit": layer_unit(k)} for k in layer_names.ALL}
        layer_setup = {
            "session.get_spark_s": ctx.setup_tracer.total("session.get_spark"),
            "io.warm_tables_s": ctx.setup_tracer.total("io.warm_tables"),
        }
        for k, v in layer_setup.items():
            metrics[k]["value"] = v
        os.makedirs(harness.RUN_DIR, exist_ok=True)
        ctx.tracer.spans.extend(ctx.setup_tracer.spans)
        ctx.tracer.dump(os.path.join(harness.RUN_DIR, f"trace-{args.workload}-s{args.seed}.json"))
    else:
        metrics = {k: {"value": float(out["metrics"][k]), "unit": u} for k, u in E2E_UNITS.items()}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "own_work_s": ctx.own_s,
              "setup_spans_s": ctx.setup_tracer.self_times(), **ctx.info, **out.get("info", {}), "end_to_end": out["metrics"]}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": bool(out["correct"]), "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
