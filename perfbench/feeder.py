"""Open-loop trade generator for ``candles_live``, run as its own process.

Every ``tick`` seconds from ``--start`` (epoch seconds) it writes one file
of ``rate * tick`` trade JSON lines into ``--out`` (staged under a hidden
name, then renamed, so the file source never sees a partial file). The
schedule is fixed in advance and never waits for the job: a tick that is
late is written at once and its lateness logged. Trade ``i`` of a tick is
stamped with its creation time, ``1000 / rate`` ms after trade ``i - 1``,
the last one at the tick's due time.

At the end it writes ``--log``: one record per tick with its due time,
write time, trade count and cumulative trade count.

    python3 perfbench/feeder.py --out DIR --log FILE --seed 1 \
        --rate 1000 --tick 0.1 --start 1790000000.0 --duration 20
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datagen import TradeFeed  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--tick", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--duration", type=float, required=True)
    a = ap.parse_args()

    per_tick = int(round(a.rate * a.tick))
    step_ms = 1000 // a.rate
    if step_ms < 1:
        sys.exit("rate above 1000/s would stamp two trades with one millisecond")
    feed = TradeFeed(a.seed)
    os.makedirs(a.out, exist_ok=True)
    log, cum = [], 0
    for k in range(int(round(a.duration / a.tick))):
        due = a.start + (k + 1) * a.tick
        due_ms = int(round(due * 1000))
        lines = feed.trades(per_tick, [due_ms - (per_tick - 1 - i) * step_ms for i in range(per_tick)])
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        tmp = os.path.join(a.out, f".tick-{k:06d}.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(a.out, f"tick-{k:06d}.json"))
        cum += per_tick
        log.append({"k": k, "due": due, "written": time.time(), "n": per_tick, "cum": cum})
    with open(a.log, "w") as fh:
        json.dump(log, fh)


if __name__ == "__main__":
    main()
