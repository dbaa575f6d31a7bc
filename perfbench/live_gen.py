"""Open-loop load generator for the live phase of ``cdc_publish``.

One single-threaded process. Tick ``k`` is due at ``start + k *
tick_s``; its messages (perfbench.inputs.dml_file, stream LIVE, index
k) are built before the due time and published as one file by atomic
rename at the due time, whatever the pipeline is doing. The report
lists, per tick, the file name, the due time and the time the rename
finished (all epoch seconds), so the consumer can time each message
from its due time and see how late the generator itself ran.

    python3 perfbench/live_gen.py --seed 1 --dir D --start T --ticks 200 \
        --tick-ms 50 --per-tick 25 --report R
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.inputs import STREAM_LIVE, dml_file, write_dml_file  # noqa: E402


def tick_name(k: int) -> str:
    return f"tick-{k:06d}.txt"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--tick-ms", type=float, required=True)
    ap.add_argument("--per-tick", type=int, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args(argv)
    ticks = []
    for k in range(a.ticks):
        msgs = dml_file(a.seed, STREAM_LIVE, k, a.per_tick)
        due = a.start + k * a.tick_ms / 1000.0
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_dml_file(os.path.join(a.dir, tick_name(k)), msgs)
        ticks.append([tick_name(k), due, time.time()])
    with open(a.report, "w", encoding="utf-8") as f:
        json.dump({"ticks": ticks}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
