"""Open-loop record generator for the stream-correlate workload.

Runs as its own process, separate from the engine under test. It first
writes a backlog of ``BACKLOG`` records in files of ``FILE_RECORDS``,
creates ``--ready`` and waits for ``--go`` to exist. Then it writes
``RATE`` records per second as one file every ``TICK_S`` seconds on a
fixed schedule that does not slow down when the engine does, until
``--stop`` exists. Each live record is stamped with
the time its file was due; each backlog record with the time it was made.
Files appear atomically (written under a dot name, which Spark's file
source ignores, then renamed). On exit it writes a JSON log of every file:
due time, time it became visible, record count and first offset.

    python3 perfbench/generator.py --out DIR --seed 1 --ready R --go G \\
        --stop S --log L
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

from datagen import record_table

#: records per backlog file
FILE_RECORDS = 10_000
#: backlog records, written before the engine starts (a consumer restarting
#: with lag)
BACKLOG = 300_000
#: live input rate, records/s: about a tenth of the catch-up rate on 4 cores, so
#: a live batch is mostly per-batch fixed cost
RATE = 10_000
#: one live file every TICK_S seconds
TICK_S = 0.2


def write_file(out: str, seq: int, table) -> float:
    tmp = os.path.join(out, f".part-{seq:06d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out, f"part-{seq:06d}.parquet"))
    return time.time()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ready", required=True)
    ap.add_argument("--go", required=True)
    ap.add_argument("--stop", required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()

    rng = np.random.default_rng(args.seed)
    files = []
    offset = seq = 0
    while offset < BACKLOG:
        n = min(FILE_RECORDS, BACKLOG - offset)
        made = time.time()
        written = write_file(args.out, seq, record_table(rng, offset, n, made))
        files.append({"due": made, "written": written, "n": n, "first": offset, "live": False})
        offset += n
        seq += 1
    with open(args.ready, "w") as fh:
        fh.write("ready\n")
    while not os.path.exists(args.go):
        if os.path.exists(args.stop):
            break
        time.sleep(0.005)

    per_tick = max(1, round(RATE * TICK_S))
    start = time.time()
    k = 0
    while not os.path.exists(args.stop):
        due = start + k * TICK_S
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        written = write_file(args.out, seq, record_table(rng, offset, per_tick, due))
        files.append({"due": due, "written": written, "n": per_tick, "first": offset, "live": True})
        offset += per_tick
        seq += 1
        k += 1

    with open(args.log, "w") as fh:
        json.dump({"backlog": BACKLOG, "files": files}, fh)


if __name__ == "__main__":
    main()
