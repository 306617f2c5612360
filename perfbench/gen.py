"""Open-loop image generator for ``epic_ingest``: a separate, single-threaded
process that sends images over the UDS socket on a fixed schedule.

Phase 1 sends ``count`` images at ``rate`` images per second; a send that
is due waits for nothing but its due time, so a slow system does not slow
the offered load. Phase 2 waits until the file ``--go`` exists (the parent
creates it once the stream has committed phase 1, so the block meets an
idle stream), then sends ``backlog`` images as fast as the socket accepts
them. One connection at a time. Every image is stamped with its due
time, and the stamps are written as JSON to ``--out`` at the end:

    {"open":    [[epoch_id, due, start, end], ...],
     "backlog": [[epoch_id, start, end], ...],
     "failures": [epoch_id, ...]}

Times are ``time.time()`` seconds, so they compare with the parent's clock.

    python3 perfbench/gen.py --addr SOCK --seed 1 --rate 2 --count 40 \
        --backlog 96 --first-epoch 100 --go go.flag --out stamps.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import images
from epic_stream_processor_spark.sources.fits import format_header
from epic_stream_processor_spark.sources.uds import stream_data_uds

from stats import schedule

GO_TIMEOUT_S = 60.0


def send(addr: str, seed: int, epoch_id: int) -> bool:
    primary, img = images.headers(epoch_id)
    try:
        stream_data_uds(format_header(primary), format_header(img),
                        images.cube(seed, epoch_id), addr)
        return True
    except OSError:
        return False


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--addr", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--backlog", type=int, required=True)
    ap.add_argument("--first-epoch", type=int, required=True)
    ap.add_argument("--go", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    n_open = a.count
    due = schedule(time.time() + 0.2, a.rate, n_open)
    opened, backlog, failures = [], [], []
    for i, d in enumerate(due):
        wait = d - time.time()
        if wait > 0:
            time.sleep(wait)
        e = a.first_epoch + i
        t = time.time()
        ok = send(a.addr, a.seed, e)
        opened.append([e, d, t, time.time()])
        if not ok:
            failures.append(e)
    deadline = time.time() + GO_TIMEOUT_S
    while not os.path.exists(a.go):
        if time.time() > deadline:
            sys.exit("gen: no go signal for the backlog block")
        time.sleep(0.01)
    for j in range(a.backlog):
        e = a.first_epoch + n_open + j
        t = time.time()
        ok = send(a.addr, a.seed, e)
        backlog.append([e, t, time.time()])
        if not ok:
            failures.append(e)
    with open(a.out, "w") as fh:
        json.dump({"open": opened, "backlog": backlog, "failures": failures}, fh)


if __name__ == "__main__":
    main()
