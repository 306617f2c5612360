"""Known limit: a ``watch_source`` add while the stream is live can kill the
streaming query, which is why ``epic_ingest`` sends its watch requests
before the images.

Each micro-batch's ``process_batch`` reads the watchlist with
``spark.read.parquet``; ``WatchlistStore._write`` then overwrites that
directory. When the overwrite lands between the batch listing the directory
and reading its part file, the batch dies with
``FAILED_READ_FILE.FILE_NOT_EXIST``; when the batch lists the directory
while the overwrite has emptied it, with ``UNABLE_TO_INFER_SCHEMA``. This
script streams images and sends watch requests at the same time until the
query dies or ``--seconds`` pass:

    python3 perfbench/live_watch_repro.py --seed 1 --seconds 60

Exit code 0 and ``reproduced: ...`` when the query died; 1 when it lived.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import threading
import time

import images
import ingest
import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=60.0)
    a = ap.parse_args()
    work = os.path.join(run.WORK_BASE, f"repro-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run.pin_env(work, event_log=False)
    from epic_stream_processor_spark.sources.uds import send_watch_request

    spark = run.start_spark()
    svc, stop = None, threading.Event()
    try:
        schema = ingest.spool_schema(spark, work)
        base = images.watch_requests(a.seed, 10_000)
        svc = ingest.Service(spark, os.path.join(work, "svc"),
                             os.path.relpath(os.path.join(work, "s.sock")),
                             schema, base, traced=False)
        svc.start_stream()

        def feed():
            e = 0
            while not stop.is_set():
                ingest.send_images(svc.addr, a.seed, [e])
                e += 1
                time.sleep(0.1)

        feeder = threading.Thread(target=feed, daemon=True)
        feeder.start()
        deadline, i = time.time() + a.seconds, 0
        while svc.query.isActive and time.time() < deadline:
            send_watch_request(svc.addr, dict(base[1], source_name=f"LIVE{i}"))
            i += 1
        exc = svc.query.exception()
        stop.set()
        feeder.join()
    finally:
        stop.set()
        if svc is not None:
            svc.stop()
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if exc is None:
        print(f"not reproduced: {i} live watch adds, {svc.images_done} images committed")
        return 1
    classes = sorted(set(re.findall(r"\[([A-Z_]+(?:\.[A-Z_]+)*)\]", str(exc))))
    print(f"reproduced after {i} live watch adds: {', '.join(classes)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
