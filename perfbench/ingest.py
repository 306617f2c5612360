"""``epic_ingest``: images over the UDS socket into the streaming pixel
pipeline and its two parquet sinks, under an open-loop load.

Order of a run:
1. Set-up, ``SETUPS`` times (the last one is kept): fresh watchlist store,
   UDS server, and a streaming query that has made its first trigger.
2. ``watch_source`` requests over the socket, before the stream starts
   (a watch add while the stream is live kills the query; see NOTES.md).
3. ``WARMUP`` images, one at a time, each waited for, outside the timed
   region.
4. The generator process: ``RATE`` images/s for ``--seconds`` seconds (at
   least ``MIN_OPEN`` images), all timed; then, once the stream has
   committed those, ``BACKLOG`` images as fast as the socket takes them.
5. Output checks, after the stream has stopped.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import subprocess
import sys
import time

import images
from stats import fell_behind, lateness, percentile
from spans import Tracer, coverage, self_times

# A warm micro-batch of one image took 0.85-1.1 s on a 4-core host (see
# NOTES.md). At one image every 2 s each image meets an idle stream and gets
# a micro-batch of its own, so its latency is one micro-batch plus the wait
# for the next file listing. At a rate the stream cannot clear one image at
# a time it never idles: a slower batch collects more images and is slower
# still, which turns a short slow stretch of a shared host into a large
# latency swing.
RATE = 0.5               # images/s offered in the open-loop phase
MIN_OPEN = 10            # open-loop images, all timed
BACKLOG = 48             # images in the closing burst
WATCH_REQUESTS = 1       # sources added over the socket (~3 s each); the rest are set-up data
# Single-image micro-batches, each waited for. The first two of a new query
# take 2.5-3.5 s; the next ones speed up from ~1.5 s to ~0.9 s over about
# ten batches while the JVM compiles the per-batch driver code.
WARMUP = 12
FILES_PER_TRIGGER = 16
# The first set-up is cold (4-6 s); the median of four is the mean of two of
# the three warm ones.
SETUPS = 4
SAMPLE_IMAGES = 4        # images whose gathered values are checked one by one
DRAIN_TIMEOUT_S = 90.0


def _parse_ts(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


class TimedStore:
    """The watchlist store handed to the socket processor, timing add_source."""

    def __init__(self, store, adds: list):
        self._store = store
        self._adds = adds

    def add_source(self, *a, **kw):
        t = time.time()
        try:
            return self._store.add_source(*a, **kw)
        finally:
            self._adds.append((t, time.time()))

    def __getattr__(self, name):
        return getattr(self._store, name)


class Service:
    """One ingest service: watchlist store, UDS server, streaming query."""

    def __init__(self, spark, root: str, addr: str, schema, base: list, traced: bool):
        from epic_stream_processor_spark.operators.watchlist import WatchlistStore
        from epic_stream_processor_spark.sources.fits import parse_header
        from epic_stream_processor_spark.sources.uds import (
            ParquetSpool, ThreadedUDSServer, make_watch_source_processor)
        from epic_stream_processor_spark.streaming.pipeline import StreamConfig

        self.spark, self.schema, self.addr = spark, schema, addr
        self.cfg = StreamConfig(
            epochs_path=f"{root}/spool", watchlist_path=f"{root}/watchlist",
            out_pixels=f"{root}/pixels", out_metadata=f"{root}/metadata",
            checkpoint=f"{root}/ckpt", cube_col="cube",
        )
        self.store = WatchlistStore(spark, self.cfg.watchlist_path)
        write_watchlist(spark, self.cfg.watchlist_path, base)
        self.spool = ParquetSpool(self.cfg.epochs_path)
        self.adds: list = []
        self.publishes: dict[int, tuple[float, float]] = {}
        processor, store = self.spool, self.store
        if traced:
            def processor(primary_hdr, img_hdr, cube):
                t = time.time()
                self.spool(primary_hdr, img_hdr, cube)
                eid = int(parse_header(primary_hdr)["EPOCHID"])
                self.publishes[eid] = (t, time.time())
            store = TimedStore(self.store, self.adds)
        self.server = ThreadedUDSServer(
            addr, processor,
            extra_processors={"watch_source": make_watch_source_processor(store)},
        )
        self.server.start()
        self.query = None
        self.batches: dict[int, tuple[float, float]] = {}
        self.stage_seconds: list[dict] = []
        self.stage_batch_ids: list[int] = []
        self.images_done = 0

    def start_stream(self) -> None:
        from epic_stream_processor_spark.sources.uds import spool_to_epochs
        from epic_stream_processor_spark.streaming.pipeline import make_process_batch

        process_batch = make_process_batch(
            self.spark, self.cfg, stage_seconds=self.stage_seconds)

        def timed(df, batch_id):
            t = time.time()
            process_batch(df, batch_id)
            self.batches[batch_id] = (t, time.time())
            self.stage_batch_ids.append(batch_id)
            self.images_done += files_in_batch(self.cfg.checkpoint, batch_id)

        stream = spool_to_epochs(
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
            .parquet(self.cfg.epochs_path)
        )
        self.query = (
            stream.writeStream.foreachBatch(timed)
            .option("checkpointLocation", self.cfg.checkpoint)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 60
        while not self.query.status["message"].startswith("Waiting for data"):
            if self.query.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"stream did not start: {self.query.exception()}")
            time.sleep(0.01)

    def wait_images(self, n: int, timeout: float) -> None:
        deadline = time.time() + timeout
        while self.images_done < n:
            if not self.query.isActive or time.time() > deadline:
                raise RuntimeError(f"stream committed {self.images_done}/{n} images: "
                                   f"{self.query.exception()}")
            time.sleep(0.05)

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
        self.server.stop()


def write_watchlist(spark, path: str, configs: list) -> None:
    """The initial watchlist table, in the store's schema."""
    from epic_stream_processor_spark.schemas import WATCHLIST_SCHEMA

    rows = []
    for i, c in enumerate(configs, start=1):
        t_start = dt.datetime.fromisoformat(c["t_start"])
        t_end = (dt.datetime.fromisoformat(c["t_end"]) if c.get("t_end")
                 else t_start + dt.timedelta(days=365 * 99))
        rows.append((i, c["source_name"], float(c["ra"]), float(c["dec"]), images.T0,
                     "Manual trigger", t_start, t_end, c["watch_mode"], c["patch_type"],
                     "Detection of FRBs", c["author"], "watching", None))
    spark.createDataFrame(rows, WATCHLIST_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(path)


def files_in_batch(checkpoint: str, batch_id: int) -> int:
    """Spool files (one per image) the file source assigned to a batch, from
    its log in the checkpoint; every tenth log file is a compacted one that
    also lists the earlier batches."""
    log = os.path.join(checkpoint, "sources", "0", str(batch_id))
    if not os.path.exists(log):
        log += ".compact"
    with open(log) as fh:
        next(fh)  # format version
        return sum(json.loads(line)["batchId"] == batch_id for line in fh)


def spool_schema(spark, work: str):
    """The spool's parquet schema, from one probe row written the same way."""
    from epic_stream_processor_spark.sources.fits import format_header
    from epic_stream_processor_spark.sources.uds import ParquetSpool

    probe = ParquetSpool(os.path.join(work, "schema-probe"))
    primary, img = images.headers(0)
    probe(format_header(primary), format_header(img), images.cube(0, 0))
    return spark.read.parquet(probe.spool_dir).schema


def send_images(addr: str, seed: int, epoch_ids) -> None:
    from epic_stream_processor_spark.sources.fits import format_header
    from epic_stream_processor_spark.sources.uds import stream_data_uds

    for e in epoch_ids:
        primary, img = images.headers(e)
        stream_data_uds(format_header(primary), format_header(img), images.cube(seed, e), addr)


def run(spark, args, work: str, tracer: Tracer) -> tuple[dict, dict]:
    """Run the workload; returns its metrics and operation counts."""
    from epic_stream_processor_spark.sources.uds import send_watch_request

    seed = args.seed
    n_open = max(MIN_OPEN, int(RATE * args.seconds))
    n_total = WARMUP + n_open + BACKLOG
    marks = [("start", time.perf_counter())]
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    schema = spool_schema(spark, work)
    marks.append(("schema", time.perf_counter()))
    configs = images.watch_requests(seed, n_total - 1)
    base, requests = configs[:-WATCH_REQUESTS], configs[-WATCH_REQUESTS:]

    setups, svc = [], None
    for k in range(SETUPS):
        final = k == SETUPS - 1
        addr = os.path.relpath(os.path.join(work, f"s{k}.sock"))
        t = time.perf_counter()
        svc = Service(spark, os.path.join(work, f"svc{k}"), addr, schema, base,
                      traced=final and tracer.enabled)
        bring_up = time.perf_counter() - t
        acks, acked = [], list(base)
        if final:
            for cfg in requests:
                t0 = time.time()
                try:
                    reply = send_watch_request(svc.addr, cfg)
                except OSError:
                    reply = {}
                acks.append((t0, time.time()))
                if reply.get("status") == "added":
                    acked.append(cfg)
            marks.append(("setups+watch", time.perf_counter()))
        t = time.perf_counter()
        svc.start_stream()
        setups.append(bring_up + time.perf_counter() - t)
        if not final:
            svc.stop()

    gen_out, go = os.path.join(work, "stamps.json"), os.path.join(work, "go.flag")
    try:
        for e in range(WARMUP):
            send_images(svc.addr, seed, [e])
            svc.wait_images(e + 1, DRAIN_TIMEOUT_S)
        marks.append(("stream+warmup", time.perf_counter()))
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
             "--addr", svc.addr, "--seed", str(seed), "--rate", str(RATE),
             "--count", str(n_open), "--backlog", str(BACKLOG),
             "--first-epoch", str(WARMUP), "--go", go, "--out", gen_out],
        )
        try:
            # The block meets an idle stream, so block_s does not include what
            # was left of a batch the open loop had in progress: up to one
            # batch's time, different in every run.
            deadline = time.time() + n_open / RATE + 60
            while gen.poll() is None and time.time() < deadline:
                if svc.images_done >= WARMUP + n_open and not os.path.exists(go):
                    open(go, "w").close()
                time.sleep(0.05)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        with open(gen_out) as fh:
            stamps = json.load(fh)
        marks.append(("generator", time.perf_counter()))
        sent = n_total - len(stamps["failures"])
        svc.wait_images(sent, DRAIN_TIMEOUT_S)
        marks.append(("drain", time.perf_counter()))
    finally:
        svc.stop()
    marks.append(("stop", time.perf_counter()))

    progress = [p for p in svc.query.recentProgress if p["numInputRows"] > 0]
    checks = check_outputs(spark, svc, seed, acked, n_total, stamps)
    marks.append(("checks", time.perf_counter()))
    print("epic_ingest phases (s): " + ", ".join(
        f"{n} {t - p:.1f}" for (_, p), (n, t) in zip(marks, marks[1:])), file=sys.stderr)
    failed = len(checks["bad_images"]) + (len(configs) - len(acked))
    commit = checks["commit"]

    due = {e: d for e, d, _, _ in stamps["open"]}
    # an image that was never committed misses any latency limit: its sample
    # is inf, so every run keeps n_open samples and reports the same percentile
    lat = [(commit[e] - d) * 1000 if e in commit else math.inf for e, d in due.items()]
    lags = lateness([d for _, d, _, _ in stamps["open"]], [s for _, _, s, _ in stamps["open"]])
    if fell_behind(lags, RATE):
        print(f"FLAG: the generator fell behind its schedule by up to "
              f"{max(lags) * 1000:.0f} ms; the offered rate was not met", file=sys.stderr)
    backlog_ids = [e for e, _, _ in stamps["backlog"]]
    block_s = max(commit.get(e, math.inf) for e in backlog_ids) - stamps["backlog"][0][1]

    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "block_s": (block_s, "s"),
    }
    print(f"epic_ingest: set-ups (s) {[round(x, 3) for x in setups]}", file=sys.stderr)
    print(f"epic_ingest: {len(lat)} latency samples (ms) "
          f"{[round(x) for x in lat]}; {len(progress)} micro-batches of "
          f"{[p['numInputRows'] for p in progress]} rows", file=sys.stderr)
    layers = {}
    if tracer.enabled:
        layers = ingest_layers(tracer, svc, stamps, commit, due, lags, progress,
                               acks, checks, block_s)
    return {"e2e": e2e, "layers": layers, "attempted": n_total + len(requests),
            "failed": failed, "correct": not checks["bad_images"]}


def check_outputs(spark, svc: Service, seed: int, acked: list, n_total: int, stamps) -> dict:
    """Every image once in the metadata sink, its pixel count as the watchlist
    geometry predicts, sampled gathered values equal to the regenerated
    cube, and no duplicate rows across ``_batch_id`` partitions."""
    from pyspark.sql import functions as F

    meta = spark.read.parquet(svc.cfg.out_metadata)
    px = spark.read.parquet(svc.cfg.out_pixels)
    meta_rows = meta.groupBy("epoch_id").agg(
        F.count(F.lit(1)).alias("n"), F.min("_batch_id").alias("b")).collect()
    px_rows = px.groupBy("epoch_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("_batch_id").alias("nb"),
        F.countDistinct("source_name", "pixel_coord_x", "pixel_coord_y").alias("nd"),
    ).collect()
    meta_n = {r["epoch_id"]: (r["n"], r["b"]) for r in meta_rows}
    px_n = {r["epoch_id"]: (r["n"], r["nb"], r["nd"]) for r in px_rows}
    failed_sends = set(stamps["failures"])
    bad = set()
    for e in range(n_total):
        if e in failed_sends:
            bad.add(e)
            continue
        want = images.expected_pixels(e, acked)
        n_meta, _ = meta_n.get(e, (0, None))
        n_px, n_batches, n_distinct = px_n.get(e, (0, 0, 0))
        if n_meta != 1 or n_px != want or n_batches != 1 or n_distinct != n_px:
            bad.add(e)
    commit = {e: svc.batches[b][1] for e, (n, b) in meta_n.items() if b in svc.batches}

    import numpy as np
    rng = np.random.default_rng([seed, 11])
    sample = sorted(int(e) for e in rng.choice(n_total, SAMPLE_IMAGES, replace=False))
    rows = px.where(F.col("epoch_id").isin(sample)).select(
        "epoch_id", "source_name", "pixel_coord_x", "pixel_coord_y", "pixel_values").collect()
    by_epoch: dict[int, dict] = {e: {} for e in sample}
    for r in rows:
        by_epoch[r["epoch_id"]][(r["source_name"], r["pixel_coord_x"], r["pixel_coord_y"])] = r["pixel_values"]
    for e in sample:
        c = images.cube(seed, e)
        want = {}
        for name, x, y, p in images.expected_patches(e, acked):
            h = p // 2
            for ox in range(-h, h + 1):
                for oy in range(-h, h + 1):
                    want[(name, x + ox, y + oy)] = images.spectrum(c, x + ox, y + oy)
        if by_epoch[e] != want:
            bad.add(e)
    if bad:
        print(f"epic_ingest: {len(bad)} images failed the output check: "
              f"{sorted(bad)[:10]}", file=sys.stderr)
    return {"bad_images": bad, "commit": commit,
            "pixel_rows": sum(n for n, _, _ in px_n.values()),
            "watchlist_rows": svc.store.read().count()}


SPANS = ("image", "gen.wait", "uds.send", "spool.publish", "stream.queue", "stream.trigger",
         "stream.process_batch", "stream.wl_read", "stream.px_write", "stream.meta_write")


def layer_names() -> set[str]:
    """Every per-layer metric a traced run of this workload reports."""
    return {
        "gen.lag_p95_ms", "uds.send_ms", "uds.failures", "spool.publish_ms", "spool.files",
        "stream.batches", "stream.images_per_batch", "stream.trigger_ms",
        "stream.latest_offset_ms", "stream.planning_ms", "stream.add_batch_ms",
        "stream.wal_ms", "stream.wl_read_ms", "stream.px_write_ms", "stream.meta_write_ms",
        "stream.drain_images_per_s", "epic_pipeline.pixel_rows_per_image",
        "watchlist.add_ms", "watchlist.ack_ms", "watchlist.rows",
    } | {f"self.{n}_ms" for n in SPANS}


def ingest_layers(tracer, svc, stamps, commit, due, lags, progress, acks, checks, block_s) -> dict:
    """Per-layer numbers, and spans of each image's path from its due time to
    the end of the micro-batch that committed it."""
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    batch_of = {}
    meta_rows = svc.spark.read.parquet(svc.cfg.out_metadata).select("epoch_id", "_batch_id").collect()
    for r in meta_rows:
        batch_of[r["epoch_id"]] = r["_batch_id"]
    trigger_start = {p["batchId"]: _parse_ts(p["timestamp"]) for p in progress}
    stages = dict(zip(svc.stage_batch_ids, svc.stage_seconds))

    for e, d, s, t_end in stamps["open"]:
        if e not in commit:
            continue
        b = batch_of[e]
        root = tracer.add("image", d, commit[e], op=f"img{e}")
        tracer.add("gen.wait", d, s, f"img{e}", root)
        tracer.add("uds.send", s, t_end, f"img{e}", root)
        pub = svc.publishes.get(e)
        if pub:
            tracer.add("spool.publish", pub[0], pub[1], f"img{e}", root)
            tracer.add("stream.queue", pub[1], trigger_start.get(b, pub[1]), f"img{e}", root)
        pb_start, pb_end = svc.batches[b]
        tracer.add("stream.trigger", trigger_start.get(b, pb_start), pb_start, f"img{e}", root)
        pb = tracer.add("stream.process_batch", pb_start, pb_end, f"img{e}", root)
        t = pb_start
        for k in ("wl_read", "px_write", "meta_write"):
            dur = stages.get(b, {}).get(k, 0.0)
            tracer.add(f"stream.{k}", t, t + dur, f"img{e}", pb)
            t += dur
    for i, (t0, t1) in enumerate(acks):
        root = tracer.add("watch", t0, t1, f"watch{i}")
        if i < len(svc.adds):
            tracer.add("watchlist.add", svc.adds[i][0], svc.adds[i][1], f"watch{i}", root)

    n_img = sum(1 for e, *_ in stamps["open"] if e in commit)
    per_image = {k: v * 1000 / max(n_img, 1) for k, v in self_times(
        [s for s in tracer.spans if not s.op.startswith("watch")]).items()}
    dur = lambda k: [p["durationMs"].get(k, 0) for p in progress]  # noqa: E731
    rows_in = [p["numInputRows"] for p in progress]
    cov = coverage(tracer.spans, "image")
    sends = [(t1 - t0) * 1000 for _, _, t0, t1 in stamps["open"]]
    return {
        "gen.lag_p95_ms": (percentile(lags, 95) * 1000, "ms"),
        "uds.send_ms": (med(sends), "ms"),
        "uds.failures": (len(stamps["failures"]), "count"),
        "spool.publish_ms": (med([(b - a) * 1000 for a, b in svc.publishes.values()]), "ms"),
        "spool.files": (sum(1 for f in os.listdir(svc.cfg.epochs_path) if f.endswith(".parquet")), "count"),
        "stream.batches": (len(progress), "count"),
        "stream.images_per_batch": (statistics.mean(rows_in) if rows_in else 0.0, "count"),
        "stream.trigger_ms": (med(dur("triggerExecution")), "ms"),
        "stream.latest_offset_ms": (med(dur("latestOffset")), "ms"),
        "stream.planning_ms": (med(dur("queryPlanning")), "ms"),
        "stream.add_batch_ms": (med(dur("addBatch")), "ms"),
        "stream.wal_ms": (med(dur("walCommit")), "ms"),
        "stream.wl_read_ms": (med([r["wl_read"] * 1000 for r in svc.stage_seconds]), "ms"),
        "stream.px_write_ms": (med([r["px_write"] * 1000 for r in svc.stage_seconds]), "ms"),
        "stream.meta_write_ms": (med([r["meta_write"] * 1000 for r in svc.stage_seconds]), "ms"),
        "stream.drain_images_per_s": (BACKLOG / block_s, "1/s"),
        "epic_pipeline.pixel_rows_per_image": (checks["pixel_rows"] / max(len(commit), 1), "count"),
        "watchlist.add_ms": (med([(b - a) * 1000 for a, b in svc.adds]), "ms"),
        "watchlist.ack_ms": (med([(b - a) * 1000 for a, b in acks]), "ms"),
        "watchlist.rows": (checks["watchlist_rows"], "count"),
        "trace.coverage": (cov if cov is not None else 0.0, "ratio"),
        **{f"self.{layer}_ms": (v, "ms") for layer, v in per_image.items()},
    }
