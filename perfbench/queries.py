"""``queries_sf01``: one closed-loop client running interleaved sweeps over a
roster of registered queries on the sf0.1 tables.

The first sweep collects every query's rows and checks them against the
query's DuckDB oracle (outside the timed region; it also warms the JVM).
The timed sweeps then write each query to the ``noop`` sink, each sweep in
its own order drawn from the seed. The number of timed sweeps follows from
``--seconds`` alone, never from how fast the sweeps ran, so every run of a
given length takes the same number of samples and reports the same
percentile. A query's time is its median over the sweeps.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import sys
import time

from spans import Tracer, coverage, reduce_event_log, self_times
from stats import TAIL_P, check_tail, geomean, percentile

# Four operator families, one to three queries each. The full roster (every
# bench query, every epic_* query and the ingest capstones: 35 queries) takes
# about 21 s per warm sweep on a 4-core host, and one cold checked sweep of
# ten queries took 27 s there: more than a run can spend. These seven take
# about 6 s per warm sweep and 24 s cold.
ROSTER = (
    "epic_light_curve", "epic_img_metadata", "epic_source_fov",
    "q_sessionize", "q6_forecast_revenue",
    "image_near_dup",
    "tar_roundtrip",
)
FAMILIES = ("epic", "relational", "llm", "corpus")
# Timed sweeps: one per SWEEP_S seconds of run length, at least MIN_SWEEPS,
# so that seven queries give at least 35 samples and the tail percentile has
# ten beyond it. Seven queries and an odd sample count put the median and the
# tail inside one query's samples rather than on the edge between two. The
# count depends on --seconds only, never on how fast the sweeps ran.
SWEEP_S = 6.0
MIN_SWEEPS = 5
SETUPS = 3
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def family(q) -> str:
    """The operator family of the module that defines the query's function
    (the registry wraps it under the same name)."""
    from epic_stream_processor_spark.plans import corpus, epic, llm, relational, tpch

    for module, fam in ((epic, "epic"), (relational, "relational"), (tpch, "relational"),
                        (llm, "llm"), (corpus, "corpus")):
        if hasattr(module, q.fn.__name__):
            return fam
    raise KeyError(q.fn.__name__)


def _canon(v) -> str:
    """Cell canonicalisation of the oracle-parity tests: exact, full-precision."""
    import datetime

    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (bool, int)):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def fingerprint(cols, rows) -> str:
    """Row count plus a hash of the rows, columns sorted by name and rows
    sorted, so it does not depend on row or column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join([",".join(cols[i] for i in order)] + lines).encode())
    return f"{len(lines)}:{h.hexdigest()}"


def oracle_fingerprints(registry, sf_dir: str, cache_path: str) -> dict[str, str]:
    """DuckDB oracle fingerprints of the roster, cached across runs by the
    oracle's SQL text and the data directory."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    out, missing = {}, []
    for name in ROSTER:
        key = hashlib.sha256(f"{sf_dir}\n{registry[name].oracle}".encode()).hexdigest()
        if cache.get(name, {}).get("key") == key:
            out[name] = cache[name]["fp"]
        else:
            missing.append((name, key))
    if missing:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, key in missing:
            rel = con.execute(registry[name].oracle)
            out[name] = fingerprint([d[0] for d in rel.description], rel.fetchall())
            cache[name] = {"key": key, "fp": out[name]}
        con.close()
        with open(cache_path, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
    return out


def run(spark, args, work: str, tracer: Tracer, sf_dir: str, cache_dir: str,
        restart) -> dict:
    from epic_stream_processor_spark.plans.registry import EXTRA_PARITY, QUERIES

    registry = {**QUERIES, **EXTRA_PARITY}
    marks = [("start", time.perf_counter())]
    expected = oracle_fingerprints(registry, sf_dir, os.path.join(cache_dir, "oracle.json"))
    marks.append(("oracle", time.perf_counter()))

    # Set-up: a fresh Spark context of the running JVM, ready to serve.
    setups = []
    for _ in range(SETUPS):
        t = time.perf_counter()
        spark = restart(spark)
        spark.range(1000).selectExpr("sum(id)").collect()
        setups.append(time.perf_counter() - t)
    tracer.sc = spark.sparkContext
    marks.append(("setups", time.perf_counter()))

    rng = random.Random(args.seed)
    bad = set()
    order = list(ROSTER)
    rng.shuffle(order)
    for name in order:
        try:
            df = registry[name].fn(spark, sf_dir)
            got = fingerprint(df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # a query that raises is a failed operation
            print(f"queries: {name} raised {exc!r}", file=sys.stderr)
            got = None
        if got != expected[name]:
            print(f"queries: {name} fingerprint {got} != oracle {expected[name]}",
                  file=sys.stderr)
            bad.add(name)

    marks.append(("checked sweep", time.perf_counter()))
    samples: dict[str, list[float]] = {n: [] for n in ROSTER}
    attempted, failed = len(ROSTER), len(bad)
    sweeps = max(MIN_SWEEPS, math.ceil(args.seconds / SWEEP_S))
    for sweep in range(sweeps):
        order = list(ROSTER)
        rng.shuffle(order)
        for name in order:
            q = registry[name]
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("query", op=f"{name}#{sweep}", group=True):
                    with tracer.span("plans.build"):
                        df = q.fn(spark, sf_dir)
                    with tracer.span("driver.execute"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                # a failed query misses any latency limit: its sample is inf
                print(f"queries: {name} raised {exc!r}", file=sys.stderr)
                bad.add(name)
                failed += 1
                samples[name].append(math.inf)
                continue
            samples[name].append(time.perf_counter() - t)

    marks.append(("timed sweeps", time.perf_counter()))
    print("queries phases (s): " + ", ".join(
        f"{n} {t - p:.1f}" for (_, p), (n, t) in zip(marks, marks[1:])), file=sys.stderr)
    per_query = {n: statistics.median(v) for n, v in samples.items()}
    lat = [x * 1000 for v in samples.values() for x in v]
    print(f"queries: {sweeps} timed sweeps, {len(lat)} latency samples", file=sys.stderr)
    check_tail(len(lat), TAIL_P)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "block_s": (sum(per_query.values()), "s"),
    }
    fam_of = {n: family(registry[n]) for n in ROSTER}
    layers = {}
    if tracer.enabled:
        layers = {
            **{f"family.{f}_s": (sum(v for n, v in per_query.items() if fam_of[n] == f), "s")
               for f in FAMILIES},
            "query.geomean_ms": (geomean([v * 1000 for v in per_query.values()]), "ms"),
            f"query.latency_p{TAIL_P}_ms": (percentile(lat, TAIL_P), "ms"),
            **{f"query.{n}_ms": (v * 1000, "ms") for n, v in per_query.items()},
        }
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed,
            "correct": not bad, "spark": spark, "sweeps": sweeps, "fam_of": fam_of}


SPANS = ("query", "plans.build", "driver.execute", "spark.job")


def layer_names() -> set[str]:
    """Every per-layer metric a traced run of this workload reports."""
    names = {f"family.{f}_s" for f in FAMILIES} | {"query.geomean_ms", f"query.latency_p{TAIL_P}_ms"}
    names |= {f"query.{n}_ms" for n in ROSTER}
    for f in FAMILIES:
        names |= {f"plans.{f}.build_ms", f"driver.{f}.pre_job_ms", f"skew.{f}.max_over_median"}
        names |= {f"exec.{f}.{k}" for k in ("run_ms", "cpu_ms", "gc_ms", "tasks")}
        names |= {f"shuffle.{f}.write_bytes", f"shuffle.{f}.read_bytes", f"spill.{f}.bytes"}
        names |= {f"arrow.{f}.{k}" for k in ("python_ms", "bytes_to_py", "bytes_from_py", "crossings")}
    return names | {f"self.{n}_ms" for n in SPANS}


def event_log_layers(tracer: Tracer, log_lines, fam_of: dict, sweeps: int) -> dict:
    """Per-family driver, executor, shuffle, spill, skew and Arrow numbers,
    per sweep, from the event log's job groups mapped back to query spans."""
    groups = reduce_event_log(log_lines)
    spans_by_id = {s.id: s for s in tracer.spans}
    acc = {f: {"build_ms": 0.0, "pre_job_ms": 0.0} for f in FAMILIES}
    keys = ("run_ms", "cpu_ms", "gc_ms", "tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "python_ms", "bytes_to_py",
            "bytes_from_py", "crossings")
    for f in FAMILIES:
        acc[f].update({k: 0.0 for k in keys}, skew=1.0)
    job_spans = []
    for s in tracer.spans:
        if s.name == "plans.build":
            f = fam_of[spans_by_id[s.parent].op.split("#")[0]]
            acc[f]["build_ms"] += (s.end - s.start) * 1000 / sweeps
        if s.name != "query":
            continue
        f = fam_of[s.op.split("#")[0]]
        g = groups.get(f"span-{s.id}")
        if g is None:
            continue
        if g["first_submit_ms"] is not None:
            acc[f]["pre_job_ms"] += (g["first_submit_ms"] - s.start * 1000) / sweeps
        for k in keys:
            acc[f][k] += g[k] / sweeps
        acc[f]["skew"] = max(acc[f]["skew"], g["skew_max_over_median"])
        for start_ms, end_ms in g["job_intervals_ms"]:
            job_spans.append((s.id, start_ms / 1000, end_ms / 1000))
    for sid, start, end in job_spans:
        execute = next((c for c in tracer.spans if c.parent == sid and c.name == "driver.execute"), None)
        tracer.add("spark.job", start, end, spans_by_id[sid].op,
                   execute.id if execute else sid)
    out = {}
    for f, a in acc.items():
        out.update({
            f"plans.{f}.build_ms": (a["build_ms"], "ms"),
            f"driver.{f}.pre_job_ms": (a["pre_job_ms"], "ms"),
            f"exec.{f}.run_ms": (a["run_ms"], "ms"),
            f"exec.{f}.cpu_ms": (a["cpu_ms"], "ms"),
            f"exec.{f}.gc_ms": (a["gc_ms"], "ms"),
            f"exec.{f}.tasks": (a["tasks"], "count"),
            f"shuffle.{f}.write_bytes": (a["shuffle_write_bytes"], "B"),
            f"shuffle.{f}.read_bytes": (a["shuffle_read_bytes"], "B"),
            f"spill.{f}.bytes": (a["spill_bytes"], "B"),
            f"skew.{f}.max_over_median": (a["skew"], "ratio"),
            f"arrow.{f}.python_ms": (a["python_ms"], "ms"),
            f"arrow.{f}.bytes_to_py": (a["bytes_to_py"], "B"),
            f"arrow.{f}.bytes_from_py": (a["bytes_from_py"], "B"),
            f"arrow.{f}.crossings": (a["crossings"], "count"),
        })
    n_q = sum(1 for s in tracer.spans if s.name == "query")
    out.update({f"self.{k}_ms": (v * 1000 / max(n_q, 1), "ms")
                for k, v in self_times(tracer.spans).items()})
    cov = coverage(tracer.spans, "query")
    out["trace.coverage"] = (cov if cov is not None else 0.0, "ratio")
    return out
