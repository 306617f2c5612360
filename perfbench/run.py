"""The repository's benchmark: one command per workload, run from the
repository root.

    python3 perfbench/run.py --workload epic_ingest --seed 1 --seconds 20 --trace 0

Workloads and metrics are declared in ``BENCHMARK.json``. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``). ``--trace 1`` runs the workload twice in child
processes, untraced and then traced, and reports the per-layer numbers of
the traced run plus the tracing overhead (traced minus untraced end-to-end
values). A per-layer metric of a layer the other workload exercises reads 0.
Spans of a traced run are kept under ``.bench_build/perfbench/traces/``.
See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "epic_stream_processor_spark")
WORK_BASE = os.path.join(ROOT, ".bench_build", "perfbench")
# The sf0.1 tables of the repository's test data (read-only).
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORKLOADS = ("epic_ingest", "queries_sf01")
TRACE_BUDGET_S = 175.0  # both phases of a --trace 1 run


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def driver_mem_gb() -> int:
    """A quarter of host RAM, at most 4 GiB: the session's own 16g default
    is above what this class of host has."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return max(1, min(4, kib // (4 * 1024 * 1024)))


def pin_env(work: str, event_log: bool) -> None:
    """Environment of the run, set before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    old_path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": f"{driver_mem_gb()}g",
        # Python workers import the package by name.
        "PYTHONPATH": ROOT + (os.pathsep + old_path if old_path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM, Spark's launcher too: no perf-data files outside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"'{a}'" if " " in a else a for a in submit) + " pyspark-shell",
    })
    time.tzset()
    sys.path.insert(0, ROOT)


def start_spark():
    from epic_stream_processor_spark.session import get_spark

    spark = get_spark("perfbench", profile="bench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_spark(spark):
    """A fresh SparkContext in the running JVM."""
    spark.stop()
    return start_spark()


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_phase(args) -> dict:
    """Run one workload in this process; ``args.phase`` is ``untraced`` or
    ``traced``."""
    traced = args.phase == "traced"
    work = os.path.join(WORK_BASE, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_env(work, event_log=traced and args.workload != "epic_ingest")
    import ingest
    import queries
    from spans import Tracer

    t = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t
    tracer = Tracer(traced, spark.sparkContext)
    try:
        if args.workload == "epic_ingest":
            res = ingest.run(spark, args, work, tracer)
        else:
            cache = os.path.join(WORK_BASE, "cache")
            os.makedirs(cache, exist_ok=True)
            res = queries.run(spark, args, work, tracer, SF_DIR, cache, restart_spark)
            spark = res["spark"]
    except BaseException:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        raise
    stop_spark(spark)
    if traced:
        res["layers"]["session.start_s"] = (session_s, "s")
        if args.workload != "epic_ingest":
            # the last context's log: the set-up restarts the context
            log = max(glob.glob(os.path.join(work, "eventlog", "*")), key=os.path.getmtime)
            with open(log) as fh:
                res["layers"].update(queries.event_log_layers(
                    tracer, fh, res["fam_of"], res["sweeps"]))
        traces = os.path.join(WORK_BASE, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return {k: res[k] for k in ("correct", "attempted", "failed", "e2e", "layers")}


def run_child(args, phase: str, deadline: float) -> dict:
    """One phase in a child process, ended by ``deadline`` (a
    ``time.monotonic()`` value); its result is the last stdout line."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--phase", phase]
    # its own process group, so that a timeout also ends the child's JVM
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = child.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise SystemExit(f"{phase} phase did not end in time")
    if child.returncode != 0:
        raise SystemExit(f"{phase} phase exited with {child.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def layer_owners(spec: dict) -> dict[str, set[str]]:
    """Workload -> the per-layer metrics its traced run reports. Fails when
    the declared per-layer list and the workloads' own lists differ."""
    import ingest
    import queries

    common = {"session.start_s", "trace.coverage"} | {
        f"trace.overhead.{m['name']}" for m in spec["end_to_end"]}
    owners = {"epic_ingest": ingest.layer_names() | common,
              "queries_sf01": queries.layer_names() | common}
    declared = {m["name"] for m in spec["per_layer"]}
    produced = set().union(*owners.values())
    if declared != produced:
        raise SystemExit(f"BENCHMARK.json per_layer is out of step with the workloads: "
                         f"undeclared {sorted(produced - declared)}, "
                         f"never produced {sorted(declared - produced)}")
    return owners


def report(res: dict, metrics: dict, names: list[dict], own: set[str] | None = None) -> str:
    """The result line, in the declared metric order. A run must produce
    every metric in ``own`` (all of ``names`` when None); a declared metric
    outside ``own`` belongs to the other workload and reads 0."""
    own = {m["name"] for m in names} if own is None else own
    missing = sorted(own - set(metrics))
    if missing:
        raise SystemExit(f"perfbench: the run did not produce {missing}")
    unmeasured = sorted(n for n in own if not math.isfinite(metrics[n][0]))
    if unmeasured:
        raise SystemExit(f"perfbench: too many failed operations to measure {unmeasured}")
    return json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": metrics[m["name"]][0] if m["name"] in own else 0,
                                "unit": m["unit"]} for m in names},
    })


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--phase", choices=("untraced", "traced"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: no {PACKAGE}; run from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "queries_sf01" and not os.path.isdir(SF_DIR):
        print(f"perfbench: no test data at {SF_DIR} (set SPARK_GRAFT_SF_DIR)", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    spec = declared()

    if args.phase:  # child of a --trace 1 run
        res = run_phase(args)
        print(json.dumps(res))
        return 0
    if args.trace == 0:
        args.phase = "untraced"
        res = run_phase(args)
        print(report(res, res["e2e"], spec["end_to_end"]))
        return 0
    owners = layer_owners(spec)
    # Both phases take the full run length: the sample counts, and so the
    # percentiles, stay those of an untraced run. Together they must end
    # within the 180 s a run may take.
    deadline = time.monotonic() + TRACE_BUDGET_S
    base = run_child(args, "untraced", deadline)
    traced = run_child(args, "traced", deadline)
    layers = dict(traced["layers"])
    for name, (value, unit) in traced["e2e"].items():
        layers[f"trace.overhead.{name}"] = (value - base["e2e"][name][0], unit)
    res = {"correct": base["correct"] and traced["correct"],
           "attempted": base["attempted"] + traced["attempted"],
           "failed": base["failed"] + traced["failed"]}
    print(report(res, layers, spec["per_layer"], owners[args.workload]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
