"""Run one workload on several seeds and print, for each reported metric, its
median and its spread: the distance between the first and third quartile
as a share of the median. Each run's result line, with its wall time and
the host's speed just before it, is appended to ``--log``, and its stderr
to ``--log`` plus ``.err``. The host speed is the median time of five runs
of a fixed pure-Python loop, and the steal share is the CPU time the
hypervisor took from this machine during the run, over the time it ran
anything: on a shared host both show how much of a run's spread is the
host's.

    python3 perfbench/spread.py --workload epic_ingest --seeds 1-10 \
        --log .bench_build/perfbench/epic_ingest.jsonl

Runs one after another, from the repository root, with the run length
``BENCHMARK.json`` fixes. Exits 1 when a run fails or a spread is above
its metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_loop_ms() -> float:
    times = []
    for _ in range(5):
        t = time.perf_counter()
        total = 0
        for i in range(1_000_000):
            total += i
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / busy if busy > 0 else 0.0


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    ok = True
    for seed in a.seeds:
        host_ms = host_loop_ms()
        t, cpu0 = time.monotonic(), cpu_times()
        with open(a.log + ".err", "a") as err:
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        wall_s, steal = time.monotonic() - t, steal_share(cpu0, cpu_times())
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}")
            ok = False
            continue
        res = json.loads(lines[-1])
        with open(a.log, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": wall_s,
                                 "host_loop_ms": host_ms, "steal": steal, **res}) + "\n")
        ok &= res["correct"] and res["failed"] == 0
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} ({wall_s:.0f} s, host loop {host_ms:.0f} ms, "
              f"steal {steal:.3f}): " + ", ".join(
            f"{n} {m['value']:.4g}" for n, m in res["metrics"].items() if n in bounds))

    for name, vs in values.items():
        if len(vs) < 2:
            continue
        spread = quartile_spread(vs) if statistics.median(vs) else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None or spread <= bound else "  ABOVE BOUND"
        ok &= not flag or name == "setup_s"
        print(f"{name}: median {statistics.median(vs):.4g}, spread {spread:.3f}"
              + (f" (bound {bound})" if bound is not None else "") + flag)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
