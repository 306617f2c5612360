"""Spans recorded around the benchmark's calls into each layer, and the
reduction of Spark's event log to per-layer numbers.

A span has a name, start, end, parent and operation id. Spans stay in
memory and are written out once, at the end of the run. A span opened with
``group=True`` also sets a Spark job group, so the event log's jobs, stages
and tasks map back to it.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Optional


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: str


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op,
    so untraced runs pay nothing for it."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def add(self, name: str, start: float, end: float, op: str,
            parent: Optional[int] = None) -> Optional[int]:
        """Record a span whose times were taken elsewhere (another process,
        Spark's progress reports)."""
        if not self.enabled:
            return None
        sid = self._new_id()
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, op))
        return sid

    @contextmanager
    def span(self, name: str, op: Optional[str] = None, group: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        op = op or (parent[1] if parent else name)
        sid = self._new_id()
        if group and self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", f"{name} {op}")
        stack.append((sid, op))
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent and parent[0], op))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self seconds per span name (one name per layer call): each span's
    duration minus the part of it that its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, []) if c.end > s.start and c.start < s.end
        )
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def coverage(spans: list[Span], root_name: str) -> Optional[float]:
    """Lowest share, over the operations rooted at ``root_name`` spans, of
    the root's wall time that its child spans cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    shares = []
    for s in spans:
        if s.name == root_name and s.end > s.start:
            cov = _union(
                (max(c.start, s.start), min(c.end, s.end))
                for c in kids.get(s.id, []) if c.end > s.start and c.start < s.end
            )
            shares.append(cov / (s.end - s.start))
    return min(shares) if shares else None


# --- Spark event log ----------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


def _new_group() -> dict:
    return {
        "first_submit_ms": None, "jobs": 0, "job_intervals_ms": [], "tasks": 0,
        "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "python_ms": 0, "bytes_to_py": 0, "bytes_from_py": 0,
        "_py_ops": set(), "_stage_runs": {},
    }


def reduce_event_log(lines) -> dict[str, dict]:
    """Job-group id → executor, shuffle, spill, skew and Python-boundary
    numbers, from the JSON lines of an uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    groups: dict[str, dict] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is None:
                continue
            g = groups.setdefault(gid, _new_group())
            g["jobs"] += 1
            t = e["Submission Time"]
            job_start[e["Job ID"]] = (gid, t)
            if g["first_submit_ms"] is None or t < g["first_submit_ms"]:
                g["first_submit_ms"] = t
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
            gid, t = job_start.pop(e["Job ID"])
            groups[gid]["job_intervals_ms"].append((t, e["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(e["Stage ID"])
            if gid is None:
                continue
            g = groups[gid]
            m = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            g["_stage_runs"].setdefault(e["Stage ID"], []).append(m.get("Executor Run Time", 0))
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if name == PY_RUN:
                    g["python_ms"] += int(upd)
                    g["_py_ops"].add(a["ID"])
                elif name == PY_SENT:
                    g["bytes_to_py"] += int(upd)
                elif name == PY_BACK:
                    g["bytes_from_py"] += int(upd)
    for g in groups.values():
        skews = [
            max(r) / statistics.median(r)
            for r in g.pop("_stage_runs").values()
            if len(r) >= 4 and statistics.median(r) > 0
        ]
        g["skew_max_over_median"] = max(skews) if skews else 1.0
        g["crossings"] = len(g.pop("_py_ops"))
    return groups
