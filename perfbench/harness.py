"""Spark-free measurement helpers: medians, spans, digests, the Spark event
log, and the per-run environment record.

Everything here is pure Python so the benchmark's own tests can exercise it
without starting a JVM.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import time
from dataclasses import dataclass


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder. ``span`` is a context manager; nesting sets
    the parent. Spans are written out once, by ``dump``."""

    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                parent = tracer._stack[-1] if tracer._stack else None
                s = Span(name, tracer.clock(), 0.0, parent, tracer.run_id,
                         id=len(tracer.spans))
                tracer.spans.append(s)
                tracer._stack.append(s.id)
                return s

            def __exit__(self, *exc):
                s = tracer.spans[tracer._stack.pop()]
                s.end = tracer.clock()
                return False

        return _Ctx()

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its direct children cover
        (overlapping children are counted once)."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.duration - _covered(kids, span.start, span.end)

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        rows = [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id,
             "self_s": self.self_time(s)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# ---------------------------------------------------------------------------
# cube digests
# ---------------------------------------------------------------------------


def tile_row_key(solar_day, band, tile_y, tile_x, checksum, valid_frac, item_ids) -> str:
    """Canonical text of one cube tile's identity and content summary.

    Floats are printed to 9 and 6 significant digits so the digest pins
    content, not the last bit of a float sum."""
    return (
        f"{solar_day}|{band}|{int(tile_y)}|{int(tile_x)}|"
        f"{float(checksum):.9g}|{float(valid_frac):.6g}|{item_ids}"
    )


def cube_digest(rows) -> str:
    """Order-independent sha256 over (solar_day, band, tile_y, tile_x,
    checksum, valid_frac, item_ids) tuples."""
    h = hashlib.sha256()
    for key in sorted(tile_row_key(*r) for r in rows):
        h.update(key.encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

#: per-group task metrics read from SparkListenerTaskEnd events
TASK_FIELDS = ("tasks", "task_run_s", "failed_tasks", "records_read",
               "shuffle_write_bytes", "spill_bytes")


def parse_event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group over every application's event
    log in ``log_dir``.

    Each job's ``spark.jobGroup.id`` property keys its stages; every
    SparkListenerTaskEnd of those stages adds its run time, records read,
    shuffle bytes written and spill bytes to the group."""
    out: dict[str, dict[str, float]] = {}
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        for line in _app_events(app):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                acc = out.setdefault(group, dict.fromkeys(TASK_FIELDS, 0.0))
                m = ev.get("Task Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                acc["tasks"] += 1
                acc["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if reason != "Success":
                    acc["failed_tasks"] += 1
    return out


def _app_events(path: str):
    """Lines of one application's event log: a single file, or a rolling
    log directory of numbered ``events_<n>_<app>`` files."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [path]
    for p in files:
        with open(p) as f:
            yield from f


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def steal_pct(a: list[int], b: list[int]) -> float:
    """CPU steal between two ``cpu_ticks`` readings, in percent."""
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return 100.0 * d[7] / tot if tot and len(d) > 7 else 0.0


def cgroup_memory_limit() -> str:
    for p in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                return f.read().strip()
        except OSError:
            continue
    return "unknown"


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
