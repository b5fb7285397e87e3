"""Spans, summary statistics and memory probes for the benchmark.

Spans are recorded only by the benchmark's own code, around its calls
into the package's public functions; nothing inside the package is
instrumented.  They are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
import uuid
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    id: int
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``active``.  Inactive, ``span`` reads no clock
    and records nothing, so untraced jobs measure the program and not the
    tracer.  ``enabled`` is the run's mode: only a traced run ever turns
    ``active`` on.  ``phases`` holds Spark's REST metrics per traced phase."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.phases: dict[str, list[dict]] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, sid, parent, self.run_id))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.dur for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, and the phases' REST
        metrics as one JSON document."""
        own = self_times(self.spans)
        spans = [{**asdict(s), "self": own[s.id]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "phases": self.phases}, f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children's overlapping intervals are merged first)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


# -- summary statistics ----------------------------------------------------

def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) at the highest percentile that leaves at least
    ten samples above it; (None, None) when there are fewer than 11."""
    n = len(values)
    if n < 11:
        return None, None
    ordered = sorted(values)
    k = n - 11  # index with ten samples beyond it
    return round(100.0 * (k + 1) / n, 1), ordered[k]


def timing(values: list[float]) -> dict:
    """Median, tail percentile and value, count, and the samples in order."""
    pct, val = tail(values)
    return {"median": median(values), "tail_pct": pct, "tail": val, "n": len(values),
            "samples": values}


# -- memory probes, read from /proc, never from inside the program ---------

_KB = re.compile(r"^(VmRSS|VmHWM):\s+(\d+) kB", re.M)


def proc_mem_mb(pid: int | str = "self") -> dict[str, float]:
    """{'VmRSS': MB, 'VmHWM': MB} of one process; {} if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            text = f.read()
    except OSError:
        return {}
    return {k: int(v) / 1024.0 for k, v in _KB.findall(text)}


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS, so the next reading
    is the peak of the phase that follows."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out
