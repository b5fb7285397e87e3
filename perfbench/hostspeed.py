"""Host speed probe: a fixed reference task, timed on given cores.

The cores of a shared host do not run at one speed.  On the 4-core host
this benchmark was tuned on, a job's time moved by a quarter to a third
between runs minutes apart, with process CPU time moving with it (the
cores ran slower; the process was not waiting).  The reference task does
not touch the program: it is plain Python string work and zlib, the
codec's own mix, so it slows down with the host and never with a change
to the program.  Timed on the job's cores right before and right after
each job, it turns the run's median job time and its set-up time into
the times they would have taken at the reference speed
(:func:`normalized`), which is what the gated figures report; the raw
wall times stay in the detail line.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import zlib

#: the reference task's median time on the 4-core host the benchmark was
#: tuned on; a normalised time reads as seconds at that host's speed
REF_NOMINAL_S = 0.070

_rng = random.Random(20_240_101)
_WORDS = [
    "".join(_rng.choice("abcdefgh<&é") for _ in range(_rng.randint(3, 12)))
    for _ in range(4_000)
]
_BLOB = "|".join(_WORDS).encode() * 8


def reference_task() -> int:
    """Escape and format ~4,000 short strings into cell XML, then deflate
    and inflate ~0.5 MB; returns the inflated size."""
    cells = [
        '<c r="A%d" t="inlineStr"><is><t>%s</t></is></c>' % (i, w.replace("&", "&amp;"))
        for i, w in enumerate(_WORDS)
    ]
    packed = zlib.compress(_BLOB + "".join(cells).encode(), 6)
    return len(zlib.decompress(packed))


def ref_seconds(cpus: list[int], reps: int) -> list[float]:
    """The reference task's time in each of ``reps`` runs pinned to each
    core of ``cpus``.  The calling thread's core set is restored
    afterwards."""
    before = os.sched_getaffinity(0)
    out = []
    try:
        for cpu in cpus:
            os.sched_setaffinity(0, {cpu})
            for _ in range(reps):
                t0 = time.perf_counter()
                reference_task()
                out.append(time.perf_counter() - t0)
    finally:
        os.sched_setaffinity(0, before)
    return out


def normalized(seconds: float, ref_s: list[float]) -> float:
    """``seconds`` scaled to the reference speed by the mean of every
    reference time of the run.  A core switches between a fast and a
    slow speed (~50 and ~70 ms for the task) every few seconds, so the
    readings are two clusters; their mean follows the share of time spent
    slow, while a median or quartile jumps from one cluster to the other."""
    return seconds * REF_NOMINAL_S / statistics.mean(ref_s)
