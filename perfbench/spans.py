"""Tracing for the benchmark's traced run.

Spans are kept in memory and summarised when the run ends. A span records
its name, start, end, parent span and the operation it belongs to, plus
the Spark job-id watermark at its start and end: the run is serial, so the
jobs a span fired are exactly the ids between the two watermarks.

Nothing here changes what the engine computes. Operator functions are
wrapped at every module attribute that refers to them (their import
sites), and only when a traced run asks for it.
"""

from __future__ import annotations

import bisect
import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# Operator functions whose calls, self time and jobs the traced run counts,
# by defining module: those the benchmark's declared queries call.
OPERATORS = {
    "loris_mri_spark.operators.traverse": ("transitive_closure",),
    "loris_mri_spark.operators.protocol_match": ("identify_protocol",),
}
OPERATOR_NAMES = tuple(n for names in OPERATORS.values() for n in names)


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    op: str | None = None
    pass_no: int = 0
    job_lo: int = 0
    job_hi: int = 0


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    children cover. Children may overlap (pool threads), so their
    intervals are merged before they are subtracted."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
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
        out.append((s.end - s.start) - covered)
    return out


def attribute_jobs(job_ids, regions: list[tuple[str, int, int]]) -> dict[str, list[int]]:
    """Assign each job id to the region whose half-open id range
    ``[lo, hi)`` holds it. Regions are consecutive watermarks of one
    serial run; jobs outside every region are dropped."""
    los = [lo for _, lo, _ in regions]
    out: dict[str, list[int]] = {label: [] for label, _, _ in regions}
    for j in sorted(job_ids):
        k = bisect.bisect_right(los, j) - 1
        if k >= 0 and j < regions[k][2]:
            out[regions[k][0]].append(j)
    return out


class Tracer:
    """Span recorder. ``job_watermark`` returns the id the next Spark job
    will get; spans record it at both ends."""

    def __init__(self, job_watermark=lambda: 0):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self.pass_no = 0
        self.job_watermark = job_watermark
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        s = Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                 op=self.op, pass_no=self.pass_no, job_lo=self.job_watermark())
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        stack.append(idx)
        try:
            yield s
        finally:
            stack.pop()
            s.job_hi = self.job_watermark()
            s.end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def wrap_import_sites(tracer: Tracer, targets: dict[str, tuple[str, ...]],
                      layer: str, prefix: str = "loris_mri_spark") -> int:
    """Replace every module attribute (under ``prefix``) that is one of the
    target functions by a traced wrapper named ``<layer>.<fn>``. Returns
    the number of attributes replaced."""
    originals = {}
    for mod_name, names in targets.items():
        mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
        for n in names:
            fn = getattr(mod, n)
            originals[id(fn)] = (n, fn)
    wrapped = {key: tracer.wrap(f"{layer}.{n}", fn)
               for key, (n, fn) in originals.items()}
    count = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefix):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in wrapped and originals[id(val)][1] is val:
                setattr(mod, attr, wrapped[id(val)])
                count += 1
    return count
