"""Timing, failure accounting and tracing shared by the workloads.

Every call the benchmark makes into the program goes through
:meth:`Recorder.op` (one operation, timed end to end, output checked)
and, inside it, :meth:`Recorder.span` (one call into one layer). Spans
are recorded only when tracing is on; they are kept in memory and
written out once, at exit.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from sparkstats import SparkCounters

#: points of the Beta density grid in :func:`quantile`
_HD_GRID = 20_000


class CheckFailed(Exception):
    """An operation returned, but its output was wrong."""


@dataclass
class Op:
    name: str
    op_id: int
    client: int
    start: float
    end: float
    ok: bool
    measured: bool
    error: str = ""


@dataclass
class Span:
    layer: str
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float
    id: int = 0


@dataclass
class Recorder:
    trace: bool
    spark_counters: SparkCounters | None = None
    ops: list[Op] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    spans: list[Span] = field(default_factory=list)
    #: per-op Spark counters (traced run only), keyed by op id
    op_counters: dict[int, dict[str, float]] = field(default_factory=dict)
    op_names: dict[int, str] = field(default_factory=dict)
    measuring: bool = False
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        """Time one call into ``layer``; nested spans record their parent."""
        if not self.trace:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        op_id = self.current_op
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self.lock:
                self.spans.append(Span(layer, name, op_id, parent, start, end, sid))

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    # -- operations ----------------------------------------------------
    def op(self, name: str, fn, check, client: int = 0) -> bool:
        """Run ``fn()``, then ``check(result)``; count an exception or a
        wrong output as one failed operation and carry on."""
        op_id = next(self._ids)
        self._local.op_id = op_id
        group = f"perfbench-op-{op_id}"
        if self.spark_counters is not None:
            self.spark_counters.begin(group)
        start = time.perf_counter()
        error = ""
        try:
            with self.span("op", name):
                result = fn()
            end = time.perf_counter()
            check(result)
        except Exception as exc:  # one failed operation must not end the run
            end = time.perf_counter()
            error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            if not isinstance(exc, CheckFailed):
                traceback.print_exc()
        self._local.op_id = 0
        if self.spark_counters is not None:
            counters = self.spark_counters.end(group)
            with self.lock:
                own = self.op_counters.setdefault(op_id, {})
                for k, v in counters.items():
                    own[k] = own.get(k, 0) + v
                self.op_names[op_id] = name
        with self.lock:
            self.ops.append(Op(name, op_id, client, start, end, not error, self.measuring, error))
        if error:
            print(f"perfbench: op {name} failed: {error}", flush=True)
        return not error

    def run_failed(self, what: str) -> None:
        """Count a failure outside any operation (a lost session, a set-up
        error) as one failed operation."""
        now = time.perf_counter()
        with self.lock:
            self.ops.append(Op(what, next(self._ids), 0, now, now, False, False, what))

    @property
    def current_op(self) -> int:
        """Id of the operation running on this thread (0 outside one)."""
        return getattr(self._local, "op_id", 0)

    def add_counter(self, name: str, value: float) -> None:
        """Add to the traced counters of the operation running on this thread."""
        op_id = self.current_op
        with self.lock:
            c = self.op_counters.setdefault(op_id, {})
            c[name] = c.get(name, 0) + value

    # -- results -------------------------------------------------------
    def self_times(self, op_ids: set[int] | None = None) -> dict[str, float]:
        """Seconds per layer, each span minus the time its children cover."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            if op_ids is None or s.op_id in op_ids:
                out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - children.get(s.id, 0.0)
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q``-quantile of ``values``.

    A Beta((n+1)q, (n+1)(1-q))-weighted average of all order statistics.
    A run yields one latency per operation type (13 on media-etl), so a
    plain percentile is one operation's single sample; this estimate
    averages the neighbouring ones too (README.md compares the two).
    """
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    mid = (np.arange(_HD_GRID) + 0.5) / _HD_GRID
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logpdf - logpdf.max()))))
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, _HD_GRID + 1), cdf / cdf[-1])
    return float(np.diff(edges) @ x)


def supported_percentile(n: int, want: float = 0.9, beyond: int = 10) -> float:
    """``want``, lowered to the highest percentile with ``beyond`` samples
    above it, but never below the median."""
    return max(0.5, min(want, (n - beyond) / n)) if n else 0.5


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total / 1024.0
