"""In-memory spans and per-operation accounting for the benchmark.

Spans are recorded only around calls the benchmark itself makes into the
library (and the Spark actions that follow them); nothing inside
``proj_4_spark`` is instrumented.
"""

from __future__ import annotations

import collections
import json
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

MIN_BEYOND_TAIL = 10


def tail(values):
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= MIN_BEYOND_TAIL:
        return xs[-1], 100.0
    i = n - MIN_BEYOND_TAIL - 1
    return xs[i], 100.0 * (i + 1) / n


def median(values):
    return statistics.median(values)


class Tracer:
    """Span recorder: (name, start, end, parent, op id) kept in memory and
    written out once at the end.  Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = [name, 0.0, 0.0, self._stack[-1] if self._stack else -1, op]
        self.spans.append(rec)
        self._stack.append(sid)
        rec[1] = time.perf_counter()
        self.bookkeeping_s += rec[1] - t_in
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec[2]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = collections.defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans}, fh)


class Ops:
    """Closed-loop operation accounting: every attempted operation is
    counted; a failed one is recorded with its exception class and the
    run goes on."""

    def __init__(self, tracer: Tracer):
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: collections.Counter = collections.Counter()
        self.call_s: dict[str, list[float]] = collections.defaultdict(list)
        self.action_s: dict[str, list[float]] = collections.defaultdict(list)

    def run(self, kind: str, layer: str, call, action):
        """One operation: ``call()`` (a public library call, spanned as
        ``layer``) then ``action(result)`` (the Spark action that
        materializes it).  Returns the call's result, or None on
        failure."""
        self.attempted += 1
        op = self.attempted
        try:
            with self.tr.span(f"op.{kind}", op):
                t0 = time.perf_counter()
                with self.tr.span(layer, op):
                    res = call()
                t1 = time.perf_counter()
                with self.tr.span("spark.action", op):
                    action(res)
                t2 = time.perf_counter()
        except Exception as exc:  # the loop must keep running
            self.failed += 1
            self.failures[type(exc).__name__] += 1
            if self.failures[type(exc).__name__] == 1:
                print(f"operation {kind} failed:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
            return None
        self.call_s[kind].append(t1 - t0)
        self.action_s[kind].append(t2 - t1)
        return res

    def op_s(self, kind: str) -> list[float]:
        return [c + a for c, a in zip(self.call_s[kind], self.action_s[kind])]

    def all_calls(self) -> list[float]:
        return [v for vs in self.call_s.values() for v in vs]

    def all_actions(self) -> list[float]:
        return [v for vs in self.action_s.values() for v in vs]
