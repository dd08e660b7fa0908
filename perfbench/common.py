"""Shared pieces of the benchmark: the run context, the span tracer, the
op failure log, the process tree's CPU clock and the summary statistics.

Nothing here imports the engine; ``run.py`` builds a :class:`Context`
after the engine and Spark are up and hands it to one workload module.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# percentiles a tail may be reported at, highest first
TAIL_GRID = (99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def now() -> float:
    return time.perf_counter()


def percentile(values: List[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: List[float]) -> Dict[str, Any]:
    """The highest percentile on ``TAIL_GRID`` with at least
    ``TAIL_MIN_BEYOND`` samples beyond it, with the sample count.  Below
    20 samples no percentile qualifies and the value is None."""
    n = len(values)
    for p in TAIL_GRID:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND:
            return {"percentile": p, "ms": percentile(values, p),
                    "samples": n}
    return {"percentile": None, "ms": None, "samples": n}


class Tracer:
    """In-memory spans around the benchmark's calls into engine layers.

    A span is (op id, name, start, end, parent index); spans of one op
    share the op id.  Self time = duration minus the time covered by the
    span's direct children.  Counters are recorded at the same
    boundaries and kept per op."""

    enabled = True

    def __init__(self) -> None:
        self.spans: List[tuple] = []
        self.counters: List[tuple] = []
        self._stack: List[int] = []
        self.op_id = 0

    def new_op(self) -> int:
        self.op_id += 1
        return self.op_id

    def reset(self) -> None:
        """Drop what warm-up ops recorded."""
        self.spans.clear()
        self.counters.clear()

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((self.op_id, name, now(), None, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            op, nm, t0, _, par = self.spans[idx]
            self.spans[idx] = (op, nm, t0, now(), par)

    def count(self, name: str, value: float) -> None:
        self.counters.append((self.op_id, name, value))

    def self_times_ms(self) -> Dict[str, List[float]]:
        """name -> list of per-span self times (ms)."""
        child_ms = [0.0] * len(self.spans)
        for op, nm, t0, t1, par in self.spans:
            if par >= 0 and t1 is not None:
                child_ms[par] += (t1 - t0) * 1000.0
        out: Dict[str, List[float]] = {}
        for i, (op, nm, t0, t1, par) in enumerate(self.spans):
            if t1 is not None:
                out.setdefault(nm, []).append(
                    (t1 - t0) * 1000.0 - child_ms[i])
        return out

    def counter_values(self, name: str) -> List[float]:
        return [v for _, nm, v in self.counters if nm == name]


class NullTracer(Tracer):
    """Tracing off: spans and counters cost one attribute lookup."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, value: float) -> None:
        pass


@dataclass
class OpLog:
    """Ops attempted and failed; every failure is printed."""
    attempted: int = 0
    failed: int = 0

    def run(self, kind: str, fn: Callable[[], Any],
            check: Optional[Callable[[Any], Optional[str]]] = None):
        """Run ``fn`` as one op of ``kind``; ``check(result)`` returns an
        error string on a wrong result.  An exception or a wrong result
        counts as a failed op, is printed, and returns None."""
        self.attempted += 1
        try:
            result = fn()
        except Exception:  # the op boundary: record and keep going
            self.fail(kind, traceback.format_exc())
            return None
        problem = None
        if check is not None:
            try:
                problem = check(result)
            except Exception:
                problem = traceback.format_exc()
        if problem:
            self.fail(kind, problem)
            return None
        return result

    def fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        print(f"FAILED {kind}: {msg.strip()}", file=sys.stderr, flush=True)

    def check(self, kind: str, problem: Optional[str]) -> None:
        """A correctness check that is not itself a timed op (e.g. the
        run-end table checksum) still counts as an attempted op."""
        self.attempted += 1
        if problem:
            self.fail(kind, problem)


@dataclass
class Context:
    spark: Any
    work_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    session_start_s: float
    # metrics the workload reports: name -> value (units: run.py)
    e2e: Dict[str, float] = field(default_factory=dict)
    layers: Dict[str, float] = field(default_factory=dict)
    # workload-specific figures printed on the detail line only
    detail: Dict[str, Any] = field(default_factory=dict)
    log: OpLog = field(default_factory=OpLog)
    _mark: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Record the seconds since the previous phase ended."""
        t = now()
        self.detail.setdefault("phase_s", {})[name] = round(t - self._mark,
                                                            3)
        self._mark = t

    def path(self, *parts: str) -> str:
        """A file path under the run's work directory (parents made)."""
        p = os.path.join(self.work_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A fresh directory under the run's work directory."""
        p = os.path.join(self.work_dir, *parts)
        os.makedirs(p)
        return p


def median(values: List[float], default: float = 0.0) -> float:
    return statistics.median(values) if values else default


def trace_overhead(layers: Dict[str, float], traced_ms: List[float],
                   untraced_ms: List[float]) -> None:
    """``trace.overhead_ms``: median traced minus median untraced op
    latency, set only when the run has ops of both kinds."""
    if traced_ms and untraced_ms:
        layers["trace.overhead_ms"] = median(traced_ms) - median(untraced_ms)


def timed_setups(ctx: Context, build: Callable[[int], Any], reps: int):
    """Run the workload's set-up ``reps`` times, each into a fresh
    warehouse; ``setup_s`` is Spark start-up plus the median build.
    Returns the last build's result (the one the run measures)."""
    times, result = [], None
    for i in range(reps):
        t0 = now()
        result = build(i)
        times.append(now() - t0)
    ctx.e2e["setup_s"] = ctx.session_start_s + statistics.median(times)
    ctx.detail["setup_builds_s"] = [round(t, 4) for t in times]
    return result


def iceberg_schema(ctx: Context, arrow_schema, name: str):
    """The engine schema Spark infers for ``arrow_schema`` (field ids in
    column order), read back from an empty parquet file."""
    import pyarrow.parquet as pq
    from iceberg_go_spark.schema import Schema
    path = ctx.path("inputs", f"{name}.schema.parquet")
    pq.write_table(arrow_schema.empty_table(), path)
    return Schema.from_spark(ctx.spark.read.parquet(path).schema)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant - the Spark JVM and its Python workers - including
    the exited children each of them has reaped."""
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in rest[11:15])
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue  # ended between the listing and the read
    return ticks / _CLK_TCK


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
