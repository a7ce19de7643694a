"""Closed loop: one client thread runs a workload's fixed operation
sequence pass after pass, times every operation from its first call
into the program to sink completion, checks each output against an
independent reference, and records layer spans around its own calls
into the program's modules.

Layers (span names) follow the program's modules:
  open    sources read: table-opening calls (spark.read, projected_scan)
  plan    plans: prune_by_geometry, plan_query, plan_with_strategy
  cover   cells: cover computations (s2_cover_bbox and the like)
  build   operators: operator call to return
  action  Spark execution of the full sink (noop write)
  write   sources write: table and index writes
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = ("open", "plan", "cover", "build", "action", "write")
ROWS = "rows_out"


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans: id, parent, name, monotonic start and end (t0,
    t1), wall-clock start and end (w0, w1, to line up with Spark's event
    log) and attributes. Written out by the caller when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "t0": time.perf_counter(), "t1": None,
               "w0": time.time(), "w1": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()
            rec["w1"] = time.time()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]


def self_time(tracer: Tracer, span: dict) -> float:
    """Span duration minus the part its children cover (children of one
    span never overlap: one client thread)."""
    kids = sum(c["t1"] - c["t0"] for c in tracer.children(span["id"]))
    return (span["t1"] - span["t0"]) - kids


# ------------------------------------------------------------- operations

@dataclass
class Op:
    """One operation of a workload. ``run(ctx, param)`` calls the
    program through ``ctx``'s layer spans and returns what ``check``
    needs; ``check(result, param)`` returns None when the output is
    right, else a one-line reason."""
    name: str
    run: Callable
    check: Callable
    headline: bool = False    # counted in the workload's rows_per_s


@dataclass
class OpRecord:
    op: str
    pass_no: int
    group: str
    wall_s: float
    ok: bool
    error: str | None
    span_id: int
    rows_out: int = 0


class Ctx:
    """Per-operation handle passed to ``Op.run``."""

    def __init__(self, spark, tracer: Tracer, group: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.group = group

    def layer(self, name: str, **attrs):
        if name not in LAYERS:
            raise ValueError(f"unknown layer {name!r}")
        return self.tracer.span(name, **attrs)

    def sink(self, df, **exprs) -> dict:
        """Full sink: every output column is produced and discarded by the
        noop writer. ``exprs`` are order-independent aggregates observed on
        the same execution (no second job), used as the output check; the
        row count comes back under ``ROWS``."""
        from pyspark.sql import Observation, functions as F
        exprs = {ROWS: F.count(F.lit(1)), **exprs}
        obs = Observation()
        with self.layer("action"):
            df.observe(obs, *[e.alias(k) for k, e in exprs.items()]) \
                .write.format("noop").mode("overwrite").save()
            return dict(obs.get)


def run_op(spark, tracer: Tracer, op: Op, param, pass_no: int,
           seq: int) -> OpRecord:
    group = f"op{seq:05d}:{op.name}"
    sc = spark.sparkContext
    sc.setJobGroup(group, op.name)
    ctx = Ctx(spark, tracer, group)
    result, error = None, None
    with tracer.span("op", op=op.name, pass_no=pass_no, group=group) as sp:
        t0 = time.perf_counter()
        try:
            result = op.run(ctx, param)
        except Exception as e:  # an operation that raises counts as failed
            error = f"raised {type(e).__name__}: {e}".splitlines()[0][:300]
            traceback.print_exc()
        wall = time.perf_counter() - t0
    sc.setJobGroup("perfbench-idle", "between operations")
    if error is None:
        try:
            error = op.check(result, param)
        except Exception as e:
            error = f"check raised {type(e).__name__}: {e}"[:300]
            traceback.print_exc()
    rows = result.get(ROWS, 0) if isinstance(result, dict) else 0
    return OpRecord(op.name, pass_no, group, wall, error is None, error,
                    sp["id"], int(rows or 0))


def run_loop(spark, tracer: Tracer, ops: list[Op], params: Callable,
             seconds: float, *, min_passes: int = 1, first_pass: int = 0,
             first_seq: int = 0) -> tuple[list[OpRecord], list[float]]:
    """Closed loop: whole passes over ``ops``; after ``min_passes``, a new
    pass starts only if it would end within ``seconds`` of the loop's
    start, judged by the last pass's time, so every run measures the
    same number of passes on a given box. ``params(pass_no, op)`` gives
    the parameter for that operation in that pass. Returns the operation
    records and each pass's wall time."""
    records: list[OpRecord] = []
    passes: list[float] = []
    seq = first_seq
    start = time.perf_counter()
    while len(passes) < min_passes or (
            time.perf_counter() - start + passes[-1] <= seconds):
        t0 = time.perf_counter()
        pass_no = first_pass + len(passes)
        for op in ops:
            rec = run_op(spark, tracer, op, params(pass_no, op), pass_no,
                         seq)
            seq += 1
            records.append(rec)
            if not rec.ok:
                print(f"[perfbench] FAILED {op.name} pass {pass_no}: "
                      f"{rec.error}", flush=True)
        passes.append(time.perf_counter() - t0)
    return records, passes


# ------------------------------------------------------- process tree

def proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, resident KiB, CPU clock ticks: user + system,
    reaped children included) for every process visible in /proc."""
    out = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we read it
            continue
        out[int(d)] = (int(fields[1]), int(fields[21]) * page_kb,
                       sum(int(x) for x in fields[11:15]))
    return out


def descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        out += kids.get(p, [])
        frontier += kids.get(p, [])
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants.
    Unlike wall time, it does not grow while the host runs other
    machines' work."""
    t = proc_table()
    pids = [os.getpid(), *descendants(t, os.getpid())]
    return sum(t[p][2] for p in pids if p in t) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        t = proc_table()
        rss = sum(t[p][1] for p in descendants(t, os.getpid()) if p in t)
        self.peak_kb = max(self.peak_kb, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()


# ---------------------------------------------------------------- summary

def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest of the percentiles 50/75/90/95/99 that still has at
    least ten samples above it. Returns (value, percentile, n); falls
    back to the median with fewer than 20 samples."""
    xs = sorted(values)
    n = len(xs)
    best = 50.0
    for p in (50.0, 75.0, 90.0, 95.0, 99.0):
        if n - int(n * p / 100.0) >= 10:
            best = p
    return _percentile(xs, best), best, n


def _percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile of sorted ``xs``."""
    k = max(0, min(len(xs) - 1, int(round(p / 100.0 * len(xs) + 0.5)) - 1))
    return xs[k]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")
