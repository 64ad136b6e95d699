"""Shared pieces of the benchmark workloads."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any

import duckdb

from tracing import Tracer

@dataclass
class IterResult:
    """One measured iteration: its wall and CPU time, the input rows it
    completed, and per unit (a data object, or the iteration itself) a
    latency, a CPU time and whether its output verified."""

    wall_s: float
    cpu_s: float
    rows_in: int
    latencies_ms: list[float]
    unit_cpu_ms: list[float]
    ok: list[bool]
    problems: list[str] = field(default_factory=list)


@dataclass
class Context:
    workdir: str  # scratch space of this run, inside the checkout
    inputs: dict  # manifest of the input set
    warmup_inputs: dict  # manifest of the tiny input set of the same seed
    tracer: Tracer
    spark: Any = None
    layer_values: dict = field(default_factory=dict)  # extra per-layer samples

    def add_layer(self, name: str, value: float) -> None:
        """One sample of a per-layer metric computed by the workload."""
        self.layer_values.setdefault(name, []).append(float(value))


class Workload:
    """A workload runs closed-loop iterations by default.  Each iteration
    opens the ``bench.iteration`` root span around its timed part only, so
    output verification stays outside it."""

    name = ""
    # warm-up iterations over the tiny input set, then over the measured
    # one; measured iterations per run at the least (a batch iteration
    # takes about 7 s, so two are what the run schedule allows)
    warmup_tiny = 1
    warmup_full = 0
    min_iters = 2

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def install(self, tracer: Tracer) -> None:
        """Wrap the layer functions this workload reaches."""

    def warmup(self) -> None:
        """Unmeasured iterations, a fixed number of them: code generation,
        Python workers and the JIT warm up on the same plans before
        anything is timed.  A count, not a time, so every run starts its
        measurement at the same point of the JIT's progress."""
        full = self.ctx.inputs
        try:
            self.ctx.inputs = self.ctx.warmup_inputs
            for i in range(self.warmup_tiny):
                self.iteration(i)
            self.ctx.inputs = full
            for i in range(self.warmup_full):
                self.iteration(i)
        finally:
            self.ctx.inputs = full

    def iteration(self, i: int) -> IterResult:
        raise NotImplementedError

    def run(self, seconds: float) -> list[IterResult]:
        """Closed loop: start another iteration while it is expected to
        end inside the budget, and always run `min_iters`."""
        out: list[IterResult] = []
        t0 = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t0
            if len(out) >= self.min_iters:
                typical = sorted(r.wall_s for r in out)[len(out) // 2]
                if elapsed + typical > seconds:
                    break
            self.ctx.tracer.iteration = len(out)
            out.append(self.iteration(len(out)))
            self.ctx.tracer.iteration = -1
        return out


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str]:
    """The fields of a /proc stat file after the command name."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            total += sum(int(x) for x in _stat(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:
            continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it (the driver JVM and the Python workers it forks; reaped children
    included), less the JVM's JIT compilation.  The compiler threads
    kept working for minutes, in bursts that landed in one iteration or
    the next; they are kept alive (run.py turns off their dynamic
    count) so that their time can be told apart."""
    parent, used = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                f = _stat(f"/proc/{d}/stat")
            except OSError:
                continue
            parent[int(d)], used[int(d)] = int(f[1]), sum(int(x) for x in f[11:15])
    me = os.getpid()
    total = 0
    for pid, ticks in used.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        total -= _jit_ticks(pid)
            except OSError:
                pass
    return total / _TICK


def materialize(tracer: Tracer, name: str, df) -> tuple[Any, int]:
    """Persist `df` on disk and count it, as the exec span of `name`."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.DISK_ONLY)
    return df, tracer.exec(name, df.count)


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def check(problems: list[str], cond: bool, message: str) -> bool:
    if not cond:
        problems.append(message)
    return cond
