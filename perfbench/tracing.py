"""Spans around the calls the benchmark makes into each layer.

A `Tracer` is created disabled for the timed end-to-end run and enabled
for the separate traced run.  When enabled it

* patches the layer functions the workloads reach (`install`), so each
  call records a span: name, start, end, parent, iteration and kind;
* tags every Spark job launched inside a span with the span's id via the
  ``spark.jobGroup.id`` local property, so executor task time, shuffle
  bytes and task skew can be read back from the Spark event log;
* keeps spans in memory; `write` saves them when the run ends.

Kinds: ``build`` is driver time inside a lazy call, ``exec`` is the
action the benchmark runs on that call's result, ``busy`` is time inside
an eager call, ``root`` is one benchmark iteration.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable, Optional

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    kind: str
    uid: int
    parent: Optional[int]
    iteration: int
    call: int  # uid of the build/busy span an exec span belongs to
    start: float = 0.0
    end: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = -1  # -1: set-up and warm-up, excluded from layers
        self.sc = None  # SparkContext whose jobs get tagged
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._last_call: dict[str, int] = {}
        self._patched: list[tuple[Any, str, Any]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, uid: Optional[int]) -> None:
        # local properties are per thread: only the thread that drives the
        # workloads tags jobs, so a span on another thread cannot retag them
        if self.sc is not None and threading.current_thread() is threading.main_thread():
            self.sc.setLocalProperty(GROUP_KEY, None if uid is None else str(uid))

    @contextmanager
    def span(self, name: str, kind: str = "busy", call: Optional[int] = None):
        """Record `name` around the block.  No-op when disabled."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        s = Span(name, kind, next(self._ids), stack[-1].uid if stack else None,
                 self.iteration, 0)
        s.call = call if call is not None else s.uid
        if kind in ("build", "busy"):
            self._last_call[name] = s.uid
        stack.append(s)
        self._set_group(s.uid)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1].uid if stack else None)
            self.spans.append(s)

    def exec(self, name: str, action: Callable[[], Any]) -> Any:
        """Run the benchmark's action on the result of the last `name`
        call as that call's exec span.  The action returns a row count or
        the collected rows, which give the call's rows_out."""
        with self.span(name, "exec", call=self._last_call.get(name)) as s:
            out = action()
        if s is not None:
            s.extra["rows_out"] = out if isinstance(out, int) else len(out)
        return out

    # -- wrappers ------------------------------------------------------------
    def install(self, owner: Any, attr: str, name: str, kind: str = "build",
                after: Optional[Callable[[Span, tuple, Any], None]] = None,
                before: Optional[Callable[[tuple], Any]] = None) -> None:
        """Replace `owner.attr` with a wrapper recording a `name` span.
        `before(args)` runs ahead of the span and `after(span, args,
        before_result)` once it has closed, so what they measure stays
        out of the span's time.  Classmethods stay classmethods."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        def wrapper(*args, **kwargs):
            pre = before(args) if before is not None else None
            with tracer.span(name, kind) as s:
                out = fn(*args, **kwargs)
            if after is not None and s is not None:
                after(s, args, pre)
            return out

        wrapper.__wrapped__ = fn
        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patched.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# --- event log -----------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    task_ms: float = 0.0
    shuffle_bytes: int = 0
    stages: set = field(default_factory=set)


def read_event_log(path: str) -> tuple[dict[str, GroupStats], dict[int, list[float]]]:
    """Per job group: jobs, executor run time, shuffle read+write bytes and
    stage ids; plus every stage's task durations (ms)."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    durations: dict[int, list[float]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get(GROUP_KEY)
                if gid is None:
                    continue
                g = groups.setdefault(gid, GroupStats())
                g.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                gid = stage_group.get(sid)
                if gid is None:
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                g = groups[gid]
                g.task_ms += m.get("Executor Run Time", 0)
                g.shuffle_bytes += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                                    + wr.get("Shuffle Bytes Written", 0))
                g.stages.add(sid)
                durations.setdefault(sid, []).append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0))
    return groups, durations


# --- per-layer numbers ---------------------------------------------------------


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _skew(stage_ids: set, durations: dict[int, list[float]]) -> float:
    """max/median task duration in the slowest (largest summed task time)
    stage; 0 when no task ran."""
    best = None
    for sid in stage_ids:
        d = durations.get(sid)
        if d and (best is None or sum(d) > sum(best)):
            best = d
    if not best:
        return 0.0
    med = statistics.median(best)
    return float(max(best) / med) if med > 0 else 1.0


class Layers:
    """Per-call aggregates of the spans of the measured iterations."""

    def __init__(self, spans: list[Span], groups: Optional[dict] = None,
                 durations: Optional[dict] = None) -> None:
        self.spans = spans
        self.groups = groups or {}
        self.durations = durations or {}
        self.children: dict[Optional[int], list[Span]] = {}
        for s in self.spans:
            self.children.setdefault(s.parent, []).append(s)

    def _subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x.uid, []))
        return out

    def self_ms(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                     for c in self.children.get(s.uid, []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.ms - covered * 1000.0

    def calls(self, name: str) -> list[list[Span]]:
        """The spans of each call of `name`: its build/busy span and the
        exec spans run on its result.  Set-up spans count only for
        set-up layers (names starting with ``session.``)."""
        setup = name.startswith("session.")
        by_call: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.name == name and (setup or s.iteration >= 0):
                by_call.setdefault(s.call, []).append(s)
        return list(by_call.values())

    def call_stats(self, call: list[Span]) -> dict:
        out = dict(build_ms=0.0, exec_ms=0.0, busy_ms=0.0, self_ms=0.0, rows_out=0)
        jobs = task_ms = shuffle = 0
        stages: set = set()
        for s in call:
            out[f"{s.kind}_ms"] = out.get(f"{s.kind}_ms", 0.0) + s.ms
            out["self_ms"] += self.self_ms(s)
            out.update({k: v for k, v in s.extra.items() if k != "rows_out"})
            out["rows_out"] += s.extra.get("rows_out", 0)
            for x in self._subtree(s):
                g = self.groups.get(str(x.uid))
                if g is not None:
                    jobs += g.jobs
                    task_ms += g.task_ms
                    shuffle += g.shuffle_bytes
                    stages |= g.stages
        out.update(jobs=jobs, task_ms=task_ms, shuffle_bytes=shuffle,
                   task_skew=_skew(stages, self.durations))
        return out

    def measure(self, name: str, measure: str) -> float:
        """Median over the calls of `name` of one measure; 0 when the
        workload never made that call."""
        return _median([self.call_stats(c).get(measure, 0.0) for c in self.calls(name)])

    def _timed(self) -> list[Span]:
        """The spans inside the root span of a measured iteration (not
        the traced run's probes after it)."""
        out: list[Span] = []
        for s in self.spans:
            if s.kind == "root" and s.iteration >= 0:
                out.extend(self._subtree(s))
        return out

    def root_ms(self) -> float:
        """Wall time of the measured iterations."""
        return sum(s.ms for s in self.spans if s.kind == "root" and s.iteration >= 0)

    def task_ms(self) -> float:
        """Executor run time of the jobs launched inside the measured
        iterations, summed over tasks."""
        return sum(g.task_ms for s in self._timed()
                   if (g := self.groups.get(str(s.uid))) is not None)

    def table(self) -> list[tuple[str, int, float, float]]:
        """(layer, spans, self ms summed, share of iteration time), by
        descending self-time share."""
        total = self.root_ms() or 1.0
        acc: dict[str, list[float]] = {}
        for s in self._timed():
            acc.setdefault(s.name, []).append(self.self_ms(s))
        rows = [(n, len(v), sum(v), sum(v) / total) for n, v in acc.items()]
        return sorted(rows, key=lambda r: -r[3])


def tree_bytes(path: str) -> int:
    """Bytes of the data files under `path` (checksum side files skipped)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
