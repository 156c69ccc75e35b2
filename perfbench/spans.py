"""Benchmark-side instrumentation: spans, per-round Spark counters and
process-tree memory sampling.

Spans are recorded by wrapping the engine's public functions in place
(no program file is edited) and are kept in memory until the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span carries name, start, end, parent
    and run id (plus free-form attributes). Threads without an open span
    of their own (the round's commit pool) parent to the innermost span
    opened by the main thread."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = {"id": None, "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "wall_start": time.time(),
               "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()

    def stage_spans(self, parent_name: str, laps: list[tuple[str, float]]) -> None:
        """Child spans for a call that reports its own contiguous stage
        laps (curate's ``timings``), laid end to end from the start of
        the last span named ``parent_name``."""
        parent = next(s for s in reversed(self.spans) if s["name"] == parent_name)
        t, w = parent["start"], parent["wall_start"]
        for name, dur in laps:
            self.spans.append({"id": len(self.spans), "name": f"{parent_name}.{name}",
                               "parent": parent["id"], "run": self.run_id,
                               "start": t, "end": t + dur,
                               "wall_start": w, "wall_end": w + dur})
            t, w = t + dur, w + dur

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def patch(self, owner, attr: str, make_wrapper) -> None:
        """Replace ``owner.attr`` with ``make_wrapper(original)``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make_wrapper(orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def named(self, name: str):
        """Wrapper factory: a span named ``name`` around each call."""
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover (children
        of the commit pool overlap, so the union is subtracted)."""
        ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                     for c in self.children(span["id"]) if c["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def spark_counters(spark, t0_wall: float, t1_wall: float) -> dict:
    """Exact job/stage/task counts and summed stage metrics for stages
    submitted inside the wall-clock window [t0, t1]. Attribution is by
    window, not call site: the round's commit stages run on its thread
    pool and carry no useful call site."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    lo, hi = int(t0_wall * 1000), int(t1_wall * 1000) + 1
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0), None)
    out = {"stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
           "shuffle_bytes": 0, "spill_bytes": 0, "jobs": 0}
    for s in _scala_iter(stages):
        sub = s.submissionTime()
        if not sub.isDefined():
            continue
        ts = sub.get().getTime()
        if not lo <= ts <= hi:
            continue
        out["stages"] += 1
        out["tasks"] += s.numTasks()
        out["run_ms"] += s.executorRunTime()
        out["gc_ms"] += s.jvmGcTime()
        out["shuffle_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    for j in _scala_iter(store.jobsList(None)):
        sub = j.submissionTime()
        if sub.isDefined() and lo <= sub.get().getTime() <= hi:
            out["jobs"] += 1
    return out


class ProcTree:
    """This process and its descendants (the driver JVM and the Python
    workers it forks). Tracks the peak summed RSS of the descendants,
    overall and per command name (``java``, ``python``), sampled on a
    background thread while ``active``, and reads the
    tree's CPU time. Every descendant pid seen is remembered so the run
    can wait for all of them to end."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.active = False
        self.peak_bytes = 0
        self.peak_by_comm: dict[str, int] = {}
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._hz = os.sysconf("SC_CLK_TCK")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def descendants(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> dict[str, int]:
        """Summed RSS bytes of the descendants per command name."""
        by_comm: dict[str, int] = {}
        for pid in self.descendants():
            self.seen.add(pid)
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                if comm.startswith("python"):
                    comm = "python"
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
            except OSError:
                continue
            by_comm[comm] = by_comm.get(comm, 0) + rss
        return by_comm

    def cpu_seconds(self) -> float:
        """User + system CPU seconds of this process and its live
        descendants, including children they have already reaped."""
        ticks = 0
        for pid in [os.getpid(), *self.descendants()]:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # utime, stime, cutime, cstime: fields 14-17
            ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
        return ticks / self._hz

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            by_comm = self.sample()
            if self.active:
                self.peak_bytes = max(self.peak_bytes, sum(by_comm.values()))
                for comm, rss in by_comm.items():
                    self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0), rss)
