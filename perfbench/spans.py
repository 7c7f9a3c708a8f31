"""Spans, the job-group ledger and host probes for the benchmark.

Spans are recorded only from the benchmark's own files: around the
calls it makes into the engine, and around the module attributes it
wraps (``Tracer.wrap``). A span has a name, start, end and parent; a
span opened on another thread with nothing open there (a foreachBatch
upsert running on the py4j callback thread) takes as parent the
innermost span open on the main thread, which is the call that is
waiting for it.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

from bench import _host_jiffies


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._overhead: list[tuple[float, float]] = []  # (start, seconds) of bookkeeping
        self._local = threading.local()
        self._main: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter(),
               "end": None, "thread": threading.current_thread().name, **attrs}
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned twin; ``after(rec,
        args)`` runs once the call returns and is booked as overhead."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    t = time.perf_counter()
                    after(rec, args)
                    self.book(t)
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def book(self, t: float) -> None:
        """Record bookkeeping that started at ``t`` and ends now."""
        self._overhead.append((t, time.perf_counter() - t))

    def overhead_s(self, since: float) -> float:
        """Bookkeeping seconds the tracer added since ``since``."""
        return sum(d for t, d in self._overhead if t >= since)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def self_times(self, since: float) -> dict[str, float]:
        """Per span name, over spans started at or after ``since``:
        summed duration minus the part covered by direct children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None and s["start"] >= since:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def durations(self, name: str, since: float) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None and s["start"] >= since]

    def covered(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] covered by top-level spans."""
        return sum(min(s["end"], t1) - max(s["start"], t0) for s in self.spans
                   if s["parent"] is None and s["end"] is not None
                   and s["end"] > t0 and s["start"] < t1)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Ledger:
    """Job / stage / task / byte counts per job group, read from the
    live status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.sc = spark.sparkContext
        self.groups: dict[str, dict] = {}

    @contextmanager
    def group(self, name: str):
        """Tag the jobs the block submits; when tracing, read their
        counts right after it (the read is booked as overhead)."""
        if not self.tracer.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            t = time.perf_counter()
            self.sc.setJobGroup("bench.untimed", "bench.untimed")
            self.groups[name] = self._read(name)
            self.tracer.book(t)

    def _read(self, name: str) -> dict:
        jsc = self.spark._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0}
        for jid in tracker.getJobIdsForGroup(name):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1000
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
        return out

    def total(self, prefix: str, key: str, suffix: str = "") -> float:
        return sum(v[key] for k, v in self.groups.items()
                   if k.startswith(prefix) and k.endswith(suffix))


# ---------------------------------------------------------------------------
# Host probes: loadavg, CPU jiffies of the host (``bench._host_jiffies``)
# versus this process tree (driver + JVM + Python workers), and the
# tree's peak RSS. ``bench._tree_jiffies`` is not reused for the tree:
# it leaves out the time of reaped children (cutime/cstime), so the
# Python workers Spark forks and reaps during pipeline_replay would be
# booked as other processes' load (18% of host CPU instead of 2%).
# ---------------------------------------------------------------------------
def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU jiffies) for every live process; the jiffies
    include reaped children, so finished Python workers still count."""
    table = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        table[int(p)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def _tree(table: dict[int, tuple[int, int]]) -> list[int]:
    me, mine = os.getpid(), []
    for pid in table:
        p, hops = pid, 0
        while p > 1 and hops < 64:
            if p == me:
                mine.append(pid)
                break
            p, hops = table.get(p, (0, 0))[0], hops + 1
    return mine


def _tree_jiffies() -> int:
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table))


def tree_cpu_s() -> float:
    """CPU seconds this process tree (driver, JVM, Python workers, the
    reaped ones included) has used so far. Time that other processes
    hold the CPUs is not in it, so it stays steady where wall time
    follows the host's load."""
    return _tree_jiffies() / os.sysconf("SC_CLK_TCK")


def ref_loop_s(samples: int = 4) -> list[float]:
    """Thread CPU seconds of a fixed pure-Python loop, ``samples``
    times. The loop does the same work on every run, so its time
    tracks how fast the host's cores run at the moment: their clock,
    and what neighbours on the same physical cores take from them.
    Call it while no engine process runs, so that nothing of the
    engine shares the cores."""
    out = []
    for _ in range(samples):
        t, x = time.thread_time(), 0
        for i in range(1_000_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        out.append(time.thread_time() - t)
    return out


class HostSample:
    """CPU counters at one instant; subtract two to get the share of
    host CPU that processes outside this tree used in between."""

    def __init__(self) -> None:
        self.total, self.busy = _host_jiffies()
        self.tree = _tree_jiffies()
        self.load = os.getloadavg()

    def other_cpu_share(self, start: "HostSample") -> float:
        dt = self.total - start.total
        if dt <= 0:
            return 0.0
        return max(0.0, (self.busy - start.busy) - (self.tree - start.tree)) / dt


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process tree."""
    kb = 0
    for pid in _tree(_proc_table()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024
