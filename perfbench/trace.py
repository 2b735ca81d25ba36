"""Spans, Spark job counts and process-tree memory for the benchmark.

Spans are recorded only by the benchmark's own code, around each call
it makes into an engine module; the engine itself is not instrumented.
A span is (name, start, end, parent, op id); spans of one operation
share the op id. They stay in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; with `enabled=False` every method is
    a cheap no-op, so untimed code paths and timed ones are the same."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0
        self.overhead = 0.0  # seconds spent on job-group bookkeeping

    @contextmanager
    def op(self, name: str, sc=None):
        """A top-level operation: a new op id, and (when `sc` is given)
        a Spark job group, so the jobs it launches can be counted."""
        self._op += 1
        group = f"perfbench-{self._op}"
        track = sc is not None and self.enabled
        if track:
            t0 = time.perf_counter()
            sc.setJobGroup(group, name)
            self.overhead += time.perf_counter() - t0
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            if track:
                t0 = time.perf_counter()
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.overhead += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        rec: dict = {}
        if not self.enabled:
            yield rec
            return
        rec.update(name=name, op=self._op,
                   parent=self._stack[-1] if self._stack else None)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def jobs(self, name: str) -> list[int]:
        return [s["jobs"] for s in self.spans if s["name"] == name and "jobs" in s]

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**s, "self": st}) + "\n")


def _tree_hwm_kb(root: int) -> dict[int, int]:
    """{pid: peak resident set (VmHWM, kB)} of `root` and every process
    descended from it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we read it
        children.setdefault(ppid, []).append(int(d))
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1])
        except OSError:
            pass
    return out


class RssSampler:
    """Peak resident memory of the benchmark's process tree (this
    process, the JVM, Python workers): the sum of each process's
    kernel-kept high-water mark. A background thread polls the tree so
    processes that exit before the end still count."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_kb(self) -> int:
        return sum(self.hwm.values())

    def _run(self) -> None:
        me = os.getpid()
        while True:
            for p, kb in _tree_hwm_kb(me).items():
                self.hwm[p] = max(self.hwm.get(p, 0), kb)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
