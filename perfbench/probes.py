"""Measurement taken from outside the program.

- :class:`ProcTree` reads user+system CPU and resident memory of this
  process and every descendant (the Spark JVM, the PySpark daemon and
  its Python workers) from ``/proc``. Spark's own ``executorCpuTime``
  misses work done in Python workers, which is why the end-to-end CPU
  figure comes from here.
- :class:`RssSampler` polls the tree's resident memory on a thread and
  keeps the peak; :func:`steal_frac` gives the host's stolen CPU share.
- :func:`group_stats` folds the Spark status store's job and stage
  records for one job group into a flat dict.
- :class:`Tracer` keeps spans in memory; :data:`NO_TRACE` is its
  disabled twin, used by the untraced runs that give the end-to-end
  figures.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """The process tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu_s(self) -> float:
        """utime+stime of every live member plus cutime+cstime, which
        holds the CPU of members already exited and reaped."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / _TICK

    def rss_mb(self) -> float:
        pages = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return pages * _PAGE / 2**20

    def wait_gone(self, pids: list[int], timeout: float) -> list[int]:
        """Poll until none of ``pids`` exists; return the survivors."""
        deadline = time.monotonic() + timeout
        alive = pids
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        return alive


def host_ticks() -> list[int]:
    """The host's aggregate CPU tick counters from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor between two
    :func:`host_ticks` readings: a noisy-neighbour indicator."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class RssSampler:
    """Peak resident memory of a :class:`ProcTree`, sampled every
    ``interval`` seconds between :meth:`start` and :meth:`stop`."""

    def __init__(self, tree: ProcTree, interval: float = 0.25) -> None:
        self.tree = tree
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
        return self.peak_mb


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of millisecond intervals."""
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0


def group_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks and task metrics of one job group, read from
    the status store after the group's jobs finished. Works with the UI
    off. Times are seconds, sizes MB."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    intervals = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime(), done.get().getTime()))
    out = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0,
        "exec_s": _union_s(intervals), "cpu_s": 0.0, "task_s": 0.0,
        "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0, "input_mb": 0.0, "output_mb": 0.0,
    }
    mb = 1.0 / 2**20
    for sid in stage_ids:
        attempts = store.stageData(
            sid, False, jvm.java.util.ArrayList(), False, no_quantiles
        )
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() in ("SKIPPED", "PENDING"):
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["task_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += sd.shuffleReadBytes() * mb
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() * mb
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) * mb
            out["input_mb"] += sd.inputBytes() * mb
            out["output_mb"] += sd.outputBytes() * mb
    return out


class Tracer:
    """In-memory spans: name, start, end, parent and operation id, plus
    per-operation counters. Written out once, at the end of the run."""

    on = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self.group = ""  # the Spark job group of the current operation

    @contextlib.contextmanager
    def op(self, workload: str, pass_no: int, name: str):
        rec = {"id": len(self.ops), "workload": workload, "pass": pass_no,
               "name": name, "counters": {}}
        self.ops.append(rec)
        self._op = rec
        try:
            with self.span("op"):
                yield rec
        finally:
            self._op = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op["id"] if self._op else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to a counter of the current operation."""
        if self._op is not None:
            c = self._op["counters"]
            c[name] = c.get(name, 0) + value


class _NoTrace:
    on = False

    @contextlib.contextmanager
    def op(self, workload: str, pass_no: int, name: str):
        yield None

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def count(self, name: str, value: float) -> None:
        pass


NO_TRACE = _NoTrace()
