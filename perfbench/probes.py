"""Measurement probes that observe the engine from outside.

- ``PssSampler``: peak summed PSS of a process tree (the driver JVM and
  the Python workers it forks), sampled from ``/proc``.
- ``BatchListener``: a ``StreamingQueryListener`` recording every
  micro-batch's progress (batchDuration, durationMs, numInputRows).
- ``timed_attr``: wraps a module or class attribute so every call adds
  its wall time to a counter, for functions that run on threads the
  benchmark does not own (the checkpoint writer thread).
- ``event_log_groups``: per job group task metrics aggregated from a
  Spark event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root``'s process tree: pages
    shared by forked workers are split between them instead of being
    counted once per process, as a sum of RSS would."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited between the scan and the read
    return total


class PssSampler:
    """Samples the summed PSS of ``root``'s process tree every ``period``
    seconds on a daemon thread between ``start`` and ``stop``."""

    def __init__(self, root: int, period: float = 0.25):
        self.root = root
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            if self._stop.wait(self.period):
                return

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


class BatchListener(StreamingQueryListener):
    """Records (batchDuration ms, durationMs, numInputRows) for
    every micro-batch that read input, and counts terminated queries so
    the caller can wait until a drain's events have all arrived (the
    listener bus is asynchronous)."""

    def __init__(self):
        self.batches: list[tuple[int, dict, int]] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            with self._cv:
                self.batches.append((p.batchDuration, dict(p.durationMs), p.numInputRows))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 60.0) -> bool:
        with self._cv:
            return self._cv.wait_for(lambda: self.terminated >= n, timeout)


class Counter:
    """Seconds summed over calls that may come from several threads."""

    def __init__(self):
        self.seconds = 0.0
        self._lock = threading.Lock()

    def add(self, dt: float) -> None:
        with self._lock:
            self.seconds += dt


@contextlib.contextmanager
def timed_attr(owner, name: str, after=None):
    """Replace ``owner.name`` with a wrapper that times each call (plus
    ``after(result)``, when given, inside the timed span); restore it on
    exit. Yields the ``Counter``."""
    orig = getattr(owner, name)
    counter = Counter()

    def wrapper(*args, **kwargs):
        t = time.perf_counter()
        try:
            out = orig(*args, **kwargs)
            if after is not None:
                after(out)
            return out
        finally:
            counter.add(time.perf_counter() - t)

    setattr(owner, name, wrapper)
    try:
        yield counter
    finally:
        setattr(owner, name, orig)


def event_log_groups(log_dir: str) -> dict[str, dict]:
    """Aggregate the task metrics of every job group in the event logs
    under ``log_dir``: summed executor run time, shuffle bytes written,
    bytes spilled, and each stage's task run times (for skew)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if g is None or not tm:
                        continue
                    agg = groups.setdefault(
                        g, {"exec_ms": 0, "shuffle_write": 0, "spill": 0, "stages": {}}
                    )
                    agg["exec_ms"] += tm["Executor Run Time"]
                    agg["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    agg["spill"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                    agg["stages"].setdefault(ev["Stage ID"], []).append(
                        tm["Executor Run Time"]
                    )
    return groups


def task_skew(stages: dict[int, list[int]]) -> float:
    """Slowest task over median task, in the stage with the most summed
    run time (the stage that sets the layer's wall time)."""
    if not stages:
        return 0.0
    runs = max(stages.values(), key=sum)
    return max(runs) / max(statistics.median(runs), 1.0)
