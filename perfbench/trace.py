"""Outside-in tracing: spans around calls into the engine's layers,
Spark job/stage accounting per job group, process-tree memory, and
host diagnostics.

Nothing here instruments the engine. A span sets one Spark job group,
times the wrapped call from the benchmark, and on exit reads the
group's jobs through ``statusTracker().getJobIdsForGroup`` and each
stage's task time, shuffle, spill and GC through the JVM status store
(which answers with the UI disabled). Spans stay in memory and are
written once, with the rest of the run record, when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Spans plus per-group Spark counters. ``enabled=False`` keeps the
    same call sites but records nothing and sets no job group, so the
    untraced passes run exactly the engine's own jobs."""

    def __init__(self, spark, workload: str, seed: int, enabled: bool = True):
        self.sc = spark.sparkContext
        self.workload = workload
        self.seed = seed
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[tuple[int, str]] = []  # (span id, job group)
        self._n = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        self._n += 1
        group = f"{name}#{self._n}"
        rec = {
            "id": self._n,
            "name": name,
            "parent": self._stack[-1][0] if self._stack else None,
            "workload": self.workload,
            "seed": self.seed,
            **attrs,
        }
        self._stack.append((self._n, group))
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            # a child's jobs count under the child's group only, so a
            # span's counters are its own (self) counters
            self.sc.setLocalProperty("spark.jobGroup.id", self._stack[-1][1] if self._stack else None)
            rec.update(self.group_stats(group))
            self.spans.append(rec)

    def group_stats(self, group: str) -> dict:
        """Jobs, stages, tasks, task time, shuffle, spill and GC of the
        jobs that ran under ``group``."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0}
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            sd = _last_attempt(store, sid)
            if sd is None:  # skipped stage: its output was reused
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            out["gc_s"] += sd.jvmGcTime() / 1000.0
        return out


def cached_mb(spark) -> float:
    """Memory and disk held by every cached relation, from the
    context's storage status."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _last_attempt(store, sid: int):
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:  # NoSuchElementException: never attempted
        return None
    return sd if str(sd.status()) == "COMPLETE" else None


# ---------------------------------------------------------------- memory


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from the ppid column of
    /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class PeakMemory:
    """Peak memory of the whole process tree (the driver, the JVM it
    launches and the Python workers the JVM forks): the largest sum of
    ``Pss`` over the processes alive at one poll, polled from a thread.
    Pss splits each shared page among the processes mapping it, so the
    pages a forked worker shares with its parent, or a child the JVM
    spawns shares with the JVM, count once."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        now = {pid: _pss_kb(pid) for pid in process_tree(os.getpid())}
        total = sum(now.values())
        if total > self.peak_kb:
            self.peak_kb = total
            self.at_peak = {f"{_comm(pid)}:{pid}": kb for pid, kb in now.items() if kb}

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._poll()

    def start(self) -> "PeakMemory":
        self._poll()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop polling (idempotent) and return the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._poll()
        return self.peak_kb / 1024.0

    def breakdown_mb(self) -> dict[str, float]:
        """MB per process at the peak, keyed ``<comm>:<pid>``."""
        return {k: kb / 1024.0 for k, kb in self.at_peak.items()}


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


# ---------------------------------------------------------------- host


def bw_probe_mbs() -> float:
    """50 MB numpy multiply, best of 3 (the bandwidth probe formula of
    the repo's bench harness): a host diagnostic, never a filter."""
    import numpy as np

    best = 0.0
    for _ in range(3):
        a = np.ones(50 * MB // 8)
        t = time.time()
        a * 2
        best = max(best, 50 / (time.time() - t))
    return round(best, 1)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time from /proc/stat (USER_HZ ticks); the
    difference over a run shows how much of it the hypervisor stole."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), vals))


def source_fingerprint(root: str) -> dict:
    """The commit when the checkout is a git work tree, and in any case
    a sha256 over the engine's Python sources, so a run record names
    the code it measured."""
    import hashlib
    import subprocess

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        done = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = done.stdout.strip() or None
    h = hashlib.sha256()
    pkg = os.path.join(root, "rmlint_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return {"commit": commit, "source_sha256": h.hexdigest()}
