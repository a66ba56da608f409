"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: wall clocks around
calls into its public API, Spark's status tracker, a walk of the files
a crawl leaves behind, and a sampler of the process tree's resident
memory. Nothing here changes a program setting.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def cores() -> int:
    """Cores this process may run on (the `local[N]` width)."""
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# resident memory of the benchmark's process tree
# ---------------------------------------------------------------------------


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, resident bytes by pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * PAGE
    return children, rss


def descendants(root: int) -> list[int]:
    children, _ = _process_table()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root: int) -> int:
    _, rss = _process_table()
    return rss.get(root, 0) + sum(rss.get(p, 0) for p in descendants(root))


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM it launched, and wait until every
    process the run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in started:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
            time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    Spark JVM and its Python workers), sampled every `interval` s."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host so far, from /proc/stat: the
    share the hypervisor gave to other guests explains slow runs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


# ---------------------------------------------------------------------------
# Spark scheduler counts (status tracker; works with the UI off)
# ---------------------------------------------------------------------------


class SparkCounter:
    """Jobs, stages and tasks the scheduler ran between `start()` and
    `stop()`. Job ids are sequential, so the new jobs are those above
    the mark. The tracker keeps only the last 1000 jobs and stages, so
    `stop()` raises when jobs were dropped before it could count them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs = self.stages = self.tasks = 0
        self._mark = 0

    def _job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def start(self) -> None:
        self._mark = max(self._job_ids(), default=-1) + 1

    def stop(self) -> None:
        tr = self.sc.statusTracker()
        new = [j for j in self._job_ids() if j >= self._mark]
        if new and min(new) != self._mark:
            raise RuntimeError("status tracker dropped jobs before they were counted")
        stage_ids: set[int] = set()
        for j in new:
            info = tr.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in stage_ids:
            info = tr.getStageInfo(s)
            if info is None:
                continue
            if info.numCompletedTasks > 0:  # skipped stages ran no task
                self.stages += 1
                self.tasks += info.numCompletedTasks
        self.jobs += len(new)
        self._mark = max(new, default=self._mark - 1) + 1


# ---------------------------------------------------------------------------
# files a run leaves behind
# ---------------------------------------------------------------------------


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                continue
    return files, size


# ---------------------------------------------------------------------------
# spans (traced runs only)
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's calls into the program.

    A span is (name, start, end, parent, run). `span()` is a context
    manager; nesting sets the parent. Disabled tracers record nothing
    and cost one attribute check per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.own_s = 0.0  # time spent in this bookkeeping
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        with self._lock:
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self._stack.append(idx)
            start = time.perf_counter()
            self.spans.append({"id": idx, "name": name, "parent": parent,
                               "run": self.run_id, "start": start, "end": None})
            self.own_s += start - t0
        try:
            yield
        finally:
            end = time.perf_counter()
            with self._lock:
                self.spans[idx]["end"] = end
                self._stack.pop()
                self.own_s += time.perf_counter() - end

    def totals(self) -> dict[str, dict[str, float]]:
        """name -> {count, total_ms, self_ms}. Self time is a span's
        duration minus the time its direct children cover."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                ) * 1e3
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = (s["end"] - s["start"]) * 1e3
            t = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            t["count"] += 1
            t["total_ms"] += dur
            t["self_ms"] += dur - child_ms.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def materialize(df) -> None:
    """Run a DataFrame's plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()
