"""Measurements taken from outside the package: Spark's status store, the
process tree's memory, the warehouse directory and executed query plans."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class SparkDelta:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


class SparkStats:
    """Counters as deltas of the application's status store.

    Jobs are numbered in submission order, so the jobs of an interval are the
    ids above the mark taken at its start, whichever thread submitted them.
    The store keeps the newest ``spark.ui.retainedJobs`` jobs and
    ``spark.ui.retainedStages`` stages (1000 each by default), more than one
    benchmark op submits.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """The newest job id so far (-1 before the first job)."""
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.size() else -1

    def since(self, mark: int, until: int | None = None) -> SparkDelta:
        """Counters of the jobs after ``mark`` (up to ``until`` inclusive)."""
        self._drain()
        out = SparkDelta()
        stage_ids: set[int] = set()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= mark:
                break
            if until is not None and jid > until:
                continue
            out.jobs += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            out.shuffle_bytes += st.shuffleWriteBytes()
            out.input_bytes += st.inputBytes()
            out.output_bytes += st.outputBytes()
        return out


def children() -> dict[int, list[int]]:
    """parent pid -> pids of its children, for every process on the host."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    kids = children()
    total, stack = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the process tree's resident memory on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def file_index(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, size, mtime_ns) of every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def data_files(index: dict[str, tuple[int, int, int]]) -> dict[str, tuple[int, int, int]]:
    """Parquet data files only: no checksums, markers or staging leftovers."""
    return {p: v for p, v in index.items() if p.endswith(".parquet")}


def scan_metrics(df) -> tuple[int, int]:
    """(files read, rows output) summed over the file scans of an executed
    DataFrame's final physical plan, adaptive query stages included."""
    plan = df._jdf.queryExecution().executedPlan()
    files = rows = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        if cls == "FileSourceScanExec":
            metrics = node.metrics()
            for key, attr in (("numFiles", "files"), ("numOutputRows", "rows")):
                opt = metrics.get(key)
                if opt.isDefined():
                    if attr == "files":
                        files += opt.get().value()
                    else:
                        rows += opt.get().value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return files, rows
