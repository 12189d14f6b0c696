"""Counters read from outside the program under test.

* :class:`SparkCounters` reads Spark's own status store over the
  session's py4j gateway: stages, task-time quantiles and SQL
  executions. A :meth:`SparkCounters.mark` taken before a phase and a
  :meth:`SparkCounters.since` after it give that phase's work.
* :func:`fs_bytes` sums Hadoop ``FileSystem.getAllStatistics()``, the
  bytes every Hadoop file system read and wrote in this JVM.
* :class:`RssSampler` samples the resident memory of this process tree
  (Python driver, the JVM it launched and any Python workers), as the
  sum of proportional set sizes so that pages a child shares with its
  parent after a fork count once.
"""

from __future__ import annotations

import os
import statistics
import threading
from dataclasses import dataclass, field


@dataclass
class StageStats:
    """Totals over the stages that ran in one phase."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0  # executor run time summed over tasks
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    scan_tasks: int = 0  # tasks of stages that read input files
    # (max task run time, median task run time) per stage, in ms
    task_quantiles: dict[int, tuple[float, float]] = field(default_factory=dict)
    scan_stages: list[int] = field(default_factory=list)
    shuffle_stages: list[int] = field(default_factory=list)

    def skew(self, stage_ids: list[int]) -> float:
        """Longest task over median task, summed over ``stage_ids``: the
        critical path of those stages over their typical task. 1.0 when
        there is nothing to compare."""
        longest = sum(self.task_quantiles[s][0] for s in stage_ids)
        typical = sum(max(self.task_quantiles[s][1], 1.0) for s in stage_ids)
        return longest / typical if typical else 1.0


class SparkCounters:
    """Status-store reader bound to one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def _stages(self):
        it = self._store.stageList(
            None, False, False, self._no_quantiles, None
        ).iterator()
        while it.hasNext():
            yield it.next()

    def _job_ids(self):
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next().jobId()

    def mark(self) -> tuple[int, int, int]:
        """Highest stage, SQL execution and job ids seen so far."""
        stage = max((s.stageId() for s in self._stages()), default=-1)
        execution = -1
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            execution = max(execution, it.next().executionId())
        return stage, execution, max(self._job_ids(), default=-1)

    def since(self, mark: tuple[int, int, int],
              skip: tuple[tuple[int, int, int], tuple[int, int, int]] | None = None,
              ) -> StageStats:
        """Totals over the jobs and stages started after ``mark`` that ran,
        leaving out those started between the two marks of ``skip``."""
        lo, hi = skip or (mark, mark)

        def counted(i, k):
            return i > mark[k] and not lo[k] < i <= hi[k]

        out = StageStats(jobs=sum(1 for j in self._job_ids() if counted(j, 2)))
        for s in self._stages():
            if not counted(s.stageId(), 0) or not s.submissionTime().isDefined():
                continue
            sid = s.stageId()
            out.stages += 1
            out.tasks += s.numTasks()
            out.run_ms += s.executorRunTime()
            out.gc_ms += s.jvmGcTime()
            out.input_bytes += s.inputBytes()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.shuffle_read_bytes += s.shuffleReadBytes()
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            summary = self._store.taskSummary(sid, s.attemptId(), self._quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                out.task_quantiles[sid] = (rt.apply(1), rt.apply(0))
            else:
                out.task_quantiles[sid] = (0.0, 0.0)
            if s.inputBytes() > 0:
                out.scan_tasks += s.numTasks()
                out.scan_stages.append(sid)
            if s.shuffleReadBytes() > 0:
                out.shuffle_stages.append(sid)
        return out

    def executions_since(self, mark: tuple[int, int, int]) -> list[tuple[float, float]]:
        """(submit, complete) epoch seconds of each root SQL execution
        started after ``mark``, in execution order."""
        rows = []
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            if e.executionId() <= mark[1] or e.rootExecutionId() != e.executionId():
                continue
            done = e.completionTime()
            end = done.get().getTime() if done.isDefined() else e.submissionTime()
            rows.append((e.executionId(), e.submissionTime() / 1e3, end / 1e3))
        return [(s, t) for _, s, t in sorted(rows)]


def fs_bytes(spark) -> tuple[int, int]:
    """(bytes read, bytes written) by every Hadoop FileSystem in the JVM."""
    read = written = 0
    for s in spark._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics():
        read += s.getBytesRead()
        written += s.getBytesWritten()
    return read, written


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes (proportional set size) of ``root`` and all its
    descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended since the listing
            pass
    return total


class RssSampler:
    """Background thread recording the peak process-tree RSS; use as a
    context manager around the phase to sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def median(values) -> float:
    return statistics.median(values) if values else 0.0
