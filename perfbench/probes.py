"""Measurements taken from outside the program: peak RSS of a process tree
from /proc, and Spark job metrics from the driver's status store."""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of root_pid and all its descendants."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the RSS of this process's tree every `interval` seconds
    while `active` is set (the timed conversions), keeping the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, tree_rss_bytes(pid))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _opt_ms(opt) -> int | None:
    """A Scala Option[java.util.Date] as epoch milliseconds."""
    return opt.get().getTime() if opt.isDefined() else None


def spark_group_metrics(sc, group: str) -> dict:
    """Counts, times and bytes of every job in `group`, read from the
    driver's status store (works with the UI disabled).

    `intervals` holds each job's (submitted, completed) epoch-ms span.
    Stages are counted once per stage id; a stage that AQE re-used from
    an earlier job shows there as SKIPPED and is not counted again."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    intervals = []
    n_jobs = 0
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not (g.isDefined() and g.get() == group):
            continue
        n_jobs += 1
        ids = job.stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.size()))
        intervals.append((_opt_ms(job.submissionTime()),
                          _opt_ms(job.completionTime())))
    gw = sc._gateway
    stages = store.stageList(None, False, False,
                             gw.new_array(gw.jvm.double, 0), None)
    m = {"jobs": n_jobs, "stages": 0, "tasks": 0, "failed_tasks": 0,
         "scan_stage_tasks": 0, "write_stage_tasks": 0,
         "executor_run_s": 0.0, "executor_cpu_s": 0.0,
         "shuffle_write_mb": 0.0, "spill_mb": 0.0, "write_stage_run_s": 0.0,
         "intervals": intervals}
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
            continue
        m["stages"] += 1
        m["tasks"] += s.numTasks()
        m["failed_tasks"] += s.numFailedTasks()
        run_s = s.executorRunTime() / 1e3
        m["executor_run_s"] += run_s
        m["executor_cpu_s"] += s.executorCpuTime() / 1e9
        m["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        m["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        if s.shuffleReadBytes() > 0:
            # reads the exchange: the sort + mapInArrow writer stage
            m["write_stage_tasks"] += s.numTasks()
            m["write_stage_run_s"] += run_s
        elif s.shuffleWriteBytes() > 0:
            # feeds the exchange: the native scan stage
            m["scan_stage_tasks"] += s.numTasks()
    return m


def jvm_gc_s(sc) -> float:
    """Seconds the session's JVM has spent in garbage collection so far.

    In local mode driver and executors share this JVM, so the difference
    around a conversion is that job's GC time.  The status store's
    per-task jvmGcTime only counts collections that overlap a task, which
    reads 0 on some workloads."""
    beans = (sc._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1e3


def merged_span_s(intervals: list) -> float:
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if None not in iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3
