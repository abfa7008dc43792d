"""What the benchmark observes from outside the engine.

- :class:`JobProbe` attributes Spark jobs to a time window by job id.
  Job ids grow with submission, so the jobs submitted in a window are
  those above the id seen when it opened. Jobs submitted by other
  threads, such as a streaming query's micro-batches, count as well,
  which a job-group filter would miss. Counters come from the status
  store, which Spark keeps even with the UI disabled.
- :class:`PeakRss` samples the resident memory of the benchmark's child
  processes (the driver JVM and its Python workers).
- :func:`dir_bytes` measures what a run leaves in its temp directories.
"""
from __future__ import annotations

import os
import threading
from pathlib import Path


class JobProbe:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def last_job_id(self) -> int:
        """Highest job id submitted so far (-1 before the first job)."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def submitted_s(self, job_id: int) -> float:
        """Epoch seconds at which job ``job_id`` was submitted."""
        return self._store.job(job_id).submissionTime().get().getTime() / 1e3

    def counters(self, first: int, last: int) -> dict[str, float]:
        """Jobs ``first..last`` (inclusive): job and stage counts plus the
        stage metrics summed over the stages that ran."""
        stage_ids: set[int] = set()
        for jid in range(first, last + 1):
            ids = self._store.job(jid).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = {"jobs": float(last - first + 1), "stages": 0.0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "shuffle_write_mb": 0.0, "peak_exec_mem_mb": 0.0}
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"],
                                          st.peakExecutionMemory() / 1e6)
        return out


def _stat(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            ppid = int(_stat(entry.name)[1])
        except OSError:  # the process ended while we looked
            continue
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants() -> list[int]:
    """Every live process below this one."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:  # the process ended while we looked
        pass
    return 0.0


class PeakRss:
    """Peak of the summed resident memory of all descendant processes."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            total = sum(_rss_mb(p) for p in descendants())
            self.peak_mb = max(self.peak_mb, total)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def dir_bytes(*roots: Path) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                try:
                    total += os.lstat(os.path.join(dirpath, name)).st_size
                except OSError:  # removed while we walked
                    pass
    return total
