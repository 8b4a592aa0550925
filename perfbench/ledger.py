"""Outside-in accounting: Spark work per operation, process memory, and
sample statistics.

Spark work is attributed to an operation by job-id and stage-id ranges
in the driver's AppStatusStore, read over py4j the way
``tests/test_plans.py::_task_stats`` reads it, but summed per stage
instead of per task. Job groups are not used: ``run_validation``
submits jobs from its own thread pools, and those threads do not carry
the caller's job group. One client runs one operation at a time, so
every job between two marks belongs to that operation.

When ``schema_drift_detector_spark/plans/observe.py`` exists, this
reader should be replaced by it, so the engine and the benchmark count
the same thing.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

MB = 1e6
RSS_INTERVAL_S = 0.1  # RssSampler's sampling period

_STAGE_SUMS = (
    ("tasks", "numCompleteTasks"),
    ("task_ms", "executorRunTime"),
    ("gc_ms", "jvmGcTime"),
    ("input_bytes", "inputBytes"),
    ("input_records", "inputRecords"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
)


class SparkLedger:
    """Reads jobs and stages created since a mark.

    Relies on the status store listing jobs and stages newest first
    (its KV views are sorted by id, descending)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _drain(self) -> None:
        # the status store is fed by the listener bus, asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> tuple[int, int]:
        self._drain()
        jobs, stages = self._store.jobsList(None), self._stages()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._drain()
        job_mark, stage_mark = mark
        jobs = self._store.jobsList(None)
        n_jobs = 0
        while n_jobs < jobs.size() and jobs.apply(n_jobs).jobId() > job_mark:
            n_jobs += 1
        out = {k: 0 for k, _ in _STAGE_SUMS}
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= stage_mark:
                break
            for k, attr in _STAGE_SUMS:
                out[k] += getattr(s, attr)()
        return {
            "jobs": n_jobs,
            "tasks": out["tasks"],
            "task_s": out["task_ms"] / 1e3,
            "gc_s": out["gc_ms"] / 1e3,
            "input_mb": out["input_bytes"] / MB,
            "input_records": out["input_records"],
            "shuffle_write_mb": out["shuffle_write_bytes"] / MB,
            "spill_mb": out["spill_bytes"] / MB,
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # "pid (comm) state ppid ..." — comm may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def children(pid: int) -> list[int]:
    return _children().get(pid, [])


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / MB
    except (OSError, IndexError, ValueError):
        return 0.0  # process ended between listing and reading


class RssSampler:
    """Peak RSS of the JVM and peak summed RSS of its descendants (the
    PySpark daemon and its Python workers), sampled every RSS_INTERVAL_S
    seconds on a background thread while the ``with`` block runs."""

    def __init__(self, jvm_pid: int):
        self._jvm_pid = jvm_pid
        self._stop = threading.Event()
        self.jvm_peak_mb = 0.0
        self.py_worker_peak_mb = 0.0

    def _run(self) -> None:
        workers: list[int] = []
        n = 0
        while True:
            if n % 10 == 0:  # the tree changes rarely; rescan once a second
                workers = descendants(self._jvm_pid)
            n += 1
            self.jvm_peak_mb = max(self.jvm_peak_mb, _rss_mb(self._jvm_pid))
            self.py_worker_peak_mb = max(
                self.py_worker_peak_mb, sum(_rss_mb(p) for p in workers)
            )
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def summarize(samples: list[float]) -> dict[str, float]:
    """Median, quartiles and count; quartiles fall back to the median
    when there are fewer than two samples."""
    med = statistics.median(samples)
    q1, _, q3 = statistics.quantiles(samples, n=4) if len(samples) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "n": len(samples)}


def timed(fn):
    """(result, wall seconds) of fn()."""
    t0 = time.perf_counter()
    result = fn()
    return result, time.perf_counter() - t0
