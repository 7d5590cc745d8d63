"""Benchmark-side tracing: spans, Spark's own counters, memory sampling.

Everything here observes the program from outside. Spans wrap the calls the
benchmark makes into each layer; the Spark counters come from the JVM's
``AppStatusStore`` (filled even with the UI off), the Catalyst phase tracker
of a DataFrame, and a ``StreamingQueryListener`` the benchmark registers.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PHASES = ("analysis", "optimization", "planning")

#: per-stage counters summed into each call's record (StageData getter names)
STAGE_COUNTERS = {
    "spark.tasks": "numTasks",
    "spark.executor_run_ms": "executorRunTime",
    "spark.executor_cpu_ms": "executorCpuTime",  # ns, converted below
    "spark.deserialize_ms": "executorDeserializeTime",
    "spark.gc_ms": "jvmGcTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


class Spans:
    """In-memory span log: (name, start, end, parent, attrs) per span.
    Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


def _ms(java_date_option) -> float | None:
    return float(java_date_option.get().getTime()) if java_date_option.isDefined() else None


class SparkCounters:
    """Job, stage and phase counters read from the driver JVM."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_job = self._max_job_id() + 1

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def drain_jobs(self) -> dict:
        """Counters of every job submitted since the previous drain.

        Waits for the listener bus first, so the status store has seen the
        end of each job it reports."""
        self._sc.listenerBus().waitUntilEmpty()
        out = {"spark.jobs": 0, "spark.stages": 0, "spark.scheduler_ms": 0.0,
               "job_intervals": []}
        for k in STAGE_COUNTERS:
            out[k] = 0.0
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no newer job yet
                break
            self._next_job += 1
            out["spark.jobs"] += 1
            sub, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if sub is not None and end is not None:
                out["job_intervals"].append((sub, end))
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # stage never ran: its shuffle output was reused
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                for key, getter in STAGE_COUNTERS.items():
                    getters = getter if isinstance(getter, tuple) else (getter,)
                    out[key] += sum(float(getattr(st, g)()) for g in getters)
                s_sub, s_first = _ms(st.submissionTime()), _ms(st.firstTaskLaunchedTime())
                if s_sub is not None and s_first is not None:
                    out["spark.scheduler_ms"] += s_first - s_sub
        out["spark.executor_cpu_ms"] /= 1e6
        return out

    @staticmethod
    def phases(df) -> dict:
        """Catalyst analysis/optimization/planning time recorded on ``df``."""
        tracker = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in PHASES:
            o = tracker.get(p)
            out[f"spark.{p}_ms"] = float(o.get().durationMs()) if o.isDefined() else 0.0
        return out


def outside_job_ms(call_start_ms: float, call_end_ms: float, intervals) -> float:
    """Call wall time not covered by any Spark job (Py4J, Arrow to pandas,
    driver-side Python)."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, call_start_ms), min(e, call_end_ms)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (call_end_ms - call_start_ms) - covered)


def progress_listener(spark, sink: list):
    """Register a StreamingQueryListener appending one dict per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            states = p.stateOperators or []
            sink.append({
                "query": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_bytes": sum(s.memoryUsedBytes for s in states),
                "state_commit_ms": sum(s.commitTimeMs for s in states),
                "state_partitions": sum(s.numShufflePartitions for s in states),
                "has_state": bool(states),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(root, 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _proc_kb(pid: int, name: str, field: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/<name>``; 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_memory_kb(root: int) -> int:
    """Memory of a process tree: the JVM's resident set plus the
    proportional set size (PSS) of every other process, so Python workers
    forked from one daemon count their shared pages once. A JVM child that
    is still the JVM (forked, not yet exec'd) is skipped: it shares every
    page with its parent. PSS is not read for the JVM itself, because
    walking its page tables stalls it."""
    total = 0
    for pid, ppid in _tree(root):
        exe = _exe(pid)
        if exe.endswith("/java"):
            if not _exe(ppid).endswith("/java"):
                total += _proc_kb(pid, "status", "VmRSS:")
        else:
            total += _proc_kb(pid, "smaps_rollup", "Pss:")
    return total


class PeakMem:
    """Samples ``tree_memory_kb`` of this process and all its descendants
    (the driver JVM and Python workers included) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self._interval):
                return

    def reset(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_memory_kb(os.getpid()))

    def __enter__(self) -> "PeakMem":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
