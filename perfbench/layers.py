"""Readers for the layers under the benchmark, used from outside the
program: the process tree through ``/proc`` and Spark's scheduler
through its public status store.
"""

from __future__ import annotations

import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "pyworker")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return int(f[1]), comm, sum(int(x) for x in f[11:15]) / _TICK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


#: Seconds between two RSS samples of the process tree.
SAMPLE_INTERVAL_S = 0.1


def _children(pid: int) -> list[int]:
    """Child pids of every thread of one process."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


class ProcessTree:
    """The driver process and every descendant, split into the driver,
    the JVM and the Python workers the JVM forks. A background thread
    samples summed RSS so that the peak is seen between passes too; its
    own CPU is left out of the driver's."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_mb = {k: 0.0 for k in KINDS + ("total",)}
        self._sampler_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def members(self) -> dict[int, tuple[str, float]]:
        """pid -> (kind, cpu seconds) for the whole tree, walked down
        from the root."""
        out = {}
        todo = [(self.root, None)]
        while todo:
            pid, parent = todo.pop()
            st = _stat(pid)
            if st is None:
                continue
            _ppid, comm, cpu = st
            if parent is None:
                kind = "driver"
            elif comm == "java":
                kind = "jvm"
            else:
                kind = "pyworker" if parent in ("jvm", "pyworker") else parent
            out[pid] = (kind, cpu)
            todo += [(c, kind) for c in _children(pid)]
        return out

    def cpu(self) -> dict[str, float]:
        out = {k: 0.0 for k in KINDS}
        for kind, cpu in self.members().values():
            out[kind] += cpu
        out["driver"] -= self._sampler_cpu_s
        out["total"] = sum(out.values())
        return out

    def rss(self) -> dict[str, float]:
        out = {k: 0.0 for k in KINDS}
        for pid, (kind, _cpu) in self.members().items():
            out[kind] += _rss_mb(pid)
        out["total"] = sum(out.values())
        return out

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            for k, v in self.rss().items():
                self.peak_mb[k] = max(self.peak_mb[k], v)
            self._sampler_cpu_s = time.thread_time()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Stop sampling; the peaks keep what was seen until now."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def descendants(self) -> list[int]:
        return [p for p in self.members() if p != self.root]


class SparkStatus:
    """Job and stage records from the session's ``AppStatusStore``,
    read over py4j: jobs are found by id range, since the job-id counter
    counts every job the driver launched, from any thread."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the finished jobs' final metrics."""
        self._sc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, first: int, end: int) -> list[dict]:
        """Jobs ``first .. end-1`` with their stages' metrics attached."""
        self.drain()
        store = self._sc.statusStore()
        out = []
        for jid in range(first, end):
            job = self._json(store.job(jid))
            job["stages"] = []
            for sid in job["stageIds"]:
                stage = self._json(store.lastStageAttempt(sid))
                stage.pop("details", None)
                job["stages"].append(stage)
            out.append(job)
        return out


def job_metrics(jobs: list[dict]) -> dict[str, float]:
    """Scheduler and executor totals over a list of jobs. A stage that
    several jobs share (a reused exchange) is counted once."""
    seen: dict[int, dict] = {}
    for job in jobs:
        for st in job["stages"]:
            if st["status"] != "SKIPPED":
                seen[st["stageId"]] = st
    stages = seen.values()
    mb = 2.0**20
    return {
        "jobs": len(jobs),
        "stages": len(seen),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "exec_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
        "shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / mb,
        "peak_exec_mem_mb": max((s["peakExecutionMemory"] for s in stages), default=0) / mb,
        "input_mb": sum(s["inputBytes"] for s in stages) / mb,
        "output_mb": sum(s["outputBytes"] for s in stages) / mb,
    }


def busy_seconds(spans: list[tuple[float, float]], start_ms: float, end_ms: float) -> float:
    """Seconds of [start, end] covered by at least one of the
    (start, end) millisecond spans."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start_ms), min(e, end_ms)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return max(0.0, busy) / 1e3


def now_ms() -> float:
    return time.time() * 1e3
