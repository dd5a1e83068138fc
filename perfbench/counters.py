"""Engine counters read from outside the program.

Spark's status store (``sparkContext._jsc.sc().statusStore()``) and the
SQL status store (``sharedState().statusStore()``) are filled by listeners
even with the UI disabled.  Work is attributed to an interval of the
driver's timeline by id: job and stage ids come from the DAG scheduler's
counters, which advance synchronously when an action submits work, so
``[ids at start, ids at end)`` of an interval are exactly the jobs and
stages it ran.  SQL executions are attributed through the jobs they own.

Also here: the JVM's CPU time, split into its JIT compiler threads and the
rest; peak resident memory of the JVM (``VmHWM``, which can be reset) and a
sampler for the Python driver's own resident memory.
"""

from __future__ import annotations

import os
import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

# a shuffle or broadcast Exchange node in the plan tree ("+- Exchange (4)");
# ReusedExchange is not new work and does not match
_EXCHANGE_RE = re.compile(r"(?<!\w)(?:Exchange|BroadcastExchange) \(\d+\)")


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int


@dataclass
class Work:
    """Engine work done between two marks."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0       # of the heaviest stage
    heaviest_ms: int = 0         # executor run time of that stage
    job_busy_s: float = 0.0      # wall time covered by at least one job
    exchanges: int = 0


class EngineCounters:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 2
        )
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._seen_exec = -1
        self._exchanges: dict[int, int] = {}   # first job id -> Exchange nodes

    def mark(self) -> Mark:
        dag = self._sc.dagScheduler()
        return Mark(dag.nextJobId(), dag.nextStageId())

    def drain(self) -> None:
        """Wait until listeners have seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def work(self, start: Mark, end: Mark) -> Work:
        """Counters for jobs/stages created in [start, end).  Call drain()
        first so the store has the completed stages and final plans."""
        self._read_exchanges()
        w = Work()
        intervals = []
        for jid in range(start.job, end.job):
            job = self._store.job(jid)
            w.jobs += 1
            w.exchanges += self._exchanges.get(jid, 0)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        heaviest = None
        for sid in range(start.stage, end.stage):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # created for a job that never submitted it
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse earlier shuffle output
            w.stages += 1
            w.tasks += st.numCompleteTasks()
            run_ms = st.executorRunTime()
            w.task_s += run_ms / 1000.0
            w.gc_s += st.jvmGcTime() / 1000.0
            w.shuffle_write_bytes += st.shuffleWriteBytes()
            w.spill_bytes += st.diskBytesSpilled()
            if heaviest is None or run_ms > heaviest[0]:
                heaviest = (run_ms, sid, st.attemptId())
        if heaviest is not None:
            w.heaviest_ms = heaviest[0]
            w.task_skew = self._skew(heaviest[1], heaviest[2])
        w.job_busy_s = _union_s(intervals)
        return w

    def _skew(self, stage_id: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        dist = self._store.taskSummary(stage_id, attempt, self._quantiles)
        if not dist.isDefined():
            return 0.0
        run = dist.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def _read_exchanges(self) -> None:
        """Record the Exchange nodes in the executed plan of every SQL
        execution not seen before, keyed by the execution's first job id."""
        execs = self._sql.executionsList()
        newest = self._seen_exec
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._seen_exec:
                break
            newest = max(newest, eid)
            job_ids = _job_keys(ex)
            if job_ids:
                first = min(job_ids)
                self._exchanges[first] = (
                    self._exchanges.get(first, 0)
                    + count_exchanges(ex.physicalPlanDescription() or "")
                )
        self._seen_exec = newest


def count_exchanges(plan_description: str) -> int:
    """Exchange nodes in the executed plan tree of a formatted plan
    description; under AQE only the final plan counts."""
    tree = plan_description.split("\n\n\n")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return len(_EXCHANGE_RE.findall(tree))


def _job_keys(ex) -> list[int]:
    it = ex.jobs().keysIterator()
    keys = []
    while it.hasNext():
        keys.append(int(it.next()))
    return keys


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Total length in seconds of the union of [start, end] ms intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_s(stat_path: str) -> float:
    """utime + stime of a process or thread, from its /proc stat file.  Time
    the hypervisor gave to other guests (steal) is not charged to it."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * _TICK_S


class JvmCpu:
    """CPU seconds of the JVM: all its threads, and its JIT compiler threads.

    The JVM must run with ``-XX:-UseDynamicNumberOfCompilerThreads``: its
    compiler threads then start with it and never exit, so their counters
    are found once and never vanish between two readings."""

    def __init__(self, pid: int):
        self._proc = f"/proc/{pid}/stat"
        task = f"/proc/{pid}/task"
        self._jit = []
        for tid in os.listdir(task):
            with open(os.path.join(task, tid, "comm")) as f:
                if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    self._jit.append(os.path.join(task, tid, "stat"))
        if not self._jit:
            raise RuntimeError(f"no JIT compiler threads found in {task}")

    def read(self) -> tuple[float, float]:
        """(all threads, JIT compiler threads), in CPU seconds."""
        return _cpu_s(self._proc), sum(map(_cpu_s, self._jit))


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss(pid: int | str) -> None:
    """Set a process's VmHWM back to its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


class RssSampler:
    """Samples this process's resident memory every ``period`` seconds on a
    daemon thread; ``peak_mb`` is the largest value seen inside
    ``measuring()`` blocks."""

    def __init__(self, period: float = 0.005):
        self._period = period
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._on = False
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_mb = 0.0

    def _sample(self) -> None:
        with open("/proc/self/statm") as f:
            rss = int(f.read().split()[1]) * self._page / 1e6
        if self._on:
            self.peak_mb = max(self.peak_mb, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    @contextmanager
    def measuring(self):
        self._on = True
        self._sample()
        try:
            yield
        finally:
            self._sample()
            self._on = False

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb
