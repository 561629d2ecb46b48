"""Process-tree, host and Spark status-store probes.

CPU and memory are read from ``/proc`` for the whole process tree: this
Python driver, the JVM it launched, and the Python workers the JVM
forks (the ``pyspark.daemon`` and its children). Ticks of exited
children are charged to their parent's ``cutime``/``cstime`` once
reaped, so the tree total stays continuous.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, out = _children(pid), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def _own_and_reaped(pid: int) -> tuple[float, float]:
    """(utime+stime, cutime+cstime) of one process, in seconds."""
    f = _stat(pid)
    if f is None:
        return 0.0, 0.0
    # fields after ')' start at stat field 3: utime is 14 → index 11
    return (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK


def process_start_s() -> float:
    """Seconds since boot at which this process started (stat field 22),
    comparable with :func:`uptime_s`."""
    return int(_stat(os.getpid())[19]) / _TICK


def uptime_s() -> float:
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0])


class Tree:
    """CPU and PSS of the driver → JVM → Python-worker tree."""

    def __init__(self, jvm_pid: int | None = None):
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        """Cumulative seconds: ``driver`` (this process and any reaped
        non-JVM children), ``jvm`` (JVM threads), ``pyworker`` (every
        JVM descendant, live or reaped)."""
        own, reaped = _own_and_reaped(os.getpid())
        out = {"driver": own + reaped, "jvm": 0.0, "pyworker": 0.0}
        if self.jvm_pid:
            jown, jreaped = _own_and_reaped(self.jvm_pid)
            out["jvm"] = jown
            out["pyworker"] = jreaped + sum(
                sum(_own_and_reaped(p)) for p in _descendants(self.jvm_pid)
            )
        out["total"] = out["driver"] + out["jvm"] + out["pyworker"]
        return out

    def pss_mb(self) -> float:
        pids = [os.getpid()] + _descendants(os.getpid())
        kb = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return kb / 1024.0


def host_sample() -> dict:
    """Steal and total CPU ticks from /proc/stat, plus load averages."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"steal": f[7] if len(f) > 7 else 0, "ticks": sum(f[:8]), "load": load}


def host_bracket(start: dict, end: dict) -> dict:
    ticks = max(1, end["ticks"] - start["ticks"])
    return {
        "start": start,
        "end": end,
        "steal_frac": (end["steal"] - start["steal"]) / ticks,
        "load_1m": end["load"][0],
    }


class SparkStatus:
    """Per-op execute totals from the status store (UI need not run).

    Ops run one at a time, so every job id created between two marks
    belongs to the op in between."""

    FIELDS = ("run_ms", "cpu_ns", "gc_ms", "tasks", "input_b", "shuffle_w_b", "spill_b")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.next_job = 0
        self.mark()

    def _job_exists(self, jid: int) -> bool:
        try:
            self.store.job(jid)
            return True
        except Exception:
            return False

    def mark(self) -> int:
        """Advance past every job created so far; return the count."""
        start = self.next_job
        while self._job_exists(self.next_job):
            self.next_job += 1
        return self.next_job - start

    def since(self, first_job: int) -> dict[str, float]:
        """Executor totals over jobs ``first_job .. next_job-1``."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        stages: set[int] = set()
        for jid in range(first_job, self.next_job):
            ids = self.store.job(jid).stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stages):
            try:
                attempts = self.store.stageData(sid, False, None, False, self._no_quantiles)
            except Exception:
                continue  # skipped stage: never ran
            for i in range(attempts.size()):
                s = attempts.apply(i)
                out["run_ms"] += s.executorRunTime()
                out["cpu_ns"] += s.executorCpuTime()
                out["gc_ms"] += s.jvmGcTime()
                out["tasks"] += s.numTasks()
                out["input_b"] += s.inputBytes()
                out["shuffle_w_b"] += s.shuffleWriteBytes()
                out["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def plan_ms(df) -> float:
    """Analysis + optimization + planning ms of a DataFrame's
    QueryExecution (0 when the tracker is unavailable)."""
    try:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        total = 0.0
        while it.hasNext():
            total += it.next()._2().durationMs()
        return total
    except Exception:
        return 0.0
