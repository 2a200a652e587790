"""Measurement helpers read from outside the program: the process tree's
CPU and memory from ``/proc``, host noise witnesses, and Spark's own
per-job counters from the AppStatusStore.

The process tree is this Python process and every descendant: the JVM
that ``spark-submit`` launches and the ``pyspark.daemon`` workers it
forks.  CPU of an exited descendant is counted once its parent reaps it
(``cutime``/``cstime``), so a tree total never loses a finished worker.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """High-water resident memory of the JVM and its Python workers over
    an interval: ``start()`` resets each process's ``VmHWM`` through
    ``/proc/<pid>/clear_refs`` and ``stop()`` sums the high-water marks
    of the JVM subtree (workers started inside the interval count from
    their start)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def start(self) -> None:
        for pid in tree_pids(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def stop_mb(self) -> float:
        return sum(_status_kb(p, "VmHWM:") for p in tree_pids(self.jvm_pid)) / 1024


class NoiseWitness:
    """Host-load witnesses over an interval, reported as diagnostics:
    1-minute load average at both ends and the CPU steal share from
    ``/proc/stat``."""

    def __init__(self):
        self._load0 = os.getloadavg()[0]
        self._cpu0 = self._cpu()

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def read(self) -> dict:
        cpu1 = self._cpu()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        steal = d[7] if len(d) > 7 else 0
        return {
            "load1_start": round(self._load0, 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "steal_frac": round(steal / max(1, sum(d)), 5),
        }


# ---------------------------------------------------------------------------
# Spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    """Collection time summed over the driver JVM's collectors."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def drain_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    """Wait until the listener bus has delivered every queued event, so
    the AppStatusStore holds the finished jobs' final numbers."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> int | None:
    d = _opt(date_opt)
    return None if d is None else int(d.getTime())


class SparkCounters:
    """Counters of every job submitted under one job group, read from the
    AppStatusStore after the listener bus is drained.

    ``spark.*`` sums over the distinct stages that ran (skipped stages —
    reused shuffle output — count neither as stages nor tasks).  Job
    intervals come back too, so a caller can subtract job-covered time
    from a span's wall time.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def read(self, group: str) -> dict:
        drain_listener_bus(self.spark)
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        stages: set[int] = set()
        intervals = []
        for jid in job_ids:
            j = self.store.job(int(jid))
            sids = j.stageIds()
            stages.update(int(sids.apply(i)) for i in range(sids.size()))
            t0, t1 = _ms(j.submissionTime()), _ms(j.completionTime())
            if t0 is not None and t1 is not None:
                intervals.append((t0 / 1000.0, t1 / 1000.0))
        n = dict.fromkeys(("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "sw_b",
                           "sr_b", "fw_ms", "in_rows", "out_b"), 0)
        for sid in sorted(stages):
            s = self.store.lastStageAttempt(sid)
            if str(s.status()) == "SKIPPED":
                continue
            n["stages"] += 1
            n["tasks"] += int(s.numCompleteTasks())
            n["run_ms"] += int(s.executorRunTime())
            n["cpu_ns"] += int(s.executorCpuTime())
            n["gc_ms"] += int(s.jvmGcTime())
            n["sw_b"] += int(s.shuffleWriteBytes())
            n["sr_b"] += int(s.shuffleReadBytes())
            n["fw_ms"] += int(s.shuffleFetchWaitTime())
            n["in_rows"] += int(s.inputRecords())
            n["out_b"] += int(s.outputBytes())
        # integer sums, scaled once: equal work reads exactly equal
        c = {
            "spark.jobs": len(job_ids),
            "spark.stages": n["stages"],
            "spark.tasks": n["tasks"],
            "spark.executor_run_s": n["run_ms"] / 1e3,
            "spark.executor_cpu_s": n["cpu_ns"] / 1e9,
            "spark.gc_s": n["gc_ms"] / 1e3,
            "spark.shuffle_write_mb": n["sw_b"] / 1e6,
            "spark.shuffle_read_mb": n["sr_b"] / 1e6,
            "spark.fetch_wait_s": n["fw_ms"] / 1e3,
            "spark.input_rows": n["in_rows"],
            "spark.output_mb": n["out_b"] / 1e6,
        }
        c["_job_intervals"] = intervals
        return c

    def sql_nodes(self, group: str) -> list[tuple[str, dict]]:
        """(node name, {metric name: value}) for every
        plan node of the SQL executions whose jobs ran under ``group``.

        SQL metrics reach the status store only as display text, so each
        value is parsed back (:func:`parse_sql_metric`): rows exactly,
        bytes to the 0.1-unit precision of the display; ``None`` when the
        store holds no value."""
        jobs = {int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group)}
        if not jobs:
            return []
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        execs = sql_store.executionsList()
        for i in reversed(range(execs.size())):  # newest first
            e = execs.apply(i)
            keys = e.jobs().keySet().toSeq()
            ejobs = {int(keys.apply(k)) for k in range(keys.size())}
            if ejobs and max(ejobs) < min(jobs):
                break
            if not ejobs & jobs:
                continue
            shown = sql_store.executionMetrics(e.executionId())
            nodes = sql_store.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                metrics = {}
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    text = _opt(shown.get(metric.accumulatorId()))
                    metrics[metric.name()] = None if text is None else parse_sql_metric(text)
                out.append((node.name(), metrics))
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float | None:
    """A SQL metric's display text as a number: ``"1,234"`` → 1234;
    ``"total (min, med, max ...)\n6.1 MiB (...)"`` → bytes; times → s.
    ``None`` for a display this does not know."""
    lines = text.strip().splitlines()
    head = lines[-1].split("(")[0].split() if len(lines) > 1 else lines[0].split()
    try:
        value = float(head[0].replace(",", ""))
    except (IndexError, ValueError):
        return None
    if len(head) == 1:
        return value
    scale = _UNITS.get(head[1])
    return None if scale is None else value * scale


def covered_s(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[t0, t1]``."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total

