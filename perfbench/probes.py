"""Read-only probes of the running program, all from outside it.

- ``/proc``: CPU seconds of this process tree (this Python process, the JVM it
  launched, the JVM's Python workers) and of the JVM's JIT compiler and
  garbage collector threads, the JVM's peak resident set, and the time the
  hypervisor kept this machine's CPUs from running.
- Spark's status store (``AppStatusStore``, kept even with the UI off):
  per-job submission/completion times and per-stage task metrics.
- A query's ``QueryExecution``: Catalyst phase times and the SQL metrics of
  the Python exec nodes in the executed plan.
- A ``StreamingQueryListener`` collecting micro-batch progress.

Nothing here changes what the program computes.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including children they have already reaped (cutime/cstime)."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat_fields(pid)
        if f is None:
            continue
        # after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        parent[int(pid)] = int(f[1])
        ticks[int(pid)] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total = 0
    for pid in ticks:
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks[pid]
    return total / _TICKS


#: comm prefix of a JVM service thread -> its kind; HotSpot names its JIT
#: compiler threads ``C1/C2 CompilerThread<n>`` and its G1 collector's
#: ``GC Thread#<n>``, ``G1 Conc#<n>``, ``G1 Refine#<n>``, ``G1 Main Marker``...
SERVICE_THREADS = {
    "C1 CompilerThre": "jit",
    "C2 CompilerThre": "jit",
    "GC Thread": "gc",
    "G1 ": "gc",
}


def service_ticks(pid: int) -> dict[int, tuple[str, int]]:
    """Thread id -> (kind, user+system clock ticks) of each live JIT compiler
    and garbage collector thread of JVM ``pid``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:  # thread ended between listing and reading
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        kind = next((k for p, k in SERVICE_THREADS.items() if comm.startswith(p)), None)
        if kind:
            f = raw[raw.rindex(")") + 2 :].split()
            out[int(tid)] = (kind, int(f[11]) + int(f[12]))
    return out


def service_cpu_s(before: dict, after: dict) -> dict[str, float]:
    """Kind -> CPU seconds the service threads spent between two
    ``service_ticks`` snapshots. The JVM starts and stops threads as its
    queues grow and drain, so threads are matched by id: a thread started in
    between counts from zero, and the work of one that ended in between is
    lost."""
    out = {"jit": 0.0, "gc": 0.0}
    for tid, (kind, t) in after.items():
        out[kind] += (t - before.get(tid, (kind, 0))[1]) / _TICKS
    return out


def stolen_s() -> float:
    """Seconds the hypervisor has kept this machine's CPUs from running since
    boot, averaged over CPUs (``/proc/stat``, the ``steal`` column)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICKS / os.cpu_count()


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _opt_ms(option) -> float | None:
    return option.get().getTime() / 1000.0 if option.isDefined() else None


class StatusStore:
    """Jobs and stages as Spark's status store recorded them."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def jobs(self, after: int, upto: int) -> list[dict]:
        """Jobs with ``after < id <= upto``, each with its stages' metrics."""
        out = []
        for job_id in range(after + 1, upto + 1):
            try:
                job = self._store.job(job_id)
            except Exception:  # evicted or never registered
                continue
            stages = []
            for stage_id in _seq(self._jvm, job.stageIds()):
                try:
                    s = self._store.lastStageAttempt(stage_id)
                except Exception:  # skipped stage: its shuffle output was reused
                    continue
                if str(s.status().toString()) != "COMPLETE":
                    continue
                start, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
                stages.append(
                    {
                        "tasks": s.numTasks(),
                        "wall_s": (end - start) if start and end else 0.0,
                        "task_run_s": s.executorRunTime() / 1e3,
                        "task_cpu_s": s.executorCpuTime() / 1e9,
                        "gc_s": s.jvmGcTime() / 1e3,
                        "input_bytes": s.inputBytes(),
                        "input_rows": s.inputRecords(),
                        "output_bytes": s.outputBytes(),
                        "shuffle_read_bytes": s.shuffleReadBytes(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "shuffle_fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                        "peak_exec_mem_bytes": s.peakExecutionMemory(),
                    }
                )
            out.append(
                {
                    "id": job_id,
                    "start": _opt_ms(job.submissionTime()),
                    "end": _opt_ms(job.completionTime()),
                    "stages": stages,
                }
            )
        return out

    def persistent_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()


def catalyst_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


#: SQL metrics every Python exec node carries (PythonSQLMetrics) -> (name,
#: scale to the reported unit). Spark counts the rows a node gets back from
#: its workers but not the rows it sends them.
PY_METRICS = {
    "pythonDataSent": ("py_bytes_sent", 1),
    "pythonDataReceived": ("py_bytes_returned", 1),
    "pythonNumRowsReceived": ("py_rows_returned", 1),
    "pythonTotalTime": ("py_worker_s", 1e-3),
}


def python_exec_metrics(df) -> dict[str, float]:
    """Sum of the Python exec nodes' SQL metrics over ``df``'s executed plan,
    descending through adaptive plans and finished query stages."""
    jvm = df.sparkSession.sparkContext._jvm
    totals = {name: 0 for name, _ in PY_METRICS.values()}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        for key, (name, scale) in PY_METRICS.items():
            opt = metrics.get(key)
            if opt.isDefined():
                totals[name] += int(opt.get().value()) * scale
        todo.extend(_seq(jvm, node.children()))
    return totals


def streaming_listener(spark):
    """Register a listener that sums micro-batch progress; returns an object
    whose ``take()`` returns and resets the sums."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._zero()

        def _zero(self):
            self.terminated = 0
            self.sums = {
                "batches": 0,
                "input_rows": 0,
                "batch_ms": 0,
                "state_rows": 0,
                "state_mem_bytes": 0,
            }

        def take(self) -> dict:
            with self._lock:
                out = self.sums
                self._zero()
            return out

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                s = self.sums
                s["batches"] += 1
                s["input_rows"] += p.numInputRows
                s["batch_ms"] += p.durationMs.get("triggerExecution", 0)
                for op in p.stateOperators:
                    s["state_rows"] += op.numRowsTotal
                    s["state_mem_bytes"] += op.memoryUsedBytes

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated += 1

    listener = Progress()
    spark.streams.addListener(listener)
    return listener
