"""Measurements taken from outside the program.

- ``ProcTree``: CPU time and peak RSS of the driver, the JVM and the
  Python workers, read from ``/proc``; ``descendants`` lists the live
  processes below a pid.
- ``job_stats``: per job group, job/stage/task data from Spark's status
  tracker and status store.
- ``timed_loads``: wraps ``sources.tables.load`` to count and time it.
- ``StreamEvents``: the run id of every streaming query and the
  durations of its micro-batches, from Spark's streaming listener.
"""

from __future__ import annotations

import os
import sys
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), comm, cpu


def _mem_kb(pid: int) -> tuple[int, int]:
    """(VmHWM, VmRSS) of ``pid`` in kB."""
    hwm = rss = 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
    except OSError:
        pass
    return hwm, rss


def descendants(root: int) -> list[int]:
    """Pids of the live (not zombie) processes below ``root``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            state, ppid = raw[raw.rindex(")") + 2:].split()[:2]
            if state != "Z":
                kids.setdefault(int(ppid), []).append(int(name))
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


class ProcTree:
    """Samples the benchmark's process tree: this driver, the JVM it
    launches, and the Python workers below the JVM. Call ``sample()``
    at operation boundaries; each pid keeps its highest RSS and last
    CPU time, so processes that exit between samples keep their last
    reading."""

    def __init__(self):
        self.root = os.getpid()
        self.role: dict[int, str] = {}
        self.cpu: dict[int, float] = {}
        self.hwm_kb: dict[int, int] = {}
        self.rss_kb: dict[int, int] = {}  # VmRSS of the live processes

    def sample(self) -> None:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st:
                    procs[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _c, _cpu) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        stack = [(self.root, "")]  # (pid, role of its parent)
        self.rss_kb = {}
        while stack:
            pid, parent_role = stack.pop()
            if pid not in procs:
                continue
            comm = procs[pid][1]
            if pid == self.root:
                role = "driver"
            elif comm == "java":
                role = "jvm"
            elif parent_role in ("jvm", "pyworker") and comm.startswith("python"):
                role = "pyworker"
            else:
                role = "other"
            self.role[pid] = role
            self.cpu[pid] = procs[pid][2]
            hwm, rss = _mem_kb(pid)
            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), hwm)
            self.rss_kb[pid] = rss
            stack.extend((k, role) for k in kids.get(pid, ()))

    def cpu_since(self, before: dict[int, float]) -> dict[str, float]:
        """CPU seconds per role since ``before`` (a copy of ``self.cpu``)."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid, role in self.role.items():
            if role in out:
                out[role] += self.cpu[pid] - before.get(pid, 0.0)
        return out

    def peak_rss_mb(self) -> float:
        """Sum over the driver, JVM and Python workers of each process's
        peak resident set."""
        kb = sum(self.hwm_kb[p] for p, r in self.role.items()
                 if r in ("driver", "jvm", "pyworker"))
        return kb / 1024.0

    def python_rss_mb(self) -> float:
        """Resident set of the live Python driver and workers at the
        last sample."""
        kb = sum(rss for p, rss in self.rss_kb.items()
                 if self.role[p] in ("driver", "pyworker"))
        return kb / 1024.0


def jvm_retained_mb(spark) -> float:
    """JVM heap in use after a full collection, plus non-heap memory in
    use (metaspace, code cache). The first collection lets Spark's
    context cleaner drop the broadcast and shuffle blocks of collected
    plans; the second collects what the cleaner released."""
    jvm = spark._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / (1024.0 * 1024.0)


def job_stats(sc, job_ids, seen_stages: set) -> dict:
    """Totals over ``job_ids`` from the status tracker and the status
    store. A stage shared by several jobs is counted once per run
    (``seen_stages``); skipped stages are not counted."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, tasks=0, run_ms=0, cpu_ns=0, gc_ms=0, shuffle_b=0,
               spill_b=0, failed_tasks=0, input_b=0, output_b=0)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store
                continue
            if str(sd.status().toString()) in ("SKIPPED", "PENDING"):
                continue
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ns"] += sd.executorCpuTime()
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_b"] += sd.shuffleWriteBytes()
            out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_b"] += sd.inputBytes()
            out["output_b"] += sd.outputBytes()
    return out


class timed_loads:
    """Context manager that replaces ``sources.tables.load`` in every
    loaded program module with a wrapper that counts and times calls."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0
        self._patched: list[tuple[object, object]] = []

    def __enter__(self):
        from graphsense_datafeed_spark.sources import tables

        orig = tables.load

        def load(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("graphsense_datafeed_spark")
                    and getattr(mod, "load", None) is orig):
                mod.load = load
                self._patched.append((mod, orig))
        return self

    def __exit__(self, *exc):
        for mod, orig in self._patched:
            mod.load = orig
        return False


class StreamEvents:
    """Streaming-query listener. Spark runs a stream's jobs in a job
    group named by the query's run id, not in the group of the caller,
    so each run id is recorded against ``group``, the job group of the
    operation that started the query. Also records the duration of
    every micro-batch that read input."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.group: str | None = None  # set by the running operation
        self.run_ids: dict[str, list[str]] = {}  # op group -> run ids
        self.batches: list[float] = []  # seconds of each micro-batch
        self.terminated = threading.Event()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                # called before DataStreamWriter.start() returns
                if outer.group is not None:
                    outer.run_ids.setdefault(outer.group, []).append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows:
                    outer.batches.append(p.durationMs.get("triggerExecution", 0) / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated.set()

        spark.streams.addListener(_Listener())

    def wait_terminated(self, timeout: float = 30.0) -> None:
        # progress events are delivered before the termination event
        if not self.terminated.wait(timeout):
            raise RuntimeError("no query-terminated event from the stream")
