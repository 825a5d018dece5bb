"""Observers the benchmark reads from outside the program: ``/proc``, the
JVM's management beans and Spark's codegen counters through py4j, Spark's
REST status API, a ``StreamingQueryListener``, and an in-memory span list.
Nothing here reaches into the package under test."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


# --------------------------------------------------------------- /proc


@dataclass(frozen=True)
class ProcStat:
    pid: int
    comm: str
    ppid: int
    utime: int      # clock ticks
    stime: int
    cutime: int     # reaped, waited-for children
    cstime: int
    starttime: int  # clock ticks after boot


def read_stat(pid: int, proc: str = "/proc") -> ProcStat | None:
    """Parse ``/proc/<pid>/stat``; None when the process is gone."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):  # the process exited
        return None
    # comm is parenthesised and may itself hold spaces or parentheses
    head, _, rest = raw.rpartition(")")
    comm = head.split("(", 1)[1]
    f = rest.split()
    return ProcStat(pid, comm, int(f[1]), int(f[11]), int(f[12]),
                    int(f[13]), int(f[14]), int(f[19]))


def process_tree(root: int, proc: str = "/proc") -> list[ProcStat]:
    """``root`` and every live descendant."""
    stats = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                stats[st.pid] = st
    children: dict[int, list[int]] = {}
    for st in stats.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
            todo.extend(children.get(pid, ()))
    return out


def _cmdline(pid: int, proc: str) -> str:
    try:
        with open(f"{proc}/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):  # the process exited
        return ""


def tree_cpu(root: int, proc: str = "/proc") -> dict[str, float]:
    """CPU seconds of the whole tree under ``root``, split by process kind.

    ``jvm`` is the JVM's own threads. ``python`` is the root (this
    harness) and the PySpark daemon with every worker it forks, live or
    reaped. ``helpers`` is every other process the JVM or the root start
    (``chmod``, ``readlink``, the launcher, Python workers started without
    the daemon), counted while live and, once reaped, through their
    parent's ``cutime``/``cstime``. A child so moves from live to reaped
    within one kind, and the total stays whole."""
    tree = process_tree(root, proc)
    by_pid = {st.pid: st for st in tree}
    kinds: dict[int, str] = {}

    def kind(st: ProcStat) -> str:
        if st.pid not in kinds:
            parent = by_pid.get(st.ppid)
            if st.comm == "java":
                kinds[st.pid] = "jvm"
            elif st.pid == root:
                kinds[st.pid] = "root"
            elif parent is not None and kind(parent) == "daemon":
                kinds[st.pid] = "daemon"
            elif st.comm.startswith("python") and "pyspark.daemon" in _cmdline(st.pid, proc):
                kinds[st.pid] = "daemon"
            else:
                kinds[st.pid] = "helpers"
        return kinds[st.pid]

    out = {"jvm": 0.0, "python": 0.0, "helpers": 0.0}
    for st in tree:
        k = kind(st)
        own = {"jvm": "jvm", "root": "python", "daemon": "python"}.get(k, "helpers")
        out[own] += (st.utime + st.stime) / CLK_TCK
        reaped = "python" if k == "daemon" else "helpers"
        out[reaped] += (st.cutime + st.cstime) / CLK_TCK
    out["total"] = out["jvm"] + out["python"] + out["helpers"]
    return out


def tree_peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``), in MiB."""
    total_kb = 0
    for st in process_tree(root, proc):
        try:
            with open(f"{proc}/{st.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):  # the process exited
            continue
    return total_kb / 1024.0


def host_counters(proc: str = "/proc") -> dict[str, float]:
    """Machine-wide fork count and steal seconds from ``/proc/stat``."""
    forks, steal = 0, 0.0
    with open(f"{proc}/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                steal = int(line.split()[8]) / CLK_TCK
            elif line.startswith("processes "):
                forks = int(line.split()[1])
    return {"forks": forks, "steal_s": steal}


def process_start_epoch(pid: int, proc: str = "/proc") -> float:
    """Wall-clock time (epoch seconds) at which ``pid`` started."""
    with open(f"{proc}/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime "))
    return btime + read_stat(pid, proc).starttime / CLK_TCK


def dir_usage(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``; (0, 0) when absent."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ---------------------------------------------------------------- JVM


def jvm_counters(spark) -> dict[str, float]:
    """JIT, GC, class-loading and heap figures from the JVM's management
    beans, and Janino compile counts from Spark's ``CodegenMetrics``.

    ``codegen_compile_s`` is count times the histogram's sampled mean, so
    a delta of it is an estimate; ``codegen_compiles`` is exact."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    return {
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "gc_s": gc_ms / 1000.0,
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "heap_used_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB,
        "codegen_compiles": n,
        "codegen_compile_s": n * hist.getSnapshot().getMean() / 1000.0,
    }


# ------------------------------------------------------ Spark REST API


class StageReader:
    """Per-op stage metrics from Spark's REST status API, scoped by job
    group. Needs the Spark UI on (``spark.ui.enabled=true``)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def op_metrics(self, groups: set[str], timeout: float = 30.0) -> dict[str, float]:
        """Sum the completed stages of every job whose group is in
        ``groups``, once none of those jobs is still running (the status
        store fills asynchronously)."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = {"stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0}
        for st in self._get("/stages?status=complete"):
            if st["stageId"] not in stage_ids:
                continue
            out["stages"] += 1
            out["tasks"] += st["numCompleteTasks"]
            out["executor_run_s"] += st["executorRunTime"] / 1000.0
            out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            out["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
            out["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
        return out


# ------------------------------------------------- streaming listener

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution")


def _epoch(iso: str) -> float:
    """Spark's progress timestamps (``2026-10-17T07:40:01.123Z``) as epoch s."""
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class RunRecord:
    """Everything the listener saw for one run (one ``runId``) of a query."""

    run_id: str
    query_id: str
    started: float                      # epoch s, from the event
    seq: int                            # arrival order, for attribution
    progress: list[dict] = field(default_factory=list)
    terminated: threading.Event = field(default_factory=threading.Event)


class ProgressCollector:
    """Collects streaming events by run id. Events arrive on py4j callback
    threads, so all state sits behind one lock.

    A run is attributed to the op during which its start event arrived:
    ``mark()`` before the op, ``runs_since(mark)`` after it. Runs are keyed
    by ``runId``, not the query id, because a query restarted on the same
    checkpoint keeps its id across runs."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._runs: dict[str, RunRecord] = {}
        self._seq = 0

    def _run(self, run_id: str) -> RunRecord | None:
        with self._lock:
            return self._runs.get(run_id)

    def on_started(self, query_id: str, run_id: str, timestamp: str) -> None:
        with self._lock:
            self._seq += 1
            self._runs[run_id] = RunRecord(run_id, query_id, _epoch(timestamp), self._seq)

    def on_progress(self, run_id: str, progress: dict) -> None:
        rec = self._run(run_id)
        if rec is not None:
            with self._lock:
                rec.progress.append(progress)

    def on_terminated(self, run_id: str) -> None:
        rec = self._run(run_id)
        if rec is not None:
            rec.terminated.set()

    def mark(self) -> int:
        with self._lock:
            return self._seq

    def runs_since(self, mark: int, timeout: float = 30.0) -> list[RunRecord]:
        """Runs started after ``mark``, once each has terminated."""
        with self._lock:
            runs = sorted((r for r in self._runs.values() if r.seq > mark),
                          key=lambda r: r.seq)
        for r in runs:
            if not r.terminated.wait(timeout):
                raise TimeoutError(f"no termination event for run {r.run_id}")
        return runs

    def listener(self):
        """A ``StreamingQueryListener`` that feeds this collector."""
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                collector.on_started(str(event.id), str(event.runId), event.timestamp)

            def onQueryProgress(self, event):
                p = event.progress
                collector.on_progress(str(p.runId), {
                    "timestamp": p.timestamp,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                collector.on_terminated(str(event.runId))

        return _Listener()


def streaming_phases(runs: list[RunRecord], call_start: float, call_end: float) -> dict[str, float]:
    """Split one ``run_ingest`` call's wall time by the listener's events.

    ``start_s`` runs from the call to the query's start event,
    ``pre_trigger_s`` from there to the first trigger, the progress phases
    follow, and ``other_s`` is what none of them covers (termination,
    the return to the caller, gaps between triggers)."""
    out = {f"{p}_s": 0.0 for p in PHASES}
    out.update(batches=0, rows=0)
    for r in runs:
        for p in r.progress:
            out["batches"] += 1
            out["rows"] += p["numInputRows"]
            for ph in PHASES:
                out[f"{ph}_s"] += p["durationMs"].get(ph, 0) / 1000.0
    out["trigger_s"] = out.pop("triggerExecution_s")
    out["run_s"] = call_end - call_start
    if runs:
        first = runs[0]
        out["start_s"] = first.started - call_start
        out["pre_trigger_s"] = (_epoch(first.progress[0]["timestamp"]) - first.started
                                if first.progress else 0.0)
    else:
        out["start_s"] = out["pre_trigger_s"] = 0.0
    out["other_s"] = out["run_s"] - out["start_s"] - out["pre_trigger_s"] - out["trigger_s"]
    return out


# --------------------------------------------------------------- spans


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and written
    out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float | None,
            op_id: int | None = None) -> dict:
        """Record a span under the innermost open one (epoch seconds)."""
        rec = {"name": name, "op": op_id, "start": start, "end": end,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        rec = self.add(name, time.time(), None, op_id)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
