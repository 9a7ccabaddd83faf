"""Measurements taken from outside the engine.

- host state: a fixed CPU anchor and ``/proc/stat`` steal ticks, which
  a reader uses to tell a disturbed run from a regression (never used
  to adjust or gate a metric);
- process CPU: the JVM and the PySpark worker processes, from ``/proc``;
- Spark counters: jobs, stages, tasks and task metrics of a job group,
  from ``statusTracker`` and the status store (filled in with the UI
  off);
- JVM heap and block-manager storage;
- a ``StreamingQueryListener`` that keeps every progress event;
- an in-memory span recorder for the traced run.
"""

from __future__ import annotations

import gc
import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- host


def cpu_anchor_ms(rounds: int = 5) -> float:
    """Median wall time of a fixed sha256 loop: a host-load reading."""
    times = []
    for _ in range(rounds):
        t = time.perf_counter()
        h = hashlib.sha256()
        for i in range(20_000):
            h.update(i.to_bytes(8, "little"))
        h.hexdigest()
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def steal_ticks() -> int:
    """Aggregate steal ticks of all CPUs (8th value of the cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def host_snapshot() -> dict:
    return {"cpu_anchor_ms": round(cpu_anchor_ms(), 3), "steal_ticks": steal_ticks()}


# ---------------------------------------------------------- process CPU


def _proc_table() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (parent pid, command line, own cpu s, reaped children's cpu s)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2 :].split()
        utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
        out[int(name)] = (int(rest[1]), cmd, (utime + stime) / _TICK, (cutime + cstime) / _TICK)
    return out


def child_cpu_s() -> dict[str, float]:
    """CPU seconds of this process's descendants, split into the JVM's
    own threads and the PySpark worker processes (the daemon, its live
    workers and the workers it has reaped)."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    jvm = udf = 0.0
    stack = list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        _, cmd, own, reaped = table[pid]
        if "java" in cmd.split(" ")[0]:
            jvm += own
        elif "pyspark" in cmd:
            udf += own + reaped
        stack.extend(kids.get(pid, []))
    return {"jvm": jvm, "udf": udf}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


# ------------------------------------------------------- Spark counters

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "input_rows",
)
# per-layer metric name of each counter
COUNTER_METRICS = {
    k: ("sources." if k.startswith("input_") else "spark.") + k for k in SPARK_COUNTERS
}


def drain_listener_bus(spark) -> None:
    """Block until the status store has seen every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages and task metrics of every job in ``group``.
    Skipped stages (shuffle output reused) are not counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            try:
                st = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # NoSuchElementException: stage not in the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            out["input_rows"] += st.inputRecords()
    return out


def retained_heap_mb(spark) -> float:
    """JVM heap in use after full collections. Python's collector runs
    first, so JVM objects that only unreachable Python proxies still pin
    are released. Spark's ContextCleaner drops broadcast and shuffle
    blocks asynchronously once a collection has found their owners
    unreachable, so the JVM collects twice with a pause between."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
        jvm.java.lang.System.runFinalization()
        time.sleep(0.5)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def storage_state(spark) -> dict[str, float]:
    jsc = spark.sparkContext._jsc.sc()
    mem = sum(info.memSize() for info in jsc.getRDDStorageInfo())
    return {"persisted_rdds": float(jsc.getPersistentRDDs().size()), "storage_mem_mb": mem / 2**20}


# ------------------------------------------------------------ streaming


class ProgressListener(StreamingQueryListener):
    """Keeps (run id, batch id, durationMs, input rows) per progress event."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "run_id": str(p.runId),
            "batch": p.batchId,
            "duration_ms": dict(p.durationMs),
            "rows": p.numInputRows,
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, run_id: str) -> list[dict]:
        return [p for p in self.progress if p["run_id"] == run_id and p["rows"] > 0]


# ---------------------------------------------------------------- spans


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent); a no-op when off."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer.enabled:
            t = self.tracer
            self.rec = {
                "id": len(t.spans),
                "name": self.name,
                "parent": t._stack[-1] if t._stack else None,
                "start": time.perf_counter(),
                "end": None,
            }
            t.spans.append(self.rec)
            t._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc) -> None:
        if self.tracer.enabled:
            self.rec["end"] = time.perf_counter()
            self.tracer._stack.pop()
