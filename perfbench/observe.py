"""What the benchmark observes from outside the program: spans around the
calls into each layer, Spark's own job/stage counters, process memory and
the host/config record."""

from __future__ import annotations

import json
import os
import platform
import statistics
import time
from contextlib import contextmanager


class Spans:
    """In-memory spans (name, start, end, parent, operation id)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + 1000.0 * own
        return out

    def write(self, path: str, host: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"host": host, "self_ms": self.self_ms(), "spans": self.spans}, f)


# Stage metrics read from Spark's status store. Times in the store are ms,
# except CPU time, which is ns.
_STAGE_FIELDS = (
    ("executor_run_ms", "executorRunTime", 1.0),
    ("executor_cpu_ms", "executorCpuTime", 1e-6),
    ("gc_ms", "jvmGcTime", 1.0),
    ("input_bytes", "inputBytes", 1.0),
    ("shuffle_read_bytes", "shuffleReadBytes", 1.0),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1.0),
)


class SparkCounters:
    """Job groups per operation and layer; counts from ``statusTracker`` and
    stage metrics from the status store, which Spark keeps with the UI off."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._store = self._jsc.statusStore()

    def enter(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def leave(self) -> None:
        self.sc._jsc.clearJobGroup()

    def read(self, group: str) -> dict[str, float]:
        """Totals over every job the group started (waits for the listener)."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "job_ms": 0.0}
        out.update({name: 0.0 for name, _, _ in _STAGE_FIELDS})
        first = last = None
        for jid in self._tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = self._store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                t0 = job.submissionTime().get().getTime()
                t1 = job.completionTime().get().getTime()
                first = t0 if first is None else min(first, t0)
                last = t1 if last is None else max(last, t1)
            for sid in self._tracker.getJobInfo(jid).stageIds:
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                for name, getter, scale in _STAGE_FIELDS:
                    out[name] += getattr(stage, getter)() * scale
        if first is not None:
            out["job_ms"] = float(last - first)
        return out


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                kids.append(int(entry))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Sum of per-process peak RSS over the driver, the JVM and every Python
    worker under the JVM. Sampled between operations, so a worker that starts
    and exits inside one operation is missed."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        todo, tree = [self.jvm_pid], [os.getpid()]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(_children(pid))
        for pid in tree:
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _hwm_kb(pid))

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def python_mb(self) -> float:
        """The Python processes alone: the driver and the workers."""
        return (sum(self.peak_kb.values()) - self.peak_kb.get(self.jvm_pid, 0)) / 1024.0


def host_record(spark) -> dict:
    import pyspark

    conf = spark.conf
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", "1g"),
        "jvm_max_heap_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) >> 20,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "aqe_coalesce_partitions": conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled"),
    }


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0
