"""Spans around the benchmark's calls into the engine, and the counters
harvested for them.

With tracing off, :meth:`Tracer.span` only keeps wall times. With tracing
on, every span also runs its Spark jobs under its own job group, and every
root span (one benchmark op, or one cache sweep) reads process CPU and
Janino compile counters at both ends. After timing stops,
:meth:`Tracer.harvest` maps each span's job group to jobs and stages in
Spark's status store and sums the stages' executor metrics.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

_CLK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0


def proc_cpu_ms(pid: int) -> float:
    """utime + stime of one process, in ms (``/proc/<pid>/stat``)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000.0 / _CLK


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> List[int]:
    """``root`` and all its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def reset_peak_rss(root: int) -> None:
    """Restart the VmHWM high-water mark of ``root`` and its descendants
    from their current RSS (``clear_refs`` value 5)."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_peak_rss_mb(root: int) -> Dict[str, float]:
    """VmHWM of ``root`` (the driver Python), of the JVM it launched and of
    the JVM's Python workers, in MB, plus their sum under ``total``."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                hwm = next(int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:"))
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except (OSError, StopIteration):
            continue
        part = ("driver" if pid == root else
                "jvm" if comm == "java" else "workers")
        out[part] += hwm / 1024.0
    out["total"] = sum(out.values())
    return out


def jvm_heap_peak_mb(spark, reset: bool = False) -> float:
    """Sum over the JVM's heap pools (eden, survivor, old) of each pool's
    peak use since its last reset, in MB. With ``reset``, restart every
    pool's peak from its current use instead and return 0."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            if reset:
                pool.resetPeakUsage()
            else:
                total += pool.getPeakUsage().getUsed()
    return total / _MB


def cpu_ticks() -> List[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_pct(t0: List[int], t1: List[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / max(1, sum(d))


class Tracer:
    """Records spans ``(id, name, op, parent, start, end)``.

    Spans of one benchmark op share its ``op`` id. In traced mode each span
    is also a Spark job group, so jobs are attributed to the innermost span.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: List[dict] = []
        self._local = threading.local()  # each client thread nests its own
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        if enabled:
            jvm = self.sc._jvm
            self._codegen = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                             .METRIC_COMPILATION_TIME())
            self._jvm_pid = self.sc._gateway.proc.pid

    def _codegen_now(self):
        # one py4j call for the whole sample array (element access through
        # py4j is a round trip per value); the reservoir keeps every sample
        # until 1028 compiles, beyond which the sum is a sample sum
        arrays = self.sc._jvm.java.util.Arrays
        text = arrays.toString(self._codegen.getSnapshot().getValues())
        values = text.strip("[]")
        return (self._codegen.getCount(),
                float(sum(int(v) for v in values.split(",")) if values else 0))

    def _counters(self) -> dict:
        n, ms = self._codegen_now()
        return {"jvm_cpu_ms": proc_cpu_ms(self._jvm_pid),
                "driver_cpu_ms": time.process_time() * 1000.0,
                "codegen_compiles": n, "codegen_ms": ms}

    @contextmanager
    def span(self, name: str, op: Optional[int] = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"id": len(self.spans), "name": name,
               "op": op if op is not None else (parent or {}).get("op"),
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        stack.append(rec)
        if self.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(f"pb{rec['id']}", name, False)
            if parent is None:  # process counters are read per root span
                rec["c0"] = self._counters()
            self.self_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.enabled:
                t = time.perf_counter()
                if parent is None:
                    rec["c1"] = self._counters()
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"pb{parent['id']}", parent["name"],
                                        False)
                self.self_s += time.perf_counter() - t

    @staticmethod
    def wall_ms(rec: dict) -> float:
        return (rec["end"] - rec["start"]) * 1000.0

    def harvest(self) -> None:
        """Attach Spark job/stage totals and counter deltas to every span.

        Call once, after timing stops: it waits for the listener bus so the
        status store holds every finished stage.
        """
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            m = {"jobs": 0, "stages": 0, "tasks": 0, "exec_run_ms": 0.0,
                 "exec_cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_write_mb": 0.0,
                 "shuffle_read_mb": 0.0, "spill_mb": 0.0}
            for job in tracker.getJobIdsForGroup(f"pb{rec['id']}"):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                m["jobs"] += 1
                for sid in list(info.stageIds):
                    attempts = store.stageData(int(sid), False,
                                               gw.jvm.java.util.ArrayList(),
                                               False, no_quantiles)
                    ran = False
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        if sd.numCompleteTasks() == 0:
                            continue
                        ran = True
                        m["tasks"] += sd.numCompleteTasks()
                        m["exec_run_ms"] += sd.executorRunTime()
                        m["exec_cpu_ms"] += sd.executorCpuTime() / 1e6
                        m["gc_ms"] += sd.jvmGcTime()
                        m["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                        m["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
                        m["spill_mb"] += (sd.memoryBytesSpilled()
                                          + sd.diskBytesSpilled()) / _MB
                    m["stages"] += ran
            if "c0" in rec:
                c0, c1 = rec.pop("c0"), rec.pop("c1")
                for k in c0:
                    m[k] = c1[k] - c0[k]
            rec["spark"] = m

    def subtree(self, rec: dict) -> List[dict]:
        """``rec`` and every span nested under it."""
        ids = {rec["id"]}
        out = [rec]
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def totals(self, rec: dict) -> dict:
        """Spark totals of a span including its children (jobs land on the
        innermost span); process counters are already inclusive."""
        tree = self.subtree(rec)
        out = dict(rec["spark"])
        for k in ("jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ms",
                  "gc_ms", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            out[k] = sum(s["spark"][k] for s in tree)
        return out
