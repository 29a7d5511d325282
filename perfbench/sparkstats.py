"""Reads of the engine's own counters, made outside the timed region.

- stage metrics (executor CPU, run time, GC, shuffle, spill, tasks)
  from the live ``AppStatusStore``, which is kept with the UI off;
- job ids from the status tracker;
- Catalyst phase times and plan size from a DataFrame's
  ``QueryExecution``;
- Python-boundary bytes from the SQL metrics of the executed plan;
- JVM heap peak, GC and JIT time, and resident set sizes.
"""
from __future__ import annotations

import os
import resource

MB = 1024 * 1024


def job_ids(sc) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _stage_list(sc):
    jvm = sc._jvm
    gw = sc._gateway
    return sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())


def max_stage_id(sc) -> int:
    stages = _stage_list(sc)
    return max((stages.apply(i).stageId() for i in range(stages.size())),
               default=-1)


def stage_totals(sc, after_stage: int) -> dict[str, float]:
    """Sums over every stage attempt with id > ``after_stage``."""
    tot = dict.fromkeys(("exec.tasks", "task.cpu_s", "task.run_s",
                         "task.gc_s", "shuffle.read_mb", "shuffle.write_mb",
                         "spill.mb"), 0)
    stages = _stage_list(sc)
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() <= after_stage:
            continue
        tot["exec.tasks"] += st.numCompleteTasks()
        tot["task.cpu_s"] += st.executorCpuTime() / 1e9
        tot["task.run_s"] += st.executorRunTime() / 1e3
        tot["task.gc_s"] += st.jvmGcTime() / 1e3
        tot["shuffle.read_mb"] += st.shuffleReadBytes() / MB
        tot["shuffle.write_mb"] += st.shuffleWriteBytes() / MB
        tot["spill.mb"] += (st.memoryBytesSpilled()
                            + st.diskBytesSpilled()) / MB
    return tot


def catalyst_phases(jdf, execute: bool) -> dict[str, float]:
    """Analysis/optimization/planning ms and optimized-plan KiB of one
    DataFrame. ``execute`` first forces the physical plan, for frames
    that were written through a writer (whose command plan is a
    different QueryExecution)."""
    qe = jdf.queryExecution()
    if execute:
        qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        opt = phases.get(key)
        out[key + "_ms"] = (opt.get().durationMs() if opt.isDefined()
                            else 0.0)
    out["plan_kb"] = len(qe.optimizedPlan().toString()) / 1024
    return out


def python_bytes(jdf) -> tuple[int, int]:
    """(bytes sent to, bytes returned from) Python workers, summed over
    the executed plan's Python evaluation nodes."""
    sent = recv = 0
    todo = [jdf.queryExecution().executedPlan()]
    seen = 0
    while todo and seen < 5000:
        node = todo.pop()
        seen += 1
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage") or name == "ReusedExchange":
            todo.append(node.plan() if name.endswith("QueryStage")
                        else node.child())
            continue
        metrics = node.metrics()
        for key, acc in (("pythonDataSent", 0), ("pythonDataReceived", 1)):
            m = metrics.get(key)
            if m.isDefined():
                if acc == 0:
                    sent += m.get().value()
                else:
                    recv += m.get().value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        subs = node.subqueries()
        todo.extend(subs.apply(i) for i in range(subs.size()))
    return sent, recv


def jvm_heap_peak_mb(sc) -> float:
    mf = sc._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    heap = sc._jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in pools
               if p.getType() == heap) / MB


def jvm_gc_jit_s(sc) -> tuple[float, float]:
    """Spark JVM seconds so far in garbage collection and in JIT
    compilation (every thread, executors included in local mode)."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


def jvm_pid(sc) -> int:
    return sc._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pid: int) -> float:
    """Peak RSS of the Spark JVM plus this process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        hwm = next(int(line.split()[1]) for line in f
                   if line.startswith("VmHWM:"))
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm + own) / 1024


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of process ``pid`` so far."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def load1() -> float:
    return os.getloadavg()[0]
