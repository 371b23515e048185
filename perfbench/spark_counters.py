"""Readers for Spark's own counters, called from outside the engine.

They go through py4j to the driver JVM of a local-mode session and need
no UI server.  On Spark 4.1 the status-store lists are Scala ``Seq``s
(index them with ``apply(i)``; ``get(i)`` does not exist) and the
Catalyst phase tracker returns a Scala ``Map``.
"""

from __future__ import annotations

import os

_STAGE_FIELDS = ("numTasks", "numFailedTasks", "executorRunTime",
                 "executorCpuTime", "shuffleWriteBytes", "shuffleReadBytes",
                 "memoryBytesSpilled", "diskBytesSpilled")


def seq_items(seq) -> list:
    """Elements of a Scala ``Seq`` returned through py4j."""
    return [seq.apply(i) for i in range(seq.size())]


def map_items(scala_map) -> dict:
    """A Scala ``Map`` returned through py4j, as a Python dict."""
    return {k: scala_map.apply(k) for k in seq_items(scala_map.keys().toSeq())}


class SparkCounters:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._spark = spark
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._jsc = sc._jsc
        self._ctx = sc._jsc.sc()
        self._dag = self._ctx.dagScheduler()

    def next_ids(self) -> tuple[int, int]:
        """Next job id and next stage id the scheduler will hand out.
        Read synchronously, so a diff brackets exactly the jobs a call
        launched."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the stages and plans of finished jobs."""
        self._ctx.listenerBus().waitUntilEmpty()

    def stages(self, first_id: int) -> dict[int, dict]:
        """Per-stage counters for stage ids >= ``first_id`` (skipped
        stages included, with status ``SKIPPED`` and no tasks)."""
        ArrayList = self._jvm.java.util.ArrayList
        store = self._ctx.statusStore()
        seq = store.stageList(ArrayList(), False, False,
                              self._gateway.new_array(self._jvm.double, 0),
                              ArrayList())
        out = {}
        for s in seq_items(seq):
            sid = s.stageId()
            if sid < first_id:
                continue
            rec = {f: getattr(s, f)() for f in _STAGE_FIELDS}
            rec["status"] = s.status().toString()
            out[sid] = rec
        return out

    def sql_plans(self, job_ids: set[int]) -> list[str]:
        """Final (post-AQE) physical plan text of every SQL execution
        that ran one of ``job_ids``."""
        store = self._spark._jsparkSession.sharedState().statusStore()
        plans = []
        for e in seq_items(store.executionsList()):
            jobs = set(seq_items(e.jobs().keys().toSeq()))
            if jobs & job_ids:
                plans.append(e.physicalPlanDescription())
        return plans

    def storage(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        infos = self._ctx.getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        return self._jsc.getPersistentRDDs().size(), held

    def jvm_pid(self) -> int:
        return self._jvm.ProcessHandle.current().pid()


def phase_seconds(jdf) -> dict[str, float]:
    """Catalyst phase durations (analysis, optimization, planning) of
    one Dataset's QueryExecution."""
    phases = map_items(jdf.queryExecution().tracker().phases())
    return {k: v.durationMs() / 1000.0 for k, v in phases.items()}


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def python_peak_rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def host_cores() -> int:
    return len(os.sched_getaffinity(0))
