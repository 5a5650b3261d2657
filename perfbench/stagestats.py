"""Spark status-store diffs by stage-id range.

Stage and job ids are handed out sequentially by the DAG scheduler, so the
stages a call submitted are exactly the ids between the scheduler's next id
before and after the call. Every id in that range must still be in the
status store; an evicted (or never recorded) stage raises StageGapError
instead of silently under-counting. Stages that ran concurrently inside one
call (the engine's commit members) are totalled once for that call.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass


class StageGapError(RuntimeError):
    pass


@dataclass(frozen=True)
class IdMark:
    stage: int
    job: int


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0  # max / median task run time of the widest stage


class StatusStore:
    """Thin accessor over the JVM-side scheduler and status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def mark(self) -> IdMark:
        dag = self._sc.dagScheduler()
        return IdMark(int(dag.nextStageId()), int(dag.nextJobId()))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects all stages that have finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def stage(self, stage_id: int):
        """Latest attempt of ``stage_id`` as a plain dict, or None if the
        store does not hold it."""
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._sc.statusStore().lastStageAttempt(stage_id)
        except Py4JJavaError as e:
            if "NoSuchElementException" in e.java_exception.getClass().getName():
                return None
            raise
        return {
            "id": stage_id,
            "attempt": sd.attemptId(),
            "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ns": sd.executorCpuTime(),
            "gc_ms": sd.jvmGcTime(),
            "shuffle_read": sd.shuffleReadBytes(),
            "shuffle_write": sd.shuffleWriteBytes(),
            "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }

    def task_run_ms(self, stage_id: int, attempt: int) -> list[int]:
        tl = self._sc.statusStore().taskList(stage_id, attempt, 1 << 30)
        out = []
        for i in range(tl.length()):
            m = tl.apply(i).taskMetrics()
            if m.isDefined():
                out.append(int(m.get().executorRunTime()))
        return out


def marking_tracer(spark):
    """A Tracer whose top-level spans carry the scheduler's id marks at
    their start and end (``attrs["mark_start"]``/``attrs["mark_end"]``)."""
    from perfbench.trace import Tracer

    store = StatusStore(spark)
    tracer = Tracer()
    tracer.on_root_start = lambda sp: sp.attrs.__setitem__("mark_start", store.mark())
    tracer.on_root_end = lambda sp: sp.attrs.__setitem__("mark_end", store.mark())
    return tracer


def skew(run_ms: list[int]) -> float:
    if not run_ms:
        return 1.0
    med = statistics.median(run_ms)
    return max(run_ms) / med if med > 0 else 1.0


def totals(store, start: IdMark, end: IdMark) -> StageTotals:
    """Aggregate the stages with ids in [start.stage, end.stage). ``store``
    needs ``stage(id)`` and ``task_run_ms(id, attempt)``."""
    t = StageTotals(jobs=end.job - start.job, stages=end.stage - start.stage)
    missing = []
    widest = None
    for sid in range(start.stage, end.stage):
        st = store.stage(sid)
        if st is None:
            missing.append(sid)
            continue
        t.tasks += st["tasks"]
        t.task_run_s += st["run_ms"] / 1e3
        t.task_cpu_s += st["cpu_ns"] / 1e9
        t.gc_s += st["gc_ms"] / 1e3
        t.shuffle_read_bytes += st["shuffle_read"]
        t.shuffle_write_bytes += st["shuffle_write"]
        t.spill_bytes += st["spill"]
        if st["tasks"] and (widest is None or (st["tasks"], st["run_ms"]) > (
                widest["tasks"], widest["run_ms"])):
            widest = st
    if missing:
        raise StageGapError(
            f"{len(missing)} of {t.stages} stages in [{start.stage}, {end.stage}) "
            f"are not in the status store (first: {missing[:5]}); raise "
            "spark.ui.retainedStages/Tasks or read the store sooner"
        )
    if widest is not None:
        t.task_skew = skew(store.task_run_ms(widest["id"], widest["attempt"]))
    return t
