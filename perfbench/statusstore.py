"""Stage and job metrics read back from Spark's status store.

The store is populated by the listener bus whether or not the UI runs, so
the harvest needs no extra Spark job: it reads what Spark already measured.
Spark 4's ``AppStatusStore`` methods take every Scala default argument
explicitly when called through py4j.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class StageRow:
    stage_id: int
    status: str
    num_tasks: int
    run_ms: int  # executorRunTime, summed over tasks
    cpu_ns: int  # executorCpuTime (JVM threads only)
    shuffle_read: int
    shuffle_write: int
    spill: int  # bytes spilled to disk
    output_records: int


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def drain(spark) -> None:
    """Block until the listener bus has applied every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _opt(o):
    return o.get() if o.isDefined() else None


def stages_after(spark, last_stage_id: int) -> list[StageRow]:
    """Latest attempt of every stage with id > ``last_stage_id``."""
    gw = spark.sparkContext._gateway
    seq = _store(spark).stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    rows: dict[int, StageRow] = {}
    attempts: dict[int, int] = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid <= last_stage_id or attempts.get(sid, -1) >= s.attemptId():
            continue
        attempts[sid] = s.attemptId()
        rows[sid] = StageRow(
            sid, str(s.status()), s.numTasks(), s.executorRunTime(),
            s.executorCpuTime(), s.shuffleReadBytes(), s.shuffleWriteBytes(),
            s.diskBytesSpilled(), s.outputRecords(),
        )
    return sorted(rows.values(), key=lambda r: r.stage_id)


def last_stage_id(spark) -> int:
    gw = spark.sparkContext._gateway
    seq = _store(spark).stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    return max((seq.apply(i).stageId() for i in range(seq.size())), default=-1)


def jobs_after(spark, last_job_id: int) -> list[tuple[int, str | None, list[int]]]:
    """(job id, job group, stage ids) of every job with id > ``last_job_id``."""
    seq = _store(spark).jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() <= last_job_id:
            continue
        ids = j.stageIds()
        out.append((j.jobId(), _opt(j.jobGroup()), [ids.apply(k) for k in range(ids.size())]))
    return sorted(out)


def last_job_id(spark) -> int:
    seq = _store(spark).jobsList(None)
    return max((seq.apply(i).jobId() for i in range(seq.size())), default=-1)


def task_spread(spark, stage_id: int) -> tuple[float, float, float]:
    """(median task run ms, max task run ms, max task peak execution bytes)."""
    gw = spark.sparkContext._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    attempt = _store(spark).lastStageAttempt(stage_id).attemptId()
    d = _opt(_store(spark).taskSummary(stage_id, attempt, q))
    if d is None:
        return 0.0, 0.0, 0.0
    run, peak = d.executorRunTime(), d.peakExecutionMemory()
    return run.apply(0), run.apply(1), peak.apply(1)
