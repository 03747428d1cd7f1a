"""Reader for Spark's JSON event log, as written with
``spark.eventLog.enabled=true`` (one JSON object per line, zstd-compressed
by Spark 4's default codec; plain files are read too).

The reader keeps only what the per-layer trace needs:

- jobs, with their job group, SQL execution id and the call site PySpark
  records for DataFrame actions (``"toPandas at .../tree.py:1207"``). The
  call site is split into the action verb and the source file name; line
  numbers are dropped so the classification survives edits to the engine.
  Jobs of calls PySpark does not record, such as an eager
  ``localCheckpoint`` run while a DataFrame is still being built or a
  ``DataFrameWriter.save``, carry no call site; their verb comes from the
  JVM's description of the SQL execution
  (``"localCheckpoint at NativeMethodAccessorImpl.java:0"``).
- per stage, the sums of its tasks' metrics (run, CPU, GC, scheduler
  delay, shuffle, spill, input).
- SQL execution start and end times, which bound each action.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa

_CALL_SITE = re.compile(r"^(\w+) at (.+?):\d+$")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    scheduler_delay_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    completed: bool = False


@dataclass
class Job:
    job_id: int
    submit_ms: int
    group: str | None
    call_site: str | None
    execution_id: int | None
    stage_ids: list[int]
    description: str = ""  # the JVM's name for the SQL execution
    end_ms: int | None = None
    succeeded: bool = False
    stages: list[int] = field(default_factory=list)  # stages this job ran

    @property
    def verb(self) -> str:
        m = _CALL_SITE.match(self.call_site or self.description)
        return m.group(1) if m else ""

    @property
    def source(self) -> str:
        """Base name of the Python file whose line invoked the action;
        empty for jobs without a call site."""
        m = _CALL_SITE.match(self.call_site or "")
        return Path(m.group(2)).name if m else ""


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)
    # SQL execution id -> [start ms, end ms]
    executions: dict[int, list[int]] = field(default_factory=dict)
    descriptions: dict[int, str] = field(default_factory=dict)


def read_lines(path: Path) -> list[str]:
    """Lines of one event-log file, or of every ``events_*`` file in a
    Spark 4 ``eventlog_v2_*`` directory, in order."""
    path = Path(path)
    if path.is_dir():
        files = sorted(
            path.glob("events_*"),
            key=lambda p: int(p.name.split("_")[1]),
        )
    else:
        files = [path]
    lines: list[str] = []
    for f in files:
        codec = "zstd" if f.suffix == ".zstd" else None
        with pa.input_stream(str(f), compression=codec) as s:
            lines += s.read().decode("utf-8").splitlines()
    return lines


def _int(v) -> int | None:
    return None if v is None else int(v)


def parse(lines: list[str]) -> EventLog:
    """The events of one session's log."""
    log = EventLog()
    for line in lines:
        if not line:
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            execution = _int(
                props.get("spark.sql.execution.root.id")
                or props.get("spark.sql.execution.id")
            )
            log.jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"],
                submit_ms=e["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                call_site=props.get("callSite.short"),
                execution_id=execution,
                stage_ids=list(e["Stage IDs"]),
                description=log.descriptions.get(execution, ""),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs[e["Job ID"]]
            job.end_ms = e["Completion Time"]
            job.succeeded = e["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            # the stage runs for the newest job that lists it
            owner = max(
                (j for j in log.jobs.values() if sid in j.stage_ids),
                key=lambda j: j.job_id,
                default=None,
            )
            if owner is not None and sid not in owner.stages:
                owner.stages.append(sid)
            log.stages.setdefault(sid, StageStats())
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            log.stages.setdefault(sid, StageStats()).completed = True
        elif kind == "SparkListenerTaskEnd":
            _add_task(log.stages.setdefault(e["Stage ID"], StageStats()), e)
        elif kind == _SQL_START:
            log.executions[e["executionId"]] = [e["time"], e["time"]]
            log.descriptions[e["executionId"]] = e.get("description") or ""
        elif kind == _SQL_END and e["executionId"] in log.executions:
            log.executions[e["executionId"]][1] = e["time"]
    return log


def _add_task(st: StageStats, e: dict) -> None:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    st.tasks += 1
    if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
        st.failed_tasks += 1
    run = m.get("Executor Run Time", 0)
    st.run_ms += run
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    got = info.get("Getting Result Time", 0)
    getting = info["Finish Time"] - got if got > 0 else 0
    st.scheduler_delay_ms += max(
        0,
        duration
        - run
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - getting,
    )
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    st.input_bytes += inp.get("Bytes Read", 0)
    st.input_records += inp.get("Records Read", 0)


def union_ms(intervals) -> int:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def assign_jobs(
    log: EventLog, group: str, window_ms: tuple[float, float]
) -> list[Job]:
    """The jobs of one call: those carrying the call's job group, and
    those without a group (submitted from a thread the engine starts,
    which does not inherit the group) whose submission time lies in the
    call's wall-clock window, in epoch milliseconds."""
    t0, t1 = window_ms
    return [
        job for job in sorted(log.jobs.values(), key=lambda j: j.job_id)
        if job.group == group
        or (job.group is None and t0 <= job.submit_ms <= t1)
    ]


def job_interval(job: Job) -> tuple[int, int]:
    return job.submit_ms, job.end_ms if job.end_ms is not None else job.submit_ms


def stage_totals(log: EventLog, jobs: list[Job]) -> StageStats:
    """Sum of the task metrics of every stage the jobs ran; ``tasks``
    counts task attempts and ``completed`` is unused."""
    total = StageStats()
    for job in jobs:
        for sid in job.stages:
            st = log.stages.get(sid)
            if st is None:
                continue
            for name in (
                "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
                "scheduler_delay_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "input_records",
            ):
                setattr(total, name, getattr(total, name) + getattr(st, name))
    return total


def stage_count(log: EventLog, jobs: list[Job]) -> int:
    return sum(
        1 for j in jobs for sid in j.stages
        if sid in log.stages and log.stages[sid].completed
    )
