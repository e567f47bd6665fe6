"""Pure-Python reducer over Spark's JSON event log.

The traced run starts Spark with ``spark.eventLog.enabled=true`` and
every tracer span sets its id as the Spark job group, so each stage
carries ``spark.jobGroup.id`` in its properties. :func:`reduce_log`
folds the log into per-stage records; :func:`group_totals` sums them
per job group. Nothing here talks to Spark: the reducer reads a file
that a stopped SparkContext has closed.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    attempt: int = 0
    group: str | None = None
    execution_id: str | None = None
    scopes: set[str] = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0          # sum of task wall (finish - launch)
    run_s: float = 0.0           # executor run time
    cpu_s: float = 0.0           # executor CPU time
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float                 # epoch seconds
    end: float | None = None
    succeeded: bool | None = None


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)

    def stages_of(self, groups: set[str]) -> list[Stage]:
        return [s for s in self.stages.values() if s.group in groups]

    def jobs_of(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]


def _scopes(stage_info: dict) -> set[str]:
    out = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                out.add(json.loads(scope)["name"])
            except (ValueError, KeyError, TypeError):
                pass
    return out


def _stage(log: Log, info: dict) -> Stage:
    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
    st = log.stages.get(key)
    if st is None:
        st = log.stages[key] = Stage(stage_id=key[0], attempt=key[1])
    return st


def reduce_lines(lines) -> Log:
    """Fold event-log JSON lines into jobs and stages."""
    log = Log()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"], group=props.get("spark.jobGroup.id"),
                start=ev["Submission Time"] / 1000.0)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
                job.succeeded = (ev.get("Job Result", {}).get("Result")
                                 == "JobSucceeded")
        elif kind == "SparkListenerStageSubmitted":
            st = _stage(log, ev["Stage Info"])
            props = ev.get("Properties") or {}
            st.group = props.get("spark.jobGroup.id")
            st.execution_id = props.get("spark.sql.execution.id")
            st.scopes |= _scopes(ev["Stage Info"])
        elif kind == "SparkListenerStageCompleted":
            _stage(log, ev["Stage Info"]).scopes |= _scopes(ev["Stage Info"])
        elif kind == "SparkListenerTaskEnd":
            st = _stage(log, {"Stage ID": ev["Stage ID"],
                              "Stage Attempt ID": ev.get("Stage Attempt ID", 0)})
            info = ev.get("Task Info", {})
            st.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
            if info.get("Finish Time") and info.get("Launch Time"):
                st.task_s += (info["Finish Time"] - info["Launch Time"]) / 1000.0
            m = ev.get("Task Metrics") or {}
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += (rd.get("Remote Bytes Read", 0)
                                      + rd.get("Local Bytes Read", 0))
            st.shuffle_read_records += rd.get("Total Records Read", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            st.shuffle_write_records += wr.get("Shuffle Records Written", 0)
            inp = m.get("Input Metrics") or {}
            st.input_bytes += inp.get("Bytes Read", 0)
            st.input_records += inp.get("Records Read", 0)
    return log


def reduce_log(path: str) -> Log:
    with open(path, encoding="utf-8") as f:
        return reduce_lines(f)


TOTAL_KEYS = ("tasks", "failed_tasks", "task_s", "run_s", "cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_read_records",
              "shuffle_write_bytes", "shuffle_write_records", "spill_bytes",
              "input_bytes", "input_records")


def totals(stages) -> dict[str, float]:
    """Sum the task counters of ``stages``; adds a ``stages`` count."""
    stages = list(stages)
    out = {k: sum(getattr(s, k) for s in stages) for k in TOTAL_KEYS}
    out["stages"] = len(stages)
    return out


def group_totals(log: Log, groups: set[str]) -> dict[str, float]:
    """Jobs, stages and task counters attributed to the job groups."""
    out = totals(log.stages_of(groups))
    out["jobs"] = len(log.jobs_of(groups))
    return out


def job_intervals(log: Log, groups: set[str]) -> list[tuple[float, float]]:
    return [(j.start, j.end) for j in log.jobs_of(groups) if j.end is not None]
