"""Reader for Spark's JSON-lines event log (``spark.eventLog.enabled``).

Only the fields the per-layer metrics need are kept: jobs with their
submission and completion times and stages, and per-stage task sums.
Times are epoch seconds so they compare with the benchmark's spans.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

TASK_FIELDS = ("run_s", "cpu_s", "deser_s", "gc_s", "shuffle_write_b",
               "shuffle_read_b", "spill_b", "input_rows")


@dataclass
class Job:
    job_id: int
    submit: float
    end: float = float("nan")
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageSums:
    tasks: int = 0
    tasks_failed: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    deser_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_rows: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageSums] = field(default_factory=dict)
    # stage id -> the first job that lists it
    owner: dict[int, int] = field(default_factory=dict)

    def job_sums(self, job: Job) -> StageSums:
        """Task sums over the stages that ran for ``job``; a stage shared
        with an earlier job (a reused shuffle) counts for the first."""
        out = StageSums()
        for sid in job.stage_ids:
            st = self.stages.get(sid)
            if st is None or self.owner.get(sid) != job.job_id:
                continue
            out.tasks += st.tasks
            out.tasks_failed += st.tasks_failed
            for f in TASK_FIELDS:
                setattr(out, f, getattr(out, f) + getattr(st, f))
        return out

    def stages_run(self, job: Job) -> int:
        return sum(1 for sid in job.stage_ids
                   if sid in self.stages and self.owner.get(sid) == job.job_id)


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageSums())
            st.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                st.tasks_failed += 1
            m = ev.get("Task Metrics") or {}
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.deser_s += m.get("Executor Deserialize Time", 0) / 1e3
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
            st.spill_b += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
            st.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            log.owner.setdefault(sid, job.job_id)
    return log


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)
