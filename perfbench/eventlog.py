"""Reader for Spark's JSON event log (one uncompressed, non-rolling file).

Jobs carry the job group the benchmark set around each traced phase and
the callsite ``trace.install_callsites`` put on them; stages and tasks
hang off their job. ``by_callsite`` groups the jobs of one phase by the
``greenocr_spark/<file>.py:<line>`` that started them.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SITE_RE = re.compile(r"(greenocr_spark/[\w/]+\.py:\d+)")

# The settings that make Spark write the log this reader expects.
EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int

    @property
    def ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Stage:
    id: int
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: list = field(default_factory=list)


@dataclass
class Job:
    id: int
    group: str | None
    callsite: str | None
    callsite_long: str | None
    stage_ids: list
    submit_ms: int
    end_ms: int | None = None

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.submit_ms) / 1000.0

    @property
    def site(self) -> str | None:
        """``greenocr_spark/<file>.py:<line>`` of the call that started the
        job, or None for jobs started outside the program."""
        m = _SITE_RE.search(self.callsite or "") or _SITE_RE.search(self.callsite_long or "")
        return m.group(1) if m else None


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _stage(self, sid: int) -> Stage:
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = Stage(sid)
        return st

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                callsite=props.get("callSite.short"),
                callsite_long=props.get("callSite.long"),
                stage_ids=list(e["Stage IDs"]),
                submit_ms=e["Submission Time"],
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.submit_ms = info.get("Submission Time")
            st.complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            self._stage(e["Stage ID"]).tasks.append(
                Task(
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                )
            )

    def group_jobs(self, group: str) -> list[Job]:
        """Finished jobs started under one job group, in start order."""
        return sorted(
            (j for j in self.jobs.values() if j.group == group and j.end_ms is not None),
            key=lambda j: j.submit_ms,
        )

    def job_stages(self, job: Job) -> list[Stage]:
        """The stages that ran for this job (skipped ones have no tasks)."""
        return [
            self.stages[s]
            for s in job.stage_ids
            if s in self.stages and self.stages[s].submit_ms is not None and self.stages[s].tasks
        ]


def by_callsite(jobs: list[Job]) -> dict[str | None, list[Job]]:
    out: dict[str | None, list[Job]] = defaultdict(list)
    for j in jobs:
        out[j.site].append(j)
    return dict(out)


def union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start_ms, end_ms) intervals."""
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
    return total / 1000.0
