"""Stage and task metrics from a Spark event log, joined to spans.

Every job records the ``perfbench.span`` local property of the thread
that submitted it, so a job — and through it each stage and task — maps
to exactly one span, even while the round's writer threads run jobs
concurrently.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .spans import SPAN_PROPERTY

MB = 1e6


@dataclass
class TaskTotals:
    run_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    input_mb: float = 0.0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    #: job id -> (submission epoch s, span id or None, stage ids)
    jobs: dict[int, tuple[float, str | None, list[int]]] = field(default_factory=dict)
    stage_totals: dict[int, TaskTotals] = field(default_factory=dict)

    def jobs_between(self, t0: float, t1: float) -> list[int]:
        return [j for j, (t, _, _) in self.jobs.items() if t0 <= t <= t1]

    def jobs_of_spans(self, sids: set[str]) -> list[int]:
        return [j for j, (_, sid, _) in self.jobs.items() if sid in sids]

    def totals(self, job_ids) -> tuple[TaskTotals, int]:
        """Summed task metrics over the stages of ``job_ids`` (a stage
        shared by several jobs counts once) and the stage count."""
        stages = {s for j in job_ids for s in self.jobs[j][2] if s in self.stage_totals}
        out = TaskTotals()
        for s in stages:
            out.add(self.stage_totals[s])
        return out, len(stages)


def find_log(events_dir: str) -> str:
    logs = [n for n in os.listdir(events_dir) if not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {logs}")
    return os.path.join(events_dir, logs[0])


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = (
                    ev["Submission Time"] / 1000.0,
                    props.get(SPAN_PROPERTY),
                    [s["Stage ID"] for s in ev["Stage Infos"]],
                )
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                im = tm.get("Input Metrics") or {}
                t = log.stage_totals.setdefault(ev["Stage ID"], TaskTotals())
                t.run_s += tm.get("Executor Run Time", 0) / 1000.0
                t.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                t.spill_mb += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / MB
                t.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
                t.shuffle_read_mb += (
                    sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                ) / MB
                t.input_mb += im.get("Bytes Read", 0) / MB
    return log
