"""Offline parser for a Spark event log (one JSON event per line).

The benchmark tags every call it makes into a layer with a job group
(``<op>:<layer>``); Structured Streaming tags its own jobs with the
query's run id as the group and the micro-batch id as
``streaming.sql.batchId``. This module turns the log into per-group
totals: jobs, executor task time, shuffle bytes written, task result
bytes sent to the driver, Arrow bytes exchanged with Python workers,
the busy span, and the task-time skew of the group's slowest stage.

Nothing here talks to Spark: the log is read after the session stops.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
BATCH = "streaming.sql.batchId"
PYTHON_ACCUMS = ("data sent to Python workers",
                 "data returned from Python workers")


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    driver_result_bytes: int = 0
    python_bytes: int = 0
    first_submit_ms: int | None = None
    last_complete_ms: int | None = None
    # stage id -> (wall ms, task run times ms)
    stages: dict[int, list] = field(default_factory=dict)

    @property
    def span_s(self) -> float:
        if self.first_submit_ms is None or self.last_complete_ms is None:
            return 0.0
        return (self.last_complete_ms - self.first_submit_ms) / 1000

    @property
    def skew(self) -> float:
        """max/median task run time in the stage with the longest wall
        (1.0 for a group that ran no tasks)."""
        timed = [s for s in self.stages.values() if s[1]]
        if not timed:
            return 1.0
        _, runs = max(timed, key=lambda s: s[0])
        return max(runs) / max(statistics.median(runs), 1)


def _key(props: dict) -> tuple[str | None, str | None]:
    return props.get(GROUP), props.get(BATCH)


def event_log_file(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    names = [n for n in os.listdir(log_dir)
             if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return os.path.join(log_dir, names[0])


def parse(lines) -> dict[tuple[str | None, str | None], GroupStats]:
    """Per (job group, streaming batch id) totals from event-log lines."""
    groups: dict[tuple, GroupStats] = {}
    stage_key: dict[int, tuple] = {}
    stage_wall: dict[int, int] = {}
    job_key: dict[int, tuple] = {}

    def get(key: tuple) -> GroupStats:
        return groups.setdefault(key, GroupStats())

    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            key = _key(e.get("Properties") or {})
            job_key[e["Job ID"]] = key
            g = get(key)
            g.jobs += 1
            t = e["Submission Time"]
            g.first_submit_ms = t if g.first_submit_ms is None else min(
                g.first_submit_ms, t)
        elif kind == "SparkListenerJobEnd":
            key = job_key.get(e["Job ID"])
            if key is not None:
                g = get(key)
                t = e["Completion Time"]
                g.last_complete_ms = max(g.last_complete_ms or t, t)
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            stage_key[sid] = _key(e.get("Properties") or {})
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (info["Completion Time"]
                                               - info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            key = stage_key.get(sid)
            m = e.get("Task Metrics")
            if key is None or not m:
                continue
            g = get(key)
            run_ms = m.get("Executor Run Time", 0)
            g.task_s += run_ms / 1000
            g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g.driver_result_bytes += m.get("Result Size", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Name") in PYTHON_ACCUMS:
                    g.python_bytes += int(acc.get("Update", 0))
            g.stages.setdefault(sid, [0, []])[1].append(run_ms)
    for g in groups.values():
        for sid, s in g.stages.items():
            s[0] = stage_wall.get(sid, 0)
    return groups


def parse_file(path: str) -> dict[tuple[str | None, str | None], GroupStats]:
    with open(path) as f:
        return parse(f)


def by_group(groups: dict, name: str) -> GroupStats:
    """Totals of one job group over every streaming batch id."""
    out = GroupStats()
    for (grp, _), g in groups.items():
        if grp != name:
            continue
        out.jobs += g.jobs
        out.task_s += g.task_s
        out.shuffle_bytes += g.shuffle_bytes
        out.driver_result_bytes += g.driver_result_bytes
        out.python_bytes += g.python_bytes
        out.stages.update(g.stages)
        if g.first_submit_ms is not None:
            out.first_submit_ms = min(out.first_submit_ms or g.first_submit_ms,
                                      g.first_submit_ms)
        if g.last_complete_ms is not None:
            out.last_complete_ms = max(out.last_complete_ms or 0,
                                       g.last_complete_ms)
    return out
