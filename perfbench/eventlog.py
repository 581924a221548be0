"""Per-job-group numbers from a Spark event log.

The traced run tags every public call it makes with its own job group
(``SparkContext.setJobGroup``), so each call's jobs can be found again in
the event log. For each group this returns the jobs it ran, the time its
jobs covered (intervals merged, so concurrent broadcast jobs count once)
and the task metrics summed over its stages.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

MB = 1024.0 * 1024.0


@dataclass
class Group:
    jobs: int = 0
    intervals: list = field(default_factory=list)
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0

    @property
    def in_job_s(self) -> float:
        """Length of the union of this group's job intervals."""
        total, end = 0, None
        for t0, t1 in sorted(self.intervals):
            if end is None or t0 > end:
                total += t1 - t0
                end = t1
            elif t1 > end:
                total += t1 - end
                end = t1
        return total / 1000.0


def _files(path: Path) -> list[Path]:
    """A v1 log is one file; a v2 (rolling) log is a directory of
    ``events_<n>_*`` parts, read in ``n`` order."""
    if path.is_file():
        return [path]
    parts = [p for p in path.iterdir() if p.name.startswith("events_")]
    return sorted(parts, key=lambda p: int(re.match(r"events_(\d+)_", p.name).group(1)))


def _events(path: Path):
    """The job and task-end events of the log, in order."""
    for part in _files(path):
        with open(part, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJob' in line or '"SparkListenerTaskEnd"' in line:
                    yield json.loads(line)


def parse(path: Path) -> dict[str, Group]:
    """Group id → Group, for every job that ran under a job group."""
    groups: dict[str, Group] = defaultdict(Group)
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = gid
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
            groups[gid].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].intervals.append((job_start[jid], ev["Completion Time"]))
        else:
            gid = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if gid is None or not m:
                continue
            g = groups[gid]
            g.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return dict(groups)
