"""Pure-Python reader for Spark's plain-JSON event log.

Works on a live run's log (read after the SparkContext stops) or on any
saved log written with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``:

    python3 perfbench/eventlog.py <event log file> [start_ms end_ms]

Jobs are attributed to their ``spark.jobGroup.id``; tasks and stages to
the group of the job that submitted their stage.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

TASK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


def _zero() -> dict:
    return dict.fromkeys(TASK_FIELDS, 0)


class EventLog:
    """Jobs (id -> group, submit ms, end ms) and per-group task sums."""

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        stage_group: dict[int, str | None] = {}
        self.groups: dict[str | None, dict] = defaultdict(_zero)
        for line in lines:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                self.jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"], "end": None}
                self.groups[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                self.groups[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                g = self.groups[stage_group.get(ev["Stage ID"])]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                g["tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def totals(self, groups=None) -> dict:
        """Sums over the given groups (all groups when None)."""
        out = _zero()
        for name, g in self.groups.items():
            if groups is None or name in groups:
                for k in TASK_FIELDS:
                    out[k] += g[k]
        return out

    def driver_gap_s(self, start_ms: float, end_ms: float) -> float:
        """Wall time inside [start_ms, end_ms] during which no job ran."""
        spans = sorted(
            (max(j["start"], start_ms), min(j["end"] if j["end"] is not None else end_ms, end_ms))
            for j in self.jobs.values()
        )
        covered, reach = 0.0, start_ms
        for a, b in spans:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        return max(0.0, (end_ms - start_ms) - covered) / 1e3


def main(argv: list[str]) -> int:
    log = EventLog.read(argv[0])
    report = {"groups": {str(k): v for k, v in sorted(log.groups.items(), key=lambda kv: str(kv[0]))}}
    report["total"] = log.totals()
    if len(argv) == 3:
        report["driver_gap_s"] = log.driver_gap_s(float(argv[1]), float(argv[2]))
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
