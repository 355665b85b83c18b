"""Per-stage counters from a Spark event log (one JSON event per line).

Only the events the benchmark uses are read: `SparkListenerStageCompleted`
for a stage's submission and completion times, and `SparkListenerTaskEnd`
for each task's duration, shuffle bytes, spill and input records. Times
in the log are epoch milliseconds; `Stage` holds them as epoch seconds,
the clock the benchmark's spans use.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    attempt: int
    submitted: float = 0.0
    completed: float = 0.0
    task_s: list[float] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0

    @property
    def dur(self) -> float:
        return self.completed - self.submitted


def read_stages(path: str) -> list[Stage]:
    """Stages of one event log file, in stage-id order. Stages that
    never completed (no completion time) are dropped."""
    stages: dict[tuple[int, int], Stage] = {}

    def get(sid: int, att: int) -> Stage:
        return stages.setdefault((sid, att), Stage(sid, att))

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                st = get(ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                if info.get("Finish Time") and info.get("Launch Time"):
                    st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                st.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
            elif '"SparkListenerStageCompleted"' in line:
                info = json.loads(line)["Stage Info"]
                st = get(info["Stage ID"], info.get("Stage Attempt ID", 0))
                st.submitted = info.get("Submission Time", 0) / 1000.0
                st.completed = info.get("Completion Time", 0) / 1000.0
    return sorted(
        (s for s in stages.values() if s.completed),
        key=lambda s: (s.stage_id, s.attempt),
    )


def find_log(log_dir: str) -> str | None:
    """The single finished application log in `log_dir`, if any."""
    if not os.path.isdir(log_dir):
        return None
    logs = [
        os.path.join(log_dir, f)
        for f in sorted(os.listdir(log_dir))
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    return logs[-1] if logs else None


def within(stages: list[Stage], start: float, end: float, slack: float = 0.05) -> list[Stage]:
    """Stages submitted and completed inside [start, end] (seconds)."""
    return [
        s for s in stages if s.submitted >= start - slack and s.completed <= end + slack
    ]
