"""Fold Spark's JSON event log into per-span counters.

The benchmark tags every span it times with ``setJobGroup(span_id)``.
Spark writes the group id into the properties of each ``JobStart`` and
``StageSubmitted`` event, so every job, stage and task in the log can be
attributed to the span that caused it. The log must be written
uncompressed and not rolled (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``) so that it is one plain JSON
line per event.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class SpanCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_deser_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (launch, finish) epoch milliseconds of every task
    task_intervals: list[tuple[int, int]] = field(default_factory=list)


def fold(log_path: str) -> dict[str, SpanCounters]:
    """Span id -> counters for every job group seen in the log."""
    spans: dict[str, SpanCounters] = {}
    stage_group: dict[int, str] = {}

    def span(group: str | None) -> SpanCounters:
        return spans.setdefault(group or "", SpanCounters())

    with open(log_path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                span(group).jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                span(stage_group.get(ev["Stage Info"]["Stage ID"])).stages += 1
            elif kind == "SparkListenerTaskEnd":
                c = span(stage_group.get(ev["Stage ID"]))
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                c.tasks += 1
                c.task_run_ms += m.get("Executor Run Time", 0)
                c.task_deser_ms += m.get("Executor Deserialize Time", 0)
                c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                c.spill_bytes += m.get("Disk Bytes Spilled", 0)
                if info.get("Launch Time") and info.get("Finish Time"):
                    c.task_intervals.append((info["Launch Time"], info["Finish Time"]))
    return spans


def covered_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] during which at least one interval runs."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
