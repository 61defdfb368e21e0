"""The tail-percentile rule and Spark event-log totals for the benchmark."""

from __future__ import annotations

import json
import os

MIN_BEYOND = 10


def tail(samples: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """The highest percentile that leaves at least ``min_beyond`` samples
    beyond it, as (percentile, value). Nearest rank on the sorted samples:
    the value at index ``n - min_beyond - 1`` has exactly ``min_beyond``
    samples after it. Raises when there are too few samples for one."""
    n = len(samples)
    if n <= min_beyond:
        raise ValueError(f"{n} samples leave none with {min_beyond} beyond it")
    rank = n - min_beyond
    return 100.0 * rank / n, sorted(samples)[rank - 1]


TASK_FIELDS = ("tasks", "task_failures", "run_s", "cpu_s", "gc_s", "shuffle_write_mib",
               "shuffle_read_mib", "spill_mib")


def read_event_log(log_dir: str) -> tuple[dict[int, str | None], dict[int, set[int]], dict[int, dict]]:
    """Parse every event log under ``log_dir``.

    Returns (job -> job group, job -> stages that ran tasks for it,
    job -> task totals). A stage listed by several jobs is charged to the
    first, which is the one that ran it; later jobs skip it."""
    group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, set[int]] = {}
    totals: dict[int, dict] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    stages.setdefault(job, set()).add(ev["Stage ID"])
                    t = totals.setdefault(job, dict.fromkeys(TASK_FIELDS, 0.0))
                    _add_task(t, ev)
    return group, stages, totals


def _add_task(t: dict, ev: dict) -> None:
    t["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        t["task_failures"] += 1
    m = ev.get("Task Metrics") or {}
    t["run_s"] += m.get("Executor Run Time", 0) / 1e3
    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    t["spill_mib"] += m.get("Disk Bytes Spilled", 0) / 2**20
    sw = m.get("Shuffle Write Metrics") or {}
    t["shuffle_write_mib"] += sw.get("Shuffle Bytes Written", 0) / 2**20
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_mib"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
