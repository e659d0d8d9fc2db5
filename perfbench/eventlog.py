"""Fold a Spark event log into per-job-group totals.

The log must be written uncompressed and non-rolling
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
so that it is one JSON object per line. Only the standard listener events
are read. CPU time comes from the task metrics, which charge it to the job
group whose tasks used it; a process-level CPU reading cannot split it
between layers.
"""

from __future__ import annotations

import json
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
MB = 1024 * 1024
# the only events read; the rest (notably the bulky SQL-plan events) are
# skipped without being parsed
_READ = tuple(
    '{"Event":"SparkListener%s"' % kind
    for kind in ("JobStart", "StageSubmitted", "StageCompleted", "TaskEnd")
)
FIELDS = ("jobs", "tasks", "serial_stages", "run_s", "cpu_s", "offjvm_s", "shuffle_mb")


def _empty() -> dict:
    return {f: 0 for f in FIELDS}


def fold(lines) -> dict[str, dict]:
    """Totals per job group from the event-log ``lines``.

    For each group: ``jobs`` started, ``tasks`` ended, ``serial_stages``
    (completed stages that ran as one task), ``run_s`` (summed executor run
    time), ``cpu_s`` (summed executor JVM CPU time), ``offjvm_s``
    (``run_s - cpu_s``: time a task spent outside the JVM thread, mostly
    in Python workers) and ``shuffle_mb`` (shuffle bytes written). Jobs
    with no group are folded under ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_empty)
    run_ms: dict[str, float] = defaultdict(float)
    cpu_ns: dict[str, float] = defaultdict(float)
    shuffle_b: dict[str, float] = defaultdict(float)
    for line in lines:
        if not line.startswith(_READ):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"], "")
            if info.get("Number of Tasks") == 1 and "Failure Reason" not in info:
                out[group]["serial_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            out[group]["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            run_ms[group] += m.get("Executor Run Time", 0)
            cpu_ns[group] += m.get("Executor CPU Time", 0)
            shuffle_b[group] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    for group, tot in out.items():
        tot["run_s"] = run_ms[group] / 1e3
        tot["cpu_s"] = cpu_ns[group] / 1e9
        tot["offjvm_s"] = tot["run_s"] - tot["cpu_s"]
        tot["shuffle_mb"] = shuffle_b[group] / MB
    return dict(out)


def fold_file(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as fh:
        return fold(fh)
