"""Roll Spark's JSON event log up by job group.

Every run gives each op its own job group, and the traced run each layer
call (see ``spans``); the event log is on with
``spark.eventLog.compress=false``. So every job, stage attempt and task can
be attributed to the innermost group that was set when it was submitted.
The event log is complete where the live status tracker is not: the
tracker forgets jobs beyond ``spark.ui.retainedJobs``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

#: the per-layer measures produced here, with their units, in output order
MEASURES = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "tasks_failed": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_s": "s",
}

_GROUP = "spark.jobGroup.id"
#: SQL metric of the Python-running operators (Arrow/pandas UDFs, Python
#: data sources), in milliseconds
_PYTHON_TIME = "time to run Python workers"


def read_lines(event_dir: str):
    """The lines of the one application log in ``event_dir``, a rolling log
    (Spark's default): a directory of numbered ``events_<n>_<app>`` files."""
    (app,) = os.listdir(event_dir)
    files = sorted(
        glob.glob(os.path.join(event_dir, app, "events_*")),
        key=lambda f: int(re.match(r"events_(\d+)_", os.path.basename(f)).group(1)),
    )
    for f in files:
        with open(f) as fh:
            yield from fh


def rollup(lines) -> dict[str, dict[str, float]]:
    """Per job group, the MEASURES summed over the group's own jobs,
    stage attempts and tasks. ``lines`` is an iterable of event-log lines."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(MEASURES, 0))
    stage_group: dict[tuple[int, int], str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP)
            if group is not None:
                out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(_GROUP)
            info = ev["Stage Info"]
            if group is not None:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
                out[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if group is None:
                continue
            m = out[group]
            m["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                m["tasks_failed"] += 1
            tm = ev.get("Task Metrics") or {}
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PYTHON_TIME:
                    m["python_s"] += float(acc.get("Update", 0)) / 1e3
    return dict(out)


def inclusive(spans, by_group: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Per span group, its own MEASURES plus those of every span nested
    inside it, so a layer's counts cover the layers it calls, like its
    wall time does."""
    total = {
        s.group: dict(by_group.get(s.group) or dict.fromkeys(MEASURES, 0))
        for s in spans
    }
    parent = {s.group: s.parent for s in spans}
    for s in spans:
        own = by_group.get(s.group)
        if not own:
            continue
        p = parent[s.group]
        while p is not None:
            for k in MEASURES:
                total[p][k] += own[k]
            p = parent[p]
    return total
