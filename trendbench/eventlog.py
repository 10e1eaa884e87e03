"""Per-job-group totals from an uncompressed Spark event log.

Jobs are attributed by the ``spark.jobGroup.id`` property of their
SparkListenerJobStart; tasks by the stage -> job map the same events
carry.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

FIELDS = ("jobs", "tasks", "shuffle_write_bytes", "executor_run_s", "executor_cpu_s", "gc_s")


def group_totals(log_dir: str) -> dict[str, dict[str, float]]:
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    totals[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    t = totals[g]
                    t["tasks"] += 1
                    t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
    return dict(totals)
