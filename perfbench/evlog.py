"""Per-layer figures from Spark's own event log (traced runs only).

Each operation runs under its own job group ``<kind>#<seq>``.  Jobs are
mapped to groups through ``SparkListenerJobStart``'s properties, stages
to jobs through its stage ids, and stage cost comes from the
``SparkListenerStageCompleted`` accumulables."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
}


@dataclass
class GroupCost:
    jobs: int = 0
    tasks: int = 0
    intervals: list = field(default_factory=list)  # (start_s, end_s)
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle: float = 0.0
    spill: float = 0.0


def parse(evdir: str) -> dict[str, GroupCost]:
    """Job-group id -> cost.  Jobs run outside any group land under ''."""
    # Spark 4 writes a rolling log: a directory of events_* files
    files = sorted(
        f for f in glob.glob(os.path.join(evdir, "**", "events_*"), recursive=True)
        if os.path.isfile(f)
    ) or [f for f in glob.glob(os.path.join(evdir, "*")) if os.path.isfile(f)]
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, GroupCost] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[jid] = grp
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    out.setdefault(grp, GroupCost()).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    grp = job_group.get(jid, "")
                    out.setdefault(grp, GroupCost()).intervals.append(
                        (job_start.get(jid, ev["Completion Time"] / 1000.0),
                         ev["Completion Time"] / 1000.0)
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    jid = stage_job.get(info["Stage ID"])
                    grp = job_group.get(jid, "") if jid is not None else ""
                    cost = out.setdefault(grp, GroupCost())
                    cost.tasks += int(info.get("Number of Tasks", 0))
                    for acc in info.get("Accumulables", []):
                        attr = _ACC.get(acc.get("Name"))
                        if attr is not None:
                            setattr(cost, attr, getattr(cost, attr) + float(acc["Value"]))
    return out


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def op_layers(cost: GroupCost | None, t0: float, t1: float) -> dict:
    """The six per-operation layer figures."""
    cost = cost or GroupCost()
    return {
        "jobs": cost.jobs,
        "tasks": cost.tasks,
        "driver_s": max(0.0, (t1 - t0) - union_s(cost.intervals, t0, t1)),
        "jvm_cpu_s": cost.cpu_ns / 1e9,
        "python_s": max(0.0, cost.run_ms / 1e3 - cost.cpu_ns / 1e9),
        "shuffle_bytes": cost.shuffle,
    }
