"""Spark event-log reader for the traced run.

The traced run writes an uncompressed, non-rolling event log and wraps every
call into a layer's public function in its own ``setJobGroup``. This module
groups the log's stages, tasks and jobs by that job group. Sums come from
the accumulables of completed stages: the ``internal.metrics.*`` task
metrics and the SQL metrics (``scan time``, "data sent to Python workers",
"time to run Python workers", ...). A stage's group is the one in force when
the stage was submitted, so a stage reused from an earlier group is counted
once, by the group that ran it.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from dataclasses import dataclass, field


@dataclass
class Group:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    peak_task_mem: int = 0
    # (submission ms, completion ms) of each job, for the time no job ran
    job_spans: list[tuple[int, int]] = field(default_factory=list)
    # per completed stage: its summed accumulables by name
    stage_acc: list[Counter] = field(default_factory=list)

    def total(self, name: str) -> float:
        return float(sum(acc[name] for acc in self.stage_acc))

    def busy_s(self) -> float:
        """Wall time covered by at least one running job."""
        busy, end = 0, None
        for s, e in sorted(self.job_spans):
            if end is None or s > end:
                busy += e - s
                end = e
            elif e > end:
                busy += e - end
                end = e
        return busy / 1000.0


def _number(v) -> float | None:
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return None


def read(path: str) -> dict[str, Group]:
    """Job group -> its aggregated jobs, stages and tasks."""
    groups: dict[str, Group] = defaultdict(Group)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[e["Job ID"]] = g
                job_start[e["Job ID"]] = e["Submission Time"]
                groups[g].jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_start:
                    groups[job_group[jid]].job_spans.append((job_start[jid], e["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                stage_group[info["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"], "")]
                g.tasks += 1
                peak = (e.get("Task Metrics") or {}).get("Peak Execution Memory", 0) or 0
                g.peak_task_mem = max(g.peak_task_mem, int(peak))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                g = groups[stage_group.get(info["Stage ID"], "")]
                g.stages += 1
                acc: Counter = Counter()
                for a in info.get("Accumulables", []):
                    v = _number(a.get("Value"))
                    if v is not None and a.get("Name"):
                        acc[a["Name"]] += v
                g.stage_acc.append(acc)
    return dict(groups)


MB = 1024.0 * 1024.0

# SQL metric names as Spark 4.1 logs them (timings in ms)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
SCAN_TIME = "scan time"


def spark_metrics(gs: list[Group], wall_s: float) -> dict[str, float]:
    """The ``spark.*`` layer over the groups of one operation of ``wall_s``."""

    def tot(name: str) -> float:
        return sum(g.total(name) for g in gs)

    run_s = tot("internal.metrics.executorRunTime") / 1000.0
    cpu_s = tot("internal.metrics.executorCpuTime") / 1e9
    return {
        "spark.exec_run_s": run_s,
        "spark.exec_cpu_s": cpu_s,
        "spark.cpu_util": cpu_s / (wall_s * 4) if wall_s > 0 else 0.0,
        "spark.gc_s": tot("internal.metrics.jvmGCTime") / 1000.0,
        "spark.tasks": float(sum(g.tasks for g in gs)),
        "spark.jobs": float(sum(g.jobs for g in gs)),
        "spark.shuffle_write_mb": tot("internal.metrics.shuffle.write.bytesWritten") / MB,
        "spark.shuffle_read_mb": (
            tot("internal.metrics.shuffle.read.localBytesRead")
            + tot("internal.metrics.shuffle.read.remoteBytesRead")
        ) / MB,
        "spark.fetch_wait_s": tot("internal.metrics.shuffle.read.fetchWaitTime") / 1000.0,
        "spark.spill_mb": (
            tot("internal.metrics.memoryBytesSpilled") + tot("internal.metrics.diskBytesSpilled")
        ) / MB,
        "spark.peak_exec_mem_mb": max((g.peak_task_mem for g in gs), default=0) / MB,
        "spark.py_sent_mb": tot(PY_SENT) / MB,
        "spark.py_recv_mb": tot(PY_RECV) / MB,
        "spark.py_run_s": tot(PY_RUN) / 1000.0,
        "spark.py_boot_s": sum(tot(n) for n in PY_BOOT) / 1000.0,
        "spark.driver_gap_s": max(wall_s - sum(g.busy_s() for g in gs), 0.0),
    }


def scan_metrics(gs: list[Group], min_records: float) -> dict[str, float]:
    """The ``sources.*`` layer: stages that read at least ``min_records``
    input rows count as scans of the documents table."""
    scans = [
        acc for g in gs for acc in g.stage_acc
        if acc["internal.metrics.input.recordsRead"] >= min_records
    ]
    return {
        "sources.input_mb": sum(a["internal.metrics.input.bytesRead"] for a in scans) / MB,
        "sources.input_records": float(sum(a["internal.metrics.input.recordsRead"] for a in scans)),
        "sources.scan_time_s": sum(a[SCAN_TIME] for a in scans) / 1000.0,
        "sources.doc_scans": float(len(scans)),
    }
