"""Spark stage and task counters, read from outside the engine.

Work is attributed by job group: the benchmark tags every query (or
micro-batch) with ``SparkContext.setJobGroup`` and afterwards reads the
group's jobs from the status tracker and their stages and tasks from
Spark's status REST API (``/api/v1`` on the local UI port).
"""

from __future__ import annotations

import json
import time
import urllib.request
from dataclasses import dataclass


@dataclass
class StageCounters:
    jobs: int = 0
    tasks: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    cpu_s: float = 0.0
    task_skew: float = 0.0  # worst stage's max / median task run time

    def add(self, other: "StageCounters") -> None:
        for k in ("jobs", "tasks", "input_bytes", "input_rows", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "gc_s", "cpu_s"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_skew = max(self.task_skew, other.task_skew)


class SparkStatus:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def flush_listeners(self) -> None:
        """Wait until Spark's listener bus has delivered every event,
        so the status store holds the finished jobs' counters."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # API is internal; fall back to a short wait
            time.sleep(0.2)

    def group_stages(self, group: str) -> tuple[int, list[dict]]:
        """(number of jobs, stage attempts that ran) for a job group."""
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = []
        for sid in sorted(stage_ids):
            try:
                attempts = self.get(f"stages/{sid}")
            except OSError:
                continue
            stages.extend(a for a in attempts if a.get("status") == "COMPLETE")
        return len(job_ids), stages

    def task_list(self, stage: dict) -> list[dict]:
        return self.get(
            f"stages/{stage['stageId']}/{stage['attemptId']}/taskList?length=100000"
        )

    def group_counters(self, group: str) -> StageCounters:
        n_jobs, stages = self.group_stages(group)
        c = StageCounters(jobs=n_jobs)
        for s in stages:
            c.tasks += s.get("numCompleteTasks", 0)
            c.input_bytes += s.get("inputBytes", 0)
            c.input_rows += s.get("inputRecords", 0)
            c.shuffle_read_bytes += s.get("shuffleReadBytes", 0)
            c.shuffle_write_bytes += s.get("shuffleWriteBytes", 0)
            c.spill_bytes += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            c.gc_s += s.get("jvmGcTime", 0) / 1e3
            c.cpu_s += s.get("executorCpuTime", 0) / 1e9
            if s.get("numCompleteTasks", 0) >= 2:
                q = self.get(
                    f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0"
                ).get("executorRunTime", [0, 0])
                if q[0] > 0:
                    c.task_skew = max(c.task_skew, q[1] / q[0])
        return c

    def cached_bytes(self) -> int:
        """Bytes of persisted RDD blocks (memory + disk) right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def task_bytes(task: dict) -> int:
    m = task.get("taskMetrics") or {}
    sr = m.get("shuffleReadMetrics") or {}
    return (
        (m.get("inputMetrics") or {}).get("bytesRead", 0)
        + sr.get("localBytesRead", 0)
        + sr.get("remoteBytesRead", 0)
    )


def task_runtime_ms(task: dict) -> float:
    return float((task.get("taskMetrics") or {}).get("executorRunTime", task.get("duration", 0)))


def task_shuffle_read(task: dict) -> tuple[int, int]:
    """(records, bytes) the task read from shuffle."""
    sr = (task.get("taskMetrics") or {}).get("shuffleReadMetrics") or {}
    return sr.get("recordsRead", 0), sr.get("localBytesRead", 0) + sr.get("remoteBytesRead", 0)
