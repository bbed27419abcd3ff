"""Spark's own counters, read from outside the engine.

``SparkStatus`` diffs the local status REST API (``sc.uiWebUrl``) between
two marks: jobs, completed stages, tasks, input bytes, output bytes,
shuffle-write bytes, disk spill and executor run time. ``jvm_peak_rss_mb``
reads the Spark JVM's high-water resident set from ``/proc``.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass, field

_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "executor_run_ms": "executorRunTime",
}


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_ms: int = 0


@dataclass
class Mark:
    job: int
    stage: int


@dataclass
class SparkStatus:
    spark: object
    base: str = field(init=False)

    def __post_init__(self) -> None:
        sc = self.spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str) -> list[dict]:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus; wait
        # until every event of the finished actions has been applied
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> Mark:
        self._drain()
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        return Mark(
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def since(self, m: Mark) -> Counts:
        self._drain()
        out = Counts()
        out.jobs = sum(1 for j in self._get("/jobs") if j["jobId"] > m.job)
        for s in self._get("/stages"):
            if s["stageId"] <= m.stage or s["status"] not in ("COMPLETE", "FAILED"):
                continue
            out.stages += 1
            for attr, key in _STAGE_FIELDS.items():
                setattr(out, attr, getattr(out, attr) + int(s.get(key, 0)))
        return out


def jvm_peak_rss_mb(spark) -> float:
    # spark-submit execs into java, so the gateway process is the JVM
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
