"""Measurement from outside the program: spans, Spark job counters, stage
telemetry from the REST status API, process memory and the run environment.

Nothing here imports the engine package; it only reads what a Spark session
and the operating system expose.
"""

from __future__ import annotations

import json
import os
import platform
import socket
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and run id (plus free-form
    attributes). Disabled tracers record nothing and cost one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, **match) -> float:
        """Summed duration of the finished spans called `name` whose
        attributes equal `match`."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and all(s.get(k) == v for k, v in match.items())
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


class JobCounter:
    """Counts Spark jobs, stages and tasks per job group via the status
    tracker (available with or without the UI)."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def stage_ids(self, job_ids) -> list[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return sorted(out)

    def stage_counts(self, stage_ids) -> dict:
        """Stages that ran at least one task, their completed and failed
        tasks (stages skipped because their shuffle output was reused do
        not count)."""
        stages = tasks = failed = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue
            stages += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
        return {"stages": stages, "tasks": tasks, "tasks_failed": failed}


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def rest_stage_telemetry(sc, stage_ids) -> dict:
    """Shuffle, spill and peak execution memory of the given stages, read
    from the Spark UI's REST status API (the UI must be enabled), plus the
    task skew (max over median executor run time) of the longest stage."""
    base = sc.uiWebUrl
    if not base:
        raise RuntimeError("Spark UI is disabled; stage telemetry needs it")
    app = f"{base}/api/v1/applications/{sc.applicationId}"
    wanted = set(stage_ids)
    out = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
           "peak_exec_mem_bytes": 0, "task_skew": 1.0}
    longest = None
    for st in _get_json(f"{app}/stages"):
        if st["stageId"] not in wanted or st.get("status") != "COMPLETE":
            continue
        out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        out["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
        out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        out["peak_exec_mem_bytes"] = max(
            out["peak_exec_mem_bytes"], st.get("peakExecutionMemory", 0)
        )
        if longest is None or st.get("executorRunTime", 0) > longest.get("executorRunTime", 0):
            longest = st
    if longest is not None and longest.get("numCompleteTasks", 0) > 1:
        q = _get_json(
            f"{app}/stages/{longest['stageId']}/{longest['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        p50, mx = q["executorRunTime"]
        out["task_skew"] = mx / p50 if p50 > 0 else 1.0
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def jvm_pid(sc) -> int:
    """Process id of the driver JVM that PySpark launched for `sc`."""
    proc = getattr(sc._gateway, "proc", None)
    if proc is None:
        raise RuntimeError("driver JVM was not launched by this process")
    return proc.pid


def run_environment(spark, fixture_fp: str) -> dict:
    import pyspark

    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": len(os.sched_getaffinity(0)),
        "host": socket.gethostname(),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "fixture_fingerprint": fixture_fp,
    }
