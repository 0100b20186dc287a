"""Measurement for `bench.py` and `tools/`: timed query runs, per-stage
telemetry, and the environment a run measured on.

- `timed` brackets one query as build (Python plan construction, Py4J
  round trips) plus exec (the noop-sink write that runs every row without
  driver transfer); `measure` adds one untimed warm rep before N timed ones.
- `stage_telemetry` reads the Spark REST status API for the stages of one
  job group, so a measured call sees only its own jobs. It needs the UI on
  (`session(..., ui=True)`) and returns {} without it: telemetry degrades,
  timing never does. `summarize_stages` is the pure aggregation under it.
  Two stages are singled out: the heaviest (most executor run time, with
  its effective parallelism) and, when task quantiles are asked for, the
  one holding the longest task (a skewed reducer), with its task
  p50/p99/max.
- `run_environment` names what a run measured on.
"""

from __future__ import annotations

import json
import os
import socket
import statistics
import time
import urllib.request
import uuid
from dataclasses import dataclass, field
from datetime import datetime

from .session import get_spark, shuffle_partitions_for
from .sources.staging import prune_stale_generations

# REST StageData byte fields summed over the measured stages
_SUMS = {
    "shuffleReadBytes": "shuffle_read_mb",
    "shuffleWriteBytes": "shuffle_write_mb",
    "memoryBytesSpilled": "spill_memory_mb",
    "diskBytesSpilled": "spill_disk_mb",
}
# a stage is listed under heavy_stages when it crosses any of these
_HEAVY = {"diskBytesSpilled": 1e6, "shuffleWriteBytes": 5e7, "peakExecutionMemory": 1e9}
_SETTLE_TRIES, _SETTLE_SLEEP = 10, 0.2


def session(app: str, sf_dir: str, ui: bool = False, scaled_partitions: bool = False):
    """The bench session for `sf_dir`: stale staged generations pruned, logs
    at ERROR. `ui` serves the REST status API that stage telemetry reads
    (it binds only if no session exists yet). `scaled_partitions` applies
    the volume-scaled shuffle-partition policy unless T20_SHUFFLE_PARTITIONS
    pins the count."""
    if ui:
        os.environ["T20_UI_ENABLED"] = "true"
    prune_stale_generations(sf_dir)
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    if scaled_partitions and "T20_SHUFFLE_PARTITIONS" not in os.environ:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions_for(sf_dir)))
    return spark


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def seconds(fn) -> float:
    """Wall seconds of one call to `fn`."""
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


@dataclass
class Rep:
    build_s: float
    exec_s: float
    result: object = None
    stages: dict = field(default_factory=dict)

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


def timed(build, action=noop, spark=None, task_quantiles: bool = False) -> Rep:
    """Time `build()` and then `action` on its DataFrame, nothing between
    them. With `spark`, the call runs in its own job group and `stages`
    holds the telemetry of exactly its stages (see `stage_telemetry` for
    `task_quantiles`)."""
    sc = spark.sparkContext if spark is not None else None
    if sc is not None:
        group = f"obs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        result = action(df)
        t2 = time.perf_counter()
    finally:
        if sc is not None:
            sc._jsc.clearJobGroup()
    rep = Rep(t1 - t0, t2 - t1, result)
    if sc is not None:
        rep.stages = stage_telemetry(sc, group, task_quantiles)
    return rep


def measure(build, reps: int, spark=None, task_quantiles: bool = False) -> list[Rep]:
    """One untimed warm rep (staged artifacts, JIT), then `reps` timed ones;
    with `spark`, the last rep carries its stage telemetry."""
    noop(build())
    return [timed(build) for _ in range(reps - 1)] + [
        timed(build, spark=spark, task_quantiles=task_quantiles)]


def summary(xs) -> dict:
    xs = list(xs)
    return {"median": round(statistics.median(xs), 3),
            "min": round(min(xs), 3), "max": round(max(xs), 3)}


def median_split(reps: list[Rep]) -> tuple[float, float]:
    """(build_s, exec_s) of the median rep by total (the two middle reps
    averaged when the count is even), so the pair sums to the median total."""
    s = sorted(reps, key=lambda r: r.total_s)
    mid = s[(len(s) - 1) // 2: len(s) // 2 + 1]
    return (round(statistics.fmean(r.build_s for r in mid), 3),
            round(statistics.fmean(r.exec_s for r in mid), 3))


def _mem_total_gb() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return round(int(line.split()[1]) / 1e6, 1)
    except OSError:
        pass
    return 0.0


def run_environment(spark=None) -> dict:
    """Host shape (so a ratio drift across runs can be traced to a host
    change), plus master, parallelism and shuffle partitions when a
    session is given."""
    env = {"host": socket.gethostname(), "nproc": len(os.sched_getaffinity(0)),
           "mem_total_gb": _mem_total_gb()}
    if spark is not None:
        sc = spark.sparkContext
        env |= {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        }
    return env


def _rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _group_stage_ids(sc, group: str) -> set[int] | None:
    """Stage ids of the group's jobs once the status store, which fills
    from an async listener bus, shows them all finished; else None."""
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    if not jobs or any(j is None or j.status not in ("SUCCEEDED", "FAILED") for j in jobs):
        return None
    return {s for j in jobs for s in j.stageIds}


def stage_telemetry(sc, group: str, task_quantiles: bool = False) -> dict:
    """`summarize_stages` over the completed stages of job group `group`;
    {} when the UI is off, the stage list fetch fails or the group's jobs
    never show finished. `task_quantiles` also fetches every stage's
    taskSummary; a stage whose summary fetch fails (purged from the store)
    only drops out of the worst-task pick."""
    try:
        for _ in range(_SETTLE_TRIES):
            ids = _group_stage_ids(sc, group)
            if ids is not None:
                break
            time.sleep(_SETTLE_SLEEP)
        else:
            return {}
        stages = [s for s in _rest(sc, "stages?status=complete") if s["stageId"] in ids]
    except (OSError, ValueError, KeyError):  # UI off, fetch failed, odd payload
        return {}
    tasks = {}
    for s in stages if task_quantiles else []:
        try:
            tasks[s["stageId"]] = _rest(sc, f"stages/{s['stageId']}/{s.get('attemptId', 0)}"
                                            "/taskSummary?quantiles=0.5,0.99,1.0")
        except (OSError, ValueError):
            pass
    return summarize_stages(stages, tasks)


def heaviest_stage(stages: list[dict]) -> dict | None:
    """The stage that did the most executor work."""
    return max(stages, key=lambda s: s.get("executorRunTime", 0), default=None)


def _task_quantiles(summary: dict) -> list | None:
    q = summary.get("executorRunTime")
    return q if q and len(q) == 3 else None


def _ms(ts: str) -> float:
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").timestamp() * 1e3


def _mb(x: float) -> float:
    return round(x / 1e6, 2)


def summarize_stages(stages: list[dict], tasks: dict | None = None) -> dict:
    """Aggregate REST StageData records: summed shuffle and spill, peak
    per-stage execution memory, the stages over the `_HEAVY` marks, and
    the heaviest stage's shape (effective parallelism = executor run time
    over stage wall). `tasks` maps stage id to its taskSummary at
    quantiles 0.5/0.99/1.0; with it, `worst_task_stage` is the stage whose
    longest task is the longest, with its task p50/p99/max."""
    out = {key: _mb(sum(s.get(f, 0) for s in stages)) for f, key in _SUMS.items()}
    out["peak_stage_execution_memory_mb"] = _mb(
        max((s.get("peakExecutionMemory", 0) for s in stages), default=0))
    out["n_stages"] = len(stages)
    out["heavy_stages"] = [
        {"stage_id": s.get("stageId"), "name": s.get("name", "")[:60],
         "shuffle_write_mb": _mb(s.get("shuffleWriteBytes", 0)),
         "spill_disk_mb": _mb(s.get("diskBytesSpilled", 0)),
         "peak_execution_memory_mb": _mb(s.get("peakExecutionMemory", 0))}
        for s in sorted(stages, key=lambda s: s.get("stageId", 0))
        if any(s.get(f, 0) > mark for f, mark in _HEAVY.items())
    ]
    h = heaviest_stage(stages)
    if h is None:
        return out
    try:
        wall_ms = _ms(h["completionTime"]) - _ms(h["firstTaskLaunchedTime"])
    except (KeyError, ValueError):
        wall_ms = 0.0
    run_ms = h.get("executorRunTime", 0)
    out["heaviest_stage"] = {
        "stage_id": h.get("stageId"),
        "name": h.get("name", "")[:60],
        "num_tasks": h.get("numTasks", 0),
        "executor_run_ms": run_ms,
        "stage_wall_ms": round(wall_ms),
        "effective_parallelism": round(run_ms / wall_ms, 1) if wall_ms > 0 else None,
    }
    quantiles = {sid: q for sid, t in (tasks or {}).items() if (q := _task_quantiles(t))}
    if quantiles:
        sid = max(quantiles, key=lambda i: quantiles[i][2])
        out["worst_task_stage"] = {"stage_id": sid} | {
            k: round(v / 1000, 3)
            for k, v in zip(("task_p50_sec", "task_p99_sec", "task_max_sec"), quantiles[sid])
        }
    return out
