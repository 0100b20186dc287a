"""Units for the measurement module (`obs`): the stage aggregation runs on
canned REST StageData payloads, so no Spark UI is needed; the timing and
summary helpers run on plain callables."""

from __future__ import annotations

import pytest

from t20_database_etl_pipeline_assignment_spark import obs


def _stage(sid, run_ms, **kw):
    return {
        "stageId": sid,
        "attemptId": 0,
        "name": f"stage {sid}",
        "numTasks": 4,
        "executorRunTime": run_ms,
        "firstTaskLaunchedTime": "2026-01-01T00:00:00.000GMT",
        "completionTime": "2026-01-01T00:00:02.000GMT",
        **kw,
    }


def test_summarize_several_stages():
    stages = [
        _stage(3, 1000, shuffleWriteBytes=60_000_000, peakExecutionMemory=5_000_000),
        _stage(4, 6000, shuffleReadBytes=60_000_000, diskBytesSpilled=2_000_000,
               memoryBytesSpilled=8_000_000, peakExecutionMemory=9_000_000),
        _stage(5, 10),
    ]
    tasks = {4: {"executorRunTime": [1200.0, 2900.0, 3000.0]}}
    out = obs.summarize_stages(stages, tasks)
    assert out["n_stages"] == 3
    assert out["shuffle_write_mb"] == 60.0
    assert out["shuffle_read_mb"] == 60.0
    assert out["spill_disk_mb"] == 2.0
    assert out["spill_memory_mb"] == 8.0
    assert out["peak_stage_execution_memory_mb"] == 9.0
    # over a heavy mark: stage 3 by shuffle write, stage 4 by disk spill
    assert [s["stage_id"] for s in out["heavy_stages"]] == [3, 4]
    h = out["heaviest_stage"]
    assert h["stage_id"] == 4  # most executor run time
    assert h["stage_wall_ms"] == 2000
    assert h["effective_parallelism"] == 3.0
    assert out["worst_task_stage"] == {
        "stage_id": 4, "task_p50_sec": 1.2, "task_p99_sec": 2.9, "task_max_sec": 3.0}


def test_worst_task_stage_is_not_the_heaviest_stage():
    """A wide scan stage of many ~1.5 s tasks out-runs, in total executor
    time, a reducer stage with one 7 s hot-key task; the worst-task pick
    must still report the reducer."""
    scan = _stage(1, 64 * 1500, numTasks=64)
    reducer = _stage(2, 31 * 100 + 7000, numTasks=32)
    tasks = {1: {"executorRunTime": [1500.0, 1600.0, 1650.0]},
             2: {"executorRunTime": [100.0, 300.0, 7000.0]}}
    out = obs.summarize_stages([scan, reducer], tasks)
    assert out["heaviest_stage"]["stage_id"] == 1
    w = out["worst_task_stage"]
    assert (w["stage_id"], w["task_p50_sec"], w["task_max_sec"]) == (2, 0.1, 7.0)


def test_summarize_empty_list():
    out = obs.summarize_stages([])
    assert out["n_stages"] == 0
    assert out["shuffle_write_mb"] == out["peak_stage_execution_memory_mb"] == 0
    assert out["heavy_stages"] == []
    assert "heaviest_stage" not in out
    assert "worst_task_stage" not in out


def test_summarize_missing_fields():
    """Records without metrics or timestamps (e.g. a stage the store kept
    only partially) count as zero and give no parallelism, not a crash."""
    out = obs.summarize_stages([{"stageId": 7}, {}], {7: {"executorRunTime": []}, 8: {}})
    assert out["n_stages"] == 2
    assert out["shuffle_read_mb"] == 0
    h = out["heaviest_stage"]
    assert h["executor_run_ms"] == 0
    assert h["stage_wall_ms"] == 0
    assert h["effective_parallelism"] is None
    assert "worst_task_stage" not in out


def test_summarize_one_task_stage():
    one = _stage(0, 500, numTasks=1, completionTime="2026-01-01T00:00:00.500GMT")
    out = obs.summarize_stages([one], {0: {"executorRunTime": [500.0, 500.0, 500.0]}})
    h, w = out["heaviest_stage"], out["worst_task_stage"]
    assert h["num_tasks"] == 1
    assert h["effective_parallelism"] == 1.0
    assert w["task_p50_sec"] == w["task_p99_sec"] == w["task_max_sec"] == 0.5


class _Tracker:
    def getJobIdsForGroup(self, group):
        return [0]

    def getJobInfo(self, job):
        from pyspark.status import SparkJobInfo

        return SparkJobInfo(job, [0, 1], "SUCCEEDED")


class _Sc:
    uiWebUrl = None
    applicationId = "app"

    def statusTracker(self):
        return _Tracker()


def test_stage_telemetry_without_ui_is_empty():
    """No UI means no REST API: telemetry is {} and never raises."""
    assert obs.stage_telemetry(_Sc(), "g") == {}
    assert obs.stage_telemetry(_Sc(), "g", task_quantiles=True) == {}


def test_stage_telemetry_keeps_sums_when_a_task_summary_fetch_fails(monkeypatch):
    """A stage purged from the store answers its taskSummary with 404: it
    drops out of the worst-task pick, and the stage sums stay."""
    import urllib.error

    def rest(sc, path):
        if path.startswith("stages?"):
            return [_stage(0, 900, shuffleWriteBytes=2_000_000), _stage(1, 50), _stage(9, 5)]
        if path.startswith("stages/0/"):
            raise urllib.error.HTTPError(path, 404, "purged", None, None)
        return {"executorRunTime": [10.0, 40.0, 50.0]}

    monkeypatch.setattr(obs, "_rest", rest)
    out = obs.stage_telemetry(_Sc(), "g", task_quantiles=True)
    assert out["n_stages"] == 2  # stage 9 is not in the group
    assert out["shuffle_write_mb"] == 2.0
    assert out["heaviest_stage"]["stage_id"] == 0
    assert out["worst_task_stage"]["stage_id"] == 1
    assert "worst_task_stage" not in obs.stage_telemetry(_Sc(), "g")


def test_timed_measure_and_summaries():
    calls = []

    def build():
        calls.append("build")
        return "df"

    rep = obs.timed(build, action=lambda df: df.upper())
    assert rep.result == "DF"
    assert rep.build_s >= 0 and rep.exec_s >= 0
    assert rep.total_s == pytest.approx(rep.build_s + rep.exec_s)

    class FakeWriter:
        def format(self, _):
            return self

        def mode(self, _):
            return self

        def save(self):
            calls.append("write")

    class FakeDf:
        write = FakeWriter()

    calls.clear()
    reps = obs.measure(lambda: (calls.append("build"), FakeDf())[1], 3)
    assert len(reps) == 3
    assert calls == ["build", "write"] * 4  # one untimed warm rep first

    assert obs.summary([3.0, 1.0, 2.0]) == {"median": 2.0, "min": 1.0, "max": 3.0}
    reps = [obs.Rep(0.1, 1.0), obs.Rep(0.5, 0.5), obs.Rep(0.2, 3.0), obs.Rep(0.3, 0.3)]
    # totals 1.1, 1.0, 3.2, 0.6: the middle two are 1.0 and 1.1
    assert obs.median_split(reps) == (0.3, 0.75)
    assert sum(obs.median_split(reps)) == pytest.approx(obs.summary(
        r.total_s for r in reps)["median"])


def test_run_environment_without_session():
    env = obs.run_environment()
    assert set(env) == {"host", "nproc", "mem_total_gb"}
    assert env["nproc"] >= 1
    assert env["mem_total_gb"] > 0
