"""Thread-safety of the operator surface: many queries driven concurrently
through ONE SparkSession (the multi-tenant / notebook-server shape) must
produce exactly the sequential results. Spark sessions are thread-safe by
contract; this pins that our operators don't break it with shared mutable
state (temp-view names, scratch paths)."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from t20_database_etl_pipeline_assignment_spark.registry import QUERIES

NAMES = [
    "agg_hash_group",
    "join_multiway_star",
    "win_row_number_topk",
    "text_stats",
    "filter_pred",
    "fn_math",
    "set_union_all",
    "topk_global",
]


def test_concurrent_queries_share_one_session(spark, sf_dir):
    def run(name: str) -> int:
        return QUERIES[name](spark, sf_dir).count()

    with ThreadPoolExecutor(max_workers=8) as ex:
        concurrent = list(ex.map(run, NAMES))
    sequential = [run(n) for n in NAMES]
    assert concurrent == sequential


def test_run_concurrently_waits_for_all_and_raises_first_failure(spark):
    """More threads than cores with a short switch interval: every thunk
    runs to completion even when earlier ones fail, no write to the shared
    dict is lost, and the failure raised is the first in argument order."""
    import sys
    import threading
    import time

    import pytest

    from t20_database_etl_pipeline_assignment_spark.pipeline import run_concurrently

    shared: dict = {}
    finished = []
    lock = threading.Lock()

    def thunk(i: int):
        def run():
            for k in range(2000):
                shared[(i, k)] = k
            if i == 5:
                raise KeyError("later failure")
            if i == 2:
                time.sleep(0.2)  # fails after thunk 5 has already failed
                raise ValueError("first failure in argument order")
            time.sleep(0.1)
            with lock:
                finished.append(i)
            return i
        return run

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert run_concurrently(spark, *[thunk(i) for i in (0, 1, 3)]) == [0, 1, 3]
        finished.clear()
        with pytest.raises(ValueError, match="first failure"):
            run_concurrently(spark, *[thunk(i) for i in range(12)])
    finally:
        sys.setswitchinterval(old)
    assert sorted(finished) == [i for i in range(12) if i not in (2, 5)]
    assert len(shared) == 12 * 2000


def test_concurrent_etl_runs_keep_their_own_counts(spark, sf_dir, tmp_path):
    """Two pipeline runs at once, into separate targets: each run's
    Observations are its own, so both audits equal a run made alone."""
    from t20_database_etl_pipeline_assignment_spark.pipeline import run_etl

    def run(name: str) -> dict:
        m = run_etl(spark, sf_dir, str(tmp_path / name), "2026-01-01 00:00:00")
        return {k: v for k, v in m.items() if not k.endswith("_sec")}

    with ThreadPoolExecutor(max_workers=2) as ex:
        both = list(ex.map(run, ["a", "b"]))
    assert both[0] == both[1] == run("alone")
