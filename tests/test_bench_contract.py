"""Driver-contract guard for bench.py: must print exactly one JSON line with
the agreed schema, at whatever SF $SPARK_GRAFT_SF_DIR points to."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_bench_emits_contract_json(tmp_path):
    detail_path = str(tmp_path / "BENCH_DETAIL.json")
    # a previous record at the same sf but another parallelism must not be
    # compared against (an 8-core run is no baseline for a 32-core one)
    with open(detail_path, "w") as f:
        json.dump({"sf": 0.001, "env": {"default_parallelism": -1},
                   "queries": {"join_multiway_star": 1.0}}, f)
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_DETAIL=detail_path,
    )
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    payload = json.loads(line)
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert isinstance(payload["value"], (int, float))
    # stdout line stays SHORT (driver capture truncates long lines —
    # round-1 BENCH parsed:null); full per-query detail goes to disk.
    assert len(line) < 2000
    assert payload["queries"]  # top-N slowest on stdout
    assert all(isinstance(v, (int, float)) for v in payload["queries"].values())
    with open(detail_path) as f:
        detail = json.load(f)
    assert payload["n_queries"] == len(detail["queries"]) >= 99
    assert detail["value"] == payload["value"]
    assert payload["common_subset_n"] == 0
    # what the run measured on, in both records
    env_keys = {"master", "default_parallelism", "shuffle_partitions", "host", "nproc",
                "mem_total_gb"}
    assert set(payload["env"]) == env_keys
    assert detail["env"] == payload["env"]
    assert payload["env"]["default_parallelism"] >= 1
    # per-query build/exec split, taken from the median rep: the two sum to
    # the query's total within rounding
    split = detail["queries_build_exec"]
    assert set(split) == set(detail["queries"])
    for q, total in detail["queries"].items():
        build, exe = split[q]
        assert build >= 0 and exe >= 0
        assert abs(build + exe - total) <= 0.002, (q, build, exe, total)
