"""Time a list of queries in ONE session under bench.py conditions (noop
sink, one untimed warm rep, then N timed reps) and print median/min/max of
build (plan construction) and exec (noop write) seconds for each query,
then one JSON line.

Usage: python tools/bench_subset.py QID[,QID...] [N] [SF_DIR]
Defaults: N=5, SF_DIR = bench.py's fixture ($SPARK_GRAFT_SF_DIR, else sf0.1).

One QID is the isolated run that arbitrates drift seen in the bench sweep
(BASELINE.md documents a ±15-25% ambient swing on the bench host); a list
is the before/after A/B, run once from the pre-change worktree and once
from HEAD. A query whose build dominates is optimized at the driver
boundary (Py4J round trips), one whose exec dominates in the plan.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from t20_database_etl_pipeline_assignment_spark import obs  # noqa: E402
from t20_database_etl_pipeline_assignment_spark.registry import QUERIES  # noqa: E402
from plan_report import SF_DIR  # noqa: E402 — the tools' default fixture


def main() -> int:
    qids = sys.argv[1].split(",")
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else SF_DIR

    spark = obs.session("t20-bench-subset", sf_dir)
    out = {}
    for qid in qids:
        reps = obs.measure(lambda: QUERIES[qid](spark, sf_dir), n)
        out[qid] = {
            "build": obs.summary(r.build_s for r in reps),
            "exec": obs.summary(r.exec_s for r in reps),
            "total": obs.summary(r.total_s for r in reps),
        }
        print(f"{qid}: " + "  ".join(
            f"{k} {v['median']}s [{v['min']}, {v['max']}]" for k, v in out[qid].items()
        ), flush=True)
    print(json.dumps({"sf_dir": sf_dir, "n": n,
                      "env": obs.run_environment(spark), "queries": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
