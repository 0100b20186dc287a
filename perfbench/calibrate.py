"""Re-measure the warm per-query costs in strata.json, by which star_sql
ranks the star-schema queries into sampling strata.

    python3 perfbench/calibrate.py

Runs every star-schema query twice in one process on seed-0 inputs at the
benchmark's scale (build plus noop execution) and stores the second pass.
Changing strata.json changes the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

import run

NOTE = ("warm seconds per query (construction plus noop execution), the second of two passes "
        "in one process on seed-0 inputs at scale factor 0.01, local[4] on a 4-core Xeon VM; "
        "written by perfbench/calibrate.py; ranks the queries into the star_sql strata")


def main() -> None:
    sys.path[:0] = [str(run.HERE), str(run.ROOT)]
    import gen
    import workloads as W

    run_dir = run.ROOT / ".perfbench" / "runs" / f"calibrate-{uuid.uuid4().hex[:8]}"
    run._isolate(run_dir, traced=False)
    base = str(run_dir / "inputs")
    gen.generate(base, 0, run.DEFAULT_SF)
    import __spark_entry__  # noqa: F401
    from t20_database_etl_pipeline_assignment_spark.registry import QUERIES
    from t20_database_etl_pipeline_assignment_spark.session import get_spark

    spark = get_spark("perfbench-calibrate")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        qs = sorted(q for q, f in QUERIES.items() if W._module_of(f) in W.STAR_MODULES)
        cost = {}
        for _ in range(2):
            for q in qs:
                t0 = time.perf_counter()
                QUERIES[q](spark, base).write.format("noop").mode("overwrite").save()
                cost[q] = round(time.perf_counter() - t0, 3)
    finally:
        run._stop_spark(spark)
        os.chdir(run.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    path = run.HERE / "strata.json"
    doc = {"note": NOTE, "star_sql": cost}
    path.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    print(f"{len(cost)} query costs -> {path}")


if __name__ == "__main__":
    main()
