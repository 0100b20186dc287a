"""win_cusum_drift segmented-scan A/B (round-10: the last structural
scale watch-item from the r9 verdict). The pre-round-10 kernel computed
the CUSUM prefix identity with windows PARTITIONED BY event_type alone —
correct, zero-spill, but its big window ran 5-wide forever: parallelism
was capped at the number of event types (5 in every fixture), which is
exactly the plan that serializes on a 1000-executor cluster where one
task would own a type's entire 100 TB history. r9 telemetry recorded the
symptom: sf10 ratio 11.75x for 100x rows with only 189 MB of shuffle.

The shipped kernel (operators/analytics.py cusum_stat) decomposes the
scan over (event_type, day) segments — local prefix/min per segment in
parallel, a types*days-row carry relation combined with a tiny window,
broadcast back — so parallelism scales with the log's TIME SPAN. This
harness measures both formulations at the scale fixtures with per-stage
telemetry (`obs.stage_telemetry`) and records the effective parallelism of
the heaviest stage (executorRunTime / stage wall): the number that was
pinned at ~5 and should now track min(#segments, #cores).

Both variants are bit-identical by construction (integer cents; the
hypothesis model-check in tests/test_analytics_ops.py proves the carry
recombination); the workers also cross-check rows / alarm count / an
integer checksum of the statistic.

Usage:
    python tools/bench_cusum.py [--sf10 DIR] [--sf1 DIR]
    python tools/bench_cusum.py --worker VARIANT SF_DIR PASSES
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from t20_database_etl_pipeline_assignment_spark import obs  # noqa: E402

SF10_DEFAULT = os.path.join(REPO, ".scale_fixtures", "sf10")
SF1_DEFAULT = os.path.join(REPO, ".scale_fixtures", "sf1")


# ---------------------------------------------------------------------------
# plan variants (worker side)
# ---------------------------------------------------------------------------


def _flat_df(spark, sf_dir: str):
    """The superseded r3–r9 kernel: prefix sum − running min with both
    windows partitioned by event_type only (parallelism = #types)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from t20_database_etl_pipeline_assignment_spark.exprs import (
        epoch_us,
        scaled_long,
    )
    from t20_database_etl_pipeline_assignment_spark.operators.analytics import (
        _CUSUM_H_C,
        _CUSUM_K_C,
    )
    from t20_database_etl_pipeline_assignment_spark.sources.tables import table

    e = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        epoch_us("ts").alias("us"),
        scaled_long(F.col("value"), 100).alias("v_c"),
    )
    m = e.groupBy("event_type").agg(
        ((F.sum("v_c") - F.sum("v_c") % F.count(F.lit(1))) / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_c")
    )
    run = Window.partitionBy("event_type").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = e.join(F.broadcast(m), "event_type").select(
        "event_type",
        "event_id",
        "us",
        F.sum(F.col("v_c") - F.col("mean_c") - F.lit(_CUSUM_K_C))
        .over(run)
        .alias("pref"),
    )
    s = p.select(
        "event_type",
        "event_id",
        "us",
        (F.col("pref") - F.least(F.min("pref").over(run), F.lit(0)))
        .cast("long")
        .alias("cusum_c"),
    )
    return s.select(
        "event_type",
        "event_id",
        "us",
        (F.col("cusum_c") / F.lit(100.0)).alias("cusum"),
        (F.col("cusum_c") > F.lit(_CUSUM_H_C)).alias("alarm"),
    )


def _segmented_df(spark, sf_dir: str):
    from t20_database_etl_pipeline_assignment_spark.registry import QUERIES

    return QUERIES["win_cusum_drift"](spark, sf_dir)


def _worker(variant: str, sf_dir: str, passes: str) -> None:
    from pyspark.sql import functions as F

    spark = obs.session("t20-bench-cusum", sf_dir, ui=True, scaled_partitions=True)
    fn = _flat_df if variant == "flat" else _segmented_df
    # the warm rep builds the staged events artifact + JIT
    reps = obs.measure(lambda: fn(spark, sf_dir), int(passes), spark=spark)
    walls = [round(r.total_s, 3) for r in reps]
    # bit-identity cross-check: integer checksum of the statistic + alarms
    chk = (
        fn(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("cusum") * 100).cast("long")).alias("checksum_c"),
            F.sum(F.col("alarm").cast("long")).alias("alarms"),
        )
        .collect()[0]
    )
    rec = {
        "variant": variant,
        "sf_dir": sf_dir,
        "env": obs.run_environment(spark),
        "walls_sec": walls,
        "median_sec": obs.summary(walls)["median"],
        "rows": chk.rows,
        "checksum_c": chk.checksum_c,
        "alarms": chk.alarms,
        "telemetry": reps[-1].stages,
    }
    print("WORKER_JSON:" + json.dumps(rec), flush=True)


# ---------------------------------------------------------------------------
# orchestrator
# ---------------------------------------------------------------------------


def _run(variant: str, sf_dir: str, passes: int = 3) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker",
         variant, sf_dir, str(passes)],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=REPO,
    )
    for line in p.stdout.splitlines():
        if line.startswith("WORKER_JSON:"):
            return json.loads(line[len("WORKER_JSON:"):])
    tail = (p.stderr or p.stdout).strip().splitlines()[-3:]
    return {"variant": variant, "sf_dir": sf_dir, "status": "error", "tail": tail}


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        _worker(*sys.argv[2:5])
        return 0
    args = sys.argv[1:]
    sf10 = SF10_DEFAULT
    sf1 = SF1_DEFAULT
    if "--sf10" in args:
        sf10 = args[args.index("--sf10") + 1]
    if "--sf1" in args:
        sf1 = args[args.index("--sf1") + 1]

    out: dict = {"sf10_dir": sf10, "sf1_dir": sf1, "host": obs.run_environment()}
    for tier, d in (("sf1_ab", sf1), ("sf10_ab", sf10)):
        runs = [_run(v, d) for v in ("flat", "segmented")]
        for r in runs:
            print(json.dumps(r), flush=True)
        out[tier] = runs
        done = [r for r in runs if "rows" in r]
        agree = len(done) == len(runs) and len(
            {(r["rows"], r["checksum_c"], r["alarms"]) for r in done}
        ) == 1
        out[tier + "_outputs_agree"] = agree
        print(f"{tier}_outputs_agree: {agree}")

    path = os.path.join(REPO, "BENCH_CUSUM.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"-> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
