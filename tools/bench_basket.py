"""market_basket_pairs formulation A/B (round-6 judge item #2): the pair
fan-out aggregate was the one operator whose sf10 spill (5.5 GB) was
argued acceptable rather than measured away. This harness MEASURES the
three candidate formulations at sf10 with per-stage telemetry, plus the
shipped plan's bounded-heap degradation at sf1, and writes
BENCH_BASKET.json:

- `selfjoin_semi` — the round-6 shipped plan: distinct (order, part)
  items, Apriori broadcast-semi prune, SMJ self-join on orderkey,
  partial+final pair count. Its spill is dominated by a DUPLICATED
  distinct subtree (the semi-join between the distinct and the join
  sides defeats exchange reuse, so the 500 MB+ item shuffle and its
  reduce run twice) plus the two SMJ sort buffers.
- `basket_partial` — basket arrays via one groupBy(orderkey)
  collect_set, JVM higher-order pair generation (no self-join, no
  sorts), but the default partial+final pair count. Co-ordered pairs
  are mostly unique, so the map-side partial combine buys ~nothing and
  its hash state dominates the remaining spill.
- `basket_complete` — the SHIPPED plan (operators/analytics.py):
  basket arrays + a repartition(pk1, pk2) ahead of the count so
  Catalyst plans ONE complete aggregate (no partial) — the raw pair
  rows stream to the exchange and the only aggregate state is the
  reducer's own, sized by partition count.

Bounded-heap runs answer the "would a real executor spill or die?"
question directly: the shipped plan at sf1 across heaps. A 1 GiB heap
shared by 32 executor threads (~13 MB execution pool per task) fails on
GCLocker allocation races for EVERY formulation including round 6's —
that shape is below any production executor; 2 GiB+ (26 MB/task, still
20x below a 4 GB/core cluster) runs clean. Each variant runs in a fresh
subprocess so heap settings bind and failures are isolated.

Usage:
    python tools/bench_basket.py [--sf10 DIR] [--sf1 DIR]
    python tools/bench_basket.py --worker VARIANT HEAP PARTS SF_DIR
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


def _variant_df(spark, sf_dir: str, variant: str):
    from pyspark.sql import functions as F

    from t20_database_etl_pipeline_assignment_spark.registry import QUERIES
    from t20_database_etl_pipeline_assignment_spark.sources.tables import table

    if variant == "basket_complete":  # the shipped plan
        return QUERIES["market_basket_pairs"](spark, sf_dir)

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    if variant == "selfjoin_semi":  # round-6 shipped formulation
        items = li.distinct()
        n = items.agg(F.count_distinct("l_orderkey").alias("n_orders"))
        freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
        frequent = items.join(
            F.broadcast(freq.filter(F.col("c") >= 2).select("l_partkey")),
            "l_partkey",
            "left_semi",
        )
        a, b = frequent.alias("a"), frequent.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("pk1"),
                F.col("b.l_partkey").alias("pk2"),
            )
            .agg(F.count(F.lit(1)).alias("c_ab"))
            .filter(F.col("c_ab") >= 2)
        )
    elif variant == "basket_partial":
        baskets = (
            li.groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
            .repartition("l_orderkey")
        )
        n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
        freq = (
            baskets.select(F.explode("ps").alias("l_partkey"))
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        frequent = freq.filter(F.col("c") >= 2).select("l_partkey")
        pair_arr = F.flatten(
            F.transform(
                "ps",
                lambda x, i: F.transform(
                    F.slice(F.col("ps"), i + F.lit(2), F.size("ps")),
                    lambda y: F.struct(x.alias("pk1"), y.alias("pk2")),
                ),
            )
        )
        pairs = (
            baskets.select(F.explode(pair_arr).alias("p"))
            .select(F.col("p.pk1").alias("pk1"), F.col("p.pk2").alias("pk2"))
            .join(
                F.broadcast(frequent.withColumnRenamed("l_partkey", "pk1")),
                "pk1",
                "left_semi",
            )
            .join(
                F.broadcast(frequent.withColumnRenamed("l_partkey", "pk2")),
                "pk2",
                "left_semi",
            )
            .groupBy("pk1", "pk2")  # default partial+final — the A/B axis
            .agg(F.count(F.lit(1)).alias("c_ab"))
            .filter(F.col("c_ab") >= 2)
        )
    elif variant == "basket_packed":
        # the shipped plan with ONE packed BIGINT pair key through the big
        # exchange + complete aggregate: pk1 << 32 | pk2 (partkeys < 2^31)
        # instead of a two-long UnsafeRow — probes whether halving the
        # grouping-key width materially cuts the aggregate's hash state
        # (43.8 GB peak at sf10) and the 2 GB pair shuffle
        baskets = (
            li.groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
            .repartition("l_orderkey")
        )
        n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
        freq = (
            baskets.select(F.explode("ps").alias("l_partkey"))
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        frequent = freq.filter(F.col("c") >= 2).select("l_partkey")
        pair_arr = F.flatten(
            F.transform(
                "ps",
                lambda x, i: F.transform(
                    F.slice(F.col("ps"), i + F.lit(2), F.size("ps")),
                    lambda y: x.cast("long") * F.lit(4294967296).cast("long")
                    + y.cast("long"),
                ),
            )
        )
        packed = (
            baskets.select(F.explode(pair_arr).alias("k"))
            .join(
                F.broadcast(frequent.withColumnRenamed("l_partkey", "pk1")),
                F.shiftright("k", 32) == F.col("pk1"),
                "left_semi",
            )
            .join(
                F.broadcast(frequent.withColumnRenamed("l_partkey", "pk2")),
                F.col("k").bitwiseAND(F.lit(4294967295).cast("long"))
                == F.col("pk2"),
                "left_semi",
            )
            .repartition(
                2 * int(spark.conf.get("spark.sql.shuffle.partitions")), "k"
            )
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("c_ab"))
            .filter(F.col("c_ab") >= 2)
        )
        pairs = packed.select(
            F.shiftright("k", 32).alias("pk1"),
            F.col("k").bitwiseAND(F.lit(4294967295).cast("long")).alias("pk2"),
            "c_ab",
        )
    else:
        raise SystemExit(f"unknown variant {variant!r}")

    fa = freq.select(F.col("l_partkey").alias("pk1"), F.col("c").alias("ca"))
    fb = freq.select(F.col("l_partkey").alias("pk2"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(fa), "pk1")
        .join(F.broadcast(fb), "pk2")
        .crossJoin(F.broadcast(n))
        .select(
            "pk1",
            "pk2",
            "c_ab",
            (F.col("c_ab") / (F.lit(1.0) * F.col("n_orders"))).alias("support"),
            (F.col("c_ab") / (F.lit(1.0) * F.col("ca"))).alias("confidence"),
            (
                (F.col("c_ab") * F.col("n_orders"))
                / (F.lit(1.0) * F.col("ca") * F.col("cb"))
            ).alias("lift"),
        )
    )


def _worker(variant: str, heap: str, parts: str, sf_dir: str) -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rep = obs.timed(lambda: _variant_df(spark, sf_dir, variant),
                    action=lambda df: df.count(), spark=spark)
    t = rep.stages
    rec = {
        "variant": variant,
        "heap": heap,
        "shuffle_partitions": int(parts),
        "rows": rep.result,
        "wall_sec": round(rep.exec_s, 1),
        **{k: t.get(k) for k in ("spill_disk_mb", "shuffle_write_mb",
                                 "peak_stage_execution_memory_mb", "heavy_stages")},
    }
    print("WORKER_JSON:" + json.dumps(rec), flush=True)


# ---------------------------------------------------------------------------
# orchestrator
# ---------------------------------------------------------------------------


def _run(variant: str, heap: str, parts: str, sf_dir: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker",
         variant, heap, parts, sf_dir],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
    )
    for line in p.stdout.splitlines():
        if line.startswith("WORKER_JSON:"):
            return json.loads(line[len("WORKER_JSON:"):])
    tail = (p.stderr or p.stdout).strip().splitlines()[-3:]
    status = "oom" if any("OutOfMemoryError" in ln for ln in
                          (p.stderr or "").splitlines()) else "error"
    return {"variant": variant, "heap": heap, "shuffle_partitions": int(parts),
            "status": status, "tail": tail}


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        _worker(*sys.argv[2:6])
        return 0
    args = sys.argv[1:]
    sf10 = SF10_DEFAULT
    sf1 = SF1_DEFAULT
    if "--sf10" in args:
        sf10 = args[args.index("--sf10") + 1]
    if "--sf1" in args:
        sf1 = args[args.index("--sf1") + 1]
    if "--variants" in args:
        # targeted A/B: run only the named variants at sf10 (8g/64, the
        # bench_scaling operating point) and print records — does NOT
        # rewrite BENCH_BASKET.json (the full suite owns that artifact)
        names = args[args.index("--variants") + 1].split(",")
        recs = [_run(v, "8g", "64", sf10) for v in names]
        for r in recs:
            print(json.dumps(r), flush=True)
        counts = {r.get("rows") for r in recs if "rows" in r}
        print(f"row_counts_agree: {len(counts) == 1}")
        return 0

    out: dict = {"sf10_dir": sf10, "sf1_dir": sf1}
    # formulation A/B at sf10, the bench_scaling operating point (the
    # session policy's 8g heap, volume-scaled 64 partitions) plus the
    # shipped plan at 128 to record the partition lever
    runs = []
    for variant in ("selfjoin_semi", "basket_partial", "basket_complete",
                    "basket_packed"):
        runs.append(_run(variant, "8g", "64", sf10))
        print(json.dumps(runs[-1]), flush=True)
    runs.append(_run("basket_complete", "8g", "128", sf10))
    print(json.dumps(runs[-1]), flush=True)
    out["sf10_ab"] = runs
    counts = {r.get("rows") for r in runs if "rows" in r}
    out["row_counts_agree"] = len(counts) == 1

    # bounded-heap degradation of the shipped plan at sf1: does a small
    # executor spill (graceful) or die? 1g x 32 threads is ~13 MB of
    # execution pool per task — included to RECORD that no formulation
    # survives it (GCLocker allocation races), not as a target shape.
    heaps = []
    for heap in ("1g", "2g", "4g"):
        heaps.append(_run("basket_complete", heap, "32", sf1))
        print(json.dumps(heaps[-1]), flush=True)
    out["sf1_bounded_heap"] = heaps

    path = os.path.join(REPO, "BENCH_BASKET.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"-> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
