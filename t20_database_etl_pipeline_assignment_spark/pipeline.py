"""End-to-end ETL pipeline runner — the reference's headline shape.

Reference parity: "designed and implemented end-to-end ETL pipelines to
extract raw data from multiple sources, transform it using PySpark, and load
it … for querying and analysis" (reference README.md:10), "implemented
incremental load and full load strategies" (README.md:4), "Slowly Changing
Dimensions (SCD) Type 1 and Type 2" (README.md:6), and "data integrity and
consistency by implementing error handling and logging mechanisms throughout
the ETL process" (README.md:12).

This module composes the operator library into one auditable run:

  extract  → schema-validated Parquet scans (multiple "sources": the star
             fixtures stand in for heterogeneous feeds)
  validate → dq_quarantine splits facts into valid/quarantined with
             per-rule reject reasons (README.md:12)
  conform  → SCD2 upsert of the customer dimension at a *parameterized*
             batch timestamp (no current_timestamp — deterministic reruns)
  load     → full load (overwrite) for dims, partitioned append-shaped
             write for facts, incremental watermark load for events
  audit    → structured metrics (row counts per stage, rejects per rule,
             stage durations) via std-lib logging + a returned dict

Every stage logs; any stage failure is logged with its stage name and
re-raised — the caller decides retry policy. All writes land under a caller
-supplied target directory (never the fixtures).

Scale: the runner adds NO driver-side data movement of its own — each stage
is a DataFrame plan; counts come from the write-side metrics queries. At
100 TB the same runner executes unchanged; only session/master config and
target paths differ.
"""

from __future__ import annotations

import logging
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.etl import (
    _row_hash,
    dq_quarantine,
    incr_load_watermark,
    scd2_apply,
    scd2_init,
)
from .sources.tables import table
from .streaming.scd2_sink import recover_swap, swap_in

log = logging.getLogger("t20spark.pipeline")

_N_DIM_BANDS = 16


def _dim_band(key) -> Column:
    """Stable key-hash band — the dimension's physical partition key.
    Hash-based (not range-based) so bands stay balanced as keys grow, and
    deterministic across runs so a key always lands in the same band."""
    return F.pmod(F.xxhash64(key), F.lit(_N_DIM_BANDS)).cast("int")


def _scd2_changed_bands(target: DataFrame, staged: DataFrame, keys, attrs) -> list[int]:
    """Bands containing at least one changed or net-new key. SCD2 never
    deletes a key absent from the staged batch, so every other band's fold
    output is bit-identical to its input — those partitions need no
    rewrite. The collect is bounded by _N_DIM_BANDS rows."""
    cur = target.filter(F.col("is_current")).select(*keys, _row_hash(attrs).alias("_th"))
    stg = staged.select(*keys, _row_hash(attrs).alias("_sh"))
    delta = stg.join(cur, on=list(keys), how="left").filter(
        F.col("_th").isNull() | (F.col("_th") != F.col("_sh"))
    )
    rows = delta.select(_dim_band(F.col(keys[0])).alias("_band")).distinct().collect()
    return sorted(r["_band"] for r in rows)


def _scd2_rewrite_bands(
    spark: SparkSession,
    target: DataFrame,
    staged: DataFrame,
    keys,
    attrs,
    batch_ts: str,
    dim_path: str,
    bands: list[int],
) -> None:
    """Fold ONLY the changed bands through scd2_apply and swap exactly
    those partition directories (write-to-temp + rename per band, same
    discipline as _overwrite_in_place). Untouched band files are never
    opened, rewritten, or re-timestamped — the nightly dimension rewrite
    is pruned to |changed bands| / _N_DIM_BANDS of the dimension."""
    key = F.col(keys[0])
    tslice = target.filter(F.col("_band").isin(bands)).drop("_band")
    sslice = staged.filter(_dim_band(key).isin(bands))
    folded = scd2_apply(tslice, sslice, keys=keys, attrs=attrs, batch_ts=batch_ts)
    tmp = dim_path + ".tmp-bands"
    shutil.rmtree(tmp, ignore_errors=True)
    folded.withColumn("_band", _dim_band(key)).write.mode("overwrite").partitionBy(
        "_band"
    ).parquet(tmp)
    for b in bands:
        src = os.path.join(tmp, f"_band={b}")
        if not os.path.exists(src):  # defensive: changed band always has rows
            continue
        dst = os.path.join(dim_path, f"_band={b}")
        # survivor name carries NO '=': Spark's partition discovery treats
        # an underscore dir containing '=' as a data path, so '_band=3.old'
        # would surface as a bogus string partition value; '_oldband.3'
        # stays hidden even if a crash strands it
        old = os.path.join(dim_path, f"_oldband.{b}")
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def recover_band_swaps(dim_path: str) -> None:
    """Heal the per-band swap crash windows before the dimension is read:
    a stranded '_oldband.N' survivor is restored when its live band is
    missing (crash between the two renames) and discarded when the live
    band exists (crash before cleanup). Legacy '_band=N.old' survivors
    from the pre-hidden naming are healed the same way. Idempotent; called
    at the top of every nightly run."""
    if not os.path.isdir(dim_path):
        return
    for name in os.listdir(dim_path):
        band = None
        if name.startswith("_oldband."):
            band = name[len("_oldband."):]
        elif name.startswith("_band=") and name.endswith(".old"):
            band = name[len("_band="):-len(".old")]
        if band is None:
            continue
        old = os.path.join(dim_path, name)
        live = os.path.join(dim_path, f"_band={band}")
        if os.path.exists(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)


@contextmanager
def _stage(name: str, metrics: dict):
    """Log + time one pipeline stage; log and re-raise on failure
    (reference README.md:12 'error handling and logging … throughout')."""
    t0 = time.perf_counter()
    log.info("stage %s: start", name)
    try:
        yield
    except Exception:
        log.exception("stage %s: FAILED", name)
        raise
    finally:
        metrics[f"{name}_sec"] = round(time.perf_counter() - t0, 3)
        log.info("stage %s: done in %.3fs", name, metrics[f"{name}_sec"])


def _overwrite_in_place(spark: SparkSession, df: DataFrame, path: str) -> int:
    """Safely overwrite a parquet dir that `df`'s lineage READS from.

    `cache().count()` is NOT a persistence guarantee — evicted blocks
    recompute from the source path mid-overwrite and can corrupt the
    target. Instead: write to a sibling temp dir (fully materializing the
    plan against the still-intact source), then `swap_in`. Returns the new
    row count.
    """
    tmp = path + ".tmp-swap"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    swap_in(tmp, path)
    return spark.read.parquet(path).count()


def lineitem_rules() -> dict:
    """Built lazily — Column construction needs an active Spark session."""
    return {
        "quantity_range": F.col("l_quantity").between(1, 50),
        "discount_max": F.col("l_discount") <= 0.10,
        "nonnull_key": F.col("l_orderkey").isNotNull(),
    }


def run_etl(
    spark: SparkSession, sf_dir: str, target_dir: str, batch_ts: str
) -> dict:
    """One full pipeline run; returns the audit-metrics dict."""
    metrics: dict = {"batch_ts": batch_ts}

    with _stage("extract", metrics):
        customer = table(spark, sf_dir, "customer")
        lineitem = table(spark, sf_dir, "lineitem")
        events = table(spark, sf_dir, "events")

    with _stage("validate", metrics):
        valid, quarantined = dq_quarantine(lineitem, lineitem_rules())
        rejects = (
            quarantined.select(F.explode("_dq_reasons").alias("rule"))
            .groupBy("rule")
            .count()
            .collect()
        )
        metrics["rejects_by_rule"] = {r["rule"]: r["count"] for r in rejects}
        metrics["rows_valid"] = valid.count()

    with _stage("conform_scd2", metrics):
        keys, attrs = ["c_custkey"], ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
        dim_path = f"{target_dir}/dim_customer"
        recover_band_swaps(dim_path)  # heal any torn swap from a crashed run
        if not os.path.exists(dim_path):
            # first run: initialize open-ended history, band-partitioned
            # (applying the first snapshot to its own init is a no-op)
            dim0 = scd2_init(customer, batch_ts="1970-01-01 00:00:00").withColumn(
                "_band", _dim_band(F.col(keys[0]))
            )
            dim0.write.mode("overwrite").partitionBy("_band").parquet(dim_path)
            metrics["dim_bands_rewritten"] = _N_DIM_BANDS
        else:
            # nightly run: fold + rewrite ONLY bands holding changed keys
            target = spark.read.parquet(dim_path)
            bands = _scd2_changed_bands(target, customer, keys, attrs)
            metrics["dim_bands_rewritten"] = len(bands)
            if bands:
                _scd2_rewrite_bands(
                    spark, target, customer, keys, attrs, batch_ts, dim_path, bands
                )
        metrics["dim_customer_rows"] = spark.read.parquet(dim_path).count()

    with _stage("load_facts", metrics):
        fact = valid.withColumn("ship_year", F.year("l_shipdate"))
        fact.write.mode("overwrite").partitionBy("ship_year").parquet(
            f"{target_dir}/fact_lineitem"
        )
        metrics["fact_rows"] = spark.read.parquet(f"{target_dir}/fact_lineitem").count()

    with _stage("load_events_incremental", metrics):
        ev_path = f"{target_dir}/events"
        # a crash inside the last night's swap must not read as a first run:
        # that would reload the source alone and drop the loaded history
        recover_swap(ev_path)
        if os.path.exists(ev_path):
            loaded = spark.read.parquet(ev_path)
            merged = incr_load_watermark(loaded, events, ts_col="ts", id_col="event_id")
            merged_rows = _overwrite_in_place(spark, merged, ev_path)
        else:
            events.write.mode("overwrite").parquet(ev_path)
            merged_rows = spark.read.parquet(ev_path).count()
        metrics["events_rows"] = merged_rows

    log.info("pipeline complete: %s", metrics)
    return metrics
