"""End-to-end ETL pipeline runner — the reference's headline shape.

Reference parity: "designed and implemented end-to-end ETL pipelines to
extract raw data from multiple sources, transform it using PySpark, and load
it … for querying and analysis" (reference README.md:10), "implemented
incremental load and full load strategies" (README.md:4), "Slowly Changing
Dimensions (SCD) Type 1 and Type 2" (README.md:6), "leveraging parallel
processing" (README.md:8), and "data integrity and consistency by
implementing error handling and logging mechanisms throughout the ETL
process" (README.md:12).

A run is three independent flows that share no data, so they run
concurrently on three threads (`run_concurrently`, which keeps the
caller's Spark job group and description on every job they start). Each
flow opens its own source scan inside its own stage:

  facts      lineitem → validate (dq_quarantine splits valid rows from
             quarantined ones with per-rule reject reasons, README.md:12)
             → load_facts (overwrite, partitioned by ship_year)
  dimension  customer → conform_scd2 (SCD2 upsert of the customer
             dimension at a *parameterized* batch timestamp — no
             current_timestamp, so reruns are deterministic; the nightly
             run rewrites only the hash bands whose snapshot slice changed)
  events     events → load_events_incremental (first run: full load;
             after that: the rows above the watermark, appended)

Each flow is a chain of small, latency-bound jobs (1-11 tasks at sf0.01
on 4 cores), so one flow alone leaves cores idle that the others fill.

Nightly work follows the change, not the history, through two committed
markers; both start with `_`, which Spark's and pyarrow's readers skip.

  dim_customer/_dim_state.json  per band: the row total, and a 128-bit
             digest of the snapshot slice last applied (the sums of two
             64-bit hashes of each row's `row_encoding`). A night runs one
             aggregate over the snapshot by band; the bands whose digest
             differs are folded and published, and their new totals are
             observed on the band write.
  events/_events_state.json  the watermark and the row total. A night
             writes only its fresh rows, and their part files are
             published flat into `events/`.

Crash windows. Both tables publish through `streaming/commit.py`'s one
protocol: Spark writes only into the staging dir beside the table, the
marker is written last into that dir as the commit record, and the staged
entries (the first load's whole table, a night's `_band=N` dirs or events
part files) are then moved over the table, the marker last. Each flow
calls `recover` before it looks at its table: a staging dir that holds
its marker is rolled forward, one without it (a torn write, a crash
before the marker) is deleted, so a torn first load is loaded again and a
torn night leaves the last committed night. Only a committed marker is
trusted; an absent or unreadable one (or one in another state) is rebuilt
with one aggregate over the table (the dimension's bands, the loaded
events), and the run then takes its usual path: re-applying a band's
unchanged slice is a no-op, and the events anti-join on loaded ids adds
no row twice. The first run takes each marker from `Observation`s on the
table's write.

Audit: structured metrics (row counts per flow, rejects per rule, stage
durations) via std-lib logging and the returned dict. The counts come from
the write-side metrics and the markers: `Observation`s ride on the writes
that already run (the fact write carries the DQ split and the fact rows,
the events writes the fresh rows, the band writes the band totals), so
counting costs no extra Spark job.

Failure: every stage logs; a failing stage is logged as FAILED with its
name and its error propagates. The other flows still run to completion
and publish their targets; `run_etl` re-raises the first failure (flow
order: facts, dimension, events) only after all three have finished, so
no flow is left writing behind the caller. The caller decides retry
policy; a rerun of the same batch is idempotent. All writes land under a
caller-supplied target directory (never the fixtures).

Scale: the runner adds NO driver-side data movement of its own — each stage
is a DataFrame plan. At 100 TB the same runner executes unchanged; only
session/master config and target paths differ.
"""

from __future__ import annotations

import json
import logging
import operator
import os
import time
from contextlib import contextmanager
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.etl import (
    dq_quarantine,
    incr_fresh_rows,
    row_encoding,
    scd2_apply,
    scd2_init,
)
from .sources.tables import table
from .streaming.commit import publish, recover, staging

log = logging.getLogger("t20spark.pipeline")

_N_DIM_BANDS = 16
_DIM_STATE = "_dim_state.json"  # per-band row totals + snapshot digests
_EVENTS_STATE = "_events_state.json"  # watermark + row total of events/
_NO_DIGEST = ["0", "0"]  # the digest of an empty snapshot slice


def _dim_band(key) -> Column:
    """Stable key-hash band — the dimension's physical partition key.
    Hash-based (not range-based) so bands stay balanced as keys grow, and
    deterministic across runs so a key always lands in the same band."""
    return F.pmod(F.xxhash64(key), F.lit(_N_DIM_BANDS)).cast("int")


def _digest_terms(cols) -> list[Column]:
    """The two 64-bit hashes of a row's `row_encoding` whose per-band sums
    make the band's 128-bit digest. Summed as decimal(38,0): exact, and
    independent of row order and of the ANSI overflow setting."""
    enc = row_encoding(cols)
    return [
        F.xxhash64(enc).cast("decimal(38,0)"),
        F.xxhash64(F.lit("t20spark.dim"), enc).cast("decimal(38,0)"),
    ]


def _marker(path: str) -> dict:
    """The state marker at `path`, or {} when it is absent or unreadable.
    Only a `committed` marker is trusted; every other state is rebuilt
    from the table itself."""
    try:
        with open(path) as f:
            st = json.load(f)
    except (OSError, ValueError):
        return {}
    return st if isinstance(st, dict) else {}


def _stage_changed_bands(
    target: DataFrame,
    staged: DataFrame,
    keys,
    attrs,
    batch_ts: str,
    dim_path: str,
    state: dict[int, dict],
    changed: list[int],
) -> None:
    """Fold ONLY the changed bands through scd2_apply and write exactly
    those partition dirs to the dimension's staging dir, for `publish` to
    move over their live dirs. Untouched band files are never opened,
    rewritten, or re-timestamped — the nightly dimension rewrite is pruned
    to |changed bands| / _N_DIM_BANDS of the dimension. `state` is the new
    marker's entry per band; the changed bands' row totals are filled in
    from an Observation on the band write."""
    key = F.col(keys[0])
    tslice = target.filter(F.col("_band").isin(changed)).drop("_band")
    sslice = staged.filter(_dim_band(key).isin(changed))
    folded = scd2_apply(tslice, sslice, keys=keys, attrs=attrs, batch_ts=batch_ts)
    folded = folded.withColumn("_band", _dim_band(key))
    counts = Observation()
    folded = folded.observe(
        counts, *[F.count(F.when(F.col("_band") == b, 1)).alias(str(b)) for b in changed]
    )
    folded.write.mode("overwrite").partitionBy("_band").parquet(staging(dim_path))
    for b in changed:
        state[b]["rows"] = counts.get[str(b)]


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


def run_concurrently(spark: SparkSession, *thunks) -> list:
    """Run each thunk on its own thread and return their results in order.
    Every thread inherits the caller's Spark local properties (job group,
    job description, scheduler pool), so the jobs it starts are attributed
    like the caller's own. Waits for ALL thunks, then re-raises the first
    failure in argument order: a failed thunk never leaves another one
    writing behind the caller's back."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]


def _observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with a row counter attached: the count is collected by the
    action that runs `df` (a write), not by an extra job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


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
    """One full pipeline run — the fact, dimension and events flows run
    concurrently; returns the audit-metrics dict."""
    metrics: dict = {"batch_ts": batch_ts}
    run_concurrently(
        spark,
        lambda: _facts_flow(spark, sf_dir, target_dir, metrics),
        lambda: _dimension_flow(spark, sf_dir, target_dir, batch_ts, metrics),
        lambda: _events_flow(spark, sf_dir, target_dir, metrics),
    )
    log.info("pipeline complete: %s", metrics)
    return metrics


def _facts_flow(spark: SparkSession, sf_dir: str, target_dir: str, metrics: dict) -> None:
    """lineitem → DQ split → partitioned fact write. The DQ counts are
    observed on the scan side of the same write: a rule rejects a row iff
    its condition is FALSE (dq_quarantine's rule), and a rule with no
    rejects is left out of `rejects_by_rule`."""
    with _stage("validate", metrics):
        rules = lineitem_rules()
        dq = Observation()
        lineitem = table(spark, sf_dir, "lineitem").observe(
            dq,
            F.count(F.lit(1)).alias("_rows"),
            F.count(F.when(reduce(operator.or_, [~c for c in rules.values()]), 1)).alias(
                "_quarantined"
            ),
            *[F.count(F.when(~c, 1)).alias(name) for name, c in rules.items()],
        )
        valid, _ = dq_quarantine(lineitem, rules)
        fact, facts = _observe_rows(valid)

    with _stage("load_facts", metrics):
        fact.withColumn("ship_year", F.year("l_shipdate")).write.mode(
            "overwrite"
        ).partitionBy("ship_year").parquet(f"{target_dir}/fact_lineitem")
        seen = dq.get
        metrics["rejects_by_rule"] = {r: seen[r] for r in rules if seen[r]}
        metrics["rows_valid"] = seen["_rows"] - seen["_quarantined"]
        metrics["fact_rows"] = facts.get["rows"]


def _dimension_flow(
    spark: SparkSession, sf_dir: str, target_dir: str, batch_ts: str, metrics: dict
) -> None:
    """customer → SCD2 dimension: a full band-partitioned write on the
    first run, the changed bands only after that.

    A band is changed when the digest of its slice of the staged snapshot
    differs from the digest the marker holds for the slice last applied.
    That is sound because the input is a full snapshot: an equal digest
    means an equal slice, and re-applying an unchanged slice is a no-op —
    also when a key has left the snapshot, since SCD2 never closes a key
    for being absent. A marker rebuilt from the dimension's current rows
    differs from the snapshot's digest only in bands where a key has left,
    and rewriting those bands is again a no-op. Finding the changed bands
    is one aggregate over the snapshot by band; the dimension is read only
    for the changed bands' rows, and `dim_customer_rows` is the sum of
    the marker's band totals."""
    with _stage("conform_scd2", metrics):
        customer = table(spark, sf_dir, "customer")
        keys, attrs = ["c_custkey"], ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
        dim_path = f"{target_dir}/dim_customer"
        recover(dim_path, _DIM_STATE)  # finish or drop a crashed run's publish
        band = _dim_band(F.col(keys[0]))
        digest = _digest_terms([*keys, *attrs])
        dim0 = scd2_init(customer, batch_ts="1970-01-01 00:00:00").withColumn("_band", band)
        if not os.path.exists(dim_path):
            # first run: initialize open-ended history, band-partitioned
            # (applying the first snapshot to its own init is a no-op);
            # the marker's totals and digests ride on the write
            seen = Observation()
            dim0.select("*", *[d.alias(f"_d{i}") for i, d in enumerate(digest)]).observe(
                seen, *_band_sums(F.col("_band"), F.lit(True), "_d0", "_d1")
            ).drop("_d0", "_d1").write.mode("overwrite").partitionBy("_band").parquet(
                staging(dim_path)
            )
            state = _band_state(seen.get)
            metrics["dim_bands_rewritten"] = _N_DIM_BANDS
            dirty = True
        else:
            # nightly run: fold + rewrite ONLY bands whose slice changed
            def read_dim() -> DataFrame:
                # the dimension's schema is known: no schema-inference job
                return spark.read.schema(dim0.schema).parquet(dim_path)

            st = _marker(os.path.join(dim_path, _DIM_STATE))
            committed = st.get("state") == "committed"
            state = (
                {int(b): e for b, e in st["bands"].items()}
                if committed
                else _band_state_from_rows(read_dim(), digest)
            )
            snap = {
                r["_band"]: [str(r["d0"]), str(r["d1"])]
                for r in customer.groupBy(band.alias("_band"))
                .agg(*[F.sum(d).alias(f"d{i}") for i, d in enumerate(digest)])
                .collect()
            }
            changed = [b for b in state if snap.get(b, _NO_DIGEST) != state[b]["digest"]]
            metrics["dim_bands_rewritten"] = len(changed)
            for b in changed:
                state[b] = {"rows": None, "digest": snap.get(b, _NO_DIGEST)}
            if changed:
                _stage_changed_bands(
                    read_dim(), customer, keys, attrs, batch_ts, dim_path, state, changed
                )
            dirty = bool(changed) or not committed
        if dirty:
            publish(dim_path, _DIM_STATE, {"state": "committed", "bands": state})
        metrics["dim_customer_rows"] = sum(e["rows"] for e in state.values())


def _band_sums(band: Column, current: Column, d0: str, d1: str) -> list[Column]:
    """Per band: the row total, and the digest sums over the rows where
    `current` holds — as named aggregates for one Observation or select."""
    out = []
    for b in range(_N_DIM_BANDS):
        at = band == b
        out.append(F.count(F.when(at, 1)).alias(f"rows{b}"))
        for d in (d0, d1):
            out.append(F.sum(F.when(at & current, F.col(d))).alias(f"{d}_{b}"))
    return out


def _band_state(sums) -> dict[int, dict]:
    """`_band_sums`' values (a dict or Row) as the marker's band entries."""
    return {
        b: {"rows": sums[f"rows{b}"],
            "digest": [str(sums[f"_d0_{b}"] or 0), str(sums[f"_d1_{b}"] or 0)]}
        for b in range(_N_DIM_BANDS)
    }


def _band_state_from_rows(dim: DataFrame, digest) -> dict[int, dict]:
    """Rebuild the marker's band entries from the dimension itself, in one
    aggregate: each band's row total and the digest of its current rows
    (which equal the last applied snapshot slice, save keys that left)."""
    row = dim.select(
        "_band", "is_current", *[d.alias(f"_d{i}") for i, d in enumerate(digest)]
    ).agg(*_band_sums(F.col("_band"), F.col("is_current"), "_d0", "_d1")).first()
    return _band_state(row)


def _raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The night's raw `events.parquet`, with `table()`'s conversion of a
    legacy TIMESTAMP(NANOS) `ts`; not `table()`'s re-split copy, which
    would copy every night's source into the index cache."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


def _events_flow(spark: SparkSession, sf_dir: str, target_dir: str, metrics: dict) -> None:
    """events → full load on the first run, an append of the fresh rows
    after that. The fresh rows are the source rows above the marker's
    watermark whose ids are not loaded yet; their part files are published
    flat into `events/`. Without a committed marker, the watermark and the
    row total come from one aggregate over the loaded events."""
    with _stage("load_events_incremental", metrics):
        events = _raw_events(spark, sf_dir)
        ev_path = f"{target_dir}/events"
        # a torn first load must read as no load, never as loaded history
        recover(ev_path, _EVENTS_STATE)
        stats = [F.count(F.lit(1)).alias("rows"), F.max("ts").alias("wm")]
        seen = Observation()
        if not os.path.exists(ev_path):
            events.observe(seen, *stats).write.mode("overwrite").parquet(staging(ev_path))
            rows, wm = seen.get["rows"], seen.get["wm"]
        else:
            loaded = spark.read.schema(events.schema).parquet(ev_path)
            st = _marker(os.path.join(ev_path, _EVENTS_STATE))
            if st.get("state") == "committed":
                rows, wm = st["rows"], st["watermark"]
            else:
                got = loaded.agg(*stats).first()
                rows, wm = got["rows"], got["wm"]
            above = (
                F.lit(True) if wm is None  # no events loaded yet
                else F.col("ts") > F.lit(str(wm)).cast(dict(events.dtypes)["ts"])
            )
            incr_fresh_rows(loaded, events, above, "event_id").observe(
                seen, *stats
            ).write.mode("overwrite").parquet(staging(ev_path))
            rows += seen.get["rows"]
            wm = seen.get["wm"] or wm
        publish(ev_path, _EVENTS_STATE, {
            "state": "committed", "rows": rows, "watermark": None if wm is None else str(wm)
        })
        metrics["events_rows"] = rows
