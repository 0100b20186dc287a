"""Streaming CDC compaction — the op-coded counterpart of the SCD2 sink
(reference README.md:4 incremental loads, README.md:6 upserts): an
upsert/delete change stream drains through `foreachBatch`, and every
micro-batch folds into a keyed current-state parquet table by global
last-op-wins, with tombstones retained so out-of-order batches can never
resurrect a deleted key.

Exactly-once reuses the SCD2 sink's building blocks unchanged
(streaming/scd2_sink.py): `atomic_swap_publish` commits the state table
with its marker through the one commit protocol (streaming/commit.py),
`recover_dim` finishes or drops a crashed publish before each fold, and
re-delivered batch_ids are skipped. Unlike the SCD2 day-fold,
CDC compaction has NO ordering constraint across batches: the fold is a
pure per-key argmax on (ts, tiebreak), which is associative and
commutative — any batch arrival order converges to the same state, so
there is no watermark assumption and no late-data special case.

The registered `stream_cdc_compaction` query is the batch-checkable
contract: the per-day live-key trajectory (how many keys are in state U
after folding everything up to each day) — exactly the metric a deployed
compaction sink publishes per micro-batch, derived in one pass from
day-level op transitions (+1 on D/absent→U, -1 on U→D) and a cumulative
sum over the day-granularity delta relation.

Scale: per micro-batch the only shuffle is the argmax over state ∪ batch
keyed on the key column; state size is bounded by live keys + tombstones
(tombstones are compactable once all producers pass their timestamp — the
standard retention policy). The trajectory cumsum runs over a relation
with one row per DAY, bounded by the calendar (≤ O(years × 365) rows), so
its single-task window is a constant-size tail stage — and like the
peak-concurrency sweep, it composes by range-chunking time and
broadcasting chunk offsets if a deployment ever needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import table
from .scd2_sink import _read_state, atomic_swap_publish, recover_dim


def cdc_stream_sink(state_path, key, val_cols, ts_col="ts", tiebreak="event_id",
                    op_col="op"):
    """Build the foreachBatch callable. State table columns:
    key + val_cols + ts_col + tiebreak + op_col, INCLUDING 'D' tombstones
    (a tombstone must outlive the slowest producer or an out-of-order
    older upsert would resurrect the key). `fold.applied`/`fold.skipped`
    record the exactly-once bookkeeping for tests."""
    cols = [key, *val_cols, ts_col, tiebreak, op_col]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_dim(state_path)
        st = _read_state(state_path)
        if st is not None and batch_id <= st["batch_id"]:
            fold.skipped.append(batch_id)
            return
        incoming = batch_df.select(*cols)
        if st is not None:
            incoming = spark.read.parquet(state_path).select(*cols).unionByName(incoming)
        w = Window.partitionBy(key).orderBy(F.desc(ts_col), F.desc(tiebreak))
        new_state = (
            incoming.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        atomic_swap_publish(new_state, state_path, {"batch_id": batch_id})
        fold.applied.append(batch_id)

    fold.applied, fold.skipped = [], []
    return fold


def cdc_live_view(spark: SparkSession, state_path: str, op_col: str = "op") -> DataFrame:
    """The serving view over the compacted state: tombstones filtered out."""
    return spark.read.parquet(state_path).filter(F.col(op_col) == "U").drop(op_col)


@query(
    "stream_cdc_compaction",
    oracle="""
WITH log AS (
  SELECT user_id, event_id, ts, date_trunc('day', ts) AS d,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events),
dayop AS (
  SELECT * FROM (
    SELECT user_id, d, op,
           ROW_NUMBER() OVER (PARTITION BY user_id, d
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM log) WHERE rn = 1),
trans AS (
  SELECT d,
         CASE WHEN op = 'U' AND (prev IS NULL OR prev = 'D') THEN 1
              WHEN op = 'D' AND prev = 'U' THEN -1
              ELSE 0 END AS delta
  FROM (SELECT user_id, d, op,
               LAG(op) OVER (PARTITION BY user_id ORDER BY d) AS prev
        FROM dayop)),
daily AS (SELECT d, SUM(delta) AS delta FROM trans GROUP BY d)
SELECT CAST(d AS TIMESTAMP) AS day,
       CAST(SUM(delta) OVER (ORDER BY d) AS BIGINT) AS n_live
FROM daily
""",
)
def stream_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-checkable contract for the streaming CDC compaction sink: the
    per-day live-key trajectory — after folding every change up to day d
    (last-op-wins per key, `error` plays the delete op), how many keys are
    live. Derived WITHOUT materializing per-day state: day-level last op
    per key (one argmax window), ±1 transition deltas per key (one lag on
    the same key partitioning), a per-day rollup, and a cumulative sum over
    the day-granularity delta relation (calendar-bounded; see module
    docstring for the chunked-composition story). tests/test_streaming.py
    replays the events as day micro-batches through the REAL sink — with a
    crash, a re-delivery, and out-of-order batches — and asserts the live
    count after each fold lands on this trajectory."""
    e = table(spark, sf_dir, "events")
    log = e.select(
        "user_id",
        "event_id",
        "ts",
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    w_day = Window.partitionBy("user_id", "d").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    dayop = (
        log.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select("user_id", "d", "op")
    )
    w_seq = Window.partitionBy("user_id").orderBy("d")
    trans = dayop.select(
        "d",
        F.lag("op").over(w_seq).alias("prev"),
        "op",
    ).select(
        "d",
        F.when(
            (F.col("op") == "U")
            & (F.col("prev").isNull() | (F.col("prev") == "D")),
            1,
        )
        .when((F.col("op") == "D") & (F.col("prev") == "U"), -1)
        .otherwise(0)
        .alias("delta"),
    )
    daily = trans.groupBy("d").agg(F.sum("delta").alias("delta"))
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").alias("day"),
        F.sum("delta").over(w_cum).cast("long").alias("n_live"),
    )
