"""ETL composite operators (SURVEY.md §2.H) — the reference's headline
features re-expressed as composable DataFrame plan builders.

Reference parity:
- incremental + full load strategies        (reference README.md:4,14)
- SCD Type 1 and Type 2 with history        (reference README.md:6,14)
- error handling / data integrity           (reference README.md:12)

Design rules:
- Library functions take DataFrames and return DataFrames — they build
  logical plans, never execute row-at-a-time. `batch_ts` is always a
  parameter (never current_timestamp) for deterministic, replayable runs.
- Change detection hashes one NULL-safe row encoding (`row_encoding`: a
  JSON object of the attrs' string renderings, sha2-256) — stable across
  runs and engines, and cheap to compare before any shuffle. pipeline.py
  digests the same encoding per key-hash band of the dimension and
  rewrites only the bands whose digest changed (_scd2_rewrite_bands — the
  "only changed partitions rewrite" claim, pinned by
  tests/test_pipeline.py).
- Scale: each composite is one or two key-partitioned shuffles. The staged
  batch is usually ≪ target → Spark broadcasts it; the target never needs a
  global sort. The registry queries derive (target, staged) pairs
  deterministically from `customer` (FIXTURES.md) so the DuckDB oracle sees
  identical inputs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import epoch_us
from ..registry import query
from ..sources.tables import table

_FAR_FUTURE = "2200-01-01"  # open-ended sentinel; 9999-12-31 overflows datetime64[ns]


def row_encoding(cols: Sequence[str]) -> Column:
    """One row's columns as a JSON object of their string renderings,
    NULLs kept: `{"a":null,"b":"x"}` differs from `{"a":"x","b":null}`,
    and a value holding a separator is quoted, not spliced. The one row
    encoding that change detection (`_row_hash`) and the dimension's band
    digests (pipeline.py) hash; Spark's `concat_ws`, `hash` and `xxhash64`
    all skip NULLs, so none of them may see the raw columns."""
    return F.to_json(
        F.struct(*[F.col(c).cast("string").alias(c) for c in cols]),
        {"ignoreNullFields": "false"},
    )


def _row_hash(cols: Sequence[str]) -> Column:
    """Order-stable attribute hash for change detection (README.md:6)."""
    return F.sha2(row_encoding(cols), 256)


# ---------------------------------------------------------------------------
# Library functions
# ---------------------------------------------------------------------------


def merge_upsert(
    target: DataFrame, staged: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """MERGE semantics without a table format: latest-wins per key.

    staged rows shadow target rows on the same key; net-new keys insert.
    One shuffle on the key. Deterministic survivor via explicit priority +
    row_number (dropDuplicates makes no ordering promise).
    """
    t = target.withColumn("_src", F.lit(0))
    s = staged.withColumn("_src", F.lit(1))
    w = Window.partitionBy(*keys).orderBy(F.desc("_src"))
    return (
        t.unionByName(s)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )


def scd1_apply(
    target: DataFrame,
    staged: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
) -> DataFrame:
    """SCD Type 1: overwrite changed attributes in place, keep no history
    (reference README.md:6). Hash-diff first so unchanged rows pass through
    untouched — at scale that means only changed partitions rewrite."""
    t = target.withColumn("_h", _row_hash(attrs))
    s = staged.withColumn("_h", _row_hash(attrs))
    changed_or_new = s.join(
        t.select(*keys, F.col("_h").alias("_th")),
        on=list(keys),
        how="left",
    ).filter((F.col("_th").isNull()) | (F.col("_th") != F.col("_h")))
    untouched = t.join(changed_or_new.select(*keys), on=list(keys), how="left_anti")
    return untouched.drop("_h").unionByName(
        changed_or_new.drop("_h", "_th")
    )


def scd2_apply(
    target: DataFrame,
    staged: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    batch_ts: str,
) -> DataFrame:
    """SCD Type 2 (reference README.md:6): close changed current rows at
    `batch_ts`, insert new versions open-ended, insert net-new keys.

    target schema: keys + attrs + effective_from/effective_to/is_current.
    ONE full outer join of the current rows with the staged rows; each
    joined key then yields its output rows through one `inline` of a
    per-row array — a changed key its closed row plus the new version, a
    net-new key the new version, every other key its current row — and
    history passes through by union. One join, the staged batch scanned
    once and the target twice (current and history slices)."""
    far = F.lit(_FAR_FUTURE).cast("timestamp")
    bts = F.lit(batch_ts).cast("timestamp")
    hist = target.filter(~F.col("is_current")).select(
        *keys, *attrs, "effective_from", "effective_to", "is_current"
    )
    cur = target.filter(F.col("is_current")).select(
        *keys, *attrs, "effective_from", "effective_to", _row_hash(attrs).alias("_h")
    )
    stg = staged.select(*keys, *attrs, _row_hash(attrs).alias("_h"))
    joined = cur.alias("c").join(stg.alias("s"), on=list(keys), how="full_outer")

    def version(side: str, frm: Column, to: Column, current: bool) -> Column:
        return F.struct(
            *[F.col(f"{side}.{a}").alias(a) for a in attrs],
            frm.alias("effective_from"),
            to.alias("effective_to"),
            F.lit(current).alias("is_current"),
        )

    c_from = F.col("c.effective_from")
    new_version = version("s", bts, far, True)
    rows = (
        F.when(F.col("c._h").isNull(), F.array(new_version))
        .when(
            F.col("s._h").isNotNull() & (F.col("c._h") != F.col("s._h")),
            F.array(version("c", c_from, bts, False), new_version),
        )
        .otherwise(F.array(version("c", c_from, F.col("c.effective_to"), True)))
    )
    return hist.unionByName(joined.select(*keys, F.inline(rows)))


def scd2_rebuild_from_log(
    log: DataFrame, key: str, attr: str, ts_col: str, tiebreak: str
) -> DataFrame:
    """Rebuild full SCD2 history from a change log in one pass
    (reference README.md:6 "historical analysis"): dedupe same-timestamp
    events (highest tiebreak wins), drop consecutive no-op changes, then
    derive [effective_from, effective_to) with lead(). Two window passes
    over the same (key, ts) partitioning — one shuffle."""
    w_tie = Window.partitionBy(key, ts_col).orderBy(F.desc(tiebreak))
    deduped = (
        log.withColumn("_rn", F.row_number().over(w_tie))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    w_seq = Window.partitionBy(key).orderBy(ts_col)
    changes = (
        deduped.withColumn("_prev", F.lag(attr).over(w_seq))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(attr)))
        .drop("_prev")
    )
    w_seq2 = Window.partitionBy(key).orderBy(ts_col)
    return changes.select(
        F.col(key),
        F.col(attr),
        F.col(ts_col).alias("effective_from"),
        F.coalesce(
            F.lead(ts_col).over(w_seq2), F.lit(_FAR_FUTURE).cast("timestamp")
        ).alias("effective_to"),
        F.lead(ts_col).over(w_seq2).isNull().alias("is_current"),
    )


def scd2_init(snapshot: DataFrame, batch_ts: str) -> DataFrame:
    """Bootstrap an SCD2 dimension from a first snapshot: every row current,
    open-ended, effective from `batch_ts` (parameterized — deterministic)."""
    return (
        snapshot.withColumn("effective_from", F.lit(batch_ts).cast("timestamp"))
        .withColumn("effective_to", F.lit(_FAR_FUTURE).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def incr_fresh_rows(
    loaded: DataFrame, arriving: DataFrame, above_wm: Column, id_col: str
) -> DataFrame:
    """The rows of `arriving` above the watermark (`above_wm`, a predicate
    on its rows) whose ids are not loaded yet. The anti-join on loaded ids
    is the replay guard: re-delivering a batch, or re-running an append
    that was torn part-way, adds nothing twice."""
    return arriving.filter(above_wm).join(
        loaded.select(id_col), on=id_col, how="left_anti"
    )


def incr_load_watermark(
    loaded: DataFrame, arriving: DataFrame, ts_col: str, id_col: str
) -> DataFrame:
    """Incremental load (reference README.md:4,14): high-watermark filter +
    anti-join replay guard + append. The watermark is a broadcast scalar
    subquery — no driver collect, fully lazy; the anti-join shuffles only
    the arriving batch (small) against loaded ids."""
    wm = loaded.agg(F.max(ts_col).alias("_wm"))
    fresh = incr_fresh_rows(
        loaded, arriving.crossJoin(F.broadcast(wm)), F.col(ts_col) > F.col("_wm"), id_col
    )
    return loaded.unionByName(fresh.drop("_wm"))


def dq_quarantine(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Error-handling surface (reference README.md:12): split input into
    (valid, quarantined-with-reasons) on declared constraints. Single scan,
    no shuffle; reasons carried as an array column for structured logging."""
    reasons = F.array_compact(
        F.array(
            *[F.when(~cond, F.lit(name)) for name, cond in rules.items()]
        )
    )
    tagged = df.withColumn("_dq_reasons", reasons)
    valid = tagged.filter(F.size("_dq_reasons") == 0).drop("_dq_reasons")
    quarantined = tagged.filter(F.size("_dq_reasons") > 0)
    return valid, quarantined


def dedup_exact(
    df: DataFrame, content_hash: Column, tiebreak: Sequence[str]
) -> DataFrame:
    """Exact dedup by normalized content hash, deterministic survivor
    (lowest tiebreak). row_number, not dropDuplicates — the latter makes no
    promise about which duplicate survives. One shuffle on the hash."""
    w = Window.partitionBy(content_hash).orderBy(*[F.asc(c) for c in tiebreak])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Registry queries over fixture-derived (target, staged) pairs (FIXTURES.md)
# ---------------------------------------------------------------------------


def _target_staged(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    target = c.filter(F.col("c_custkey") % 2 == 0)
    staged = c.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
    )
    return target, staged


_SQL_TGT = "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0"
_SQL_STG = (
    "SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal "
    "FROM customer WHERE c_custkey % 3 = 0"
)


@query(
    "merge_upsert",
    oracle=f"""
WITH tgt AS ({_SQL_TGT}), stg AS ({_SQL_STG}),
unioned AS (
  SELECT c_custkey, c_name, c_acctbal, 0 AS src FROM tgt
  UNION ALL
  SELECT c_custkey, c_name, c_acctbal, 1 AS src FROM stg
)
SELECT c_custkey, c_name, c_acctbal
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY src DESC) AS rn
      FROM unioned)
WHERE rn = 1
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, staged = _target_staged(spark, sf_dir)
    return merge_upsert(target, staged, ["c_custkey"])


@query(
    "scd1_apply",
    oracle=f"""
WITH tgt AS ({_SQL_TGT}), stg AS ({_SQL_STG})
SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
       COALESCE(s.c_name, t.c_name) AS c_name,
       COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal
FROM tgt t FULL OUTER JOIN stg s ON t.c_custkey = s.c_custkey
""",
)
def q_scd1_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, staged = _target_staged(spark, sf_dir)
    return scd1_apply(target, staged, ["c_custkey"], ["c_name", "c_acctbal"])


@query(
    "scd2_apply",
    oracle=f"""
WITH cur AS (SELECT c_custkey, c_name, c_acctbal,
                    TIMESTAMP '2025-01-01' AS effective_from,
                    TIMESTAMP '2200-01-01' AS effective_to,
                    TRUE AS is_current
             FROM customer WHERE c_custkey % 2 = 0),
stg AS ({_SQL_STG}),
changed AS (SELECT c.c_custkey FROM cur c JOIN stg s ON c.c_custkey = s.c_custkey
            WHERE c.c_acctbal IS DISTINCT FROM s.c_acctbal
               OR c.c_name IS DISTINCT FROM s.c_name)
SELECT c_custkey, c_name, c_acctbal, effective_from, effective_to, is_current
FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT c.c_custkey, c.c_name, c.c_acctbal, c.effective_from,
       TIMESTAMP '2026-01-01', FALSE
FROM cur c WHERE c.c_custkey IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT s.c_custkey, s.c_name, s.c_acctbal,
       TIMESTAMP '2026-01-01', TIMESTAMP '2200-01-01', TRUE
FROM stg s WHERE s.c_custkey IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT s.c_custkey, s.c_name, s.c_acctbal,
       TIMESTAMP '2026-01-01', TIMESTAMP '2200-01-01', TRUE
FROM stg s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM cur)
""",
)
def q_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship correctness test for the SCD2 kernel (SURVEY.md §7 Phase 3)."""
    target, staged = _target_staged(spark, sf_dir)
    target = (
        target.withColumn("effective_from", F.lit("2025-01-01").cast("timestamp"))
        .withColumn("effective_to", F.lit(_FAR_FUTURE).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    return scd2_apply(
        target,
        staged,
        keys=["c_custkey"],
        attrs=["c_name", "c_acctbal"],
        batch_ts="2026-01-01",
    )


@query(
    "scd2_rebuild_from_log",
    oracle="""
WITH dedup AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderstatus, o_orderdate,
           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1
),
changes AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderstatus, o_orderdate,
           LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate) AS prev
    FROM dedup)
  WHERE prev IS NULL OR prev <> o_orderstatus
)
SELECT o_custkey, o_orderstatus,
       o_orderdate AS effective_from,
       COALESCE(LEAD(o_orderdate) OVER w, TIMESTAMP '2200-01-01') AS effective_to,
       LEAD(o_orderdate) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
""",
)
def q_scd2_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treats each customer's order stream as a status-change log and
    rebuilds the full effective-dated history in one pass."""
    log = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    return scd2_rebuild_from_log(
        log, key="o_custkey", attr="o_orderstatus",
        ts_col="o_orderdate", tiebreak="o_orderkey",
    ).drop("o_orderkey")


@query(
    "incr_load_watermark",
    oracle="""
WITH loaded AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'),
wm AS (SELECT max(ts) AS w FROM loaded),
fresh AS (
  SELECT a.* FROM events a, wm
  WHERE a.ts > wm.w
    AND NOT EXISTS (SELECT 1 FROM loaded l WHERE l.event_id = a.event_id)
)
SELECT event_id, user_id, event_type FROM loaded
UNION ALL
SELECT event_id, user_id, event_type FROM fresh
""",
)
def q_incr_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXTURES.md split: events before 2024-01-15 are "already loaded"; the
    whole table replays as the arriving batch — the watermark + anti-join
    must ingest exactly the genuinely-new rows."""
    e = table(spark, sf_dir, "events")
    loaded = e.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    return incr_load_watermark(loaded, e, ts_col="ts", id_col="event_id").select(
        "event_id", "user_id", "event_type"
    )


@query(
    "dq_quarantine",
    oracle="""
WITH li AS (
  SELECT l.*, p.p_partkey AS fk_part
  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT 'quantity_range' AS rule,
       COUNT(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 50)) AS n FROM li
UNION ALL
SELECT 'discount_max', COUNT(*) FILTER (WHERE NOT (l_discount <= 0.08)) FROM li
UNION ALL
SELECT 'tax_max', COUNT(*) FILTER (WHERE NOT (l_tax <= 0.06)) FROM li
UNION ALL
SELECT 'fk_part_exists', COUNT(*) FILTER (WHERE fk_part IS NULL) FROM li
UNION ALL
SELECT 'valid', COUNT(*) FILTER (WHERE l_quantity BETWEEN 1 AND 50
                                   AND l_discount <= 0.08 AND l_tax <= 0.06
                                   AND fk_part IS NOT NULL) FROM li
""",
)
def q_dq_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-constraint quarantine with per-rule reject metrics
    (reference README.md:12 "error handling and logging")."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    li = li.join(
        F.broadcast(part.select(F.col("p_partkey").alias("fk_part"))),
        F.col("l_partkey") == F.col("fk_part"),
        "left",
    )
    rules = {
        "quantity_range": F.col("l_quantity").between(1, 50),
        "discount_max": F.col("l_discount") <= 0.08,
        "tax_max": F.col("l_tax") <= 0.06,
        "fk_part_exists": F.col("fk_part").isNotNull(),
    }
    # ONE scan, ZERO shuffle: the whole rule set is a single global
    # conditional-count aggregate (partial + final over one row), unpivoted
    # to (rule, n) rows afterwards. No per-row label array, no explode, no
    # groupBy exchange — at 100 TB this is a pure map-side reduce whose
    # merge state is five counters. (Earlier shapes: two scans, then one
    # scan + an exploded-label shuffle.)
    valid_all = None
    for cond in rules.values():
        valid_all = cond if valid_all is None else (valid_all & cond)
    row = li.agg(
        *[
            F.sum(F.when(~cond, 1).otherwise(0)).cast("long").alias(name)
            for name, cond in rules.items()
        ],
        F.sum(F.when(valid_all, 1).otherwise(0)).cast("long").alias("valid"),
    )
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(name).alias("rule"), F.col(name).alias("n"))
                    for name in [*rules, "valid"]
                ]
            )
        ).alias("kv")
    ).select("kv.rule", "kv.n")


@query(
    "dedup_exact",
    oracle="""
WITH all_docs AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text FROM documents
)
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY sha256(lower(trim(text)))
                                ORDER BY doc_id) AS rn
      FROM all_docs)
WHERE rn = 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-zero-cost dedup: hash-groupBy on normalized content
    (BASELINE.json north star "dedup"). Duplicates are injected by unioning
    the corpus with itself under shifted ids; survivors must be exactly the
    original doc_ids. The content hash is computed BEFORE the shuffle and
    the text column dropped — at 100 TB the window shuffles 32-byte hashes,
    never document payloads."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("_h"),
    )
    dupes = d.withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    all_docs = d.unionByName(dupes)
    content = F.col("_h")
    return dedup_exact(all_docs, content, ["doc_id"]).select("doc_id", "lang")


class DataQualityError(RuntimeError):
    """Raised by `dq_expect` when a hard constraint is violated
    (reference README.md:12 'error handling … throughout the ETL process')."""


def dq_expect(df: DataFrame, rules: dict[str, Column], max_violations: int = 0) -> DataFrame:
    """Hard data-quality gate: unlike `dq_quarantine` (soft-split and keep
    going), this ABORTS the pipeline when any rule exceeds its violation
    budget — the right behavior for invariants that make downstream output
    meaningless (broken FKs into a dimension, negative quantities feeding a
    financial rollup). One scan; the whole rule set is evaluated in a single
    conditional-count aggregation, so the check adds a pass over the data
    and nothing else. Returns the input DataFrame unchanged for chaining.
    """
    counts = df.agg(
        *[
            F.sum(F.when(~cond, 1).otherwise(0)).cast("long").alias(name)
            for name, cond in rules.items()
        ]
    ).collect()[0]
    failed = {name: counts[name] for name in rules if counts[name] > max_violations}
    if failed:
        raise DataQualityError(
            f"data-quality gate failed (budget {max_violations}): {failed}"
        )
    return df


@query(
    "scd3_apply",
    oracle=f"""
WITH tgt AS ({_SQL_TGT}), stg AS ({_SQL_STG})
SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
       COALESCE(s.c_name, t.c_name) AS c_name,
       COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
       CASE WHEN s.c_custkey IS NOT NULL AND t.c_custkey IS NOT NULL
                 AND s.c_acctbal IS DISTINCT FROM t.c_acctbal
            THEN t.c_acctbal END AS prev_acctbal
FROM tgt t FULL OUTER JOIN stg s ON t.c_custkey = s.c_custkey
""",
)
def q_scd3_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3: keep the prior value in a sibling column instead of a
    history row (completes the reference's SCD 1/2 family,
    README.md:6, with the third Kimball type). One full-outer hash join on
    the business key; a changed attribute moves current→prev in place, new
    members arrive with no history. Bounded history by construction (one
    prior value), so the dimension never grows with change rate — the
    trade that makes Type 3 the choice for mass one-off restatements."""
    target, staged = _target_staged(spark, sf_dir)
    t, s = target.alias("t"), staged.alias("s")
    changed = (
        F.col("s.c_custkey").isNotNull()
        & F.col("t.c_custkey").isNotNull()
        & ~F.col("s.c_acctbal").eqNullSafe(F.col("t.c_acctbal"))
    )
    return t.join(s, F.col("t.c_custkey") == F.col("s.c_custkey"), "full_outer").select(
        F.coalesce(F.col("s.c_custkey"), F.col("t.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("s.c_name"), F.col("t.c_name")).alias("c_name"),
        F.coalesce(F.col("s.c_acctbal"), F.col("t.c_acctbal")).alias("c_acctbal"),
        F.when(changed, F.col("t.c_acctbal")).alias("prev_acctbal"),
    )


@query(
    "scd4_apply",
    oracle=f"""
WITH tgt AS ({_SQL_TGT}), stg AS ({_SQL_STG}),
joined AS (
  SELECT t.c_custkey AS t_key, t.c_name AS t_name, t.c_acctbal AS t_bal,
         s.c_custkey AS s_key, s.c_name AS s_name, s.c_acctbal AS s_bal
  FROM tgt t FULL OUTER JOIN stg s ON t.c_custkey = s.c_custkey)
SELECT COALESCE(s_key, t_key) AS c_custkey,
       COALESCE(s_name, t_name) AS c_name,
       COALESCE(s_bal, t_bal) AS c_acctbal,
       'current' AS face,
       CAST(NULL AS TIMESTAMP) AS snapshot_ts
FROM joined
UNION ALL
SELECT t_key, t_name, t_bal, 'history', TIMESTAMP '2026-01-01'
FROM joined
WHERE t_key IS NOT NULL AND s_key IS NOT NULL
  AND (t_bal IS DISTINCT FROM s_bal OR t_name IS DISTINCT FROM s_name)
""",
)
def q_scd4_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 4: the current table stays Type-1 thin (always the latest
    values, one row per key) while every OVERWRITTEN version appends to a
    separate history table stamped with the batch snapshot — completing
    the Kimball family next to the repo's Types 1/2/3 (reference
    README.md:6). Emitted as one relation with a `face` discriminator so
    the oracle checks both faces in a single hash; a deployment writes
    the two faces to their own tables (current overwritten in place,
    history append-only and day-partitioned, so the hot dimension stays
    small while full lineage lives in cheap cold storage). One full-outer
    hash join on the business key — the same single-shuffle shape as
    merge_upsert; the history face is a filter over the SAME join, not a
    second pass."""
    target, staged = _target_staged(spark, sf_dir)
    t, s = target.alias("t"), staged.alias("s")
    j = t.join(s, F.col("t.c_custkey") == F.col("s.c_custkey"), "full_outer")
    changed = (
        F.col("t.c_custkey").isNotNull()
        & F.col("s.c_custkey").isNotNull()
        & (
            ~F.col("s.c_acctbal").eqNullSafe(F.col("t.c_acctbal"))
            | ~F.col("s.c_name").eqNullSafe(F.col("t.c_name"))
        )
    )
    current = j.select(
        F.coalesce(F.col("s.c_custkey"), F.col("t.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("s.c_name"), F.col("t.c_name")).alias("c_name"),
        F.coalesce(F.col("s.c_acctbal"), F.col("t.c_acctbal")).alias("c_acctbal"),
        F.lit("current").alias("face"),
        F.lit(None).cast("timestamp").alias("snapshot_ts"),
    )
    history = j.filter(changed).select(
        F.col("t.c_custkey").alias("c_custkey"),
        F.col("t.c_name").alias("c_name"),
        F.col("t.c_acctbal").alias("c_acctbal"),
        F.lit("history").alias("face"),
        F.lit("2026-01-01").cast("timestamp").alias("snapshot_ts"),
    )
    return current.unionByName(history)


@query(
    "table_diff_audit",
    oracle=f"""
WITH tgt AS ({_SQL_TGT}), stg AS ({_SQL_STG})
SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN t.c_custkey IS NULL THEN 'added'
            WHEN s.c_custkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       t.c_acctbal AS old_acctbal,
       s.c_acctbal AS new_acctbal
FROM tgt t FULL OUTER JOIN stg s ON t.c_custkey = s.c_custkey
WHERE t.c_custkey IS NULL OR s.c_custkey IS NULL
   OR t.c_acctbal IS DISTINCT FROM s.c_acctbal
   OR t.c_name IS DISTINCT FROM s.c_name
""",
)
def q_table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: classify every business key as added / removed /
    changed between two table generations, with old/new values for the
    changed measure — the audit a migration or replication pipeline runs
    before promoting a snapshot (reference README.md:12 validation).
    Unchanged keys are filtered out, so the output is bounded by churn,
    not table size. One full-outer hash join on the key; at 100 TB both
    sides bucket on the business key and the join is co-located (the
    join_bucketed_colocated layout), making the daily diff a zero-shuffle
    scan-and-compare."""
    target, staged = _target_staged(spark, sf_dir)
    t, s = target.alias("t"), staged.alias("s")
    added = F.col("t.c_custkey").isNull()
    removed = F.col("s.c_custkey").isNull()
    changed = (
        ~F.col("s.c_acctbal").eqNullSafe(F.col("t.c_acctbal"))
        | ~F.col("s.c_name").eqNullSafe(F.col("t.c_name"))
    )
    return (
        t.join(s, F.col("t.c_custkey") == F.col("s.c_custkey"), "full_outer")
        .filter(added | removed | changed)
        .select(
            F.coalesce(F.col("s.c_custkey"), F.col("t.c_custkey")).alias("c_custkey"),
            F.when(added, F.lit("added"))
            .when(removed, F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
            F.col("t.c_acctbal").alias("old_acctbal"),
            F.col("s.c_acctbal").alias("new_acctbal"),
        )
    )


@query(
    "dim_infer_member",
    oracle="""
WITH dim AS (SELECT c_custkey, c_name, c_acctbal FROM customer
             WHERE c_custkey % 2 = 0)
SELECT c_custkey, c_name, c_acctbal, FALSE AS is_inferred FROM dim
UNION ALL
SELECT DISTINCT o.o_custkey AS c_custkey,
       '<inferred>' AS c_name,
       CAST(NULL AS DOUBLE) AS c_acctbal,
       TRUE AS is_inferred
FROM orders o LEFT JOIN dim c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
""",
)
def dim_infer_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension (Kimball "inferred member"): facts that
    reference a dimension key not yet delivered get a placeholder row so
    the fact load never drops or orphans rows; the real attributes SCD1-
    overwrite the placeholder when the dimension feed catches up.

    Shape: distinct unknown keys via a left-anti hash join from facts to
    dim (at 100 TB: facts shuffle on the key they already join on; the
    distinct collapses map-side), then a union with the placeholder
    projection. The is_inferred flag is the audit trail the backfill job
    keys on."""
    dim = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .filter(F.col("c_custkey") % 2 == 0)
    )
    facts = table(spark, sf_dir, "orders").select("o_custkey")
    unknown = (
        facts.join(dim, facts["o_custkey"] == dim["c_custkey"], "left_anti")
        .distinct()
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.lit("<inferred>").alias("c_name"),
            F.lit(None).cast("double").alias("c_acctbal"),
            F.lit(True).alias("is_inferred"),
        )
    )
    return dim.withColumn("is_inferred", F.lit(False)).unionByName(unknown)


@query(
    "fuzzy_conform_levenshtein",
    oracle="""
WITH dirty AS (
  SELECT n_nationkey,
         CASE WHEN n_nationkey % 3 = 0 THEN n_name || 'X' ELSE n_name END
           AS raw_name
  FROM nation),
cand AS (
  SELECT d.n_nationkey, d.raw_name, r.n_name AS matched_name,
         levenshtein(d.raw_name, r.n_name) AS dist
  FROM dirty d JOIN nation r
    ON levenshtein(d.raw_name, r.n_name) <= 1),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY n_nationkey
                               ORDER BY dist ASC, matched_name ASC) AS rn
  FROM cand)
SELECT n_nationkey, raw_name, matched_name, CAST(dist AS BIGINT) AS dist
FROM best WHERE rn = 1
""",
)
def fuzzy_conform_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dimension conformance: map dirty incoming names (here nation
    names with an injected trailing character on every third key) to the
    canonical reference list by edit distance ≤ 1, best match per record
    with deterministic tie-break — the name-cleanup stage in front of an
    exact dimension join.

    Candidates come from a KEYED broadcast-hash join on symmetric-delete
    (SymSpell) blocking keys, never a cross join: each name emits itself
    plus its |s| delete-one-char variants, and any pair at edit distance
    ≤ 1 provably shares a key (dist 0 → the string itself; substitution
    at i → both sides' delete-at-i; indel → the longer side's delete at
    the edited position equals the shorter string). Sharing a key is
    necessary, not sufficient, so the Levenshtein evaluation stays as the
    exact verification — but it now runs only on key-collided candidates.
    The reference index broadcasts (conformance targets are small by
    construction; the index is |ref| × (len+1) short keys), so the 100 TB
    dirty stream never shuffles and never scans the whole reference list
    per record — unlike the docstring-only length+first-char plan this
    blocking is complete even when the FIRST character was edited."""
    nat = table(spark, sf_dir, "nation")
    dirty = nat.select(
        "n_nationkey",
        F.when(
            F.col("n_nationkey") % 3 == 0, F.concat(F.col("n_name"), F.lit("X"))
        )
        .otherwise(F.col("n_name"))
        .alias("raw_name"),
    )
    ref = nat.select(F.col("n_name").alias("matched_name"))

    def del1_keys(col: Column) -> Column:
        # {s} ∪ {s minus char i : i in 1..|s|}, JVM-side HOFs only
        return F.array_distinct(
            F.concat(
                F.array(col),
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(col), F.lit(1))),
                    lambda i: F.concat(
                        F.substr(col, F.lit(1), i - F.lit(1)),
                        F.substr(col, i + F.lit(1), F.length(col)),
                    ),
                ),
            )
        )

    probe = dirty.select(
        "n_nationkey", "raw_name", F.explode(del1_keys(F.col("raw_name"))).alias("bk")
    )
    ref_index = ref.select(
        "matched_name", F.explode(del1_keys(F.col("matched_name"))).alias("bk")
    )
    dist = F.levenshtein(F.col("raw_name"), F.col("matched_name"))
    cand = (
        probe.join(F.broadcast(ref_index), "bk")
        .select("n_nationkey", "raw_name", "matched_name")
        .distinct()
        .withColumn("dist", dist)
        .filter(F.col("dist") <= 1)
    )
    w = Window.partitionBy("n_nationkey").orderBy(
        F.asc("dist"), F.asc("matched_name")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("n_nationkey", "raw_name", "matched_name", F.col("dist").cast("long").alias("dist"))
    )


@query(
    "dq_reconcile_partitions",
    oracle="""
WITH src AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents,
         bit_xor(hash(o_orderkey)) AS key_sig
  FROM orders GROUP BY 1),
tgt AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
         COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(
             (o_totalprice + CASE WHEN o_orderkey % 5000 = 0
                                  THEN 0.01 ELSE 0.0 END) * 100 + 0.5)
           AS BIGINT)) AS BIGINT) AS cents,
         bit_xor(hash(o_orderkey)) AS key_sig
  FROM orders GROUP BY 1)
SELECT src.y AS part_year,
       src.n AS n_src, tgt.n AS n_tgt,
       src.cents AS cents_src, tgt.cents AS cents_tgt,
       src.n = tgt.n AS rows_match,
       src.cents = tgt.cents AS sums_match,
       src.key_sig = tgt.key_sig AS keys_match
FROM src JOIN tgt ON src.y = tgt.y
""",
)
def dq_reconcile_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-to-target reconciliation (reference README.md:12 "data
    integrity and consistency"): after a load, compare per-partition row
    counts, exact money checksums, and a key signature between source and
    target — the report that catches silent truncation, double-loads, and
    value drift without ever joining row-level data. The "target" here is
    the source with a deterministic injected corruption (every 5000th
    order's price off by a cent), so the report demonstrably flags the
    affected partitions while clean partitions reconcile.

    Both sides reduce to one partial-aggregable pass each (counts, exact
    scaled-integer sums, xor-folded key signature — all order-independent),
    then a tiny per-partition join. At 100 TB this is the cheap check that
    runs after EVERY load; row-level diffing only runs on partitions this
    report flags. The key signature is bit_xor(xxhash64(key)), NOT a sum
    of modular hashes: xor is order-independent and cannot overflow ANSI
    longs no matter how many rows a partition holds (the sum variant
    provably overflowed at sf1 — ~1.5 M orders x ~4.5e15 average terms;
    same rationale as quality.py _star_contract's convergence signature).
    Each engine compares its own src-vs-tgt signature, so only the
    keys_match boolean needs cross-engine parity, not the hash itself."""
    o = table(spark, sf_dir, "orders")
    key_sig = F.bit_xor(F.xxhash64("o_orderkey")).alias("key_sig")
    src = o.groupBy(F.year("o_orderdate").cast("long").alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents"),
        key_sig,
    )
    corrupted = F.col("o_totalprice") + F.when(
        F.col("o_orderkey") % 5000 == 0, F.lit(0.01)
    ).otherwise(F.lit(0.0))
    tgt = o.groupBy(F.year("o_orderdate").cast("long").alias("y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(corrupted * 100 + F.lit(0.5)).cast("long")).alias("cents"),
        key_sig,
    )
    s, t = src.alias("s"), tgt.alias("t")
    return s.join(t, F.col("s.y") == F.col("t.y")).select(
        F.col("s.y").alias("part_year"),
        F.col("s.n").alias("n_src"),
        F.col("t.n").alias("n_tgt"),
        F.col("s.cents").alias("cents_src"),
        F.col("t.cents").alias("cents_tgt"),
        (F.col("s.n") == F.col("t.n")).alias("rows_match"),
        (F.col("s.cents") == F.col("t.cents")).alias("sums_match"),
        (F.col("s.key_sig") == F.col("t.key_sig")).alias("keys_match"),
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance: join-view delta
# ---------------------------------------------------------------------------

_IVM_WM = "1999-01-01 00:00:00"  # orders loaded before this are "yesterday's"


@query(
    "ivm_join_delta",
    oracle=f"""
WITH o_old AS (SELECT * FROM orders WHERE o_orderdate <  TIMESTAMP '{_IVM_WM}'),
o_new AS (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{_IVM_WM}'),
c_old AS (SELECT * FROM customer WHERE c_custkey % 20 <> 0),
c_new AS (SELECT * FROM customer WHERE c_custkey % 20 = 0),
v AS (
  SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment AS segment,
         o.o_totalprice, epoch_us(o.o_orderdate) AS order_us
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
v_old AS (
  SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment AS segment,
         o.o_totalprice, epoch_us(o.o_orderdate) AS order_us
  FROM o_old o JOIN c_old c ON o.o_custkey = c.c_custkey
)
SELECT * FROM v
EXCEPT ALL
SELECT * FROM v_old
""",
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a join view — the join-side
    completion of rollup_incremental_merge's aggregate IVM (reference
    README.md:4 incremental loads). Yesterday's materialization is
    V_old = O_old ⋈ C_old; today brings insert deltas ΔO (orders past the
    load watermark) and ΔC (newly-landed customers). Instead of re-joining
    the full base tables, the maintenance delta is the textbook three-term
    identity for insert-only feeds:

        ΔV = ΔO⋈C_old  ∪all  O_old⋈ΔC  ∪all  ΔO⋈ΔC

    Each term joins a SMALL delta against a base — Spark broadcasts the
    delta side, so the petabyte base is never reshuffled and steady-state
    cost tracks the delta, not the view. The ORACLE deliberately uses the
    other formulation — full V EXCEPT ALL V_old — so the cross-engine hash
    equality IS a proof of the IVM identity on real data, multiset
    semantics included."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate"),
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    wm = F.lit(_IVM_WM).cast("timestamp_ntz")
    o_old = o.filter(F.col("o_orderdate") < wm)
    o_new = o.filter(F.col("o_orderdate") >= wm)
    c_old = c.filter(F.col("c_custkey") % 20 != 0)
    c_new = c.filter(F.col("c_custkey") % 20 == 0)

    def view(odf: DataFrame, cdf: DataFrame, bcast_left: bool) -> DataFrame:
        # broadcast whichever side is the (small) delta
        left = F.broadcast(odf) if bcast_left else odf
        right = cdf if bcast_left else F.broadcast(cdf)
        return left.join(right, F.col("o_custkey") == F.col("c_custkey")).select(
            "o_orderkey",
            "o_custkey",
            "segment",
            "o_totalprice",
            epoch_us("o_orderdate").alias("order_us"),
        )

    delta = (
        view(o_new, c_old, bcast_left=True)
        .unionByName(view(o_old, c_new, bcast_left=False))
        .unionByName(view(o_new, c_new, bcast_left=True))
    )
    return delta


# ---------------------------------------------------------------------------
# cdc_apply_log — op-coded change-data-capture compaction
# ---------------------------------------------------------------------------


@query(
    "cdc_apply_log",
    oracle="""
WITH log AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events),
last AS (
  SELECT * FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_ops
    FROM log) WHERE rn = 1)
SELECT user_id, value, ts AS updated_at, CAST(n_ops AS BIGINT) AS n_ops
FROM last WHERE op = 'U'
""",
)
def cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction (the Debezium-style snapshot build the reference's
    incremental-load + upsert declarations imply, reference README.md:4,6):
    an op-coded change stream (upserts + deletes — here `error` events play
    the delete op) collapses to current state by last-op-wins per key, with
    deleted keys dropped and an audit count of ops folded per key.
    Generalizes merge_upsert from two-relation merge to an arbitrary-depth
    op log.

    One shuffle total: the row_number and the per-key op count share the
    same user_id window partitioning, and last-op-wins is the standard
    per-key argmax (ts, then event_id for same-timestamp determinism). At
    100 TB the log would be partition-pruned by ingest date first; the
    compaction itself is linear and key-local."""
    log = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    wp = Window.partitionBy("user_id")
    last = (
        log.select(
            "*",
            F.row_number()
            .over(wp.orderBy(F.desc("ts"), F.desc("event_id")))
            .alias("rn"),
            F.count(F.lit(1)).over(wp).alias("n_ops"),
        )
        .filter(F.col("rn") == 1)
    )
    return last.filter(F.col("op") == "U").select(
        "user_id", "value", F.col("ts").alias("updated_at"), "n_ops"
    )


# ---------------------------------------------------------------------------
# scd2_retention_prune — history-table retention policy (keep current + K)
# ---------------------------------------------------------------------------

_RETAIN_CLOSED = 2  # closed versions to keep per key, newest first


@query(
    "scd2_retention_prune",
    oracle=f"""
WITH dedup AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderstatus, o_orderdate,
           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1
),
changes AS (
  SELECT * FROM (
    SELECT o_custkey, o_orderstatus, o_orderdate,
           LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate) AS prev
    FROM dedup)
  WHERE prev IS NULL OR prev <> o_orderstatus
),
hist AS (
  SELECT o_custkey, o_orderstatus,
         o_orderdate AS effective_from,
         COALESCE(LEAD(o_orderdate) OVER w, TIMESTAMP '2200-01-01')
           AS effective_to,
         LEAD(o_orderdate) OVER w IS NULL AS is_current
  FROM changes
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
)
SELECT o_custkey, o_orderstatus, effective_from, effective_to,
       CAST(version_rank AS BIGINT) AS version_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY effective_from DESC) AS version_rank
  FROM hist WHERE NOT is_current)
WHERE version_rank > {_RETAIN_CLOSED}
""",
)
def scd2_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-table retention policy — the maintenance job every SCD2
    warehouse runs after the apply: keep each key's CURRENT version plus
    its {K} most recent closed versions, and emit the prune list (the
    rows a retention DELETE would remove, with their recency rank). The
    current row is never a candidate by construction; a key with <= {K}
    closed versions contributes nothing.

    Scale shape: the history rebuild and the retention rank share the
    SAME per-key partitioning — Catalyst plans the rank window on the
    o_custkey exchange the rebuild already created, so retention costs
    zero extra shuffles on top of the history it prunes. The prune list
    is bounded by churn (versions beyond current+{K}), typically a tiny
    fraction of the table; at 100 TB the DELETE consumes this list as a
    broadcast anti-join against the history partition files.

    Reference parity: README.md:6 SCD family (Type 2 history
    management), README.md:12 "data retention"-class maintenance."""
    log = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    hist = scd2_rebuild_from_log(
        log, key="o_custkey", attr="o_orderstatus",
        ts_col="o_orderdate", tiebreak="o_orderkey",
    ).drop("o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("effective_from"))
    return (
        hist.filter(~F.col("is_current"))
        .withColumn("version_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("version_rank") > _RETAIN_CLOSED)
        .select(
            "o_custkey", "o_orderstatus", "effective_from", "effective_to",
            "version_rank",
        )
    )
