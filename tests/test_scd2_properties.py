"""Property-based model-checking of the SCD2 kernel (hypothesis).

A simple in-memory model applies random staged batches; the Spark kernel
must agree with the model on: the current attribute per key, one-current-row
-per-key, timeline tiling, and history depth = number of actual changes.
This explores the batch-sequence space (new keys, repeated values, flapping
values A→B→A) far beyond the hand-written examples.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from t20_database_etl_pipeline_assignment_spark.operators.etl import (
    incr_load_watermark,
    merge_upsert,
    scd2_apply,
    scd2_init,
)

KEYS = [1, 2, 3]
VALUES = ["a", "b", "c"]

# one staged batch: a subset of keys, each with a value
batch_st = st.dictionaries(st.sampled_from(KEYS), st.sampled_from(VALUES), min_size=1)
batches_st = st.lists(batch_st, min_size=1, max_size=3)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=batches_st)
def test_scd2_agrees_with_model(spark, batches):
    base = dt.datetime(2024, 1, 1)

    # init from batch 0 applied as the first snapshot
    first = batches[0]
    init_rows = [(k, v) for k, v in sorted(first.items())]
    target = scd2_init(
        spark.createDataFrame(init_rows, "k long, attr string"),
        batch_ts="2024-01-01 00:00:00",
    )
    model = dict(first)  # key -> current value
    changes = {k: 1 for k in first}  # key -> number of versions

    for i, batch in enumerate(batches[1:], start=1):
        ts = (base + dt.timedelta(days=i)).strftime("%Y-%m-%d %H:%M:%S")
        staged = spark.createDataFrame(
            [(k, v) for k, v in sorted(batch.items())], "k long, attr string"
        )
        target = scd2_apply(target, staged, ["k"], ["attr"], batch_ts=ts)
        for k, v in batch.items():
            if k not in model:
                model[k] = v
                changes[k] = 1
            elif model[k] != v:
                model[k] = v
                changes[k] += 1

    rows = target.collect()
    current = {r.k: r.attr for r in rows if r.is_current}
    assert current == model

    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    for k, versions in by_key.items():
        assert sum(1 for r in versions if r.is_current) == 1
        assert len(versions) == changes[k], f"key {k} history depth"
        ordered = sorted(versions, key=lambda r: r.effective_from)
        for a, b in zip(ordered, ordered[1:]):
            assert a.effective_to == b.effective_from, f"key {k} timeline gap"
        assert ordered[-1].is_current


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=batches_st)
def test_merge_upsert_agrees_with_model(spark, batches):
    """Folding random staged batches through merge_upsert must equal a plain
    dict.update fold (latest-wins per key)."""
    first = batches[0]
    target = spark.createDataFrame(
        [(k, v) for k, v in sorted(first.items())], "k long, v string"
    )
    model = dict(first)
    for batch in batches[1:]:
        staged = spark.createDataFrame(
            [(k, v) for k, v in sorted(batch.items())], "k long, v string"
        )
        target = merge_upsert(target, staged, ["k"])
        model.update(batch)
    assert {r.k: r.v for r in target.collect()} == model


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(split=st.integers(min_value=0, max_value=20), overlap=st.integers(min_value=0, max_value=10))
@example(split=0, overlap=0)
@example(split=20, overlap=0)
@example(split=20, overlap=10)
def test_incremental_load_completeness(spark, split, overlap):
    """For ANY split point and replay overlap: loaded ∪ fresh == full set,
    exactly once (watermark filter + anti-join replay guard)."""
    import datetime as dt2

    total = 20
    rows = [
        (i, dt2.datetime(2024, 1, 1) + dt2.timedelta(hours=i)) for i in range(total)
    ]
    loaded = spark.createDataFrame(rows[:split] or [(-(1), dt2.datetime(1970, 1, 1))],
                                   "event_id long, ts timestamp")
    arriving_lo = max(0, split - overlap)
    arriving = spark.createDataFrame(rows[arriving_lo:] or [(-(2), dt2.datetime(1970, 1, 2))],
                                     "event_id long, ts timestamp")
    out = incr_load_watermark(loaded, arriving, "ts", "event_id")
    got = sorted(r.event_id for r in out.collect())
    # the -2 sentinel (ts=1970) only survives the watermark filter when the
    # loaded side is itself the -1 sentinel (split == 0) — which can't happen
    # simultaneously, so -2 never appears; -1 stays as part of `loaded`.
    want = sorted(
        {r[0] for r in rows[:split]}
        | {r[0] for r in rows[arriving_lo:total]}
        | ({-1} if split == 0 else set())
    )
    assert got == want


# ---------------------------------------------------------------------------
# Streaming sink crash/split convergence (round-4: generative treatment of
# the machinery the hand-written streaming tests exercise pointwise)
# ---------------------------------------------------------------------------

# one event: (user, day, hour, type, value) — tight domains force duplicate
# timestamps, same-day flapping, day straddles, and late stragglers
_event_st = st.tuples(
    st.integers(1, 2),
    st.integers(1, 3),
    st.integers(0, 2),
    st.sampled_from(["a", "b"]),
    st.sampled_from([1.0, 2.0]),
)


@st.composite
def _sink_scenario(draw):
    batches = draw(
        st.lists(
            st.lists(_event_st, min_size=1, max_size=4), min_size=1, max_size=3
        )
    )
    crashes = draw(
        st.lists(
            st.sampled_from(["none", "redeliver", "tear", "log_only"]),
            min_size=len(batches),
            max_size=len(batches),
        )
    )
    return batches, crashes


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(scenario=_sink_scenario())
@example(
    scenario=(
        # day 1 split across two batches with a duplicate timestamp, then a
        # day-2 batch carrying a day-1 straggler, with a torn publish and a
        # re-delivery injected
        [
            [(1, 1, 0, "a", 1.0), (1, 1, 0, "b", 2.0)],
            [(1, 1, 1, "a", 1.0), (2, 2, 0, "b", 1.0)],
            [(2, 2, 1, "a", 2.0), (1, 1, 2, "b", 1.0)],
        ],
        ["tear", "redeliver", "tear"],
    )
)
@example(
    scenario=(
        # day 1 split across batches 0 and 1; batch 1 crashed after its log
        # append, so its head-day re-fold reads a log that already holds it
        [
            [(1, 1, 1, "a", 1.0), (2, 1, 0, "b", 1.0)],
            [(1, 1, 0, "b", 2.0), (2, 1, 2, "a", 2.0)],
            [(1, 2, 0, "b", 2.0)],
        ],
        ["none", "log_only", "log_only"],
    )
)
def test_scd2_sink_converges_under_any_split_and_crash(spark, tmp_path_factory, scenario):
    """For ANY split of events into micro-batches — day-straddling,
    duplicate-timestamp, event-time-regressing — with re-deliveries and
    torn publishes injected after every barrier, and crashes between the log
    append and the publish, the reconcile-policy sink must land on exactly
    the change-log rebuild of the full event set."""
    import os
    import uuid

    from pyspark.sql import functions as F2

    from t20_database_etl_pipeline_assignment_spark.streaming.commit import staging
    from t20_database_etl_pipeline_assignment_spark.streaming.scd2_sink import (
        _append_batch_log,
        recover_dim,
        scd2_daily_fold_spec,
        scd2_stream_sink,
    )

    batches, crashes = scenario
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    eid = 0
    dfs, all_rows = [], []
    for b in batches:
        rows = []
        for user, day, hour, etype, val in b:
            rows.append((eid, dt.datetime(2024, 1, day, hour), user, etype, val))
            eid += 1
        dfs.append(spark.createDataFrame(rows, schema))
        all_rows.extend(rows)

    dim = str(tmp_path_factory.mktemp("scd2prop") / f"dim_{uuid.uuid4().hex[:8]}")
    sink = scd2_stream_sink(
        dim, ["user_id"], ["event_type", "value"], late_policy="reconcile"
    )
    log_cols = ["user_id", "event_type", "value", "ts", "event_id"]
    for i, (b, crash) in enumerate(zip(dfs, crashes)):
        if crash == "log_only":
            # crash after the log append, before the publish: the batch is
            # in the log but not in the dimension, and is re-delivered
            _append_batch_log(b, dim, i, log_cols)
        sink(b, i)
        if crash == "redeliver":
            sink(b, i)  # at-least-once re-delivery: must skip, not refold
        elif crash == "tear":
            # crash inside the publish's move: the committed staging dir
            # beside a removed live dir
            os.rename(dim, staging(dim))
    recover_dim(dim)

    got = sorted(
        spark.read.parquet(dim)
        .select("user_id", "event_type", "value",
                "effective_from", "effective_to", "is_current")
        .collect(),
        key=lambda r: (r.user_id, r.effective_from),
    )
    want = sorted(
        scd2_daily_fold_spec(spark.createDataFrame(all_rows, schema))
        .withColumn("effective_from", F2.col("effective_from").cast("timestamp"))
        .withColumn("effective_to", F2.col("effective_to").cast("timestamp"))
        .collect(),
        key=lambda r: (r.user_id, r.effective_from),
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert sink.skipped == [i for i, c in enumerate(crashes) if c == "redeliver"]
