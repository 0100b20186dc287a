"""End-to-end pipeline runner tests (reference README.md:10,12): a full run
produces conforming outputs, and a rerun of the same batch is idempotent —
the incremental path must not double-load, and SCD2 must not churn when
nothing changed.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from t20_database_etl_pipeline_assignment_spark.pipeline import run_etl


@pytest.fixture()
def target_dir():
    d = tempfile.mkdtemp(prefix="t20_pipeline_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_pipeline_end_to_end_and_idempotent(spark, sf_dir, target_dir):
    m1 = run_etl(spark, sf_dir, target_dir, batch_ts="2026-01-01 00:00:00")

    # facts: valid rows only, partitioned by ship_year
    assert m1["rows_valid"] == m1["fact_rows"]
    assert m1["rows_valid"] > 0
    assert sum(m1["rejects_by_rule"].values()) >= 0

    # SCD2 invariants after first run: one current row per key, tiled ranges
    dim = spark.read.parquet(f"{target_dir}/dim_customer")
    per_key = dim.groupBy("c_custkey").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_cur")
    )
    assert per_key.filter(F.col("n_cur") != 1).count() == 0
    assert dim.filter(F.col("effective_from") >= F.col("effective_to")).count() == 0

    # fact layout: Hive-style ship_year partitions actually materialized
    import glob

    part_dirs = glob.glob(f"{target_dir}/fact_lineitem/ship_year=*")
    assert len(part_dirs) >= 2, part_dirs

    # rerun same batch: nothing changed ⇒ same dim rows, same event count,
    # and the partition-pruned dimension rewrite touches ZERO bands
    before = _band_file_states(target_dir)
    m2 = run_etl(spark, sf_dir, target_dir, batch_ts="2026-01-02 00:00:00")
    assert m2["dim_customer_rows"] == m1["dim_customer_rows"]
    assert m2["events_rows"] == m1["events_rows"]
    assert m2["fact_rows"] == m1["fact_rows"]
    assert m2["dim_bands_rewritten"] == 0
    assert _band_file_states(target_dir) == before  # bit-for-bit untouched


def _band_file_states(target_dir):
    """(path, size, mtime_ns) of every dimension band file — equality means
    the files were never rewritten, not merely rewritten equal."""
    import glob
    import os

    out = {}
    for p in sorted(glob.glob(f"{target_dir}/dim_customer/_band=*/*")):
        st = os.stat(p)
        out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_scd2_band_rewrite_is_partition_pruned(spark, sf_dir, target_dir, tmp_path):
    """Changing a handful of customers must rewrite ONLY the bands holding
    their keys: untouched band files keep identical size+mtime (never
    reopened), changed keys gain a closed row + a new current row, and the
    full-dimension SCD2 invariants still hold."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from t20_database_etl_pipeline_assignment_spark.pipeline import _N_DIM_BANDS

    # editable copy of the fixture dir: symlink everything, then replace
    # customer.parquet with a version where 3 keys changed acctbal
    src_dir = tmp_path / "sf_mod"
    src_dir.mkdir()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        os.symlink(p, src_dir / os.path.basename(p))

    m1 = run_etl(spark, str(src_dir), target_dir, batch_ts="2026-01-01 00:00:00")
    assert m1["dim_bands_rewritten"] == _N_DIM_BANDS  # first run: full write

    t = pq.read_table(f"{sf_dir}/customer.parquet")
    pdf = t.to_pandas()
    changed_keys = sorted(pdf["c_custkey"])[:3]
    pdf.loc[pdf["c_custkey"].isin(changed_keys), "c_acctbal"] += 1000.0
    (src_dir / "customer.parquet").unlink()
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(pdf, schema=t.schema, preserve_index=False),
        src_dir / "customer.parquet",
    )

    before = _band_file_states(target_dir)
    m2 = run_etl(spark, str(src_dir), target_dir, batch_ts="2026-02-01 00:00:00")

    expected_bands = {
        r["b"]
        for r in spark.createDataFrame([(int(k),) for k in changed_keys], "k long")
        .select(
            F.pmod(F.xxhash64(F.col("k")), F.lit(_N_DIM_BANDS)).cast("int").alias("b")
        )
        .collect()
    }
    assert m2["dim_bands_rewritten"] == len(expected_bands)

    after = _band_file_states(target_dir)
    changed_paths = {
        p for p in set(before) | set(after) if before.get(p) != after.get(p)
    }
    rewritten_dirs = {p.split("/_band=")[1].split("/")[0] for p in changed_paths}
    assert rewritten_dirs == {str(b) for b in expected_bands}
    # untouched bands: identical file list, size, and mtime
    for p, st in before.items():
        band = int(p.split("/_band=")[1].split("/")[0])
        if band not in expected_bands:
            assert after[p] == st, f"untouched band file rewritten: {p}"

    # SCD2 content: each changed key now has a closed row + a new current row
    dim = spark.read.parquet(f"{target_dir}/dim_customer")
    for k in changed_keys:
        rows = dim.filter(F.col("c_custkey") == int(k)).collect()
        assert len(rows) == 2
        cur = [r for r in rows if r["is_current"]]
        closed = [r for r in rows if not r["is_current"]]
        assert len(cur) == 1 and len(closed) == 1
        assert cur[0]["c_acctbal"] == closed[0]["c_acctbal"] + 1000.0
    per_key = dim.groupBy("c_custkey").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_cur")
    )
    assert per_key.filter(F.col("n_cur") != 1).count() == 0
    shutil.rmtree(src_dir, ignore_errors=True)


def _night_inputs(sf_dir, night_dir):
    """A nightly increment of the fixtures in `night_dir`: three customers
    change balance, 25 lineitem rows break DQ rules (five with two reasons
    at once), and 50 new events arrive above the loaded watermark. Every
    other table is a symlink to the fixture."""
    import datetime as dt
    import glob
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    night_dir.mkdir()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)
        if name not in ("customer.parquet", "lineitem.parquet", "events.parquet"):
            os.symlink(p, night_dir / name)

    cust = pq.read_table(f"{sf_dir}/customer.parquet")
    bal = cust["c_acctbal"].to_numpy().copy()
    bal[:3] += 1000.0
    pq.write_table(cust.set_column(cust.schema.get_field_index("c_acctbal"),
                                   "c_acctbal", pa.array(bal)),
                   night_dir / "customer.parquet")

    li = pq.read_table(f"{sf_dir}/lineitem.parquet")
    qty = li["l_quantity"].to_numpy().copy()
    disc = li["l_discount"].to_numpy().copy()
    qty[:10] = 0.0          # quantity_range
    disc[5:15] = 0.5        # discount_max (rows 5-9 break both rules)
    key = li["l_orderkey"].to_pylist()
    key[20:25] = [None] * 5  # nonnull_key
    for col, arr in (("l_quantity", pa.array(qty)), ("l_discount", pa.array(disc)),
                     ("l_orderkey", pa.array(key, pa.int64()))):
        li = li.set_column(li.schema.get_field_index(col), col, arr)
    pq.write_table(li, night_dir / "lineitem.parquet")

    ev = pq.read_table(f"{sf_dir}/events.parquet")
    new = ev.slice(0, 50)
    id0 = pc.max(ev["event_id"]).as_py() + 1
    ts0 = pc.max(ev["ts"]).as_py()
    new = new.set_column(0, "event_id", pa.array(range(id0, id0 + 50), pa.int64()))
    new = new.set_column(1, "ts", pa.array(
        [ts0 + dt.timedelta(hours=1 + i) for i in range(50)], pa.timestamp("us")))
    pq.write_table(pa.concat_tables([ev, new]), night_dir / "events.parquet")


def test_observed_counts_equal_on_disk_counts(spark, sf_dir, target_dir, tmp_path):
    """The audit counts ride on the writes as Observations: each must equal
    a fresh count of what the write left on disk, and the DQ split must
    equal the quarantine's own reasons — on the first run and on an
    increment with changed customers, DQ breaks and new events. The jobs
    the flow threads start keep the caller's job group."""
    from t20_database_etl_pipeline_assignment_spark.operators.etl import dq_quarantine
    from t20_database_etl_pipeline_assignment_spark.pipeline import lineitem_rules

    night = tmp_path / "night1"
    _night_inputs(sf_dir, night)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    audits = []
    for src, batch_ts in ((sf_dir, "2026-01-01 00:00:00"),
                          (str(night), "2026-01-02 00:00:00")):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup("etl_counts", "etl_counts")
        try:
            m = run_etl(spark, src, target_dir, batch_ts=batch_ts)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        # no new ungrouped job; the status store keeps only the last
        # spark.ui.retainedJobs jobs, so older ungrouped ids may be evicted
        assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
        assert m["fact_rows"] == spark.read.parquet(f"{target_dir}/fact_lineitem").count()
        assert m["events_rows"] == spark.read.parquet(f"{target_dir}/events").count()
        assert m["dim_customer_rows"] == spark.read.parquet(
            f"{target_dir}/dim_customer").count()

        lineitem = spark.read.parquet(f"{src}/lineitem.parquet")
        _, quarantined = dq_quarantine(lineitem, lineitem_rules())
        want = {
            r["rule"]: r["count"]
            for r in quarantined.select(F.explode("_dq_reasons").alias("rule"))
            .groupBy("rule").count().collect()
        }
        assert m["rejects_by_rule"] == want
        assert m["rows_valid"] + quarantined.count() == lineitem.count()
        assert m["rows_valid"] == m["fact_rows"]
        audits.append(m)

    first, m = audits
    assert m["rejects_by_rule"] == {"quantity_range": 10, "discount_max": 10,
                                    "nonnull_key": 5}
    assert m["events_rows"] == first["events_rows"] + 50
    assert m["dim_customer_rows"] == first["dim_customer_rows"] + 3
    assert m["dim_bands_rewritten"] > 0
    assert tracker.getJobIdsForGroup("etl_counts")


def _table_rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_failing_flow_leaves_other_flows_complete(spark, sf_dir, target_dir, tmp_path,
                                                  caplog):
    """One flow fails (the events target path is a plain file): run_etl
    raises that flow's error after the other two flows finish, logs the
    stage as FAILED, and leaves no temp dir. With the fault removed, a
    rerun of the same batch matches a clean run."""
    import glob
    import logging
    import os

    ev_path = f"{target_dir}/events"
    with open(ev_path, "w") as f:
        f.write("not a parquet directory\n")
    with caplog.at_level(logging.INFO, logger="t20spark.pipeline"):
        with pytest.raises(Exception, match="events") as err:
            run_etl(spark, sf_dir, target_dir, batch_ts="2026-01-01 00:00:00")
    assert "stage load_events_incremental: FAILED" in caplog.text
    failed = [r for r in caplog.records if "FAILED" in r.getMessage()]
    assert len(failed) == 1 and failed[0].exc_info[1] is err.value

    n_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert spark.read.parquet(f"{target_dir}/fact_lineitem").count() == n_li
    assert spark.read.parquet(f"{target_dir}/dim_customer").count() == n_cust
    assert glob.glob(f"{target_dir}/*.tmp-*") == []

    os.remove(ev_path)
    m = run_etl(spark, sf_dir, target_dir, batch_ts="2026-01-01 00:00:00")
    clean_dir = str(tmp_path / "clean")
    want = run_etl(spark, sf_dir, clean_dir, batch_ts="2026-01-01 00:00:00")
    audit = ("rows_valid", "fact_rows", "rejects_by_rule", "dim_customer_rows",
             "events_rows")
    assert {k: m[k] for k in audit} == {k: want[k] for k in audit}
    for t in ("fact_lineitem", "dim_customer", "events"):
        assert _table_rows(spark, f"{target_dir}/{t}") == _table_rows(spark, f"{clean_dir}/{t}"), t
    assert glob.glob(f"{target_dir}/*.tmp-*") == []
