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


def test_band_swap_recovery_both_crash_windows(spark, tmp_path):
    """recover_band_swaps heals both torn states a crash can leave: a
    stranded survivor with the live band missing (restore) and a survivor
    next to a completed swap (discard). Partition discovery afterwards
    sees exactly the original integer bands — no '3.old' string values,
    no duplicated rows."""
    import os
    import shutil

    from t20_database_etl_pipeline_assignment_spark.pipeline import (
        recover_band_swaps,
    )

    dim = str(tmp_path / "dim")
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 4) for i in range(20)], "k long, v string, _band int"
    )
    df.write.mode("overwrite").partitionBy("_band").parquet(dim)
    baseline = sorted(
        tuple(r) for r in spark.read.parquet(dim).select("k", "v", "_band").collect()
    )

    # crash window 1: band renamed away, replacement never arrived
    os.rename(os.path.join(dim, "_band=1"), os.path.join(dim, "_oldband.1"))
    # crash window 2 (legacy naming): swap completed but cleanup didn't run
    shutil.copytree(os.path.join(dim, "_band=2"), os.path.join(dim, "_band=2.old"))

    recover_band_swaps(dim)
    assert not os.path.exists(os.path.join(dim, "_oldband.1"))
    assert not os.path.exists(os.path.join(dim, "_band=2.old"))
    got = sorted(
        tuple(r) for r in spark.read.parquet(dim).select("k", "v", "_band").collect()
    )
    assert got == baseline


# band-swap crash-state model: what a crash can leave behind per band
_BAND_STATES = [
    "intact",        # live only (no crash)
    "old_only",      # crash between the two renames: survivor holds truth
    "both",          # crash before cleanup: live is newer, survivor stale
    "legacy_old",    # pre-hidden-naming survivor, live missing
    "legacy_both",   # pre-hidden-naming survivor beside a live band
]


def _hyp():
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
    return HealthCheck, example, given, settings, st


HealthCheck, example, given, settings, st = _hyp()


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(states=st.lists(st.sampled_from(_BAND_STATES), min_size=1, max_size=6))
@example(states=["old_only", "both", "legacy_old", "legacy_both", "intact"])
def test_band_swap_recovery_heals_any_crash_combination(states):
    """recover_band_swaps over EVERY per-band crash-state combination: after
    recovery each band has exactly its live dir, holding the survivor's
    content iff the live dir was missing (crash between renames) and the
    newer live content otherwise; no survivor dirs remain; and a second
    recovery is a no-op (idempotence)."""
    import os
    import tempfile

    from t20_database_etl_pipeline_assignment_spark.pipeline import (
        recover_band_swaps,
    )

    def mkband(root, name, content):
        d = os.path.join(root, name)
        os.makedirs(d)
        with open(os.path.join(d, "data.txt"), "w") as f:
            f.write(content)

    with tempfile.TemporaryDirectory() as dim:
        want: dict[int, str] = {}
        for b, state in enumerate(states):
            if state == "intact":
                mkband(dim, f"_band={b}", "live")
                want[b] = "live"
            elif state == "old_only":
                mkband(dim, f"_oldband.{b}", "old")
                want[b] = "old"
            elif state == "both":
                mkband(dim, f"_band={b}", "live")
                mkband(dim, f"_oldband.{b}", "old")
                want[b] = "live"
            elif state == "legacy_old":
                mkband(dim, f"_band={b}.old", "old")
                want[b] = "old"
            else:  # legacy_both
                mkband(dim, f"_band={b}", "live")
                mkband(dim, f"_band={b}.old", "old")
                want[b] = "live"

        for _ in range(2):  # second pass proves idempotence
            recover_band_swaps(dim)
            listing = sorted(os.listdir(dim))
            assert listing == [f"_band={b}" for b in sorted(want)], listing
            for b, content in want.items():
                with open(os.path.join(dim, f"_band={b}", "data.txt")) as f:
                    assert f.read() == content, (b, states)


def test_events_swap_crash_keeps_loaded_history(spark, sf_dir, target_dir, tmp_path):
    """A crash between the events swap's two renames leaves `events/`
    missing and the loaded history at `events.old`. The next run must
    restore it before deciding between first load and increment: a fresh
    load from the current source alone would drop every loaded event the
    source no longer carries, and the run after would delete the `.old`."""
    import glob
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    night1 = tmp_path / "night1"
    night2 = tmp_path / "night2"
    for d in (night1, night2):
        d.mkdir()
        for p in glob.glob(f"{sf_dir}/*.parquet"):
            if not (d == night2 and p.endswith("/events.parquet")):
                os.symlink(p, d / os.path.basename(p))
    # night 2's source no longer carries the 100 lowest event ids
    ev = pq.read_table(f"{sf_dir}/events.parquet")
    cut = sorted(ev.column("event_id").to_pylist())[100]
    pq.write_table(ev.filter(pc.greater_equal(ev["event_id"], cut)),
                   night2 / "events.parquet")

    run_etl(spark, str(night1), target_dir, batch_ts="2026-01-01 00:00:00")
    ev_path = f"{target_dir}/events"
    loaded = {r[0] for r in spark.read.parquet(ev_path).select("event_id").collect()}
    assert len(loaded) == ev.num_rows

    os.rename(ev_path, ev_path + ".old")  # crash between the two renames
    m2 = run_etl(spark, str(night2), target_dir, batch_ts="2026-01-02 00:00:00")

    after = {r[0] for r in spark.read.parquet(ev_path).select("event_id").collect()}
    assert loaded <= after, f"{len(loaded - after)} loaded events lost"
    assert m2["events_rows"] == len(after)
    assert not os.path.exists(ev_path + ".old")
