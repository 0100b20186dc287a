"""Fault-step tests for the publish protocols of the nightly ETL and the
streaming SCD2 sink, and pins for the nightly flows' incremental shape.

A *step* is one filesystem action a publish takes: an `os.rename`, a
state-marker write (`write_state`) or a DataFrame's parquet write. The
harness counts the steps of a clean run, then for every k makes the k-th
step raise instead of running, reruns without the fault, and requires the
tables, the audit counts and the markers to equal the clean run's, with no
tmp dir left behind.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from t20_database_etl_pipeline_assignment_spark import pipeline
from t20_database_etl_pipeline_assignment_spark.streaming import scd2_sink

from .test_pipeline import _night_inputs


class _Fault(RuntimeError):
    pass


@contextmanager
def _steps(root: str, fail_at: int | None = None):
    """Count the publish steps under `root`; the `fail_at`-th (1-based)
    raises `_Fault` instead of running. Yields the list of step sites."""
    sites: list[str] = []
    real_rename, real_parquet = os.rename, DataFrameWriter.parquet
    real_state = scd2_sink.write_state

    def site(kind: str, path: str) -> None:
        path = os.path.abspath(path)
        if not path.startswith(root + os.sep):
            return
        sites.append(f"{kind}:{re.sub(r'[0-9]+', 'N', os.path.relpath(path, root))}")
        if len(sites) == fail_at:
            raise _Fault(sites[-1])

    def rename(src, dst, *a, **kw):
        site("rename", dst)
        return real_rename(src, dst, *a, **kw)

    def parquet(self, path, *a, **kw):
        site("parquet", path)
        return real_parquet(self, path, *a, **kw)

    def write_state(path, state):
        site("state", path)
        return real_state(path, state)

    def serial(spark, *thunks):
        # the flows in argument order, so step k names the same site in
        # every run; the first failure is re-raised after all have run
        errors = []
        for t in thunks:
            try:
                t()
            except Exception as e:  # noqa: BLE001
                errors.append(e)
        if errors:
            raise errors[0]

    saved = (pipeline.write_state, pipeline.run_concurrently)
    os.rename, DataFrameWriter.parquet = rename, parquet
    scd2_sink.write_state = pipeline.write_state = write_state
    pipeline.run_concurrently = serial
    try:
        yield sites
    finally:
        os.rename, DataFrameWriter.parquet = real_rename, real_parquet
        scd2_sink.write_state = real_state
        pipeline.write_state, pipeline.run_concurrently = saved


def _tree(path: str) -> dict:
    """Every parquet dir under `path` → its sorted rows, and every state
    marker → its content: a table-for-table fingerprint that ignores file
    names and file splits."""
    out = {}
    for d, _, files in os.walk(path):
        data = [f for f in files if not f.startswith(("_", "."))]
        rel = os.path.relpath(d, path)
        if data:
            rows = []
            for f in data:
                t = pq.read_table(os.path.join(d, f))
                rows += [tuple(map(repr, r)) for r in zip(*t.to_pydict().values())]
            out[rel] = sorted(rows)
        for f in files:
            if f.endswith("_state.json") and f.startswith("_") and not f.startswith("_tmp"):
                with open(os.path.join(d, f)) as fh:
                    out[os.path.join(rel, f)] = json.load(fh)
    return out


def _leftovers(path: str) -> list[str]:
    return [
        p for p in glob.glob(f"{path}/**", recursive=True)
        if re.search(r"(\.tmp-|/_tmp|\.old$|/_oldband\.)", p)
    ]


_AUDIT = ("dim_customer_rows", "events_rows", "fact_rows")


def test_etl_night_survives_a_fault_at_every_step(spark, sf_dir, tmp_path):
    """A nightly run_etl (changed customers, DQ breaks, new events) with
    its k-th publish step faulted, for every k, then rerun: the same
    tables, audit counts and markers as a clean night, and no tmp dir.
    Runs on the smallest fixture beside `sf_dir`: its ~2 runs per step
    are latency-bound, so a bigger fixture adds time and no step."""
    smallest = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    sf_dir = smallest if os.path.isdir(smallest) else sf_dir
    night = tmp_path / "night1"
    _night_inputs(sf_dir, night)
    base = str(tmp_path / "base")
    pipeline.run_etl(spark, sf_dir, base, "2026-01-01 00:00:00")

    def night_run(target: str, fail_at=None):
        with _steps(target, fail_at) as sites:
            m = pipeline.run_etl(spark, str(night), target, "2026-01-02 00:00:00")
        return m, sites

    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    want, sites = night_run(clean)
    want_tree = _tree(clean)
    assert {re.sub(r"/.*", "", s.split(":")[1]) for s in sites} >= {
        "fact_lineitem", "dim_customer.tmp-bands", "dim_customer",
        "events.tmp-append", "events",
    }, sites
    assert {s.split(":")[0] for s in sites} == {"rename", "parquet", "state"}, sites

    for k in range(1, len(sites) + 1):
        work = str(tmp_path / f"k{k}")
        shutil.copytree(base, work)
        with pytest.raises(_Fault):
            night_run(work, fail_at=k)
        m, _ = night_run(work)
        assert {a: m[a] for a in _AUDIT} == {a: want[a] for a in _AUDIT}, (k, sites[k - 1])
        assert _tree(work) == want_tree, (k, sites[k - 1])
        assert _leftovers(work) == [], (k, sites[k - 1])
        shutil.rmtree(work)


_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _batches(spark):
    import datetime as dt

    day1 = dt.datetime(2024, 1, 1)
    b0 = [(0, day1.replace(hour=1), 1, "view", 1.0), (1, day1.replace(hour=2), 2, "buy", 2.0)]
    # the head day again (a day split across batches) plus a new day
    b1 = [(2, day1.replace(hour=5), 1, "buy", 3.0),
          (3, (day1 + dt.timedelta(days=1)).replace(hour=1), 2, "view", 4.0)]
    return [spark.createDataFrame(b, _SCHEMA) for b in (b0, b1)]


@pytest.mark.parametrize("batch", [0, 1], ids=["first_batch", "head_day_refold"])
def test_scd2_sink_batch_survives_a_fault_at_every_step(spark, tmp_path, batch):
    """The sink's first batch and a head-day re-fold, each with its k-th
    publish step faulted, for every k, then re-delivered to a new sink:
    the same dimension, log and marker as a clean run, and no tmp dir."""
    dfs = _batches(spark)
    keys, attrs = ["user_id"], ["event_type", "value"]
    base = str(tmp_path / "base")
    os.makedirs(base)
    for i in range(batch):
        scd2_sink.scd2_stream_sink(f"{base}/dim", keys, attrs)(dfs[i], i)

    def run(root: str, fail_at=None):
        with _steps(root, fail_at) as sites:
            scd2_sink.scd2_stream_sink(f"{root}/dim", keys, attrs)(dfs[batch], batch)
        return sites

    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    sites = run(clean)
    want = _tree(clean)
    assert {s.split(":")[0] for s in sites} == {"rename", "parquet", "state"}, sites

    for k in range(1, len(sites) + 1):
        work = str(tmp_path / f"k{k}")
        shutil.copytree(base, work)
        with pytest.raises(_Fault):
            run(work, fail_at=k)
        run(work)
        assert _tree(work) == want, (k, sites[k - 1])
        assert _leftovers(work) == [], (k, sites[k - 1])
        shutil.rmtree(work)


def test_refused_batch_leaves_the_log_unchanged(spark, tmp_path):
    """A batch refused under late_policy="fail" (a day before the folded
    head) is checked on the days observed on its log write, before the
    rename: the log keeps exactly its earlier batches and no tmp dir."""
    import datetime as dt

    dim = str(tmp_path / "dim")
    sink = scd2_sink.scd2_stream_sink(dim, ["user_id"], ["event_type", "value"])
    sink(spark.createDataFrame([(1, dt.datetime(2024, 1, 2, 1), 1, "view", 1.0)], _SCHEMA), 0)
    before = _tree(dim + ".log")
    with pytest.raises(ValueError, match="older than the folded head"):
        sink(spark.createDataFrame(
            [(2, dt.datetime(2024, 1, 1, 1), 1, "buy", 7.0)], _SCHEMA), 1)
    assert sorted(os.listdir(dim + ".log")) == ["batch=0"]
    assert _tree(dim + ".log") == before
    assert sink.applied == [0]


# ---------------------------------------------------------------------------
# the nightly flows' incremental shape
# ---------------------------------------------------------------------------


def test_scd2_band_rewrite_plan_has_one_join(spark, sf_dir, tmp_path):
    """The band rewrite's scd2_apply plan: one join, the staged snapshot
    scanned once and the dimension at most twice (current and history
    slices)."""
    from t20_database_etl_pipeline_assignment_spark.operators.etl import scd2_apply
    from t20_database_etl_pipeline_assignment_spark.plans.inspect import plan_string

    target = str(tmp_path / "t")
    pipeline.run_etl(spark, sf_dir, target, "2026-01-01 00:00:00")
    keys = ["c_custkey"]
    attrs = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    bands = [1, 5]
    dim = spark.read.parquet(f"{target}/dim_customer")
    staged = spark.read.parquet(f"{sf_dir}/customer.parquet")
    plan = plan_string(scd2_apply(
        dim.filter(F.col("_band").isin(bands)).drop("_band"),
        staged.filter(pipeline._dim_band(F.col("c_custkey")).isin(bands)),
        keys, attrs, "2026-01-02 00:00:00",
    ))
    joins = re.findall(r"^\(\d+\) (\w*Join\w*|CartesianProduct)", plan, re.M)
    locations = re.findall(r"^Location: \w+ \[([^\]]*)\]", plan, re.M)
    assert len(joins) == 1, plan
    assert sum("customer.parquet" in loc for loc in locations) == 1, plan
    assert sum("dim_customer" in loc for loc in locations) <= 2, plan


def _copy_inputs(sf_dir, d):
    d.mkdir()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        os.symlink(p, d / os.path.basename(p))


def test_unchanged_night_rewrites_no_band_and_reads_no_dimension(spark, sf_dir, tmp_path):
    """A night whose snapshot equals the last one rewrites no band, keeps
    the committed marker, and never scans the dimension."""
    target = str(tmp_path / "t")
    pipeline.run_etl(spark, sf_dir, target, "2026-01-01 00:00:00")
    marker = f"{target}/dim_customer/_dim_state.json"
    with open(marker) as f:
        before = json.load(f)
    assert before["state"] == "committed"
    scanned = []
    real = type(spark.read).parquet

    def spy(self, *paths, **kw):
        scanned.extend(paths)
        return real(self, *paths, **kw)

    type(spark.read).parquet = spy
    try:
        m = pipeline.run_etl(spark, sf_dir, target, "2026-01-02 00:00:00")
    finally:
        type(spark.read).parquet = real
    assert m["dim_bands_rewritten"] == 0
    assert not [p for p in scanned if "dim_customer" in p], scanned
    with open(marker) as f:
        assert json.load(f) == before


@pytest.mark.parametrize("dim_marker,events_marker", [("deleted", "pending"),
                                                      ("pending", "deleted")])
def test_lost_or_pending_markers_rebuild_to_a_clean_night(
    spark, sf_dir, tmp_path, dim_marker, events_marker
):
    """With a marker deleted or left pending, the night rebuilds it from
    the table with one aggregate and lands on the clean night's tables,
    counts and markers."""
    night = tmp_path / "night1"
    _night_inputs(sf_dir, night)
    runs = {}
    for name in ("clean", "lost"):
        target = str(tmp_path / name)
        pipeline.run_etl(spark, sf_dir, target, "2026-01-01 00:00:00")
        if name == "lost":
            for path, how in ((f"{target}/dim_customer/_dim_state.json", dim_marker),
                              (f"{target}/events/_events_state.json", events_marker)):
                if how == "deleted":
                    os.remove(path)
                else:
                    with open(path) as f:
                        st = json.load(f)
                    with open(path, "w") as f:
                        json.dump({**st, "state": "pending"}, f)
        m = pipeline.run_etl(spark, str(night), target, "2026-01-02 00:00:00")
        runs[name] = ({a: m[a] for a in _AUDIT}, _tree(target))
    assert runs["lost"] == runs["clean"]


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_events_night_appends_only_the_fresh_rows(spark, sf_dir, tmp_path):
    """After a night, `events/` keeps every earlier file byte-identical,
    and its new files hold exactly the night's fresh rows."""
    night = tmp_path / "night1"
    _night_inputs(sf_dir, night)
    target = str(tmp_path / "t")
    m1 = pipeline.run_etl(spark, sf_dir, target, "2026-01-01 00:00:00")
    ev = f"{target}/events"
    data = lambda: {f for f in os.listdir(ev) if not f.startswith(("_", "."))}  # noqa: E731
    before = {f: _digest(os.path.join(ev, f)) for f in data()}
    m2 = pipeline.run_etl(spark, str(night), target, "2026-01-02 00:00:00")
    assert {f: _digest(os.path.join(ev, f)) for f in before} == before
    new = data() - set(before)
    assert new
    fresh = sum(pq.read_metadata(os.path.join(ev, f)).num_rows for f in new)
    assert fresh == m2["events_rows"] - m1["events_rows"] == 50


def _null_and_separator_pairs():
    # concat_ws skips NULLs and does not escape its separator: each pair
    # rendered the same string under the old change hash
    return [((None, "x"), ("x", None)), (("a||b", "c"), ("a", "b||c"))]


def test_change_detection_sees_null_and_separator_shifts(spark):
    """scd1_apply and scd2_apply record a change when a value moves
    between columns across a NULL or across the `||` separator."""
    from t20_database_etl_pipeline_assignment_spark.operators.etl import (
        scd1_apply,
        scd2_apply,
        scd2_init,
    )

    schema = "k long, a string, b string"
    for i, (old, new) in enumerate(_null_and_separator_pairs()):
        t = spark.createDataFrame([(i, *old)], schema)
        s = spark.createDataFrame([(i, *new)], schema)
        assert [tuple(r) for r in scd1_apply(t, s, ["k"], ["a", "b"]).collect()] == [(i, *new)]
        out = scd2_apply(scd2_init(t, "2020-01-01"), s, ["k"], ["a", "b"], "2021-01-01")
        got = sorted(((r.a, r.b, r.is_current) for r in out.collect()), key=repr)
        assert got == sorted([(*old, False), (*new, True)], key=repr), (old, new, got)


def test_nightly_dimension_sees_null_and_separator_shifts(spark, sf_dir, tmp_path):
    """run_etl's nightly dimension flow finds the band and records the new
    version when a customer's value shifts across a NULL or the `||`
    separator between c_name and c_nationkey."""
    import pyarrow as pa

    src = tmp_path / "src"
    _copy_inputs(sf_dir, src)
    night = tmp_path / "night"
    _copy_inputs(sf_dir, night)
    cust = pq.read_table(f"{sf_dir}/customer.parquet")
    keys = cust["c_custkey"].to_pylist()[:2]

    def with_names(names, nations):
        names_col = cust["c_name"].to_pylist()
        nat_col = cust["c_nationkey"].to_pylist()
        names_col[:2], nat_col[:2] = names, nations
        t = cust.set_column(cust.schema.get_field_index("c_name"), "c_name",
                            pa.array(names_col, cust.schema.field("c_name").type))
        return t.set_column(t.schema.get_field_index("c_nationkey"), "c_nationkey",
                            pa.array(nat_col, cust.schema.field("c_nationkey").type))

    # (NULL, 5) → ('5', NULL) and ('n||7', NULL) → ('n', 7)
    for d, (names, nations) in ((src, ([None, "n||7"], [5, None])),
                                (night, (["5", "n"], [None, 7]))):
        os.remove(d / "customer.parquet")
        pq.write_table(with_names(names, nations), d / "customer.parquet")
    target = str(tmp_path / "t")
    m1 = pipeline.run_etl(spark, str(src), target, "2026-01-01 00:00:00")
    m2 = pipeline.run_etl(spark, str(night), target, "2026-01-02 00:00:00")
    assert m2["dim_bands_rewritten"] >= 1
    assert m2["dim_customer_rows"] == m1["dim_customer_rows"] + 2
    dim = spark.read.parquet(f"{target}/dim_customer").filter(F.col("c_custkey").isin(keys))
    cur = sorted(((r.c_name, r.c_nationkey) for r in dim.filter("is_current").collect()),
                 key=repr)
    assert cur == sorted([("5", None), ("n", 7)], key=repr)
