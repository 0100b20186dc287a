"""Fault-step tests for the one commit protocol (streaming/commit.py) over
every publish path: a `run_etl` first load and night, the streaming SCD2
sink's first batch, head-day re-fold and late reconcile, and a CDC sink
batch; and pins for the nightly flows' incremental shape.

A *step* is one filesystem action a publish takes: an `os.rename`, a
`shutil.rmtree`, a state-marker write (`write_state`) or a DataFrame's
parquet write. The harness counts the steps of a clean run, then for every
k makes the k-th step raise instead of running (and, for a parquet write,
also tears it: the write runs, keeps only the later half of its output,
then raises), reruns without the fault, and requires the tables, the audit
counts and the markers to equal the clean run's, with no staging or tmp
dir left behind.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import json
import os
import re
import shutil
import sys
from contextlib import contextmanager

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from t20_database_etl_pipeline_assignment_spark import pipeline
from t20_database_etl_pipeline_assignment_spark.streaming import cdc_sink, commit, scd2_sink

from .test_pipeline import _night_inputs


class _Fault(RuntimeError):
    pass


def _tear(path: str) -> None:
    """Leave what a write cut short leaves: its checksums and `_SUCCESS`
    gone, and only the later half of its output — the later half of its
    part files, or of the rows of its one part file."""
    parts = []
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                os.remove(os.path.join(d, f))
            else:
                parts.append(os.path.join(d, f))
    parts.sort()
    if len(parts) > 1:
        for p in parts[: len(parts) // 2]:
            os.remove(p)
    elif parts:
        t = pq.read_table(parts[0])
        pq.write_table(t.slice(t.num_rows // 2), parts[0])


@contextmanager
def _steps(root: str, fail_at: int | None = None, torn: bool = False):
    """Count the publish steps under `root`; the `fail_at`-th (1-based)
    raises `_Fault` instead of running, or with `torn` (a parquet step)
    runs torn and then raises. Yields the list of steps, each a
    (kind:path, caller file:line) pair."""
    sites: list[tuple[str, str]] = []
    real_rename, real_rmtree = os.rename, shutil.rmtree
    real_parquet, real_state = DataFrameWriter.parquet, commit.write_state

    def step(kind: str, path: str) -> bool:
        path = os.path.abspath(path)
        if not path.startswith(root + os.sep):
            return False
        caller = sys._getframe(2)
        sites.append((
            f"{kind}:{re.sub(r'[0-9]+', 'N', os.path.relpath(path, root))}",
            f"{os.path.basename(caller.f_code.co_filename)}:{caller.f_lineno}",
        ))
        return len(sites) == fail_at

    def rename(src, dst, *a, **kw):
        if step("rename", dst):
            raise _Fault(sites[-1])
        return real_rename(src, dst, *a, **kw)

    def rmtree(path, *a, **kw):
        if step("rmtree", path):
            raise _Fault(sites[-1])
        return real_rmtree(path, *a, **kw)

    def parquet(self, path, *a, **kw):
        hit = step("parquet", path)
        if hit and not torn:
            raise _Fault(sites[-1])
        real_parquet(self, path, *a, **kw)
        if hit:
            _tear(path)
            raise _Fault(sites[-1])

    def write_state(path, state):
        if step("state", path):
            raise _Fault(sites[-1])
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

    saved = pipeline.run_concurrently
    os.rename, shutil.rmtree, DataFrameWriter.parquet = rename, rmtree, parquet
    commit.write_state, pipeline.run_concurrently = write_state, serial
    try:
        yield sites
    finally:
        os.rename, shutil.rmtree, DataFrameWriter.parquet = real_rename, real_rmtree, real_parquet
        commit.write_state, pipeline.run_concurrently = real_state, saved


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
        if re.search(r"(\.staging|/_tmp)", p)
    ]


_AUDIT = ("dim_customer_rows", "events_rows", "fact_rows")


def _state(root: str, result) -> tuple:
    """What a run must leave: its result (the audit counts of a `run_etl`)
    and the tables and markers under `root`."""
    audit = {a: result[a] for a in _AUDIT} if isinstance(result, dict) else result
    return audit, _tree(root)


def _survives_every_fault(tmp_path, base: str, run) -> list[tuple[str, str]]:
    """Run `run(root)` on a copy of `base` clean, then for every step k on
    a fresh copy: fault step k (raised, and torn too for a parquet step),
    rerun clean, and require the clean run's state and no leftover staging
    or tmp dir. Returns the clean run's steps."""
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    with _steps(clean) as sites:
        want = _state(clean, run(clean))
    for k, (site, _) in enumerate(sites, 1):
        for torn in (False, True) if site.startswith("parquet") else (False,):
            work = str(tmp_path / f"k{k}")
            shutil.copytree(base, work)
            with pytest.raises(_Fault), _steps(work, k, torn):
                run(work)
            assert _state(work, run(work)) == want, (k, torn, site)
            assert _leftovers(work) == [], (k, torn, site)
            shutil.rmtree(work)
    return sites


def _smallest(sf_dir: str) -> str:
    """The smallest fixture beside `sf_dir`: a run's steps are the same at
    any size, and its ~2 runs per step are latency-bound."""
    smallest = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    return smallest if os.path.isdir(smallest) else sf_dir


def _etl_night(spark, sf_dir, tmp_path):
    """A loaded target in `base` and a night that changes customers, breaks
    DQ rules, adds events and drops some already-loaded event ids from the
    source, so a crash misread as a first load would lose history."""
    sf_dir = _smallest(sf_dir)
    night = tmp_path / "night1"
    _night_inputs(sf_dir, night)
    ev = pq.read_table(night / "events.parquet")
    cut = sorted(ev.column("event_id").to_pylist())[20]
    os.remove(night / "events.parquet")
    pq.write_table(ev.filter(pc.greater_equal(ev["event_id"], cut)), night / "events.parquet")
    base = str(tmp_path / "base")
    pipeline.run_etl(spark, sf_dir, base, "2026-01-01 00:00:00")
    return base, lambda root: pipeline.run_etl(spark, str(night), root, "2026-01-02 00:00:00")


def _etl_first_load(spark, sf_dir, tmp_path):
    sf_dir = _smallest(sf_dir)
    base = str(tmp_path / "base")
    os.makedirs(base)
    return base, lambda root: pipeline.run_etl(spark, sf_dir, root, "2026-01-01 00:00:00")


def test_etl_night_survives_a_fault_at_every_step(spark, sf_dir, tmp_path):
    """A nightly run_etl with its k-th publish step faulted, for every k,
    then rerun: the same tables, audit counts and markers as a clean
    night, and no staging or tmp dir."""
    base, run = _etl_night(spark, sf_dir, tmp_path)
    sites = _survives_every_fault(tmp_path, base, run)
    assert {re.sub(r"/.*", "", s.split(":")[1]) for s, _ in sites} >= {
        "fact_lineitem", "dim_customer.staging", "dim_customer",
        "events.staging", "events",
    }, sites
    assert {s.split(":")[0] for s, _ in sites} == {"rename", "rmtree", "parquet", "state"}, sites


def test_etl_first_load_survives_a_fault_at_every_step(spark, sf_dir, tmp_path):
    """A first run_etl into an empty target, with its k-th publish step
    faulted or torn, then rerun: the clean first load's tables, counts and
    markers. A torn first load is loaded again, never read as history."""
    base, run = _etl_first_load(spark, sf_dir, tmp_path)
    _survives_every_fault(tmp_path, base, run)


_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
_CDC_SCHEMA = "event_id long, ts timestamp, user_id long, value double, op string"


def _batches(spark):
    import datetime as dt

    day1 = dt.datetime(2024, 1, 1)
    day = lambda n, h: (day1 + dt.timedelta(days=n)).replace(hour=h)  # noqa: E731
    b0 = [(0, day(0, 1), 1, "view", 1.0), (1, day(0, 2), 2, "buy", 2.0)]
    # the head day again (a day split across batches) plus a new day
    b1 = [(2, day(0, 5), 1, "buy", 3.0), (3, day(1, 1), 2, "view", 4.0)]
    # a day-0 straggler behind the head day 1, plus a new day
    b2 = [(4, day(0, 3), 2, "view", 5.0), (5, day(2, 1), 1, "view", 6.0)]
    return [spark.createDataFrame(b, _SCHEMA) for b in (b0, b1, b2)]


def _sink_batch(spark, tmp_path, batch):
    """Batches 0..batch-1 folded into `base` by the reconcile-policy sink;
    the run folds batch `batch` through a new sink."""
    dfs = _batches(spark)
    keys, attrs = ["user_id"], ["event_type", "value"]

    def sink(root):
        return scd2_sink.scd2_stream_sink(f"{root}/dim", keys, attrs, late_policy="reconcile")

    base = str(tmp_path / "base")
    os.makedirs(base)
    for i in range(batch):
        sink(base)(dfs[i], i)
    return base, lambda root: sink(root)(dfs[batch], batch)


def _cdc_batch(spark, tmp_path):
    import datetime as dt

    d = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    b0 = spark.createDataFrame([(0, d(1), 1, 1.0, "U"), (1, d(1), 2, 2.0, "U")], _CDC_SCHEMA)
    b1 = spark.createDataFrame([(2, d(2), 1, 0.0, "D"), (3, d(0), 2, 9.0, "U")], _CDC_SCHEMA)

    def sink(root):
        return cdc_sink.cdc_stream_sink(f"{root}/cdc", "user_id", ["value"])

    base = str(tmp_path / "base")
    os.makedirs(base)
    sink(base)(b0, 0)
    return base, lambda root: sink(root)(b1, 1)


@pytest.mark.parametrize("batch", [0, 1, 2],
                         ids=["first_batch", "head_day_refold", "late_reconcile"])
def test_scd2_sink_batch_survives_a_fault_at_every_step(spark, tmp_path, batch):
    """The sink's first batch, a head-day re-fold and a late reconcile,
    each with its k-th step faulted, for every k, then re-delivered to a
    new sink: the same dimension, log and marker as a clean run, and no
    staging or tmp dir."""
    base, run = _sink_batch(spark, tmp_path, batch)
    sites = _survives_every_fault(tmp_path, base, run)
    assert {s.split(":")[0] for s, _ in sites} >= {"rename", "parquet", "state"}, sites


def test_cdc_sink_batch_survives_a_fault_at_every_step(spark, tmp_path):
    """A CDC sink batch over a published state, with its k-th step faulted,
    for every k, then re-delivered to a new sink: the clean state and
    marker, and no staging dir."""
    base, run = _cdc_batch(spark, tmp_path)
    sites = _survives_every_fault(tmp_path, base, run)
    assert {s.split(":")[0] for s, _ in sites} == {"rename", "rmtree", "parquet", "state"}, sites


def _protocol_sites() -> set[str]:
    """Every step call in streaming/commit.py, as file:line."""
    with open(commit.__file__) as f:
        tree = ast.parse(f.read())
    return {
        f"commit.py:{n.lineno}" for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and ast.unparse(n.func) in ("os.rename", "shutil.rmtree", "write_state")
    }


def test_some_fault_step_hits_every_protocol_call_site(spark, sf_dir, tmp_path):
    """The harness faults every step of a clean run, so the union of the
    clean runs' steps over the scenarios above is the set of call sites
    some k hits: it must hold every step call of the commit protocol."""
    hit = set()
    (tmp_path / "night").mkdir()
    for name, (base, run) in {
        "night": _etl_night(spark, sf_dir, tmp_path / "night"),
        "refold": _sink_batch(spark, tmp_path / "refold", 1),
    }.items():
        with _steps(base) as sites:
            run(base)
        hit |= {where for _, where in sites}
    want = _protocol_sites()
    assert len(want) >= 7, want
    assert want <= hit, sorted(want - hit)


def test_torn_first_load_is_loaded_again(spark, sf_dir, tmp_path):
    """A first load whose events or dimension write keeps only the later
    half of its output and then raises: the rerun loads every source event
    and lands on the clean first load's tables, counts and markers."""
    sf_dir = _smallest(sf_dir)
    clean = str(tmp_path / "clean")
    want = _state(clean, pipeline.run_etl(spark, sf_dir, clean, "2026-01-01 00:00:00"))
    n_events = pq.read_metadata(f"{sf_dir}/events.parquet").num_rows
    real = DataFrameWriter.parquet
    for table in ("events", "dim_customer"):
        target = str(tmp_path / table)

        def torn(self, path, *a, **kw):
            real(self, path, *a, **kw)
            if os.path.basename(path).startswith(table):
                _tear(path)
                raise _Fault(path)

        DataFrameWriter.parquet = torn
        try:
            with pytest.raises(_Fault):
                pipeline.run_etl(spark, sf_dir, target, "2026-01-01 00:00:00")
        finally:
            DataFrameWriter.parquet = real
        m = pipeline.run_etl(spark, sf_dir, target, "2026-01-01 00:00:00")
        assert m["events_rows"] == n_events, table
        assert _state(target, m) == want, table


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
