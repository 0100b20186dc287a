"""The benchmark's workloads. Each drives the engine through its public
functions only, as one client in a closed loop, and returns its timed
operations, its checks and (when traced) its per-layer numbers.

A run has three parts:

- set-up, reported as `setup_s`: the median of SESSION_SETUPS session
  start-ups through `get_spark` (the first also launches the driver JVM),
  plus the workload's one-time cold work (a warm-up pass over the sampled
  queries, or the ETL full load);
- the timed window: a fixed number of passes over the run's operation list
  (three passes of the queries for star_sql, one night for etl_nightly), then
  more operations, cycling through the list, while fewer than `seconds` have
  passed; `pass_s` is the median wall time of the complete passes;
- checks, outside the timed window.

Per-layer counters are taken over the first timed pass only, so they depend
on the seed and the code, not on how fast the host ran.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import gen

PKG = "t20_database_etl_pipeline_assignment_spark"
STAR_MODULES = ("operators.star", "operators.aggregates", "operators.relational",
                "operators.windows", "functions.scalar")
# star_sql runs this many queries per module, for at least this many timed
# passes; passes get faster as the JVM warms, so run_seconds is kept below
# their duration to hold the pass count, and with it the medians, fixed
PER_MODULE = 2
STAR_PASSES = 3
SESSION_SETUPS = 3
# etl_nightly: nights in a pass, nights generated per run
NIGHTS_PER_PASS = 1
MAX_NIGHTS = 2
SCD2_PHASES = ("days_collect", "log_append", "fold", "publish")

_STREAM_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
_CDC_SCHEMA = "event_id long, ts timestamp, user_id long, value double, op string"


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    error: str = ""


@dataclass
class Outcome:
    ops: list = field(default_factory=list)  # timed operations
    pass_s: float = 0.0
    setup_s: float = 0.0
    checks: int = 0
    check_failures: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    rss_mb: float = 0.0
    timeline: dict = field(default_factory=dict)  # wall seconds per phase

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.check_failures.append(what[:300])


class Context:
    """What a workload needs: its inputs, the session, tracer and job
    counter."""

    def __init__(self, root, run_dir, workload, seed, seconds, tracer):
        self.root = root
        self.run_dir = run_dir
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = tracer.enabled
        self.base = os.path.join(run_dir, "inputs", "base")
        self.spark = None
        self.jobs = None

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python driver, in MiB."""
        from telemetry import jvm_pid, vm_hwm_mb

        return vm_hwm_mb(jvm_pid(self.spark.sparkContext)) + vm_hwm_mb()

    def job_group(self, group: str) -> None:
        """Tag the Spark jobs that follow (traced runs only)."""
        if self.traced:
            self.jobs.set_group(group)

    def start_sessions(self, out: Outcome) -> list[float]:
        """SESSION_SETUPS session start-ups through `get_spark`, each after
        stopping the previous session; the first also imports the engine
        and launches the driver JVM. Returns their durations."""
        from telemetry import JobCounter

        times = []
        for i in range(SESSION_SETUPS):
            t0 = time.perf_counter()
            with self.tracer.span("setup.session", attempt=i):
                if self.spark is not None:
                    self.spark.stop()
                import __spark_entry__  # noqa: F401  (registers every query module)
                from t20_database_etl_pipeline_assignment_spark.session import get_spark

                with self.tracer.span("session.get_spark", attempt=i):
                    t_gs = time.perf_counter()
                    self.spark = get_spark(f"perfbench-{self.workload}")
                    if i == 0:
                        out.layers["session.start_s"] = time.perf_counter() - t_gs
                self.spark.sparkContext.setLogLevel("ERROR")
            times.append(time.perf_counter() - t0)
        out.layers["session.first_setup_s"] = times[0]
        self.jobs = JobCounter(self.spark.sparkContext)
        return times


def summarize(ops: list[Op]) -> dict:
    times = [o.seconds for o in ops if o.ok]
    return {"op_p50_s": statistics.median(times) if times else 0.0, "n_ops": len(times)}


def _module_of(fn) -> str:
    return fn.__module__[len(PKG) + 1:]


def sample_queries(seed: int, QUERIES, cost: dict) -> list[str]:
    """PER_MODULE queries from each star-schema module, those at the middles
    of equal strata of the module's warm query cost, in seed-shuffled order.
    The set is the same for every seed, so runs differ only in their inputs
    and order. Queries missing from the cost table rank at its median."""
    mid = statistics.median(cost.values())
    picks = []
    for m in STAR_MODULES:
        ranked = sorted((q for q, f in QUERIES.items() if _module_of(f) == m),
                        key=lambda q: (cost.get(q, mid), q))
        picks += [ranked[(2 * j + 1) * len(ranked) // (2 * PER_MODULE)]
                  for j in range(PER_MODULE)]
    random.Random(f"star_sql:{seed}").shuffle(picks)
    return picks


# ---------------------------------------------------------------------------
# star_sql
# ---------------------------------------------------------------------------


def _run_query(ctx: Context, QUERIES, qid: str, tag: str, layer: list | None,
               pass_no: int = 0):
    """Build one query and collect its result; returns (seconds, frame).
    With `layer`, also plan it through plans.inspect, span each step and
    count the jobs its construction ran."""
    fn = QUERIES[qid]
    if layer is None:
        t0 = time.perf_counter()
        pdf = fn(ctx.spark, ctx.base).toPandas()
        return time.perf_counter() - t0, pdf

    from t20_database_etl_pipeline_assignment_spark.plans import inspect

    mod = _module_of(fn)
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("query", qid=qid, module=mod, tag=tag, pass_no=pass_no):
        ctx.job_group(f"{tag}:build")
        with tr.span("query.build", module=mod, pass_no=pass_no):
            df = fn(ctx.spark, ctx.base)
        with tr.span("plans.inspect", module=mod, pass_no=pass_no):
            exchanges = inspect.shuffle_count(df)
            broadcasts = inspect.count_nodes(df, "BroadcastExchange")
        ctx.job_group(f"{tag}:exec")
        with tr.span("query.exec", module=mod, pass_no=pass_no):
            pdf = df.toPandas()
    seconds = time.perf_counter() - t0
    layer.append({"tag": tag, "module": mod, "pass_no": pass_no,
                  "exchanges": exchanges, "broadcasts": broadcasts,
                  "build_jobs": len(ctx.jobs.jobs(f"{tag}:build"))})
    return seconds, pdf


def star_sql(ctx: Context) -> Outcome:
    from t20_database_etl_pipeline_assignment_spark.registry import ORACLES, QUERIES

    out = Outcome()
    sessions = ctx.start_sessions(out)
    with open(os.path.join(os.path.dirname(__file__), "strata.json")) as f:
        sample = sample_queries(ctx.seed, QUERIES, json.load(f)["star_sql"])
    results: dict[str, list] = {q: [] for q in sample}

    # warm-up pass: every sampled query once, untimed (codegen, JIT and the
    # staged event re-split land here)
    t0 = time.perf_counter()
    with ctx.tracer.span("setup.warmup_pass"):
        for i, q in enumerate(sample):
            t_op = time.perf_counter()
            try:
                results[q].append(_run_query(ctx, QUERIES, q, f"w{i}", None)[1])
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                out.ops.append(Op(q, time.perf_counter() - t_op, False, repr(e)))
    warmup = time.perf_counter() - t0
    out.layers["setup.warmup_pass_s"] = warmup
    out.setup_s = statistics.median(sessions) + warmup

    layer: list | None = [] if ctx.traced else None
    passes = []
    t_start = t_pass = time.perf_counter()
    i = 0
    while i < STAR_PASSES * len(sample) or time.perf_counter() - t_start < ctx.seconds:
        q = sample[i % len(sample)]
        t_op = time.perf_counter()
        try:
            secs, pdf = _run_query(ctx, QUERIES, q, f"t{i}", layer, i // len(sample))
            out.ops.append(Op(q, secs, True))
            results[q].append(pdf)
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            out.ops.append(Op(q, time.perf_counter() - t_op, False, repr(e)))
        i += 1
        if i % len(sample) == 0:
            passes.append(time.perf_counter() - t_pass)
            t_pass = time.perf_counter()
    out.pass_s = statistics.median(passes)
    out.rss_mb = ctx.peak_rss_mb()
    out.timeline.update(sessions=sessions, one_time=warmup,
                        window=time.perf_counter() - t_start)

    t_checks = time.perf_counter()
    if ctx.traced:
        _star_layers(ctx, out.layers, layer)
    _check_queries(ctx.base, results, ORACLES, out)
    out.timeline["checks"] = time.perf_counter() - t_checks
    return out


def _star_layers(ctx: Context, L: dict, traced_ops: list) -> None:
    tr = ctx.tracer
    first_pass = [o for o in traced_ops if o["pass_no"] == 0]
    for m in STAR_MODULES:
        L[f"{m}.build_s"] = tr.total("query.build", module=m, pass_no=0)
        L[f"{m}.exec_s"] = tr.total("query.exec", module=m, pass_no=0)
        L[f"{m}.build_jobs"] = sum(o["build_jobs"] for o in first_pass
                                   if o["module"] == m)
    L["plans.plan_s"] = tr.total("plans.inspect", pass_no=0)
    L["plans.exchanges"] = sum(o["exchanges"] for o in first_pass)
    L["plans.broadcasts"] = sum(o["broadcasts"] for o in first_pass)
    _spark_layers(ctx, L, [f"{o['tag']}:{p}" for o in first_pass for p in ("build", "exec")])


def _check_queries(base: str, results: dict, ORACLES: dict, out: Outcome) -> None:
    """Every collected result against its DuckDB oracle twin."""
    from tests.oracle_harness import compare_frames, duck_connect

    con = duck_connect(base)
    try:
        for q, frames in results.items():
            try:
                want = con.execute(ORACLES[q]).df()
            except Exception as e:  # noqa: BLE001 — an oracle failure is a miss
                for _ in frames:
                    out.check(False, f"{q}: oracle failed: {e!r}")
                continue
            for pdf in frames:
                try:
                    compare_frames(pdf, want, q)
                    out.check(True, q)
                except AssertionError as e:
                    out.check(False, str(e))
    finally:
        con.close()


def _spark_layers(ctx: Context, L: dict, groups: list[str]) -> None:
    """Jobs, stages and tasks of the given job groups, with their shuffle,
    spill and memory from the REST API; staged artifacts on disk."""
    from telemetry import rest_stage_telemetry

    job_ids = sorted({j for g in groups for j in ctx.jobs.jobs(g)})
    stage_ids = ctx.jobs.stage_ids(job_ids)
    counts = ctx.jobs.stage_counts(stage_ids)
    L["spark.jobs"] = len(job_ids)
    L["spark.stages"] = counts["stages"]
    L["spark.tasks"] = counts["tasks"]
    L["spark.tasks_failed"] = counts["tasks_failed"]
    for k, v in rest_stage_telemetry(ctx.spark.sparkContext, stage_ids).items():
        L[f"spark.{k}"] = v
    n = size = 0
    for d, _, files in os.walk(os.environ["T20_INDEX_CACHE"]):
        n += "_SUCCESS" in files
        size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    L["sources.staging.artifacts"] = n
    L["sources.staging.bytes"] = size


# ---------------------------------------------------------------------------
# etl_nightly
# ---------------------------------------------------------------------------


def _soak_traffic(root: str, seed: int, n: int):
    """The seeded micro-batch traffic of tools/soak_streaming.py."""
    import importlib.util

    path = os.path.join(root, "tools", "soak_streaming.py")
    spec = importlib.util.spec_from_file_location("perfbench_soak_streaming", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._gen_batches(seed, n)[0]


def etl_nightly(ctx: Context) -> Outcome:
    from t20_database_etl_pipeline_assignment_spark.pipeline import run_etl
    from t20_database_etl_pipeline_assignment_spark.streaming.cdc_sink import cdc_stream_sink
    from t20_database_etl_pipeline_assignment_spark.streaming.scd2_sink import scd2_stream_sink

    out = Outcome()
    nights, prev = [], ctx.base
    for k in range(1, MAX_NIGHTS + 1):
        d = os.path.join(ctx.run_dir, "inputs", f"night{k}")
        gen.nightly(ctx.base, d, ctx.seed, k, prev)
        nights.append(d)
        prev = d
    batches = _soak_traffic(ctx.root, ctx.seed, MAX_NIGHTS)
    cdc_rows = [[(e, ts, u, v, "D" if t == "d" else "U") for e, ts, u, t, v in b]
                for b in batches]
    target = os.path.join(ctx.run_dir, "target")
    dim_path = os.path.join(ctx.run_dir, "stream", "scd2_dim")
    cdc_path = os.path.join(ctx.run_dir, "stream", "cdc_state")

    sessions = ctx.start_sessions(out)
    spark = ctx.spark
    t0 = time.perf_counter()
    with ctx.tracer.span("pipeline.run_etl", night=0):
        full = run_etl(spark, ctx.base, target, "2024-03-01 00:00:00")
    full_load = time.perf_counter() - t0
    out.layers["pipeline.full_load_s"] = full_load
    out.setup_s = statistics.median(sessions) + full_load
    # micro-batch frames hold driver-local rows; create them before timing
    scd2_dfs = [spark.createDataFrame(b, _STREAM_SCHEMA) for b in batches]
    cdc_dfs = [spark.createDataFrame(b, _CDC_SCHEMA) for b in cdc_rows]
    scd2 = scd2_stream_sink(dim_path, ["user_id"], ["event_type", "value"],
                            late_policy="reconcile")
    cdc = cdc_stream_sink(cdc_path, "user_id", ["value"], tiebreak="event_id")

    # a night: the day's micro-batch through both sinks, then the nightly
    # run_etl increment
    audits, batch_s = [], {"scd2": [], "cdc": []}
    t_start = time.perf_counter()
    k = 0
    while k < NIGHTS_PER_PASS or (time.perf_counter() - t_start < ctx.seconds
                                  and k < MAX_NIGHTS):
        night_dir = nights[k]
        batch_ts = str(dt.datetime(2024, 3, 1) + dt.timedelta(days=k + 1))
        ctx.job_group(f"night{k}" if k < NIGHTS_PER_PASS else "later")
        t_op = time.perf_counter()
        try:
            with ctx.tracer.span("night", night=k + 1):
                with ctx.tracer.span("streaming.scd2_sink", batch=k):
                    scd2(scd2_dfs[k], k)
                t1 = time.perf_counter()
                with ctx.tracer.span("streaming.cdc_sink", batch=k):
                    cdc(cdc_dfs[k], k)
                t2 = time.perf_counter()
                with ctx.tracer.span("pipeline.run_etl", night=k + 1):
                    audits.append(run_etl(spark, night_dir, target, batch_ts))
            batch_s["scd2"].append(t1 - t_op)
            batch_s["cdc"].append(t2 - t1)
            out.ops.append(Op(f"night{k + 1}", time.perf_counter() - t_op, True))
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            out.ops.append(Op(f"night{k + 1}", time.perf_counter() - t_op, False, repr(e)))
            break  # later nights build on this one's state
        k += 1
        if k == NIGHTS_PER_PASS:
            out.pass_s = time.perf_counter() - t_start
    out.rss_mb = ctx.peak_rss_mb()
    out.timeline.update(sessions=sessions, one_time=full_load,
                        window=time.perf_counter() - t_start)

    t_checks = time.perf_counter()
    if ctx.traced and audits:
        L = out.layers
        first = audits[:NIGHTS_PER_PASS]
        for stage in ("validate", "conform_scd2", "load_facts", "load_events_incremental"):
            L[f"pipeline.{stage}_s"] = sum(m[f"{stage}_sec"] for m in first)
        L["pipeline.dim_bands_rewritten"] = sum(m["dim_bands_rewritten"] for m in first)
        L["pipeline.bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(target) for f in fs
        )
        L["streaming.scd2_sink.batch_s"] = statistics.median(batch_s["scd2"])
        L["streaming.cdc_sink.batch_s"] = statistics.median(batch_s["cdc"])
        for phase in SCD2_PHASES:
            L[f"streaming.scd2_sink.{phase}_s"] = (
                scd2.phase_sec.get(phase, 0.0) / len(batch_s["scd2"])
            )
        _spark_layers(ctx, L, [f"night{j}" for j in range(NIGHTS_PER_PASS)])

    done = len(audits)
    for d, m in [(ctx.base, full)] + [(nights[j], audits[j]) for j in range(done)]:
        _check_dq(d, m, out)
    last = nights[done - 1] if done else ctx.base
    _check_dimension(target, last, out)
    _check_events(target, last, out)
    if done:
        _check_streams(spark, scd2, cdc, dim_path, cdc_path, batches[:done],
                       cdc_rows[:done], out)
    out.timeline["checks"] = time.perf_counter() - t_checks
    return out


def _check_dq(night_dir: str, audit: dict, out: Outcome) -> None:
    """Valid plus quarantined rows equal the lineitem rows, and the
    rejects per rule match the rules applied to the input independently."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(night_dir, "lineitem.parquet"),
                      columns=["l_orderkey", "l_quantity", "l_discount"])
    q = t["l_quantity"].to_numpy(zero_copy_only=False)
    d = t["l_discount"].to_numpy(zero_copy_only=False)
    bad = {"quantity_range": ~((q >= 1) & (q <= 50)), "discount_max": ~(d <= 0.10),
           "nonnull_key": t["l_orderkey"].is_null().to_numpy(zero_copy_only=False)}
    quarantined = np.logical_or.reduce(list(bad.values()))
    want_valid = int((~quarantined).sum())
    name = os.path.basename(night_dir)
    out.check(audit["rows_valid"] == want_valid == audit["fact_rows"],
              f"{name}: valid rows {audit['rows_valid']}, facts {audit['fact_rows']}, "
              f"expected {want_valid}")
    out.check(audit["rows_valid"] + int(quarantined.sum()) == t.num_rows,
              f"{name}: valid + quarantined rows != lineitem rows")
    want_rules = {r: int(v.sum()) for r, v in bad.items() if v.any()}
    out.check(audit.get("rejects_by_rule", {}) == want_rules,
              f"{name}: rejects {audit.get('rejects_by_rule')} != {want_rules}")


def _check_dimension(target: str, night_dir: str, out: Outcome) -> None:
    """Each c_custkey has exactly one current row, carrying the latest
    snapshot's attributes."""
    import glob

    import pandas as pd
    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(target, "dim_customer", "_band=*", "*.parquet")))
    dim = pd.concat([pq.read_table(p).to_pandas() for p in parts], ignore_index=True)
    cur = dim[dim["is_current"]].sort_values("c_custkey").reset_index(drop=True)
    snap = pq.read_table(os.path.join(night_dir, "customer.parquet")).to_pandas()
    snap = snap.sort_values("c_custkey").reset_index(drop=True)
    out.check(cur["c_custkey"].is_unique, "dim_customer: a key has several current rows")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    same = len(cur) == len(snap) and all(
        (cur[c].astype(str).values == snap[c].astype(str).values).all() for c in cols
    )
    out.check(same, "dim_customer: current rows differ from the latest snapshot")


def _check_events(target: str, night_dir: str, out: Outcome) -> None:
    """Loaded events are unique by id and are exactly the source's."""
    import pyarrow.parquet as pq

    ids = pq.read_table(os.path.join(target, "events"), columns=["event_id"])["event_id"]
    ids = ids.to_pylist()
    want = pq.read_table(os.path.join(night_dir, "events.parquet"), columns=["event_id"])
    out.check(len(set(ids)) == len(ids), "events: duplicate event ids")
    out.check(sorted(ids) == sorted(want["event_id"].to_pylist()),
              "events: loaded ids differ from the source's")


def _check_streams(spark, scd2, cdc, dim_path, cdc_path, batches, cdc_rows,
                   out: Outcome) -> None:
    """The SCD2 dimension equals the change-log fold of every streamed
    event; the CDC state equals last-op-wins per key."""
    from pyspark.sql import functions as F

    from t20_database_etl_pipeline_assignment_spark.streaming.scd2_sink import (
        recover_dim,
        scd2_daily_fold_spec,
    )

    fed = list(range(len(batches)))
    out.check(scd2.applied == fed and not scd2.skipped,
              f"scd2 sink applied {scd2.applied}, skipped {scd2.skipped}")
    out.check(cdc.applied == fed and not cdc.skipped,
              f"cdc sink applied {cdc.applied}, skipped {cdc.skipped}")
    recover_dim(dim_path)
    cols = ["user_id", "event_type", "value", "effective_from", "effective_to", "is_current"]
    got = sorted(tuple(r) for r in spark.read.parquet(dim_path).select(*cols).collect())
    spec = scd2_daily_fold_spec(
        spark.createDataFrame([r for b in batches for r in b], _STREAM_SCHEMA)
    )
    want = sorted(tuple(r) for r in spec.select(
        "user_id", "event_type", "value",
        F.col("effective_from").cast("timestamp"), F.col("effective_to").cast("timestamp"),
        "is_current",
    ).collect())
    out.check(got == want, f"scd2 sink: {len(got)} rows differ from the fold ({len(want)})")

    last: dict = {}
    for e, ts, u, v, op in (r for b in cdc_rows for r in b):
        if u not in last or (ts, e) > last[u][0]:
            last[u] = ((ts, e), (u, v, op))
    want_cdc = sorted(x for _, x in last.values())
    got_cdc = sorted(tuple(r) for r in
                     spark.read.parquet(cdc_path).select("user_id", "value", "op").collect())
    out.check(got_cdc == want_cdc,
              f"cdc sink: {len(got_cdc)} keys differ from last-op-wins ({len(want_cdc)})")


WORKLOADS = {"star_sql": star_sql, "etl_nightly": etl_nightly}
