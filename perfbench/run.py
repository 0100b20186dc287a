"""Benchmark entry point.

    python3 perfbench/run.py --workload star_sql --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. It generates the
workload's inputs from the seed under a run-private directory, times the
engine from outside through its public functions, checks the outputs, and
prints as its last stdout line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones named in BENCHMARK.json; with `--trace 1` the per-layer
ones, and the spans are written to `.perfbench/traces/`. The line before
the result records the run environment.

Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG_DIR = ROOT / "t20_database_etl_pipeline_assignment_spark"

DEFAULT_SF = 0.01
CORES = 4
DRIVER_MEM = "2g"
WATCHDOG_S = 150


class Stopped(BaseException):
    """The watchdog fired or the run was told to terminate. A BaseException,
    so that the per-operation `except Exception` handlers let it through."""


def _on_signal(signum, frame):
    raise Stopped(f"signal {signal.Signals(signum).name} (watchdog {WATCHDOG_S} s)")


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _isolate(run_dir: Path, traced: bool) -> None:
    """Point every place the engine, Spark, the JVM and Python write to at
    the run-private directory; fix cores and driver memory."""
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "spark_local", run_dir / "index_cache"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "T20_INDEX_CACHE": str(run_dir / "index_cache"),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark_local"),
        "SPARK_GRAFT_CPUS": str(min(CORES, len(os.sched_getaffinity(0)))),
        "T20_DRIVER_MEM": DRIVER_MEM,
        "T20_UI_ENABLED": "true" if traced else "false",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
        ),
        # every JVM, spark-submit's launcher included: temp files in the run
        # directory, no hsperfdata under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # spark-warehouse/, metastore and logs land here


def _stop_spark(spark) -> None:
    """Stop the session, then close the driver JVM's stdin (its exit
    signal) and wait until it has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


def _fingerprint(d: str) -> str:
    import hashlib

    h = hashlib.sha256()
    for p in sorted(Path(d).glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def run(workload: str, seed: int, seconds: int, traced: bool, sf: float) -> dict:
    import gen
    import workloads as W
    from telemetry import Tracer, cpu_jiffies, run_environment

    spec = _spec()
    run_id = f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    run_dir = ROOT / ".perfbench" / "runs" / run_id
    _isolate(run_dir, traced)
    tracer = Tracer(run_id, traced)
    ctx = W.Context(str(ROOT), str(run_dir), workload, seed, seconds, tracer)
    t0 = time.perf_counter()
    steal0, total0 = cpu_jiffies()
    try:
        gen.generate(ctx.base, seed, sf)
        t_gen = time.perf_counter() - t0
        out = W.WORKLOADS[workload](ctx)
        env = run_environment(ctx.spark, _fingerprint(ctx.base))
    finally:
        t1 = time.perf_counter()
        _stop_spark(ctx.spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        t_stop = time.perf_counter() - t1
    timeline = {"generate": t_gen, **out.timeline, "stop": t_stop,
                "ops": [o.seconds for o in out.ops]}
    print("perfbench: timeline " + json.dumps(
        {k: [round(x, 2) for x in v] if isinstance(v, list) else round(v, 2)
         for k, v in timeline.items()}), file=sys.stderr)

    steal1, total1 = cpu_jiffies()
    env.update({"workload": workload, "seed": seed, "sf": sf, "seconds": seconds,
                "traced": traced, "run_id": run_id,
                "cpu_steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4)})
    summary = W.summarize(out.ops)
    failed_ops = [o for o in out.ops if not o.ok]
    attempted = len(out.ops) + out.checks
    failed = len(failed_ops) + len(out.check_failures)
    for o in failed_ops:
        print(f"FAILED op {o.name}: {o.error}", file=sys.stderr)
    for c in out.check_failures:
        print(f"FAILED check: {c}", file=sys.stderr)

    env.update({"n_ops": summary["n_ops"], "checks": out.checks})
    if traced:
        values = {**out.layers, "peak_rss_mb": out.rss_mb, "trace.pass_s": out.pass_s,
                  "trace.op_p50_s": summary["op_p50_s"]}
        tracer.spans.insert(0, {"environment": env})
        tracer.write(str(ROOT / ".perfbench" / "traces" / f"{workload}-seed{seed}.jsonl"))
    else:
        values = {"setup_s": out.setup_s, "pass_s": out.pass_s,
                  "op_p50_s": summary["op_p50_s"]}
    print(json.dumps({"environment": env}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in spec["per_layer" if traced else "end_to_end"]},
    }


def main(argv=None) -> int:
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="input scale factor (the smoke test uses 0.001)")
    args = ap.parse_args(argv)
    needed = (PKG_DIR / "session.py", ROOT / "tests" / "oracle_harness.py")
    if not all(p.is_file() for p in needed):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(WATCHDOG_S)
    t0 = time.perf_counter()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.sf)
    except Stopped as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
    print(f"perfbench: run wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
