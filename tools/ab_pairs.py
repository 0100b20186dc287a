"""Interleaved A/B of two checkouts through the repo's benchmark.

Runs `perfbench/run.py` once per seed in each checkout, alternating which
side runs first from pair to pair, and reads only what perfbench prints:
its result JSON (the last stdout line). For every end-to-end metric of
BENCHMARK.json it prints each pair's values, each side's quartiles, the
change's wins, the median change against the metric's bound, and the
verdict a claimed gain needs: the change better in at least 9 of 10 pairs
and the median gap wider than the parent's interquartile range. A metric
whose parent spread (IQR / median) exceeds its bound is marked unresolved.

Usage:
    python tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload etl_nightly \
        --seeds 1201-1210 [--seconds 6] [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def run_side(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.perf_counter() - t0
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, q2, q3


def verdict(metric: dict, parent: list[float], change: list[float]) -> dict:
    lower = metric.get("better", "lower") == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    iqr = pq3 - pq1
    gap = (pmed - cmed) if lower else (cmed - pmed)
    rel = (cmed - pmed) / pmed if pmed else 0.0
    bound = metric.get("bound")
    worse = (rel if lower else -rel)
    return {
        "parent_quartiles": [pq1, pmed, pq3],
        "change_quartiles": [cq1, cmed, cq3],
        "wins": wins,
        "pairs": len(parent),
        "median_change": rel,
        "parent_iqr": iqr,
        "gap": gap,
        "claim_met": wins >= math.ceil(0.9 * len(parent)) and gap > iqr,
        "unresolved": bound is not None and pmed > 0 and iqr / pmed > bound,
        "within_bound": bound is None or worse <= bound,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--json", help="write every run's result and the verdicts here")
    args = ap.parse_args(argv)
    lo, _, hi = args.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    runs = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_side(getattr(args, side), args.workload, seed, args.seconds)
        runs.append(pair)
        vals = "  ".join(
            f"{m['name']} {pair['parent']['metrics'][m['name']]['value']:.3f}"
            f"→{pair['change']['metrics'][m['name']]['value']:.3f}"
            for m in metrics
        )
        ok = all(pair[s]["correct"] for s in ("parent", "change"))
        print(f"seed {seed} ({order[0]} first) {vals}  correct={ok}", flush=True)

    report = {}
    for m in metrics:
        name = m["name"]
        series = {s: [r[s]["metrics"][name]["value"] for r in runs]
                  for s in ("parent", "change")}
        report[name] = v = verdict(m, series["parent"], series["change"])
        print(f"{name}: parent q {['%.3f' % x for x in v['parent_quartiles']]} "
              f"change q {['%.3f' % x for x in v['change_quartiles']]} "
              f"median {v['median_change']:+.1%}, wins {v['wins']}/{v['pairs']}, "
              f"gap {v['gap']:.3f} vs parent IQR {v['parent_iqr']:.3f}: "
              f"claim {'met' if v['claim_met'] else 'not met'}, "
              f"{'within' if v['within_bound'] else 'BEYOND'} bound"
              f"{', unresolved (parent spread > bound)' if v['unresolved'] else ''}")
    failed = {s: sum(r[s]["failed"] for r in runs) for s in ("parent", "change")}
    attempted = {s: sum(r[s]["attempted"] for r in runs) for s in ("parent", "change")}
    print(f"failed/attempted: parent {failed['parent']}/{attempted['parent']}, "
          f"change {failed['change']}/{attempted['change']}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "seeds": seeds, "runs": runs,
                       "verdicts": report, "failed": failed, "attempted": attempted},
                      f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
