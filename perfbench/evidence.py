"""Steadiness evidence: two sets of repeated plain runs per workload and
one traced run.

    python3 perfbench/evidence.py --out perfbench/evidence/NAME.json
        [--workloads small,large]

Run from the checkout root.  For every workload it runs ``run.py`` once per
seed of each set in ``SETS`` (plain), then once traced with
``TRACED_SEED``, and writes one JSON file: per set and end-to-end metric
the ten values, their median and quartiles
(``statistics.quantiles(values, n=4)``) and the quartile spread as a share
of the median next to the metric's bound; per set and timed series the
first-half to second-half ratio across runs; per metric the second set's
median against the first's; the traced run's per-layer metrics; and the
tracing overhead on each end-to-end metric (the traced value against the
plain median of the first set).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

# two sets of ten seeded runs: the spread within a set and the move of
# each median between sets are what the benchmark's bounds are checked on
SETS = (range(1, 11), range(11, 21))
TRACED_SEED = 101


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    rec = {"seed": seed, "trace": trace, "rc": p.returncode, "wall_s": time.time() - t}
    if len(lines) >= 2:
        rec["result"] = json.loads(lines[-1])
        rec["details"] = json.loads(lines[-2])["details"]
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def summarize(values: list[float], bound: float | None) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "values": values, "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else None, "bound": bound,
    }


def halves_summary(runs: list[dict]) -> dict:
    """Per timed series, the ratio of its first-half to its second-half
    median in each run: a ratio that sits above 1 across runs means the
    warm-up was too short, one that scatters around 1 is sampling noise."""
    ratios: dict[str, list[float]] = {}
    for r in runs:
        for k, v in (r.get("details") or {}).items():
            if isinstance(v, dict) and v.get("second_half_p50"):
                ratios.setdefault(k, []).append(v["first_half_p50"] / v["second_half_p50"])
    return {k: {"median_ratio": statistics.median(x), "runs": len(x),
                "first_half_slower": sum(1 for y in x if y > 1)}
            for k, x in sorted(ratios.items())}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    report = {
        "host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "run_seconds": seconds, "workloads": {},
    }
    for w in workloads:
        sets = []
        for seeds in SETS:
            runs = []
            for seed in seeds:
                r = run_once(w, seed, seconds, 0)
                runs.append(r)
                print(w, seed, r["rc"], round(r["wall_s"], 1),
                      {k: round(v["value"], 3)
                       for k, v in r.get("result", {}).get("metrics", {}).items()},
                      file=sys.stderr, flush=True)
            ok = [r for r in runs if r["rc"] == 0]
            names = sorted({k for r in ok for k in r["result"]["metrics"]})
            metrics = {n: summarize([r["result"]["metrics"][n]["value"] for r in ok],
                                    e2e.get(n, {}).get("bound"))
                       for n in names}
            sets.append((runs, metrics))
        metrics = sets[0][1]
        drift = {n: {"first_median": m["median"],
                     "second_median": sets[1][1][n]["median"],
                     "share": (sets[1][1][n]["median"] - m["median"]) / m["median"],
                     "bound": m["bound"]}
                 for n, m in metrics.items() if n in sets[1][1] and m["median"]}
        traced = run_once(w, TRACED_SEED, seconds, 1)
        print(w, "traced", traced["rc"], round(traced["wall_s"], 1), file=sys.stderr, flush=True)
        overhead = {}
        for n, m in metrics.items():
            tv = traced.get("details", {}).get("e2e_traced", {}).get(n)
            if tv is not None and m["median"]:
                overhead[n] = {"traced": tv, "plain_median": m["median"],
                               "share": (tv - m["median"]) / m["median"]}
        report["workloads"][w] = {
            "sets": [{
                "runs": [{"seed": r["seed"], "rc": r["rc"], "wall_s": r["wall_s"],
                          "correct": r.get("result", {}).get("correct"),
                          "attempted": r.get("result", {}).get("attempted"),
                          "failed": r.get("result", {}).get("failed"),
                          "details": r.get("details")} for r in runs],
                "end_to_end": m,
                "halves": halves_summary(runs),
            } for runs, m in sets],
            "median_drift": drift,
            "traced": {"seed": TRACED_SEED, "rc": traced["rc"], "wall_s": traced["wall_s"],
                       "per_layer": {k: v["value"] for k, v in traced.get("result", {}).get("metrics", {}).items()},
                       "dropped": traced.get("details", {}).get("dropped_metrics", {})},
            "tracing_overhead": overhead,
        }
        # written after every workload, so a later failure keeps the rest
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
