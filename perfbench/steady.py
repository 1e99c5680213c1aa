"""Steadiness check: run every workload repeatedly and print each metric's
median, quartiles and spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --seed 100 [--traced 2] [--out FILE]

Run from the repository root. Each run is a separate ``run.py`` process
with its own seed; the workload order alternates between rounds (forward,
then reversed) so a slow stretch of the host does not land on one workload
only. The spread is (q3 - q1) / median with ``statistics.quantiles(n=4)``.
With ``--traced N`` it then makes N traced runs per workload and prints the
per-layer medians, whether the per-epoch job counts repeat exactly, and the
tracing overhead (traced vs untraced ``epoch_p50_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT_COUNTS = ("plans.jobs_per_epoch", "sinks.merge_jobs")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600, check=True,
    )
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["detail"] = json.loads(lines[-2])
    res["wall_s"] = time.time() - t
    return res


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def summarize(results: dict, bench: dict) -> dict:
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    table = {}
    for w, runs in results.items():
        rows = {}
        for name, spec in bounds.items():
            xs = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = quartiles(xs)
            rows[name] = {
                "unit": spec["unit"], "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med, "bound": spec["bound"],
            }
        rss = quartiles([r["detail"]["peak_rss_mb"] for r in runs])
        table[w] = {
            "metrics": rows,
            "peak_rss_mb": {"median": rss[1], "q1": rss[0], "q3": rss[2]},
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "runs": len(runs),
            "wall_s_median": statistics.median(r["wall_s"] for r in runs),
        }
    return table


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100, help="first seed")
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--out", default="", help="write all raw results as JSON")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]

    results: dict[str, list] = {w: [] for w in names}
    seed = args.seed
    for r in range(args.runs):
        for w in names if r % 2 == 0 else names[::-1]:
            res = run_once(w, seed, seconds, 0)
            seed += 1
            results[w].append(res)
            print(f"run {r} {w} seed={seed - 1} wall={res['wall_s']:.1f}s "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"host={res['detail']['host']}", flush=True)

    table = summarize(results, bench) if args.runs >= 2 else {}
    for w, t in table.items():
        print(f"\n{w}: {t['runs']} runs, attempted {t['attempted']}, failed "
              f"{t['failed']}, median run wall {t['wall_s_median']:.1f}s")
        rss = t["peak_rss_mb"]
        print(f"  {'JVM peak RSS (reference)':28s} {rss['median']:14.6g} MB     "
              f"q1 {rss['q1']:.6g} q3 {rss['q3']:.6g}")
        for name, m in t["metrics"].items():
            flag = "ok" if m["spread"] <= m["bound"] else "OVER BOUND"
            if name == "setup_s":
                flag = "(median-shift bound only)"
            print(f"  {name:28s} {m['median']:14.6g} {m['unit']:6s} "
                  f"q1 {m['q1']:.6g} q3 {m['q3']:.6g} spread {m['spread']:.3f} "
                  f"bound {m['bound']} {flag}")

    traced: dict[str, list] = {w: [] for w in names}
    for i in range(args.traced):
        for w in names if i % 2 == 0 else names[::-1]:
            traced[w].append(run_once(w, seed, seconds, 1))
            seed += 1
    layers = {}
    for w, runs in traced.items():
        if not runs:
            continue
        keys = runs[0]["metrics"]
        med = {k: statistics.median(r["metrics"][k]["value"] for r in runs) for k in keys}
        repeat = {k: len({r["metrics"][k]["value"] for r in runs}) == 1 for k in EXACT_COUNTS}
        layers[w] = {"median": med, "counts_repeat": repeat}
        print(f"\n{w}: {len(runs)} traced runs; per-epoch job counts repeat exactly: {repeat}")
        for k, v in med.items():
            print(f"  {k:32s} {v:14.6g} {keys[k]['unit']}")
        if w in table:
            base = table[w]["metrics"]["epoch_p50_s"]["median"]
            over = med["traced.epoch_p50_s"] / base - 1
            layers[w]["tracing_overhead"] = over
            print(f"  tracing overhead on epoch_p50_s: {over:+.1%} "
                  f"(traced {med['traced.epoch_p50_s']:.4g} s vs untraced {base:.4g} s)")

    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": results, "summary": table, "traced": traced,
                       "layers": layers}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
