#!/usr/bin/env python3
"""Steadiness check: run one workload k times, each with another seed,
and print per metric the median, the quartiles and the spread
(interquartile distance as a share of the median) against the bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest_steady --runs 10 \
        [--first-seed 1] [--trace 0|1] [--json out.json]

With ``--trace 1`` the per-layer metrics are summarised instead; the
``trace.<metric>`` rows, set against an untraced set of the same
workload (``--against untraced.json``), give the tracing overhead.
Run from the root of a checkout.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run with seed {seed} failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description="run one workload k times and report spreads")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write the runs and the summary here")
    ap.add_argument("--against", help="an untraced --json file to compute trace overhead")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.monotonic()
        res = run_once(args.workload, seed, spec["run_seconds"], args.trace)
        wall = time.monotonic() - t0
        runs.append({"seed": seed, "wall_s": wall, **res})
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={wall:.1f}s", file=sys.stderr, flush=True)
    names = list(runs[0]["metrics"])
    summary = {}
    print(f"{args.workload}: {args.runs} runs, seeds {args.first_seed}.."
          f"{args.first_seed + args.runs - 1}")
    print(f"{'metric':44} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        s = summarise(vals)
        summary[name] = s
        b = bounds.get(name)
        flag = ""
        if b is not None:
            flag = "ok" if s["spread"] <= b / 3 else ("WIDE" if s["spread"] > b else "over 1/3")
        print(f"{name:44} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
              f"{s['spread']:8.3f} {b if b is not None else '':>6} {flag}")
    fails = {(r["failed"], r["attempted"]) for r in runs}
    print(f"correct in all runs: {all(r['correct'] for r in runs)}; "
          f"failed/attempted: {sorted(fails)}")
    if args.against:
        with open(args.against) as f:
            base = json.load(f)["summary"]
        print("tracing overhead (traced median / untraced median - 1):")
        for name, s in summary.items():
            if name.startswith("trace.") and name[6:] in base:
                print(f"  {name[6:]:30} {s['median'] / base[name[6:]]['median'] - 1:+.3f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
