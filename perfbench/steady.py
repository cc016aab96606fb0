#!/usr/bin/env python3
"""Steadiness check of the benchmark.

    python3 perfbench/steady.py --workload ingest --runs 10 --seconds 5

Runs ``run.py`` once per seed (``--first-seed`` upward) and prints, for
every end-to-end metric, the median of the runs and the spread: the
distance between the first and third quartile as a share of the median,
from ``statistics.quantiles(values, n=4)``, next to the metric's bound in
BENCHMARK.json. ``--trace-twice`` also runs the traced run twice on the
first seed and lists every count metric that does not repeat exactly,
and the traced-minus-untraced difference of the main operations'
medians (tracing overhead).
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
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return {"wall_s": wall, "report": json.loads(lines[-2])["report"],
            "result": json.loads(lines[-1])}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace-twice", action="store_true")
    ap.add_argument("--save", help="write every run's report and result "
                    "to this JSON file")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for i in range(args.runs):
        r = run_once(args.workload, args.first_seed + i, seconds, 0)
        res = r["result"]
        print(f"seed {args.first_seed + i}: {r['wall_s']:.1f} s, "
              f"correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
        for note in r["report"]["notes"]:
            print(note, flush=True)
        runs.append(r)
    out = {"workload": args.workload, "runs": len(runs),
           "run_wall_s": [round(r["wall_s"], 1) for r in runs],
           "failed": sum(r["result"]["failed"] for r in runs),
           "metrics": {}}
    for name, bound in bounds.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        s = spread(vals) if len(vals) >= 2 else None
        out["metrics"][name] = {"median": statistics.median(vals),
                                "spread": s, "bound": bound,
                                "ok": s is not None and s <= bound / 3}
        print(f"  {name:22s} median {statistics.median(vals):12.5g}  "
              f"spread {s if s is None else round(s, 4)!s:8s} "
              f"bound {bound}  values {[float(f'{v:.4g}') for v in vals]}",
              flush=True)

    if args.trace_twice:
        traced = [run_once(args.workload, args.first_seed, seconds, 1)
                  for _ in range(2)]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        a, b = (t["result"]["metrics"] for t in traced)
        unsteady = [n for n, u in units.items()
                    if u == "count" and a[n]["value"] != b[n]["value"]]
        out["unsteady_counts"] = unsteady
        base = runs[0]["report"]["samples"]
        over = {}
        for kind, s in traced[0]["report"]["samples"].items():
            if kind in base and base[kind]["median"]:
                over[kind] = (s["median"] - base[kind]["median"]) \
                    / base[kind]["median"]
        out["tracing_overhead_frac"] = over
        out["traced_wall_s"] = [round(t["wall_s"], 1) for t in traced]
        print(f"  counts that did not repeat: {unsteady or 'none'}")
        print(f"  traced-minus-untraced, share of median: "
              f"{ {k: round(v, 3) for k, v in over.items()} }")
    print(json.dumps(out))
    if args.save:
        with open(args.save, "w") as f:
            json.dump({"summary": out, "runs": runs,
                       "traced": traced if args.trace_twice else []}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
