#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/steadiness.py --workloads build decontam \
        --seeds 1 2 3 4 5 6 7 8 9 10 --out perfbench/results/set_a.json

Runs are sequential, from the root of the checkout. The spread of a
metric is the distance between the first and third quartile of its
values (``statistics.quantiles(values, n=4)``) as a share of their
median. Each metric is flagged ``ok`` when its spread is below a third
of its bound in ``BENCHMARK.json``, ``WIDE`` when it is below the bound,
and ``OVER`` otherwise. ``setup_s`` is flagged like every other metric.
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


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--out")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                 text=True, timeout=900)
            wall = time.perf_counter() - t
            if out.returncode != 0:
                print(out.stdout[-2000:], out.stderr[-4000:], file=sys.stderr)
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            res["seed"], res["run_wall_s"] = seed, wall
            res["op_walls"] = [
                float(line.split("wall=")[1].split("s")[0])
                for line in out.stdout.splitlines()
                if line.startswith("# op") and "wall=" in line]
            runs.append(res)
            print(w, seed, f"{wall:.1f}s", res["correct"],
                  {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  flush=True)
        names = runs[0]["metrics"]
        stats = {}
        for k in names:
            vals = [r["metrics"][k]["value"] for r in runs]
            stats[k] = {
                "median": statistics.median(vals),
                "spread": spread(vals) if len(vals) > 1 else 0.0,
                "bound": bounds.get(k),
                "values": vals,
            }
        summary["workloads"][w] = {
            "seeds": args.seeds,
            "all_correct": all(r["correct"] for r in runs),
            "run_wall_s": [r["run_wall_s"] for r in runs],
            "op_walls": [r["op_walls"] for r in runs],
            "metrics": stats,
        }
        for k, s in stats.items():
            b = s["bound"]
            flag = ("ok" if s["spread"] < b / 3 else
                    "WIDE" if s["spread"] < b else "OVER")
            print(f"  {w:9s} {k:20s} median={s['median']:.6g} "
                  f"spread={100 * s['spread']:.2f}% bound={s['bound']} {flag}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
