"""Run-to-run spread of the end-to-end metrics, the way the bounds in
BENCHMARK.json were set:

    python3 perfbench/spread.py --workload daily_load --seeds 1-10 [--seconds 6] [--out FILE]

Runs the benchmark once per seed (sequentially, one process at a time)
and prints, per metric, the ten values, their median and the distance
between the first and third quartile (``statistics.quantiles(n=4)``)
as a share of the median. ``--out`` also appends the figures as one
JSON line.
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


def seeds_of(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            args.seconds = str(json.load(fh)["run_seconds"])
    runs = []
    for seed in seeds_of(args.seeds):
        t = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}",
              flush=True)
    summary = {}
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        summary[k] = {"median": statistics.median(vals), "spread": spread(vals) if len(vals) > 1 else 0.0}
        print(f"{k:>16}: median {summary[k]['median']:.4f}  iqr/median {summary[k]['spread']:.4f}")
    print(f"{'wall_s':>16}: mean {statistics.mean(r['wall_s'] for r in runs):.1f}")
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seconds": args.seconds, "summary": summary,
                                 "runs": [{"seed": r["seed"], "wall_s": r["wall_s"],
                                           "correct": r["correct"], "failed": r["failed"],
                                           "metrics": {k: v["value"] for k, v in r["metrics"].items()}}
                                          for r in runs]}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
