"""Run the benchmark on several seeds and report each metric's median,
quartiles and spread ((Q3 - Q1) / median), the figures a regression
bound is checked against.

    python3 perfbench/spread.py --workload corpus_daily --seeds 1-10 [--trace 0] [--out f.json]
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
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["wall_s"] = time.monotonic() - t0
        runs.append(res)
        print(seed, round(res["wall_s"], 1), res["correct"], res["failed"],
              {k: round(v["value"], 4) for k, v in res["metrics"].items()}, flush=True)

    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": statistics.median(vals),
            "q1": q1,
            "q3": q3,
            "spread": quartile_spread(vals) if q2 else None,
        }
    report = {
        "workload": args.workload,
        "seeds": args.seeds,
        "trace": args.trace,
        "run_wall_s": [round(r["wall_s"], 1) for r in runs],
        "all_correct": all(r["correct"] for r in runs),
        "metrics": summary,
    }
    print(json.dumps(report, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
