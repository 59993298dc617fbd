"""Run the benchmark once per seed on one workload and summarise each
end-to-end metric: median, quartiles and spread (quartile distance as a
share of the median), the figures the bounds in BENCHMARK.json are set
against.

    python3 perfbench/spread.py --workload kg_refresh_wide --seeds 1-10

Prints one line per run, then one JSON object per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))

    values: dict[str, list[float]] = {}
    for seed in range(first, last + 1):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "exit": proc.returncode,
                          "run_s": round(time.perf_counter() - t0, 1),
                          "correct": result["correct"],
                          "metrics": {k: v["value"] for k, v in
                                      result["metrics"].items()}}),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        q1, _q2, q3 = statistics.quantiles(v, n=4)
        median = statistics.median(v)
        print(json.dumps({"metric": k, "n": len(v), "median": median,
                          "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / median}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
