"""Runs the benchmark once per seed and reports, per metric, the median
and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload case_cli --seeds 1-10 [--trace 1]
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    runs = []
    for seed in seeds(a.seeds):
        t = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            capture_output=True, text=True)
        wall = time.time() - t
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-3000:])
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res["wall_s"] = wall
        runs.append(res)
        print(json.dumps({"seed": seed, **res}), flush=True)
    for key in runs[0]["metrics"]:
        vals = [r["metrics"][key]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{key:32s} median {med:12.4f}  spread {(q3 - q1) / med if med else 0:.4f}")
    print(f"attempted {[r['attempted'] for r in runs]} failed {[r['failed'] for r in runs]} "
          f"correct {all(r['correct'] for r in runs)} "
          f"wall median {statistics.median(r['wall_s'] for r in runs):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
