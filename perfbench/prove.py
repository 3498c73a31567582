"""Run one workload under several seeds and report, per end-to-end metric,
the median and the quartile spread ((Q3 - Q1) / median, quartiles from
``statistics.quantiles(n=4)``), with each run's wall time.

    python3 perfbench/prove.py --workload serve --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import median, quartile_spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list] = {}
    for seed in range(lo, hi + 1):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=900, cwd=ROOT)
        wall = time.perf_counter() - t0
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            print(json.dumps({"seed": seed, "rc": out.returncode, "wall_s": wall,
                              "stderr": out.stderr[-2000:]}), flush=True)
            continue
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps({"seed": seed, "rc": out.returncode, "wall_s": round(wall, 1),
                          "correct": res["correct"], "attempted": res["attempted"],
                          "failed": res["failed"],
                          "metrics": {k: v["value"] for k, v in res["metrics"].items()}}), flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 and median(vs) else None
        print(json.dumps({"metric": k, "n": len(vs), "median": median(vs), "spread": spread,
                          "bound": bounds.get(k)}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
