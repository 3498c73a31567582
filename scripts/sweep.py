"""Scaling sweep: bench.py's operations across corpus sizes and executor counts.

Two measurements, written together to BENCH/sweep.json:

* Row sweep. Every operation in ``bench.run_suite`` runs at sf0.01, sf0.1
  and sf1.0 on ``local[nproc]``; each point takes the minimum over bench's
  reps. Per operation, a least-squares line ``wall ≈ fixed + slope·docs``
  separates the fixed cost of a call (planning, job scheduling, Python
  worker start) from its per-row cost. ``docs`` is the corpus size; the
  event and embedding tables grow in the same proportion.
* Executor pair. At sf1.0, ``local-cluster[1,1,M]`` (N) against
  ``local-cluster[4,1,M]`` (4N): separate executor JVMs of one core each,
  in adjacent pairs, alternating which side runs first so slow drift in
  host speed hits both sides alike. Per operation, the median and IQR over
  the pairs of the scaling efficiency ``thr(4N) / (4·thr(N))``. Both sides
  run the same plan (same shuffle partitions), and each operation's output
  row count must be equal on both sides.

Every scale factor is generated by ``scripts/gen_scaled_testdata.py`` into a
temporary directory, so the fit never mixes fixture data with generated
data. Each point runs in its own child process with its own Spark session.
The run takes about 40 minutes on a 4-core host.

Usage: python scripts/sweep.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "BENCH", "sweep.json")

SCALES = ("0.01", "0.1", "1.0")
PAIR_SCALE = "1.0"
PAIRS = 3
# bench.py's rep count at every point: the first rep of a session pays
# Python worker start-up and JIT warm-up, and the minimum drops it
REPS = 3
EXECUTOR_MEM_MB = 1024
# the N side and the 4N side: (executors, cores per executor)
LEVELS = {"N": (1, 1), "4N": (4, 1)}


def fit_line(xs, ys) -> tuple[float, float]:
    """Least-squares (intercept, slope) of ``ys`` against ``xs``."""
    slope, intercept = np.polyfit(np.asarray(xs, float), np.asarray(ys, float), 1)
    return float(intercept), float(slope)


def pair_stats(ratios) -> dict[str, float]:
    """Median, quartiles and IQR of per-pair ratios (linear interpolation)."""
    q1, med, q3 = np.percentile(np.asarray(ratios, float), [25, 50, 75])
    return {"median": float(med), "q1": float(q1), "q3": float(q3), "iqr": float(q3 - q1)}


def to_json(obj, depth: int = 3, pad: str = "") -> str:
    """``obj`` as JSON with objects ``depth`` levels down on one line each,
    so the output reads one operation per line."""
    if not isinstance(obj, dict) or depth == 0:
        return json.dumps(obj)
    inner = pad + " "
    items = (f"{inner}{json.dumps(k)}: {to_json(v, depth - 1, inner)}" for k, v in obj.items())
    return "{\n" + ",\n".join(items) + f"\n{pad}}}"


def run_point(sf_dir: str, master: str, shuffle_partitions: int) -> dict:
    """One Spark session on ``master``: bench's reps over ``sf_dir``, reduced
    to the minimum wall per operation."""
    sys.path.insert(0, REPO)
    import bench
    from rustserini_spark import get_spark

    conf = None
    if master.startswith("local-cluster"):
        # executor JVMs start their Python workers outside this process, so
        # they get the package root explicitly; the executors do the work, so
        # a small driver heap leaves the host's memory to them
        conf = {"spark.executorEnv.PYTHONPATH": REPO, "spark.driver.memory": "2g"}
    spark = get_spark("sweep", master=master, shuffle_partitions=shuffle_partitions, extra_conf=conf)
    try:
        run = bench.measure(spark, sf_dir, REPS)
    finally:
        spark.stop()
    reps = run["reps"]
    return {
        "wall_s": {op: min(r[op] for r in reps) for op in reps[0]},
        "rows": run["rows"],
        "n_docs": run["n_docs"],
        "cached_rdds": run["cached_rdds"],
    }


def in_child(sf_dir: str, master: str, shuffle_partitions: int) -> dict:
    """``run_point`` in a fresh interpreter, so every point starts its own JVM."""
    t0 = time.perf_counter()
    with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as pool:
        out = pool.submit(run_point, sf_dir, master, shuffle_partitions).result()
    print(f"[sweep] {master} {os.path.basename(sf_dir)}: {time.perf_counter() - t0:.0f} s", flush=True)
    return out


def row_sweep(data: dict[str, str], nproc: int) -> dict:
    points = {sf: in_child(data[sf], f"local[{nproc}]", nproc) for sf in SCALES}
    docs = [points[sf]["n_docs"] for sf in SCALES]
    ops = {}
    for op in points[SCALES[0]]["wall_s"]:
        walls = [points[sf]["wall_s"][op] for sf in SCALES]
        fixed, slope = fit_line(docs, walls)
        ops[op] = {
            "wall_s": dict(zip(SCALES, walls)),
            "fixed_s": round(fixed, 3),
            "s_per_1k_docs": round(slope * 1000, 4),
        }
    return {
        "master": f"local[{nproc}]",
        "n_docs": dict(zip(SCALES, docs)),
        "cached_rdds": {sf: points[sf]["cached_rdds"] for sf in SCALES},
        "ops": ops,
    }


def executor_pairs(sf_dir: str, nproc: int) -> dict:
    masters = {
        side: f"local-cluster[{w},{c},{EXECUTOR_MEM_MB}]" for side, (w, c) in LEVELS.items()
    }
    pairs = []
    for i in range(PAIRS):
        order = ("N", "4N") if i % 2 == 0 else ("4N", "N")
        pairs.append({side: in_child(sf_dir, masters[side], nproc) for side in order})
    ops = {}
    mismatched = []
    for op in pairs[0]["N"]["wall_s"]:
        # thr(4N) / (4 thr(N)) with thr = docs / wall on the same docs
        ratios = [p["N"]["wall_s"][op] / (4 * p["4N"]["wall_s"][op]) for p in pairs]
        rows = {(p["N"]["rows"].get(op), p["4N"]["rows"].get(op)) for p in pairs}
        equal = all(n == m for n, m in rows)
        if not equal:
            mismatched.append(op)
        ops[op] = {
            "efficiency": {k: round(v, 3) for k, v in pair_stats(ratios).items()},
            "ratios": [round(r, 3) for r in ratios],
            "wall_s": {side: [p[side]["wall_s"][op] for p in pairs] for side in LEVELS},
            "rows_equal": equal,
        }
    return {
        "masters": masters,
        "scale": PAIR_SCALE,
        "pairs": PAIRS,
        "shuffle_partitions": nproc,
        "rows_mismatched": mismatched,
        "ops": ops,
    }


def main() -> None:
    nproc = os.cpu_count() or 1
    # "-dirty" marks a run on a working tree that differs from the commit
    commit = subprocess.run(
        ["git", "-C", REPO, "describe", "--always", "--dirty", "--abbrev=40"],
        capture_output=True, text=True,
    ).stdout.strip()
    work = tempfile.mkdtemp(prefix="sweep_data_")
    try:
        data = {}
        for sf in SCALES:
            data[sf] = os.path.join(work, f"sf{sf}")
            subprocess.run(
                [sys.executable, os.path.join(REPO, "scripts", "gen_scaled_testdata.py"), data[sf], sf],
                check=True,
            )
        result = {
            "commit": commit,
            "nproc": nproc,
            "reps_per_point": REPS,
            "aggregation": "min wall per op over the reps of one session",
            "row_sweep": row_sweep(data, nproc),
            "executor_pair": executor_pairs(data[PAIR_SCALE], nproc),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(OUT, "w") as f:
        f.write(to_json(result) + "\n")
    top = sorted(result["row_sweep"]["ops"].items(), key=lambda kv: -kv[1]["s_per_1k_docs"])
    print("largest slopes (s per 1k docs):", [(op, v["s_per_1k_docs"]) for op, v in top[:3]])
    bad = result["executor_pair"]["rows_mismatched"]
    if bad:
        sys.exit(f"output rows differ between N and 4N for: {', '.join(bad)}")


if __name__ == "__main__":
    main()
