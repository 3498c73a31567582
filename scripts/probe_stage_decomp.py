"""Stage-level decomposition of the incremental-dedup probe at 1x4 vs 4x4.

This is the diagnostic that located the probe's scaling defect (see
BENCH/BASELINE.md, "Incremental-op parallel scaling" finding #2): with
32-char md5-string band keys the join stage alone got SLOWER across 4 JVMs
while snapshot compute scaled 0.65-0.84; re-keying band_hash to a 60-bit
BIGINT made the join scale and halved the probe's 4N wall.

Method: runs each component ONCE per level with event logs on, then parses
SparkListenerStageCompleted for per-stage wall time, task counts, and
names. Components: the snapshot-signature subtree ALONE (checksum-forced —
never .count() an agg subtree, Catalyst prunes the agg lanes), the join
ALONE with both inputs pre-materialized (broadcast and shuffle variants),
and the full ops as the sweep measures them. Expects the data dirs that
scripts/newops_parallel_scaling.py prepares (2M base / 500k snapshot).

Run alone on the machine: PYTHONPATH=/root/repo python scripts/probe_stage_decomp.py
"""

import glob
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
WORK = "/tmp/newops_par"
SNAP_DIR = f"{WORK}/snap_500000"
BANDS_DIR = f"{WORK}/bands_2000000"
SIG_DIR = f"{WORK}/sig_2000000"
EVDIR = "/tmp/probe_decomp_ev"
SNAP_BANDS = f"{WORK}/snapbands_500000"  # pre-materialized snapshot bands


def run_level(workers, cores):
    from pyspark.sql import functions as F

    from rustserini_spark import get_spark
    from rustserini_spark.operators.dedup import (
        _band_explode,
        minhash_probe_pairs,
        snapshot_minhash_signatures,
    )

    tag = f"{workers}x{cores}"
    os.makedirs(f"{EVDIR}/{tag}", exist_ok=True)
    spark = get_spark(
        f"decomp-{tag}",
        master=f"local-cluster[{workers},{cores},10240]",
        shuffle_partitions=128,
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.executor.memory": "9g",
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.sql.adaptive.enabled": "true",
            "spark.ui.enabled": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{EVDIR}/{tag}",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    snap = spark.read.parquet(SNAP_DIR)
    bands = spark.read.parquet(BANDS_DIR)
    sig = spark.read.parquet(SIG_DIR)
    snap.count(); bands.count(); sig.count()

    t = {}

    def timed(name, fn):
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        r = fn()
        t[name] = round(time.perf_counter() - t0, 2)
        print(tag, name, t[name], r, flush=True)

    # warm (JIT) with a small slice
    minhash_probe_pairs(snap.limit(20000), base_bands=bands, broadcast_new=True).count()

    # A: snapshot signature subtree alone (checksum forces all lanes)
    sig_snap = snapshot_minhash_signatures(snap)
    timed("snap_sig_only", lambda: tuple(
        sig_snap.agg(F.count(F.lit(1)), F.sum(F.crc32(F.col("h0").cast("string")))).first()))

    # B: snapshot band explode materialized to parquet (sig+band+write)
    timed("snap_bands_write", lambda: _band_explode(
        snapshot_minhash_signatures(snap), 16, 8
    ).write.mode("overwrite").parquet(SNAP_BANDS))

    # C: join-only — pre-materialized snapshot bands vs pre-capped base table
    snb = spark.read.parquet(SNAP_BANDS)
    timed("join_only_bcast", lambda: (
        F.broadcast(snb).alias("n")
        .join(bands.alias("b"), ["band_id", "band_hash"])
        .select(F.col("n.doc_id").alias("new_id"), F.col("b.doc_id").alias("base_id"))
        .distinct().count()))
    timed("join_only_shuffle", lambda: (
        snb.alias("n")
        .join(bands.alias("b"), ["band_id", "band_hash"])
        .select(F.col("n.doc_id").alias("new_id"), F.col("b.doc_id").alias("base_id"))
        .distinct().count()))

    # D: the full ops as measured in the sweep
    timed("full_banded", lambda: minhash_probe_pairs(
        snap, base_bands=bands, broadcast_new=True).count())
    timed("full_sig", lambda: minhash_probe_pairs(snap, sig, max_bucket=16).count())

    spark.stop()
    return t


def parse_events(tag):
    rows = []
    for path in glob.glob(f"{EVDIR}/{tag}/*"):
        if os.path.isdir(path):
            files = glob.glob(f"{path}/events*")
        else:
            files = [path]
        for fp in files:
            with open(fp) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if ev.get("Event") == "SparkListenerStageCompleted":
                        si = ev["Stage Info"]
                        sub = si.get("Submission Time", 0)
                        comp = si.get("Completion Time", 0)
                        rows.append({
                            "stage": si["Stage ID"],
                            "name": si["Stage Name"].split("\n")[0][:70],
                            "tasks": si["Number of Tasks"],
                            "wall_s": round((comp - sub) / 1000, 2),
                        })
    rows.sort(key=lambda r: -r["wall_s"])
    return rows


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--once":
        w, c = int(sys.argv[2]), int(sys.argv[3])
        t = run_level(w, c)
        print("DECOMP_T " + json.dumps({f"{w}x{c}": t}))
        for r in parse_events(f"{w}x{c}")[:14]:
            print("STAGE", f"{w}x{c}", json.dumps(r))
        sys.exit(0)
    for w, c in ((1, 4), (4, 4)):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--once", str(w), str(c)],
            env={**os.environ, "PYTHONPATH": REPO},
        )
