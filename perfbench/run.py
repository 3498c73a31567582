"""Benchmark entry point: one seeded workload against the engine on
``local[nproc]``, printing one JSON result as its last stdout line.

    python3 perfbench/run.py --workload serve|curate --seed N \\
        --seconds S --trace 0|1

Run it from the repository root. ``--trace 0`` measures for ``S`` seconds and
reports the end-to-end metrics. ``--trace 1`` first measures the same way,
then measures ``S`` more seconds with the status-store reads and counters
on, and reports the per-layer metrics plus the tracing overhead (the traced
phase's end-to-end figures relative to the untraced phase's). Metric names
and units come from ``BENCHMARK.json``. The line before the result carries
the run's context: nproc, heap, seed, input fingerprint, sample counts, the
host's steal share during the untraced phase, the figures under
workload-specific names (``query_p50_ms``, ``query_tail_ms`` with its
percentile, ``batch_qps``, ``curate_docs_per_s``, ...) and, in traced runs,
the host's per-task floor (``calibrate``).

Everything the run writes lives under ``.perfbench_run/<pid>`` in the
working directory and is deleted at exit; the temp root Python's
``tempfile`` uses is a subdirectory of it, so bytes the engine leaves behind
are measurable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import Counter

import numpy as np
from py4j.protocol import Py4JError

from probes import SESSION_COUNTERS, CallTracer, RssSampler, cpu_times, descendants, log, wait_gone
from stats import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SESSION_STATS = (*SESSION_COUNTERS, "driver_s", "slot_busy")


def load_spec() -> dict:
    """Metric names, units and directions, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "e2e": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
        "higher": {m["name"] for m in spec["end_to_end"] if m["better"] == "higher"},
    }


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _heap() -> str:
    """Driver heap for local mode: a sixth of physical memory, 1-4 GiB (the
    session's own 48g default does not fit small hosts). The heap is fixed
    and pre-touched (see ``start_spark``), so this much is resident."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // (6 << 30)))}g"


def pin_environment(work: str) -> dict:
    """Environment every process of the run inherits: local[nproc], a heap
    that fits the host, the repo on the workers' import path, and all
    temporary files under the run's own directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": _heap(),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # __spark_entry__ reads fixture paths from here; point it nowhere so
        # no oracle side table is ever dumped
        "SPARK_GRAFT_ORACLE_SF_DIR": os.path.join(work, "no-oracle-fixture"),
        "PYSPARK_PYTHON": sys.executable,
        # the JVM spark-submit starts to assemble the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"tmp": tmp, "local": local, **env}


def start_spark(env: dict):
    from rustserini_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": env["local"],
            # PySpark's daemon without archives on the workers' import path
            # (see perfbench_daemon.py)
            "spark.python.daemon.module": "perfbench_daemon",
            # a fixed, pre-touched heap: left to grow, the heap's resident
            # size varied by 800 MB between seeds doing the same work.
            # C1 only: with C2 the JIT was still speeding calls up when a
            # 10 s phase ended, and where a run stopped on that slope varied
            # more than anything else in it (see README.md)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={env['local']} -XX:-UsePerfData"
                f" -Xms{env['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                " -XX:TieredStopAtLevel=1"
            ),
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every process below us, and
    wait until each has ended."""

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    pids = descendants()
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    for pid in wait_gone(pids, 20):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    wait_gone(pids, 10)


def layer_probes(texts: list[str]) -> dict:
    """Single-thread probes of the analysis and compress layers on a fixed
    sample of the workload's documents (medians of three repeats)."""
    from rustserini_spark.analysis import analyze_text
    from rustserini_spark.operators.compress import decode_blocks_batch, encode_runs_blocks

    def timed(fn):
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t0)
        return out, median(walls)

    toks, t_an = timed(lambda: [analyze_text(t) for t in texts])
    n_tokens = sum(len(t) for t in toks)
    runs: dict[str, list] = {}
    for doc, ts in enumerate(toks):
        for term, tf in Counter(ts).items():
            runs.setdefault(term, []).append((doc, tf, len(ts)))
    run_id, docs, tfs, dls = [], [], [], []
    for r, term in enumerate(sorted(runs)):
        for d, tf, dl in runs[term]:
            run_id.append(r)
            docs.append(d)
            tfs.append(tf)
            dls.append(dl)
    cols, t_enc = timed(
        lambda: encode_runs_blocks(np.array(run_id), np.array(docs), np.array(tfs), np.array(dls))
    )
    mb = sum(len(b) for b in cols["postings_bin"]) / 1e6
    _, t_dec = timed(lambda: decode_blocks_batch(cols["postings_bin"], cols["n_docs"]))
    return {
        "analysis.tokens_per_s": n_tokens / t_an,
        "compress.encode_mb_per_s": mb / t_enc,
        "compress.decode_mb_per_s": mb / t_dec,
    }


def summarise(workload, units, start_s: float) -> dict:
    """End-to-end metrics of one measured phase."""
    rep = workload.report_units(units)
    calls = rep["calls"]
    rss = [u["rss_mb"] for u in units if u["ok"]]
    return {
        "metrics": {
            "setup_s": workload.setup_s(start_s),
            "call_p50_ms": 1e3 * median(calls) if calls else None,
            "items_per_s": rep["items_per_s"],
            "peak_rss_mb": median(rss) if rss else None,
        },
        "named": {**rep["named"], "jvm_rss_mb": median([u["jvm_rss_mb"] for u in units if u["ok"]]) if rss else None},
    }


def calibrate(spark) -> float:
    """Wall of a trivial mapInPandas over 64 cached partitions: the host's
    per-task floor, which bounds any call over that many partitions."""
    df = spark.range(0, 64_000, 1, 64).cache()
    df.count()
    t0 = time.perf_counter()
    df.mapInPandas(lambda it: it, "id long").count()
    wall = time.perf_counter() - t0
    df.unpersist()
    return wall


def session_layer(workload, units, tracer) -> dict:
    """Median over the workload's primary units of the per-unit sums of
    each call's status-store statistics."""
    per_unit = []
    for u in workload.primary(units):
        recs = u["records"]
        if not recs or "jobs" not in recs[0]:
            continue
        s = {k: sum(r[k] for r in recs) for k in (*SESSION_COUNTERS, "driver_s")}
        wall = sum(r["wall_s"] for r in recs)
        s["slot_busy"] = s["exec_run_s"] / (tracer.cores * wall) if wall > 0 else 0.0
        per_unit.append(s)
    return {f"session.{k}": median([s[k] for s in per_unit]) if per_unit else 0.0 for k in SESSION_STATS}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rustserini_spark")):
        print("perfbench: run from a checkout holding the rustserini_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a TERM (a timeout, say) unwinds through the finally blocks below, so the
    # session, its JVM and the run directory are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(os.getcwd(), ".perfbench_run", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, work: str) -> int:
    spec = load_spec()
    env = pin_environment(work)
    rss = RssSampler().start()
    spark, start_s = start_spark(env)
    calibration = None
    try:
        from workloads import WORKLOADS

        tracer = CallTracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, rss, args.seed, work, env["tmp"])
        wl.setup()
        log(f"start {start_s:.2f}s prebuild {wl.prebuild_s:.2f}s")
        # a traced run compares its two phases, so both must start warm
        warmup = max(wl.warmup_units, args.trace)
        if warmup:
            wl.measure(wl.warmup_s, warmup)
        steal0, total0 = cpu_times()
        plain = wl.measure(args.seconds)
        steal1, total1 = cpu_times()
        traced = None
        if args.trace:
            tracer.enabled = True
            traced = wl.measure(args.seconds)
        t0 = time.perf_counter()
        wl.check()
        log(f"checks {time.perf_counter() - t0:.2f}s")
        e2e = summarise(wl, plain, start_s)
        layer = None
        if traced is not None:
            t_e2e = summarise(wl, traced, start_s)
            layer = {k: 0.0 for k in spec["layer"]}
            layer.update(session_layer(wl, traced, tracer))
            layer["session.start_s"] = start_s
            layer["sources.generate_s"] = wl.gen_s
            layer.update(layer_probes(wl.sample_texts()))
            layer.update(wl.layer)
            layer["error_rate"] = sum(not u["ok"] for u in traced) / max(1, len(traced))
            for m in e2e["metrics"]:
                if m == "setup_s":
                    continue
                # fractional slowdown of the traced phase against the untraced
                # one, signed so that positive is worse for every metric
                a, b = e2e["metrics"][m], t_e2e["metrics"][m]
                if m in spec["higher"]:
                    a, b = b, a
                layer[f"trace_overhead.{m}"] = (b / a - 1.0) if a and b else 0.0
            calibration = calibrate(spark)
            log(f"calibration {calibration}")
    finally:
        rss.stop()
        t0 = time.perf_counter()
        stop_spark(spark)
        log(f"stop {time.perf_counter() - t0:.2f}s")

    attempted = len(wl.units)
    failed = sum(not u["ok"] for u in wl.units)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "heap": env["SPARK_GRAFT_DRIVER_MEM"],
        "docs": wl.n_docs,
        "input_fingerprint": wl.fingerprint,
        "named_metrics": {**e2e["named"], "setup_s": e2e["metrics"]["setup_s"],
                          "error_rate": failed / max(1, attempted),
                          "peak_rss_mb": e2e["metrics"]["peak_rss_mb"],
                          "tmp_bytes_left": wl.layer.get("tmp_bytes_left", 0)},
        "trivial_64_task_wall_s": calibration,
        # share of CPU time the host stole during the untraced phase
        "steal_share": (steal1 - steal0) / (total1 - total0) if total1 > total0 else None,
        "planted_shares": getattr(wl, "planted", None),
        "errors": wl.errors[:20],
    }
    print(json.dumps(context), flush=True)
    if args.trace:
        metrics = {k: {"value": layer.get(k), "unit": u} for k, u in spec["layer"].items()}
    else:
        metrics = {k: {"value": e2e["metrics"].get(k), "unit": u} for k, u in spec["e2e"].items()}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    correct = failed == 0 and not wl.errors and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
