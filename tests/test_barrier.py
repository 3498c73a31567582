"""The session-owned parquet barrier: one place decides where materialized
intermediates live, and Spark removes them when the session stops."""

import glob
import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_hand_rolled_temp_dirs():
    """Every barrier and scratch path comes from session.barrier /
    session.scratch_dir — no engine module makes its own temp dir."""
    files = [os.path.join(REPO, "__spark_entry__.py")]
    files += glob.glob(os.path.join(REPO, "rustserini_spark", "**", "*.py"), recursive=True)
    offenders = [
        f"{os.path.relpath(f, REPO)}:{i}"
        for f in files
        for i, line in enumerate(open(f, encoding="utf-8"), 1)
        if "mkdtemp" in line
    ]
    assert not offenders, offenders


LIFETIME_SCRIPT = textwrap.dedent(
    """
    import json, os
    from rustserini_spark.session import BARRIER_SUBDIR, get_spark, local_rows_df
    from rustserini_spark.operators.curation import curate_corpus
    from rustserini_spark.operators.dedup import minhash_lsh_pairs, simhash_neardup_pairs

    def listing(d):
        return sorted(os.path.join(r, n) for r, ds, fs in os.walk(d) for n in ds + fs)

    spark = get_spark("barrier-lifetime", master="local[2]", shuffle_partitions=2)
    tmp_before = listing(os.environ["TMPDIR"])
    base = "the quick brown fox jumps over the lazy dog while the researchers measure overlap"
    rows = [(i, f"{base} in corpus {i % 5} with tail words number {i % 3}") for i in range(40)]
    docs = local_rows_df(spark, rows, "doc_id long, text string")
    curate_corpus(docs).collect()
    minhash_lsh_pairs(docs).collect()
    simhash_neardup_pairs(docs).collect()
    root = os.path.join(
        spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory(), BARRIER_SUBDIR
    )
    out = {
        "root": root,
        "barriers": sorted(os.listdir(root)) if os.path.isdir(root) else [],
        "tmp_new": sorted(set(listing(os.environ["TMPDIR"])) - set(tmp_before)),
    }
    spark.stop()
    out["root_after_stop"] = os.path.exists(root)
    print("RESULT " + json.dumps(out))
    """
)


def test_barriers_live_under_session_root_and_die_with_it(tmp_path):
    """A fresh local session runs the three barrier-heavy operators: nothing
    lands under TMPDIR, the barriers sit under the session's SparkFiles root
    (which follows SPARK_LOCAL_DIRS), and that root is gone after stop()."""
    tmp, local = tmp_path / "tmp", tmp_path / "spark-local"
    tmp.mkdir()
    local.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", LIFETIME_SCRIPT],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["root"].startswith(str(local)), out["root"]
    tags = {name.rsplit("-", 1)[0] for name in out["barriers"]}
    assert {"curate_kept", "minhash_sig", "simhash_sig"} <= tags, out["barriers"]
    assert out["tmp_new"] == []
    assert out["root_after_stop"] is False


def test_barrier_read_back_launches_no_job(spark, tmp_path, jobs_in_group):
    """The barrier costs its write's jobs and nothing more: the read-back
    takes the written schema, so no footer-inference job runs."""
    from rustserini_spark.session import barrier

    df = spark.range(0, 1000, numPartitions=3).selectExpr("id", "CAST(id % 7 AS INT) AS k")
    write_jobs = jobs_in_group(
        "barrier-write", lambda: df.write.mode("overwrite").parquet(str(tmp_path / "w"))
    )
    out = {}
    barrier_jobs = jobs_in_group("barrier-full", lambda: out.update(df=barrier(df, "jobs")))
    assert write_jobs >= 1
    assert barrier_jobs == write_jobs
    assert out["df"].schema == spark.read.parquet(str(tmp_path / "w")).schema
    assert sorted(r.id for r in out["df"].collect()) == list(range(1000))


def test_barrier_of_empty_frame_keeps_schema(spark, tmp_path):
    """An empty relation reads back with its columns and types, and with
    the all-nullable schema a footer-inferring read gives."""
    from rustserini_spark.session import barrier

    df = spark.range(0).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text", "array(id) AS arr")
    path = str(tmp_path / "empty")
    back = barrier(df, "empty", path)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert back.schema == spark.read.parquet(path).schema
    assert back.count() == 0
