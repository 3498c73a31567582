"""Streaming incremental dedup: growing signature store, keeper-first
within-batch semantics, idempotent replay, stream ≡ sequential-batch parity."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from rustserini_spark.operators.dedup import build_minhash_table, dedup_increment
from rustserini_spark.streaming.dedup_stream import (
    dedup_batch,
    read_sig_store,
    read_survivors,
    start_incremental_dedup,
)

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

BASE0 = "the quick brown fox jumps over the lazy dog near the river bank"
BASE1 = "large scale corpus deduplication uses banded minhash signatures daily"
FRESH_A = "entirely novel text about alpine glacier meltwater chemistry models"
FRESH_B = "another unique page describing tidal resonance in shallow coastal basins"
FRESH_C = "observations of stratospheric aerosol transport following volcanic events"

# Spark jobs one dedup_batch call runs on batch 0 of the sequence test (18
# while the staged signatures' read-back inferred its schema)
JOBS_PER_BATCH = 17


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


@pytest.fixture()
def seeded_sig_dir(spark, tmp_path):
    sig_dir = str(tmp_path / "sigs")
    build_minhash_table(
        _df(spark, [(0, BASE0), (1, BASE1)]), os.path.join(sig_dir, "base")
    )
    return sig_dir


def test_dedup_batch_sequence_and_growing_store(
    spark, seeded_sig_dir, tmp_path, jobs_in_group
):
    out_dir = str(tmp_path / "out")
    # batch 0: base copy (drop), fresh A (keep), within-batch copy of A
    # (keeper-first: 101 kept, 102 dropped), fresh B (keep)
    b0 = _df(spark, [(100, BASE0), (101, FRESH_A), (102, FRESH_A), (103, FRESH_B)])
    n_jobs = jobs_in_group(
        "dedup_batch_0", lambda: dedup_batch(spark, b0, 0, seeded_sig_dir, out_dir)
    )
    # the staged signatures read back through session.barrier with the
    # written schema: no footer-inference job
    assert n_jobs == JOBS_PER_BATCH, n_jobs
    # batch 1: copy of batch-0 SURVIVOR A (drop: the store grew), base copy
    # (drop), fresh C (keep)
    b1 = _df(spark, [(200, FRESH_A), (201, BASE1), (202, FRESH_C)])
    dedup_batch(spark, b1, 1, seeded_sig_dir, out_dir)

    kept = {r.doc_id for r in read_survivors(spark, out_dir).collect()}
    assert kept == {101, 103, 202}
    # the signature store holds base + exactly the survivors
    store_ids = {r.doc_id for r in read_sig_store(spark, seeded_sig_dir).collect()}
    assert store_ids == {0, 1, 101, 103, 202}


def test_dedup_batch_replay_is_idempotent(spark, seeded_sig_dir, tmp_path):
    out_dir = str(tmp_path / "out")
    b0 = _df(spark, [(100, BASE0), (101, FRESH_A), (103, FRESH_B)])
    dedup_batch(spark, b0, 0, seeded_sig_dir, out_dir)
    first = sorted(r.doc_id for r in read_survivors(spark, out_dir).collect())
    # replay (crash between segment write and checkpoint commit): the probe
    # must not see seg_000000 and self-collide into an empty rewrite
    dedup_batch(spark, b0, 0, seeded_sig_dir, out_dir)
    second = sorted(r.doc_id for r in read_survivors(spark, out_dir).collect())
    assert first == second == [101, 103]


def test_stream_matches_sequential_batch(spark, seeded_sig_dir, tmp_path):
    # two input files -> two micro-batches (order unknown); compare against
    # the sequential-batch reference computed with dedup_increment for BOTH
    # orders and require the stream to match one of them
    in_dir = str(tmp_path / "in")
    f0 = [(100, BASE0), (101, FRESH_A), (103, FRESH_B)]
    f1 = [(200, FRESH_A), (202, FRESH_C)]
    _df(spark, f0).coalesce(1).write.parquet(os.path.join(in_dir, "f0"))
    _df(spark, f1).coalesce(1).write.parquet(os.path.join(in_dir, "f1"))

    out_dir = str(tmp_path / "out")
    q = start_incremental_dedup(
        spark, f"{in_dir}/*", SCHEMA, seeded_sig_dir, out_dir,
        stream_checkpoint=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    kept = {r.doc_id for r in read_survivors(spark, out_dir).collect()}

    def sequential(batches):
        sig_dir2 = str(tmp_path / f"ref_sigs_{batches[0][0][0]}")
        build_minhash_table(_df(spark, [(0, BASE0), (1, BASE1)]),
                            os.path.join(sig_dir2, "base"))
        surv = set()
        store = read_sig_store(spark, sig_dir2)
        acc = store
        for i, rows in enumerate(batches):
            got = dedup_increment(_df(spark, rows), acc)
            ids = {r.doc_id for r in got.select("doc_id").collect()}
            surv |= ids
            sig_seg = build_minhash_table(
                got, os.path.join(sig_dir2, f"seg_{i}")
            )
            acc = acc.unionByName(sig_seg)
        return surv

    assert kept in (sequential([f0, f1]), sequential([f1, f0]))
    # invariant under either order: exactly one of the FRESH_A twins survives
    assert len(kept & {101, 200}) == 1
    assert 103 in kept and 202 in kept
