"""Streaming incremental dedup — the stateful twin of dedup.dedup_increment.

The batch op dedupes ONE snapshot against a fixed base signature table. The
streaming form is the continuous-ingest regime: every micro-batch is deduped
against the accumulated corpus AND every earlier batch's survivors, then the
survivors' signatures are appended so later batches dedupe against them too
— the signature store GROWS with the stream. This is the shape a 100 TB
continuous crawl ingest needs: per batch, one batch-sized tokenize+sign pass
plus an equi-join against a fixed-width signature store; the corpus text is
never revisited.

Signature store layout (``sig_dir``):
    base/           — optional pre-seeded accumulated-corpus signatures
                      (``dedup.build_minhash_table`` output, copied or
                      written here)
    seg_<batch_id>/ — one segment per micro-batch: the SURVIVORS' signatures

Exactly-once: segments are named by Structured Streaming's stable batch_id
and rewritten idempotently on replay. A replayed batch must not see its own
previous partial output, so the probe reads only ``base`` plus segments with
id < current batch_id — a crash between segment write and checkpoint commit
replays into a byte-identical rewrite instead of self-collision (the same
covered-batches discipline as streaming/incremental.py's index segments).

Within-batch duplicates are resolved first with keeper-first semantics
(candidate pair -> drop the larger doc_id), so two copies arriving in one
micro-batch admit exactly one survivor — same keeper rule as
dedup.neardup_dedup.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rustserini_spark.operators.dedup import (
    N_BANDS,
    N_MINHASHES,
    _banded_pairs,
    minhash_probe_pairs,
    snapshot_minhash_signatures,
)
from rustserini_spark.session import barrier

SEG_PREFIX = "seg_"
BASE_DIR_NAME = "base"
_SEG_RE = re.compile(rf"^{SEG_PREFIX}(\d+)$")


def _sig_segments(sig_dir: str, before_batch: int | None = None) -> list[str]:
    """Signature-store parts visible to a probe: base + seg_<id> for
    id < before_batch (all segments when None)."""
    parts = []
    base = os.path.join(sig_dir, BASE_DIR_NAME)
    if os.path.isdir(base):
        parts.append(base)
    if os.path.isdir(sig_dir):
        for name in sorted(os.listdir(sig_dir)):
            m = _SEG_RE.match(name)
            if m and (before_batch is None or int(m.group(1)) < before_batch):
                parts.append(os.path.join(sig_dir, name))
    return parts


def read_sig_store(
    spark: SparkSession, sig_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    parts = _sig_segments(sig_dir, before_batch)
    return spark.read.parquet(*parts) if parts else None


def dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    sig_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
) -> None:
    """One micro-batch: within-batch keeper-first dedup -> probe against the
    accumulated signature store -> write survivors (rows AND signatures),
    both keyed by batch_id for idempotent replay. Callable directly for
    backfill (the batch form of the stream)."""
    batch_sig = snapshot_minhash_signatures(batch_df, text_col, id_col, n_hashes)
    # materialize the batch signatures once: consumed by the within-batch
    # self-join (2 branches), the probe, and the survivor-signature write
    sig_stage = os.path.join(sig_dir, f"_stage_{batch_id:06d}")
    batch_sig = barrier(batch_sig, "dedup_stage", sig_stage)

    # 1. within-batch: keeper-first (drop the larger id of each candidate)
    within = _banded_pairs(batch_sig, n_hashes, n_bands, max_bucket)
    losers = within.select(F.col("doc_b").alias(id_col)).distinct()
    kept = batch_df.join(losers, id_col, "left_anti")
    kept_sig = batch_sig.join(
        losers.withColumnRenamed(id_col, "doc_id"), "doc_id", "left_anti"
    )

    # 2. cross-store probe — only segments written BEFORE this batch
    store = read_sig_store(spark, sig_dir, before_batch=batch_id)
    if store is not None:
        hits = (
            minhash_probe_pairs(
                kept, store, text_col, id_col,
                n_hashes, n_bands, max_bucket, new_sig=kept_sig,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        kept = kept.join(hits, id_col, "left_anti")
        kept_sig = kept_sig.join(
            hits.withColumnRenamed(id_col, "doc_id"), "doc_id", "left_anti"
        )

    # 3. idempotent, batch-keyed outputs: survivor rows + survivor signatures
    kept.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_{batch_id:06d}")
    )
    kept_sig.write.mode("overwrite").parquet(
        os.path.join(sig_dir, f"{SEG_PREFIX}{batch_id:06d}")
    )
    # the stage dir is an implementation detail; reclaim it
    import shutil

    shutil.rmtree(sig_stage, ignore_errors=True)


def start_incremental_dedup(
    spark: SparkSession,
    input_path: str,
    schema,
    sig_dir: str,
    out_dir: str,
    stream_checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """readStream(parquet dir) -> per-micro-batch incremental dedup sink.

    Pre-seed ``sig_dir``/base with ``build_minhash_table`` output to dedupe
    the stream against an existing corpus; leave it absent to dedupe a
    stream against itself from scratch. Survivor rows land in
    ``out_dir``/batch_<id>; read them with ``read_survivors``."""
    stream = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = stream.parquet(input_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dedup_batch(
            spark, batch_df, batch_id, sig_dir, out_dir,
            text_col=text_col, id_col=id_col,
            n_hashes=n_hashes, n_bands=n_bands, max_bucket=max_bucket,
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", stream_checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_survivors(spark: SparkSession, out_dir: str) -> DataFrame | None:
    parts = [
        os.path.join(out_dir, d)
        for d in sorted(os.listdir(out_dir))
        if d.startswith("batch_")
    ] if os.path.isdir(out_dir) else []
    return spark.read.parquet(*parts) if parts else None
