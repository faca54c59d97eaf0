"""Incremental near-duplicate detection for a document stream — the
streaming form of ``operators.dedup.q_minhash_lsh_pairs`` for ingest-time
curation: each microbatch is probed against a PERSISTED LSH index of
everything accepted so far, near-duplicates are diverted, and the
survivors extend the index before the next batch arrives.

This is the shape a 100 TB training-data ingest actually needs: the batch
LSH pass answers "which existing documents duplicate each other", but a
continuously-harvested corpus needs "is this NEW document a near-dup of
anything ever accepted" without rescanning the corpus. The persisted
index is exactly the materialization the batch design already names
(``dedup._shingled_docs``: "a doc_id-bucketed shingle table written once
… reused by every dedup job") plus its banded-bucket sibling:

- ``<index>/buckets``  — (band int, bh string, doc_id long): LSH band
  buckets, the candidate-join key.
- ``<index>/shingles`` — (doc_id long, shingles array<string>): the
  verification relation for exact Jaccard.

Scale design:
- A microbatch is small; its band table and shingle table BROADCAST
  through both the candidate probe and the verify join, so the persisted
  index (the 100 TB side) is scanned but never shuffled. At scale the
  index is additionally bucketed by its join key on write, making probes
  co-located scans with partition pruning on ``band``.
- Appends are append-only parquet — no rewrite of existing index files
  per batch. Restarted batches re-probe idempotently: accepted doc_ids
  are re-derived from the batch content, and duplicate index rows for the
  same doc_id are harmless (the verify join is on doc_id equality and
  candidate pairs are distinct-ed).
- In-batch near-dups are resolved first (lowest doc_id wins, the batch
  analogue of the component representative rule) so two copies arriving
  in one batch can't both pass the index probe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    JACCARD_THRESHOLD,
    N_BANDS,
    minhash_signature,
    shingles_col,
)

BUCKETS = "buckets"
SHINGLES = "shingles"


def lsh_parts(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(band buckets, shingle relation) for raw (doc_id, text) rows — the
    same shingle/minhash/band math as the batch operator, returned as the
    two index-shaped relations."""
    shingled = docs.select("doc_id", shingles_col().alias("shingles")).filter(
        F.size("shingles") >= 1
    )
    mh = minhash_signature(F.col("shingles"))
    sigs = shingled.select(
        "doc_id", *[m.alias(f"mh{p}") for p, m in enumerate(mh)]
    )
    buckets = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws("|", f"mh{2 * b}", f"mh{2 * b + 1}")).alias("bh"),
                )
                for b in range(N_BANDS)
            ])
        ).alias("bb"),
    ).select(F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"), "doc_id")
    return buckets, shingled


def bootstrap_index(docs: DataFrame, index_path: str) -> None:
    """Write the initial index from an existing accepted corpus (the batch
    bootstrap a streaming deployment starts from)."""
    buckets, shingled = lsh_parts(docs)
    buckets.write.mode("overwrite").parquet(os.path.join(index_path, BUCKETS))
    shingled.write.mode("overwrite").parquet(os.path.join(index_path, SHINGLES))


def _verified_pairs(cand: DataFrame, probe_shingles: DataFrame,
                    index_shingles: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact-Jaccard verification of (new_id, dup_of) candidates; the
    candidate set and the batch shingles broadcast, the index side doesn't
    shuffle."""
    jac = F.size(F.array_intersect("sha", "shb")) / F.size(
        F.array_distinct(F.concat("sha", "shb"))
    )
    sa = probe_shingles.select(F.col("doc_id").alias("new_id"),
                               F.col("shingles").alias("sha"))
    sb = index_shingles.select(F.col("doc_id").alias("dup_of"),
                               F.col("shingles").alias("shb"))
    inter = sa.join(F.broadcast(cand), "new_id")
    return (
        sb.join(F.broadcast(inter), "dup_of")
        .select("new_id", "dup_of", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def probe_batch(spark: SparkSession, batch: DataFrame, index_path: str,
                threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Near-dup pairs between a batch and the persisted index:
    (new_id, dup_of, jaccard). Does not modify the index."""
    buckets, shingled = lsh_parts(batch)
    idx_buckets = spark.read.parquet(os.path.join(index_path, BUCKETS))
    idx_shingles = spark.read.parquet(os.path.join(index_path, SHINGLES))
    cand = (
        idx_buckets.join(F.broadcast(buckets.withColumnRenamed("doc_id", "new_id")),
                         ["band", "bh"])
        .select("new_id", F.col("doc_id").alias("dup_of"))
        .distinct()
    )
    return _verified_pairs(cand, shingled, idx_shingles, threshold)


def _in_batch_dropped(buckets: DataFrame, shingled: DataFrame,
                      threshold: float) -> DataFrame:
    """Doc_ids dropped by IN-BATCH near-dup resolution (lowest id per
    verified pair wins, non-transitively: a doc is dropped iff it verifies
    against a lower-id batch doc — the per-batch analogue of the
    component-representative rule; transitive closure happens naturally as
    survivors join the index for later batches)."""
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("b.doc_id").alias("new_id"), F.col("a.doc_id").alias("dup_of"))
        .distinct()
    )
    return _verified_pairs(cand, shingled, shingled, threshold) \
        .select(F.col("new_id").alias("doc_id")).distinct()


def process_batch(spark: SparkSession, batch: DataFrame, index_path: str,
                  accepted_path: str, rejected_path: str | None = None,
                  threshold: float = JACCARD_THRESHOLD) -> None:
    """The foreachBatch body: resolve in-batch dups, probe the index,
    divert near-dups, append survivors to the accepted corpus AND to the
    index. The batch is localCheckpointed once — every downstream probe
    reuses the materialization instead of re-reading the stream source.

    Documents below the shingle floor (< 3 words) are not LSH-indexable;
    they pass the near-dup gate untouched (upstream ``dedup_stream``
    already handles their exact-hash case)."""
    batch = batch.localCheckpoint()
    buckets, shingled = lsh_parts(batch)
    dropped_in_batch = _in_batch_dropped(buckets, shingled, threshold)
    reps = shingled.join(dropped_in_batch, "doc_id", "left_anti") \
        .select("doc_id")

    idx_buckets = spark.read.parquet(os.path.join(index_path, BUCKETS))
    idx_shingles = spark.read.parquet(os.path.join(index_path, SHINGLES))
    probe_buckets = buckets.join(F.broadcast(reps), "doc_id")
    probe_shingles = shingled.join(F.broadcast(reps), "doc_id")
    cand = (
        idx_buckets.join(
            F.broadcast(probe_buckets.withColumnRenamed("doc_id", "new_id")),
            ["band", "bh"])
        .select("new_id", F.col("doc_id").alias("dup_of"))
        .distinct()
    )
    dup_pairs = _verified_pairs(cand, probe_shingles, idx_shingles, threshold)
    dup_vs_index = dup_pairs.select(F.col("new_id").alias("doc_id")).distinct()
    all_dropped = dropped_in_batch.union(dup_vs_index).distinct()

    accepted = batch.join(F.broadcast(all_dropped), "doc_id", "left_anti")
    accepted.write.mode("append").parquet(accepted_path)
    if rejected_path is not None:
        batch.join(F.broadcast(all_dropped), "doc_id").write \
            .mode("append").parquet(rejected_path)
    # extend the index with the indexable survivors only — near-dups must
    # not seed future probes
    survivors = reps.join(F.broadcast(dup_vs_index), "doc_id", "left_anti")
    buckets.join(F.broadcast(survivors), "doc_id").write.mode("append") \
        .parquet(os.path.join(index_path, BUCKETS))
    shingled.join(F.broadcast(survivors), "doc_id").write.mode("append") \
        .parquet(os.path.join(index_path, SHINGLES))


def _epoch_marker(target_path: str) -> str:
    return f"{target_path}._last_epoch"


def _read_epoch(target_path: str) -> int:
    try:
        with open(_epoch_marker(target_path)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return -1


def _write_epoch(target_path: str, epoch_id: int) -> None:
    with open(_epoch_marker(target_path), "w") as f:
        f.write(str(epoch_id))


def start_neardup_stream(spark: SparkSession, source_dir: str, index_path: str,
                         accepted_path: str, checkpoint: str,
                         rejected_path: str | None = None,
                         once: bool = True):
    """Continuous curation: readStream over the document drop directory →
    per-batch near-dup gate against the persisted index.

    Replay-idempotent via an epoch marker: a ``._last_epoch`` file beside
    ``accepted_path`` holds the last applied epoch. The sinks here are
    parquet APPENDS, so a foreachBatch retry of an already-committed epoch
    would double-append accepted rows AND double-extend the index — the
    marker makes the retry a no-op (exactly-once effect; in production the marker write is
    a transactional commit alongside the sink, e.g. a Delta txn)."""
    from .dedup_stream import DOC_STREAM_SCHEMA

    def _once(batch: DataFrame, epoch_id: int) -> None:
        if epoch_id <= _read_epoch(accepted_path):
            return
        process_batch(batch.sparkSession, batch, index_path,
                      accepted_path, rejected_path)
        _write_epoch(accepted_path, epoch_id)

    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(source_dir)
    writer = (
        stream.writeStream
        .foreachBatch(_once)
        .option("checkpointLocation", checkpoint)
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
