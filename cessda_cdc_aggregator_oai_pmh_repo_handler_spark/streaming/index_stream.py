"""Incremental BM25 index maintenance for a document stream — the
streaming form of ``operators.ann.q_bm25_topk``: each microbatch of
accepted documents extends a PERSISTED inverted index, and queries probe
the index as it stands, without ever rescanning the corpus.

Index layout (all append-by-epoch parquet):

- ``<index>/postings/epoch=E`` — (term, doc_id, tf): the inverted index.
- ``<index>/doclens/epoch=E``  — (doc_id, dl): per-document lengths.
- ``<index>/stats/epoch=E``    — (batch_docs, batch_dl_sum): one row per
  batch; N and avgdl are the running sums, so corpus-level stats never
  require touching postings.

Scale design:

- Appends write ONLY the batch's own epoch directory (overwrite of that
  directory, not of the index), so a replayed/restarted batch is
  idempotent — exactly-once realized as an epoch-partitioned layout.
- A query broadcasts its terms and LEFT SEMI-probes postings: work
  scales with the query terms' posting lists (at 100 TB the postings
  table is bucketed by term, making the probe a pruned co-located scan),
  never with the corpus. Document frequencies are aggregated from the
  probed slice only; N/avgdl come from the tiny stats relation.
- The scoring formula is byte-for-byte ``q_bm25_topk``'s, so the batch
  operator doubles as the oracle: an index built incrementally over any
  batch split must rank exactly like the one-shot batch computation
  (pinned in tests/test_index_stream.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann import BM25_MAX_DF_FRAC, bm25_sum_expr

POSTINGS = "postings"
DOCLENS = "doclens"
STATS = "stats"


def _tokenize(docs: DataFrame) -> DataFrame:
    # delegate to THE corpus tokenizer so index and batch scorer can never
    # disagree on what a term is
    from ..operators.text_analysis import _words

    return docs.select("doc_id", _words("text").alias("words"))


def index_parts(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, doclens, stats) for raw (doc_id, text) rows."""
    toks = _tokenize(docs)
    postings = (
        toks.select("doc_id", F.explode("words").alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    doclens = toks.select("doc_id", F.size("words").alias("dl"))
    stats = doclens.agg(F.count(F.lit(1)).alias("batch_docs"),
                        F.sum("dl").alias("batch_dl_sum"))
    return postings, doclens, stats


def append_batch(spark: SparkSession, batch: DataFrame, index_path: str,
                 epoch: int) -> None:
    """The foreachBatch body: extend the index with one batch. Writes go
    to the batch's OWN epoch directories, so a Structured Streaming
    restart that replays the epoch overwrites the same files instead of
    double-counting — idempotent without read-modify-write."""
    postings, doclens, stats = index_parts(batch)
    for name, df in ((POSTINGS, postings), (DOCLENS, doclens), (STATS, stats)):
        df.write.mode("overwrite").parquet(
            os.path.join(index_path, name, f"epoch={epoch}"))


def bootstrap_index(docs: DataFrame, index_path: str) -> None:
    """Initial index from an existing corpus (epoch 0)."""
    spark = docs.sparkSession
    append_batch(spark, docs, index_path, epoch=0)


def start_index_stream(spark: SparkSession, source_dir: str,
                       index_path: str, checkpoint_dir: str):
    """Maintain the index from a parquet-directory stream of documents."""
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(source_dir)
    )
    return (
        stream.writeStream
        .foreachBatch(lambda b, eid: append_batch(spark, b, index_path,
                                                  epoch=int(eid) + 1))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_index(spark: SparkSession, index_path: str) -> None:
    """Fold the accumulated epoch directories into a single base epoch —
    the small-file compaction a long-running index needs (each microbatch
    leaves its own files; probes pay per-file open cost forever without
    this). Staging-then-rename per relation: a reader never sees
    half-written FILES, but the two renames leave a microsecond window
    where a relation directory is absent, and the three relations swap
    sequentially — run compaction between probe cycles (the maintenance
    window every compactor needs). At scale the cure is a manifest or
    catalog pointer flipped atomically; out of scope for the
    filesystem-layout index here. Epochs hold disjoint documents, so
    postings/doclens compact by plain rewrite; stats fold to one row."""
    import shutil
    import uuid

    for name in (POSTINGS, DOCLENS, STATS):
        live = os.path.join(index_path, name)
        df = spark.read.parquet(live)
        if name == STATS:
            df = df.agg(F.sum("batch_docs").alias("batch_docs"),
                        F.sum("batch_dl_sum").alias("batch_dl_sum"))
        staging = f"{live}.staging-{uuid.uuid4().hex[:8]}"
        df.drop("epoch").coalesce(max(1, df.rdd.getNumPartitions() // 8)) \
            .write.parquet(os.path.join(staging, "epoch=0"))
        old = f"{live}.old-{uuid.uuid4().hex[:8]}"
        os.rename(live, old)
        os.rename(staging, live)
        shutil.rmtree(old, ignore_errors=True)


def bm25_query(spark: SparkSession, index_path: str, query_terms,
               top_k: int = 10,
               exclude_doc: int | None = None) -> DataFrame:
    """Probe the persisted index: Okapi BM25 over the query terms'
    posting lists only. ``query_terms`` may be a list of strings or a
    1-column DataFrame of terms."""
    if not isinstance(query_terms, DataFrame):
        query_terms = spark.createDataFrame(
            [(t,) for t in dict.fromkeys(query_terms)], "term string")
    else:
        # a duplicated term would double its df and score contribution
        query_terms = query_terms.distinct()
    postings = spark.read.parquet(os.path.join(index_path, POSTINGS))
    doclens = spark.read.parquet(os.path.join(index_path, DOCLENS))
    stats_rows = spark.read.parquet(os.path.join(index_path, STATS))
    stats = stats_rows.agg(
        F.sum("batch_docs").alias("n_docs"),
        (F.sum("batch_dl_sum") / F.sum("batch_docs")).alias("avgdl"))
    # df aggregates over the query terms' slice only — but must count ALL
    # docs holding the term, including an excluded query doc, to match
    # the batch operator's statistics. Stop terms (df above the fraction
    # cap, idf ≈ 0) are dropped HERE, before the scoring probe ever
    # touches their corpus-sized posting lists — same guard as the batch
    # operator, so the equivalence tests stay exact.
    dfreq = (postings.join(F.broadcast(query_terms), "term")
             .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    survivors = (dfreq.crossJoin(F.broadcast(stats))
                 .filter(F.col("df")
                         <= BM25_MAX_DF_FRAC * F.col("n_docs")))
    probed = postings.join(F.broadcast(survivors), "term")
    if exclude_doc is not None:
        probed = probed.filter(F.col("doc_id") != exclude_doc)
    return (
        probed
        .join(doclens, "doc_id")
        .groupBy("doc_id")
        .agg(bm25_sum_expr().alias("bm25"),
             F.count(F.lit(1)).alias("matched_terms"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(top_k)
    )
