"""Incremental PQ vector index: full-corpus bootstrap must rank exactly
like the batch q_pq_ann (the oracle), frozen-codebook appends rank new
vectors, and epoch replays are idempotent."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import ann
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import load_table
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import (
    vector_index_stream as vx,
)


def _query_vec(spark, sf_dir):
    return (load_table(spark, "embeddings", sf_dir)
            .filter(F.col("vec_id") == ann.QUERY_VEC_ID)
            .select("embedding").collect()[0][0])


def test_bootstrap_index_matches_batch_pq(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "vidx")
    e = load_table(spark, "embeddings", sf_dir)
    vx.bootstrap_vector_index(spark, e, idx, sf_dir)
    got = vx.adc_query(spark, idx, _query_vec(spark, sf_dir),
                       exclude_vec=ann.QUERY_VEC_ID).collect()
    want = ann.q_pq_ann(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_frozen_append_ranks_new_vectors(spark, sf_dir, tmp_path):
    """A vector identical to the query appended later must land at
    ADC distance == the query's own quantized distance (top of the
    ranking) without any retraining."""
    idx = str(tmp_path / "vidx")
    e = load_table(spark, "embeddings", sf_dir)
    vx.bootstrap_vector_index(spark, e, idx, sf_dir)
    q = _query_vec(spark, sf_dir)
    clone = spark.createDataFrame(
        [(99_999, 0, list(q))],
        "vec_id long, label int, embedding array<float>")
    vx.append_vector_batch(spark, clone, idx, epoch=1)
    # the clone's subvectors sit exactly on the query, so each is
    # assigned its NEAREST centroid — its ADC is the global minimum
    # (ties with other vectors in the same best cell are possible, so
    # rank by distance, not top-10 membership)
    allr = vx.adc_query(spark, idx, q, top_k=1_000_000,
                        exclude_vec=ann.QUERY_VEC_ID).collect()
    by_id = {r["vec_id"]: r["adc_dist"] for r in allr}
    assert 99_999 in by_id
    assert by_id[99_999] == min(by_id.values())


def test_vector_epoch_replay_idempotent(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "vidx")
    e = load_table(spark, "embeddings", sf_dir)
    vx.bootstrap_vector_index(
        spark, e.filter(F.col("vec_id") < 400), idx, sf_dir)
    batch = e.filter(F.col("vec_id") >= 400)
    vx.append_vector_batch(spark, batch, idx, epoch=1)
    once = vx.adc_query(spark, idx, _query_vec(spark, sf_dir)).collect()
    vx.append_vector_batch(spark, batch, idx, epoch=1)  # replay
    twice = vx.adc_query(spark, idx, _query_vec(spark, sf_dir)).collect()
    assert [tuple(r) for r in once] == [tuple(r) for r in twice]
    n = spark.read.parquet(os.path.join(idx, vx.CODES)).count()
    assert n == e.count()  # no double-encoded vectors


def test_vector_stream_end_to_end(spark, sf_dir, tmp_path):
    """Vectors landing in a watched directory flow through the stream
    into the codes table against the frozen codebooks."""
    src = str(tmp_path / "vsrc")
    idx = str(tmp_path / "vidx")
    ckpt = str(tmp_path / "vckpt")
    e = load_table(spark, "embeddings", sf_dir)
    vx.bootstrap_vector_index(
        spark, e.filter(F.col("vec_id") < 100), idx, sf_dir)
    (e.filter(F.col("vec_id") >= 100)
     .select("vec_id", "label", "embedding")
     .write.mode("append").parquet(src))
    q = vx.start_vector_index_stream(spark, src, idx, ckpt)
    q.awaitTermination(120)
    n = spark.read.parquet(os.path.join(idx, vx.CODES)).count()
    assert n == e.count()
    top = vx.adc_query(spark, idx, _query_vec(spark, sf_dir),
                       exclude_vec=ann.QUERY_VEC_ID).collect()
    assert len(top) == ann.TOP_K


def test_bootstrap_subset_does_not_poison_model_cache(spark, sf_dir, tmp_path):
    """Bootstrapping on a SUBSET (even one missing the demo query vector)
    must neither crash nor leave a subset-trained model in the corpus-keyed
    cache that q_pq_ann would then serve."""
    idx = str(tmp_path / "vidx_subset")
    subset = (load_table(spark, "embeddings", sf_dir)
              .filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 300)))
    vx.bootstrap_vector_index(spark, subset, idx, sf_dir)  # no vec_id 0
    # the full-corpus gate query still ranks with full-corpus codebooks:
    # its top-1 must agree with a model trained fresh on the full corpus
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        _MEMO, corpus_key,
    )
    ck = corpus_key(spark, sf_dir, table="embeddings")
    cached = _MEMO.get((*ck, "ann._pq_model"))
    if cached is not None:
        # whatever is cached under the corpus key must carry the demo
        # query vector — i.e. it came from a full-corpus training run,
        # not the subset bootstrap
        assert cached[1] is not None
    got = ann.q_pq_ann(spark, sf_dir).limit(1).collect()
    assert got and got[0]["vec_id"] != ann.QUERY_VEC_ID
