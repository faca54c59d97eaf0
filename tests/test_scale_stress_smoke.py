"""Keeps tools/scale_stress.py runnable: a miniature end-to-end pass of
the stress harness (generation + every family + cap-engagement evidence)
so the committed STRESS_r04.json stays reproducible. The real volumes run
via `python tools/scale_stress.py` (SCALING.md "Stress evidence")."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import dedup
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
    clear_corpus_caches,
)


def test_stress_harness_smoke(spark, tmp_path):
    import scale_stress as ss

    out = str(tmp_path / "stress")
    ss.gen_documents(spark, out, n_docs=20_000, viral=2_000)
    ss.gen_embeddings(spark, out, n_vecs=8_000, viral=1_500)
    try:
        report = ss.stress_once(spark, out, "smoke")
    finally:
        clear_corpus_caches(spark)

    # the viral cluster must actually blow past the caps pre-guard...
    assert report["lsh_max_bucket_precap"] > dedup.LSH_BUCKET_CAP
    assert report["fuzzy_max_block_precap"] > dedup.FUZZY_BLOCK_CAP
    assert report["sem_max_cluster"] > dedup.SEM_CLUSTER_CAP
    assert report["semantic_dedup"]["subbucketed"] is True
    # ...and every family completes with sane outputs
    assert report["minhash_lsh"]["pairs"] > 0
    assert report["cc_distributed"]["components"] > 0
    assert report["cc_distributed"]["path"].startswith("min-label")
    assert report["fuzzy_edit"]["pairs"] > 0
    # graph family rides the same capped pair relation
    assert report["triangle_stats"]["nodes"] > 0
    assert report["triangle_stats"]["triangles"] > 0
    assert 0 < report["hop_distance"]["reached"]
    assert report["hop_distance"]["max_hops"] <= dedup.MAX_HOPS
    assert report["semantic_dedup"]["pruned"] > 0
    assert report["ann_bruteforce"]["topk"] == 10
    # executor-side JPEG encode -> Arrow decode: every payload decoded
    assert report["media_decode"]["values"] > 0
    assert report["media_decode"]["values_per_sec"] > 0
    assert report["skewed_join"]["rows"] == 20_000
    # the guard really bounds the blowup: a 2k viral cluster uncapped would
    # be ~2M LSH pairs; capped output stays orders below
    assert report["minhash_lsh"]["pairs"] < 100_000
    # VT copy-on-write merge: the clustered table carries most files
    # through the merge by reference (batch-sized I/O, round 6)
    vt = report["vt_merge"]
    assert vt["files_carried"] + vt["files_rewritten"] >= vt["total_files"] - 1
    assert vt["files_rewritten"] < vt["total_files"] / 4
    assert vt["files_carried"] > vt["total_files"] / 2
    # schema evolution: append_evolve carries every pre-evolve file, the
    # drop is metadata-only, and old rows backfill NULL for the new column
    evo = report["vt_evolve"]
    assert evo["files_added"] >= 1
    assert evo["null_backfilled_rows"] == 20_000
    assert evo["post_drop_cols"] == 4  # doc_id, text, n_chars, is_new
    # CEP at volume completes with a real conversion count
    assert report["cep_pattern"]["conversions"] > 0
