"""Scale-stress harness for the dedup/ANN/CC families (round-4 verdict #1).

Generates a synthetic corpus 200-600x the sf0.1 test tables — WITH a
deliberately viral near-duplicate cluster and a skewed publisher — and
runs each family end-to-end, proving that the quadratic-blowup guards
actually ENGAGE (not just exist) and that wall-time stays bounded:

- ``LSH_BUCKET_CAP``: the viral cluster drives LSH band buckets far past
  the cap; the report shows max bucket membership before the cap and the
  verified-pair count after it (bounded, not |viral|^2 ~ 10^9).
- fuzzy blocking cap: the viral cluster shares its text prefix, so the
  md5-prefix blocks blow past the cap the same way.
- ``SEM_CLUSTER_CAP``: a viral embedding label far above the cap takes
  the sign-bit sub-bucket path (dedup.semantic_dedup_stats).
- distributed CC: ``LOCAL_CC_MAX_EDGES`` is dropped to 0 so the hybrid
  switch in q_neardup_components selects min-label propagation — the
  1000-executor path — against the real verified-pair graph.
- ANN: brute-force cosine top-k over the full embedding table (broadcast
  query + TakeOrderedAndProject — no pair materialization).
- skewed publisher: a sort-merge self-join on the 90%-skewed ``source``
  key with AQE skew-join enabled (broadcast disabled to force the skew
  machinery to be the thing that saves the join).

Every family is also run at 1/3 volume; the report carries the
time ratio so super-linear behavior is visible (pair-bounded families
should scale ~linearly in docs, not quadratically).

Usage:
    python tools/scale_stress.py [--docs 3000000] [--vecs 1000000]
        [--viral 60000] [--out /tmp/spark_graft_stress] [--json PATH]

Prints one JSON report; the committed copy lives at STRESS_r04.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import dedup
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
    _MEMO, clear_corpus_caches,
)

def forget(builder) -> None:
    """Drop a corpus_memo builder's registry entries so its next call
    rebuilds (the other memos, e.g. the verified pairs, stay warm)."""
    for k in [k for k in _MEMO if k[2] == builder.memo_name]:
        del _MEMO[k]


VOCAB = 5000          # distinct background words
DOC_WORDS = 30        # words per document
EMB_DIM = 16          # stress embedding width (>= dedup.BLOCK_BITS)
N_LABELS = 2000       # background embedding clusters


def gen_documents(spark: SparkSession, out_dir: str, n_docs: int,
                  viral: int) -> None:
    """All-Spark generation (no driver loops): background docs draw
    DOC_WORDS pseudo-random words; the first ``viral`` docs share one base
    sentence with a single id-dependent word substitution (pairwise
    Jaccard ~0.8 — a classic boilerplate/mirror cluster); ``source`` sends
    90% of rows to one mega-publisher."""
    base = F.array(*[F.lit(f"v{i}") for i in range(DOC_WORDS)])
    rnd_words = F.transform(
        F.sequence(F.lit(1), F.lit(DOC_WORDS)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(VOCAB))),
    )
    viral_words = F.transform(
        base,
        lambda w, i: F.when(
            i == F.pmod(F.col("id"), F.lit(DOC_WORDS)).cast("int"),
            F.concat(F.lit("x"), F.pmod(F.col("id"), F.lit(7))),
        ).otherwise(w),
    )
    text = F.concat_ws(
        " ", F.when(F.col("id") < viral, viral_words).otherwise(rnd_words))
    df = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.when(F.pmod(F.col("id"), F.lit(10)) < 9, F.lit("megapublisher"))
            .otherwise(F.concat(F.lit("pub"),
                                F.pmod(F.xxhash64("id"), F.lit(50))))
            .alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    df.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))


def gen_embeddings(spark: SparkSession, out_dir: str, n_vecs: int,
                   viral: int) -> None:
    """Label-correlated embeddings: vector = per-label base direction plus
    small per-id noise, so same-label cosine is high (SemDeDup has real
    prey). The first ``viral`` vectors all land in label 0 — hundreds of
    times SEM_CLUSTER_CAP."""
    label = (
        F.when(F.col("vec_id") < viral, F.lit(0))
        .otherwise((F.pmod(F.xxhash64("vec_id"), F.lit(N_LABELS)) + 1)
                   .cast("int"))
    )
    dims = F.sequence(F.lit(1), F.lit(EMB_DIM))
    emb = F.transform(
        dims,
        lambda i: (
            (F.pmod(F.xxhash64(F.col("label").cast("long"), i), F.lit(1000))
             / 500.0 - 1.0)
            + (F.pmod(F.xxhash64(F.col("vec_id"), i, F.lit(77)), F.lit(100))
               / 1000.0)
        ).cast("float"),
    )
    df = (
        spark.range(n_vecs)
        .select(F.col("id").alias("vec_id"))
        .withColumn("label", label)
        .select("vec_id", emb.alias("embedding"), "label")
    )
    df.write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))


def _codec_media(spark: SparkSession, n: int, kind: str, payload_fn):
    """Executor-side encode of n payloads, MATERIALIZED (localCheckpoint)
    so the timed pass measures DECODE throughput only — the stable,
    attributable number (encode-stage timing swings with Python-worker
    pool state and was the dominant term; the AVI family already
    materialized for the same reason)."""
    import pandas as pd

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    def encode_batches(batches):
        for pdf in batches:
            ids = pdf["id"]
            yield pd.DataFrame({
                "media_id": ids,
                "kind": kind,
                "payload": [payload_fn(int(i)) for i in ids],
                "meta": [None] * len(ids),
            })

    return spark.range(n).repartition(32).mapInPandas(
        encode_batches, schema=MEDIA_SCHEMA).localCheckpoint()


def _decode_values(media) -> int:
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.multimodal import (
        decode_media,
    )

    return decode_media(media).agg(F.sum("n_values")).first()[0]


def _avi_media(spark: SparkSession, n: int):
    """Distributed MJPEG AVI mux (executor-side), MATERIALIZED so the
    sampling passes time demux+decode only — the 100 TB property under
    test is that every_n=k decodes ~1/k of the pixels because sampling
    happens at DEMUX, before JPEG decode."""
    import pandas as pd

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.multimodal import (
        MEDIA_SCHEMA, encode_avi_payload, sample_video_frames,
    )

    def encode_batches(batches):
        for pdf in batches:
            ids = pdf["id"]
            yield pd.DataFrame({
                "media_id": ids,
                "kind": "video",
                "payload": [encode_avi_payload(int(i), 16, 8,
                                               4 + int(i) % 4)
                            for i in ids],
                "meta": [None] * len(ids),
            })

    media = spark.range(n).repartition(32).mapInPandas(
        encode_batches, schema=MEDIA_SCHEMA).localCheckpoint()
    return media


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return round(time.perf_counter() - t0, 2), out


def stress_once(spark: SparkSession, sf_dir: str, scale_tag: str) -> dict:
    """One full pass of every family at the corpus in ``sf_dir``."""
    report: dict = {}
    clear_corpus_caches(spark)

    # --- evidence: bucket/block/cluster sizes BEFORE the caps ------------
    docs = dedup._shingled_docs(spark, sf_dir)
    mh = dedup.minhash_signature(F.col("shingles"))
    sigs = docs.select("doc_id", *[m.alias(f"mh{p}") for p, m in enumerate(mh)])
    bands = sigs.select("doc_id", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat_ws("|", f"mh{2 * b}", f"mh{2 * b + 1}"))
                 .alias("bh")) for b in range(dedup.N_BANDS)
    ])).alias("bb")).select("bb.band", "bb.bh")
    max_bucket = (bands.groupBy("band", "bh").count()
                  .agg(F.max("count")).first()[0])
    report["lsh_max_bucket_precap"] = int(max_bucket)
    report["lsh_bucket_cap"] = dedup.LSH_BUCKET_CAP

    # --- MinHash+LSH verified pairs --------------------------------------
    secs, n_pairs = timed(
        lambda: dedup.q_minhash_lsh_pairs(spark, sf_dir).count())
    report["minhash_lsh"] = {"sec": secs, "pairs": n_pairs}

    # --- connected components: FORCE the distributed path ----------------
    saved_cap = dedup.LOCAL_CC_MAX_EDGES
    dedup.LOCAL_CC_MAX_EDGES = 0  # hybrid switch must pick propagation
    forget(dedup.q_neardup_components)
    try:
        secs, stats = timed(lambda: dedup.q_neardup_components(spark, sf_dir)
                            .agg(F.count("*").alias("n"),
                                 F.countDistinct("component").alias("c"))
                            .first())
        report["cc_distributed"] = {
            "sec": secs, "nodes": stats["n"], "components": stats["c"],
            "path": "min-label propagation (LOCAL_CC_MAX_EDGES forced to 0)",
        }
    finally:
        dedup.LOCAL_CC_MAX_EDGES = saved_cap
        forget(dedup.q_neardup_components)

    # --- graph analytics over the verified pair relation ------------------
    # triangle counting on the capped viral cluster: the oriented wedge
    # join must stay edge-bounded, not |cluster|^3
    secs, stats = timed(lambda: dedup.q_triangle_stats(spark, sf_dir)
                        .agg(F.count("*").alias("nodes"),
                             F.sum("triangles").alias("t3")).first())
    report["triangle_stats"] = {
        "sec": secs, "nodes": int(stats["nodes"]),
        "triangles": int((stats["t3"] or 0) // 3),
    }
    # BFS hop distance: sweep count == diameter (early exit), not MAX_HOPS
    forget(dedup.q_neardup_hop_distance)
    secs, stats = timed(lambda: dedup.q_neardup_hop_distance(spark, sf_dir)
                        .agg(F.count("*").alias("reached"),
                             F.max("hops").alias("maxh")).first())
    report["hop_distance"] = {
        "sec": secs, "reached": int(stats["reached"]),
        "max_hops": int(stats["maxh"]),
        "hop_ceiling": dedup.MAX_HOPS,
    }

    # --- fuzzy edit-distance blocking -------------------------------------
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    max_block = (d.groupBy(F.md5(F.substring(F.lower("text"), 1,
                                             dedup.EDIT_BLOCK)))
                 .count().agg(F.max("count")).first()[0])
    report["fuzzy_max_block_precap"] = int(max_block)
    secs, n_pairs = timed(
        lambda: dedup.q_fuzzy_edit_pairs(spark, sf_dir).count())
    report["fuzzy_edit"] = {"sec": secs, "pairs": n_pairs}

    # --- SemDeDup with the oversized-cluster sub-bucket path --------------
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    max_label = e.groupBy("label").count().agg(F.max("count")).first()[0]
    report["sem_max_cluster"] = int(max_label)
    report["sem_cluster_cap"] = dedup.SEM_CLUSTER_CAP
    secs, stats = timed(lambda: dedup.semantic_dedup_stats(e)
                        .agg(F.sum("n").alias("n"),
                             F.sum("pruned").alias("pruned")).first())
    report["semantic_dedup"] = {
        "sec": secs, "vectors": stats["n"], "pruned": stats["pruned"],
        "subbucketed": bool(max_label > dedup.SEM_CLUSTER_CAP),
    }

    # --- ANN brute-force top-k over the full table ------------------------
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")).limit(1)
    cos = dedup.dot_cols("embedding", "qe") / (
        dedup.norm_col("embedding") * dedup.norm_col("qe"))
    secs, rows = timed(
        lambda: e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id").limit(10).collect())
    report["ann_bruteforce"] = {"sec": secs, "topk": len(rows)}

    # --- multimodal decode throughput (per-codec attribution) ------------
    # payloads are ENCODED in executors (mapInPandas) and MATERIALIZED
    # (localCheckpoint) before the timed pass, so every number below is
    # DECODE throughput only — stable across Python-worker pool states
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.multimodal import (
        encode_adpcm_payload, encode_flac_payload, encode_gif_payload,
        encode_jpeg_payload,
    )
    codec_runs = [
        # (report key, count key, n at full/third, kind, payload fn, unit)
        ("media_decode", "jpegs", (20_000, 6_000), "image",
         lambda i: encode_jpeg_payload(2 * i + 1, 16 + i % 17, 8 + i % 9),
         "values_per_sec"),          # odd ids: always baseline JPEG
        ("progressive_jpeg", "jpegs", (3_000, 1_000), "image",
         lambda i: encode_jpeg_payload(8 * i, 16 + i % 17, 8 + i % 9),
         "values_per_sec"),          # ids % 8 == 0: always SOF2
        ("flac_decode", "clips", (12_000, 4_000), "audio",
         lambda i: encode_flac_payload(i, 800 + i % 400),
         "samples_per_sec"),
        ("gif_decode", "images", (12_000, 4_000), "image",
         lambda i: encode_gif_payload(i, 16 + i % 17, 8 + i % 9),
         "values_per_sec"),
        ("adpcm_decode", "clips", (12_000, 4_000), "audio",
         lambda i: encode_adpcm_payload(i, 800 + i % 400),
         "samples_per_sec"),
    ]
    for key, count_key, (n_full, n_third), kind, payload_fn, unit in codec_runs:
        n = n_full if scale_tag == "full" else n_third
        media = _codec_media(spark, n, kind, payload_fn)
        secs, stats = timed(lambda: _decode_values(media))
        report[key] = {
            "sec": secs, count_key: n,
            "values": int(stats),
            unit: int(stats / max(secs, 1e-9)),
        }
        if key == "media_decode":
            # mapInArrow vs mapInPandas over the SAME materialized
            # payloads: the delta is pure pandas-conversion overhead
            from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.multimodal import (
                decode_media_arrow,
            )
            a_secs, a_stats = timed(
                lambda: decode_media_arrow(media)
                .agg(F.sum("n_values")).first()[0])
            report["media_decode_arrow"] = {
                "sec": a_secs, count_key: n, "values": int(a_stats),
                unit: int(a_stats / max(a_secs, 1e-9)),
                "vs_pandas_ratio": round(a_secs / max(secs, 1e-9), 3),
            }
        media.unpersist()
    # AVI demux-level frame sampling: decode all frames vs 1-in-4, over
    # PRE-MATERIALIZED clips (localCheckpoint) so the passes time
    # demux+decode only — the sampled pass must cost ~1/4, proving
    # sampled-out frames are never pixel-decoded
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.multimodal import (
        sample_video_frames,
    )
    n_avi = 3_000 if scale_tag == "full" else 1_000
    avi_media = _avi_media(spark, n_avi)
    full_sec, full_vals = timed(lambda: sample_video_frames(avi_media, 1)
                                .agg(F.sum("n_values")).first()[0])
    samp_sec, samp_vals = timed(lambda: sample_video_frames(avi_media, 4)
                                .agg(F.sum("n_values")).first()[0])
    report["avi_frame_sampling"] = {
        "clips": n_avi,
        "full": {"sec": full_sec, "values": int(full_vals)},
        "every_4": {"sec": samp_sec, "values": int(samp_vals)},
        "value_ratio": round(samp_vals / max(full_vals, 1), 3),
        "decode_cost_ratio": round(samp_sec / max(full_sec, 1e-9), 3),
    }

    # --- recursive CTE (UnionLoop) + LATERAL at corpus volume -------------
    # The gate runs these verbatim texts only at sf0.01; here the same
    # plan shapes run against the scaled corpus so UnionLoop's scaling is
    # measured, not assumed. An orders-shaped view derives from documents
    # (dates/prices/custkeys are deterministic functions of doc_id), so
    # the fact side grows with the stress ladder.
    d.selectExpr(
        "doc_id % 100000 AS o_custkey",
        "date_add(DATE '1996-01-01', CAST(doc_id % 14 AS INT)) AS o_orderdate",
        "CAST(n_chars AS DECIMAL(18,4)) AS o_totalprice",
    ).createOrReplaceTempView("orders_syn")
    # recursive date spine LEFT JOIN day-rollup of the corpus-sized fact
    secs, n = timed(lambda: spark.sql("""
        WITH RECURSIVE spine(dd) AS (
            SELECT DATE '1996-01-01'
            UNION ALL
            SELECT dd + INTERVAL '1' DAY FROM spine
            WHERE dd < DATE '1996-01-14'
        ),
        daily AS (
            SELECT o_orderdate AS day, count(*) AS orders,
                   sum(o_totalprice) AS rev
            FROM orders_syn GROUP BY o_orderdate
        )
        SELECT count(*) AS n, sum(orders) AS total
        FROM spine s LEFT JOIN daily dy ON dy.day = s.dd
    """).first()[0])
    report["recursive_spine"] = {"sec": secs, "spine_days": int(n)}
    # recursive graph walk seeded at CORPUS size (distinct doc-derived
    # keys), bounded depth: every UnionLoop iteration carries a
    # corpus-sized frontier through the join
    secs, n = timed(lambda: spark.sql("""
        WITH RECURSIVE walk(start_key, node_key, depth) AS (
            SELECT DISTINCT o_custkey, o_custkey, 0
            FROM orders_syn
            UNION ALL
            SELECT w.start_key, (w.node_key * 7 + 3) % 100000, w.depth + 1
            FROM walk w WHERE w.depth < 4
        )
        SELECT count(*) FROM walk
    """).first()[0])
    report["recursive_walk"] = {"sec": secs, "rows": int(n)}
    # correlated LATERAL: bounded key set, corpus-sized inner aggregate —
    # must decorrelate to one grouped join, not a per-row re-execution
    secs, n = timed(lambda: spark.sql("""
        SELECT count(*) FROM (
            SELECT k.o_custkey, t.n_orders, t.top_price
            FROM (SELECT DISTINCT o_custkey FROM orders_syn
                  WHERE o_custkey < 50) k,
                 LATERAL (SELECT count(*) AS n_orders,
                                 max(o.o_totalprice) AS top_price
                          FROM orders_syn o
                          WHERE o.o_custkey = k.o_custkey) t
        )
    """).first()[0])
    report["lateral_decorrelated"] = {"sec": secs, "rows": int(n)}

    # --- skewed-publisher sort-merge join under AQE skew handling ---------
    per_source = d.groupBy("source").agg(F.count("*").alias("docs_in_source"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        secs, n = timed(
            lambda: d.join(per_source, "source")
            .filter(F.col("docs_in_source") > 0)
            .agg(F.count("*")).first()[0])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    report["skewed_join"] = {"sec": secs, "rows": int(n)}

    # --- mergeable per-partition statistics family (SCALING.md section) ---
    # the same constructs as the gate rows (quantile_merge / kll_quantiles /
    # theta_sketch_ops / bitmap_distinct / pca_embeddings), re-aimed at the
    # stress corpus so their data passes are measured at 3M docs / 1M vecs.
    from pyspark.sql import Window

    vals = d.select("source", F.col("n_chars").cast("double").alias("v"))
    K = 256

    def quantile_summary():
        unit = Window.partitionBy("source", "pid").orderBy("v")
        rows_ = (vals.withColumn("pid", F.spark_partition_id())
                 .withColumn("b", F.ntile(K).over(unit))
                 .groupBy("source", "pid", "b")
                 .agg(F.max("v").alias("v"),
                      F.count(F.lit(1)).cast("double").alias("w"))
                 .select("v", "w"))
        cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        return (rows_.select("v", F.sum("w").over(cum).alias("cw"))
                .agg(F.count(F.lit(1)).alias("summary_rows")).first())
    secs, st = timed(quantile_summary)
    report["quantile_summary"] = {"sec": secs,
                                  "summary_rows": int(st["summary_rows"])}

    secs, p50 = timed(lambda: (
        vals.groupBy("source").agg(F.kll_sketch_agg_double("v").alias("sk"))
        .agg(F.collect_list("sk").alias("sks"))
        .select(F.kll_sketch_get_quantile_double(
            F.aggregate(F.slice("sks", 2, 1 << 30), F.element_at("sks", 1),
                        lambda a, x: F.kll_sketch_merge_double(a, x)),
            F.lit(0.5)).alias("p50")).first()["p50"]))
    report["kll_merge"] = {"sec": secs, "p50": float(p50)}

    secs, u = timed(lambda: (
        d.groupBy("source").agg(F.theta_sketch_agg("doc_id").alias("sk"))
        .agg(F.theta_sketch_estimate(F.theta_union_agg("sk")).alias("u"))
        .first()["u"]))
    report["theta_union"] = {"sec": secs, "union_est": int(u)}

    secs, bd = timed(lambda: (
        d.select("source", F.bitmap_bucket_number("doc_id").alias("bkt"),
                 F.bitmap_bit_position("doc_id").alias("pos"))
        .groupBy("source", "bkt").agg(F.bitmap_construct_agg("pos").alias("bm"))
        .groupBy("source").agg(F.sum(F.bitmap_count("bm")).alias("n"))
        .agg(F.sum("n")).first()[0]))
    report["bitmap_distinct"] = {"sec": secs, "total_distinct": int(bd)}

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.clustering import (
        covariance_partials,
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    secs, (n_v, _mu, C) = timed(lambda: covariance_partials(emb))
    report["pca_covariance"] = {"sec": secs, "n_vecs": int(n_v),
                                "dim": int(C.shape[0])}

    # PMI collocation at corpus volume: the CAP-bounded within-doc pair
    # join must stay corpus-linear (3M docs × ≤CAP² pair rows)
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.text_analysis import (
        q_token_pmi,
    )
    secs, top = timed(lambda: q_token_pmi(spark, sf_dir).collect())
    report["token_pmi"] = {"sec": secs, "top_pairs": len(top)}

    # --- versioned-table copy-on-write MERGE at volume --------------------
    # the round-6 merge sink claim: after a key-clustered compact, a merge
    # whose key range covers ~1/32 of the table rewrites ~1 file of 32 —
    # batch-sized I/O against the corpus-sized table, proven by the
    # manifest file-carryover census (not a plan read).
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
        versioned_table as VT,
    )

    vt_path = os.path.join(sf_dir, "vt_docs")
    base = d.select("doc_id", "text", "source", "n_chars")
    t0 = time.perf_counter()
    VT.create(base.repartition(8), vt_path)
    VT.compact(spark, vt_path, target_files=32, cluster_by="doc_id")
    build_sec = round(time.perf_counter() - t0, 2)
    head = VT.current_version(vt_path)
    before = set(VT.read_manifest(vt_path, head)["files"])
    n_rows = base.count()
    span = max(n_rows // 64, 1)  # ~half a file's key range
    updates = (base.filter((F.col("doc_id") >= 10) &
                           (F.col("doc_id") < 10 + span))
               .withColumn("text", F.lit("updated-by-stress")))
    secs, ver = timed(lambda: VT.merge_keys(spark, updates, vt_path,
                                            key="doc_id"))
    after = set(VT.read_manifest(vt_path, ver)["files"])
    report["vt_merge"] = {
        "sec": secs, "build_sec": build_sec, "table_rows": int(n_rows),
        "batch_rows": int(span), "total_files": len(before),
        "files_carried": len(before & after),
        "files_rewritten": len(before - after),
    }

    # --- schema evolution on the corpus-sized table -----------------------
    # round-6 claim: append_evolve is batch-sized (no rewrite of the 32
    # clustered files) and drop_column is METADATA-ONLY (one JSON write,
    # corpus size irrelevant) — both proven by the manifest census and by
    # near-constant wall time across the 3x volume step.
    tbl_types = {f.name: f.dataType.simpleString()
                 for f in VT.table_schema(vt_path).fields}
    ev_batch = (spark.range(n_rows + 1000, n_rows + 1000 + span)
                .select(F.col("id").cast(tbl_types["doc_id"])
                        .alias("doc_id"),
                        F.lit("evolved").alias("text"),
                        F.lit("stress").alias("source"),
                        F.lit(7).cast(tbl_types["n_chars"])
                        .alias("n_chars"),
                        F.lit(1).cast("int").alias("is_new")))
    pre_files = set(VT.read_manifest(vt_path,
                                     VT.current_version(vt_path))["files"])
    secs_ev, ev_ver = timed(lambda: VT.append_evolve(ev_batch, vt_path))
    ev_files = set(VT.read_manifest(vt_path, ev_ver)["files"])
    secs_drop, _ = timed(lambda: VT.drop_column(vt_path, "source"))
    post = VT.read(spark, vt_path)
    secs_scan, n_nulls = timed(
        lambda: post.filter(F.col("is_new").isNull()).count())
    report["vt_evolve"] = {
        "sec": secs_ev, "drop_sec": secs_drop, "null_scan_sec": secs_scan,
        "files_carried": len(pre_files & ev_files),
        "files_added": len(ev_files - pre_files),
        "null_backfilled_rows": int(n_nulls),
        "post_drop_cols": len(post.columns),
    }

    # --- streaming-shape CEP at event volume ------------------------------
    # the event_pattern_match shuffle shape (one user_id exchange + linear
    # per-key string scan) at n_docs events over 50k users — the per-key
    # sequence is ~60 chars at full volume, so wall time tracks the
    # exchange, not the regex
    n_cep_users = max(int(n_rows) // 60, 1)  # ~60-event histories per key
    ev = (spark.range(n_rows)
          .select((F.col("id") % n_cep_users).alias("user_id"),
                  F.col("id").alias("ts"),
                  F.col("id").alias("event_id"),
                  F.element_at(
                      F.array(*[F.lit(c) for c in
                                ("view", "click", "purchase", "signup",
                                 "error")]),
                      ((F.xxhash64("id") % 5 + 5) % 5 + 1).cast("int"))
                  .alias("event_type")))
    seq = F.array_join(
        F.transform(F.array_sort(F.collect_list(
            F.struct("ts", "event_id", "event_type"))),
            lambda x: F.substring(x["event_type"], 1, 1)), "")
    secs_cep, rows_cep = timed(lambda: (
        ev.groupBy("user_id").agg(seq.alias("seq"))
        .select(F.regexp_count("seq", F.lit("v[cse]*p")).alias("c"))
        .agg(F.sum("c")).collect()))
    report["cep_pattern"] = {"sec": secs_cep,
                             "conversions": int(rows_cep[0][0])}

    # --- grid-bucketed spatial radius join at point volume -----------------
    # n_rows probe points vs n_rows/10 build points. The module's demo GRID
    # (cell == 1e5 units over a 1e6×2e6 domain) is tuned for TPC-H supplier
    # density; at millions of points that coarse grid would pack thousands
    # of builds per cell, so the stress overrides cell size the way a real
    # deployment tunes it to point density — candidates stay ~O(probe).
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        spatial, text_analysis)
    saved_grid, saved_r2 = spatial.GRID, spatial.RADIUS2
    spatial.GRID = 1_000
    spatial.RADIUS2 = spatial.GRID * spatial.GRID
    try:
        probe = spark.range(1, int(n_rows) + 1).select(
            F.col("id").alias("p_key"),
            ((F.col("id") * spatial.LAT_MULT) % spatial.LAT_SPAN)
            .alias("lat"),
            ((F.col("id") * spatial.LON_MULT) % spatial.LON_SPAN)
            .alias("lon"))
        build = spark.range(1, int(n_rows) // 10 + 1).select(
            (F.col("id") * 7 + 3).alias("b_key"),
            (((F.col("id") * 7 + 3) * spatial.LON_MULT) % spatial.LAT_SPAN)
            .alias("lat"),
            (((F.col("id") * 7 + 3) * spatial.LAT_MULT) % spatial.LON_SPAN)
            .alias("lon"))
        secs, n_matched = timed(
            lambda: spatial.grid_radius_join(probe, build).count())
        report["spatial_grid_join"] = {
            "sec": secs, "matched_probes": int(n_matched),
            "probe_points": int(n_rows), "build_points": int(n_rows) // 10,
            "cell_units": spatial.GRID,
        }
    finally:
        spatial.GRID, spatial.RADIUS2 = saved_grid, saved_r2

    # --- TextRank over the stress corpus -----------------------------------
    # fixed-point power iteration: work per iteration is the EDGE relation
    # (vocab-pair-bounded), never docs², so full/third wall should track
    # the tokenize+edge-build pass, not quadratic pair growth
    secs, stats = timed(lambda: text_analysis
                        .q_textrank_keywords(spark, sf_dir)
                        .agg(F.count("*").alias("nodes"),
                             F.sum("rank_micro").alias("mass")).first())
    report["textrank"] = {"sec": secs, "nodes": int(stats["nodes"]),
                          "mass_micro": int(stats["mass"]),
                          "iters": text_analysis.TR_ITERS}

    report["scale"] = scale_tag
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=3_000_000)
    ap.add_argument("--vecs", type=int, default=1_000_000)
    ap.add_argument("--viral", type=int, default=60_000)
    ap.add_argument("--out", default="/tmp/spark_graft_stress")
    ap.add_argument("--json", default=None, help="also write report here")
    ap.add_argument("--keep", action="store_true",
                    help="keep generated parquet")
    args = ap.parse_args()

    spark = build_session("cdcagg-stress")
    spark.sparkContext.setLogLevel("ERROR")

    report: dict = {"docs": args.docs, "vecs": args.vecs,
                    "viral": args.viral, "runs": []}
    try:
        # small run first (1/3 volume) for the scaling ratio, then full
        for tag, frac in (("third", 3), ("full", 1)):
            sf_dir = os.path.join(args.out, tag)
            t0 = time.perf_counter()
            gen_documents(spark, sf_dir, args.docs // frac,
                          args.viral // frac)
            gen_embeddings(spark, sf_dir, args.vecs // frac,
                           args.viral // frac)
            gen_sec = round(time.perf_counter() - t0, 2)
            run = stress_once(spark, sf_dir, tag)
            run["gen_sec"] = gen_sec
            report["runs"].append(run)
            print(json.dumps(run), file=sys.stderr)
        third, full = report["runs"]
        # every timed family: any report key whose value carries a "sec"
        report["time_ratio_full_over_third"] = {
            k: round(full[k]["sec"] / max(third[k]["sec"], 1e-9), 2)
            for k, v in full.items()
            if isinstance(v, dict) and "sec" in v
            and isinstance(third.get(k), dict) and "sec" in third[k]
        }
        print(json.dumps(report))
        if args.json:
            with open(args.json, "w") as f:
                json.dump(report, f, indent=1)
    finally:
        clear_corpus_caches(spark)
        if not args.keep:
            shutil.rmtree(args.out, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
