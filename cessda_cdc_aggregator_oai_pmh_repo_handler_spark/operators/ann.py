"""Approximate-nearest-neighbor search over the ``embeddings`` table
(BASELINE.json north star: similarity search over an ``array<float>``
column).

Three strategies, increasingly scale-friendly:

- **brute force** — exact cosine against every vector; the correctness
  baseline. One scan, no shuffle, top-k via TakeOrderedAndProject (per
  partition top-k + driver merge, never a global sort).
- **IVF-style cell probe** — restrict the scan to the query's coarse cell
  (the ``label`` column stands in for a k-means assignment, which at 100 TB
  is the table's partition key → partition pruning turns top-k into a
  1/N_cells scan).
- **sign-LSH bucket probe** — block on the deterministic sign-bit signature
  (first 16 component signs); candidates share the query's bucket.

Dot products / norms are left folds over doubles — bit-identical in the
DuckDB oracles (same caveats as operators.dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import corpus_key, corpus_memo, load_table, memoized
from .clustering import sq_dists
from .dedup import (BLOCK_BITS, _SIGN_SIG_SQL, _cosine_sql,
                    dot_cols, norm_col, sign_signature)

QUERY_VEC_ID = 0
TOP_K = 10


def _with_query(spark: SparkSession, sf_dir: str):
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec"), F.col("label").alias("qlabel"),
        # query norm folded ONCE here, not once per corpus row post-join
        norm_col("embedding").alias("qnorm"),
    )
    # single-row broadcast: the fact side never shuffles
    return e, F.broadcast(q)


def _cosine_to_query() -> F.Column:
    return dot_cols("embedding", "qvec") / (norm_col("embedding") * F.col("qnorm"))


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine; ties broken by vec_id for determinism."""
    e, q = _with_query(spark, sf_dir)
    return (
        e.crossJoin(q)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(_cosine_to_query(), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell probe: search only the query's coarse cell (label); at scale
    the cell is a partition → pruned scan."""
    e, q = _with_query(spark, sf_dir)
    return (
        e.crossJoin(q)
        .filter((F.col("vec_id") != QUERY_VEC_ID) & (F.col("label") == F.col("qlabel")))
        .select("vec_id", "label", F.round(_cosine_to_query(), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def q_ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket probe: candidates share the query's 16-bit sign
    signature; exact cosine re-ranks the bucket."""
    e, q = _with_query(spark, sf_dir)
    sig = sign_signature("embedding")
    qsig = sign_signature("qvec")
    return (
        e.crossJoin(q)
        .filter((F.col("vec_id") != QUERY_VEC_ID) & (sig == qsig))
        .select("vec_id", "label", F.round(_cosine_to_query(), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def q_ann_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: candidates within Hamming distance 1 of the
    query's BLOCK_BITS-bit sign signature — the query's own bucket plus
    its one-bit neighbors, the standard recall fix for LSH's hard bucket
    boundary (Lv et al., multi-probe LSH). The Hamming distance is a
    BLOCK_BITS-term codegen'd sum of per-bit compares between the two
    signature strings — no bucket enumeration, no driver action; exact
    cosine re-ranks the widened candidate set, top-k via TakeOrdered. At
    100 TB with a signature-bucketed table this is BLOCK_BITS+1 pruned
    bucket probes."""
    e, q = _with_query(spark, sf_dir)
    sig = sign_signature("embedding")
    qsig = sign_signature("qvec")
    ham = sum(
        (F.when(F.substring(sig, i, 1) != F.substring(qsig, i, 1), 1)
         .otherwise(0) for i in range(1, BLOCK_BITS + 1)),
        F.lit(0),
    )
    return (
        e.crossJoin(q)
        .filter((F.col("vec_id") != QUERY_VEC_ID) & (ham <= 1))
        .select("vec_id", "label",
                F.round(_cosine_to_query(), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


BATCH_QUERIES = 8  # vec_id < 8 form the query batch
BATCH_K = 3


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: top-k neighbors for EVERY query in a batch at once — the
    realistic retrieval workload (N queries, not one). The single-query
    probes above broadcast one row; here the whole query batch broadcasts
    and the corpus side EQUI-joins on the IVF cell (label), so the plan is
    a BroadcastHashJoin — candidate count is sum of the queries' cell
    sizes, never |batch| x |corpus|. Per-query top-k is a row_number window
    partitioned by query id: partitions are cell-sized, so the window never
    sees a global sort. At 100 TB the corpus is partitioned by label and
    the join prunes to the batch's cells."""
    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
        norm_col("embedding").alias("qnorm"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos_exact").desc(), F.col("vec_id"))
    return (
        e.join(
            F.broadcast(q),
            (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "vec_id", "label", _cosine_to_query().alias("cos_exact"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BATCH_K)
        .select("qid", "vec_id", "label",
                F.round("cos_exact", 4).alias("cosine"), "rk")
    )


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-QUALITY EVALUATION — recall@k of the IVF cell probe
    against exact search, per query in the batch (the measurement that
    decides whether an approximate index is shippable; without it "we
    built IVF" is a claim, not a number). Exact and IVF top-k are ranked
    by the raw cosine (the bit-identical fold both engines share, as in
    ann_batch_topk) with vec_id tie-breaks; recall is the integer
    intersection size over k — one division, nothing merge-order
    sensitive.

    Scale: the exact arm is the one corpus-wide pass (|batch| ranked
    windows over broadcast-joined rows — the ground-truth cost you pay
    once per evaluation set, not per serve); the IVF arm prunes to the
    query's cell exactly like production. At 100 TB the eval set is a
    sample and this is a scheduled quality job, not a serving path."""
    from pyspark.sql import Window

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < BATCH_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
        norm_col("embedding").alias("qnorm"),
    )
    pairs = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "qlabel", "label",
                _cosine_to_query().alias("cos_exact"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_exact").desc(),
                                          F.col("vec_id"))
    exact = (pairs.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= TOP_K).select("qid", "vec_id"))
    ivf = (pairs.filter(F.col("label") == F.col("qlabel"))
           .withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= TOP_K).select("qid", "vec_id"))
    return (
        exact.join(ivf, ["qid", "vec_id"])
        .groupBy("qid").agg(F.count(F.lit(1)).alias("hits"))
        .join(q.select("qid"), "qid", "right")
        .select("qid", F.coalesce("hits", F.lit(0)).alias("hits"))
        .withColumn("recall_at_k",
                    F.round(F.col("hits").cast("double") / TOP_K, 4))
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the standard
    4× storage compression before an ANN index is built at scale (float32
    → int8 with a per-vector scale). Pure column expressions: per-vector
    absmax → scale 127/absmax → round/clamp each component; per label the
    rollup reports vector count, the exact integer sum of all quantized
    components, and how many components saturated at ±127. Integer
    metrics make the check engine-exact (no float accumulation order).
    Zero Python, zero extra shuffles beyond the label rollup; at 100 TB
    this is one map pass writing the int8 sidecar next to the vectors."""
    e = load_table(spark, "embeddings", sf_dir)
    absmax = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    # absmax == 0 (all-zero vector) would divide by zero: ANSI mode raises,
    # non-ANSI yields inf -> all components clamp to ±127 — both wrong.
    # Scale 0 quantizes the zero vector to all-zero components.
    scale = F.when(absmax == 0, F.lit(0.0)).otherwise(F.lit(127.0) / absmax)
    staged = e.select("label", "embedding", scale.alias("scale"))
    q = F.transform(
        "embedding",
        lambda x: F.least(
            F.greatest(F.round(x.cast("double") * F.col("scale")), F.lit(-127.0)),
            F.lit(127.0),
        ).cast("long"),
    )
    per_row = staged.select(
        "label",
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, v: acc + v)
        .alias("row_sum"),
        F.size(F.filter(q, lambda v: F.abs(v) == 127)).alias("row_sat"),
    )
    return per_row.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum("row_sum").alias("sum_q"),
        F.sum("row_sat").alias("saturated"),
    )


RRF_K = 60       # standard reciprocal-rank-fusion constant
RRF_POOL = 50    # per-modality candidate pool
RRF_TOP = 10


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a lexical ranking
    (distinct-token overlap with the query document) and a vector ranking
    (cosine to the query embedding) are each cut to a top-``RRF_POOL``
    candidate list, then fused by RRF score Σ 1/(k + rank) over the lists
    an item appears in — the standard way to combine BM25-ish and
    embedding retrieval without score calibration.

    Scale shape: each modality's pool comes from TakeOrderedAndProject
    (per-partition top-k, no global sort); the rank window then runs over
    POOL rows — constant work however big the corpus. The fusion join is
    pool-sized. doc_id and vec_id share the id space in the synthetic
    corpus, standing in for a document with both a text and an embedding
    column."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    qwords = docs.filter(F.col("doc_id") == 0).select(
        F.array_distinct(F.split(F.lower("text"), " ")).alias("qw"))
    lex_pool = (
        docs.crossJoin(F.broadcast(qwords))
        .filter(F.col("doc_id") != 0)
        .select(
            "doc_id",
            F.size(F.array_intersect(
                F.array_distinct(F.split(F.lower("text"), " ")),
                F.col("qw"))).alias("overlap"),
        )
        .orderBy(F.col("overlap").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    lex = lex_pool.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.col("overlap").desc(), "doc_id")).alias("lex_rank"),
    )
    e, q = _with_query(spark, sf_dir)
    vec_pool = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(F.col("vec_id").alias("doc_id"),
                _cosine_to_query().alias("cosine"))
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    vec = vec_pool.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.col("cosine").desc(), "doc_id")).alias("vec_rank"),
    )
    rrf = (F.when(F.col("lex_rank").isNotNull(), 1.0 / (RRF_K + F.col("lex_rank")))
           .otherwise(0.0)
           + F.when(F.col("vec_rank").isNotNull(), 1.0 / (RRF_K + F.col("vec_rank")))
           .otherwise(0.0))
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select("doc_id", F.round(rrf, 6).alias("rrf_score"),
                F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
                F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"))
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(RRF_TOP)
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the first 8 dimensions — the k-means E-step
    shape (at scale: one map-side-combined groupBy, centroids broadcast
    back for the assign step)."""
    e = load_table(spark, "embeddings", sf_dir)
    dims = [
        F.round(F.avg(F.col("embedding").getItem(k).cast("double")), 4).alias(f"d{k}")
        for k in range(8)
    ]
    return e.groupBy("label").agg(F.count("*").alias("n"), *dims)


def q_ann_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN with the cosine computed in a vectorized Pandas UDF
    (numpy over Arrow batches) — the sanctioned pattern when Python math is
    unavoidable; results identical to the JVM fold of q_ann_bruteforce."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    e = load_table(spark, "embeddings", sf_dir)
    qvec = np.array(
        e.filter(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"], dtype=np.float64
    )

    def _cos(col):
        m = np.stack(col.map(lambda v: np.asarray(v, dtype=np.float64)))
        dots = m @ qvec
        norms = np.sqrt((m * m).sum(axis=1)) * np.sqrt((qvec * qvec).sum())
        return pd.Series(dots / norms)

    # module-level `from __future__ import annotations` stringifies hints,
    # which pandas_udf's signature inference rejects — set them as objects
    _cos.__annotations__ = {"col": pd.Series, "return": pd.Series}
    cos = pandas_udf(_cos, "double")

    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", F.round(cos("embedding"), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


_COS_Q = _cosine_sql("e.embedding", "q.embedding")
_QSIG = _SIGN_SIG_SQL.replace("embedding[", "q.embedding[")
_ESIG = _SIGN_SIG_SQL.replace("embedding[", "e.embedding[")

PQ_SUBS = 2      # product-quantization subspaces
PQ_SUBDIM = 32   # 64-dim embeddings split in half
PQ_K = 4         # codebook size per subspace
PQ_SWEEPS = 2    # fixed Lloyd budget per codebook (deterministic)

def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., IVFADC family): train a
    tiny k-means codebook per embedding SUBSPACE, encode every vector as
    its per-subspace code tuple, and rank candidates by the asymmetric
    distance (ADC) — the sum of query-to-centroid distances looked up by
    code. The index is |corpus| short codes instead of |corpus| float
    vectors (here 2 bytes vs 256: the memory story that makes
    billion-vector search fit a cluster).

    Spark shape: ALL subspace codebooks train inside ONE Arrow-batched
    ``mapInPandas`` sweep — each partition emits (subspace, cluster, n,
    sum-vector) partials for every subspace at once, so a sweep is a
    single corpus pass however many subspaces there are (4 separate
    kmeans_fit calls measured 9.5 s; the fused trainer runs ~3 s at
    sf0.01). Encoding is one more fused pass emitting the full code
    tuple; ADC is a pure-codegen ``element_at(literal-table, code)``
    lookup — query-time work is a scan of the CODES table, no float
    vector math at all, and top-k is TakeOrderedAndProject. ADC takes at
    most PQ_K^PQ_SUBS distinct values, so the top-k cut always lands
    inside a tie group and the vec_id tie-break makes it engine-stable.
    Oracle: the same fixed recursion per subspace unrolled as DuckDB
    CTEs (_pq_oracle_sql), extending the kmeans_clusters verification
    pattern."""
    return _pq_search(spark, sf_dir, False)


def q_ivf_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC proper (the composition the PQ literature ships): the IVF
    coarse probe restricts candidates to the query's cell, and ADC over
    the PQ codes ranks WITHIN the cell — query-time work is the cell's
    slice of the codes table, the billion-vector search recipe. Same
    trained codebooks, encode pass, and determinism argument as
    ``q_pq_ann``; at 100 TB the codes table is partitioned by the coarse
    cell so the probe is partition pruning."""
    return _pq_search(spark, sf_dir, True)


# the trained-and-ranked result is a deterministic pure function of the
# corpus; memoized (localCheckpoint pins the 10 rows) so repeated suite
# constructions pay the training sweeps once per (session, corpus)
@corpus_memo(table="embeddings")
def _pq_search(spark: SparkSession, sf_dir: str,
               cell_probe: bool) -> DataFrame:
    ck = corpus_key(spark, sf_dir, table="embeddings")
    e = (load_table(spark, "embeddings", sf_dir)
         .select("vec_id", "label", "embedding").persist())
    try:
        cents, qvec, qlabel = _pq_model(spark, e, ck)
        codes = _pq_encode(e, cents)
        adc = F.lit(0.0)
        for si in range(PQ_SUBS):
            qsub = qvec[si * PQ_SUBDIM:(si + 1) * PQ_SUBDIM]
            dq = ((cents[si] - qsub[None, :]) ** 2).sum(axis=1)
            adc = adc + F.element_at(
                F.array(*[F.lit(float(d)) for d in dq]),
                F.col(f"code{si}") + 1)
        ranked = codes.filter(F.col("vec_id") != QUERY_VEC_ID)
        if cell_probe:
            ranked = ranked.filter(F.col("label") == qlabel)
        return (
            ranked
            .select("vec_id", "label",
                    *[f"code{si}" for si in range(PQ_SUBS)],
                    F.round(adc, 3).alias("adc_dist"))
            .orderBy("adc_dist", "vec_id")
            .limit(TOP_K)
            .localCheckpoint()  # materialize before the unpersist below
        )
    finally:
        e.unpersist()


def _pq_model(spark: SparkSession, e: DataFrame, ck):
    """Train (or fetch) the PQ codebooks for ``e``: training is the
    expensive part, and both search variants (full and cell-probed) reuse
    one fit per corpus. ``ck`` must identify THE TRAINING INPUT, not just
    the corpus file — callers training on a subset (e.g. a bootstrap
    slice) pass ``ck=None`` to bypass the cache entirely, otherwise a
    subset-trained model would be served to (or poisoned by) the
    full-corpus gate queries sharing the corpus key."""
    import numpy as np

    if ck is not None:
        return memoized((*ck, "ann._pq_model"),
                        lambda: _pq_model(spark, e, None))
    seeds = e.orderBy("vec_id").limit(PQ_K).collect()
    qrows = (e.filter(F.col("vec_id") == QUERY_VEC_ID)
             .select("embedding", "label").collect())
    if qrows:
        qvec = np.asarray([float(x) for x in qrows[0]["embedding"]],
                          dtype=np.float64)
        qlabel = qrows[0]["label"]
    else:
        # training-only callers (index bootstrap) may not carry the demo
        # query vector; they discard qvec/qlabel anyway
        qvec, qlabel = None, None
    cents = [
        np.asarray([[float(x) for x in r["embedding"]]
                    [si * PQ_SUBDIM:(si + 1) * PQ_SUBDIM]
                    for r in seeds], dtype=np.float64)
        for si in range(PQ_SUBS)
    ]
    for _ in range(PQ_SWEEPS):
        rows = _pq_sweep_partials(e, cents).collect()
        for si in range(PQ_SUBS):
            n = np.zeros(PQ_K)
            s = np.zeros((PQ_K, PQ_SUBDIM))
            for r in rows:
                if r["sub"] == si:
                    n[r["cluster"]] += r["n"]
                    s[r["cluster"]] += np.asarray(r["s"])
            cents[si] = np.asarray(
                [s[i] / n[i] if n[i] else cents[si][i]
                 for i in range(PQ_K)])
    return cents, qvec, qlabel


def _pq_sweep_partials(e: DataFrame, cents) -> DataFrame:
    """One fused Lloyd sweep for ALL subspaces: per partition, assign each
    vector's every subvector and emit PQ_SUBS × PQ_K partial rows."""
    import numpy as np
    import pandas as pd

    C = [c.copy() for c in cents]

    def part(batches):
        n = np.zeros((PQ_SUBS, PQ_K))
        s = np.zeros((PQ_SUBS, PQ_K, PQ_SUBDIM))
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            for si in range(PQ_SUBS):
                Xs = X[:, si * PQ_SUBDIM:(si + 1) * PQ_SUBDIM]
                idx = sq_dists(Xs, C[si]).argmin(1)
                np.add.at(n[si], idx, 1)
                np.add.at(s[si], idx, Xs)
        out = [(si, k, float(n[si][k]), [float(v) for v in s[si][k]])
               for si in range(PQ_SUBS) for k in range(PQ_K)
               if n[si][k] > 0]
        yield pd.DataFrame(out, columns=["sub", "cluster", "n", "s"])

    return e.mapInPandas(
        part, "sub int, cluster int, n double, s array<double>")


def _pq_encode(e: DataFrame, cents) -> DataFrame:
    """One fused pass emitting every vector's full code tuple."""
    import numpy as np
    import pandas as pd

    C = [c.copy() for c in cents]

    def enc(batches):
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = {"vec_id": pdf["vec_id"], "label": pdf["label"]}
            for si in range(PQ_SUBS):
                Xs = X[:, si * PQ_SUBDIM:(si + 1) * PQ_SUBDIM]
                out[f"code{si}"] = sq_dists(Xs, C[si]).argmin(1).astype("int32")
            yield pd.DataFrame(out)

    code_cols = ", ".join(f"code{si} int" for si in range(PQ_SUBS))
    return e.mapInPandas(enc, f"vec_id long, label int, {code_cols}")


def _pq_oracle_sql(subs: int = PQ_SUBS, subdim: int = PQ_SUBDIM,
                   k: int = PQ_K, sweeps: int = PQ_SWEEPS,
                   cell_probe: bool = False) -> str:
    """Per-subspace unrolled Lloyd recursion (the _kmeans_oracle_sql
    pattern at dim=subdim with a slice offset), then code assignment and
    the ADC lookup joined on code."""

    def dist(pt: str, ct: str) -> str:
        return (f"list_sum(list_transform(range(1, {subdim + 1}), "
                f"j -> pow({pt}.e[j] - {ct}.c[j], 2)))")

    parts = ["""
        pts AS (
            SELECT vec_id, label,
                   list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
            FROM embeddings
        ),
        dims AS (SELECT unnest(range(1, %d)) AS i)""" % (subdim + 1)]
    finals = []
    for s in range(subs):
        off = s * subdim
        parts.append(f"""
        sub{s} AS (
            SELECT vec_id,
                   list_transform(range(1, {subdim + 1}),
                                  j -> e[j + {off}]) AS e
            FROM pts
        ),
        c{s}_0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS cluster, e AS c
            FROM (SELECT vec_id, e FROM sub{s} ORDER BY vec_id LIMIT {k})
        )""")
        for t in range(1, sweeps + 1):
            parts.append(f"""
        a{s}_{t} AS (
            SELECT vec_id, e, cluster FROM (
                SELECT p.vec_id, p.e, c.cluster,
                       row_number() OVER (PARTITION BY p.vec_id
                           ORDER BY {dist('p', 'c')}, c.cluster) AS rn
                FROM sub{s} p CROSS JOIN c{s}_{t - 1} c
            ) WHERE rn = 1
        ),
        c{s}_{t} AS (
            SELECT prev.cluster, coalesce(upd.c, prev.c) AS c
            FROM c{s}_{t - 1} prev
            LEFT JOIN (
                SELECT cluster, list(m ORDER BY i) AS c FROM (
                    SELECT a.cluster, d.i, avg(a.e[d.i]) AS m
                    FROM a{s}_{t} a CROSS JOIN dims d
                    GROUP BY a.cluster, d.i
                ) GROUP BY cluster
            ) upd USING (cluster)
        )""")
        parts.append(f"""
        f{s} AS (
            SELECT vec_id, cluster AS code{s} FROM (
                SELECT p.vec_id, c.cluster,
                       row_number() OVER (PARTITION BY p.vec_id
                           ORDER BY {dist('p', 'c')}, c.cluster) AS rn
                FROM sub{s} p CROSS JOIN c{s}_{sweeps} c
            ) WHERE rn = 1
        ),
        qd{s} AS (
            SELECT c.cluster, {dist('q', 'c')} AS d
            FROM c{s}_{sweeps} c
            CROSS JOIN (SELECT e FROM sub{s}
                        WHERE vec_id = {QUERY_VEC_ID}) q
        )""")
        finals.append(s)
    ctes = ",".join(parts)
    code_cols = ", ".join(f"f{s}.code{s}" for s in finals)
    joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in finals)
    qd_joins = " ".join(
        f"JOIN qd{s} ON qd{s}.cluster = f{s}.code{s}" for s in finals)
    adc = " + ".join(f"qd{s}.d" for s in finals)
    cell_pred = (
        f" AND p.label = (SELECT label FROM embeddings"
        f" WHERE vec_id = {QUERY_VEC_ID})" if cell_probe else "")
    return f"""
        WITH {ctes}
        SELECT p.vec_id, p.label, {code_cols},
               round({adc}, 3) AS adc_dist
        FROM pts p {joins} {qd_joins}
        WHERE p.vec_id <> {QUERY_VEC_ID}{cell_pred}
        ORDER BY adc_dist, p.vec_id
        LIMIT {TOP_K}
    """


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10
BM25_QUERY_DOC = 0
# stop-term guard: query terms appearing in more than this fraction of
# documents are dropped BEFORE the postings probe. They are the LOWEST-idf
# terms (at df = 0.6N, idf ≈ 0.51 — small but not zero, so this is a
# deliberate, bounded deviation from pure Okapi, the trade every search
# engine's stopword list makes) and they own the corpus-sized posting
# lists that dominate probe cost at 100 TB. Applied identically in the
# batch operator, its oracle, and the streaming-index probe, so the
# engines never disagree. Same role as winnowing's stop-fingerprint cap.
BM25_MAX_DF_FRAC = 0.6


# the postings relation IS the inverted index — built once per corpus
# (one explode + one (doc, term) shuffle) and shared by the probe and the
# df aggregation across repeated gate/bench runs, the in-session analogue
# of the persisted index table streaming/index_stream maintains
@corpus_memo(table="documents")
def _postings_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_analysis import _tokenized_docs

    d = _tokenized_docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode("words").alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )


def bm25_score_expr() -> F.Column:
    """THE Okapi BM25 per-(doc, term) contribution, over columns
    (tf, df, dl, n_docs, avgdl) — shared by the batch operator and the
    streaming index probe so the formula cannot drift between them."""
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1)
    norm = (F.col("tf") * (BM25_K1 + 1)
            / (F.col("tf") + BM25_K1 * (1 - BM25_B
                                        + BM25_B * F.col("dl")
                                        / F.col("avgdl"))))
    return idf * norm


def bm25_sum_expr() -> F.Column:
    """Merge-order-free per-doc BM25 total: each (doc, term) contribution
    floors to integer micro-units (a single-shot IEEE op) and the sum is
    exact DECIMAL — shared by the batch operator and the streaming index
    probe so the de-flake discipline cannot drift between them."""
    return (F.sum(F.floor(bm25_score_expr() * F.lit(1000000.0))
                  .cast("decimal(38,0)")).cast("double")
            / F.lit(1000000.0))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval through a real INVERTED INDEX — the lexical half of
    hybrid retrieval done the way a search engine does it at scale: build
    (term, doc_id, tf) postings once, then answer a query by EQUI-JOINING
    its terms against the postings — candidates are the docs sharing at
    least one query term, reached through the index, never by scanning
    every document's text.

    Okapi BM25: idf(t) = ln((N - df + .5)/(df + .5) + 1), tf saturation
    with k1 = 1.2 and length normalization b = 0.75 against the corpus
    mean document length. N and avgdl enter as a 1-row broadcast
    crossJoin (the scalar_subquery pattern — no driver action). At 100 TB
    the postings relation is the bucketed-by-term index table; the query
    probe is a broadcast of the query's terms. Scores are rounded to 4
    before the TakeOrderedAndProject top-k; doc_id breaks ties."""
    from .text_analysis import _tokenized_docs

    d = _tokenized_docs(spark, sf_dir)
    postings = _postings_relation(spark, sf_dir)
    dl = d.select("doc_id", F.size("words").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    # exploding array_distinct of the single query row is already
    # distinct — no extra aggregate before the broadcast
    qterms = (
        d.filter(F.col("doc_id") == BM25_QUERY_DOC)
        .select(F.explode(F.array_distinct("words")).alias("term"))
    )
    # probe the index FIRST (the streaming twin's shape,
    # streaming/index_stream.py:bm25_query): only the query terms' posting
    # lists leave the index, and since a term's restricted postings still
    # hold its FULL document list, counting them gives the exact df — the
    # plan never aggregates the vocabulary-wide postings relation
    qpost = postings.join(F.broadcast(qterms), "term")
    dfreq = qpost.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # stop-term cap applied on the term-sized relation before re-probing
    survivors = (
        dfreq.crossJoin(F.broadcast(stats))
        .filter(F.col("df") <= BM25_MAX_DF_FRAC * F.col("n_docs"))
    )
    return (
        qpost.join(F.broadcast(survivors), "term")
        .filter(F.col("doc_id") != BM25_QUERY_DOC)
        .join(dl, "doc_id")
        .groupBy("doc_id")
        # per-(doc, term) score → exact integer micro-units BEFORE the sum
        # (floor(score·1e6) is single-shot IEEE; the DECIMAL sum is
        # merge-order-free — round(sum(double)) can flip with shuffle
        # arrival order, the r5/r6 gate flake class)
        .agg(bm25_sum_expr().alias("bm25"),
             F.count(F.lit(1)).alias("matched_terms"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP)
    )


_BM25_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    postings AS (
        SELECT doc_id, unnest(w) AS term FROM toks
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM postings
        GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, len(w) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qterms AS (
        SELECT DISTINCT unnest(w) AS term FROM toks
        WHERE doc_id = {BM25_QUERY_DOC}
    )
    SELECT doc_id,
           CAST(CAST(sum(CAST(floor(
                    ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                    * (tf * ({BM25_K1} + 1)
                       / (tf + {BM25_K1} * (1 - {BM25_B}
                           + {BM25_B} * dl / avgdl)))
                    * 1000000.0) AS HUGEINT)) AS VARCHAR) AS DOUBLE)
           / 1000000.0 AS bm25,
           count(*) AS matched_terms
    FROM tf
    JOIN qterms USING (term)
    JOIN dfreq USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    WHERE doc_id <> {BM25_QUERY_DOC}
      AND df <= {BM25_MAX_DF_FRAC} * n_docs
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP}
"""


SIM_JOIN_THRESHOLD = 0.4


def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE similarity join — the relational form of ANN: every
    probe vector (a deterministic 10% slice) paired with every corpus
    vector whose cosine clears the threshold, not just its top-k. The
    retrieval-augmentation / candidate-generation primitive: "find all
    corpus items similar to each of these N queries" as ONE equi-join.

    Shape: both sides carry the sign-bit block signature, so the pair
    space is an equi-join on 2^BLOCK_BITS buckets (never a cartesian);
    norms fold once per vector pre-join. At 100 TB the probe side is the
    small relation and broadcasts; the corpus side is scanned bucketed
    by the same signature, making the join co-located. A probe and a
    corpus vector in different sign buckets are missed by design — the
    same documented recall trade as embedding_neardup, tuned by
    BLOCK_BITS."""
    e = load_table(spark, "embeddings", sf_dir)
    vecs = e.select("vec_id", "embedding",
                    sign_signature("embedding").alias("sig"),
                    norm_col("embedding").alias("nrm"))
    probes = (vecs.filter(F.pmod("vec_id", F.lit(10)) == 0)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("pe"),
                      F.col("sig").alias("psig"), F.col("nrm").alias("pn")))
    corpus = (vecs.filter(F.pmod("vec_id", F.lit(10)) != 0)
              .select(F.col("vec_id").alias("corpus_id"),
                      F.col("embedding").alias("ce"),
                      F.col("sig").alias("csig"), F.col("nrm").alias("cn")))
    cos = dot_cols("pe", "ce") / (F.col("pn") * F.col("cn"))
    return (
        corpus.join(F.broadcast(probes), F.col("csig") == F.col("psig"))
        .select("probe_id", "corpus_id", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= SIM_JOIN_THRESHOLD)
    )


SIMILARITY_JOIN_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, embedding, {_SIGN_SIG_SQL} AS sig FROM embeddings
    ),
    probes AS (SELECT * FROM vecs WHERE vec_id % 10 = 0),
    corpus AS (SELECT * FROM vecs WHERE vec_id % 10 <> 0)
    SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
           round({_cosine_sql('p.embedding', 'c.embedding')}, 4) AS cosine
    FROM probes p JOIN corpus c ON p.sig = c.sig
    WHERE round({_cosine_sql('p.embedding', 'c.embedding')}, 4)
          >= {SIM_JOIN_THRESHOLD}
"""


MATRYOSHKA_DIMS = (4, 16, 64)


def q_matryoshka_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation diagnostic: how much of each
    embedding's energy lives in its first 4 / 16 / 64 dimensions — the
    readout behind truncation-dimension choices for MRL-trained
    embeddings (shortlist retrieval on the prefix, rerank on the full
    vector). Each float quantizes to exact integer micro-units
    (floor(x·10⁶) — identical doubles → identical BIGINTs on both
    engines), so prefix energy is an exact BIGINT fold per row (array
    fold order is left-to-right in both engines, and integer addition
    is order-free anyway); the energy share is one single-shot double.
    Pure per-row map over the scan — no shuffle at any scale."""
    e = load_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") < 200)
    micro = F.transform("embedding",
                        lambda x: F.floor(x.cast("double")
                                          * F.lit(1000000.0))
                        .cast("long"))
    d = e.select("vec_id", micro.alias("m"))
    zero = F.lit(0).cast("long")

    def energy(k: int):
        return F.aggregate(F.slice("m", 1, k), zero,
                           lambda acc, v: acc + v * v)

    full = energy(MATRYOSHKA_DIMS[-1])
    return d.select(
        "vec_id",
        *[energy(k).alias(f"e{k}") for k in MATRYOSHKA_DIMS],
        (energy(MATRYOSHKA_DIMS[0]).cast("double")
         / full.cast("double")).alias("share_head"))


def _matryoshka_energy_sql(k: int) -> str:
    return ("CAST(list_sum(list_transform(embedding[1:{k}], "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
            " * CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))"
            " AS BIGINT)").format(k=k)


ORACLE_MATRYOSHKA = f"""
    SELECT vec_id,
           {_matryoshka_energy_sql(4)} AS e4,
           {_matryoshka_energy_sql(16)} AS e16,
           {_matryoshka_energy_sql(64)} AS e64,
           CAST({_matryoshka_energy_sql(4)} AS DOUBLE)
               / {_matryoshka_energy_sql(64)} AS share_head
    FROM embeddings WHERE vec_id < 200
"""


QUERIES = {
    "similarity_join": q_similarity_join,
    "matryoshka_norms": q_matryoshka_norms,
    "ann_bruteforce": q_ann_bruteforce,
    "pq_ann": q_pq_ann,
    "ivf_pq_ann": q_ivf_pq_ann,
    "ann_multiprobe_lsh": q_ann_multiprobe_lsh,
    "bm25_topk": q_bm25_topk,
    "ann_ivf_probe": q_ann_ivf_probe,
    "ann_lsh_probe": q_ann_lsh_probe,
    "ann_pandas": q_ann_pandas,
    "ann_batch_topk": q_ann_batch_topk,
    "ann_recall_eval": q_ann_recall_eval,
    "embedding_quantize": q_embedding_quantize,
    "hybrid_rrf": q_hybrid_rrf,
    "label_centroids": q_label_centroids,
}

ORACLES = {
    "similarity_join": SIMILARITY_JOIN_ORACLE,
    "matryoshka_norms": ORACLE_MATRYOSHKA,
    "pq_ann": _pq_oracle_sql(),
    "ivf_pq_ann": _pq_oracle_sql(cell_probe=True),
    "bm25_topk": _BM25_SQL,
    "ann_bruteforce": f"""
        SELECT e.vec_id, e.label, round({_COS_Q}, 4) AS cosine
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, e.vec_id
        LIMIT {TOP_K}
    """,
    "ann_ivf_probe": f"""
        SELECT e.vec_id, e.label, round({_COS_Q}, 4) AS cosine
        FROM embeddings e,
             (SELECT embedding, label FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE e.vec_id <> {QUERY_VEC_ID} AND e.label = q.label
        ORDER BY cosine DESC, e.vec_id
        LIMIT {TOP_K}
    """,
    "ann_lsh_probe": f"""
        SELECT e.vec_id, e.label, round({_COS_Q}, 4) AS cosine
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE e.vec_id <> {QUERY_VEC_ID} AND ({_ESIG}) = ({_QSIG})
        ORDER BY cosine DESC, e.vec_id
        LIMIT {TOP_K}
    """,
    "ann_multiprobe_lsh": f"""
        WITH sigs AS (
            SELECT e.vec_id, e.label, e.embedding, q.embedding AS qemb,
                   ({_ESIG}) AS esig, ({_QSIG}) AS qsig
            FROM embeddings e,
                 (SELECT embedding FROM embeddings
                  WHERE vec_id = {QUERY_VEC_ID}) q
        )
        SELECT vec_id, label,
               round({_cosine_sql("embedding", "qemb")}, 4) AS cosine
        FROM sigs
        WHERE vec_id <> {QUERY_VEC_ID}
          AND len([i FOR i IN range(1, {BLOCK_BITS + 1})
                   IF substr(esig, CAST(i AS INT), 1)
                      <> substr(qsig, CAST(i AS INT), 1)]) <= 1
        ORDER BY cosine DESC, vec_id
        LIMIT {TOP_K}
    """,
    # same result as the JVM fold; numpy's pairwise summation agrees with the
    # fold at 4 decimal places for 64-dim unit-scale vectors
    "ann_pandas": f"""
        SELECT e.vec_id, e.label, round({_COS_Q}, 4) AS cosine
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, e.vec_id
        LIMIT {TOP_K}
    """,
    "ann_recall_eval": f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding AS qemb, label AS qlabel
            FROM embeddings WHERE vec_id < {BATCH_QUERIES}
        ),
        pairs AS (
            SELECT q.qid, e.vec_id, q.qlabel, e.label,
                   {_cosine_sql("e.embedding", "q.qemb")} AS cos_exact
            FROM embeddings e JOIN q ON e.vec_id <> q.qid
        ),
        exact AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos_exact DESC, vec_id)
                           AS rk
                FROM pairs) WHERE rk <= {TOP_K}
        ),
        ivf AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos_exact DESC, vec_id)
                           AS rk
                FROM pairs WHERE label = qlabel) WHERE rk <= {TOP_K}
        ),
        h AS (
            SELECT exact.qid, count(*) AS hits
            FROM exact JOIN ivf USING (qid, vec_id) GROUP BY exact.qid
        )
        SELECT q.qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
               round(CAST(coalesce(h.hits, 0) AS DOUBLE) / {TOP_K}, 4)
                   AS recall_at_k
        FROM q LEFT JOIN h ON q.qid = h.qid
    """,
    "ann_batch_topk": f"""
        SELECT qid, vec_id, label, round(cos_exact, 4) AS cosine, rk
        FROM (
            SELECT q.vec_id AS qid, e.vec_id AS vec_id, e.label AS label,
                   {_COS_Q} AS cos_exact,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_COS_Q} DESC, e.vec_id) AS rk
            FROM embeddings e
            JOIN embeddings q
              ON e.label = q.label AND q.vec_id < {BATCH_QUERIES}
             AND e.vec_id <> q.vec_id
        ) t
        WHERE rk <= {BATCH_K}
    """,
    "hybrid_rrf": f"""
        WITH qw AS (
            SELECT list_distinct(string_split(lower(text), ' ')) AS qw
            FROM documents WHERE doc_id = 0
        ),
        lexp AS (
            SELECT doc_id,
                   len(list_distinct(list_intersect(
                       list_distinct(string_split(lower(text), ' ')), qw)))
                   AS overlap
            FROM documents, qw
            WHERE doc_id <> 0
            ORDER BY overlap DESC, doc_id
            LIMIT {RRF_POOL}
        ),
        lex AS (
            SELECT doc_id, row_number() OVER (ORDER BY overlap DESC, doc_id)
                   AS lex_rank
            FROM lexp
        ),
        vecp AS (
            SELECT e.vec_id AS doc_id, {_COS_Q} AS cosine
            FROM embeddings e,
                 (SELECT embedding FROM embeddings
                  WHERE vec_id = {QUERY_VEC_ID}) q
            WHERE e.vec_id <> {QUERY_VEC_ID}
            ORDER BY cosine DESC, doc_id
            LIMIT {RRF_POOL}
        ),
        vec AS (
            SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id)
                   AS vec_rank
            FROM vecp
        )
        SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
               round(coalesce(1.0 / ({RRF_K} + lex_rank), 0)
                     + coalesce(1.0 / ({RRF_K} + vec_rank), 0), 6) AS rrf_score,
               coalesce(lex_rank, 0) AS lex_rank,
               coalesce(vec_rank, 0) AS vec_rank
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
        ORDER BY rrf_score DESC, doc_id
        LIMIT {RRF_TOP}
    """,
    # same association as the Spark side: each component multiplies the
    # per-vector scale (127/absmax) — NOT x*127/absmax, whose different
    # rounding could flip a half-ulp case
    "embedding_quantize": """
        SELECT label, count(*) AS n,
               sum(row_sum) AS sum_q, sum(row_sat) AS saturated
        FROM (
            SELECT label,
                   list_sum(q) AS row_sum,
                   len(list_filter(q, v -> abs(v) = 127)) AS row_sat
            FROM (
                SELECT label,
                       list_transform(embedding, x -> CAST(
                           least(greatest(round(CAST(x AS DOUBLE) * scale),
                                          -127.0), 127.0) AS BIGINT)) AS q
                FROM (
                    SELECT label, embedding,
                           CASE WHEN am = 0 THEN 0.0 ELSE 127.0 / am END AS scale
                    FROM (
                        SELECT label, embedding,
                               list_max(list_transform(embedding,
                                        x -> abs(CAST(x AS DOUBLE)))) AS am
                        FROM embeddings
                    )
                )
            )
        )
        GROUP BY label
    """,
    "label_centroids": f"""
        SELECT label, count(*) AS n,
               {", ".join(f"round(avg(CAST(embedding[{k + 1}] AS DOUBLE)), 4) AS d{k}"
                          for k in range(8))}
        FROM embeddings GROUP BY label
    """,
}
