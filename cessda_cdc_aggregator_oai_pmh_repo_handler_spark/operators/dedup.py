"""Fuzzy deduplication operators over ``documents``/``embeddings`` —
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup
(BASELINE.json north star; these are the fuzzy stages that follow
``text_analysis.q_exact_dedup_stats``'s exact pass).

Portability-by-construction: every hash is ``md5`` over an explicit string,
and every float reduction is a left fold over doubles, so the DuckDB oracle
reproduces bit-identical values and the driver's value-hash check is exact.

Scale design (100 TB):
- Shingling/minhashing is a pure per-row map (no shuffle).
- LSH bands shuffle once on (band, band_hash) — the candidate join is an
  equi-join on the bucket key, never an all-pairs product; band count and
  rows-per-band control recall/cost.
- Jaccard verification joins candidates back to the (doc_id → shingles)
  relation twice on doc_id; at scale that relation is bucketed by doc_id so
  both probes are shuffle-free.
- SimHash pairs use a bounded id window here; the scale path is bucketing
  by simhash prefix (the standard 64-bit simhash split-into-4-chunks trick).
- Embedding near-dup blocks on a sign-bit signature (16 deterministic
  hyperplane signs = the vector's own component signs) — cosine only runs
  within a block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import corpus_memo, load_table, local_rows

N_PERMS = 8
N_BANDS = 4          # 2 rows per band
JACCARD_THRESHOLD = 0.4
LSH_BUCKET_CAP = 32  # max docs per (band, bucket): a viral near-identical
                     # cluster otherwise makes one bucket quadratic at 100 TB
NGRAM_THRESHOLD = 0.3
SIGN_DIMS = 16      # simhash bit width
BLOCK_BITS = 8      # sign-LSH blocking width (2^8 buckets)
COSINE_THRESHOLD = 0.4
HEX_HIGH = tuple("89abcdef")  # md5 hex digit with high bit set


def shingles_col(col: str = "text") -> Column:
    """Distinct word 3-grams. Built as ``transform(sequence(...))`` +
    ``element_at`` — measured 3.5× faster than the index-lambda +
    try_element_at form (fewer per-element ANSI guards), identical output;
    the oracle's zip-of-slices produces the same set."""
    w = F.split(F.lower(col), " ")
    n = F.size(w)
    tri = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )
    # sequence(1, n-2) counts DOWN for n < 3 (Spark picks step -1), so the
    # short-doc case must short-circuit to an empty set explicitly
    return F.when(n >= 3, F.array_distinct(tri)).otherwise(
        F.array().cast("array<string>")
    )


def _shingles_sql() -> str:
    return (
        "list_distinct(list_transform("
        "list_filter(list_zip(w, w[2:], w[3:]), x -> x[3] IS NOT NULL), "
        "x -> x[1] || ' ' || x[2] || ' ' || x[3]))"
    )


def minhash_signature(sh: Column) -> list[Column]:
    """k minhashes from ONE md5 per shingle: the 32-hex digest sliced into
    k disjoint 4-hex windows acts as k independent-ish hash functions
    (standard cost trick — 8× fewer digests than seeded re-hashing);
    lexicographic min over hex strings is engine-agnostic."""
    md5s = F.transform(sh, lambda s: F.md5(s))

    def perm_hash(p):
        return F.array_min(
            F.transform(md5s, lambda h: F.substring(h, 4 * p + 1, 4))
        )

    return [perm_hash(p) for p in range(N_PERMS)]


def _parallel_docs(spark: SparkSession, sf_dir: str, table: str = "documents") -> DataFrame:
    """CPU-heavy per-row stages need real parallelism: the test parquet is a
    single small file (one split → one core). Repartition on the id key —
    at 100 TB the scan has thousands of splits and this exchange is elided,
    while the id partitioning still co-locates the verify joins."""
    key = "doc_id" if table == "documents" else "vec_id"
    return load_table(spark, table, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, key
    )


@corpus_memo(table="documents")
def _shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized (doc_id → shingles) relation, computed once per
    (session, sf_dir) and shared by every consumer in this module.

    Shingle ONCE and materialize: three consumers inside one LSH run
    (signature/band pass + both verify probes) would otherwise re-run the
    scan+shingle subtree per broadcast job, and three gate queries
    (minhash_lsh_pairs, neardup_components, clean_corpus) each start from
    this relation. localCheckpoint pins the ~KB-per-doc shingle arrays
    executor-side; at 100 TB the equivalent is a doc_id-bucketed shingle
    table written once by the first pass and reused by every dedup job —
    this cache is that materialization in local form."""
    d = _parallel_docs(spark, sf_dir)
    sh = shingles_col()
    # pre-filter on word count, NOT on size(shingles): a filter above the
    # shingle projection gets pushed into the predicate and re-evaluates the
    # whole expression per row (measured 16× slower); words >= 3 is the same
    # set and stays a cheap scan-side predicate
    docs = (
        d.filter(F.size(F.split(F.lower("text"), " ")) >= 3)
        .select("doc_id", sh.alias("shingles"))
        .localCheckpoint()
    )
    return docs


@corpus_memo(table="documents")
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash → LSH band buckets → candidate pairs → exact-Jaccard verify.
    Returns (doc_a, doc_b, jaccard) for verified near-duplicates.

    Memoized per (session, corpus): the verified-pair relation is the hub
    of the dedup family — connected components, PageRank, the cleaning
    funnel and the leakage-safe splitter all consume it — and at 100 TB it
    is materialized once per corpus snapshot and read by every downstream
    job, exactly like the component table derived from it.
    ``build_minhash_lsh_pairs`` is the raw plan (tests/test_plans.py
    asserts its join shape there, which the checkpoint here would hide)."""
    out = build_minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    return out


def build_minhash_lsh_pairs(spark: SparkSession, sf_dir: str,
                            bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """The un-memoized banding + verify plan (see q_minhash_lsh_pairs)."""
    mh = minhash_signature(F.col("shingles"))
    docs = _shingled_docs(spark, sf_dir)
    sigs = docs.select("doc_id", "shingles",
                       *[m.alias(f"mh{p}") for p, m in enumerate(mh)])
    from pyspark.sql import Window

    bands = sigs.select(
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
    ).select("doc_id", "bb.band", "bb.bh")
    # Skew guard: cap bucket membership (deterministically, lowest doc_ids
    # win) so one viral duplicate cluster can't make a quadratic bucket.
    # The window partitions on the join key, so its exchange is the same
    # hashpartitioning the self-join needs — no extra shuffle. Members of an
    # over-cap cluster still link transitively via other bands/components.
    bucket_rank = F.row_number().over(
        Window.partitionBy("band", "bh").orderBy("doc_id"))
    bands = bands.withColumn("rk", bucket_rank).filter(
        F.col("rk") <= bucket_cap).drop("rk")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    jac = F.size(F.array_intersect("sha", "shb")) / F.size(
        F.array_distinct(F.concat("sha", "shb"))
    )
    # candidates are tiny after banding — broadcast them through both verify
    # probes so the shingle-bearing sides never shuffle
    inter = sa.join(F.broadcast(cands), "doc_a")
    return (
        sb.join(F.broadcast(inter), "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ t via prefix filtering (AllPairs /
    PPJoin): order each doc's shingles by global rarity and keep only the
    first ``|s| - ceil(t·|s|) + 1`` as its candidate prefix — any pair with
    Jaccard ≥ t must share a prefix shingle (overlap ≥ ceil(t·max(|a|,|b|))
    can't fit entirely in the excluded tails), so an equi-join on prefix
    shingles finds every qualifying pair with zero recall loss. Rare-first
    ordering doubles as the skew guard: join buckets are keyed by the
    RAREST shingles, so no common-term bucket goes quadratic. The oracle is
    the brute-force all-pairs join — prefix filtering is lossless, so the
    results must match exactly."""
    from pyspark.sql import Window

    # derive from the shared materialized shingle relation (cheap pushed
    # filter over the checkpoint; shingling itself never re-runs). Coalesce
    # the 500-row slice: the checkpoint keeps the full corpus's partition
    # count, and without this every downstream stage of a 500-row
    # computation schedules one task per corpus partition — measured as the
    # r2 regression (0.48 → 0.92 s); at scale it's the same rule of
    # matching task count to surviving data, which AQE applies post-shuffle
    # but never to the map side of a narrow filter.
    docs = (
        _shingled_docs(spark, sf_dir)
        .filter(F.col("doc_id") < 500)
        .select("doc_id", F.col("shingles").alias("sh"))
        .coalesce(4)
    )
    # shuffle 8-byte shingle hashes, not ~30-char strings: prefix filtering
    # only needs a CONSISTENT global shingle order (any total order is
    # lossless), so rarity-then-hash ordering works and a hash collision can
    # only ADD candidates — the exact-Jaccard verify below removes them.
    # df comes from a count-over-window on the same exchange the rank needs'
    # sibling, replacing the groupBy+join that re-shuffled the exploded
    # relation a second time (r2 regression, 0.48 → 0.92 s).
    ex = docs.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("s")
    ).select("doc_id", "sz", F.xxhash64("s").alias("h"))
    df_w = Window.partitionBy("h")
    rank = F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "h"))
    prefix = (
        ex.withColumn("df", F.count(F.lit(1)).over(df_w))
        .withColumn("rk", rank)
        .filter(F.col("rk") <= F.col("sz")
                - F.ceil(F.lit(NGRAM_THRESHOLD) * F.col("sz")) + 1)
        .select("doc_id", "h")
    )
    cands = (
        prefix.alias("a").join(prefix.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    jac = F.size(F.array_intersect("sha", "shb")) / F.size(
        F.array_distinct(F.concat("sha", "shb"))
    )
    inter = sa.join(F.broadcast(cands), "doc_a")
    return (
        sb.join(F.broadcast(inter), "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= NGRAM_THRESHOLD)
    )


CONTAIN_THRESHOLD = 0.9


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT asymmetric shingle CONTAINMENT ≥ t: |A∩B| / |A| for the
    smaller document A inside a (usually larger) B — the curation signal
    resemblance-based dedup is blind to. A page quoting a whole short
    document, or a boilerplate wrapper around an article, has LOW Jaccard
    (the union is dominated by the big side) but containment ≈ 1; MinHash
    estimates resemblance, so the LSH family can't see these.

    Shape: the probe (contained) side keeps only its rare-first prefix —
    ``|A| - ceil(t·|A|) + 1`` shingles, the same lossless AllPairs bound
    as the Jaccard operator but against the FULL inverted shingle index
    of the other side (containment gives no license to prefix-trim the
    container: B must merely hold t·|A| of A's shingles, and |A| is
    unknown from B's side). Rare-first probe keys keep join buckets off
    the common-term hubs; the verify join computes exact containment
    over the shared shingle relation. The oracle is the brute-force
    all-ordered-pairs join — prefix filtering is lossless, so outputs
    match exactly. Direction: emitted as (contained doc_a → container
    doc_b) with |A|<|B|, ties broken by id, so each qualifying pair
    appears once."""
    from pyspark.sql import Window

    docs = (
        _shingled_docs(spark, sf_dir)
        .filter(F.col("doc_id") < 500)
        .select("doc_id", F.col("shingles").alias("sh"))
        .coalesce(4)
    )
    ex = docs.select(
        "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("s")
    ).select("doc_id", "sz", F.xxhash64("s").alias("h"))
    index = ex.select(F.col("doc_id").alias("doc_b"), "h")
    df_w = Window.partitionBy("h")
    rank = F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "h"))
    prefix = (
        ex.withColumn("df", F.count(F.lit(1)).over(df_w))
        .withColumn("rk", rank)
        .filter(F.col("rk") <= F.col("sz")
                - F.ceil(F.lit(CONTAIN_THRESHOLD) * F.col("sz")) + 1)
        .select(F.col("doc_id").alias("doc_a"), "h")
    )
    cands = (
        prefix.join(index, "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    cont = F.size(F.array_intersect("sha", "shb")) / F.size("sha")
    inter = sa.join(F.broadcast(cands), "doc_a")
    return (
        sb.join(F.broadcast(inter), "doc_b")
        .filter((F.size("sha") < F.size("shb"))
                | ((F.size("sha") == F.size("shb"))
                   & (F.col("doc_a") < F.col("doc_b"))))
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
        .filter(F.col("containment") >= CONTAIN_THRESHOLD)
    )


def simhash_col(sh: Column) -> Column:
    """16-bit SimHash as a bitstring: bit j = majority of md5(shingle)'s
    j-th hex digit having its high bit set. Computed as ONE aggregate pass
    per row: each digest folds a 16-wide 0/1 vector into a count vector
    (16 separate filter passes would inline the md5 transform 16×)."""
    md5s = F.transform(sh, lambda s: F.md5(s))
    positions = F.sequence(F.lit(1), F.lit(SIGN_DIMS))
    counts = F.aggregate(
        md5s,
        F.array_repeat(F.lit(0), SIGN_DIMS),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                positions,
                lambda j: F.when(F.substring(h, j, 1).isin(*HEX_HIGH), 1).otherwise(0),
            ),
            lambda a, b: a + b,
        ),
    )
    n = F.size(md5s)
    bits = F.transform(counts, lambda c: F.when(c * 2 > n, F.lit("1")).otherwise(F.lit("0")))
    return F.array_join(bits, "")


SIMHASH_CHUNKS = 4  # 16 bits split into 4 chunks of 4

# r11: the simhash fingerprint pass was a BARE per-call localCheckpoint
# — the last eager-build train left in a query path (one job per
# construction, paid by q_simhash_pairs AND capture_recapture, which
# rebuilds it). Memoized per (session, corpus) like every other
# checkpointed relation.
@corpus_memo(table="documents")
def _simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _shingled_docs(spark, sf_dir)
        .filter(F.col("doc_id") < 200)
        .select("doc_id", simhash_col(F.col("shingles")).alias("sim"))
        # barrier: every chunk row and both join sides reuse one simhash pass
        .localCheckpoint()
    )
    return docs


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + Hamming-distance pairs (≤3 of 16 bits) over a
    bounded id window, via **chunk bucketing** (the standard 64-bit simhash
    split-into-4 trick): any pair within Hamming distance 3 differs in at
    most 3 of the 4 chunks, so by pigeonhole it agrees on at least one —
    an equi-join on (chunk_idx, chunk_value) finds every qualifying pair
    with zero recall loss and NO cartesian product. Candidates dedup on the
    pair key, then the full 16-bit Hamming verify runs once per candidate."""
    width = SIGN_DIMS // SIMHASH_CHUNKS
    docs = _simhash_docs(spark, sf_dir)
    chunks = docs.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_idx"),
                    F.substring("sim", c * width + 1, width).alias("chunk"),
                )
                for c in range(SIMHASH_CHUNKS)
            ])
        ).alias("ck"),
    ).select("doc_id", "sim", "ck.chunk_idx", "ck.chunk")
    a = chunks.select(F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a"),
                      "chunk_idx", "chunk")
    b = chunks.select(F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b"),
                      "chunk_idx", "chunk")
    cands = (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # a pair close on k chunks surfaces k times; verify once
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = sum(
        F.when(F.substring("sim_a", j, 1) != F.substring("sim_b", j, 1), 1).otherwise(0)
        for j in range(1, SIGN_DIMS + 1)
    )
    return (
        cands.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


def dot_cols(x: str | Column, y: str | Column) -> Column:
    """Left-fold double dot product (bit-identical to the oracle's fold)."""
    prods = F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_col(x: str | Column) -> Column:
    sq = F.transform(x, lambda a: a.cast("double") * a.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def sign_signature(x: str | Column, dims: int = BLOCK_BITS) -> Column:
    """Deterministic LSH block key: sign bits of the first ``dims``
    components."""
    xc = F.col(x) if isinstance(x, str) else x
    return F.concat(*[
        F.when(F.try_element_at(xc, F.lit(i)) > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(1, dims + 1)
    ])


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: block on the sign signature, exact cosine
    within blocks, pairs ≥ threshold."""
    e = load_table(spark, "embeddings", sf_dir)
    # norm computed ONCE per vector before the pair join — per pair the
    # remaining fold is just the dot product (3 array folds → 1); the
    # division by the two norm columns is value-identical to folding the
    # norms pair-side, so the oracle is unchanged
    vecs = e.select("vec_id", "embedding", sign_signature("embedding").alias("sig"),
                    norm_col("embedding").alias("nrm"))
    a = vecs.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
                    F.col("sig").alias("sig_a"), F.col("nrm").alias("na"))
    b = vecs.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
                    F.col("sig").alias("sig_b"), F.col("nrm").alias("nb"))
    cos = dot_cols("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("sig_a") == F.col("sig_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
    )


def q_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: inside every near-duplicate
    cluster, keep the HIGHEST-quality member (quality-model score, ties to
    the lower doc_id) — the production upgrade over clean_corpus's naive
    lowest-id rule, and the step that decides WHICH copy of a duplicated
    page survives into training data.

    Shape: the memoized component labelling joins per-doc scores, then ONE
    aggregation computes the winner via ``max(struct(score, -doc_id))`` —
    no per-cluster window, no second shuffle; the argmax rides the same
    exchange as the member count. Scores come from the algebraic-sigmoid
    model (bit-identical across engines), so the cross-engine tie-break is
    exact. The oracle recomputes the clusters with the recursive-CTE CC
    and mirrors the struct-max argmax."""
    from . import text_analysis as TA

    comp = q_neardup_components(spark, sf_dir)
    d = TA._tokenized_docs(spark, sf_dir)
    s = TA.quality_score_col(F.col("words"), F.col("n_chars"))
    scored = d.select("doc_id", s.alias("s"))
    best = F.max(F.struct(F.col("s"), (-F.col("doc_id")).alias("nd")))
    return (
        comp.join(scored, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (-best.getField("nd")).alias("kept_doc"),
            F.round(best.getField("s"), 4).alias("best_score"),
        )
    )


SEMANTIC_THRESHOLD = 0.35
SEM_CLUSTER_CAP = 100  # above this size a cluster sub-buckets on sign bits
SEM_ANCHOR_CAP = 64    # within an oversized (cluster, sub-bucket): only the
                       # lowest-id K members serve as prune anchors


def semantic_dedup_stats(e: DataFrame,
                         cluster_cap: int = SEM_CLUSTER_CAP,
                         anchor_cap: int = SEM_ANCHOR_CAP) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — the pattern, reimplemented on DataFrames): cluster
    the embedding space, compare pairs ONLY within a cluster, and prune
    every vector that has a more-canonical (lower-id) neighbor above the
    cosine threshold — keeping one representative per near-duplicate
    group without ever forming cross-cluster pairs.

    The cluster assignment here is the table's ``label`` column, standing
    in for the paper's precomputed k-means step (this engine's
    ``kmeans_clusters``/``label_centroids`` operators ARE that step).

    Oversized-cluster guard: a viral cluster of size m costs m² pairs, so
    clusters above ``cluster_cap`` additionally join on the
    ``sign_signature`` sub-bucket (2^BLOCK_BITS buckets), the same sign-bit
    blocking q_embedding_neardup uses — bounding every bucket's pair count
    while high-cosine near-duplicates (which agree on almost all sign
    bits) stay co-bucketed. The cluster-size relation is label-cardinality
    rows, broadcast; tests/test_plans.py pins that an oversized cluster's
    pair join carries the sub-bucket key.

    Anchor guard (round-4 stress finding): sign-bit sub-bucketing alone
    does NOT bound a truly viral semantic cluster — near-identical vectors
    share every sign bit, so the whole cluster lands in ONE sub-bucket and
    stays m². Within an oversized cluster's (label, sub) bucket, only the
    ``anchor_cap`` lowest-id members act as prune anchors (the a-side of
    the pair join), so cost is m·K, linear in m. Recall trade: a member is
    pruned only if it duplicates an ANCHOR; in a dense near-dup cluster the
    anchors are representative (everything is close to everything), so
    pruning stays near-exhaustive — the stress harness measures exactly
    this. Small clusters (≤ cluster_cap) keep full pairwise semantics, so
    gate-scale results are unchanged; the oracle mirrors both guards."""
    from pyspark.sql import Window

    sizes = e.groupBy("label").agg(F.count("*").alias("csz"))
    keyed = (
        e.join(F.broadcast(sizes), "label")
        .withColumn("sub", F.when(F.col("csz") > cluster_cap,
                                  sign_signature("embedding"))
                    .otherwise(F.lit("")))
        # rank rides the same (label, sub) partitioning the pair join
        # shuffles on — no extra exchange
        .withColumn("rk", F.row_number().over(
            Window.partitionBy("label", "sub").orderBy("vec_id")))
    )
    a = (keyed.filter((F.col("csz") <= cluster_cap)
                      | (F.col("rk") <= anchor_cap))
         .select(F.col("vec_id").alias("va"), F.col("label").alias("la"),
                 F.col("sub").alias("sa"),
                 F.col("embedding").alias("ea"), norm_col("embedding").alias("na")))
    b = keyed.select(F.col("vec_id").alias("vb"), F.col("label").alias("lb"),
                     F.col("sub").alias("sb"),
                     F.col("embedding").alias("eb"), norm_col("embedding").alias("nb"))
    # norms fold once per vector pre-join (see q_embedding_neardup)
    cos = dot_cols("ea", "eb") / (F.col("na") * F.col("nb"))
    dups = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("sa") == F.col("sb"))
               & (F.col("va") < F.col("vb")))
        .filter(F.round(cos, 4) >= SEMANTIC_THRESHOLD)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        e.select("vec_id", "label")
        .join(dups, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.count("is_dup").alias("pruned"),
            (F.count("*") - F.count("is_dup")).alias("kept"),
        )
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup_stats(load_table(spark, "embeddings", sf_dir))


# --- oracles -----------------------------------------------------------------

_MH_SQL = ",\n           ".join(
    f"list_min(list_transform(shingles, s -> substr(md5(s), {4 * p + 1}, 4))) AS mh{p}"
    for p in range(N_PERMS)
)
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, md5(mh{2 * b} || '|' || mh{2 * b + 1}) AS bh FROM sigs"
    for b in range(N_BANDS)
)
_HAMMING_SQL = " + ".join(
    f"CASE WHEN substr(a.sim,{j},1) <> substr(b.sim,{j},1) THEN 1 ELSE 0 END"
    for j in range(1, SIGN_DIMS + 1)
)
_SIMHASH_SQL = " || ".join(
    f"CASE WHEN 2 * len(list_filter(md5s, h -> substr(h,{j},1) IN "
    f"({', '.join(repr(c) for c in HEX_HIGH)}))) > len(md5s) THEN '1' ELSE '0' END"
    for j in range(1, SIGN_DIMS + 1)
)
_SIGN_SIG_SQL = " || ".join(
    f"CASE WHEN embedding[{i}] > 0 THEN '1' ELSE '0' END" for i in range(1, BLOCK_BITS + 1)
)
_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), (p, q) -> p + q)"
)


def _cosine_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b)
    na = f"sqrt({_DOT_SQL.format(a=a, b=a)})"
    nb = f"sqrt({_DOT_SQL.format(a=b, b=b)})"
    return f"({dot}) / (({na}) * ({nb}))"


LOCAL_CC_MAX_EDGES = 2_000_000  # ~32 MB of edge longs: safely driver-sized


def connected_components_local(edge_rows) -> list[tuple[int, int]]:
    """Driver-side union-find with path compression over collected edges.
    Returns (id, component) with component = min member id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((x, find(x)) for x in parent)


@corpus_memo(table="documents")
def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash pair graph.

    Hybrid strategy (the same switch GraphFrames-style CC implementations
    make): the verified-pair graph is ORDERS smaller than the corpus —
    after banding + Jaccard verification only actual near-duplicates
    remain — so when it fits comfortably on the driver
    (≤ LOCAL_CC_MAX_EDGES) a single collect + union-find with path
    compression answers exactly, replacing O(diameter) shuffle sweeps with
    one job. Above the threshold, iterative min-label propagation (one
    shuffle per sweep, lineage cut per sweep) — the standard distributed
    CC — takes over unchanged. Both paths produce identical labels
    (tests/test_plans.py pins the equivalence) and the oracle's recursive
    CTE checks whichever ran.

    The labelling is memoized per (session, sf_dir), like the shingle
    relation above: the inputs are immutable parquet, and the downstream
    cleaning funnel (``q_clean_corpus``) consumes exactly this labelling —
    at 100 TB the component table is written once per corpus snapshot and
    read by every curation job, not recomputed per consumer."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # one probe job: fetch cap+1 rows; a full result under the cap means the
    # graph is driver-sized and union-find answers exactly in O(E α(E))
    probe = pairs.limit(LOCAL_CC_MAX_EDGES + 1).collect()
    if len(probe) <= LOCAL_CC_MAX_EDGES:
        comp = connected_components_local(
            [(r["doc_a"], r["doc_b"]) for r in probe])
        out = spark.createDataFrame(comp, "doc_id long, component long")
    else:
        out = connected_components_distributed(pairs)
    return out


def connected_components_distributed(pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation over (doc_a, doc_b) edges: one
    shuffle per sweep, convergence flag fused into the update row, lineage
    truncated per sweep. Returns (doc_id, component)."""
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst").localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(20):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src").agg(F.min("component").alias("nmin"))
        )
        # carry the convergence flag inside the update row: the follow-up
        # sum() runs over the checkpointed result — no second join / no
        # extra per-sweep job against the previous labels
        new_labels = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                labels.id,
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nmin"), F.col("component"))
                 < F.col("component")).cast("int").alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.agg(F.sum("chg")).first()[0]
        labels = new_labels.drop("chg")
        if not changed:
            break
    return labels.select(F.col("id").alias("doc_id"), "component")


PR_DAMPING = 0.85
PR_ITERS = 3

@corpus_memo(table="documents")
def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the verified near-duplicate graph — the second graph
    operator next to connected components: rank documents by how central
    they are in their duplication neighborhood (high-rank nodes are the
    'canonical-ish' hubs a dedup reviewer looks at first). Fixed
    PR_ITERS power iterations at damping 0.85 over the symmetrized edge
    list; each iteration is one join + one aggregation over EDGE-sized
    relations (the corpus never re-enters after the pair computation),
    with the node count as a 1-row broadcast. Deterministic: fixed
    iteration count, undirected graph (no dangling mass), rank rounded
    at 6; the oracle unrolls the same recursion as chained CTEs over the
    same verified-pairs SQL.

    Like the component labelling above, the rank table is memoized per
    (session, corpus): it is a pure function of immutable parquet, and at
    100 TB it is written once per corpus snapshot next to the component
    table — every downstream consumer reads it, none re-runs the power
    iteration. ``build_pagerank_neardup`` is the raw iteration plan (what
    tools/plan_audit.py explains)."""
    out = build_pagerank_neardup(spark, sf_dir).localCheckpoint()
    return out


def build_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-memoized power-iteration plan (see q_pagerank_neardup)."""
    # the pairs relation is already checkpointed by its own memoizer
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b")))
    deg = sym.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    pr = (deg.crossJoin(F.broadcast(n))
          .select(F.col("doc_a").alias("doc_id"), "deg", "n",
                  (F.lit(1.0) / F.col("n")).alias("pr")))
    for _ in range(PR_ITERS):
        contrib = (
            sym.join(pr.select(F.col("doc_id").alias("doc_a"),
                               F.col("deg").alias("sdeg"), "pr"), "doc_a")
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.sum(F.col("pr") / F.col("sdeg")).alias("c"))
        )
        pr = (deg.crossJoin(F.broadcast(n))
              .select(F.col("doc_a").alias("doc_id"), "deg", "n")
              .join(contrib, "doc_id", "left")
              .select("doc_id", "deg", "n",
                      ((1 - PR_DAMPING) / F.col("n")
                       + PR_DAMPING * F.coalesce("c", F.lit(0.0)))
                      .alias("pr")))
    return pr.select("doc_id", "deg", F.round("pr", 6).alias("pagerank"))


EDIT_PREF = 40       # verify window: first N normalized chars
EDIT_BLOCK = 12      # blocking key width
EDIT_MAX_DIST = 8    # verified-pair threshold
FUZZY_BLOCK_CAP = 32  # max docs per prefix block before the self-join


def q_fuzzy_edit_pairs(spark: SparkSession, sf_dir: str,
                       block_cap: int = FUZZY_BLOCK_CAP) -> DataFrame:
    """Edit-distance near-dup pairs — the record-linkage classic for typo
    -level duplication that token/shingle methods under-weight. Two-window
    pigeonhole blocking (md5 of chars 1-12 and of chars 13-24: an edit
    budget of 8 rarely touches both windows), candidates equi-join per
    block and union-distinct, then ``levenshtein`` verifies the 40-char
    normalized prefix — identical dynamic-programming semantics on both
    engines, so the distance is engine-exact. Block keys are text
    prefixes, so a boilerplate prefix is the skew point: each block is
    capped at LSH_BUCKET_CAP members (deterministically, lowest doc_ids
    win — the minhash-bucket Window-rank guard) before the self-join, so
    no block can go quadratic; over-cap members still pair through the
    other window or the near-dup family's shingle operators."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.substring(F.lower("text"), 1, EDIT_PREF).alias("pref"),
        F.md5(F.substring(F.lower("text"), 1, EDIT_BLOCK)).alias("b1"),
        F.md5(F.substring(F.lower("text"), EDIT_BLOCK + 1, EDIT_BLOCK))
        .alias("b2"),
    )

    def block_pairs(key: str) -> DataFrame:
        capped = d.withColumn(
            "rk", F.row_number().over(
                Window.partitionBy(key).orderBy("doc_id"))
        ).filter(F.col("rk") <= block_cap).drop("rk")
        a, b = capped.alias("a"), capped.alias("b")
        return (a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"),
                        F.col("a.pref").alias("pa"),
                        F.col("b.pref").alias("pb")))

    cand = block_pairs("b1").union(block_pairs("b2")).distinct()
    return (
        cand.select("doc_a", "doc_b",
                    F.levenshtein("pa", "pb").alias("edit_dist"))
        .filter(F.col("edit_dist") <= EDIT_MAX_DIST)
    )


QUERIES = {
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "fuzzy_edit_pairs": q_fuzzy_edit_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "containment_pairs": q_containment_pairs,
    "simhash_pairs": q_simhash_pairs,
    "embedding_neardup": q_embedding_neardup,
    "semantic_dedup": q_semantic_dedup,
    "neardup_components": q_neardup_components,
    "canonical_selection": q_canonical_selection,
}

ORACLES = {
    "fuzzy_edit_pairs": f"""
        WITH d AS (
            SELECT doc_id,
                   substr(lower(text), 1, {EDIT_PREF}) AS pref,
                   md5(substr(lower(text), 1, {EDIT_BLOCK})) AS b1,
                   md5(substr(lower(text), {EDIT_BLOCK + 1}, {EDIT_BLOCK}))
                       AS b2
            FROM documents
        ),
        c1 AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY b1
                                             ORDER BY doc_id) AS rk
                FROM d) WHERE rk <= {FUZZY_BLOCK_CAP}
        ),
        c2 AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY b2
                                             ORDER BY doc_id) AS rk
                FROM d) WHERE rk <= {FUZZY_BLOCK_CAP}
        ),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.pref AS pa, b.pref AS pb
            FROM c1 a JOIN c1 b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id, b.doc_id, a.pref, b.pref
            FROM c2 a JOIN c2 b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               levenshtein(pa, pb) AS edit_dist
        FROM cand
        WHERE levenshtein(pa, pb) <= {EDIT_MAX_DIST}
    """,
    "minhash_lsh_pairs": f"""
        WITH words AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        ),
        docs AS (
            SELECT doc_id, {_shingles_sql()} AS shingles FROM words
        ),
        nonempty AS (SELECT * FROM docs WHERE len(shingles) > 0),
        sigs AS (
            SELECT doc_id, shingles,
           {_MH_SQL}
            FROM nonempty
        ),
        all_bands AS ({_BANDS_SQL}),
        bands AS (
            SELECT doc_id, band, bh FROM all_bands
            QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id)
                    <= {LSH_BUCKET_CAP}
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               round(len(list_intersect(sa.shingles, sb.shingles))
                     / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE),
                     4) AS jaccard
        FROM cands
        JOIN nonempty sa ON sa.doc_id = doc_a
        JOIN nonempty sb ON sb.doc_id = doc_b
        WHERE round(len(list_intersect(sa.shingles, sb.shingles))
                    / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE),
                    4) >= {JACCARD_THRESHOLD}
    """,
    "ngram_jaccard_pairs": f"""
        WITH words AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents WHERE doc_id < 500
        ),
        docs AS (
            SELECT doc_id, {_shingles_sql()} AS sh FROM words
        ),
        nonempty AS (SELECT * FROM docs WHERE len(sh) > 0)
        -- brute-force all-pairs: the engine's prefix filtering is lossless,
        -- so its output must equal this exactly
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.sh, b.sh))
                     / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
        FROM nonempty a JOIN nonempty b
          ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.sh, b.sh))
                    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) >= {NGRAM_THRESHOLD}
    """,
    "containment_pairs": f"""
        WITH words AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents WHERE doc_id < 500
        ),
        docs AS (
            SELECT doc_id, {_shingles_sql()} AS sh FROM words
        ),
        nonempty AS (SELECT * FROM docs WHERE len(sh) > 0)
        -- brute-force ordered pairs: the engine's probe-side prefix
        -- filtering is lossless, so its output must equal this exactly
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.sh, b.sh))
                     / CAST(len(a.sh) AS DOUBLE), 4) AS containment
        FROM nonempty a JOIN nonempty b
          ON a.doc_id <> b.doc_id
         AND (len(a.sh) < len(b.sh)
              OR (len(a.sh) = len(b.sh) AND a.doc_id < b.doc_id))
        WHERE round(len(list_intersect(a.sh, b.sh))
                    / CAST(len(a.sh) AS DOUBLE), 4) >= {CONTAIN_THRESHOLD}
    """,
    "simhash_pairs": f"""
        WITH words AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents WHERE doc_id < 200
        ),
        docs AS (
            SELECT doc_id, list_transform({_shingles_sql()}, s -> md5(s)) AS md5s
            FROM words
        ),
        sims AS (
            -- exclude shingle-less docs, mirroring the engine's shared
            -- shingle relation (empty docs would all collide on sim 00..0)
            SELECT doc_id, {_SIMHASH_SQL} AS sim FROM docs WHERE len(md5s) > 0
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               {_HAMMING_SQL} AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE {_HAMMING_SQL} <= 3
    """,
    "neardup_components": None,  # filled below from the pairs oracle
    "semantic_dedup": f"""
        WITH keyed0 AS (
            SELECT vec_id, label, embedding,
                   count(*) OVER (PARTITION BY label) AS csz,
                   CASE WHEN count(*) OVER (PARTITION BY label)
                             > {SEM_CLUSTER_CAP}
                        THEN {_SIGN_SIG_SQL} ELSE '' END AS sub
            FROM embeddings
        ),
        keyed AS (
            SELECT *, row_number() OVER (PARTITION BY label, sub
                                         ORDER BY vec_id) AS rk
            FROM keyed0
        ),
        dups AS (
            SELECT DISTINCT b.vec_id
            FROM keyed a JOIN keyed b
              ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
            WHERE (a.csz <= {SEM_CLUSTER_CAP} OR a.rk <= {SEM_ANCHOR_CAP})
              AND round({_cosine_sql('a.embedding', 'b.embedding')}, 4)
                  >= {SEMANTIC_THRESHOLD}
        )
        SELECT e.label, count(*) AS n,
               count(d.vec_id) AS pruned,
               count(*) - count(d.vec_id) AS kept
        FROM embeddings e LEFT JOIN dups d ON e.vec_id = d.vec_id
        GROUP BY e.label
    """,
    "embedding_neardup": f"""
        WITH vecs AS (
            SELECT vec_id, embedding, {_SIGN_SIG_SQL} AS sig FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({_cosine_sql('a.embedding', 'b.embedding')}, 4) AS cosine
        FROM vecs a JOIN vecs b ON a.sig = b.sig AND a.vec_id < b.vec_id
        WHERE round({_cosine_sql('a.embedding', 'b.embedding')}, 4) >= {COSINE_THRESHOLD}
    """,
}

ORACLES["neardup_components"] = f"""
    WITH RECURSIVE verified AS ({ORACLES['minhash_lsh_pairs']}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM verified
        UNION
        SELECT doc_b AS u, doc_a AS v FROM verified
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u
"""


def _canonical_selection_oracle() -> str:
    from . import text_analysis as TA

    return f"""
        WITH sc AS ({TA.quality_score_sql()})
        SELECT component,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(-((max(struct_pack(s := s, nd := -doc_id))).nd)
                    AS BIGINT) AS kept_doc,
               round((max(struct_pack(s := s, nd := -doc_id))).s, 4)
                   AS best_score
        FROM ({ORACLES["neardup_components"]}) comp
        JOIN sc USING (doc_id)
        GROUP BY component
    """


ORACLES["canonical_selection"] = _canonical_selection_oracle()


def _pagerank_oracle(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """The same fixed power iteration unrolled as chained CTEs over the
    verified-pairs SQL (nested as a subquery CTE)."""
    parts = [f"""
        pairs AS (SELECT doc_a, doc_b
                  FROM ({ORACLES["minhash_lsh_pairs"]}) mh),
        sym AS (SELECT doc_a, doc_b FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs),
        deg AS (SELECT doc_a, count(*) AS deg FROM sym GROUP BY doc_a),
        nn AS (SELECT count(*) AS n FROM deg),
        pr0 AS (SELECT doc_a AS doc_id, deg, 1.0 / nn.n AS pr
                FROM deg, nn)"""]
    for t in range(1, iters + 1):
        parts.append(f"""
        c{t} AS (SELECT s.doc_b AS doc_id, sum(p.pr / p.deg) AS c
                 FROM sym s JOIN pr{t - 1} p ON p.doc_id = s.doc_a
                 GROUP BY s.doc_b),
        pr{t} AS (SELECT deg.doc_a AS doc_id, deg.deg,
                         (1 - {d}) / nn.n
                         + {d} * coalesce(c{t}.c, 0) AS pr
                  FROM deg CROSS JOIN nn
                  LEFT JOIN c{t} ON c{t}.doc_id = deg.doc_a)""")
    ctes = ",".join(parts)
    return f"""
        WITH {ctes}
        SELECT doc_id, deg, round(pr, 6) AS pagerank FROM pr{iters}
    """


ORACLES["pagerank_neardup"] = _pagerank_oracle()
QUERIES["pagerank_neardup"] = q_pagerank_neardup


MAX_HOPS = 8  # BFS depth bound: near-dup cluster diameters are tiny (a
              # viral cluster is DENSE, not long); 8 sweeps is a generous
              # ceiling and the frontier loop exits as soon as a sweep
              # discovers nothing new (typically after 2-3).

@corpus_memo(table="documents")
def q_neardup_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path hop distance from each near-dup cluster's
    CANONICAL document — the third graph operator next to connected
    components and PageRank. A dedup reviewer reads it as "how far is
    this copy from the page we kept": hop 1 documents are direct verified
    near-duplicates of the canonical, hop 2+ are transitive members that
    never matched the canonical directly (the chain the band join found).

    Shape: FRONTIER BFS over the EDGE-sized symmetrized verified-pair
    relation — per sweep, one join (neighbors of the frontier), one
    distinct, and one anti-join against the settled set, lineage cut per
    sweep; the corpus never re-enters. The frontier empties after
    diameter-many sweeps (2-3 on real near-dup graphs), so the loop exits
    early instead of running the MAX_HOPS ceiling; the one driver action
    per sweep is the emptiness probe on the (tiny) frontier. Seeds are
    the quality-argmax canonicals from ``q_canonical_selection``. Like
    the component labelling and PageRank, the result is memoized per
    (session, corpus): a pure function of immutable parquet that at
    100 TB is written once per corpus snapshot next to the component
    table. The oracle recomputes the same BFS as a DuckDB recursive CTE
    seeded by its own canonical-selection mirror."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst").localCheckpoint()
    comp = q_neardup_components(spark, sf_dir)
    canon = q_canonical_selection(spark, sf_dir).select("component", "kept_doc")
    settled = (
        canon.select(F.col("kept_doc").alias("doc_id"), "component",
                     F.lit(0).cast("int").alias("hops"))
        .localCheckpoint()
    )
    frontier = settled
    for h in range(1, MAX_HOPS + 1):
        cand = (
            edges.join(frontier.select(F.col("doc_id").alias("dst")), "dst")
            .select(F.col("src").alias("doc_id")).distinct()
        )
        newly = (
            cand.join(settled.select("doc_id"), "doc_id", "left_anti")
            .join(comp, "doc_id")
            .select("doc_id", "component", F.lit(h).cast("int").alias("hops"))
            .localCheckpoint()
        )
        if newly.isEmpty():
            break
        settled = settled.unionByName(newly).localCheckpoint()
        frontier = newly
    return settled


def _hop_distance_oracle() -> str:
    """The same bounded BFS as one recursive CTE: seeds are the oracle's
    own canonical winners, edges the symmetrized verified pairs; UNION
    distinct on (doc, hops) + the depth bound guarantee termination, and
    min(hops) per doc is the BFS distance."""
    return f"""
        WITH RECURSIVE
        verified AS ({ORACLES['minhash_lsh_pairs']}),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM verified
            UNION
            SELECT doc_b AS u, doc_a AS v FROM verified
        ),
        comp AS (SELECT * FROM ({ORACLES['neardup_components']}) c0),
        canon AS (SELECT component, kept_doc
                  FROM ({ORACLES['canonical_selection']}) k0),
        bfs(doc_id, hops) AS (
            SELECT kept_doc, 0 FROM canon
            UNION
            SELECT e.v, b.hops + 1
            FROM bfs b JOIN edges e ON e.u = b.doc_id
            WHERE b.hops < {MAX_HOPS}
        )
        SELECT c.doc_id, c.component, CAST(min(b.hops) AS INT) AS hops
        FROM bfs b JOIN comp c ON b.doc_id = c.doc_id
        GROUP BY c.doc_id, c.component
    """


ORACLES["neardup_hop_distance"] = _hop_distance_oracle()
QUERIES["neardup_hop_distance"] = q_neardup_hop_distance


def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count and local clustering coefficient over
    the verified near-dup graph — the graph-density diagnostic that
    separates a TRUE duplicate cluster (near-clique, coefficient → 1)
    from a chain of borderline matches the band join happened to link
    (coefficient → 0). Reviewers prune chains, keep cliques.

    Shape: the standard oriented-wedge triangle enumeration — edges are
    already oriented (doc_a < doc_b), so each triangle is produced exactly
    once by joining e1(a,b)⋈e2(b,c) then closing with e3(a,c). Two joins
    + one aggregation, all over the EDGE-sized memoized pair relation;
    orientation by id is the classic skew guard (every vertex's out-degree
    is bounded by its rank-neighborhood, so no hub explodes the wedge
    count the way an unoriented join would). The oracle runs the same
    enumeration in DuckDB over its own verified-pairs mirror."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # (no re-checkpoint: the memoized pairs relation IS a localCheckpoint
    # already — the former extra checkpoint fired one eager copy job per
    # call for zero lineage benefit; r10 optimization)
    sym = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b")))
    deg = sym.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg"))
    e1 = pairs.toDF("x", "y")
    e2 = pairs.toDF("y", "z")
    e3 = pairs.toDF("x", "z")
    tri = (e1.join(e2, "y").join(e3, ["x", "z"])
           .select("x", "y", "z"))
    member = (tri.select(F.col("x").alias("doc_id"))
              .union(tri.select("y")).union(tri.select("z")))
    tcnt = member.groupBy("doc_id").agg(F.count(F.lit(1)).alias("triangles"))
    coeff = F.when(
        F.col("deg") >= 2,
        2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1)),
    ).otherwise(0.0)
    return (
        deg.withColumnRenamed("doc_a", "doc_id")
        .join(tcnt, "doc_id", "left")
        .withColumn("triangles", F.coalesce("triangles", F.lit(0)))
        .select("doc_id", "deg", "triangles",
                F.round(coeff, 4).alias("clustering"))
    )


ORACLES["triangle_stats"] = f"""
    WITH verified AS ({ORACLES['minhash_lsh_pairs']}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM verified),
    sym AS (SELECT doc_a AS u FROM verified
            UNION ALL SELECT doc_b FROM verified),
    deg AS (SELECT u AS doc_id, count(*) AS deg FROM sym GROUP BY u),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    member AS (
        SELECT x AS doc_id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ),
    tcnt AS (SELECT doc_id, count(*) AS triangles
             FROM member GROUP BY doc_id)
    SELECT d.doc_id, d.deg, coalesce(t.triangles, 0) AS triangles,
           round(CASE WHEN d.deg >= 2
                      THEN 2.0 * coalesce(t.triangles, 0)
                           / (d.deg * (d.deg - 1))
                      ELSE 0 END, 4) AS clustering
    FROM deg d LEFT JOIN tcnt t ON d.doc_id = t.doc_id
"""
QUERIES["triangle_stats"] = q_triangle_stats


KCORE_KS = (2, 3)
KCORE_PEELS = 4


@corpus_memo(table="documents")
def _kcore_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KCORE_PEELS-round peeled, k-tagged edge relation (the
    fixed-depth peel both engines replay), memoized per (session,
    corpus) like the components/pairs relations it derives from."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ks = spark.createDataFrame([(k,) for k in KCORE_KS], ["k"])
    e = (pairs.crossJoin(F.broadcast(ks))
         .select("k", F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
         .coalesce(1).localCheckpoint())
    for _ in range(KCORE_PEELS):
        sym = e.select("k", F.col("a").alias("u")).unionByName(
            e.select("k", F.col("b").alias("u")))
        keep = (sym.groupBy("k", "u").agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= F.col("k"))
                .select("k", "u"))
        e = (e.join(keep.withColumnRenamed("u", "a"), ["k", "a"],
                    "left_semi")
             .join(keep.withColumnRenamed("u", "b"), ["k", "b"],
                   "left_semi")
             .select("k", "a", "b")
             .coalesce(1).localCheckpoint())
    return e


def q_kcore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core census of the verified near-dup graph: after KCORE_PEELS
    rounds of removing nodes with degree < k, how many nodes/edges
    survive per k — the density stratification reviewers use ABOVE
    triangle_stats (a 3-core survivor is a genuine duplicate cluster;
    chains and stars peel away entirely). The op is specified as the
    FIXED-DEPTH peel (both engines run exactly KCORE_PEELS rounds —
    deterministic regardless of whether the peel has converged), and
    each output row carries a relationally-computed ``converged`` flag:
    1 iff every surviving node's degree is ≥ k, i.e. the peel reached
    its fixed point and the fixed-depth census IS the true k-core (r9
    verdict #3 — the claim "real dedup graphs stabilize in 2-3 rounds"
    is now asserted in the hashed surface, not assumed; pytest
    additionally requires converged=1 at gate scale).

    Shape: both k values ride ONE tagged edge relation (the
    markov_attribution trick), so each peel round is one degree
    aggregate + one semi-join filter over the ≤2·|E|-row relation —
    EDGE-scale, corpus-independent, checkpointed per round (the
    textrank discipline: Spark does not dedupe common subtrees and a
    lazy peel tree re-executes lower rounds ~4^depth times). The peeled
    edge relation is memoized per (session, corpus) — the
    neardup_components pattern: the peel's checkpoint launch train
    (~19 jobs / 1.2 s at sf0.1) runs once per corpus, not per call (r10
    optimization; cold-bench isolation clears it like every memo)."""
    e = _kcore_edges(spark, sf_dir)
    sym = e.select("k", F.col("a").alias("u")).unionByName(
        e.select("k", F.col("b").alias("u")))
    nodes = sym.groupBy("k", "u").agg(F.count(F.lit(1)).alias("deg"))
    return (nodes.groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("core_nodes"),
                 (F.sum("deg") / 2).cast("long").alias("core_edges"),
                 F.max("deg").cast("long").alias("max_deg"),
                 F.min("deg").alias("_min_deg"))
            .select(F.col("k").cast("long").alias("k"),
                    "core_nodes", "core_edges", "max_deg",
                    # fixed point iff no survivor is still below k: a
                    # further peel would remove zero nodes, so the
                    # fixed-depth census equals the true k-core
                    F.when(F.col("_min_deg") >= F.col("k"), 1)
                    .otherwise(0).cast("long").alias("converged")))


def _kcore_oracle() -> str:
    ks_rows = ", ".join(f"({k})" for k in KCORE_KS)
    # AS MATERIALIZED throughout: each peel level references the prior
    # one three times (degree union + two EXISTS); DuckDB's default CTE
    # inlining would re-inline the full minhash pipeline ~3^PEELS times
    blocks = [f"""
    WITH verified AS MATERIALIZED ({ORACLES['minhash_lsh_pairs']}),
    ks(k) AS (VALUES {ks_rows}),
    e0 AS MATERIALIZED (SELECT k, doc_a AS a, doc_b AS b
           FROM verified CROSS JOIN ks)"""]
    for t in range(KCORE_PEELS):
        blocks.append(f"""
    keep{t} AS MATERIALIZED (
        SELECT k, u FROM (
            SELECT k, u, count(*) AS deg FROM (
                SELECT k, a AS u FROM e{t}
                UNION ALL SELECT k, b FROM e{t}
            ) GROUP BY k, u
        ) WHERE deg >= k
    ),
    e{t + 1} AS MATERIALIZED (
        SELECT e.k, e.a, e.b FROM e{t} e
        WHERE EXISTS (SELECT 1 FROM keep{t} x
                      WHERE x.k = e.k AND x.u = e.a)
          AND EXISTS (SELECT 1 FROM keep{t} y
                      WHERE y.k = e.k AND y.u = e.b)
    )""")
    tail = f"""
    ,sym AS (SELECT k, a AS u FROM e{KCORE_PEELS}
             UNION ALL SELECT k, b FROM e{KCORE_PEELS}),
    nodes AS (SELECT k, u, count(*) AS deg FROM sym GROUP BY k, u)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS core_nodes,
           CAST(sum(deg) // 2 AS BIGINT) AS core_edges,
           CAST(max(deg) AS BIGINT) AS max_deg,
           CAST(CASE WHEN min(deg) >= k THEN 1 ELSE 0 END
                AS BIGINT) AS converged
    FROM nodes GROUP BY k"""
    return ",".join(blocks) + tail


ORACLES["kcore_census"] = _kcore_oracle()
QUERIES["kcore_census"] = q_kcore_census


SEM_SPLIT_MOD, SEM_SPLIT_TRAIN = 10, 8  # vec_id % 10 < 8 → train


def q_semantic_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train/val leakage: near-duplicate EMBEDDING pairs that
    straddle the split boundary — the contamination class the n-gram
    split_leakage sweep cannot see (a paraphrase shares no 8-gram but
    sits at cosine 0.99). Splits assign deterministically by vec_id
    residue; the pair relation is the sign-signature-blocked
    embedding_neardup join (never all-pairs), and each pair classifies
    by pure id arithmetic — no extra join. One row: corpus split sizes,
    within-split pair counts, and the cross-split LEAKED pair count with
    its rate over all near-dup pairs."""
    e = load_table(spark, "embeddings", sf_dir)
    sizes = e.agg(
        F.sum(F.when(F.col("vec_id") % SEM_SPLIT_MOD < SEM_SPLIT_TRAIN, 1)
              .otherwise(0)).cast("long").alias("train_vecs"),
        F.sum(F.when(F.col("vec_id") % SEM_SPLIT_MOD >= SEM_SPLIT_TRAIN, 1)
              .otherwise(0)).cast("long").alias("val_vecs"))
    pairs = q_embedding_neardup(spark, sf_dir)
    in_train = (F.col("vec_a") % SEM_SPLIT_MOD < SEM_SPLIT_TRAIN)
    in_train_b = (F.col("vec_b") % SEM_SPLIT_MOD < SEM_SPLIT_TRAIN)
    cls = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("neardup_pairs"),
        F.coalesce(F.sum(F.when(in_train & in_train_b, 1).otherwise(0)),
                   F.lit(0)).cast("long").alias("train_pairs"),
        F.coalesce(F.sum(F.when(~in_train & ~in_train_b, 1).otherwise(0)),
                   F.lit(0)).cast("long").alias("val_pairs"),
        F.coalesce(F.sum(F.when(in_train != in_train_b, 1).otherwise(0)),
                   F.lit(0)).cast("long").alias("leaked_pairs"))
    j = sizes.crossJoin(F.broadcast(cls))
    rate = F.when(F.col("neardup_pairs") > 0,
                  F.col("leaked_pairs").cast("double")
                  / F.col("neardup_pairs").cast("double")).otherwise(0.0)
    return j.select("train_vecs", "val_vecs", "neardup_pairs",
                    "train_pairs", "val_pairs", "leaked_pairs",
                    rate.alias("leak_rate"))


ORACLES["semantic_split_leakage"] = f"""
    WITH pairs AS ({ORACLES['embedding_neardup']}),
    sizes AS (
        SELECT sum(CASE WHEN vec_id % {SEM_SPLIT_MOD} < {SEM_SPLIT_TRAIN}
                        THEN 1 ELSE 0 END) AS train_vecs,
               sum(CASE WHEN vec_id % {SEM_SPLIT_MOD} >= {SEM_SPLIT_TRAIN}
                        THEN 1 ELSE 0 END) AS val_vecs
        FROM embeddings
    ),
    cls AS (
        SELECT count(*) AS neardup_pairs,
               sum(CASE WHEN vec_a % {SEM_SPLIT_MOD} < {SEM_SPLIT_TRAIN}
                         AND vec_b % {SEM_SPLIT_MOD} < {SEM_SPLIT_TRAIN}
                        THEN 1 ELSE 0 END) AS train_pairs,
               sum(CASE WHEN vec_a % {SEM_SPLIT_MOD} >= {SEM_SPLIT_TRAIN}
                         AND vec_b % {SEM_SPLIT_MOD} >= {SEM_SPLIT_TRAIN}
                        THEN 1 ELSE 0 END) AS val_pairs,
               sum(CASE WHEN (vec_a % {SEM_SPLIT_MOD} < {SEM_SPLIT_TRAIN})
                          <> (vec_b % {SEM_SPLIT_MOD} < {SEM_SPLIT_TRAIN})
                        THEN 1 ELSE 0 END) AS leaked_pairs
        FROM pairs
    )
    SELECT CAST(train_vecs AS BIGINT) AS train_vecs,
           CAST(val_vecs AS BIGINT) AS val_vecs,
           CAST(neardup_pairs AS BIGINT) AS neardup_pairs,
           CAST(coalesce(train_pairs, 0) AS BIGINT) AS train_pairs,
           CAST(coalesce(val_pairs, 0) AS BIGINT) AS val_pairs,
           CAST(coalesce(leaked_pairs, 0) AS BIGINT) AS leaked_pairs,
           CASE WHEN neardup_pairs > 0
                THEN CAST(leaked_pairs AS DOUBLE) / neardup_pairs
                ELSE 0.0 END AS leak_rate
    FROM sizes CROSS JOIN cls
"""
QUERIES["semantic_split_leakage"] = q_semantic_split_leakage


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data cleaning pipeline in one query: quality gate
    (C4-style rules) → exact dedup (md5 hash-groupBy) → near-dup removal
    (MinHash-LSH components, keep each cluster's lowest id). Returns the
    funnel counts — the headline numbers a 100 TB curation run reports.

    r10 optimization: the funnel used to run as FOUR eager driver
    ``.count()`` actions over persist()ed stages (14 jobs fired at
    DataFrame-build time, ~1.2 s/call at sf0.1, plus corpus-scale
    executor cache pressure at 100 TB). The four counts are now four
    1-row aggregates crossJoined broadcast in ONE lazy plan — the
    physical planner's ReuseExchange dedupes the shared quality-scan and
    exact-dedup exchanges, so the single action pays each stage once,
    the persist/unpersist pair disappears, and the operator is as lazy
    as every sibling. Same counts, same schema; hash-gate verified."""
    from .text_analysis import STOPWORDS

    d = load_table(spark, "documents", sf_dir)
    w = F.split(F.lower("text"), " ")
    n = F.size(w)
    stop_ratio = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))) / n
    quality_ok = (n >= 20) & (n <= 90) & (stop_ratio >= 0.02)

    docs = d.select("doc_id", F.md5("text").alias("h")).filter(quality_ok)
    # exact dedup: keep lowest doc_id per hash
    keeper = docs.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    # near-dup removal among exact-keepers: drop non-representatives of
    # minhash components (component id = lowest member). The components DF
    # arrives localCheckpointed (label-propagation truncates its own lineage),
    # so the LSH subtree runs once, not once per count.
    comps = q_neardup_components(spark, sf_dir)
    dupes = comps.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    final = keeper.join(dupes, "doc_id", "left_anti")

    def cnt(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(alias))

    return (cnt(d, "total")
            .crossJoin(F.broadcast(cnt(docs, "after_quality")))
            .crossJoin(F.broadcast(cnt(keeper, "after_exact")))
            .crossJoin(F.broadcast(cnt(final, "after_neardup"))))


QUERIES["clean_corpus"] = q_clean_corpus

ORACLES["clean_corpus"] = f"""
    WITH RECURSIVE verified AS ({ORACLES['minhash_lsh_pairs']}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM verified
        UNION
        SELECT doc_b AS u, doc_a AS v FROM verified
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comps AS (
        SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u
    ),
    quality AS (
        SELECT doc_id, md5(text) AS h
        FROM documents
        WHERE len(string_split(lower(text), ' ')) BETWEEN 20 AND 90
          AND len(list_filter(string_split(lower(text), ' '),
                              x -> x IN ({', '.join(repr(s) for s in
                                          ('the', 'a', 'of', 'and', 'to', 'in',
                                           'is', 'on', 'for', 'with'))})))
              / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) >= 0.02
    ),
    keeper AS (SELECT h, min(doc_id) AS doc_id FROM quality GROUP BY h),
    final AS (
        SELECT k.doc_id FROM keeper k
        WHERE k.doc_id NOT IN (
            SELECT doc_id FROM comps WHERE doc_id <> component
        )
    )
    SELECT (SELECT count(*) FROM documents) AS total,
           (SELECT count(*) FROM quality) AS after_quality,
           (SELECT count(*) FROM keeper) AS after_exact,
           (SELECT count(*) FROM final) AS after_neardup
"""


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the near-dup graph under its OWN
    connected-component partition — the review gate for a dedup run:
    modularity near the maximum means the verified pairs form tight,
    well-separated duplicate clusters; a low score means the band join
    is bleeding borderline edges between clusters (chains). Per
    community c: intra-edge count e_c, degree sum d_c, and the term
    q_c = e_c/m − (d_c/(2m))² — modularity is Σ q_c, left UN-summed
    (the logrank discipline: each hashed row is one single-shot double
    over exact integers; cross-row float accumulation is client-side).
    Since components ARE the partition, every edge is intra-community
    (e_c sums to m) — the score then measures how evenly degree mass
    splits across clusters, the null-model half of the formula.

    Shape: both relations are memoized checkpoints (verified pairs,
    components); two broadcast-ish joins map edges/degrees to
    components, then one groupBy on the component key — edge-scale,
    corpus-independent, no new shuffles beyond the K-row rollup."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # (no re-checkpoint: the memoized pairs relation IS a localCheckpoint
    # already — the former extra checkpoint fired one eager copy job per
    # call for zero lineage benefit; r10 optimization)
    comp = q_neardup_components(spark, sf_dir)
    m_df = pairs.agg(F.count(F.lit(1)).cast("long").alias("_m"))
    ca = comp.select(F.col("doc_id").alias("doc_a"),
                     F.col("component").alias("comp"))
    intra = (pairs.join(ca, "doc_a")
             .groupBy("comp").agg(F.count(F.lit(1)).alias("e_c")))
    deg = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("deg")))
    dsum = (deg.join(comp, "doc_id")
            .groupBy(F.col("component").alias("comp"))
            .agg(F.sum("deg").cast("long").alias("d_c"),
                 F.count(F.lit(1)).cast("long").alias("n_nodes")))
    j = (dsum.join(intra, "comp", "left")
         .withColumn("e_c", F.coalesce("e_c", F.lit(0)).cast("long"))
         .crossJoin(F.broadcast(m_df)))
    md = F.col("_m").cast("double")
    q_term = (F.col("e_c").cast("double") / md
              - (F.col("d_c").cast("double") / (2.0 * md))
              * (F.col("d_c").cast("double") / (2.0 * md)))
    return j.select("comp", "n_nodes", "e_c", "d_c",
                    F.col("_m").alias("m"), q_term.alias("q_term"))


def _graph_modularity_oracle() -> str:
    # hop_distance idiom: top-level WITH RECURSIVE, NO MATERIALIZED —
    # AS MATERIALIZED around the nested-recursive components subquery
    # segfaults DuckDB 1.x (physical-operator type mismatch)
    return f"""
        WITH RECURSIVE
        verified AS ({ORACLES['minhash_lsh_pairs']}),
        comp AS (
            SELECT * FROM ({ORACLES['neardup_components']}) c0),
        m AS (SELECT count(*) AS _m FROM verified),
        intra AS (
            SELECT c.component AS comp, count(*) AS e_c
            FROM verified v JOIN comp c ON v.doc_a = c.doc_id
            GROUP BY c.component
        ),
        deg AS (
            SELECT doc_id, count(*) AS deg FROM (
                SELECT doc_a AS doc_id FROM verified
                UNION ALL SELECT doc_b FROM verified
            ) GROUP BY doc_id
        ),
        dsum AS (
            SELECT c.component AS comp,
                   CAST(sum(d.deg) AS BIGINT) AS d_c,
                   CAST(count(*) AS BIGINT) AS n_nodes
            FROM deg d JOIN comp c USING (doc_id)
            GROUP BY c.component
        )
        SELECT ds.comp, ds.n_nodes,
               CAST(coalesce(i.e_c, 0) AS BIGINT) AS e_c, ds.d_c,
               CAST(m._m AS BIGINT) AS m,
               CAST(coalesce(i.e_c, 0) AS DOUBLE) / _m
               - (CAST(ds.d_c AS DOUBLE) / (2.0 * _m))
                 * (CAST(ds.d_c AS DOUBLE) / (2.0 * _m)) AS q_term
        FROM dsum ds LEFT JOIN intra i USING (comp) CROSS JOIN m
    """


ORACLES["graph_modularity"] = _graph_modularity_oracle()
QUERIES["graph_modularity"] = q_graph_modularity


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Pearson correlation of endpoint degrees
    over edges) of the near-dup graph — one number separating a
    hub-and-spoke boilerplate cluster (strongly negative: high-degree
    template nodes linked to leaves) from clique-like mirror sets
    (positive). Sufficient statistics fold over the 2m directed edge
    stubs in exact integers (DECIMAL(38,0) — degree products summed
    over edges exceed 2^53 once hubs appear, so the oracle
    VARCHAR-routes every wide cast per tools/oracle_lint.py); r is a
    single-shot double. One degree aggregate + two broadcast-shaped
    joins + one global fold over the memoized edge relation."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # (no re-checkpoint: the memoized pairs relation IS a localCheckpoint
    # already — the former extra checkpoint fired one eager copy job per
    # call for zero lineage benefit; r10 optimization)
    deg = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("deg")))
    e = (pairs
         .join(deg.select(F.col("doc_id").alias("doc_a"),
                          F.col("deg").alias("da")), "doc_a")
         .join(deg.select(F.col("doc_id").alias("doc_b"),
                          F.col("deg").alias("db")), "doc_b"))
    # symmetrized stubs: each edge contributes (da,db) and (db,da) —
    # exploded in ONE pass over e (r11: the former self-unionByName
    # executed the pairs⋈deg⋈deg join once per branch)
    stubs = (e.select(F.explode(F.array(
        F.struct(F.col("da").alias("x"), F.col("db").alias("y")),
        F.struct(F.col("db").alias("x"), F.col("da").alias("y"))))
        .alias("s"))
        .select(F.col("s.x").alias("x"), F.col("s.y").alias("y")))
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    agg = stubs.agg(
        F.count(F.lit(1)).cast("long").alias("n2"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"))
    nd = F.col("n2").cast("double")
    sxd = F.col("sx").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    denom = nd * sxxd - sxd * sxd
    r = F.when(denom > 0.0,
               (nd * sxyd - sxd * sxd) / denom).otherwise(F.lit(0.0))
    return agg.select(
        "n2",
        sxd.alias("sum_deg"),
        sxyd.alias("sum_prod"),
        sxxd.alias("sum_sq"),
        r.alias("assortativity"))


def _degree_assortativity_oracle() -> str:
    return f"""
        WITH verified AS MATERIALIZED ({ORACLES['minhash_lsh_pairs']}),
        deg AS (
            SELECT doc_id, count(*) AS deg FROM (
                SELECT doc_a AS doc_id FROM verified
                UNION ALL SELECT doc_b FROM verified
            ) GROUP BY doc_id
        ),
        e AS (
            SELECT x.deg AS da, y.deg AS db
            FROM verified v
            JOIN deg x ON v.doc_a = x.doc_id
            JOIN deg y ON v.doc_b = y.doc_id
        ),
        stubs AS (
            SELECT da AS x, db AS y FROM e
            UNION ALL SELECT db, da FROM e
        ),
        agg AS (
            SELECT count(*) AS n2,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM stubs
        )
        SELECT CAST(n2 AS BIGINT) AS n2,
               CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sum_deg,
               CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sum_prod,
               CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sum_sq,
               CASE WHEN CAST(n2 AS DOUBLE)
                         * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(sx AS VARCHAR) AS DOUBLE) > 0
               THEN (CAST(n2 AS DOUBLE)
                     * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                    / (CAST(n2 AS DOUBLE)
                       * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
               ELSE 0.0 END AS assortativity
        FROM agg
    """


ORACLES["degree_assortativity"] = _degree_assortativity_oracle()
QUERIES["degree_assortativity"] = q_degree_assortativity


SIMHASH_DOC_CAP = 200  # q_simhash_pairs' bounded id window


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture estimate of the TRUE
    duplicate-pair population from two independent detectors — MinHash
    (within the simhash comparison window) as capture one, SimHash as
    capture two: N̂ = |A|·|B| / |A∩B|, with the pair-set Jaccard as the
    agreement readout. The dedup-QA question it answers — "how many
    duplicate pairs do BOTH sweeps miss?" — is exactly what
    single-method recall numbers can't see. Both pair relations are
    memoized checkpoints; the intersection is one equi-join on the
    oriented pair key. Chapman's (+1) bias-corrected variant rides
    along, defined even at zero overlap."""
    win = (q_minhash_lsh_pairs(spark, sf_dir)
           .filter((F.col("doc_a") < SIMHASH_DOC_CAP)
                   & (F.col("doc_b") < SIMHASH_DOC_CAP))
           .select("doc_a", "doc_b"))
    sim = q_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    na = win.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    nb = sim.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    ov = (win.join(sim, ["doc_a", "doc_b"])
          .agg(F.count(F.lit(1)).cast("long").alias("overlap")))
    j = na.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(ov))
    ad, bd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    od = F.col("overlap").cast("double")
    lincoln = F.when(F.col("overlap") > 0, ad * bd / od) \
        .otherwise(F.lit(0.0))
    chapman = ((ad + 1.0) * (bd + 1.0) / (od + 1.0)) - 1.0
    union = ad + bd - od
    jac = F.when(union > 0.0, od / union).otherwise(F.lit(0.0))
    return j.select("n_a", "n_b", "overlap",
                    lincoln.alias("lincoln"),
                    chapman.alias("chapman"),
                    jac.alias("pair_jaccard"))


def _capture_recapture_oracle() -> str:
    return f"""
        WITH mh AS MATERIALIZED ({ORACLES['minhash_lsh_pairs']}),
        win AS (SELECT doc_a, doc_b FROM mh
                WHERE doc_a < {SIMHASH_DOC_CAP}
                  AND doc_b < {SIMHASH_DOC_CAP}),
        sh AS MATERIALIZED (
            SELECT doc_a, doc_b FROM ({ORACLES['simhash_pairs']}) s0),
        na AS (SELECT count(*) AS n_a FROM win),
        nb AS (SELECT count(*) AS n_b FROM sh),
        ov AS (SELECT count(*) AS overlap
               FROM win JOIN sh USING (doc_a, doc_b))
        SELECT CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(overlap AS BIGINT) AS overlap,
               CASE WHEN overlap > 0
               THEN CAST(n_a AS DOUBLE) * n_b / overlap
               ELSE 0.0 END AS lincoln,
               (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
               / (CAST(overlap AS DOUBLE) + 1.0) - 1.0 AS chapman,
               CASE WHEN CAST(n_a AS DOUBLE) + n_b - overlap > 0
               THEN CAST(overlap AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) + n_b - overlap)
               ELSE 0.0 END AS pair_jaccard
        FROM na CROSS JOIN nb CROSS JOIN ov
    """


ORACLES["capture_recapture"] = _capture_recapture_oracle()
QUERIES["capture_recapture"] = q_capture_recapture


RICH_CLUB_KS = (1, 2, 3)


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the near-dup graph at degree thresholds
    k ∈ RICH_CLUB_KS: among nodes of degree > k, what fraction of their
    possible pairings are actual edges — φ(k) = 2·E_k/(N_k(N_k−1)).
    High-degree template/boilerplate hubs that also link to EACH OTHER
    (a rich club) mean one mega-cluster is forming; hubs that don't are
    independent template families. The density stratification sibling
    of kcore (peeling) and assortativity (correlation). All three k
    thresholds ride ONE tagged relation (the kcore trick): degrees from
    one aggregate over the memoized pairs, the club edge count from a
    double semi-join per tag — edge-scale throughout. N_k(N_k−1) stays
    an exact integer product of BIGINTs (< 2^53 territory after the
    double cast on both engines; the product is formed as a DOUBLE of
    two exact ints — correctly-rounded once, bit-identical)."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # (no re-checkpoint: the memoized pairs relation IS a localCheckpoint
    # already — the former extra checkpoint fired one eager copy job per
    # call for zero lineage benefit; r10 optimization)
    deg = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("deg")))
    ks = local_rows(spark, [(k,) for k in RICH_CLUB_KS], "k bigint")
    club = (deg.crossJoin(F.broadcast(ks))
            .filter(F.col("deg") > F.col("k"))
            .select("k", "doc_id"))
    nk = club.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    e = pairs.crossJoin(F.broadcast(ks)).select("k", "doc_a", "doc_b")
    ek = (e.join(club.withColumnRenamed("doc_id", "doc_a"),
                 ["k", "doc_a"], "left_semi")
          .join(club.withColumnRenamed("doc_id", "doc_b"),
                ["k", "doc_b"], "left_semi")
          .groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("e_k")))
    j = nk.join(ek, "k", "left").withColumn(
        "e_k", F.coalesce("e_k", F.lit(0)).cast("long"))
    nkd = F.col("n_k").cast("double")
    phi = F.when(F.col("n_k") >= 2,
                 2.0 * F.col("e_k").cast("double")
                 / (nkd * (nkd - 1.0))).otherwise(F.lit(0.0))
    return j.select(F.col("k").cast("long").alias("k"),
                    "n_k", "e_k", phi.alias("phi"))


def _rich_club_oracle() -> str:
    ks_rows = ", ".join(f"({k})" for k in RICH_CLUB_KS)
    return f"""
        WITH verified AS MATERIALIZED ({ORACLES['minhash_lsh_pairs']}),
        deg AS (
            SELECT doc_id, count(*) AS deg FROM (
                SELECT doc_a AS doc_id FROM verified
                UNION ALL SELECT doc_b FROM verified
            ) GROUP BY doc_id
        ),
        ks(k) AS (VALUES {ks_rows}),
        club AS (
            SELECT k, doc_id FROM deg CROSS JOIN ks WHERE deg > k
        ),
        nk AS (SELECT k, count(*) AS n_k FROM club GROUP BY k),
        ek AS (
            SELECT ks.k, count(*) AS e_k
            FROM verified v CROSS JOIN ks
            WHERE EXISTS (SELECT 1 FROM club c
                          WHERE c.k = ks.k AND c.doc_id = v.doc_a)
              AND EXISTS (SELECT 1 FROM club c
                          WHERE c.k = ks.k AND c.doc_id = v.doc_b)
            GROUP BY ks.k
        )
        SELECT CAST(nk.k AS BIGINT) AS k,
               CAST(nk.n_k AS BIGINT) AS n_k,
               CAST(coalesce(ek.e_k, 0) AS BIGINT) AS e_k,
               CASE WHEN nk.n_k >= 2
               THEN 2.0 * CAST(coalesce(ek.e_k, 0) AS DOUBLE)
                    / (CAST(nk.n_k AS DOUBLE) * (CAST(nk.n_k AS DOUBLE) - 1.0))
               ELSE 0.0 END AS phi
        FROM nk LEFT JOIN ek ON nk.k = ek.k
    """


ORACLES["rich_club"] = _rich_club_oracle()
QUERIES["rich_club"] = q_rich_club


DEGPL_MIN_DEG = 1


def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law fit of the near-dup graph's degree distribution: OLS
    slope of ln(count) on ln(degree) over the degree histogram — the
    graph sibling of zipf_slope (heavy-tailed degrees mean template/
    boilerplate hubs; a steep cutoff means uniform near-dup pairs).
    Same exactness discipline as zipf_slope: the histogram is a tiny
    distinct-degree relation; each row's OLS terms are single-shot
    doubles ROUNDED to DECIMAL(20,12) BEFORE the fold, so the sum is
    merge-order-free; slope/intercept are single-shot at the end."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # (no re-checkpoint: the memoized pairs relation IS a localCheckpoint
    # already — the former extra checkpoint fired one eager copy job per
    # call for zero lineage benefit; r10 optimization)
    deg = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("deg")))
    hist = (deg.filter(F.col("deg") >= DEGPL_MIN_DEG)
            .groupBy("deg").agg(F.count(F.lit(1)).alias("cnt")))
    x = F.log(F.col("deg").cast("double"))
    y = F.log(F.col("cnt").cast("double"))

    def fx(e):
        return F.round(e, 12).cast("decimal(20,12)")

    terms = hist.select(
        F.lit(1).alias("one"), fx(x).alias("sx"), fx(y).alias("sy"),
        fx(x * x).alias("sxx"), fx(x * y).alias("sxy"))
    agg = terms.agg(
        F.sum("one").cast("long").alias("n_degrees"),
        F.sum("sx").alias("sx"), F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"), F.sum("sxy").alias("sxy"))
    nD = F.col("n_degrees").cast("double")

    def dbl(c):
        return F.col(c).cast("double")

    denom = nD * dbl("sxx") - dbl("sx") * dbl("sx")
    slope = F.when(denom != 0.0,
                   (nD * dbl("sxy") - dbl("sx") * dbl("sy")) / denom) \
        .otherwise(F.lit(0.0))
    intercept = F.when(denom != 0.0,
                       (dbl("sy") - slope * dbl("sx")) / nD) \
        .otherwise(F.lit(0.0))
    return agg.select("n_degrees",
                      dbl("sx").alias("sum_lnx"),
                      dbl("sy").alias("sum_lny"),
                      slope.alias("slope"),
                      intercept.alias("intercept"))


def _degree_powerlaw_oracle() -> str:
    return f"""
        WITH verified AS MATERIALIZED ({ORACLES['minhash_lsh_pairs']}),
        deg AS (
            SELECT doc_id, count(*) AS deg FROM (
                SELECT doc_a AS doc_id FROM verified
                UNION ALL SELECT doc_b FROM verified
            ) GROUP BY doc_id
        ),
        hist AS (SELECT deg, count(*) AS cnt FROM deg
                 WHERE deg >= {DEGPL_MIN_DEG} GROUP BY deg),
        terms AS (
            SELECT 1 AS one,
                   CAST(round(ln(CAST(deg AS DOUBLE)), 12)
                        AS DECIMAL(20,12)) AS sx,
                   CAST(round(ln(CAST(cnt AS DOUBLE)), 12)
                        AS DECIMAL(20,12)) AS sy,
                   CAST(round(ln(CAST(deg AS DOUBLE))
                              * ln(CAST(deg AS DOUBLE)), 12)
                        AS DECIMAL(20,12)) AS sxx,
                   CAST(round(ln(CAST(deg AS DOUBLE))
                              * ln(CAST(cnt AS DOUBLE)), 12)
                        AS DECIMAL(20,12)) AS sxy
            FROM hist
        ),
        agg AS (
            SELECT CAST(sum(one) AS BIGINT) AS n_degrees,
                   sum(sx) AS sx, sum(sy) AS sy,
                   sum(sxx) AS sxx, sum(sxy) AS sxy
            FROM terms
        )
        SELECT n_degrees,
               CAST(sx AS DOUBLE) AS sum_lnx,
               CAST(sy AS DOUBLE) AS sum_lny,
               CASE WHEN CAST(n_degrees AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
               THEN (CAST(n_degrees AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n_degrees AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               ELSE 0.0 END AS slope,
               CASE WHEN CAST(n_degrees AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
               THEN (CAST(sy AS DOUBLE)
                     - ((CAST(n_degrees AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n_degrees AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                       * CAST(sx AS DOUBLE))
                    / CAST(n_degrees AS DOUBLE)
               ELSE 0.0 END AS intercept
        FROM agg
    """


ORACLES["degree_powerlaw"] = _degree_powerlaw_oracle()
QUERIES["degree_powerlaw"] = q_degree_powerlaw


def q_component_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size census of the near-dup graph: how many duplicate
    clusters exist at each size, what fraction of clustered documents
    the largest ("giant") component holds — THE percolation readout for
    a dedup run (a creeping giant component means the similarity
    threshold is bleeding unrelated docs together; healthy corpora show
    a steep small-size histogram). Rides the memoized components
    relation: one groupBy to size each component, one to fold the
    histogram; giant fraction arrives per-row via a broadcast 1-row
    total (single-shot double over exact integers)."""
    comp = q_neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("size"))
    tot = sizes.agg(F.sum("size").cast("long").alias("n_docs"),
                    F.max("size").cast("long").alias("giant"))
    census = sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_components"))
    j = census.crossJoin(F.broadcast(tot))
    share = (F.col("size").cast("double") * F.col("n_components")
             / F.col("n_docs").cast("double"))
    return j.select(F.col("size").cast("long").alias("size"),
                    "n_components", "n_docs", "giant",
                    share.alias("doc_share"),
                    (F.col("size") == F.col("giant")).cast("long")
                    .alias("is_giant"))


def _component_census_oracle() -> str:
    return f"""
        WITH comp AS (
            SELECT * FROM ({ORACLES['neardup_components']}) c0),
        sizes AS (
            SELECT component, count(*) AS size
            FROM comp GROUP BY component
        ),
        tot AS (SELECT CAST(sum(size) AS BIGINT) AS n_docs,
                       CAST(max(size) AS BIGINT) AS giant FROM sizes),
        census AS (
            SELECT size, count(*) AS n_components
            FROM sizes GROUP BY size
        )
        SELECT CAST(size AS BIGINT) AS size,
               CAST(n_components AS BIGINT) AS n_components,
               n_docs, giant,
               CAST(size AS DOUBLE) * n_components
               / CAST(n_docs AS DOUBLE) AS doc_share,
               CAST(CASE WHEN size = giant THEN 1 ELSE 0 END AS BIGINT)
                   AS is_giant
        FROM census CROSS JOIN tot
    """


ORACLES["component_census"] = _component_census_oracle()
QUERIES["component_census"] = q_component_census
