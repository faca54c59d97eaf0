"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (BASELINE.json north star): token counting,
quality scoring, n-gram language-ID heuristic, document fingerprinting.

Everything is built-in-function Column expressions (regexp/split/md5run
JVM-side under codegen; no Python UDFs). The DuckDB oracles replicate the
same expressions so the driver hash-checks values, not just shapes.

Scale notes: all per-document maps — embarrassingly parallel, no shuffle
except the final aggregations, which do map-side partial agg on
low-cardinality keys (source/lang). At 100 TB these run as a single scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import corpus_memo, load_table, local_rows

# tiny stopword/marker inventories; deliberately deterministic & portable
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "los"),
    "de": ("der", "die", "und"),
    "fr": ("le", "les", "et"),
}


def _words(col="text"):
    return F.split(F.lower(col), " ")


# bump when _words() or the side-table projection changes — part of the
# persistent cache tag so old side-tables are abandoned, not served
_TOKENIZED_LOGIC_V = "tok-v1:doc_id,source,lang,n_chars,text,words=split(lower(text))"


@corpus_memo(table="documents")
def _tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized tokenized corpus — (doc_id, source, lang, n_chars,
    text, words) — computed ONCE per (session, sf_dir) and shared by every
    text operator. A dozen corpus-suite operators each re-running
    ``split(lower(text))`` over the same scan is the single biggest
    redundant cost in the suite; at 100 TB the first pipeline stage writes
    exactly this relation as a bucketed corpus table and every downstream
    job reads it instead of re-tokenizing. The repartition spreads the
    one-time tokenize across cores (the test corpus is a single parquet
    file) and is paid once, inside the checkpoint."""
    import hashlib
    import os
    import tempfile

    # columnar cache, NOT localCheckpoint: checkpointed rows lose column
    # pruning and the vectorized reader, so every consumer would deserialize
    # text AND words whether it needs them or not (measured: suite 7.7 s →
    # 11 s). A parquet side-table keeps pruning/vectorization — the literal
    # 100 TB design, where stage one writes the tokenized corpus table.
    # cache identity = shared corpus_ident (source path + file stats — a
    # regenerated-in-place corpus must not be served stale) salted with
    # the tokenization version: the PERSISTENT side-table must also go
    # stale when the tokenizer or projected schema changes, or a code
    # edit would silently read the old tokenization across processes
    from ..sources.tables import corpus_ident

    ident = corpus_ident(sf_dir, "documents",
                         logic_version=_TOKENIZED_LOGIC_V)
    tag = hashlib.md5(ident.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_tokenized_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # write-then-rename: concurrent sessions (test runner + gate runner)
        # must never observe a half-written table; the loser of the rename
        # race just reads the winner's copy
        import uuid

        staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
        d = load_table(spark, "documents", sf_dir).repartition(
            spark.sparkContext.defaultParallelism)
        d.select("doc_id", "source", "lang", "n_chars", "text",
                 _words().alias("words")).write.mode("overwrite").parquet(staging)
        try:
            os.rename(staging, path)
        except OSError:
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                # another session won the race; read the winner's copy
                import shutil

                shutil.rmtree(staging, ignore_errors=True)
            else:
                # rename failed for a real reason (e.g. cross-device
                # TMPDIR) — the staging copy is a complete valid table
                path = staging
    docs = spark.read.parquet(path)
    return docs


# r11: the per-(source, term) frequency table — the canonical stage-one
# term-frequency relation of the 100 TB design — was rebuilt from its
# own full token explode + term shuffle by THREE operators per bench
# pass (tfidf_top_terms, zipf_slope, heaps_law; ~0.9 s each, dominated
# by the identical explode+exchange). One materialization serves all
# three: tf IS this relation, zipf's spectrum is a second-level groupBy
# of it, heaps' (N, V) fold is one aggregate over it. Narrow (source,
# term, c), vocabulary×sources-sized — orders of magnitude below the
# token stream it summarizes. Memoized per (session, corpus) like the
# tokenized corpus.
@corpus_memo(table="documents")
def _term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, w, c): exact token counts per source, empty tokens
    INCLUDED (tfidf counts them; zipf/heaps filter on length(w) > 0
    afterwards, which is exact on the aggregated rows)."""
    d = _tokenized_docs(spark, sf_dir)
    tf = (d.select("source", F.explode("words").alias("w"))
          .groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
          .localCheckpoint())
    return tf


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens + a BPE-ish letter-run
    regex count (regexp_count is JVM-side)."""
    d = _tokenized_docs(spark, sf_dir)
    ws_tokens = F.size("words")
    re_tokens = F.regexp_count(F.lower("text"), F.lit("[a-z]+"))
    return d.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum(ws_tokens).alias("ws_tokens"),
        F.sum(re_tokens).alias("re_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, mean word length,
    stopword ratio — the length/punct/stopword heuristics of C4-style
    cleaning, as pure column math."""
    d = _tokenized_docs(spark, sf_dir)
    w = F.col("words")
    n = F.size(w)
    stop_hits = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    mean_word_len = (F.col("n_chars") - (n - 1)) / n  # chars minus separators
    return (
        d.filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            n.alias("n_tokens"),
            F.round(mean_word_len, 4).alias("mean_word_len"),
            F.round(stop_hits / n, 4).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


# Fixed linear quality-model weights (a fasttext/logreg-style classifier's
# broadcastable parameters; values chosen to spread scores over the corpus)
QM_BIAS = -1.2
QM_W_LOG_TOKENS = 0.55
QM_W_STOPWORD = 2.0
QM_W_WORDLEN = -0.08
QM_KEEP = 0.5


def quality_score_col(words, n_chars) -> "F.Column":
    """THE quality-model score — single source of truth for every consumer
    (quality_model rollup, canonical selection). Algebraic sigmoid
    0.5*(1 + z/(1+|z|)): pure +,*,/,abs, so the value is bit-identical
    across engines (libm exp is not)."""
    n = F.size(words)
    stop_ratio = F.size(F.filter(words, lambda x: x.isin(*STOPWORDS))) / n
    mean_word_len = (n_chars - (n - 1)) / n
    z = (F.lit(QM_BIAS) + F.lit(QM_W_LOG_TOKENS) * F.log(n.cast("double"))
         + F.lit(QM_W_STOPWORD) * stop_ratio
         + F.lit(QM_W_WORDLEN) * mean_word_len)
    return 0.5 * (1 + z / (1 + F.abs(z)))


def quality_score_sql(table: str = "documents") -> str:
    """DuckDB mirror of quality_score_col: SELECT doc_id, s FROM <table>."""
    stop_sql = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
        SELECT doc_id, source, 0.5 * (1 + z / (1 + abs(z))) AS s
        FROM (
            SELECT doc_id, source,
                   ({QM_BIAS} + {QM_W_LOG_TOKENS} * ln(CAST(n AS DOUBLE))
                    + {QM_W_STOPWORD} * (stop_hits / CAST(n AS DOUBLE))
                    + {QM_W_WORDLEN}
                      * ((n_chars - (n - 1)) / CAST(n AS DOUBLE))) AS z
            FROM (
                SELECT doc_id, source, n_chars,
                       len(string_split(lower(text), ' ')) AS n,
                       len(list_filter(string_split(lower(text), ' '),
                                       x -> x IN ({stop_sql}))) AS stop_hits
                FROM {table}
            )
        )
    """


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a linear classifier over the C4-style
    features (log token count, stopword ratio, mean word length) squashed
    with the ALGEBRAIC sigmoid 0.5*(1 + z/(1+|z|)) — pure +,*,/,abs, so
    the score is bit-identical across engines (libm ``exp`` is not). The
    weights stand in for a trained model's parameters: at 100 TB they are
    a broadcast array and this stays a zero-shuffle scan until the final
    per-source rollup."""
    d = _tokenized_docs(spark, sf_dir)
    score = quality_score_col(F.col("words"), F.col("n_chars"))
    return d.select("source", F.round(score, 4).alias("s")).groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum(F.when(F.col("s") >= QM_KEEP, 1).otherwise(0)).alias("kept"),
        F.round(F.avg("s"), 4).alias("avg_score"),
    )


def q_decile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL CALIBRATION TABLE — the eval-side twin of q_quality_model:
    bucket the quality score into fixed-width deciles and report, per
    bucket, document count, positive-label count (lang = 'en' stands in
    for the labeled dimension) and the label rate. Fixed-width buckets
    (``floor(s*10)``) rather than NTILE: NTILE needs a TOTAL ORDER over
    the corpus (a global sort at 100 TB); width buckets are a
    shuffle-free projection and the groupBy is 10 keys. The score is the
    shared algebraic-sigmoid expression, bit-identical across engines,
    so bucket edges can't flip; the score sum accumulates in
    DECIMAL(18,6) (the de-flake discipline) and the label rate is a
    single integer division — no merge-order-sensitive double math
    anywhere."""
    d = _tokenized_docs(spark, sf_dir)
    s = quality_score_col(F.col("words"), F.col("n_chars"))
    bucket = F.least(F.floor(s * 10).cast("int"), F.lit(9))
    return (
        d.select(bucket.alias("bucket"), "lang",
                 s.cast("decimal(18,6)").alias("s6"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
             .alias("en_docs"),
             F.sum("s6").cast("double").alias("sum_s"))
        .withColumn("en_rate",
                    F.round(F.col("en_docs").cast("double")
                            / F.col("docs").cast("double"), 4))
    )


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (pool-adjacent-violators) of the quality-score
    → label-rate curve, expressed RELATIONALLY via the minimax identity
    iso[i] = max_{j≤i} min_{k≥i} avg(y[j..k]): after ONE corpus groupBy to
    the ≤10-row bucket relation, the 'iterative' PAVA fit is two range
    joins over K-row relations (K³ ≤ 1000 tuples) — no driver loop, no
    corpus re-entry, and the shape is identical at 100 TB because K is
    the bucket count, not the data. Range averages are exact integer
    ratios (Σen, Σdocs over [j..k]); min/max over the resulting doubles
    is merge-order-free, so the fit hashes deterministically. The output
    is the calibration table a scoring pipeline ships: raw vs isotonic
    (monotone) rate per bucket."""
    d = _tokenized_docs(spark, sf_dir)
    s = quality_score_col(F.col("words"), F.col("n_chars"))
    bucket = F.least(F.floor(s * 10).cast("int"), F.lit(9))
    b = (d.select(bucket.alias("bucket"), "lang")
         .groupBy("bucket")
         .agg(F.count(F.lit(1)).alias("docs"),
              F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
              .alias("en")))
    jj = b.select(F.col("bucket").alias("j"))
    kk = b.select(F.col("bucket").alias("k"))
    mm = b.select(F.col("bucket").alias("mb"),
                  F.col("docs").alias("mdocs"), F.col("en").alias("men"))
    ranges = (jj.crossJoin(kk).filter(F.col("j") <= F.col("k"))
              .join(mm, (F.col("mb") >= F.col("j"))
                    & (F.col("mb") <= F.col("k")))
              .groupBy("j", "k")
              .agg(F.sum("mdocs").alias("rdocs"),
                   F.sum("men").alias("ren")))
    ravg = F.col("ren").cast("double") / F.col("rdocs").cast("double")
    ii = b.select(F.col("bucket").alias("i"),
                  F.col("docs").alias("idocs"), F.col("en").alias("ien"))
    inner = (ii.join(ranges, (F.col("j") <= F.col("i"))
                     & (F.col("k") >= F.col("i")))
             .groupBy("i", "idocs", "ien", "j")
             .agg(F.min(ravg).alias("mn")))
    iso = inner.groupBy("i", "idocs", "ien").agg(F.max("mn").alias("iso"))
    return iso.select(
        F.col("i").alias("bucket"),
        F.col("idocs").cast("long").alias("docs"),
        F.col("ien").cast("long").alias("en_docs"),
        F.round(F.col("ien").cast("double") / F.col("idocs").cast("double"),
                6).alias("raw_rate"),
        F.round(F.col("iso"), 6).alias("iso_rate"),
    )


def q_score_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-DRIFT MONITORING — Population Stability Index between a
    reference and a current corpus slice (the model-monitoring check a
    production scoring pipeline runs per batch): quality-score decile
    histograms of the two slices (even/odd doc_id stands in for
    yesterday/today), Laplace-smoothed rates, per-bucket PSI
    contribution (p−q)·ln(p/q). Per-bucket terms are emitted as ROWS
    (the verified artifact) rather than pre-folded into one scalar — no
    merge-order float accumulation anywhere; each term is single-shot
    arithmetic on integer counts. Scale: one scan, a 20-key groupBy,
    window totals over 10 rows."""
    from pyspark.sql import Window

    d = _tokenized_docs(spark, sf_dir)
    s = quality_score_col(F.col("words"), F.col("n_chars"))
    bucket = F.least(F.floor(s * 10).cast("int"), F.lit(9))
    side = (F.col("doc_id") % 2 == 0)
    per = (d.select(bucket.alias("bucket"), side.alias("is_ref"))
           .groupBy("bucket")
           .agg(F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
                .alias("ref_n"),
                F.sum(F.when(F.col("is_ref"), 0).otherwise(1))
                .alias("cur_n")))
    w = Window.partitionBy(F.lit(1))
    p = ((F.col("ref_n") + 1).cast("double")
         / (F.sum("ref_n").over(w) + 10).cast("double"))
    q = ((F.col("cur_n") + 1).cast("double")
         / (F.sum("cur_n").over(w) + 10).cast("double"))
    return per.select(
        "bucket", "ref_n", "cur_n",
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL ASSOCIATION TEST — chi-square independence of
    lang × source (the EDA/data-quality check for 'is the language mix
    uniform across crawls'): per-cell observed count, expected count
    under independence (row·col/total), and the chi contribution
    ((obs−exp)²/exp on the ROUNDED expected, so both engines square the
    same value). All inputs are integer counts; every float step is a
    single division or product — nothing merge-order-sensitive. One
    scan, one (lang, source) groupBy, window marginals over cell-sized
    rows."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    cells = (d.groupBy("lang", "source")
             .agg(F.count(F.lit(1)).alias("obs")))
    w_l = Window.partitionBy("lang")
    w_s = Window.partitionBy("source")
    w_all = Window.partitionBy(F.lit(1))
    expected = F.round(
        (F.sum("obs").over(w_l) * F.sum("obs").over(w_s)).cast("double")
        / F.sum("obs").over(w_all).cast("double"), 6)
    return (cells
            .withColumn("expected", expected)
            .withColumn("chi_term",
                        F.round(F.pow(F.col("obs") - F.col("expected"), 2)
                                / F.col("expected"), 6)))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: per-language hit counts, highest
    wins (ties by language name) — compared against the dataset's own
    ``lang`` column for an accuracy rollup."""
    d = _tokenized_docs(spark, sf_dir)
    w = F.col("words")

    def marker_hits(markers):
        # NB: a closure, not a default-arg lambda — PySpark binds a second
        # lambda parameter to the array index
        return F.size(F.filter(w, lambda x: x.isin(*markers)))

    hits = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    guess = F.when(best == 0, "unknown")
    for lang in sorted(LANG_MARKERS):  # tie → alphabetically first language
        guess = guess.when(hits[lang] == best, lang)
    return (
        d.select("lang", guess.alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("cnt"))
    )


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting + exact-hash dedup in one: md5 over the
    10-word prefix (the corpus's designed near-dup key) → keep the lowest
    doc_id per fingerprint; returns the duplicate groups."""
    d = _tokenized_docs(spark, sf_dir)
    fp = F.md5(F.concat_ws(" ", F.slice(F.col("words"), 1, 10)))
    return (
        d.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keeper"),
            # Stringified (comma-joined) so the result is hashable for the
            # driver's pandas canonicalizer; numeric sort happens pre-join.
            F.array_join(
                F.transform(F.sort_array(F.collect_list("doc_id")), lambda v: v.cast("string")),
                ",",
            ).alias("members"),
        )
        .filter(F.col("dup_count") > 1)
    )


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4,
                        text_col: str = "text") -> DataFrame:
    """MOSS-style winnowing (Schleimer et al., SIGMOD'03): positional
    k-gram hashes → sliding windows of ``w`` hashes → keep each window's
    minimum → distinct fingerprint set per document. Guarantees any match
    of length ≥ w+k-1 tokens between two documents shares a fingerprint.

    Pure higher-order Column expressions, all under whole-stage codegen —
    no shuffle, no Python; at 100 TB this is a single map pass whose
    output feeds an equi-join on fingerprint exactly like the LSH band
    join in operators.dedup.

    Shape matters here: both the k-gram hashing and the rolling window
    minimum are ``arrays_zip`` over k (resp. w) SHIFTED SLICES of a
    column materialized by the previous projection — one linear pass
    each. The obvious nested form (``transform(sequence(...), i ->
    md5(element_at(words, i)...))`` then ``transform(..., j ->
    array_min(slice(khs, j, w)))``) re-evaluates the un-materialized
    inner arrays inside every lambda iteration — O(n²·|doc|) work that
    took 298 s for 5 000 avg-54-word docs at sf0.1; this form takes ~2 s.

    Returns (doc_id, fingerprints array<string>)."""
    words = F.split(F.lower(text_col), " ")
    staged = docs.select("doc_id", words.alias("__words"))
    wcol = F.col("__words")
    khs = F.transform(
        _ngrams(wcol, k),
        lambda g: F.md5(F.concat_ws(" ", *[g[str(j)] for j in range(k)])),
    )
    staged = staged.select("doc_id", wcol, khs.alias("__khs"))
    kcol = F.col("__khs")
    win_len = F.greatest(F.size(kcol) - (w - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(kcol, j + 1, win_len).alias(str(j)) for j in range(w)])
    wins = F.transform(zipped, lambda s: F.least(*[s[str(j)] for j in range(w)]))
    fps = F.when(F.size(wcol) >= k + w - 1, F.array_distinct(wins)).otherwise(
        F.array().cast("array<string>"))
    return staged.select("doc_id", fps.alias("fingerprints"))


def winnow_exploded(docs: DataFrame, k: int = 3, w: int = 4) -> DataFrame:
    """The materialized (doc_id, fingerprint) relation — see the barrier
    rationale in winnow_pairs."""
    return winnow_fingerprints(docs, k, w).localCheckpoint().select(
        "doc_id", F.explode("fingerprints").alias("fp"))


def winnow_pairs(docs: DataFrame, k: int = 3, w: int = 4,
                 max_df: int = 20, fp: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs sharing ≥1 winnowing fingerprint, with the
    shared-fingerprint count: explode → equi-join on the fingerprint (the
    scale path — bucket key join, never all-pairs).

    Fingerprints appearing in more than ``max_df`` documents are dropped
    before the pair join — MOSS's own "stop fingerprint" rule (Schleimer
    et al. §5 ignore over-common fingerprints as boilerplate). This is
    also the quadratic-blowup guard: a repeated-everywhere phrase puts its
    fingerprint in every document, and an uncapped bucket of n docs joins
    into n²/2 pairs (measured: the sf0.1 word-soup corpus, vocabulary
    ~40 words, hangs the suite for minutes uncapped; capped it's ~2 s).
    With the cap, any bucket yields ≤ max_df²/2 pairs. Discriminative
    fingerprints — a run duplicated across a handful of docs — survive."""
    # localCheckpoint BEFORE the explode, for two reasons. (1) The
    # fingerprint relation feeds THREE consumers (the df histogram and
    # both legs of the pair join) — materialize the md5/zip pipeline once,
    # the same shingle-once discipline as operators.dedup. (2) Explode
    # over the raw expression triggers InferFiltersFromGenerate: Catalyst
    # infers `size(fingerprints) > 0` and pushes it below the projections,
    # substituting the WHOLE chain into an interpreted Filter in its
    # fully-inlined form — every slice re-derives split(text), the exact
    # quadratic shape the staged projections avoid (measured: ~6 s extra
    # at sf0.1; with the barrier the filter tests a materialized array).
    # At 100 TB this is per-executor-disk rows of (doc_id, hash array) —
    # small next to the corpus.
    if fp is None:
        fp = winnow_exploded(docs, k, w)
    rare = fp.groupBy("fp").agg(F.count("*").alias("df")).filter(
        F.col("df") <= max_df)
    fp = fp.join(rare.select("fp"), "fp")
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fingerprints"))
    )


WINNOW_MIN_SHARED = 3  # candidate pairs need ≥3 shared fingerprints
WINNOW_MAX_DF = 20     # stop-fingerprint document-frequency cap


@corpus_memo(table="documents")
def _bigram_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded bigram relation (doc_id, source, lang, ph, bh) shared
    by the corpus-LM scorer and the DSIR weigher — each consumes it three
    times (two count tables + the scoring join), so one materialization
    serves six subtree scans across the two operators. Narrow (two
    md5 digests + keys), so the checkpoint's loss of column pruning is
    immaterial; at 100 TB this is the persisted bigram side-table the
    first scoring job writes."""
    d = _tokenized_docs(spark, sf_dir)
    return (
        d.select("doc_id", "source", "lang",
                 F.explode(_ngrams(F.col("words"), 2)).alias("g"))
        .select("doc_id", "source", "lang",
                F.md5(F.col("g")["0"]).alias("ph"),
                F.md5(F.concat_ws(" ", F.col("g")["0"], F.col("g")["1"]))
                .alias("bh"))
        .localCheckpoint()
    )


# memoized per (session, sf_dir): repeated gate/bench runs re-probe a
# built relation instead of re-fingerprinting the corpus
@corpus_memo(table="documents")
def _winnow_fp_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_exploded(load_table(spark, "documents", sf_dir))


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup candidates as a verified query: document pairs
    sharing ≥3 winnowing fingerprints (single-fingerprint pairs are common
    phrases; three window minima in common means a real shared run). Same
    equi-join-on-fingerprint scale shape as the LSH band join."""
    return winnow_pairs(
        None, max_df=WINNOW_MAX_DF, fp=_winnow_fp_relation(spark, sf_dir)
    ).filter(F.col("shared_fingerprints") >= WINNOW_MIN_SHARED)


def q_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy on full text): corpus-level stats. One
    shuffle on the 128-bit hash; at 100 TB this is the cheapest dedup pass
    and runs before any fuzzy stage."""
    d = load_table(spark, "documents", sf_dir)
    h = F.md5(F.col("text"))
    per = d.groupBy(h.alias("h")).agg(F.count("*").alias("c"))
    return per.agg(
        F.sum("c").alias("total_docs"),
        F.count("*").alias("distinct_docs"),
        (F.sum("c") - F.count("*")).alias("dups_removed"),
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


def _marker_sql(lang):
    return ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])


_LANG_HITS_SQL = ",\n               ".join(
    f"len(list_filter(string_split(lower(text), ' '), x -> x IN ({_marker_sql(lang)}))) AS hits_{lang}"
    for lang in LANG_MARKERS
)
_BEST_SQL = "greatest(" + ", ".join(f"hits_{lang}" for lang in LANG_MARKERS) + ")"
_GUESS_SQL = "CASE WHEN " + _BEST_SQL + " = 0 THEN 'unknown' " + " ".join(
    f"WHEN hits_{lang} = {_BEST_SQL} THEN '{lang}'" for lang in sorted(LANG_MARKERS)
) + " END"

def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per source: explode words → tf per (source, term),
    df across sources, idf = ln(n_sources/df), rank by score. Two shuffles
    (term counts, rank) — the classic corpus-statistics shape.

    n_sources enters the plan as a 1-row broadcast cross join (the
    scalar_subquery pattern), NOT a mid-build ``.count()`` — a driver
    action inside query construction forces an extra job and makes the
    "query" two jobs deep at 100 TB. No repartition before the explode:
    shuffling full text rows to gain map parallelism costs more than the
    skewed scan it fixes (r2 regression, 1.04 → 1.53 s). Since r11 the
    tf relation is the shared ``_term_freq`` checkpoint (explode +
    term exchange paid once across tfidf/zipf/heaps)."""
    tfreq = _term_freq(spark, sf_dir)
    tf = tfreq.select("source", F.col("w").alias("term"),
                      F.col("c").alias("tf"))
    # n_sources stays a census of ALL docs (a null-text source would be
    # absent from the exploded tf relation but counted here) — a pruned
    # one-column scan of the tokenized side-table, not a token explode
    nsrc = _tokenized_docs(spark, sf_dir).agg(
        F.countDistinct("source").alias("n_sources"))
    from pyspark.sql import Window

    # df rides a count-over-window on the ALREADY-AGGREGATED tf relation
    # (its rows are distinct (source, term), so rows-per-term == distinct
    # sources per term) — replaces the separate groupBy+join back, which
    # cost an extra aggregate plus a join of two term-shuffled relations
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(nsrc))
        .withColumn("score", F.round(
            F.col("tf") * F.log(F.col("n_sources").cast("double") / F.col("df")), 4))
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "rk", "term", "score")
    )


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (50-char buckets) per language."""
    d = load_table(spark, "documents", sf_dir)
    bucket = F.floor(F.col("n_chars") / 50).cast("int")
    return d.groupBy("lang", bucket.alias("bucket")).agg(F.count("*").alias("cnt"))


def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p95) of document length per
    source — Spark's ``percentile`` matches ANSI percentile_cont."""
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy("source").agg(
        F.round(F.percentile("n_chars", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 2).alias("p95"),
        F.count("*").alias("docs"),
    )


def q_quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cleaning verdicts: first failing rule wins (too-short /
    too-long / too-few-stopwords / kept), rolled up per source — the
    pipeline stage that gates documents before dedup/training."""
    d = _tokenized_docs(spark, sf_dir)
    w = F.col("words")
    n = F.size(w)
    stop_ratio = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))) / n
    verdict = (
        F.when(n < 20, "too_short")
        .when(n > 90, "too_long")
        .when(stop_ratio < 0.02, "too_few_stopwords")
        .otherwise("kept")
    )
    return d.groupBy("source", verdict.alias("verdict")).agg(F.count("*").alias("cnt"))


def q_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score of document length as built-in window functions —
    ``(n_chars - avg over w) / stddev_samp over w`` stays entirely inside
    whole-stage codegen: one shuffle on the group key, zero Python workers.
    This is the GATE form; the grouped-map ``applyInPandas`` formulation of
    the same semantics lives in ``zscore_normalize_pandas`` as the
    custom-operator pattern demo (pytest-pinned equivalent, not shipped in
    the hot path — at 100 TB it would pay Arrow transfer for every row)."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source")
    # exact integer sufficient statistics over the window frame (n, Σx,
    # Σx² in DECIMAL) + single-shot double math — a windowed
    # stddev_samp(double) folds moments in row-arrival order within the
    # frame, the same merge-order flake class the r5/r6 gate hit
    x = F.col("n_chars").cast("decimal(19,0)")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(x).over(w).cast("double")
    sxx = F.sum(x * x).over(w).cast("double")
    xd = F.col("n_chars").cast("double")
    z = ((xd - sx / n)
         / F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1.0)))))
    return (
        d.select("doc_id", "source", F.round(z, 3).alias("z"))
        .filter(F.col("doc_id") < 100)
    )


def zscore_normalize_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` formulation of q_zscore_normalize —
    kept as the escape-hatch pattern for operators that genuinely need the
    whole group frame at once (this one doesn't; tests pin its equivalence
    to the window form)."""
    import pandas as pd

    d = load_table(spark, "documents", sf_dir)

    def zscore(pdf: "pd.DataFrame") -> "pd.DataFrame":
        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=1)
        out = pdf[["doc_id", "source"]].copy()
        out["z"] = ((pdf["n_chars"] - mu) / sd).round(3)
        return out

    return (
        d.groupBy("source")
        .applyInPandas(zscore, schema="doc_id long, source string, z double")
        .filter(F.col("doc_id") < 100)
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — the sketch path for 100 TB cardinality
    estimation (no exact-match oracle possible; accuracy bounds are pinned
    by tests/test_text_ops.py instead)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
    )


def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE cardinality sketches (Apache DataSketches HLL via Spark's
    ``hll_sketch_agg``/``hll_union_agg``): one sketch per shard
    (l_returnflag partition), unioned into a global estimate WITHOUT
    touching rows again — the exact pattern a 100 TB pipeline uses to
    keep per-partition stats that roll up to corpus totals (each parquet
    partition stores its binary sketch; corpus cardinality is a
    sketch-sized union, not a re-scan). approx_count_distinct cannot do
    this: its HLL++ buffer never leaves the aggregate. Verified-sketch
    form: shard count and exact distinct hash-verify; the union estimate
    verifies as a within-10% indicator (default lgConfigK=12 → ~1.6%
    rsd, so 10% is a many-sigma bound the oracle claims outright)."""
    li = load_table(spark, "lineitem", sf_dir)
    sketches = (li.groupBy("l_returnflag")
                .agg(F.expr("hll_sketch_agg(l_partkey)").alias("sk")))
    merged = sketches.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.count(F.lit(1)).alias("n_shards"),
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("ep"))
    return merged.crossJoin(exact).select(
        F.col("n_shards").cast("long").alias("n_shards"),
        F.col("ep").alias("exact_parts"),
        F.when(F.abs(F.col("est") - F.col("ep")) <= 0.1 * F.col("ep"),
               1.0).otherwise(0.0).alias("union_ok"),
    )


ORACLE_HLL_UNION = """
    SELECT CAST((SELECT count(DISTINCT l_returnflag) FROM lineitem)
                AS BIGINT) AS n_shards,
           CAST((SELECT count(DISTINCT l_partkey) FROM lineitem)
                AS BIGINT) AS exact_parts,
           CAST(1.0 AS DOUBLE) AS union_ok
"""


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch (Greenwald-Khanna via ``percentile_approx``) checked
    against the exact percentiles, the same verified-sketch pattern as
    approx_distinct: exact values hash-verify, the sketch verifies as a
    within-2% indicator the oracle claims outright. At 100 TB only the
    sketch runs (mergeable, bounded memory); the exact percentile here is
    the local-scale ground truth.

    Cost shape: the exact side is DISTRIBUTED TWO-PASS SELECTION, not the
    ``percentile(col, array)`` aggregate (that exact aggregate is an
    interpreted per-row ObjectAgg — it cost 2.8 s here and 26 s in
    quantile_merge's 256-point form at sf0.1): pass 1 gets count + a
    high-accuracy sketch pivot per quantile, pass 2 counts each pivot's
    EXACT rank with conditional sums, then the true order statistics are
    plucked from a rank-error-BOUNDED TakeOrdered around the pivot
    (≤ n/accuracy rows, ~60 at sf0.1) and interpolated driver-side —
    every stage whole-stage-codegen, memory bounded by the sketch, and
    the same algorithm selects exact quantiles from 100 TB."""
    import math

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_extendedprice").alias("v"))
    qs = [0.5, 0.95]
    first = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("v", F.array(*[F.lit(q) for q in qs]),
                            F.lit(10000)).alias("a")).collect()[0]
    n, approx = int(first["n"]), [float(x) for x in first["a"]]
    ranks = li.agg(*[
        F.sum(F.when(F.col("v") <= approx[j], 1).otherwise(0)).alias(f"r{j}")
        for j in range(len(qs))]).collect()[0]

    exact = []
    for j, q in enumerate(qs):
        k = 1.0 + (n - 1) * q
        lo, hi = math.floor(k), math.ceil(k)
        a, r_a = approx[j], int(ranks[f"r{j}"])
        vals: dict[int, float] = {}
        below = [m for m in (lo, hi) if m <= r_a]
        above = [m for m in (lo, hi) if m > r_a]
        if below:
            cnt = r_a - min(below) + 1  # bounded by the sketch rank error
            top = [r["v"] for r in li.filter(F.col("v") <= a)
                   .orderBy(F.col("v").desc()).limit(cnt).collect()]
            for m in below:
                vals[m] = top[r_a - m]
        if above:
            cnt = max(above) - r_a
            bot = [r["v"] for r in li.filter(F.col("v") > a)
                   .orderBy(F.col("v").asc()).limit(cnt).collect()]
            for m in above:
                vals[m] = bot[m - r_a - 1]
        exact.append(vals[lo] + (k - lo) * (vals[hi] - vals[lo]))

    # Spark-side round (HALF_UP, matching DuckDB round) — never Python's
    # banker's rounding
    ex = spark.range(1).select(
        F.round(F.lit(exact[0]), 3).alias("p50_exact"),
        F.round(F.lit(exact[1]), 3).alias("p95_exact"),
        F.lit(approx[0]).alias("a50"),
        F.lit(approx[1]).alias("a95"),
    )

    def ok(a, e):
        return (F.when(F.abs(F.col(a) - F.col(e)) <= 0.02 * F.col(e), 1.0)
                .otherwise(0.0))
    return ex.select(
        "p50_exact", "p95_exact",
        ok("a50", "p50_exact").alias("approx_p50_ok"),
        ok("a95", "p95_exact").alias("approx_p95_ok"),
    )


QSK_K = 256          # order statistics kept per shard quantile summary


def q_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile summaries — the per-partition-stats pattern for
    percentiles, next to q_hll_union's cardinality form. Each summary
    unit (l_returnflag shard × physical input partition) reduces to
    QSK_K equi-depth order statistics: ``ntile(K)`` over a window sorted
    within the unit, then (max value, row count) per bucket — the bucket
    max is the order statistic, the count its EXACT weight. The global
    p50/p95 come from the weighted merge of the summary rows ALONE —
    lineitem is never re-scanned for the estimate. At 100 TB each
    parquet partition stores its K-row summary next to its HLL sketch;
    corpus percentiles are a summary-sized weighted sort, not a re-scan
    (``percentile_approx`` cannot do this: its GK buffer never leaves
    the aggregate). Keying the window by ``spark_partition_id`` too
    keeps the sort per-partition-sized — no per-shard single reducer at
    scale. NOT ``percentile(col, array(256 fractions))``: that exact
    aggregate is interpreted per-row and measured 26s vs 1s for this
    whole-stage-codegen sort form on the same sf0.1 input.

    Error bound: within a summary the cumulative weight at a bucket max
    is an exact rank; merging S summaries, rows below the query point
    but above their bucket's counted boundary cost at most one bucket
    per summary: Σ n_i/K = n/K ≈ 0.4% of rank at K=256, independent of
    S. Verified-sketch form: shard count and total hash-verify; the
    estimates verify as within-1%-of-rank indicators (deterministically
    1.0 — the oracle claims exactly that)."""
    from pyspark.sql import Window

    li = (load_table(spark, "lineitem", sf_dir)
          .select("l_returnflag", F.col("l_extendedprice").alias("v")))
    unit = Window.partitionBy("l_returnflag", "pid").orderBy("v")
    rows = (li.withColumn("pid", F.spark_partition_id())
            .withColumn("b", F.ntile(QSK_K).over(unit))
            .groupBy("l_returnflag", "pid", "b")
            .agg(F.max("v").alias("v"),
                 F.count(F.lit(1)).cast("double").alias("w"))
            .select("v", "w"))
    totals = li.agg(F.count(F.lit(1)).alias("n_total"),
                    F.countDistinct("l_returnflag").alias("n_shards"))
    # single-partition window is fine: 3·QSK_K summary rows, not data rows
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    est = (rows.select("v", F.sum("w").over(cum).alias("cw"))
           .crossJoin(F.broadcast(totals))
           .agg(F.min(F.when(F.col("cw") >= 0.5 * F.col("n_total"),
                             F.col("v"))).alias("e50"),
                F.min(F.when(F.col("cw") >= 0.95 * F.col("n_total"),
                             F.col("v"))).alias("e95")))
    # ground-truth rank of each estimate (local-scale verification pass
    # only — production ships the summaries without it)
    ranks = li.crossJoin(F.broadcast(est)).agg(
        F.sum(F.when(F.col("v") <= F.col("e50"), 1)
              .otherwise(0)).alias("r50"),
        F.sum(F.when(F.col("v") <= F.col("e95"), 1)
              .otherwise(0)).alias("r95"),
    )

    def rank_ok(r, q):
        frac = F.col(r).cast("double") / F.col("n_total")
        return F.when(F.abs(frac - q) <= 0.01, 1.0).otherwise(0.0)

    return ranks.crossJoin(F.broadcast(totals)).select(
        F.col("n_shards").cast("long").alias("n_shards"),
        F.col("n_total").cast("long").alias("total_rows"),
        rank_ok("r50", 0.5).alias("p50_rank_ok"),
        rank_ok("r95", 0.95).alias("p95_rank_ok"),
    )


ORACLE_QUANTILE_MERGE = """
    SELECT CAST((SELECT count(DISTINCT l_returnflag) FROM lineitem)
                AS BIGINT) AS n_shards,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS total_rows,
           CAST(1.0 AS DOUBLE) AS p50_rank_ok,
           CAST(1.0 AS DOUBLE) AS p95_rank_ok
"""


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches KLL quantile sketch with an EXPLICIT merge stage —
    the library sibling of q_quantile_merge's hand-built equi-depth
    summary: one ``kll_sketch_agg_double`` per l_returnflag shard, then
    the binary ``kll_sketch_merge_double`` folded over the shard
    sketches with the ``aggregate`` higher-order function (Spark ships
    the pairwise merge only; the fold turns it into an N-way one).
    Global p50/p95 come from the merged sketch alone. At 100 TB the
    per-shard sketches are kilobytes and the fold is driver-free.

    Verified-sketch form: ``kll_sketch_get_n`` is an exact row count
    (hash-checked); the quantile estimates verify as within-5%-of-rank
    indicators via one ground-truth re-scan (KLL k=200 ⇒ ~1.7%
    normalized rank error at 99% confidence; the sketch is randomized,
    so the margin is 3× the bound to keep the indicator deterministic
    in practice — the oracle claims 1.0)."""
    li = (load_table(spark, "lineitem", sf_dir)
          .select("l_returnflag", F.col("l_extendedprice").alias("v")))
    sketches = (li.groupBy("l_returnflag")
                .agg(F.kll_sketch_agg_double("v").alias("sk")))
    merged = (sketches.agg(F.collect_list("sk").alias("sks"))
              .select(F.aggregate(
                  F.slice("sks", 2, 1 << 30),
                  F.element_at("sks", 1),
                  lambda acc, x: F.kll_sketch_merge_double(acc, x),
              ).alias("m")))
    est = merged.select(
        F.kll_sketch_get_n_double("m").alias("n_total"),
        F.kll_sketch_get_quantile_double("m", F.lit(0.5)).alias("e50"),
        F.kll_sketch_get_quantile_double("m", F.lit(0.95)).alias("e95"),
    )
    ranks = li.crossJoin(F.broadcast(est)).agg(
        F.first("n_total").alias("n_total"),
        F.sum(F.when(F.col("v") <= F.col("e50"), 1).otherwise(0)).alias("r50"),
        F.sum(F.when(F.col("v") <= F.col("e95"), 1).otherwise(0)).alias("r95"),
    )

    def rank_ok(r, q):
        frac = F.col(r).cast("double") / F.col("n_total")
        return F.when(F.abs(frac - q) <= 0.05, 1.0).otherwise(0.0)

    return ranks.select(
        F.col("n_total").cast("long").alias("n_total"),
        rank_ok("r50", 0.5).alias("p50_rank_ok"),
        rank_ok("r95", 0.95).alias("p95_rank_ok"),
    )


ORACLE_KLL_QUANTILES = """
    SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_total,
           CAST(1.0 AS DOUBLE) AS p50_rank_ok,
           CAST(1.0 AS DOUBLE) AS p95_rank_ok
"""


def q_theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches THETA sketches — the distinct-count sketch family
    that supports set ALGEBRA, which HLL cannot: union via
    ``theta_union_agg``, intersection via ``theta_intersection_agg``,
    difference via the binary ``theta_difference``. One sketch per
    l_returnflag shard over l_suppkey, then R∪A∪N, R∩A and R∖A are
    computed from the SKETCHES alone — no re-scan. At 100 TB this is
    how per-partition audience/membership sketches answer overlap
    questions (shared users between two corpus slices) at merge time.

    Verified-sketch form: the exact union/intersection/difference
    cardinalities (one flag-census pass: max-per-suppkey booleans) are
    hash-checked; the theta estimates verify as within-2% indicators —
    below the default k=4096 distinct values a theta sketch is in exact
    mode, so at gate/bench scale the estimates are exactly equal and
    the indicator is deterministic (the oracle claims 1.0)."""
    li = load_table(spark, "lineitem", sf_dir)
    sk = (li.groupBy("l_returnflag")
          .agg(F.theta_sketch_agg("l_suppkey").alias("sk")))
    union_est = sk.agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.theta_sketch_estimate(F.theta_union_agg("sk")).alias("u_est"))
    ra = sk.filter(F.col("l_returnflag").isin("R", "A"))
    inter_est = ra.agg(
        F.theta_sketch_estimate(F.theta_intersection_agg("sk")).alias("i_est"))
    diff_est = (ra.agg(
        F.first(F.when(F.col("l_returnflag") == "R", F.col("sk")),
                ignorenulls=True).alias("skr"),
        F.first(F.when(F.col("l_returnflag") == "A", F.col("sk")),
                ignorenulls=True).alias("ska"))
        .select(F.theta_sketch_estimate(
            F.theta_difference("skr", "ska")).alias("d_est")))
    census = (li.groupBy("l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("r"),
        F.max(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("a"))
        .agg(F.count(F.lit(1)).alias("exact_union"),
             F.sum(F.col("r") * F.col("a")).alias("exact_inter"),
             F.sum(F.col("r") * (1 - F.col("a"))).alias("exact_diff")))

    def ok(est, exact):
        return (F.when(F.abs(F.col(est) - F.col(exact))
                       <= 0.02 * F.greatest(F.col(exact), F.lit(1)), 1.0)
                .otherwise(0.0))

    return (union_est.crossJoin(inter_est).crossJoin(diff_est)
            .crossJoin(census).select(
                F.col("n_shards").cast("long").alias("n_shards"),
                F.col("exact_union").cast("long").alias("exact_union"),
                F.col("exact_inter").cast("long").alias("exact_inter"),
                F.col("exact_diff").cast("long").alias("exact_diff"),
                ok("u_est", "exact_union").alias("union_ok"),
                ok("i_est", "exact_inter").alias("inter_ok"),
                ok("d_est", "exact_diff").alias("diff_ok")))


ORACLE_THETA_SKETCH_OPS = """
    SELECT CAST((SELECT count(DISTINCT l_returnflag) FROM lineitem)
                AS BIGINT) AS n_shards,
           CAST((SELECT count(DISTINCT l_suppkey) FROM lineitem)
                AS BIGINT) AS exact_union,
           CAST((SELECT count(*) FROM
                 (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
                  INTERSECT
                  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A') t)
                AS BIGINT) AS exact_inter,
           CAST((SELECT count(*) FROM
                 (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
                  EXCEPT
                  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A') t)
                AS BIGINT) AS exact_diff,
           CAST(1.0 AS DOUBLE) AS union_ok,
           CAST(1.0 AS DOUBLE) AS inter_ok,
           CAST(1.0 AS DOUBLE) AS diff_ok
"""


def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap aggregates — the
    roaring-bitmap-style pattern for integer keys: bucket each key
    (``bitmap_bucket_number``), set its bit (``bitmap_bit_position`` →
    ``bitmap_construct_agg``) per (slice, bucket, input partition), OR
    the partials per bucket (``bitmap_or_agg`` — the mergeability
    proof), and sum ``bitmap_count`` per slice. Unlike HLL/theta this
    is exact at every scale, at the cost of bitmap size ∝ key range /
    2^15 buckets; unlike count(DISTINCT) the per-bucket bitmaps are
    storable partition stats that merge without a re-scan. The AND
    form (``bitmap_and_agg`` over buckets present in BOTH slices)
    yields the exact slice intersection the same way."""
    li = load_table(spark, "lineitem", sf_dir)
    lvl1 = (li.select("l_returnflag",
                      F.bitmap_bucket_number("l_suppkey").alias("bkt"),
                      F.bitmap_bit_position("l_suppkey").alias("pos"),
                      F.spark_partition_id().alias("pid"))
            .groupBy("l_returnflag", "bkt", "pid")
            .agg(F.bitmap_construct_agg("pos").alias("bm")))
    lvl2 = (lvl1.groupBy("l_returnflag", "bkt")
            .agg(F.bitmap_or_agg("bm").alias("bm")))
    per_flag = (lvl2.groupBy("l_returnflag")
                .agg(F.sum(F.bitmap_count("bm")).alias("exact_distinct"))
                .select(F.col("l_returnflag").alias("slice"),
                        F.col("exact_distinct").cast("long")
                        .alias("exact_distinct")))
    inter = (lvl2.filter(F.col("l_returnflag").isin("R", "A"))
             .groupBy("bkt")
             .agg(F.bitmap_and_agg("bm").alias("ab"),
                  F.count(F.lit(1)).alias("c"))
             .agg(F.sum(F.when(F.col("c") == 2, F.bitmap_count("ab"))
                        .otherwise(F.lit(0))).alias("n"))
             .select(F.lit("R&A").alias("slice"),
                     F.col("n").cast("long").alias("exact_distinct")))
    return per_flag.unionByName(inter)


ORACLE_BITMAP_DISTINCT = """
    SELECT l_returnflag AS slice,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_distinct
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'R&A' AS slice, CAST(count(*) AS BIGINT) AS exact_distinct
    FROM (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
          INTERSECT
          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A') t
"""


PMI_CAP = 12      # distinct tokens kept per doc (lexicographic)
PMI_MIN_C = 5     # minimum pair support
PMI_TOP = 20


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION EXTRACTION — top pointwise-mutual-information token
    pairs over per-document co-occurrence (the corpus-statistics op
    behind phrase mining and compound-term vocab induction):
    PMI(a,b) = ln(c_ab·N / (c_a·c_b)) over document-level counts.

    Shuffle shape (stress-tuned): token capping is SHUFFLE-FREE — each
    doc keeps its PMI_CAP lexicographically-smallest distinct tokens via
    pure array expressions (split → filter → array_distinct →
    array_sort → slice; lexicographic rather than first-occurrence
    because DuckDB's list_distinct does not preserve encounter order),
    and the ≤ CAP·(CAP−1)/2 pairs per doc come from IN-ARRAY
    combinations (indexed transform over the sorted array, so wa<wb is
    free) — no self-join, no 2× pre-filter blowup. The one heavy
    exchange left is the pair groupBy itself, which IS the operator (a
    co-occurrence matrix build); the earlier join formulation measured
    4.9× time at 3× volume from shuffle spill, this one ships half the
    bytes. Support floor kills the hapax tail before the stats joins;
    total ordering (rounded PMI desc, pair) makes top-K
    engine-identical."""
    d = load_table(spark, "documents", sf_dir)
    arr = F.slice(F.array_sort(F.array_distinct(
        F.filter(F.split("text", " "), lambda x: x != ""))), 1, PMI_CAP)
    docs = d.select(arr.alias("toks")).filter(F.size("toks") > 0)
    # n_docs as an in-plan broadcast 1-row aggregate (r10: the former
    # .count() fired an eager corpus job at build time on every call)
    nd = docs.agg(F.count(F.lit(1)).alias("_nd"))
    uni = (docs.select(F.explode("toks").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("cw")))
    pair_arr = F.flatten(F.transform(
        "toks",
        lambda x, i: F.transform(
            F.slice("toks", i + 2, PMI_CAP),
            lambda y: F.struct(x.alias("wa"), y.alias("wb")))))
    pairs = (docs.select(F.explode(pair_arr).alias("p"))
             .select("p.wa", "p.wb")
             .groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("cab"))
             .filter(F.col("cab") >= PMI_MIN_C))
    ua = uni.select(F.col("w").alias("wa"), F.col("cw").alias("ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("cw").alias("cb"))
    return (pairs.join(ua, "wa").join(ub, "wb")
            .crossJoin(F.broadcast(nd))
            .select("wa", "wb", "cab",
                    F.round(F.log((F.col("cab").cast("double")
                                   * F.col("_nd"))
                                  / (F.col("ca") * F.col("cb"))), 6)
                    .alias("pmi"))
            .orderBy(F.desc("pmi"), "wa", "wb").limit(PMI_TOP))


ORACLE_TOKEN_PMI = f"""
    WITH docs AS (
      SELECT list_sort(list_distinct(list_filter(
                 string_split(text, ' '), x -> x <> '')))[1:{PMI_CAP}]
             AS toks
      FROM documents
    ),
    nonempty AS (SELECT toks FROM docs WHERE len(toks) > 0),
    nd AS (SELECT count(*) AS n_docs FROM nonempty),
    uni AS (
      SELECT w, count(*) AS cw
      FROM (SELECT unnest(toks) AS w FROM nonempty) GROUP BY w
    ),
    pairs AS (
      SELECT p.wa, p.wb, count(*) AS cab FROM (
        SELECT unnest(flatten(list_transform(toks, (x, i) ->
                   list_transform(toks[i + 1:], y ->
                       struct_pack(wa := x, wb := y))))) AS p
        FROM nonempty) t
      GROUP BY p.wa, p.wb HAVING count(*) >= {PMI_MIN_C}
    )
    SELECT wa, wb, CAST(cab AS BIGINT) AS cab,
           round(ln(CAST(cab AS DOUBLE) * nd.n_docs / (ua.cw * ub.cw)), 6)
               AS pmi
    FROM pairs JOIN uni ua ON pairs.wa = ua.w
               JOIN uni ub ON pairs.wb = ub.w, nd
    ORDER BY pmi DESC, wa, wb LIMIT {PMI_TOP}
"""


CMS_EPS = 0.001      # over-estimate bound: est <= exact + eps * N
CMS_CONFIDENCE = 0.99
CMS_TOP = 10


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters, the third verified sketch (after
    HLL distinct and the quantile sketch): a CMS over lineitem's supplier
    key — built distributed, merged treeAggregate-style to a driver-held
    table of eps·e⁻¹ counters — answers frequency queries for the exact
    top-N keys. CMS NEVER underestimates and overestimates by at most
    eps·N with the configured confidence, so each row verifies as a
    provable two-sided indicator the oracle claims outright; the exact
    counts hash-verify as ground truth. At 100 TB only the sketch pass
    runs (mergeable, fixed memory per executor); the exact top-N here is
    the local-scale truth the indicator is judged against. The top-N
    collect is a bounded driver action (N rows, the k-means precedent)."""
    li = load_table(spark, "lineitem", sf_dir)
    # sketch + row count in ONE aggregate pass (the sketch is the
    # mergeable aggregation buffer; count rides along for the eps·N bound)
    agg = li.agg(
        F.count_min_sketch("l_suppkey", F.lit(CMS_EPS),
                           F.lit(CMS_CONFIDENCE), F.lit(42)).alias("sk"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(agg["sk"]))
    top = (li.groupBy("l_suppkey")
           .agg(F.count(F.lit(1)).alias("exact_cnt"))
           .orderBy(F.col("exact_cnt").desc(), "l_suppkey")
           .limit(CMS_TOP).collect())
    bound = CMS_EPS * agg["n"]
    rows = [(int(r["l_suppkey"]), int(r["exact_cnt"]),
             1.0 if (r["exact_cnt"]
                     <= jcms.estimateCount(int(r["l_suppkey"]))
                     <= r["exact_cnt"] + bound) else 0.0)
            for r in top]
    # r11: literal VALUES relation — the pickled-row createDataFrame paid
    # a Python-worker round-trip on every downstream action
    return local_rows(
        spark, rows, "l_suppkey long, exact_cnt long, cms_ok double")


# The ONE definition of the hash split: 0-255 draw from the first two md5
# hex digits, thresholded 80/10/10. Every split consumer (train_val_split,
# split_leakage, assembly's leakage-safe split) and every oracle derives
# from these — retuning the ratios or draw width here moves all of them
# together.
SPLIT_TRAIN_LT = 205   # 205/256 ≈ 80%
SPLIT_VAL_LT = 230     # next 25/256 ≈ 10%


def split_col(key) -> Column:
    """train/val/test from the md5 draw of ``key`` (cast to string)."""
    draw = F.conv(F.substring(F.md5(key.cast("string")), 1, 2), 16, 10) \
        .cast("int")
    return (F.when(draw < SPLIT_TRAIN_LT, "train")
            .when(draw < SPLIT_VAL_LT, "val")
            .otherwise("test"))


def split_case_sql(key_sql: str) -> str:
    """The DuckDB twin of ``split_col`` over an SQL key expression."""
    d = f"CAST('0x' || substr(md5({key_sql}), 1, 2) AS INT)"
    return (f"CASE WHEN {d} < {SPLIT_TRAIN_LT} THEN 'train' "
            f"WHEN {d} < {SPLIT_VAL_LT} THEN 'val' ELSE 'test' END")


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: the first two hex digits of
    md5(doc_id) give a stable 0-255 draw, thresholded 80/10/10 — portable,
    seedless, and stable under corpus growth (a document's split never
    changes when other documents arrive; the property random splits lack)."""
    d = load_table(spark, "documents", sf_dir)
    split = split_col(F.col("doc_id"))
    return d.groupBy("source", split.alias("split")).agg(F.count("*").alias("cnt"))


def _ngrams(w, k: int):
    """Word k-grams as ``array<struct>`` via ``arrays_zip`` over k shifted
    slices — measured ~10× faster than building per-gram strings with
    ``transform``+``concat_ws`` (no per-element string allocation; the
    zip is a columnar reshape). Struct equality == joined-string equality
    (words can't contain the separator), so ``array_distinct``, joins and
    counts over these grams match the oracle's string form exactly.
    Below k words every slice is empty (``greatest`` guard), so the zip
    yields [] — no sequence-counts-down edge case."""
    ln = F.greatest(F.size(w) - (k - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(w, j + 1, ln) for j in range(k)])


REPETITION_FLAG_THRESHOLD = 0.1


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition scoring: the duplicate-bigram fraction of a
    document (1 − distinct/total word 2-grams) is the classic signal for
    boilerplate/keyword-stuffed pages. Per source: docs scored, docs over
    the flag threshold, and the corpus-level repetition ratio from summed
    integer counts (one double division per group — no per-row float
    accumulation order to diverge between engines).

    Scale: pure per-row column math (no shuffle) into one groupBy on the
    low-cardinality source key — the same single-pass shape at 100 TB."""
    d = _tokenized_docs(spark, sf_dir)
    bi = _ngrams(F.col("words"), 2)  # NOT distinct — repetition needs the multiset
    t = F.size(bi)
    u = F.size(F.array_distinct(bi))
    per_doc = d.select(
        "source", t.alias("t"), u.alias("u"),
        ((F.lit(1.0) - u / t) > REPETITION_FLAG_THRESHOLD).cast("int").alias("flag"),
    ).filter(F.col("t") >= 1)
    return per_doc.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum("flag").alias("flagged"),
        (F.lit(1.0) - F.sum("u") / F.sum("t")).alias("rep_ratio"),
    )


CONTAMINATION_NGRAM = 4  # production sweeps use 8–13-gram overlap; 4 keeps
                         # the synthetic corpus's collision rate testable
BENCHMARK_MOD = 97       # deterministic pseudo eval set: doc_id % 97 == 0


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: which training documents share word
    n-grams with a held-out eval set (here the deterministic doc_id % 97
    slice). Per source: contaminated docs and total matched grams.

    Scale: the eval-set gram table is tiny relative to the corpus, so the
    overlap join broadcasts it — the corpus side stays a single scan with
    no shuffle except the final source rollup."""
    d = _tokenized_docs(spark, sf_dir)
    # digest keys, not 4-string structs: the gram column feeds a distinct,
    # a broadcast build, and an equi-join (same rationale as
    # q_duplicate_spans; md5 equality == gram equality)
    digests = F.transform(
        _ngrams(F.col("words"), CONTAMINATION_NGRAM),
        lambda g: F.md5(F.concat_ws(" ", *[g[str(j)]
                                           for j in range(CONTAMINATION_NGRAM)])),
    )
    grams = d.select(
        "doc_id", "source",
        F.explode(F.array_distinct(digests)).alias("g"),
    )
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    bench = grams.filter(is_bench).select("g").distinct()
    hits = (
        grams.filter(~is_bench)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("matched"))
    )
    return hits.groupBy("source").agg(
        F.count("*").alias("contaminated_docs"),
        F.sum("matched").alias("matched_grams"),
    )


DUPSPAN_K = 6        # minimum duplicated-span length, in tokens
DUPSPAN_FLAG = 0.2   # flag docs with ≥20% of tokens inside duplicated spans


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection across documents — the distributed
    stand-in for the suffix-array ExactSubstr dedup of Lee et al. 2021
    (arXiv:2107.06499): any duplicated span of ≥ k tokens necessarily
    contains a duplicated k-gram, so a positional k-gram inverted index
    finds every such span. Per document: tokens covered by any
    cross-document-duplicated k-gram window; per source: docs, flagged
    docs (coverage ≥ 20%), covered tokens, corpus dup ratio.

    Scale: one shuffle to group grams (map-side partial on the struct
    key), one equi-join of positional grams against the duplicated-gram
    set (shuffle join — the dup set is NOT broadcast; it grows with the
    corpus), and the k-fold window expansion happens only on matched
    grams. No pair of documents is ever joined row-to-row, so there is no
    quadratic anywhere — this is what makes the k-gram relaxation
    tractable at 100 TB where true suffix arrays are not."""
    d = _tokenized_docs(spark, sf_dir)
    toks = d.select("doc_id", "source", F.col("words").alias("w"))
    # the gram relation shuffles twice (dup-set groupBy + coverage join):
    # carry a 32-char md5 of each gram instead of the 6-string struct —
    # measured 2.3 s → 1.9 s at sf0.1; md5 equality == gram equality for
    # any practical corpus, and the digest is DuckDB-computable if an
    # oracle ever needs to mirror the keys
    gram_digests = F.transform(
        _ngrams(F.col("w"), DUPSPAN_K),
        lambda g: F.md5(F.concat_ws(" ", *[g[str(j)]
                                           for j in range(DUPSPAN_K)])),
    )
    grams = toks.select(
        "doc_id", "source", F.size("w").alias("n_tokens"),
        F.posexplode(gram_digests).alias("pos", "g"),
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    # r11 (guide §2.3): coverage = |union of the fixed-length [pos,
    # pos+K-1] windows|. The K-fold position explode + per-doc
    # count_distinct shuffled K× the matched rows and built a per-doc
    # hash set; interval merging is exact and linear: positions are
    # unique per doc (posexplode), so with pos sorted the union size is
    # K for the first match + min(K, pos−prev) for each later one — a
    # lag window keyed like the groupBy (one exchange, no explode).
    from pyspark.sql import Window

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        grams.join(dup, "g")
        .select("doc_id", "pos")
        .withColumn("_gap", F.col("pos") - F.lag("pos").over(w_doc))
        .select("doc_id",
                F.when(F.col("_gap").isNull(), F.lit(DUPSPAN_K))
                .otherwise(F.least(F.lit(DUPSPAN_K), F.col("_gap")))
                .alias("_inc"))
        .groupBy("doc_id")
        .agg(F.sum("_inc").cast("long").alias("cov"))
    )
    per_doc = (
        toks.select("doc_id", "source", F.size("w").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select("doc_id", "source", "n_tokens",
                F.coalesce("cov", F.lit(0)).alias("cov"))
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum(F.when(F.col("cov") >= DUPSPAN_FLAG * F.col("n_tokens"), 1)
              .otherwise(0)).alias("flagged"),
        F.sum("cov").alias("covered_tokens"),
        F.round(F.sum("cov").cast("double") / F.sum("n_tokens"), 4).alias("dup_ratio"),
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats) — the token-diversity
    quality signal (low entropy = boilerplate / keyword stuffing).
    H = ln(n) − Σ c·ln(c) / n over per-word counts c: two groupBys, both
    partial-aggregated map-side; rounding to 4 absorbs the engines'
    float-summation-order ulps. Bounded to doc_id < 150 to keep the gate
    row set small (the expression itself is corpus-wide at scale)."""
    d = _tokenized_docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    wc = (
        d.select("doc_id", "source", F.explode("words").alias("w"))
        .groupBy("doc_id", "source", "w").agg(F.count("*").alias("c"))
    )
    per = wc.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log("c")).alias("clogc"),
    )
    return per.select(
        "doc_id", "source",
        F.col("n").alias("n_tokens"),
        F.round(F.log("n") - F.col("clogc") / F.col("n"), 4).alias("entropy"),
    )


def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted downsampling: each source gets a deterministic keep
    rate (training-mixture weights), applied with the same seedless
    md5-bucket draw as ``q_train_val_split`` — a document's keep decision
    never changes as the corpus grows, and re-runs are exactly
    reproducible (what `.sample()` can't give across engines). Per
    source: corpus total, kept count, configured weight."""
    d = load_table(spark, "documents", sf_dir)
    src_num = F.regexp_replace("source", "[^0-9]", "").cast("int")
    weight = (40 + (src_num * 7) % 60)  # keep-% in [40, 99], per source
    draw = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10) \
        .cast("int")
    kept = (draw * 100 < weight * 256).cast("int")
    return d.groupBy("source").agg(
        F.count("*").alias("total"),
        F.sum(kept).alias("kept"),
        F.max(weight).alias("weight_pct"),
    )


LM_LOW_LOGPROB = -6.0  # flag docs whose mean bigram log-prob falls below


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM perplexity proxy — the CCNet/Gopher-style quality signal
    scored WITHOUT an external model: train the bigram MLE on the corpus
    itself (P(w|prev) = C(prev,w)/C(prev)) and score every document by its
    mean bigram log-probability. Low scores mark documents whose word
    transitions are unusual for the corpus (boilerplate, keyword stuffing,
    wrong-language fragments) — the same ranking an external KenLM gives,
    minus the model download.

    Shape: one exploded bigram relation feeds BOTH count tables (pair and
    prev — map-side partial aggregation each) and the scoring join; keys
    are md5 digests, not word structs (narrow shuffles). At 100 TB the
    count tables are corpus-vocabulary-sized — they shuffle-join rather
    than broadcast, and the whole thing is three exchanges end to end.
    Per source: docs scored, mean log-prob, low-scoring docs."""
    ex = _bigram_digests(spark, sf_dir)
    # r11 (guide §2.3): a bigram hash determines its prev hash, so the
    # prev-count table folds from the PAIR-count table (Σ cb per ph over
    # the distinct-bigram relation) instead of re-shuffling the full
    # occurrence relation by ph; the two count tables join each other
    # (vocabulary-sized) BEFORE the one join onto the big relation. Full-
    # corpus exchanges drop from three (bh, ph, doc) to two (bh, doc) —
    # and the bh exchange is the same subtree as the count build, which
    # AQE's stage cache executes once. Counts and the per-row log
    # expression are unchanged — bit-identical scores.
    pair_counts = ex.groupBy("bh").agg(F.count(F.lit(1)).alias("cb"),
                                       F.max("ph").alias("ph"))
    prev_counts = pair_counts.groupBy("ph").agg(F.sum("cb").alias("cp"))
    counts = (pair_counts.join(prev_counts, "ph")
              .select("bh", "cb", "cp"))
    per_doc = (
        ex.join(counts, "bh")
        .groupBy("doc_id", "source")
        .agg(F.avg(F.log("cb") - F.log("cp")).alias("lp"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
        F.sum(F.when(F.col("lp") < LM_LOW_LOGPROB, 1).otherwise(0))
        .alias("low_docs"),
    )


DSIR_TARGET_LANG = "en"   # the "target domain" whose distribution we match
DSIR_KEEP_THRESHOLD = -0.80  # keep docs whose mean log-ratio clears this


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling weights (Xie et al., "Data
    Selection for Language Models via Importance Resampling"): score every
    document by how target-like its bigram distribution is — mean over
    bigrams of ln(target_count+1) - ln(raw_count+1) — and keep documents
    above a threshold. The target slice here is the corpus' own
    ``lang = 'en'`` documents, so the op needs no external model: target
    counts ⊆ raw counts, weights are ≤ 0, and 0 means "every transition in
    this document is exclusively in-target".

    Shape: the SAME exploded-bigram relation (md5-digest keys, narrow
    shuffles) feeds the raw count table, the target count table, and the
    scoring join — three exchanges total, identical to q_bigram_lm_score.
    At 100 TB the count tables are vocabulary-sized and shuffle-join;
    the +1 smoothing keeps unseen-in-target bigrams finite without a
    separate vocabulary pass. Per source: docs, mean weight, kept."""
    ex = _bigram_digests(spark, sf_dir)
    # r11 (guide §2.3): raw and target counts fold in ONE groupBy (the
    # target count is a conditional sum — identical integers to the
    # former filtered second aggregation + left join's coalesce(ct, 0)),
    # so the corpus relation is shuffled by bh once instead of twice,
    # and that bh exchange is the same subtree the scoring join reads
    # (AQE stage reuse). Per-row log expression unchanged.
    counts = ex.groupBy("bh").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0))
        .alias("ct"))
    per_doc = (
        ex.join(counts, "bh")
        .groupBy("doc_id", "source")
        .agg(F.avg(F.log(F.col("ct") + F.lit(1))
                   - F.log(F.col("cr") + F.lit(1))).alias("w"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.avg("w"), 4).alias("avg_weight"),
        F.sum(F.when(F.col("w") > DSIR_KEEP_THRESHOLD, 1).otherwise(0))
        .alias("kept"),
    )


PACK_TOKENS = 2048


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential sequence packing: documents are packed per source in
    doc_id order into fixed-token bins (bin = starting-offset //
    PACK_TOKENS) via one running-sum window — the deterministic,
    shuffle-light approximation of training-batch packing (true first-fit
    bin packing is order-dependent and unstable; sequential packing is
    what large corpora actually use because it streams). Per (source,
    bin): docs packed and token payload."""
    d = _tokenized_docs(spark, sf_dir)
    from pyspark.sql import Window

    tokens = F.size("words")
    w = Window.partitionBy("source").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    start = F.sum(tokens).over(w) - tokens
    binned = d.select(
        "source",
        tokens.alias("tokens"),
        F.floor(start / PACK_TOKENS).alias("bin"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("docs"),
        F.sum("tokens").alias("bin_tokens"),
    )


LEAK_K = 8  # 8-gram overlap = verbatim leakage, not shared vocabulary


@corpus_memo(table="documents")
def _leak_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, doc_id, gram): each document's distinct word LEAK_K-gram
    digests, staged through one checkpoint."""
    d = _tokenized_docs(spark, sf_dir)
    split = split_col(F.col("doc_id"))
    w = F.col("words")
    grams = F.array_distinct(F.transform(
        _ngrams(w, LEAK_K),
        lambda g: F.md5(F.concat_ws(" ", *[g[str(j)] for j in range(LEAK_K)])),
    ))
    staged = d.select("doc_id", split.alias("split"), grams.alias("grams")) \
        .localCheckpoint()
    return staged.select("split", "doc_id", F.explode("grams").alias("gram"))


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split decontamination check: documents in val/test sharing a
    verbatim word 8-gram with any TRAIN document — the leakage a
    hash-based split cannot prevent when near-duplicates straddle the
    boundary (the eval-set counterpart is q_contamination_check; this one
    guards the split itself). Per non-train split: leaked docs and
    distinct shared grams.

    Shape: one gram relation, checkpointed once (two consumers), then a
    self equi-join on the gram hash — train side vs rest, never
    doc-to-doc. At 100 TB add the stop-gram df cap used by winnow_pairs;
    8-grams make collision buckets rare enough here that the join stays
    bounded without it."""
    ex = _leak_grams(spark, sf_dir)
    train = ex.filter(F.col("split") == "train").select(
        "gram", F.col("doc_id").alias("train_doc"))
    other = ex.filter(F.col("split") != "train")
    return (
        other.join(train, "gram")
        .groupBy("split")
        .agg(F.countDistinct("doc_id").alias("leaked_docs"),
             F.countDistinct("gram").alias("shared_grams"))
    )


ES_SAMPLE_K = 20


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, the Efraimidis–Spirakis
    exponential-keys method — THE distributed algorithm for 'pick k docs
    with probability proportional to weight' (here weight = n_chars):
    each row draws key = -ln(u)/w from a uniform u and the global top-k
    keys win. One scan + TakeOrderedAndProject, no per-stratum state,
    mergeable across partitions by construction — at 100 TB this is how
    you take a weighted corpus sample in one pass. u is a seedless
    md5-derived uniform (first 12 hex digits / 16^12), so the draw is
    reproducible on any engine; ties are impossible in practice and
    doc_id breaks them deterministically anyway."""
    d = _tokenized_docs(spark, sf_dir)
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
                16, 10).cast("double") + 1.0) / F.lit(float(16 ** 12))
    key = -F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "source",
                 F.col("n_chars").alias("weight"),
                 F.round(key, 10).alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(ES_SAMPLE_K)
    )


SAMPLE_FRAC = 0.2


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-fraction stratified sampling: per source, keep the first
    ceil(frac * stratum_size) documents in md5(doc_id) order. Unlike the
    hash-THRESHOLD split of q_train_val_split (per-row independent, size
    only approximate), this guarantees the per-stratum quota exactly —
    the shape used when a mixture recipe demands hard per-source budgets.
    Seedless and deterministic: the md5 order is a property of the keys.
    One shuffle on source; both window functions (quota count + rank)
    share the same partitioning, so Catalyst plans a single exchange.
    Skewed strata sort within their partition — at 100 TB cap stratum
    size upstream or pre-aggregate with the mixture sampler instead."""
    d = load_table(spark, "documents", sf_dir)
    from pyspark.sql import Window

    w_ord = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    w_all = Window.partitionBy("source")
    return (
        d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w_ord))
        .withColumn("quota",
                    F.ceil(F.lit(SAMPLE_FRAC) * F.count("*").over(w_all)))
        .filter(F.col("rk") <= F.col("quota"))
    )


TR_CAP = 60          # content tokens per doc entering the graph
TR_MIN_LEN = 4       # "content word" floor (stopword dodge)
TR_MIN_W = 2         # minimum co-occurrence weight for an edge
TR_ITERS = 4         # fixed power iterations (TextRank converges fast)
TR_ONE = 10 ** 12    # fixed-point unit: ranks are BIGINT micro-ranks


@corpus_memo(table="documents")
def _textrank_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized, weight-filtered co-occurrence edge checkpoint for
    textrank — memoized per (session, corpus)."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(F.slice(
        F.filter(_words(), lambda x: F.length(x) >= TR_MIN_LEN),
        1, TR_CAP).alias("toks"))
    adj = (
        toks.select(F.explode(F.expr(
            "CASE WHEN size(toks) >= 2 THEN "
            "transform(sequence(1, size(toks) - 1), "
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2)) "
            "ELSE array() END")).alias("p"))
        .select("p.w1", "p.w2")
        .filter(F.col("w1") != F.col("w2"))
    )
    edges = (
        adj.select(F.least("w1", "w2").alias("a"),
                   F.greatest("w1", "w2").alias("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= TR_MIN_W)
    )
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w") \
        .unionByName(edges.select(F.col("b").alias("src"),
                                  F.col("a").alias("dst"), "w")) \
        .localCheckpoint()
    return sym


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau '04) — PageRank over
    the token co-occurrence graph: adjacent content words (≥4 chars,
    first TR_CAP per doc) form weighted undirected edges, and 4 power
    iterations at damping 0.85 rank every word by graph centrality.

    The whole iteration runs in FIXED-POINT INTEGER arithmetic: ranks are
    BIGINT micro-ranks (1e12 = mass 1), per-edge contributions are
    ``(pr · w) div wdeg`` and the damping mix is ``(15·1e12) div (100·n)
    + (85·Σ) div 100`` — floor division end to end, so every iteration is
    bit-exact on both engines and the hash gate verifies the EXACT
    integer ranks. No float ever folds (the pagerank_neardup
    quantization discipline taken to its limit). Per iteration: one
    edge-sized join + one aggregation; the corpus is tokenized once
    (the symmetrized edge list is checkpointed AND memoized per
    (session, corpus) since r10 — the SSSP/Markov-spine pattern — so
    repeated executions pay the corpus scan once, not per call)."""
    sym = _textrank_sym(spark, sf_dir)
    # r11 (guide §2.4, the salsa pattern): the per-iteration edge⋈rank
    # join used to be planned from size estimates (sort-merge at scale)
    # and every contrib groupBy(dst) re-exchanged the post-join rows —
    # 15 stages per execution. The exchange now sits BELOW the join:
    # ``sym`` is repartitioned by dst once (iteration-invariant, so
    # AQE's stage cache executes it once per run), the rank relation is
    # explicitly broadcast (vocabulary-bounded, the salsa precedent),
    # and each groupBy(dst) runs exchange-free. The wdeg⋈contrib mix
    # join broadcasts contrib for the same reason. Integer sums are
    # order-free, so results are bit-identical.
    s_dst = sym.repartition("dst")
    wdeg = sym.repartition("src").groupBy("src").agg(F.sum("w").alias("wdeg"))
    nrow = wdeg.agg(F.count(F.lit(1)).alias("n"))
    pr = (wdeg.crossJoin(F.broadcast(nrow))
          .select(F.col("src").alias("word"), "wdeg", "n",
                  F.expr(f"{TR_ONE} div n").alias("pr")))
    for _ in range(TR_ITERS):
        contrib = (
            s_dst.join(F.broadcast(
                pr.select(F.col("word").alias("src"),
                          F.col("wdeg").alias("sdeg"), "pr")), "src")
            .groupBy(F.col("dst").alias("word"))
            .agg(F.sum(F.expr("(pr * w) div sdeg")).alias("c"))
        )
        pr = (wdeg.crossJoin(F.broadcast(nrow))
              .select(F.col("src").alias("word"), "wdeg", "n")
              .join(F.broadcast(contrib), "word", "left")
              .select("word", "wdeg", "n", F.expr(
                  f"(15 * {TR_ONE}) div (100 * n)"
                  " + (85 * coalesce(c, 0L)) div 100").alias("pr")))
    return pr.select("word", "wdeg", F.col("pr").alias("rank_micro"))


def _textrank_oracle(iters: int = TR_ITERS) -> str:
    """The same fixed-point power iteration unrolled as chained CTEs —
    DuckDB ``//`` floor division mirrors Spark ``div`` exactly on the
    positive BIGINT operands."""
    parts = [f"""
        toks AS (
            SELECT (list_filter(string_split(lower(text), ' '),
                                x -> len(x) >= {TR_MIN_LEN}))[1:{TR_CAP}]
                       AS w
            FROM documents
        ),
        adj AS (
            SELECT w[i] AS w1, w[i + 1] AS w2
            FROM toks, unnest(range(1, len(w))) AS t(i)
            WHERE w[i] <> w[i + 1]
        ),
        edges AS (
            SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
                   count(*) AS wt
            FROM adj GROUP BY 1, 2 HAVING count(*) >= {TR_MIN_W}
        ),
        sym AS (SELECT a AS src, b AS dst, wt FROM edges
                UNION ALL SELECT b, a, wt FROM edges),
        wdeg AS (SELECT src, sum(wt) AS wdeg FROM sym GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM wdeg),
        pr0 AS (SELECT src AS word, wdeg, {TR_ONE} // nn.n AS pr
                FROM wdeg, nn)"""]
    for t in range(1, iters + 1):
        parts.append(f"""
        c{t} AS (SELECT s.dst AS word,
                        sum((p.pr * s.wt) // p.wdeg) AS c
                 FROM sym s JOIN pr{t - 1} p ON p.word = s.src
                 GROUP BY 1),
        pr{t} AS (SELECT w.src AS word, w.wdeg,
                         (15 * {TR_ONE}) // (100 * nn.n)
                         + (85 * coalesce(c{t}.c, 0)) // 100 AS pr
                  FROM wdeg w CROSS JOIN nn
                  LEFT JOIN c{t} ON c{t}.word = w.src)""")
    ctes = ",".join(parts)
    return f"""
        WITH {ctes}
        SELECT word, wdeg, pr AS rank_micro FROM pr{iters}
    """


GLOBAL_RANK_BUCKETS = 4096


def bucketed_global_rank(df: DataFrame, value_col: str,
                         tiebreak_cols: tuple[str, ...],
                         out_col: str) -> DataFrame:
    """Global 1-based position by (value_col, *tiebreak_cols) WITHOUT a
    corpus-wide sort — the mergeable-summary scale path (r6 verdict #3)
    replacing ``row_number() OVER (ORDER BY …)``, whose plan is an
    Exchange SinglePartition at any size:

    - range-bucket the integer value into ≤GLOBAL_RANK_BUCKETS buckets
      (bucketing is monotone in the value, so bucket order == value
      order and ties always share a bucket),
    - row_number WITHIN each bucket in parallel (one hash exchange),
    - add each bucket's starting offset — an exclusive prefix sum over
      the ≤4096-row bucket-count relation via a cumulative window
      ordered by bucket (never corpus-sized).

    Positions are bit-identical to the global window's, so swapping this
    in changes no hashes. FULLY LAZY since r10: the bounds ride a
    broadcast 1-row min/max aggregate crossJoined in-plan; the offsets
    are the _grouped_bucketed_prefix cumulative-window pattern (r11 —
    the former driver-side bounds + bucket-count collects fired two
    eager jobs on EVERY call, and the r10 interim triangular self-join
    burned buckets² interpreted compares per call)."""
    from pyspark.sql import Window

    nb = GLOBAL_RANK_BUCKETS
    b = df.agg(F.min(value_col).alias("_grk_lo"),
               F.max(value_col).alias("_grk_hi"))
    d2 = (df.crossJoin(F.broadcast(b))
          .withColumn("_grk_w", F.greatest(F.lit(1).cast("long"), F.expr(
              f"CAST((_grk_hi - _grk_lo + {nb}) div {nb} AS BIGINT)")))
          .withColumn("_grk_bkt", F.expr(
              f"CAST((`{value_col}` - _grk_lo) div _grk_w AS BIGINT)"))
          .drop("_grk_lo", "_grk_hi", "_grk_w"))
    cnts = d2.groupBy("_grk_bkt").agg(F.count(F.lit(1)).alias("_grk_c"))
    # r11 (per the r10 advice): the exclusive prefix was a broadcast
    # triangular self-join — a BroadcastNestedLoopJoin evaluating up to
    # buckets² pairs in interpreted compares, the exact pattern r10
    # replaced with cumulative windows in _grouped_bucketed_prefix.
    # Same cumulative window here: its single partition holds
    # ≤GLOBAL_RANK_BUCKETS rows at ANY corpus size (a bounded K-row
    # offset window, not a corpus-sized global sort).
    w_off = (Window.orderBy("_grk_bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    off = cnts.select(
        "_grk_bkt",
        F.coalesce(F.sum("_grk_c").over(w_off), F.lit(0)).cast("long")
        .alias("_grk_off"))
    w = Window.partitionBy("_grk_bkt").orderBy(value_col, *tiebreak_cols)
    return (d2.join(F.broadcast(off), "_grk_bkt")
            .withColumn(out_col, F.row_number().over(w) + F.col("_grk_off"))
            .drop("_grk_bkt", "_grk_off"))


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source QUANTILE NORMALIZATION (the batch-effect correction
    genomics/recsys pipelines run before mixing sources): every document's
    length feature maps to the GLOBAL value at its within-source quantile,
    so all sources end up with identical feature distributions. Exact
    integer form — within-source rank rₙ of n_chars, target index
    ⌈rₙ·N/n_s⌉ by integer ceiling division, one equi-join into the
    globally ranked relation — no float appears anywhere, so the per-
    source rollup hashes exact integers. The global positions come from
    ``bucketed_global_rank`` (range buckets + parallel within-bucket
    windows + driver-folded K-row offsets), so no corpus-wide sort and
    no Exchange SinglePartition appears in the plan (asserted in
    test_plans). Verified per source: doc count, Σ mapped value, min/max
    mapped."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = (d.withColumn("rn", F.row_number().over(w_src))
              .withColumn("n_s", F.count(F.lit(1)).over(
                  Window.partitionBy("source"))))
    g = bucketed_global_rank(
        d.select("n_chars", "doc_id"), "n_chars", ("doc_id",), "gi"
    ).select("gi", F.col("n_chars").alias("gval"))
    total = d.agg(F.count(F.lit(1)).alias("n_total"))
    mapped = (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("gi", F.expr("CAST((rn * n_total + n_s - 1) "
                                 "div n_s AS INT)"))
        .join(g, "gi")
    )
    return mapped.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("gval").alias("sum_mapped"),
        F.min("gval").alias("min_mapped"),
        F.max("gval").alias("max_mapped"),
    )


# r11: bootstrap_resample and bootstrap_ci both build the SAME global
# draw-position relation, and each referenced it TWICE in one plan (the
# draw fan-out's `i` domain and the equi-join target) — Spark does not
# dedupe common subtrees, so the bucketed_global_rank machinery (bounds
# agg + bucket counts + offset window + in-bucket windows) executed 4×
# across the pair per bench pass (13 single-task jobs each, ~0.85 s of
# pure stage launch). Checkpointed + memoized per (session, corpus) like
# the order baskets (guide §3.3).
@corpus_memo(table="documents")
def _boot_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    ranked = bucketed_global_rank(d, "doc_id", (), "_pos").select(
        (F.col("_pos") - 1).alias("rn"), "n_chars").localCheckpoint()
    return ranked


BOOT_B = 24                 # bootstrap resamples
BOOT_MULT_A = 2654435761    # draw index = (b·A + i·B + (i² mod n)·C) mod n
BOOT_MULT_B = 2246822519    # — the quadratic term makes the map NON-affine
BOOT_MULT_C = 40503         # (an affine map mod n is a bijection: every
#                             'resample' would be a permutation of the
#                             corpus, never a draw WITH replacement)


def q_bootstrap_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BOOTSTRAP over the corpus length statistic — the
    uncertainty quantification a data-quality report attaches to its
    means, made hash-verifiable: draws-with-replacement come from a
    quadratic integer hash of (resample b, position i) instead of a RNG
    (the md5-order sampling discipline in closed-form integer math; the
    quadratic term is what creates collisions — true draws WITH
    replacement — where a purely affine map mod n would be a bijection),
    so both engines materialize the IDENTICAL BOOT_B resamples. Each
    resample's Σ n_chars is an exact BIGINT; the mean is one single-shot
    division. Shape: ``bucketed_global_rank`` defines the 0-based draw
    positions without a corpus-wide sort (range buckets + parallel
    within-bucket windows + driver-folded K-row offsets — no Exchange
    SinglePartition in the plan, asserted in test_plans); the draw
    relation fans out B× and equi-joins back on the drawn index. The
    positions come from the memoized ``_boot_ranked`` checkpoint (r11)
    shared with bootstrap_ci — the plan referenced the rank subtree
    twice (draw domain + join target) and Spark recomputed it both
    times."""
    ranked = _boot_ranked(spark, sf_dir)
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    draws = (
        ranked.select(F.col("rn").alias("i"))
        .crossJoin(F.broadcast(n))
        .select("i", "n", F.explode(
            F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"))
        .select("b", ((F.col("b") * BOOT_MULT_A
                       + F.col("i") * BOOT_MULT_B
                       + ((F.col("i") * F.col("i")) % F.col("n"))
                       * BOOT_MULT_C) % F.col("n"))
                .alias("rn"))
    )
    return (
        draws.join(ranked, "rn")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("draws"),
             F.sum("n_chars").alias("sum_chars"))
        .select("b", "draws", "sum_chars",
                F.round(F.col("sum_chars").cast("double")
                        / F.col("draws").cast("double"), 4)
                .alias("mean_chars"))
    )


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap STANDARD ERROR + normal-approximation CI over the corpus
    mean length — what a data-quality report prints next to its point
    estimate. Reuses the deterministic quadratic-hash resamples of
    q_bootstrap_resample; each resample total S_b is an exact integer, so
    the spread statistics fold exactly: SE of the resample means =
    sqrt((B·ΣS² − (ΣS)²)/(B·(B−1)))/n from DECIMAL sums with one
    single-shot double at the end (the de-flake discipline — no float
    is ever summed). One row: B, grand mean, SE, CI bounds. Positions
    come from the memoized ``_boot_ranked`` checkpoint (r11) shared with
    bootstrap_resample."""
    ranked = _boot_ranked(spark, sf_dir)
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    draws = (
        ranked.select(F.col("rn").alias("i"))
        .crossJoin(F.broadcast(n))
        .select("i", "n", F.explode(
            F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"))
        .select("b", "n", ((F.col("b") * BOOT_MULT_A
                            + F.col("i") * BOOT_MULT_B
                            + ((F.col("i") * F.col("i")) % F.col("n"))
                            * BOOT_MULT_C) % F.col("n"))
                .alias("rn"))
    )
    sums = (
        draws.join(ranked, "rn")
        .groupBy("b")
        .agg(F.max("n").alias("n"),
             F.sum(F.col("n_chars").cast("decimal(19,0)")).alias("s"))
    )
    agg = sums.agg(
        F.count(F.lit(1)).alias("b_count"),
        F.max("n").alias("n"),
        F.sum("s").alias("ss"),
        F.sum(F.col("s") * F.col("s")).alias("sss"),
    )
    bd = F.col("b_count").cast("double")
    nd = F.col("n").cast("double")

    def dbl(c: str):
        return F.col(c).cast("double")

    gm = dbl("ss") / bd / nd
    se = (F.sqrt((bd * dbl("sss") - dbl("ss") * dbl("ss"))
                 / (bd * (bd - F.lit(1.0)))) / nd)
    return agg.select(
        F.col("b_count").cast("long").alias("b_count"),
        F.col("n").cast("long").alias("total_draws"),
        F.round(gm, 4).alias("grand_mean"),
        F.round(se, 6).alias("se"),
        F.round(gm - F.lit(1.96) * se, 4).alias("ci_lo"),
        F.round(gm + F.lit(1.96) * se, 4).alias("ci_hi"),
    )


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between EVERY source pair's document
    lengths — the significance readout behind "did source X drift from
    source Y". Per-source sufficient statistics (n, Σx, Σx² in DECIMAL)
    reduce the corpus to K rows; the K·(K−1)/2 pairs come from a broadcast
    self-join of that tiny relation (never a corpus-side join); t and the
    Welch–Satterthwaite df are single-shot doubles from the exact integer
    sums, written shape-identically in the DuckDB oracle."""
    d = load_table(spark, "documents", sf_dir)
    x = F.col("n_chars").cast("decimal(19,0)")
    st = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    a = st.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"),
                  F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa"))
    b = st.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"),
                  F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb"))
    j = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")

    def dbl(c: str):
        return F.col(c).cast("double")

    va = (na * dbl("sxxa") - dbl("sxa") * dbl("sxa")) / (na * (na - F.lit(1.0)))
    vb = (nb * dbl("sxxb") - dbl("sxb") * dbl("sxb")) / (nb * (nb - F.lit(1.0)))
    sea = va / na
    seb = vb / nb
    t = (dbl("sxa") / na - dbl("sxb") / nb) / F.sqrt(sea + seb)
    df = ((sea + seb) * (sea + seb)
          / (sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))))
    return j.select(
        "src_a", "src_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(t, 4).alias("t"),
        F.round(df, 2).alias("df"),
    )


def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between every source pair's document
    lengths — the magnitude companion to welch_ttest's significance
    (a t-statistic grows with n even for trivial differences; d is the
    standardized mean gap practitioners actually threshold on). Same
    K-row sufficient-statistic reduction and broadcast pair self-join
    as welch_ttest; d = (m_a − m_b)/s_pooled with the pooled variance
    folded from the exact DECIMAL sums, all single-shot doubles written
    expression-identically in the oracle."""
    d = load_table(spark, "documents", sf_dir)
    x = F.col("n_chars").cast("decimal(19,0)")
    st = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    a = st.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"),
                  F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa"))
    b = st.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"),
                  F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb"))
    j = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")

    def dbl(c: str):
        return F.col(c).cast("double")

    ssa = dbl("sxxa") - dbl("sxa") * dbl("sxa") / na  # (n-1)·var_a
    ssb = dbl("sxxb") - dbl("sxb") * dbl("sxb") / nb
    pooled = F.sqrt((ssa + ssb) / (na + nb - F.lit(2.0)))
    dd = (dbl("sxa") / na - dbl("sxb") / nb) / pooled
    return j.select(
        "src_a", "src_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(dd, 4).alias("cohens_d"))


MCNEMAR_LEN_THR = 400  # classifier A: "english iff n_chars > 400"


def q_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between two deterministic classifiers of
    the SAME documents (is the doc English?): A = length rule
    (n_chars > MCNEMAR_LEN_THR), B = lexical rule (contains ' the ').
    The eval-pipeline question it answers — "is classifier B actually
    better than A, given they saw identical items?" — is exactly what
    unpaired tests get wrong. One corpus pass folds the full paired
    confusion (both right / A-only right / B-only right / both wrong)
    as exact integers; the continuity-corrected statistic
    (|b−c|−1)²/(b+c) is one single-shot double."""
    d = load_table(spark, "documents", sf_dir)
    truth = (F.col("lang") == "en").cast("int")
    pred_a = (F.col("n_chars") > MCNEMAR_LEN_THR).cast("int")
    pred_b = (F.instr(F.col("text"), " the ") > 0).cast("int")
    flags = d.select(
        (pred_a == truth).cast("int").alias("a_ok"),
        (pred_b == truth).cast("int").alias("b_ok"))
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a_ok") * F.col("b_ok")).cast("long")
        .alias("both_right"),
        F.sum(F.col("a_ok") * (1 - F.col("b_ok"))).cast("long")
        .alias("a_only"),
        F.sum((1 - F.col("a_ok")) * F.col("b_ok")).cast("long")
        .alias("b_only"),
        F.sum((1 - F.col("a_ok")) * (1 - F.col("b_ok"))).cast("long")
        .alias("both_wrong"))
    b_, c_ = F.col("a_only").cast("double"), F.col("b_only").cast("double")
    # Continuity correction clamped at 0 (textbook max(|b-c|-1, 0)), and
    # the b+c=0 degenerate case (classifiers agree everywhere) pinned to
    # 0.0 — Spark would return NULL but DuckDB's IEEE path yields nan,
    # a latent cross-engine hash divergence.
    diff = F.greatest(F.abs(b_ - c_) - 1.0, F.lit(0.0))
    stat = F.when(b_ + c_ > 0.0, (diff * diff) / (b_ + c_)) \
        .otherwise(F.lit(0.0))
    return agg.select("n", "both_right", "a_only", "b_only", "both_wrong",
                      stat.alias("mcnemar_cc"))


def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between every source
    pair's document-length distributions — the integral sibling of
    ks_test's max ECDF gap (two corpora can share a small KS-D yet need
    massive mass transport; W1 is what distribution-shift monitors
    actually budget against). EXACT INTEGER construction: over the
    sorted union V of observed lengths, W1·n_a·n_b = Σᵥ
    |cumA(v)·n_b − cumB(v)·n_a|·gap(v) — every term is a product of
    counts and the value gap, folded in DECIMAL(38,0); the division by
    n_a·n_b is the only float step (n < 2²⁶ at any plausible SF, so the
    double product is exact). All machinery runs over the
    sources×values GRID (value-domain-bounded, corpus-independent):
    per-source cumulative counts are a window over the grid keyed by
    source, the gap one global lead over the V-row distinct-values
    relation (the kaplan_meier bounded-window exemption)."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    hist = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c"))
    vals = (hist.select("n_chars").distinct()
            .withColumn("gap", F.coalesce(
                F.lead("n_chars").over(Window.orderBy("n_chars"))
                - F.col("n_chars"), F.lit(0))))
    srcs = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    grid = (srcs.crossJoin(F.broadcast(vals))
            .join(hist, ["source", "n_chars"], "left")
            .withColumn("_c", F.coalesce("c", F.lit(0))))
    w_cum = (Window.partitionBy("source").orderBy("n_chars")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grid = grid.withColumn("cum", F.sum("_c").over(w_cum).cast("long"))
    a = grid.select(F.col("source").alias("src_a"), "n_chars", "gap",
                    F.col("n").alias("n_a"), F.col("cum").alias("cum_a"))
    b = grid.select(F.col("source").alias("src_b"),
                    F.col("n_chars").alias("v_b"),
                    F.col("n").alias("n_b"), F.col("cum").alias("cum_b"))
    j = a.join(b, (F.col("src_a") < F.col("src_b"))
               & (F.col("n_chars") == F.col("v_b")))
    term = (F.abs(F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
                  - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a"))
            * F.col("gap"))
    agg = (j.groupBy("src_a", "src_b", "n_a", "n_b")
           .agg(F.sum(term).cast("decimal(38,0)").alias("w1_num")))
    w1 = (F.col("w1_num").cast("double")
          / (F.col("n_a").cast("double") * F.col("n_b").cast("double")))
    return agg.select("src_a", "src_b",
                      F.col("n_a").cast("long").alias("n_a"),
                      F.col("n_b").cast("long").alias("n_b"),
                      F.col("w1_num").cast("double").alias("w1_num"),
                      w1.alias("w1"))


BD_TOP_WORDS = 30  # Burrows' Delta marker-word count (global freq order)


def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometry table: the per-(marker word, source)
    z-score of the word's per-million rate — the authorship/register
    fingerprint whose pairwise mean |z_a − z_b| is the classic Delta.
    Marker words are the global top-BD_TOP_WORDS by exact INTEGER order
    (count desc, word — never a float), rates are floor(c·10⁶/N) exact
    integers (cross-engine identical), and the across-source mean/std
    per word fold from integer sums over the K-source grid — so z is a
    single-shot double above exact integers. The pairwise Delta fold is
    client-side (the logrank discipline: no cross-row float accumulation
    in the hashed surface). Everything above the one token-explode
    groupBy (the memoized ``_source_word_counts`` relation shared with
    chao1/yule_k/lexical_diversity) runs on vocabulary- or K-sized
    relations."""
    from pyspark.sql import Window

    sw = _source_word_counts(spark, sf_dir)
    stot = sw.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    wtot = sw.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    top = (wtot.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("cw"), "w")))
        .filter(F.col("rn") <= BD_TOP_WORDS).select("w"))
    # K-source × top-word grid; absent cells are rate 0
    grid = (stot.crossJoin(F.broadcast(top))
            .join(sw, ["source", "w"], "left")
            .withColumn("fpm", F.expr(
                "CAST(coalesce(c, 0) * 1000000 div n_s AS BIGINT)")))
    stats = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("fpm").cast("long").alias("sf"),
        F.sum(F.col("fpm") * F.col("fpm")).cast("long").alias("sff"))
    j = grid.join(F.broadcast(stats), "w")
    kd = F.col("k").cast("double")
    mu = F.col("sf").cast("double") / kd
    # population variance from exact integer sums
    var = (kd * F.col("sff").cast("double")
           - F.col("sf").cast("double") * F.col("sf").cast("double")) \
        / (kd * kd)
    # var=0 (marker word with identical rate across all sources) would
    # give NULL in Spark but inf/nan in DuckDB — pin the degenerate z
    # to 0.0 in both engines.
    z = F.when(var > 0.0,
               (F.col("fpm").cast("double") - mu) / F.sqrt(var)) \
        .otherwise(F.lit(0.0))
    return j.select("w", "source",
                    F.col("fpm").cast("long").alias("fpm"),
                    z.alias("z"))


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: token count N, type count V,
    type-token ratio V/N, and Herdan's C = ln V / ln N (the
    length-robust variant — raw TTR collapses as N grows, which is why
    corpus-quality dashboards pair them). One token explode → (source,
    word) counts; V and N fold from that vocabulary-sized relation with
    map-side partials. TTR is a single-shot division of exact integers;
    Herdan's C is transcendental and hashes through round(·, 6) (the
    house ln absorber). Counts come from the memoized
    ``_source_word_counts`` relation shared across the stylometry
    family."""
    sw = _source_word_counts(spark, sf_dir)
    agg = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("types"),
        F.sum("c").cast("long").alias("tokens"))
    ttr = F.col("types").cast("double") / F.col("tokens").cast("double")
    herdan = F.round(F.log(F.col("types").cast("double"))
                     / F.log(F.col("tokens").cast("double")), 6)
    return agg.select("source", "types", "tokens",
                      ttr.alias("ttr"), herdan.alias("herdan_c"))


MW_SRC_A, MW_SRC_B = "src0", "src1"  # the designated Mann-Whitney pair


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between two sources' document
    lengths — the nonparametric sibling of welch_ttest, fully exact until
    the final z: midranks are kept DOUBLED (2R = 2·before + ties + 1, an
    integer), built from the value-histogram relation (distinct n_chars —
    bounded by physics, never corpus-sized) via a tiny self-join prefix
    sum, so U·2 for both sides is an exact BIGINT and U₂ₐ + U₂ᵦ = 2nₐnᵦ
    is asserted as a hashed indicator. The tie-corrected normal z is one
    single-shot double from integer (nₐ, nᵦ, U₂ₐ, Σ(t³−t)). No window at
    all — two groupBys and two broadcast joins."""
    d = (load_table(spark, "documents", sf_dir)
         .filter(F.col("source").isin(MW_SRC_A, MW_SRC_B))
         .select("source", "n_chars"))
    vals = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    before = (
        vals.alias("v1")
        .join(F.broadcast(vals.alias("v2")),
              F.col("v2.n_chars") < F.col("v1.n_chars"), "left")
        .groupBy(F.col("v1.n_chars").alias("n_chars"),
                 F.col("v1.c").alias("c"))
        .agg(F.coalesce(F.sum("v2.c"), F.lit(0)).alias("before"))
        .select("n_chars", "c",
                (F.lit(2) * F.col("before") + F.col("c") + 1).alias("r2"))
    )
    per_src = (
        d.join(F.broadcast(before.select("n_chars", "r2")), "n_chars")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("r2").cast("decimal(19,0)")).alias("r2sum"))
    )
    ties = vals.agg(F.sum(
        F.col("c").cast("decimal(19,0)") * F.col("c") * F.col("c")
        - F.col("c")).alias("tt"))
    a = per_src.filter(F.col("source") == MW_SRC_A).select(
        F.col("n").alias("n_a"), F.col("r2sum").alias("r2a"))
    b = per_src.filter(F.col("source") == MW_SRC_B).select(
        F.col("n").alias("n_b"), F.col("r2sum").alias("r2b"))
    j = (a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(ties))
         .withColumn("u2_a", F.col("r2a")
                     - F.col("n_a").cast("decimal(19,0)") * (F.col("n_a") + 1))
         .withColumn("u2_b", F.col("r2b")
                     - F.col("n_b").cast("decimal(19,0)") * (F.col("n_b") + 1)))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nt = na + nb
    var_u = (na * nb / F.lit(12.0)
             * ((nt + F.lit(1.0))
                - F.col("tt").cast("double") / (nt * (nt - F.lit(1.0)))))
    z = ((F.col("u2_a").cast("double") / F.lit(2.0) - na * nb / F.lit(2.0))
         / F.sqrt(var_u))
    return j.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("u2_a").cast("long").alias("u2_a"),
        F.col("u2_b").cast("long").alias("u2_b"),
        (F.col("u2_a") + F.col("u2_b")
         == F.lit(2) * F.col("n_a").cast("decimal(19,0)") * F.col("n_b"))
        .cast("int").alias("u_sum_ok"),
        F.round(z, 4).alias("z"),
    )


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov over the designated source pair's
    length distributions — the distribution-shift detector next to
    mann_whitney's location test. FULLY exact until the last division:
    with the ECDF difference scaled by nₐ·nᵦ, the per-value statistic
    |cumA·nᵦ − cumB·nₐ| is an integer, and max() over integers is
    merge-order-free (no float is ever summed OR maxed). Cumulatives come
    from the bounded value-histogram via a tiny ≤-self-join — no window,
    no corpus sort. D and the asymptotic λ = D·√(nₐnᵦ/(nₐ+nᵦ)) are
    single-shot doubles from the exact integer maximum."""
    d = (load_table(spark, "documents", sf_dir)
         .filter(F.col("source").isin(MW_SRC_A, MW_SRC_B))
         .select("source", "n_chars"))
    per = d.groupBy("n_chars").agg(
        F.sum(F.when(F.col("source") == MW_SRC_A, 1).otherwise(0))
        .alias("ca"),
        F.sum(F.when(F.col("source") == MW_SRC_B, 1).otherwise(0))
        .alias("cb"),
    )
    cum = (
        per.alias("v1")
        .join(F.broadcast(per.alias("v2")),
              F.col("v2.n_chars") <= F.col("v1.n_chars"))
        .groupBy(F.col("v1.n_chars").alias("v"))
        .agg(F.sum("v2.ca").alias("cuma"), F.sum("v2.cb").alias("cumb"))
    )
    tot = d.agg(
        F.sum(F.when(F.col("source") == MW_SRC_A, 1).otherwise(0))
        .alias("n_a"),
        F.sum(F.when(F.col("source") == MW_SRC_B, 1).otherwise(0))
        .alias("n_b"),
    )
    dnum = F.abs(F.col("cuma").cast("decimal(19,0)") * F.col("n_b")
                 - F.col("cumb").cast("decimal(19,0)") * F.col("n_a"))
    agg = (cum.crossJoin(F.broadcast(tot))
           .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
                F.max(dnum).alias("d_num")))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    dstat = F.col("d_num").cast("double") / (na * nb)
    lam = dstat * F.sqrt(na * nb / (na + nb))
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_num").cast("long").alias("d_num"),
        F.round(dstat, 6).alias("d"),
        F.round(lam, 4).alias("ks_lambda"),
    )


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the Naive Bayes language classifier against the
    true labels — chance-corrected agreement over the SAME confusion
    matrix q_naive_bayes_lang hashes, so the two ops can never drift.
    The matrix cells are exact integers; observed agreement pₒ, expected
    agreement pₑ = Σ row·col / n², and κ = (pₒ−pₑ)/(1−pₑ) are single-shot
    doubles from them (one K²-row relation — driver never sees data)."""
    conf = q_naive_bayes_lang(spark, sf_dir).select(
        "true_lang", "pred_lang", "docs")
    rows = conf.groupBy("true_lang").agg(F.sum("docs").alias("rn"))
    cols = conf.groupBy("pred_lang").agg(F.sum("docs").alias("cn"))
    diag = conf.filter(F.col("true_lang") == F.col("pred_lang")).agg(
        F.sum("docs").alias("agree"))
    tot = conf.agg(F.sum("docs").alias("n"))
    rc = (rows.join(cols, rows["true_lang"] == cols["pred_lang"])
          .agg(F.sum(F.col("rn").cast("decimal(19,0)") * F.col("cn"))
               .alias("rcsum")))
    j = (tot.crossJoin(F.broadcast(diag)).crossJoin(F.broadcast(rc))
         .withColumn("agree", F.coalesce(F.col("agree"), F.lit(0))))
    nd = F.col("n").cast("double")
    po = F.col("agree").cast("double") / nd
    pe = F.col("rcsum").cast("double") / (nd * nd)
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("agree").cast("long").alias("agree"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 4).alias("kappa"),
    )


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the corpus-wide distribution — the mixture-drift readout a
    pretraining pipeline tracks per slice (bounded ∈ [0, ln 2], symmetric,
    defined even where a source is missing words). Shapes: (source, word)
    and global word counts are two map-side-combining groupBys; the dense
    (vocab × sources) term grid is vocab crossJoin the K-row source
    totals — vocabulary-sized, never corpus-sized. Per-term P·ln(P/M)
    doubles round to DECIMAL(16,12) BEFORE summing (the naive-bayes
    merge-order-free discipline); the final 0.5·Σ is single-shot."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(
        "source", F.explode(F.filter(_words(), lambda x: x != "")).alias("w"))
    csw = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("csw"))
    cw = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    tots = toks.groupBy("source").agg(F.count(F.lit(1)).alias("tot_s"))
    tot = toks.agg(F.count(F.lit(1)).alias("tot"))
    grid = (cw.crossJoin(F.broadcast(tots))
            .join(csw, ["source", "w"], "left")
            .crossJoin(F.broadcast(tot))
            .withColumn("csw", F.coalesce(F.col("csw"), F.lit(0))))
    p = F.col("csw").cast("double") / F.col("tot_s").cast("double")
    q = F.col("cw").cast("double") / F.col("tot").cast("double")
    m = (p + q) / F.lit(2.0)
    term_p = F.when(F.col("csw") > 0,
                    F.round(p * F.log(p / m), 12)).otherwise(F.lit(0.0)) \
        .cast("decimal(16,12)")
    term_q = F.round(q * F.log(q / m), 12).cast("decimal(16,12)")
    agg = grid.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab_words"),
        F.sum(term_p).alias("sp"),
        F.sum(term_q).alias("sq"),
    )
    js = (F.lit(0.5) * F.col("sp").cast("double")
          + F.lit(0.5) * F.col("sq").cast("double"))
    return agg.select(
        "source",
        F.col("vocab_words").cast("long").alias("vocab_words"),
        F.round(js, 6).alias("js"),
    )


def q_gmean_hmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic mean of document length per source — the
    multiplicative/rate-style averages a mixture report uses where the
    arithmetic mean misleads. Merge-order-free by the naive-bayes
    discipline: the per-row transform (ln x, 1/x) is a single-shot IEEE
    op rounded to a fixed decimal and cast to DECIMAL before summing, so
    the aggregate is exact; exp/division run once on the exact sum."""
    d = load_table(spark, "documents", sf_dir)
    lg = F.round(F.log(F.col("n_chars").cast("double")), 6) \
        .cast("decimal(18,6)")
    inv = F.round(F.lit(1.0) / F.col("n_chars").cast("double"), 12) \
        .cast("decimal(14,12)")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(lg).alias("slg"),
        F.sum(inv).alias("sinv"),
    )
    nd = F.col("docs").cast("double")
    return agg.select(
        "source", "docs",
        F.round(F.exp(F.col("slg").cast("double") / nd), 4).alias("gmean"),
        F.round(nd / F.col("sinv").cast("double"), 4).alias("hmean"),
    )


NB_TEST_MOD = 5  # doc_id % 5 == 0 → held-out test split


def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    entirely relationally — the classic model-based labeling pass a
    training-data pipeline runs when no external classifier is allowed.
    Train split (doc_id % 5 != 0) produces Laplace-smoothed per-(lang,
    token) counts; the held-out split scores every document against all 5
    classes and the confusion matrix (true lang × predicted lang) is the
    verified output.

    Determinism discipline: each token's log-likelihood
    ln((cnt+1)/(tot_c+V)) is a single-shot double rounded to 6 decimals
    and cast to DECIMAL(18,6) BEFORE summing, so per-(doc, class) scores
    are exact decimal sums (merge-order-free) and the argmax — ties broken
    by lang order — is bit-deterministic. Shapes: the (lang, token) count
    table shuffle-joins on the token (vocabulary-sized, never collected);
    class totals, priors, and V are 5-row/scalar broadcasts.

    The K²-row confusion relation is memoized+checkpointed per (session,
    corpus) since r10 (the neardup_components shared-relation pattern):
    cohens_kappa references it FOUR times (rows/cols/diag/total
    marginals) and Spark does not dedupe common subtrees, so the
    un-memoized form re-ran the whole train+score pipeline four times
    per kappa execution (26 jobs, ~2 s at sf0.1)."""
    return _nb_confusion(spark, sf_dir)


@corpus_memo(table="documents")
def _nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id", "lang",
        F.explode(F.filter(_words(), lambda x: x != "")).alias("w"))
    train = toks.filter(F.col("doc_id") % NB_TEST_MOD != 0)
    counts = train.groupBy(F.col("lang").alias("c"), "w").agg(
        F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy("c").agg(F.sum("cnt").alias("tot"))
    vocab = counts.select("w").distinct().agg(
        F.count(F.lit(1)).alias("v"))
    class_docs = (
        d.filter(F.col("doc_id") % NB_TEST_MOD != 0)
        .groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).alias("cdocs"))
    )
    tr_docs = class_docs.agg(F.sum("cdocs").alias("tdocs"))
    classes = (class_docs.join(F.broadcast(tr_docs))
               .join(F.broadcast(totals), "c")
               .join(F.broadcast(vocab)))
    test = toks.filter(F.col("doc_id") % NB_TEST_MOD == 0)
    # every test token × every class; unseen (w, c) pairs keep cnt = 0
    scored = (
        test.join(F.broadcast(classes))
        .join(counts, ["c", "w"], "left")
        .na.fill({"cnt": 0})
    )
    loglik = F.round(
        F.log((F.col("cnt") + 1.0).cast("double")
              / (F.col("tot") + F.col("v")).cast("double")), 6
    ).cast("decimal(18,6)")
    prior = F.round(
        F.log(F.col("cdocs").cast("double") / F.col("tdocs").cast("double")),
        6).cast("decimal(18,6)")
    per_class = (
        scored.groupBy("doc_id", "lang", "c")
        .agg((F.sum(loglik) + F.first(prior)).alias("score"))
    )
    pick = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("c"))
    best = (per_class.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1))
    conf = best.groupBy(
        F.col("lang").alias("true_lang"), F.col("c").alias("pred_lang")
    ).agg(F.count(F.lit(1)).alias("docs"),
          F.round(F.sum("score").cast("double"), 4).alias("sum_score"))
    conf = conf.coalesce(1).localCheckpoint()
    return conf


def q_mi_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information + chi-square contribution for every
    (lang, source) contingency cell — feature-association profiling for a
    training corpus. The contingency table is ONE groupBy over the corpus
    (K×M tiny rows); marginals come from two further folds of that tiny
    relation, broadcast back. Each cell's pmi = ln(c·N / (r·s)) and
    chi² term = (c−e)²/e is a single-shot double from exact BIGINT counts
    — per-cell rows instead of a float-summed scalar total, so nothing
    merge-order-sensitive is hashed (house rule since the r5/r6 flake)."""
    d = load_table(spark, "documents", sf_dir)
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    rl = cells.groupBy("lang").agg(F.sum("c").alias("r"))
    cs = cells.groupBy("source").agg(F.sum("c").alias("s"))
    n = cells.agg(F.sum("c").alias("n"))
    j = (cells.join(F.broadcast(rl), "lang")
         .join(F.broadcast(cs), "source")
         .crossJoin(F.broadcast(n)))
    cD, rD = F.col("c").cast("double"), F.col("r").cast("double")
    sD, nD = F.col("s").cast("double"), F.col("n").cast("double")
    e = rD * sD / nD
    return j.select(
        "lang", "source", "c",
        F.col("r").alias("row_total"), F.col("s").alias("col_total"),
        F.round(F.log(cD * nD / (rD * sD)), 6).alias("pmi"),
        F.round((cD - e) * (cD - e) / e, 6).alias("chi2_term"),
    )


EVAL_THRESHOLD = 300  # chars: fixed decision threshold for the confusion row


def q_model_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation readout: exact AUC via the rank-sum
    identity (score = n_chars, label = lang='en') plus the confusion
    matrix / precision / recall / F1 at a fixed threshold. Doubled
    midranks (2R, integers) come from the value-histogram relation —
    distinct n_chars, bounded by physics — via the broadcast prefix
    self-join proven in mann_whitney; ΣR over positives stays DECIMAL, so
    AUC = (2ΣR₊ − 2·n₊(n₊+1)/2) / (2·n₊·n₋) is ONE single-shot double.
    Confusion counts are plain integer conditional sums of the histogram.
    No window, no corpus self-join, nothing float-accumulated."""
    d = load_table(spark, "documents", sf_dir).select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("y"))
    vals = d.groupBy("n_chars").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("cpos"))
    before = (
        vals.alias("v1")
        .join(F.broadcast(vals.alias("v2")),
              F.col("v2.n_chars") < F.col("v1.n_chars"), "left")
        .groupBy(F.col("v1.n_chars").alias("n_chars"),
                 F.col("v1.c").alias("c"), F.col("v1.cpos").alias("cpos"))
        .agg(F.coalesce(F.sum("v2.c"), F.lit(0)).alias("b"))
        .select("n_chars", "c", "cpos",
                (F.lit(2) * F.col("b") + F.col("c") + 1).alias("r2"))
    )
    agg = before.agg(
        F.sum("cpos").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("cpos")).cast("long").alias("n0"),
        F.sum(F.col("cpos").cast("decimal(19,0)") * F.col("r2"))
        .alias("r2pos"),
        F.sum(F.when(F.col("n_chars") >= EVAL_THRESHOLD, F.col("cpos"))
              .otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(F.col("n_chars") >= EVAL_THRESHOLD,
                     F.col("c") - F.col("cpos"))
              .otherwise(0)).cast("long").alias("fp"),
    )
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    auc = ((F.col("r2pos").cast("double")
            - n1d * (n1d + F.lit(1.0)))
           / (F.lit(2.0) * n1d * n0d))
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    prec = tp / (tp + fp)
    rec = tp / n1d
    return agg.select(
        "n1", "n0", F.round(auc, 6).alias("auc"),
        "tp", "fp",
        (F.col("n1") - F.col("tp")).alias("fn"),
        (F.col("n0") - F.col("fp")).alias("tn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(F.lit(2.0) * prec * rec / (prec + rec), 6).alias("f1"),
    )


def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-level decision-tree training, fully relational: pick the
    n_chars threshold minimizing weighted Gini impurity for the lang='en'
    label. Candidate splits are the value histogram (distinct n_chars);
    inclusive prefix counts come from the broadcast histogram self-join
    (no window), the weighted impurity
    (nL²−posL²−negL²)/nL + (nR²−posR²−negR²)/nR is a single-shot double
    per candidate from exact integers, and the argmin is min(struct(imp,
    thr, …)) — commutative, merge-order-free, ties broken by threshold.
    One corpus pass + one tiny-relation reduction: the shape survives any
    scale where distinct feature values stay bounded (bucket first when
    they don't)."""
    d = load_table(spark, "documents", sf_dir).select(
        "n_chars", (F.col("lang") == "en").cast("int").alias("y"))
    vals = d.groupBy("n_chars").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("cpos"))
    pref = (
        vals.alias("v1")
        .join(F.broadcast(vals.alias("v2")),
              F.col("v2.n_chars") <= F.col("v1.n_chars"))
        .groupBy(F.col("v1.n_chars").alias("thr"))
        .agg(F.sum("v2.c").alias("n_l"), F.sum("v2.cpos").alias("pos_l"))
    )
    tot = vals.agg(F.sum("c").alias("n_t"), F.sum("cpos").alias("pos_t"))
    cand = (pref.crossJoin(F.broadcast(tot))
            .withColumn("n_r", F.col("n_t") - F.col("n_l"))
            .withColumn("pos_r", F.col("pos_t") - F.col("pos_l"))
            .filter(F.col("n_r") > 0))

    def imp(n: str, pos: str):
        nD = F.col(n).cast("double")
        pD = F.col(pos).cast("double")
        qD = nD - pD
        return (nD * nD - pD * pD - qD * qD) / nD

    cand = cand.withColumn("w_imp", imp("n_l", "pos_l") + imp("n_r", "pos_r"))
    best = cand.agg(F.min(F.struct(
        "w_imp", "thr", "n_l", "pos_l", "n_r", "pos_r")).alias("b"))
    return best.select(
        F.col("b.thr").alias("thr"),
        F.round(F.col("b.w_imp"), 6).alias("w_imp"),
        F.col("b.n_l").cast("long").alias("n_l"),
        F.col("b.pos_l").cast("long").alias("pos_l"),
        F.col("b.n_r").cast("long").alias("n_r"),
        F.col("b.pos_r").cast("long").alias("pos_r"),
    )


def q_readability_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability census per source: words (house
    tokenization), sentence marks ([.!?] occurrences counted as
    length-delta after a global regexp_replace) and vowel-group syllable
    proxies ([aeiouAEIOU]+ matches) are EXACT per-doc integers summed in
    BIGINT; the Flesch score 206.835 − 1.015·(W/S) − 84.6·(V/W) is ONE
    single-shot double per source from those exact sums. Regexes are
    character-class-only so Java and DuckDB RE semantics coincide.
    Shape: one corpus pass, K-row output."""
    d = _tokenized_docs(spark, sf_dir)
    words = F.size("words")
    sents = F.length("text") - F.length(F.regexp_replace("text", "[.!?]", ""))
    vgrp = F.size(F.expr("regexp_extract_all(text, '[aeiouAEIOU]+', 0)"))
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(words).cast("long").alias("w"),
        F.sum(sents).cast("long").alias("s"),
        F.sum(vgrp).cast("long").alias("v"),
    )
    wD = F.col("w").cast("double")
    sD = F.nullif(F.col("s"), F.lit(0)).cast("double")
    flesch = (F.lit(206.835) - F.lit(1.015) * (wD / sD)
              - F.lit(84.6) * (F.col("v").cast("double") / wD))
    return agg.select("source", "n_docs", "w", "s", "v",
                      F.round(flesch, 4).alias("flesch"))


def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's diversity index of the language mix per source:
    D = 1 − Σ nᵢ(nᵢ−1) / (N(N−1)) — the Σ is an exact BIGINT over the
    tiny (source, lang) contingency, the division is single-shot.
    The corpus-composition readout a data-mixture pipeline monitors."""
    d = load_table(spark, "documents", sf_dir)
    cell = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    agg = cell.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("pair_sum"),
    )
    nD = F.col("n_docs").cast("double")
    simpson = (F.lit(1.0) - F.col("pair_sum").cast("double")
               / (nD * (nD - F.lit(1.0))))
    return agg.select("source", "n_docs", "n_langs",
                      F.round(simpson, 6).alias("simpson"))


ZIPF_MIN_FREQ = 5  # tokens below this frequency are noise for the fit


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency spectrum: OLS slope of
    ln(freq) on ln(rank) for tokens with freq ≥ 5. Ranks are DOUBLED
    integer midranks per frequency GROUP (ties share a midrank) built
    from the frequency histogram — a relation of distinct frequency
    VALUES, far smaller than the vocabulary — via the broadcast prefix
    self-join; no window, no vocabulary self-join. Each group's OLS terms
    (t·x, t·y, t·x², t·xy with x = ln(r2/2), y = ln f) are single-shot
    doubles rounded to DECIMAL(20,12) BEFORE the sum (the js_divergence
    discipline), so the fold is merge-order-free; slope and intercept are
    single-shot at the end."""
    # r11: the frequency spectrum folds from the shared _term_freq
    # checkpoint (Σ over sources of the per-source counts — exact), not
    # its own token explode + term exchange
    tok = (_term_freq(spark, sf_dir)
           .filter(F.length("w") > 0)
           .groupBy("w").agg(F.sum("c").cast("long").alias("f"))
           .filter(F.col("f") >= ZIPF_MIN_FREQ))
    hist = tok.groupBy("f").agg(F.count(F.lit(1)).alias("t"))
    pref = (
        hist.alias("h1")
        .join(F.broadcast(hist.alias("h2")), F.col("h2.f") > F.col("h1.f"),
              "left")
        .groupBy(F.col("h1.f").alias("f"), F.col("h1.t").alias("t"))
        .agg(F.coalesce(F.sum("h2.t"), F.lit(0)).alias("b"))
        .select("f", "t", (F.lit(2) * F.col("b") + F.col("t") + 1)
                .alias("r2"))
    )
    x = F.log(F.col("r2").cast("double") / F.lit(2.0))
    y = F.log(F.col("f").cast("double"))
    tD = F.col("t").cast("double")

    def fx(e):
        return F.round(e, 12).cast("decimal(20,12)")

    terms = pref.select(
        F.col("t"), fx(tD * x).alias("sx"), fx(tD * y).alias("sy"),
        fx(tD * x * x).alias("sxx"), fx(tD * x * y).alias("sxy"))
    agg = terms.agg(
        F.sum("t").cast("long").alias("n_tokens"),
        F.sum("sx").alias("sx"), F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"), F.sum("sxy").alias("sxy"))
    nD = F.col("n_tokens").cast("double")

    def dbl(c):
        return F.col(c).cast("double")

    slope = ((nD * dbl("sxy") - dbl("sx") * dbl("sy"))
             / (nD * dbl("sxx") - dbl("sx") * dbl("sx")))
    intercept = (dbl("sy") - slope * dbl("sx")) / nD
    return agg.select(
        "n_tokens",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"))


PFJ_THRESHOLD = 0.6   # Jaccard threshold for the prefix-filtered join
PFJ_CAP = 30          # per-doc distinct-token cap (deterministic prefix)


def q_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with PPJoin-style PREFIX FILTERING — the
    third candidate-generation discipline after LSH banding and pigeonhole
    blocking: under any fixed global token order, two sets with
    Jaccard ≥ t MUST share an element in their first |s| − ⌈t·|s|⌉ + 1
    elements, so only docs sharing a prefix element are ever paired. Sets
    are each doc's `PFJ_CAP` rarest distinct word-TRIGRAM shingles (the
    single-token vocabulary is too small for set identity) under the
    global ascending-document-frequency order — the PPJoin order, so the
    candidate join fans out on rare shingles, never on boilerplate;
    candidates come from ONE equi-join on the exploded prefix;
    verification is exact integer ∩/∪ over the bounded arrays, never a
    similarity scan. The hashed jaccard is an exact rational rounded
    once. At 100 TB prefix shingles are further length-bucketed; the
    shuffle stays proportional to candidate pairs."""
    d = _tokenized_docs(spark, sf_dir)
    ws = F.filter("words", lambda w: F.length(w) > 0)
    # guard BEFORE building the index sequence: Spark's sequence(1, n)
    # descends when n < 1, which would index element 0 (an error)
    wsd = (d.select("doc_id", ws.alias("ws"))
           .filter(F.size("ws") >= 3))
    shingles = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("ws") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("ws", i), F.element_at("ws", i + 1),
            F.element_at("ws", i + 2))))
    dt = wsd.select("doc_id", F.explode(shingles).alias("w"))
    df_tbl = dt.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # PPJoin order: ascending document frequency (ties by shingle) —
    # prefixes then hold the RAREST shingles. The (df, w) sort key is
    # encoded as one zero-padded string so array_sort and DuckDB
    # list_sort agree.
    keyed = (dt.join(df_tbl, "w")
             .select("doc_id",
                     F.concat(F.lpad(F.col("df").cast("string"), 12, "0"),
                              F.lit("|"), F.col("w")).alias("kw")))
    base = (keyed.groupBy("doc_id")
            .agg(F.slice(F.array_sort(F.collect_list("kw")), 1, PFJ_CAP)
                 .alias("toks"))
            .filter(F.size("toks") > 0))
    pref_len = (F.size("toks")
                - F.ceil(F.size("toks") * F.lit(PFJ_THRESHOLD)).cast("int")
                + 1)
    # r11 (guide §2.3/§8): decide with small rows, move big rows once.
    # The exploded prefix relation used to carry each doc's FULL toks
    # array (≤PFJ_CAP strings of 12+gram chars) pref_len times through
    # the candidate equi-join AND the pair dropDuplicates shuffle; the
    # candidate generation needs only doc ids. Ids alone flow through
    # explode → join → distinct, and the two bounded arrays are
    # re-attached afterwards by one equi-join per side against ``base``
    # (each toks array is shuffled ONCE instead of pref_len times) —
    # same candidate set, same verification, same rows. Measured at
    # sf0.1: 2.8 s → ~1.5 s; plan diff: the pair exchanges now carry
    # (id, id) instead of (id, id, array, array).
    pref = base.select(
        "doc_id", F.explode(F.slice("toks", 1, pref_len)).alias("ptok"))
    a = pref.select(F.col("doc_id").alias("id_a"), "ptok")
    b = pref.select(F.col("doc_id").alias("id_b"), "ptok")
    cand_ids = (a.join(b, "ptok")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct())
    cand = (cand_ids
            .join(base.select(F.col("doc_id").alias("id_a"),
                              F.col("toks").alias("toks_a")), "id_a")
            .join(base.select(F.col("doc_id").alias("id_b"),
                              F.col("toks").alias("toks_b")), "id_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = (F.size("toks_a") + F.size("toks_b") - inter)
    out = (cand.withColumn("inter", inter)
           .withColumn("uni", union)
           .filter(F.col("inter").cast("double")
                   >= F.lit(PFJ_THRESHOLD) * F.col("uni")))
    return out.select(
        "id_a", "id_b", "inter", "uni",
        F.round(F.col("inter").cast("double")
                / F.col("uni").cast("double"), 6).alias("jaccard"))


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: per source, corpus size N
    (total tokens) and vocabulary V (exact distinct tokens) give K points;
    OLS of ln V on ln N yields the growth exponent β. N and V are exact
    BIGINTs from two aggregations; each source's OLS terms are single-shot
    doubles rounded to DECIMAL(20,12) BEFORE the K-row sum (the zipf_slope
    discipline), β and ln k single-shot at the end."""
    # r11: (N, V) fold from the shared _term_freq checkpoint — N is the
    # weight sum, V the row count per source (rows are distinct terms)
    per_src = (_term_freq(spark, sf_dir)
               .filter(F.length("w") > 0)
               .groupBy("source").agg(
                   F.sum("c").cast("long").alias("n_tok"),
                   F.count(F.lit(1)).alias("v")))
    x = F.log(F.col("n_tok").cast("double"))
    y = F.log(F.col("v").cast("double"))

    def fx(e):
        return F.round(e, 12).cast("decimal(20,12)")

    terms = per_src.select(fx(x).alias("sx"), fx(y).alias("sy"),
                           fx(x * x).alias("sxx"), fx(x * y).alias("sxy"))
    agg = terms.agg(F.count(F.lit(1)).alias("k"),
                    F.sum("sx").alias("sx"), F.sum("sy").alias("sy"),
                    F.sum("sxx").alias("sxx"), F.sum("sxy").alias("sxy"))
    kD = F.col("k").cast("double")

    def dbl(c):
        return F.col(c).cast("double")

    beta = ((kD * dbl("sxy") - dbl("sx") * dbl("sy"))
            / (kD * dbl("sxx") - dbl("sx") * dbl("sx")))
    lnk = (dbl("sy") - beta * dbl("sx")) / kD
    return agg.select(F.col("k").cast("long").alias("n_sources"),
                      F.round(beta, 6).alias("beta"),
                      F.round(lnk, 6).alias("ln_k"))


SALSA_ONE = 10 ** 12   # fixed-point unit mass
SALSA_ITERS = 4
SALSA_MIN_C = 2        # prune hapax bigram edges


@corpus_memo(table="documents")
def _salsa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed bigram edge checkpoint for SALSA — memoized per
    (session, corpus)."""
    d = _tokenized_docs(spark, sf_dir)
    toks = d.select(F.filter("words", lambda x: F.length(x) > 0)
                    .alias("toks"))
    adj = (
        toks.select(F.explode(F.expr(
            "CASE WHEN size(toks) >= 2 THEN "
            "transform(sequence(1, size(toks) - 1), "
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2)) "
            "ELSE array() END")).alias("p"))
        .select(F.col("p.w1").alias("src"), F.col("p.w2").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    edges = (adj.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
             .filter(F.col("c") >= SALSA_MIN_C)
             .localCheckpoint())
    return edges


def q_salsa_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hub/authority scores (Lempel & Moran '00) over the DIRECTED
    word-bigram graph — the random-walk sibling of HITS that needs NO
    global normalization step, which is what makes it expressible in the
    textrank fixed-point BIGINT discipline: each half-iteration is
    authority[d] = Σ (hub[s]·c) DIV outw[s] then
    hub[s] = Σ (auth[d]·c) DIV inw[d] — floor division per edge, integer
    sums, bit-exact on both engines, hash gate verifies the EXACT
    integers. Per iteration: two edge-sized joins over the
    vocabulary-bounded edge relation (checkpointed; the corpus is
    scanned once). HITS itself normalizes by a global sum each step —
    a decimal division whose rounding differs across engines — so SALSA
    is the right graph-centrality twin for an exactness-gated engine.
    The edge checkpoint is memoized per (session, corpus) since r10
    (the SSSP/textrank pattern): repeated executions pay the corpus
    scan + bigram groupBy once, not per call.

    r11 (guide §2.4): the 4 iterations used to pay 8 edge-sized shuffles
    (each half-iteration's groupBy exchanged the post-join rows) — 27
    single-task stages per execution at sf0.1, pure launch overhead.
    The exchange now sits BELOW the broadcast join: ``edges`` is
    repartitioned by dst (and by src) ONCE, every per-iteration
    broadcast-hash join preserves that partitioning, and every
    groupBy(dst)/groupBy(src) runs exchange-free on top of it. The two
    repartition exchanges are iteration-invariant, so AQE's stage cache
    executes each once per run and reuses the shuffle output for all 4
    iterations — 8 edge shuffles → 2, identical integer results (sums
    are order-free exact BIGINT arithmetic)."""
    edges = _salsa_edges(spark, sf_dir)
    e_src = edges.repartition("src")
    e_dst = edges.repartition("dst")
    outw = e_src.groupBy("src").agg(F.sum("c").alias("outw"))
    inw = e_dst.groupBy("dst").agg(F.sum("c").alias("inw"))
    nh = outw.agg(F.count(F.lit(1)).alias("n"))
    hub = (outw.crossJoin(F.broadcast(nh))
           .select("src", "outw", F.expr(f"{SALSA_ONE} div n").alias("h")))
    auth = None
    for _ in range(SALSA_ITERS):
        auth = (e_dst.join(F.broadcast(hub), "src")
                .groupBy("dst")
                .agg(F.sum(F.expr("(h * c) div outw")).alias("a")))
        auth = auth.join(F.broadcast(inw), "dst")
        hub = (e_src.join(F.broadcast(auth), "dst")
               .groupBy("src")
               .agg(F.sum(F.expr("(a * c) div inw")).alias("h")))
        hub = hub.join(F.broadcast(outw), "src")
    h_side = hub.select(F.col("src").alias("word"), "h")
    a_side = auth.select(F.col("dst").alias("word"), "a")
    return (h_side.join(a_side, "word", "full")
            .select("word",
                    F.coalesce("h", F.lit(0)).cast("long").alias("hub"),
                    F.coalesce("a", F.lit(0)).cast("long").alias("auth")))


def _salsa_oracle() -> str:
    """Generated CTE chain replaying the identical integer recursion."""
    head = f"""
    WITH toks AS (
        SELECT list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS toks
        FROM documents
    ),
    adj AS (
        SELECT p.w1 AS src, p.w2 AS dst FROM (
            SELECT unnest(CASE WHEN len(toks) >= 2 THEN
                list_transform(range(2, len(toks) + 1),
                    i -> struct_pack(w1 := toks[i - 1], w2 := toks[i]))
                ELSE [] END) AS p
            FROM toks) t
        WHERE p.w1 <> p.w2
    ),
    edges AS (
        SELECT src, dst, count(*) AS c FROM adj
        GROUP BY src, dst HAVING count(*) >= {SALSA_MIN_C}
    ),
    outw AS (SELECT src, sum(c) AS outw FROM edges GROUP BY src),
    inw AS (SELECT dst, sum(c) AS inw FROM edges GROUP BY dst),
    nh AS (SELECT count(*) AS n FROM outw),
    hub0 AS (
        SELECT src, outw, CAST({SALSA_ONE} // n AS BIGINT) AS h
        FROM outw CROSS JOIN nh
    )"""
    blocks = [head]
    for t in range(SALSA_ITERS):
        blocks.append(f"""
    auth{t + 1} AS (
        SELECT e.dst, inw.inw,
               CAST(sum(hub{t}.h * e.c // hub{t}.outw) AS BIGINT) AS a
        FROM edges e JOIN hub{t} ON e.src = hub{t}.src
        JOIN inw ON e.dst = inw.dst
        GROUP BY e.dst, inw.inw
    ),
    hub{t + 1} AS (
        SELECT e.src, outw.outw,
               CAST(sum(auth{t + 1}.a * e.c // auth{t + 1}.inw) AS BIGINT)
               AS h
        FROM edges e JOIN auth{t + 1} ON e.dst = auth{t + 1}.dst
        JOIN outw ON e.src = outw.src
        GROUP BY e.src, outw.outw
    )""")
    last = SALSA_ITERS
    return (",".join(blocks) + f"""
    SELECT COALESCE(h.src, a.dst) AS word,
           COALESCE(h.h, 0) AS hub, COALESCE(a.a, 0) AS auth
    FROM hub{last} h FULL OUTER JOIN auth{last} a ON h.src = a.dst""")


FS_BLOCK_WIDTH = 50   # n_chars block width for candidate generation
FS_BLOCK_CAP = 24     # docs kept per block (deterministic by doc_id)
FS_DUP_J = 0.5        # shingle-jaccard threshold labeling a "true" match


def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage weight training (the 1969 model
    behind every probabilistic entity-resolution system), fully
    relational: candidate pairs come from (lang, length-block) BLOCKING
    with a deterministic per-block cap (row_number by doc_id over the
    block exchange — bounded partitions, never a corpus cross join);
    ground-truth match labels are exact trigram-shingle Jaccard ≥ 0.5
    computed in-array per pair; then for each comparison field
    (same source, length within 10, same first word) the m/u
    probabilities are Laplace-smoothed EXACT integer counts and the
    agreement/disagreement log-weights ln(m/u), ln((1−m)/(1−u)) are
    single-shot doubles. Output is K field rows — the trained linkage
    model, auditable in one look."""
    from pyspark.sql import Window

    d = _tokenized_docs(spark, sf_dir).withColumn(
        "ws", F.filter("words", lambda x: F.length(x) > 0))
    toks = F.slice(F.array_sort(F.array_distinct(F.expr(
        "CASE WHEN size(ws) >= 3 THEN "
        "transform(sequence(1, size(ws) - 2), "
        "i -> concat_ws(' ', ws[i - 1], ws[i], ws[i + 1])) "
        "ELSE array() END"))), 1, PFJ_CAP)
    base = d.select(
        "doc_id", "source", "n_chars", "lang",
        F.element_at("ws", 1).alias("w1"),
        toks.alias("toks"),
        (F.col("n_chars") / F.lit(FS_BLOCK_WIDTH)).cast("long").alias("lb"))
    w = Window.partitionBy("lang", "lb").orderBy("doc_id")
    base = (base.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= FS_BLOCK_CAP))
    a = base.select(*[F.col(c).alias(c + "_a")
                      for c in ("doc_id", "source", "n_chars", "w1", "toks")],
                    "lang", "lb")
    b = base.select(*[F.col(c).alias(c + "_b")
                      for c in ("doc_id", "source", "n_chars", "w1", "toks")],
                    "lang", "lb")
    pairs = (a.join(b, ["lang", "lb"])
             .filter(F.col("doc_id_a") < F.col("doc_id_b")))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.size("toks_a") + F.size("toks_b") - inter
    lab = pairs.select(
        (inter.cast("double") >= F.lit(FS_DUP_J) * uni.cast("double"))
        .cast("int").alias("dup"),
        (F.col("source_a") == F.col("source_b")).cast("int").alias("f_src"),
        (F.abs(F.col("n_chars_a") - F.col("n_chars_b")) <= 10)
        .cast("int").alias("f_len"),
        (F.col("w1_a") == F.col("w1_b")).cast("int").alias("f_w1"))
    long = lab.selectExpr(
        "dup",
        "stack(3, 'same_source', f_src, 'len_within_10', f_len, "
        "'same_first_word', f_w1) AS (field, agree)")
    agg = long.groupBy("field").agg(
        F.sum("dup").cast("long").alias("dup_pairs"),
        F.sum(1 - F.col("dup")).cast("long").alias("nondup_pairs"),
        F.sum(F.col("dup") * F.col("agree")).cast("long").alias("agree_dup"),
        F.sum((1 - F.col("dup")) * F.col("agree")).cast("long")
        .alias("agree_nondup"))
    m = ((F.col("agree_dup").cast("double") + F.lit(1.0))
         / (F.col("dup_pairs").cast("double") + F.lit(2.0)))
    u = ((F.col("agree_nondup").cast("double") + F.lit(1.0))
         / (F.col("nondup_pairs").cast("double") + F.lit(2.0)))
    return agg.select(
        "field", "dup_pairs", "nondup_pairs", "agree_dup", "agree_nondup",
        F.round(F.log(m / u), 6).alias("w_agree"),
        F.round(F.log((F.lit(1.0) - m) / (F.lit(1.0) - u)), 6)
        .alias("w_disagree"))


SCJ_DOC_CAP = 300     # bounded slice for the gate
SCJ_DF_MIN, SCJ_DF_MAX = 2, 20  # shared AND rare: the postings bound
SCJ_MIN_COSINE = 0.30


def q_sparse_cosine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse term-vector cosine self-join over a DF-BOUNDED postings
    index — the bag-of-words sibling of the embedding similarity_join
    (dense cosine) and prefix_filter_jaccard (set overlap): document
    pairs scored by cosine over raw term frequencies, restricted to the
    rare-term subspace (document frequency in [SCJ_DF_MIN, SCJ_DF_MAX]).
    The DF cap IS the candidate-generation discipline: a token's posting
    list is ≤ DF_MAX docs, so the index self-join fans out at most
    DF_MAX² per token regardless of corpus size — boilerplate terms
    never join. Dot products and norms are exact BIGINT folds of tf
    products; the cosine is division + sqrt only (IEEE-correctly-rounded,
    bit-identical cross-engine — no transcendental), so it hashes
    unrounded."""
    d = load_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") < SCJ_DOC_CAP)
    tok = d.select("doc_id", F.explode(
        F.filter(F.split("text", " "), lambda x: x != "")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfb = (tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df").between(SCJ_DF_MIN, SCJ_DF_MAX)))
    post = tf.join(dfb.select("w"), "w")
    norms = (post.groupBy("doc_id")
             .agg(F.sum(F.col("tf") * F.col("tf")).cast("long")
                  .alias("n2")))
    a = post.select(F.col("w"), F.col("doc_id").alias("da"),
                    F.col("tf").alias("ta"))
    b = post.select(F.col("w"), F.col("doc_id").alias("db"),
                    F.col("tf").alias("tb"))
    dots = (a.join(b, "w").filter(F.col("da") < F.col("db"))
            .groupBy("da", "db")
            .agg(F.sum(F.col("ta") * F.col("tb")).cast("long")
                 .alias("dot")))
    na = norms.select(F.col("doc_id").alias("da"), F.col("n2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("db"), F.col("n2").alias("nb"))
    cos = (F.col("dot").cast("double")
           / F.sqrt(F.col("na").cast("double")
                    * F.col("nb").cast("double")))
    return (dots.join(F.broadcast(na), "da").join(F.broadcast(nb), "db")
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= SCJ_MIN_COSINE)
            .select("da", "db", "dot", "na", "nb", "cosine"))


ORACLE_SPARSE_COSINE = f"""
    WITH tok AS (
        SELECT doc_id, t.w
        FROM documents,
             LATERAL (SELECT unnest(string_split(text, ' ')) AS w) t
        WHERE t.w <> '' AND doc_id < {SCJ_DOC_CAP}
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    dfb AS (
        SELECT w FROM (SELECT w, count(*) AS df FROM tf GROUP BY w) x
        WHERE df BETWEEN {SCJ_DF_MIN} AND {SCJ_DF_MAX}
    ),
    post AS (SELECT tf.* FROM tf JOIN dfb USING (w)),
    norms AS (
        SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
        FROM post GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        FROM post a JOIN post b
          ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT da, db, dot, na.n2 AS na, nb.n2 AS nb,
           CAST(dot AS DOUBLE)
               / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
               AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = da
    JOIN norms nb ON nb.doc_id = db
    WHERE CAST(dot AS DOUBLE)
          / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
          >= {SCJ_MIN_COSINE}
"""


LLR_TOP_PER_LANG = 15


def q_llr_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio keyword extraction per language —
    the significance-test sibling of token_pmi (PMI over-weights rare
    pairs; LLR is the corpus-linguistics standard for 'surprisingly
    frequent in THIS slice'). One token explode → (lang, term) counts;
    the 2×2 contingency (in-lang vs rest occurrences, term vs other
    tokens) folds from exact integer marginals (per-term totals joined
    in, per-lang totals broadcast — a K-row dim). Term selection is by
    exact INTEGER order (in-lang count desc, term) via a per-lang
    window over the vocabulary relation — never by the float statistic,
    so the kept set is engine-deterministic by construction. G² itself
    is one single-shot fixed-arity xlogx expression per row, rounded to
    6 decimals — the house absorber for the engines' last-ulp ln()
    differences (JVM Math.log vs libm; see transition_entropy) — with
    x·ln(x) guarded to 0 at x=0."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    tok = d.select("lang", F.explode(
        F.filter(F.split("text", " "), lambda x: x != "")).alias("w"))
    lw = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("k11"))
    wtot = lw.groupBy("w").agg(F.sum("k11").cast("long").alias("cw"))
    ltot = lw.groupBy("lang").agg(F.sum("k11").cast("long").alias("nl"))
    ntot = ltot.agg(F.sum("nl").cast("long").alias("nn"))
    pick = Window.partitionBy("lang").orderBy(F.desc("k11"), "w")
    top = (lw.withColumn("rn", F.row_number().over(pick))
           .filter(F.col("rn") <= LLR_TOP_PER_LANG).drop("rn"))
    j = (top.join(wtot, "w")
         .join(F.broadcast(ltot), "lang")
         .crossJoin(F.broadcast(ntot)))
    k11 = F.col("k11").cast("double")
    k12 = (F.col("cw") - F.col("k11")).cast("double")
    k21 = (F.col("nl") - F.col("k11")).cast("double")
    k22 = (F.col("nn") - F.col("cw") - F.col("nl")
           + F.col("k11")).cast("double")

    def xlx(x):
        return F.when(x == 0, F.lit(0.0)).otherwise(x * F.log(x))

    nn = F.col("nn").cast("double")
    llr = 2.0 * (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22) + xlx(nn)
                 - xlx(k11 + k12) - xlx(k21 + k22)
                 - xlx(k11 + k21) - xlx(k12 + k22))
    return j.select("lang", "w",
                    F.col("k11").cast("long").alias("k11"),
                    "cw", "nl", F.round(llr, 6).alias("llr"))


ORACLE_LLR_KEYWORDS = """
    WITH tok AS (
        SELECT lang, t.w
        FROM documents,
             LATERAL (SELECT unnest(string_split(text, ' ')) AS w) t
        WHERE t.w <> ''
    ),
    lw AS (SELECT lang, w, count(*) AS k11 FROM tok GROUP BY lang, w),
    wtot AS (SELECT w, CAST(sum(k11) AS BIGINT) AS cw FROM lw GROUP BY w),
    ltot AS (SELECT lang, CAST(sum(k11) AS BIGINT) AS nl
             FROM lw GROUP BY lang),
    ntot AS (SELECT CAST(sum(nl) AS BIGINT) AS nn FROM ltot),
    top AS (
        SELECT lang, w, k11
        FROM (SELECT lang, w, k11,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY k11 DESC, w) AS rn
              FROM lw) x
        WHERE rn <= {top}
    ),
    j AS (
        SELECT t.lang, t.w,
               CAST(t.k11 AS DOUBLE) AS a,
               CAST(wt.cw - t.k11 AS DOUBLE) AS b,
               CAST(lt.nl - t.k11 AS DOUBLE) AS c,
               CAST(nt.nn - wt.cw - lt.nl + t.k11 AS DOUBLE) AS d,
               CAST(nt.nn AS DOUBLE) AS nnd,
               CAST(t.k11 AS BIGINT) AS k11, wt.cw, lt.nl
        FROM top t
        JOIN wtot wt USING (w)
        JOIN ltot lt USING (lang)
        CROSS JOIN ntot nt
    )
    SELECT lang, w, k11, cw, nl,
           round(2.0 * ((CASE WHEN a = 0 THEN 0 ELSE a * ln(a) END)
                + (CASE WHEN b = 0 THEN 0 ELSE b * ln(b) END)
                + (CASE WHEN c = 0 THEN 0 ELSE c * ln(c) END)
                + (CASE WHEN d = 0 THEN 0 ELSE d * ln(d) END)
                + (CASE WHEN nnd = 0 THEN 0 ELSE nnd * ln(nnd) END)
                - (CASE WHEN a + b = 0 THEN 0
                        ELSE (a + b) * ln(a + b) END)
                - (CASE WHEN c + d = 0 THEN 0
                        ELSE (c + d) * ln(c + d) END)
                - (CASE WHEN a + c = 0 THEN 0
                        ELSE (a + c) * ln(a + c) END)
                - (CASE WHEN b + d = 0 THEN 0
                        ELSE (b + d) * ln(b + d) END)), 6) AS llr
    FROM j
""".format(top=LLR_TOP_PER_LANG)


VOCAB_COVERAGE_KS = (10, 100, 1000)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of all token OCCURRENCES do
    the top-K most frequent token TYPES cover, for K ∈ {10, 100, 1000} —
    the tokenizer-budget readout next to heaps_law (type growth) and
    zipf_slope (frequency decay). Selection is exact-integer ordered
    (count desc, token): ``orderBy().limit()`` plans as a distributed
    TakeOrdered (per-partition top-K + driver merge, no global sort
    shuffle), and the row_number window that assigns positions runs over
    the ≤max(K)-row survivors — bounded by the constant K, never by
    corpus or vocabulary size. Totals crossJoin in as a broadcast 1-row
    aggregate; the share is one single-shot double per K."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    cnt = (d.select(F.explode(
        F.filter(F.split("text", " "), lambda x: x != "")).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    kmax = max(VOCAB_COVERAGE_KS)
    top = cnt.orderBy(F.desc("cnt"), "w").limit(kmax)
    w = Window.orderBy(F.desc("cnt"), "w")
    top = top.withColumn("rn", F.row_number().over(w))
    tot = cnt.agg(F.sum("cnt").cast("long").alias("total"),
                  F.count(F.lit(1)).cast("long").alias("types"))
    covered = top.agg(*[
        F.sum(F.when(F.col("rn") <= k, F.col("cnt")).otherwise(0))
        .cast("long").alias(f"cov_{k}") for k in VOCAB_COVERAGE_KS])
    j = covered.crossJoin(F.broadcast(tot))
    rows = [
        j.select(F.lit(k).cast("long").alias("k"),
                 F.col(f"cov_{k}").alias("covered"),
                 "total", "types",
                 (F.col(f"cov_{k}").cast("double")
                  / F.col("total").cast("double")).alias("share"))
        for k in VOCAB_COVERAGE_KS]
    u = rows[0]
    for r in rows[1:]:
        u = u.unionAll(r)
    return u


ORACLE_VOCAB_COVERAGE = """
    WITH tok AS (
        SELECT t.w
        FROM documents,
             LATERAL (SELECT unnest(string_split(text, ' ')) AS w) t
        WHERE t.w <> ''
    ),
    cnt AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS types FROM cnt),
    top AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rn
        FROM cnt ORDER BY cnt DESC, w LIMIT 1000
    ),
    cov AS (
        SELECT CAST(sum(CASE WHEN rn <= 10 THEN cnt ELSE 0 END)
                    AS BIGINT) AS cov_10,
               CAST(sum(CASE WHEN rn <= 100 THEN cnt ELSE 0 END)
                    AS BIGINT) AS cov_100,
               CAST(sum(CASE WHEN rn <= 1000 THEN cnt ELSE 0 END)
                    AS BIGINT) AS cov_1000
        FROM top
    )
    SELECT CAST(10 AS BIGINT) AS k, cov_10 AS covered, total, types,
           CAST(cov_10 AS DOUBLE) / total AS share
    FROM cov CROSS JOIN tot
    UNION ALL
    SELECT 100, cov_100, total, types, CAST(cov_100 AS DOUBLE) / total
    FROM cov CROSS JOIN tot
    UNION ALL
    SELECT 1000, cov_1000, total, types, CAST(cov_1000 AS DOUBLE) / total
    FROM cov CROSS JOIN tot
"""


QUERIES = {
    "llr_keywords": q_llr_keywords,
    "sparse_cosine_join": q_sparse_cosine_join,
    "vocab_coverage": q_vocab_coverage,
    "naive_bayes_lang": q_naive_bayes_lang,
    "mi_contingency": q_mi_contingency,
    "model_eval_auc": q_model_eval_auc,
    "decision_stump": q_decision_stump,
    "readability_census": q_readability_census,
    "simpson_diversity": q_simpson_diversity,
    "zipf_slope": q_zipf_slope,
    "prefix_filter_jaccard": q_prefix_filter_jaccard,
    "heaps_law": q_heaps_law,
    "salsa_scores": q_salsa_scores,
    "fellegi_sunter": q_fellegi_sunter,
    "quantile_normalize": q_quantile_normalize,
    "bootstrap_resample": q_bootstrap_resample,
    "bootstrap_ci": q_bootstrap_ci,
    "welch_ttest": q_welch_ttest,
    "cohens_d": q_cohens_d,
    "mcnemar_paired": q_mcnemar_paired,
    "wasserstein_1d": q_wasserstein_1d,
    "burrows_delta": q_burrows_delta,
    "lexical_diversity": q_lexical_diversity,
    "mann_whitney": q_mann_whitney,
    "gmean_hmean": q_gmean_hmean,
    "ks_test": q_ks_test,
    "cohens_kappa": q_cohens_kappa,
    "js_divergence": q_js_divergence,
    "isotonic_calibration": q_isotonic_calibration,
    "textrank_keywords": q_textrank_keywords,
    "bigram_lm_score": q_bigram_lm_score,
    "dsir_importance": q_dsir_importance,
    "quality_model": q_quality_model,
    "decile_calibration": q_decile_calibration,
    "score_drift_psi": q_score_drift_psi,
    "chi_square_independence": q_chi_square_independence,
    "stratified_sample": q_stratified_sample,
    "split_leakage": q_split_leakage,
    "approx_quantiles": q_approx_quantiles,
    "hll_union": q_hll_union,
    "quantile_merge": q_quantile_merge,
    "token_pmi": q_token_pmi,
    "kll_quantiles": q_kll_quantiles,
    "theta_sketch_ops": q_theta_sketch_ops,
    "bitmap_distinct": q_bitmap_distinct,
    "winnow_pairs": q_winnow_pairs,
    "duplicate_spans": q_duplicate_spans,
    "gopher_repetition": q_gopher_repetition,
    "token_entropy": q_token_entropy,
    "dataset_mixture": q_dataset_mixture,
    "sequence_packing": q_sequence_packing,
    "contamination_check": q_contamination_check,
    "train_val_split": q_train_val_split,
    "zscore_normalize": q_zscore_normalize,
    "approx_distinct": q_approx_distinct,
    "quality_filter_pipeline": q_quality_filter_pipeline,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "lang_id": q_lang_id,
    "fingerprint_dedup": q_fingerprint_dedup,
    "exact_dedup_stats": q_exact_dedup_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "length_histogram": q_length_histogram,
    "percentile_stats": q_percentile_stats,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "weighted_sample": q_weighted_sample,
}

ORACLES = {
    "llr_keywords": ORACLE_LLR_KEYWORDS,
    "sparse_cosine_join": ORACLE_SPARSE_COSINE,
    "vocab_coverage": ORACLE_VOCAB_COVERAGE,
    "textrank_keywords": _textrank_oracle(),
    "bootstrap_resample": f"""
        WITH ranked AS (
            SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn, n_chars
            FROM documents
        ),
        tot AS (SELECT count(*) AS n FROM documents),
        draws AS (
            SELECT b.b,
                   (b.b * {BOOT_MULT_A} + r.rn * {BOOT_MULT_B}
                    + ((r.rn * r.rn) % tot.n) * {BOOT_MULT_C}) % tot.n
                       AS rn
            FROM ranked r
            CROSS JOIN tot
            CROSS JOIN (SELECT unnest(range(1, {BOOT_B} + 1)) AS b) b
        )
        SELECT d.b, count(*) AS draws, sum(r.n_chars) AS sum_chars,
               round(CAST(sum(r.n_chars) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 4) AS mean_chars
        FROM draws d JOIN ranked r USING (rn)
        GROUP BY d.b
    """,
    "bootstrap_ci": f"""
        WITH ranked AS (
            SELECT row_number() OVER (ORDER BY doc_id) - 1 AS rn, n_chars
            FROM documents
        ),
        tot AS (SELECT count(*) AS n FROM documents),
        draws AS (
            SELECT b.b,
                   (b.b * {BOOT_MULT_A} + r.rn * {BOOT_MULT_B}
                    + ((r.rn * r.rn) % tot.n) * {BOOT_MULT_C}) % tot.n
                       AS rn
            FROM ranked r
            CROSS JOIN tot
            CROSS JOIN (SELECT unnest(range(1, {BOOT_B} + 1)) AS b) b
        ),
        sums AS (
            SELECT d.b, max(t2.n) AS n,
                   sum(CAST(r.n_chars AS HUGEINT)) AS s
            FROM draws d JOIN ranked r USING (rn) CROSS JOIN tot t2
            GROUP BY d.b
        ),
        agg AS (
            SELECT count(*) AS b_count, max(n) AS n,
                   sum(s) AS ss, sum(s * s) AS sss
            FROM sums
        ),
        m AS (
            SELECT b_count, n,
                   CAST(ss AS DOUBLE) / CAST(b_count AS DOUBLE)
                   / CAST(n AS DOUBLE) AS gm,
                   sqrt((CAST(b_count AS DOUBLE) * CAST(sss AS DOUBLE)
                         - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                        / (CAST(b_count AS DOUBLE)
                           * (CAST(b_count AS DOUBLE) - 1.0)))
                   / CAST(n AS DOUBLE) AS se
            FROM agg
        )
        SELECT CAST(b_count AS BIGINT) AS b_count,
               CAST(n AS BIGINT) AS total_draws,
               round(gm, 4) AS grand_mean,
               round(se, 6) AS se,
               round(gm - 1.96 * se, 4) AS ci_lo,
               round(gm + 1.96 * se, 4) AS ci_hi
        FROM m
    """,
    "welch_ttest": """
        WITH st AS (
            SELECT source, count(*) AS n,
                   sum(CAST(n_chars AS HUGEINT)) AS sx,
                   sum(CAST(n_chars AS HUGEINT)
                       * CAST(n_chars AS HUGEINT)) AS sxx
            FROM documents GROUP BY source
        ),
        m AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   a.n AS n_a, b.n AS n_b,
                   CAST(a.n AS DOUBLE) AS na, CAST(b.n AS DOUBLE) AS nb,
                   CAST(a.sx AS DOUBLE) AS sxa, CAST(b.sx AS DOUBLE) AS sxb,
                   CAST(a.sxx AS DOUBLE) AS sxxa,
                   CAST(b.sxx AS DOUBLE) AS sxxb
            FROM st a JOIN st b ON a.source < b.source
        ),
        e AS (
            SELECT src_a, src_b, n_a, n_b, na, nb, sxa, sxb,
                   (na * sxxa - sxa * sxa) / (na * (na - 1.0)) / na AS sea,
                   (nb * sxxb - sxb * sxb) / (nb * (nb - 1.0)) / nb AS seb
            FROM m
        )
        SELECT src_a, src_b,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               round((sxa / na - sxb / nb) / sqrt(sea + seb), 4) AS t,
               round((sea + seb) * (sea + seb)
                     / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)),
                     2) AS df
        FROM e
    """,
    "mann_whitney": f"""
        WITH d AS (
            SELECT source, n_chars FROM documents
            WHERE source IN ('{MW_SRC_A}', '{MW_SRC_B}')
        ),
        vals AS (SELECT n_chars, count(*) AS c FROM d GROUP BY n_chars),
        r AS (
            SELECT n_chars, c,
                   2 * COALESCE(sum(c) OVER (ORDER BY n_chars
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + c + 1 AS r2
            FROM vals
        ),
        per AS (
            SELECT source, count(*) AS n,
                   sum(CAST(r.r2 AS HUGEINT)) AS r2sum
            FROM d JOIN r USING (n_chars) GROUP BY source
        ),
        tt AS (
            SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS tt FROM vals
        ),
        w AS (
            SELECT max(CASE WHEN source = '{MW_SRC_A}' THEN n END) AS n_a,
                   max(CASE WHEN source = '{MW_SRC_A}' THEN r2sum END) AS r2a,
                   max(CASE WHEN source = '{MW_SRC_B}' THEN n END) AS n_b,
                   max(CASE WHEN source = '{MW_SRC_B}' THEN r2sum END) AS r2b
            FROM per
        ),
        u AS (
            SELECT n_a, n_b, tt.tt,
                   r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2_a,
                   r2b - CAST(n_b AS HUGEINT) * (n_b + 1) AS u2_b
            FROM w CROSS JOIN tt
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(u2_a AS BIGINT) AS u2_a, CAST(u2_b AS BIGINT) AS u2_b,
               CAST(u2_a + u2_b = 2 * CAST(n_a AS HUGEINT) * n_b AS INT)
                   AS u_sum_ok,
               round((CAST(u2_a AS DOUBLE) / 2.0
                      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                     / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                            * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                                + 1.0)
                               - CAST(tt AS DOUBLE)
                               / ((CAST(n_a AS DOUBLE)
                                   + CAST(n_b AS DOUBLE))
                                  * (CAST(n_a AS DOUBLE)
                                     + CAST(n_b AS DOUBLE) - 1.0)))),
                     4) AS z
        FROM u
    """,
    "gmean_hmean": """
        SELECT source, count(*) AS docs,
               round(exp(CAST(sum(CAST(round(ln(CAST(n_chars AS DOUBLE)), 6)
                                       AS DECIMAL(18,6))) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE)), 4) AS gmean,
               round(CAST(count(*) AS DOUBLE)
                     / CAST(sum(CAST(round(1.0 / CAST(n_chars AS DOUBLE), 12)
                                     AS DECIMAL(14,12))) AS DOUBLE),
                     4) AS hmean
        FROM documents GROUP BY source
    """,
    "quantile_normalize": """
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS n_s
            FROM documents
        ),
        g AS (
            SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS gi,
                   n_chars AS gval
            FROM documents
        ),
        tot AS (SELECT count(*) AS n_total FROM documents),
        mapped AS (
            SELECT r.source, g.gval
            FROM ranked r CROSS JOIN tot
            JOIN g ON g.gi = (r.rn * tot.n_total + r.n_s - 1) // r.n_s
        )
        SELECT source, count(*) AS docs, sum(gval) AS sum_mapped,
               min(gval) AS min_mapped, max(gval) AS max_mapped
        FROM mapped GROUP BY source
    """,
    "naive_bayes_lang": f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS w
            FROM documents
        ),
        train AS (SELECT * FROM toks WHERE doc_id % {NB_TEST_MOD} <> 0),
        counts AS (
            SELECT lang AS c, w, count(*) AS cnt FROM train GROUP BY 1, 2
        ),
        totals AS (SELECT c, sum(cnt) AS tot FROM counts GROUP BY 1),
        vocab AS (SELECT count(DISTINCT w) AS v FROM counts),
        class_docs AS (
            SELECT lang AS c, count(*) AS cdocs FROM documents
            WHERE doc_id % {NB_TEST_MOD} <> 0 GROUP BY 1
        ),
        tr AS (SELECT sum(cdocs) AS tdocs FROM class_docs),
        classes AS (
            SELECT c, cdocs, tdocs, tot, v
            FROM class_docs CROSS JOIN tr CROSS JOIN vocab
            JOIN totals USING (c)
        ),
        test AS (SELECT * FROM toks WHERE doc_id % {NB_TEST_MOD} = 0),
        scored AS (
            SELECT t.doc_id, t.lang, cl.c,
                   CAST(round(ln((coalesce(k.cnt, 0) + 1.0)
                                 / CAST(cl.tot + cl.v AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS loglik,
                   CAST(round(ln(CAST(cl.cdocs AS DOUBLE)
                                 / CAST(cl.tdocs AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS prior
            FROM test t CROSS JOIN classes cl
            LEFT JOIN counts k ON k.c = cl.c AND k.w = t.w
        ),
        per_class AS (
            SELECT doc_id, lang, c, sum(loglik) + min(prior) AS score
            FROM scored GROUP BY 1, 2, 3
        ),
        best AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, c) AS rn
            FROM per_class
        )
        SELECT lang AS true_lang, c AS pred_lang, count(*) AS docs,
               round(CAST(sum(score) AS DOUBLE), 4) AS sum_score
        FROM best WHERE rn = 1 GROUP BY 1, 2
    """,
    "bigram_lm_score": f"""
        WITH toks AS (
            SELECT doc_id, source, string_split(lower(text), ' ') AS w
            FROM documents
        ),
        flat AS (
            SELECT doc_id, source,
                   md5(w[i]) AS ph,
                   md5(w[i] || ' ' || w[i + 1]) AS bh
            FROM toks, unnest(range(1, len(w))) AS t(i)
        ),
        pc AS (SELECT bh, count(*) AS cb FROM flat GROUP BY bh),
        pv AS (SELECT ph, count(*) AS cp FROM flat GROUP BY ph),
        per_doc AS (
            SELECT doc_id, source, avg(ln(cb) - ln(cp)) AS lp
            FROM flat JOIN pc USING (bh) JOIN pv USING (ph)
            GROUP BY doc_id, source
        )
        SELECT source, count(*) AS docs,
               round(avg(lp), 4) AS avg_logprob,
               CAST(sum(CASE WHEN lp < {LM_LOW_LOGPROB} THEN 1 ELSE 0 END)
                    AS BIGINT) AS low_docs
        FROM per_doc GROUP BY source
    """,
    "dsir_importance": f"""
        WITH toks AS (
            SELECT doc_id, source, lang, string_split(lower(text), ' ') AS w
            FROM documents
        ),
        flat AS (
            SELECT doc_id, source, lang,
                   md5(w[i] || ' ' || w[i + 1]) AS bh
            FROM toks, unnest(range(1, len(w))) AS t(i)
        ),
        rawc AS (SELECT bh, count(*) AS cr FROM flat GROUP BY bh),
        tgtc AS (SELECT bh, count(*) AS ct FROM flat
                 WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bh),
        per_doc AS (
            SELECT doc_id, source,
                   avg(ln(coalesce(ct, 0) + 1) - ln(cr + 1)) AS w
            FROM flat JOIN rawc USING (bh) LEFT JOIN tgtc USING (bh)
            GROUP BY doc_id, source
        )
        SELECT source, count(*) AS docs,
               round(avg(w), 4) AS avg_weight,
               CAST(sum(CASE WHEN w > {DSIR_KEEP_THRESHOLD} THEN 1 ELSE 0 END)
                    AS BIGINT) AS kept
        FROM per_doc GROUP BY source
    """,
    "split_leakage": f"""
        WITH s AS (
            SELECT doc_id,
                   {split_case_sql("CAST(doc_id AS VARCHAR)")} AS split,
                   string_split(lower(text), ' ') AS w
            FROM documents
        ),
        g AS (
            SELECT doc_id, split,
                   unnest(list_distinct(list_transform(
                       range(1, len(w) - {LEAK_K - 2}),
                       i -> md5({" || ' ' || ".join(f"w[i+{j}]" for j in range(LEAK_K))}))))
                   AS gram
            FROM s WHERE len(w) >= {LEAK_K}
        )
        SELECT o.split, count(DISTINCT o.doc_id) AS leaked_docs,
               count(DISTINCT o.gram) AS shared_grams
        FROM g o JOIN g t ON o.gram = t.gram
        WHERE t.split = 'train' AND o.split <> 'train'
        GROUP BY 1
    """,
    "stratified_sample": f"""
        SELECT doc_id, source, rk, quota FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                               doc_id) AS rk,
                   CAST(ceil({SAMPLE_FRAC} * count(*) OVER (PARTITION BY source))
                        AS BIGINT) AS quota
            FROM documents
        ) t
        WHERE rk <= quota
    """,
    "weighted_sample": f"""
        SELECT doc_id, source, n_chars AS weight,
               round(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 12)) AS BIGINT) + 1.0)
                         / {float(16 ** 12)})
                     / n_chars, 10) AS es_key
        FROM documents
        ORDER BY es_key, doc_id
        LIMIT {ES_SAMPLE_K}
    """,
    "cms_heavy_hitters": f"""
        SELECT l_suppkey, exact_cnt, 1.0 AS cms_ok FROM (
            SELECT l_suppkey, count(*) AS exact_cnt
            FROM lineitem GROUP BY l_suppkey
            ORDER BY exact_cnt DESC, l_suppkey LIMIT {CMS_TOP}
        ) t
    """,
    "hll_union": ORACLE_HLL_UNION,
    "quantile_merge": ORACLE_QUANTILE_MERGE,
    "token_pmi": ORACLE_TOKEN_PMI,
    "kll_quantiles": ORACLE_KLL_QUANTILES,
    "theta_sketch_ops": ORACLE_THETA_SKETCH_OPS,
    "bitmap_distinct": ORACLE_BITMAP_DISTINCT,
    "approx_quantiles": """
        SELECT round(quantile_cont(l_extendedprice, 0.5), 3) AS p50_exact,
               round(quantile_cont(l_extendedprice, 0.95), 3) AS p95_exact,
               1.0 AS approx_p50_ok, 1.0 AS approx_p95_ok
        FROM lineitem
    """,
    "quality_model": f"""
        WITH sc AS (
          SELECT source, round(s, 4) AS s FROM ({quality_score_sql()})
        )
        SELECT source, count(*) AS docs,
               CAST(sum(CASE WHEN s >= {QM_KEEP} THEN 1 ELSE 0 END) AS BIGINT) AS kept,
               round(avg(s), 4) AS avg_score
        FROM sc GROUP BY source
    """,
    "score_drift_psi": f"""
        WITH q AS (SELECT doc_id, s FROM ({quality_score_sql()})),
        per AS (
          SELECT least(CAST(floor(s * 10) AS INT), 9) AS bucket,
                 CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS ref_n,
                 CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)
                      AS BIGINT) AS cur_n
          FROM q GROUP BY 1
        )
        SELECT bucket, ref_n, cur_n,
               round((p - qq) * ln(p / qq), 6) AS psi_term
        FROM (
          SELECT bucket, ref_n, cur_n,
                 CAST(ref_n + 1 AS DOUBLE)
                     / CAST(sum(ref_n) OVER () + 10 AS DOUBLE) AS p,
                 CAST(cur_n + 1 AS DOUBLE)
                     / CAST(sum(cur_n) OVER () + 10 AS DOUBLE) AS qq
          FROM per
        )
    """,
    "chi_square_independence": """
        WITH cells AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
          FROM documents GROUP BY lang, source
        ),
        e AS (
          SELECT lang, source, obs,
                 round(CAST(sum(obs) OVER (PARTITION BY lang)
                            * sum(obs) OVER (PARTITION BY source)
                            AS DOUBLE)
                       / CAST(sum(obs) OVER () AS DOUBLE), 6) AS expected
          FROM cells
        )
        SELECT lang, source, obs, expected,
               round(pow(obs - expected, 2) / expected, 6) AS chi_term
        FROM e
    """,
    "decile_calibration": f"""
        WITH q AS (SELECT doc_id, s FROM ({quality_score_sql()})),
        j AS (
          SELECT least(CAST(floor(q.s * 10) AS INT), 9) AS bucket,
                 d.lang, CAST(q.s AS DECIMAL(18,6)) AS s6
          FROM q JOIN documents d USING (doc_id)
        )
        SELECT bucket, count(*) AS docs,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS en_docs,
               CAST(sum(s6) AS DOUBLE) AS sum_s,
               round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
                   AS en_rate
        FROM j GROUP BY bucket
    """,
    "winnow_pairs": f"""
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        ),
        kh AS (
          SELECT doc_id,
                 CASE WHEN len(w) >= 6 THEN
                   list_transform(range(1, len(w) - 1),
                                  i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                 ELSE [] END AS khs
          FROM toks
        ),
        fp AS (
          SELECT doc_id,
                 CASE WHEN len(khs) >= 4 THEN
                   list_distinct(list_transform(range(1, len(khs) - 2),
                                                j -> list_min(khs[j:j+3])))
                 ELSE [] END AS fps
          FROM kh
        ),
        ex0 AS (SELECT doc_id, unnest(fps) AS f FROM fp),
        rare AS (SELECT f FROM ex0 GROUP BY f
                 HAVING count(*) <= {WINNOW_MAX_DF}),
        ex AS (SELECT doc_id, f FROM ex0 JOIN rare USING (f))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS shared_fingerprints
        FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {WINNOW_MIN_SHARED}
    """,
    "duplicate_spans": f"""
        WITH toks AS (
          SELECT doc_id, source, string_split(lower(text), ' ') AS w
          FROM documents
        ),
        grams AS (
          SELECT doc_id, source, len(w) AS n_tokens, i AS pos,
                 array_to_string(w[i:i+{DUPSPAN_K - 1}], ' ') AS g
          FROM toks, unnest(range(1, len(w) - {DUPSPAN_K} + 2)) AS u(i)
        ),
        dup AS (
          SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
        ),
        cov AS (
          SELECT doc_id, count(DISTINCT pos + t) AS cov
          FROM (SELECT gr.doc_id, gr.pos, s.t
                FROM grams gr JOIN dup USING (g),
                     unnest(range(0, {DUPSPAN_K})) AS s(t))
          GROUP BY doc_id
        ),
        per_doc AS (
          SELECT t.doc_id, t.source, len(t.w) AS n_tokens,
                 coalesce(c.cov, 0) AS cov
          FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id
        )
        SELECT source, count(*) AS docs,
               CAST(sum(CASE WHEN cov >= {DUPSPAN_FLAG} * n_tokens
                             THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
               CAST(sum(cov) AS BIGINT) AS covered_tokens,
               round(CAST(sum(cov) AS DOUBLE) / sum(n_tokens), 4) AS dup_ratio
        FROM per_doc GROUP BY source
    """,
    "dataset_mixture": """
        SELECT source, count(*) AS total,
               CAST(sum(CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) * 100
                              < (40 + (CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) * 7) % 60) * 256
                             THEN 1 ELSE 0 END) AS BIGINT) AS kept,
               40 + (CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) * 7) % 60 AS weight_pct
        FROM documents GROUP BY source
    """,
    "sequence_packing": """
        WITH t AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS tokens
          FROM documents
        ), b AS (
          SELECT source, tokens,
                 CAST(floor((sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING) - tokens)
                            / 2048.0) AS BIGINT) AS bin
          FROM t
        )
        SELECT source, bin, count(*) AS docs,
               CAST(sum(tokens) AS BIGINT) AS bin_tokens
        FROM b GROUP BY 1, 2
    """,
    "token_entropy": """
        WITH wc AS (
          SELECT doc_id, source, w, count(*) AS c
          FROM (SELECT doc_id, source,
                       unnest(string_split(lower(text), ' ')) AS w
                FROM documents WHERE doc_id < 150)
          GROUP BY 1, 2, 3
        ), per AS (
          SELECT doc_id, source, sum(c) AS n, sum(c * ln(c)) AS clogc
          FROM wc GROUP BY 1, 2
        )
        SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens,
               round(ln(n) - clogc / n, 4) AS entropy
        FROM per
    """,
    "gopher_repetition": """
        WITH per AS (
          SELECT source, len(bi) AS t, len(list_distinct(bi)) AS u
          FROM (SELECT source, list_transform(
                  list_filter(list_zip(w, w[2:]), x -> x[2] IS NOT NULL),
                  x -> x[1] || ' ' || x[2]) AS bi
                FROM (SELECT source, string_split(lower(text), ' ') AS w
                      FROM documents))
          WHERE len(bi) >= 1
        )
        SELECT source, count(*) AS docs,
               CAST(sum(CASE WHEN 1.0 - CAST(u AS DOUBLE)/t > 0.1
                             THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
               1.0 - CAST(sum(u) AS DOUBLE)/sum(t) AS rep_ratio
        FROM per GROUP BY source
    """,
    "contamination_check": """
        WITH grams AS (
          SELECT doc_id, source, unnest(list_distinct(list_transform(
              list_filter(list_zip(w, w[2:], w[3:], w[4:]), x -> x[4] IS NOT NULL),
              x -> x[1] || ' ' || x[2] || ' ' || x[3] || ' ' || x[4]))) AS g
          FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS w
                FROM documents)
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        hits AS (
          SELECT doc_id, source, count(*) AS matched
          FROM grams JOIN bench USING (g)
          WHERE doc_id % 97 <> 0
          GROUP BY 1, 2
        )
        SELECT source, count(*) AS contaminated_docs,
               CAST(sum(matched) AS BIGINT) AS matched_grams
        FROM hits GROUP BY source
    """,
    "token_stats": """
        SELECT source, count(*) AS docs,
               CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS ws_tokens,
               CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT) AS re_tokens,
               round(avg(n_chars), 2) AS avg_chars
        FROM documents GROUP BY source
    """,
    "quality_scores": f"""
        SELECT doc_id,
               len(string_split(lower(text), ' ')) AS n_tokens,
               round((n_chars - (len(string_split(lower(text), ' ')) - 1))
                     / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 4) AS mean_word_len,
               round(len(list_filter(string_split(lower(text), ' '),
                                     x -> x IN ({_STOP_SQL})))
                     / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 4) AS stopword_ratio
        FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
    "lang_id": f"""
        WITH hits AS (
            SELECT lang,
               {_LANG_HITS_SQL}
            FROM documents
        )
        SELECT lang, {_GUESS_SQL} AS guess, count(*) AS cnt
        FROM hits GROUP BY lang, guess
    """,
    "fingerprint_dedup": """
        SELECT fingerprint, count(*) AS dup_count, min(doc_id) AS keeper,
               array_to_string(list_sort(list(doc_id)), ',') AS members
        FROM (
            SELECT doc_id,
                   md5(array_to_string(string_split(lower(text), ' ')[1:10], ' ')) AS fingerprint
            FROM documents
        ) GROUP BY fingerprint HAVING count(*) > 1
    """,
    "exact_dedup_stats": """
        SELECT CAST(sum(c) AS BIGINT) AS total_docs, count(*) AS distinct_docs,
               CAST(sum(c) - count(*) AS BIGINT) AS dups_removed
        FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)
    """,
    "tfidf_top_terms": """
        WITH words AS (
            SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        tf AS (SELECT source, term, count(*) AS tf FROM words GROUP BY 1, 2),
        docfreq AS (SELECT term, count(DISTINCT source) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
        scored AS (
            SELECT source, term, tf,
                   round(tf * ln(CAST(n_sources AS DOUBLE) / df), 4) AS score
            FROM tf JOIN docfreq USING (term), n
        )
        SELECT source, rk, term, score FROM (
            SELECT source, term, score,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY score DESC, term) AS rk
            FROM scored
        ) WHERE rk <= 5
    """,
    "length_histogram": """
        SELECT lang, CAST(floor(n_chars / 50) AS INT) AS bucket, count(*) AS cnt
        FROM documents GROUP BY 1, 2
    """,
    "train_val_split": f"""
        SELECT source,
               {split_case_sql("CAST(doc_id AS VARCHAR)")} AS split,
               count(*) AS cnt
        FROM documents GROUP BY 1, 2
    """,
    # approx_distinct intentionally has NO oracle (sketch output is
    # implementation-specific); the driver records the weaker rows-only check
    "zscore_normalize": """
        SELECT doc_id, source,
               round((CAST(n_chars AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                     / sqrt((n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            / (n * (n - 1.0))), 3) AS z
        FROM (
            SELECT doc_id, source, n_chars,
                   CAST(count(*) OVER w AS DOUBLE) AS n,
                   sum(CAST(n_chars AS HUGEINT)) OVER w AS sx,
                   sum(CAST(n_chars AS HUGEINT)
                       * CAST(n_chars AS HUGEINT)) OVER w AS sxx
            FROM documents
            WINDOW w AS (PARTITION BY source)
        )
        WHERE doc_id < 100
    """,
    "quality_filter_pipeline": f"""
        SELECT source,
               CASE WHEN len(string_split(lower(text), ' ')) < 20 THEN 'too_short'
                    WHEN len(string_split(lower(text), ' ')) > 90 THEN 'too_long'
                    WHEN len(list_filter(string_split(lower(text), ' '),
                                         x -> x IN ({_STOP_SQL})))
                         / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) < 0.02
                         THEN 'too_few_stopwords'
                    ELSE 'kept' END AS verdict,
               count(*) AS cnt
        FROM documents GROUP BY 1, 2
    """,
    "percentile_stats": """
        SELECT source,
               round(quantile_cont(n_chars, 0.5), 2) AS p50,
               round(quantile_cont(n_chars, 0.95), 2) AS p95,
               count(*) AS docs
        FROM documents GROUP BY source
    """,
}

# round-7 statistical tests — appended after the literal dict so
# cohens_kappa can reuse the naive_bayes confusion SQL verbatim (the two
# ops share one matrix by construction on the Spark side too)
ORACLES["cohens_d"] = """
    WITH st AS (
        SELECT source, count(*) AS n,
               sum(CAST(n_chars AS HUGEINT)) AS sx,
               sum(CAST(n_chars AS HUGEINT)
                   * CAST(n_chars AS HUGEINT)) AS sxx
        FROM documents GROUP BY source
    ),
    m AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.n AS n_a, b.n AS n_b,
               CAST(a.n AS DOUBLE) AS na, CAST(b.n AS DOUBLE) AS nb,
               CAST(a.sx AS DOUBLE) AS sxa, CAST(b.sx AS DOUBLE) AS sxb,
               CAST(a.sxx AS DOUBLE) AS sxxa,
               CAST(b.sxx AS DOUBLE) AS sxxb
        FROM st a JOIN st b ON a.source < b.source
    ),
    e AS (
        SELECT src_a, src_b, n_a, n_b, na, nb, sxa, sxb,
               sxxa - sxa * sxa / na AS ssa,
               sxxb - sxb * sxb / nb AS ssb
        FROM m
    )
    SELECT src_a, src_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round((sxa / na - sxb / nb)
                 / sqrt((ssa + ssb) / (na + nb - 2.0)), 4) AS cohens_d
    FROM e
"""

ORACLES["mcnemar_paired"] = f"""
    WITH flags AS (
        SELECT CASE WHEN (n_chars > {MCNEMAR_LEN_THR})
                        = (lang = 'en') THEN 1 ELSE 0 END AS a_ok,
               CASE WHEN (strpos(text, ' the ') > 0)
                        = (lang = 'en') THEN 1 ELSE 0 END AS b_ok
        FROM documents
    ),
    agg AS (
        SELECT count(*) AS n,
               sum(a_ok * b_ok) AS both_right,
               sum(a_ok * (1 - b_ok)) AS a_only,
               sum((1 - a_ok) * b_ok) AS b_only,
               sum((1 - a_ok) * (1 - b_ok)) AS both_wrong
        FROM flags
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(both_right AS BIGINT) AS both_right,
           CAST(a_only AS BIGINT) AS a_only,
           CAST(b_only AS BIGINT) AS b_only,
           CAST(both_wrong AS BIGINT) AS both_wrong,
           CASE WHEN a_only + b_only > 0 THEN
               greatest(abs(CAST(a_only AS DOUBLE) - b_only) - 1.0, 0.0)
               * greatest(abs(CAST(a_only AS DOUBLE) - b_only) - 1.0, 0.0)
               / (CAST(a_only AS DOUBLE) + b_only)
           ELSE 0.0 END AS mcnemar_cc
    FROM agg
"""

ORACLES["wasserstein_1d"] = """
    WITH hist AS (
        SELECT source, n_chars, count(*) AS c
        FROM documents GROUP BY source, n_chars
    ),
    vals AS (
        SELECT n_chars,
               coalesce(lead(n_chars) OVER (ORDER BY n_chars)
                        - n_chars, 0) AS gap
        FROM (SELECT DISTINCT n_chars FROM hist)
    ),
    srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
             FROM hist GROUP BY source),
    grid AS (
        SELECT s.source, v.n_chars, v.gap, s.n,
               CAST(sum(coalesce(h.c, 0)) OVER (
                   PARTITION BY s.source ORDER BY v.n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM srcs s CROSS JOIN vals v
        LEFT JOIN hist h ON h.source = s.source
                        AND h.n_chars = v.n_chars
    )
    SELECT a.source AS src_a, b.source AS src_b,
           a.n AS n_a, b.n AS n_b,
           CAST(CAST(sum(abs(CAST(a.cum AS HUGEINT) * b.n
                             - CAST(b.cum AS HUGEINT) * a.n) * a.gap)
                     AS VARCHAR) AS DOUBLE) AS w1_num,
           CAST(CAST(sum(abs(CAST(a.cum AS HUGEINT) * b.n
                             - CAST(b.cum AS HUGEINT) * a.n) * a.gap)
                     AS VARCHAR) AS DOUBLE)
           / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS w1
    FROM grid a JOIN grid b
      ON a.source < b.source AND a.n_chars = b.n_chars
    GROUP BY a.source, b.source, a.n, b.n
"""

ORACLES["burrows_delta"] = f"""
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
        FROM documents
    ),
    sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
             FROM sw GROUP BY source),
    top AS (
        SELECT w FROM (
            SELECT w, row_number() OVER (
                ORDER BY sum(c) DESC, w) AS rn
            FROM sw GROUP BY w
        ) WHERE rn <= {BD_TOP_WORDS}
    ),
    grid AS (
        SELECT s.source, t.w,
               CAST(coalesce(x.c, 0) * 1000000 // s.n_s AS BIGINT) AS fpm
        FROM stot s CROSS JOIN top t
        LEFT JOIN sw x ON x.source = s.source AND x.w = t.w
    ),
    stats AS (
        SELECT w, count(*) AS k, sum(fpm) AS sf,
               sum(fpm * fpm) AS sff
        FROM grid GROUP BY w
    )
    SELECT g.w, g.source, CAST(g.fpm AS BIGINT) AS fpm,
           CASE WHEN (CAST(k AS DOUBLE) * CAST(sff AS DOUBLE)
                      - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE))
                     / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)) > 0 THEN
               (CAST(g.fpm AS DOUBLE) - CAST(sf AS DOUBLE) / k)
               / sqrt((CAST(k AS DOUBLE) * CAST(sff AS DOUBLE)
                       - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE))
                      / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
           ELSE 0.0 END AS z
    FROM grid g JOIN stats USING (w)
"""

ORACLES["lexical_diversity"] = """
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
        FROM documents
    ),
    sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w)
    SELECT source,
           CAST(count(*) AS BIGINT) AS types,
           CAST(sum(c) AS BIGINT) AS tokens,
           CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
           round(ln(CAST(count(*) AS DOUBLE))
                 / ln(CAST(sum(c) AS DOUBLE)), 6) AS herdan_c
    FROM sw GROUP BY source
"""

ORACLES["ks_test"] = f"""
    WITH d AS (
        SELECT source, n_chars FROM documents
        WHERE source IN ('{MW_SRC_A}', '{MW_SRC_B}')
    ),
    per AS (
        SELECT n_chars,
               sum(CASE WHEN source = '{MW_SRC_A}' THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN source = '{MW_SRC_B}' THEN 1 ELSE 0 END) AS cb
        FROM d GROUP BY n_chars
    ),
    cum AS (
        SELECT v1.n_chars AS v, sum(v2.ca) AS cuma, sum(v2.cb) AS cumb
        FROM per v1 JOIN per v2 ON v2.n_chars <= v1.n_chars
        GROUP BY v1.n_chars
    ),
    tot AS (
        SELECT sum(CASE WHEN source = '{MW_SRC_A}' THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN source = '{MW_SRC_B}' THEN 1 ELSE 0 END) AS n_b
        FROM d
    ),
    agg AS (
        SELECT max(n_a) AS n_a, max(n_b) AS n_b,
               max(abs(CAST(cuma AS HUGEINT) * n_b
                       - CAST(cumb AS HUGEINT) * n_a)) AS d_num
        FROM cum CROSS JOIN tot
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS d_num,
           round(CAST(d_num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d,
           round(CAST(d_num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))),
                 4) AS ks_lambda
    FROM agg
"""

ORACLES["cohens_kappa"] = f"""
    WITH conf AS ({ORACLES["naive_bayes_lang"]}),
    rowsum AS (SELECT true_lang, sum(docs) AS rn FROM conf GROUP BY 1),
    colsum AS (SELECT pred_lang, sum(docs) AS cn FROM conf GROUP BY 1),
    diag AS (
        SELECT coalesce(sum(docs), 0) AS agree FROM conf
        WHERE true_lang = pred_lang
    ),
    tot AS (SELECT sum(docs) AS n FROM conf),
    rc AS (
        SELECT sum(CAST(rn AS HUGEINT) * cn) AS rcsum
        FROM rowsum r JOIN colsum c ON r.true_lang = c.pred_lang
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
           round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           round(CAST(rcsum AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
           round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(rcsum AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 / (1.0 - CAST(rcsum AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 4) AS kappa
    FROM tot CROSS JOIN diag CROSS JOIN rc
"""

ORACLES["js_divergence"] = """
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS w
        FROM documents
    ),
    csw AS (SELECT source, w, count(*) AS csw FROM toks GROUP BY 1, 2),
    cw AS (SELECT w, count(*) AS cw FROM toks GROUP BY 1),
    tots AS (SELECT source, count(*) AS tot_s FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS tot FROM toks),
    grid AS (
        SELECT t.source, c.w, c.cw, t.tot_s, g.tot,
               coalesce(s.csw, 0) AS csw
        FROM cw c CROSS JOIN tots t CROSS JOIN tot g
        LEFT JOIN csw s ON s.source = t.source AND s.w = c.w
    ),
    terms AS (
        SELECT source,
               CAST(CASE WHEN csw > 0 THEN
                    round((CAST(csw AS DOUBLE) / CAST(tot_s AS DOUBLE))
                          * ln((CAST(csw AS DOUBLE) / CAST(tot_s AS DOUBLE))
                               / ((CAST(csw AS DOUBLE)
                                   / CAST(tot_s AS DOUBLE)
                                   + CAST(cw AS DOUBLE) / CAST(tot AS DOUBLE))
                                  / 2.0)), 12)
               ELSE 0.0 END AS DECIMAL(16,12)) AS term_p,
               CAST(round((CAST(cw AS DOUBLE) / CAST(tot AS DOUBLE))
                          * ln((CAST(cw AS DOUBLE) / CAST(tot AS DOUBLE))
                               / ((CAST(csw AS DOUBLE)
                                   / CAST(tot_s AS DOUBLE)
                                   + CAST(cw AS DOUBLE) / CAST(tot AS DOUBLE))
                                  / 2.0)), 12)
                    AS DECIMAL(16,12)) AS term_q
        FROM grid
    )
    SELECT source, CAST(count(*) AS BIGINT) AS vocab_words,
           round(0.5 * CAST(sum(term_p) AS DOUBLE)
                 + 0.5 * CAST(sum(term_q) AS DOUBLE), 6) AS js
    FROM terms GROUP BY source
"""

ORACLES["isotonic_calibration"] = f"""
    WITH q AS (SELECT doc_id, s FROM ({quality_score_sql()})),
    b AS (
        SELECT least(CAST(floor(q.s * 10) AS INT), 9) AS bucket,
               count(*) AS docs,
               sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS en
        FROM q JOIN documents d USING (doc_id)
        GROUP BY 1
    ),
    ranges AS (
        SELECT j.bucket AS j, k.bucket AS k,
               sum(m.docs) AS rdocs, sum(m.en) AS ren
        FROM b j JOIN b k ON j.bucket <= k.bucket
        JOIN b m ON m.bucket >= j.bucket AND m.bucket <= k.bucket
        GROUP BY 1, 2
    ),
    inner_min AS (
        SELECT i.bucket AS i, i.docs AS idocs, i.en AS ien, r.j,
               min(CAST(r.ren AS DOUBLE) / CAST(r.rdocs AS DOUBLE)) AS mn
        FROM b i JOIN ranges r ON r.j <= i.bucket AND r.k >= i.bucket
        GROUP BY 1, 2, 3, 4
    ),
    iso AS (
        SELECT i, idocs, ien, max(mn) AS iso
        FROM inner_min GROUP BY 1, 2, 3
    )
    SELECT i AS bucket, CAST(idocs AS BIGINT) AS docs,
           CAST(ien AS BIGINT) AS en_docs,
           round(CAST(ien AS DOUBLE) / CAST(idocs AS DOUBLE), 6) AS raw_rate,
           round(iso, 6) AS iso_rate
    FROM iso
"""

ORACLES["mi_contingency"] = """
    WITH cells AS (
        SELECT lang, source, count(*) AS c
        FROM documents GROUP BY lang, source
    ),
    rl AS (SELECT lang, sum(c) AS r FROM cells GROUP BY lang),
    cs AS (SELECT source, sum(c) AS s FROM cells GROUP BY source),
    n AS (SELECT sum(c) AS n FROM cells)
    SELECT cells.lang, cells.source, c,
           r AS row_total, s AS col_total,
           round(ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE))), 6) AS pmi,
           round((CAST(c AS DOUBLE)
                  - CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(c AS DOUBLE)
                    - CAST(r AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE))
                 / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
                 6) AS chi2_term
    FROM cells
    JOIN rl USING (lang) JOIN cs USING (source) CROSS JOIN n
"""

ORACLES["model_eval_auc"] = f"""
    WITH d AS (
        SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    vals AS (
        SELECT n_chars, count(*) AS c, sum(y) AS cpos
        FROM d GROUP BY n_chars
    ),
    r AS (
        SELECT n_chars, c, cpos,
               2 * COALESCE(sum(c) OVER (ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) + c + 1 AS r2
        FROM vals
    ),
    agg AS (
        SELECT CAST(sum(cpos) AS BIGINT) AS n1,
               CAST(sum(c - cpos) AS BIGINT) AS n0,
               sum(CAST(cpos AS HUGEINT) * r2) AS r2pos,
               CAST(sum(CASE WHEN n_chars >= {EVAL_THRESHOLD}
                        THEN cpos ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN n_chars >= {EVAL_THRESHOLD}
                        THEN c - cpos ELSE 0 END) AS BIGINT) AS fp
        FROM r
    ),
    m AS (
        SELECT n1, n0, r2pos, tp, fp,
               CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
               AS prec,
               CAST(tp AS DOUBLE) / CAST(n1 AS DOUBLE) AS rec
        FROM agg
    )
    SELECT n1, n0,
           round((CAST(r2pos AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0))
                 / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
           AS auc,
           tp, fp, n1 - tp AS fn, n0 - fp AS tn,
           round(prec, 6) AS "precision", round(rec, 6) AS recall,
           round(2.0 * prec * rec / (prec + rec), 6) AS f1
    FROM m
"""

ORACLES["decision_stump"] = """
    WITH d AS (
        SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    vals AS (
        SELECT n_chars, count(*) AS c, sum(y) AS cpos
        FROM d GROUP BY n_chars
    ),
    pref AS (
        SELECT v1.n_chars AS thr,
               sum(v2.c) AS n_l, sum(v2.cpos) AS pos_l
        FROM vals v1 JOIN vals v2 ON v2.n_chars <= v1.n_chars
        GROUP BY v1.n_chars
    ),
    tot AS (SELECT sum(c) AS n_t, sum(cpos) AS pos_t FROM vals),
    cand AS (
        SELECT thr, n_l, pos_l,
               n_t - n_l AS n_r, pos_t - pos_l AS pos_r
        FROM pref CROSS JOIN tot
        WHERE n_t - n_l > 0
    ),
    scored AS (
        SELECT thr, n_l, pos_l, n_r, pos_r,
               (CAST(n_l AS DOUBLE) * CAST(n_l AS DOUBLE)
                - CAST(pos_l AS DOUBLE) * CAST(pos_l AS DOUBLE)
                - (CAST(n_l AS DOUBLE) - CAST(pos_l AS DOUBLE))
                  * (CAST(n_l AS DOUBLE) - CAST(pos_l AS DOUBLE)))
               / CAST(n_l AS DOUBLE)
               + (CAST(n_r AS DOUBLE) * CAST(n_r AS DOUBLE)
                  - CAST(pos_r AS DOUBLE) * CAST(pos_r AS DOUBLE)
                  - (CAST(n_r AS DOUBLE) - CAST(pos_r AS DOUBLE))
                    * (CAST(n_r AS DOUBLE) - CAST(pos_r AS DOUBLE)))
                 / CAST(n_r AS DOUBLE) AS w_imp
        FROM cand
    )
    SELECT thr, round(w_imp, 6) AS w_imp,
           CAST(n_l AS BIGINT) AS n_l, CAST(pos_l AS BIGINT) AS pos_l,
           CAST(n_r AS BIGINT) AS n_r, CAST(pos_r AS BIGINT) AS pos_r
    FROM scored
    ORDER BY w_imp, thr
    LIMIT 1
"""

ORACLES["readability_census"] = """
    WITH d AS (
        SELECT source,
               len(string_split(lower(text), ' ')) AS words,
               length(text) - length(regexp_replace(text, '[.!?]', '', 'g'))
               AS sents,
               len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS vgrp
        FROM documents
    ),
    agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(words) AS BIGINT) AS w,
               CAST(sum(sents) AS BIGINT) AS s,
               CAST(sum(vgrp) AS BIGINT) AS v
        FROM d GROUP BY source
    )
    SELECT source, n_docs, w, s, v,
           round(206.835
                 - 1.015 * (CAST(w AS DOUBLE)
                            / CAST(NULLIF(s, 0) AS DOUBLE))
                 - 84.6 * (CAST(v AS DOUBLE) / CAST(w AS DOUBLE)), 4)
           AS flesch
    FROM agg
"""

ORACLES["simpson_diversity"] = """
    WITH cell AS (
        SELECT source, lang, count(*) AS c
        FROM documents GROUP BY source, lang
    ),
    agg AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_docs,
               count(*) AS n_langs,
               CAST(sum(c * (c - 1)) AS BIGINT) AS pair_sum
        FROM cell GROUP BY source
    )
    SELECT source, n_docs, n_langs,
           round(1.0 - CAST(pair_sum AS DOUBLE)
                 / (CAST(n_docs AS DOUBLE)
                    * (CAST(n_docs AS DOUBLE) - 1.0)), 6) AS simpson
    FROM agg
"""

ORACLES["zipf_slope"] = f"""
    WITH tok AS (
        SELECT w, count(*) AS f FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ) WHERE w <> '' GROUP BY w HAVING count(*) >= {ZIPF_MIN_FREQ}
    ),
    hist AS (SELECT f, count(*) AS t FROM tok GROUP BY f),
    pref AS (
        SELECT h1.f, h1.t,
               2 * COALESCE(sum(h2.t), 0) + h1.t + 1 AS r2
        FROM hist h1 LEFT JOIN hist h2 ON h2.f > h1.f
        GROUP BY h1.f, h1.t
    ),
    terms AS (
        SELECT t,
               CAST(round(CAST(t AS DOUBLE)
                    * ln(CAST(r2 AS DOUBLE) / 2.0), 12)
                    AS DECIMAL(20,12)) AS sx,
               CAST(round(CAST(t AS DOUBLE)
                    * ln(CAST(f AS DOUBLE)), 12)
                    AS DECIMAL(20,12)) AS sy,
               CAST(round(CAST(t AS DOUBLE)
                    * ln(CAST(r2 AS DOUBLE) / 2.0)
                    * ln(CAST(r2 AS DOUBLE) / 2.0), 12)
                    AS DECIMAL(20,12)) AS sxx,
               CAST(round(CAST(t AS DOUBLE)
                    * ln(CAST(r2 AS DOUBLE) / 2.0)
                    * ln(CAST(f AS DOUBLE)), 12)
                    AS DECIMAL(20,12)) AS sxy
        FROM pref
    ),
    agg AS (
        SELECT CAST(sum(t) AS BIGINT) AS n_tokens,
               CAST(sum(sx) AS DOUBLE) AS sx, CAST(sum(sy) AS DOUBLE) AS sy,
               CAST(sum(sxx) AS DOUBLE) AS sxx,
               CAST(sum(sxy) AS DOUBLE) AS sxy
        FROM terms
    )
    SELECT n_tokens,
           round((CAST(n_tokens AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n_tokens AS DOUBLE) * sxx - sx * sx), 6) AS slope,
           round((sy - (CAST(n_tokens AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n_tokens AS DOUBLE) * sxx - sx * sx) * sx)
                 / CAST(n_tokens AS DOUBLE), 6) AS intercept
    FROM agg
"""

ORACLES["prefix_filter_jaccard"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                   x -> x <> '') AS ws
        FROM documents
    ),
    dt AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])))
               AS w
        FROM toks WHERE len(ws) >= 3
    ),
    dfp AS (SELECT w, count(*) AS df FROM dt GROUP BY w),
    keyed AS (
        SELECT doc_id,
               lpad(CAST(df AS VARCHAR), 12, '0') || '|' || w AS kw
        FROM dt JOIN dfp USING (w)
    ),
    base AS (
        SELECT doc_id, list_sort(list(kw))[1:{PFJ_CAP}] AS toks
        FROM keyed GROUP BY doc_id
        HAVING len(list(kw)) > 0
    ),
    pref AS (
        SELECT doc_id, toks,
               unnest(toks[1:CAST(len(toks)
                   - ceil(len(toks) * {PFJ_THRESHOLD}) + 1 AS BIGINT)])
               AS ptok
        FROM base
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.toks AS toks_a, b.toks AS toks_b
        FROM pref a JOIN pref b ON a.ptok = b.ptok
        WHERE a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT id_a, id_b,
               len(list_intersect(toks_a, toks_b)) AS inter,
               len(toks_a) + len(toks_b)
               - len(list_intersect(toks_a, toks_b)) AS uni
        FROM cand
    )
    SELECT id_a, id_b, inter, uni,
           round(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6) AS jaccard
    FROM scored
    WHERE CAST(inter AS DOUBLE) >= {PFJ_THRESHOLD} * uni
"""

ORACLES["heaps_law"] = """
    WITH tok AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    per_src AS (
        SELECT source, count(*) AS n_tok, count(DISTINCT w) AS v
        FROM tok WHERE w <> '' GROUP BY source
    ),
    terms AS (
        SELECT CAST(round(ln(CAST(n_tok AS DOUBLE)), 12)
                    AS DECIMAL(20,12)) AS sx,
               CAST(round(ln(CAST(v AS DOUBLE)), 12)
                    AS DECIMAL(20,12)) AS sy,
               CAST(round(ln(CAST(n_tok AS DOUBLE))
                          * ln(CAST(n_tok AS DOUBLE)), 12)
                    AS DECIMAL(20,12)) AS sxx,
               CAST(round(ln(CAST(n_tok AS DOUBLE))
                          * ln(CAST(v AS DOUBLE)), 12)
                    AS DECIMAL(20,12)) AS sxy
        FROM per_src
    ),
    agg AS (
        SELECT count(*) AS k,
               CAST(sum(sx) AS DOUBLE) AS sx, CAST(sum(sy) AS DOUBLE) AS sy,
               CAST(sum(sxx) AS DOUBLE) AS sxx,
               CAST(sum(sxy) AS DOUBLE) AS sxy
        FROM terms
    )
    SELECT CAST(k AS BIGINT) AS n_sources,
           round((CAST(k AS DOUBLE) * sxy - sx * sy)
                 / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) AS beta,
           round((sy - (CAST(k AS DOUBLE) * sxy - sx * sy)
                       / (CAST(k AS DOUBLE) * sxx - sx * sx) * sx)
                 / CAST(k AS DOUBLE), 6) AS ln_k
    FROM agg
"""


ORACLES["salsa_scores"] = _salsa_oracle()

ORACLES["fellegi_sunter"] = f"""
    WITH d AS (
        SELECT doc_id, source, n_chars, lang,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS words
        FROM documents
    ),
    base0 AS (
        SELECT doc_id, source, n_chars, lang,
               words[1] AS w1,
               list_sort(list_distinct(CASE WHEN len(words) >= 3 THEN
                   list_transform(range(2, len(words)),
                       i -> words[i - 1] || ' ' || words[i]
                            || ' ' || words[i + 1])
                   ELSE [] END))[1:{PFJ_CAP}] AS toks,
               CAST(n_chars // {FS_BLOCK_WIDTH} AS BIGINT) AS lb
        FROM d
    ),
    base AS (
        SELECT * FROM (
            SELECT base0.*,
                   row_number() OVER (PARTITION BY lang, lb
                                      ORDER BY doc_id) AS rn
            FROM base0)
        WHERE rn <= {FS_BLOCK_CAP}
    ),
    pairs AS (
        SELECT a.source AS sa, b.source AS sb,
               a.n_chars AS na, b.n_chars AS nb,
               a.w1 AS wa, b.w1 AS wb,
               len(list_intersect(a.toks, b.toks)) AS inter,
               len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks)) AS uni
        FROM base a JOIN base b
          ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
    ),
    lab AS (
        SELECT CASE WHEN CAST(inter AS DOUBLE)
                         >= {FS_DUP_J} * CAST(uni AS DOUBLE)
                    THEN 1 ELSE 0 END AS dup,
               CASE WHEN sa = sb THEN 1 ELSE 0 END AS f_src,
               CASE WHEN abs(na - nb) <= 10 THEN 1 ELSE 0 END AS f_len,
               CASE WHEN wa = wb THEN 1 ELSE 0 END AS f_w1
        FROM pairs
    ),
    longf AS (
        SELECT dup, 'same_source' AS field, f_src AS agree FROM lab
        UNION ALL
        SELECT dup, 'len_within_10', f_len FROM lab
        UNION ALL
        SELECT dup, 'same_first_word', f_w1 FROM lab
    ),
    agg AS (
        SELECT field,
               CAST(sum(dup) AS BIGINT) AS dup_pairs,
               CAST(sum(1 - dup) AS BIGINT) AS nondup_pairs,
               CAST(sum(dup * agree) AS BIGINT) AS agree_dup,
               CAST(sum((1 - dup) * agree) AS BIGINT) AS agree_nondup
        FROM longf GROUP BY field
    )
    SELECT field, dup_pairs, nondup_pairs, agree_dup, agree_nondup,
           round(ln(((CAST(agree_dup AS DOUBLE) + 1.0)
                     / (CAST(dup_pairs AS DOUBLE) + 2.0))
                    / ((CAST(agree_nondup AS DOUBLE) + 1.0)
                       / (CAST(nondup_pairs AS DOUBLE) + 2.0))), 6)
           AS w_agree,
           round(ln((1.0 - (CAST(agree_dup AS DOUBLE) + 1.0)
                     / (CAST(dup_pairs AS DOUBLE) + 2.0))
                    / (1.0 - (CAST(agree_nondup AS DOUBLE) + 1.0)
                       / (CAST(nondup_pairs AS DOUBLE) + 2.0))), 6)
           AS w_disagree
    FROM agg
"""


def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of each source's vocabulary plus
    the Good-Turing unseen-probability mass — the corpus-coverage pair
    that answers "how much vocabulary have we NOT seen yet" (Chao1's
    lower bound on true vocabulary from singleton/doubleton counts) and
    "how much probability mass will the next token spend on novel
    types" (f1/N). The sampling-theory complement of heaps_law (a fit)
    and vocab_coverage (observed head coverage). All sufficient
    statistics — types V, tokens N, singletons f1, doubletons f2 — are
    exact integers from the one token-explode groupBy (map-side
    combinable); chao1 = V + f1(f1−1)/(2(f2+1)) (the bias-corrected
    form, defined at f2=0) and gt_unseen = f1/N are single-shot
    doubles. Counts come from the memoized ``_source_word_counts``
    relation shared across the stylometry family."""
    sw = _source_word_counts(spark, sf_dir)
    agg = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("types"),
        F.sum("c").cast("long").alias("tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
        .alias("f2"))
    f1d = F.col("f1").cast("double")
    chao1 = (F.col("types").cast("double")
             + f1d * (f1d - 1.0)
             / (2.0 * (F.col("f2").cast("double") + 1.0)))
    return agg.select("source", "types", "tokens", "f1", "f2",
                      chao1.alias("chao1"),
                      (f1d / F.col("tokens").cast("double"))
                      .alias("gt_unseen"))


ORACLES["chao1_richness"] = """
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
        FROM documents
    ),
    sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w)
    SELECT source,
           CAST(count(*) AS BIGINT) AS types,
           CAST(sum(c) AS BIGINT) AS tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(count(*) AS DOUBLE)
           + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             * (CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                - 1.0)
             / (2.0 * (CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                            AS DOUBLE) + 1.0)) AS chao1,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(sum(c) AS DOUBLE) AS gt_unseen
    FROM sw GROUP BY source
"""
QUERIES["chao1_richness"] = q_chao1_richness


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank terms across ALL sources' document lengths —
    the k-group extension of mann_whitney (is at least one source's
    length distribution shifted?). Same exactness discipline: DOUBLED
    midranks (2R = 2·before + ties + 1, an integer) from the
    value-histogram relation via the tiny broadcast prefix self-join;
    per-source Σ2R folds in DECIMAL(38,0) (VARCHAR-routed to DOUBLE in
    the oracle per tools/oracle_lint.py). The hashed surface is the
    per-source term table — n, rank-sum, mean rank, and the source's
    h_term = 12·R̄²·n/(N(N+1)) — with the Σ and the −3(N+1) shift left
    client-side (the logrank discipline: no cross-row float
    accumulation in the hashed surface)."""
    d = load_table(spark, "documents", sf_dir).select("source", "n_chars")
    vals = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    before = (
        vals.alias("v1")
        .join(F.broadcast(vals.alias("v2")),
              F.col("v2.n_chars") < F.col("v1.n_chars"), "left")
        .groupBy(F.col("v1.n_chars").alias("n_chars"),
                 F.col("v1.c").alias("c"))
        .agg(F.coalesce(F.sum("v2.c"), F.lit(0)).alias("before"))
        .select("n_chars",
                (F.lit(2) * F.col("before") + F.col("c") + 1).alias("r2"))
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    per_src = (
        d.join(F.broadcast(before), "n_chars")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum(F.col("r2").cast("decimal(19,0)"))
             .cast("decimal(38,0)").alias("r2sum"))
        .crossJoin(F.broadcast(tot)))
    nd = F.col("n").cast("double")
    ntd = F.col("n_tot").cast("double")
    mean_rank = F.col("r2sum").cast("double") / (2.0 * nd)
    h_term = (12.0 * mean_rank * mean_rank * nd
              / (ntd * (ntd + 1.0)))
    return per_src.select(
        "source", "n", "n_tot",
        F.col("r2sum").cast("double").alias("rank_sum2"),
        mean_rank.alias("mean_rank"),
        h_term.alias("h_term"))


ORACLES["kruskal_wallis"] = """
    WITH d AS (SELECT source, n_chars FROM documents),
    vals AS (SELECT n_chars, count(*) AS c FROM d GROUP BY n_chars),
    before AS (
        SELECT v1.n_chars,
               2 * coalesce(sum(v2.c), 0) + v1.c + 1 AS r2
        FROM vals v1 LEFT JOIN vals v2 ON v2.n_chars < v1.n_chars
        GROUP BY v1.n_chars, v1.c
    ),
    tot AS (SELECT count(*) AS n_tot FROM d),
    per_src AS (
        SELECT d.source, count(*) AS n,
               sum(CAST(b.r2 AS HUGEINT)) AS r2sum
        FROM d JOIN before b USING (n_chars)
        GROUP BY d.source
    )
    SELECT source,
           CAST(n AS BIGINT) AS n,
           CAST(n_tot AS BIGINT) AS n_tot,
           CAST(CAST(r2sum AS VARCHAR) AS DOUBLE) AS rank_sum2,
           CAST(CAST(r2sum AS VARCHAR) AS DOUBLE) / (2.0 * n) AS mean_rank,
           12.0 * (CAST(CAST(r2sum AS VARCHAR) AS DOUBLE) / (2.0 * n))
                * (CAST(CAST(r2sum AS VARCHAR) AS DOUBLE) / (2.0 * n))
                * CAST(n AS DOUBLE)
           / (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) + 1.0))
               AS h_term
    FROM per_src CROSS JOIN tot
"""
QUERIES["kruskal_wallis"] = q_kruskal_wallis


HELLINGER_SCALE = 10 ** 12


def q_hellinger_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between every source pair's document-length
    distributions — the bounded [0,1] geometric companion to
    wasserstein_1d (mass transport) and js_divergence (information):
    H² = 1 − Σ√(p·q). The float-accumulation hazard (Σ over grid rows
    of irrational √ terms is merge-order-dependent) is absorbed by the
    bm25 micro-unit discipline: each term is floor(√(pₐ·p_b)·10¹²) — a
    single-shot double pipeline (two exact-int divisions, one multiply,
    one correctly-rounded sqrt, one floor) that lands on an exact
    integer — and the SUM of those integers is merge-order-free. BC and
    H then are single-shot doubles off the scaled-integer coefficient.
    All machinery on the sources×values histogram grid (value-bounded,
    corpus-independent), the wasserstein join shape."""
    d = load_table(spark, "documents", sf_dir)
    hist = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c"))
    srcs = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    h = hist.join(srcs, "source")
    a = h.select(F.col("source").alias("src_a"), "n_chars",
                 F.col("c").alias("ca"), F.col("n").alias("n_a"))
    b = h.select(F.col("source").alias("src_b"),
                 F.col("n_chars").alias("v_b"),
                 F.col("c").alias("cb"), F.col("n").alias("n_b"))
    j = a.join(b, (F.col("src_a") < F.col("src_b"))
               & (F.col("n_chars") == F.col("v_b")))
    term = F.floor(F.sqrt(
        (F.col("ca").cast("double") / F.col("n_a").cast("double"))
        * (F.col("cb").cast("double") / F.col("n_b").cast("double")))
        * F.lit(float(HELLINGER_SCALE))).cast("decimal(38,0)")
    agg = (j.groupBy("src_a", "src_b", "n_a", "n_b")
           .agg(F.sum(term).cast("decimal(38,0)").alias("bc_scaled")))
    bc = F.col("bc_scaled").cast("double") / F.lit(float(HELLINGER_SCALE))
    return agg.select(
        "src_a", "src_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("bc_scaled").cast("double").alias("bc_scaled"),
        F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - bc))
        .alias("hellinger"))


ORACLES["hellinger_distance"] = f"""
    WITH hist AS (
        SELECT source, n_chars, count(*) AS c
        FROM documents GROUP BY source, n_chars
    ),
    srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
             FROM hist GROUP BY source),
    h AS (SELECT hist.source, n_chars, c, n
          FROM hist JOIN srcs USING (source)),
    j AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.n AS n_a, b.n AS n_b,
               CAST(floor(sqrt(
                   (CAST(a.c AS DOUBLE) / a.n)
                   * (CAST(b.c AS DOUBLE) / b.n))
                   * {HELLINGER_SCALE}.0) AS HUGEINT) AS term
        FROM h a JOIN h b
          ON a.source < b.source AND a.n_chars = b.n_chars
    ),
    agg AS (
        SELECT src_a, src_b, n_a, n_b, sum(term) AS bc_scaled
        FROM j GROUP BY src_a, src_b, n_a, n_b
    )
    SELECT src_a, src_b, n_a, n_b,
           CAST(CAST(bc_scaled AS VARCHAR) AS DOUBLE) AS bc_scaled,
           sqrt(greatest(0.0,
                1.0 - CAST(CAST(bc_scaled AS VARCHAR) AS DOUBLE)
                      / {HELLINGER_SCALE}.0)) AS hellinger
    FROM agg
"""
QUERIES["hellinger_distance"] = q_hellinger_distance


COCHRAN_CLS = 3  # length rule, ' the ' rule, ' and ' rule


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across THREE deterministic English classifiers of the
    same documents — the k-classifier extension of mcnemar_paired (are
    the classifiers' accuracies jointly distinguishable, given they saw
    identical items?): A = length rule (n_chars > threshold), B =
    lexical ' the ', C = lexical ' and '. Sufficient statistics are all
    exact integers from ONE corpus pass (per-classifier correct counts
    G_j and the per-document correct-count moments ΣL, ΣL²);
    Q = k(k−1)(ΣG² − (ΣG)²/k) / (k·ΣL − ΣL²) is a single-shot double,
    guarded at the degenerate denominator (all documents scored
    identically by all classifiers) like mcnemar's b+c=0 pin."""
    d = load_table(spark, "documents", sf_dir)
    truth = (F.col("lang") == "en").cast("int")
    preds = [
        (F.col("n_chars") > MCNEMAR_LEN_THR).cast("int"),
        (F.instr(F.col("text"), " the ") > 0).cast("int"),
        (F.instr(F.col("text"), " and ") > 0).cast("int"),
    ]
    oks = [(p == truth).cast("int").alias(f"ok{i}")
           for i, p in enumerate(preds)]
    flags = d.select(*oks)
    lsum = sum(F.col(f"ok{i}") for i in range(COCHRAN_CLS))
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.sum(F.col(f"ok{i}")).cast("long").alias(f"g{i + 1}")
          for i in range(COCHRAN_CLS)],
        F.sum(lsum).cast("long").alias("sum_l"),
        F.sum(lsum * lsum).cast("long").alias("sum_l2"))
    k = float(COCHRAN_CLS)
    gs = [F.col(f"g{i + 1}").cast("double") for i in range(COCHRAN_CLS)]
    gsum = gs[0] + gs[1] + gs[2]
    gsq = gs[0] * gs[0] + gs[1] * gs[1] + gs[2] * gs[2]
    denom = k * F.col("sum_l").cast("double") \
        - F.col("sum_l2").cast("double")
    q = F.when(denom > 0.0,
               F.lit(k) * F.lit(k - 1.0) * (gsq - gsum * gsum / F.lit(k))
               / denom).otherwise(F.lit(0.0))
    return agg.select("n", "g1", "g2", "g3", "sum_l", "sum_l2",
                      q.alias("cochran_q"))


ORACLES["cochran_q"] = f"""
    WITH flags AS (
        SELECT CASE WHEN (n_chars > {MCNEMAR_LEN_THR})
                        = (lang = 'en') THEN 1 ELSE 0 END AS ok0,
               CASE WHEN (strpos(text, ' the ') > 0)
                        = (lang = 'en') THEN 1 ELSE 0 END AS ok1,
               CASE WHEN (strpos(text, ' and ') > 0)
                        = (lang = 'en') THEN 1 ELSE 0 END AS ok2
        FROM documents
    ),
    agg AS (
        SELECT count(*) AS n,
               sum(ok0) AS g1, sum(ok1) AS g2, sum(ok2) AS g3,
               sum(ok0 + ok1 + ok2) AS sum_l,
               sum((ok0 + ok1 + ok2) * (ok0 + ok1 + ok2)) AS sum_l2
        FROM flags
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(g1 AS BIGINT) AS g1,
           CAST(g2 AS BIGINT) AS g2,
           CAST(g3 AS BIGINT) AS g3,
           CAST(sum_l AS BIGINT) AS sum_l,
           CAST(sum_l2 AS BIGINT) AS sum_l2,
           CASE WHEN 3.0 * sum_l - sum_l2 > 0 THEN
               3.0 * 2.0
               * (CAST(g1 AS DOUBLE) * g1 + CAST(g2 AS DOUBLE) * g2
                  + CAST(g3 AS DOUBLE) * g3
                  - (CAST(g1 AS DOUBLE) + g2 + g3)
                    * (CAST(g1 AS DOUBLE) + g2 + g3) / 3.0)
               / (3.0 * CAST(sum_l AS DOUBLE) - sum_l2)
           ELSE 0.0 END AS cochran_q
    FROM agg
"""
QUERIES["cochran_q"] = q_cochran_q


def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source — the classic repeat-rate
    statistic K = 10⁴·(Σc² − N)/N² (vocabulary-size-free, unlike TTR;
    the stylometric constant next to lexical_diversity's TTR/Herdan and
    burrows_delta's z-profile). Σc² is an exact DECIMAL(38,0) integer
    (word counts squared exceed 2^53 on big corpora, so the oracle
    VARCHAR-routes the HUGEINT per tools/oracle_lint.py); K is one
    single-shot double. One token-explode groupBy, map-side
    combinable."""
    sw = _source_word_counts(spark, sf_dir)
    cdec = F.col("c").cast("decimal(19,0)")
    agg = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("types"),
        F.sum("c").cast("long").alias("tokens"),
        F.sum(cdec * cdec).cast("decimal(38,0)").alias("s2"))
    nd = F.col("tokens").cast("double")
    k = 10000.0 * (F.col("s2").cast("double") - nd) / (nd * nd)
    return agg.select("source", "types", "tokens",
                      F.col("s2").cast("double").alias("sum_c2"),
                      k.alias("yule_k"))


ORACLES["yule_k"] = """
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
        FROM documents
    ),
    sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
    agg AS (
        SELECT source, count(*) AS types, sum(c) AS tokens,
               sum(CAST(c AS HUGEINT) * c) AS s2
        FROM sw GROUP BY source
    )
    SELECT source,
           CAST(types AS BIGINT) AS types,
           CAST(tokens AS BIGINT) AS tokens,
           CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS sum_c2,
           10000.0 * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                      - CAST(tokens AS DOUBLE))
           / (CAST(tokens AS DOUBLE) * CAST(tokens AS DOUBLE)) AS yule_k
    FROM agg
"""
QUERIES["yule_k"] = q_yule_k


# Shared (source, word, count) relation for the whitespace-token
# stylometry family (r10, the _markov_pair_counts pattern): chao1,
# Yule's K, lexical diversity and Burrows' Delta all fold the same
# token-explode groupBy; memoize the vocabulary-sized count relation so
# a suite run pays the corpus pass once. Distinct from _tokenized_docs,
# which lowercases (different token identity).
@corpus_memo(table="documents")
def _source_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("source", F.explode(
        F.filter(F.split("text", " "), lambda x: x != "")).alias("w"))
    sw = (tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
          .coalesce(8).localCheckpoint())
    return sw


QTE_DECILES = tuple(range(1, 10))


def q_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect at the deciles: English vs non-English
    document lengths compared decile-by-decile — where welch_ttest and
    mann_whitney give ONE number, the QTE profile shows WHERE the
    distributions differ (short-form spam vs long-tail articles).
    EXACT construction: each group's d-th decile is the value at
    position ceil(d·n_g/10) in sorted order — an integer position
    resolved as min{v : cum_g(v) ≥ pos} over the value-histogram grid
    (the mann_whitney grid discipline: no corpus sort, no window; one
    broadcast prefix self-join for cumulative counts, a constant 9×
    decile fan-out, one min-aggregate). Every output is an exact
    integer."""
    d = (load_table(spark, "documents", sf_dir)
         .select((F.col("lang") == "en").cast("int").alias("g"),
                 "n_chars"))
    hist = d.groupBy("g", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    ng = hist.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    cum = (
        hist.alias("h1")
        .join(F.broadcast(hist.alias("h2")),
              (F.col("h2.g") == F.col("h1.g"))
              & (F.col("h2.n_chars") <= F.col("h1.n_chars")))
        .groupBy(F.col("h1.g").alias("g"),
                 F.col("h1.n_chars").alias("n_chars"))
        .agg(F.sum("h2.c").cast("long").alias("cum")))
    ds = local_rows(spark, [(x,) for x in QTE_DECILES], "d int")
    q = (cum.join(ng, "g").crossJoin(F.broadcast(ds))
         .withColumn("pos", F.expr("(d * n_g + 9) DIV 10"))
         .filter(F.col("cum") >= F.col("pos"))
         .groupBy("g", "d").agg(F.min("n_chars").alias("q")))
    en = q.filter(F.col("g") == 1).select("d", F.col("q").alias("q_en"))
    other = q.filter(F.col("g") == 0).select(
        "d", F.col("q").alias("q_other"))
    return (en.join(other, "d")
            .select(F.col("d").cast("long").alias("d"),
                    F.col("q_en").cast("long").alias("q_en"),
                    F.col("q_other").cast("long").alias("q_other"),
                    (F.col("q_en") - F.col("q_other")).cast("long")
                    .alias("qte")))


ORACLES["qte_deciles"] = f"""
    WITH d AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g, n_chars
        FROM documents
    ),
    hist AS (SELECT g, n_chars, count(*) AS c FROM d GROUP BY g, n_chars),
    ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM hist GROUP BY g),
    cum AS (
        SELECT h1.g, h1.n_chars, CAST(sum(h2.c) AS BIGINT) AS cum
        FROM hist h1 JOIN hist h2
          ON h2.g = h1.g AND h2.n_chars <= h1.n_chars
        GROUP BY h1.g, h1.n_chars
    ),
    ds(d) AS (VALUES {', '.join(f'({x})' for x in QTE_DECILES)}),
    q AS (
        SELECT cum.g, ds.d, min(cum.n_chars) AS q
        FROM cum JOIN ng USING (g) CROSS JOIN ds
        WHERE cum.cum >= (ds.d * ng.n_g + 9) // 10
        GROUP BY cum.g, ds.d
    )
    SELECT CAST(en.d AS BIGINT) AS d,
           CAST(en.q AS BIGINT) AS q_en,
           CAST(o.q AS BIGINT) AS q_other,
           CAST(en.q - o.q AS BIGINT) AS qte
    FROM (SELECT d, q FROM q WHERE g = 1) en
    JOIN (SELECT d, q FROM q WHERE g = 0) o USING (d)
"""
QUERIES["qte_deciles"] = q_qte_deciles


def q_jonckheere_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra trend terms across ORDERED sources (lexical
    order as the dose ordering): for every ordered source pair a < b,
    the doubled U statistic U2 = 2·#{x_a < x_b} + #{x_a = x_b} over
    document lengths — the ordered-alternative sharpening of
    kruskal_wallis (J = Σ U is sensitive to monotone shifts that H
    dilutes). Exact integers end to end over the sources×values
    histogram grid (the wasserstein join shape): per shared value,
    c_b·(2·cumlt_a + c_a) folds in DECIMAL(38,0) — VARCHAR-routed to
    DOUBLE in the oracle per tools/oracle_lint.py. The Σ over pairs and
    the normal moments are client-side (logrank discipline)."""
    d = load_table(spark, "documents", sf_dir)
    hist = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c"))
    vals = hist.select("n_chars").distinct()
    srcs = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    grid = (srcs.crossJoin(F.broadcast(vals))
            .join(hist, ["source", "n_chars"], "left")
            .withColumn("_c", F.coalesce("c", F.lit(0))))
    from pyspark.sql import Window
    w_cum = (Window.partitionBy("source").orderBy("n_chars")
             .rowsBetween(Window.unboundedPreceding, -1))
    grid = grid.withColumn(
        "cumlt", F.coalesce(F.sum("_c").over(w_cum), F.lit(0))
        .cast("long"))
    a = grid.select(F.col("source").alias("src_a"), "n_chars",
                    F.col("n").alias("n_a"),
                    F.col("_c").alias("ca"), F.col("cumlt").alias("lta"))
    b = grid.select(F.col("source").alias("src_b"),
                    F.col("n_chars").alias("v_b"),
                    F.col("n").alias("n_b"), F.col("_c").alias("cb"))
    j = a.join(b, (F.col("src_a") < F.col("src_b"))
               & (F.col("n_chars") == F.col("v_b")))
    term = (F.col("cb").cast("decimal(19,0)")
            * (2 * F.col("lta") + F.col("ca")))
    agg = (j.groupBy("src_a", "src_b", "n_a", "n_b")
           .agg(F.sum(term).cast("decimal(38,0)").alias("u2")))
    return agg.select("src_a", "src_b",
                      F.col("n_a").cast("long").alias("n_a"),
                      F.col("n_b").cast("long").alias("n_b"),
                      F.col("u2").cast("double").alias("u2"))


ORACLES["jonckheere_trend"] = """
    WITH hist AS (
        SELECT source, n_chars, count(*) AS c
        FROM documents GROUP BY source, n_chars
    ),
    vals AS (SELECT DISTINCT n_chars FROM hist),
    srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
             FROM hist GROUP BY source),
    grid AS (
        SELECT s.source, v.n_chars, s.n,
               coalesce(h.c, 0) AS c,
               CAST(coalesce(sum(coalesce(h.c, 0)) OVER (
                   PARTITION BY s.source ORDER BY v.n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cumlt
        FROM srcs s CROSS JOIN vals v
        LEFT JOIN hist h ON h.source = s.source
                        AND h.n_chars = v.n_chars
    )
    SELECT a.source AS src_a, b.source AS src_b,
           a.n AS n_a, b.n AS n_b,
           CAST(CAST(sum(CAST(b.c AS HUGEINT) * (2 * a.cumlt + a.c))
                     AS VARCHAR) AS DOUBLE) AS u2
    FROM grid a JOIN grid b
      ON a.source < b.source AND a.n_chars = b.n_chars
    GROUP BY a.source, b.source, a.n, b.n
"""
QUERIES["jonckheere_trend"] = q_jonckheere_trend


def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between every source pair: intersection size,
    Jaccard, and the Szymkiewicz-Simpson overlap coefficient
    |A∩B|/min(|A|,|B|) — the corpus-mixing diagnostic that separates
    "same register, different volume" (high overlap coefficient, modest
    Jaccard) from genuinely disjoint domains. Rides the memoized
    ``_source_word_counts`` relation: per-source vocab sizes from one
    groupBy, the intersection from one equi-join on the word key
    (vocabulary-sized, never corpus-sized), exact integers to two
    single-shot ratios."""
    sw = _source_word_counts(spark, sf_dir).select("source", "w")
    sizes = sw.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("v"))
    a = sw.select(F.col("source").alias("src_a"), "w")
    b = sw.select(F.col("source").alias("src_b"),
                  F.col("w").alias("w_b"))
    inter = (a.join(b, (F.col("src_a") < F.col("src_b"))
                    & (F.col("w") == F.col("w_b")))
             .groupBy("src_a", "src_b")
             .agg(F.count(F.lit(1)).cast("long").alias("inter")))
    j = (inter
         .join(sizes.select(F.col("source").alias("src_a"),
                            F.col("v").alias("v_a")), "src_a")
         .join(sizes.select(F.col("source").alias("src_b"),
                            F.col("v").alias("v_b")), "src_b"))
    union = F.col("v_a") + F.col("v_b") - F.col("inter")
    jac = F.col("inter").cast("double") / union.cast("double")
    ov = (F.col("inter").cast("double")
          / F.least("v_a", "v_b").cast("double"))
    return j.select("src_a", "src_b", "v_a", "v_b", "inter",
                    jac.alias("jaccard"), ov.alias("overlap_coef"))


ORACLES["vocab_overlap"] = """
    WITH tok AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS w
        FROM documents
    ),
    sw AS (SELECT DISTINCT source, w FROM tok),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS v
              FROM sw GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM sw a JOIN sw b
          ON a.source < b.source AND a.w = b.w
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, sa.v AS v_a, sb.v AS v_b, i.inter,
           CAST(i.inter AS DOUBLE)
           / (CAST(sa.v AS DOUBLE) + sb.v - i.inter) AS jaccard,
           CAST(i.inter AS DOUBLE)
           / CAST(least(sa.v, sb.v) AS DOUBLE) AS overlap_coef
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
"""
QUERIES["vocab_overlap"] = q_vocab_overlap
