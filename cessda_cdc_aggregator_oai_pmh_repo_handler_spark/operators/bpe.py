"""Distributed BPE tokenizer training — the merge-table learner every
LLM data pipeline runs before anything else (GPT-2/RoBERTa-style
byte-pair encoding, Sennrich et al. 2016).

Spark-first shape: BPE never needs the corpus per-iteration — it needs
the WORD-FREQUENCY table (vocabulary-sized, millions of rows at 100 TB,
each with a symbol array and a count). One corpus pass builds it; every
merge sweep then runs over that table only:

- pair counting: explode ``arrays_zip(symbols, tail(symbols))`` weighted
  by word count → groupBy pair (map-side partials; the pair table is at
  most vocabulary-alphabet-sized);
- top pair: ``orderBy(count desc, a, b).limit(1)`` —
  TakeOrderedAndProject, a 1-row driver action per merge (bounded:
  n_merges actions total, the k-means-loop precedent);
- merge application: a single ``F.aggregate`` fold per word rewrites the
  symbol array left-to-right greedily (exactly BPE's scan order:
  'a a a' + (a,a) → ['aa','a']) — no Python worker, pure codegen;
- ``localCheckpoint`` per sweep truncates the growing lineage (the
  iterative-loop pattern shared with connected components).

The whole loop never shuffles anything wider than the vocabulary, which
is what makes BPE training on a 100 TB corpus a sequence of small jobs
after the one corpus-wide word count.

The oracle is a driver-side Python mirror of the same deterministic
recursion (ties break on (count desc, pair asc)) emitted as literal
VALUES — the multimodal/pii oracle pattern, since 8 chained
merge-rewrites are not reasonably expressible in one SQL statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import corpus_memo
from .text_analysis import _tokenized_docs

BPE_MERGES = 8


def _char_symbols(word):
    # the empty-word guard matters: sequence(1, 0) counts DOWN in Spark,
    # so an unguarded transform turns '' (a split artifact of consecutive
    # spaces) into ['', ''] while the Python mirror's tuple('') is () —
    # a silent engine-vs-oracle divergence
    return F.expr(
        f"CASE WHEN length({word}) = 0 THEN array() "
        f"ELSE transform(sequence(1, length({word})), "
        f"i -> substr({word}, i, 1)) END")


def _pair_counts(wf: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the word-frequency table."""
    n = F.size("symbols")
    pairs = F.arrays_zip(
        F.slice("symbols", 1, F.greatest(n - 1, F.lit(0))),
        F.expr("slice(symbols, 2, greatest(size(symbols) - 1, 0))"),
    )
    return (
        wf.select(F.explode(pairs).alias("p"), "cnt")
        .select(F.col("p")["0"].alias("a"), F.col("p")["1"].alias("b"), "cnt")
        .groupBy("a", "b").agg(F.sum("cnt").alias("total"))
    )


def _apply_merge(wf: DataFrame, a: str, b: str,
                 keep_word: bool = False) -> DataFrame:
    """Greedy left-to-right merge of (a, b) in every symbol array — one
    aggregate fold, matching BPE's scan semantics ('a a a' → ['aa','a']).
    ``keep_word`` preserves the word key column (the tokenizer-apply
    path needs it to join token counts back to documents)."""
    la, lb = F.lit(a), F.lit(b)
    merged = F.lit(a + b)
    fold = F.aggregate(
        "symbols",
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (s == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    cols = (["word"] if keep_word else []) + [fold.alias("symbols"), "cnt"]
    return wf.select(*cols)


def bpe_train(spark: SparkSession, docs_words: DataFrame,
              n_merges: int = BPE_MERGES) -> tuple[list[tuple], DataFrame]:
    """Learn ``n_merges`` BPE merges from a (words: array<string>) corpus.
    Returns ([(rank, a, b, merged, count)...], final word-frequency df)."""
    # the corpus-wide word count is the only big job; its result is
    # vocabulary-sized, so the merge loop runs over a deliberately
    # SMALL-partitioned relation (1 partition here; at 100 TB size it as
    # ~vocab/10M partitions) — 2×n_merges tiny jobs instead of 2×n_merges
    # jobs each scheduling 32 near-empty tasks (measured 12.7 s → 3.4 s
    # for 8 merges at sf0.1).
    wf = (
        docs_words.select(F.explode("words").alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", _char_symbols("word").alias("symbols"), "cnt")
        .coalesce(1)
        .localCheckpoint()
    )
    merges: list[tuple] = []
    checkpointed = True  # the initial word count above is checkpointed
    for rank in range(1, n_merges + 1):
        top = (_pair_counts(wf)
               .orderBy(F.col("total").desc(), "a", "b")
               .limit(1).collect())
        if not top:
            break
        a, b, total = top[0]["a"], top[0]["b"], int(top[0]["total"])
        merges.append((rank, a, b, a + b, total))
        wf = _apply_merge(wf, a, b, keep_word=True)
        # checkpoint every few merges, not every merge: re-running ≤3
        # pending folds over the vocab relation is cheaper than a
        # materialization job per iteration (9 jobs for 8 merges instead
        # of 17), while the cadence still bounds lineage/codegen depth
        # for large merge budgets
        checkpointed = rank % 4 == 0
        if checkpointed:
            wf = wf.localCheckpoint()
    if not checkpointed:
        wf = wf.localCheckpoint()
    return merges, wf


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: the learned merge table plus a final-vocabulary row.
    Merge rows are driver-learned (bounded: BPE_MERGES 1-row actions);
    the vocab row is a distributed distinct over the rewritten symbol
    arrays, proving the merges were actually applied corpus-wide."""
    rows, _wf = _trained(spark, sf_dir)
    return spark.createDataFrame(
        rows, "rank int, a string, b string, merged string, freq long")


@corpus_memo(table="documents")
def _trained(spark: SparkSession, sf_dir: str):
    """Memoized (merge rows, final word-symbol table): both gate queries
    share one training run; the checkpointed word table also serves the
    tokenizer-apply path without re-running the folds. The merge table is
    a deterministic pure function of the corpus, so repeated suite
    constructions pay the 17-job loop once per (session, corpus), and an
    in-place corpus regeneration invalidates the entry."""
    d = _tokenized_docs(spark, sf_dir)
    merges, wf = bpe_train(spark, d.select("words"))
    vocab = (wf.select(F.explode("symbols").alias("s"))
             .agg(F.countDistinct("s").alias("n")).collect()[0]["n"])
    rows = [(r, a, b, m, c) for (r, a, b, m, c) in merges]
    rows.append((0, "", "", "<vocab>", int(vocab)))
    return rows, wf


def _sql_str(s: str) -> str:
    """Corpus-derived text → SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def _mirror_merges(sf_dir: str) -> tuple[list[tuple], dict]:
    """The ONE driver-side Python mirror of the training recursion, shared
    by both literal oracles: DuckDB-read word counts → BPE_MERGES greedy
    merges with the (count desc, pair asc) tie-break. Returns the merge
    list and the final per-word symbol table."""
    import os

    import duckdb

    path = os.path.join(sf_dir, "documents.parquet")
    wf = duckdb.sql(
        f"SELECT w AS word, count(*) AS cnt FROM (SELECT unnest("
        f"string_split(lower(text), ' ')) AS w FROM '{path}') GROUP BY w"
    ).fetchall()
    words = {w: (tuple(w), c) for w, c in wf}
    merges: list[tuple] = []
    for rank in range(1, BPE_MERGES + 1):
        counts: dict[tuple, int] = {}
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                pr = (syms[i], syms[i + 1])
                counts[pr] = counts.get(pr, 0) + c
        if not counts:
            break
        (a, b), total = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, total))
        for w, (syms, c) in words.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            words[w] = (tuple(out), c)
    return merges, words


def bpe_oracle_sql(sf_dir: str) -> str:
    """Literal-VALUES oracle: the shared Python mirror's merge table plus
    the final-vocabulary row."""
    merges, words = _mirror_merges(sf_dir)
    vocab = len({s for syms, _ in words.values() for s in syms})
    rows = merges + [(0, "", "", "<vocab>", vocab)]
    values = ", ".join(
        f"({r}, {_sql_str(a)}, {_sql_str(b)}, {_sql_str(m)}, {c})"
        for r, a, b, m, c in rows)
    return (f"SELECT CAST(rank AS INT) AS rank, a, b, merged, "
            f"CAST(freq AS BIGINT) AS freq FROM (VALUES {values}) "
            f"t(rank, a, b, merged, freq)")


def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with the learned merges — the pipeline stage
    BPE training exists FOR: per source, character count, token count
    after the merge table is applied, and the compression ratio.

    Scale shape: merges are applied to the WORD-FREQUENCY table (each
    distinct word's post-merge token count computed once), and documents
    get their token totals by joining word → token_count and summing —
    the corpus-wide pass never re-runs the merge folds per occurrence.
    That's a vocab-sized fold job plus one broadcast-ish join on word,
    exactly how a production tokenizer counts tokens over 100 TB."""
    d = _tokenized_docs(spark, sf_dir)
    _rows, wf = _trained(spark, sf_dir)
    tok = wf.select("word", F.size("symbols").alias("word_tokens"))
    per_doc = (
        d.select("doc_id", "source", "n_chars",
                 F.explode("words").alias("word"))
        .join(F.broadcast(tok), "word")
        .groupBy("doc_id", "source", "n_chars")
        .agg(F.sum("word_tokens").alias("doc_tokens"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars").alias("chars"),
        F.sum("doc_tokens").alias("tokens"),
        F.round(F.sum("n_chars") / F.sum("doc_tokens"), 4)
        .alias("chars_per_token"),
    )


def bpe_compression_oracle_sql(sf_dir: str) -> str:
    """Python-mirror literal oracle for the per-source compression stats:
    the shared mirror's merges applied to the same word list, token
    totals joined back through each document's words."""
    import duckdb
    import os

    _merges, words = _mirror_merges(sf_dir)
    path = os.path.join(sf_dir, "documents.parquet")
    docs = duckdb.sql(
        f"SELECT doc_id, source, n_chars, string_split(lower(text), ' ') "
        f"AS w FROM '{path}'").fetchall()
    per_source: dict[str, list[int]] = {}
    for _doc_id, source, n_chars, ws in docs:
        toks = sum(len(words[w][0]) for w in ws)
        agg = per_source.setdefault(source, [0, 0, 0])
        agg[0] += 1
        agg[1] += n_chars
        agg[2] += toks
    # Spark's round() is HALF_UP on the double's shortest decimal repr;
    # Python's built-in round is banker's — mirror Spark exactly
    from decimal import ROUND_HALF_UP, Decimal

    def half_up4(x: float) -> str:
        return str(Decimal(repr(x)).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP))

    values = ", ".join(
        "({}, {}, {}, {}, {})".format(
            _sql_str(s), d, ch, tk,
            half_up4(ch / tk) if tk else "NULL")
        for s, (d, ch, tk) in sorted(per_source.items()))
    return (f"SELECT source, CAST(docs AS BIGINT) AS docs, "
            f"CAST(chars AS BIGINT) AS chars, CAST(tokens AS BIGINT) AS "
            f"tokens, CAST(chars_per_token AS DOUBLE) AS chars_per_token "
            f"FROM (VALUES {values}) t(source, docs, chars, tokens, "
            f"chars_per_token)")


QUERIES = {"bpe_merges": q_bpe_merges, "bpe_compression": q_bpe_compression}

# The merge table depends on the corpus, so the literal oracle is built
# for the gate's sf_dir (the driver always verifies at sf0.01;
# tools/verify_local.py exports the override for other sfs). Building it
# is one DuckDB word count + the tiny Python recursion (~0.1 s). Only a
# genuinely ABSENT corpus degrades to no-oracle (docs-only checkout);
# any other failure must propagate, not silently unverify BPE.
import os as _os

_ORACLE_SF_DIR = _os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
if _os.path.exists(_os.path.join(_ORACLE_SF_DIR, "documents.parquet")):
    ORACLES = {
        "bpe_merges": bpe_oracle_sql(_ORACLE_SF_DIR),
        "bpe_compression": bpe_compression_oracle_sql(_ORACLE_SF_DIR),
    }
else:
    ORACLES = {}
