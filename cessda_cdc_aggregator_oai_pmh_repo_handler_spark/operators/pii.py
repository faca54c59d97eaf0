"""PII detection and redaction — the scrubbing stage a training-data
pipeline runs between quality filtering and dedup.

Everything is built-in ``regexp_count`` / ``regexp_replace`` column math
(JVM-side, whole-stage codegen) — no Python touches a row. The pattern
set is deliberately simple (email / NANP-style phone / IPv4) and written
in the regex subset where Java (Spark) and Python ``re`` agree, so the
oracle can be computed driver-side with ``re`` over the same deterministic
inputs and emitted as a literal ``VALUES`` table (the ``multimodal``
pattern: DuckDB can't run Java regex, but it can hash-check the exact
expected output).

Scale design: redaction is a pure per-row projection — no shuffle, no
UDF; at 100 TB it rides the ingest scan. The per-source rollup is one
groupBy on a low-cardinality key."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import corpus_memo

# Order matters: emails contain dots/digits, so count/redact them before
# IPv4; phones before bare digit runs. Each pattern is valid and
# equivalent under BOTH Java regex and Python re.
PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_counts(col: str | Column = "text") -> list[Column]:
    """One count column per PII category."""
    return [F.regexp_count(F.col(col) if isinstance(col, str) else col,
                           F.lit(pat)).alias(name)
            for name, pat, _ in PII_PATTERNS]


def redact(col: str | Column = "text") -> Column:
    """All categories replaced by their tags, applied in pattern order."""
    out = F.col(col) if isinstance(col, str) else col
    for _, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


N_PII_DOCS = 24


def _pii_rows() -> list[tuple]:
    """Deterministic synthetic PII corpus: every 4th doc is clean; the rest
    mix categories (multiple hits per doc every 3rd)."""
    rows = []
    for i in range(N_PII_DOCS):
        if i % 4 == 0:
            text = f"ticket {i} resolved with no personal data attached"
        else:
            parts = [f"case {i}:"]
            parts.append(f"mail user{i}@example-{i % 5}.org")
            if i % 2 == 1:
                parts.append(f"call +1{i % 10}5-01{i % 10}-{1000 + i}")
            if i % 3 == 1:
                parts.append(f"from host 10.{i}.{(i * 7) % 256}.9")
            if i % 3 == 2:
                parts.append(f"cc admin{i}@corp.example.net")
            rows.append((i, " ".join(parts)))
            continue
        rows.append((i, text))
    return rows


@corpus_memo(table=None)
def synthetic_pii_docs(spark: SparkSession) -> DataFrame:
    # same rationale as multimodal.synthetic_media_real: pack the demo
    # into a few real partitions instead of one near-empty slice per core.
    # Memoized per session like the real tables (sources/tables.py): the
    # driver-side createDataFrame/Arrow conversion is the expensive part
    # of this fixed fixture, not the regexes.
    # r11: localCheckpoint pins the 24 rows as JVM-resident blocks —
    # a python-list DataFrame is otherwise backed by an RDD of
    # PICKLED rows, and every downstream action re-ran the
    # Python-worker deserialization (measured: bare count 1.6 s vs
    # 0.14 s checkpointed; the regexes were never the cost)
    return spark.createDataFrame(
        _pii_rows(), "pii_id long, text string").coalesce(4) \
        .localCheckpoint()


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: per-document PII hit counts plus a residual count over
    the REDACTED text (must be 0 — the redaction provably removed every
    match the detector sees)."""
    d = synthetic_pii_docs(spark)
    clean = redact("text")
    residual = sum(
        (F.regexp_count(clean, F.lit(pat)) for _, pat, _ in PII_PATTERNS),
        F.lit(0),
    )
    return d.select(
        "pii_id",
        *pii_counts("text"),
        residual.alias("residual"),
    )


def expected_pii_rows() -> list[tuple]:
    """Driver-side mirror of q_pii_scrub via Python ``re`` — the oracle's
    source of truth. Java and Python regex must agree on these patterns;
    tests/test_pii.py pins the full redacted strings too."""
    out = []
    for pii_id, text in _pii_rows():
        counts = [len(re.findall(pat, text)) for _, pat, _ in PII_PATTERNS]
        clean = text
        for _, pat, tag in PII_PATTERNS:
            clean = re.sub(pat, tag, clean)
        resid = sum(len(re.findall(pat, clean)) for _, pat, _ in PII_PATTERNS)
        out.append((pii_id, *counts, resid))
    return out


def _oracle_sql() -> str:
    values = ",\n            ".join(
        f"({pid}, {e}, {p}, {i}, {r})"
        for pid, e, p, i, r in expected_pii_rows()
    )
    return f"""
        SELECT * FROM (VALUES
            {values}
        ) AS t(pii_id, email, phone, ipv4, residual)
    """


K_ANON = 5   # minimum group size before a quasi-identifier group is safe
L_DIV = 2    # minimum distinct sensitive values per group


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIVACY AUDIT — k-anonymity / l-diversity census over a
    quasi-identifier combination (the release-gate check an anonymized
    training-data export runs before publication): customers grouped by
    (nation, market segment); per group its size (k), the number of
    distinct sensitive values (l; account-balance sign stands in for the
    sensitive attribute), and pass flags against the K_ANON / L_DIV
    floors. Rows in under-k groups are exactly the re-identifiable
    population.

    Scale: one exchange on the quasi-identifier key with map-side
    partials; the distinct-count is per-group (count_distinct inside the
    aggregate, domain-bounded at 3 signs), never a global expand."""
    from ..sources.tables import load_table

    c = load_table(spark, "customer", sf_dir)
    sens = F.signum("c_acctbal").cast("int")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("k"),
             F.count_distinct(sens).alias("l"))
        .select(
            "c_nationkey", "c_mktsegment", "k", "l",
            (F.col("k") >= K_ANON).cast("int").alias("k_ok"),
            (F.col("l") >= L_DIV).cast("int").alias("l_ok"),
        )
    )


ORACLE_K_ANONYMITY = f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(DISTINCT CAST(sign(c_acctbal) AS INT)) AS BIGINT) AS l,
           CAST(count(*) >= {K_ANON} AS INT) AS k_ok,
           CAST(count(DISTINCT CAST(sign(c_acctbal) AS INT)) >= {L_DIV}
                AS INT) AS l_ok
    FROM customer GROUP BY c_nationkey, c_mktsegment
"""

QUERIES = {"pii_scrub": q_pii_scrub, "k_anonymity": q_k_anonymity}
ORACLES = {"pii_scrub": _oracle_sql(), "k_anonymity": ORACLE_K_ANONYMITY}
