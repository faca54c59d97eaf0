"""Parquet table loaders for the driver's synthetic star schema.

Maps the reference's DocStore collection scan (SURVEY §2.1 S1; call sites
/root/reference/cdcagg_oai/metadataformats.py:386-390) to
``spark.read.parquet`` — the declarative scan keeps Catalyst's predicate
pushdown and column pruning in play, which the reference had to hand-build
as per-format ``fields`` lists and Mongo ``_filter`` dicts.

At 100 TB the fact tables (lineitem/orders/events/documents) would be
partitioned on ingest date and bucketed on their join keys; loaders here
read whatever layout the directory provides and never force a repartition
(that would be a gratuitous full shuffle).
"""

from __future__ import annotations

import functools
import inspect
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def session_key(spark: SparkSession) -> str:
    """Cache key for per-session memoization: applicationId PLUS the
    session object id. applicationId alone would hand one session's cached
    (and ``.cache()``d) DataFrames to a sibling ``newSession()`` with
    different session-scoped confs; ``id(spark)`` alone can be reused by a
    NEW context after the old one is garbage-collected. Combined they are
    safe: a new context changes applicationId, and within a live context
    the cache's own strong reference to the DataFrame keeps its session
    alive, so its id is never recycled."""
    return f"{spark.sparkContext.applicationId}-{id(spark)}"


def corpus_ident(sf_dir: str, table: str = "documents",
                 logic_version: str = "") -> str:
    """THE definition of corpus identity (path + size + ns-mtime, the
    nanosecond resolution defeating same-second in-place rewrites), plus
    an optional logic-version salt for caches whose CONTENT depends on
    code (a persistent side-table must go stale when its derivation
    changes, not only when its input does)."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(src)
        ident = f"{sf_dir}|{table}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        ident = f"{sf_dir}|{table}"
    return f"{ident}|{logic_version}" if logic_version else ident


def corpus_key(spark: SparkSession, sf_dir: str,
               table: str = "documents") -> tuple[str, str]:
    """Cache key for per-(session, corpus) memoization: session_key plus
    corpus_ident. Derived relations cached on it go stale the moment the
    file is regenerated in place — the same contract the tokenized-corpus
    side table enforces."""
    return (session_key(spark), corpus_ident(sf_dir, table))


# THE corpus-memo registry: one store for every relation, model and
# analyzed plan derived from a corpus snapshot (or, for the in-memory
# fixtures, from the session alone). Key = (session_key, corpus ident or
# None, memo name, *extra arguments). Entries die with a new snapshot
# (memo_insert's stale eviction) or with clear_corpus_caches.
_MEMO: dict[tuple, object] = {}


def _unpersist(value) -> None:
    """Best-effort unpersist of a memo value; tuple values may carry a
    DataFrame member (e.g. the BPE merge rows + word table)."""
    for member in (value if isinstance(value, tuple) else (value,)):
        unpersist = getattr(member, "unpersist", None)
        if callable(unpersist):
            try:
                unpersist()
            except Exception:
                pass  # session may already be stopped; ref drop suffices


def memo_insert(key: tuple, value) -> None:
    """Insert into the registry, EVICTING any stale entry for the same
    (session, corpus path, memo name, extras) whose ident no longer
    matches — a corpus regenerated in place must not leave the previous
    entry's localCheckpoint blocks pinned in executor storage for the
    process lifetime. Evicted values are unpersisted best-effort;
    dropping the strong reference also lets the ContextCleaner reclaim
    checkpointed RDD blocks."""
    sk, ident = key[0], key[1]
    if isinstance(ident, str):
        # corpus_ident = "sf_dir|table|size|mtime[|logic]" — same first two
        # segments + different tail ⇒ same corpus path, stale snapshot.
        prefix = "|".join(ident.split("|")[:2]) + "|"
        stale = [k for k in _MEMO
                 if k[0] == sk and k[2:] == key[2:] and k[1] != ident
                 and isinstance(k[1], str) and k[1].startswith(prefix)]
        for k in stale:
            _unpersist(_MEMO.pop(k))
    _MEMO[key] = value


def memoized(key: tuple, build):
    """The registry's value for ``key``, calling ``build()`` and inserting
    its result on a miss."""
    if key not in _MEMO:
        memo_insert(key, build())
    return _MEMO[key]


def corpus_memo(table: str | None = "documents"):
    """Memoize a ``(spark, sf_dir, *extra)`` builder per (session,
    ``corpus_ident(sf_dir, table)``, builder, extras) — the derived
    relation goes stale the moment the table file is regenerated in
    place. ``table=None`` memoizes a ``(spark, *extra)`` session fixture
    per (session, builder, extras). Defaults are bound into the key, so
    ``f(spark)`` and ``f(spark, default)`` share one entry."""
    def wrap(fn):
        name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def memo(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            bound.apply_defaults()
            spark, *rest = bound.args
            if table is None:
                key = (session_key(spark), None, name, *rest)
            else:
                key = (session_key(spark), corpus_ident(rest[0], table),
                       name, *rest[1:])
            return memoized(key, lambda: fn(*bound.args))

        memo.memo_name = name
        return memo
    return wrap


def snapshot_key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    """Registry key over the idents of EVERY table: plans read
    lineitem/orders/customer/events/…, not only documents, so a
    regeneration of any of them must invalidate the cached plan."""
    ident = "||".join(corpus_ident(sf_dir, t) for t in TABLES)
    return (session_key(spark), ident, name)


# r11 central fixed-cost fix (the r10 verdict's top item): profiling put
# 0.05–0.45 s of every query call into CONSTRUCTING its DataFrame — py4j
# expression chatter plus Catalyst analysis — a per-call cost that real
# engines amortize with prepared/cached plans. The registry holds the
# ANALYZED LOGICAL PLAN per (session, all-table corpus idents, query
# name). Every cache hit returns a FRESH Dataset (`df.select("*")` — a
# new QueryExecution with new shuffle dependencies), so every execution
# still recomputes from the parquet inputs; re-collecting the SAME
# Dataset would let the DAGScheduler skip completed map stages
# (shuffle-output reuse ≈ result caching — measured and rejected in r10,
# re-verified r11: same-df re-collect skips the map stage, the
# select("*") clone re-runs it). Cleared by clear_corpus_caches, so the
# bench's cold mode still prices full construction.
def plan_memoized(name: str, fn):
    """Wrap a ``(spark, sf_dir) -> DataFrame`` query builder with the
    analyzed-plan memo. A build that FIRES SPARK JOBS is never cached:
    eager work at construction time is either a side effect that IS the
    operator (versioned_table's lakehouse file ops) or a documented
    per-call materialization (the tpch_q11/q15 CTE checkpoints, the
    driver-held sketches) — the guard keeps their per-call semantics
    without a hand-maintained exclusion list."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = snapshot_key(spark, sf_dir, f"plan:{name}")
        hit = _MEMO.get(key)
        if hit is not None:
            return hit.select("*")
        tracker = spark.sparkContext.statusTracker()
        ids = tracker.getJobIdsForGroup(None)
        before = max(ids) if ids else -1
        df = fn(spark, sf_dir)
        ids = tracker.getJobIdsForGroup(None)
        if (max(ids) if ids else -1) == before:
            memo_insert(key, df)
        return df

    q.__name__ = f"memo_{name}"
    q.__wrapped__ = fn
    return q


def local_rows(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small literal relation as a JVM ``LocalTableScan`` (r11). A
    python-list ``createDataFrame`` is backed by an RDD of PICKLED rows,
    so EVERY action on a query that embeds one pays a Python-worker
    round-trip just to rescan constants (measured 1.6 s vs 0.14 s on the
    24-row pii fixture). A VALUES plan carries the literals inside the
    JVM plan itself — no Python at execution, no RDD. ``schema`` is
    ``"name type, name type"`` (Spark SQL types); values may be
    str/int/float/bool/None."""
    cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, float):
            return repr(v) + "D"
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    names = ", ".join(n for n, _ in cols)
    sel = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    return spark.sql(f"SELECT {sel} FROM (VALUES {vals}) AS t({names})")


def clear_corpus_caches(spark: SparkSession | None = None) -> None:
    """Drop EVERY in-process memo cache (unpersisting cached/checkpointed
    DataFrames best-effort) plus Spark's table cache. The benchmark's
    cold mode calls this between queries so each number is attributable:
    without it, whichever query first builds a shared relation (the
    shingled corpus, the verified-pair set, the PQ codebooks) absorbs its
    cost and later queries report near-zero (the round-3 minhash=0.02 s
    artifact). On-disk side tables (the tokenized corpus parquet) are NOT
    deleted — they are the persistent stage-one tables of the 100 TB
    design, not in-process state."""
    for value in _MEMO.values():
        _unpersist(value)
    _MEMO.clear()
    if spark is not None:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Catalog-style metadata cache: DataFrames are immutable logical
    plans, so one spark.read.parquet per (session, path) is safe and skips
    re-reading parquet footers/schema on every query — exactly what a real
    catalog's table resolution does."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return memoized((session_key(spark), path, "tables.load_table"),
                    lambda: _read_table(spark, name, path))


def _read_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects unless nanosAsLong is on. The conf is runtime-settable,
        # so set it here instead of relying on session.py having configured the
        # session — callers (the correctness harness, notebooks) bring their
        # own SparkSession. Restore the caller's value afterwards: the flag
        # only matters at analysis time of this read.
        prev = spark.conf.get(_NANOS_CONF, None)
        spark.conf.set(_NANOS_CONF, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(_NANOS_CONF)
            else:
                spark.conf.set(_NANOS_CONF, prev)
    else:
        df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as epoch-nanos long (see session.py);
        # restore a timestamp_ntz at microsecond precision, matching what
        # DuckDB reads from the same file.
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` mirrors the
    oracle's pre-registered DuckDB views."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
