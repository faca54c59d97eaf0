"""Data-quality expectations: single-pass row checks, FK anti-joins, and a
probe that provably counts real violations."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import expectations as E
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import load_table


def test_expectations_pass_and_probe_counts(spark, sf_dir):
    rows = {r["check"]: r for r in E.q_data_expectations(spark, sf_dir).collect()}
    assert len(rows) == 9
    probe = rows.pop("lineitem.l_quantity.le_40_probe")
    assert probe["violations"] > 0  # the gate counts real violations
    assert all(r["violations"] == 0 for r in rows.values())
    li_count = load_table(spark, "lineitem", sf_dir).count()
    assert rows["lineitem.l_orderkey.fk_orders"]["checked"] == li_count


def test_row_checks_share_one_aggregate(spark, sf_dir):
    """All row-level predicate checks ride one aggregate pass: the plan has
    exactly one scan of the table and no join."""
    o = load_table(spark, "orders", sf_dir)
    df = E.run_row_checks(o, [
        ("a", F.col("o_orderkey").isNull()),
        ("b", ~(F.col("o_totalprice") > 0)),
        ("c", F.col("o_custkey").isNull()),
    ])
    # read the plan before collect: post-execution AQE output repeats the
    # tree under '== Initial Plan =='
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1 and "Join" not in plan
    rows = {r["check"]: r["violations"] for r in df.collect()}
    assert rows == {"a": 0, "b": 0, "c": 0}


def test_detects_planted_violations(spark, sf_dir):
    """A corrupted frame fails the checks it should fail."""
    o = load_table(spark, "orders", sf_dir).limit(100)
    corrupted = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(-1.0))
        .otherwise(F.col("o_totalprice")))
    df = E.run_row_checks(corrupted, [
        ("price_positive", ~(F.col("o_totalprice") > 0)),
        ("key_not_null", F.col("o_orderkey").isNull()),
    ])
    rows = {r["check"]: r["violations"] for r in df.collect()}
    assert rows["price_positive"] > 0 and rows["key_not_null"] == 0


def test_uniqueness_rides_the_shared_pass(spark, sf_dir):
    """count-vs-distinct uniqueness joins the row checks' single aggregate:
    still one scan, no join, no Expand."""
    o = load_table(spark, "orders", sf_dir)
    df = E.run_row_checks(
        o, [("nn", F.col("o_orderkey").isNull())],
        unique_keys=[("uq", "o_orderkey")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "Expand" not in plan
    rows = {r["check"]: r["violations"] for r in df.collect()}
    assert rows == {"nn": 0, "uq": 0}


def test_run_row_checks_edges(spark, sf_dir):
    import pytest

    o = load_table(spark, "orders", sf_dir)
    assert E.run_row_checks(o, []).count() == 0  # empty suite: empty report
    with pytest.raises(ValueError):
        E.run_row_checks(o, [("bad'name", F.col("o_orderkey").isNull())])
    with pytest.raises(ValueError):
        E.run_row_checks(o, [("_checked", F.col("o_orderkey").isNull())])


def test_column_histogram_equi_depth(spark, sf_dir):
    """Buckets tile the full range, conserve the row count, and are
    near-equal depth (exact percentile bounds)."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.relational_ext import (
        HIST_BUCKETS,
        q_column_histogram,
    )

    rows = sorted(q_column_histogram(spark, sf_dir).collect(),
                  key=lambda r: int(r["bucket"]))
    assert len(rows) == HIST_BUCKETS
    o = load_table(spark, "orders", sf_dir)
    total = o.count()
    assert sum(r["rows"] for r in rows) == total
    for prev, nxt in zip(rows, rows[1:]):
        assert prev["hi"] == nxt["lo"]  # contiguous bounds
    depths = [r["rows"] for r in rows]
    assert max(depths) <= 1.2 * total / HIST_BUCKETS + 1  # near-equal depth


def test_fk_check_null_child_keys_are_vacuously_valid(spark):
    """ANSI FK semantics: a NULL foreign key is not an orphan — it belongs
    to a separate not_null expectation. Only the real orphan counts."""
    child = spark.createDataFrame(
        [(1,), (None,), (None,), (99,)], "k bigint")
    parent = spark.createDataFrame([(1,), (2,)], "k bigint")
    row = E.fk_check(child, parent, "k", "k", "c.fk").collect()[0]
    assert row["violations"] == 1  # only 99; the two NULLs don't count
    assert row["checked"] == 4


def test_memo_insert_evicts_stale_corpus_entries(spark):
    """Regenerating a corpus in place must evict (and unpersist) the memo
    entry cached under the previous size/mtime ident — otherwise
    localCheckpoint blocks for the dead snapshot pin executor storage for
    the process lifetime (round-3 advice)."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import tables
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        memo_insert,
    )

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    def ours():
        return {k: v for k, v in tables._MEMO.items()
                if k[0] in ("sess", "sess2")}

    try:
        old = FakeDF()
        memo_insert(("sess", "/d|documents|100|1", "m"), old)
        other_table = FakeDF()
        memo_insert(("sess", "/d|embeddings|50|1", "m"), other_table)
        other_session = FakeDF()
        memo_insert(("sess2", "/d|documents|100|1", "m"), other_session)
        other_memo = FakeDF()
        memo_insert(("sess", "/d|documents|100|1", "m2"), other_memo)
        # same session + corpus path + memo, new size/mtime -> evicts `old`
        new = FakeDF()
        memo_insert(("sess", "/d|documents|200|2", "m"), new)
        assert old.unpersisted
        assert not other_table.unpersisted and not other_session.unpersisted
        assert not other_memo.unpersisted
        assert ("sess", "/d|documents|100|1", "m") not in ours()
        assert ours()[("sess", "/d|documents|200|2", "m")] is new
        assert len(ours()) == 4
        # extra discriminators (the PQ cell_probe flag) partition the
        # space: same corpus, different flag is NOT stale
        a, b = FakeDF(), FakeDF()
        memo_insert(("sess", "/d|documents|200|2", "m", True), a)
        memo_insert(("sess", "/d|documents|300|3", "m", False), b)
        assert not a.unpersisted  # different flag survived
        # the no-extras key is untouched
        assert ours()[("sess", "/d|documents|200|2", "m")] is new
        # session fixtures (ident None) never evict each other
        f1, f2 = FakeDF(), FakeDF()
        memo_insert(("sess", None, "fixture", 8), f1)
        memo_insert(("sess", None, "fixture", 16), f2)
        assert not f1.unpersisted and len(ours()) == 8
    finally:
        for k in ours():
            tables._MEMO.pop(k)


def test_clear_corpus_caches_drops_and_unpersists(spark):
    """bench.py's cold mode depends on this: every registered memo cache
    empties and cached DataFrames are unpersisted best-effort."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import dedup
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import tables

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    fake = FakeDF()
    tables.memo_insert(("s", "i", dedup._shingled_docs.memo_name), fake)
    tables.memo_insert(("s", "/p", "tables.load_table"), FakeDF())
    tables.memo_insert(("s", "i", "plan:q", True), (FakeDF(), [1]))
    tables.clear_corpus_caches()
    assert tables._MEMO == {}
    assert fake.unpersisted


def test_erasure_audit_invariants(spark, sf_dir):
    """Erasure sweep: the erase set is real (purged > 0 for the corpus),
    conservation holds per relation, and the per-doc purge propagates
    proportionally into every derived relation."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.expectations import (
        q_erasure_audit,
    )

    rows = {r["relation"]: r for r in q_erasure_audit(spark, sf_dir).collect()}
    assert set(rows) == {"corpus", "chunks", "postings", "shard_assignment"}
    for r in rows.values():
        assert r["rows_before"] == r["purged"] + r["rows_after"]
    assert rows["corpus"]["purged"] > 0
    # shard assignment is one row per doc — identical counts to the corpus
    assert (rows["shard_assignment"]["rows_before"]
            == rows["corpus"]["rows_before"])
    # chunk and posting relations each carry >= 1 row per doc, so their
    # purge counts dominate the corpus purge count
    assert rows["chunks"]["purged"] >= rows["corpus"]["purged"]
    assert rows["postings"]["purged"] >= rows["corpus"]["purged"]
    # deterministic: same erase draw, same audit
    again = {r["relation"]: r for r in q_erasure_audit(spark, sf_dir).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()}


def test_gated_write_single_pass_publish(spark, tmp_path):
    """gated_write: clean data publishes with zero-violation metrics from
    the SAME job that wrote the files; dirty data rolls the output back
    and raises with the counters."""
    import os

    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.expectations import (
        PublishGateError, gated_write,
    )
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    o = load_table(spark, "orders", "/root/testdata/sf0.001")
    checks = [
        ("null_keys", F.col("o_orderkey").isNull()),
        ("nonpositive_price", ~(F.col("o_totalprice") > 0)),
    ]
    out = str(tmp_path / "published")
    metrics = gated_write(o, checks, out)
    assert metrics == {"null_keys": 0, "nonpositive_price": 0}
    assert spark.read.parquet(out).count() == o.count()

    bad_out = str(tmp_path / "rolled_back")
    bad_checks = checks + [("too_tight_probe", F.col("o_totalprice") > 10)]
    with pytest.raises(PublishGateError) as ei:
        gated_write(o, bad_checks, bad_out)
    assert ei.value.metrics["too_tight_probe"] > 0
    assert not os.path.exists(bad_out), "failed publish must roll back"
