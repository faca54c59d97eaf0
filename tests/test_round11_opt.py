"""Round-11 optimization internals — pinned as tests.

Each test pins a property the r11 optimizations rely on:

- the central analyzed-plan memo returns FRESH Datasets (recompute-from-
  parquet semantics, never shuffle-output reuse) and refuses to cache
  builds that fire jobs (side-effecting builds keep per-call semantics);
- ``local_rows`` produces a JVM LocalTableScan (no pickled-row RDD, no
  Python worker at execution) with exact value round-trip;
- the shared term-frequency / bootstrap-rank checkpoints actually hide
  their build machinery from consumers' executed plans (the explode /
  window machinery must not reappear per call);
- the single-pass symmetrizations keep the former self-union's subtree
  out of the plan (one Generate, no Union).
"""

from __future__ import annotations

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
    arrays, dedup, relational_ext, text_analysis,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
    _MEMO, clear_corpus_caches, load_table, local_rows, plan_memoized,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_memo_returns_fresh_dataset(spark):
    """A cache hit must be a NEW Dataset (new QueryExecution → new
    shuffle dependencies → full recompute from parquet), never the same
    object — re-collecting the same Dataset lets the DAGScheduler skip
    completed map stages, which is result caching."""
    clear_corpus_caches(spark)
    load_table(spark, "orders", SF)     # absorb the first-read file-listing job
    calls = {"n": 0}

    def builder(s, sf):
        calls["n"] += 1
        return load_table(s, "orders", sf).groupBy("o_orderstatus").count()

    q = plan_memoized("t_fresh", builder)
    d0 = q(spark, SF)                   # may build twice if a stray job fired
    d1 = q(spark, SF)
    d2 = q(spark, SF)
    assert calls["n"] <= 2 and d0 is not None
    n_after = calls["n"]
    q(spark, SF)
    assert calls["n"] == n_after        # construction memoized from here on
    assert d1 is not d2             # but every call is a fresh Dataset
    assert d1._jdf != d2._jdf
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))


def test_plan_memo_never_caches_job_firing_builds(spark):
    """A build that fires Spark jobs (eager checkpoint trains, driver-
    held sketches, file ops) must re-run per call — the guard keeps
    per-call semantics without an exclusion list."""
    clear_corpus_caches(spark)
    calls = {"n": 0}

    def eager_builder(s, sf):
        calls["n"] += 1
        df = load_table(s, "orders", sf).limit(3)
        df.count()                  # fires a job during construction
        return df

    q = plan_memoized("t_eager", eager_builder)
    q(spark, SF)
    q(spark, SF)
    assert calls["n"] == 2
    assert not any(k[2] == "plan:t_eager" for k in _MEMO)


def test_local_rows_is_jvm_local_no_python_rdd(spark):
    rows = [(1, "it's a \\ backslash", 2.5), (2, None, -0.125)]
    df = local_rows(spark, rows, "i int, s string, x double")
    plan = plan_of(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan        # no pickled-row Python RDD
    got = sorted((r["i"], r["s"], r["x"]) for r in df.collect())
    assert got == sorted(rows)
    assert dict(df.dtypes) == {"i": "int", "s": "string", "x": "double"}


def test_term_freq_consumers_hide_the_explode(spark):
    """tfidf/zipf/heaps must read the shared checkpoint, not re-run
    their own token explode: with the memo warm, no Generate(explode)
    may appear in their executed plans."""
    text_analysis._term_freq(spark, SF)     # warm the checkpoint
    for q in (text_analysis.q_zipf_slope, text_analysis.q_heaps_law,
              text_analysis.q_tfidf_top_terms):
        plan = plan_of(q.__wrapped__(spark, SF)
                       if hasattr(q, "__wrapped__") else q(spark, SF))
        assert "Generate explode" not in plan, q
        assert "Scan ExistingRDD" in plan, q    # the checkpoint scan


def test_bootstrap_consumers_hide_the_rank_machinery(spark):
    """bootstrap_resample/ci must read the shared ranked checkpoint:
    with the memo warm, the bucketed_global_rank window machinery must
    not reappear in the executed plan (one Generate remains — the draw
    fan-out explode)."""
    text_analysis._boot_ranked(spark, SF)   # warm the checkpoint
    for q in (text_analysis.q_bootstrap_resample,
              text_analysis.q_bootstrap_ci):
        plan = plan_of(q(spark, SF))
        assert "Window" not in plan, q
        assert "Scan ExistingRDD" in plan, q


def test_single_pass_symmetrizations_have_no_union(spark):
    """interval_align / itemcf / degree_assortativity emit both
    directions from ONE pass (explode), so the plan carries no Union —
    the former self-unionByName executed the shared subtree twice."""
    for q in (arrays.q_interval_align, relational_ext.q_itemcf_recommend):
        plan = plan_of(q(spark, SF))
        assert "Union" not in plan, q
        assert "Generate explode" in plan, q
    # degree_assortativity keeps the degree self-union (it reads the
    # CHECKPOINTED pairs relation — a cheap double scan); only the stub
    # union over the pairs⋈deg⋈deg join is gone (plan Union count
    # 10 → 4 in plans/r11): the join must appear ONCE.
    plan = plan_of(dedup.q_degree_assortativity(spark, SF))
    assert "Generate explode" in plan
    assert plan.count("Union") <= 4


def test_acf_lag_no_heap_decimal_on_the_scan_path(spark):
    """Per-row lag arithmetic stays in 64-bit ints; DECIMAL appears only
    as the aggregate sum inputs/buffers (long-backed 18,0 inputs)."""
    plan = plan_of(arrays.q_acf_lag(spark, SF))
    assert "decimal(19,0)" not in plan
    assert "decimal(18,0)" in plan          # the exact sum inputs


def test_fixture_relations_are_jvm_resident(spark):
    """The memoized pii/media fixtures are checkpointed: their scans are
    JVM-resident blocks, executed without a Python worker (the plan is
    still Scan ExistingRDD, but the RDD is materialized — assert the
    checkpoint happened via the RDD's checkpoint flag)."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        multimodal, pii,
    )

    for d in (pii.synthetic_pii_docs(spark),
              multimodal.synthetic_media_real(spark, 8)):
        lineage = str(d._jdf.rdd().toDebugString())
        assert "localCheckpoint" in lineage
        assert "PythonRDD" not in lineage
