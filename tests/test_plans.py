"""Physical-plan quality gates — the 100 TB discipline as assertions.

Each test pins a plan property that matters at scale: filters reaching the
parquet scan, columns pruned, dimensions broadcast, top-k avoiding global
sorts, aggregations doing map-side partial combine. A regression here means
a query silently became a full-scan/full-shuffle at 1000× the data.
"""

from __future__ import annotations

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
    ann, arrays, dedup, relational,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_filter_pushed_to_scan(spark):
    plan = plan_of(relational.q_point_lookup(spark, SF))
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)" in plan


def test_projection_prunes_scan_columns(spark):
    plan = plan_of(relational.q_projection(spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "o_orderkey" in scan and "o_totalprice" in scan
    assert "o_custkey" not in scan and "o_orderstatus" not in scan


def test_lookup_join_broadcasts_dims(spark):
    plan = plan_of(relational.q_lookup_join(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_semi_join_is_broadcast_left_semi(spark):
    plan = plan_of(relational.q_semi_join(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_group_counts_partial_aggregation(spark):
    plan = plan_of(relational.q_group_counts(spark, SF))
    assert "partial_count" in plan  # map-side combine before the exchange


def test_ann_topk_avoids_global_sort(spark):
    plan = plan_of(ann.q_ann_bruteforce(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_ann_query_vector_broadcast(spark):
    plan = plan_of(ann.q_ann_bruteforce(spark, SF))
    assert "BroadcastExchange" in plan


def test_minhash_verify_joins_broadcast_candidates(spark):
    # the memoized wrapper returns a checkpoint scan; assert on the raw plan
    plan = plan_of(dedup.build_minhash_lsh_pairs(spark, SF))
    # both verify probes must be broadcast joins (shingle side never shuffles)
    assert plan.count("BroadcastHashJoin") >= 2


def test_ngram_jaccard_no_cartesian_product(spark):
    """Prefix-filtered all-pairs join must stay an equi-join on shingles —
    the old source-only blocking was quadratic within a block."""
    plan = plan_of(dedup.q_ngram_jaccard_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_no_cartesian_product(spark):
    """Chunk-prefix bucketing must turn the pair search into an equi-join;
    a CartesianProduct/nested-loop node here is the O(n²) scale-killer the
    bucketing exists to avoid."""
    plan = plan_of(dedup.q_simhash_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_cluster_equijoin_and_invariants(spark):
    """SemDeDup's pair search must be an equi-join on the cluster id (never
    cross-cluster, never a cartesian), and the keep-one-representative
    invariants must hold: kept + pruned == n per cluster, and at least one
    member of every cluster survives (the lowest id has no lower neighbor)."""
    df = dedup.q_semantic_dedup(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["kept"] + r["pruned"] == r["n"]
        assert r["kept"] >= 1


def test_cc_local_and_distributed_agree(spark):
    """The hybrid CC switch must be invisible in results: driver union-find
    and min-label propagation produce identical (doc_id, component) labels
    over the same verified-pair graph."""
    pairs = dedup.q_minhash_lsh_pairs(spark, SF).select("doc_a", "doc_b")
    rows = pairs.collect()
    local = set(dedup.connected_components_local(
        [(r["doc_a"], r["doc_b"]) for r in rows]))
    dist = {(r["doc_id"], r["component"])
            for r in dedup.connected_components_distributed(pairs).collect()}
    assert local == dist and len(local) > 0


def test_pagination_filters_before_window(spark):
    """The snapshot bound must reach the scan, not sit above the sort."""
    plan = plan_of(relational.q_pagination(spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "o_orderdate" in scan and "LessThan" in scan


def test_event_window_single_shuffle(spark):
    plan = plan_of(arrays.q_event_window(spark, SF))
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(shuffles) == 1


def test_nested_predicate_pushdown_on_studies(spark, tmp_path):
    """Struct-field predicates (metadata.status) must push into the parquet
    scan of the studies corpus — the reference hand-built this as Mongo
    filter payloads; Catalyst does it from the Column expression."""
    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.functions import predicates as P
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_studies

    path = str(tmp_path / "studies")
    fixture_studies(spark).write.parquet(path)
    df = spark.read.parquet(path)
    q = df.filter(P.is_deleted()).select("aggregator_identifier", "metadata")
    plan = plan_of(q)
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PushedFilters" in scan and "metadata.status" in scan
    # top-level pruning: only the two selected columns reach the scan
    assert "study_titles" not in scan and "provenance" not in scan


def test_whole_stage_codegen_everywhere(spark):
    """Scalar pipelines must stay inside codegen (no interpreted gaps)."""
    import contextlib
    import io
    import re

    # AQE wraps stages lazily and reports 0 subtrees pre-execution; the
    # static plan shows what codegen will compile.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for q in (relational.q_conjunction, relational.q_range_filter,
                  arrays.q_json_extract):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                q(spark, SF).explain("codegen")
            m = re.search(r"Found (\d+) WholeStageCodegen subtrees", buf.getvalue())
            assert m and int(m.group(1)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_tpch_q5_broadcasts_dims_no_cartesian(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q5(spark, SF))
    assert "BroadcastHashJoin" in plan       # nation/region stay broadcast
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan           # orderdate/region filters reach the scan


def test_tpch_q18_aggregates_before_joining(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q18(spark, SF))
    assert "BroadcastHashJoin" in plan       # big-order survivors broadcast
    assert "TakeOrderedAndProject" in plan   # top-20 without a global sort


def test_tpch_q6_single_codegen_scan(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q6(spark, SF))
    # every predicate reaches the parquet scan; no join, no wide shuffle
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "Join" not in plan
    # column pruning: only the 4 referenced columns reach the scan
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "l_orderkey" not in scan and "l_returnflag" not in scan


def test_tpch_q10_topk_and_broadcast_nation(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q10(spark, SF))
    assert "TakeOrderedAndProject" in plan   # top-20, no global sort
    assert "BroadcastHashJoin" in plan       # nation dim broadcast
    assert "EqualTo(l_returnflag,R)" in plan  # returnflag pushed to the scan


def test_tpch_q19_or_bands_pushed_past_join(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q19(spark, SF))
    assert "CartesianProduct" not in plan
    # Catalyst derives single-side OR approximations and pushes them into
    # both scans (In(p_brand,...) / quantity-range Or on lineitem)
    assert "In(p_brand" in plan or "Or(And" in plan


def test_tpch_q4_exists_becomes_semi_join(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q4(spark, SF))
    assert "LeftSemi" in plan        # EXISTS never multiplies order rows
    assert "CartesianProduct" not in plan
    # the quarter bound reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_tpch_q22_scalar_broadcast_and_anti_join(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q22(spark, SF))
    assert "LeftAnti" in plan        # NOT EXISTS
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q2_min_cost_broadcast_chain(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q2(spark, SF))
    assert "TakeOrderedAndProject" in plan   # top-100 without a global sort
    assert "BroadcastHashJoin" in plan       # part + supplier dims broadcast
    assert "CartesianProduct" not in plan
    # the part slice predicates reach the part scan
    assert "EqualTo(p_type,STANDARD)" in plan


def test_tpch_q20_semi_join_and_one_fact_shuffle(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q20(spark, SF))
    assert "LeftSemi" in plan                # name-prefix part IN-list
    assert "CartesianProduct" not in plan
    # the ship-year range reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # per-(supp,part) agg and per-part totals share ONE fact shuffle: the
    # totals re-aggregate the already-shuffled relation, so exactly one
    # exchange hashes full-width lineitem rows (the others move agg rows)
    assert plan.count("Exchange hashpartitioning") <= 3


def test_tpch_q21_decorrelated_single_fact_join(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q21(spark, SF))
    assert "TakeOrderedAndProject" in plan   # top-20
    assert "BroadcastHashJoin" in plan       # supplier/nation/region chain
    assert "CartesianProduct" not in plan
    # orderstatus pushed into the orders scan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_grouping_sets_single_scan_expand(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_grouping_sets(spark, SF))
    assert plan.count("FileScan") == 1      # one pass, not one per set
    assert "Expand" in plan                 # the grouping-sets expansion
    # r11: the sets run over the (rf, ls) PRE-aggregated partials, so the
    # Expand multiplies a K-row relation instead of the fact — two
    # exchanges now (fact pre-agg + K-row sets agg), and the Expand must
    # sit ABOVE the pre-aggregate (its input column set is the partial
    # sums, not the raw fact columns).
    assert plan.count("Exchange hashpartitioning") == 2
    window = plan[plan.index("Expand"):plan.index("Expand") + 500]
    assert "_c" in window or "_q" in window, window


def test_analytic_extras_share_one_exchange(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_analytic_extras(spark, SF))
    # all four window functions ride ONE partition exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_ann_batch_topk_equi_join_no_cartesian(spark):
    plan = plan_of(ann.q_ann_batch_topk(spark, SF))
    # the batch joins the corpus on the IVF cell — an equi-join with the
    # query batch broadcast, never |batch| x |corpus|
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ann_batch_topk_exactly_k_per_query(spark):
    rows = ann.q_ann_batch_topk(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == set(range(ann.BATCH_QUERIES))
    for qid, group in by_q.items():
        assert [r["rk"] for r in sorted(group, key=lambda r: r["rk"])] == [1, 2, 3]
        cos = [r["cosine"] for r in sorted(group, key=lambda r: r["rk"])]
        assert cos == sorted(cos, reverse=True)


def test_stratified_sample_single_exchange_and_quota(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import text_analysis
    df = text_analysis.q_stratified_sample(spark, SF)
    # both windows share the source partitioning: exactly one shuffle
    assert plan_of(df).count("Exchange hashpartitioning") == 1
    rows = df.collect()
    per_source = {}
    for r in rows:
        per_source.setdefault(r["source"], []).append(r)
    import math
    d = relational.load_table(spark, "documents", SF)
    totals = {r["source"]: r["cnt"] for r in
              d.groupBy("source").count().withColumnRenamed("count", "cnt").collect()}
    for src, group in per_source.items():
        quota = math.ceil(text_analysis.SAMPLE_FRAC * totals[src])
        assert len(group) == quota  # exact per-stratum budget, not approximate


def test_tpch_q7_nation_pair_pushed_into_dim_scans(spark):
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext
    plan = plan_of(relational_ext.q_tpch_q7(spark, SF))
    assert "CartesianProduct" not in plan
    # the nation-pair predicate reaches the supplier/customer scans
    assert "In(s_nationkey, [1,2])" in plan
    assert "In(c_nationkey, [1,2])" in plan
    # pre-filtered supplier leg broadcasts into lineitem
    assert "BroadcastHashJoin" in plan


def test_embedding_quantize_bounds_and_saturation(spark):
    from pyspark.sql import functions as F
    rows = ann.q_embedding_quantize(spark, SF).collect()
    assert rows, "quantize returned no groups"
    e = relational.load_table(spark, "embeddings", SF)
    total = e.count()
    assert sum(r["n"] for r in rows) == total
    for r in rows:
        # every vector's absmax component quantizes to exactly ±127, so a
        # group of n vectors saturates at least n components
        assert r["saturated"] >= r["n"]
        # |sum of quantized components| can never exceed 127 * components
        dim = len(e.first()["embedding"])
        assert abs(r["sum_q"]) <= 127 * dim * r["n"]
    plan = plan_of(ann.q_embedding_quantize(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1  # label rollup only


def test_gapfill_dense_grid_and_broadcast(spark):
    df = arrays.q_gapfill_hourly(spark, SF)
    plan = plan_of(df)
    # grid LEFT JOIN broadcast(hourly): LeftOuter must build the right
    # (non-preserved) side, so the honored hint is BuildRight on hourly
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "BuildRight" in plan
    rows = df.collect()
    types = {r["event_type"] for r in rows}
    # dense grid: every (type, hour-of-day) cell present exactly once
    assert len(rows) == 24 * len(types)
    assert any(r["cnt"] == 0 for r in rows)  # sf0.001 day has real gaps
    assert all(r["sum_value"] == 0.0 for r in rows if r["cnt"] == 0)


def test_hybrid_rrf_pools_avoid_global_sort(spark):
    df = ann.q_hybrid_rrf(spark, SF)
    plan = plan_of(df)
    # both modality pools cut via per-partition top-k, not a full sort
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= ann.RRF_TOP
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        # a result must come from at least one modality list, and the
        # score must equal the RRF formula over its (nonzero) ranks
        assert r["lex_rank"] > 0 or r["vec_rank"] > 0
        expect = (1.0 / (ann.RRF_K + r["lex_rank"]) if r["lex_rank"] else 0.0) \
            + (1.0 / (ann.RRF_K + r["vec_rank"]) if r["vec_rank"] else 0.0)
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9


def test_semantic_dedup_subbuckets_oversized_clusters(spark):
    """A cluster above SEM_CLUSTER_CAP must pair-join on the sign-bit
    sub-bucket, not raw label alone — the guard that keeps one viral
    cluster from going quadratic at scale."""
    import random

    rng = random.Random(7)
    rows = []
    # one oversized cluster (label 0, 3x the cap) + one small cluster
    for vid in range(3 * dedup.SEM_CLUSTER_CAP):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)], 0))
    for vid in range(3 * dedup.SEM_CLUSTER_CAP, 3 * dedup.SEM_CLUSTER_CAP + 10):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)], 1))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    out = dedup.semantic_dedup_stats(e)
    plan = plan_of(out)
    # the pair join's keys must include the sub-bucket column
    join_lines = [l for l in plan.splitlines()
                  if "Join" in l and "la" in l and "vec" not in l.lower()]
    assert any("sa" in l and "sb" in l for l in join_lines), plan

    # functional bound: pairs compared within the oversized cluster are
    # limited to same-sign-bucket pairs — mirror the bucket math in python
    import collections
    buckets = collections.Counter()
    for vid, emb, label in rows:
        if label != 0:
            continue
        sig = "".join("1" if emb[i] > 0 else "0"
                      for i in range(dedup.BLOCK_BITS))
        buckets[sig] += 1
    bounded_pairs = sum(m * (m - 1) // 2 for m in buckets.values())
    m = 3 * dedup.SEM_CLUSTER_CAP
    assert bounded_pairs < m * (m - 1) // 2 / 4  # sub-bucketing cuts >4x
    # and the operator still returns a row per label
    labels = {r["label"] for r in out.collect()}
    assert labels == {0, 1}


def test_tpch_self_reference_queries_scan_fact_once(spark):
    """Self-referencing shapes (q15 max-revenue, q11 scalar-in-HAVING, q17
    correlated average) must NOT re-scan the fact table: q11/q15
    checkpoint the aggregate once (the final plan reads the checkpoint,
    zero fact scans), q17's per-part window is partitioned (bounded
    groups) so its single scan stays in-plan. A join-back against a
    separate agg branch silently de-canonicalizes — inferred isnotnull
    filters — and scans twice; an UNPARTITIONED window would funnel the
    whole aggregate through one task."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import relational_ext

    for q in (relational_ext.q_tpch_q15, relational_ext.q_tpch_q11):
        plan = plan_of(q(spark, SF))
        assert plan.count("lineitem.parquet") <= 1, q.__name__
        assert "Window" not in plan, q.__name__  # no single-task funnel
    plan17 = plan_of(relational_ext.q_tpch_q17(spark, SF))
    assert plan17.count("lineitem.parquet") == 1
    assert plan17.count("part.parquet") == 1


def test_topk_per_group_window_group_limit(spark):
    """rank<=k filters over a row_number window must trigger Spark's
    WindowGroupLimit pushdown in BOTH phases: a Partial per-partition
    top-k BEFORE the shuffle (the map-side combine of windowed top-k) and
    a Final one after — at scale the exchange carries at most k rows per
    (partition, group), not the group's full row set."""
    plan = plan_of(arrays.q_topk_per_group(spark, SF))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def _global_windows(plan: str) -> list[str]:
    """Window nodes whose spec has an ORDER BY but no PARTITION BY — an
    Exchange SinglePartition at any scale. Physical text shows partitioned
    windows as `Window [exprs], [parts], [order]` (two `], [` separators)
    and global ordered ones as `Window [exprs], [order]` (one)."""
    return [ln for ln in plan.splitlines()
            if "Window [" in ln and ("ASC" in ln or "DESC" in ln)
            and ln.count("], [") < 2]


def test_global_rank_ops_have_no_single_partition_window(spark):
    """r6 verdict #3: bootstrap_resample / quantile_normalize ranked the
    corpus with an unpartitioned row_number/rank — a single-task sort at
    100 TB. Both now go through bucketed_global_rank (range buckets +
    parallel within-bucket windows + bounded K-row offsets); their
    plans must contain no CORPUS-SIZED globally-ordered Window node.
    The r11 cumulative-offset window over the bucket-COUNT relation is
    exempt: it orders by _grk_bkt, so its single partition holds
    ≤GLOBAL_RANK_BUCKETS rows at any corpus size (the same bounded-
    offset-window carve-out as the spearman test)."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        text_analysis as TA,
    )

    for q in (TA.q_bootstrap_resample, TA.q_quantile_normalize):
        bad = [ln for ln in _global_windows(plan_of(q(spark, SF)))
               if "_grk_bkt" not in ln]
        assert not bad, (q.__name__, bad)


def test_bucketed_global_rank_matches_global_window(spark):
    """Positions from the mergeable path must be bit-identical to
    row_number() OVER (ORDER BY value, tiebreak) — including duplicate
    values crossing bucket boundaries."""
    from pyspark.sql import Window, functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.text_analysis import (
        bucketed_global_rank,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37).alias("v"))  # heavy ties across bucket edges
    got = {(r["doc_id"], r["pos"]) for r in
           bucketed_global_rank(df, "v", ("doc_id",), "pos").collect()}
    want = {(r["doc_id"], r["pos"]) for r in df.select(
        "doc_id", F.row_number().over(
            Window.orderBy("v", "doc_id")).alias("pos")).collect()}
    assert got == want


def test_round7_new_ops_no_cartesian_or_global_sort(spark):
    """The round-7 continuation operators must keep the house plan
    contract: no CartesianProduct, no single-partition Exchange (tiny
    K-row final aggregates excepted — those appear as SinglePartition
    on <=K-row relations; the check here is on the heavy ops whose
    inputs are corpus-sized)."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        arrays as AR,
        relational_ext as RE,
        text_analysis as TA,
    )

    heavy = [TA.q_prefix_filter_jaccard, AR.q_interval_coverage,
             AR.q_scd2_build, AR.q_ohlc_bars, AR.q_attribution_last_touch,
             RE.q_table_fingerprint, AR.q_markov_stationary]
    for q in heavy:
        plan = plan_of(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__
    # window ops must partition their windows (no global sort)
    for q in (AR.q_interval_coverage, AR.q_scd2_build,
              AR.q_attribution_last_touch):
        bad = _global_windows(plan_of(q(spark, SF)))
        assert not bad, (q.__name__, bad)


def test_spearman_no_fat_group_window(spark):
    """r7 verdict #4: spearman's midranks used rank()/count() windows
    partitioned on l_returnflag alone — 3 fat partitions sorting the
    whole fact at 100 TB. The rewrite collapses the fact to distinct
    (group, q, p) triples and ranks via _grouped_bucketed_prefix, so
    every Window in the plan must carry the bucket column in its
    partition key (never the 3-value group key alone)."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        relational_ext as RE,
    )

    plan = plan_of(RE.q_spearman_corr(spark, SF))
    for ln in plan.splitlines():
        if "Window [" in ln:
            part = ln.split("], [")[1] if "], [" in ln else ""
            # fact-sized windows must partition finer than the group
            # key: the range bucket (min-rank windows) or the value
            # (tie windows). Windows partitioned on the group alone are
            # allowed ONLY when they ORDER BY the bucket/grid column —
            # those are the r10 cumulative-offset windows over the
            # bucket-COUNT relations (≤groups×640 rows at any scale),
            # which replaced the BroadcastNestedLoopJoin triangular
            # prefixes.
            ordered = ln.split("], [")[2] if ln.count("], [") >= 2 else ""
            assert ("_bkt_" in part or "q#" in part or "p#" in part
                    or "_bkt_" in ordered or "q#" in ordered), ln
    assert "CartesianProduct" not in plan


def test_spearman_build_is_fully_lazy(spark):
    """r8 verdict #4: constructing the spearman DataFrame fires ZERO
    Spark jobs — the p-offsets and the q midrank grid are in-plan
    broadcast relations (the _grouped_bucketed_prefix pattern), not the
    r8 eager localCheckpoint pair that ran two scan jobs at plan-build
    time."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        relational_ext as RE,
    )

    RE.q_spearman_corr(spark, SF)  # warm: first load_table fires a
    # parquet schema-read job that belongs to table registration
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = RE.q_spearman_corr(spark, SF)
    _ = df.columns  # force analysis
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, f"build fired jobs: {sorted(after - before)}"


def test_grouped_bucketed_prefix_matches_window(spark):
    """Running sums from the bucketed path must be bit-identical to
    sum() OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) —
    including groups whose values cluster in one bucket and values
    crossing bucket edges."""
    from pyspark.sql import Window, functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.relational_ext import (
        _grouped_bucketed_prefix,
    )

    df = spark.range(600).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 41).alias("v")).groupBy("g", "v").agg(
        F.count(F.lit(1)).alias("w"))
    got = {(r["g"], r["v"], r["cum"]) for r in _grouped_bucketed_prefix(
        df, "g", "v", "w", "cum").collect()}
    w = (Window.partitionBy("g").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {(r["g"], r["v"], r["cum"]) for r in df.select(
        "g", "v", F.sum("w").over(w).alias("cum")).collect()}
    assert got == want


def test_hierarchy_share_preaggregates_fact_no_fact_broadcast(spark):
    """r7 verdict #5: orders must collapse to per-customer partials
    BEFORE the customer join, and the customer-cardinality dim must not
    be broadcast (driver OOM hazard at the 100 TB design point); only
    the K-row nation/region dims may broadcast."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        relational_ext as RE,
    )

    # with auto-broadcast off, only HINT-forced broadcasts survive — at
    # sf0.001 Catalyst stats-broadcasts the per-customer aggregate on its
    # own, which is fine (at 100 TB the stats exceed the threshold and
    # AQE falls back to shuffle); the hazard is a forced hint
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(RE.q_hierarchy_share(spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    agg_lines = [ln for ln in plan.splitlines()
                 if "HashAggregate" in ln and "o_custkey" in ln]
    assert agg_lines, "per-customer partial aggregate missing"
    # customer-sized relations never hint-broadcast: any surviving
    # broadcast join must key on nation/region, never a custkey
    for ln in plan.splitlines():
        if "BroadcastHashJoin" in ln:
            assert "c_custkey" not in ln and "o_custkey" not in ln, ln


def test_round9_new_ops_no_cartesian(spark):
    """Round-9 additions keep the house plan contract: no
    CartesianProduct anywhere. hhi/association_rules join on real keys
    (segment / item); cuped/permutation_entropy/logrank's crossJoins are
    broadcast 1-row aggregates (BroadcastNestedLoopJoin over a single
    row, not a cartesian); logrank's global window runs over the
    distinct-durations relation (domain-bounded — the kaplan_meier
    exemption)."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        arrays as AR,
        relational_ext as RE,
        text_analysis as TA,
    )

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        dedup as DD,
    )

    for q in (RE.q_hhi_concentration, RE.q_association_rules,
              RE.q_winsorized_mean,
              AR.q_cuped_adjustment, AR.q_logrank_test,
              AR.q_permutation_entropy, AR.q_markov_attribution,
              TA.q_cohens_d,
              TA.q_mcnemar_paired, TA.q_wasserstein_1d,
              TA.q_burrows_delta, TA.q_lexical_diversity,
              DD.q_kcore_census, AR.q_interval_align,
              RE.q_feature_hashing, DD.q_semantic_split_leakage,
              RE.q_theil_sen, AR.q_sequence_support,
              TA.q_chao1_richness, TA.q_kruskal_wallis,
              TA.q_hellinger_distance, TA.q_cochran_q,
              DD.q_graph_modularity, DD.q_degree_assortativity,
              AR.q_runs_test, AR.q_bowker_symmetry, AR.q_friedman_test,
              AR.q_gap_histogram, AR.q_seasonality_strength,
              AR.q_sequential_ab, DD.q_capture_recapture,
              DD.q_rich_club, DD.q_degree_powerlaw, TA.q_yule_k):
        plan = plan_of(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__
    # permutation_entropy's fact windows must key on user_id, never run
    # unpartitioned over the corpus
    plan = plan_of(AR.q_permutation_entropy(spark, SF))
    for ln in plan.splitlines():
        if "Window [" in ln:
            part = ln.split("], [")[1] if "], [" in ln else ""
            assert "user_id#" in part, ln


def test_round8_new_ops_no_cartesian(spark):
    """Round-8 additions keep the house plan contract: no
    CartesianProduct anywhere (kendall's grid self-join must key on the
    group column; xcorr's lag joins must stay equi-joins on the shifted
    hour). Bounded-relation global windows (kaplan_meier's distinct
    durations, vocab_coverage's top-K survivors) are exempt from the
    no-global-window rule by construction — their partition sizes are
    domain/constant-bounded, not corpus-bounded."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        ann as ANN,
        arrays as AR,
        relational_ext as RE,
        text_analysis as TA,
    )

    for q in (RE.q_kendall_tau, RE.q_gini_concentration, RE.q_trimmed_mean,
              AR.q_kaplan_meier, AR.q_xcorr_event_types,
              AR.q_transition_entropy, TA.q_llr_keywords,
              TA.q_vocab_coverage, ANN.q_matryoshka_norms):
        plan = plan_of(q(spark, SF))
        assert "CartesianProduct" not in plan, q.__name__
    # gini's rank windows must carry the bucket key, never the segment
    # key alone (same discipline as spearman)
    plan = plan_of(RE.q_gini_concentration(spark, SF))
    for ln in plan.splitlines():
        if "Window [" in ln:
            part = ln.split("], [")[1] if "], [" in ln else ""
            ordered = ln.split("], [")[2] if ln.count("], [") >= 2 else ""
            # fact-sized windows carry the bucket in the PARTITION key;
            # group-keyed windows are allowed only when ordering by the
            # bucket — the r10 cumulative-offset windows over the
            # bucket-COUNT relation (the spearman test's rule)
            assert "_pfx_bkt" in part or "_pfx_bkt" in ordered, ln
    # matryoshka is a pure per-row map: no exchange at all
    plan = plan_of(ANN.q_matryoshka_norms(spark, SF))
    assert "Exchange" not in plan


def test_markov_spine_is_shared_and_memoized(spark):
    """r9 verdict #2: the Markov family (stationary / attribution /
    transition entropy) shares ONE memoized checkpointed transition
    spine. After the first build, constructing the stationary and
    entropy DataFrames fires ZERO further Spark jobs (their pair
    extraction is the cached spine), and all three ops resolve to the
    same single cache entry."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import tables
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        clear_corpus_caches,
    )

    def spine_entries():
        name = arrays._markov_pair_counts.memo_name
        return [k for k in tables._MEMO if k[2] == name]

    clear_corpus_caches(spark)
    arrays.q_markov_stationary(spark, SF)  # first build pays the spine
    assert len(spine_entries()) == 1
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df1 = arrays.q_markov_stationary(spark, SF)
    df2 = arrays.q_transition_entropy(spark, SF)
    # r10 optimization: the attribution squarings run as one lazy Arrow
    # stage now, so building it fires ZERO jobs too (r9 paid 4 eager
    # localCheckpoint launch trains here) — and it must still REUSE the
    # spine, not create a second cache entry
    df3 = arrays.q_markov_attribution(spark, SF)
    _ = df1.columns, df2.columns, df3.columns  # force analysis
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, f"build fired jobs: {sorted(after - before)}"
    assert len(spine_entries()) == 1


def test_markov_spine_trunc_matches_two_window_formulation(spark):
    """The spine derives the truncated-journey pairs from ONE window
    over ALL events (lag/lead-over-all restricted to kept rows); this
    pins the equivalence against the original two-window formulation
    (filter to the pre-conversion prefix, THEN lag/lead within it) —
    the subtle step is that kept rows form a contiguous prefix, so
    lag-over-all == lag-over-kept on them."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    e = load_table(spark, "events", SF)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", "event_id", s.alias("s"), "event_type")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_conv = F.coalesce(
        F.sum(F.when(F.col("event_type") == arrays.ATTR_CONV, 1)
              .otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    kept = d.withColumn("_pc", prev_conv).filter(F.col("_pc") == 0)
    wk = Window.partitionBy("user_id").orderBy("s", "event_id")
    kept = (kept.withColumn("_prev", F.lag("event_type").over(wk))
            .withColumn("_next", F.lead("event_type").over(wk)))
    pairs = (
        kept.filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("i"), F.col("event_type").alias("j"))
        .unionByName(kept.filter(F.col("_prev").isNull())
                     .select(F.lit("START").alias("i"),
                             F.col("event_type").alias("j")))
        .unionByName(kept.filter(
            F.col("_next").isNull()
            & (F.col("event_type") != arrays.ATTR_CONV))
            .select(F.col("event_type").alias("i"),
                    F.lit("END").alias("j"))))
    want = {(r["i"], r["j"]): r["c"] for r in
            pairs.groupBy("i", "j").agg(F.count(F.lit(1)).alias("c"))
            .collect()}
    got = {(r["i"], r["j"]): r["c"] for r in
           arrays._markov_pair_counts(spark, SF)
           .filter(F.col("variant") == "trunc").collect()}
    assert got == want


def test_kcore_fixed_depth_peel_has_converged_at_gate_scale(spark):
    """r9 verdict #3: the k-core census runs a FIXED-DEPTH peel
    (KCORE_PEELS rounds) and now reports a relational ``converged``
    flag — 1 iff no surviving node's degree is below k, i.e. a further
    peel would remove nothing and the census equals the true k-core.
    The docstring's "real dedup graphs stabilize in 2-3 rounds" claim
    must actually HOLD on the gate graph: every emitted row converged."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        dedup as DD,
    )

    rows = DD.q_kcore_census(spark, SF).collect()
    assert rows, "gate graph produced no k-core rows"
    not_conv = [(r["k"], r["core_nodes"]) for r in rows
                if r["converged"] != 1]
    assert not_conv == [], (
        f"KCORE_PEELS={DD.KCORE_PEELS} did not reach the fixed point "
        f"on the gate graph for k={not_conv}; raise KCORE_PEELS")
