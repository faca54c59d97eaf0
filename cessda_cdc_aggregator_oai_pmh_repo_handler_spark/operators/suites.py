"""Suite queries: several verified operators folded into one gate slot.

The driver's correctness gate evaluates at most 50 ``queries()`` entries
(observed round 1: positions 50+ got no verdict). Rather than leaving any
declared operator unverified, operators whose individual result shapes are
small are reshaped into ONE long-format DataFrame per family:

    (op string, k string, metric string, value double)

- ``op``     — the original query name (so each operator keeps a named,
               row-level verdict inside the suite's hash),
- ``k``      — the sub-query's key columns joined with ``|`` (NULL → ``~``),
- ``metric`` — the sub-query's value-column name,
- ``value``  — that column cast to double.

Every row of every sub-query survives into the suite output — this is a
pure unpivot, not a checksum — so the driver's order-insensitive value hash
still verifies each operator's full result set. The oracle applies the
identical reshape in SQL over the sub-queries' original DuckDB oracles
(``UNION ALL`` of per-metric selects).

Timestamps in keys are formatted ``yyyy-MM-dd HH:mm:ss`` on both engines
(Spark ``date_format`` / DuckDB ``strftime``) to dodge engine-specific
string-cast conventions.

The Spark side uses ``stack`` so each sub-query's subtree is scanned once
(a union of per-metric selects would re-execute the child N times).
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, memoized, plan_memoized, snapshot_key
from . import (ann, arrays, assembly, bpe, clustering, dedup, expectations,
               pii, relational, relational_ext, spatial, text_analysis)


@dataclasses.dataclass(frozen=True)
class Sub:
    """One operator folded into a suite: its query fn, its DuckDB oracle,
    which result columns are keys (kind: 'str' or 'ts') and which are
    numeric values. ``pre_long=True`` marks a sub whose fn/inner_sql
    already emit the (op, k, metric, value) long format — it skips the
    reshape but stays IN the roster, so tools/suite_hashes.py (which
    derives its roster from these same tuples) can attribute a mismatch
    to it like any other sub-op (r6 verdict #2: approx_distinct was
    appended outside the roster and was invisible to the sidecar)."""

    op: str
    fn: Callable[[SparkSession, str], DataFrame]
    inner_sql: str
    keys: tuple[tuple[str, str], ...]  # (column, 'str' | 'ts')
    values: tuple[str, ...]
    pre_long: bool = False


def _key_expr(keys, engine: str) -> str:
    if not keys:
        return "''"
    parts = []
    for col, kind in keys:
        if engine == "spark":
            ident = f"`{col}`"
            expr = (f"date_format({ident}, 'yyyy-MM-dd HH:mm:ss')" if kind == "ts"
                    else f"CAST({ident} AS STRING)")
        else:
            ident = f'"{col}"'
            expr = (f"strftime({ident}, '%Y-%m-%d %H:%M:%S')" if kind == "ts"
                    else f"CAST({ident} AS VARCHAR)")
        parts.append(f"coalesce({expr}, '~')")
    return "concat_ws('|', " + ", ".join(parts) + ")"


def _spark_long(df: DataFrame, sub: Sub) -> DataFrame:
    if sub.pre_long:
        return df
    stack_args = ", ".join(f"'{v}', CAST(`{v}` AS DOUBLE)" for v in sub.values)
    return df.selectExpr(
        f"'{sub.op}' AS op",
        f"{_key_expr(sub.keys, 'spark')} AS k",
        f"stack({len(sub.values)}, {stack_args}) AS (metric, value)",
    )


def _oracle_long(sub: Sub) -> str:
    if sub.pre_long:
        return sub.inner_sql
    key = _key_expr(sub.keys, "duckdb")
    selects = [
        f"SELECT '{sub.op}' AS op, {key} AS k, '{v}' AS metric, "
        f'CAST("{v}" AS DOUBLE) AS value FROM ({sub.inner_sql}) "__{sub.op}_{i}"'
        for i, v in enumerate(sub.values)
    ]
    return "\nUNION ALL\n".join(selects)


def _union_tree(parts: list) -> DataFrame:
    """Balanced unionByName tree: Catalyst analysis of a left-leaning
    94-branch union chain is superlinear in depth; a balanced tree keeps
    it log-depth (r10 build-time optimization, same rows/plan
    semantics)."""
    while len(parts) > 1:
        nxt = [parts[i].unionByName(parts[i + 1])
               if i + 1 < len(parts) else parts[i]
               for i in range(0, len(parts), 2)]
        parts = nxt
    return parts[0]


def _make_suite(name: str, subs: tuple[Sub, ...]):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Built per-sub long-format DataFrames memoized per (session,
        # every table's ident): a DataFrame is an immutable LOGICAL PLAN,
        # so constructing each sub-query once per snapshot is safe.
        # Measured r10: corpus_stats_suite spent 28.7 s per call just
        # BUILDING its 94 sub-plans (py4j expression construction +
        # Catalyst analysis). Deliberately NOT a memo of the final union
        # DataFrame: re-collecting one cached top-level Dataset would let
        # Spark SKIP completed shuffle map stages across bench runs
        # (shuffle-output reuse ≈ result caching — measured
        # sql_surface_suite 12 s → 3.7 s that way, and rejected); a FRESH
        # union per call creates a new query execution with no shared RDD
        # lineage, so every timed run recomputes from the parquet inputs.
        # No job-firing guard either: suites whose sub-ops checkpoint
        # stay cached.
        parts = memoized(
            snapshot_key(spark, sf_dir, f"suite:{name}"),
            lambda: tuple(_spark_long(s.fn(spark, sf_dir), s) for s in subs))
        return _union_tree(list(parts))

    sql = "\nUNION ALL\n".join(_oracle_long(s) for s in subs)
    return q, sql


def _q_approx_distinct_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch upgraded to a hash-verifiable check: exact distinct
    counts verify exactly; the HLL estimates verify as within-10%-of-exact
    indicators (rsd=0.02, so 10% is a ≥5-sigma bound — deterministically
    1.0 in practice, and the oracle claims exactly that)."""
    li = load_table(spark, "lineitem", sf_dir)
    # three column-pruned scans, NOT one agg mixing two countDistincts with
    # the HLLs: the mixed form plans an Expand that triples every input row
    # before the shuffle (measured 8.1s vs 0.9s at sf0.1). Each single-
    # distinct agg is the cheap two-phase partial-distinct plan, and the
    # 1-row results recombine with free broadcast cross joins.
    hll = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("ao"),
    )
    agg = (
        hll.crossJoin(li.agg(F.countDistinct("l_partkey").alias("ep")))
        .crossJoin(li.agg(F.countDistinct("l_orderkey").alias("eo")))
    )
    return agg.selectExpr(
        "'approx_distinct' AS op",
        "'lineitem' AS k",
        "stack(4, "
        "'exact_parts', CAST(ep AS DOUBLE), "
        "'exact_orders', CAST(eo AS DOUBLE), "
        "'approx_parts_ok', CAST(CASE WHEN abs(ap - ep) <= 0.1 * ep THEN 1.0 ELSE 0.0 END AS DOUBLE), "
        "'approx_orders_ok', CAST(CASE WHEN abs(ao - eo) <= 0.1 * eo THEN 1.0 ELSE 0.0 END AS DOUBLE)"
        ") AS (metric, value)",
    )


_APPROX_DISTINCT_SQL = """
SELECT 'approx_distinct' AS op, 'lineitem' AS k, 'exact_parts' AS metric,
       CAST(count(DISTINCT l_partkey) AS DOUBLE) AS value FROM lineitem
UNION ALL
SELECT 'approx_distinct', 'lineitem', 'exact_orders',
       CAST(count(DISTINCT l_orderkey) AS DOUBLE) FROM lineitem
UNION ALL
SELECT 'approx_distinct', 'lineitem', 'approx_parts_ok', 1.0
UNION ALL
SELECT 'approx_distinct', 'lineitem', 'approx_orders_ok', 1.0
"""


_WINDOW_SUBS = (
    Sub("event_window", arrays.q_event_window, arrays.ORACLES["event_window"],
        (("window_start", "ts"), ("event_type", "str")), ("cnt", "sum_value")),
    Sub("sliding_window", arrays.q_sliding_window, arrays.ORACLES["sliding_window"],
        (("window_start", "ts"), ("event_type", "str")), ("cnt", "sum_value")),
    Sub("session_window", arrays.q_session_window, arrays.ORACLES["session_window"],
        (("session_start", "ts"), ("user_id", "str")), ("cnt", "sum_value")),
    Sub("window_count_distinct", arrays.q_window_count_distinct,
        arrays.ORACLES["window_count_distinct"],
        (("event_id", "str"), ("user_id", "str")),
        ("distinct_types", "events_so_far")),
    Sub("gapfill_hourly", arrays.q_gapfill_hourly, arrays.ORACLES["gapfill_hourly"],
        (("event_type", "str"), ("hour", "ts")), ("cnt", "sum_value")),
    Sub("locf_fill", arrays.q_locf_fill, arrays.ORACLES["locf_fill"],
        (("user_id", "str"), ("event_id", "str")), ("filled", "was_gap")),
    Sub("linear_interp", arrays.q_linear_interp,
        arrays.ORACLES["linear_interp"],
        (("event_type", "str"),), ("n_rows", "n_filled", "sum_filled")),
    Sub("map_fn_conformance", arrays.q_map_fn_conformance,
        arrays.ORACLES["map_fn_conformance"],
        (("l_returnflag", "str"), ("keys_csv", "str")),
        ("n_keys", "cnt_f", "cnt_o", "sum_values")),
    Sub("variant_extract", arrays.q_variant_extract,
        arrays.ORACLES["variant_extract"],
        (("event_type", "str"),), ("cnt", "sum_k", "min_k", "max_k")),
    Sub("funnel_steps", arrays.q_funnel_steps, arrays.ORACLES["funnel_steps"],
        (), ("step_view", "step_click", "step_purchase", "conversion_pct")),
    Sub("cohort_retention", arrays.q_cohort_retention,
        arrays.ORACLES["cohort_retention"],
        (("cohort_week", "str"), ("week_offset", "str")), ("active_users",)),
    Sub("event_transitions", arrays.q_event_transitions,
        arrays.ORACLES["event_transitions"],
        (("from_type", "str"), ("to_type", "str")), ("transitions", "prob")),
    Sub("max_concurrency", arrays.q_max_concurrency,
        arrays.ORACLES["max_concurrency"],
        (("event_type", "str"),), ("max_concurrent", "markers")),
    Sub("array_fn_conformance", arrays.q_array_fn_conformance,
        arrays.ORACLES["array_fn_conformance"],
        (("doc_id", "str"), ("sorted5", "str"), ("rev3", "str"),
         ("zipidx", "str")),
        ("n_distinct", "total_chars", "n_long", "flat_len")),
    Sub("rfm_segments", arrays.q_rfm_segments, arrays.ORACLES["rfm_segments"],
        (("r", "str"), ("f", "str"), ("m", "str")),
        ("users", "purchases", "monetary")),
    Sub("robust_stats", arrays.q_robust_stats,
        arrays.ORACLES["robust_stats"],
        (("event_type", "str"),),
        ("n", "med", "q1", "q3", "iqr", "mad")),
    Sub("window_value_fns", arrays.q_window_value_fns,
        arrays.ORACLES["window_value_fns"],
        (("user_id", "str"), ("event_id", "str")),
        ("fv", "lv", "n2", "lg", "mm", "cnt")),
    Sub("ab_test_analysis", arrays.q_ab_test_analysis,
        arrays.ORACLES["ab_test_analysis"],
        (("arm", "str"),),
        ("users", "conversions", "conv_rate", "z", "significant", "lift")),
)

_TEMPORAL_SUBS = (
    Sub("debounce_events", arrays.q_debounce_events,
        arrays.ORACLES["debounce_events"],
        (("event_type", "str"),), ("events", "kept", "debounced")),
    Sub("time_weighted_avg", arrays.q_time_weighted_avg,
        arrays.ORACLES["time_weighted_avg"],
        (("event_type", "str"),),
        ("twap", "total_weight_us", "weighted_obs")),
    Sub("asof_last_signup", arrays.q_asof_last_signup, arrays.ORACLES["asof_last_signup"],
        (("event_id", "str"), ("user_id", "str"), ("purchase_ts", "ts"),
         ("last_signup_ts", "ts")), ("gap_seconds",)),
    Sub("ts_similarity", arrays.q_ts_similarity,
        arrays.ORACLES["ts_similarity"],
        (("user_id", "str"), ("off", "str")), ("dist",)),
    Sub("asof_forward", arrays.q_asof_forward,
        arrays.ORACLES["asof_forward"],
        (("event_id", "str"), ("user_id", "str"),
         ("purchase_ts", "ts"), ("next_error_ts", "ts")),
        ("gap_seconds",)),
    Sub("range_join_pairs", arrays.q_range_join_pairs, arrays.ORACLES["range_join_pairs"],
        (("user_id", "str"), ("event_id", "str"), ("event_b", "str")),
        ("gap_seconds",)),
    Sub("asof_native_parity", arrays.q_asof_native_parity,
        arrays.ORACLES["asof_native_parity"],
        (("event_id", "str"), ("user_id", "str"),
         ("purchase_ts", "ts"), ("signup_ts", "ts")),
        ("signup_id", "gap_seconds")),
    Sub("event_pattern_match", arrays.q_event_pattern_match,
        arrays.ORACLES["event_pattern_match"],
        (("user_id", "str"), ("seq", "str")),
        ("seq_len", "direct_vp", "conversions")),
    Sub("acf_lag", arrays.q_acf_lag, arrays.ORACLES["acf_lag"],
        (("event_type", "str"), ("lag", "str")), ("n", "acf")),
    Sub("cusum_changepoint", arrays.q_cusum_changepoint,
        arrays.ORACLES["cusum_changepoint"],
        (("event_type", "str"),), ("best_t", "n", "max_abs_s")),
    Sub("seasonal_profile", arrays.q_seasonal_profile,
        arrays.ORACLES["seasonal_profile"],
        (("event_type", "str"), ("hod", "str")),
        ("cnt", "seasonal_index")),
    Sub("anomaly_census", arrays.q_anomaly_census,
        arrays.ORACLES["anomaly_census"],
        (("event_type", "str"),), ("n", "anomalies", "anomaly_id_sum")),
    Sub("ewma_smooth", arrays.q_ewma_smooth,
        arrays.ORACLES["ewma_smooth"],
        (("user_id", "str"),), ("n", "ewma")),
    Sub("spatial_radius_join", spatial.q_spatial_radius_join,
        spatial.ORACLES["spatial_radius_join"],
        (("c_custkey", "str"),),
        ("n_within", "min_dist2", "nearest_suppkey")),
    Sub("spatial_sssp", spatial.q_spatial_sssp,
        spatial.ORACLES["spatial_sssp"],
        (("node", "str"),), ("d",)),
    Sub("geo_haversine", spatial.q_geo_haversine,
        spatial.ORACLES["geo_haversine"],
        (("c_custkey", "str"),), ("lat_micro", "lon_micro", "dist_km")),
    Sub("holt_winters", arrays.q_holt_winters,
        arrays.ORACLES["holt_winters"],
        (("user_id", "str"),), ("n", "level", "trend", "fcst")),
    Sub("interval_coverage", arrays.q_interval_coverage,
        arrays.ORACLES["interval_coverage"],
        (("user_id", "str"),), ("n_islands", "covered_s")),
    Sub("scd2_build", arrays.q_scd2_build,
        arrays.ORACLES["scd2_build"],
        (("user_id", "str"),),
        ("n_versions", "closed_dwell_s", "last_change_s")),
    Sub("mann_kendall", arrays.q_mann_kendall,
        arrays.ORACLES["mann_kendall"],
        (("user_id", "str"),), ("n", "s_stat", "var18", "z")),
    Sub("attribution_last_touch", arrays.q_attribution_last_touch,
        arrays.ORACLES["attribution_last_touch"],
        (("channel", "str"),), ("conversions", "total_gap_s")),
    Sub("markov_stationary", arrays.q_markov_stationary,
        arrays.ORACLES["markov_stationary"],
        (("state", "str"),), ("mass",)),
    Sub("fano_burstiness", arrays.q_fano_burstiness,
        arrays.ORACLES["fano_burstiness"],
        (("event_type", "str"),), ("hours", "n", "fano")),
    Sub("ohlc_bars", arrays.q_ohlc_bars,
        arrays.ORACLES["ohlc_bars"],
        (("event_type", "str"), ("h", "str")),
        ("n", "open_c", "close_c", "high_c", "low_c")),
    Sub("kaplan_meier", arrays.q_kaplan_meier,
        arrays.ORACLES["kaplan_meier"],
        (("dur", "str"),), ("deaths", "cum_deaths", "at_risk")),
    Sub("xcorr_event_types", arrays.q_xcorr_event_types,
        arrays.ORACLES["xcorr_event_types"],
        (("lag", "str"),), ("n", "sx", "sy", "sxy", "xcorr")),
    Sub("transition_entropy", arrays.q_transition_entropy,
        arrays.ORACLES["transition_entropy"],
        (("i", "str"), ("j", "str")), ("c", "n_i", "surprisal")),
    Sub("streak_census", arrays.q_streak_census,
        arrays.ORACLES["streak_census"],
        (("event_type", "str"),),
        ("n_runs", "max_run", "runs_ge3", "events_ge3")),
    Sub("wilson_ci", arrays.q_wilson_ci,
        arrays.ORACLES["wilson_ci"],
        (("event_type", "str"),), ("n", "k", "lo", "hi")),
    Sub("cuped_adjustment", arrays.q_cuped_adjustment,
        arrays.ORACLES["cuped_adjustment"],
        (("arm", "str"),), ("n", "sx", "sy", "raw_mean", "adj_mean")),
    Sub("logrank_test", arrays.q_logrank_test,
        arrays.ORACLES["logrank_test"],
        (("dur", "str"),), ("d1", "d", "n1", "n", "e1", "v1")),
    Sub("permutation_entropy", arrays.q_permutation_entropy,
        arrays.ORACLES["permutation_entropy"],
        (("pattern", "str"),), ("cnt", "share", "ent_term")),
    Sub("interval_align", arrays.q_interval_align,
        arrays.ORACLES["interval_align"],
        (("user_id", "str"),),
        ("overlap_s", "a_cov_s", "b_cov_s", "time_jaccard")),
    Sub("sequence_support", arrays.q_sequence_support,
        arrays.ORACLES["sequence_support"],
        (("pattern", "str"),), ("support", "plen")),
    Sub("markov_attribution", arrays.q_markov_attribution,
        arrays.ORACLES["markov_attribution"],
        (("channel", "str"),),
        ("p_full", "p_removed", "removal_effect", "share")),
    Sub("runs_test", arrays.q_runs_test,
        arrays.ORACLES["runs_test"],
        (("event_type", "str"),),
        ("n_moves", "ups", "downs", "runs", "z")),
    Sub("bowker_symmetry", arrays.q_bowker_symmetry,
        arrays.ORACLES["bowker_symmetry"],
        (("i", "str"), ("j", "str")), ("n_ij", "n_ji", "chi_term")),
    Sub("friedman_test", arrays.q_friedman_test,
        arrays.ORACLES["friedman_test"],
        (("event_type", "str"),),
        ("n", "k", "rank_sum2", "mean_rank", "chi_term")),
    Sub("gap_histogram", arrays.q_gap_histogram,
        arrays.ORACLES["gap_histogram"],
        (("event_type", "str"), ("bucket", "str")), ("cnt",)),
    Sub("seasonality_strength", arrays.q_seasonality_strength,
        arrays.ORACLES["seasonality_strength"],
        (("event_type", "str"),),
        ("n", "hours", "sst_plus_corr", "ssb_raw", "eta2")),
    Sub("sequential_ab", arrays.q_sequential_ab,
        arrays.ORACLES["sequential_ab"],
        (("look", "str"),),
        ("n0", "c0", "n1", "c1", "bound", "z", "significant")),
    Sub("markov_entropy_rate", arrays.q_markov_entropy_rate,
        arrays.ORACLES["markov_entropy_rate"],
        (("i", "str"), ("j", "str")),
        ("mass", "c", "n_i", "rate_term")),
)

_CORPUS_SUBS = (
    Sub("percentile_stats", text_analysis.q_percentile_stats,
        text_analysis.ORACLES["percentile_stats"],
        (("source", "str"),), ("p50", "p95", "docs")),
    Sub("length_histogram", text_analysis.q_length_histogram,
        text_analysis.ORACLES["length_histogram"],
        (("lang", "str"), ("bucket", "str")), ("cnt",)),
    Sub("zscore_normalize", text_analysis.q_zscore_normalize,
        text_analysis.ORACLES["zscore_normalize"],
        (("doc_id", "str"), ("source", "str")), ("z",)),
    Sub("gopher_repetition", text_analysis.q_gopher_repetition,
        text_analysis.ORACLES["gopher_repetition"],
        (("source", "str"),), ("docs", "flagged", "rep_ratio")),
    Sub("contamination_check", text_analysis.q_contamination_check,
        text_analysis.ORACLES["contamination_check"],
        (("source", "str"),), ("contaminated_docs", "matched_grams")),
    Sub("pii_scrub", pii.q_pii_scrub, pii.ORACLES["pii_scrub"],
        (("pii_id", "str"),), ("email", "phone", "ipv4", "residual")),
    Sub("token_entropy", text_analysis.q_token_entropy,
        text_analysis.ORACLES["token_entropy"],
        (("doc_id", "str"), ("source", "str")), ("n_tokens", "entropy")),
    Sub("dataset_mixture", text_analysis.q_dataset_mixture,
        text_analysis.ORACLES["dataset_mixture"],
        (("source", "str"),), ("total", "kept", "weight_pct")),
    Sub("sequence_packing", text_analysis.q_sequence_packing,
        text_analysis.ORACLES["sequence_packing"],
        (("source", "str"), ("bin", "str")), ("docs", "bin_tokens")),
    Sub("semantic_dedup", dedup.q_semantic_dedup,
        dedup.ORACLES["semantic_dedup"],
        (("label", "str"),), ("n", "pruned", "kept")),
    Sub("canonical_selection", dedup.q_canonical_selection,
        dedup.ORACLES["canonical_selection"],
        (("component", "str"),), ("n_members", "kept_doc", "best_score")),
    Sub("containment_pairs", dedup.q_containment_pairs,
        dedup.ORACLES["containment_pairs"],
        (("doc_a", "str"), ("doc_b", "str")), ("containment",)),
    Sub("fuzzy_edit_pairs", dedup.q_fuzzy_edit_pairs,
        dedup.ORACLES["fuzzy_edit_pairs"],
        (("doc_a", "str"), ("doc_b", "str")), ("edit_dist",)),
    Sub("neardup_hop_distance", dedup.q_neardup_hop_distance,
        dedup.ORACLES["neardup_hop_distance"],
        (("doc_id", "str"),), ("component", "hops")),
    Sub("triangle_stats", dedup.q_triangle_stats,
        dedup.ORACLES["triangle_stats"],
        (("doc_id", "str"),), ("deg", "triangles", "clustering")),
    Sub("pagerank_neardup", dedup.q_pagerank_neardup,
        dedup.ORACLES["pagerank_neardup"],
        (("doc_id", "str"),), ("deg", "pagerank")),
    Sub("kcore_census", dedup.q_kcore_census,
        dedup.ORACLES["kcore_census"],
        (("k", "str"),),
        ("core_nodes", "core_edges", "max_deg", "converged")),
    Sub("semantic_split_leakage", dedup.q_semantic_split_leakage,
        dedup.ORACLES["semantic_split_leakage"],
        (), ("train_vecs", "val_vecs", "neardup_pairs", "train_pairs",
             "val_pairs", "leaked_pairs", "leak_rate")),
    Sub("duplicate_spans", text_analysis.q_duplicate_spans,
        text_analysis.ORACLES["duplicate_spans"],
        (("source", "str"),), ("docs", "flagged", "covered_tokens", "dup_ratio")),
    Sub("winnow_pairs", text_analysis.q_winnow_pairs,
        text_analysis.ORACLES["winnow_pairs"],
        (("doc_a", "str"), ("doc_b", "str")), ("shared_fingerprints",)),
    Sub("quality_model", text_analysis.q_quality_model,
        text_analysis.ORACLES["quality_model"],
        (("source", "str"),), ("docs", "kept", "avg_score")),
    Sub("naive_bayes_lang", text_analysis.q_naive_bayes_lang,
        text_analysis.ORACLES["naive_bayes_lang"],
        (("true_lang", "str"), ("pred_lang", "str")),
        ("docs", "sum_score")),
    Sub("textrank_keywords", text_analysis.q_textrank_keywords,
        text_analysis.ORACLES["textrank_keywords"],
        (("word", "str"),), ("wdeg", "rank_micro")),
    Sub("quantile_normalize", text_analysis.q_quantile_normalize,
        text_analysis.ORACLES["quantile_normalize"],
        (("source", "str"),),
        ("docs", "sum_mapped", "min_mapped", "max_mapped")),
    Sub("bootstrap_resample", text_analysis.q_bootstrap_resample,
        text_analysis.ORACLES["bootstrap_resample"],
        (("b", "str"),), ("draws", "sum_chars", "mean_chars")),
    Sub("decile_calibration", text_analysis.q_decile_calibration,
        text_analysis.ORACLES["decile_calibration"],
        (("bucket", "str"),), ("docs", "en_docs", "sum_s", "en_rate")),
    Sub("score_drift_psi", text_analysis.q_score_drift_psi,
        text_analysis.ORACLES["score_drift_psi"],
        (("bucket", "str"),), ("ref_n", "cur_n", "psi_term")),
    Sub("chi_square_independence", text_analysis.q_chi_square_independence,
        text_analysis.ORACLES["chi_square_independence"],
        (("lang", "str"), ("source", "str")),
        ("obs", "expected", "chi_term")),
    Sub("bigram_lm_score", text_analysis.q_bigram_lm_score,
        text_analysis.ORACLES["bigram_lm_score"],
        (("source", "str"),), ("docs", "avg_logprob", "low_docs")),
    Sub("dsir_importance", text_analysis.q_dsir_importance,
        text_analysis.ORACLES["dsir_importance"],
        (("source", "str"),), ("docs", "avg_weight", "kept")),
) + ((
    Sub("bpe_merges", bpe.q_bpe_merges, bpe.ORACLES["bpe_merges"],
        (("rank", "str"), ("a", "str"), ("b", "str"), ("merged", "str")),
        ("freq",)),
    Sub("bpe_compression", bpe.q_bpe_compression,
        bpe.ORACLES["bpe_compression"],
        (("source", "str"),), ("docs", "chars", "tokens", "chars_per_token")),
) if bpe.ORACLES else ()) + (
    Sub("approx_quantiles", text_analysis.q_approx_quantiles,
        text_analysis.ORACLES["approx_quantiles"],
        (), ("p50_exact", "p95_exact", "approx_p50_ok", "approx_p95_ok")),
    Sub("hll_union", text_analysis.q_hll_union,
        text_analysis.ORACLES["hll_union"],
        (), ("n_shards", "exact_parts", "union_ok")),
    Sub("quantile_merge", text_analysis.q_quantile_merge,
        text_analysis.ORACLES["quantile_merge"],
        (), ("n_shards", "total_rows", "p50_rank_ok", "p95_rank_ok")),
    Sub("ridge_regression", relational_ext.q_ridge_regression,
        relational_ext.ORACLES["ridge_regression"],
        (), ("n_rows", "sum_y_cents", "sum_qy_cents", "syy_cents2",
             "grad_ok", "r2_ok")),
    Sub("kll_quantiles", text_analysis.q_kll_quantiles,
        text_analysis.ORACLES["kll_quantiles"],
        (), ("n_total", "p50_rank_ok", "p95_rank_ok")),
    Sub("theta_sketch_ops", text_analysis.q_theta_sketch_ops,
        text_analysis.ORACLES["theta_sketch_ops"],
        (), ("n_shards", "exact_union", "exact_inter", "exact_diff",
             "union_ok", "inter_ok", "diff_ok")),
    Sub("bitmap_distinct", text_analysis.q_bitmap_distinct,
        text_analysis.ORACLES["bitmap_distinct"],
        (("slice", "str"),), ("exact_distinct",)),
    Sub("pca_embeddings", clustering.q_pca_embeddings,
        clustering.ORACLES["pca_embeddings"],
        (), ("n_vecs", "dims", "trace_ok", "psd_ok", "top8_share_ok",
             "proj_var_ok")),
    Sub("token_pmi", text_analysis.q_token_pmi,
        text_analysis.ORACLES["token_pmi"],
        (("wa", "str"), ("wb", "str")), ("cab", "pmi")),
    Sub("cms_heavy_hitters", text_analysis.q_cms_heavy_hitters,
        text_analysis.ORACLES["cms_heavy_hitters"],
        (("l_suppkey", "str"),), ("exact_cnt", "cms_ok")),
    Sub("weighted_sample", text_analysis.q_weighted_sample,
        text_analysis.ORACLES["weighted_sample"],
        (("doc_id", "str"), ("source", "str")), ("weight", "es_key")),
    Sub("stratified_sample", text_analysis.q_stratified_sample,
        text_analysis.ORACLES["stratified_sample"],
        (("doc_id", "str"), ("source", "str")), ("rk", "quota")),
    Sub("ann_batch_topk", ann.q_ann_batch_topk,
        ann.ORACLES["ann_batch_topk"],
        (("qid", "str"), ("vec_id", "str"), ("label", "str")),
        ("cosine", "rk")),
    Sub("ann_recall_eval", ann.q_ann_recall_eval,
        ann.ORACLES["ann_recall_eval"],
        (("qid", "str"),), ("hits", "recall_at_k")),
    Sub("embedding_quantize", ann.q_embedding_quantize,
        ann.ORACLES["embedding_quantize"],
        (("label", "str"),), ("n", "sum_q", "saturated")),
    Sub("similarity_join", ann.q_similarity_join,
        ann.ORACLES["similarity_join"],
        (("probe_id", "str"), ("corpus_id", "str")), ("cosine",)),
    Sub("hybrid_rrf", ann.q_hybrid_rrf, ann.ORACLES["hybrid_rrf"],
        (("doc_id", "str"),), ("rrf_score", "lex_rank", "vec_rank")),
    Sub("pq_ann", ann.q_pq_ann, ann.ORACLES["pq_ann"],
        (("vec_id", "str"), ("label", "str"),
         *((f"code{si}", "str") for si in range(ann.PQ_SUBS))),
        ("adc_dist",)),
    Sub("bm25_topk", ann.q_bm25_topk, ann.ORACLES["bm25_topk"],
        (("doc_id", "str"),), ("bm25", "matched_terms")),
    Sub("ivf_pq_ann", ann.q_ivf_pq_ann, ann.ORACLES["ivf_pq_ann"],
        (("vec_id", "str"), ("label", "str"),
         *((f"code{si}", "str") for si in range(ann.PQ_SUBS))),
        ("adc_dist",)),
    Sub("ann_multiprobe_lsh", ann.q_ann_multiprobe_lsh,
        ann.ORACLES["ann_multiprobe_lsh"],
        (("vec_id", "str"), ("label", "str")), ("cosine",)),
    Sub("split_leakage", text_analysis.q_split_leakage,
        text_analysis.ORACLES["split_leakage"],
        (("split", "str"),), ("leaked_docs", "shared_grams")),
    Sub("doc_chunks", assembly.q_doc_chunks, assembly.ORACLES["doc_chunks"],
        (("doc_id", "str"), ("chunk_idx", "str"), ("chunk_md5", "str")),
        ("start", "chunk_chars")),
    Sub("corpus_shards", assembly.q_corpus_shards,
        assembly.ORACLES["corpus_shards"],
        (("shard", "str"),), ("docs", "total_chars", "n_sources")),
    Sub("neardup_safe_split", assembly.q_neardup_safe_split,
        assembly.ORACLES["neardup_safe_split"],
        (("split", "str"),), ("docs", "groups", "chars", "leaked_pairs")),
    Sub("approx_distinct", _q_approx_distinct_long, _APPROX_DISTINCT_SQL,
        (), ("exact_parts", "exact_orders", "approx_parts_ok",
             "approx_orders_ok"), pre_long=True),
    Sub("bootstrap_ci", text_analysis.q_bootstrap_ci,
        text_analysis.ORACLES["bootstrap_ci"],
        (), ("b_count", "total_draws", "grand_mean", "se", "ci_lo", "ci_hi")),
    Sub("welch_ttest", text_analysis.q_welch_ttest,
        text_analysis.ORACLES["welch_ttest"],
        (("src_a", "str"), ("src_b", "str")), ("n_a", "n_b", "t", "df")),
    Sub("cohens_d", text_analysis.q_cohens_d,
        text_analysis.ORACLES["cohens_d"],
        (("src_a", "str"), ("src_b", "str")), ("n_a", "n_b", "cohens_d")),
    Sub("mcnemar_paired", text_analysis.q_mcnemar_paired,
        text_analysis.ORACLES["mcnemar_paired"],
        (), ("n", "both_right", "a_only", "b_only", "both_wrong",
             "mcnemar_cc")),
    Sub("wasserstein_1d", text_analysis.q_wasserstein_1d,
        text_analysis.ORACLES["wasserstein_1d"],
        (("src_a", "str"), ("src_b", "str")),
        ("n_a", "n_b", "w1_num", "w1")),
    Sub("burrows_delta", text_analysis.q_burrows_delta,
        text_analysis.ORACLES["burrows_delta"],
        (("w", "str"), ("source", "str")), ("fpm", "z")),
    Sub("lexical_diversity", text_analysis.q_lexical_diversity,
        text_analysis.ORACLES["lexical_diversity"],
        (("source", "str"),), ("types", "tokens", "ttr", "herdan_c")),
    Sub("mann_whitney", text_analysis.q_mann_whitney,
        text_analysis.ORACLES["mann_whitney"],
        (), ("n_a", "n_b", "u2_a", "u2_b", "u_sum_ok", "z")),
    Sub("gmean_hmean", text_analysis.q_gmean_hmean,
        text_analysis.ORACLES["gmean_hmean"],
        (("source", "str"),), ("docs", "gmean", "hmean")),
    Sub("ks_test", text_analysis.q_ks_test,
        text_analysis.ORACLES["ks_test"],
        (), ("n_a", "n_b", "d_num", "d", "ks_lambda")),
    Sub("cohens_kappa", text_analysis.q_cohens_kappa,
        text_analysis.ORACLES["cohens_kappa"],
        (), ("n", "agree", "po", "pe", "kappa")),
    Sub("js_divergence", text_analysis.q_js_divergence,
        text_analysis.ORACLES["js_divergence"],
        (("source", "str"),), ("vocab_words", "js")),
    Sub("isotonic_calibration", text_analysis.q_isotonic_calibration,
        text_analysis.ORACLES["isotonic_calibration"],
        (("bucket", "str"),), ("docs", "en_docs", "raw_rate", "iso_rate")),
    Sub("mi_contingency", text_analysis.q_mi_contingency,
        text_analysis.ORACLES["mi_contingency"],
        (("lang", "str"), ("source", "str")),
        ("c", "row_total", "col_total", "pmi", "chi2_term")),
    Sub("model_eval_auc", text_analysis.q_model_eval_auc,
        text_analysis.ORACLES["model_eval_auc"],
        (), ("n1", "n0", "auc", "tp", "fp", "fn", "tn",
             "precision", "recall", "f1")),
    Sub("decision_stump", text_analysis.q_decision_stump,
        text_analysis.ORACLES["decision_stump"],
        (), ("thr", "w_imp", "n_l", "pos_l", "n_r", "pos_r")),
    Sub("readability_census", text_analysis.q_readability_census,
        text_analysis.ORACLES["readability_census"],
        (("source", "str"),), ("n_docs", "w", "s", "v", "flesch")),
    Sub("simpson_diversity", text_analysis.q_simpson_diversity,
        text_analysis.ORACLES["simpson_diversity"],
        (("source", "str"),), ("n_docs", "n_langs", "simpson")),
    Sub("zipf_slope", text_analysis.q_zipf_slope,
        text_analysis.ORACLES["zipf_slope"],
        (), ("n_tokens", "slope", "intercept")),
    Sub("prefix_filter_jaccard", text_analysis.q_prefix_filter_jaccard,
        text_analysis.ORACLES["prefix_filter_jaccard"],
        (("id_a", "str"), ("id_b", "str")), ("inter", "uni", "jaccard")),
    Sub("heaps_law", text_analysis.q_heaps_law,
        text_analysis.ORACLES["heaps_law"],
        (), ("n_sources", "beta", "ln_k")),
    Sub("salsa_scores", text_analysis.q_salsa_scores,
        text_analysis.ORACLES["salsa_scores"],
        (("word", "str"),), ("hub", "auth")),
    Sub("fellegi_sunter", text_analysis.q_fellegi_sunter,
        text_analysis.ORACLES["fellegi_sunter"],
        (("field", "str"),),
        ("dup_pairs", "nondup_pairs", "agree_dup", "agree_nondup",
         "w_agree", "w_disagree")),
    Sub("llr_keywords", text_analysis.q_llr_keywords,
        text_analysis.ORACLES["llr_keywords"],
        (("lang", "str"), ("w", "str")), ("k11", "cw", "nl", "llr")),
    Sub("vocab_coverage", text_analysis.q_vocab_coverage,
        text_analysis.ORACLES["vocab_coverage"],
        (("k", "str"),), ("covered", "total", "types", "share")),
    Sub("matryoshka_norms", ann.q_matryoshka_norms,
        ann.ORACLES["matryoshka_norms"],
        (("vec_id", "str"),), ("e4", "e16", "e64", "share_head")),
    Sub("sparse_cosine_join", text_analysis.q_sparse_cosine_join,
        text_analysis.ORACLES["sparse_cosine_join"],
        (("da", "str"), ("db", "str")), ("dot", "na", "nb", "cosine")),
    Sub("chao1_richness", text_analysis.q_chao1_richness,
        text_analysis.ORACLES["chao1_richness"],
        (("source", "str"),),
        ("types", "tokens", "f1", "f2", "chao1", "gt_unseen")),
    Sub("kruskal_wallis", text_analysis.q_kruskal_wallis,
        text_analysis.ORACLES["kruskal_wallis"],
        (("source", "str"),),
        ("n", "n_tot", "rank_sum2", "mean_rank", "h_term")),
    Sub("hellinger_distance", text_analysis.q_hellinger_distance,
        text_analysis.ORACLES["hellinger_distance"],
        (("src_a", "str"), ("src_b", "str")),
        ("n_a", "n_b", "bc_scaled", "hellinger")),
    Sub("cochran_q", text_analysis.q_cochran_q,
        text_analysis.ORACLES["cochran_q"],
        (), ("n", "g1", "g2", "g3", "sum_l", "sum_l2", "cochran_q")),
    Sub("graph_modularity", dedup.q_graph_modularity,
        dedup.ORACLES["graph_modularity"],
        (("comp", "str"),),
        ("n_nodes", "e_c", "d_c", "m", "q_term")),
    Sub("degree_assortativity", dedup.q_degree_assortativity,
        dedup.ORACLES["degree_assortativity"],
        (), ("n2", "sum_deg", "sum_prod", "sum_sq", "assortativity")),
    Sub("capture_recapture", dedup.q_capture_recapture,
        dedup.ORACLES["capture_recapture"],
        (), ("n_a", "n_b", "overlap", "lincoln", "chapman",
             "pair_jaccard")),
    Sub("rich_club", dedup.q_rich_club,
        dedup.ORACLES["rich_club"],
        (("k", "str"),), ("n_k", "e_k", "phi")),
    Sub("yule_k", text_analysis.q_yule_k,
        text_analysis.ORACLES["yule_k"],
        (("source", "str"),), ("types", "tokens", "sum_c2", "yule_k")),
    Sub("degree_powerlaw", dedup.q_degree_powerlaw,
        dedup.ORACLES["degree_powerlaw"],
        (), ("n_degrees", "sum_lnx", "sum_lny", "slope", "intercept")),
    Sub("qte_deciles", text_analysis.q_qte_deciles,
        text_analysis.ORACLES["qte_deciles"],
        (("d", "str"),), ("q_en", "q_other", "qte")),
    Sub("jonckheere_trend", text_analysis.q_jonckheere_trend,
        text_analysis.ORACLES["jonckheere_trend"],
        (("src_a", "str"), ("src_b", "str")), ("n_a", "n_b", "u2")),
    Sub("component_census", dedup.q_component_census,
        dedup.ORACLES["component_census"],
        (("size", "str"),),
        ("n_components", "n_docs", "giant", "doc_share", "is_giant")),
    Sub("vocab_overlap", text_analysis.q_vocab_overlap,
        text_analysis.ORACLES["vocab_overlap"],
        (("src_a", "str"), ("src_b", "str")),
        ("v_a", "v_b", "inter", "jaccard", "overlap_coef")),
)

_TPCH_SUBS = (
    Sub("tpch_q1", relational_ext.q_tpch_q1, relational_ext.ORACLES["tpch_q1"],
        (("l_returnflag", "str"), ("l_linestatus", "str")),
        ("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
         "avg_qty", "avg_price", "avg_disc", "count_order")),
    Sub("tpch_q3", relational_ext.q_tpch_q3, relational_ext.ORACLES["tpch_q3"],
        (("l_orderkey", "str"), ("o_orderdate", "ts"), ("o_orderpriority", "str")),
        ("revenue",)),
    Sub("tpch_q5", relational_ext.q_tpch_q5, relational_ext.ORACLES["tpch_q5"],
        (("n_name", "str"),), ("revenue",)),
    Sub("tpch_q6", relational_ext.q_tpch_q6, relational_ext.ORACLES["tpch_q6"],
        (), ("revenue", "cnt")),
    Sub("tpch_q10", relational_ext.q_tpch_q10, relational_ext.ORACLES["tpch_q10"],
        (("c_custkey", "str"), ("c_name", "str"), ("n_name", "str")),
        ("revenue",)),
    Sub("tpch_q14", relational_ext.q_tpch_q14, relational_ext.ORACLES["tpch_q14"],
        (), ("promo_pct", "total_revenue")),
    Sub("tpch_q19", relational_ext.q_tpch_q19, relational_ext.ORACLES["tpch_q19"],
        (("p_brand", "str"),), ("revenue", "cnt")),
    Sub("tpch_q4", relational_ext.q_tpch_q4, relational_ext.ORACLES["tpch_q4"],
        (("o_orderpriority", "str"),), ("order_count",)),
    Sub("tpch_q7", relational_ext.q_tpch_q7, relational_ext.ORACLES["tpch_q7"],
        (("supp_nation", "str"), ("cust_nation", "str"), ("l_year", "str")),
        ("revenue",)),
    Sub("tpch_q22", relational_ext.q_tpch_q22, relational_ext.ORACLES["tpch_q22"],
        (("cntry", "str"),), ("numcust", "totacctbal")),
    Sub("tpch_q18", relational_ext.q_tpch_q18, relational_ext.ORACLES["tpch_q18"],
        (("c_name", "str"), ("c_custkey", "str"), ("o_orderkey", "str"),
         ("o_orderdate", "ts")), ("o_totalprice", "sum_qty")),
    Sub("tpch_q8", relational_ext.q_tpch_q8, relational_ext.ORACLES["tpch_q8"],
        (("o_year", "str"),), ("mkt_share", "total_revenue")),
    Sub("tpch_q9", relational_ext.q_tpch_q9, relational_ext.ORACLES["tpch_q9"],
        (("nation", "str"), ("o_year", "str")), ("sum_profit",)),
    Sub("tpch_q11", relational_ext.q_tpch_q11, relational_ext.ORACLES["tpch_q11"],
        (("l_partkey", "str"),), ("part_value",)),
    Sub("tpch_q12", relational_ext.q_tpch_q12, relational_ext.ORACLES["tpch_q12"],
        (("o_orderpriority", "str"),), ("late_count", "ontime_count")),
    Sub("tpch_q16", relational_ext.q_tpch_q16, relational_ext.ORACLES["tpch_q16"],
        (("p_brand", "str"), ("p_type", "str"), ("p_size", "str")),
        ("supplier_cnt",)),
    Sub("tpch_q13", relational_ext.q_tpch_q13, relational_ext.ORACLES["tpch_q13"],
        (("c_count", "str"),), ("custdist",)),
    Sub("tpch_q15", relational_ext.q_tpch_q15, relational_ext.ORACLES["tpch_q15"],
        (("supplier_no", "str"), ("s_name", "str")), ("total_revenue",)),
    Sub("tpch_q17", relational_ext.q_tpch_q17, relational_ext.ORACLES["tpch_q17"],
        (), ("avg_yearly", "cnt")),
    Sub("tpch_q2", relational_ext.q_tpch_q2, relational_ext.ORACLES["tpch_q2"],
        (("s_name", "str"), ("n_name", "str"), ("p_partkey", "str")),
        ("s_acctbal", "supply_cost")),
    Sub("tpch_q20", relational_ext.q_tpch_q20, relational_ext.ORACLES["tpch_q20"],
        (("s_name", "str"), ("n_name", "str")),
        ("excess_parts", "excess_qty")),
    Sub("tpch_q21", relational_ext.q_tpch_q21, relational_ext.ORACLES["tpch_q21"],
        (("s_name", "str"),), ("numwait",)),
)

_SQL_SURFACE_SUBS = (
    Sub("supplier_stats", relational_ext.q_supplier_stats,
        relational_ext.ORACLES["supplier_stats"],
        (("n_name", "str"),), ("suppliers", "total_balance", "median_balance")),
    Sub("target_encoding", relational_ext.q_target_encoding,
        relational_ext.ORACLES["target_encoding"],
        (("o_orderpriority", "str"),), ("n", "sum_cents", "enc")),
    Sub("column_profile", relational_ext.q_column_profile,
        relational_ext.ORACLES["column_profile"],
        (("col_name", "str"),),
        ("n_rows", "n_null", "n_distinct", "min_v", "max_v")),
    Sub("table_fingerprint", relational_ext.q_table_fingerprint,
        relational_ext.ORACLES["table_fingerprint"],
        (("tbl", "str"),), ("n_rows", "fp_mod")),
    Sub("skyline_orders", relational_ext.q_skyline_orders,
        relational_ext.ORACLES["skyline_orders"],
        (("o_orderkey", "str"),), ("cents", "ep")),
    Sub("hierarchy_share", relational_ext.q_hierarchy_share,
        relational_ext.ORACLES["hierarchy_share"],
        (("r_name", "str"), ("n_name", "str")),
        ("n_orders", "rev_cents", "share_of_region")),
    Sub("frequent_itemsets", relational_ext.q_frequent_itemsets,
        relational_ext.ORACLES["frequent_itemsets"],
        (("pa", "str"), ("pb", "str")), ("support",)),
    Sub("benford_digits", relational_ext.q_benford_digits,
        relational_ext.ORACLES["benford_digits"],
        (("digit", "str"),), ("obs", "obs_rate", "exp_rate", "chi_term")),
    Sub("k_anonymity", pii.q_k_anonymity, pii.ORACLES["k_anonymity"],
        (("c_nationkey", "str"), ("c_mktsegment", "str")),
        ("k", "l", "k_ok", "l_ok")),
    Sub("fact_join", relational.q_fact_join, relational.ORACLES["fact_join"],
        (("o_orderpriority", "str"),), ("lineitems", "revenue")),
    Sub("outer_join", relational_ext.q_outer_join, relational_ext.ORACLES["outer_join"],
        (("c_mktsegment", "str"),), ("rows", "orders", "customers_without_orders")),
    Sub("anti_join", relational_ext.q_anti_join, relational_ext.ORACLES["anti_join"],
        (("c_nationkey", "str"),), ("cnt",)),
    Sub("cube_rollup", relational_ext.q_cube_rollup, relational_ext.ORACLES["cube_rollup"],
        (("l_returnflag", "str"), ("l_linestatus", "str"), ("g_rf", "str"),
         ("g_ls", "str")), ("cnt", "sum_price")),
    Sub("scalar_subquery", relational_ext.q_scalar_subquery,
        relational_ext.ORACLES["scalar_subquery"],
        (("o_orderpriority", "str"),), ("cnt",)),
    Sub("salted_skew_agg", relational_ext.q_salted_skew_agg,
        relational_ext.ORACLES["salted_skew_agg"],
        (("l_returnflag", "str"),), ("cnt", "sum_qty")),
    Sub("window_functions", relational_ext.q_window_functions,
        relational_ext.ORACLES["window_functions"],
        (("o_custkey", "str"), ("o_orderkey", "str")),
        ("seq", "prev_price", "running_total")),
    Sub("stats_agg", relational_ext.q_stats_agg,
        relational_ext.ORACLES["stats_agg"],
        (("l_returnflag", "str"),),
        ("cnt", "sd_qty", "corr_qty_price", "cov_disc_tax")),
    Sub("grouping_sets", relational_ext.q_grouping_sets,
        relational_ext.ORACLES["grouping_sets"],
        (("l_returnflag", "str"), ("l_linestatus", "str"),
         ("g_rf", "str"), ("g_ls", "str")), ("cnt", "sum_qty")),
    Sub("analytic_extras", relational_ext.q_analytic_extras,
        relational_ext.ORACLES["analytic_extras"],
        (("o_orderpriority", "str"), ("o_orderkey", "str")),
        ("quartile", "pct_rank", "cume", "range_running")),
    Sub("null_semantics", relational_ext.q_null_semantics,
        relational_ext.ORACLES["null_semantics"],
        (("pri_n", "str"),),
        ("cnt_star", "cnt_col", "nullsafe_null_cnt", "avg_price",
         "sum_p_only")),
    Sub("erasure_audit", expectations.q_erasure_audit,
        expectations.ORACLES["erasure_audit"],
        (("relation", "str"),), ("rows_before", "purged", "rows_after")),
    Sub("data_expectations", expectations.q_data_expectations,
        expectations.ORACLES["data_expectations"],
        (("check", "str"),), ("violations", "checked")),
    Sub("table_stats", relational_ext.q_table_stats,
        relational_ext.ORACLES["table_stats"],
        (("col", "str"), ("min_str", "str"), ("max_str", "str")),
        ("cnt", "ndv", "nulls", "min_num", "max_num")),
    Sub("column_histogram", relational_ext.q_column_histogram,
        relational_ext.ORACLES["column_histogram"],
        (("bucket", "str"),), ("rows", "lo", "hi")),
    Sub("mongo_filter", relational_ext.q_mongo_filter,
        relational_ext.ORACLES["mongo_filter"],
        (("o_orderpriority", "str"),), ("n_orders", "revenue")),
    Sub("sql_text_parity", relational_ext.q_sql_text_parity,
        relational_ext.ORACLES["sql_text_parity"],
        (("priority", "str"), ("segment", "str")),
        ("orders", "big_orders", "avg_price")),
    Sub("sql_text_window", relational_ext.TEXT_QUERIES["sql_text_window"],
        relational_ext.SQL_TEXTS["sql_text_window"],
        (("o_custkey", "str"), ("o_orderkey", "str")),
        ("rn", "running_spend")),
    Sub("sql_text_exists", relational_ext.TEXT_QUERIES["sql_text_exists"],
        relational_ext.SQL_TEXTS["sql_text_exists"],
        (("c_mktsegment", "str"),),
        ("customers", "with_urgent", "never_ordered")),
    Sub("sql_text_grouping_sets",
        relational_ext.TEXT_QUERIES["sql_text_grouping_sets"],
        relational_ext.SQL_TEXTS["sql_text_grouping_sets"],
        (("rf", "str"), ("ls", "str"), ("g_rf", "str"), ("g_ls", "str")),
        ("cnt", "sum_qty")),
    Sub("sql_udf", relational_ext.q_sql_udf,
        relational_ext.ORACLES["sql_udf"],
        (("band", "str"),), ("cnt", "discounted")),
    Sub("collation_distinct", relational_ext.q_collation_distinct,
        relational_ext.ORACLES["collation_distinct"],
        (), ("case_sensitive", "case_insensitive")),
    Sub("versioned_table", relational_ext.q_versioned_table,
        relational_ext.ORACLES["versioned_table"],
        (), ("v0_rows", "v1_rows", "merged_rows", "renamed_rows",
             "files_total", "files_read", "evolve_carried_files",
             "evolve_null_rows", "drop_meta_only", "post_drop_cols")),
    Sub("xml_roundtrip", relational_ext.q_xml_roundtrip,
        relational_ext.ORACLES["xml_roundtrip"],
        (("pr", "str"),), ("cnt", "sum_key", "sum_price")),
    Sub("listagg_conformance", relational_ext.q_listagg_conformance,
        relational_ext.ORACLES["listagg_conformance"],
        (("r_name", "str"), ("nations", "str")),
        ("n_nations", "total_len")),
    Sub("regr_conformance", relational_ext.q_regr_conformance,
        relational_ext.ORACLES["regr_conformance"],
        (("l_returnflag", "str"),),
        ("regr_n", "slope", "icpt", "r2", "avg_x", "avg_y",
         "var_x", "cov_xy")),
    Sub("unicode_normalize", relational_ext.q_unicode_normalize,
        relational_ext.ORACLES["unicode_normalize"],
        (("i", "str"), ("normalized", "str")),
        ("changed", "chars_before", "chars_after")),
    Sub("pandas_udaf", relational_ext.q_pandas_udaf,
        relational_ext.ORACLES["pandas_udaf"],
        (("l_returnflag", "str"),), ("cnt", "p50", "p95")),
    Sub("python_udtf", relational_ext.q_python_udtf,
        relational_ext.ORACLES["python_udtf"],
        (("word", "str"),), ("occurrences", "docs", "min_pos")),
    Sub("sql_text_lateral_alias",
        relational_ext.TEXT_QUERIES["sql_text_lateral_alias"],
        relational_ext.SQL_TEXTS["sql_text_lateral_alias"],
        (("o_orderkey", "str"),), ("price", "tithe", "tithe_plus")),
    Sub("sql_text_nulls_order",
        relational_ext.TEXT_QUERIES["sql_text_nulls_order"],
        relational_ext.SQL_TEXTS["sql_text_nulls_order"],
        (("probe", "str"),), ("n", "non_null", "sum_p")),
    Sub("sql_text_group_order_all",
        relational_ext.TEXT_QUERIES["sql_text_group_order_all"],
        relational_ext.SQL_TEXTS["sql_text_group_order_all"],
        (("segment", "str"), ("nation", "str")),
        ("customers", "total_bal")),
    Sub("sql_text_setops", relational_ext.TEXT_QUERIES["sql_text_setops"],
        relational_ext.SQL_TEXTS["sql_text_setops"],
        (), ("n_intersect", "n_except")),
    Sub("sql_text_pivot", relational_ext.TEXT_QUERIES["sql_text_pivot"],
        relational_ext.SQL_TEXTS["sql_text_pivot"],
        (("o_orderpriority", "str"),),
        ("open_rev", "filled_rev", "pending_rev")),
    Sub("sql_text_unpivot", relational_ext.TEXT_QUERIES["sql_text_unpivot"],
        relational_ext.SQL_TEXTS["sql_text_unpivot"],
        (("o_orderpriority", "str"), ("metric", "str")), ("value",)),
    Sub("sql_text_interval_frame",
        relational_ext.TEXT_QUERIES["sql_text_interval_frame"],
        relational_ext.SQL_TEXTS["sql_text_interval_frame"],
        (("user_id", "str"), ("event_id", "str")),
        ("events_last_hour", "max_value_last_hour")),
    Sub("sql_text_lateral", relational_ext.TEXT_QUERIES["sql_text_lateral"],
        relational_ext.SQL_TEXTS["sql_text_lateral"],
        (("c_custkey", "str"),), ("n_orders", "top_price")),
    Sub("sql_text_trycast", relational_ext.TEXT_QUERIES["sql_text_trycast"],
        relational_ext.SQL_TEXTS["sql_text_trycast"],
        (("s", "str"), ("as_date", "str")), ("as_int", "as_double")),
    Sub("sql_text_recursive_spine",
        relational_ext.TEXT_QUERIES["sql_text_recursive_spine"],
        relational_ext.SQL_TEXTS["sql_text_recursive_spine"],
        (("day", "str"),), ("orders", "day_revenue")),
    Sub("sql_text_recursive_walk",
        relational_ext.TEXT_QUERIES["sql_text_recursive_walk"],
        relational_ext.SQL_TEXTS["sql_text_recursive_walk"],
        (("start_key", "str"),),
        ("visits", "distinct_nodes", "max_depth")),
    Sub("sql_text_cte", relational_ext.TEXT_QUERIES["sql_text_cte"],
        relational_ext.SQL_TEXTS["sql_text_cte"],
        (("segment", "str"), ("quartile", "str")),
        ("customers", "quartile_spend")),
    Sub("sql_text_ordered_set",
        relational_ext.TEXT_QUERIES["sql_text_ordered_set"],
        relational_ext.SQL_TEXTS["sql_text_ordered_set"],
        (("priority", "str"),), ("n", "p50_cents", "p90_cents")),
    Sub("scalar_fn_conformance", relational_ext.q_scalar_fn_conformance,
        relational_ext.ORACLES["scalar_fn_conformance"],
        (("o_orderkey", "str"), ("month_end", "str"),
         ("plus_two_months", "str"), ("quarter_start", "str"),
         ("pri_translated", "str"), ("pri_padded", "str"),
         ("pri_rev3", "str"), ("pri_rep", "str")),
        ("weekday_mon0", "pos_mod", "floor_100k", "key_pow15")),
    Sub("key_skew_audit", relational_ext.q_key_skew_audit,
        relational_ext.ORACLES["key_skew_audit"],
        (("rel", "str"),),
        ("n_keys", "total", "max_c", "top1_share", "gini")),
    Sub("itemcf_recommend", relational_ext.q_itemcf_recommend,
        relational_ext.ORACLES["itemcf_recommend"],
        (("item", "str"), ("rn", "str"), ("rec", "str")),
        ("co", "n_a", "n_b", "cosine")),
    Sub("spearman_corr", relational_ext.q_spearman_corr,
        relational_ext.ORACLES["spearman_corr"],
        (("l_returnflag", "str"),), ("n", "spearman")),
    Sub("edit_distance_conformance", relational_ext.q_edit_distance_conformance,
        relational_ext.ORACLES["edit_distance_conformance"],
        (("doc_id", "str"), ("source", "str")),
        ("lev", "lev_capped", "len_a")),
    Sub("tz_conformance", relational_ext.q_tz_conformance,
        relational_ext.ORACLES["tz_conformance"],
        (("event_id", "str"), ("berlin_jan", "str"), ("berlin_jul", "str"),
         ("ny_jan", "str"), ("ny_jul", "str"), ("kathmandu", "str")),
        ("roundtrip_ok", "off_berlin_jan_min", "off_berlin_jul_min",
         "off_ny_jul_min", "off_ktm_min")),
    Sub("kendall_tau", relational_ext.q_kendall_tau,
        relational_ext.ORACLES["kendall_tau"],
        (("l_returnflag", "str"),),
        ("n", "concordant", "discordant", "tau_b")),
    Sub("gini_concentration", relational_ext.q_gini_concentration,
        relational_ext.ORACLES["gini_concentration"],
        (("seg", "str"),), ("n", "sum_cents", "gini")),
    Sub("trimmed_mean", relational_ext.q_trimmed_mean,
        relational_ext.ORACLES["trimmed_mean"],
        (("priority", "str"),),
        ("lo_cents", "hi_cents", "kept_n", "trimmed_mean")),
    Sub("mode_stats", relational_ext.q_mode_stats,
        relational_ext.ORACLES["mode_stats"],
        (("l_returnflag", "str"),),
        ("mode_cents", "mode_n", "distinct_vals")),
    Sub("weighted_median", relational_ext.q_weighted_median,
        relational_ext.ORACLES["weighted_median"],
        (("l_returnflag", "str"),), ("median_cents", "total_weight")),
    Sub("lorenz_deciles", relational_ext.q_lorenz_deciles,
        relational_ext.ORACLES["lorenz_deciles"],
        (("seg", "str"), ("decile", "str")),
        ("customers", "decile_cents", "share")),
    Sub("theil_sen", relational_ext.q_theil_sen,
        relational_ext.ORACLES["theil_sen"],
        (("l_returnflag", "str"),), ("n_pairs", "ts_slope")),
    Sub("feature_hashing", relational_ext.q_feature_hashing,
        relational_ext.ORACLES["feature_hashing"],
        (("bucket", "str"),), ("occurrences", "distinct_features")),
    Sub("winsorized_mean", relational_ext.q_winsorized_mean,
        relational_ext.ORACLES["winsorized_mean"],
        (("priority", "str"),),
        ("lo_cents", "hi_cents", "n", "wins_cents", "winsorized_mean")),
    Sub("hhi_concentration", relational_ext.q_hhi_concentration,
        relational_ext.ORACLES["hhi_concentration"],
        (("seg", "str"),), ("n", "top1_cents", "hhi", "top1_share")),
    Sub("association_rules", relational_ext.q_association_rules,
        relational_ext.ORACLES["association_rules"],
        (("pa", "str"), ("pb", "str")),
        ("sup_ab", "sup_a", "sup_b", "conf_a_to_b", "conf_b_to_a",
         "lift")),
)

_SET_OPS_SUBS = (
    Sub("union_dedup", relational.q_union_dedup, relational.ORACLES["union_dedup"],
        (), ("distinct_keys", "key_sum")),
    Sub("intersect_except", relational_ext.q_intersect_except,
        relational_ext.ORACLES["intersect_except"],
        (), ("keys", "key_sum")),
)


# THE canonical roster: suite name → its Sub tuple. The suite queries,
# their oracles, AND tools/suite_hashes.py all derive from this one
# structure, so a sub-op cannot exist in a gate row without also being
# individually attributable (r6 verdict #2).
SUITE_SUBS = {
    "window_suite": _WINDOW_SUBS,
    "temporal_join_suite": _TEMPORAL_SUBS,
    "corpus_stats_suite": _CORPUS_SUBS,
    "tpch_suite": _TPCH_SUBS,
    "sql_surface_suite": _SQL_SURFACE_SUBS,
    "set_ops": _SET_OPS_SUBS,
}

# r11: every sub-op's builder goes through the central analyzed-plan memo
# (sources/tables.plan_memoized) so per-sub-op callers (the bench's
# attribution loop, the A/B worker, suite_hashes) skip re-paying py4j
# construction + Catalyst analysis on every warm call. Builds that fire
# jobs are never cached (the wrapper's guard), every hit returns a fresh
# Dataset that recomputes from parquet, and clear_corpus_caches clears
# the memo — cold numbers still price full construction.
SUITE_SUBS = {
    name: tuple(dataclasses.replace(s, fn=plan_memoized(f"sub:{s.op}", s.fn))
                for s in subs)
    for name, subs in SUITE_SUBS.items()
}

QUERIES = {}
ORACLES = {}
for _name, _subs in SUITE_SUBS.items():
    QUERIES[_name], ORACLES[_name] = _make_suite(_name, _subs)

q_window_suite = QUERIES["window_suite"]
q_temporal_join_suite = QUERIES["temporal_join_suite"]
q_corpus_stats_suite = QUERIES["corpus_stats_suite"]
q_tpch_suite = QUERIES["tpch_suite"]
q_sql_surface_suite = QUERIES["sql_surface_suite"]
q_set_ops = QUERIES["set_ops"]
