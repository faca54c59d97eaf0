"""Headline benchmark: runs the engine's queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Every query is timed twice, with attribution isolation (the round-3 fix):

- **cold** — all in-process memo caches and Spark's table cache are
  cleared first, so the number includes building whatever shared
  relations the query needs (shingled corpus, verified pairs, PQ
  codebooks). No query can report 0.02 s because an earlier query paid
  its cost (the r3 minhash artifact), and no query absorbs a neighbor's
  bill (the r3 json_extract artifact).
- **warm** — an immediate re-run with those caches live: the steady-state
  cost of the query itself, comparable round over round.

`queries` carries the warm numbers (the headline, matching prior rounds'
best-of-N semantics); `queries_cold` carries the attributable cold
numbers; `value` stays the warm total.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session
from tools.oprun import cold_warm, op_builders


# The round-5-final sub-operator roster (git d27b23d). The headline warm
# total grows every round BECAUSE the verified surface grows; this frozen
# cohort gives a like-for-like wall number across rounds — same 134 suite
# sub-ops + the (unchanged) singleton slots, whatever else got added since.
FROZEN_COHORT_R5 = frozenset("""
analytic_extras ann_batch_topk ann_multiprobe_lsh anti_join
approx_quantiles array_fn_conformance asof_forward asof_last_signup
bigram_lm_score bitmap_distinct bm25_topk bpe_compression bpe_merges
canonical_selection cms_heavy_hitters cohort_retention collation_distinct
column_histogram containment_pairs contamination_check corpus_shards
cube_rollup data_expectations dataset_mixture debounce_events doc_chunks
dsir_importance duplicate_spans embedding_quantize erasure_audit
event_transitions event_window fact_join funnel_steps fuzzy_edit_pairs
gapfill_hourly gopher_repetition grouping_sets hll_union hybrid_rrf
intersect_except ivf_pq_ann kll_quantiles length_histogram linear_interp
listagg_conformance locf_fill map_fn_conformance max_concurrency
mongo_filter neardup_hop_distance neardup_safe_split null_semantics
outer_join pagerank_neardup pandas_udaf pca_embeddings percentile_stats
pii_scrub pq_ann python_udtf quality_model quantile_merge range_join_pairs
regr_conformance rfm_segments ridge_regression salted_skew_agg
scalar_fn_conformance scalar_subquery semantic_dedup sequence_packing
session_window similarity_join sliding_window split_leakage sql_text_cte
sql_text_exists sql_text_group_order_all sql_text_grouping_sets
sql_text_interval_frame sql_text_lateral sql_text_lateral_alias
sql_text_nulls_order sql_text_parity sql_text_pivot
sql_text_recursive_spine sql_text_recursive_walk sql_text_setops
sql_text_trycast sql_text_unpivot sql_text_window sql_udf stats_agg
stratified_sample supplier_stats table_stats theta_sketch_ops
time_weighted_avg token_entropy token_pmi tpch_q1 tpch_q10 tpch_q11
tpch_q12 tpch_q13 tpch_q14 tpch_q15 tpch_q16 tpch_q17 tpch_q18 tpch_q19
tpch_q2 tpch_q20 tpch_q21 tpch_q22 tpch_q3 tpch_q4 tpch_q5 tpch_q6 tpch_q7
tpch_q8 tpch_q9 triangle_stats ts_similarity unicode_normalize union_dedup
variant_extract versioned_table weighted_sample window_functions
winnow_pairs xml_roundtrip zscore_normalize approx_distinct
""".split())

# The singleton (non-suite) queries() slots as of the r5 roster — pinned
# explicitly so a singleton ADDED or semantically changed in a later
# round can't silently land in the frozen-cohort sums (r9 advice:
# membership must be filtered, not assumed, for singletons too).
FROZEN_SINGLETONS_R5 = frozenset("""
ann_bruteforce ann_ivf_probe ann_lsh_probe array_exists
array_transform_agg clean_corpus conjunction count_filtered count_total
distinct_language distinct_values embedding_neardup exact_dedup_stats
fingerprint_dedup group_counts in_list json_extract kmeans_clusters
label_centroids lang_id lookup_join metrics_rollup minhash_lsh_pairs
multimodal_features ne_filter neardup_components ngram_jaccard_pairs
pagination pivot_events point_lookup projection quality_filter_pipeline
quality_scores range_filter semi_join simhash_pairs studies_datacite_valid
studies_derivations studies_list_page studies_metrics tfidf_top_terms
token_stats topk_per_group train_val_split
""".split())


def _run_ab_interleave(spark, sf_dir, ab_repo, builders):
    """Time every op COMMON TO BOTH repos on THIS repo (A) and on the
    pinned repo at ``ab_repo`` (B, in a subprocess worker) back-to-back,
    alternating which side goes first per op to cancel order bias (r9
    advice: the roster is the exact intersection, no unfiltered
    singletons). The r5 frozen-cohort sums are reported alongside as the
    subset of the same measurements. Returns the detail record; on
    worker failure returns an error record instead of failing the
    bench."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    # r10: time EVERY op common to both repos (the worker advertises its
    # full roster), not only the r5 frozen cohort — ops added after r5
    # are where optimization rounds move the most, and the frozen-only
    # record was blind to them. The frozen-cohort sums are still
    # reported (computed from the same measurements) for cross-round
    # continuity.
    frozen = set(builders) & (FROZEN_SINGLETONS_R5 | FROZEN_COHORT_R5)

    # r10 post-mortem: the end-of-round interleave died with a
    # JSONDecodeError because the worker's stdout carried a non-protocol
    # line (the child JVM shares the fd) and the single readline()+loads
    # had no tolerance — and the worker's stderr vanished with it. The
    # protocol is now marker-prefixed ("@AB@{json}"), the reader skips
    # anything else, and stderr is captured to a sidecar for the error
    # record.
    ab_errlog = os.path.join(here, "ab_worker.stderr.log")
    errfh = open(ab_errlog, "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(here, "tools", "bench_ab_worker.py"),
         ab_repo],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=errfh,
        text=True, env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir})

    def read_msg():
        """Next marker-prefixed protocol message; skips stray lines.
        Raises on EOF (worker death) or a worker-reported fatal."""
        mark = "@AB@"
        while True:
            line = proc.stdout.readline()
            if not line:
                raise RuntimeError("ab worker stdout EOF (worker died; "
                                   f"see {ab_errlog})")
            line = line.strip()
            if not line.startswith(mark):
                continue
            msg = json.loads(line[len(mark):])
            if "fatal" in msg:
                raise RuntimeError(f"ab worker fatal: {msg['fatal']}")
            return msg

    try:
        ready = read_msg()
        roster = sorted(set(builders) & set(ready["ops"]))
        limit = os.environ.get("SPARK_GRAFT_AB_LIMIT")
        if limit:
            roster = roster[: int(limit)]

        def time_b(op):
            proc.stdin.write(json.dumps({"op": op}) + "\n")
            proc.stdin.flush()
            msg = read_msg()
            if msg.get("sec") is None:
                raise RuntimeError(f"ab worker failed on {op}: "
                                   f"{msg.get('error')}")
            return float(msg["sec"])

        def time_a(op):
            build = builders[op]
            build(spark, sf_dir).collect()  # warm, as the worker does
            t0 = time.perf_counter()
            build(spark, sf_dir).collect()
            return round(time.perf_counter() - t0, 4)

        ops: dict[str, list[float]] = {}
        for i, op in enumerate(roster):
            if i % 2 == 0:
                a, b = time_a(op), time_b(op)
            else:
                b, a = time_b(op), time_a(op)
            ops[op] = [a, b]
        proc.stdin.write(json.dumps({"exit": True}) + "\n")
        proc.stdin.flush()
        proc.wait(timeout=120)
        a_sum = round(sum(v[0] for v in ops.values()), 4)
        b_sum = round(sum(v[1] for v in ops.values()), 4)
        fa = round(sum(v[0] for op, v in ops.items() if op in frozen), 4)
        fb = round(sum(v[1] for op, v in ops.items() if op in frozen), 4)
        return {
            "repo_b": ab_repo,
            "protocol": ("per op: 1 warm + 1 timed per side, sides "
                         "alternating which goes first; B side in its own "
                         "process+session from the pinned repo; roster = "
                         "ALL ops present in both repos (r10 — the "
                         "frozen-cohort sums below are the r5-roster "
                         "subset of the same measurements)"),
            "full_a_sec": a_sum,
            "full_b_sec": b_sum,
            "a_over_b_full": round(a_sum / b_sum, 4) if b_sum else None,
            "cohort_a_sec": fa,
            "cohort_b_sec": fb,
            "a_over_b": round(fa / fb, 4) if fb else None,
            "n_ops": len(ops),
            "only_a": sorted(set(builders) - set(ready["ops"])),
            "ops_ab_sec": ops,
        }
    except Exception as e:  # record, don't fail the round's bench
        proc.kill()
        errfh.close()
        try:
            with open(ab_errlog) as fh:
                tail = fh.read()[-2000:]
        except OSError:
            tail = None
        return {"repo_b": ab_repo, "error": repr(e), "stderr_tail": tail}
    finally:
        errfh.close()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session("cdcagg-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    # Warm the JVM + codegen paths once so the first query's cold number
    # measures the query, not session startup.
    next(iter(qs.values()))(spark, sf_dir).collect()

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    total_cold = 0.0
    total_warm = 0.0
    for name, fn in qs.items():
        # cold isolation (memo registry cleared), then best of two warm
        dt_cold, dt_warm, _ = cold_warm(
            spark, lambda: fn(spark, sf_dir).collect())
        cold[name] = round(dt_cold, 4)
        warm[name] = round(dt_warm, 4)
        total_cold += dt_cold
        total_warm += dt_warm
    # suite slots fold many verified sub-operators into one timing; report
    # the fold factor so cross-round per-slot comparisons stay meaningful
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import suites
    suite_sub_lists = suites.SUITE_SUBS  # the canonical roster (r7)
    suite_subs = {name: len(subs) for name, subs in suite_sub_lists.items()}
    builders = op_builders()

    # Per-sub-op attribution (the only bench lines that move round-over-
    # round are suite rows; a growth vs regression question must be
    # answerable per operator). Timed individually on the warm caches the
    # suite runs just built, through the same long-format wrapper the
    # suite itself uses, so per-op numbers sum ~= the suite's warm time.
    suite_op_sec: dict[str, dict[str, float]] = {}
    for suite_name, subs in suite_sub_lists.items():
        # Warm pass first: the main loop's per-query cache clears mean the
        # first op timed here would otherwise absorb rebuilding the shared
        # memo caches (shingles, verified pairs, codebooks) — attribution
        # must measure the op, not its neighbors' prerequisites.
        for s in subs:
            builders[s.op](spark, sf_dir).collect()
        ops: dict[str, float] = {}
        for s in subs:
            t0 = time.perf_counter()
            builders[s.op](spark, sf_dir).collect()
            ops[s.op] = round(time.perf_counter() - t0, 4)
        suite_op_sec[suite_name] = ops
    # --- Same-run A/B interleave (r8 verdict #7) ------------------------
    # The r8 control experiment proved bench readings are only comparable
    # WITHIN one run (the identical r7 code read 89.99s at round-7 time
    # and 106.95s three weeks later: box state, not code). With
    # SPARK_GRAFT_AB_REPO pointing at a pinned worktree of a prior HEAD,
    # each frozen-cohort op is timed on THIS repo and on the pinned repo
    # back-to-back in one session pair (the B side runs in a subprocess
    # with its own SparkSession — module-level isolation, since a shared
    # process would let cloudpickle resolve B's functions to A's modules
    # on the Python workers). Cross-round ratios from the interleaved
    # sums no longer depend on box history.
    ab = None
    ab_repo = os.environ.get("SPARK_GRAFT_AB_REPO")
    if ab_repo:
        ab = _run_ab_interleave(spark, sf_dir, ab_repo, builders)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Detail first (big maps on their own line / sidecar), compact
    # headline LAST: the driver tail-captures stdout and must always see
    # the {"metric",...} line intact (round-5 lesson: one giant line got
    # front-truncated and the round's wall-time went unrecorded).
    # like-for-like cross-round wall: warm singletons (slot set unchanged
    # since r5) + per-op warm seconds of ONLY the r5-roster suite sub-ops
    suite_names = set(suite_sub_lists)
    measured_subs = {n for ops in suite_op_sec.values() for n in ops}
    frozen_cohort_sec = round(
        sum(t for n, t in warm.items()
            if n not in suite_names and n in FROZEN_SINGLETONS_R5)
        + sum(t for ops in suite_op_sec.values()
              for n, t in ops.items() if n in FROZEN_COHORT_R5), 4)
    # a renamed/removed roster op must be visible, not silently shrink the
    # cohort sum into a fake speedup
    cohort_missing = sorted(FROZEN_COHORT_R5 - measured_subs)
    detail = {
        "detail": "per_query_and_per_subop_seconds",
        "frozen_cohort_sec": frozen_cohort_sec,
        "frozen_cohort_missing": cohort_missing,
        "frozen_cohort": ("r5 roster (134 suite sub-ops + the pinned "
                          "FROZEN_SINGLETONS_R5 singleton slots); "
                          "sum of PER-OP isolated warm timings — compare "
                          "against other rounds' frozen_cohort_sec, not "
                          "against the suite-folded warm total"),
        "runs_per_query": 2,
        "isolation": "cold-then-warm per query (memo caches cleared before the cold run)",
        "queries_cold": cold,
        "cold_total_sec": round(total_cold, 4),
        "suite_subs": suite_subs,
        "suite_op_sec": suite_op_sec,
        "sf": sf_val,
    }
    if ab is not None:
        detail["ab_interleave"] = ab
    print(json.dumps(detail))
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    try:
        load1 = round(os.getloadavg()[0], 1)  # box contention context for
        #                                       cross-round comparisons
    except OSError:
        load1 = None
    print(json.dumps({
        "metric": "total_query_wall_sec",
        "value": round(total_warm, 4),
        "unit": "sec",
        "queries": warm,
        "sf": sf_val,
        # like-for-like across rounds: per-op warm sum over the r5 roster
        # (the headline `value` grows with every verified op added)
        "frozen_cohort_sec": frozen_cohort_sec,
        "verified_subops": sum(suite_subs.values()),
        "loadavg_at_exit": load1,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
