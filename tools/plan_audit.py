"""Generate PLANS.md: `.explain(formatted)` for headline queries plus the
scale-relevant properties each plan must keep (the narrative companion to
tests/test_plans.py). Run: python tools/plan_audit.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session
from tools.oprun import explain_text

HEADLINERS = {
    "point_lookup": "P2 GetRecord shape: EqualTo pushed into the parquet scan; no shuffle.",
    "pagination": "O1/O2 page: snapshot filter at the scan, TakeOrdered-style limit after sort.",
    "group_counts": "A4 one-pass rewrite of the reference's N+1 /metrics plan: partial_count before one exchange.",
    "lookup_join": "J2 dims: two BroadcastHashJoins, fact side never exchanges.",
    "fact_join": "Fact-fact equi-join: AQE picks broadcast at this SF, sort-merge at scale.",
    "minhash_lsh_pairs": "LSH dedup: banding equi-join + broadcast candidate verify; no all-pairs product.",
    "ann_bruteforce": "ANN baseline: single-row broadcast + TakeOrderedAndProject (per-partition top-k).",
    "metrics_rollup": "Rollup: per-publisher + grand total in one shuffle.",
    "session_window": "Session windows: one exchange on the session key.",
    "tpch_q1": "TPC-H Q1: pruned scan + single hash aggregate with map-side partials.",
    "tpch_q5": "TPC-H Q5 6-table join: nation/region broadcast, date+region filters at the scans, AQE re-plans the fact joins.",
    "tpch_q18": "TPC-H Q18: lineitem pre-aggregated, rare big-order survivors broadcast into orders/customer, TakeOrdered top-20.",
    "tpch_q6": "TPC-H Q6: every predicate pushed to the scan, one partial+final aggregate, no join — the pure-pushdown litmus.",
    "tpch_q10": "TPC-H Q10: returnflag+quarter filters at the scans, broadcast nation, TakeOrdered top-20.",
    "duplicate_spans": "ExactSubstr k-gram relaxation, digest-keyed: gram groupBy with map-side partials + shuffle equi-join vs the dup-gram set, both on 32-char md5 keys — no doc-to-doc join anywhere.",
    "semantic_dedup": "SemDeDup: pair join strictly equi on the cluster label; norms folded pre-join.",
    "window_functions": "Analytic windows: one hash exchange on o_custkey, all three functions in a single sorted Window pass.",
    "contamination_check": "Contamination sweep: tiny eval-set gram table broadcast; the corpus side is one scan, shuffled only for the source rollup.",
    "pii_scrub": "PII scrub: pure regexp projection — zero exchanges, zero Python.",
    "clean_corpus": "Cleaning pipeline: quality gate + hash dedup + LSH-component removal composed.",
    "winnow_pairs": "Winnowing: fingerprint relation checkpointed pre-explode (no inferred-filter re-inlining), stop-fingerprint df cap bounds every join bucket.",
    "ann_batch_topk": "Batch ANN: query batch broadcast, equi-join on the IVF cell, per-query top-k window over cell-sized groups.",
    "stratified_sample": "Stratified sample: quota count + rank share ONE hash exchange on the stratum key.",
    "tpch_q4": "TPC-H Q4: EXISTS decorrelated to a left semi-join; quarter bound at the orders scan.",
    "tpch_q7": "TPC-H Q7: nation-pair predicate inside both dim scans; pre-filtered supplier broadcasts into lineitem.",
    "tpch_q22": "TPC-H Q22: scalar avg broadcast + NOT EXISTS as left anti-join.",
    "tpch_q8": "TPC-H Q8 market share: PROMO part + EUROPE customer dims reduced before any fact join; only lineitem-orders exchanges.",
    "tpch_q13": "TPC-H Q13: left join preserves zero-order customers, then double aggregation (custkey exchange, count exchange).",
    "tpch_q15": "TPC-H Q15: max-revenue scalar broadcast back against the reused aggregate view — one lineitem scan.",
    "tpch_q17": "TPC-H Q17: correlated avg decorrelated to a per-part aggregate broadcast back on partkey.",
    "gapfill_hourly": "Gap-fill: generated dense grid LEFT-joins broadcast(hourly rollup) — LeftOuter builds the non-preserved side.",
    "ngram_jaccard_pairs": "Exact AllPairs Jaccard: 500-row slice coalesced (task count matches surviving data), prefix join on 8-byte shingle hashes, df via count-over-window.",
    "tfidf_top_terms": "TF-IDF: df rides a count-over-window on the aggregated tf relation (no groupBy+join-back); n_sources as a 1-row broadcast cross join.",
    "zscore_normalize": "Per-source z-score: pure Window functions — zero Python workers (the applyInPandas form is a pytest-only pattern demo).",
    "tpch_q11": "TPC-H Q11 shape: global scalar (1-row broadcast) filters post-aggregation groups; the fact scan never sees the subquery.",
    "bigram_lm_score": "Corpus-LM scoring: one digest-keyed bigram relation feeds both count tables and the scoring join; vocabulary-sized sides shuffle-join.",
    "canonical_selection": "Canonical selection: per-cluster argmax via max(struct(score, -doc_id)) riding the member-count exchange — no per-cluster window.",
    "approx_quantiles": "Verified quantile sketch: exact + approx percentiles ride ONE aggregate buffer each over the repartitioned single column.",
    "tpch_q2": "TPC-H Q2: derived part-supplier aggregate; regional per-part min as a window over the aggregate rows (no join-back re-running the fact agg); dims broadcast; TakeOrdered top-100.",
    "tpch_q20": "TPC-H Q20: name-prefix parts as a left semi-join; per-part totals as a window over the already-aggregated (supp, part) rows — one full-width fact shuffle total.",
    "tpch_q21": "TPC-H Q21: EXISTS/NOT EXISTS decorrelated to per-order window counts over deduped (order, supplier, late) rows; supplier/nation/region broadcast; TakeOrdered top-20.",
    "dsir_importance": "DSIR weights: the shared checkpointed bigram-digest relation feeds raw counts, target counts, and the scoring join — no re-explode per consumer.",
    "bm25_topk": "BM25: broadcast query terms probe the postings index FIRST; df counted over the restricted posting lists (no vocabulary-wide aggregate); N/avgdl as a 1-row broadcast cross join; TakeOrdered top-10.",
    "bpe_compression": "BPE apply: merge folds run over the vocabulary-sized word table only; documents join word→token_count (broadcast) and aggregate — no per-occurrence fold.",
    "grouping_sets": "GROUPING SETS: one scan + Expand (3 copies, only the requested sets), partial aggregation before the single exchange.",
    "analytic_extras": "Ranking windows: ntile/percent_rank/cume_dist + RANGE-frame running sum all ride ONE partition exchange.",
    "funnel_steps": "Ordered funnel: three chained first-after-step window mins share one user-partitioned exchange; collapse to a single conversion row.",
    "event_transitions": "Transition matrix: lead() sequencing on the user exchange; per-source probability is a window over MATRIX rows, not events.",
    "ivf_pq_ann": "IVFADC: cell filter prunes the codes scan before the ADC literal-lookup ranking; top-k is TakeOrderedAndProject.",
    "fuzzy_edit_pairs": "Edit-distance dedup: two pigeonhole block equi-joins union-distinct; levenshtein verifies only candidates, never all pairs.",
    "ann_multiprobe_lsh": "Multi-probe LSH: Hamming<=1 as a codegen'd per-bit compare sum; exact cosine re-rank, TakeOrdered top-k.",
    "pagerank_neardup": "PageRank: power iterations over edge-sized joins; node count broadcast; the corpus never re-enters after the pair computation.",
    "null_semantics": "NULL conformance: one grouped aggregate carrying the NULL group, count(*) vs count(col), null-safe equality, SUM-over-empty NULL.",
    "max_concurrency": "Sweep-line peak concurrency: ±1 interval markers union, running sum + max ride ONE event_type exchange — never an interval self-join.",
    "weighted_sample": "Efraimidis-Spirakis weighted sample: exponential keys computed in the scan projection, global top-k via TakeOrderedAndProject — one pass, no per-stratum state.",
    "array_fn_conformance": "Higher-order array functions (transform/filter/aggregate/zip_with/sort/distinct): all codegen'd in one projection — zero exchanges, zero Python.",
    "scalar_fn_conformance": "Scalar function vocabulary (dates/strings/numerics): single pruned scan + projection; every expression whole-stage-codegen'd.",
    "doc_chunks": "Chunking: sequence → Generate (explode) → substr projection — zero exchanges; the map stage of a chunk writer.",
    "corpus_shards": "Shard manifest: md5-draw shard key computed in the scan projection; ONE exchange with map-side partial aggregation.",
    "neardup_safe_split": "Leakage-safe split: memoized component table joined onto the corpus; the verified-pair probe proving leaked_pairs=0 joins pair-sized relations only.",
    "table_stats": "ANALYZE stats: per-column single-distinct aggregates over pruned scans union'd — no multi-distinct Expand.",
    "data_expectations": "Expectations gate: all row-level checks in ONE aggregate pass per table; FKs as anti-joins; union of check-sized rows.",
    "rfm_segments": "RFM: events aggregate first (map-side partials); ntile windows run over the user-sized relation only.",
    "column_histogram": "Equi-depth histogram: percentile bounds (bounded 1-row action) + ONE counting aggregate against literal bounds — no global sort.",
    "time_weighted_avg": "TWAP: lead-gap weights on one event_type exchange; decimal-exact weighted sums.",
    "triangle_stats": "Triangle count: oriented wedge join (e1.b=e2.a) closed by the third edge — each triangle once, hub fan-out bounded by id-orientation; all relations edge-sized.",
    "sql_text_recursive_spine": "Recursive CTE date spine (Spark 4 UnionLoop): the fact aggregates FIRST behind a pushed date bound; only the day-sized rollup enters the outer join with the generated spine.",
    "sql_text_lateral": "Correlated LATERAL aggregate: decorrelated to one grouped orders aggregate + broadcast joins — no per-row subquery re-execution.",
    "containment_pairs": "Asymmetric containment: rare-first probe prefix equi-joined to the FULL inverted shingle index; verify join computes exact |A∩B|/|A| — no all-pairs product.",
    "similarity_join": "Cross-table similarity join: sign-block equi-join with the probe relation broadcast; norms folded pre-join; threshold filter, not top-k.",
    "locf_fill": "LOCF forward fill: last(ignorenulls) running window — ONE user_id exchange, no per-key imperative loop, no Python.",
    "hll_union": "Mergeable cardinality: per-shard hll_sketch_agg (two-phase partials), then hll_union_agg over SKETCH-sized rows — the global estimate never re-scans data.",
    "variant_extract": "VARIANT extraction: parse_json once per row in the scan projection, variant_get as a codegen'd path walk; ordinary grouped aggregate above.",
    "sql_udf": "SQL UDFs: bodies analyzer-inlined into the aggregate — the plan shows plain expressions, no Python stage, no JVM UDF node.",
    "python_udtf": "Python UDTF: one batch-pickled Generate/ArrowEvalPython stage feeding an ordinary grouped aggregate — the per-row fan-out never leaves the executor.",
    "quantile_merge": "Mergeable equi-depth quantile summaries: per-(shard × input-partition) ntile window sort → K (max, count) buckets; the global p50/p95 read summary-sized rows, the re-scan is the verification pass only.",
    "kll_quantiles": "KLL sketch percentiles: per-shard kll_sketch_agg (two-phase partials), binary merge folded via the aggregate HOF over sketch-sized rows — no data re-scan for the estimate.",
    "theta_sketch_ops": "Theta set algebra: union/intersection/difference computed on SKETCHES; the exact census is one groupBy(l_suppkey) pass with map-side partials.",
    "bitmap_distinct": "Exact mergeable distinct: bitmap_construct_agg per (slice, bucket, partition), bitmap_or_agg merge, counts summed from bucket bitmaps — distinct-sized state, no count(DISTINCT) expand.",
    "regr_conformance": "SQL:2003 regression family: exact DECIMAL sufficient-statistic sums with map-side partial merge (no double moment sketches), one exchange on the group key, single-shot float math above K rows.",
    "spearman_corr": "Spearman (r9): quantity midranks from a broadcast 50-value grid (zero fact exchanges), price midranks from the bucketed two-level prefix with in-plan lazy offsets — ONE fact exchange total; Pearson-on-ranks from exact DECIMAL sums.",
    "hhi_concentration": "Herfindahl index: fact pre-aggregated to per-customer cents BEFORE the segment join; three map-combinable sums per segment — no rank, no window, no prefix.",
    "association_rules": "A-Priori rules: capped in-array pair combinations (no per-order self-join) + equi-joins to item basket counts with NO broadcast hint (AQE decides); basket total is a broadcast 1-row aggregate.",
    "cohens_d": "Cohen's d: corpus reduces to K source rows of exact DECIMAL sufficient stats; pairs from a broadcast self-join of that tiny relation (the welch_ttest shape).",
    "mcnemar_paired": "McNemar: ONE corpus pass folds the paired confusion as exact integers; the continuity-corrected statistic is a single-shot double above a 1-row aggregate.",
    "cuped_adjustment": "CUPED: pre/post split point is an in-plan broadcast min/max (fully lazy); one per-user aggregate, K-row arm/global sufficient stats, single-shot theta.",
    "logrank_test": "Log-rank: per-duration survival table over the distinct-durations relation (domain-bounded window); chi-square fold left client-side so no cross-row float accumulation is hashed.",
    "permutation_entropy": "Permutation entropy: two lead() windows keyed on user_id (fine-grained at any scale); the ordinal-pattern census is <=27 rows, -p ln p through round(.,6).",
    "winsorized_mean": "Winsorized mean: percentile_disc bounds broadcast (K rows), clamped cent sum folds as exact integers in one fact pass — n constant, no second scan.",
    "theil_sen": "Grouped Theil-Sen: fact collapses to the 50-value quantity grid FIRST, so the pairwise-slope relation is C(50,2) rows per group — domain-bounded; median via percentile_disc over exact-set slopes.",
    "feature_hashing": "Hashing-trick census: in-row 3-element explode + one groupBy on the md5 bucket key; collision load via bounded per-bucket count_distinct — all exact integers.",
    "semantic_split_leakage": "Semantic leakage: sign-signature-blocked embedding pair join (never all-pairs); split classification is pure id arithmetic — no extra join.",
    "sequence_support": "GSP/PrefixSpan L2+L3: journeys collapse to one capped initials string per user (one exchange); 150 literal patterns crossJoin a USER-sized relation (constant fan-out, never corpus^2); regexp subsequence tests, exact integer supports.",
    "interval_align": "Interval intersection join: both streams' merged islands emit ±1 markers, ONE user-keyed sweep window carries both running active-counts, inter-marker segments fold exact integer overlap — zero joins, no range self-join.",
    "kcore_census": "k-core census: fixed-depth peel over the checkpointed TAGGED edge relation (both k values in one pass) — each round one degree aggregate + two semi-joins at EDGE scale, corpus-independent.",
    "markov_attribution": "Markov removal-effect attribution: one corpus pass builds the K^2 chain; all 5 variants (full + removals) are TAGGED rows of one checkpointed <=5(K+1)^2-row matrix; absorption via 4 scaled-integer matrix SQUARINGS (T^16, log depth) — corpus-independent iterations, shares from exact integer drops.",
    "wasserstein_1d": "Exact 1-D earth-mover: W1*na*nb = sum |cumA*nb - cumB*na| * gap as DECIMAL integers over the sources-x-values GRID (value-domain-bounded); the only float step is the final division.",
    "burrows_delta": "Burrows' Delta: global top-M marker words by exact integer order, per-million integer rates on the K-source grid, z from integer sums — the pairwise Delta fold is client-side.",
    "lexical_diversity": "Lexical diversity: one token explode to the (source, word) relation; types/tokens fold with map-side partials; Herdan's C through round(.,6).",
    "edit_distance_conformance": "Levenshtein conformance: one partitioned lead() window pairs successor prefixes; the DP runs as a codegen'd expression — no join, no Python.",
    "welch_ttest": "Welch t-test: corpus reduces to K source rows of exact DECIMAL sufficient stats; the K^2/2 pairs are a broadcast self-join of that tiny relation.",
    "mann_whitney": "Mann-Whitney U: doubled integer midranks from the BOUNDED value-histogram via a broadcast <=-self-join prefix sum — no window, no corpus sort; U and the tie term are exact integers.",
    "ks_test": "Kolmogorov-Smirnov: ECDF gap kept as the exact integer |cumA*nb - cumB*na| over histogram rows; max() is merge-order-free, no corpus sort.",
    "gmean_hmean": "Geometric/harmonic means: per-row ln x and 1/x rounded to DECIMAL before ONE map-side-combining groupBy — zero float folds.",
    "cohens_kappa": "Cohen's kappa: row/col/diagonal sums over the K^2-cell NB confusion relation; every statistic single-shot above integer cells.",
    "js_divergence": "JS divergence: vocab x K-source term grid (vocabulary-sized), per-term DECIMAL-rounded contributions, one grouped aggregate per source.",
    "holt_winters": "Holt double exponential smoothing: FlatMapGroupsInPandas — one Arrow batch per series, two scalars of state, per-key output rows only.",
    "isotonic_calibration": "Isotonic calibration: one corpus groupBy to K buckets, then PAVA as two range joins over K-row relations (minimax identity) — no driver loop, no corpus re-entry.",
    "prefix_filter_jaccard": "PPJoin set-similarity self-join: shingle df order via one vocab join, candidates from ONE equi-join on the exploded prefix — no cartesian, no all-pairs; verify is in-array intersect over bounded arrays.",
    "markov_stationary": "Markov stationary: transition counts from one partitioned lag window; 20 fixed-point BIGINT iterations each a K-row broadcast join — corpus scanned once, iterations corpus-size-independent.",
    "interval_coverage": "Gaps-and-islands: cumulative-MAX window PARTITIONED BY user (one hash exchange, no global sort), island groupBys reuse the same key.",
    "ohlc_bars": "OHLC downsampling: single hash aggregate with min_by/max_by on a unique composite integer — map-side combinable, no window, no sort.",
    "table_fingerprint": "Anti-entropy fingerprints: per-table single-pass agg of md5-derived ints in DECIMAL — no sort, no join, no collect.",
    "model_eval_auc": "Exact AUC: value-histogram groupBy + broadcast prefix self-join (bounded relation) — the corpus is scanned once, no window, no global sort.",
    "bootstrap_ci": "Bootstrap CI: resample totals are exact integers; SE/CI from DECIMAL sums of B totals — the only exchanges are the draw equi-join and a B-row aggregate.",
    "xml_roundtrip": "to_xml/xpath round-trip conformance: 1/97 key-modulo slice pushed to the scan bounds the deliberately-slow per-row XML parse at any scale.",
    "ts_similarity": "Time-series subsequence search: per-user series in one groupBy, slice()-view windows in a codegen zip_with fold, broadcast query, TakeOrdered top-K — no global sort, no pair materialization.",
    "asof_forward": "Forward as-of join: first(ignorenulls) over the following frame, one exchange on the key — merge_asof's other direction with no range-join machinery.",
    "linear_interp": "Linear interpolation gap fill: four ignorenulls window edges ride ONE exchange on user_id; integer epoch-µs arithmetic, the division is the only float step.",
    "map_fn_conformance": "MAP type: sorted map_from_entries for deterministic key order; lookups and value folds above one grouped aggregate.",
    "frequent_itemsets": "A-Priori L2 market-basket pairs: capped sorted collect_set baskets + IN-ARRAY indexed combinations (no per-order self-join, viral baskets can't explode); the pair groupBy is the only heavy exchange.",
    "asof_native_parity": "Two-relation left as-of join: tagged union + last(ignorenulls) struct window riding ONE user_id exchange; semantics pinned to DuckDB's native ASOF LEFT JOIN, ties included.",
    "window_count_distinct": "Running COUNT(DISTINCT) composition: size(collect_set) over the expanding frame — one exchange, window state bounded by the distinct domain, not the frame length.",
    "decile_calibration": "Model calibration: fixed-width score buckets (floor(s*10), no NTILE global sort), DECIMAL-exact score sums, 10-key groupBy above a shuffle-free scoring projection.",
    "event_pattern_match": "CEP / MATCH_RECOGNIZE stand-in: sorted-struct collect per key on ONE exchange, then linear regex scans over the per-key sequence string — no self-join, state = per-key event count.",
    "k_anonymity": "Privacy census: one exchange on the quasi-identifier key, per-group count_distinct over a domain-bounded sensitive value — no global distinct expand.",
    "benford_digits": "Benford audit: 9-key groupBy with map-side partials; the window total and chi terms run over 9 rows — scan-bound by construction.",
    "score_drift_psi": "PSI drift monitor: one scan, 20-key groupBy, window totals over 10 rows; per-bucket terms emitted as rows — no float fold anywhere.",
    "chi_square_independence": "Chi-square independence: one (lang, source) groupBy; marginals via windows over CELL-sized rows, never a second scan.",
    "ann_recall_eval": "Recall@k evaluation: the exact arm is ONE broadcast-joined corpus pass with per-query ranked windows (the ground-truth cost, paid per eval not per serve); the IVF arm prunes to the cell like production; hit counting is an equi-join of k-sized lists.",
    "spatial_radius_join": "Grid radius join: build side 9x-replicated into its 3x3 cell neighborhood, probe joins its OWN cell — plain equi-join on the cell key, integer distance filter; no cartesian/BNL node anywhere.",
    "acf_lag": "Lag-k autocorrelation: ONE lead() window per series serves all three lags (stack unpivot); DECIMAL-exact sufficient stats in a single grouped aggregate.",
    "anomaly_census": "3-sigma census: per-type stats aggregate FIRST then broadcast-join back onto the fact scan — no whole-partition window over 5 fat keys.",
    "seasonal_profile": "Seasonality index: groupBy to (type, hour) with map-side partials; totals window over the 5x24 AGGREGATE rows, never the event stream.",
    "cusum_changepoint": "CUSUM: row_number + running sum share one series sort; the argmax is a second window on the same exchange.",
    "ewma_smooth": "EWMA: FlatMapGroupsInPandas — one Arrow batch per series, per-key output rows only; the sequential fold is the operator's semantics, not a plan accident.",
    "naive_bayes_lang": "Naive Bayes: (lang, token) count table shuffle-joins on the token; classes/totals/vocab are 5-row/scalar broadcasts; DECIMAL score sums in one grouped aggregate.",
    "textrank_keywords": "TextRank: fixed-point power iterations over the CHECKPOINTED edge list (docs tokenize once); per-iteration cost is one edge join + one aggregation; vocab-sized pr relation broadcasts.",
    "itemcf_recommend": "Item-CF: capped in-array basket combinations (no per-user self-join); pair groupBy is the co-occurrence build; top-N per item via one ranked window.",
    "tz_conformance": "Timezone conformance: pure projection over the pushed event_id slice — zero exchanges, zero Python.",
    "robust_stats": "Robust stats: quartiles in ONE percentile_disc sorted buffer per group; MAD re-scan joins 5-row broadcast medians.",
    "key_skew_audit": "Key-skew audit: rank sort over the KEY-sized frequency relation, never the fact table; Gini from integer aggregates.",
    "window_value_fns": "Window value functions: all six expressions (ignore-nulls edges, lag, composed moving median) ride ONE user_id exchange.",
    "quantile_normalize": "Quantile normalization: within-source window + bucketed_global_rank (range buckets, parallel within-bucket windows, driver-folded K-row offsets) + an integer-index equi-join — no Exchange SinglePartition anywhere.",
    "spatial_sssp": "Weighted SSSP: 4 Bellman-Ford relaxations, each ONE edge-sized join + min-aggregate over the checkpointed proximity edges; the point table never re-enters.",
    "ab_test_analysis": "A/B readout: one user-level aggregate → 2-row arm relation; the z/lift statistics compute on a 1-row pivot and broadcast back.",
    "bootstrap_resample": "Bootstrap: bucketed_global_rank positions (no global window), a B-fold draw fan-out (constant factor), one equi-join back on the drawn index, exact integer sums per resample.",
}


def main() -> None:
    import __spark_entry__ as entry
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (
        ann, arrays, assembly, bpe, dedup, expectations, pii, relational,
        relational_ext, spatial, text_analysis,
    )

    spark = build_session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # suite-folded operators keep their standalone fns; audit those plans
    qs = dict(entry.queries())
    for mod in (ann, arrays, assembly, bpe, dedup, expectations, pii,
                relational, relational_ext, spatial, text_analysis):
        for name, fn in mod.QUERIES.items():
            qs.setdefault(name, fn)
    # memoized wrappers return checkpoint scans; audit the raw plans
    qs["minhash_lsh_pairs"] = dedup.build_minhash_lsh_pairs
    qs["pagerank_neardup"] = dedup.build_pagerank_neardup
    out = ["# PLANS — physical plans of headline queries (sf0.01)",
           "",
           "Auto-generated by tools/plan_audit.py; regenerate after plan-affecting",
           "changes. Guarded properties are asserted in tests/test_plans.py.",
           ""]
    for name, note in HEADLINERS.items():
        df = qs[name](spark, "/root/testdata/sf0.01")
        out += [f"## {name}", "", note, "", "```", explain_text(df).rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
