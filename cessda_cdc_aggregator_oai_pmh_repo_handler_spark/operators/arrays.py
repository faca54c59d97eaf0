"""Array / JSON / time-window operators on the driver tables — the
oracle-checkable scale demos of the reference's nested-data surface:

- P5/P6 ``$elemMatch``/``$exists`` → ``F.exists`` over array columns
  (/root/reference/tests/test_serve.py:1342-1350).
- P10 per-element filter + F-series transforms → ``F.filter``/``F.transform``
  /``F.aggregate`` (/root/reference/templates/agg_oai_datacite.xml:37-60).
- events.props JSON extraction (the document-store shape, JVM-side).
- tumbling-window aggregation — the batch twin of the §2.8 streaming plan.

All expressions are higher-order functions evaluated inside codegen; no
Python touches rows. Float reductions cast to double BEFORE the fold and
fold left-to-right in both Spark and the DuckDB oracle, so hashes agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import corpus_memo, load_table, local_rows


def q_array_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 analog: vectors having at least one component > 0.35, counted per
    label. ``exists`` short-circuits per row; predicate runs in codegen."""
    e = load_table(spark, "embeddings", sf_dir)
    return (
        e.filter(F.exists("embedding", lambda x: x > 0.35))
        .groupBy("label")
        .agg(F.count("*").alias("cnt"))
    )


def q_array_transform_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/F-series analog: per-vector positive-component count and L1 norm
    (filter + transform + left-fold aggregate), top page by vec_id."""
    e = load_table(spark, "embeddings", sf_dir)
    as_double = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    return (
        e.select(
            "vec_id",
            F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
            F.round(
                F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x), 3
            ).alias("l1_norm"),
        )
        .filter(F.col("vec_id") < 100)
        .orderBy("vec_id")
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-shaped props: extract $.k from the JSON string column,
    aggregate per event_type. get_json_object runs JVM-side."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


def q_event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregation over the event stream table — the
    batch form of the §2.8 Structured Streaming plan (same ``window()``
    expression works under readStream + watermark)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        # value is an exact 2-decimal double; DECIMAL accumulation keeps the
        # hashed sum merge-order-independent (VERDICT r5 de-flake sweep)
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
             .cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event_type: rank-over-partition — the
    partitioned cousin of the O1 pagination window (shuffles once on the
    group key; no global sort). The rank<=k filter triggers Catalyst's
    WindowGroupLimit pushdown with a PARTIAL phase before the exchange,
    so the shuffle carries at most k rows per (input partition, group)
    — pinned in test_plans."""
    ev = load_table(spark, "events", sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "rk", "event_id", "value")
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day/1-day window aggregation via TUMBLING PRE-AGGREGATION:
    aggregate once per (1-day pane, event_type), then explode each pane
    into the two sliding windows it belongs to and merge. Spark's native
    ``window(ts, '2 days', '1 day')`` expands every EVENT into two rows
    before the shuffle — at 100 TB that doubles shuffle volume; panes make
    the expansion happen after the heavy aggregation, on pane-count rows.
    (The same pane trick applies under Structured Streaming.) Sums stay
    double-exact because each pane sum is rounded only after the final
    merge."""
    ev = load_table(spark, "events", sf_dir)
    panes = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"),
             F.sum(F.col("value").cast("decimal(12,2)")).alias("sv"))
        .select(F.col("w.start").alias("pane"), "event_type", "cnt", "sv")
    )
    two = panes.select(
        F.explode(F.array(F.col("pane"),
                          F.col("pane") - F.expr("INTERVAL 1 DAY")))
        .alias("window_start"),
        "event_type", "cnt", "sv",
    )
    return (
        two.groupBy("window_start", "event_type")
        .agg(F.sum("cnt").alias("cnt"),
             F.round(F.sum("sv"), 2).cast("double").alias("sum_value"))
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute inactivity gap) — Spark's
    ``session_window`` merges overlapping per-event windows; the oracle is
    the classic gaps-and-islands SQL. Works identically under streaming
    with a watermark."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
             .cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("session_start"), "user_id", "cnt", "sum_value")
    )


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: ``parse_json`` ingests the semi-structured
    props column ONCE into the binary variant encoding, then
    ``variant_get`` path-extracts with a typed cast — the open-format
    answer to schema-on-read JSON columns (vs ``get_json_object``'s
    per-call string re-parse; at 100 TB the variant column is parsed at
    ingest and every downstream extraction is a binary offset walk)."""
    ev = load_table(spark, "events", sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum("k").cast("long").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))
    )


TS_W = 16       # subsequence window length
TS_K = 20       # matches returned
TS_QUERY_USER = 7


def q_ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TIME-SERIES SUBSEQUENCE SIMILARITY SEARCH (the
    EDBT'19 streaming-similarity problem shape): a W-point query pattern
    (user 7's series head, derived identically on both engines) against
    every sliding window of every user's value series; top-K by
    Euclidean distance. Execution: per-user series assemble in ONE
    groupBy (sorted collect_list — series are per-key sized), windows
    posexplode WITHOUT materializing: each candidate is a slice() view
    costing W multiply-adds in a codegen zip_with fold; the broadcast
    query + TakeOrdered top-K means no global sort and no pair
    materialization. Ordering is total ((rounded dist, user, offset)) so
    the K rows are engine-identical — the self-match at distance 0
    deliberately stays as the sanity anchor. Scale path beyond
    brute-force windows: PAA/SAX bucketing as a pre-filter, same shape
    as the LSH families."""
    ev = load_table(spark, "events", sf_dir)
    series = (ev.groupBy("user_id")
              .agg(F.transform(F.sort_array(F.collect_list(F.struct(
                  F.col("ts").alias("t"), F.col("event_id").alias("e"),
                  F.col("value").alias("v")))), lambda x: x["v"])
                  .alias("s")))
    # query vector as an in-plan 1-row broadcast (r10: the former
    # .collect() fired two eager jobs at build time on every call; the
    # crossJoin ships the same TS_W doubles, and ReuseExchange shares
    # the series groupBy between the two branches)
    qdf = (series.filter(F.col("user_id") == TS_QUERY_USER)
           .select(F.slice("s", 1, TS_W).alias("_q")))
    win = (series.select(
        "user_id", "s",
        F.posexplode(F.sequence(F.lit(0), F.size("s") - TS_W)))
        .withColumnRenamed("pos", "off")
        .select("user_id", "off",
                F.slice("s", F.col("off") + 1, TS_W).alias("w"))
        .crossJoin(F.broadcast(qdf)))
    dist = F.aggregate(
        F.zip_with("w", F.col("_q"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    return (win.select("user_id", "off", F.round(dist, 6).alias("dist"))
            .orderBy("dist", "user_id", "off").limit(TS_K))


ORACLE_TS_SIMILARITY = f"""
    WITH series AS (
      SELECT user_id,
             list_transform(list(struct_pack(t := ts, e := event_id,
                                             v := value)
                                 ORDER BY ts, event_id), x -> x.v) AS s
      FROM events GROUP BY user_id
    ),
    q AS (SELECT s[1:{TS_W}] AS q FROM series
          WHERE user_id = {TS_QUERY_USER}),
    wins AS (
      SELECT user_id, unnest(range(len(s) - {TS_W} + 1)) AS off, s
      FROM series
    ),
    d AS (
      SELECT w.user_id, w.off,
             round(list_aggregate(list_transform(range({TS_W}),
                   i -> (w.s[w.off + i + 1] - q.q[i + 1])
                        * (w.s[w.off + i + 1] - q.q[i + 1])),
                   'sum'), 6) AS dist
      FROM wins w, q
    )
    SELECT user_id, CAST(off AS BIGINT) AS off, dist FROM d
    ORDER BY dist, user_id, off LIMIT {TS_K}
"""


def q_map_fn_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type conformance — the one SQL type family arrays/variant rows
    don't cover: per returnflag a linestatus→count map is built with
    ``map_from_entries`` over SORTED entries (map iteration order is the
    classic engine divergence; sorting the entry list first makes key
    order deterministic on both), then scalar lookups (``element_at`` /
    DuckDB's ``m[k][1]`` list-unwrap), ``map_keys``, cardinality, and a
    fold over ``map_values`` must agree value-for-value."""
    li = load_table(spark, "lineitem", sf_dir)
    per = (li.groupBy("l_returnflag", "l_linestatus")
           .agg(F.count(F.lit(1)).alias("cnt")))
    m = F.map_from_entries(F.sort_array(F.collect_list(
        F.struct(F.col("l_linestatus").alias("k"),
                 F.col("cnt").alias("v")))))
    agg = per.groupBy("l_returnflag").agg(m.alias("m"))
    return agg.select(
        "l_returnflag",
        F.array_join(F.map_keys("m"), ",").alias("keys_csv"),
        F.size(F.map_keys("m")).cast("long").alias("n_keys"),
        F.coalesce(F.element_at("m", F.lit("F")), F.lit(0))
        .cast("long").alias("cnt_f"),
        F.coalesce(F.element_at("m", F.lit("O")), F.lit(0))
        .cast("long").alias("cnt_o"),
        F.aggregate(F.map_values("m"), F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("sum_values"))


ORACLE_MAP_FN_CONFORMANCE = """
    SELECT l_returnflag,
           array_to_string(map_keys(m), ',') AS keys_csv,
           CAST(cardinality(m) AS BIGINT) AS n_keys,
           CAST(coalesce(m['F'][1], 0) AS BIGINT) AS cnt_f,
           CAST(coalesce(m['O'][1], 0) AS BIGINT) AS cnt_o,
           CAST(list_aggregate(map_values(m), 'sum') AS BIGINT)
               AS sum_values
    FROM (
        SELECT l_returnflag,
               map_from_entries(list_sort(list(
                   {'k': l_linestatus, 'v': cnt}))) AS m
        FROM (SELECT l_returnflag, l_linestatus, count(*) AS cnt
              FROM lineitem GROUP BY l_returnflag, l_linestatus)
        GROUP BY l_returnflag
    )
"""


def q_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF forward fill (last observation carried forward) — the classic
    sensor/time-series gap repair: readings exist only on every third
    event (synthesized deterministically from event_id); the window
    carries the latest non-null reading forward per user. One exchange on
    user_id; ``last(ignorenulls=True)`` stays inside the JVM window
    operator — this is the Spark idiom that replaces per-key imperative
    fill loops. Leading gaps (before any reading) fill 0.0."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    reading = F.when(F.col("event_id") % 3 == 0, F.col("value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.coalesce(F.last(reading, ignorenulls=True).over(w),
                           F.lit(0.0)), 2).alias("filled"),
        (F.col("event_id") % 3 != 0).cast("int").alias("was_gap"),
    )


def q_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR interpolation gap fill — LOCF's higher-order sibling: a
    missing reading is reconstructed on the line between the previous
    and next known readings, weighted by event-time distance
    (pv + (nv−pv)·(t−pt)/(nt−pt)). Gaps are synthesized
    deterministically (readings survive on every fifth event_id); four
    ignorenulls window edges (prev/next value and timestamp) ride ONE
    exchange on user_id — no self-join, no per-key loop. Leading gaps
    backfill from the next reading, trailing gaps carry the last one
    (the interpolation identity needs both ends). Timestamp arithmetic
    is integer epoch-micros on both engines (unix_micros / epoch_us),
    the division is the only float step, and each filled value rounds
    to 6 dp before the per-type census so the engines agree
    bit-for-bit."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.when(F.col("event_id") % 5 == 0, F.col("value")).alias("v"))
    w = Window.partitionBy("user_id").orderBy("tus")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    nxt = w.rowsBetween(1, Window.unboundedFollowing)
    pv = F.last("v", ignorenulls=True).over(prev)
    pt = F.last(F.when(F.col("v").isNotNull(), F.col("tus")),
                ignorenulls=True).over(prev)
    nv = F.first("v", ignorenulls=True).over(nxt)
    nt = F.first(F.when(F.col("v").isNotNull(), F.col("tus")),
                 ignorenulls=True).over(nxt)
    interp = pv + (nv - pv) * ((F.col("tus") - pt).cast("double")
                               / (nt - pt).cast("double"))
    filled = F.coalesce(
        F.col("v"),
        F.when(pv.isNotNull() & nv.isNotNull(), interp),
        pv, nv)
    return (e.withColumn("filled", F.round(filled, 6))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.when(F.col("v").isNull()
                              & F.col("filled").isNotNull(), 1)
                       .otherwise(0)).alias("n_filled"),
                 # filled is round(x, 6) — a decimal(18,6) per-row lift is
                 # lossless, making the hashed sum order-independent
                 F.round(F.sum(F.col("filled").cast("decimal(18,6)")), 2)
                 .cast("double").alias("sum_filled")))


ORACLE_LINEAR_INTERP = """
    WITH g AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus,
             CASE WHEN event_id % 5 = 0 THEN value END AS v
      FROM events),
    w AS (
      SELECT event_type, v, tus,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tus
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY tus
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tus
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY tus
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
      FROM g),
    f AS (
      SELECT event_type, v,
        round(coalesce(v,
          CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * CAST(tus - pt AS DOUBLE)
                                     / CAST(nt - pt AS DOUBLE) END,
          pv, nv), 6) AS filled
      FROM w)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v IS NULL AND filled IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(round(sum(CAST(filled AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS sum_filled
    FROM f GROUP BY event_type
"""


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns (explicit value list so
    the plan is a single aggregation, no distinct-values pre-pass)."""
    ev = load_table(spark, "events", sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.filter(F.col("user_id") < 50)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


DEBOUNCE_SECONDS = 30


def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: drop an event arriving within DEBOUNCE_SECONDS
    of the PREVIOUS KEPT event of the same (user, type)? — the exact form
    needs an iterative scan; the standard streaming-compatible relaxation
    (used here and by every telemetry pipeline) debounces against the
    previous RAW event via ``lag``, which keeps an event iff the raw gap
    is ≥ the threshold. One window exchange on (user_id, event_type);
    ties at the same timestamp break by event_id so both engines keep the
    same rows. Output is the per-type kept/dropped census."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # integer epoch-micros on both engines (unix_micros / epoch_us): no
    # float timestamp arithmetic anywhere near the comparison; the ntz ->
    # ltz cast is UTC (session.py pins the session timezone)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    # NULL handling mirrors the oracle's `gap IS NULL OR ...` exactly — a
    # lag(ts)-IS-NULL form would diverge on NULL-timestamp rows
    kept = gap.isNull() | (gap >= DEBOUNCE_SECONDS * 1_000_000)
    return (
        e.withColumn("kept", kept)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("events"),
             F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("kept"),
             F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("debounced"))
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP — time-weighted average of ``value`` per event type: each
    observation holds until the next one (step interpolation), so its
    weight is the gap to the successor (``lead``); the last observation
    carries no weight. The metrics/finance classic that a plain AVG gets
    wrong under irregular sampling. One window exchange on event_type;
    weights are integer epoch-second gaps and the weighted sum runs in
    DECIMAL, so both engines divide the same exact numbers (the tpch_q10
    lesson) and the rounded quotient cannot straddle."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.lead(us).over(w) - us  # weight in integer µs (unit cancels)
    g = e.withColumn("w", gap).filter(F.col("w").isNotNull())
    vw = (F.col("value").cast("decimal(18,4)")
          * F.col("w").cast("decimal(18,0)"))
    return (
        g.groupBy("event_type")
        .agg(F.round((F.sum(vw).cast("double")
                      / F.sum("w").cast("double")), 4).alias("twap"),
             F.sum("w").alias("total_weight_us"),
             F.count(F.lit(1)).alias("weighted_obs"))
    )


def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a running window: for every purchase, the
    user's most recent signup at-or-before it (one shuffle on user_id; the
    classic as-of backward join without any range-join machinery)."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    last_signup = F.last(
        F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_signup_ts", last_signup)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_signup_ts",
            (F.col("ts").cast("timestamp").cast("double")
             - F.col("last_signup_ts").cast("timestamp").cast("double"))
            .cast("long").alias("gap_seconds"),
        )
    )


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (the other merge_asof direction): for every
    purchase, the user's first error event at-or-after it — the
    "did the purchase precede a failure" probe. Same one-exchange window
    form as the backward join, with first(ignorenulls) over the
    following frame; NULL next_error marks purchases with no later
    error (kept: the asymmetry is the point)."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    next_error = F.first(
        F.when(F.col("event_type") == "error", F.col("ts")),
        ignorenulls=True).over(w)
    return (
        ev.withColumn("next_error_ts", next_error)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id",
            F.col("ts").alias("purchase_ts"),
            "next_error_ts",
            (F.col("next_error_ts").cast("timestamp").cast("double")
             - F.col("ts").cast("timestamp").cast("double"))
            .cast("long").alias("gap_seconds"),
        )
    )


def q_asof_native_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-RELATION left as-of join, verified against DuckDB's NATIVE
    ``ASOF LEFT JOIN`` (the single-stream when()-window trick of
    q_asof_last_signup only works when both streams live in one table).
    General composition: tag each side, union, one window over
    (user_id, ts) with signups ordered BEFORE purchases at equal ts —
    DuckDB's ``p.ts >= s.ts`` is inclusive, so a same-instant signup
    must be visible — and ``last(ignorenulls)`` carries the latest
    signup struct forward. Right side deduped to one row per
    (user_id, ts) first (as-of is ill-defined under timestamp ties).

    Scale: one shuffle on user_id for the window plus the dedup's
    (user_id, ts) exchange; no range-join machinery, no row explosion —
    the same one-pass shape Flink's temporal join and Pandas merge_asof
    use. Unmatched purchases keep NULL signup columns (LEFT semantics).
    """
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts", F.lit(1).alias("is_p"), "event_id",
                 F.lit(None).cast("long").alias("signup_id")))
    s = (ev.filter(F.col("event_type") == "signup")
         .groupBy("user_id", "ts")
         .agg(F.max("event_id").alias("signup_id"))
         .select("user_id", "ts", F.lit(0).alias("is_p"),
                 F.lit(None).cast("long").alias("event_id"), "signup_id"))
    w = (Window.partitionBy("user_id").orderBy("ts", "is_p")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    last_signup = F.last(
        F.when(F.col("is_p") == 0,
               F.struct(F.col("ts").alias("sts"),
                        F.col("signup_id").alias("sid"))),
        ignorenulls=True).over(w)
    return (
        p.unionByName(s)
        .withColumn("ls", last_signup)
        .filter(F.col("is_p") == 1)
        .select(
            "event_id", "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("ls.sts").alias("signup_ts"),
            F.col("ls.sid").alias("signup_id"),
            (F.col("ts").cast("timestamp").cast("double")
             - F.col("ls.sts").cast("timestamp").cast("double"))
            .cast("long").alias("gap_seconds"),
        )
    )


def q_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — Spark's window aggregates
    reject DISTINCT outright, so the idiomatic composition is
    ``size(collect_set(x) OVER w)``; DuckDB runs the real
    ``count(DISTINCT ...) OVER w`` as the oracle, proving the
    composition exact (including the expanding-frame semantics).

    Scale: one shuffle on user_id; collect_set state is bounded by the
    DISTINCT cardinality of the tracked column (5 event types here), NOT
    the frame length — the composition is safe whenever the distinct
    domain is small, which is exactly when you'd want the statistic."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "event_id", "user_id",
        F.size(F.collect_set("event_type").over(w)).alias("distinct_types"),
        F.count(F.lit(1)).over(w).alias("events_so_far"),
    )


def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLEX-EVENT-PROCESSING pattern match (the MATCH_RECOGNIZE /
    Flink CEP stand-in — neither Spark nor DuckDB parses
    MATCH_RECOGNIZE): each user's event history becomes an ORDERED
    single-letter string (v=view, c=click, p=purchase, s=signup,
    e=error; ``array_sort`` over (ts, event_id, type) structs pins the
    order), and sequence patterns run as string/regex scans over it —
    `vp` adjacency counts via length arithmetic, view→purchase
    conversions with any clicks/signups/errors between as a
    non-overlapping regex count. The full sequence string is part of the
    verified key, so the oracle certifies the ORDERED aggregation
    itself, not just the counts.

    Scale: one exchange on user_id; per-key state is the key's own
    event count (the same bound any per-entity CEP engine carries), and
    the regex scan is linear in it. A 100 TB run would bound sequence
    length per key (slice the sorted array) exactly like the PMI cap."""
    ev = load_table(spark, "events", sf_dir)
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct("ts", "event_id", "event_type"))),
            lambda x: F.substring(x["event_type"], 1, 1)), "")
    return (
        ev.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id", "seq",
            F.length("seq").alias("seq_len"),
            ((F.length("seq")
              - F.length(F.replace(F.col("seq"), F.lit("vp"), F.lit(""))))
             / 2).cast("int").alias("direct_vp"),
            F.regexp_count("seq", F.lit("v[cse]*p")).alias("conversions"),
        )
    )


def asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COGROUPED-MAP form of the backward as-of join —
    ``groupBy().cogroup(...).applyInPandas``: purchases and signups
    arrive as two per-user pandas frames in one Arrow exchange and
    ``pd.merge_asof`` joins them imperatively. Semantically identical to
    q_asof_last_signup's window form (pinned in tests against that
    oracle-checked query); exists because cogrouped-map is the right
    escape hatch when the per-key logic ISN'T expressible as a window —
    bidirectional nearest, tolerance bands, per-key model scoring — and
    this pairing documents the API against a verifiable baseline.
    Scale shape: one co-partitioned exchange on user_id; each task sees
    only its keys' two frames."""
    import pandas as pd

    ev = load_table(spark, "events", sf_dir)
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id",
                         F.col("ts").cast("timestamp").alias("ts")))
    signups = (ev.filter(F.col("event_type") == "signup")
               .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                       "event_id"))

    def join_asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values(["ts", "event_id"])
        sign = (right[["ts"]].rename(columns={"ts": "signup_ts"})
                .sort_values("signup_ts"))
        out = pd.merge_asof(left, sign, left_on="ts", right_on="signup_ts",
                            direction="backward")
        return pd.DataFrame({
            "event_id": out["event_id"],
            "user_id": out["user_id"],
            "purchase_ts": out["ts"],
            "last_signup_ts": out["signup_ts"],
        })

    return (purchases.groupBy("user_id")
            .cogroup(signups.groupBy("user_id"))
            .applyInPandas(
                lambda left, right: join_asof(left, right),
                "event_id long, user_id long, purchase_ts timestamp, "
                "last_signup_ts timestamp"))


ORACLE_ASOF_FORWARD = """
    SELECT event_id, user_id, ts AS purchase_ts, next_error_ts,
           CAST(floor(epoch(next_error_ts) - epoch(ts)) AS BIGINT)
               AS gap_seconds
    FROM (
        SELECT *, first_value(CASE WHEN event_type = 'error' THEN ts END
                              IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_error_ts
        FROM events
    ) WHERE event_type = 'purchase'
"""


def q_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range self-join: pairs of events by the same user within 10
    minutes. The time-bucket band turns an O(n²) theta join into an
    equi-join on (user, bucket) with the true range predicate applied after
    — each event probes its own and the neighbouring bucket."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "ts",
        F.floor(F.col("ts").cast("timestamp").cast("double") / 600).alias("bucket"),
    )
    b = ev.select(
        F.col("event_id").alias("event_b"), F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"), F.col("bucket").alias("bucket_b"),
    )
    # probe own bucket and the next: covers every pair within 600s once
    probes = ev.withColumn("probe", F.explode(F.array(F.col("bucket"),
                                                      F.col("bucket") + 1)))
    return (
        probes.join(b, (probes.user_id == b.user_b) & (probes.probe == b.bucket_b))
        .filter(
            (F.col("event_id") < F.col("event_b"))
            & (F.col("ts_b") >= F.col("ts"))
            & (F.col("ts_b").cast("timestamp").cast("double")
               - F.col("ts").cast("timestamp").cast("double") <= 600)
        )
        .select("user_id", "event_id", "event_b",
                (F.col("ts_b").cast("timestamp").cast("double")
                 - F.col("ts").cast("timestamp").cast("double"))
                .cast("long").alias("gap_seconds"))
    )


GAPFILL_DAY = "2024-01-05"
GAPFILL_NEXT_DAY = "2024-01-06"  # exclusive upper bound — keeps all of hour 23


def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample: the full (event_type × hour) grid for
    one day, zero-filled where no events landed — the time-series shape a
    plain groupBy can't produce (empty buckets simply don't exist in the
    input). The grid is GENERATED (``sequence`` + explode over 24 hour
    marks crossed with the distinct-type dimension), never scanned, and
    broadcasts into the aggregated side — so at 100 TB the cost is the
    one filtered scan + hourly rollup; the join adds nothing. Dashboards,
    rate alerting, and ML feature frames all need the dense grid."""
    ev = load_table(spark, "events", sf_dir)
    day_start = F.lit(GAPFILL_DAY).cast("timestamp_ntz")
    day_end = F.lit(f"{GAPFILL_DAY} 23:00:00").cast("timestamp_ntz")
    hours = spark.range(1).select(
        F.explode(F.sequence(day_start, day_end, F.expr("interval 1 hour")))
        .alias("hour"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(hours)  # |types| × 24 rows — generated, tiny
    hourly = (
        ev.filter((F.col("ts") >= day_start)
                  & (F.col("ts") < F.lit(GAPFILL_NEXT_DAY).cast("timestamp_ntz")))
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
             .cast("double").alias("sum_value"))
    )
    # grid LEFT JOIN broadcast(hourly): for LeftOuter the build side must be
    # the non-preserved (right) side, so broadcasting the aggregated hourly
    # relation is the only hint Spark can honor — and it's the right one,
    # both sides being <= |types|*24 rows post-aggregation
    return (
        grid.join(F.broadcast(hourly), ["event_type", "hour"], "left")
        .select("event_type", "hour",
                F.coalesce("cnt", F.lit(0)).alias("cnt"),
                F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"))
    )


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view → click → purchase): each step's
    timestamp is the user's FIRST qualifying event strictly after the
    previous step — the classic product-analytics operator. Three chained
    windowed mins over ONE user-partitioned exchange (each step's filter
    references the previous step's column, so they chain as selects but
    share the partitioning); the per-user step times then collapse to one
    funnel row. At 100 TB the events table is user-bucketed, making the
    window pass shuffle-free."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")

    def first_after(ev: str, after_col: str | None):
        cond = F.col("event_type") == ev
        if after_col is not None:
            cond = cond & (F.col("ts") > F.col(after_col))
        return F.min(F.when(cond, F.col("ts"))).over(w)

    staged = (
        e.withColumn("t1", first_after("view", None))
        .withColumn("t2", first_after("click", "t1"))
        .withColumn("t3", first_after("purchase", "t2"))
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"),
        F.min("t3").alias("t3"))
    return per_user.agg(
        F.count("t1").alias("step_view"),
        F.count("t2").alias("step_click"),
        F.count("t3").alias("step_purchase"),
        F.round(F.count("t3") * 100.0 / F.count("t1"), 4)
        .alias("conversion_pct"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by the week of their first event,
    distinct active users per (cohort week, weeks-since-cohort) offset —
    the triangle every growth dashboard draws. One user-partitioned
    window for the cohort date, then a single rollup; countDistinct
    partial-aggregates map-side."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")
    staged = e.withColumn("cohort", F.to_date(F.min("ts").over(w)))
    return (
        staged.select(
            F.date_format(F.date_trunc("week", "cohort"), "yyyy-MM-dd")
            .alias("cohort_week"),
            F.floor(F.datediff(F.to_date("ts"), F.col("cohort")) / 7)
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (Markov-chain estimation):
    lead() over each user's time-ordered events pairs every event with
    its successor; the rollup counts transitions and each row carries its
    per-source-state probability — a second windowed sum over the
    already-aggregated matrix rows, not the event stream. One exchange on
    user_id for the sequencing, one on the (from, to) pair for the count."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"),
                 F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("transitions"))
    )
    total_w = Window.partitionBy("from_type")
    return pairs.select(
        "from_type", "to_type", "transitions",
        F.round(F.col("transitions")
                / F.sum("transitions").over(total_w), 6).alias("prob"),
    )


def q_array_fn_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function conformance over the words column —
    sort_array / reverse+slice / indexed transform / aggregate fold /
    filter / array_distinct / flatten, each verified value-for-value
    against DuckDB's list vocabulary (list_sort, list_reverse +
    list_slice, range comprehension, list_reduce, list_filter,
    list_distinct, flatten). Pure projection over a pushed key slice;
    every lambda stays in codegen."""
    d = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    w = F.split(F.lower("text"), " ")
    return d.select(
        "doc_id",
        F.concat_ws("|", F.sort_array(F.slice(w, 1, 5))).alias("sorted5"),
        F.concat_ws("|", F.reverse(F.slice(w, 1, 3))).alias("rev3"),
        F.concat_ws("|", F.expr(
            "transform(slice(split(lower(text), ' '), 1, 3), "
            "(x, i) -> concat(x, '#', i))")).alias("zipidx"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.aggregate(w, F.lit(0).cast("long"),
                    lambda acc, x: acc + F.length(x)).alias("total_chars"),
        F.size(F.filter(w, lambda x: F.length(x) > 4)).alias("n_long"),
        F.size(F.flatten(F.array(F.slice(w, 1, 2), F.slice(w, 3, 2))))
        .alias("flat_len"),
    )


CONCURRENCY_WINDOW_MIN = 5  # each event occupies [ts, ts + 5 minutes)


def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval aggregation: treating each event as a
    5-minute session, the maximum number of simultaneously-open sessions
    per event type — the classic 'peak concurrency' query. Each interval
    unpivots to a +1 start and a -1 end marker; a running sum over
    (time, delta) per type is the open-session count, and its max is the
    peak. Ordering ties as (time, delta) closes sessions BEFORE opening
    new ones at the same instant — deterministic and engine-identical.
    One exchange on event_type; the window never sees more than 2×|events
    of that type| marker rows."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    end_ts = F.col("ts") + F.expr(
        f"INTERVAL {CONCURRENCY_WINDOW_MIN} MINUTES")
    markers = (
        e.select("event_type", F.col("ts").alias("t"),
                 F.lit(1).alias("delta"))
        .unionAll(e.select("event_type", end_ts.alias("t"),
                           F.lit(-1).alias("delta")))
    )
    w = (Window.partitionBy("event_type").orderBy("t", "delta")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        markers.withColumn("open_now", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(F.max("open_now").alias("max_concurrent"),
             F.count(F.lit(1)).alias("markers"))
    )


RFM_BUCKETS = 5


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic event-analytics customer grading:
    per user, Recency (days since last purchase, against the corpus's own
    max purchase ts so the query is self-contained), Frequency (purchase
    count) and Monetary (spend, summed as DECIMAL(18,4) so the total is
    order-independent and engine-exact — the tpch_q10 lesson); each
    dimension scored into quintiles by ``ntile``, rolled up per
    (r, f, m) cell.

    Scale shape: the corpus-sized events relation aggregates FIRST (one
    shuffle with map-side partials); the three ntile windows then run over
    the USER-sized relation — a deliberate single-partition sort of an
    already-thousandfold-smaller table, the same bounded-global-sort call
    pagination makes. Ties order by user_id, so both engines bucket
    identically."""
    from pyspark.sql import Window

    ev = (load_table(spark, "events", sf_dir)
          .filter(F.col("event_type") == "purchase"))
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("monetary"))
    # the anchor (corpus-wide max purchase ts) = max(last_ts) over the
    # already-aggregated user relation — an unpartitioned window alongside
    # the ntile sorts below, NOT a second scan of the events table
    anchor = F.max("last_ts").over(Window.partitionBy())
    scored = per_user.withColumn(
        "recency_days", F.datediff(anchor, F.col("last_ts")))
    r = F.ntile(RFM_BUCKETS).over(
        Window.orderBy(F.col("recency_days").desc(), F.col("user_id")))
    f = F.ntile(RFM_BUCKETS).over(
        Window.orderBy(F.col("freq"), F.col("user_id")))
    m = F.ntile(RFM_BUCKETS).over(
        Window.orderBy(F.col("monetary"), F.col("user_id")))
    return (
        scored.select("user_id", "freq", "monetary",
                      r.alias("r"), f.alias("f"), m.alias("m"))
        .groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("users"),
             F.sum("freq").alias("purchases"),
             F.round(F.sum("monetary").cast("double"), 2).alias("monetary"))
    )


VALUE_SCALE = 10_000  # value → exact integer micro-units: floor(value·1e4)


def _value_int(col: str = "value"):
    """events.value as an exact integer: ``floor(value·1e4)``. The float
    multiply and floor are single-shot IEEE ops (bit-identical on both
    engines); everything downstream is integer/DECIMAL arithmetic, so the
    hashed statistics are merge-order-free (the de-flake discipline)."""
    return F.floor(F.col(col) * VALUE_SCALE)


def q_acf_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags 1..3 per event-type series — the
    time-series diagnostic behind seasonality / AR-order selection. Each
    observation pairs with its k-step successor via ``lead`` (one window
    exchange on the series key, shared by all three lags), the lags unpivot
    through ``stack`` so the series is sequenced once, and Pearson r comes
    from DECIMAL-exact sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²)
    with one single-shot double evaluation at the end. At 100 TB the
    partition key is the series id (here 5 event types — a local[32] demo;
    real telemetry has millions of series, which is exactly what the
    per-key window wants)."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # r11: per-row arithmetic stays in 64-bit ints — x ≤ ~5.6e6 micro-
    # units (events.value is domain-bounded, not corpus-sized), so the
    # lag products are ≤ ~3.2e13 and fit a long at any scale factor; the
    # former DECIMAL(19,0) per-row values forced heap-BigDecimal lead
    # buffers and multiplies on the full-scan path (the stats_agg/tpch_q1
    # finding). Sums still fold in DECIMAL (inputs cast long→(18,0),
    # buffers widen +10 digits — exact past 1e14 rows).
    d = e.select(
        "event_type", "ts", "event_id",
        _value_int().alias("x"),
    )
    d = d.select(
        "event_type", "x",
        F.lead("x", 1).over(w).alias("y1"),
        F.lead("x", 2).over(w).alias("y2"),
        F.lead("x", 3).over(w).alias("y3"),
    )
    pairs = d.selectExpr(
        "event_type", "x",
        "stack(3, 1, y1, 2, y2, 3, y3) AS (lag, y)",
    ).filter(F.col("y").isNotNull())

    def d18(e_):
        return e_.cast("decimal(18,0)")

    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d18(F.col("x"))).alias("sx"),
        F.sum(d18(F.col("y"))).alias("sy"),
        F.sum(d18(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(d18(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(d18(F.col("y") * F.col("y"))).alias("syy"),
    )
    nd = F.col("n").cast("double")

    def dbl(c: str):
        return F.col(c).cast("double")

    num = nd * dbl("sxy") - dbl("sx") * dbl("sy")
    den = F.sqrt((nd * dbl("sxx") - dbl("sx") * dbl("sx"))
                 * (nd * dbl("syy") - dbl("sy") * dbl("sy")))
    # zero-den guard: on a constant series Spark's Divide yields NULL but
    # DuckDB double division can yield Inf/NaN (ieee_floating_point_ops) —
    # pin NULL explicitly on both engines (oracle mirrors NULLIF(den, 0))
    return agg.select("event_type", "lag", "n",
                      F.when(den != F.lit(0.0), F.round(num / den, 6))
                      .alias("acf"))


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event-type series: the split point
    maximizing |n·prefix_t − t·total| — the scaled running deviation from
    a constant-mean fit (classic offline CUSUM statistic, kept in exact
    integer form so no float fold exists: the argmax is decided by DECIMAL
    comparisons). One window exchange sequences each series (row_number +
    running sum share the sort); the argmax is a second window over the
    same key. Per-series sequential scan is inherent to the statistic —
    scale comes from the number of series, not within one."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wall = Window.partitionBy("event_type")
    d = (
        e.select("event_type", "ts", "event_id",
                 _value_int().cast("decimal(19,0)").alias("x"))
        .withColumn("t", F.row_number().over(w))
        .withColumn("prefix", F.sum("x").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", F.sum("x").over(wall))
        .withColumn("n", F.count(F.lit(1)).over(wall))
    )
    # DECIMAL(38,0) multipliers — a narrower cast silently nulls on
    # overflow under non-ANSI Spark while the HUGEINT oracle stays exact
    s = (F.col("n").cast("decimal(38,0)") * F.col("prefix")
         - F.col("t").cast("decimal(38,0)") * F.col("total"))
    d = d.withColumn("s_abs", F.abs(s))
    pick = Window.partitionBy("event_type").orderBy(
        F.desc("s_abs"), F.asc("t"))
    return (
        d.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("t").alias("best_t"), "n",
                F.col("s_abs").cast("double").alias("max_abs_s"))
    )


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality index per event type: mean(hour bucket) /
    mean(overall), the profile a forecasting pipeline divides out before
    modeling the trend. One groupBy to (type, hour) — integer-exact count
    and Σfloor(value·1e4) — then the overall totals come from a window over
    the already-aggregated 5×24 relation (no second scan), and the index is
    one single-shot double division of exact integers."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    agg = (
        e.select("event_type", F.hour("ts").alias("hod"),
                 _value_int().alias("x"))
        .groupBy("event_type", "hod")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("x").alias("sum_x"))
    )
    wall = Window.partitionBy("event_type")
    idx = ((F.col("sum_x").cast("double")
            * F.sum("cnt").over(wall).cast("double"))
           / (F.col("cnt").cast("double")
              * F.sum("sum_x").over(wall).cast("double")))
    return agg.select("event_type", "hod", "cnt",
                      F.round(idx, 6).alias("seasonal_index"))


def q_anomaly_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-sigma anomaly census per event type with ZERO float math in
    the flag: (n·x − Σ)² > 9·(n·Σx² − Σ²) compares exact integers (Spark
    DECIMAL(38,0), oracle HUGEINT), so the anomaly set is bit-deterministic
    — no σ is ever materialized as a double. Two-pass shape that survives
    skew: the 3-row stats relation aggregates first and broadcast-joins
    back onto the fact scan (no whole-partition window over 5 fat keys)."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type", "event_id", _value_int().alias("x"))
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)")
              * F.col("x").cast("decimal(19,0)")).alias("sxx"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    # DECIMAL(38,0) intermediates: under non-ANSI Spark a narrower DECIMAL
    # would overflow to NULL silently (flag reads 'not anomalous') while
    # the HUGEINT oracle stays exact — |diff| < 1e19 keeps diff² inside
    # 38 digits at any realistic corpus
    diff = (F.col("n").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
            - F.col("sx").cast("decimal(38,0)"))
    lhs = diff * diff
    rhs = ((F.col("n") * 9).cast("decimal(38,0)") * F.col("sxx")
           - (F.col("sx").cast("decimal(38,0)") * 3)
           * (F.col("sx").cast("decimal(38,0)") * 3))
    flag = lhs > rhs
    return (
        j.select("event_type", "event_id", "n", flag.alias("flag"))
        .groupBy("event_type")
        .agg(F.max("n").alias("n"),
             F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("anomalies"),
             F.sum(F.when(F.col("flag"), F.col("event_id"))
                   .otherwise(0)).alias("anomaly_id_sum"))
    )


AB_Z_CRIT = 1.96   # two-sided 95% significance threshold
AB_CONV_MIN = 14   # 'converted' = at least this many purchases


def q_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — the two-proportion z-test an
    experimentation pipeline runs per metric: users assign to arms by
    ``user_id % 2`` (the deterministic hash-split every platform uses),
    conversion = the user logged at least AB_CONV_MIN purchases (the
    fixture is dense — every user buys once, so the interesting metric is
    heavy purchasing), and the z statistic
    for the rate difference under the pooled-variance null. All counts
    are exact integers from ONE user-level aggregate; the z / rates /
    lift are single-shot float expressions written identically on both
    engines, so the hashed values can't drift. Emits one row per arm
    carrying the shared test statistics (long-format friendly)."""
    e = load_table(spark, "events", sf_dir)
    per_user = (
        e.groupBy("user_id")
        .agg((F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)) >= AB_CONV_MIN)
             .cast("int").alias("converted"))
        .select((F.col("user_id") % 2).alias("arm"), "converted")
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("users"),
        F.sum("converted").alias("conversions"))
    # pivot the 2-row relation wide to compute the shared statistics once
    wide = arms.groupBy().pivot("arm", [0, 1]).agg(
        F.first("users").alias("n"), F.first("conversions").alias("c"))
    n0, c0 = F.col("0_n").cast("double"), F.col("0_c").cast("double")
    n1, c1 = F.col("1_n").cast("double"), F.col("1_c").cast("double")
    pooled = (c0 + c1) / (n0 + n1)
    z = ((c1 / n1 - c0 / n0)
         / F.sqrt(pooled * (1.0 - pooled) * (1.0 / n0 + 1.0 / n1)))
    stats = wide.select(
        F.round(z, 6).alias("z"),
        (F.abs(z) > AB_Z_CRIT).cast("int").alias("significant"),
        F.round((c1 / n1) / (c0 / n0), 6).alias("lift"),
    )
    return (
        arms.crossJoin(F.broadcast(stats))
        .select("arm", "users", "conversions",
                F.round(F.col("conversions").cast("double")
                        / F.col("users").cast("double"), 6)
                .alias("conv_rate"),
                "z", "significant", "lift")
    )


def q_window_value_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window VALUE-function conformance over a nullable series —
    first_value / last_value / nth_value(2) all with IGNORE NULLS, lag
    with a default, plus a COMPOSED moving median: Spark rejects
    ``median() OVER`` outright (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC),
    so the portable form is ``array_sort(collect_list())`` over the frame
    indexed at ceil(n/2) — the lower-middle DISCRETE median, exact on
    integer micro-units (DuckDB mirrors with list() OVER + list_sort).
    Every value is an exact integer; nulls are planted deterministically
    (event_id % 7). One exchange on user_id serves every function."""
    from pyspark.sql import Window

    e = (load_table(spark, "events", sf_dir)
         .filter(F.col("user_id") < 100)
         .select("user_id", "ts", "event_id",
                 F.when(F.col("event_id") % 7 != 0, _value_int())
                 .alias("v")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-4, Window.currentRow)
    mm_list = F.array_sort(F.collect_list("v").over(frame))
    mm_n = F.count("v").over(frame)
    return e.select(
        "user_id", "event_id",
        F.first("v", ignorenulls=True).over(frame).alias("fv"),
        F.last("v", ignorenulls=True).over(frame).alias("lv"),
        F.nth_value("v", 2, ignoreNulls=True).over(frame).alias("n2"),
        F.lag("v", 2, -1).over(w).alias("lg"),
        F.when(mm_n > 0, F.element_at(
            mm_list, F.floor((mm_n + 1) / 2).cast("int"))).alias("mm"),
        mm_n.alias("cnt"),
    )


def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics per event type — median / quartiles / IQR /
    MAD (median absolute deviation), the outlier-resistant siblings of
    the moment-based anomaly_census. Everything is an EXACT ORDER
    STATISTIC on integer micro-units: ``percentile_disc`` (ANSI —
    smallest value with cume_dist ≥ p) picks real data values, never an
    interpolated double, so all seven hashed numbers are exact integers
    on both engines (the column_histogram discipline, per group). Two
    bounded passes: quartiles in one sorted aggregate buffer (array of
    fractions — one sort serves all three), then MAD re-scans against
    the 5-row broadcast medians. At 100 TB pass 1 swaps to
    percentile_approx; MAD keeps the same broadcast-join shape."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type", _value_int().alias("x"))
    st = (
        e.groupBy("event_type")
        .agg(F.expr("percentile_disc(array(0.25, 0.5, 0.75)) "
                    "WITHIN GROUP (ORDER BY x)").alias("qs"))
        .select("event_type",
                F.element_at("qs", 1).alias("q1"),
                F.element_at("qs", 2).alias("med"),
                F.element_at("qs", 3).alias("q3"))
    )
    ad = (
        e.join(F.broadcast(st.select("event_type", "med")), "event_type")
        .select("event_type", F.abs(F.col("x") - F.col("med")).alias("ad"))
    )
    madt = ad.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)")
        .alias("mad"))
    return (st.join(madt, "event_type")
            .select("event_type", "n", "med", "q1", "q3",
                    (F.col("q3") - F.col("q1")).alias("iqr"), "mad"))


EWMA_A = 0.2   # smoothing weight α — the SAME literal lands in both
EWMA_B = 0.8   # engines' expressions, so every fold step is the identical
#                pair of IEEE ops (no 1-α re-derivation on either side)


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user series — the
    inherently SEQUENTIAL per-key recursion (s_t = α·x_t + (1−α)·s_{t−1})
    that no window frame expresses: window sums can't reweight history
    multiplicatively, so this is the canonical applyInPandas stateful
    fold. Each series arrives as one Arrow batch, the fold runs in plain
    float64 with the exact literal coefficients, and only the final
    smoothed level + series length come back (grouped-map output is
    per-key, not per-row). Cross-engine verification runs the SAME
    recursion as a DuckDB WITH RECURSIVE walk joining rn → rn+1 —
    identical IEEE ops in identical order, so the doubles agree bit for
    bit before the final rounding. Scale = number of series; each series
    folds sequentially by nature (the Kalman/EWMA family), and state is
    one scalar per key.

    r10 optimization (guide §4.2): the former per-key
    groupBy().applyInPandas paid pandas' per-GROUP machinery (a sorted
    sub-frame + a 1-row result frame per key — ~2 ms × 1,500 users ≈ 3 s
    at sf0.1, linear in key count at every scale). The fold now streams
    over hash-partitioned, partition-sorted Arrow batches (repartition +
    sortWithinPartitions = the same single exchange the grouped map
    paid) with a plain per-row loop and cross-batch carry — the
    identical multiply-add sequence per user, so the doubles are
    bit-identical; the hash gate proves it."""
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "value")
    a_co, b_co = EWMA_A, EWMA_B

    def fold_stream(batches):
        import pandas as pd

        # INVARIANT (r10 advice): events.user_id is non-null (generator
        # guarantees it; verified 0 nulls at every SF). The raw `u != cur`
        # group-boundary compare below relies on it — a NULL key would
        # surface as NaN (NaN != NaN splits every null row into its own
        # group) and then fail the int64 output construction, where the
        # former groupBy().applyInPandas folded all nulls as ONE group.
        users, ns, ewmas = [], [], []
        cur, n, s = None, 0, None
        for pdf in batches:
            u_arr = pdf["user_id"].to_numpy()
            v_arr = pdf["value"].to_numpy()
            for k in range(len(u_arr)):
                u = u_arr[k]
                if u != cur:
                    if cur is not None:
                        users.append(cur)
                        ns.append(n)
                        ewmas.append(s)
                    cur, n, s = u, 0, None
                x = float(v_arr[k])
                s = x if s is None else a_co * x + b_co * s
                n += 1
        if cur is not None:
            users.append(cur)
            ns.append(n)
            ewmas.append(s)
        yield pd.DataFrame({
            "user_id": pd.Series(users, dtype="int64"),
            "n": pd.Series(ns, dtype="int64"),
            "ewma": pd.Series(ewmas, dtype="float64")})

    out = (e.repartition("user_id")
           .sortWithinPartitions("user_id", "ts", "event_id")
           .mapInPandas(fold_stream,
                        "user_id bigint, n bigint, ewma double"))
    return out.select("user_id", "n", F.round("ewma", 6).alias("ewma"))


HW_A, HW_B = 0.3, 0.7   # level smoothing α / 1−α — literal on both engines
HW_G, HW_D = 0.1, 0.9   # trend smoothing γ / 1−γ


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + linear trend) per user
    series — the trend-aware big sibling of ewma_smooth and the same
    canonical applyInPandas stateful fold: level_t = α·x_t +
    (1−α)·(level+trend), trend_t = γ·(level_t − level_{t−1}) + (1−γ)·trend.
    Init: level = x₁, trend = 0. The DuckDB oracle replays the identical
    recursion as a WITH RECURSIVE walk with the same literal coefficients
    and expression shapes, so the doubles agree bit for bit before the
    final rounding; the one-step forecast rounds the unrounded level+trend
    on both engines. Scale = number of series, state = two scalars/key.

    r10 optimization: same partition-streamed fold as ewma_smooth
    (guide §4.2) — one exchange, one Arrow pass, no per-group pandas
    frames; the per-user multiply-add sequence is unchanged, so the
    doubles stay bit-identical."""
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "value")
    ha, hb, hg, hd = HW_A, HW_B, HW_G, HW_D

    def fold_stream(batches):
        import pandas as pd

        # INVARIANT: events.user_id is non-null — see the ewma fold's
        # note; the raw `u != cur` boundary compare depends on it.
        users, ns, lvls, trs = [], [], [], []
        cur, n, lvl, tr = None, 0, 0.0, 0.0
        for pdf in batches:
            u_arr = pdf["user_id"].to_numpy()
            v_arr = pdf["value"].to_numpy()
            for k in range(len(u_arr)):
                u = u_arr[k]
                x = float(v_arr[k])
                if u != cur:
                    if cur is not None:
                        users.append(cur)
                        ns.append(n)
                        lvls.append(lvl)
                        trs.append(tr)
                    cur, n, lvl, tr = u, 1, x, 0.0
                else:
                    prev = lvl
                    lvl = ha * x + hb * (lvl + tr)
                    tr = hg * (lvl - prev) + hd * tr
                    n += 1
        if cur is not None:
            users.append(cur)
            ns.append(n)
            lvls.append(lvl)
            trs.append(tr)
        yield pd.DataFrame({
            "user_id": pd.Series(users, dtype="int64"),
            "n": pd.Series(ns, dtype="int64"),
            "level": pd.Series(lvls, dtype="float64"),
            "trend": pd.Series(trs, dtype="float64"),
            "fcst": pd.Series([lv + t for lv, t in zip(lvls, trs)],
                              dtype="float64")})

    out = (e.repartition("user_id")
           .sortWithinPartitions("user_id", "ts", "event_id")
           .mapInPandas(fold_stream,
                        "user_id bigint, n bigint, level double, "
                        "trend double, fcst double"))
    return out.select("user_id", "n",
                      F.round("level", 6).alias("level"),
                      F.round("trend", 6).alias("trend"),
                      F.round("fcst", 6).alias("fcst"))


INTERVAL_HOLD_S = 300  # each event opens a 5-minute activity interval
MK_USER_CAP = 12       # Mann-Kendall bounded-series user slice


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coverage: each event opens a fixed
    [ts, ts+300s) activity interval; overlapping intervals per user merge
    into islands and we report the island count plus total covered seconds.
    The classic SQL shape — a cumulative MAX(end) window *partitioned by
    user* (one hash exchange, no global sort) marks island starts, a
    running SUM numbers them, and two keyed groupBys fold island extents.
    Everything is integer epoch-seconds, so the hash is merge-order-free
    by construction. At 100 TB the per-user partitions are the unit of
    parallelism; skewed mega-users would be range-split by day first."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 60)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", "event_id", s.alias("s"),
                 (s + INTERVAL_HOLD_S).alias("e"))
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0))
    d = d.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    isl = d.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("cov"))
    return (isl.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_islands"),
                 F.sum("cov").alias("covered_s"))
            .select("user_id", "n_islands",
                    F.col("covered_s").cast("long").alias("covered_s")))


SEQ_TYPES = "cepsv"   # event-type initials (click/error/purchase/signup/view)
SEQ_MINSUP = 5        # minimum supporting users per pattern
SEQ_CAP = 12          # journey prefix window (the "early journey" scope;
#                       also the documented coverage bound)


def q_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support census (the GSP / PrefixSpan L2+L3
    step): for every ordered event-type pattern of length 2 and 3, how
    many users' journeys contain it as a SUBSEQUENCE — the sequence-
    mining sibling of frequent_itemsets (which ignores order). Journeys
    collapse to one capped initials string per user (sorted struct
    collect on ONE user-keyed exchange — the event_pattern_match
    machinery; SEQ_CAP is the stated coverage bound, logged by
    construction); the 150 candidate patterns are a LITERAL relation
    whose crossJoin is a constant 150× fan-out of the USER-sized journey
    table (the spatial 9×-replication discipline, never corpus²);
    subsequence tests compile to a regexp per row ('v.*c.*p'), identical
    RE semantics in both engines for this .*-chain fragment. Exact
    integer supports, one groupBy on the pattern key."""
    import itertools

    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", s.alias("s"), "event_id",
                 F.substring("event_type", 1, 1).alias("i"))
    j = (d.groupBy("user_id")
         .agg(F.array_join(
             F.transform(
                 F.slice(F.array_sort(F.collect_list(
                     F.struct("s", "event_id", "i"))), 1, SEQ_CAP),
                 lambda x: x["i"]), "").alias("journey")))
    pats = [("".join(p), ".*".join(p)) for n in (2, 3)
            for p in itertools.product(SEQ_TYPES, repeat=n)]
    # r11: literal VALUES relation, not a pickled-row RDD — the former
    # createDataFrame paid a Python-worker round-trip per execution
    pdf = local_rows(spark, pats, "pattern string, re string")
    hit = (j.crossJoin(F.broadcast(pdf))
           .filter(F.expr("journey RLIKE re")))
    return (hit.groupBy("pattern")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .filter(F.col("support") >= SEQ_MINSUP)
            .select("pattern", "support",
                    F.length("pattern").cast("long").alias("plen")))


def _sequence_support_oracle() -> str:
    import itertools

    pats = ["".join(p) for n in (2, 3)
            for p in itertools.product(SEQ_TYPES, repeat=n)]
    pat_rows = ", ".join(f"('{p}', '{'.*'.join(p)}')" for p in pats)
    return f"""
    WITH j AS (
        SELECT user_id,
               substring(string_agg(substring(event_type, 1, 1), ''
                             ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                      event_id),
                         1, {SEQ_CAP}) AS journey
        FROM events GROUP BY user_id
    ),
    pats(pattern, re) AS (VALUES {pat_rows})
    SELECT pattern, CAST(count(*) AS BIGINT) AS support,
           CAST(length(pattern) AS BIGINT) AS plen
    FROM j CROSS JOIN pats
    WHERE regexp_matches(journey, re)
    GROUP BY pattern
    HAVING count(*) >= {SEQ_MINSUP}
"""


ALIGN_A, ALIGN_B = "click", "view"  # the aligned stream pair


def q_interval_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval INTERSECTION join between two event streams' activity
    islands — per user, how many seconds were CLICK activity and VIEW
    activity simultaneously open (plus each stream's own coverage and
    the temporal Jaccard overlap/(a+b−overlap)): the temporal set
    algebra behind co-activity and engagement-quality metrics, and the
    operator family (interval intersection) that naive engines express
    as a range self-join. Here it is a SWEEP LINE entirely in user-keyed
    windows: each stream's merged islands (the interval_coverage
    gaps-and-islands shape) emit ±1 open/close markers, the merged
    marker stream per user carries running active-counts for BOTH
    streams, and each inter-marker segment adds its width to the overlap
    when both counters were positive on its left edge. Exact integer
    epoch-seconds end to end; every window keys on user_id. Zero joins —
    the two streams meet in a unionByName."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin(ALIGN_A, ALIGN_B))
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", "event_id", "event_type", s.alias("s"),
                 (s + INTERVAL_HOLD_S).alias("e"))
    w = Window.partitionBy("user_id", "event_type").orderBy("s", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    d = (d.withColumn("new_island",
                      F.when(prev_max.isNull() | (F.col("s") > prev_max),
                             1).otherwise(0))
         .withColumn("island", F.sum("new_island").over(
             w.rowsBetween(Window.unboundedPreceding, 0))))
    isl = d.groupBy("user_id", "event_type", "island").agg(
        F.min("s").alias("lo"), F.max("e").alias("hi"))
    # r11: ±1 markers explode from ONE pass over the islands — the former
    # self-unionByName referenced the isl subtree twice and Spark executed
    # the events scan + island window + groupBy once PER BRANCH (common
    # subtrees are not deduped); same rows, one execution
    marks = (isl.select(
        "user_id", "event_type",
        F.explode(F.array(
            F.struct(F.col("lo").alias("t"), F.lit(1).alias("dd")),
            F.struct(F.col("hi").alias("t"), F.lit(-1).alias("dd"))))
        .alias("m"))
        .select("user_id", "event_type", F.col("m.t").alias("t"),
                F.col("m.dd").alias("dd")))
    da = F.when(F.col("event_type") == ALIGN_A, F.col("dd")).otherwise(0)
    db = F.when(F.col("event_type") == ALIGN_B, F.col("dd")).otherwise(0)
    sweep = marks.select("user_id", "t", da.alias("da"), db.alias("db"))
    # deterministic total order: closes (−1) before opens at equal t —
    # half-open [lo, hi) islands never create phantom zero-width overlap
    ws = Window.partitionBy("user_id").orderBy("t", "da", "db")
    run = ws.rowsBetween(Window.unboundedPreceding, 0)
    sweep = (sweep
             .withColumn("a_act", F.sum("da").over(run))
             .withColumn("b_act", F.sum("db").over(run))
             .withColumn("seg", F.lead("t").over(ws) - F.col("t"))
             .filter(F.col("seg").isNotNull()))
    both = F.when((F.col("a_act") > 0) & (F.col("b_act") > 0),
                  F.col("seg")).otherwise(0)
    a_cov = F.when(F.col("a_act") > 0, F.col("seg")).otherwise(0)
    b_cov = F.when(F.col("b_act") > 0, F.col("seg")).otherwise(0)
    agg = sweep.groupBy("user_id").agg(
        F.sum(both).cast("long").alias("overlap_s"),
        F.sum(a_cov).cast("long").alias("a_cov_s"),
        F.sum(b_cov).cast("long").alias("b_cov_s"))
    union_s = (F.col("a_cov_s") + F.col("b_cov_s") - F.col("overlap_s"))
    jac = F.when(union_s > 0,
                 F.col("overlap_s").cast("double")
                 / union_s.cast("double")).otherwise(0.0)
    return agg.select("user_id", "overlap_s", "a_cov_s", "b_cov_s",
                      jac.alias("time_jaccard"))


ORACLE_INTERVAL_ALIGN = f"""
    WITH d AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + {INTERVAL_HOLD_S} AS e
        FROM events WHERE event_type IN ('{ALIGN_A}', '{ALIGN_B}')
    ),
    flagged AS (
        SELECT user_id, event_type, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) IS NULL
                     OR s > max(e) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island,
               event_id
        FROM d
    ),
    numbered AS (
        SELECT user_id, event_type, s, e,
               sum(new_island) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
        FROM flagged
    ),
    isl AS (
        SELECT user_id, event_type, island,
               min(s) AS lo, max(e) AS hi
        FROM numbered GROUP BY user_id, event_type, island
    ),
    marks AS (
        SELECT user_id, event_type, lo AS t, 1 AS dd FROM isl
        UNION ALL
        SELECT user_id, event_type, hi, -1 FROM isl
    ),
    sweep0 AS (
        SELECT user_id, t,
               CASE WHEN event_type = '{ALIGN_A}' THEN dd ELSE 0 END AS da,
               CASE WHEN event_type = '{ALIGN_B}' THEN dd ELSE 0 END AS db
        FROM marks
    ),
    sweep AS (
        SELECT user_id, t,
               sum(da) OVER w AS a_act,
               sum(db) OVER w AS b_act,
               lead(t) OVER (PARTITION BY user_id
                             ORDER BY t, da, db) - t AS seg
        FROM sweep0
        WINDOW w AS (PARTITION BY user_id ORDER BY t, da, db
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    agg AS (
        SELECT user_id,
               sum(CASE WHEN a_act > 0 AND b_act > 0
                        THEN seg ELSE 0 END) AS overlap_s,
               sum(CASE WHEN a_act > 0 THEN seg ELSE 0 END) AS a_cov_s,
               sum(CASE WHEN b_act > 0 THEN seg ELSE 0 END) AS b_cov_s
        FROM sweep WHERE seg IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(overlap_s AS BIGINT) AS overlap_s,
           CAST(a_cov_s AS BIGINT) AS a_cov_s,
           CAST(b_cov_s AS BIGINT) AS b_cov_s,
           CASE WHEN a_cov_s + b_cov_s - overlap_s > 0
                THEN CAST(overlap_s AS DOUBLE)
                     / CAST(a_cov_s + b_cov_s - overlap_s AS DOUBLE)
                ELSE 0.0 END AS time_jaccard
    FROM agg
"""


def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change stream: per user, ordered
    by (ts, event_id), every event_type change opens a new version; LEAD
    over the change rows closes the previous one. Reports per user the
    version count, the total dwell seconds of CLOSED versions, and the
    epoch of the last change — all exact integers. Both windows partition
    on user_id (one exchange, reused by AQE across the two sorts); the
    final groupBy is the same key, so no further shuffle. This is the
    standard warehouse SCD2 shape and it scales with users, not rows."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 80)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", "event_id", s.alias("s"), "event_type")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    lag_t = F.lag("event_type").over(w)
    chg = (d.withColumn("is_chg",
                        (lag_t.isNull()
                         | (F.col("event_type") != lag_t)).cast("int"))
           .filter(F.col("is_chg") == 1))
    nxt = F.lead("s").over(w)
    vers = chg.withColumn("dwell", nxt - F.col("s"))
    return (vers.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_versions"),
                 F.sum(F.coalesce(F.col("dwell"), F.lit(0)))
                 .cast("long").alias("closed_dwell_s"),
                 F.max("s").cast("long").alias("last_change_s")))


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per user series: S = Σ_{i<j} sign(v_j − v_i)
    as an exact BIGINT from a bounded within-user pair join (series are
    capped by the user slice; the 100 TB path is the O(n log n)
    merge-count inside applyInPandas, noted not needed at this series
    length), tie-corrected 18·Var(S) kept integer, and the
    continuity-corrected z as ONE single-shot double. Sign comparisons are
    exact double comparisons written as identical CASE chains on both
    engines — no float accumulates anywhere."""
    d = (load_table(spark, "events", sf_dir)
         .filter(F.col("user_id") < MK_USER_CAP)
         .select("user_id", "event_id",
                 F.unix_timestamp("ts").cast("long").alias("s"), "value"))
    a = d.select(F.col("user_id").alias("u"), F.col("s").alias("s1"),
                 F.col("event_id").alias("i1"), F.col("value").alias("v1"))
    b = d.select(F.col("user_id").alias("u"), F.col("s").alias("s2"),
                 F.col("event_id").alias("i2"), F.col("value").alias("v2"))
    pairs = a.join(b, ["u"]).filter(
        (F.col("s1") < F.col("s2"))
        | ((F.col("s1") == F.col("s2")) & (F.col("i1") < F.col("i2"))))
    sgn = (F.when(F.col("v2") > F.col("v1"), 1)
           .when(F.col("v2") < F.col("v1"), -1).otherwise(0))
    s_stat = pairs.groupBy("u").agg(
        F.sum(sgn).cast("long").alias("s_stat"))
    n_per = d.groupBy(F.col("user_id").alias("u")).agg(
        F.count(F.lit(1)).alias("n"))
    ties = (d.groupBy("user_id", "value")
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy(F.col("user_id").alias("u"))
            .agg(F.sum(F.col("t") * (F.col("t") - 1)
                       * (2 * F.col("t") + 5)).alias("tie_term")))
    j = (n_per.join(s_stat, "u").join(ties, "u")
         .withColumn("var18",
                     (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                      - F.col("tie_term")).cast("long")))
    sd = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    z = (F.when(F.col("var18") <= 0, F.lit(None).cast("double"))
         .when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
         .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
         .otherwise(F.lit(0.0)))
    return j.select(F.col("u").alias("user_id"), "n", "s_stat", "var18",
                    F.round(z, 4).alias("z"))


MARKOV_SCALE = 10 ** 12  # fixed-point mass for the stationary iteration
MARKOV_ITERS = 20


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: every purchase converts the
    user's most recent preceding non-purchase event; report conversions
    and total time-to-convert per attributed channel. One window
    partitioned by user (LAST_VALUE … IGNORE NULLS over the preceding
    frame carries the open touch), then a small keyed groupBy — exact
    integer counts and epoch-second gaps, nothing global, one exchange."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", "event_id", s.alias("s"), "event_type")
    w = (Window.partitionBy("user_id").orderBy("s", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.last(
        F.when(F.col("event_type") != "purchase",
               F.struct(F.col("s").alias("ts_s"),
                        F.col("event_type").alias("tt"))),
        ignorenulls=True).over(w)
    conv = (d.withColumn("touch", touch)
            .filter((F.col("event_type") == "purchase")
                    & F.col("touch").isNotNull()))
    return (conv.groupBy(F.col("touch.tt").alias("channel"))
            .agg(F.count(F.lit(1)).alias("conversions"),
                 F.sum(F.col("s") - F.col("touch.ts_s"))
                 .cast("long").alias("total_gap_s")))


# Shared checkpointed transition spine for the Markov family (r9 verdict
# #2): q_markov_stationary, q_markov_attribution and q_transition_entropy
# all build K² transition counts from the SAME corpus pass; memoize the
# counts so a suite run pays the pass (and its checkpoint launch train)
# once. Keyed by (session, events-corpus ident).
@corpus_memo(table="events")
def _markov_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged transition-count spine: (variant, i, j, c) with
    variant='all' = every consecutive per-user (prev→next) event-type
    pair (stationary / entropy), variant='trunc' = journeys truncated at
    the first conversion with START/END pseudo-states (the attribution
    absorbing chain). ONE corpus pass — a single user-keyed window sort
    computes lag, lead and the prior-conversion count together, and a
    per-row conditional struct array + explode emits both variants
    without re-scanning (a UNION of per-variant selects would execute
    the window once per branch: Spark does not dedupe common subtrees).

    Truncation correctness without a second window: kept rows (_pc = 0)
    are a contiguous PREFIX of each user's ordered sequence (they
    precede-or-are the first conversion), so lag over ALL events equals
    lag within the kept subset on kept rows, and a kept non-conversion
    row's successor is always kept — hence lead-over-all reproduces the
    kept-subset END condition exactly.

    The ≤2·(K+2)² count relation is coalesce(1).localCheckpoint()ed:
    every downstream iteration (20 power steps, 4 squarings) re-executes
    a 1-partition local relation instead of the corpus window, and the
    eager job runs once per (session, corpus) instead of once per
    operator."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", "event_id", s.alias("s"), "event_type")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    ann = (d.withColumn("_prev", F.lag("event_type").over(w))
           .withColumn("_next", F.lead("event_type").over(w))
           .withColumn("_pc", F.coalesce(
               F.sum(F.when(F.col("event_type") == ATTR_CONV, 1)
                     .otherwise(0))
               .over(w.rowsBetween(Window.unboundedPreceding, -1)),
               F.lit(0))))
    t = F.col("event_type")
    kept = F.col("_pc") == 0

    def ent(cond, variant, i, j):
        return F.when(cond, F.struct(F.lit(variant).alias("variant"),
                                     i.alias("i"), j.alias("j")))

    rows = F.array(
        ent(F.col("_prev").isNotNull(), "all", F.col("_prev"), t),
        ent(kept & F.col("_prev").isNotNull(), "trunc",
            F.col("_prev"), t),
        ent(kept & F.col("_prev").isNull(), "trunc",
            F.lit("START"), t),
        ent(kept & F.col("_next").isNull() & (t != F.lit(ATTR_CONV)),
            "trunc", t, F.lit("END")),
    )
    spine = (ann.select(F.explode(
        F.filter(rows, lambda x: x.isNotNull())).alias("p"))
        .groupBy("p.variant", "p.i", "p.j")
        .agg(F.count(F.lit(1)).alias("c"))
        .coalesce(1).localCheckpoint())
    return spine


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain in exact
    fixed-point arithmetic: consecutive (prev→next) pairs per user build
    the K×K transition-count matrix (ONE corpus pass + one partitioned
    lag window, shared across the Markov family via the memoized
    ``_markov_pair_counts`` spine); the 20-step power iteration
    mass'_j = Σ_i (mass_i · c_ij) DIV n_i (floor division, bit-exact,
    merge-order-free) then runs as ONE Arrow stage of exact Python
    integer arithmetic over the K²-bounded, corpus-independent spine
    slice — r10 optimization: the former 20 unrolled join+groupBy steps
    were ~40 sequential tiny shuffle stages of pure launch overhead at
    every scale. The oracle replays the identical integer recursion as
    20 generated CTE blocks; the strict hash is the equivalence proof."""
    m = (_markov_pair_counts(spark, sf_dir)
         .filter(F.col("variant") == "all").select("i", "j", "c"))
    iters, scale = MARKOV_ITERS, MARKOV_SCALE

    def iterate(batches):
        import pandas as pd

        parts = [p for p in batches]
        pdf = (pd.concat(parts) if parts
               else pd.DataFrame({"i": [], "j": [], "c": []}))
        edges = [(i, j, int(c))
                 for i, j, c in zip(pdf["i"], pdf["j"], pdf["c"])]
        n_i: dict = {}
        for i, _, c in edges:
            n_i[i] = n_i.get(i, 0) + c
        k = len(n_i)
        if k == 0:
            yield pd.DataFrame({"state": pd.Series([], dtype="object"),
                                "mass": pd.Series([], dtype="int64")})
            return
        mass = {s: scale // k for s in n_i}
        for _ in range(iters):
            nxt: dict = {}
            for i, j, c in edges:
                mi = mass.get(i)
                if mi is not None:
                    nxt[j] = nxt.get(j, 0) + mi * c // n_i[i]
            mass = nxt
        yield pd.DataFrame({"state": list(mass),
                            "mass": pd.Series(list(mass.values()),
                                              dtype="int64")})

    # The 20-step fixed-point runs as ONE Arrow stage over the (already
    # 1-partition, checkpointed, ≤(K+2)²-row) spine slice in exact Python
    # integer floor arithmetic — bit-identical to the former 20 unrolled
    # join+groupBy steps (same Σ mass·c DIV n_i per step, integer sums are
    # merge-order-free), which paid ~40 sequential tiny shuffle stages of
    # pure launch overhead at EVERY corpus size (the relation is K²-bounded
    # and corpus-independent, so local iteration is the right 100 TB plan
    # too; guide §4.2). The DuckDB oracle still replays the recursion as 20
    # generated CTE blocks — the hash gate is the bit-exactness proof.
    return m.coalesce(1).mapInPandas(iterate, "state string, mass long")


ATTR_CHANNELS = ("click", "error", "signup", "view")  # event-type domain
ATTR_CONV = "purchase"
ATTR_SQUARINGS = 4  # T^(2^4): 16-step absorption horizon
ATTR_SCALE = 10 ** 12


def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov REMOVAL-EFFECT channel attribution (the data-driven
    multi-touch model): user journeys truncate at the first conversion,
    build an absorbing chain START → channels → {purchase, END}, and
    each channel's credit is how much the chain's conversion probability
    drops when that channel is removed (transitions into it become
    failures). The exactness discipline is markov_stationary's fixed
    point: the homogeneous-coordinate matrix [[T, b], [0, 1]] (base term
    as a '__ONE__' pseudo-state) is raised to 2^ATTR_SQUARINGS by
    REPEATED SQUARING in scaled-integer floor arithmetic
    (Σ v_ik·v_kj DIV SCALE in DECIMAL(38,0) — bit-exact,
    merge-order-free), and p = (T^16 applied to the base) at START. The
    oracle replays the identical squarings as generated CTE blocks.

    Scale shape: ONE corpus pass (user-keyed windows) builds the K²
    transition counts (the memoized, checkpointed family spine); the
    chain construction, ALL FIVE tagged variants (full + one per removed
    channel), the doubling recursion and the share pivot are
    corpus-INDEPENDENT (≤5·(K+1)² matrix entries at any data volume), so
    since r10 they run as ONE lazy Arrow stage of exact Python integer
    arithmetic over the spine slice — bit-identical replay of the former
    relational plan (c·SCALE DIV n_i base entries, Σ v_ik·v_kj DIV SCALE
    squarings: integer sums are merge-order-free, floor division on the
    non-negative domain matches DIV / DuckDB's //; the share divisions
    run through numpy float64, the same IEEE-754 ops the JVM executes).
    The r9 form paid 4 eager coalesce(1).localCheckpoint() launch trains
    at BUILD time plus a broadcast self-reference of the result, ~7 s of
    launch overhead per call at sf0.1 for the same ≤180-row matrix. The
    oracle still replays the squarings as generated CTE blocks; the
    strict hash is the equivalence proof."""
    m = (_markov_pair_counts(spark, sf_dir)
         .filter(F.col("variant") == "trunc").select("i", "j", "c"))
    squarings, scale = ATTR_SQUARINGS, ATTR_SCALE
    channels, conv_state = ATTR_CHANNELS, ATTR_CONV

    def attribute(batches):
        import pandas as pd

        parts = [p for p in batches]
        pdf = (pd.concat(parts) if parts
               else pd.DataFrame({"i": [], "j": [], "c": []}))
        edges = [(i, j, int(c))
                 for i, j, c in zip(pdf["i"], pdf["j"], pdf["c"])]
        n_i: dict = {}
        for i, _, c in edges:
            n_i[i] = n_i.get(i, 0) + c
        # absorbing base term as a virtual edge i → '__ONE__' with
        # weight cc(i) = transitions into the conversion state
        cc = {i: c for i, j, c in edges if j == conv_state}
        live = ([(i, j, c) for i, j, c in edges
                 if j not in (conv_state, "END")]
                + [(i, "__ONE__", cc[i]) for i in n_i if cc.get(i, 0) > 0])
        mm_d: dict = {}
        for run in ("__full__",) + channels:
            for i, j, c in live:
                if run == "__full__" or (i != run and j != run):
                    mm_d[(run, i, j)] = c * scale // n_i[i]
            mm_d[(run, "__ONE__", "__ONE__")] = scale
        for _ in range(squarings):
            by_rk: dict = {}  # (run, k) -> [(i, v)] for the left factor
            for (r, i, k), v in mm_d.items():
                by_rk.setdefault((r, k), []).append((i, v))
            nxt: dict = {}
            for (r, k, j), vy in mm_d.items():  # right factor: i == k
                for i, vx in by_rk.get((r, k), ()):
                    key = (r, i, j)
                    nxt[key] = nxt.get(key, 0) + vx * vy
            mm_d = {key: t // scale for key, t in nxt.items()}
        p = {r: v for (r, i, j), v in mm_d.items()
             if i == "START" and j == "__ONE__"}
        p_full = p.get("__full__")
        rows = []
        if p_full is not None:
            rem = [(r, pr) for r, pr in p.items() if r != "__full__"]
            tot = sum(p_full - pr for _, pr in rem)
            # r11 (r10 advice): a degenerate corpus (p_full == 0 or
            # tot == 0) must emit NULL, matching the relational plan's
            # double-division null semantics — not the ±inf/NaN numpy
            # yields under errstate suppression. On the normal path the
            # plain float division is the identical IEEE-754 op.
            for r, pr in rem:
                drop = p_full - pr
                rows.append((
                    r, p_full, pr,
                    float(drop) / float(p_full) if p_full != 0 else None,
                    float(drop) / float(tot) if tot != 0 else None))
        yield pd.DataFrame(
            {"channel": [r[0] for r in rows],
             "p_full": pd.Series([r[1] for r in rows], dtype="int64"),
             "p_removed": pd.Series([r[2] for r in rows], dtype="int64"),
             # nullable Float64: None → Arrow null (a bare float64
             # Series would turn None into NaN, not SQL NULL)
             "removal_effect": pd.Series([r[3] for r in rows],
                                         dtype="Float64"),
             "share": pd.Series([r[4] for r in rows], dtype="Float64")})

    return m.coalesce(1).mapInPandas(
        attribute,
        "channel string, p_full long, p_removed long, "
        "removal_effect double, share double")


def _markov_attr_oracle() -> str:
    """Generate the tagged-runs fixed-point recursion as CTE blocks —
    the same DECIMAL floor-division iteration the Spark side runs."""
    runs_rows = ", ".join(
        [f"('{r}')" for r in ("__full__",) + ATTR_CHANNELS])
    head = f"""
        WITH d AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
            FROM events
        ),
        pc AS (
            SELECT user_id, event_id, s, event_type,
                   coalesce(sum(CASE WHEN event_type = '{ATTR_CONV}'
                                     THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS prev_conv
            FROM d
        ),
        kept AS (
            SELECT user_id, event_id, s, event_type,
                   lag(event_type) OVER w AS prev,
                   lead(event_type) OVER w AS nxt
            FROM pc WHERE prev_conv = 0
            WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
        ),
        pairs AS (
            SELECT prev AS i, event_type AS j FROM kept
            WHERE prev IS NOT NULL
            UNION ALL
            SELECT 'START', event_type FROM kept WHERE prev IS NULL
            UNION ALL
            SELECT event_type, 'END' FROM kept
            WHERE nxt IS NULL AND event_type <> '{ATTR_CONV}'
        ),
        m AS (SELECT i, j, count(*) AS c FROM pairs GROUP BY i, j),
        n AS (SELECT i, CAST(sum(c) AS HUGEINT) AS n_i FROM m GROUP BY i),
        conv AS (SELECT i, CAST(c AS HUGEINT) AS cc FROM m
                 WHERE j = '{ATTR_CONV}'),
        base AS (
            SELECT n.i, n.n_i, coalesce(conv.cc, 0) AS cc
            FROM n LEFT JOIN conv USING (i)
        ),
        runs(run) AS (VALUES {runs_rows}),
        live AS (
            SELECT i, j, c FROM m WHERE j NOT IN ('{ATTR_CONV}', 'END')
            UNION ALL
            SELECT i, '__ONE__', CAST(cc AS BIGINT) FROM base WHERE cc > 0
        ),
        mat_t AS (
            SELECT runs.run, live.i, live.j,
                   CAST(live.c AS HUGEINT) AS c, n.n_i
            FROM live JOIN n USING (i) CROSS JOIN runs
            WHERE runs.run = '__full__'
               OR (live.i <> runs.run AND live.j <> runs.run)
        ),
        m0 AS (
            SELECT run, i, j, c * {ATTR_SCALE} // n_i AS v FROM mat_t
            UNION ALL
            SELECT run, '__ONE__', '__ONE__',
                   CAST({ATTR_SCALE} AS HUGEINT) FROM runs
        )"""
    blocks = [head]
    for t in range(ATTR_SQUARINGS):
        blocks.append(f"""
        m{t + 1} AS (
            SELECT x.run, x.i, y.j,
                   sum(x.v * y.v) // {ATTR_SCALE} AS v
            FROM m{t} x JOIN m{t} y
              ON x.run = y.run AND x.j = y.i
            GROUP BY x.run, x.i, y.j
        )""")
    tail = f"""
        ,p AS (SELECT run, v AS a FROM m{ATTR_SQUARINGS}
               WHERE i = 'START' AND j = '__ONE__'),
        full_p AS (SELECT a AS p_full FROM p WHERE run = '__full__'),
        rem AS (
            SELECT run AS channel, a AS p_removed, p_full
            FROM p CROSS JOIN full_p WHERE run <> '__full__'
        )
        SELECT channel,
               CAST(p_full AS BIGINT) AS p_full,
               CAST(p_removed AS BIGINT) AS p_removed,
               CAST(p_full - p_removed AS DOUBLE)
               / CAST(p_full AS DOUBLE) AS removal_effect,
               CAST(p_full - p_removed AS DOUBLE)
               / CAST(sum(p_full - p_removed) OVER () AS DOUBLE) AS share
        FROM rem"""
    return ",".join(blocks) + tail


def _markov_oracle() -> str:
    """Generate the 20 unrolled fixed-point iterations as CTE blocks —
    the same BIGINT floor-division recursion the Spark side runs."""
    blocks = ["""
        WITH d AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
            FROM events
        ),
        pairs AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY s, event_id) AS prev_t
            FROM d
        ),
        m AS (
            SELECT prev_t AS i, event_type AS j, count(*) AS c
            FROM pairs WHERE prev_t IS NOT NULL GROUP BY prev_t, event_type
        ),
        n AS (SELECT i, sum(c) AS n_i FROM m GROUP BY i),
        mat AS (SELECT m.i, m.j, m.c, n.n_i FROM m JOIN n USING (i)),
        k AS (SELECT count(DISTINCT i) AS k FROM m),
        v0 AS (
            SELECT DISTINCT i AS state,
                   CAST({scale} // k AS BIGINT) AS mass
            FROM m CROSS JOIN k
        )""".format(scale=MARKOV_SCALE)]
    for t in range(MARKOV_ITERS):
        blocks.append("""
        v{nxt} AS (
            SELECT mat.j AS state,
                   CAST(sum(v{cur}.mass * mat.c // mat.n_i) AS BIGINT)
                   AS mass
            FROM mat JOIN v{cur} ON mat.i = v{cur}.state
            GROUP BY mat.j
        )""".format(cur=t, nxt=t + 1))
    return (",".join(blocks)
            + f"\n        SELECT state, mass FROM v{MARKOV_ITERS}")


def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of hourly event counts per
    event type — the burstiness readout separating Poisson-ish traffic
    (F≈1) from bursty streams. Hourly counts are exact integers; per-type
    variance comes from Σc, Σc² in BIGINT/DECIMAL over the bounded hour
    relation; Fano = ((H·Σc² − (Σc)²)/(H·(H−1))) / (Σc/H) single-shot."""
    e = load_table(spark, "events", sf_dir)
    hour = (F.unix_timestamp("ts").cast("long") / F.lit(3600)) \
        .cast("long")
    cnt = (e.select("event_type", hour.alias("h"))
           .groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c")))
    agg = cnt.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("hours"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("cc"))
    hD = F.col("hours").cast("double")
    var = ((hD * F.col("cc").cast("double")
            - F.col("n").cast("double") * F.col("n").cast("double"))
           / (hD * (hD - F.lit(1.0))))
    fano = var / (F.col("n").cast("double") / hD)
    return agg.select("event_type", "hours", "n",
                      F.round(fano, 6).alias("fano"))

def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to hourly OHLC bars per event type — the
    classic tick→bar reduction every market/metrics pipeline runs. ONE
    groupBy: open/close via min_by/max_by on a composite integer
    (epoch·10⁸ + event_id, unique and order-exact), high/low/volume as
    plain min/max/count. Values are hashed in exact cents
    (floor(value·100)); no window, no sort, map-side combinable — the
    shape is a single exchange on (type, hour) at any scale."""
    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    cents = F.floor(F.col("value") * 100).cast("long")
    d = e.select(
        "event_type",
        (s / F.lit(3600)).cast("long").alias("h"),
        (s * F.lit(100000000) + F.col("event_id")).alias("ord"),
        cents.alias("v"))
    return (d.groupBy("event_type", "h")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min_by("v", "ord").alias("open_c"),
                 F.max_by("v", "ord").alias("close_c"),
                 F.max("v").alias("high_c"),
                 F.min("v").alias("low_c"))
            .filter(F.col("n") >= 3))


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival table over user lifetimes (days from first
    to last event): per distinct duration d — deaths (users whose
    lifetime ends at exactly d), at-risk (users with lifetime ≥ d), and
    cumulative deaths. The hashed surface is exact integers ONLY: the
    survival product Π(1−dᵢ/nᵢ) is a float accumulation whose
    summation order the engines don't contract on, so the table carries
    the exact sufficient statistics and the curve is derivable
    client-side (the exact-sufficient-statistics discipline). Shape: one
    per-user aggregate (map-side combinable), one groupBy on duration,
    then a cumulative window over the distinct-durations relation —
    bounded by the corpus timespan in days, corpus-size-independent, so
    the single-partition window is the plan you'd want at any scale."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    life = (e.groupBy("user_id")
            .agg(F.datediff(F.max(F.col("ts").cast("date")),
                            F.min(F.col("ts").cast("date")))
                 .alias("dur")))
    tbl = life.groupBy("dur").agg(F.count(F.lit(1)).alias("deaths"))
    w = (Window.orderBy("dur")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tbl = tbl.withColumn("cum_deaths",
                         F.sum("deaths").over(w).cast("long"))
    total = life.agg(F.count(F.lit(1)).alias("n_total"))
    return (tbl.crossJoin(F.broadcast(total))
            .select(F.col("dur").cast("long").alias("dur"),
                    F.col("deaths").cast("long").alias("deaths"),
                    "cum_deaths",
                    (F.col("n_total") - F.col("cum_deaths")
                     + F.col("deaths")).cast("long").alias("at_risk")))


XCORR_A, XCORR_B = "click", "purchase"
XCORR_LAGS = (0, 1, 2)


def q_xcorr_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event streams (does CLICK
    volume at hour t predict PURCHASE volume at hour t+h?): hourly
    counts per type (exact integers, one groupBy), a full-outer
    self-join at each lag h with absent hours as 0, then Pearson r from
    BIGINT sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) — the
    acf_lag discipline extended to a PAIR of series. The hour grid is
    the union of observed hours at t and t+h (deterministic set
    algebra, both engines agree). Corr is one single-shot double per
    lag; the joined relation is bounded by the corpus timespan in
    hours. Lags unroll as a UNION of three bounded joins — no
    per-row Python, no window."""
    e = load_table(spark, "events", sf_dir)
    hour = (F.unix_timestamp("ts").cast("long") / F.lit(3600)).cast("long")
    cnt = (e.filter(F.col("event_type").isin(XCORR_A, XCORR_B))
           .select("event_type", hour.alias("h"))
           .groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c")))
    xa = (cnt.filter(F.col("event_type") == XCORR_A)
          .select(F.col("h").alias("ha"), F.col("c").alias("x")))
    xb = (cnt.filter(F.col("event_type") == XCORR_B)
          .select(F.col("h").alias("hb"), F.col("c").alias("y")))
    outs = []
    for lag in XCORR_LAGS:
        # shift the y series BEFORE the join so it stays an equi-join
        # (a +lag predicate would plan as a nested-loop outer join)
        yb = xb.select((F.col("hb") - F.lit(lag)).alias("ha"),
                       F.col("y"))
        j = (xa.join(yb, "ha", "full")
             .select(F.coalesce("x", F.lit(0)).alias("x"),
                     F.coalesce("y", F.lit(0)).alias("y")))
        agg = j.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("x").cast("long").alias("sx"),
                    F.sum("y").cast("long").alias("sy"),
                    F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
                    F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
                    F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"))
        outs.append(agg.select(F.lit(lag).cast("long").alias("lag"),
                               "n", "sx", "sy", "sxy", "sxx", "syy"))
    u = outs[0]
    for o in outs[1:]:
        u = u.unionAll(o)
    nd = F.col("n").cast("double")

    def dbl(c):
        return F.col(c).cast("double")

    r = ((nd * dbl("sxy") - dbl("sx") * dbl("sy"))
         / F.sqrt((nd * dbl("sxx") - dbl("sx") * dbl("sx"))
                  * (nd * dbl("syy") - dbl("sy") * dbl("sy"))))
    return u.select("lag", "n", "sx", "sy", "sxy", r.alias("xcorr"))


def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-transition surprisal of the event-type Markov chain: for each
    observed (prev → next) pair, the exact integer transition count c
    and row total nᵢ, plus the single-shot surprisal −ln(c/nᵢ) =
    ln(nᵢ/c) — the building block of the chain's entropy rate, left
    UN-summed so the hashed surface has no float accumulation (each row
    is one ln over a ratio of exact integers), and rounded to 6 decimals
    — the strict full-repr gate proved the engines' ln() implementations
    (JVM Math.log vs libm) differ in the LAST ULP on real inputs, and
    round-6 is the house absorber for transcendental values (the
    token_pmi/entropy pattern; boundary collisions are measure-zero for
    irrational values, unlike money doubles). The pair extraction is the
    memoized ``_markov_pair_counts`` spine shared with
    q_markov_stationary; the K² output relation is vocabulary-sized,
    corpus-independent."""
    m = (_markov_pair_counts(spark, sf_dir)
         .filter(F.col("variant") == "all").select("i", "j", "c"))
    n = m.groupBy("i").agg(F.sum("c").cast("long").alias("n_i"))
    surprisal = F.round(F.log(F.col("n_i").cast("double")
                              / F.col("c").cast("double")), 6)
    return (m.join(F.broadcast(n), "i")
            .select("i", "j", F.col("c").cast("long").alias("c"), "n_i",
                    surprisal.alias("surprisal")))


def q_streak_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length census of per-user event-type STREAKS (consecutive
    same-type events) — the value-change sibling of the time-based
    gaps-and-islands in interval_coverage: a change flag (lag() within
    user), a running sum of flags as the run id (both windows keyed on
    user_id — fine-grained at any scale), one groupBy to measure each
    run, one rollup per event type: number of runs, longest run, runs of
    length ≥ 3, and total events in them. Exact integers end to end —
    the session-quality / bot-behavior readout next to fano (burstiness
    in time) and markov (what follows what)."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", "event_id", s.alias("s"), "event_type")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    chg = F.when(F.lag("event_type").over(w).isNull()
                 | (F.lag("event_type").over(w) != F.col("event_type")),
                 1).otherwise(0)
    run = (d.withColumn("chg", chg)
           .withColumn("run_id", F.sum("chg").over(
               w.rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))))
    lens = (run.groupBy("user_id", "run_id", "event_type")
            .agg(F.count(F.lit(1)).alias("len")))
    return (lens.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_runs"),
                 F.max("len").cast("long").alias("max_run"),
                 F.sum(F.when(F.col("len") >= 3, 1).otherwise(0))
                 .cast("long").alias("runs_ge3"),
                 F.sum(F.when(F.col("len") >= 3, F.col("len"))
                       .otherwise(0)).cast("long").alias("events_ge3")))


ORACLE_STREAK_CENSUS = """
    WITH d AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_type, s, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM d
        WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
    ),
    runs AS (
        SELECT user_id, event_type,
               sum(chg) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS run_id
        FROM flagged
    ),
    lens AS (
        SELECT user_id, run_id, event_type, count(*) AS len
        FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(len) AS BIGINT) AS max_run,
           CAST(sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS runs_ge3,
           CAST(sum(CASE WHEN len >= 3 THEN len ELSE 0 END) AS BIGINT)
               AS events_ge3
    FROM lens GROUP BY event_type
"""


def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for per-type conversion rates — the
    small-sample-safe binomial CI every experimentation readout should
    use instead of the normal approximation (which collapses at p→0/1):
    per event type, users who fired it vs users who also purchased,
    then the 95% Wilson bounds. Counts are exact integers from two
    map-combinable aggregates over a user-type semi-relation; the
    bounds are single-shot +,-,*,/,sqrt arithmetic (IEEE
    correctly-rounded — no transcendental, no round-on-double), so they
    hash unrounded at full precision."""
    e = load_table(spark, "events", sf_dir)
    ut = e.select("user_id", "event_type").distinct()
    buyers = (ut.filter(F.col("event_type") == "purchase")
              .select("user_id").distinct())
    j = (ut.filter(F.col("event_type") != "purchase")
         .join(buyers.withColumn("conv", F.lit(1)), "user_id", "left"))
    agg = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.coalesce("conv", F.lit(0))).cast("long").alias("k"))
    z2 = F.lit(3.8416)  # z=1.96 squared, exact decimal literal as double
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    p = kd / nd
    denom = nd + z2
    center = (kd + z2 / 2.0) / denom
    half = (F.lit(1.96) * F.sqrt(nd) / denom
            * F.sqrt(p * (1.0 - p) + z2 / (4.0 * nd)))
    return agg.select("event_type", "n", "k",
                      (center - half).alias("lo"),
                      (center + half).alias("hi"))


ORACLE_WILSON_CI = """
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    buyers AS (
        SELECT DISTINCT user_id FROM ut WHERE event_type = 'purchase'
    ),
    agg AS (
        SELECT ut.event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN b.user_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM ut LEFT JOIN buyers b USING (user_id)
        WHERE ut.event_type <> 'purchase'
        GROUP BY ut.event_type
    )
    SELECT event_type, n, k,
           ((CAST(k AS DOUBLE) + 3.8416 / 2.0) / (CAST(n AS DOUBLE) + 3.8416))
           - (1.96 * sqrt(CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) + 3.8416)
              * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n)
                     + 3.8416 / (4.0 * CAST(n AS DOUBLE)))) AS lo,
           ((CAST(k AS DOUBLE) + 3.8416 / 2.0) / (CAST(n AS DOUBLE) + 3.8416))
           + (1.96 * sqrt(CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) + 3.8416)
              * sqrt((CAST(k AS DOUBLE) / n) * (1.0 - CAST(k AS DOUBLE) / n)
                     + 3.8416 / (4.0 * CAST(n AS DOUBLE)))) AS hi
    FROM agg
"""


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al.'s pre-period
    covariate adjustment — the industry-standard experiment
    sensitivity lever): arm = user_id parity, covariate x = the user's
    event count in the PRE period (first half of the corpus timespan),
    outcome y = purchases in the POST period. θ = cov(x,y)/var(x) pools
    ALL users; each arm reports mean(y) − θ·(mean(x) − mean(x_all)).
    The pre/post split point is an in-plan broadcast 1-row min/max
    aggregate (the markov-K pattern — fully lazy, integer epoch midpoint
    identical in both engines); sufficient statistics are exact BIGINTs
    from ONE per-user aggregate, so θ and the adjusted means are
    single-shot doubles."""
    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    b = e.agg(F.min(s).alias("_lo"), F.max(s).alias("_hi"))
    d = (e.select("user_id", "event_type", s.alias("s"))
         .crossJoin(F.broadcast(b))
         .withColumn("_mid", F.expr("(_lo + _hi) div 2")))
    users = d.groupBy("user_id").agg(
        F.sum(F.when(F.col("s") <= F.col("_mid"), 1).otherwise(0))
        .cast("long").alias("x"),
        F.sum(F.when((F.col("s") > F.col("_mid"))
                     & (F.col("event_type") == "purchase"), 1).otherwise(0))
        .cast("long").alias("y"))
    users = users.withColumn("arm", F.expr("user_id % 2"))
    g = users.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("x").cast("long").alias("sx_all"),
        F.sum("y").cast("long").alias("sy_all"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"))
    arm = users.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"))
    j = arm.crossJoin(F.broadcast(g))

    def dbl(c: str):
        return F.col(c).cast("double")

    theta = ((dbl("n_all") * dbl("sxy") - dbl("sx_all") * dbl("sy_all"))
             / (dbl("n_all") * dbl("sxx") - dbl("sx_all") * dbl("sx_all")))
    raw = dbl("sy") / dbl("n")
    adj = raw - theta * (dbl("sx") / dbl("n") - dbl("sx_all") / dbl("n_all"))
    return j.select(F.col("arm").cast("long").alias("arm"),
                    "n", "sx", "sy",
                    raw.alias("raw_mean"), adj.alias("adj_mean"))


ORACLE_CUPED = """
    WITH b AS (
        SELECT CAST(floor(min(epoch(ts))) AS BIGINT) AS lo,
               CAST(floor(max(epoch(ts))) AS BIGINT) AS hi
        FROM events
    ),
    users AS (
        SELECT user_id,
               sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             <= (lo + hi) // 2 THEN 1 ELSE 0 END) AS x,
               sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                             > (lo + hi) // 2
                         AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS y
        FROM events CROSS JOIN b
        GROUP BY user_id
    ),
    g AS (
        SELECT count(*) AS n_all, sum(x) AS sx_all, sum(y) AS sy_all,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM users
    ),
    arm AS (
        SELECT user_id % 2 AS arm, count(*) AS n,
               sum(x) AS sx, sum(y) AS sy
        FROM users GROUP BY user_id % 2
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(n AS BIGINT) AS n,
           CAST(sx AS BIGINT) AS sx,
           CAST(sy AS BIGINT) AS sy,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
           - ((CAST(n_all AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx_all AS DOUBLE) * CAST(sy_all AS DOUBLE))
              / (CAST(n_all AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx_all AS DOUBLE) * CAST(sx_all AS DOUBLE)))
             * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(sx_all AS DOUBLE) / CAST(n_all AS DOUBLE))
               AS adj_mean
    FROM arm CROSS JOIN g
"""


def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) table between two cohorts' survival (user
    lifetimes as in kaplan_meier, cohort = user_id parity): per distinct
    duration t — group-1 deaths d1, total deaths d, group-1 at-risk n1,
    total at-risk n, plus the hypergeometric expectation e1 = n1·d/n
    and variance v1. The exact-sufficient-statistics discipline: the
    hashed surface is the per-time table (integers + single-shot
    doubles), and the χ² = (Σ(d1−e1))²/Σv1 fold is client-side — float
    ACCUMULATION across rows is exactly what the engines don't contract
    on. At-risk counts come from a cumulative window over the
    distinct-durations relation — bounded by the corpus timespan in
    days, corpus-size-independent (the kaplan_meier justification)."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    life = (e.groupBy("user_id")
            .agg(F.datediff(F.max(F.col("ts").cast("date")),
                            F.min(F.col("ts").cast("date")))
                 .alias("dur"))
            .withColumn("g", F.expr("user_id % 2")))
    tbl = life.groupBy("dur").agg(
        F.count(F.lit(1)).alias("d"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("d1"))
    w_prev = (Window.orderBy("dur")
              .rowsBetween(Window.unboundedPreceding, -1))
    tot = life.agg(
        F.count(F.lit(1)).alias("n_tot"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1_tot"))
    tbl = (tbl
           .withColumn("_cd", F.coalesce(F.sum("d").over(w_prev), F.lit(0)))
           .withColumn("_cd1", F.coalesce(F.sum("d1").over(w_prev),
                                          F.lit(0)))
           .crossJoin(F.broadcast(tot)))
    n = (F.col("n_tot") - F.col("_cd")).cast("long")
    n1 = (F.col("n1_tot") - F.col("_cd1")).cast("long")
    nd, n1d = n.cast("double"), n1.cast("double")
    dd = F.col("d").cast("double")
    e1 = n1d * dd / nd
    v1 = (dd * (n1d / nd) * (1.0 - n1d / nd)
          * (nd - dd) / (nd - 1.0))
    return tbl.select(
        F.col("dur").cast("long").alias("dur"),
        F.col("d1").cast("long").alias("d1"),
        F.col("d").cast("long").alias("d"),
        n1.alias("n1"), n.alias("n"),
        e1.alias("e1"),
        F.when(n > 1, v1).otherwise(F.lit(0.0)).alias("v1"))


ORACLE_LOGRANK = """
    WITH life AS (
        SELECT user_id, user_id % 2 AS g,
               date_diff('day', CAST(min(ts) AS DATE),
                         CAST(max(ts) AS DATE)) AS dur
        FROM events GROUP BY user_id
    ),
    tbl AS (
        SELECT dur, count(*) AS d,
               sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS d1
        FROM life GROUP BY dur
    ),
    tot AS (
        SELECT count(*) AS n_tot,
               sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1_tot
        FROM life
    ),
    cum AS (
        SELECT dur, d, d1,
               coalesce(sum(d) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS cd,
               coalesce(sum(d1) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS cd1
        FROM tbl
    )
    SELECT CAST(dur AS BIGINT) AS dur,
           CAST(d1 AS BIGINT) AS d1,
           CAST(d AS BIGINT) AS d,
           CAST(n1_tot - cd1 AS BIGINT) AS n1,
           CAST(n_tot - cd AS BIGINT) AS n,
           CAST(n1_tot - cd1 AS DOUBLE) * CAST(d AS DOUBLE)
           / CAST(n_tot - cd AS DOUBLE) AS e1,
           CASE WHEN n_tot - cd > 1 THEN
               CAST(d AS DOUBLE)
               * (CAST(n1_tot - cd1 AS DOUBLE) / CAST(n_tot - cd AS DOUBLE))
               * (1.0 - CAST(n1_tot - cd1 AS DOUBLE)
                        / CAST(n_tot - cd AS DOUBLE))
               * (CAST(n_tot - cd AS DOUBLE) - CAST(d AS DOUBLE))
               / (CAST(n_tot - cd AS DOUBLE) - 1.0)
           ELSE 0.0 END AS v1
    FROM cum CROSS JOIN tot
"""


def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal-pattern (permutation entropy, Bandt-Pompe) census of the
    event value series: each user's consecutive value TRIPLE maps to its
    order pattern — encoded as the three pairwise comparators
    (v0?v1, v1?v2, v0?v2 ∈ {<,=,>}), which also classifies ties — and
    the corpus-wide pattern census is the complexity readout (a
    monotone series collapses to one pattern, white noise spreads over
    all six). Triples come from two lead() windows keyed on user_id
    (fine-grained at any scale); the census is ≤ 3³ rows. Counts are
    exact; the share is a single-shot division and the entropy term
    −p·ln p hashes through round(·, 6) (the house transcendental
    absorber)."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("user_id", "event_id", s.alias("s"), "value")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    d = (d.withColumn("v1", F.lead("value", 1).over(w))
         .withColumn("v2", F.lead("value", 2).over(w))
         .filter(F.col("v2").isNotNull()))

    def cmp(a, b):
        return (F.when(F.col(a) < F.col(b), F.lit("<"))
                .when(F.col(a) == F.col(b), F.lit("="))
                .otherwise(F.lit(">")))

    pat = F.concat(cmp("value", "v1"), cmp("v1", "v2"), cmp("value", "v2"))
    cnt = (d.select(pat.alias("pattern"))
           .groupBy("pattern").agg(F.count(F.lit(1)).alias("cnt")))
    tot = cnt.agg(F.sum("cnt").alias("total"))
    j = cnt.crossJoin(F.broadcast(tot))
    share = F.col("cnt").cast("double") / F.col("total").cast("double")
    return j.select(
        "pattern",
        F.col("cnt").cast("long").alias("cnt"),
        share.alias("share"),
        F.round(-share * F.log(share), 6).alias("ent_term"))


ORACLE_PERMUTATION_ENTROPY = """
    WITH d AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s, value
        FROM events
    ),
    t AS (
        SELECT value AS v0,
               lead(value, 1) OVER w AS v1,
               lead(value, 2) OVER w AS v2
        FROM d
        WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
    ),
    pats AS (
        SELECT concat(
                   CASE WHEN v0 < v1 THEN '<'
                        WHEN v0 = v1 THEN '=' ELSE '>' END,
                   CASE WHEN v1 < v2 THEN '<'
                        WHEN v1 = v2 THEN '=' ELSE '>' END,
                   CASE WHEN v0 < v2 THEN '<'
                        WHEN v0 = v2 THEN '=' ELSE '>' END) AS pattern
        FROM t WHERE v2 IS NOT NULL
    ),
    cnt AS (SELECT pattern, count(*) AS cnt FROM pats GROUP BY pattern),
    tot AS (SELECT sum(cnt) AS total FROM cnt)
    SELECT pattern, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           round(-(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                 * ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
               AS ent_term
    FROM cnt CROSS JOIN tot
"""


QUERIES = {
    "streak_census": q_streak_census,
    "wilson_ci": q_wilson_ci,
    "cuped_adjustment": q_cuped_adjustment,
    "logrank_test": q_logrank_test,
    "permutation_entropy": q_permutation_entropy,
    "markov_attribution": q_markov_attribution,
    "interval_align": q_interval_align,
    "sequence_support": q_sequence_support,
    "funnel_steps": q_funnel_steps,
    "rfm_segments": q_rfm_segments,
    "ewma_smooth": q_ewma_smooth,
    "holt_winters": q_holt_winters,
    "robust_stats": q_robust_stats,
    "window_value_fns": q_window_value_fns,
    "ab_test_analysis": q_ab_test_analysis,
    "acf_lag": q_acf_lag,
    "cusum_changepoint": q_cusum_changepoint,
    "seasonal_profile": q_seasonal_profile,
    "anomaly_census": q_anomaly_census,
    "max_concurrency": q_max_concurrency,
    "array_fn_conformance": q_array_fn_conformance,
    "cohort_retention": q_cohort_retention,
    "event_transitions": q_event_transitions,
    "pivot_events": q_pivot_events,
    "gapfill_hourly": q_gapfill_hourly,
    "locf_fill": q_locf_fill,
    "map_fn_conformance": q_map_fn_conformance,
    "ts_similarity": q_ts_similarity,
    "linear_interp": q_linear_interp,
    "variant_extract": q_variant_extract,
    "asof_last_signup": q_asof_last_signup,
    "asof_forward": q_asof_forward,
    "asof_native_parity": q_asof_native_parity,
    "window_count_distinct": q_window_count_distinct,
    "event_pattern_match": q_event_pattern_match,
    "debounce_events": q_debounce_events,
    "time_weighted_avg": q_time_weighted_avg,
    "range_join_pairs": q_range_join_pairs,
    "array_exists": q_array_exists,
    "array_transform_agg": q_array_transform_agg,
    "json_extract": q_json_extract,
    "event_window": q_event_window,
    "topk_per_group": q_topk_per_group,
    "sliding_window": q_sliding_window,
    "session_window": q_session_window,
    "interval_coverage": q_interval_coverage,
    "scd2_build": q_scd2_build,
    "mann_kendall": q_mann_kendall,
    "attribution_last_touch": q_attribution_last_touch,
    "markov_stationary": q_markov_stationary,
    "fano_burstiness": q_fano_burstiness,
    "ohlc_bars": q_ohlc_bars,
    "kaplan_meier": q_kaplan_meier,
    "xcorr_event_types": q_xcorr_event_types,
    "transition_entropy": q_transition_entropy,
}

ORACLES = {
    "streak_census": ORACLE_STREAK_CENSUS,
    "wilson_ci": ORACLE_WILSON_CI,
    "cuped_adjustment": ORACLE_CUPED,
    "logrank_test": ORACLE_LOGRANK,
    "permutation_entropy": ORACLE_PERMUTATION_ENTROPY,
    "markov_attribution": _markov_attr_oracle(),
    "interval_align": ORACLE_INTERVAL_ALIGN,
    "sequence_support": _sequence_support_oracle(),
    "ab_test_analysis": """
        WITH per_user AS (
            SELECT user_id % 2 AS arm,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) >= 14 AS INT) AS converted
            FROM events GROUP BY user_id
        ),
        arms AS (
            SELECT arm, count(*) AS users, sum(converted) AS conversions
            FROM per_user GROUP BY arm
        ),
        wide AS (
            SELECT
                CAST(max(CASE WHEN arm = 0 THEN users END) AS DOUBLE) AS n0,
                CAST(max(CASE WHEN arm = 0 THEN conversions END) AS DOUBLE)
                    AS c0,
                CAST(max(CASE WHEN arm = 1 THEN users END) AS DOUBLE) AS n1,
                CAST(max(CASE WHEN arm = 1 THEN conversions END) AS DOUBLE)
                    AS c1
            FROM arms
        ),
        stats AS (
            SELECT
                round((c1 / n1 - c0 / n0)
                      / sqrt(((c0 + c1) / (n0 + n1))
                             * (1.0 - (c0 + c1) / (n0 + n1))
                             * (1.0 / n0 + 1.0 / n1)), 6) AS z,
                CAST(abs((c1 / n1 - c0 / n0)
                         / sqrt(((c0 + c1) / (n0 + n1))
                                * (1.0 - (c0 + c1) / (n0 + n1))
                                * (1.0 / n0 + 1.0 / n1))) > 1.96 AS INT)
                    AS significant,
                round((c1 / n1) / (c0 / n0), 6) AS lift
            FROM wide
        )
        SELECT arm, users, conversions,
               round(CAST(conversions AS DOUBLE)
                     / CAST(users AS DOUBLE), 6) AS conv_rate,
               z, significant, lift
        FROM arms CROSS JOIN stats
    """,
    "window_value_fns": """
        WITH base AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_id % 7 <> 0
                        THEN CAST(floor(value * 10000) AS BIGINT) END AS v
            FROM events WHERE user_id < 100
        )
        SELECT user_id, event_id,
               first_value(v IGNORE NULLS) OVER frame AS fv,
               last_value(v IGNORE NULLS) OVER frame AS lv,
               nth_value(v, 2 IGNORE NULLS) OVER frame AS n2,
               lag(v, 2, -1) OVER w AS lg,
               -- explicit 'NULLS LAST': DuckDB's list() OVER keeps NULLs
               -- (Spark's collect_list drops them) and indexing past the
               -- non-null count is only safe if nulls sort AFTER values —
               -- pin it rather than inherit default_null_order
               CASE WHEN count(v) OVER frame > 0 THEN
                   list_sort(list(v) OVER frame, 'ASC', 'NULLS LAST')[
                       (count(v) OVER frame + 1) // 2]
               END AS mm,
               count(v) OVER frame AS cnt
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               frame AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    "robust_stats": """
        WITH base AS (
            SELECT event_type, CAST(floor(value * 10000) AS BIGINT) AS x
            FROM events
        ),
        r1 AS (
            SELECT event_type, x,
                   cume_dist() OVER (PARTITION BY event_type ORDER BY x)
                       AS cd
            FROM base
        ),
        st AS (
            SELECT event_type,
                   min(CASE WHEN cd >= 0.25 THEN x END) AS q1,
                   min(CASE WHEN cd >= 0.5 THEN x END) AS med,
                   min(CASE WHEN cd >= 0.75 THEN x END) AS q3
            FROM r1 GROUP BY 1
        ),
        j AS (
            SELECT b.event_type, abs(b.x - st.med) AS ad
            FROM base b JOIN st USING (event_type)
        ),
        r2 AS (
            SELECT event_type, ad,
                   cume_dist() OVER (PARTITION BY event_type ORDER BY ad)
                       AS cd
            FROM j
        ),
        madt AS (
            SELECT event_type, count(*) AS n,
                   min(CASE WHEN cd >= 0.5 THEN ad END) AS mad
            FROM r2 GROUP BY 1
        )
        SELECT st.event_type, n, med, q1, q3, (q3 - q1) AS iqr, mad
        FROM st JOIN madt USING (event_type)
    """,
    "ewma_smooth": f"""
        WITH RECURSIVE seq AS (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        walk AS (
            SELECT user_id, rn, n, value AS s FROM seq WHERE rn = 1
            UNION ALL
            SELECT q.user_id, q.rn, q.n,
                   {EWMA_A} * q.value + {EWMA_B} * w.s
            FROM walk w JOIN seq q
                 ON q.user_id = w.user_id AND q.rn = w.rn + 1
        )
        SELECT user_id, n, round(s, 6) AS ewma
        FROM walk WHERE rn = n
    """,
    "holt_winters": f"""
        WITH RECURSIVE seq AS (
            SELECT user_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        walk AS (
            SELECT user_id, rn, n, value AS lvl, CAST(0.0 AS DOUBLE) AS tr
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT q.user_id, q.rn, q.n,
                   {HW_A} * q.value + {HW_B} * (w.lvl + w.tr),
                   {HW_G} * (({HW_A} * q.value + {HW_B} * (w.lvl + w.tr))
                             - w.lvl) + {HW_D} * w.tr
            FROM walk w JOIN seq q
                 ON q.user_id = w.user_id AND q.rn = w.rn + 1
        )
        SELECT user_id, n, round(lvl, 6) AS level, round(tr, 6) AS trend,
               round(lvl + tr, 6) AS fcst
        FROM walk WHERE rn = n
    """,
    "acf_lag": """
        WITH base AS (
            SELECT event_type,
                   CAST(floor(value * 10000) AS DECIMAL(19,0)) AS x,
                   lead(CAST(floor(value * 10000) AS DECIMAL(19,0)), 1)
                       OVER w AS y1,
                   lead(CAST(floor(value * 10000) AS DECIMAL(19,0)), 2)
                       OVER w AS y2,
                   lead(CAST(floor(value * 10000) AS DECIMAL(19,0)), 3)
                       OVER w AS y3
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        ),
        pairs AS (
            SELECT event_type, 1 AS lag, x, y1 AS y FROM base
            WHERE y1 IS NOT NULL
            UNION ALL
            SELECT event_type, 2, x, y2 FROM base WHERE y2 IS NOT NULL
            UNION ALL
            SELECT event_type, 3, x, y3 FROM base WHERE y3 IS NOT NULL
        ),
        agg AS (
            SELECT event_type, lag, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM pairs GROUP BY 1, 2
        )
        SELECT event_type, lag, n,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                            0), 6) AS acf
        FROM agg
    """,
    "cusum_changepoint": """
        WITH seq AS (
            SELECT event_type,
                   row_number() OVER w AS t,
                   sum(CAST(floor(value * 10000) AS HUGEINT)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS prefix,
                   sum(CAST(floor(value * 10000) AS HUGEINT)) OVER (
                       PARTITION BY event_type) AS total,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        ),
        scored AS (
            SELECT event_type, t, n,
                   abs(n * prefix - t * total) AS s_abs
            FROM seq
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY s_abs DESC, t) AS rn
            FROM scored
        )
        SELECT event_type, CAST(t AS BIGINT) AS best_t,
               CAST(n AS BIGINT) AS n, CAST(s_abs AS DOUBLE) AS max_abs_s
        FROM ranked WHERE rn = 1
    """,
    "seasonal_profile": """
        WITH agg AS (
            SELECT event_type,
                   CAST(extract(hour FROM ts) AS INT) AS hod,
                   count(*) AS cnt,
                   sum(CAST(floor(value * 10000) AS BIGINT)) AS sum_x
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, hod, cnt,
               round((CAST(sum_x AS DOUBLE)
                      * CAST(sum(cnt) OVER w AS DOUBLE))
                     / (CAST(cnt AS DOUBLE)
                        * CAST(sum(sum_x) OVER w AS DOUBLE)), 6)
                   AS seasonal_index
        FROM agg WINDOW w AS (PARTITION BY event_type)
    """,
    "anomaly_census": """
        WITH base AS (
            SELECT event_type, event_id,
                   CAST(floor(value * 10000) AS HUGEINT) AS x
            FROM events
        ),
        st AS (
            SELECT event_type, count(*) AS n, sum(x) AS sx,
                   sum(x * x) AS sxx
            FROM base GROUP BY 1
        ),
        j AS (
            SELECT b.event_type, b.event_id, st.n, st.sx, st.sxx,
                   (st.n * b.x - st.sx) AS diff
            FROM base b JOIN st USING (event_type)
        )
        SELECT event_type, CAST(max(n) AS BIGINT) AS n,
               CAST(sum(CASE WHEN diff * diff > 9 * n * sxx - 9 * sx * sx
                             THEN 1 ELSE 0 END) AS BIGINT) AS anomalies,
               CAST(sum(CASE WHEN diff * diff > 9 * n * sxx - 9 * sx * sx
                             THEN event_id ELSE 0 END) AS BIGINT)
                   AS anomaly_id_sum
        FROM j GROUP BY event_type
    """,
    "debounce_events": f"""
        WITH g AS (
            SELECT event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS gap
            FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS events,
               CAST(sum(CASE WHEN gap IS NULL
                             OR gap >= {DEBOUNCE_SECONDS * 1_000_000}
                        THEN 1 ELSE 0 END) AS BIGINT) AS kept,
               CAST(sum(CASE WHEN gap IS NULL
                             OR gap >= {DEBOUNCE_SECONDS * 1_000_000}
                        THEN 0 ELSE 1 END) AS BIGINT) AS debounced
        FROM g GROUP BY event_type
    """,
    "time_weighted_avg": """
        WITH g AS (
            SELECT event_type, value,
                   lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                            ORDER BY ts, event_id)
                   - epoch_us(ts) AS w
            FROM events
        )
        SELECT event_type,
               round(CAST(sum(CAST(value AS DECIMAL(18,4)) * w) AS DOUBLE)
                     / CAST(sum(w) AS DOUBLE), 4) AS twap,
               CAST(sum(w) AS BIGINT) AS total_weight_us,
               CAST(count(*) AS BIGINT) AS weighted_obs
        FROM g WHERE w IS NOT NULL GROUP BY event_type
    """,
    "rfm_segments": f"""
        WITH per_user AS (
            SELECT user_id, max(ts) AS last_ts,
                   count(*) AS freq,
                   sum(CAST(value AS DECIMAL(18,4))) AS monetary
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ),
        anchor AS (
            SELECT max(ts) AS anchor FROM events
            WHERE event_type = 'purchase'
        ),
        scored AS (
            SELECT user_id, freq, monetary,
                   datediff('day', last_ts, anchor) AS recency_days
            FROM per_user, anchor
        ),
        graded AS (
            SELECT freq, monetary,
                   ntile({RFM_BUCKETS}) OVER (ORDER BY recency_days DESC,
                                              user_id) AS r,
                   ntile({RFM_BUCKETS}) OVER (ORDER BY freq, user_id) AS f,
                   ntile({RFM_BUCKETS}) OVER (ORDER BY monetary, user_id) AS m
            FROM scored
        )
        SELECT r, f, m,
               CAST(count(*) AS BIGINT) AS users,
               CAST(sum(freq) AS BIGINT) AS purchases,
               round(CAST(sum(monetary) AS DOUBLE), 2) AS monetary
        FROM graded GROUP BY r, f, m
    """,
    "funnel_steps": """
        WITH s1 AS (
            SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                          OVER (PARTITION BY user_id) AS t1
            FROM events
        ),
        s2 AS (
            SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                               THEN ts END)
                          OVER (PARTITION BY user_id) AS t2
            FROM s1
        ),
        s3 AS (
            SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                               THEN ts END)
                          OVER (PARTITION BY user_id) AS t3
            FROM s2
        ),
        per_user AS (
            SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
            FROM s3 GROUP BY user_id
        )
        SELECT count(t1) AS step_view,
               count(t2) AS step_click,
               count(t3) AS step_purchase,
               round(count(t3) * 100.0 / count(t1), 4) AS conversion_pct
        FROM per_user
    """,
    "array_fn_conformance": """
        WITH d AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id,
               list_aggregate(list_sort(w[1:5]), 'string_agg', '|')
                   AS sorted5,
               list_aggregate(list_reverse(w[1:3]), 'string_agg', '|')
                   AS rev3,
               list_aggregate(
                   [w[CAST(i AS INT)] || '#' || CAST(i - 1 AS VARCHAR)
                    FOR i IN range(1, least(4, len(w) + 1))],
                   'string_agg', '|') AS zipidx,
               len(list_distinct(w)) AS n_distinct,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(w, x -> CAST(length(x) AS BIGINT))),
                           (a, b) -> a + b) AS total_chars,
               len(list_filter(w, x -> length(x) > 4)) AS n_long,
               len(flatten([w[1:2], w[3:4]])) AS flat_len
        FROM d
    """,
    "max_concurrency": f"""
        WITH markers AS (
            SELECT event_type, ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT event_type,
                   ts + INTERVAL {CONCURRENCY_WINDOW_MIN} MINUTE,
                   -1 FROM events
        ),
        open_counts AS (
            SELECT event_type,
                   sum(delta) OVER (PARTITION BY event_type
                                    ORDER BY t, delta
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS open_now
            FROM markers
        )
        SELECT event_type,
               max(open_now) AS max_concurrent,
               count(*) AS markers
        FROM open_counts
        GROUP BY event_type
    """,
    "event_transitions": """
        WITH seq AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_type
            FROM events
        ),
        matrix AS (
            SELECT from_type, to_type, count(*) AS transitions
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, transitions,
               round(transitions * 1.0
                     / sum(transitions) OVER (PARTITION BY from_type), 6)
                   AS prob
        FROM matrix
    """,
    "cohort_retention": """
        WITH staged AS (
            SELECT user_id, ts,
                   CAST(min(ts) OVER (PARTITION BY user_id) AS DATE)
                       AS cohort
            FROM events
        )
        SELECT strftime(date_trunc('week', cohort), '%Y-%m-%d')
                   AS cohort_week,
               CAST(floor(date_diff('day', cohort, CAST(ts AS DATE)) / 7.0)
                    AS BIGINT) AS week_offset,
               count(DISTINCT user_id) AS active_users
        FROM staged
        GROUP BY 1, 2
    """,
    "gapfill_hourly": f"""
        WITH grid AS (
            SELECT t.event_type, g.hour
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(generate_series(
                TIMESTAMP '{GAPFILL_DAY} 00:00:00',
                TIMESTAMP '{GAPFILL_DAY} 23:00:00',
                INTERVAL 1 HOUR)) AS hour) g
        ),
        hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*) AS cnt,
                   CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                        AS DOUBLE) AS sum_value
            FROM events
            WHERE ts >= TIMESTAMP '{GAPFILL_DAY} 00:00:00'
              AND ts < TIMESTAMP '{GAPFILL_NEXT_DAY} 00:00:00'
            GROUP BY 1, 2
        )
        SELECT grid.event_type, grid.hour,
               coalesce(hourly.cnt, 0) AS cnt,
               coalesce(hourly.sum_value, 0.0) AS sum_value
        FROM grid LEFT JOIN hourly
          ON grid.event_type = hourly.event_type AND grid.hour = hourly.hour
    """,
    "pivot_events": """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS click,
               count(*) FILTER (WHERE event_type = 'view') AS view,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'signup') AS signup,
               count(*) FILTER (WHERE event_type = 'error') AS error
        FROM events WHERE user_id < 50 GROUP BY user_id
    """,
    "asof_last_signup": """
        SELECT event_id, user_id, ts AS purchase_ts, last_signup_ts,
               CAST(floor(epoch(ts) - epoch(last_signup_ts)) AS BIGINT) AS gap_seconds
        FROM (
            SELECT *, last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS last_signup_ts
            FROM events
        ) WHERE event_type = 'purchase'
    """,
    "asof_forward": ORACLE_ASOF_FORWARD,
    # DuckDB's NATIVE ASOF LEFT JOIN — the composition in
    # q_asof_native_parity must reproduce it exactly, ties included.
    "asof_native_parity": """
        WITH p AS (
            SELECT event_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        ),
        s AS (
            SELECT user_id, ts, max(event_id) AS signup_id
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id, ts
        )
        SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
               s.ts AS signup_ts, s.signup_id,
               CAST(floor(epoch(p.ts) - epoch(s.ts)) AS BIGINT) AS gap_seconds
        FROM p ASOF LEFT JOIN s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    # the ordered per-user event string is itself part of the verified
    # key: string_agg(... ORDER BY) must equal Spark's sorted-struct
    # array_join exactly, certifying the ordered aggregation
    "event_pattern_match": """
        WITH s AS (
            SELECT user_id,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT user_id, seq,
               CAST(length(seq) AS INT) AS seq_len,
               CAST((length(seq) - length(replace(seq, 'vp', ''))) / 2
                    AS INT) AS direct_vp,
               CAST(len(regexp_extract_all(seq, 'v[cse]*p')) AS INT)
                   AS conversions
        FROM s
    """,
    "window_count_distinct": """
        SELECT event_id, user_id,
               CAST(count(DISTINCT event_type) OVER w AS INT)
                   AS distinct_types,
               count(*) OVER w AS events_so_far
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    """,
    "range_join_pairs": """
        SELECT a.user_id, a.event_id, b.event_id AS event_b,
               CAST(floor(epoch(b.ts) - epoch(a.ts)) AS BIGINT) AS gap_seconds
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND b.ts >= a.ts AND epoch(b.ts) - epoch(a.ts) <= 600
    """,
    "array_exists": """
        SELECT label, count(*) AS cnt
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x > 0.35)) > 0
        GROUP BY label
    """,
    "array_transform_agg": """
        SELECT vec_id,
               len(list_filter(embedding, x -> x > 0)) AS n_pos,
               round(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                   (acc, x) -> acc + x), 3) AS l1_norm
        FROM embeddings
        WHERE vec_id < 100
        ORDER BY vec_id
    """,
    "variant_extract": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                    AS BIGINT) AS sum_k,
               min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type
    """,
    "locf_fill": """
        SELECT user_id, event_id,
               round(coalesce(last_value(CASE WHEN event_id % 3 = 0
                                              THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW),
                     0.0), 2) AS filled,
               CAST(event_id % 3 <> 0 AS INT) AS was_gap
        FROM events WHERE user_id < 20
    """,
    "linear_interp": ORACLE_LINEAR_INTERP,
    "map_fn_conformance": ORACLE_MAP_FN_CONFORMANCE,
    "ts_similarity": ORACLE_TS_SIMILARITY,
    "json_extract": """
        SELECT event_type, count(*) AS cnt,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type
    """,
    "event_window": """
        SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, event_type,
               count(*) AS cnt,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "topk_per_group": """
        SELECT event_type, rk, event_id, value FROM (
            SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id) AS rk
            FROM events
        ) WHERE rk <= 3
    """,
    "sliding_window": """
        SELECT window_start, event_type, count(*) AS cnt,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS sum_value
        FROM (
            SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, event_type, value
            FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '1 day', ts) - INTERVAL '1 day', event_type, value
            FROM events
        ) GROUP BY 1, 2
    """,
    "session_window": """
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM marked
        )
        SELECT min(ts) AS session_start, user_id, count(*) AS cnt,
               CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS sum_value
        FROM sessions GROUP BY user_id, sess_id
    """,
    "interval_coverage": f"""
        WITH d AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s,
                   CAST(floor(epoch(ts)) AS BIGINT) + {INTERVAL_HOLD_S} AS e
            FROM events WHERE user_id < 60
        ),
        marked AS (
            SELECT user_id, s, e,
                   CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) IS NULL
                          OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island,
                   event_id
            FROM d
        ),
        islands AS (
            SELECT user_id, s, e,
                   sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
            FROM marked
        ),
        ext AS (
            SELECT user_id, island, max(e) - min(s) AS cov
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id, count(*) AS n_islands,
               CAST(sum(cov) AS BIGINT) AS covered_s
        FROM ext GROUP BY user_id
    """,
    "scd2_build": """
        WITH d AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
            FROM events WHERE user_id < 80
        ),
        lagged AS (
            SELECT user_id, event_id, s, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY s, event_id) AS prev_t
            FROM d
        ),
        chg AS (
            SELECT user_id, event_id, s, event_type
            FROM lagged
            WHERE prev_t IS NULL OR event_type <> prev_t
        ),
        vers AS (
            SELECT user_id, s,
                   lead(s) OVER (
                       PARTITION BY user_id ORDER BY s, event_id) - s
                   AS dwell
            FROM chg
        )
        SELECT user_id, count(*) AS n_versions,
               CAST(sum(COALESCE(dwell, 0)) AS BIGINT) AS closed_dwell_s,
               CAST(max(s) AS BIGINT) AS last_change_s
        FROM vers GROUP BY user_id
    """,
    "mann_kendall": f"""
        WITH d AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s, value
            FROM events WHERE user_id < {MK_USER_CAP}
        ),
        s_stat AS (
            SELECT a.user_id AS u,
                   sum(CASE WHEN b.value > a.value THEN 1
                            WHEN b.value < a.value THEN -1
                            ELSE 0 END) AS s_stat
            FROM d a JOIN d b
              ON a.user_id = b.user_id
             AND (a.s < b.s OR (a.s = b.s AND a.event_id < b.event_id))
            GROUP BY a.user_id
        ),
        n_per AS (SELECT user_id AS u, count(*) AS n FROM d GROUP BY user_id),
        ties AS (
            SELECT user_id AS u,
                   sum(t * (t - 1) * (2 * t + 5)) AS tie_term
            FROM (SELECT user_id, value, count(*) AS t
                  FROM d GROUP BY user_id, value)
            GROUP BY user_id
        ),
        j AS (
            SELECT n_per.u, n, s_stat,
                   CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)
                   AS var18
            FROM n_per JOIN s_stat USING (u) JOIN ties USING (u)
        )
        SELECT u AS user_id, n, CAST(s_stat AS BIGINT) AS s_stat, var18,
               round(CASE
                   WHEN var18 <= 0 THEN NULL
                   WHEN s_stat > 0 THEN (s_stat - 1)
                        / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                   WHEN s_stat < 0 THEN (s_stat + 1)
                        / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                   ELSE 0.0 END, 4) AS z
        FROM j
    """,
    "attribution_last_touch": """
        WITH d AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
            FROM events
        ),
        carried AS (
            SELECT user_id, event_id, s, event_type,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN s END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_s,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_t
            FROM d
        )
        SELECT touch_t AS channel, count(*) AS conversions,
               CAST(sum(s - touch_s) AS BIGINT) AS total_gap_s
        FROM carried
        WHERE event_type = 'purchase' AND touch_t IS NOT NULL
        GROUP BY touch_t
    """,
    "markov_stationary": _markov_oracle(),
    "ohlc_bars": """
        WITH d AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
                   CAST(floor(epoch(ts)) AS BIGINT) * 100000000
                       + event_id AS ord,
                   CAST(floor(value * 100) AS BIGINT) AS v
            FROM events
        )
        SELECT event_type, h, count(*) AS n,
               arg_min(v, ord) AS open_c,
               arg_max(v, ord) AS close_c,
               max(v) AS high_c, min(v) AS low_c
        FROM d GROUP BY event_type, h
        HAVING count(*) >= 3
    """,
    "fano_burstiness": """
    WITH cnt AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               count(*) AS c
        FROM events GROUP BY event_type, h
    ),
    agg AS (
        SELECT event_type, count(*) AS hours,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * c) AS BIGINT) AS cc
        FROM cnt GROUP BY event_type
    )
    SELECT event_type, hours, n,
           round(((CAST(hours AS DOUBLE) * CAST(cc AS DOUBLE)
                   - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                  / (CAST(hours AS DOUBLE) * (CAST(hours AS DOUBLE) - 1.0)))
                 / (CAST(n AS DOUBLE) / CAST(hours AS DOUBLE)), 6) AS fano
    FROM agg
""",
    "kaplan_meier": """
    WITH life AS (
        SELECT user_id,
               date_diff('day', CAST(min(ts) AS DATE),
                         CAST(max(ts) AS DATE)) AS dur
        FROM events GROUP BY user_id
    ),
    tbl AS (SELECT dur, count(*) AS deaths FROM life GROUP BY dur),
    cum AS (
        SELECT dur, deaths,
               CAST(sum(deaths) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
                   AS cum_deaths
        FROM tbl
    ),
    tot AS (SELECT count(*) AS n_total FROM life)
    SELECT CAST(dur AS BIGINT) AS dur,
           CAST(deaths AS BIGINT) AS deaths,
           cum_deaths,
           CAST(n_total - cum_deaths + deaths AS BIGINT) AS at_risk
    FROM cum CROSS JOIN tot
""",
    "xcorr_event_types": """
    WITH cnt AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               count(*) AS c
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type, h
    ),
    xa AS (SELECT h AS ha, c AS x FROM cnt WHERE event_type = 'click'),
    xb AS (SELECT h AS hb, c AS y FROM cnt WHERE event_type = 'purchase'),
    -- a FULL OUTER can't be parameterized by a lag row, so the three
    -- lags unroll as explicit joins (mirroring the Spark-side loop)
    j0 AS (SELECT coalesce(xa.x, 0) AS x, coalesce(xb.y, 0) AS y
           FROM xa FULL OUTER JOIN xb ON xb.hb - 0 = xa.ha),
    j1 AS (SELECT coalesce(xa.x, 0) AS x, coalesce(xb.y, 0) AS y
           FROM xa FULL OUTER JOIN xb ON xb.hb - 1 = xa.ha),
    j2 AS (SELECT coalesce(xa.x, 0) AS x, coalesce(xb.y, 0) AS y
           FROM xa FULL OUTER JOIN xb ON xb.hb - 2 = xa.ha),
    agg AS (
        SELECT 0 AS lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        FROM j0
        UNION ALL
        SELECT 1, count(*), sum(x), sum(y), sum(x * y), sum(x * x),
               sum(y * y)
        FROM j1
        UNION ALL
        SELECT 2, count(*), sum(x), sum(y), sum(x * y), sum(x * x),
               sum(y * y)
        FROM j2
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
           CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
           CAST(sxy AS BIGINT) AS sxy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS xcorr
    FROM agg
""",
    "transition_entropy": """
    WITH d AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
        FROM events
    ),
    pairs AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY s, event_id) AS prev_t
        FROM d
    ),
    m AS (
        SELECT prev_t AS i, event_type AS j, count(*) AS c
        FROM pairs WHERE prev_t IS NOT NULL GROUP BY prev_t, event_type
    ),
    n AS (SELECT i, CAST(sum(c) AS BIGINT) AS n_i FROM m GROUP BY i)
    SELECT m.i, m.j, CAST(m.c AS BIGINT) AS c, n.n_i,
           round(ln(CAST(n.n_i AS DOUBLE) / CAST(m.c AS DOUBLE)), 6)
               AS surprisal
    FROM m JOIN n USING (i)
""",
}


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz UP-DOWN runs test per event type: is the value
    series random, trending, or oscillating? Consecutive moves (value
    diffs, ties dropped — the textbook convention) classify up/down;
    the run count R against its randomness expectation
    μ = (2n−1)/3, σ² = (16n−29)/90 gives the z — the sequence-
    randomness diagnostic next to mann_kendall (monotone trend) and
    acf_lag (linear memory), and unlike both it needs NO global
    statistic: two user-keyed… type-keyed lag windows (the acf_lag
    partitioning exemption: event_type is low-cardinality but the
    series per type is the object under test) and exact integer counts
    all the way to the single-shot z."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("event_type", s.alias("s"), "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("s", "event_id")
    d = (d.withColumn("_diff", F.col("value") - F.lag("value").over(w))
         .filter(F.col("_diff").isNotNull() & (F.col("_diff") != 0.0))
         .withColumn("_dir", (F.col("_diff") > 0).cast("int")))
    w2 = Window.partitionBy("event_type").orderBy("s", "event_id")
    d = d.withColumn(
        "_chg", F.when(F.lag("_dir").over(w2).isNull()
                       | (F.lag("_dir").over(w2) != F.col("_dir")), 1)
        .otherwise(0))
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_moves"),
        F.sum("_dir").cast("long").alias("ups"),
        F.sum(1 - F.col("_dir")).cast("long").alias("downs"),
        F.sum("_chg").cast("long").alias("runs"))
    nobs = (F.col("n_moves") + 1).cast("double")
    mu = (2.0 * nobs - 1.0) / 3.0
    var = (16.0 * nobs - 29.0) / 90.0
    z = F.when(var > 0.0,
               (F.col("runs").cast("double") - mu) / F.sqrt(var)) \
        .otherwise(F.lit(0.0))
    return agg.select("event_type", "n_moves", "ups", "downs", "runs",
                      z.alias("z"))


ORACLE_RUNS_TEST = """
    WITH d AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id, value
        FROM events
    ),
    diffs AS (
        SELECT event_type, s, event_id,
               value - lag(value) OVER w AS diff
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY s, event_id)
    ),
    moves AS (
        SELECT event_type, s, event_id,
               CASE WHEN diff > 0 THEN 1 ELSE 0 END AS dir
        FROM diffs WHERE diff IS NOT NULL AND diff <> 0.0
    ),
    flagged AS (
        SELECT event_type, dir,
               CASE WHEN lag(dir) OVER w2 IS NULL
                         OR lag(dir) OVER w2 <> dir
                    THEN 1 ELSE 0 END AS chg
        FROM moves
        WINDOW w2 AS (PARTITION BY event_type ORDER BY s, event_id)
    ),
    agg AS (
        SELECT event_type, count(*) AS n_moves,
               sum(dir) AS ups, sum(1 - dir) AS downs,
               sum(chg) AS runs
        FROM flagged GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_moves AS BIGINT) AS n_moves,
           CAST(ups AS BIGINT) AS ups,
           CAST(downs AS BIGINT) AS downs,
           CAST(runs AS BIGINT) AS runs,
           CASE WHEN (16.0 * (n_moves + 1) - 29.0) / 90.0 > 0 THEN
               (CAST(runs AS DOUBLE)
                - (2.0 * (CAST(n_moves AS DOUBLE) + 1.0) - 1.0) / 3.0)
               / sqrt((16.0 * (CAST(n_moves AS DOUBLE) + 1.0) - 29.0)
                      / 90.0)
           ELSE 0.0 END AS z
    FROM agg
"""

ORACLES["runs_test"] = ORACLE_RUNS_TEST


def q_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker symmetry test of the event-type transition matrix — the
    K×K generalization of McNemar: is traffic i→j balanced by j→i, or
    does the chain have directional drift (funnels)? Rides the memoized
    ``_markov_pair_counts`` spine ('all' variant), so the corpus pass is
    shared with markov_stationary/transition_entropy; everything below
    is a K²-row self-join. Per unordered pair {i<j}: the two directed
    counts and the continuity-free χ² term (n_ij−n_ji)²/(n_ij+n_ji),
    guarded at n_ij+n_ji=0 (the mcnemar degenerate pin); the Σ over
    pairs and the df count are client-side (logrank discipline)."""
    m = (_markov_pair_counts(spark, sf_dir)
         .filter(F.col("variant") == "all").select("i", "j", "c"))
    a = m.filter(F.col("i") < F.col("j"))
    b = (m.filter(F.col("i") > F.col("j"))
         .select(F.col("j").alias("i"), F.col("i").alias("j"),
                 F.col("c").alias("c_rev")))
    jn = a.join(b, ["i", "j"], "full_outer")
    nij = F.coalesce(F.col("c"), F.lit(0)).cast("long")
    nji = F.coalesce(F.col("c_rev"), F.lit(0)).cast("long")
    diff = nij.cast("double") - nji.cast("double")
    tot = nij.cast("double") + nji.cast("double")
    term = F.when(tot > 0.0, diff * diff / tot).otherwise(F.lit(0.0))
    return jn.select("i", "j", nij.alias("n_ij"), nji.alias("n_ji"),
                     term.alias("chi_term"))


ORACLE_BOWKER = """
    WITH d AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
        FROM events
    ),
    pairs AS (
        SELECT lag(event_type) OVER w AS i, event_type AS j
        FROM d
        WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
    ),
    m AS (SELECT i, j, count(*) AS c FROM pairs
          WHERE i IS NOT NULL GROUP BY i, j),
    a AS (SELECT i, j, c FROM m WHERE i < j),
    b AS (SELECT j AS i, i AS j, c AS c_rev FROM m WHERE i > j),
    jn AS (
        SELECT coalesce(a.i, b.i) AS i, coalesce(a.j, b.j) AS j,
               coalesce(a.c, 0) AS n_ij, coalesce(b.c_rev, 0) AS n_ji
        FROM a FULL OUTER JOIN b ON a.i = b.i AND a.j = b.j
    )
    SELECT i, j,
           CAST(n_ij AS BIGINT) AS n_ij,
           CAST(n_ji AS BIGINT) AS n_ji,
           CASE WHEN n_ij + n_ji > 0 THEN
               (CAST(n_ij AS DOUBLE) - n_ji)
               * (CAST(n_ij AS DOUBLE) - n_ji)
               / (CAST(n_ij AS DOUBLE) + n_ji)
           ELSE 0.0 END AS chi_term
    FROM jn
"""
ORACLES["bowker_symmetry"] = ORACLE_BOWKER


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank terms: blocks = users, treatments = event types,
    response = the user's count of that type — the within-subject
    k-treatment test (kruskal_wallis ranks globally; Friedman ranks
    WITHIN each user, cancelling per-user activity level). The K-grid
    per user (users × K rows, K = type vocabulary) fills absent cells
    with 0; DOUBLED midranks come from two user-keyed windows (min-rank
    + tie count: 2R = 2(rank−1) + t + 1, an exact integer). Hashed
    per-type rows carry n, Σ2R (DECIMAL(38,0), VARCHAR-routed in the
    oracle), the mean rank, and the type's χ² contribution
    12·n·(R̄−(k+1)/2)²/(k(k+1)); Σ over types is client-side."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    cnt = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"))
    types = cnt.select("event_type").distinct()
    users = cnt.select("user_id").distinct()
    grid = (users.crossJoin(F.broadcast(types))
            .join(cnt, ["user_id", "event_type"], "left")
            .withColumn("cnt", F.coalesce("cnt", F.lit(0))))
    w_rank = Window.partitionBy("user_id").orderBy("cnt")
    w_tie = Window.partitionBy("user_id", "cnt")
    grid = (grid.withColumn("_minr", F.rank().over(w_rank))
            .withColumn("_t", F.count(F.lit(1)).over(w_tie))
            .withColumn("r2", 2 * (F.col("_minr") - 1) + F.col("_t") + 1))
    kdf = types.agg(F.count(F.lit(1)).cast("long").alias("k"))
    per_type = (grid.groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.sum(F.col("r2").cast("decimal(19,0)"))
                     .cast("decimal(38,0)").alias("r2sum"))
                .crossJoin(F.broadcast(kdf)))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    mean_rank = F.col("r2sum").cast("double") / (2.0 * nd)
    dev = mean_rank - (kd + 1.0) / 2.0
    chi_term = 12.0 * nd * dev * dev / (kd * (kd + 1.0))
    return per_type.select(
        "event_type", "n", F.col("k").alias("k"),
        F.col("r2sum").cast("double").alias("rank_sum2"),
        mean_rank.alias("mean_rank"),
        chi_term.alias("chi_term"))


ORACLE_FRIEDMAN = """
    WITH cnt AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY user_id, event_type
    ),
    types AS (SELECT DISTINCT event_type FROM cnt),
    users AS (SELECT DISTINCT user_id FROM cnt),
    grid AS (
        SELECT u.user_id, t.event_type, coalesce(c.cnt, 0) AS cnt
        FROM users u CROSS JOIN types t
        LEFT JOIN cnt c ON c.user_id = u.user_id
                       AND c.event_type = t.event_type
    ),
    ranked AS (
        SELECT user_id, event_type,
               2 * (rank() OVER (PARTITION BY user_id ORDER BY cnt) - 1)
               + count(*) OVER (PARTITION BY user_id, cnt) + 1 AS r2
        FROM grid
    ),
    kdf AS (SELECT count(*) AS k FROM types),
    per_type AS (
        SELECT event_type, count(*) AS n,
               sum(CAST(r2 AS HUGEINT)) AS r2sum
        FROM ranked GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k,
           CAST(CAST(r2sum AS VARCHAR) AS DOUBLE) AS rank_sum2,
           CAST(CAST(r2sum AS VARCHAR) AS DOUBLE) / (2.0 * n) AS mean_rank,
           12.0 * CAST(n AS DOUBLE)
           * (CAST(CAST(r2sum AS VARCHAR) AS DOUBLE) / (2.0 * n)
              - (CAST(k AS DOUBLE) + 1.0) / 2.0)
           * (CAST(CAST(r2sum AS VARCHAR) AS DOUBLE) / (2.0 * n)
              - (CAST(k AS DOUBLE) + 1.0) / 2.0)
           / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)) AS chi_term
    FROM per_type CROSS JOIN kdf
"""
ORACLES["friedman_test"] = ORACLE_FRIEDMAN


def q_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed inter-event gap census per event type — the
    distributional readout fano_burstiness compresses to one number:
    which timescales carry the traffic (sub-second bursts vs hourly
    returns vs dormancy), as a ≤40-bucket-per-type relation. Gaps come
    from the per-user lag (exact epoch-second integers); the log2
    bucket is floor(log2(gap)) computed INTEGER-exactly as the bit
    length of the gap minus one — length of the binary representation
    (Spark ``conv(gap, 10, 2)``, DuckDB ``bin(gap)``) — never floating
    log, whose boundary behavior at exact powers of two is an ulp
    hazard. Zero gaps (same-second events) bucket at −1."""
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    d = e.select("event_type", "user_id", s.alias("s"), "event_id")
    w = Window.partitionBy("user_id", "event_type").orderBy("s", "event_id")
    d = (d.withColumn("gap", F.col("s") - F.lag("s").over(w))
         .filter(F.col("gap").isNotNull()))
    bucket = F.when(F.col("gap") <= 0, F.lit(-1)) \
        .otherwise(F.length(F.conv(F.col("gap").cast("string"),
                                   10, 2)) - 1)
    g = d.select("event_type", bucket.cast("long").alias("bucket"))
    return (g.groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


ORACLE_GAP_HISTOGRAM = """
    WITH d AS (
        SELECT event_type, user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id
        FROM events
    ),
    gaps AS (
        SELECT event_type, s - lag(s) OVER w AS gap
        FROM d
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY s, event_id)
    )
    SELECT event_type,
           CAST(CASE WHEN gap <= 0 THEN -1
                     ELSE length(ltrim(bin(CAST(gap AS BIGINT)), '0')) - 1
                END AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY event_type, CASE WHEN gap <= 0 THEN -1
                              ELSE length(ltrim(bin(CAST(gap AS BIGINT)),
                                                '0')) - 1 END
"""
ORACLES["gap_histogram"] = ORACLE_GAP_HISTOGRAM


ETA2_SCALE = 10 ** 6


def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANOVA η² of event value by hour-of-day per event type — how much
    of the value variance the diurnal cycle explains (the effect-size
    companion to seasonal_profile's means: η² → 0 means the hourly
    profile is noise, → 1 means the series IS its seasonality). EXACT
    construction: values scale to floor(value·10⁶) BIGINTs (identical
    doubles → identical integers on both engines), so every sufficient
    statistic — per-hour n_h and S_h, per-type N, S, Σv² — is an exact
    integer fold in DECIMAL(38,0); the between-group sum Σ_h S_h²
    DIV n_h and the correction S² DIV N use integer FLOOR division
    (bit-exact, merge-order-free — the markov_stationary discipline; η²
    is defined as this floor variant and documented as such). The final
    ratio is one single-shot double; the oracle VARCHAR-routes every
    wide integer per tools/oracle_lint.py."""
    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    v = F.floor(F.col("value") * ETA2_SCALE).cast("long")
    d = (e.select("event_type", s.alias("s"), v.alias("v"))
         .withColumn("hour", F.expr("CAST(s DIV 3600 % 24 AS BIGINT)"))
         .drop("s"))
    vdec = F.col("v").cast("decimal(19,0)")
    per_hour = d.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(vdec).cast("decimal(38,0)").alias("s_h"))
    # Floor division and its sum stay in DECIMAL(38,0) end to end — the
    # oracle's HUGEINT // never leaves wide integers, but Spark's DIV
    # returns BIGINT, and at sf0.1 the 24-term sum (~5e19) overflows a
    # long under ANSI (the round-10 bench abort). (a - a % b) / b is
    # exact floor division for the non-negative domain (values are
    # floor(value·1e6) with value ≥ 0) at any scale factor.
    ssb_term = F.expr(
        "CAST((CAST(s_h * s_h AS DECIMAL(38,0))"
        " - CAST(s_h * s_h AS DECIMAL(38,0)) % n_h) / n_h"
        " AS DECIMAL(38,0))")
    ssb = per_hour.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("hours"),
        F.sum(ssb_term).cast("decimal(38,0)").alias("ssb_raw"))
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vdec).cast("decimal(38,0)").alias("s"),
        F.sum(vdec * vdec).cast("decimal(38,0)").alias("s2"))
    j = tot.join(ssb, "event_type")
    # same DECIMAL-end-to-end floor division as ssb_term: s² DIV n is
    # ~5e19 at sf0.1 and would overflow Spark's BIGINT-returning DIV
    corr = F.expr(
        "CAST((CAST(s * s AS DECIMAL(38,0))"
        " - CAST(s * s AS DECIMAL(38,0)) % n) / n AS DECIMAL(38,0))")
    sst = F.col("s2").cast("double") - corr.cast("double")
    ssb_d = F.col("ssb_raw").cast("double") - corr.cast("double")
    eta2 = F.when(sst > 0.0, ssb_d / sst).otherwise(F.lit(0.0))
    return j.select("event_type", "n", "hours",
                    F.col("s2").cast("double").alias("sst_plus_corr"),
                    F.col("ssb_raw").cast("double").alias("ssb_raw"),
                    eta2.alias("eta2"))


ORACLE_SEASONALITY = f"""
    WITH d AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 % 24 AS hour,
               CAST(floor(value * {ETA2_SCALE}) AS BIGINT) AS v
        FROM events
    ),
    per_hour AS (
        SELECT event_type, hour, count(*) AS n_h,
               sum(CAST(v AS HUGEINT)) AS s_h
        FROM d GROUP BY event_type, hour
    ),
    ssb AS (
        SELECT event_type, count(*) AS hours,
               sum(s_h * s_h // n_h) AS ssb_raw
        FROM per_hour GROUP BY event_type
    ),
    tot AS (
        SELECT event_type, count(*) AS n,
               sum(CAST(v AS HUGEINT)) AS s,
               sum(CAST(v AS HUGEINT) * v) AS s2
        FROM d GROUP BY event_type
    )
    SELECT t.event_type,
           CAST(t.n AS BIGINT) AS n,
           CAST(b.hours AS BIGINT) AS hours,
           CAST(CAST(t.s2 AS VARCHAR) AS DOUBLE) AS sst_plus_corr,
           CAST(CAST(b.ssb_raw AS VARCHAR) AS DOUBLE) AS ssb_raw,
           CASE WHEN CAST(CAST(t.s2 AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(t.s * t.s // t.n AS VARCHAR) AS DOUBLE)
                     > 0
           THEN (CAST(CAST(b.ssb_raw AS VARCHAR) AS DOUBLE)
                 - CAST(CAST(t.s * t.s // t.n AS VARCHAR) AS DOUBLE))
                / (CAST(CAST(t.s2 AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(t.s * t.s // t.n AS VARCHAR) AS DOUBLE))
           ELSE 0.0 END AS eta2
    FROM tot t JOIN ssb b USING (event_type)
"""
ORACLES["seasonality_strength"] = ORACLE_SEASONALITY


# O'Brien-Fleming two-sided 5% z boundaries for 4 equally-spaced looks
SEQ_AB_BOUNDS = (4.333, 2.963, 2.359, 2.014)


def q_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B readout: the two-proportion z at FOUR
    interim looks (time-quartile cutoffs of the corpus span) against
    the O'Brien-Fleming spending boundaries — the experiment-monitoring
    primitive that lets a pipeline stop early without inflating false
    positives (peeking at a fixed 1.96 is the classic A/B sin).
    Arms are user-id parity; a user converts at look k if they have a
    purchase at or before the cutoff. All four looks ride ONE corpus
    pass: a constant 4× broadcast fan-out tags each event with every
    look whose cutoff admits it (the kcore/GSP discipline), one
    (look, user) aggregate folds conversion flags, one (look, arm)
    aggregate the sufficient integers. Cutoffs are integer epoch
    arithmetic off an in-plan broadcast min/max (the CUPED pattern —
    fully lazy, engine-identical); z is a single-shot double rounded to
    6 (house style), the boundary a literal."""
    e = load_table(spark, "events", sf_dir)
    s = F.unix_timestamp("ts").cast("long")
    b = e.agg(F.min(s).alias("_lo"), F.max(s).alias("_hi"))
    looks = local_rows(
        spark, [(k, SEQ_AB_BOUNDS[k - 1]) for k in (1, 2, 3, 4)],
        "look long, bound double")
    d = (e.select("user_id", "event_type", s.alias("s"))
         .crossJoin(F.broadcast(b))
         .crossJoin(F.broadcast(looks))
         .withColumn("_cut", F.expr("_lo + (_hi - _lo) * look DIV 4"))
         .filter(F.col("s") <= F.col("_cut")))
    per_user = d.groupBy("look", "bound", "user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int"))
        .alias("conv"))
    per_arm = (per_user
               .withColumn("arm", F.expr("user_id % 2"))
               .groupBy("look", "bound")
               .agg(F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
                    .cast("long").alias("n0"),
                    F.sum(F.when(F.col("arm") == 0, F.col("conv"))
                          .otherwise(0)).cast("long").alias("c0"),
                    F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
                    .cast("long").alias("n1"),
                    F.sum(F.when(F.col("arm") == 1, F.col("conv"))
                          .otherwise(0)).cast("long").alias("c1")))
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    p = (c0 + c1) / (n0 + n1)
    var = p * (1.0 - p) * (1.0 / n0 + 1.0 / n1)
    z = F.when((n0 > 0) & (n1 > 0) & (var > 0.0),
               F.round((c1 / n1 - c0 / n0) / F.sqrt(var), 6)) \
        .otherwise(F.lit(0.0))
    return per_arm.select(
        "look", "n0", "c0", "n1", "c1", "bound", z.alias("z"),
        F.when((F.abs(z) > F.col("bound")), 1).otherwise(0)
        .cast("long").alias("significant"))


def _sequential_ab_oracle() -> str:
    look_rows = ", ".join(
        f"({k}, {SEQ_AB_BOUNDS[k - 1]})" for k in (1, 2, 3, 4))
    return f"""
    WITH b AS (
        SELECT CAST(floor(min(epoch(ts))) AS BIGINT) AS lo,
               CAST(floor(max(epoch(ts))) AS BIGINT) AS hi
        FROM events
    ),
    looks(look, bound) AS (VALUES {look_rows}),
    d AS (
        SELECT l.look, l.bound, e.user_id, e.event_type
        FROM events e CROSS JOIN b CROSS JOIN looks l
        WHERE CAST(floor(epoch(e.ts)) AS BIGINT)
              <= b.lo + (b.hi - b.lo) * l.look // 4
    ),
    per_user AS (
        SELECT look, bound, user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM d GROUP BY look, bound, user_id
    ),
    per_arm AS (
        SELECT look, bound,
               sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
               sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS c0,
               sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS c1
        FROM per_user GROUP BY look, bound
    )
    SELECT CAST(look AS BIGINT) AS look,
           CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
           CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
           bound,
           CASE WHEN n0 > 0 AND n1 > 0
                 AND ((CAST(c0 AS DOUBLE) + c1) / (CAST(n0 AS DOUBLE) + n1))
                     * (1.0 - (CAST(c0 AS DOUBLE) + c1)
                              / (CAST(n0 AS DOUBLE) + n1))
                     * (1.0 / n0 + 1.0 / n1) > 0
           THEN round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                / sqrt(((CAST(c0 AS DOUBLE) + c1)
                        / (CAST(n0 AS DOUBLE) + n1))
                       * (1.0 - (CAST(c0 AS DOUBLE) + c1)
                                / (CAST(n0 AS DOUBLE) + n1))
                       * (1.0 / n0 + 1.0 / n1)), 6)
           ELSE 0.0 END AS z,
           CAST(CASE WHEN abs(
               CASE WHEN n0 > 0 AND n1 > 0
                     AND ((CAST(c0 AS DOUBLE) + c1)
                          / (CAST(n0 AS DOUBLE) + n1))
                         * (1.0 - (CAST(c0 AS DOUBLE) + c1)
                                  / (CAST(n0 AS DOUBLE) + n1))
                         * (1.0 / n0 + 1.0 / n1) > 0
               THEN round((CAST(c1 AS DOUBLE) / n1
                           - CAST(c0 AS DOUBLE) / n0)
                    / sqrt(((CAST(c0 AS DOUBLE) + c1)
                            / (CAST(n0 AS DOUBLE) + n1))
                           * (1.0 - (CAST(c0 AS DOUBLE) + c1)
                                    / (CAST(n0 AS DOUBLE) + n1))
                           * (1.0 / n0 + 1.0 / n1)), 6)
               ELSE 0.0 END) > bound THEN 1 ELSE 0 END AS BIGINT)
               AS significant
    FROM per_arm
    """


ORACLES["sequential_ab"] = _sequential_ab_oracle()


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-rate table of the event-type chain: per transition (i→j)
    the stationary mass of i (the verified fixed-point iteration's
    exact scaled integer), the exact transition counts, and the term
    (π_i/SCALE)·(c/n_i)·ln(n_i/c) whose Σ is the chain's entropy rate
    — the long-run bits-per-event of user behavior (drift monitors
    watch it tighten as bots repeat themselves). Composes TWO verified
    relations — the stationary distribution and the shared transition
    spine — with one K-row broadcast join; each hashed row is a
    single-shot double over exact integers, ln through round(·, 6) (the
    transition_entropy discipline), Σ left client-side (the logrank
    rule: no cross-row float accumulation in the hashed surface)."""
    st = q_markov_stationary(spark, sf_dir).select(
        F.col("state").alias("i"), "mass")
    m = (_markov_pair_counts(spark, sf_dir)
         .filter(F.col("variant") == "all").select("i", "j", "c"))
    n = m.groupBy("i").agg(F.sum("c").cast("long").alias("n_i"))
    j = m.join(F.broadcast(n), "i").join(F.broadcast(st), "i")
    pi = F.col("mass").cast("double") / F.lit(float(MARKOV_SCALE))
    pij = F.col("c").cast("double") / F.col("n_i").cast("double")
    term = F.round(pi * pij * F.log(F.col("n_i").cast("double")
                                    / F.col("c").cast("double")), 6)
    return j.select("i", "j",
                    F.col("mass").cast("long").alias("mass"),
                    F.col("c").cast("long").alias("c"),
                    "n_i", term.alias("rate_term"))


def _markov_entropy_rate_oracle() -> str:
    return f"""
    WITH stat AS (SELECT * FROM ({ORACLES['markov_stationary']}) s0),
    d2 AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type
        FROM events
    ),
    pairs2 AS (
        SELECT event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY s, event_id) AS prev_t
        FROM d2
    ),
    m2 AS (
        SELECT prev_t AS i, event_type AS j, count(*) AS c
        FROM pairs2 WHERE prev_t IS NOT NULL GROUP BY prev_t, event_type
    ),
    n2 AS (SELECT i, CAST(sum(c) AS BIGINT) AS n_i FROM m2 GROUP BY i)
    SELECT m2.i, m2.j,
           CAST(stat.mass AS BIGINT) AS mass,
           CAST(m2.c AS BIGINT) AS c,
           n2.n_i,
           round((CAST(stat.mass AS DOUBLE) / {MARKOV_SCALE})
                 * (CAST(m2.c AS DOUBLE) / n2.n_i)
                 * ln(CAST(n2.n_i AS DOUBLE) / m2.c), 6) AS rate_term
    FROM m2 JOIN n2 USING (i) JOIN stat ON stat.state = m2.i
    """


ORACLES["markov_entropy_rate"] = _markov_entropy_rate_oracle()
