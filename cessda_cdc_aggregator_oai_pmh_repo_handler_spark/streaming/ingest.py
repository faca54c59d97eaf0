"""Structured Streaming ingestion of harvest events (SURVEY §2.8).

The reference is serve-only; harvesting lives in sibling CESSDA components.
BASELINE.json puts ingestion in scope: an upsert stream of Study documents
keyed by ``aggregator_identifier`` with logical-delete tombstones matching
the serve-side semantics (P3 null-keeping ``$ne``, F9 deleted datestamp):

- **dedup**: watermark on ``harvest_ts`` + ``dropDuplicates`` on
  (identifier, harvest_ts) absorbs duplicate harvest deliveries;
- **upsert**: last event per key wins within a batch; ``metadata.updated``
  is maintained at ingest — this is exactly what makes the serve side's
  snapshot paging (P7/O2) correct;
- **delete**: the row STAYS in the corpus with status='deleted' and
  ``metadata.deleted`` set (logical deletion, /root/reference semantics);
  a delete for an unknown key creates a bare tombstone;
- **provenance**: the event carries its chain; the ingest prepends the
  aggregator's own hop and refreshes the denormalized ``direct_base_url``
  (/root/reference/CHANGELOG.md:117-120).

The corpus store is the versioned table (``sources/versioned_table.py``):
``merge_batch_versioned`` is the one ``foreachBatch`` sink and commits each
microbatch as one snapshot version.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.derivations import direct_base_url_expr
from ..sources.studies import STUDY_DDL, studies_schema

ACTION_UPSERT = "upsert"
ACTION_DELETE = "delete"


def harvest_event_schema() -> T.StructType:
    """Study document + (action, harvest_ts) envelope."""
    return T.StructType(
        list(studies_schema())
        + [
            T.StructField("action", T.StringType(), False),
            T.StructField("harvest_ts", T.TimestampType(), False),
        ]
    )


def _latest_event_per_key(events: DataFrame) -> DataFrame:
    """Within a microbatch, the newest event per key wins (ties broken by
    action so a delete at the same instant beats the stale upsert)."""
    w = Window.partitionBy("aggregator_identifier").orderBy(
        F.col("harvest_ts").desc(), F.col("action").asc()
    )
    return events.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn")


def _as_study_row(events: DataFrame, existing: DataFrame) -> DataFrame:
    """Shape events into studies-schema rows, merging per-key state from
    ``existing`` (created timestamp, prior fields for tombstones)."""
    ex = existing.select(
        F.col("aggregator_identifier").alias("_ex_id"),
        F.col("metadata").alias("_ex_metadata"),
    )
    joined = events.join(ex, events.aggregator_identifier == ex._ex_id, "left")

    created = F.coalesce(F.col("_ex_metadata.created"), F.col("harvest_ts"))
    is_delete = F.col("action") == ACTION_DELETE
    new_metadata = F.struct(
        F.when(is_delete, F.lit("deleted")).otherwise(F.lit("created")).alias("status"),
        created.alias("created"),
        F.col("harvest_ts").alias("updated"),
        F.when(is_delete, F.col("harvest_ts")).alias("deleted"),
    )
    out = joined.withColumn("metadata", new_metadata).withColumn(
        "direct_base_url", direct_base_url_expr()
    )
    return out.select(*[name for name, _ in STUDY_DDL])


VALID_ACTIONS = (ACTION_UPSERT, ACTION_DELETE)


def split_quarantine(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Events that cannot merge (missing key, unknown action, missing
    harvest timestamp) go to a side channel instead of poisoning the batch
    — at scale the quarantine is a dated parquet the harvest operators
    triage. Returns (good, bad)."""
    bad_cond = (
        F.col("aggregator_identifier").isNull()
        | (F.col("aggregator_identifier") == "")
        | ~F.col("action").isin(*VALID_ACTIONS)
        | F.col("harvest_ts").isNull()
    )
    return batch.filter(~bad_cond), batch.filter(bad_cond)


def merge_batch_versioned(batch: DataFrame, table_path: str,
                          quarantine_path: str | None = None,
                          epoch_id: int | None = None) -> None:
    """MERGE sink over the VERSIONED TABLE, the one corpus store: each
    microbatch commits ONE snapshot version via
    ``versioned_table.merge_keys`` — file-granular copy-on-write, so after
    a key-clustered compact the merge rewrites only the files the batch's
    key range touches. The equivalent Delta form is ``MERGE INTO studies
    USING batch ON key WHEN MATCHED ... WHEN NOT MATCHED INSERT``. An empty
    table is created at ``table_path`` on the first merge. Malformed events
    are appended to ``quarantine_path`` when given, dropped otherwise.

    - exactly-once via the epoch riding the manifest's bounded
      recent-epoch set (vacuum-safe, no side-channel file);
    - TIME TRAVEL across ingest batches (``VT.read(spark, path, v)``) —
      the Delta ``VERSION AS OF`` idiom SURVEY §2.5 O2 names: snapshot
      paging pins a version and later merges can't shear the page walk;
    - CDC between any two retained snapshots (``VT.table_changes``).
    """
    from ..sources import versioned_table as VT

    spark = batch.sparkSession
    if not VT.is_table(table_path):
        VT.create(spark.createDataFrame([], studies_schema()), table_path)
    if epoch_id is not None and VT.epoch_committed(table_path, epoch_id):
        return
    batch, bad = split_quarantine(batch)
    if quarantine_path is not None and bad.limit(1).count() > 0:
        bad.write.mode("append").parquet(quarantine_path)
    latest = _latest_event_per_key(batch)
    existing = VT.read(spark, table_path)
    # cached: merge_keys takes three actions over the updates (key bounds,
    # distinct keys, the rewrite) — without the cache each would replay
    # the created-timestamp join against the corpus
    incoming = _as_study_row(latest, existing).cache()
    try:
        VT.merge_keys(spark, incoming, table_path,
                      key="aggregator_identifier", epoch=epoch_id)
    finally:
        incoming.unpersist()


# /metrics live-record flag as a self-maintainable measure: the pair
# (count, sum(LIVE)) per publisher IS (records_total,
# records_without_deleted) — the two counters the reference's Prometheus
# endpoint recomputes with 2 + 2·N store round-trips per scrape
# (/root/reference/cdcagg_oai/metrics.py:170-198)
METRICS_VIEW_GROUP = "direct_base_url"
# null-keeping ≠ 'deleted' — the same F9/P3 semantics metrics_rollup's
# not_deleted() predicate uses (a NULL status counts as live)
METRICS_VIEW_MEASURE = ("CASE WHEN metadata.status IS NULL "
                        "OR metadata.status <> 'deleted' "
                        "THEN 1 ELSE 0 END")


def refresh_metrics_view(spark: SparkSession, table_path: str,
                         state: dict | None = None) -> dict:
    """Maintained per-publisher /metrics counters over the versioned
    corpus: change-sized IVM refresh from the table's own CDC feed —
    a scrape reads driver-held state, zero store round-trips, and the
    numbers are exact as of a NAMED snapshot version (state['version']),
    which a recompute-per-scrape can never claim under concurrent
    ingest."""
    from ..sources import versioned_table as VT

    if state is None:
        state = {"version": 0, "rows": {}}
    return VT.refresh_aggregate(spark, table_path, state,
                                METRICS_VIEW_GROUP, METRICS_VIEW_MEASURE)


def metrics_view_counts(state: dict) -> dict:
    """State → the reference's /metrics shape: per-publisher totals and
    without-deleted counts (metrics.py's collect_metrics contract)."""
    return {
        "version": state["version"],
        "publishers_counts": {k: int(n) for k, (n, _s) in
                              state["rows"].items()},
        "publishers_counts_without_deleted": {
            k: int(s) for k, (_n, s) in state["rows"].items()},
    }


def _load_view_state(path: str) -> dict | None:
    import json

    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _store_view_state(path: str, state: dict) -> None:
    import json

    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)  # same atomic-publish discipline as the table


def start_ingest_versioned(spark: SparkSession, source_dir: str,
                           table_path: str, checkpoint_dir: str,
                           watermark: str = "1 hour",
                           available_now: bool = True,
                           metrics_view_path: str | None = None):
    """File-source harvest stream → watermarked dedup → the versioned-table
    merge sink (``merge_batch_versioned``, which creates the table on its
    first batch). ``available_now=True`` drains what's present and stops
    (test/batch-up mode); ``False`` runs continuously with the default
    trigger. With ``metrics_view_path`` set, every microbatch also
    advances the maintained /metrics view (atomic JSON state next to the
    table); the refresh is version-gated so a replayed epoch is a no-op."""

    def _sink(df: DataFrame, epoch) -> None:
        merge_batch_versioned(df, table_path, epoch_id=int(epoch))
        if metrics_view_path is not None:
            state = (_load_view_state(metrics_view_path)
                     or {"version": 0, "rows": {}})
            _store_view_state(metrics_view_path,
                              refresh_metrics_view(spark, table_path, state))

    stream = (
        spark.readStream.schema(harvest_event_schema())
        .option("maxFilesPerTrigger", 16)
        .parquet(source_dir)
        .withWatermark("harvest_ts", watermark)
        .dropDuplicates(["aggregator_identifier", "harvest_ts"])
    )
    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_user_running_totals(spark: SparkSession, source_dir: str,
                                  schema: T.StructType):
    """§2.8 custom stateful operator: per-user running event count/value sum
    via ``applyInPandasWithState`` — the escape hatch for semantics the
    built-in windowed aggs can't express (here: monotonic running totals
    emitted every microbatch). State is one row per user; at scale the
    state store shards by the group key across executors."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("events_seen", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("events_seen", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        yield pd.DataFrame({"user_id": [key[0]], "events_seen": [count],
                            "value_sum": [round(total, 2)]})

    return (
        spark.readStream.schema(schema).parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_user_topk(spark: SparkSession, source_dir: str,
                        schema: T.StructType, k: int = 3):
    """§2.8 stateful operator with BOUNDED ORDERED state: per-user top-k
    event values maintained across microbatches via
    ``applyInPandasWithState``. Unlike running totals (a fold) or
    sessions (a gap rule), top-k needs an ordered multi-value state no
    built-in streaming aggregate expresses — and it shows the
    bounded-state discipline for 100 TB streams: the state row is
    EXACTLY k doubles per key however many events arrive, because the
    merge truncates inside the update function (state size is a design
    constant, not data-dependent). Emitted every update; the last
    emission per key equals the batch top-k."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_tracked", T.LongType()),
        T.StructField("topk", T.ArrayType(T.DoubleType())),
    ])
    state_schema = T.StructType([
        T.StructField("topk", T.ArrayType(T.DoubleType())),
    ])

    def update(key, pdfs, state: GroupState):
        best = list(state.get[0]) if state.exists else []
        n = 0
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            n += len(vals)
            best.extend(float(v) for v in vals)
            best.sort(reverse=True)
            del best[k:]  # truncate per batch: state never exceeds k
        state.update((best,))
        yield pd.DataFrame({"user_id": [key[0]],
                            "n_tracked": [len(best)],
                            "topk": [best]})

    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_pattern_counts(spark: SparkSession, source_dir: str,
                             schema: T.StructType):
    """STREAMING CEP — the ``applyInPandasWithState`` twin of the batch
    ``arrays.q_event_pattern_match`` (which the gate verifies against
    DuckDB): per-user view→purchase pattern counts maintained
    incrementally. The non-overlapping regex ``v[cse]*p`` compiles to a
    TWO-STATE AUTOMATON (pending view flag) — on 'v' arm, on 'p'
    fire-and-reset, 'c'/'s'/'e' carry — so per-key state is FOUR scalars
    (last char, pending, counters) however long the history: the
    bounded-state discipline a 100 TB stream requires, where the batch
    form's per-key sequence string would grow without limit. Adjacency
    (``direct_vp``) needs exactly the previous character, also carried.

    Ordering contract: rows are processed in (ts, event_id) order within
    each batch, and batches must arrive in event-time order per key (the
    file source's list order; a production deployment fronts this with
    the watermarked dedup stage like start_ingest_versioned does). The
    test pins stream-final counts to the oracle-checked batch operator."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("seq_len", T.LongType()),
        T.StructField("direct_vp", T.LongType()),
        T.StructField("conversions", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("last_char", T.StringType()),
        T.StructField("pending", T.LongType()),
        T.StructField("seq_len", T.LongType()),
        T.StructField("direct_vp", T.LongType()),
        T.StructField("conversions", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        last, pending, n, vp, conv = (
            state.get if state.exists else ("", 0, 0, 0, 0))
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for c in batch["event_type"].str[0]:
            n += 1
            if last == "v" and c == "p":
                vp += 1
            if c == "v":
                pending = 1
            elif c == "p" and pending:
                conv += 1
                pending = 0
            last = c
        state.update((last, pending, n, vp, conv))
        yield pd.DataFrame({"user_id": [key[0]], "seq_len": [n],
                            "direct_vp": [vp], "conversions": [conv]})

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_ewma(spark: SparkSession, source_dir: str,
                   schema: T.StructType):
    """STREAMING EWMA — the ``applyInPandasWithState`` twin of the batch
    ``arrays.q_ewma_smooth`` (gate-verified against a DuckDB recursive
    CTE): per-user exponential smoothing maintained incrementally with
    TWO scalars of state (current level, count) however many events
    arrive — the canonical online-feature shape (fraud scores, rate
    estimates) where the batch recursion becomes a per-event O(1) update.
    Identical literal coefficients as the batch op, so stream-final
    levels match the batch fold bit for bit under in-order delivery
    (same ordering contract as streaming_pattern_counts)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.arrays import EWMA_A, EWMA_B

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("s", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        s, n = state.get if state.exists else (None, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for x in batch["value"].to_numpy():
            s = float(x) if n == 0 else EWMA_A * float(x) + EWMA_B * s
            n += 1
        state.update((s, n))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "ewma": [s]})

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_holt_winters(spark: SparkSession, source_dir: str,
                           schema: T.StructType):
    """STREAMING Holt double exponential smoothing — the
    ``applyInPandasWithState`` twin of the batch ``arrays.q_holt_winters``
    (gate-verified against a DuckDB recursive CTE): per-user level+trend
    maintained incrementally with THREE scalars of state (level, trend,
    count). Identical literal coefficients and update order as the batch
    fold, so stream-final levels/trends match it bit for bit under
    in-order delivery (the streaming_ewma contract, one more scalar)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.arrays import HW_A, HW_B, HW_D, HW_G

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("lvl", T.DoubleType()),
        T.StructField("tr", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        lvl, tr, n = state.get if state.exists else (None, 0.0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for x in batch["value"].to_numpy():
            if n == 0:
                lvl, tr = float(x), 0.0
            else:
                prev = lvl
                lvl = HW_A * float(x) + HW_B * (lvl + tr)
                tr = HW_G * (lvl - prev) + HW_D * tr
            n += 1
        state.update((lvl, tr, n))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n],
                            "level": [lvl], "trend": [tr]})

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_transition_counts(spark: SparkSession, source_dir: str,
                                schema: T.StructType):
    """STREAMING Markov transition counts — the ``applyInPandasWithState``
    twin of the pair-extraction stage shared by the batch
    ``arrays.q_markov_stationary`` and ``arrays.q_transition_entropy``
    (both gate-verified vs DuckDB): per-user (prev → next) event-type
    counts maintained incrementally. State is BOUNDED at O(K²) per key —
    the last event type plus a ≤K² count table (K = event-type
    vocabulary, 5 here), serialized as a sorted-key JSON string — however
    long the history; the batch form's lag() window needs each user's
    full ordered history co-located, the stream needs a constant-size
    table. Every emission reports the cumulative per-(i,j) counts AS IF
    the stream ended now, so stream-final rows summed across users equal
    the batch transition matrix exactly under in-order delivery (the
    streaming_pattern_counts ordering contract). Online, this is the
    transition-matrix feed for drift monitors and next-event models."""
    import json
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("i", T.StringType()),
        T.StructField("j", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("last", T.StringType()),
        T.StructField("counts", T.StringType()),
    ])

    def update(key, pdfs, state: GroupState):
        last, cj = state.get if state.exists else ("", "{}")
        counts = json.loads(cj)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # mirror the batch ops' SECOND-truncated unix_timestamp sort key
        # (full-precision ts would tie-break same-second events by
        # sub-second order instead of event_id, breaking exact parity)
        batch = batch.assign(
            _s=batch["ts"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000).sort_values(["_s", "event_id"])
        for t in batch["event_type"]:
            if last:
                k = f"{last}|{t}"
                counts[k] = counts.get(k, 0) + 1
            last = t
        state.update((last, json.dumps(counts, sort_keys=True)))
        if counts:
            ks = sorted(counts)
            yield pd.DataFrame({
                "user_id": [key[0]] * len(ks),
                "i": [k.split("|")[0] for k in ks],
                "j": [k.split("|")[1] for k in ks],
                "n": [counts[k] for k in ks],
            })

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_streak_census(spark: SparkSession, source_dir: str,
                            schema: T.StructType):
    """STREAMING run-length census — the ``applyInPandasWithState`` twin
    of the batch ``arrays.q_streak_census`` (gate-verified vs DuckDB):
    per-user event-type streak statistics maintained incrementally.
    State is BOUNDED at O(K) per key (K = event-type vocabulary): the
    open run's type and length plus a per-type table of closed-run
    stats (n_runs, max_run, runs_ge3, events_ge3) as a sorted-key JSON
    string — the batch form's run-id window needs the user's full
    ordered history co-located. Every emission reports each type's
    census AS IF the stream ended now (open run folded in as closed),
    so all four fields are monotone nondecreasing and stream-final
    rows, aggregated across users (sum / max), equal the batch answer
    exactly under in-order delivery."""
    import json
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n_runs", T.LongType()),
        T.StructField("max_run", T.LongType()),
        T.StructField("runs_ge3", T.LongType()),
        T.StructField("events_ge3", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("open_type", T.StringType()),
        T.StructField("open_len", T.LongType()),
        T.StructField("closed", T.StringType()),
    ])

    def update(key, pdfs, state: GroupState):
        open_type, open_len, cj = (
            state.get if state.exists else ("", 0, "{}"))
        closed = {k: list(v) for k, v in json.loads(cj).items()}
        batch = pd.concat(list(pdfs), ignore_index=True)
        # batch q_streak_census orders by SECOND-truncated unix_timestamp
        # + event_id; mirror that key exactly (full-precision ts would
        # tie-break same-second events by sub-second order instead of
        # event_id, breaking parity). Normalize to ns first: Arrow may
        # hand datetime64[us].
        batch = batch.assign(
            _s=batch["ts"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000).sort_values(["_s", "event_id"])

        def fold(tbl, t, length):
            st = tbl.setdefault(t, [0, 0, 0, 0])
            st[0] += 1
            st[1] = max(st[1], length)
            if length >= 3:
                st[2] += 1
                st[3] += length
            return tbl

        for t in batch["event_type"]:
            if t == open_type:
                open_len += 1
            else:
                if open_type:
                    fold(closed, open_type, open_len)
                open_type, open_len = t, 1
        state.update((open_type, open_len,
                      json.dumps(closed, sort_keys=True)))
        asif = {k: list(v) for k, v in closed.items()}
        if open_type:
            fold(asif, open_type, open_len)
        if asif:
            ks = sorted(asif)
            yield pd.DataFrame({
                "user_id": [key[0]] * len(ks),
                "event_type": ks,
                "n_runs": [asif[k][0] for k in ks],
                "max_run": [asif[k][1] for k in ks],
                "runs_ge3": [asif[k][2] for k in ks],
                "events_ge3": [asif[k][3] for k in ks],
            })

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_conversion_flags(spark: SparkSession, source_dir: str,
                               schema: T.StructType):
    """STREAMING per-(user, type) conversion flags — the
    ``applyInPandasWithState`` twin of the distinct/semi-join stage of
    the batch ``arrays.q_wilson_ci`` (gate-verified vs DuckDB): which
    event types each user has fired, and whether the user has purchased,
    maintained with O(K) state per key (the sorted type set plus one
    bool). Every emission re-reports ALL of the user's non-purchase
    types with the conversion flag AS OF now — the flag is monotone
    (0→1 when the purchase arrives, possibly AFTER the exposure), so
    stream-final rows aggregated per type (n = count, k = sum conv)
    plug into the closed-form Wilson bounds and equal the batch answer
    exactly. Online, this is the live experiment-dashboard feed."""
    import json
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("conv", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("types", T.StringType()),
        T.StructField("purchased", T.BooleanType()),
    ])

    def update(key, pdfs, state: GroupState):
        tj, purchased = state.get if state.exists else ("[]", False)
        types = set(json.loads(tj))
        batch = pd.concat(list(pdfs), ignore_index=True)
        for t in batch["event_type"]:
            if t == "purchase":
                purchased = True
            else:
                types.add(t)
        state.update((json.dumps(sorted(types)), bool(purchased)))
        if types:
            ks = sorted(types)
            yield pd.DataFrame({
                "user_id": [key[0]] * len(ks),
                "event_type": ks,
                "conv": [1 if purchased else 0] * len(ks),
            })

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_user_lifetime(spark: SparkSession, source_dir: str,
                            schema: T.StructType):
    """STREAMING user lifetimes — the ``applyInPandasWithState`` twin of
    the per-user fold inside the batch ``arrays.q_kaplan_meier``
    (gate-verified vs DuckDB): first/last event DAY per user as two
    integers of state, emitting the lifetime duration AS IF the stream
    ended now. Durations are monotone nondecreasing under in-order
    delivery, so stream-final per-user rows bucketed by duration
    (deaths per d, cumulative deaths, at-risk) reproduce the batch
    Kaplan-Meier table exactly. The event-ordered fold is the survival
    pipeline's online half: censored (still-active) users simply carry
    their current duration."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("dur", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("first_day", T.LongType()),
        T.StructField("last_day", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        first_day, last_day = state.get if state.exists else (None, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # calendar day of the naive timestamp (matches Spark's
        # cast-to-date on timestamp_ntz); ns-normalize first — Arrow may
        # hand datetime64[us]
        days = (batch["ts"].astype("datetime64[ns]").astype("int64")
                // (86_400 * 1_000_000_000))
        lo, hi = int(days.min()), int(days.max())
        first_day = lo if first_day is None else min(first_day, lo)
        last_day = hi if last_day is None else max(last_day, hi)
        state.update((first_day, last_day))
        yield pd.DataFrame({
            "user_id": [key[0]],
            "dur": [last_day - first_day],
        })

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_ordinal_patterns(spark: SparkSession, source_dir: str,
                               schema: T.StructType):
    """STREAMING ordinal-pattern census — the ``applyInPandasWithState``
    twin of the batch ``arrays.q_permutation_entropy`` pattern
    extraction (gate-verified vs DuckDB): per-user counts of the
    Bandt-Pompe order pattern of each consecutive value TRIPLE,
    maintained with O(1) state per key (the last two values plus a ≤27-
    entry pattern table). Patterns encode as the three pairwise
    comparators (v0?v1, v1?v2, v0?v2), matching the batch op exactly.
    Every emission reports the per-(user, pattern) counts AS IF the
    stream ended now (monotone), so stream-final rows summed across
    users equal the batch census under in-order delivery — the online
    complexity/drift feed for time-series monitors."""
    import json
    import math
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("pattern", T.StringType()),
        T.StructField("n", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("v1", T.DoubleType()),
        T.StructField("v2", T.DoubleType()),
        T.StructField("k", T.LongType()),
        T.StructField("counts", T.StringType()),
    ])

    def cmp(a: float, b: float) -> str:
        return "<" if a < b else ("=" if a == b else ">")

    def update(key, pdfs, state: GroupState):
        v1, v2, k, cj = (state.get if state.exists
                         else (0.0, 0.0, 0, "{}"))
        counts = json.loads(cj)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # mirror batch q_permutation_entropy's SECOND-truncated sort key
        # (see streaming_streak_census for the rationale)
        batch = batch.assign(
            _s=batch["ts"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000).sort_values(["_s", "event_id"])
        for v in batch["value"]:
            v = float(v)
            if math.isnan(v):
                continue
            if k >= 2:
                pat = cmp(v1, v2) + cmp(v2, v) + cmp(v1, v)
                counts[pat] = counts.get(pat, 0) + 1
            v1, v2 = v2, v
            k = min(k + 1, 2)
        state.update((v1, v2, k, json.dumps(counts, sort_keys=True)))
        if counts:
            ks = sorted(counts)
            yield pd.DataFrame({
                "user_id": [key[0]] * len(ks),
                "pattern": ks,
                "n": [counts[p] for p in ks],
            })

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_interval_coverage(spark: SparkSession, source_dir: str,
                                schema: T.StructType):
    """STREAMING gaps-and-islands — the ``applyInPandasWithState`` twin of
    the batch ``arrays.q_interval_coverage`` (gate-verified vs DuckDB):
    each event opens a [ts, ts+300s) activity interval; overlapping
    intervals merge into islands online with FOUR integers of state per
    user (open-island start, open-island max end, closed-island count,
    closed covered seconds). Every emission reports the totals AS IF the
    stream ended now (open island included), so the stream-final row
    equals the batch answer exactly under in-order delivery — the
    streaming_ewma contract. State is O(1) per user forever; this is the
    online uptime/activity-coverage meter."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.arrays import INTERVAL_HOLD_S

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_islands", T.LongType()),
        T.StructField("covered_s", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("max_e", T.LongType()),
        T.StructField("closed", T.LongType()),
        T.StructField("cov", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        start, max_e, closed, cov = (
            state.get if state.exists else (None, None, 0, 0))
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        # normalize to ns first: Arrow may hand the batch datetime64[us],
        # whose int64 view is microseconds, not nanoseconds
        secs = (batch["ts"].astype("datetime64[ns]").astype("int64")
                // 1_000_000_000).to_numpy()
        for s in secs:
            s = int(s)
            e = s + INTERVAL_HOLD_S
            if start is None:
                start, max_e = s, e
            elif s > max_e:
                closed += 1
                cov += max_e - start
                start, max_e = s, e
            else:
                max_e = max(max_e, e)
        state.update((start, max_e, closed, cov))
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_islands": [closed + (1 if start is not None else 0)],
            "covered_s": [cov + ((max_e - start) if start is not None
                                 else 0)],
        })

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_GAP_MINUTES = 30


def streaming_session_finalizer(spark: SparkSession, source_dir: str,
                                schema: T.StructType,
                                gap_minutes: int = SESSION_GAP_MINUTES,
                                watermark: str = "1 hour"):
    """Idle-session finalizer — ``applyInPandasWithState`` with an
    EVENT-TIME TIMEOUT: per-user sessions carrying custom payloads
    (event count, value sum, first/last timestamps) that
    ``F.session_window`` cannot express, emitted EXACTLY ONCE per closed
    session. A session closes two ways, both handled:

    - a later event from the same user arrives past the gap → the old
      session emits immediately and a new one opens (split-on-arrival);
    - no event ever arrives → the registered timeout fires when the
      WATERMARK passes last_ts + gap (``state.hasTimedOut``), so idle
      users' sessions still finalize — the case arrival-driven logic
      alone can never close.

    State is one fixed-width row per user; the timeout registration is
    re-armed on every update, so state size is user-count-bounded and
    the store never accumulates dead sessions. This is the canonical
    shape for sessionization at 100 TB where the built-in session_window
    suffices only for count/sum payloads."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ])

    def _row(user, s):
        return pd.DataFrame({
            "user_id": [user],
            "session_start": [pd.Timestamp(s[0], unit="us")],
            "session_end": [pd.Timestamp(s[1], unit="us")],
            "events": [s[2]],
            "value_sum": [round(s[3], 2)],
        })

    def update(key, pdfs, state: GroupState):
        user = key[0]
        if state.hasTimedOut:
            if state.exists:
                yield _row(user, state.get)
            state.remove()
            return
        cur = list(state.get) if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, value in zip(pdf["ts"], pdf["value"]):
                us = int(pd.Timestamp(ts).value // 1_000)
                if cur is None:
                    cur = [us, us, 0, 0.0]
                elif us - cur[1] > gap_us:
                    yield _row(user, cur)          # split-on-arrival
                    cur = [us, us, 0, 0.0]
                cur[1] = max(cur[1], us)
                cur[2] += 1
                cur[3] += float(value)
        if cur is not None:
            state.update(tuple(cur))
            # finalize via watermark if the user goes idle
            state.setTimeoutTimestamp(cur[1] // 1000 + gap_minutes * 60_000)

    return (
        spark.readStream.schema(schema).parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def signup_purchase_join(events: DataFrame, max_gap_days: int = 7,
                         watermark: str = "1 day") -> DataFrame:
    """Stream-stream interval join: each purchase joined to the signups of
    the same user within the preceding ``max_gap_days`` — the attribution
    shape (conversion within N days of signup). Works identically on a
    static DataFrame (watermarks are no-ops in batch), which is what the
    test equivalence relies on.

    Streaming semantics: BOTH sides carry a watermark and the join
    condition bounds event-time distance, so Spark can expire join state
    — without the time bound the state store would grow forever. One
    shuffle on user_id for both sides; at 100 TB the state per user is
    the in-horizon signups only."""
    base = events.withColumn("ts", F.col("ts").cast("timestamp"))
    signups = (
        base.filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", watermark)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts")
           <= F.col("signup_ts") + F.expr(f"interval {max_gap_days} days")),
    ).select("event_id", "user_id", "purchase_ts", "signup_ts")


def streaming_signup_purchase_join(spark: SparkSession, source_dir: str,
                                   schema: T.StructType) -> DataFrame:
    """§2.8 stream-stream join demo over a file source."""
    return signup_purchase_join(
        spark.readStream.schema(schema).parquet(source_dir))


def signup_purchase_join_outer(events: DataFrame, max_gap_days: int = 7,
                               watermark: str = "1 day") -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits — with
    its in-window signups when they exist, or ONCE with a null signup_ts
    after the watermark passes the join horizon (attribution pipelines
    need the unconverted rows too, not just the matches).

    Spark only allows outer stream-stream joins under exactly these
    conditions (watermarks on both sides + an event-time range in the
    join condition), because a null result is a *negative* claim — "no
    signup arrived in the window" — which is only safe to emit once the
    watermark proves the window closed. Unmatched rows therefore
    materialize with watermark delay, not immediately; in batch the same
    plan degenerates to a plain left outer join (watermarks are no-ops),
    which is the equivalence the test uses."""
    base = events.withColumn("ts", F.col("ts").cast("timestamp"))
    signups = (
        base.filter(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", watermark)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts")
           <= F.col("signup_ts") + F.expr(f"interval {max_gap_days} days")),
        "leftOuter",
    ).select("event_id", "user_id", "purchase_ts", "signup_ts")


def streaming_signup_purchase_join_outer(spark: SparkSession, source_dir: str,
                                         schema: T.StructType,
                                         max_files_per_trigger: int = 1
                                         ) -> DataFrame:
    """File-source form of the outer join. ``maxFilesPerTrigger=1`` gives
    one microbatch per file so the watermark actually ADVANCES between
    batches — outer nulls only emit when a later batch's watermark closes
    the earlier batch's windows (a single mega-batch would end the query
    with all unmatched state still pending)."""
    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))
    return signup_purchase_join_outer(reader)


def streaming_event_window_counts(spark: SparkSession, source_dir: str,
                                  schema: T.StructType, watermark: str = "1 day"):
    """§2.8 windowed-aggregation demo: the exact batch plan of
    ``operators.arrays.q_event_window`` under readStream + watermark (late
    rows beyond the watermark are dropped instead of recomputed)."""
    stream = (
        spark.readStream.schema(schema).parquet(source_dir)
        # watermarks require TIMESTAMP (ltz); session tz is UTC so the cast
        # is value-preserving against the batch NTZ plan
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        # same decimal-exact accumulation as the batch q_event_window plan,
        # so batch/stream parity holds bit-for-bit
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
             .cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value")
    )
    return stream


def streaming_interval_align(spark: SparkSession, source_dir: str,
                             schema: T.StructType):
    """STREAMING interval-intersection — the ``applyInPandasWithState``
    twin of the batch ``arrays.q_interval_align`` sweep line
    (gate-verified vs DuckDB): per-user co-activity of the click/view
    interval streams maintained online with O(1) state per key. The
    open/close counters of the batch sweep ARE the state (r9 verdict
    #5): per stream the current open island's end plus the accumulated
    closed coverage, and one shared overlap accumulator; each incoming
    event first advances the sweep past any STRICTLY-earlier island
    closes (accounting a/b/both segment widths), then extends or opens
    its stream's island — mirroring the batch's half-open [lo, hi)
    merge (an event at s == open end EXTENDS, closes sort before opens
    at equal t). Every emission reports totals AS IF the stream ended
    now (both opens flushed on a copy), so stream-final rows equal the
    batch answer exactly under in-order delivery."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.arrays import ALIGN_A, ALIGN_B, INTERVAL_HOLD_S

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("overlap_s", T.LongType()),
        T.StructField("a_cov_s", T.LongType()),
        T.StructField("b_cov_s", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("cur_t", T.LongType()),
        T.StructField("a_end", T.LongType()),   # -1 = no open island
        T.StructField("b_end", T.LongType()),
        T.StructField("a_cov", T.LongType()),
        T.StructField("b_cov", T.LongType()),
        T.StructField("overlap", T.LongType()),
    ])

    def account(cur_t, a_end, b_end, a_cov, b_cov, overlap, t):
        """Advance the sweep from cur_t to t, accounting active spans
        (clipped at each stream's island end)."""
        a_hi = min(t, a_end) if a_end >= 0 else cur_t
        b_hi = min(t, b_end) if b_end >= 0 else cur_t
        if a_end >= 0 and a_hi > cur_t:
            a_cov += a_hi - cur_t
        if b_end >= 0 and b_hi > cur_t:
            b_cov += b_hi - cur_t
        both_hi = min(a_hi, b_hi)
        if a_end >= 0 and b_end >= 0 and both_hi > cur_t:
            overlap += both_hi - cur_t
        if a_end >= 0 and a_end <= t:
            a_end = -1
        if b_end >= 0 and b_end <= t:
            b_end = -1
        return t, a_end, b_end, a_cov, b_cov, overlap

    def update(key, pdfs, state: GroupState):
        cur_t, a_end, b_end, a_cov, b_cov, overlap = (
            state.get if state.exists else (0, -1, -1, 0, 0, 0))
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch[batch["event_type"].isin([ALIGN_A, ALIGN_B])]
        # batch op sorts on SECOND-truncated unix_timestamp + event_id
        batch = batch.assign(
            _s=batch["ts"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000).sort_values(["_s", "event_id"])
        for s, typ in zip(batch["_s"], batch["event_type"]):
            s = int(s)
            # advance the sweep to s: accounts active segment widths and
            # closes islands ending at or before s. An island closed at
            # exactly s and immediately re-opened below is contiguous
            # half-open [lo, s) + [s, s+HOLD) — identical totals to the
            # batch merge, which keeps it one island.
            cur_t, a_end, b_end, a_cov, b_cov, overlap = account(
                cur_t, a_end, b_end, a_cov, b_cov, overlap, s)
            if typ == ALIGN_A:
                a_end = max(a_end, s + INTERVAL_HOLD_S)
            else:
                b_end = max(b_end, s + INTERVAL_HOLD_S)
        state.update((cur_t, a_end, b_end, a_cov, b_cov, overlap))
        # flush on a copy: totals AS IF the stream ended now
        fc, fa, fb, fav, fbv, fo = cur_t, a_end, b_end, a_cov, b_cov, overlap
        horizon = max(fa, fb)
        if horizon >= 0:
            fc, fa, fb, fav, fbv, fo = account(
                fc, fa, fb, fav, fbv, fo, horizon)
        if fav or fbv or fo:
            yield pd.DataFrame({
                "user_id": [key[0]], "overlap_s": [fo],
                "a_cov_s": [fav], "b_cov_s": [fbv],
            })

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sequence_support(spark: SparkSession, source_dir: str,
                               schema: T.StructType):
    """STREAMING GSP prefix-support — the ``applyInPandasWithState`` twin
    of the batch ``arrays.q_sequence_support`` census (gate-verified vs
    DuckDB): per-user ordered-subsequence pattern hits over the capped
    early-journey window, maintained with O(SEQ_CAP) state per key (the
    journey initials string, append-only and frozen once SEQ_CAP chars
    long — exactly the batch's slice(1, SEQ_CAP)). Every emission
    reports ALL patterns the journey currently contains (hits are
    monotone: appends never destroy a subsequence and the cap freezes
    the window), so stream-final (user, pattern) rows counted per
    pattern equal the batch support census under in-order delivery."""
    import itertools
    import re as re_mod

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.arrays import SEQ_CAP, SEQ_TYPES

    pats = [("".join(p), re_mod.compile(".*".join(p)))
            for n in (2, 3)
            for p in itertools.product(SEQ_TYPES, repeat=n)]

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("pattern", T.StringType()),
    ])
    state_schema = T.StructType([
        T.StructField("journey", T.StringType()),
    ])

    def update(key, pdfs, state: GroupState):
        (journey,) = state.get if state.exists else ("",)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # batch op sorts on SECOND-truncated unix_timestamp + event_id
        batch = batch.assign(
            _s=batch["ts"].astype("datetime64[ns]").astype("int64")
            // 1_000_000_000).sort_values(["_s", "event_id"])
        for t in batch["event_type"]:
            if len(journey) >= SEQ_CAP:
                break
            journey += t[0]
        journey = journey[:SEQ_CAP]
        state.update((journey,))
        # search, not match: the batch RLIKE is unanchored
        hits = [p for p, rx in pats if rx.search(journey)]
        if hits:
            yield pd.DataFrame({
                "user_id": [key[0]] * len(hits),
                "pattern": hits,
            })

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_cuped_counters(spark: SparkSession, source_dir: str,
                             schema: T.StructType, mid_epoch_s: int):
    """STREAMING CUPED sufficient statistics — the incremental form of
    the batch ``arrays.q_cuped_adjustment`` per-user aggregate
    (gate-verified vs DuckDB): per-user pre-period covariate x (events
    at or before the split point) and post-period outcome y (purchases
    after it), TWO integers of state per key. The split point is a
    PARAMETER (an online experiment knows its pre/post boundary
    a priori; the batch op derives the same integer midpoint from the
    corpus min/max in-plan). Every emission reports (x, y) AS OF now —
    both monotone — so stream-final rows folded into
    (n, Σx, Σy, Σxy, Σx²) per arm reproduce θ and the adjusted means
    exactly under in-order delivery: the live experiment-dashboard
    feed."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("x", T.LongType()),
        T.StructField("y", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        x, y = state.get if state.exists else (0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        secs = (batch["ts"].astype("datetime64[ns]").astype("int64")
                // 1_000_000_000)
        for s, typ in zip(secs, batch["event_type"]):
            if int(s) <= mid_epoch_s:
                x += 1
            elif typ == "purchase":
                y += 1
        state.update((x, y))
        yield pd.DataFrame({"user_id": [key[0]], "x": [x], "y": [y]})

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
