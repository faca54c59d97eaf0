"""Streaming ingestion tests: upsert, logical delete, dedup, provenance,
snapshot maintenance — plus the windowed-agg streaming/batch equivalence."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import versioned_table as VT
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
    fixture_records, studies_schema,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import ingest as I


def _event(rec: dict, action: str, ts: str) -> dict:
    ev = dict(rec)
    ev["action"] = action
    ev["harvest_ts"] = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
    return ev


def _events_df(spark, events):
    return spark.createDataFrame(events, schema=I.harvest_event_schema())


@pytest.fixture()
def target(tmp_path):
    return str(tmp_path / "studies_corpus")


def test_merge_insert_then_update(spark, target):
    recs = fixture_records()
    I.merge_batch_versioned(
        _events_df(spark, [_event(recs[0], "upsert", "2020-01-01T00:00:00Z")]), target)
    df = VT.read(spark, target)
    assert df.count() == 1
    first = df.first()
    assert first["metadata"]["created"] == datetime.datetime(2020, 1, 1)
    assert first["metadata"]["updated"] == datetime.datetime(2020, 1, 1)
    assert first["direct_base_url"] == "http://services.fsd.tuni.fi/v0/oai"

    # update: created preserved, updated advances
    upd = dict(recs[0], study_number="revised")
    I.merge_batch_versioned(
        _events_df(spark, [_event(upd, "upsert", "2020-02-01T00:00:00Z")]), target)
    df = VT.read(spark, target)
    assert df.count() == 1
    row = df.first()
    assert row["study_number"] == "revised"
    assert row["metadata"]["created"] == datetime.datetime(2020, 1, 1)
    assert row["metadata"]["updated"] == datetime.datetime(2020, 2, 1)


def test_merge_logical_delete_tombstone(spark, target):
    recs = fixture_records()
    I.merge_batch_versioned(
        _events_df(spark, [_event(recs[0], "upsert", "2020-01-01T00:00:00Z")]), target)
    I.merge_batch_versioned(
        _events_df(spark, [_event(recs[0], "delete", "2020-03-01T00:00:00Z")]), target)
    df = VT.read(spark, target)
    assert df.count() == 1  # row stays (logical delete)
    row = df.first()
    assert row["metadata"]["status"] == "deleted"
    assert row["metadata"]["deleted"] == datetime.datetime(2020, 3, 1)
    assert row["metadata"]["created"] == datetime.datetime(2020, 1, 1)


def test_merge_last_event_per_key_wins(spark, target):
    recs = fixture_records()
    a = _event(dict(recs[0], study_number="v1"), "upsert", "2020-01-01T00:00:00Z")
    b = _event(dict(recs[0], study_number="v2"), "upsert", "2020-01-02T00:00:00Z")
    I.merge_batch_versioned(_events_df(spark, [b, a]), target)
    df = VT.read(spark, target)
    assert df.count() == 1 and df.first()["study_number"] == "v2"


def test_streaming_ingest_end_to_end(spark, tmp_path):
    src = str(tmp_path / "incoming")
    target = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    recs = fixture_records()
    batch1 = [_event(r, "upsert", "2020-01-01T00:00:00Z") for r in recs[:4]]
    # duplicate delivery of the same event must dedup within the watermark
    batch1.append(_event(recs[0], "upsert", "2020-01-01T00:00:00Z"))
    _events_df(spark, batch1).coalesce(1).write.mode("append").parquet(src)
    q = I.start_ingest_versioned(spark, src, target, ckpt)
    q.awaitTermination(120)
    df = VT.read(spark, target)
    assert df.count() == 4
    assert df.filter(F.col("aggregator_identifier") == "agg_id_1").count() == 1

    # second wave: one delete + one new record
    batch2 = [_event(recs[0], "delete", "2020-02-01T00:00:00Z"),
              _event(recs[4], "upsert", "2020-02-01T00:00:00Z")]
    _events_df(spark, batch2).coalesce(1).write.mode("append").parquet(src)
    q = I.start_ingest_versioned(spark, src, target, ckpt)
    q.awaitTermination(120)
    df = VT.read(spark, target)
    assert df.count() == 5
    deleted = df.filter(F.col("aggregator_identifier") == "agg_id_1").first()
    assert deleted["metadata"]["status"] == "deleted"
    # serve-side invariant: snapshot bound sees the ingest-maintained updated
    assert df.filter(F.col("metadata.updated") <= "2020-01-01").count() == 3


def test_streaming_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState totals converge to the batch groupBy result."""
    from pyspark.sql import functions as SF

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_state")
    events.write.parquet(src)

    stream = I.streaming_user_running_totals(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("user_totals")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # keep the LAST emission per user (running totals grow per microbatch)
    got = {}
    for r in spark.sql("SELECT * FROM user_totals").collect():
        got[r["user_id"]] = (r["events_seen"], r["value_sum"])
    want = {
        r["user_id"]: (r["cnt"], r["vs"])
        for r in events.groupBy("user_id")
        .agg(SF.count("*").alias("cnt"), SF.round(SF.sum("value"), 2).alias("vs"))
        .collect()
    }
    assert got == want


def test_streaming_stateful_topk_across_batches(spark, tmp_path):
    """Per-user top-3 maintained across ≥2 microbatches equals batch top-3
    (maxFilesPerTrigger=1 over two parquet files forces the cross-batch
    state merge; a value landing in batch 2 must displace batch 1's)."""
    from pyspark.sql import functions as SF

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import load_table

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    src = str(tmp_path / "events_topk")
    events.repartition(2).write.parquet(src)
    import glob
    assert len(glob.glob(src + "/part-*")) >= 2

    stream = I.streaming_user_topk(spark, src, events.schema, k=3)
    q = (stream.writeStream.format("memory").queryName("user_topk")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {}
    for r in spark.sql("SELECT * FROM user_topk").collect():
        got[r["user_id"]] = [round(v, 6) for v in r["topk"]]
    want = {
        r["user_id"]: [round(v, 6) for v in r["topk"]]
        for r in events.groupBy("user_id")
        .agg(SF.slice(SF.sort_array(SF.collect_list("value"), asc=False),
                      1, 3).alias("topk"))
        .collect()
    }
    assert got == want


def test_synthetic_harvest_source_end_to_end(spark, tmp_path):
    """Continuous synthetic source → watermarked merge: ids wrap (upserts),
    every 10th event deletes, corpus stays bounded by the id space."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import (
        synthetic_source as S,
    )

    target = str(tmp_path / "synth_corpus")
    ckpt = str(tmp_path / "synth_ckpt")
    stream = S.synthetic_harvest_stream(spark, rows_per_batch=30)
    q = (stream.writeStream
         .foreachBatch(lambda df, _e: I.merge_batch_versioned(df, target))
         .option("checkpointLocation", ckpt)
         .outputMode("update")
         .trigger(processingTime="1 second")
         .start())
    import time

    deadline = time.time() + 30
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)

    df = VT.read(spark, target)
    rows = {r["aggregator_identifier"]: r for r in df.collect()}
    assert 0 < len(rows) <= S.REHARVEST_MOD  # bounded by the wrapping id space
    # value 9 → synth_2 deleted in the first batch wave
    assert rows["synth_2"]["metadata"]["status"] in ("deleted", "created")
    assert any(r["metadata"]["status"] == "deleted" for r in rows.values())
    live = [r for r in rows.values() if r["metadata"]["status"] == "created"]
    assert all(r["direct_base_url"] in
               ("http://services.fsd.tuni.fi/v0/oai", "https://www.da-ra.de/oaip")
               for r in live)


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """A duplicate document arriving in a LATER microbatch is dropped: the
    content-hash state survives across runs via the checkpoint."""
    import datetime as dt

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.dedup_stream import (
        DOC_STREAM_SCHEMA, dedup_document_stream,
    )

    src = str(tmp_path / "docs_in")
    ckpt = str(tmp_path / "docs_ckpt")
    out = str(tmp_path / "docs_out")
    ts = dt.datetime(2024, 1, 1)

    def run_wave(rows):
        spark.createDataFrame(rows, DOC_STREAM_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
        q = (dedup_document_stream(spark, src)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_wave([(1, "alpha beta gamma", "en", "s0", ts),
              (2, "delta epsilon", "en", "s0", ts),
              (3, "alpha beta gamma", "en", "s1", ts)])   # dup within batch
    run_wave([(4, "alpha beta gamma", "en", "s2", ts),    # dup across batches
              (5, "zeta eta theta", "en", "s0", ts)])

    got = spark.read.parquet(out)
    assert got.count() == 3  # one per distinct content
    texts = {r["text"] for r in got.collect()}
    assert texts == {"alpha beta gamma", "delta epsilon", "zeta eta theta"}


def test_streaming_window_counts_match_batch(spark, tmp_path):
    """The §2.8 windowed agg produces the same rows under readStream as the
    batch plan (q_event_window) at sf0.001."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.arrays import q_event_window
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_stream")
    events.write.parquet(src)

    stream = I.streaming_event_window_counts(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM win_counts").collect()}
    want = {tuple(r) for r in q_event_window(spark, sf_dir).collect()}
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The §2.8 stream-stream interval join (purchases × signups within 7
    days, watermarked both sides) yields exactly the batch join's rows."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_join_stream")
    events.write.parquet(src)

    stream = I.streaming_signup_purchase_join(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("ss_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM ss_join").collect()}
    want = {tuple(r) for r in I.signup_purchase_join(events).collect()}
    assert got == want and len(want) > 0


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(
        spark, tmp_path):
    """LEFT OUTER stream-stream join: matched purchases emit normally;
    purchases with no in-window signup emit ONCE with a null signup_ts —
    but only after the watermark passes their window. Far-future sentinel
    rows on BOTH sides (the global watermark is the min across inputs)
    arrive as a second microbatch (maxFilesPerTrigger=1) to close every
    real window; the result must equal the batch left outer join."""
    import datetime

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_outer_stream")
    events.coalesce(1).write.parquet(src)
    far = datetime.datetime(2030, 1, 1)
    sentinel = spark.createDataFrame(
        [(-1, far, -1, "signup", 0.0, "{}"),
         (-2, far, -1, "purchase", 0.0, "{}")],
        schema=events.schema,
    )
    sentinel.coalesce(1).write.mode("append").parquet(src)

    stream = I.streaming_signup_purchase_join_outer(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("ss_outer")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.sql(
        "SELECT * FROM ss_outer WHERE user_id >= 0").collect()}
    want = {tuple(r)
            for r in I.signup_purchase_join_outer(events).collect()}
    assert got == want and len(want) > 0
    # the outer join really added unmatched purchases next to the matches
    unmatched = {r for r in want if r[3] is None}
    matched = {r for r in want if r[3] is not None}
    assert unmatched and matched
    assert matched == {tuple(r)
                       for r in I.signup_purchase_join(events).collect()}


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The PRODUCTION state backend: the same cross-batch dedup runs with
    RocksDB as the state store provider (bundled rocksdbjni; state spills
    to local disk instead of living on the JVM heap — the backend a
    100 TB streaming job actually uses), with changelog checkpointing on.
    State survives across restarts exactly as with the default provider."""
    import datetime as dt

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.dedup_stream import (
        DOC_STREAM_SCHEMA, dedup_document_stream,
    )

    provider = ("org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")
    before = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                            None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    try:
        src = str(tmp_path / "rdb_in")
        ckpt = str(tmp_path / "rdb_ckpt")
        out = str(tmp_path / "rdb_out")
        ts = dt.datetime(2024, 1, 1)

        def run_wave(rows):
            spark.createDataFrame(rows, DOC_STREAM_SCHEMA).coalesce(1) \
                .write.mode("append").parquet(src)
            q = (dedup_document_stream(spark, src)
                 .writeStream.format("parquet").option("path", out)
                 .option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination(120)

        run_wave([(1, "one two", "en", "s0", ts),
                  (2, "three four", "en", "s0", ts)])
        run_wave([(3, "one two", "en", "s1", ts),      # dup across restart
                  (4, "five six", "en", "s0", ts)])
        got = spark.read.parquet(out)
        assert got.count() == 3
        assert {r["text"] for r in got.collect()} == \
            {"one two", "three four", "five six"}
    finally:
        if before is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", before)


def test_session_finalizer_timeout_and_split(spark, tmp_path):
    """Idle-session finalizer: sessions close by split-on-arrival (later
    event past the gap) AND by event-time timeout (watermark passes
    last_ts + gap with no further events) — every closed session emits
    exactly once with its custom payload."""
    import datetime as dt

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    base = dt.datetime(2024, 1, 1, 12, 0)
    m = dt.timedelta(minutes=1)
    src = str(tmp_path / "sess_in")
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")

    # user 1: two sessions split by a 2h gap; user 2: one session
    wave1 = [(1, base, 1, 1.0), (2, base + 5 * m, 1, 2.0),
             (3, base + 125 * m, 1, 4.0),
             (4, base + 10 * m, 2, 8.0)]
    # sentinel advances the watermark far past everything
    wave2 = [(9, dt.datetime(2030, 1, 1), -1, 0.0)]

    def run_wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q = (I.streaming_session_finalizer(spark, src, schema)
             .writeStream.format("memory").queryName("sessions")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_wave(wave1)
    run_wave(wave2)

    got = {(r["user_id"], r["events"], r["value_sum"])
           for r in spark.sql(
               "SELECT * FROM sessions WHERE user_id >= 0").collect()}
    # user 1 session A: events 1,2 (sum 3.0); session B: event 3 (4.0)
    # user 2: one session (8.0) — closed by timeout, not by any arrival
    assert got == {(1, 2, 3.0), (1, 1, 4.0), (2, 1, 8.0)}
    spans = {(r["user_id"], r["events"]): (r["session_start"], r["session_end"])
             for r in spark.sql(
                 "SELECT * FROM sessions WHERE user_id >= 0").collect()}
    assert spans[(1, 2)] == (base, base + 5 * m)
    assert spans[(1, 1)] == (base + 125 * m, base + 125 * m)


def test_streaming_cep_matches_batch_pattern_op(spark, tmp_path):
    """Streaming CEP automaton across ≥2 in-order microbatches converges to
    the oracle-checked batch q_event_pattern_match counts — bounded state
    (4 scalars/key) vs the batch form's full sequence string."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_cep")
    os.makedirs(src)
    # two files in event-time order; maxFilesPerTrigger=1 → 2 microbatches
    # with the automaton state carrying last_char/pending across them
    ordered_ts = [r["ts"] for r in
                  events.select("ts").orderBy("ts").collect()]
    mid = ordered_ts[len(ordered_ts) // 2]
    early = events.filter(F.col("ts") <= F.lit(mid))
    late = events.filter(F.col("ts") > F.lit(mid))
    assert early.count() > 0 and late.count() > 0
    early.coalesce(1).write.parquet(src + "/batch=0")
    late.coalesce(1).write.parquet(src + "/batch=1")

    stream = I.streaming_pattern_counts(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("cep_counts")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {}
    for r in spark.sql("SELECT * FROM cep_counts").collect():
        got[r["user_id"]] = (r["seq_len"], r["direct_vp"], r["conversions"])
    want = {
        int(r["user_id"]): (r["seq_len"], r["direct_vp"], r["conversions"])
        for r in arrays.q_event_pattern_match(spark, sf_dir).collect()
    }
    assert {int(k): v for k, v in got.items()} == want


def test_streaming_ewma_matches_batch_fold(spark, tmp_path):
    """Stream-final EWMA levels across 2 in-order microbatches equal the
    oracle-checked batch fold bit for bit — 2 scalars of state per key."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_ewma")
    os.makedirs(src)
    ordered_ts = [r["ts"] for r in
                  events.select("ts").orderBy("ts").collect()]
    mid = ordered_ts[len(ordered_ts) // 2]
    events.filter(F.col("ts") <= F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=0")
    events.filter(F.col("ts") > F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=1")

    stream = I.streaming_ewma(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("ewma_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {int(r["user_id"]): (r["n"], round(r["ewma"], 6))
           for r in spark.sql("SELECT * FROM ewma_stream").collect()}
    want = {int(r["user_id"]): (r["n"], r["ewma"])
            for r in arrays.q_ewma_smooth(spark, sf_dir).collect()}
    assert got == want


def test_streaming_holt_winters_matches_batch_fold(spark, tmp_path):
    """Stream-final Holt level+trend across 2 in-order microbatches equal
    the oracle-checked batch fold bit for bit — 3 scalars of state."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_hw")
    os.makedirs(src)
    ordered_ts = [r["ts"] for r in
                  events.select("ts").orderBy("ts").collect()]
    mid = ordered_ts[len(ordered_ts) // 2]
    events.filter(F.col("ts") <= F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=0")
    events.filter(F.col("ts") > F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=1")

    stream = I.streaming_holt_winters(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("hw_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals = {}
    for r in spark.sql("SELECT * FROM hw_stream").collect():
        uid = int(r["user_id"])
        if uid not in finals or r["n"] > finals[uid][0]:
            finals[uid] = (r["n"], round(r["level"], 6),
                           round(r["trend"], 6))
    want = {int(r["user_id"]): (r["n"], r["level"], r["trend"])
            for r in arrays.q_holt_winters(spark, sf_dir).collect()}
    assert finals == want


def test_streaming_interval_coverage_matches_batch(spark, tmp_path):
    """Stream-final islands/coverage across 2 in-order microbatches equal
    the gate-verified batch gaps-and-islands answer — 4 integers of
    state per user, O(1) forever."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 60)
    src = str(tmp_path / "events_ic")
    os.makedirs(src)
    ordered_ts = [r["ts"] for r in
                  events.select("ts").orderBy("ts").collect()]
    mid = ordered_ts[len(ordered_ts) // 2]
    events.filter(F.col("ts") <= F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=0")
    events.filter(F.col("ts") > F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=1")

    stream = I.streaming_interval_coverage(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("ic_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals = {}
    for r in spark.sql("SELECT * FROM ic_stream").collect():
        uid = int(r["user_id"])
        cur = (r["n_islands"], r["covered_s"])
        # later emissions dominate: coverage is monotone nondecreasing
        if uid not in finals or cur[1] >= finals[uid][1]:
            finals[uid] = cur
    want = {int(r["user_id"]): (r["n_islands"], r["covered_s"])
            for r in arrays.q_interval_coverage(spark, sf_dir).collect()}
    assert finals == want


def _two_batch_source(spark, events, tmp_path, name):
    """Write the events split into 2 time-ordered microbatch dirs."""
    src = str(tmp_path / name)
    os.makedirs(src)
    ordered_ts = [r["ts"] for r in
                  events.select("ts").orderBy("ts").collect()]
    mid = ordered_ts[len(ordered_ts) // 2]
    events.filter(F.col("ts") <= F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=0")
    events.filter(F.col("ts") > F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=1")
    return src


def test_streaming_streak_census_matches_batch(spark, tmp_path):
    """r8 verdict #6: stream-final per-(user, type) streak censuses
    (all four fields monotone, so elementwise max = last emission),
    aggregated across users (sum/max), equal the batch
    q_streak_census rollup exactly — O(K) state per key."""
    from collections import defaultdict

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = _two_batch_source(spark, events, tmp_path, "events_streak")

    stream = I.streaming_streak_census(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("streak_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM streak_stream").collect():
        k = (int(r["user_id"]), r["event_type"])
        cur = (r["n_runs"], r["max_run"], r["runs_ge3"], r["events_ge3"])
        prev = finals.get(k, (0, 0, 0, 0))
        finals[k] = tuple(max(a, b) for a, b in zip(prev, cur))
    got: dict = defaultdict(lambda: [0, 0, 0, 0])
    for (_, t), (n_runs, max_run, ge3, ev3) in finals.items():
        g = got[t]
        g[0] += n_runs
        g[1] = max(g[1], max_run)
        g[2] += ge3
        g[3] += ev3
    want = {r["event_type"]: [r["n_runs"], r["max_run"], r["runs_ge3"],
                              r["events_ge3"]]
            for r in arrays.q_streak_census(spark, sf_dir).collect()}
    assert {k: list(v) for k, v in got.items()} == want


def test_streaming_conversion_flags_match_batch_wilson(spark, tmp_path):
    """r8 verdict #6: stream-final per-(user, type) conversion flags
    (monotone 0→1 — the purchase may arrive AFTER the exposure, in a
    later microbatch) fold to the same (n, k) per type as the batch
    q_wilson_ci distinct/semi-join stage, hence the same Wilson
    bounds."""
    from collections import defaultdict

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = _two_batch_source(spark, events, tmp_path, "events_conv")

    stream = I.streaming_conversion_flags(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("conv_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM conv_stream").collect():
        k = (int(r["user_id"]), r["event_type"])
        finals[k] = max(finals.get(k, 0), int(r["conv"]))
    nk: dict = defaultdict(lambda: [0, 0])
    for (_, t), conv in finals.items():
        nk[t][0] += 1
        nk[t][1] += conv
    want = {r["event_type"]: [r["n"], r["k"]]
            for r in arrays.q_wilson_ci(spark, sf_dir).collect()}
    assert {k: list(v) for k, v in nk.items()} == want


def test_streaming_user_lifetime_matches_batch_km(spark, tmp_path):
    """r8 verdict #6: stream-final per-user lifetimes (monotone under
    in-order delivery) bucketed into the Kaplan-Meier table (deaths,
    cumulative deaths, at-risk per distinct duration) equal the batch
    q_kaplan_meier output exactly — two integers of state per user."""
    from collections import Counter

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = _two_batch_source(spark, events, tmp_path, "events_km")

    stream = I.streaming_user_lifetime(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("life_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM life_stream").collect():
        uid = int(r["user_id"])
        finals[uid] = max(finals.get(uid, 0), int(r["dur"]))
    deaths = Counter(finals.values())
    n_total = len(finals)
    got, cum = {}, 0
    for dur in sorted(deaths):
        cum += deaths[dur]
        got[dur] = (deaths[dur], cum, n_total - cum + deaths[dur])
    want = {r["dur"]: (r["deaths"], r["cum_deaths"], r["at_risk"])
            for r in arrays.q_kaplan_meier(spark, sf_dir).collect()}
    assert got == want


def test_streaming_ordinal_patterns_match_batch(spark, tmp_path):
    """r9: stream-final per-(user, pattern) triple censuses (monotone
    counts → max = last emission), summed across users, equal the batch
    q_permutation_entropy pattern counts exactly — O(1)+27 state per
    key."""
    from collections import defaultdict

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = _two_batch_source(spark, events, tmp_path, "events_ordpat")

    stream = I.streaming_ordinal_patterns(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("ordpat_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM ordpat_stream").collect():
        k = (int(r["user_id"]), r["pattern"])
        finals[k] = max(finals.get(k, 0), int(r["n"]))
    got: dict = defaultdict(int)
    for (_, pat), n in finals.items():
        got[pat] += n
    want = {r["pattern"]: r["cnt"]
            for r in arrays.q_permutation_entropy(spark, sf_dir).collect()}
    assert dict(got) == want


def test_streaming_transition_counts_match_batch(spark, tmp_path):
    """Stream-final per-user (prev→next) counts across 2 in-order
    microbatches, summed over users, equal the batch lag()-window
    transition matrix exactly — bounded O(K²) state per key."""
    from collections import defaultdict

    from pyspark.sql import Window

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = str(tmp_path / "events_trans")
    os.makedirs(src)
    ordered_ts = [r["ts"] for r in
                  events.select("ts").orderBy("ts").collect()]
    mid = ordered_ts[len(ordered_ts) // 2]
    events.filter(F.col("ts") <= F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=0")
    events.filter(F.col("ts") > F.lit(mid)).coalesce(1) \
        .write.parquet(src + "/batch=1")

    stream = I.streaming_transition_counts(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("trans_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # update mode re-emits cumulative counts each batch: final per
    # (user, i, j) = max n (counts are monotone)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM trans_stream").collect():
        k = (int(r["user_id"]), r["i"], r["j"])
        finals[k] = max(finals.get(k, 0), r["n"])
    got = defaultdict(int)
    for (_, i, j), n in finals.items():
        got[(i, j)] += n
    # batch twin: the same lag()-window pair extraction markov/entropy use
    s = F.unix_timestamp("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    pairs = (events.select("user_id", "event_id", s.alias("s"),
                           "event_type")
             .withColumn("prev_t", F.lag("event_type").over(w))
             .filter(F.col("prev_t").isNotNull()))
    want = {(r["prev_t"], r["event_type"]): r["c"]
            for r in pairs.groupBy("prev_t", "event_type")
            .agg(F.count(F.lit(1)).alias("c")).collect()}
    assert dict(got) == want


def test_streaming_streak_census_subsecond_tiebreak_parity(spark, tmp_path):
    """r9 advice: the batch ops order by SECOND-truncated unix_timestamp
    + event_id; the streaming twins must mirror that key. This fixture
    is the falsifying case for a full-precision ts sort: three events
    share one second but their event_id order CONTRADICTS their
    sub-second order, and a fourth event in the next second extends the
    run only under the event_id tiebreak (A,A,B,A vs B,A,A,A)."""
    from collections import defaultdict

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, us, sec, typ):
        return (eid, base + datetime.timedelta(seconds=sec, microseconds=us),
                1, typ, 1.0, "{}")

    rows = [
        ev(1, 900_000, 0, "view"),   # sub-second order: 3rd
        ev(2, 500_000, 0, "view"),   # sub-second order: 2nd
        ev(3, 100_000, 0, "click"),  # sub-second order: 1st
        ev(4, 0, 1, "view"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    # event_id order within the second: view,view,click,view ->
    # view runs [2,1] (max 2); sub-second order would give
    # click,view,view,view -> one view run of 3 (max 3).
    sf_dir = str(tmp_path / "tie_sf")
    os.makedirs(sf_dir)
    events.coalesce(1).write.parquet(sf_dir + "/events.parquet")

    batch = {r["event_type"]: (r["n_runs"], r["max_run"])
             for r in arrays.q_streak_census(spark, sf_dir).collect()}
    assert batch["view"] == (2, 2)  # pins the event_id-tiebreak semantics

    src = str(tmp_path / "tie_src")
    os.makedirs(src)
    events.coalesce(1).write.parquet(src + "/batch=0")
    stream = I.streaming_streak_census(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("tie_streak")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM tie_streak").collect():
        k = (int(r["user_id"]), r["event_type"])
        cur = (r["n_runs"], r["max_run"], r["runs_ge3"], r["events_ge3"])
        prev = finals.get(k, (0, 0, 0, 0))
        finals[k] = tuple(max(a, b) for a, b in zip(prev, cur))
    got: dict = defaultdict(lambda: [0, 0])
    for (_, t), (n_runs, max_run, _ge3, _ev3) in finals.items():
        got[t][0] += n_runs
        got[t][1] = max(got[t][1], max_run)
    assert {k: tuple(v) for k, v in got.items()} == batch


def test_streaming_interval_align_matches_batch(spark, tmp_path):
    """r9 verdict #5: the interval-intersection sweep line folds online
    with O(1) state (the open/close counters ARE the state); stream-
    final per-user totals (monotone nondecreasing) equal the batch
    q_interval_align answer exactly, including the derived temporal
    Jaccard."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = _two_batch_source(spark, events, tmp_path, "events_align")

    stream = I.streaming_interval_align(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("align_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM align_stream").collect():
        uid = int(r["user_id"])
        cur = (r["overlap_s"], r["a_cov_s"], r["b_cov_s"])
        prev = finals.get(uid, (0, 0, 0))
        finals[uid] = tuple(max(a, b) for a, b in zip(prev, cur))
    got = {}
    for uid, (ov, ac, bc) in finals.items():
        union_s = ac + bc - ov
        got[uid] = (ov, ac, bc,
                    (float(ov) / float(union_s)) if union_s > 0 else 0.0)
    want = {int(r["user_id"]): (r["overlap_s"], r["a_cov_s"],
                                r["b_cov_s"], r["time_jaccard"])
            for r in arrays.q_interval_align(spark, sf_dir).collect()}
    assert got == want


def test_streaming_sequence_support_matches_batch(spark, tmp_path):
    """r9 verdict #5: GSP prefix-support folds online with O(SEQ_CAP)
    state (the capped journey string); stream-final (user, pattern)
    hits counted per pattern equal the batch census exactly."""
    from collections import defaultdict

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = _two_batch_source(spark, events, tmp_path, "events_gsp")

    stream = I.streaming_sequence_support(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("gsp_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    hits = set()
    for r in spark.sql("SELECT * FROM gsp_stream").collect():
        hits.add((int(r["user_id"]), r["pattern"]))
    support: dict = defaultdict(int)
    for _, pat in hits:
        support[pat] += 1
    got = {p: n for p, n in support.items() if n >= arrays.SEQ_MINSUP}
    want = {r["pattern"]: r["support"]
            for r in arrays.q_sequence_support(spark, sf_dir).collect()}
    assert got == want


def test_streaming_cuped_counters_match_batch(spark, tmp_path):
    """r9 verdict #5: CUPED sufficient statistics fold online with two
    integers of state per user (split point passed as the parameter an
    online experiment knows a priori; here the batch op's own corpus
    midpoint). Stream-final per-user (x, y) reproduce the batch
    per-user aggregate exactly, and folding them through the identical
    single-shot double formula reproduces q_cuped_adjustment's
    raw/adjusted means bit for bit."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = _two_batch_source(spark, events, tmp_path, "events_cuped")

    lo, hi = events.select(
        F.min(F.unix_timestamp("ts").cast("long")),
        F.max(F.unix_timestamp("ts").cast("long"))).first()
    mid = (int(lo) + int(hi)) // 2

    stream = I.streaming_cuped_counters(spark, src, events.schema, mid)
    q = (stream.writeStream.format("memory").queryName("cuped_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM cuped_stream").collect():
        uid = int(r["user_id"])
        cur = (int(r["x"]), int(r["y"]))
        prev = finals.get(uid, (0, 0))
        finals[uid] = tuple(max(a, b) for a, b in zip(prev, cur))
    # per-user parity against the batch aggregate
    s = F.unix_timestamp("ts").cast("long")
    users = (events.select("user_id", "event_type", s.alias("s"))
             .groupBy("user_id").agg(
                 F.sum(F.when(F.col("s") <= mid, 1).otherwise(0))
                 .cast("long").alias("x"),
                 F.sum(F.when((F.col("s") > mid)
                              & (F.col("event_type") == "purchase"), 1)
                       .otherwise(0)).cast("long").alias("y")))
    want_users = {int(r["user_id"]): (r["x"], r["y"])
                  for r in users.collect()}
    assert finals == want_users
    # fold the stream finals through the identical single-shot formula
    n_all = len(finals)
    sx_all = sum(x for x, _ in finals.values())
    sy_all = sum(y for _, y in finals.values())
    sxy = sum(x * y for x, y in finals.values())
    sxx = sum(x * x for x, _ in finals.values())
    theta = ((float(n_all) * float(sxy) - float(sx_all) * float(sy_all))
             / (float(n_all) * float(sxx) - float(sx_all) * float(sx_all)))
    got_rows = {}
    for arm in (0, 1):
        grp = [(x, y) for uid, (x, y) in finals.items() if uid % 2 == arm]
        n = len(grp)
        sx = sum(x for x, _ in grp)
        sy = sum(y for _, y in grp)
        raw = float(sy) / float(n)
        adj = raw - theta * (float(sx) / float(n)
                             - float(sx_all) / float(n_all))
        got_rows[arm] = (n, sx, sy, raw, adj)
    want_rows = {int(r["arm"]): (r["n"], r["sx"], r["sy"],
                                 r["raw_mean"], r["adj_mean"])
                 for r in arrays.q_cuped_adjustment(spark, sf_dir).collect()}
    assert got_rows == want_rows


def test_bowker_terms_derivable_from_streaming_transition_counts(
        spark, tmp_path):
    """The Bowker symmetry table is a pure fold of the transition
    matrix, so the streaming transition-counts twin doubles as its
    online feed: stream-final per-(i,j) counts summed over users,
    folded through the (i<j) symmetry terms, equal the batch
    q_bowker_symmetry output exactly."""
    from collections import defaultdict

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import arrays
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.001"
    events = load_table(spark, "events", sf_dir)
    src = _two_batch_source(spark, events, tmp_path, "events_bowker")

    stream = I.streaming_transition_counts(spark, src, events.schema)
    q = (stream.writeStream.format("memory").queryName("bowker_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    finals: dict = {}
    for r in spark.sql("SELECT * FROM bowker_stream").collect():
        k = (int(r["user_id"]), r["i"], r["j"])
        finals[k] = max(finals.get(k, 0), r["n"])
    m: dict = defaultdict(int)
    for (_, i, j), n in finals.items():
        m[(i, j)] += n
    got = {}
    for (i, j) in {(min(i, j), max(i, j)) for (i, j) in m if i != j}:
        nij, nji = m.get((i, j), 0), m.get((j, i), 0)
        term = ((float(nij) - nji) ** 2 / (float(nij) + nji)
                if nij + nji > 0 else 0.0)
        got[(i, j)] = (nij, nji, term)
    want = {(r["i"], r["j"]): (r["n_ij"], r["n_ji"], r["chi_term"])
            for r in arrays.q_bowker_symmetry(spark, sf_dir).collect()}
    assert got == want
