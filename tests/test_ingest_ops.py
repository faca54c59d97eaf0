"""Operational ingest hygiene: quarantine channel + exactly-once epochs."""

from __future__ import annotations

import datetime

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import versioned_table as VT
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_records
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import ingest as I


def _event(rec, action, ts, ident=...):
    ev = dict(rec)
    if ident is not ...:
        ev["aggregator_identifier"] = ident
    ev["action"] = action
    ev["harvest_ts"] = (datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
                        if ts else None)
    return ev


def test_quarantine_channel(spark, tmp_path):
    target = str(tmp_path / "corpus")
    quarantine = str(tmp_path / "rejects")
    recs = fixture_records()
    events = [
        _event(recs[0], "upsert", "2020-01-01T00:00:00Z"),
        _event(recs[1], "upsert", "2020-01-01T00:00:00Z", ident=None),   # no key
        _event(recs[2], "frobnicate", "2020-01-01T00:00:00Z"),           # bad action
        _event(recs[3], "upsert", "2020-01-01T00:00:00Z", ident=""),     # empty key
    ]
    df = spark.createDataFrame(events, I.harvest_event_schema())
    I.merge_batch_versioned(df, target, quarantine_path=quarantine)
    assert VT.read(spark, target).count() == 1
    bad = spark.read.parquet(quarantine)
    assert bad.count() == 3
    assert {r["action"] for r in bad.collect()} == {"upsert", "frobnicate"}


def test_merge_without_quarantine_drops_bad(spark, tmp_path):
    target = str(tmp_path / "corpus")
    recs = fixture_records()
    df = spark.createDataFrame(
        [_event(recs[0], "upsert", "2020-01-01T00:00:00Z"),
         _event(recs[1], "nonsense", "2020-01-01T00:00:00Z")],
        I.harvest_event_schema())
    I.merge_batch_versioned(df, target)
    assert VT.read(spark, target).count() == 1


def test_merge_epoch_idempotence(spark, tmp_path):
    """Replaying an already-applied microbatch (foreachBatch retry) is a
    no-op; a NEWER epoch still applies."""
    target = str(tmp_path / "corpus")
    recs = fixture_records()
    b1 = spark.createDataFrame(
        [_event(recs[0], "upsert", "2020-01-01T00:00:00Z")], I.harvest_event_schema())
    I.merge_batch_versioned(b1, target, epoch_id=0)
    assert VT.read(spark, target).count() == 1

    # replay epoch 0 with a DIFFERENT payload: must not apply
    b1_replay = spark.createDataFrame(
        [_event(dict(recs[0], study_number="should_not_apply"), "upsert",
                "2020-01-02T00:00:00Z")], I.harvest_event_schema())
    I.merge_batch_versioned(b1_replay, target, epoch_id=0)
    assert VT.read(spark, target).first()["study_number"] == "study_agg_id_1"

    # epoch 1 applies
    I.merge_batch_versioned(
        spark.createDataFrame(
            [_event(recs[1], "upsert", "2020-01-03T00:00:00Z")],
            I.harvest_event_schema()),
        target, epoch_id=1)
    assert VT.read(spark, target).count() == 2


def test_parquet_schema_evolution_merge_schema(spark, tmp_path):
    """Epoch directories written under an EVOLVING schema read back as one
    unified relation with mergeSchema: the new column is NULL for old
    epochs, old columns survive unchanged — the append-only landing-zone
    contract when a harvester starts emitting a new field mid-stream."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "landing")
    spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit("v1").alias("body"),
    ).write.parquet(base + "/epoch=0")
    spark.range(3, 5).select(
        F.col("id").alias("doc_id"),
        F.lit("v2").alias("body"),
        F.lit("en").alias("lang"),  # NEW column from epoch 1 on
    ).write.parquet(base + "/epoch=1")

    unified = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(unified.columns) == {"doc_id", "body", "lang", "epoch"}
    assert unified.count() == 5
    by_epoch = {r["epoch"]: r for r in unified.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("lang").alias("lang_set")).collect()}
    assert by_epoch[0]["lang_set"] == 0      # old epochs: NULL-filled
    assert by_epoch[1]["lang_set"] == by_epoch[1]["n"] == 2
