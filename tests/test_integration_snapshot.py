"""Integration: streaming ingest + OAI snapshot paging (SURVEY §7.4).

The serve-side page stability contract (O2) depends on the ingest side
maintaining ``metadata.updated`` inside the same merge that inserts rows
(§2.8). This test harvests, opens a paged list, harvests MORE records and
updates an existing one, and checks the open token still pages the original
snapshot — while a fresh request sees the new corpus."""

from __future__ import annotations

import datetime

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import (
    OAIQueryPlanner, finalize_token,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import versioned_table as VT
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_records
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import ingest as I


def _event(rec, action, ts):
    ev = dict(rec)
    ev["action"] = action
    ev["harvest_ts"] = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
    return ev


def test_open_token_survives_concurrent_ingest(spark, tmp_path):
    target = str(tmp_path / "corpus")
    recs = fixture_records()

    # wave 1: five records land before the request snapshot
    I.merge_batch_versioned(
        spark.createDataFrame(
            [_event(r, "upsert", "2020-01-01T00:00:00Z") for r in recs[:5]],
            I.harvest_event_schema()),
        target)

    def planner():
        # the newest version, and no vt_path: the walk's only guard is the
        # timestamp bound, not a pinned version
        return OAIQueryPlanner(VT.read(spark, target), page_size=2)

    snapshot = "2020-06-01 00:00:00"
    page1 = planner().list_page("oai_dc", request_ts=snapshot)
    assert page1.complete_list_size == 5
    rows1 = page1.df.collect()
    token = finalize_token(page1, rows1)

    # wave 2 AFTER the snapshot: two new records + an update to agg_id_4
    I.merge_batch_versioned(
        spark.createDataFrame(
            [_event(recs[5], "upsert", "2020-07-01T00:00:00Z"),
             _event(recs[6], "upsert", "2020-07-01T00:00:00Z"),
             _event(dict(recs[3], study_number="revised"), "upsert",
                    "2020-07-01T00:00:00Z")],
            I.harvest_event_schema()),
        target)

    # the open token pages the ORIGINAL snapshot: the updated agg_id_4 now
    # has metadata.updated > snapshot, so the stable page excludes it, and
    # the new records never appear
    seen = [r["aggregator_identifier"] for r in rows1]
    while token is not None:
        page = planner().list_page("oai_dc", token=token)
        rows = page.df.collect()
        seen += [r["aggregator_identifier"] for r in rows]
        assert page.complete_list_size == 5  # frozen at token birth
        token = finalize_token(page, rows)
    assert "agg_id_6" not in seen and "agg_id_7" not in seen
    assert seen == ["agg_id_1", "agg_id_2", "agg_id_3", "agg_id_5"]

    # a FRESH request sees the post-ingest corpus
    fresh = planner().list_page("oai_dc", request_ts="2021-01-01 00:00:00")
    assert fresh.complete_list_size == 7


def test_vt_pinned_token_is_immune_to_concurrent_merge(spark, tmp_path):
    """O2 as a true VERSION-AS-OF read (r6 verdict #6): the resumption
    token pins the versioned-table snapshot at birth, so a concurrent
    merge BETWEEN pages publishes a new version the open walk never sees.
    Stronger than the timestamp bound alone: the updated record stays in
    the list WITH ITS ORIGINAL CONTENT instead of drifting out."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
        studies_schema,
    )

    target = str(tmp_path / "vt_corpus")
    VT.create(spark.createDataFrame([], studies_schema()), target)
    recs = fixture_records()
    I.merge_batch_versioned(
        spark.createDataFrame(
            [_event(r, "upsert", "2020-01-01T00:00:00Z") for r in recs[:5]],
            I.harvest_event_schema()),
        target, epoch_id=1)

    def planner():
        return OAIQueryPlanner(VT.read(spark, target), page_size=2,
                               vt_path=target)

    page1 = planner().list_page("oai_dc", request_ts="2020-06-01 00:00:00")
    assert page1.complete_list_size == 5
    rows1 = page1.df.collect()
    token = finalize_token(page1, rows1)
    pinned_v = VT.current_version(target)

    # concurrent merge between pages: two new records + a rewrite of
    # agg_id_4 — publishes a NEW version, never mutating the pinned one
    I.merge_batch_versioned(
        spark.createDataFrame(
            [_event(recs[5], "upsert", "2020-07-01T00:00:00Z"),
             _event(recs[6], "upsert", "2020-07-01T00:00:00Z"),
             _event(dict(recs[3], study_number="revised"), "upsert",
                    "2020-07-01T00:00:00Z")],
            I.harvest_event_schema()),
        target, epoch_id=2)
    assert VT.current_version(target) > pinned_v

    seen = [r["aggregator_identifier"] for r in rows1]
    study_no = {r["aggregator_identifier"]: r["study_number"] for r in rows1}
    while token is not None:
        page = planner().list_page("oai_dc", token=token)
        rows = page.df.collect()
        seen += [r["aggregator_identifier"] for r in rows]
        study_no.update(
            {r["aggregator_identifier"]: r["study_number"] for r in rows})
        assert page.complete_list_size == 5  # frozen at token birth
        token = finalize_token(page, rows)

    # ALL five originals arrive — the updated record included, served from
    # the pinned version with its pre-merge content; the adds never appear
    assert seen == ["agg_id_1", "agg_id_2", "agg_id_3", "agg_id_4",
                    "agg_id_5"]
    assert study_no["agg_id_4"] != "revised"

    # a fresh request pins the NEW version: update + adds all visible
    wide = OAIQueryPlanner(VT.read(spark, target), page_size=10,
                           vt_path=target)
    fresh = wide.list_page("oai_dc", request_ts="2021-01-01 00:00:00")
    assert fresh.complete_list_size == 7
    fresh_no = {r["aggregator_identifier"]: r["study_number"]
                for r in fresh.df.collect()}
    assert len(fresh_no) == 7
    assert fresh_no["agg_id_4"] == "revised"
