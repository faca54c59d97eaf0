"""The complete reference lifecycle, over one shared two-sweep harvest:

    live OAI-PMH endpoint (3 resumption pages)
      → poller lands events
      → streaming merge builds the versioned-table corpus
      → a SECOND sweep carries an UPDATE and a DELETE
      → incremental merge (same checkpoint, only new files)
      → the merged corpus serves ListRecords pages over HTTP,
        /metrics moves, and oai_ddi25 XML carries the updated field,
        with deletes visible as header-only deleted records;
      → the pre-sweep version still serves the old state (time travel).

Mirrors the reference ecosystem's harvester → DocStore → serve cycle
(/root/reference README: the aggregator sits between harvested sources
and OAI consumers)."""

from __future__ import annotations

import datetime
import time
import urllib.request
import xml.etree.ElementTree as ET
from types import SimpleNamespace

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import OAIFacade
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.server import OAIHTTPServer
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import (
    OAIQueryPlanner,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import versioned_table as VT
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
    _record, _ts, fixture_records, fixture_studies, studies_schema,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.ingest import (
    harvest_event_schema, merge_batch_versioned, start_ingest_versioned,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.oai_source import (
    OAIPMHPoller,
)

NS = {"oai": "http://www.openarchives.org/OAI/2.0/",
      "ddi": "ddi:codebook:2_5"}
T1 = datetime.datetime(2024, 3, 1, 12, 0, 0)
T2 = datetime.datetime(2024, 3, 2, 12, 0, 0)


def _http(port, path, ua="lifecycle-harvester"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", headers={"User-Agent": ua})
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, resp.read().decode()


def _sweep2_records() -> list[dict]:
    """The source a day later: agg_id_3's title changed, agg_id_1 deleted."""
    recs = {r["aggregator_identifier"]: r for r in fixture_records()}
    recs["agg_id_3"] = _record(
        "agg_id_3",
        study_titles=[{"value": "Updated title 3", "language": "en"}],
        metadata={"status": "updated", "created": _ts("2019-01-01T00:00:00Z"),
                  "updated": _ts("2020-01-02T00:00:00Z"), "deleted": None},
        identifiers=[{"value": "local-3", "language": "en",
                      "agency": "Unknown"}],
    )
    recs["agg_id_1"] = _record(
        "agg_id_1",
        metadata={"status": "deleted", "created": _ts("2019-01-01T00:00:00Z"),
                  "updated": _ts("2020-01-01T00:00:00Z"),
                  "deleted": _ts("2020-01-01T00:00:00Z")},
        identifiers=[], study_titles=[], abstracts=[], publishers=[],
    )
    return list(recs.values())


@pytest.fixture(scope="module")
def two_sweeps(spark, tmp_path_factory):
    """Harvest the 8 fixtures, merge them into a versioned table, then
    harvest a second sweep (one update, one delete) and merge it with the
    same checkpoint. Both lifecycle tests read the result."""
    tmp_path = tmp_path_factory.mktemp("lifecycle")
    events_dir = str(tmp_path / "events")
    table_path = str(tmp_path / "vt_corpus")
    ckpt = str(tmp_path / "ckpt")
    view_path = str(tmp_path / "metrics_view.json")

    # sweep 1: harvest the 8 fixtures over 3 resumption pages, merge into
    # the versioned table
    src = OAIHTTPServer(
        OAIFacade(OAIQueryPlanner(fixture_studies(spark), page_size=3)),
        port=0).start()
    try:
        base = f"http://127.0.0.1:{src.port}/v0/oai"
        poller = OAIPMHPoller(base)
        assert len(list(poller.pages())) == 3  # resumption-token follow-up
        assert poller.poll_once(spark, events_dir, harvest_ts=T1) == 8
    finally:
        src.stop()
    start_ingest_versioned(spark, events_dir, table_path, ckpt,
                           metrics_view_path=view_path).awaitTermination()
    v1 = VT.current_version(table_path)
    t_between_sweeps = time.time()
    sweep1_rows = {r["aggregator_identifier"]: r
                   for r in VT.read(spark, table_path).collect()}

    # sweep 2: update + delete, incremental merge (same checkpoint, so the
    # file source processes only sweep 2's files)
    src2_df = spark.createDataFrame(_sweep2_records(), schema=studies_schema())
    src2 = OAIHTTPServer(
        OAIFacade(OAIQueryPlanner(src2_df, page_size=3)), port=0).start()
    try:
        base2 = f"http://127.0.0.1:{src2.port}/v0/oai"
        assert OAIPMHPoller(base2).poll_once(
            spark, events_dir, harvest_ts=T2) == 8
    finally:
        src2.stop()
    start_ingest_versioned(spark, events_dir, table_path, ckpt,
                           metrics_view_path=view_path).awaitTermination()
    v2 = VT.current_version(table_path)
    return SimpleNamespace(
        table_path=table_path, view_path=view_path, v1=v1, v2=v2,
        t_between_sweeps=t_between_sweeps, sweep1_rows=sweep1_rows,
        corpus=VT.read(spark, table_path, version=v2))


def test_full_lifecycle_harvest_update_delete_serve(spark, two_sweeps):
    """harvest → merge → update+delete sweep → incremental merge → the
    merged head serves ListRecords pages, header-only deletes, the updated
    oai_ddi25 field and moving /metrics over HTTP."""
    rows = two_sweeps.sweep1_rows
    assert len(rows) == 8
    assert {t["value"] for t in rows["agg_id_3"]["study_titles"]} == \
        {"Title of agg_id_3", "Otsikko agg_id_3"}
    assert rows["agg_id_1"]["metadata"]["status"] == "created"

    corpus = two_sweeps.corpus
    rows = {r["aggregator_identifier"]: r for r in corpus.collect()}
    assert len(rows) == 8  # update + delete, no duplicates
    assert [t["value"] for t in rows["agg_id_3"]["study_titles"]] == \
        ["Updated title 3"]
    assert rows["agg_id_1"]["metadata"]["status"] == "deleted"
    assert rows["agg_id_1"]["metadata"]["deleted"] == T2
    assert rows["agg_id_2"]["metadata"]["status"] == "deleted"  # from sweep 1

    # the merged head serves over HTTP
    srv = OAIHTTPServer(OAIFacade(OAIQueryPlanner(
        corpus, page_size=3, vt_path=two_sweeps.table_path,
        vt_version=two_sweeps.v2)), port=0).start()
    try:
        # metrics BEFORE: corpus totals; requests counter baseline
        _, m0 = _http(srv.port, "/metrics")
        assert "records_total 8.0" in m0.splitlines()
        assert "records_total_without_deleted 6.0" in m0.splitlines()

        # ListRecords pages with resumption-token follow-up
        _, body = _http(
            srv.port, "/v0/oai?verb=ListRecords&metadataPrefix=oai_dc")
        seen, deleted, pages = [], set(), 1
        while True:
            el = ET.fromstring(body)
            for rec in el.findall("./oai:ListRecords/oai:record", NS):
                hdr = rec.find("./oai:header", NS)
                ident = hdr.find("./oai:identifier", NS).text
                seen.append(ident)
                if hdr.get("status") == "deleted":
                    deleted.add(ident)
                    assert rec.find("./oai:metadata", NS) is None
            tok = el.find("./oai:ListRecords/oai:resumptionToken", NS)
            if tok is None or not tok.text:
                break
            pages += 1
            _, body = _http(
                srv.port,
                f"/v0/oai?verb=ListRecords&resumptionToken={tok.text}")
        assert sorted(seen) == [f"agg_id_{i}" for i in range(1, 9)]
        assert pages == 3
        assert deleted == {"agg_id_1", "agg_id_2"}  # header-only deletes

        # ddi25 XML carries the sweep-2 update
        _, body = _http(
            srv.port, "/v0/oai?verb=GetRecord&identifier=agg_id_3"
            "&metadataPrefix=oai_ddi25")
        el = ET.fromstring(body)
        titles = el.findall(
            "./oai:GetRecord/oai:record/oai:metadata/ddi:codeBook"
            "/ddi:stdyDscr/ddi:citation/ddi:titlStmt/ddi:titl", NS)
        assert [t.text for t in titles] == ["Updated title 3"]

        # metrics AFTER: the request counters moved
        _, m1 = _http(srv.port, "/metrics")

        def _req_total(text):
            return sum(
                float(line.rsplit(" ", 1)[1])
                for line in text.splitlines()
                if line.startswith("requests_total"))

        assert _req_total(m1) >= _req_total(m0) + 4  # 3 pages + GetRecord
        assert any(
            'requests_per_user_agent{harvester="lifecycle-harvester"}' in l
            for l in m1.splitlines())
    finally:
        srv.stop()


def test_lifecycle_on_versioned_table_with_time_travel(spark, two_sweeps):
    """Each microbatch commits one snapshot of the versioned table, so O2
    snapshot paging, CDC and time travel hold over the LIVE studies corpus:
    after the update+delete sweep, the pre-sweep version still serves the
    old state."""
    table_path, v1 = two_sweeps.table_path, two_sweeps.v1
    corpus = two_sweeps.corpus
    rows = {r["aggregator_identifier"]: r for r in corpus.collect()}
    assert len(rows) == 8
    assert [t["value"] for t in rows["agg_id_3"]["study_titles"]] == \
        ["Updated title 3"]
    assert rows["agg_id_1"]["metadata"]["status"] == "deleted"

    # TIME TRAVEL across the ingest batch (SURVEY §2.5 O2, the Delta
    # "VERSION AS OF" idiom): the pre-sweep-2 snapshot is intact
    old = {r["aggregator_identifier"]: r
           for r in VT.read(spark, table_path, version=v1).collect()}
    assert len(old) == 8
    assert {t["value"] for t in old["agg_id_3"]["study_titles"]} == \
        {"Title of agg_id_3", "Otsikko agg_id_3"}
    assert old["agg_id_1"]["metadata"]["status"] == "created"

    # CDC between the two snapshots: sweep 2 re-upserted every record
    # (metadata.updated moved to T2 on all 8), so the feed carries a
    # delete+insert pair per key; the inserts show the new state
    feed = VT.table_changes(spark, table_path, v1,
                            VT.current_version(table_path)).collect()
    inserts = {r["aggregator_identifier"]: r for r in feed
               if r["_change"] == "insert"}
    deletes = {r["aggregator_identifier"] for r in feed
               if r["_change"] == "delete"}
    assert set(inserts) == deletes == {f"agg_id_{i}" for i in range(1, 9)}
    assert [t["value"] for t in inserts["agg_id_3"]["study_titles"]] == \
        ["Updated title 3"]
    assert inserts["agg_id_1"]["metadata"]["status"] == "deleted"

    # replayed epoch is a no-op (epoch rides the manifest, not a marker)
    v_before = VT.current_version(table_path)
    merge_batch_versioned(
        spark.createDataFrame([], schema=harvest_event_schema()),
        table_path, epoch_id=0)
    assert VT.current_version(table_path) == v_before

    # TIMESTAMP AS OF: a wall-clock taken between the sweeps resolves to
    # the sweep-1 snapshot (manifests record committed_at at publish)
    assert VT.version_asof(table_path, two_sweeps.t_between_sweeps) == v1
    assert VT.version_asof(table_path, time.time()) == v_before

    # the maintained /metrics view advanced with each microbatch and must
    # equal a from-scratch recompute over the corpus — including the
    # deleted agg_id_1 (counted in totals, excluded from without-deleted)
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.metrics import (
        compute_metrics,
    )
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.ingest import (
        _load_view_state, metrics_view_counts,
    )
    view = metrics_view_counts(_load_view_state(two_sweeps.view_path))
    direct = compute_metrics(corpus)
    assert view["version"] == v_before
    assert view["publishers_counts"] == direct["publishers_counts"]
    assert (view["publishers_counts_without_deleted"]
            == direct["publishers_counts_without_deleted"])
    # 8 records total; the fixture corpus ships one deleted record and
    # sweep 2 deleted agg_id_1 → 6 live
    assert sum(view["publishers_counts"].values()) == 8
    assert sum(view["publishers_counts_without_deleted"].values()) == 6
