"""Round-trip: facade ListRecords XML → harvester parse → ingest merge →
re-serve. The aggregation pipeline consuming its own protocol output."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import OAIFacade
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import OAIQueryPlanner
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import versioned_table as VT
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_studies
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import harvester as H
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import ingest as I

NOW = "2019-12-12 07:14:38"
HARVEST_TS = datetime.datetime(2020, 1, 1)
UPSTREAM = "http://localhost:6003/v0/oai"


@pytest.fixture(scope="module")
def harvested(spark, tmp_path_factory):
    """Harvest every page from the fixture facade, merge into a new corpus."""
    facade = OAIFacade(OAIQueryPlanner(fixture_studies(spark), page_size=3))
    target = str(tmp_path_factory.mktemp("harvest") / "corpus")
    token, events = None, []
    while True:
        kw = ({"resumptionToken": token} if token
              else {"metadataPrefix": "oai_dc"})  # token is exclusive
        xml = facade.handle_request(verb="ListRecords", request_ts=NOW, **kw)
        events += H.parse_list_records(xml, UPSTREAM, HARVEST_TS)
        import xml.etree.ElementTree as ET

        el = ET.fromstring(xml)
        tok_el = el.find(f"./{H.OAI}ListRecords/{H.OAI}resumptionToken")
        token = tok_el.text if tok_el is not None and tok_el.text else None
        if token is None:
            break
    I.merge_batch_versioned(H.events_df(spark, events), target)
    return VT.read(spark, target)


def test_all_records_harvested(harvested):
    assert harvested.count() == 8
    ids = {r.aggregator_identifier for r in
           harvested.select("aggregator_identifier").collect()}
    assert ids == {f"agg_id_{i}" for i in range(1, 9)}


def test_deleted_record_tombstoned(harvested):
    row = harvested.filter(F.col("aggregator_identifier") == "agg_id_2").first()
    assert row["metadata"]["status"] == "deleted"
    assert row["metadata"]["deleted"] == HARVEST_TS


def test_content_round_trips(harvested):
    row = harvested.filter(F.col("aggregator_identifier") == "agg_id_1").first()
    assert {t["value"] for t in row["study_titles"]} == {
        "Title of agg_id_1", "Otsikko agg_id_1"}
    assert {t["language"] for t in row["study_titles"]} == {"en", "fi"}
    assert [a["value"] for a in row["abstracts"]] == ["Abstract of agg_id_1"]


def test_provenance_hop_prepended(harvested):
    row = harvested.filter(F.col("aggregator_identifier") == "agg_id_1").first()
    hops = row["provenance"]
    # new direct hop first, then the two upstream hops from the <about> block
    assert len(hops) == 3
    assert hops[0]["base_url"] == UPSTREAM and hops[0]["direct"] is True
    assert hops[1]["direct"] is False and hops[2]["direct"] is False
    assert row["direct_base_url"] == UPSTREAM


def test_parse_get_record_response(spark):
    """GetRecord responses parse with the same function (single record)."""
    facade = OAIFacade(OAIQueryPlanner(fixture_studies(spark)))
    xml = facade.handle_request(verb="GetRecord", request_ts=NOW,
                                identifier="agg_id_1", metadataPrefix="oai_dc")
    events = H.parse_list_records(xml, UPSTREAM, HARVEST_TS)
    assert len(events) == 1
    assert events[0]["aggregator_identifier"] == "agg_id_1"
    assert events[0]["action"] == "upsert"
    assert len(events[0]["provenance"]) == 3  # new hop + two upstream


def test_reserve_harvested_corpus(spark, harvested):
    """The re-harvested corpus serves through the facade again."""
    facade = OAIFacade(OAIQueryPlanner(harvested, page_size=100))
    xml = facade.handle_request(verb="ListRecords", request_ts="2021-01-01 00:00:00",
                                metadataPrefix="oai_dc")
    import xml.etree.ElementTree as ET

    el = ET.fromstring(xml)
    recs = el.findall(f"./{H.OAI}ListRecords/{H.OAI}record")
    assert len(recs) == 8
