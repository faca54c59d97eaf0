"""The closed ingestion loop: a live OAI-PMH HTTP endpoint (this engine's
own serving tier over the fixture corpus) is polled with resumption-token
follow-up, the landed events stream through the watermarked ingest merge,
and the merged corpus serves ListRecords with the harvested records — the
reference ecosystem's harvester → DocStore → serve cycle in one test."""

from __future__ import annotations

import datetime
import xml.etree.ElementTree as ET

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import OAIFacade
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.server import OAIHTTPServer
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import OAIQueryPlanner
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import versioned_table as VT
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_studies
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.ingest import (
    start_ingest_versioned,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.oai_source import (
    OAIPMHPoller, OAIProtocolError, harvest_endpoint_to_corpus,
)

NOW = "2019-12-12 07:14:38"
NS = {"oai": "http://www.openarchives.org/OAI/2.0/"}
HARVEST_TS = datetime.datetime(2024, 3, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def source_server(spark):
    # page_size=3 forces resumption-token follow-up over the 8 fixtures
    planner = OAIQueryPlanner(fixture_studies(spark), page_size=3)
    srv = OAIHTTPServer(OAIFacade(planner), port=0).start()
    yield srv
    srv.stop()


def test_poller_follows_resumption_tokens(spark, source_server):
    poller = OAIPMHPoller(f"http://127.0.0.1:{source_server.port}/v0/oai")
    pages = list(poller.pages())
    assert len(pages) == 3  # 8 records / page_size 3
    events = poller.harvest_events(HARVEST_TS)
    assert len(events) == 8
    ids = {e["aggregator_identifier"] for e in events}
    assert ids == {f"agg_id_{i}" for i in range(1, 9)}
    # the deleted fixture arrives as a tombstone action
    by_id = {e["aggregator_identifier"]: e for e in events}
    assert by_id["agg_id_2"]["action"] == "delete"
    assert by_id["agg_id_1"]["action"] == "upsert"
    # the poller prepended its own direct provenance hop
    hop = by_id["agg_id_1"]["provenance"][0]
    assert hop["direct"] is True
    assert hop["base_url"].endswith("/v0/oai")


def test_protocol_error_raises_but_no_records_is_benign(spark, source_server):
    base = f"http://127.0.0.1:{source_server.port}/v0/oai"
    poller = OAIPMHPoller(base, metadata_prefix="oai_nope")
    with pytest.raises(OAIProtocolError) as exc:
        list(poller.pages())
    assert exc.value.code == "cannotDisseminateFormat"
    # a from/until window matching nothing yields zero pages, no raise
    empty = OAIPMHPoller(base).harvest_events(
        HARVEST_TS, from_="2031-01-01", until="2031-12-31")
    assert empty == []


def test_endpoint_to_corpus_to_listrecords(spark, source_server, tmp_path):
    """fixture endpoint → poll → stream-merge → the merged corpus serves
    ListRecords (VERDICT r2 item 10's end-to-end)."""
    base = f"http://127.0.0.1:{source_server.port}/v0/oai"
    corpus_path = harvest_endpoint_to_corpus(
        spark, base, str(tmp_path), harvest_ts=HARVEST_TS)

    corpus = VT.read(spark, corpus_path)
    rows = {r["aggregator_identifier"]: r for r in corpus.collect()}
    assert set(rows) == {f"agg_id_{i}" for i in range(1, 9)}
    # tombstone merged as logical delete with deleted timestamp (F9 input)
    assert rows["agg_id_2"]["metadata"]["status"] == "deleted"
    assert rows["agg_id_2"]["metadata"]["deleted"] == HARVEST_TS
    assert rows["agg_id_1"]["metadata"]["status"] == "created"
    # dc payload round-tripped through XML → events → merge
    titles = {t["value"] for t in rows["agg_id_1"]["study_titles"]}
    assert "Title of agg_id_1" in titles
    # denormalized direct_base_url points at the polled endpoint
    assert rows["agg_id_1"]["direct_base_url"] == base

    # the harvested corpus itself serves OAI — the loop is closed. The
    # request snapshot must postdate the harvest or the P7 bound correctly
    # hides the fresh records.
    facade = OAIFacade(OAIQueryPlanner(corpus))
    xml = facade.handle_request(verb="ListRecords",
                                request_ts="2024-03-02 00:00:00",
                                metadataPrefix="oai_dc")
    el = ET.fromstring(xml)
    recs = el.findall("./oai:ListRecords/oai:record", NS)
    got = {r.find("./oai:header/oai:identifier", NS).text for r in recs}
    assert got == {f"agg_id_{i}" for i in range(1, 9)}
    deleted = [r for r in recs
               if r.find("./oai:header", NS).get("status") == "deleted"]
    assert len(deleted) == 1  # agg_id_2 arrives header-only
    assert deleted[0].find("./oai:metadata", NS) is None


def test_repolling_is_idempotent(spark, source_server, tmp_path):
    """Landing the same sweep twice and re-running the stream must not
    duplicate records — the (identifier, harvest_ts) dedup contract."""
    base = f"http://127.0.0.1:{source_server.port}/v0/oai"
    poller = OAIPMHPoller(base)
    events_dir = str(tmp_path / "events")
    n1 = poller.poll_once(spark, events_dir, harvest_ts=HARVEST_TS)
    n2 = poller.poll_once(spark, events_dir, harvest_ts=HARVEST_TS)
    assert n1 == n2 == 8
    corpus_path = str(tmp_path / "corpus")
    q = start_ingest_versioned(spark, events_dir, corpus_path,
                               str(tmp_path / "ckpt"))
    q.awaitTermination()
    corpus = VT.read(spark, corpus_path)
    assert corpus.count() == 8


def test_poller_rejects_token_loop():
    """An endpoint re-issuing the same resumption token must raise, not
    hang the polling loop."""
    import pytest

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.oai_source import (
        OAIPMHPoller, OAIProtocolError,
    )

    page = """<?xml version="1.0"?>
    <OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">
      <ListRecords>
        <resumptionToken>loop-token</resumptionToken>
      </ListRecords>
    </OAI-PMH>"""
    p = OAIPMHPoller("http://x.invalid/oai", fetch=lambda url: page)
    with pytest.raises(OAIProtocolError) as e:
        list(p.pages())
    assert e.value.code == "tokenLoop"


def test_poller_page_cap():
    import itertools

    import pytest

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.oai_source import (
        OAIPMHPoller, OAIProtocolError,
    )

    counter = itertools.count()

    def fetch(url):
        return ("""<?xml version="1.0"?>
        <OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">
          <ListRecords><resumptionToken>t-%d</resumptionToken></ListRecords>
        </OAI-PMH>""" % next(counter))

    p = OAIPMHPoller("http://x.invalid/oai", fetch=fetch, max_pages=5)
    with pytest.raises(OAIProtocolError) as e:
        list(p.pages())
    assert e.value.code == "pageLimit"


def test_poller_clean_finish_on_limit_boundary():
    """A sweep of EXACTLY max_pages pages that closes its list (no token on
    the last page) is a successful harvest, not a pageLimit violation —
    only a list that wants to continue past the cap raises."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming.oai_source import (
        OAIPMHPoller,
    )

    pages = [
        """<?xml version="1.0"?>
        <OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">
          <ListRecords><resumptionToken>t-next</resumptionToken></ListRecords>
        </OAI-PMH>""",
        """<?xml version="1.0"?>
        <OAI-PMH xmlns="http://www.openarchives.org/OAI/2.0/">
          <ListRecords></ListRecords>
        </OAI-PMH>""",
    ]
    it = iter(pages)
    p = OAIPMHPoller("http://x.invalid/oai", fetch=lambda url: next(it),
                     max_pages=2)
    assert len(list(p.pages())) == 2  # both pages yielded, no error
