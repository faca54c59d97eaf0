"""End-to-end OAI facade tests: verb → XML, mirroring the reference's
ElementTree-level assertions (/root/reference/tests/test_serve.py)."""

from __future__ import annotations

import os
import threading
import xml.etree.ElementTree as ET

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import OAIFacade
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import OAIQueryPlanner
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import yaml_sets
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_studies

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
NOW = "2019-12-12 07:14:38"
NS = {
    "oai": "http://www.openarchives.org/OAI/2.0/",
    "dc": "http://purl.org/dc/elements/1.1/",
    "oai_dc": "http://www.openarchives.org/OAI/2.0/oai_dc/",
    "datacite": "http://datacite.org/schema/kernel-3",
    "prov": "http://www.openarchives.org/OAI/2.0/provenance",
}


@pytest.fixture(scope="module")
def facade(spark):
    studies = fixture_studies(spark)
    studies.cache().count()
    planner = OAIQueryPlanner(
        studies,
        source_defs=yaml_sets.load_source_defs(f"{DATA}/sources.yaml"),
        configurable_path=f"{DATA}/configurable.yaml",
        page_size=3,
    )
    return OAIFacade(planner)


def parse(xml_str):
    return ET.fromstring(xml_str)


def test_identify(facade):
    el = parse(facade.handle_request(verb="Identify", request_ts=NOW))
    assert el.find("./oai:Identify/oai:protocolVersion", NS).text == "2.0"
    assert el.find("./oai:Identify/oai:deletedRecord", NS).text == "persistent"
    # corpus-derived earliest datestamp = the deleted record's deletion time
    assert el.find("./oai:Identify/oai:earliestDatestamp", NS).text == (
        "2000-01-01T23:00:00Z")


def test_list_metadata_formats(facade):
    el = parse(facade.handle_request(verb="ListMetadataFormats", request_ts=NOW))
    prefixes = [e.text for e in el.findall(
        "./oai:ListMetadataFormats/oai:metadataFormat/oai:metadataPrefix", NS)]
    assert sorted(prefixes) == ["oai_datacite", "oai_dc", "oai_ddi25"]


def test_list_metadata_formats_with_identifier(facade):
    """OAI 2.0 §4.4: a known identifier lists its formats (all of them
    here, as in the reference); an unknown identifier is idDoesNotExist."""
    el = parse(facade.handle_request(verb="ListMetadataFormats",
                                     request_ts=NOW, identifier="agg_id_1"))
    prefixes = [e.text for e in el.findall(
        "./oai:ListMetadataFormats/oai:metadataFormat/oai:metadataPrefix", NS)]
    assert sorted(prefixes) == ["oai_datacite", "oai_dc", "oai_ddi25"]
    assert el.find("./oai:request", NS).get("identifier") == "agg_id_1"

    el = parse(facade.handle_request(verb="ListMetadataFormats",
                                     request_ts=NOW, identifier="nope-404"))
    err = el.find("./oai:error", NS)
    assert err is not None and err.get("code") == "idDoesNotExist"


def test_list_sets(facade):
    el = parse(facade.handle_request(verb="ListSets", request_ts=NOW))
    specs = {e.text for e in el.findall("./oai:ListSets/oai:set/oai:setSpec", NS)}
    assert {"language", "source", "openaire_data", "thematic",
            "thematic:social_sciences", "source:FSD", "language:fi"} <= specs


def test_badverb(facade):
    el = parse(facade.handle_request(verb="Nope", request_ts=NOW))
    err = el.find("./oai:error", NS)
    assert err.get("code") == "badVerb"


def test_get_record_oai_dc(facade):
    el = parse(facade.handle_request(
        verb="GetRecord", request_ts=NOW,
        identifier="agg_id_1", metadataPrefix="oai_dc"))
    rec = el.find("./oai:GetRecord/oai:record", NS)
    header = rec.find("./oai:header", NS)
    assert header.find("./oai:identifier", NS).text == "agg_id_1"
    assert header.get("status") is None
    specs = {e.text for e in header.findall("./oai:setSpec", NS)}
    assert specs == {"source:FSD", "thematic:social_sciences",
                     "language:en", "language:fi"}
    dc = rec.find("./oai:metadata/oai_dc:dc", NS)
    titles = {t.text for t in dc.findall("./dc:title", NS)}
    assert titles == {"Title of agg_id_1", "Otsikko agg_id_1"}
    # keyword display fallback (F4): description wins, else value
    subjects = [s.text for s in dc.findall("./dc:subject", NS)]
    assert subjects == ["Keyword One", "kw2"]
    # distinct identifier union (U2)
    ids = [i.text for i in dc.findall("./dc:identifier", NS)]
    assert ids == ["doi:10.1000/agg_id_1", "http://docs.fsd/1", "http://urn.fi/1"]
    assert dc.find("./dc:type", NS).text == "Dataset"


def test_get_record_provenance_nesting(facade):
    el = parse(facade.handle_request(
        verb="GetRecord", request_ts=NOW,
        identifier="agg_id_1", metadataPrefix="oai_dc"))
    outer = el.find("./oai:GetRecord/oai:record/oai:about/prov:provenance"
                    "/prov:originDescription", NS)
    assert outer.get("altered") == "true"
    assert outer.find("./prov:baseURL", NS).text == "http://services.fsd.tuni.fi/v0/oai"
    inner = outer.find("./prov:originDescription", NS)
    assert inner is not None
    assert inner.get("altered") == "false"
    assert inner.find("./prov:baseURL", NS).text == "http://upstream.example/oai"
    assert inner.find("./prov:originDescription", NS) is None


def test_get_record_deleted_header_only(facade):
    el = parse(facade.handle_request(
        verb="GetRecord", request_ts=NOW,
        identifier="agg_id_2", metadataPrefix="oai_dc"))
    rec = el.find("./oai:GetRecord/oai:record", NS)
    header = rec.find("./oai:header", NS)
    assert header.get("status") == "deleted"
    assert header.find("./oai:datestamp", NS).text == "2000-01-01T23:00:00Z"
    assert rec.find("./oai:metadata", NS) is None
    assert rec.find("./oai:about", NS) is None


def test_get_record_datacite(facade):
    el = parse(facade.handle_request(
        verb="GetRecord", request_ts=NOW,
        identifier="agg_id_1", metadataPrefix="oai_datacite"))
    res = el.find("./oai:GetRecord/oai:record/oai:metadata/datacite:resource", NS)
    ident = res.find("./datacite:identifier", NS)
    assert ident.get("identifierType") == "DOI"
    assert ident.text == "doi:10.1000/agg_id_1"
    assert res.find("./datacite:publisher", NS).text == "Publisher en"
    assert res.find("./datacite:publicationYear", NS).text == "2001"
    contribs = res.findall("./datacite:contributors/datacite:contributor", NS)
    assert len(contribs) == 1 and contribs[0].get("contributorType") == "Funder"
    assert contribs[0].find("./datacite:nameIdentifier", NS).text == (
        "info:eu-repo/grantAgreement/EC/FP7/12345")
    relids = res.findall("./datacite:relatedIdentifiers/datacite:relatedIdentifier", NS)
    assert len(relids) == 1 and relids[0].text == "10.1000/relA"
    assert relids[0].get("relationType") == "IsCitedBy"
    header = el.find("./oai:GetRecord/oai:record/oai:header", NS)
    assert "openaire_data" in {e.text for e in header.findall("./oai:setSpec", NS)}


def test_get_record_datacite_invalid_is_id_does_not_exist(facade):
    """F1: no OpenAIRE-type identifier ⇒ idDoesNotExist for datacite."""
    for ident in ("agg_id_3", "agg_id_5"):
        el = parse(facade.handle_request(
            verb="GetRecord", request_ts=NOW,
            identifier=ident, metadataPrefix="oai_datacite"))
        assert el.find("./oai:error", NS).get("code") == "idDoesNotExist"


def test_get_record_missing(facade):
    el = parse(facade.handle_request(
        verb="GetRecord", request_ts=NOW,
        identifier="nope", metadataPrefix="oai_dc"))
    assert el.find("./oai:error", NS).get("code") == "idDoesNotExist"


def test_get_record_ddi25(facade):
    el = parse(facade.handle_request(
        verb="GetRecord", request_ts=NOW,
        identifier="agg_id_1", metadataPrefix="oai_ddi25"))
    ns = {"ddi": "ddi:codebook:2_5", **NS}
    titl = el.find("./oai:GetRecord/oai:record/oai:metadata/ddi:codeBook"
                   "/ddi:stdyDscr/ddi:citation/ddi:titlStmt/ddi:titl", ns)
    assert titl.text == "Title of agg_id_1"
    holdings = el.find("./oai:GetRecord/oai:record/oai:metadata/ddi:codeBook"
                       "/ddi:stdyDscr/ddi:citation/ddi:holdings", ns)
    assert holdings.get("URI") == "http://urn.fi/1"


def test_list_records_pages_and_token(facade):
    xml = facade.handle_request(verb="ListRecords", request_ts=NOW,
                                metadataPrefix="oai_dc")
    el = parse(xml)
    records = el.findall("./oai:ListRecords/oai:record", NS)
    assert len(records) == 3
    tok_el = el.find("./oai:ListRecords/oai:resumptionToken", NS)
    assert tok_el.get("completeListSize") == "8"
    seen = [r.find("./oai:header/oai:identifier", NS).text for r in records]
    token = tok_el.text
    while token:
        # resumptionToken is exclusive: no metadataPrefix on resume
        el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                         resumptionToken=token))
        records = el.findall("./oai:ListRecords/oai:record", NS)
        seen += [r.find("./oai:header/oai:identifier", NS).text for r in records]
        tok_el = el.find("./oai:ListRecords/oai:resumptionToken", NS)
        token = tok_el.text if tok_el is not None else None
    assert seen == [f"agg_id_{i}" for i in range(1, 9)]
    # final page carries an empty-bodied closing token
    assert tok_el is not None and (tok_el.text is None or tok_el.text == "")


def test_list_identifiers_headers_only(facade):
    el = parse(facade.handle_request(verb="ListIdentifiers", request_ts=NOW,
                                     metadataPrefix="oai_dc"))
    headers = el.findall("./oai:ListIdentifiers/oai:header", NS)
    assert len(headers) == 3
    assert el.find("./oai:ListIdentifiers/oai:record", NS) is None


def test_list_records_no_match(facade):
    el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                     metadataPrefix="oai_dc",
                                     set="source:GESIS", until="1990-01-01"))
    assert el.find("./oai:error", NS).get("code") == "noRecordsMatch"


def test_list_records_date_granularities(facade):
    """OAI accepts date-only and full-second granularities; the deleted
    record (datestamp 2000-01-01T23:00:00Z) is caught by an until bound in
    either form."""
    for until in ("2010-01-01", "2010-01-01T00:00:00Z"):
        el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                         metadataPrefix="oai_dc", until=until))
        recs = el.findall("./oai:ListRecords/oai:record", NS)
        assert [r.find("./oai:header/oai:identifier", NS).text
                for r in recs] == ["agg_id_2"]


def test_list_records_malformed_date_is_bad_argument(facade):
    for bad in ("2010-13-45", "notadate", "2010-01-01T99:00:00Z", "2010/01/01"):
        el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                         metadataPrefix="oai_dc", **{"from": bad}))
        assert el.find("./oai:error", NS).get("code") == "badArgument"


def test_list_records_bad_token(facade):
    el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                     resumptionToken="!!notatoken!!"))
    assert el.find("./oai:error", NS).get("code") == "badResumptionToken"


def test_resumption_token_is_exclusive(facade):
    """OAI 2.0 §3.5: token + any other argument ⇒ badArgument."""
    first = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                        metadataPrefix="oai_dc"))
    token = first.find("./oai:ListRecords/oai:resumptionToken", NS).text
    el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                     metadataPrefix="oai_dc",
                                     resumptionToken=token))
    assert el.find("./oai:error", NS).get("code") == "badArgument"


def test_stylesheet_pi_and_deleted_policy(spark):
    """Protocol config edges (/root/reference/tests/test_serve.py:1474-1557):
    stylesheet PI present when configured, absent otherwise; deletedRecord
    policy switches transient/persistent."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
        fixture_studies,
    )

    planner = OAIQueryPlanner(fixture_studies(spark))
    styled = OAIFacade(planner, deleted_records="transient",
                       stylesheet_url="/v0/oai/static/oai2.xsl")
    xml = styled.handle_request(verb="Identify", request_ts=NOW)
    assert "<?xml-stylesheet type='text/xsl' href='/v0/oai/static/oai2.xsl' ?>" in xml
    assert parse(xml).find("./oai:Identify/oai:deletedRecord", NS).text == "transient"

    plain = OAIFacade(planner)
    assert "xml-stylesheet" not in plain.handle_request(verb="Identify", request_ts=NOW)


def test_list_identifiers_datacite_validity(facade):
    """ListIdentifiers honors the datacite P4 prefilter even header-only."""
    el = parse(facade.handle_request(verb="ListIdentifiers", request_ts=NOW,
                                     metadataPrefix="oai_datacite"))
    headers = el.findall("./oai:ListIdentifiers/oai:header", NS)
    ids = {h.find("./oai:identifier", NS).text for h in headers}
    assert "agg_id_3" not in ids and "agg_id_5" not in ids


def test_request_metrics_recorded(facade):
    m = facade.request_metrics
    base_total = m.requests_total
    facade.handle_request(verb="Identify", request_ts=NOW, user_agent="pytest-ua")
    facade.handle_request(verb="Nope", request_ts=NOW)  # OAI error: no duration
    assert m.requests_total == base_total + 2
    assert m.requests_per_user_agent.get("pytest-ua", 0) >= 1
    assert ("Identify", None) in m.requests_duration
    assert ("Nope", None) not in m.requests_duration


def test_concurrent_error_counts_against_its_own_request(facade):
    """Two threads share one facade. B's badVerb completes while A's valid
    ListRecords waits inside the planner; each outcome is counted once,
    against its own request."""
    shared = OAIFacade(facade.planner)
    real_list_page = facade.planner.list_page
    entered, release = threading.Event(), threading.Event()

    def gated_list_page(*args, **kwargs):
        entered.set()
        release.wait(60)
        return real_list_page(*args, **kwargs)

    out = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(facade.planner, "list_page", gated_list_page)
        a = threading.Thread(target=lambda: out.setdefault(
            "a", shared.handle_request(verb="ListRecords", request_ts=NOW,
                                       metadataPrefix="oai_dc")))
        a.start()
        assert entered.wait(60)
        out["b"] = shared.handle_request(verb="Nope", request_ts=NOW)
        release.set()
        a.join(120)
    assert not a.is_alive()
    assert parse(out["a"]).find("./oai:error", NS) is None
    assert parse(out["b"]).find("./oai:error", NS).get("code") == "badVerb"
    m = shared.request_metrics
    assert (m.requests_failed, m.requests_succeeded) == (1, 1)


def test_list_records_selective_set(facade):
    el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                     metadataPrefix="oai_dc", set="source:GESIS"))
    recs = el.findall("./oai:ListRecords/oai:record", NS)
    ids = [r.find("./oai:header/oai:identifier", NS).text for r in recs]
    assert ids == ["agg_id_4"]


def test_unknown_argument_is_bad_argument(facade):
    """OAI 2.0 §3.6 (reference behavior: any unrecognized argument ⇒
    badArgument, never an exception that kills the handler)."""
    el = parse(facade.handle_request(verb="GetRecord", request_ts=NOW,
                                     identifier="agg_id_1",
                                     metadataPrefix="oai_dc", foo="1"))
    err = el.find("./oai:error", NS)
    assert err.get("code") == "badArgument" and "foo" in err.text
    el = parse(facade.handle_request(verb="Identify", request_ts=NOW,
                                     extra="x"))
    assert el.find("./oai:error", NS).get("code") == "badArgument"


def test_list_sets_rejects_resumption_token(facade):
    el = parse(facade.handle_request(verb="ListSets", request_ts=NOW,
                                     resumptionToken="whatever"))
    assert el.find("./oai:error", NS).get("code") == "badResumptionToken"


def test_response_date_is_oai_utcdatetime(facade):
    """responseDate must be YYYY-MM-DDThh:mm:ssZ even though the facade's
    snapshot literal uses the engine's space-separated form (OAI 2.0 §3.3)."""
    import re

    for verb in ("Identify", "Nope"):
        el = parse(facade.handle_request(verb=verb, request_ts=NOW))
        rd = el.find("./oai:responseDate", NS).text
        assert re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z", rd), rd


def test_until_date_only_covers_whole_day(facade):
    """A day-granularity until is inclusive of that entire day: the deleted
    record's datestamp is 2000-01-01T23:00:00Z, after midnight — mapping
    until=2000-01-01 to 00:00:00 would silently drop it."""
    el = parse(facade.handle_request(verb="ListIdentifiers", request_ts=NOW,
                                     metadataPrefix="oai_dc",
                                     until="2000-01-01"))
    headers = el.findall("./oai:ListIdentifiers/oai:header", NS)
    assert [h.find("./oai:identifier", NS).text for h in headers] == ["agg_id_2"]


def test_mixed_from_until_granularity_is_bad_argument(facade):
    el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                     metadataPrefix="oai_dc",
                                     until="2010-01-01T00:00:00Z",
                                     **{"from": "2000-01-01"}))
    assert el.find("./oai:error", NS).get("code") == "badArgument"


def test_request_metrics_success_failure_split(facade):
    """OAI-error responses count as failures, not successes
    (/root/reference/cdcagg_oai/metrics.py:224-246)."""
    m = facade.request_metrics
    ok, bad = m.requests_succeeded, m.requests_failed
    facade.handle_request(verb="Identify", request_ts=NOW)
    facade.handle_request(verb="Nope", request_ts=NOW)
    facade.handle_request(verb="GetRecord", request_ts=NOW,
                          identifier="missing", metadataPrefix="oai_dc")
    assert m.requests_succeeded == ok + 1
    assert m.requests_failed == bad + 2


def test_missing_required_arguments_are_bad_argument(facade):
    """OAI 2.0 §4.1/4.3/4.5: a MISSING required argument is badArgument;
    cannotDisseminateFormat is reserved for unsupported prefix VALUES."""
    cases = [
        dict(verb="GetRecord"),
        dict(verb="GetRecord", identifier="agg_id_1"),
        dict(verb="GetRecord", metadataPrefix="oai_dc"),
        dict(verb="ListRecords"),
        dict(verb="ListIdentifiers"),
    ]
    for kwargs in cases:
        el = parse(facade.handle_request(request_ts=NOW, **kwargs))
        assert el.find("./oai:error", NS).get("code") == "badArgument", kwargs
    # unsupported VALUE still maps to cannotDisseminateFormat
    el = parse(facade.handle_request(verb="ListRecords", request_ts=NOW,
                                     metadataPrefix="nope"))
    assert el.find("./oai:error", NS).get("code") == "cannotDisseminateFormat"
