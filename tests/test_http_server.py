"""HTTP tier: OAI verbs and /metrics over a real socket (the reference's
AsyncHTTPTestCase layer, /root/reference/tests/test_serve.py)."""

from __future__ import annotations

import os
import random
import types
import urllib.error
import urllib.request
import xml.etree.ElementTree as ET

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai import server as srv_mod
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import (
    OAIFacade, RequestMetrics,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.server import OAIHTTPServer
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import OAIQueryPlanner
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import yaml_sets
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_studies

NS = {"oai": "http://www.openarchives.org/OAI/2.0/"}
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def server(spark):
    planner = OAIQueryPlanner(
        fixture_studies(spark),
        source_defs=yaml_sets.load_source_defs(f"{DATA}/sources.yaml"),
        configurable_path=f"{DATA}/configurable.yaml",
        page_size=3,
    )
    srv = OAIHTTPServer(OAIFacade(planner), port=0).start()
    yield srv
    srv.stop()


def fetch(server, path, ua="pytest-harvester"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}", headers={"User-Agent": ua})
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, resp.headers.get("Content-Type"), resp.read().decode()


def test_identify_over_http(server):
    status, ctype, body = fetch(server, "/v0/oai?verb=Identify")
    assert status == 200 and ctype.startswith("text/xml")
    el = ET.fromstring(body)
    assert el.find("./oai:Identify/oai:protocolVersion", NS).text == "2.0"


def test_full_harvest_over_http(server):
    status, _, body = fetch(server, "/v0/oai?verb=ListRecords&metadataPrefix=oai_dc")
    seen = []
    while True:
        el = ET.fromstring(body)
        recs = el.findall("./oai:ListRecords/oai:record", NS)
        seen += [r.find("./oai:header/oai:identifier", NS).text for r in recs]
        tok = el.find("./oai:ListRecords/oai:resumptionToken", NS)
        if tok is None or not tok.text:
            break
        status, _, body = fetch(
            server, f"/v0/oai?verb=ListRecords&resumptionToken={tok.text}")
    assert seen == [f"agg_id_{i}" for i in range(1, 9)]


def test_missing_verb_is_oai_error_http_200(server):
    status, _, body = fetch(server, "/v0/oai")
    assert status == 200  # protocol errors are HTTP 200 (reference behavior)
    assert ET.fromstring(body).find("./oai:error", NS).get("code") == "badVerb"


def test_metrics_endpoint(server):
    fetch(server, "/v0/oai?verb=Identify")  # ensure ≥1 request recorded
    status, ctype, body = fetch(server, "/metrics")
    assert status == 200 and ctype.startswith("text/plain")
    lines = body.splitlines()
    assert "records_total 8.0" in lines
    assert any(l.startswith('publishers_counts{publisher="http://services.fsd') for l in lines)
    assert any(l.startswith("requests_total") for l in lines)
    assert any('requests_per_user_agent{harvester="pytest-harvester"}' in l for l in lines)


def test_user_agent_label_is_escaped(server):
    """A backslash or quote in the User-Agent must not break the exposition
    line: the label is escaped like the publisher labels."""
    fetch(server, "/v0/oai?verb=Identify", ua='a\\b"c')
    _, _, body = fetch(server, "/metrics")
    assert r'requests_per_user_agent{harvester="a\\b\"c"} 1.0' in body.splitlines()


def test_unknown_path_404(server):
    with pytest.raises(urllib.error.HTTPError) as exc:
        fetch(server, "/nope")
    assert exc.value.code == 404


def test_failing_routes_answer_generic_500(monkeypatch):
    """Both routes sit under the handler's one try: a raising facade call
    or metrics rollup still answers with a status line, and the 500 body
    never carries the exception text."""
    def boom(*args, **kwargs):
        raise RuntimeError("secret-detail")

    monkeypatch.setattr(srv_mod, "compute_metrics", boom)
    stub = types.SimpleNamespace(
        planner=types.SimpleNamespace(studies=None),
        request_metrics=RequestMetrics(), handle_request=boom)
    srv = OAIHTTPServer(stub, port=0).start()
    try:
        for path in ("/v0/oai?verb=Identify", "/metrics"):
            with pytest.raises(urllib.error.HTTPError) as exc:
                fetch(srv, path)
            assert exc.value.code == 500
            assert exc.value.read().decode() == "internal error"
    finally:
        srv.stop()


def test_request_durations_stay_fixed_size():
    """Durations keep a running (sum, count) per label, not a list per
    request; the exposition equals the list-based sums."""
    rm = RequestMetrics()
    rng = random.Random(7)
    durs: dict = {}
    labels = [("ListRecords", "oai_dc"), ("GetRecord", "oai_ddi25"),
              ("Identify", None)]
    for i in range(10_000):
        label = labels[i % 3]
        d = rng.uniform(0.1, 900.0)
        rm.record(label[0], label[1], "ua", d, is_error=(i % 11 == 0))
        if i % 11:
            durs.setdefault(label, []).append(d)
    assert all(len(v) == 2 for v in rm.requests_duration.values())
    lines = srv_mod._request_metric_lines(rm).splitlines()
    for (verb, prefix), ds in durs.items():
        tag = f'{{verb="{verb}",metadataPrefix="{prefix or ""}"}}'
        assert f"requests_duration_ms_sum{tag} {round(sum(ds), 3)}" in lines
        assert f"requests_duration_ms_count{tag} {float(len(ds))}" in lines
