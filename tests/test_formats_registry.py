"""Plugin-format registry: a new metadata format registers and serves
end-to-end through the facade (SURVEY §2.9; mirrors the reference's
entry-point discovery, /root/reference/setup.py:41-45)."""

from __future__ import annotations

import dataclasses
import xml.etree.ElementTree as ET

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai import formats as FMT
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import OAIFacade
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import (
    HEADER_FIELDS, OAIQueryPlanner,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import fixture_studies

NOW = "2019-12-12 07:14:38"
NS = {"oai": "http://www.openarchives.org/OAI/2.0/"}


def _render_minimal(parent, row, derived):
    el = ET.SubElement(parent, "minimal")
    el.text = row["study_number"]


@pytest.fixture()
def custom_format():
    fmt = FMT.MetadataFormat(
        prefix="oai_minimal",
        namespace="urn:test:minimal",
        schema_url="urn:test:minimal.xsd",
        fields=HEADER_FIELDS + ["study_number"],
        renderer=_render_minimal,
    )
    FMT.register(fmt)
    yield fmt
    FMT.unregister("oai_minimal")


def test_builtins_registered():
    assert set(FMT.prefixes()) >= {"oai_dc", "oai_ddi25", "oai_datacite"}


def test_custom_format_serves_get_record(spark, custom_format):
    facade = OAIFacade(OAIQueryPlanner(fixture_studies(spark)))
    xml = facade.handle_request(verb="GetRecord", request_ts=NOW,
                                identifier="agg_id_1", metadataPrefix="oai_minimal")
    el = ET.fromstring(xml)
    assert el.find("./oai:GetRecord/oai:record/oai:metadata/minimal", NS).text == (
        "study_agg_id_1")


def test_custom_format_in_list_metadata_formats(spark, custom_format):
    facade = OAIFacade(OAIQueryPlanner(fixture_studies(spark)))
    xml = facade.handle_request(verb="ListMetadataFormats", request_ts=NOW)
    el = ET.fromstring(xml)
    prefixes = [e.text for e in el.findall(
        "./oai:ListMetadataFormats/oai:metadataFormat/oai:metadataPrefix", NS)]
    assert "oai_minimal" in prefixes


def test_plugin_replaces_builtin_prefix(spark):
    """A format re-registered under a built-in prefix is served with its
    own projection and renderer: dispatch reads only the registry."""
    builtin = FMT.get("oai_dc")
    seen_fields = []

    def render(parent, row, derived):
        seen_fields.append(set(row.asDict()))
        _render_minimal(parent, row, derived)

    FMT.register(dataclasses.replace(
        builtin, fields=HEADER_FIELDS + ["study_number"], renderer=render))
    try:
        facade = OAIFacade(OAIQueryPlanner(fixture_studies(spark)))
        xml = facade.handle_request(verb="GetRecord", request_ts=NOW,
                                    identifier="agg_id_1", metadataPrefix="oai_dc")
    finally:
        FMT.register(builtin)
    md = ET.fromstring(xml).find("./oai:GetRecord/oai:record/oai:metadata", NS)
    assert [(el.tag, el.text) for el in md] == [("minimal", "study_agg_id_1")]
    assert "study_number" in seen_fields[0]
    assert "study_titles" not in seen_fields[0]
    assert FMT.get("oai_dc") is builtin


def test_unknown_format_still_rejected(spark):
    facade = OAIFacade(OAIQueryPlanner(fixture_studies(spark)))
    xml = facade.handle_request(verb="GetRecord", request_ts=NOW,
                                identifier="agg_id_1", metadataPrefix="oai_nope")
    el = ET.fromstring(xml)
    assert el.find("./oai:error", NS).get("code") == "cannotDisseminateFormat"


def test_entry_point_discovery_serves_records(spark, tmp_path, monkeypatch):
    """A format shipped ONLY as a package entry point (the reference's
    cdcagg.oai.metadataformats group, /root/reference/setup.py:41-45) is
    discovered and serves GetRecord + ListRecords with no code changes."""
    site = tmp_path / "site"
    dist = site / "fake_fmt_plugin-1.0.dist-info"
    dist.mkdir(parents=True)
    (dist / "METADATA").write_text(
        "Metadata-Version: 2.1\nName: fake-fmt-plugin\nVersion: 1.0\n")
    (dist / "entry_points.txt").write_text(
        "[cdcagg.oai.metadataformats]\n"
        "plugin = fake_fmt_plugin:FORMAT\n")
    (site / "fake_fmt_plugin.py").write_text(
        "import xml.etree.ElementTree as ET\n"
        "from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.formats import MetadataFormat\n"
        "from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import HEADER_FIELDS\n"
        "def _render(parent, row, derived):\n"
        "    ET.SubElement(parent, 'plugin').text = row['study_number']\n"
        "FORMAT = MetadataFormat(prefix='oai_plugin', namespace='urn:test:plugin',\n"
        "                        schema_url='urn:test:plugin.xsd',\n"
        "                        fields=HEADER_FIELDS + ['study_number'],\n"
        "                        renderer=_render)\n")
    monkeypatch.syspath_prepend(str(site))
    import importlib

    importlib.invalidate_caches()
    loaded = FMT.discover_entry_points()
    try:
        assert "oai_plugin" in loaded
        facade = OAIFacade(OAIQueryPlanner(fixture_studies(spark)))
        xml = facade.handle_request(verb="GetRecord", request_ts=NOW,
                                    identifier="agg_id_1",
                                    metadataPrefix="oai_plugin")
        el = ET.fromstring(xml)
        assert el.find("./oai:GetRecord/oai:record/oai:metadata/plugin",
                       NS).text == "study_agg_id_1"
        xml = facade.handle_request(verb="ListRecords", request_ts=NOW,
                                    metadataPrefix="oai_plugin")
        el = ET.fromstring(xml)
        vals = [e.text for e in el.findall(
            "./oai:ListRecords/oai:record/oai:metadata/plugin", NS)]
        assert "study_agg_id_1" in vals and len(vals) >= 5
    finally:
        FMT.unregister("oai_plugin")


def test_entry_point_discovery_isolates_broken_plugin(tmp_path, monkeypatch):
    """A plugin that raises on load is skipped with a warning; the registry
    and other formats stay intact."""
    site = tmp_path / "site2"
    dist = site / "broken_fmt_plugin-1.0.dist-info"
    dist.mkdir(parents=True)
    (dist / "METADATA").write_text(
        "Metadata-Version: 2.1\nName: broken-fmt-plugin\nVersion: 1.0\n")
    (dist / "entry_points.txt").write_text(
        "[cdcagg.oai.metadataformats]\n"
        "broken = broken_fmt_plugin:FORMAT\n")
    (site / "broken_fmt_plugin.py").write_text("raise RuntimeError('boom')\n")
    monkeypatch.syspath_prepend(str(site))
    import importlib
    import warnings

    importlib.invalidate_caches()
    before = set(FMT.prefixes())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        loaded = FMT.discover_entry_points()
    assert loaded == []
    assert set(FMT.prefixes()) == before
    assert any("broken" in str(w.message) for w in caught)
