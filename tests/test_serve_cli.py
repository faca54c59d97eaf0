"""Service wiring: settings → running HTTP server over a versioned-table
corpus, pinned at the version current at startup."""

from __future__ import annotations

import os
import urllib.request
import xml.etree.ElementTree as ET

import pytest

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark import serve
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import versioned_table as VT
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.studies import (
    fixture_records, fixture_studies, studies_schema,
)

NS = {"oai": "http://www.openarchives.org/OAI/2.0/"}
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_build_app_and_serve(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    VT.create(fixture_studies(spark), corpus)
    args = serve.parse_args([
        "--corpus", corpus,
        "--port", "0",
        "--oai-set-sources-path", f"{DATA}/sources.yaml",
        "--oai-set-configurable-path", f"{DATA}/configurable.yaml",
        "--oai-pmh-list-size", "3",
        "--oai-pmh-list-size-oai-datacite", "2",
        "--oai-pmh-deleted-records", "transient",
    ])
    server = serve.build_app(args, spark=spark).start()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/v0/oai?verb=Identify",
                timeout=60) as resp:
            el = ET.fromstring(resp.read().decode())
        assert el.find("./oai:Identify/oai:deletedRecord", NS).text == "transient"
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/v0/oai?verb=ListRecords"
                "&metadataPrefix=oai_datacite", timeout=60) as resp:
            el = ET.fromstring(resp.read().decode())
        assert len(el.findall("./oai:ListRecords/oai:record", NS)) == 2

        # a version published after startup is not served: the planner
        # keeps the version it was built with
        assert server.facade.planner.vt_version == 0
        VT.append(spark.createDataFrame(
            [dict(fixture_records()[0], aggregator_identifier="agg_id_new")],
            studies_schema()), corpus)
        assert VT.current_version(corpus) == 1
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}/v0/oai?verb=GetRecord"
                "&identifier=agg_id_new&metadataPrefix=oai_dc",
                timeout=60) as resp:
            el = ET.fromstring(resp.read().decode())
        assert el.find("./oai:error", NS).get("code") == "idDoesNotExist"
    finally:
        server.stop()


def test_plain_parquet_corpus_is_refused_at_startup(spark, tmp_path):
    corpus = str(tmp_path / "plain")
    fixture_studies(spark).write.parquet(corpus)
    args = serve.parse_args(["--corpus", corpus, "--port", "0"])
    with pytest.raises(ValueError, match="not a versioned table"):
        serve.build_app(args, spark=spark)


def test_configurable_validated_at_startup(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    VT.create(fixture_studies(spark), corpus)
    bad = tmp_path / "bad.yaml"
    bad.write_text("name: n\nnodes: []\n")
    args = serve.parse_args(["--corpus", corpus, "--port", "0",
                             "--oai-set-configurable-path", str(bad)])
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.yaml_sets import (
        SetConfigError,
    )

    with pytest.raises(SetConfigError):
        serve.build_app(args, spark=spark)
