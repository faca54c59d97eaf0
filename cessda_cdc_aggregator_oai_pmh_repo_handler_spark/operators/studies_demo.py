"""Reference-surface queries over the deterministic studies fixture corpus,
hash-checked against literal-VALUES oracles.

The driver's DuckDB oracle only pre-registers the ten synthetic tables, so
the studies corpus (built in-memory, deterministic — sources/studies.py)
can't be referenced as a view. Its expected outputs CAN: each oracle is a
``VALUES`` literal of the rows the reference's semantics demand, derived
from /root/reference's test goldens. That makes these full value-checks,
not rows-only smoke.

Covered: snapshot-bounded ListRecords page with set annotation + deleted
datestamps (P3/P5/P7/F9/J3), the /metrics rollup (A1-A4), the datacite
validity filter (P4/F1), and the GetRecord derivation bundle (F1/F2/F3/F6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import derivations as D
from ..functions import predicates as P
from ..plans.query_builder import OAIQueryPlanner
from ..sources.studies import fixture_studies
from ..sources.tables import corpus_memo

REQUEST_TS = "2019-12-12 07:14:38"


@corpus_memo(table=None)
def _planner(spark: SparkSession, page_size: int = 5) -> OAIQueryPlanner:
    """Memoized per session: the four studies gate rows each built a fresh
    planner (and its set-dimension maps) per call — the r2 bench flagged
    the studies rows doubling; a planner is immutable here so one per
    (session, page_size) serves them all."""
    return OAIQueryPlanner(
        fixture_studies(spark),
        source_defs=[
            {"url": "http://services.fsd.tuni.fi/v0/oai", "source": "FSD",
             "setname": "FSD metadata", "description": "FSD metadata description"},
            {"url": "https://www.da-ra.de/oaip", "source": "GESIS",
             "setname": "GESIS metadata"},
        ],
        configurable_path=None,
        page_size=page_size,
    )


def q_studies_list_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First ListRecords page (oai_dc): identifier, OAI datestamp (deletion
    time for the deleted record), deleted flag, sorted setSpec string."""
    page = _planner(spark).list_page("oai_dc", request_ts=REQUEST_TS)
    return page.df.select(
        "aggregator_identifier",
        F.date_format("datestamp", "yyyy-MM-dd HH:mm:ss").alias("datestamp"),
        "deleted",
        F.concat_ws(",", F.array_sort("setSpec")).alias("specs"),
    )


def q_studies_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /metrics rollup over the fixture corpus (null-keeping $ne +
    null-publisher skip, /root/reference/cdcagg_oai/metrics.py:155-201)."""
    studies = fixture_studies(spark)
    return (
        studies.rollup("direct_base_url")
        .agg(
            F.count("*").alias("records_total"),
            F.count(F.when(P.not_deleted(), 1)).alias("records_without_deleted"),
            F.grouping("direct_base_url").cast("int").alias("grouping_level"),
        )
        .select(F.col("direct_base_url").alias("publisher"),
                "records_total", "records_without_deleted", "grouping_level")
    )


def q_studies_datacite_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/F1: identifiers of records listable under oai_datacite (OpenAIRE
    id-type whitelist pre-filter)."""
    planner = _planner(spark, page_size=100)
    page = planner.list_page("oai_datacite", request_ts=REQUEST_TS)
    return page.df.select("aggregator_identifier")


def q_studies_derivations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F6 derivation bundle per live record."""
    studies = fixture_studies(spark)
    return (
        studies.filter(P.not_deleted())
        .select(
            "aggregator_identifier",
            D.preferred_identifier()["type"].alias("id_type"),
            D.publication_year().alias("pub_year"),
            D.preferred_publisher().alias("publisher"),
            F.size(D.funder_grants()).alias("n_funders"),
        )
    )


QUERIES = {
    "studies_list_page": q_studies_list_page,
    "studies_metrics": q_studies_metrics,
    "studies_datacite_valid": q_studies_datacite_valid,
    "studies_derivations": q_studies_derivations,
}

ORACLES = {
    "studies_list_page": """
        SELECT * FROM (VALUES
            ('agg_id_1', '2019-06-01 12:00:00', false, 'language:en,language:fi,source:FSD'),
            ('agg_id_2', '2000-01-01 23:00:00', true,  'source:FSD'),
            ('agg_id_3', '2019-06-01 12:00:00', false, 'language:en,language:fi,source:FSD'),
            ('agg_id_4', '2019-06-01 12:00:00', false, 'language:sv,source:GESIS'),
            ('agg_id_5', '2019-06-01 12:00:00', false, 'language:en,language:fi,source:FSD')
        ) AS t(aggregator_identifier, datestamp, deleted, specs)
    """,
    "studies_metrics": """
        SELECT * FROM (VALUES
            (NULL,                                  8::BIGINT, 7::BIGINT, 1),
            (NULL,                                  1::BIGINT, 1::BIGINT, 0),
            ('http://services.fsd.tuni.fi/v0/oai',  6::BIGINT, 5::BIGINT, 0),
            ('https://www.da-ra.de/oaip',           1::BIGINT, 1::BIGINT, 0)
        ) AS t(publisher, records_total, records_without_deleted, grouping_level)
    """,
    "studies_datacite_valid": """
        SELECT * FROM (VALUES
            ('agg_id_1'), ('agg_id_4'), ('agg_id_6'), ('agg_id_7'), ('agg_id_8')
        ) AS t(aggregator_identifier)
    """,
    "studies_derivations": """
        SELECT * FROM (VALUES
            ('agg_id_1', 'DOI', '2001', 'Publisher en',   1),
            ('agg_id_3', NULL,  '2001', 'Publisher en',   1),
            ('agg_id_4', 'DOI', '2001', 'Distributör sv', 1),
            ('agg_id_5', NULL,  '2001', 'Publisher en',   1),
            ('agg_id_6', 'DOI', '2001', 'Publisher en',   1),
            ('agg_id_7', 'DOI', '2001', 'Publisher en',   1),
            ('agg_id_8', 'DOI', '1999', 'Distributor en', 1)
        ) AS t(aggregator_identifier, id_type, pub_year, publisher, n_funders)
    """,
}
