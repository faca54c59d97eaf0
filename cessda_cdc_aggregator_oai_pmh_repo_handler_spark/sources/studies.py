"""The ``studies`` corpus: schema + deterministic fixture records.

Schema reconstructed field-by-field from the reference's call sites and
tests (SURVEY §1.2; exact per-format projections asserted at
/root/reference/tests/test_serve.py:1384-1471). Every content field is the
multilingual multi-value pattern ``array<struct<value, language, ...>>``
whose element ORDER is significant (first-element and english-preference
selections, /root/reference/tests/test_serve.py:700-766) — nothing here may
ever ``sort_array`` them.

At 100 TB the corpus would live as Delta/parquet partitioned by
``direct_base_url`` (publisher) — the groupBy key of the metrics rollup and
the selective-harvest filter — with nested-schema pruning carrying the
per-format projections into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .tables import corpus_memo

_VL = "array<struct<value:string,language:string>>"

STUDY_DDL: list[tuple[str, str]] = [
    ("aggregator_identifier", "string"),
    ("study_number", "string"),
    ("metadata", "struct<status:string,created:timestamp,updated:timestamp,deleted:timestamp>"),
    ("provenance", "array<struct<harvest_date:string,altered:boolean,base_url:string,"
                   "identifier:string,datestamp:string,direct:boolean,metadata_namespace:string>>"),
    ("direct_base_url", "string"),
    ("identifiers", "array<struct<value:string,language:string,agency:string>>"),
    ("study_titles", _VL),
    ("parallel_study_titles", _VL),
    ("principal_investigators", "array<struct<value:string,language:string,organization:string>>"),
    ("publishers", _VL),
    ("distributors", _VL),
    ("abstracts", _VL),
    ("keywords", "array<struct<value:string,language:string,system_name:string,uri:string,description:string>>"),
    ("classifications", "array<struct<value:string,language:string,system_name:string,uri:string,description:string>>"),
    ("publication_years", "array<struct<value:string,language:string,distribution_date:string>>"),
    ("distribution_dates", "array<struct<value:string,language:string,description:string>>"),
    ("study_uris", _VL),
    ("document_uris", _VL),
    ("document_titles", _VL),
    ("data_kinds", _VL),
    ("data_access", _VL),
    ("data_access_descriptions", "array<struct<value:string,language:string,element_version:string>>"),
    ("research_instruments", "array<struct<value:string,language:string,system_name:string,uri:string,description:string>>"),
    ("collection_periods", "array<struct<value:string,language:string,event:string,description:string>>"),
    ("geographic_coverages", _VL),
    ("grant_numbers", "array<struct<value:string,language:string,agency:string>>"),
    ("related_publications", "array<struct<value:string,language:string,identifier:string,identifier_agency:string>>"),
    ("study_area_countries", _VL),
    ("data_collection_copyrights", _VL),
    ("copyrights", _VL),
    ("publication_dates", "array<struct<value:string,language:string,description:string>>"),
    ("time_methods", _VL),
    ("sampling_procedures", _VL),
    ("collection_modes", _VL),
    ("analysis_units", _VL),
    ("universes", _VL),
    ("file_names", _VL),
    ("citation_requirements", _VL),
    ("deposit_requirements", _VL),
    ("funding_agencies", _VL),
    ("instruments", _VL),
]


def studies_schema() -> T.StructType:
    return T.StructType([
        T.StructField(name, T._parse_datatype_string(ddl), True) for name, ddl in STUDY_DDL
    ])


FSD_URL = "http://services.fsd.tuni.fi/v0/oai"
GESIS_URL = "https://www.da-ra.de/oaip"

# OpenAIRE identifier-type whitelist for the datacite P4 record-validity
# prefilter (/root/reference/cdcagg_oai/metadataformats.py:786-787,
# tests/test_serve.py:1335-1336).
OPENAIRE_ID_TYPES = ("DOI", "ARK", "Handle", "PURL", "URN", "URL")

# Broader controlled list for datacite relatedIdentifier agencies — the
# OpenAIRE relatedIdentifierType vocabulary. The reference's tests keep
# ISBN here while the record-validity list above does not
# (/root/reference/tests/test_serve.py:934-977; vocabulary per
# guidelines.openaire.eu field_relatedidentifier).
RELATED_ID_TYPES = (
    "ARK", "arXiv", "bibcode", "DOI", "EAN13", "EISSN", "Handle", "ISBN",
    "ISSN", "ISTC", "LISSN", "LSID", "PMID", "PURL", "UPC", "URL", "URN",
    "WOS",
)


def _vl(*pairs):
    return [{"value": v, "language": lang} for v, lang in pairs]


def _ts(s):
    import datetime

    return datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")


def _record(agg_id: str, **over) -> dict:
    """One fixture Study; defaults mirror the reference's builders
    (/root/reference/tests/test_serve.py:46-66, 218-224)."""
    rec = {name: None for name, _ in STUDY_DDL}
    rec.update(
        aggregator_identifier=agg_id,
        study_number=f"study_{agg_id}",
        metadata={"status": "created", "created": _ts("2019-01-01T00:00:00Z"),
                  "updated": _ts("2019-06-01T12:00:00Z"), "deleted": None},
        provenance=[
            {"harvest_date": "2019-06-01T11:59:00Z", "altered": True, "base_url": FSD_URL,
             "identifier": f"oai:fsd:{agg_id}", "datestamp": "2019-05-30",
             "direct": True, "metadata_namespace": "ddi:codebook:2_5"},
            {"harvest_date": "2019-05-01T00:00:00Z", "altered": False,
             "base_url": "http://upstream.example/oai", "identifier": f"oai:up:{agg_id}",
             "datestamp": "2019-04-30", "direct": False,
             "metadata_namespace": "ddi:codebook:2_5"},
        ],
        direct_base_url=FSD_URL,
        identifiers=[{"value": f"doi:10.1000/{agg_id}", "language": "en", "agency": "DOI"}],
        study_titles=_vl((f"Title of {agg_id}", "en"), (f"Otsikko {agg_id}", "fi")),
        abstracts=_vl((f"Abstract of {agg_id}", "en")),
        publishers=_vl(("Publisher fi", "fi"), ("Publisher en", "en")),
        distributors=[],
        keywords=[{"value": "kw1", "language": "en", "system_name": None, "uri": None,
                   "description": "Keyword One"},
                  {"value": "kw2", "language": "en", "system_name": None, "uri": None,
                   "description": ""}],
        publication_years=[{"value": "2001-05-01", "language": "en", "distribution_date": None}],
        study_uris=_vl(("http://urn.fi/1", "en")),
        document_uris=_vl(("http://docs.fsd/1", "en"), ("http://urn.fi/1", "en")),
        grant_numbers=[
            {"value": "info:eu-repo/grantAgreement/EC/FP7/12345", "language": "en", "agency": "EC"},
            {"value": "plain-grant-42", "language": "en", "agency": "Academy"},
        ],
        related_publications=[
            {"value": "Publication A", "language": "en", "identifier": "10.1000/relA",
             "identifier_agency": "DOI"},
            {"value": "Publication B", "language": "en", "identifier": "",
             "identifier_agency": "DOI"},
            {"value": "Publication C", "language": "en", "identifier": "xx",
             "identifier_agency": "NotAnAgency"},
        ],
    )
    rec.update(over)
    return rec


def fixture_records() -> list[dict]:
    """Deterministic corpus covering every record-level rule the reference
    tests: deleted records, non-OpenAIRE ids, language preference, $exists,
    null-status $ne semantics (FIXTURES.md §1 representative rows)."""
    return [
        _record("agg_id_1"),
        # logically deleted (F9): datestamp becomes deletion time, header-only
        _record(
            "agg_id_2",
            metadata={"status": "deleted", "created": _ts("2019-01-01T00:00:00Z"),
                      "updated": _ts("2019-12-01T00:00:00Z"),
                      "deleted": _ts("2000-01-01T23:00:00Z")},
            identifiers=[], study_titles=[], abstracts=[], publishers=[],
        ),
        # non-OpenAIRE identifiers only → excluded by datacite validity filter
        _record("agg_id_3",
                identifiers=[{"value": "local-3", "language": "en", "agency": "Unknown"}]),
        # GESIS source; no english anywhere → first-element fallbacks (F3)
        _record(
            "agg_id_4",
            provenance=[{"harvest_date": "2019-06-02T00:00:00Z", "altered": False,
                         "base_url": GESIS_URL, "identifier": "oai:gesis:4",
                         "datestamp": "2019-06-01", "direct": True,
                         "metadata_namespace": "oai_dc"}],
            direct_base_url=GESIS_URL,
            study_titles=_vl(("Titel 4", "sv")),
            publishers=_vl(("Utgivare sv", "sv"), ("Julkaisija fi", "fi")),
            distributors=_vl(("Distributör sv", "sv")),
        ),
        # no identifiers at all → datacite idDoesNotExist (F1)
        _record("agg_id_5", identifiers=[]),
        # direct hop with NULL base_url → excluded by the $exists form (P6)
        _record(
            "agg_id_6",
            provenance=[{"harvest_date": "2019-06-03T00:00:00Z", "altered": False,
                         "base_url": None, "identifier": "oai:x:6",
                         "datestamp": "2019-06-02", "direct": True,
                         "metadata_namespace": "oai_dc"}],
            direct_base_url=None,
        ),
        # NULL status → must be KEPT by `status $ne 'deleted'` (P3)
        _record(
            "agg_id_7",
            metadata={"status": None, "created": _ts("2019-01-01T00:00:00Z"),
                      "updated": _ts("2019-07-01T00:00:00Z"), "deleted": None},
        ),
        # distribution_date present → preferred for year extraction (F2)
        _record(
            "agg_id_8",
            publication_years=[{"value": None, "language": "en",
                                "distribution_date": "1999-12-31"}],
            distributors=_vl(("Distributor en", "en"), ("Jakelija fi", "fi")),
        ),
    ]


@corpus_memo(table=None)
def fixture_studies(spark: SparkSession) -> DataFrame:
    """Deterministic 8-record corpus, built and cached once per session
    (several demo queries and the whole OAI test-surface share it)."""
    df = spark.createDataFrame(fixture_records(), schema=studies_schema())
    # r11: localCheckpoint, not cache() — the cached plan still sat on a
    # pickled-row RDD, so every catalog clearCache() (the bench's cold
    # isolation) put the Python-worker deserialization back on the first
    # action of every query; checkpointed blocks are JVM-resident until
    # the memo entry itself is cleared
    return df.localCheckpoint()
