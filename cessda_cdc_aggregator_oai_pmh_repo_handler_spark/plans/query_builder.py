"""OAI verb → DataFrame plan builder (SURVEY §3).

The reference's only query IR is a Mongo filter dict + fields list composed
by kuha's ``_list_records``/``_get_record`` (pinned at
/root/reference/tests/test_serve.py:1330-1471). Here the IR *is* the
DataFrame: every verb composes Column predicates from
``functions.predicates`` and a per-format projection, and Catalyst gets the
whole plan (pushdown + nested pruning) instead of a hand-built payload.

Pagination (O1/O2) is **keyset-based** at scale: the token carries the last
delivered key, so page N+1 is ``WHERE aggregator_identifier > last_key ORDER
BY aggregator_identifier LIMIT page_size`` — a pushed-down range predicate +
per-partition top-K (TakeOrderedAndProject), never a global row_number
window over 100 TB. completeListSize is counted once at token birth, as the
reference does (query_count before paging,
/root/reference/tests/test_serve.py:1261).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import derivations as D
from ..functions import predicates as P
from ..sources.studies import OPENAIRE_ID_TYPES
from ..sources.yaml_sets import configurable_identifiers, load_configurable
from .tokens import BadResumptionToken, ResumptionToken, query_hash

HEADER_FIELDS = ["aggregator_identifier", "metadata", "provenance"]

# Exact per-format projections, reference names mapped to ours
# (/root/reference/tests/test_serve.py:1384-1471; '_'-prefixed system names
# dropped, 'abstract'→'abstracts', 'parallel_titles'→'parallel_study_titles').
FORMAT_FIELDS: dict[str, list[str]] = {
    "oai_dc": HEADER_FIELDS + [
        "study_number", "study_titles", "identifiers", "principal_investigators",
        "publishers", "document_uris", "study_uris", "abstracts", "keywords",
        "publication_years", "study_area_countries", "data_collection_copyrights",
    ],
    "oai_datacite": HEADER_FIELDS + [
        "study_number", "study_titles", "classifications", "geographic_coverages",
        "identifiers", "keywords", "abstracts", "data_access", "publication_years",
        "distributors", "publishers", "principal_investigators", "grant_numbers",
        "related_publications",
    ],
    "oai_ddi25": HEADER_FIELDS + [
        "study_number", "data_kinds", "document_titles", "study_uris",
        "parallel_study_titles", "citation_requirements", "principal_investigators",
        "study_area_countries", "collection_modes", "keywords",
        "deposit_requirements", "publishers", "geographic_coverages",
        "publication_dates", "distribution_dates", "copyrights", "file_names",
        "identifiers", "analysis_units", "research_instruments", "time_methods",
        "universes", "publication_years", "distributors",
        "data_collection_copyrights", "instruments", "study_titles", "data_access",
        "abstracts", "collection_periods", "related_publications", "document_uris",
        "sampling_procedures", "data_access_descriptions", "classifications",
        "funding_agencies", "grant_numbers",
    ],
}


def fields_for(metadata_prefix: str) -> list[str]:
    """Projection for a prefix, from the format registry
    (SURVEY §2.9; /root/reference/setup.py:41-45)."""
    from ..oai import formats  # lazy: formats registers built-ins from here

    fmt = formats.get(metadata_prefix)
    if fmt is None:
        raise KeyError(f"unknown metadataPrefix: {metadata_prefix}")
    return fmt.fields


class UnsupportedSetSpec(ValueError):
    """OAI noRecordsMatch/badArgument condition for unknown set specs."""


@dataclass
class Page:
    """One ListRecords/ListIdentifiers page plus its continuation state."""

    df: DataFrame
    token: ResumptionToken | None   # token to RENDER (None on final page of a
                                    # single-page list; empty-rendered when closing)
    complete_list_size: int
    cursor: int


def finalize_token(page: Page, rows) -> str | None:
    """Fill the keyset watermark from the collected page rows and encode.
    Returns None when the list is complete (the facade then renders the
    closing empty token, /root/reference/CHANGELOG.md:108-110).

    A resumed page that collects ZERO rows (records drifted out of the
    snapshot after completeListSize was counted) closes the list: a None
    last_key would drop the keyset filter and re-deliver page one."""
    import dataclasses

    if page.token is None or not rows:
        return None
    last = rows[-1]["aggregator_identifier"]
    return dataclasses.replace(page.token, last_key=last).encode()


class OAIQueryPlanner:
    """Composes DataFrame plans for the OAI verbs over the studies corpus.

    ``source_defs`` follows the load-once contract (held in memory);
    ``configurable_path`` is re-read per query by design (SURVEY §2.1 S2/S3).
    """

    def __init__(self, studies: DataFrame, source_defs: list[dict] | None = None,
                 configurable_path: str | None = None, page_size: int = 100,
                 page_sizes: dict[str, int] | None = None,
                 vt_path: str | None = None, vt_version: int | None = None):
        self.studies = studies
        self.source_defs = source_defs or []
        self.configurable_path = configurable_path
        self.page_size = page_size
        # versioned-table-backed corpus: point lookups (GetRecord, the
        # existence probe) go through the manifest's bloom/zone-map file
        # skipping instead of scanning every file — after a key-clustered
        # compact + build_blooms a GetRecord opens ~1 data file out of the
        # whole corpus. The serving version is PINNED at planner birth
        # (snapshot-stable: concurrent merges can't shear a reader).
        self.vt_path = vt_path
        if vt_path is not None and vt_version is None:
            from ..sources import versioned_table as VT

            vt_version = VT.current_version(vt_path)
        self.vt_version = vt_version
        self.last_point_files: tuple[int, int] | None = None  # (total, read)
        # per-format overrides, mirroring the reference's
        # --oai-pmh-list-size-{oai-dc,oai-ddi25,oai-datacite} flags
        # (/root/reference/cdcagg_oai/metadataformats.py:506-529)
        self.page_sizes = page_sizes or {}
        self._url_by_source = {d["source"]: d["url"] for d in self.source_defs}
        self._source_by_url = {d["url"]: d["source"] for d in self.source_defs}

    def page_size_for(self, metadata_prefix: str) -> int:
        return self.page_sizes.get(metadata_prefix, self.page_size)

    # --- set filters (J1/P5/P6 + kuha built-ins) -------------------------

    def set_filter(self, set_spec: str | None) -> Column:
        """setSpec → predicate, matching the wire-level filters the reference
        emits (/root/reference/tests/test_serve.py:1330-1377)."""
        if set_spec is None:
            return F.lit(True)
        key, _, value = set_spec.partition(":")
        value = value or None
        if key == "source":
            if value is None:
                return P.any_direct_hop()
            url = self._url_by_source.get(value)
            if url is None:
                return F.lit(False)
            return P.direct_hop_from(url)
        if key == "language":
            if value is None:
                return F.size("study_titles") > 0
            return P.elem_match("study_titles", lambda t: t["language"] == value)
        if key == "openaire_data":
            return D.preferred_identifier().isNotNull()
        if self.configurable_path is not None:
            cnf = load_configurable(self.configurable_path)
            if key == cnf.get("spec"):
                ids = configurable_identifiers(cnf, value)
                return F.col("aggregator_identifier").isin(ids)
        raise UnsupportedSetSpec(set_spec)

    def validity_filter(self, metadata_prefix: str) -> Column:
        """Format validity: datacite lists only records with an OpenAIRE-type
        identifier (P4, /root/reference/cdcagg_oai/metadataformats.py:775-788)."""
        from ..oai import formats  # lazy; see fields_for

        fmt = formats.get(metadata_prefix)
        if fmt is not None and fmt.validity_filter_name == "openaire":
            return P.elem_match("identifiers",
                                lambda i: i["agency"].isin(*OPENAIRE_ID_TYPES))
        return F.lit(True)

    # --- per-record set annotation (J3) ----------------------------------

    def set_spec_column(self, metadata_prefix: str) -> Column:
        """Record-header setSpec array: source:X + configurable children +
        language:L (+ openaire_data for datacite)
        (/root/reference/tests/test_serve.py:308-357)."""
        parts: list[Column] = []
        if self._source_by_url:
            url_to_source = F.create_map(
                *[F.lit(x) for kv in self._source_by_url.items() for x in kv]
            )
            direct_urls = F.transform(
                F.filter("provenance",
                         lambda p: p["direct"] & p["base_url"].isNotNull()),
                lambda p: url_to_source[p["base_url"]],
            )
            parts.append(
                F.transform(
                    F.array_distinct(F.filter(direct_urls, lambda s: s.isNotNull())),
                    lambda s: F.concat(F.lit("source:"), s),
                )
            )
        if self.configurable_path is not None:
            cnf = load_configurable(self.configurable_path)
            top = cnf.get("spec")
            specs = [
                F.when(
                    F.col("aggregator_identifier").isin(node.get("identifiers", [])),
                    F.lit(f"{top}:{node['spec']}"),
                )
                for node in cnf.get("nodes", [])
            ]
            if specs:
                parts.append(F.filter(F.array(*specs), lambda s: s.isNotNull()))
        lang = F.transform(
            F.array_distinct(
                F.transform(F.coalesce(F.col("study_titles"), F.array()),
                            lambda t: t["language"])
            ),
            lambda g: F.concat(F.lit("language:"), g),
        )
        parts.append(lang)
        if metadata_prefix == "oai_datacite":
            parts.append(
                F.when(D.preferred_identifier().isNotNull(),
                       F.array(F.lit("openaire_data"))).otherwise(F.array())
            )
        out = parts[0]
        for p in parts[1:]:
            out = F.concat(out, p)
        return F.array_distinct(out)

    # --- verbs -------------------------------------------------------------

    def _point_relation(self, identifier: str) -> DataFrame:
        """The one-record relation behind GetRecord/the existence probe.
        VT-backed corpora prune at the MANIFEST (bloom + zone map → file
        list) before Spark ever lists the directory; otherwise the pushed
        EqualTo predicate prunes at the parquet row-group tier."""
        if self.vt_path is not None:
            from ..sources import versioned_table as VT

            df, total, read = VT.read_point(
                self.studies.sparkSession, self.vt_path,
                "aggregator_identifier", identifier, version=self.vt_version)
            self.last_point_files = (total, read)
            return df
        return self.studies.filter(
            F.col("aggregator_identifier") == identifier)

    def get_record(self, identifier: str, metadata_prefix: str) -> DataFrame:
        """GetRecord: point lookup + per-format projection (P1/P2,
        /root/reference/cdcagg_oai/metadataformats.py:477-478)."""
        fields = fields_for(metadata_prefix)
        return (
            self._point_relation(identifier)
            .withColumn("setSpec", self.set_spec_column(metadata_prefix))
            .withColumn("datestamp", P.record_datestamp())
            .withColumn("deleted", P.is_deleted())
            .select(*fields, "setSpec", "datestamp", "deleted")
        )

    def get_record_exists(self, identifier: str) -> bool:
        """Existence probe for ListMetadataFormats' identifier argument:
        pushed-down point predicate + limit(1) — the scan stops at the
        first matching row-group (or, VT-backed, at the bloom-surviving
        file subset)."""
        return bool(
            self._point_relation(identifier)
            .select("aggregator_identifier").limit(1).take(1)
        )

    def _list_relation(self, vt_version: int | None) -> DataFrame:
        """The corpus relation a list walk reads. VT-backed corpora
        time-travel to the version pinned in the resumption token (the
        'VERSION AS OF' idiom, SURVEY §2.5 O2): concurrent merges publish
        NEW manifest versions and never mutate the pinned one's files, so
        page N+1 provably reads the same snapshot page 1 did — stronger
        than the timestamp bound alone, under which an updated record
        silently drifts out of the open list."""
        if self.vt_path is not None and vt_version is not None:
            from ..sources import versioned_table as VT

            return VT.read(self.studies.sparkSession, self.vt_path,
                           version=vt_version)
        return self.studies

    def _list_base(self, metadata_prefix: str, set_spec: str | None,
                   from_ts: str | None, until_ts: str | None,
                   snapshot_ts: str, vt_version: int | None = None) -> DataFrame:
        cond = (
            P.snapshot_bound(snapshot_ts)
            & self.set_filter(set_spec)
            & self.validity_filter(metadata_prefix)
            & P.datestamp_range(from_ts, until_ts)
        )
        return self._list_relation(vt_version).filter(cond)

    def list_page(self, metadata_prefix: str | None = None,
                  set_spec: str | None = None,
                  from_ts: str | None = None, until_ts: str | None = None,
                  request_ts: str | None = None, token: str | None = None,
                  header_only: bool = False) -> Page:
        """ListRecords/ListIdentifiers page. First call counts the complete
        list once and fixes the snapshot; a resumed call carries ONLY the
        token (exclusive OAI argument) — all query state comes from it."""
        if token is not None:
            tok = ResumptionToken.decode(token)
            metadata_prefix, set_spec, from_ts, until_ts = (
                tok.metadata_prefix, tok.set_spec, tok.from_ts, tok.until_ts)
            snapshot_ts, cursor, total, last_key = (
                tok.snapshot_ts, tok.cursor, tok.complete_list_size, tok.last_key)
            vt_version = tok.vt_version
        else:
            if request_ts is None:
                raise ValueError("request_ts required for the first page")
            if metadata_prefix is None:
                raise ValueError("metadata_prefix required for the first page")
            snapshot_ts, cursor, total, last_key = request_ts, 0, -1, None
            # pin the VT snapshot at token birth (planner-birth version):
            # every subsequent page time-travels to it
            vt_version = self.vt_version if self.vt_path is not None else None
        qh = query_hash(metadata_prefix, set_spec, from_ts, until_ts)

        base = self._list_base(metadata_prefix, set_spec, from_ts, until_ts,
                               snapshot_ts, vt_version)
        if total < 0:
            total = base.count()
        page = base
        if last_key is not None:
            page = page.filter(F.col("aggregator_identifier") > last_key)
        size = self.page_size_for(metadata_prefix)
        fields = HEADER_FIELDS if header_only else fields_for(metadata_prefix)
        page = (
            page.orderBy("aggregator_identifier")
            .limit(size)
            .withColumn("setSpec", self.set_spec_column(metadata_prefix))
            .withColumn("datestamp", P.record_datestamp())
            .withColumn("deleted", P.is_deleted())
            .select(*fields, "setSpec", "datestamp", "deleted")
        )
        next_cursor = min(cursor + size, total)
        more = next_cursor < total
        next_token = ResumptionToken(
            query_hash=qh, cursor=next_cursor, complete_list_size=total,
            snapshot_ts=snapshot_ts, metadata_prefix=metadata_prefix,
            set_spec=set_spec, from_ts=from_ts, until_ts=until_ts,
            last_key="\x00",  # placeholder; facade fills the real last key
            # from the collected page rows
            vt_version=vt_version,
        ) if more else None
        return Page(df=page, token=next_token, complete_list_size=total, cursor=cursor)

    def list_sets(self) -> list[tuple[str, str, str | None]]:
        """ListSets: static specs + corpus-driven language/source children
        (A3/A5 distincts; /root/reference/tests/test_serve.py:1199-1216).
        One Spark job computes both distincts."""
        agg = self.studies.agg(
            F.array_distinct(
                F.flatten(F.collect_list(F.transform(
                    F.coalesce(F.col("study_titles"), F.array()),
                    lambda t: t["language"])))
            ).alias("langs"),
            F.array_distinct(
                F.flatten(F.collect_list(F.transform(
                    F.filter("provenance",
                             lambda p: p["direct"] & p["base_url"].isNotNull()),
                    lambda p: p["base_url"])))
            ).alias("urls"),
        ).first()
        sets: list[tuple[str, str, str | None]] = [
            ("language", "Language", None),
            ("source", "Source archive", None),
            ("openaire_data", "OpenAIRE", None),
        ]
        sets += [(f"language:{g}", f"Language {g}", None) for g in sorted(agg["langs"])]
        for url in sorted(agg["urls"]):
            d = next((d for d in self.source_defs if d["url"] == url), None)
            if d is not None:
                sets.append((f"source:{d['source']}", d["setname"], d.get("description")))
        if self.configurable_path is not None:
            cnf = load_configurable(self.configurable_path)
            sets.append((cnf["spec"], cnf.get("name"), cnf.get("description")))
            sets += [
                (f"{cnf['spec']}:{n['spec']}", n.get("name"), n.get("description"))
                for n in cnf.get("nodes", [])
            ]
        return sets
