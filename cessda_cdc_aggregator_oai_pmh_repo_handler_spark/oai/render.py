"""OAI-PMH XML rendering (SURVEY §2.1 S4) — row → XML, driver-side.

Genshi-template equivalents of /root/reference/cdcagg_oai/templates/*.xml
built with ElementTree over collected page rows (pages are bounded by
``page_size``, so driver materialization is O(page), never O(corpus)).
Rendering is a pure function of one Row + request context — at bulk-export
scale the same functions run inside ``mapInPandas`` to emit XML as a column.

Field accessors read the plain structs the planner projected; the
reference's ``get_value()/get_language()`` accessor pattern collapses to
dict access because rows arrive already shaped.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from datetime import datetime, timezone

OAI_NS = "http://www.openarchives.org/OAI/2.0/"
DC_NS = "http://purl.org/dc/elements/1.1/"
OAI_DC_NS = "http://www.openarchives.org/OAI/2.0/oai_dc/"
DATACITE_NS = "http://datacite.org/schema/kernel-3"
PROVENANCE_NS = "http://www.openarchives.org/OAI/2.0/provenance"
DDI_NS = "ddi:codebook:2_5"
XML_LANG = "{http://www.w3.org/XML/1998/namespace}lang"


def _fmt_ts(value) -> str:
    """OAI UTC second-precision datestamp (F8)."""
    if value is None:
        return ""
    if isinstance(value, str):
        # Engine-format strings ('YYYY-MM-DD HH:MM:SS', the Spark snapshot
        # literal) must still render as OAI UTCdatetime — strict harvesters
        # reject a space-separated responseDate (OAI 2.0 §3.3).
        try:
            return (datetime.strptime(value, "%Y-%m-%d %H:%M:%S")
                    .strftime("%Y-%m-%dT%H:%M:%SZ"))
        except ValueError:
            return value
    if isinstance(value, datetime):
        if value.tzinfo is not None:
            value = value.astimezone(timezone.utc).replace(tzinfo=None)
        return value.strftime("%Y-%m-%dT%H:%M:%SZ")
    return str(value)


def _sub(parent, tag, text=None, **attrs):
    el = ET.SubElement(parent, tag, {k: v for k, v in attrs.items() if v is not None})
    if text is not None:
        el.text = str(text)
    return el


def _vl_items(row, field):
    return [x for x in (row[field] or []) if x is not None]


# --- envelope ---------------------------------------------------------------

def envelope(verb: str | None, request_url: str, request_ts, args: dict | None = None,
             error: tuple[str, str] | None = None) -> tuple[ET.Element, ET.Element | None]:
    """OAI-PMH root with responseDate + request; on error no verb element
    (missing verb ⇒ error element, HTTP 200,
    /root/reference/tests/test_serve.py:204-206)."""
    root = ET.Element(f"{{{OAI_NS}}}OAI-PMH")
    _sub(root, f"{{{OAI_NS}}}responseDate", _fmt_ts(request_ts))
    req_attrs = {k: v for k, v in (args or {}).items() if v is not None}
    if verb is not None and error is None:
        req_attrs["verb"] = verb
    _sub(root, f"{{{OAI_NS}}}request", request_url, **req_attrs)
    if error is not None:
        code, message = error
        _sub(root, f"{{{OAI_NS}}}error", message, code=code)
        return root, None
    body = _sub(root, f"{{{OAI_NS}}}{verb}")
    return root, body


def render_header(parent, row) -> None:
    """Record header; deleted records get status='deleted' and their
    deletion time as datestamp (F9,
    /root/reference/tests/test_serve.py:274-306)."""
    attrs = {"status": "deleted"} if row["deleted"] else {}
    header = ET.SubElement(parent, f"{{{OAI_NS}}}header", attrs)
    _sub(header, f"{{{OAI_NS}}}identifier", row["aggregator_identifier"])
    _sub(header, f"{{{OAI_NS}}}datestamp", _fmt_ts(row["datestamp"]))
    for spec in sorted(row["setSpec"] or []):
        _sub(header, f"{{{OAI_NS}}}setSpec", spec)


# --- metadata payloads --------------------------------------------------------

def render_oai_dc(parent, row) -> None:
    """agg_oai_dc.xml equivalent
    (/root/reference/cdcagg_oai/templates/agg_oai_dc.xml)."""
    dc = ET.SubElement(parent, f"{{{OAI_DC_NS}}}dc")
    seen = set()
    for i in _vl_items(row, "identifiers"):
        if i["value"] not in seen:
            seen.add(i["value"])
            _sub(dc, f"{{{DC_NS}}}identifier", i["value"])
    seen_uri = set()
    for field in ("document_uris", "study_uris"):
        for u in _vl_items(row, field):
            if u["value"] not in seen_uri:
                seen_uri.add(u["value"])
                _sub(dc, f"{{{DC_NS}}}identifier", u["value"])
    for t in _vl_items(row, "study_titles"):
        _sub(dc, f"{{{DC_NS}}}title", t["value"], **{XML_LANG: t["language"]})
    for pi in _vl_items(row, "principal_investigators"):
        _sub(dc, f"{{{DC_NS}}}creator", pi["value"], **{XML_LANG: pi["language"]})
    for p in _vl_items(row, "publishers"):
        _sub(dc, f"{{{DC_NS}}}publisher", p["value"], **{XML_LANG: p["language"]})
    for a in _vl_items(row, "abstracts"):
        _sub(dc, f"{{{DC_NS}}}description", a["value"], **{XML_LANG: a["language"]})
    for k in _vl_items(row, "keywords"):
        display = k["description"] if k["description"] else k["value"]
        _sub(dc, f"{{{DC_NS}}}subject", display, **{XML_LANG: k["language"]})
    for lang in dict.fromkeys(t["language"] for t in _vl_items(row, "study_titles")):
        _sub(dc, f"{{{DC_NS}}}language", lang)
    for y in _vl_items(row, "publication_years"):
        date = y["value"] if y["value"] else y["distribution_date"]
        _sub(dc, f"{{{DC_NS}}}date", date, **{XML_LANG: y["language"]})
    _sub(dc, f"{{{DC_NS}}}type", "Dataset", **{XML_LANG: "en"})
    for c in _vl_items(row, "data_collection_copyrights"):
        _sub(dc, f"{{{DC_NS}}}rights", c["value"], **{XML_LANG: c["language"]})
    for c in _vl_items(row, "study_area_countries"):
        _sub(dc, f"{{{DC_NS}}}coverage", c["value"], **{XML_LANG: c["language"]})


def render_oai_datacite(parent, row, derived) -> None:
    """agg_oai_datacite.xml equivalent; ``derived`` carries the F1/F2/F3/F6
    results the planner computed as columns
    (/root/reference/cdcagg_oai/metadataformats.py:720-748)."""
    res = ET.SubElement(parent, f"{{{DATACITE_NS}}}resource")
    pref = derived["preferred_identifier"]
    _sub(res, f"{{{DATACITE_NS}}}identifier", pref["value"], identifierType=pref["type"])
    creators = _sub(res, f"{{{DATACITE_NS}}}creators")
    for pi in _vl_items(row, "principal_investigators"):
        c = _sub(creators, f"{{{DATACITE_NS}}}creator")
        _sub(c, f"{{{DATACITE_NS}}}creatorName", pi["value"])
        if pi["organization"] is not None:
            _sub(c, f"{{{DATACITE_NS}}}affiliation", pi["organization"],
                 **{XML_LANG: pi["language"]})
    titles = _sub(res, f"{{{DATACITE_NS}}}titles")
    for t in _vl_items(row, "study_titles"):
        _sub(titles, f"{{{DATACITE_NS}}}title", t["value"], **{XML_LANG: t["language"]})
    if derived["publisher"] is not None:
        _sub(res, f"{{{DATACITE_NS}}}publisher", derived["publisher"])
    if derived["publication_year"] is not None:
        _sub(res, f"{{{DATACITE_NS}}}publicationYear", derived["publication_year"])
    subjects = _sub(res, f"{{{DATACITE_NS}}}subjects")
    for field in ("keywords", "classifications"):
        for s in _vl_items(row, field):
            _sub(subjects, f"{{{DATACITE_NS}}}subject", s["description"],
                 subjectScheme=s["system_name"], schemeURI=s["uri"],
                 **{XML_LANG: s["language"]})
    funders = derived["funders"] or []
    if funders:
        contribs = _sub(res, f"{{{DATACITE_NS}}}contributors")
        for f_ in funders:
            c = _sub(contribs, f"{{{DATACITE_NS}}}contributor", contributorType="Funder")
            _sub(c, f"{{{DATACITE_NS}}}contributorName", f_["agency"])
            _sub(c, f"{{{DATACITE_NS}}}nameIdentifier", f_["nameid"],
                 nameIdentifierScheme="info")
    dates = _sub(res, f"{{{DATACITE_NS}}}dates")
    for y in _vl_items(row, "publication_years"):
        if y["distribution_date"]:
            _sub(dates, f"{{{DATACITE_NS}}}date", y["distribution_date"], dateType="Issued")
    _sub(res, f"{{{DATACITE_NS}}}resourceType", "Dataset", resourceTypeGeneral="Dataset")
    relids = _sub(res, f"{{{DATACITE_NS}}}relatedIdentifiers")
    for r in derived["related_identifiers"] or []:
        _sub(relids, f"{{{DATACITE_NS}}}relatedIdentifier", r["identifier"],
             relationType="IsCitedBy", relatedIdentifierType=r["agency"])
    rights = _sub(res, f"{{{DATACITE_NS}}}rightsList")
    for a in _vl_items(row, "data_access"):
        _sub(rights, f"{{{DATACITE_NS}}}rights", a["value"])
    descs = _sub(res, f"{{{DATACITE_NS}}}descriptions")
    for a in _vl_items(row, "abstracts"):
        _sub(descs, f"{{{DATACITE_NS}}}description", a["value"],
             descriptionType="Abstract", **{XML_LANG: a["language"]})
    geos = _sub(res, f"{{{DATACITE_NS}}}geoLocations")
    for g in _vl_items(row, "geographic_coverages"):
        geo = _sub(geos, f"{{{DATACITE_NS}}}geoLocation")
        _sub(geo, f"{{{DATACITE_NS}}}geoLocationPlace", g["value"],
             **{XML_LANG: g["language"]})


def render_oai_ddi25(parent, row) -> None:
    """DDI 2.5 codeBook over the full 37-field oai_ddi25 projection
    (/root/reference/tests/test_serve.py:1384-1424). The template itself
    lives in the unvendored kuha library, so two classes of placement:

    - REFERENCE-PINNED shapes (element path + attributes asserted by the
      reference's own tests): holdings@URI+xml:lang (:359-380), docDscr
      document titles (:382-404), dataKind (:405-427), useStmt/conditions
      @elementVersion (:428-453), distDate text=description@date (:454-479),
      resInstru text=description + concept@vocab/vocabURI child (:480-512),
      collDate text=description@date@event (:513-539).
    - DDI 2.5 CANONICAL placements for fields whose template section the
      reference never asserts: prodStmt copyright/fundAg/grantNo/prodDate,
      docDscr prodStmt (copyrights, publication_dates), sumDscr anlyUnit,
      useStmt citReq/deposReq, setAvail avlStatus, fileDscr fileName —
      element order follows the DDI 2.5 codebook sequence
      (docDscr, stdyDscr, fileDscr / titlStmt..holdings / setAvail,useStmt).
    """
    cb = ET.SubElement(parent, f"{{{DDI_NS}}}codeBook")
    # --- docDscr: the metadata-document description -------------------------
    doc_titles = _vl_items(row, "document_titles")
    doc_copy = _vl_items(row, "copyrights")
    doc_dates = _vl_items(row, "publication_dates")
    if doc_titles or doc_copy or doc_dates:
        doc = _sub(cb, f"{{{DDI_NS}}}docDscr")
        doc_cit = _sub(doc, f"{{{DDI_NS}}}citation")
        if doc_titles:
            doc_titl_stmt = _sub(doc_cit, f"{{{DDI_NS}}}titlStmt")
            for t in doc_titles:
                _sub(doc_titl_stmt, f"{{{DDI_NS}}}titl", t["value"],
                     **{XML_LANG: t["language"]})
        if doc_copy or doc_dates:
            doc_prod = _sub(doc_cit, f"{{{DDI_NS}}}prodStmt")
            for d in doc_dates:
                _sub(doc_prod, f"{{{DDI_NS}}}prodDate", d["description"],
                     date=d["value"], **{XML_LANG: d["language"]})
            for c in doc_copy:
                _sub(doc_prod, f"{{{DDI_NS}}}copyright", c["value"],
                     **{XML_LANG: c["language"]})
    # --- stdyDscr -----------------------------------------------------------
    stdy = _sub(cb, f"{{{DDI_NS}}}stdyDscr")
    cit = _sub(stdy, f"{{{DDI_NS}}}citation")
    titl_stmt = _sub(cit, f"{{{DDI_NS}}}titlStmt")
    for t in _vl_items(row, "study_titles"):
        _sub(titl_stmt, f"{{{DDI_NS}}}titl", t["value"], **{XML_LANG: t["language"]})
    for t in _vl_items(row, "parallel_study_titles"):
        _sub(titl_stmt, f"{{{DDI_NS}}}parTitl", t["value"], **{XML_LANG: t["language"]})
    _sub(titl_stmt, f"{{{DDI_NS}}}IDNo", row["study_number"])
    for i in _vl_items(row, "identifiers"):
        _sub(titl_stmt, f"{{{DDI_NS}}}IDNo", i["value"], agency=i["agency"])
    rsp = _sub(cit, f"{{{DDI_NS}}}rspStmt")
    for pi in _vl_items(row, "principal_investigators"):
        _sub(rsp, f"{{{DDI_NS}}}AuthEnty", pi["value"], affiliation=pi["organization"],
             **{XML_LANG: pi["language"]})
    prod = _sub(cit, f"{{{DDI_NS}}}prodStmt")
    for p in _vl_items(row, "publishers"):
        _sub(prod, f"{{{DDI_NS}}}producer", p["value"], **{XML_LANG: p["language"]})
    for c in _vl_items(row, "data_collection_copyrights"):
        # study-level copyright: the reference's dc template renders this
        # field as the record's dc:rights (agg_oai_dc.xml:42-44)
        _sub(prod, f"{{{DDI_NS}}}copyright", c["value"], **{XML_LANG: c["language"]})
    for y in _vl_items(row, "publication_years"):
        _sub(prod, f"{{{DDI_NS}}}prodDate", y["value"],
             date=y["distribution_date"], **{XML_LANG: y["language"]})
    for fa in _vl_items(row, "funding_agencies"):
        # grant & funding added to oai_ddi25 in reference 0.3.0
        # (/root/reference/CHANGELOG.md:183-185); DDI 2.5 prodStmt carries
        # fundAg + grantNo
        _sub(prod, f"{{{DDI_NS}}}fundAg", fa["value"], **{XML_LANG: fa["language"]})
    for g in _vl_items(row, "grant_numbers"):
        _sub(prod, f"{{{DDI_NS}}}grantNo", g["value"], agency=g["agency"],
             **{XML_LANG: g["language"]})
    dist_stmt = _sub(cit, f"{{{DDI_NS}}}distStmt")
    for d in _vl_items(row, "distributors"):
        _sub(dist_stmt, f"{{{DDI_NS}}}distrbtr", d["value"], **{XML_LANG: d["language"]})
    for d in _vl_items(row, "distribution_dates"):
        _sub(dist_stmt, f"{{{DDI_NS}}}distDate", d["description"], date=d["value"],
             **{XML_LANG: d["language"]})
    for u in _vl_items(row, "study_uris"):
        # xml:lang pinned at /root/reference/tests/test_serve.py:359-380
        _sub(cit, f"{{{DDI_NS}}}holdings", "", URI=u["value"],
             **{XML_LANG: u["language"]})
    info = _sub(stdy, f"{{{DDI_NS}}}stdyInfo")
    subj = _sub(info, f"{{{DDI_NS}}}subject")
    for k in _vl_items(row, "keywords"):
        _sub(subj, f"{{{DDI_NS}}}keyword", k["value"], vocab=k["system_name"],
             vocabURI=k["uri"], **{XML_LANG: k["language"]})
    for c in _vl_items(row, "classifications"):
        _sub(subj, f"{{{DDI_NS}}}topcClas", c["value"], vocab=c["system_name"],
             vocabURI=c["uri"], **{XML_LANG: c["language"]})
    for a in _vl_items(row, "abstracts"):
        _sub(info, f"{{{DDI_NS}}}abstract", a["value"], **{XML_LANG: a["language"]})
    sumdsc = _sub(info, f"{{{DDI_NS}}}sumDscr")
    for c in _vl_items(row, "collection_periods"):
        # text=description, date/event attrs pinned at
        # /root/reference/tests/test_serve.py:513-539
        _sub(sumdsc, f"{{{DDI_NS}}}collDate", c["description"] or "",
             date=c["value"], event=c["event"], **{XML_LANG: c["language"]})
    for g in _vl_items(row, "geographic_coverages"):
        _sub(sumdsc, f"{{{DDI_NS}}}nation", g["value"], **{XML_LANG: g["language"]})
    for c in _vl_items(row, "study_area_countries"):
        _sub(sumdsc, f"{{{DDI_NS}}}geogCover", c["value"], **{XML_LANG: c["language"]})
    for u in _vl_items(row, "analysis_units"):
        _sub(sumdsc, f"{{{DDI_NS}}}anlyUnit", u["value"], **{XML_LANG: u["language"]})
    for u in _vl_items(row, "universes"):
        _sub(sumdsc, f"{{{DDI_NS}}}universe", u["value"], **{XML_LANG: u["language"]})
    for d in _vl_items(row, "data_kinds"):
        _sub(sumdsc, f"{{{DDI_NS}}}dataKind", d["value"], **{XML_LANG: d["language"]})
    meth = _sub(stdy, f"{{{DDI_NS}}}method")
    dcoll = _sub(meth, f"{{{DDI_NS}}}dataColl")
    for t in _vl_items(row, "time_methods"):
        _sub(dcoll, f"{{{DDI_NS}}}timeMeth", t["value"], **{XML_LANG: t["language"]})
    for s in _vl_items(row, "sampling_procedures"):
        _sub(dcoll, f"{{{DDI_NS}}}sampProc", s["value"], **{XML_LANG: s["language"]})
    for m in _vl_items(row, "collection_modes"):
        _sub(dcoll, f"{{{DDI_NS}}}collMode", m["value"], **{XML_LANG: m["language"]})
    for i in _vl_items(row, "research_instruments"):
        # resInstru text = description; concept child carries value +
        # vocab/vocabURI (/root/reference/tests/test_serve.py:480-512)
        ri = _sub(dcoll, f"{{{DDI_NS}}}resInstru", i["description"],
                  **{XML_LANG: i["language"]})
        _sub(ri, f"{{{DDI_NS}}}concept", i["value"], vocab=i["system_name"],
             vocabURI=i["uri"])
    for i in _vl_items(row, "instruments"):
        # plain instrument name, no CV concept — distinct field from
        # research_instruments in the projection inventory
        _sub(dcoll, f"{{{DDI_NS}}}resInstru", i["value"], **{XML_LANG: i["language"]})
    acc = _sub(stdy, f"{{{DDI_NS}}}dataAccs")
    avail = _vl_items(row, "data_access")
    if avail:
        set_avail = _sub(acc, f"{{{DDI_NS}}}setAvail")
        for a in avail:
            _sub(set_avail, f"{{{DDI_NS}}}avlStatus", a["value"],
                 **{XML_LANG: a["language"]})
    use = _sub(acc, f"{{{DDI_NS}}}useStmt")
    for c in _vl_items(row, "citation_requirements"):
        _sub(use, f"{{{DDI_NS}}}citReq", c["value"], **{XML_LANG: c["language"]})
    for d in _vl_items(row, "deposit_requirements"):
        _sub(use, f"{{{DDI_NS}}}deposReq", d["value"], **{XML_LANG: d["language"]})
    for c in _vl_items(row, "data_access_descriptions"):
        # elementVersion attr pinned at
        # /root/reference/tests/test_serve.py:428-453
        _sub(use, f"{{{DDI_NS}}}conditions", c["value"],
             elementVersion=c["element_version"], **{XML_LANG: c["language"]})
    othr = _sub(stdy, f"{{{DDI_NS}}}othrStdyMat")
    for r in _vl_items(row, "related_publications"):
        _sub(othr, f"{{{DDI_NS}}}relPubl", r["value"], **{XML_LANG: r["language"]})
    for u in _vl_items(row, "document_uris"):
        _sub(othr, f"{{{DDI_NS}}}relMat", u["value"], **{XML_LANG: u["language"]})
    # --- fileDscr -----------------------------------------------------------
    fnames = _vl_items(row, "file_names")
    if fnames:
        fdscr = _sub(cb, f"{{{DDI_NS}}}fileDscr")
        ftxt = _sub(fdscr, f"{{{DDI_NS}}}fileTxt")
        for fn in fnames:
            _sub(ftxt, f"{{{DDI_NS}}}fileName", fn["value"],
                 **{XML_LANG: fn["language"]})


def render_provenance(parent, row) -> None:
    """Recursively nested originDescription chain (F10,
    /root/reference/cdcagg_oai/templates/provenance.xml:8-23); element 0 is
    the outermost (most recent direct) hop."""
    hops = row["provenance"] or []
    if not hops:
        return
    prov = ET.SubElement(parent, f"{{{PROVENANCE_NS}}}provenance")
    target = prov
    for hop in hops:
        od = _sub(target, f"{{{PROVENANCE_NS}}}originDescription",
                  harvestDate=hop["harvest_date"],
                  altered="true" if hop["altered"] is True else "false")
        _sub(od, f"{{{PROVENANCE_NS}}}baseURL", hop["base_url"])
        _sub(od, f"{{{PROVENANCE_NS}}}identifier", hop["identifier"])
        _sub(od, f"{{{PROVENANCE_NS}}}datestamp", hop["datestamp"])
        _sub(od, f"{{{PROVENANCE_NS}}}metadataNamespace", hop["metadata_namespace"])
        target = od


def render_record(parent, row, metadata_prefix: str, derived: dict | None = None) -> None:
    """One <record>: header + (unless deleted) metadata + provenance about
    (deleted records are header-only, F9)."""
    rec = ET.SubElement(parent, f"{{{OAI_NS}}}record")
    render_header(rec, row)
    if not row["deleted"]:
        md = _sub(rec, f"{{{OAI_NS}}}metadata")
        from . import formats as FMT  # lazy: formats registers render's functions

        FMT.get(metadata_prefix).renderer(md, row, derived or {})
        about = _sub(rec, f"{{{OAI_NS}}}about")
        render_provenance(about, row)


def render_resumption_token(parent, token: str | None, cursor: int,
                            complete_list_size: int, final_page: bool) -> None:
    """Empty-bodied token closes the list
    (/root/reference/CHANGELOG.md:108-110)."""
    if token is None and not final_page:
        return
    _sub(parent, f"{{{OAI_NS}}}resumptionToken", token or "",
         cursor=str(cursor), completeListSize=str(complete_list_size))


def to_string(root: ET.Element, stylesheet_url: str | None = None) -> str:
    """Serialize; optional xml-stylesheet processing instruction mirrors the
    reference's configurable stylesheet line
    (/root/reference/tests/test_serve.py:1503-1557)."""
    ET.register_namespace("oai", OAI_NS)
    ET.register_namespace("dc", DC_NS)
    ET.register_namespace("oai_dc", OAI_DC_NS)
    ET.register_namespace("datacite", DATACITE_NS)
    ET.register_namespace("ddi", DDI_NS)
    ET.register_namespace("provenance", PROVENANCE_NS)
    pi = (f"<?xml-stylesheet type='text/xsl' href='{stylesheet_url}' ?>"
          if stylesheet_url else "")
    return ('<?xml version="1.0" encoding="UTF-8"?>' + pi
            + ET.tostring(root, encoding="unicode"))
