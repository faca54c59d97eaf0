"""OAI-PMH verb facade over the Spark plan layer (SURVEY §3 lifecycle).

The reference's Tornado handler chain (route → kuha protocol parse →
controller dispatch → DocStore query → Genshi render,
/root/reference/cdcagg_oai/serve.py:82-117) collapses to: parse/validate
args → ``OAIQueryPlanner`` builds a DataFrame → collect the bounded page →
``render`` emits the XML. Protocol errors are OAI ``<error>`` elements in a
HTTP-200 body, exactly as the reference behaves
(/root/reference/tests/test_serve.py:204-206).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import derivations as D
from ..plans.query_builder import (
    OAIQueryPlanner, UnsupportedSetSpec, finalize_token,
)
from ..plans.tokens import BadResumptionToken
from . import formats as FMT
from . import render as R


class _OAIError(Exception):
    """An OAI-PMH protocol error; ``handle_request`` renders it as an
    ``<error>`` element and counts the request as failed."""

    def __init__(self, code: str, message: str, args: dict | None = None):
        super().__init__(code, message)
        self.code, self.message, self.request_args = code, message, args


class RequestMetrics:
    """Request-level counters/durations, mirroring the reference's
    log_request hook (/root/reference/cdcagg_oai/metrics.py:224-246):
    totals, per-user-agent counts, success/failure split, and durations
    (ms) labeled by (verb, metadataPrefix) — durations recorded only for
    successful non-error OAI responses. Each duration label keeps a
    running ``[sum_ms, count]``, so memory stays fixed under traffic."""

    def __init__(self):
        self.requests_total = 0
        self.requests_succeeded = 0
        self.requests_failed = 0
        self.requests_per_user_agent: dict[str, int] = {}
        self.requests_duration: dict[tuple[str, str | None], list] = {}

    def record(self, verb, metadata_prefix, user_agent, duration_ms, is_error):
        self.requests_total += 1
        ua = user_agent or "unknown"
        self.requests_per_user_agent[ua] = self.requests_per_user_agent.get(ua, 0) + 1
        # success/failure split per the reference: OAI-error responses count
        # as failures, durations only observed for successful responses
        # (/root/reference/cdcagg_oai/metrics.py:224-246).
        if is_error:
            self.requests_failed += 1
        else:
            self.requests_succeeded += 1
            acc = self.requests_duration.setdefault((verb, metadata_prefix),
                                                    [0.0, 0])
            acc[0] += duration_ms
            acc[1] += 1


class OAIFacade:
    def __init__(self, planner: OAIQueryPlanner,
                 repository_name: str = "CDC Aggregator OAI Repo Handler (Spark)",
                 base_url: str = "http://localhost:6003/v0/oai",
                 admin_email: str = "admin@example.invalid",
                 deleted_records: str = "persistent",
                 stylesheet_url: str | None = None):
        self.planner = planner
        self.repository_name = repository_name
        self.base_url = base_url
        self.admin_email = admin_email
        self.deleted_records = deleted_records
        self.stylesheet_url = stylesheet_url
        self.request_metrics = RequestMetrics()

    # --- helpers -----------------------------------------------------------

    @staticmethod
    def _now() -> str:
        return datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    def _with_datacite_derived(self, df: DataFrame) -> DataFrame:
        """Attach the F1/F2/F3/F6/P10 derivations the datacite template
        consumes (/root/reference/cdcagg_oai/metadataformats.py:720-748)."""
        return (
            df.withColumn("d_preferred_identifier", D.preferred_identifier())
            .withColumn("d_publication_year", D.publication_year())
            .withColumn("d_publisher", D.preferred_publisher())
            .withColumn("d_funders", D.funder_grants())
            .withColumn("d_related_identifiers", D.related_identifiers())
        )

    @staticmethod
    def _derived_dict(row) -> dict:
        pref = row["d_preferred_identifier"]
        return {
            "preferred_identifier": pref.asDict() if pref is not None else None,
            "publication_year": row["d_publication_year"],
            "publisher": row["d_publisher"],
            "funders": [f.asDict() for f in (row["d_funders"] or [])],
            "related_identifiers": [r.asDict() for r in (row["d_related_identifiers"] or [])],
        }

    # Legal request arguments per verb (OAI 2.0 §4); anything else is
    # badArgument, never a TypeError that kills the handler.
    _VERB_ARGS = {
        "Identify": frozenset(),
        "ListMetadataFormats": frozenset({"identifier"}),
        "ListSets": frozenset({"resumptionToken"}),
        "GetRecord": frozenset({"identifier", "metadataPrefix"}),
        "ListRecords": frozenset({"metadataPrefix", "set", "from", "until",
                                  "resumptionToken"}),
        "ListIdentifiers": frozenset({"metadataPrefix", "set", "from", "until",
                                      "resumptionToken"}),
    }

    @classmethod
    def _unknown_args(cls, verb, args: dict) -> set[str]:
        allowed = cls._VERB_ARGS.get(verb)
        if allowed is None:  # badVerb path handles it
            return set()
        return {k for k in args if k not in allowed}

    # --- entry point ---------------------------------------------------------

    def handle_request(self, verb: str | None = None, request_ts: str | None = None,
                       user_agent: str | None = None, **args) -> str:
        import time

        request_ts = request_ts or self._now()
        t0 = time.perf_counter()
        err = None
        try:
            unknown = self._unknown_args(verb, args)
            if unknown:
                # OAI 2.0 §3.6: any unrecognized argument is badArgument —
                # it must never crash the handler thread responseless.
                raise _OAIError("badArgument",
                                f"Illegal argument(s): {', '.join(sorted(unknown))}")
            elif verb == "Identify":
                out = self._identify(request_ts)
            elif verb == "ListMetadataFormats":
                out = self._list_metadata_formats(request_ts,
                                                  args.get("identifier"))
            elif verb == "ListSets":
                if args.get("resumptionToken") is not None:
                    # the set hierarchy always fits one response; any token is stale
                    raise _OAIError("badResumptionToken",
                                    "ListSets does not issue resumption tokens")
                else:
                    out = self._list_sets(request_ts)
            elif verb == "GetRecord":
                out = self._get_record(request_ts, **args)
            elif verb in ("ListRecords", "ListIdentifiers"):
                out = self._list(verb, request_ts, **args)
            else:
                raise _OAIError("badVerb", f"Illegal OAI verb: {verb}")
        except _OAIError as exc:
            err = exc
        except BadResumptionToken as exc:
            err = _OAIError("badResumptionToken", str(exc), args)
        except UnsupportedSetSpec as exc:
            err = _OAIError("badArgument", f"Unknown set spec: {exc}", args)
        if err is not None:
            root, _ = R.envelope(verb, self.base_url, request_ts, err.request_args,
                                 error=(err.code, err.message))
            out = R.to_string(root, self.stylesheet_url)
        self.request_metrics.record(
            verb, args.get("metadataPrefix"), user_agent,
            1000.0 * (time.perf_counter() - t0),
            is_error=err is not None,
        )
        return out

    # --- verbs ---------------------------------------------------------------

    def _earliest_datestamp(self) -> str:
        """Corpus min OAI datestamp (deleted-aware), one tiny agg; falls
        back to epoch on an empty corpus."""
        from ..functions import predicates as P

        row = self.planner.studies.agg(
            F.min(P.record_datestamp()).alias("m")).first()
        return R._fmt_ts(row["m"]) if row["m"] is not None else "1970-01-01T00:00:00Z"

    def _identify(self, request_ts: str) -> str:
        root, body = R.envelope("Identify", self.base_url, request_ts)
        import xml.etree.ElementTree as ET

        for tag, text in [
            ("repositoryName", self.repository_name),
            ("baseURL", self.base_url),
            ("protocolVersion", "2.0"),
            ("adminEmail", self.admin_email),
            ("earliestDatestamp", self._earliest_datestamp()),
            ("deletedRecord", self.deleted_records),
            ("granularity", "YYYY-MM-DDThh:mm:ssZ"),
        ]:
            el = ET.SubElement(body, f"{{{R.OAI_NS}}}{tag}")
            el.text = text
        return R.to_string(root, self.stylesheet_url)

    def _list_metadata_formats(self, request_ts: str,
                               identifier: str | None = None) -> str:
        """Every format applies to every record here (as in the reference),
        but OAI 2.0 §4.4 still requires idDoesNotExist for an unknown
        identifier — a point-lookup existence probe, pushed to the scan."""
        if identifier is not None:
            exists = self.planner.get_record_exists(identifier)
            if not exists:
                raise _OAIError("idDoesNotExist",
                                f"No record with identifier {identifier}",
                                {"identifier": identifier})
        root, body = R.envelope("ListMetadataFormats", self.base_url, request_ts,
                                {"identifier": identifier})
        import xml.etree.ElementTree as ET

        for prefix in FMT.prefixes():
            f = FMT.get(prefix)
            fmt = ET.SubElement(body, f"{{{R.OAI_NS}}}metadataFormat")
            for tag, text in [("metadataPrefix", prefix), ("schema", f.schema_url),
                              ("metadataNamespace", f.namespace)]:
                el = ET.SubElement(fmt, f"{{{R.OAI_NS}}}{tag}")
                el.text = text
        return R.to_string(root, self.stylesheet_url)

    def _list_sets(self, request_ts: str) -> str:
        root, body = R.envelope("ListSets", self.base_url, request_ts)
        import xml.etree.ElementTree as ET

        for spec, name, description in self.planner.list_sets():
            s = ET.SubElement(body, f"{{{R.OAI_NS}}}set")
            for tag, text in [("setSpec", spec), ("setName", name)]:
                el = ET.SubElement(s, f"{{{R.OAI_NS}}}{tag}")
                el.text = text
            if description is not None:
                el = ET.SubElement(s, f"{{{R.OAI_NS}}}setDescription")
                el.text = description
        return R.to_string(root, self.stylesheet_url)

    def _get_record(self, request_ts: str, identifier: str | None = None,
                    metadataPrefix: str | None = None) -> str:
        args = {"identifier": identifier, "metadataPrefix": metadataPrefix}
        missing = [k for k, v in args.items() if v is None]
        if missing:
            # OAI 2.0 §4.1: both arguments are REQUIRED; absence is
            # badArgument (cannotDisseminateFormat is for unsupported values)
            raise _OAIError("badArgument",
                            f"Missing required argument(s): {', '.join(missing)}",
                            args)
        if FMT.get(metadataPrefix) is None:
            raise _OAIError("cannotDisseminateFormat",
                            f"Unknown metadataPrefix: {metadataPrefix}", args)
        fmt = FMT.get(metadataPrefix)
        df = self.planner.get_record(identifier, metadataPrefix)
        if fmt.needs_derived:
            df = self._with_datacite_derived(df)
        rows = df.collect()
        if not rows:
            raise _OAIError("idDoesNotExist",
                            f"No record with identifier {identifier}", args)
        row = rows[0]
        derived = None
        if fmt.needs_derived:
            derived = self._derived_dict(row)
            if not row["deleted"] and derived["preferred_identifier"] is None:
                # F1: no OpenAIRE-type identifier ⇒ invalid for datacite
                # (/root/reference/cdcagg_oai/metadataformats.py:775-788)
                raise _OAIError("idDoesNotExist",
                                f"No record with identifier {identifier}", args)
        root, body = R.envelope("GetRecord", self.base_url, request_ts, args)
        R.render_record(body, row, metadataPrefix, derived)
        return R.to_string(root, self.stylesheet_url)

    @staticmethod
    def _parse_oai_date(value: str | None, end: bool = False) -> str | None:
        """OAI granularity: YYYY-MM-DD or YYYY-MM-DDThh:mm:ssZ
        → engine timestamp string; None on malformed input.

        A date-only bound used as ``until`` (``end=True``) expands to the end
        of that day — the inclusive upper bound a day-granularity harvester
        means; midnight would silently drop that whole day's updates against
        this seconds-granularity repository."""
        if value is None:
            return None
        for fmt in ("%Y-%m-%d", "%Y-%m-%dT%H:%M:%SZ"):
            try:
                dt = datetime.strptime(value, fmt)
            except ValueError:
                continue
            if end and fmt == "%Y-%m-%d":
                dt = dt.replace(hour=23, minute=59, second=59)
            return dt.strftime("%Y-%m-%d %H:%M:%S")
        return None

    def _list(self, verb: str, request_ts: str, metadataPrefix: str | None = None,
              set: str | None = None, resumptionToken: str | None = None,
              **kw) -> str:
        raw_from, raw_until = kw.get("from"), kw.get("until")
        if metadataPrefix is None and resumptionToken is None:
            # OAI 2.0 §4.3/4.5: metadataPrefix is REQUIRED unless resuming;
            # a missing required argument is badArgument, not
            # cannotDisseminateFormat (that code is for unsupported values)
            raise _OAIError("badArgument",
                            "metadataPrefix is required",
                            {"set": set, "from": raw_from, "until": raw_until})
        from_ts = self._parse_oai_date(raw_from)
        until_ts = self._parse_oai_date(raw_until, end=True)
        if (raw_from is not None and from_ts is None) or (
                raw_until is not None and until_ts is None):
            raise _OAIError("badArgument",
                            "from/until must be YYYY-MM-DD or YYYY-MM-DDThh:mm:ssZ",
                            {"metadataPrefix": metadataPrefix, "set": set,
                             "from": raw_from, "until": raw_until})
        if (raw_from is not None and raw_until is not None
                and len(raw_from) != len(raw_until)):
            # OAI 2.0 §3.3.1: from and until must share one granularity
            raise _OAIError("badArgument",
                            "from and until must use the same granularity",
                            {"metadataPrefix": metadataPrefix, "set": set,
                             "from": raw_from, "until": raw_until})
        if resumptionToken is not None:
            # resumptionToken is an EXCLUSIVE argument (OAI 2.0 §3.5); the
            # token itself carries prefix/set/from/until
            if any(v is not None for v in (metadataPrefix, set, raw_from, raw_until)):
                raise _OAIError("badArgument",
                                "resumptionToken is an exclusive argument",
                                {"resumptionToken": resumptionToken})
            from ..plans.tokens import ResumptionToken as _RT

            metadataPrefix = _RT.decode(resumptionToken).metadata_prefix
        args = {"metadataPrefix": metadataPrefix, "set": set,
                "from": raw_from, "until": raw_until,
                "resumptionToken": resumptionToken}
        if resumptionToken is None and FMT.get(metadataPrefix) is None:
            raise _OAIError("cannotDisseminateFormat",
                            f"Unknown metadataPrefix: {metadataPrefix}", args)
        header_only = verb == "ListIdentifiers"
        page = self.planner.list_page(
            metadataPrefix, set_spec=set, from_ts=from_ts, until_ts=until_ts,
            request_ts=request_ts, token=resumptionToken, header_only=header_only)
        fmt = FMT.get(metadataPrefix) if metadataPrefix else None
        needs_derived = fmt is not None and fmt.needs_derived
        df = page.df
        if needs_derived and not header_only:
            df = self._with_datacite_derived(df)
        rows = df.collect()
        if not rows and resumptionToken is None:
            raise _OAIError("noRecordsMatch",
                            "No records match the given criteria", args)
        root, body = R.envelope(verb, self.base_url, request_ts, args)
        for row in rows:
            if header_only:
                R.render_header(body, row)
            else:
                derived = self._derived_dict(row) if needs_derived else None
                R.render_record(body, row, metadataPrefix, derived)
        next_token = finalize_token(page, rows)
        R.render_resumption_token(
            body, next_token, cursor=page.cursor,
            complete_list_size=page.complete_list_size,
            final_page=resumptionToken is not None and next_token is None)
        return R.to_string(root, self.stylesheet_url)
