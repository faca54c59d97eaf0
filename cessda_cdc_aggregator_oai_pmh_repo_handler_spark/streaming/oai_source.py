"""OAI-PMH polling harvest source — the live-ingestion loop (SURVEY §2.8).

The reference ecosystem's harvesters poll upstream OAI-PMH endpoints and
push documents into the DocStore; this module is that loop on the Spark
side: poll an HTTP endpoint's ListRecords, follow resumption tokens to
exhaustion (the OAI 2.0 exclusive-token contract: a follow-up request
carries ONLY verb + resumptionToken), parse each page with
``harvester.parse_list_records``, and land the events as parquet batches in
the directory ``ingest.start_ingest_versioned``'s file stream reads. The
poller is a tiny driver-side loop — pages are bounded by the endpoint's list
size — and everything heavy (watermark dedup, upsert/tombstone merge) happens in the
stream behind it.

Scale shape: one poller per source endpoint, each writing page-sized
parquet files into a shared landing directory; the single ingest stream
(maxFilesPerTrigger-bounded) absorbs any number of pollers. Failure
containment: a protocol error aborts the current sweep but the landed pages
stand — the merge is idempotent per (identifier, harvest_ts), so re-polling
is always safe.
"""

from __future__ import annotations

import datetime
import urllib.parse
import urllib.request
import uuid
import xml.etree.ElementTree as ET
from collections.abc import Callable, Iterator

from pyspark.sql import SparkSession

from .harvester import events_df, parse_list_records

OAI = "{http://www.openarchives.org/OAI/2.0/}"


class OAIProtocolError(RuntimeError):
    """An OAI error element other than the benign noRecordsMatch."""

    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code


class OAIPMHPoller:
    """Polls one OAI-PMH endpoint; ``fetch`` is injectable for tests."""

    def __init__(self, base_url: str, metadata_prefix: str = "oai_dc",
                 timeout: float = 30.0,
                 fetch: Callable[[str], str] | None = None,
                 user_agent: str = "cdcagg-spark-harvester",
                 max_pages: int = 100_000):
        self.base_url = base_url
        self.metadata_prefix = metadata_prefix
        self.timeout = timeout
        self.user_agent = user_agent
        self.max_pages = max_pages
        self._fetch = fetch or self._http_fetch

    def _http_fetch(self, url: str) -> str:
        req = urllib.request.Request(url, headers={"User-Agent": self.user_agent})
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return resp.read().decode("utf-8")

    def _url(self, params: dict[str, str]) -> str:
        return f"{self.base_url}?{urllib.parse.urlencode(params)}"

    def pages(self, from_: str | None = None, until: str | None = None,
              set_spec: str | None = None) -> Iterator[str]:
        """Yield raw ListRecords response pages, following resumption
        tokens until the endpoint closes the list (empty/absent token,
        /root/reference/CHANGELOG.md:108-110). noRecordsMatch yields
        nothing; other protocol errors raise."""
        params = {"verb": "ListRecords", "metadataPrefix": self.metadata_prefix}
        if from_:
            params["from"] = from_
        if until:
            params["until"] = until
        if set_spec:
            params["set"] = set_spec
        seen_tokens: set[str] = set()
        pages = 0
        while True:
            xml_str = self._fetch(self._url(params))
            root = ET.fromstring(xml_str)
            err = root.find(f"{OAI}error")
            if err is not None:
                if err.get("code") == "noRecordsMatch":
                    return
                raise OAIProtocolError(err.get("code", "unknown"), err.text or "")
            yield xml_str
            pages += 1
            tok = root.find(f"{OAI}ListRecords/{OAI}resumptionToken")
            # a cleanly-closed list (absent/empty token) ends the sweep even
            # on the limit boundary — only a list that WANTS to continue
            # past max_pages is a protocol violation
            if tok is None or not (tok.text or "").strip():
                return
            if pages >= self.max_pages:
                raise OAIProtocolError(
                    "pageLimit",
                    f"endpoint exceeded {self.max_pages} pages in one sweep")
            token = tok.text.strip()
            # progress guard: a buggy/malicious endpoint re-issuing a token
            # (or cycling A→B→A) must not hang the driver's polling loop
            if token in seen_tokens:
                raise OAIProtocolError(
                    "tokenLoop", f"resumption token repeated: {token!r}")
            seen_tokens.add(token)
            # exclusive-token contract: next request carries ONLY the token
            params = {"verb": "ListRecords", "resumptionToken": token}

    def harvest_events(self, harvest_ts: datetime.datetime,
                       **page_args) -> list[dict]:
        """Full sweep → harvest-event dicts (driver-side, page-bounded)."""
        events: list[dict] = []
        for xml_str in self.pages(**page_args):
            events.extend(parse_list_records(xml_str, self.base_url, harvest_ts))
        return events

    def poll_once(self, spark: SparkSession, events_dir: str,
                  harvest_ts: datetime.datetime | None = None,
                  **page_args) -> int:
        """One polling sweep: each response page lands as one parquet batch
        in ``events_dir`` (the ingest stream's source). Page-at-a-time
        writes keep the landing latency one page, not one sweep, and give
        the file source its natural microbatch granularity. Returns the
        number of events landed."""
        harvest_ts = harvest_ts or datetime.datetime.now(datetime.timezone.utc) \
            .replace(tzinfo=None)
        n = 0
        for xml_str in self.pages(**page_args):
            events = parse_list_records(xml_str, self.base_url, harvest_ts)
            if not events:
                continue
            (events_df(spark, events).coalesce(1)
             .write.mode("append").parquet(events_dir))
            n += len(events)
        return n


def harvest_endpoint_to_corpus(spark: SparkSession, base_url: str,
                               work_dir: str, *, metadata_prefix: str = "oai_dc",
                               harvest_ts: datetime.datetime | None = None,
                               poller: OAIPMHPoller | None = None) -> str:
    """Convenience end-to-end: poll ``base_url`` to exhaustion, stream the
    landed events through the watermarked ingest merge, return the corpus
    path (a versioned table). ``work_dir`` holds the
    landing/checkpoint/corpus directories."""
    from ..sources import versioned_table as VT
    from ..sources.studies import studies_schema
    from .ingest import start_ingest_versioned

    run = uuid.uuid4().hex[:8]
    events_dir = f"{work_dir}/events-{run}"
    corpus = f"{work_dir}/corpus-{run}"
    checkpoint = f"{work_dir}/ckpt-{run}"
    p = poller or OAIPMHPoller(base_url, metadata_prefix=metadata_prefix)
    landed = p.poll_once(spark, events_dir, harvest_ts=harvest_ts)
    if landed:
        q = start_ingest_versioned(spark, events_dir, corpus, checkpoint)
        q.awaitTermination()
    else:
        # a sweep matching nothing must still yield a readable (empty)
        # corpus, not a dangling path
        VT.create(spark.createDataFrame([], studies_schema()), corpus)
    return corpus
