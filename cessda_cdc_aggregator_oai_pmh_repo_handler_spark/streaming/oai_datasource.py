"""`oaipmh` — a PySpark Python Data Source for OAI-PMH endpoints.

The BASELINE's "custom source" realized the Spark-native way: the
`pyspark.sql.datasource` API (Spark 4) wraps the polling loop of
``oai_source.OAIPMHPoller`` so an endpoint reads like any other table:

    spark.dataSource.register(OAIPMHDataSource)
    df = (spark.read.format("oaipmh")
          .option("url", "https://some.repo/v0/oai")
          .option("metadataPrefix", "oai_dc").load())          # one sweep
    st = (spark.readStream.format("oaipmh")
          .option("url", ...).load())                           # poll per batch

Rows come out in ``harvest_event_schema`` (studies schema + action +
harvest_ts), ready for ``ingest.merge_batch_versioned`` — batch and
streaming share the sweep code.

Execution placement: the batch ``read`` runs on an EXECUTOR (options are
plain strings, the poller is constructed worker-side), so a multi-endpoint
read — ``urls`` with a comma-separated list — fans one endpoint per input
partition across the cluster. Resumption-token pages within one endpoint
are inherently sequential (each token comes from the previous page), so
the endpoint is the parallelism unit, exactly like a kafka partition.

Streaming offsets: the offset carries (completed sweeps, max upstream
datestamp). Every sweep after the first polls with ``from = cursor`` —
incremental selective harvesting instead of full re-lists, resumed from
the checkpoint across restarts. An OAI endpoint is a living corpus, not a
replayable log — ``readBetweenOffsets`` re-polls the cursor window rather
than replaying history, and the downstream merge's (identifier,
harvest_ts) dedup + epoch markers make both the replay and the inclusive
`from` boundary repeat safe. This mirrors how the reference ecosystem's
harvesters treat endpoints: poll, upsert, repeat.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..sources.studies import STUDY_DDL


def _to_tuple(dtype: T.DataType, value):
    """Event-dict → row-tuple shaped exactly like ``dtype`` (the datasource
    API wants tuples, not dicts, for struct values)."""
    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        return tuple(_to_tuple(f.dataType, value.get(f.name)) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return [_to_tuple(dtype.elementType, v) for v in value]
    return value


def _event_rows(events: list[dict], schema: T.StructType) -> Iterator[tuple]:
    for ev in events:
        yield tuple(_to_tuple(f.dataType, ev.get(f.name)) for f in schema.fields)


def _parse_ts(raw: str | None) -> datetime.datetime:
    if raw:
        return datetime.datetime.fromisoformat(raw)
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


class _EndpointPartition(InputPartition):
    def __init__(self, url: str):
        self.url = url


def _sweep(options: dict, url: str) -> list[dict]:
    # worker-side import keeps the partition payload tiny
    from .oai_source import OAIPMHPoller

    poller = OAIPMHPoller(url, metadata_prefix=options.get("metadataprefix",
                                                           "oai_dc"))
    return poller.harvest_events(
        _parse_ts(options.get("harvestts")),
        from_=options.get("from"), until=options.get("until"),
        set_spec=options.get("set"),
    )


class _BatchReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType):
        # freeze harvestTs at reader construction (driver side): executor
        # tasks calling now() independently would stamp the same record
        # differently across partitions and task retries, breaking the
        # downstream (identifier, harvest_ts) dedup and determinism of
        # repeated actions on the same DataFrame
        self._options = dict(options)
        if not self._options.get("harvestts"):
            self._options["harvestts"] = _parse_ts(None).isoformat()
        self._schema = schema

    def _urls(self) -> list[str]:
        urls = self._options.get("urls") or self._options.get("url")
        if not urls:
            raise ValueError("oaipmh source requires option 'url' (or 'urls')")
        return [u.strip() for u in urls.split(",") if u.strip()]

    def partitions(self):
        return [_EndpointPartition(u) for u in self._urls()]

    def read(self, partition: _EndpointPartition):
        yield from _event_rows(_sweep(self._options, partition.url), self._schema)


def _max_datestamp(events: list[dict]) -> str | None:
    """Highest upstream datestamp in a sweep (the new direct hop carries
    it); ISO-8601 strings order lexicographically."""
    best = None
    for ev in events:
        hops = ev.get("provenance") or []
        ds = hops[0].get("datestamp") if hops else None
        if ds and (best is None or ds > best):
            best = ds
    return best


class _StreamReader(SimpleDataSourceStreamReader):
    """One sweep per microbatch, INCREMENTAL: the offset carries the
    highest upstream datestamp delivered so far, and each sweep polls with
    `from = cursor` (OAI from/until are inclusive, so the boundary record
    repeats — the ingest merge's dedup absorbs it; see also
    harvest_cursor.next_from_argument). Restart from a checkpoint resumes
    the cursor instead of re-listing the repository."""

    def __init__(self, options: dict, schema: T.StructType):
        self._options = options
        self._schema = schema
        url = options.get("url")
        if not url:
            raise ValueError("oaipmh source requires option 'url'")
        self._url = url

    def initialOffset(self) -> dict:
        # a configured lower bound seeds the cursor (e.g. resuming a
        # harvest relationship established out of band)
        return {"sweeps": 0, "from": self._options.get("from")}

    def _sweep_from(self, frm: str | None, ts: str | None) -> list[dict]:
        opts = dict(self._options)
        if frm:
            opts["from"] = frm
        elif "from" in opts:
            del opts["from"]
        if ts:
            opts["harvestts"] = ts
        return _sweep(opts, self._url)

    def read(self, start: dict):
        frm = start.get("from")
        # stamp the sweep once, driver-side, and RECORD the stamp in the
        # offset so an offset-range replay reproduces identical rows
        ts = self._options.get("harvestts") or _parse_ts(None).isoformat()
        events = self._sweep_from(frm, ts)
        new_from = _max_datestamp(events) or frm
        rows = list(_event_rows(events, self._schema))
        return iter(rows), {"sweeps": int(start.get("sweeps", 0)) + 1,
                            "from": new_from, "ts": ts}

    def readBetweenOffsets(self, start: dict, end: dict):
        # a living endpoint cannot replay history; re-poll the start
        # cursor's window with the ORIGINAL sweep's timestamp (recorded in
        # the end offset) so replayed rows stamp identically
        return iter(_event_rows(
            self._sweep_from(start.get("from"), end.get("ts")), self._schema))

    def commit(self, end: dict) -> None:
        pass


class OAIPMHDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "oaipmh"

    def schema(self) -> str:
        # a DDL STRING, not a StructType: schema() runs in a sessionless
        # Python worker where parsing DDL into types is unavailable
        fields = ", ".join(f"{name} {ddl}" for name, ddl in STUDY_DDL)
        return f"{fields}, action string, harvest_ts timestamp"

    def reader(self, schema: T.StructType) -> _BatchReader:
        return _BatchReader(self.options, schema)

    def simpleStreamReader(self, schema: T.StructType) -> _StreamReader:
        return _StreamReader(self.options, schema)
