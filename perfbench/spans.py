"""Span recorder for the traced benchmark run.

Spans are recorded from outside the package, around calls into each
layer's public functions, by replacing those attributes on their modules
and classes:

- ``oai.server``: the HTTP handler's ``do_GET`` (the request root; carries
  the client's ``X-Request-Id`` and sets it as the Spark job group);
- ``oai.facade``: ``OAIFacade.handle_request``;
- ``plans.query_builder``: ``list_page``, ``get_record``,
  ``get_record_exists``, ``list_sets``;
- ``spark.action``: ``DataFrame.collect`` and ``DataFrame.count``
  (``first``/``take``/``head`` go through ``collect``);
- ``oai.render``: ``render_record``, ``render_header``, ``to_string``;
- ``operators.metrics``: ``compute_metrics`` as the server calls it;
- ``streaming.ingest``: ``merge_batch_versioned``, and
  ``sources.versioned_table``: ``merge_keys`` inside it.

Only requests sent with ``X-Trace: 1`` are recorded (the client traces
every other request, so traced and plain requests share one mix); inner
wrappers record only inside a recorded request or a merge, and otherwise
call straight through.

A span is ``[name, start, end, parent index, request id, attrs]``. Spans
stay in memory; ``finish`` adds the Spark job and task bill of each
request's job group and the scan metrics of each collected plan, and
returns them all.
"""

from __future__ import annotations

import threading
import time
from urllib.parse import parse_qs, urlparse

LIST_VERBS = ("ListRecords", "ListIdentifiers")


def verb_label(path: str) -> str:
    """The request's verb as the per-layer metrics name it."""
    parsed = urlparse(path)
    if parsed.path == "/metrics":
        return "metrics"
    q = parse_qs(parsed.query)
    verb = q.get("verb", ["?"])[0]
    if verb in LIST_VERBS:
        return f"{verb}.{'resumed' if 'resumptionToken' in q else 'first'}"
    return verb


def scan_metrics(jqe) -> tuple[int, int]:
    """(rows output by file scans, files read) from an executed plan."""
    rows = files = 0
    stack = [jqe.executedPlan()]
    seen = 0
    while stack and seen < 500:
        node = stack.pop()
        seen += 1
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        if name.startswith("ReusedExchange"):
            stack.append(node.child())
            continue
        metrics = node.metrics()
        if name.startswith("Scan") or "FileScan" in name:
            for key, attr in (("numOutputRows", "rows"), ("numFiles", "files")):
                opt = metrics.get(key)
                if opt.isDefined():
                    if attr == "rows":
                        rows += opt.get().value()
                    else:
                        files += opt.get().value()
        children = node.children()
        for k in range(children.size()):
            stack.append(children.apply(k))
    return rows, files


class Tracer:
    def __init__(self, spark, server, planner):
        self.spark = spark
        self.server = server
        self.planner = planner
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._plans: list[tuple[int, object]] = []   # (span index, JVM QueryExecution)
        self._restore: list[tuple[object, str, object]] = []

    # --- recording -----------------------------------------------------------

    def _open(self, name: str, rid: str | None = None, **attrs) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else -1
        if rid is None:
            rid = self.spans[parent][4] if parent >= 0 else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, rid, attrs])
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._local.stack.pop()

    def _wrap(self, owner, attr: str, name: str, after=None, rid_of=None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if rid_of is None and not getattr(tracer._local, "stack", None):
                return orig(*args, **kwargs)
            rid = rid_of(args, kwargs) if rid_of is not None else None
            idx = tracer._open(name, rid, fn=attr)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(idx)
            if after is not None:
                after(idx, args, out)
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    # --- installation ----------------------------------------------------------

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai import facade, render
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai import server as srv
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans import query_builder
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
            versioned_table,
        )
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import ingest

        sc = self.spark.sparkContext
        handler = self.server._httpd.RequestHandlerClass
        orig_get = handler.do_GET
        tracer = self

        def do_GET(h):
            if h.headers.get("X-Trace") != "1":
                return orig_get(h)
            rid = h.headers.get("X-Request-Id") or f"anon-{len(tracer.spans)}"
            label = verb_label(h.path)
            sc.setJobGroup(rid, label)
            idx = tracer._open("oai.server", rid, verb=label)
            try:
                orig_get(h)
            finally:
                tracer._close(idx)
                sc.setLocalProperty("spark.jobGroup.id", None)

        self._restore.append((handler, "do_GET", orig_get))
        handler.do_GET = do_GET

        def oai_error(idx, args, out):
            self.spans[idx][5]["oai_error"] = ":error code=" in out

        def point_files(idx, args, out):
            files = self.planner.last_point_files
            if files is not None:
                self.spans[idx][5]["files_read"] = files[1]

        def collected(idx, args, out):
            self.spans[idx][5]["rows"] = len(out)
            self._plans.append((idx, args[0]._jdf.queryExecution()))

        def rendered(idx, args, out):
            self.spans[idx][5]["bytes"] = len(out.encode())

        self._wrap(facade.OAIFacade, "handle_request", "oai.facade", after=oai_error)
        for fn in ("list_page", "get_record", "list_sets"):
            self._wrap(query_builder.OAIQueryPlanner, fn, "plans.query_builder",
                       after=point_files if fn == "get_record" else None)
        self._wrap(query_builder.OAIQueryPlanner, "get_record_exists",
                   "plans.query_builder", after=point_files)
        self._wrap(DataFrame, "collect", "spark.action", after=collected)
        self._wrap(DataFrame, "count", "spark.action")
        for fn in ("render_record", "render_header"):
            self._wrap(render, fn, "oai.render")
        self._wrap(render, "to_string", "oai.render", after=rendered)
        self._wrap(srv, "compute_metrics", "operators.metrics")
        self._wrap(ingest, "merge_batch_versioned", "streaming.ingest",
                   rid_of=lambda a, kw: f"merge-{kw.get('epoch_id')}")
        self._wrap(versioned_table, "merge_keys", "sources.versioned_table")

    def finish(self) -> list[list]:
        """Restore the originals, attach job/task bills and scan metrics."""
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        time.sleep(0.5)  # let the status listener catch up with the last jobs
        tracker = self.spark.sparkContext.statusTracker()
        for span in self.spans:
            if span[3] != -1 or span[4] is None:
                continue
            jobs = tracker.getJobIdsForGroup(span[4])
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    st = tracker.getStageInfo(s)
                    tasks += st.numTasks if st else 0
            span[5]["jobs"], span[5]["tasks"] = len(jobs), tasks
        for idx, jqe in self._plans:
            try:
                rows, files = scan_metrics(jqe)
            except Exception as exc:  # keep the trace even if a plan shape is new
                self.spans[idx][5]["scan_error"] = f"{type(exc).__name__}: {exc}"
            else:
                self.spans[idx][5]["scan_rows"] = rows
                self.spans[idx][5]["files"] = files
        return self.spans
