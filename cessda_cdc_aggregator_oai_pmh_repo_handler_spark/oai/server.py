"""Minimal HTTP serving tier (reference: Tornado app on port 6003,
/root/reference/cdcagg_oai/serve.py:56-117). A stdlib ThreadingHTTPServer is
deliberately thin: ONE process owns the SparkSession; requests translate to
facade calls whose heavy lifting is Spark-evaluated. Routes:

- ``GET /v0/oai?verb=...``  → OAI-PMH XML (HTTP 200 even for OAI errors,
  matching the reference's protocol behavior)
- ``GET /metrics``          → Prometheus text exposition: corpus gauges from
  the one-pass rollup + request counters from the facade

Concurrency note: Spark drivers multiplex concurrent jobs; the handler
serializes facade calls with a lock because resumption-token flows are
stateless anyway and one driver-side collect at a time keeps memory bounded.
Scale-out is N replicas behind a balancer, exactly like the reference's
``--server-process-count``.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..operators.metrics import compute_metrics, escape_label, render_prometheus
from .facade import OAIFacade

OAI_PATH = "/v0/oai"
METRICS_PATH = "/metrics"


def _request_metric_lines(rm) -> str:
    lines = [
        "# TYPE requests_total counter",
        f"requests_total {float(rm.requests_total)}",
        "# TYPE requests_succeeded counter",
        f"requests_succeeded {float(rm.requests_succeeded)}",
        "# TYPE requests_failed counter",
        f"requests_failed {float(rm.requests_failed)}",
    ]
    for ua, n in sorted(rm.requests_per_user_agent.items()):
        lines.append(f'requests_per_user_agent{{harvester="{escape_label(ua)}"}} '
                     f"{float(n)}")
    for (verb, prefix), (total_ms, count) in sorted(
            rm.requests_duration.items(),
            key=lambda kv: (str(kv[0][0]), str(kv[0][1]))):
        lines.append(
            f'requests_duration_ms_sum{{verb="{verb}",metadataPrefix="{prefix or ""}"}} '
            f"{round(total_ms, 3)}"
        )
        lines.append(
            f'requests_duration_ms_count{{verb="{verb}",metadataPrefix="{prefix or ""}"}} '
            f"{float(count)}"
        )
    return "\n".join(lines) + "\n"


class OAIHTTPServer:
    def __init__(self, facade: OAIFacade, port: int = 6003):
        self.facade = facade
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # keep test output quiet
                pass

            def do_GET(self):
                parsed = urlparse(self.path)
                # a request must never die responseless, and a 500 body
                # never echoes exception text to the client
                try:
                    if parsed.path == OAI_PATH:
                        params = {k: v[0] for k, v in parse_qs(parsed.query).items()}
                        verb = params.pop("verb", None)
                        with outer._lock:
                            body = outer.facade.handle_request(
                                verb=verb,
                                user_agent=self.headers.get("User-Agent"),
                                **params,
                            )
                        status, ctype = 200, "text/xml; charset=utf-8"
                    elif parsed.path == METRICS_PATH:
                        with outer._lock:
                            gauges = compute_metrics(outer.facade.planner.studies)
                        body = render_prometheus(gauges) + _request_metric_lines(
                            outer.facade.request_metrics)
                        status, ctype = 200, "text/plain; version=0.0.4"
                    else:
                        body, status, ctype = "not found", 404, "text/plain"
                except Exception:
                    body, status, ctype = "internal error", 500, "text/plain"
                payload = body.encode()
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "OAIHTTPServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
