#!/usr/bin/env python3
"""Serving-path benchmark of the OAI-PMH aggregator.

    python3 perfbench/run.py --workload harvest|portal|ingest --seed N \
        --seconds S --trace 0|1

Starts ``perfbench/server.py`` in its own process: a SparkSession, a seeded
corpus written through the package, ``OAIQueryPlanner`` → ``OAIFacade`` →
``OAIHTTPServer``. Then drives it over HTTP from this process with at most
four client threads, checks every response against answers computed from
the seed (``perfbench/corpus.py``), and prints:

- one ``{"detail": ...}`` line with every named metric of the workload,
  its unit, sample count and, for tails, the percentile;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
  the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``) that ``BENCHMARK.json`` lists.

Workload settings, the lookup ladder and its latency limit live in
``perfbench/workloads.json``, with the Spark master and the client thread
limit in its ``environment``. A traced run records spans
(``perfbench/spans.py``) on every other request; the latency difference
between its traced and plain requests is reported as the tracing overhead.
"""

from __future__ import annotations

import argparse
import bisect
import http.client
import json
import math
import os
import queue
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import xml.etree.ElementTree as ET
from datetime import datetime, timedelta
from urllib.parse import urlencode

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cessda_cdc_aggregator_oai_pmh_repo_handler_spark"
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import corpus as C  # noqa: E402
import proc  # noqa: E402

NS = {"oai": "http://www.openarchives.org/OAI/2.0/"}
PREFIXES = ("oai_dc", "oai_datacite", "oai_ddi25")
VERBS = ("ListRecords.first", "ListRecords.resumed", "GetRecord",
         "ListMetadataFormats", "ListSets", "Identify", "metrics")
KIND_VERB = {"first": "ListRecords.first", "resumed": "ListRecords.resumed"}
# a harvester's walks cycle through these (prefix, set) pairs
WALK_SPECS = (("oai_dc", None), ("oai_dc", "source:FSD"), ("oai_datacite", None),
              ("oai_ddi25", "language:fi"))
WALK_RECORDS = 200   # each walk covers a from/until window this many records wide
# cpu_ms_per_op bills a fixed job, this many whole walk cycles, so that a
# slow spell of the host does not change the mix of work it divides
WALK_CYCLES = 4
MISSING_FRAC = 0.1   # share of lookups for identifiers that do not exist
LMF_FRAC = 0.25      # share of lookups sent as ListMetadataFormats?identifier=
PERIODS_S = {"metrics": 6.0, "ListSets": 12.0, "Identify": 12.0}
WARMUP_LOOKUPS = 1
LAG_LIMIT_S = 0.5    # a run whose generator falls further behind is invalid
REQUEST_TIMEOUT_S = 60
SETUP_TIMEOUT_S = 150
DRIVER_MEMORY = "2g"


class Invalid(Exception):
    """The run cannot be reported (server failed to start, generator fell
    behind its schedule)."""


# --- statistics ------------------------------------------------------------------

def median(values):
    return statistics.median(values) if values else None


def nearest_rank(sorted_values, p: float):
    k = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[k - 1]


def tail(values) -> tuple[float | None, float, int]:
    """(value, percentile, n): the highest of p99/p90/p75/p50 with at least
    ten samples beyond it; the maximum when there are fewer than 20."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0.0, 0
    for p in (99.0, 90.0, 75.0, 50.0):
        if n - math.ceil(p / 100.0 * n) >= 10:
            return nearest_rank(xs, p), p, n
    return xs[-1], 100.0, n


# --- HTTP and checks ---------------------------------------------------------------

class Log:
    """Every attempted operation, thread-safe."""

    def __init__(self):
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def add(self, sample: dict, error: str | None) -> None:
        sample["ok"] = error is None
        with self._lock:
            self.attempted += 1
            self.samples.append(sample)
            if error is not None:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(f"{sample['kind']}: {error}")

    def fail(self, kind: str, error: str) -> None:
        self.add({"kind": kind, "phase": "server"}, error)


class Client:
    """One connection per request. With ``trace`` on, every other timed
    request asks the server to record spans."""

    def __init__(self, port: int, timeout: float):
        self.port = port
        self.timeout = timeout
        self.trace = False
        self._n = 0
        self._lock = threading.Lock()

    def rid(self, phase: str) -> tuple[str, str]:
        with self._lock:
            self._n += 1
            n = self._n
        if phase == "timed":
            phase = "traced" if self.trace and n % 2 else "plain"
        return f"r{n}", phase

    def get(self, path: str, rid: str, traced: bool) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.timeout)
        try:
            conn.request("GET", path, headers={"User-Agent": "perfbench",
                                               "X-Request-Id": rid,
                                               "X-Trace": "1" if traced else "0"})
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()


def oai_path(**params) -> str:
    return "/v0/oai?" + urlencode({k: v for k, v in params.items() if v is not None})


def parse(body: bytes):
    root = ET.fromstring(body)
    err = root.find("oai:error", NS)
    return root, (err.get("code") if err is not None else None)


class Checker:
    """Known answers for one run; ``corrupt`` deliberately breaks them (the
    smoke test uses it to prove that a wrong answer is counted)."""

    def __init__(self, exp, corrupt: bool = False):
        self.exp = exp
        self.walks = {}
        self.gauges = exp.gauges()
        self.set_specs = sorted(exp.set_specs())
        if corrupt:
            self.gauges["records_total"] += 1

    def walk(self, prefix, set_spec) -> list[int]:
        key = (prefix, set_spec)
        if key not in self.walks:
            self.walks[key] = self.exp.walk(prefix, set_spec)
        return self.walks[key]

    def page(self, body: bytes, want: list[int], pos: int, page_size: int,
             first: bool) -> tuple[str | None, str | None, int]:
        """(error, next token, records) of one ListRecords page that must
        carry ``want[pos:pos+page_size]``."""
        root, code = parse(body)
        if code is not None:
            if first and not want and code == "noRecordsMatch":
                return None, None, 0
            return f"OAI error {code}", None, 0
        headers = root.findall(".//oai:header", NS)
        got = [h.findtext("oai:identifier", namespaces=NS) for h in headers]
        expect = want[pos:pos + page_size]
        if got != [C.ident(i) for i in expect]:
            return (f"page at cursor {pos}: got {got[:2]}..{got[-1:]} ({len(got)}), "
                    f"want {[C.ident(i) for i in expect[:2]]} ({len(expect)})"), None, 0
        for h, i in zip(headers, expect):
            if (h.get("status") == "deleted") != self.exp.records[i].deleted:
                return f"{C.ident(i)}: wrong deleted status", None, 0
        remaining = len(want) - pos - len(got)
        tok = root.find(".//oai:resumptionToken", NS)
        if tok is None:
            if first and remaining == 0:
                return None, None, len(got)
            return "missing resumptionToken", None, 0
        if tok.get("completeListSize") != str(len(want)):
            return (f"completeListSize {tok.get('completeListSize')} != "
                    f"{len(want)}"), None, 0
        if tok.get("cursor") != str(pos):
            return f"cursor {tok.get('cursor')} != {pos}", None, 0
        token = (tok.text or "").strip() or None
        if (token is None) != (remaining == 0):
            return f"token {'missing' if token is None else 'present'} with {remaining} left", None, 0
        return None, token, len(got)

    def lookup(self, body: bytes, verb: str, i: int, prefix: str | None) -> str | None:
        root, code = parse(body)
        exists = (self.exp.get_record_ok(i, prefix) if verb == "GetRecord"
                  else 0 <= i < self.exp.n)
        if not exists:
            return None if code == "idDoesNotExist" else f"want idDoesNotExist, got {code}"
        if code is not None:
            return f"OAI error {code} for {C.ident(i)}"
        if verb == "GetRecord":
            h = root.find(".//oai:header", NS)
            if h is None or h.findtext("oai:identifier", namespaces=NS) != C.ident(i):
                return f"GetRecord {C.ident(i)}: wrong or missing header"
            if (h.get("status") == "deleted") != self.exp.records[i].deleted:
                return f"GetRecord {C.ident(i)}: wrong deleted status"
            return None
        got = {e.text for e in root.findall(".//oai:metadataPrefix", NS)}
        return None if set(PREFIXES) <= got else f"formats {sorted(got)}"

    def metrics(self, body: bytes) -> str | None:
        values = {}
        for line in body.decode().splitlines():
            if line and not line.startswith("#"):
                name, _, value = line.rpartition(" ")
                values[name] = float(value)
        wrong = {k: (values.get(k), v) for k, v in self.gauges.items()
                 if values.get(k) != v}
        return f"gauges (got, want): {wrong}" if wrong else None

    def list_sets(self, body: bytes) -> str | None:
        root, code = parse(body)
        got = sorted(e.text for e in root.findall(".//oai:setSpec", NS))
        return None if got == self.set_specs else f"setSpecs {got}"

    def identify(self, body: bytes) -> str | None:
        root, code = parse(body)
        got = root.findtext(".//oai:earliestDatestamp", namespaces=NS)
        want = C.BASE_TS.replace(" ", "T") + "Z"
        return None if got == want else f"earliestDatestamp {got} != {want}"


def timed(log: Log, client: Client, kind: str, path: str, check, due: float | None,
          phase: str = "timed", **extra):
    """One request; returns (body or None, sample). Latency is kept from the
    due time (open loop) and from the send time. ``phase`` is ``warmup`` or
    ``timed``; a timed request becomes ``plain`` or ``traced``."""
    rid, phase = client.rid(phase)
    sent = time.perf_counter()
    sample = {"kind": kind, "rid": rid, "due": due if due is not None else sent,
              "sent": sent, "phase": phase, **extra}
    try:
        status, body = client.get(path, rid, phase == "traced")
    except (OSError, http.client.HTTPException) as exc:
        sample["done"] = time.perf_counter()
        log.add(sample, f"{type(exc).__name__}: {exc}")
        return None, sample
    sample["done"] = time.perf_counter()
    if status != 200:
        log.add(sample, f"HTTP {status}: {body[:200]!r}")
        return None, sample
    try:
        error = check(body)
    except ET.ParseError as exc:
        error = f"unparsable response: {exc}"
    log.add(sample, error)
    return (body if error is None else None), sample


# --- load ------------------------------------------------------------------------

def ts(seconds: int) -> str:
    base = datetime.strptime(C.BASE_TS, "%Y-%m-%d %H:%M:%S")
    return (base + timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%SZ")


class Harvester:
    """Closed loop: successive walks cycling through ``WALK_SPECS``, each
    over a seeded from/until window of ``WALK_RECORDS`` records."""

    def __init__(self, client, checker, seed, log, phase="timed"):
        self.client, self.checker, self.log = client, checker, log
        self.rng = random.Random(seed * 7 + 1)
        self.phase = phase
        self.walks = 0
        self.records = 0

    def run(self, end: float, pages: int | None = None, cycles: int | None = None) -> None:
        """Walk until ``end``, or ``pages`` pages, or the end of the
        ``cycles``-th cycle of walks since the harvester started."""
        n, width, specs = self.checker.exp.n, WALK_RECORDS, WALK_SPECS
        done = 0
        while (time.perf_counter() < end and (pages is None or done < pages)
               and (cycles is None or self.walks < cycles * len(specs))):
            prefix, set_spec = specs[self.walks % len(specs)]
            lo = self.rng.randrange(0, n - width)
            full = self.checker.walk(prefix, set_spec)
            want = full[bisect.bisect_left(full, lo):bisect.bisect_left(full, lo + width)]
            path = oai_path(verb="ListRecords", metadataPrefix=prefix, set=set_spec,
                            **{"from": ts(lo), "until": ts(lo + width - 1)})
            pos, first = 0, True
            while path is not None and time.perf_counter() < end:
                state = {}

                def check(body, pos=pos, first=first):
                    err, state["token"], state["records"] = self.checker.page(
                        body, want, pos, C.PAGE_SIZE, first)
                    return err

                body, sample = timed(self.log, self.client,
                                     "first" if first else "resumed", path, check,
                                     None, self.phase, spec=self.walks % len(specs))
                done += 1
                if body is None:
                    break
                sample["records"] = state["records"]
                self.records += state["records"]
                pos += state["records"]
                first = False
                token = state["token"]
                path = oai_path(verb="ListRecords", resumptionToken=token) if token else None
                if pages is not None and done >= pages:
                    break
            self.walks += 1


def lookup_op(checker, rng):
    """A seeded GetRecord or ListMetadataFormats?identifier= request."""
    n = checker.exp.n
    i = n + rng.randrange(10 ** 6) if rng.random() < MISSING_FRAC else rng.randrange(n)
    ident = C.ident(i)
    if rng.random() < LMF_FRAC:
        return ("ListMetadataFormats", oai_path(verb="ListMetadataFormats", identifier=ident),
                lambda b: checker.lookup(b, "ListMetadataFormats", i, None))
    prefix = rng.choice(PREFIXES)
    return ("GetRecord", oai_path(verb="GetRecord", identifier=ident, metadataPrefix=prefix),
            lambda b: checker.lookup(b, "GetRecord", i, prefix))


def periodic(checker, seconds: float, once: bool = False):
    """Fixed-period background requests: (offset, kind, path, check, extra);
    ``once`` gives one of each kind."""
    ops = {
        "metrics": ("/metrics", checker.metrics),
        "ListSets": (oai_path(verb="ListSets"), checker.list_sets),
        "Identify": (oai_path(verb="Identify"), checker.identify),
    }
    out = []
    for k, (kind, (path, check)) in enumerate(ops.items()):
        period = PERIODS_S[kind]
        t = period * (0.25 + 0.2 * k)
        while t < seconds:
            out.append((t, kind, path, check, {}))
            if once:
                break
            t += period
    return out


def open_loop(client, log, schedule, t0: float, workers: int,
              lag: list[float]) -> None:
    """Send each (offset, kind, path, check, extra) at ``t0 + offset`` on
    one of ``workers`` threads, whatever the replies. ``lag`` gets how late
    the dispatcher handed each request over."""
    q: queue.Queue = queue.Queue()

    def worker():
        while True:
            item = q.get()
            if item is None:
                return
            due, kind, path, check, extra = item
            timed(log, client, kind, path, check, due, **extra)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(workers)]
    for t in threads:
        t.start()
    for offset, kind, path, check, extra in sorted(schedule, key=lambda s: s[0]):
        due = t0 + offset
        wait = due - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        lag.append(time.perf_counter() - due)
        q.put((due, kind, path, check, extra))
    for _ in threads:
        q.put(None)
    for t in threads:
        t.join()


# --- server process --------------------------------------------------------------

class Server:
    def __init__(self, args, cfg: dict, master: str, work: str):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ)
        # keep every file the server, its JVM and its workers write inside
        # the work directory (the JVM's perf-data file defaults to /tmp)
        env.update({"SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
                    "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                    "TMPDIR": tmp,
                    "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options "
                                            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                                            f"pyspark-shell"),
                    "PYTHONDONTWRITEBYTECODE": "1",
                    # Spark's Python workers import the package too
                    "PYTHONPATH": os.pathsep.join(
                        [ROOT] + [p for p in [env.get("PYTHONPATH")] if p])})
        self.stderr = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--n", str(cfg["records"]), "--master", master,
             "--config", json.dumps(cfg),
             "--work", os.path.join(work, "data"), "--trace", str(args.trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.stderr,
            cwd=work, env=env, text=True)
        self.lines: queue.Queue = queue.Queue()
        self.seen: set[int] = set()   # every server-tree pid observed
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def expect(self, word: str, timeout: float) -> str:
        end = time.time() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.1, end - time.time()))
            except queue.Empty:
                raise Invalid(f"server gave no {word} within {timeout:.0f} s") from None
            if line is None:
                raise Invalid(f"server exited (code {self.proc.wait()}) before {word}; "
                              f"see its log")
            if line.startswith(word):
                return line[len(word):].strip()

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def _tree(self) -> set[int]:
        """The server's pid and its descendants (the JVM, Python workers)."""
        tree = proc.tree(self.proc.pid)
        self.seen |= tree
        return tree

    def cpu_s(self) -> float:
        """User plus system CPU time of the server tree so far."""
        return proc.cpu_s(self._tree())

    def peak_rss_mb(self) -> float:
        return proc.peak_rss_mb(self._tree())

    def close(self) -> None:
        """Wait for the server tree to end (the JVM outlives its Python
        parent by a moment); kill what is left after a grace period."""
        if self.proc.poll() is None:
            self._tree()
            self.proc.kill()
        self.proc.wait()
        others = self.seen - {self.proc.pid}
        end = time.time() + 30
        while others and time.time() < end:
            others = {p for p in others if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for pid in others:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        self.stderr.close()


# --- metrics ---------------------------------------------------------------------

# The gated metrics are server CPU times, scaled by REF_PROBE_MS over the
# CPU time of a fixed loop sampled all through the run. CPU
# time holds still under other tenants' load far better than wall-clock
# time, but not entirely: on a shared 4-vCPU cloud host the same work took
# up to 40 % more CPU time in a busy hour than in a quiet one, and the
# probe moved with it, so the scaled figures compare runs made at
# different times.
REF_PROBE_MS = 6.0   # one probe chunk on that host in a quiet hour


class HostProbe:
    """CPU time of a fixed pure-Python chunk, sampled about ten times a
    second on a thread of its own: how fast this host runs CPU-bound code
    while the server works."""

    CHUNK = 100_000
    PERIOD_S = 0.1

    def __init__(self):
        self.samples: list[tuple[float, float]] = []   # (perf_counter, ms)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            c = time.thread_time()
            x = 0
            for i in range(self.CHUNK):
                x = (x * 31 + i) % 1_000_003
            self.samples.append((time.perf_counter(), 1000.0 * (time.thread_time() - c)))

    def ms(self, start: float, end: float) -> tuple[float, str, int]:
        """(median chunk time, its unit, samples) between ``start`` and ``end``."""
        xs = [ms for t, ms in self.samples if start <= t <= end]
        if not xs:
            raise Invalid("no host probe samples")
        return statistics.median(xs), "ms", len(xs)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def lat(samples, kinds, frm="due", phase=None, ok=True):
    return [s["done"] - s[frm] for s in samples
            if s["kind"] in kinds and "done" in s and (not ok or s["ok"])
            and (phase is None or s["phase"] == phase)]


def entry(value, unit, n=None, pct=None):
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    if pct is not None:
        out["percentile"] = pct
    return out


def e2e(log, t0, server_out, rss_mb, ladder, lag) -> dict:
    """Every named end-to-end metric of the run (None where the workload
    does not exercise it)."""
    S = log.samples
    phase = "plain"
    named = {}
    pages = lat(S, ("resumed",), phase=phase)
    firsts = lat(S, ("first",), phase=phase)
    lookups = lat(S, ("GetRecord", "ListMetadataFormats"), phase=phase)
    walked = [s for s in S if s["kind"] in ("first", "resumed") and s["ok"]
              and s["phase"] == phase]
    records = sum(s["records"] for s in walked)
    # records over the harvester's wall time: the window plus its last page
    harvest_rps = (records / (max(s["done"] for s in walked) - t0)) if records else None
    merges = [m["end"] - m["due"] for m in server_out["merges"]]
    for name, values in (("page", pages), ("lookup", lookups), ("ingest_batch", merges)):
        t, p, n = tail(values)
        named[f"{name}_p50_s"] = entry(median(values), "s", len(values))
        named[f"{name}_tail_s"] = entry(t, "s", n, p)
    named["first_page_p50_s"] = entry(median(firsts), "s", len(firsts))
    named["harvest_records_per_s"] = entry(harvest_rps, "1/s", records)
    named["lookup_max_ok_rps"] = entry(ladder.get("max_ok_rps"), "1/s")
    for name, kind in (("scrape_p50_s", "metrics"), ("listsets_p50_s", "ListSets")):
        values = lat(S, (kind,), phase=phase)
        named[name] = entry(median(values), "s", len(values))
    named["failed_frac"] = entry(log.failed / max(1, log.attempted), "1", log.attempted)
    named["server_rss_mb"] = entry(rss_mb, "MB")
    named["setup_cpu_s"] = entry(median(server_out["setup_cpu_s"]), "s",
                                 len(server_out["setup_cpu_s"]))
    named["setup_wall_s"] = entry(median(server_out["setup_wall_s"]), "s",
                                  len(server_out["setup_wall_s"]))
    named["generator_lag_max_s"] = entry(max(lag) if lag else 0.0, "s", len(lag))
    return named


def cpu_per_op(workload, log, cpu0, cpu_end, billed) -> tuple[float, int]:
    """(server CPU seconds, operations) behind ``cpu_ms_per_op``. On
    harvest: the first ``WALK_CYCLES`` walk cycles of the window, per
    record. On ingest: those cycles, the lookups, periodic requests and
    merges of the window, until the server is idle, per record. On portal:
    per lookup answered."""
    timed = [s for s in log.samples if s["ok"] and s["phase"] in ("plain", "traced")]
    if workload == "harvest":
        return billed["cpu"] - cpu0, billed["records"]
    if workload == "portal":
        return cpu_end - cpu0, sum(1 for s in timed
                                   if s["kind"] in ("GetRecord", "ListMetadataFormats"))
    return cpu_end - cpu0, sum(s.get("records", 0) for s in timed)


def latency_lists(log) -> dict:
    """Every timed request's latency from its due time, by kind (and walk
    spec for pages), in send order."""
    out: dict[str, list[float]] = {}
    for s in sorted(log.samples, key=lambda s: s.get("sent", 0.0)):
        if "done" in s and s["phase"] in ("plain", "traced"):
            kind = f"{s['kind']}.{s['spec']}" if "spec" in s else s["kind"]
            out.setdefault(kind, []).append(round(s["done"] - s["due"], 4))
    return out


def evaluate_ladder(samples, cfg, t0, rung_s) -> dict:
    rungs = []
    best = None
    for r, rate in enumerate(cfg["lookup_ladder_rps"]):
        mine = [s for s in samples if s.get("rung") == r]
        ok = [s["done"] - s["due"] for s in mine if s["ok"]]
        end = t0 + (r + 1) * rung_s
        backlog = sum(1 for s in mine if s["sent"] > end)
        t, p, n = tail(ok)
        passed = (bool(ok) and len(ok) == len(mine) and t <= cfg["lookup_limit_s"]
                  and backlog <= 1)
        rungs.append({"rps": rate, "n": len(mine), "tail_s": t, "percentile": p,
                      "backlog": backlog, "pass": passed})
        if passed:
            best = max(best or 0.0, rate)
    return {"max_ok_rps": best, "limit_s": cfg["lookup_limit_s"], "rungs": rungs}


def layer_metrics(workload, cfg, log, server_out) -> tuple[dict, list[str]]:
    """Per-layer numbers from the traced requests, spans matched to client
    samples by request id; medians over the requests of each verb.

    Also returns the trace's own failures: a traced request without spans,
    a layer without spans on a verb the run sent that the layer serves
    (``REQUIRED``), and self times that do not add up to the plain latency
    within the tracing overhead."""
    spans = server_out["spans"] or []
    kids: dict[int, list[int]] = {}
    for k, s in enumerate(spans):
        kids.setdefault(s[3], []).append(k)

    def dur(k):
        return spans[k][2] - spans[k][1]

    def self_time(k):
        return dur(k) - sum(dur(c) for c in kids.get(k, []))

    def desc(k):
        out, stack = [], list(kids.get(k, []))
        while stack:
            c = stack.pop()
            out.append(c)
            stack.extend(kids.get(c, []))
        return out

    client = {s["rid"]: s for s in log.samples if "rid" in s and s["phase"] == "traced"}
    roots = {spans[k][4]: k for k in kids.get(-1, []) if spans[k][0] == "oai.server"}
    per: dict[str, dict[str, list[float]]] = {}
    problems: list[str] = []

    def add(name, verb, value):
        per.setdefault(name, {}).setdefault(verb, []).append(value)

    http_errors = sum(1 for s in client.values() if not s["ok"])
    oai_errors = 0
    sent: set[str] = set()
    for rid, sample in client.items():
        if "done" not in sample:
            continue
        k = roots.get(rid)
        if k is None:
            problems.append(f"traced request {rid} ({sample['kind']}) has no spans")
            continue
        root = spans[k]
        verb = root[5]["verb"]
        sent.add(verb)
        below = desc(k)
        by_name: dict[str, list[int]] = {}
        for c in below:
            by_name.setdefault(spans[c][0], []).append(c)
        overhead = (sample["done"] - sample["sent"]) - sum(dur(c) for c in kids.get(k, []))
        add("oai.server.overhead_s", "", overhead)
        # the request's blocking steps: HTTP and lock wait, then every span's self time
        add("trace.layers_sum_s", verb, overhead + sum(self_time(c) for c in below))
        for c in by_name.get("oai.facade", []):
            add("oai.facade.self_s", verb, self_time(c))
            oai_errors += bool(spans[c][5].get("oai_error"))
        for c in by_name.get("operators.metrics", []):
            add("operators.metrics.rollup_s", "", dur(c))
            add("operators.metrics.jobs_per_scrape", "", root[5].get("jobs", 0))
        qb = by_name.get("plans.query_builder", [])
        if qb:
            add("plans.query_builder.build_s", verb, sum(self_time(c) for c in qb))
            files = [spans[c][5]["files_read"] for c in qb if "files_read" in spans[c][5]]
            if files:
                add("sources.versioned_table.files_read_per_lookup", "", sum(files))
            counts = [c for q in qb for c in kids.get(q, [])
                      if spans[c][0] == "spark.action" and spans[c][5].get("fn") == "count"]
            if counts:
                add("plans.query_builder.count_s", "", sum(dur(c) for c in counts))
        actions = by_name.get("spark.action", [])
        if actions:
            add("spark.action_s", verb, sum(dur(c) for c in actions))
        add("spark.jobs", verb, root[5].get("jobs", 0))
        add("spark.tasks", verb, root[5].get("tasks", 0))
        collects = [spans[c][5] for c in actions if "scan_rows" in spans[c][5]]
        if collects:
            returned = sum(a.get("rows", 0) for a in collects)
            add("spark.scan_rows_per_row_returned", verb,
                sum(a["scan_rows"] for a in collects) / max(1, returned))
            add("spark.files_read", verb, sum(a["files"] for a in collects))
        # render_record calls render_header itself: count outermost spans only
        renders = [c for c in by_name.get("oai.render", [])
                   if spans[spans[c][3]][0] != "oai.render"]
        if renders:
            add("oai.render.render_s", verb, sum(dur(c) for c in renders))
            add("oai.render.bytes", verb, sum(spans[c][5].get("bytes", 0) for c in renders))
    for k in kids.get(-1, []):
        if spans[k][0] == "streaming.ingest":
            sent.add("merge")
            add("streaming.ingest.merge_batch_s", "", self_time(k))
            for c in desc(k):
                if spans[c][0] == "sources.versioned_table":
                    add("sources.versioned_table.merge_keys_s", "", dur(c))

    required = dict(REQUIRED)
    if workload == "ingest":
        required["sources.versioned_table.files_read_per_lookup"] = (
            "GetRecord", "ListMetadataFormats")
    for name, verbs in required.items():
        for verb in sorted(sent & set(verbs)):
            if not per.get(name, {}).get(verb if name in PER_VERB else ""):
                problems.append(f"no {name} spans on traced {verb} requests")

    out = {}
    for name, unit in LAYER_FAMILIES:
        # a verb or layer the workload does not exercise reads 0
        if name in PER_VERB:
            for verb in VERBS:
                out[f"{name}.{verb}"] = entry(median(per.get(name, {}).get(verb, [])) or 0, unit)
        else:
            out[name] = entry(median(per.get(name, {}).get("", [])) or 0, unit)
    out["oai.server.http_errors"] = entry(http_errors, "count")
    out["oai.facade.oai_errors"] = entry(oai_errors, "count")
    layer = server_out["layer"]
    merge_files = layer.get("merge_files", [])
    rows = cfg.get("updates", 0) + cfg.get("deletes", 0) + cfg.get("new", 0)
    out["sources.versioned_table.files_rewritten_per_merge"] = entry(
        median([m["files_rewritten"] for m in merge_files]) or 0, "count")
    out["sources.versioned_table.bytes_written_per_row_merged"] = entry(
        median([m["bytes_written"] / rows for m in merge_files]) or 0, "bytes")
    out["sources.versioned_table.bytes_stored_per_live_byte"] = entry(
        layer["vt_bytes_on_disk"] / layer["vt_live_bytes"]
        if "vt_live_bytes" in layer else 0, "ratio")
    out["sources.versioned_table.served_version_lag"] = entry(
        layer.get("served_version_lag", 0), "count")
    out["streaming.ingest.rows_per_batch"] = entry(rows if merge_files else 0, "count")
    # traced against plain requests of the same run, on the workload's verb
    verb = cfg["trace_verb"]
    kinds = [k for k, v in KIND_VERB.items() if v == verb] or [verb]
    plain = median(lat(log.samples, kinds, frm="sent", phase="plain"))
    traced = median(lat(log.samples, kinds, frm="sent", phase="traced"))
    layers = median(per.get("trace.layers_sum_s", {}).get(verb, []))
    if None in (plain, traced, layers):
        problems.append(f"too few {verb} requests to compare traced and plain latency")
    elif abs(layers - plain) > abs(traced - plain) + 1e-3:
        problems.append(f"{verb}: layers add up to {layers:.4f} s, plain p50 {plain:.4f} s, "
                        f"tracing overhead {traced - plain:.4f} s")
    out["trace.plain_p50_s"] = entry(plain or 0, "s")
    out["trace.traced_p50_s"] = entry(traced or 0, "s")
    out["trace.overhead_s"] = entry(traced - plain if None not in (plain, traced) else 0, "s")
    out["trace.layers_sum_s"] = entry(layers or 0, "s")
    return out, problems


LAYER_FAMILIES = [
    ("oai.server.overhead_s", "s"),
    ("oai.facade.self_s", "s"),
    ("plans.query_builder.build_s", "s"),
    ("plans.query_builder.count_s", "s"),
    ("spark.action_s", "s"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.scan_rows_per_row_returned", "ratio"),
    ("spark.files_read", "count"),
    ("oai.render.render_s", "s"),
    ("oai.render.bytes", "bytes"),
    ("operators.metrics.rollup_s", "s"),
    ("operators.metrics.jobs_per_scrape", "count"),
    ("sources.versioned_table.files_read_per_lookup", "count"),
    ("sources.versioned_table.merge_keys_s", "s"),
    ("streaming.ingest.merge_batch_s", "s"),
]
PER_VERB = {"oai.facade.self_s", "plans.query_builder.build_s", "spark.action_s",
            "spark.jobs", "spark.tasks", "spark.scan_rows_per_row_returned",
            "spark.files_read", "oai.render.render_s", "oai.render.bytes"}
_OAI = ("ListRecords.first", "ListRecords.resumed", "GetRecord", "ListMetadataFormats",
        "ListSets", "Identify")
# the verbs on which each layer must have spans whenever the run traces them
REQUIRED = {
    "oai.server.overhead_s": VERBS,
    "oai.facade.self_s": _OAI,
    "plans.query_builder.build_s": ("ListRecords.first", "ListRecords.resumed",
                                    "GetRecord", "ListMetadataFormats", "ListSets"),
    "plans.query_builder.count_s": ("ListRecords.first",),
    "spark.action_s": ("ListRecords.first", "ListRecords.resumed", "GetRecord",
                       "ListMetadataFormats", "ListSets", "metrics"),
    "spark.scan_rows_per_row_returned": ("ListRecords.first", "ListRecords.resumed"),
    "spark.files_read": ("ListRecords.first", "ListRecords.resumed"),
    "oai.render.render_s": _OAI,
    "oai.render.bytes": _OAI,
    "operators.metrics.rollup_s": ("metrics",),
    "streaming.ingest.merge_batch_s": ("merge",),
    "sources.versioned_table.merge_keys_s": ("merge",),
}


# --- entry point -----------------------------------------------------------------

def load_config(workload: str) -> tuple[dict, dict]:
    """(the workload's settings, the environment) from workloads.json."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {workload!r}; "
                         f"choose from {sorted(spec['workloads'])}")
    return dict(spec["workloads"][workload]), spec["environment"]


def run(args, cfg: dict, env: dict, work: str):
    probe = HostProbe()
    setup_start = time.perf_counter()
    server = Server(args, cfg, env["spark_master"], work)
    try:
        exp = C.Expected(cfg["records"], args.seed)
        checker = Checker(exp, corrupt=args.corrupt_expected)
        ready = json.loads(server.expect("READY", SETUP_TIMEOUT_S))
        client = Client(ready["port"], REQUEST_TIMEOUT_S)
        log = Log()
        warm(args.workload, client, checker, cfg, args.seed, log)

        seconds = float(args.seconds)
        client.trace = bool(args.trace)
        lag: list[float] = []
        billed: dict = {}
        cpu0 = server.cpu_s()
        t0 = time.perf_counter()
        server.send(f"GO {time.time()} {seconds}")
        ladder = drive(args.workload, client, checker, cfg, args.seed, log, t0,
                       seconds, lag, env["nproc"],
                       lambda records: billed.update(cpu=server.cpu_s(), records=records))
        server.send("STOP")
        server.expect("IDLE", 170)   # every merge of the run has ended
        cpu_end = server.cpu_s()
        window_end = time.perf_counter()
        probe.stop()
        rss = server.peak_rss_mb()
        server.send("FINISH")
        server_out = json.loads(server.expect("DONE", 170))
        for e in server_out["errors"]:
            log.fail("server", e)
        for _ in server_out["merges"]:
            log.add({"kind": "merge", "phase": "server"}, None)
        if lag and max(lag) > LAG_LIMIT_S:
            raise Invalid(f"generator fell {max(lag):.3f} s behind its schedule "
                          f"(limit {LAG_LIMIT_S} s)")
        named = e2e(log, t0, server_out, rss, ladder, lag)
        cpu, ops = cpu_per_op(args.workload, log, cpu0, cpu_end, billed)
        # one scale for the run: host speed drifts over minutes, and a
        # shorter stretch of probe samples only adds its own noise
        named["host_probe_ms"] = entry(*probe.ms(setup_start, window_end))
        scale = REF_PROBE_MS / named["host_probe_ms"]["value"]
        named["setup_s"] = entry(named["setup_cpu_s"]["value"] * scale, "s",
                                 named["setup_cpu_s"]["n"])
        named["cpu_ms_per_op_unscaled"] = entry(1000.0 * cpu / ops if ops else None, "ms", ops)
        named["cpu_ms_per_op"] = entry(1000.0 * cpu / ops * scale if ops else None, "ms", ops)

        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "corpus_records": cfg["records"],
                  "corpus_bytes_on_disk": server_out["corpus_bytes"],
                  "setup_reps_wall_s": server_out["setup_wall_s"],
                  "setup_reps_cpu_s": server_out["setup_cpu_s"],
                  "setup_steps_s": server_out["setup_steps"], "named": named,
                  "ladder": ladder, "latencies_s": latency_lists(log)}
        if args.trace:
            metrics, problems = layer_metrics(args.workload, cfg, log, server_out)
            for p in problems:
                log.fail("trace", p)
        else:
            empty = [k for k, _ in GATED if named[k]["value"] is None]
            if empty:
                raise Invalid(f"no samples for {empty}; failures: {log.failures[:3]}")
            metrics = {k: entry(named[k]["value"], unit) for k, unit in GATED}
        detail["failures"] = log.failures
        return detail, log, metrics
    finally:
        probe.stop()
        server.close()


# the end-to-end metrics BENCHMARK.json lists: wall-clock times swing with
# the host's load far more than their bound would allow, scaled server CPU
# time much less
GATED = [("setup_s", "s"), ("cpu_ms_per_op", "ms")]


def warm(workload, client, checker, cfg, seed, log) -> None:
    """Untimed, checked requests of every kind the workload sends."""
    rng = random.Random(seed * 13 + 5)
    if "warmup_pages" in cfg:
        Harvester(client, checker, seed + 999, log,
                  "warmup").run(math.inf, pages=cfg["warmup_pages"])
    if workload == "harvest":
        return
    for _ in range(WARMUP_LOOKUPS):
        kind, path, check = lookup_op(checker, rng)
        timed(log, client, kind, path, check, None, "warmup")
    for _, kind, path, check, _ in periodic(checker, math.inf, once=True):
        if kind != "Identify":  # the set-up's first request was an Identify
            timed(log, client, kind, path, check, None, "warmup")


def drive(workload, client, checker, cfg, seed, log, t0, seconds, lag, threads,
          bill) -> dict:
    """Send the workload's timed traffic. On harvest, ``bill`` gets the
    records of the fixed walk cycles as soon as they are done."""
    end = t0 + seconds
    rng = random.Random(seed * 31 + 3)
    if workload == "harvest":
        h = Harvester(client, checker, seed, log)
        h.run(math.inf, cycles=WALK_CYCLES)   # finished even past the window
        bill(h.records)
        h.run(end)
        return {}
    schedule = periodic(checker, seconds)
    if workload == "portal":
        rungs = cfg["lookup_ladder_rps"]
        rung_s = seconds / len(rungs)
        for r, rate in enumerate(rungs):
            count = int(rate * rung_s)
            for k in range(count):
                kind, path, check = lookup_op(checker, rng)
                schedule.append((r * rung_s + (k + 0.5) / rate, kind, path, check,
                                 {"rung": r}))
        open_loop(client, log, schedule, t0, threads - 1, lag)
        return evaluate_ladder([s for s in log.samples if "rung" in s], cfg, t0, rung_s)
    # ingest: a harvester walking a fixed number of cycles, open-loop lookups
    # and periodic requests; merges run inside the server
    rate = cfg["lookup_rate_rps"]
    for k in range(int(rate * seconds)):
        kind, path, check = lookup_op(checker, rng)
        schedule.append(((k + 0.5) / rate, kind, path, check, {}))
    h = threading.Thread(target=Harvester(client, checker, seed, log).run,
                         args=(math.inf,), kwargs={"cycles": WALK_CYCLES},
                         daemon=True)
    h.start()
    open_loop(client, log, schedule, t0, threads - 2, lag)
    h.join()
    return {}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--records", type=int, default=None,
                    help="override the workload's corpus size (smoke test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="check against a deliberately wrong answer (smoke test)")
    args = ap.parse_args()
    cfg, env = load_config(args.workload)
    if args.records is not None:
        cfg["records"] = args.records
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found next to perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        detail, log, metrics = run(args, cfg, env, work)
    except Invalid as exc:
        print(f"perfbench: invalid run: {exc}", file=sys.stderr)
        log_path = os.path.join(work, "server.log")
        if os.path.exists(log_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-3000:])
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": log.failed == 0, "attempted": log.attempted,
                      "failed": log.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
