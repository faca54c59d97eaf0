"""Server process of the serving benchmark.

Builds the system the way a deployment would: a SparkSession, a seeded
corpus written through the package, the planner, the facade and the real
``OAIHTTPServer``, up to the first answered request. It does so
``SETUP_REPS`` times, timing each set-up by wall clock and by the CPU time
of its process tree, and keeps the last one serving. Then it follows
commands on stdin. With ``--trace 1`` the span recorder
(``perfbench/spans.py``) is installed before the first timed request.

- ``GO <unix time> <seconds>``: start the run (for ``ingest``, the
  microbatch schedule starts at that time and issues the batches due
  within the run);
- ``STOP``: wait until every merge has ended, then print ``IDLE``;
- ``FINISH``: check the newest table version, print one ``DONE <json>``
  line with the set-up times, merge log and spans, shut everything down
  and exit.

Run by ``perfbench/run.py``; not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import corpus as C  # noqa: E402
import proc  # noqa: E402

SHUFFLE_PARTITIONS = 8
SETUP_REPS = 3   # the first one also starts the JVM


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Ingest:
    """Microbatch writer through ``streaming.ingest.merge_batch_versioned``.
    Batch 0 is merged untimed before the run, so the timed merges run warm
    code. Then, open loop, batch ``b >= 1`` is due at ``t0 + (b-1)*period``.
    One writer, so a late merge delays the next; lateness shows as latency
    from the due time. Every batch due before ``end`` is merged, even if
    that runs past ``end``; none after."""

    def __init__(self, spark, vt_path: str, cfg: dict, n: int, seed: int):
        self.spark, self.vt_path, self.cfg = spark, vt_path, cfg
        self.n, self.seed = n, seed
        self.batches = 0   # merged or attempted, warm-up included
        self.log: list[dict] = []
        self.errors: list[str] = []
        self._thread: threading.Thread | None = None

    def merge(self) -> dict | None:
        """Merge the next batch; None if the writer failed (a counted error)."""
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
            versioned_table as VT,
        )
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.streaming import (
            ingest,
        )

        b = self.batches
        self.batches += 1
        batch = C.batch_df(self.spark, self.n, self.seed, b, self.cfg)
        start = time.time()
        self.spark.sparkContext.setJobGroup(f"merge-{b}", "ingest merge")
        try:
            # looked up per call, so a span recorder installed later sees it
            ingest.merge_batch_versioned(batch, self.vt_path, epoch_id=b)
        except Exception as exc:
            self.errors.append(f"merge {b}: {type(exc).__name__}: {exc}")
            return None
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return {"batch": b, "start": start, "end": time.time(),
                "version": VT.current_version(self.vt_path)}

    def start(self, t0: float, end: float) -> None:
        self._thread = threading.Thread(target=self._run, args=(t0, end), daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join(timeout=150)

    def _run(self, t0: float, end: float) -> None:
        period = self.cfg["batch_period_s"]
        for k in range(math.ceil((end - t0) / period)):
            due = t0 + k * period
            time.sleep(max(0.0, due - time.time()))
            merged = self.merge()
            if merged is not None:
                self.log.append({"due": due, **merged})


def check_ingest(spark, vt_path: str, batches: int, n: int, seed: int,
                 cfg: dict) -> list[str]:
    """The newest version must hold every original and new key once, with
    the expected tombstones after the merged batches."""
    from pyspark.sql import functions as F

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
        versioned_table as VT,
    )

    want_rows, want_deleted = C.after_batches(n, seed, batches, cfg)
    row = VT.read(spark, vt_path).agg(
        F.count("*").alias("rows"),
        F.countDistinct("aggregator_identifier").alias("keys"),
        F.count(F.when(F.col("metadata.status") == "deleted", 1)).alias("deleted"),
    ).first()
    got = (row["rows"], row["keys"], row["deleted"])
    if got != (want_rows, want_rows, want_deleted):
        return [f"ingest: newest version has (rows, keys, deleted)={got}, "
                f"expected {(want_rows, want_rows, want_deleted)}"]
    return []


def setup_once(args, cfg: dict, work: str, rep: int):
    """One full set-up; returns (spark, server, planner, facts)."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.facade import OAIFacade
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.oai.server import OAIHTTPServer
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.plans.query_builder import (
        OAIQueryPlanner,
    )
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
        versioned_table as VT,
    )

    steps = {}
    t = time.perf_counter()

    def step(name):
        nonlocal t
        now = time.perf_counter()
        steps[name] = now - t
        t = now

    spark = build_session("perfbench", master=args.master,
                          shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    step("session")
    path = os.path.join(work, f"corpus{rep}")
    df = C.studies_df(spark, args.n, args.seed)
    vt_path = vt_version = None
    if args.workload == "ingest":
        vt_path = path
        VT.create(df, path)
        step("write")
        VT.compact(spark, path, target_files=cfg["vt_files"],
                   cluster_by="aggregator_identifier")
        step("compact")
        vt_version = VT.current_version(path)
        VT.build_blooms(spark, path, vt_version, "aggregator_identifier")
        step("blooms")
        studies = VT.read(spark, path, version=vt_version)
    else:
        df.write.parquet(path)
        step("write")
        studies = spark.read.parquet(path)
    planner = OAIQueryPlanner(studies, source_defs=C.source_defs(),
                              page_size=C.PAGE_SIZE, vt_path=vt_path,
                              vt_version=vt_version)
    facade = OAIFacade(planner)
    server = OAIHTTPServer(facade, port=0).start()
    url = f"http://127.0.0.1:{server.port}/v0/oai?verb=Identify"
    with urllib.request.urlopen(url, timeout=120) as resp:
        if resp.status != 200:
            raise RuntimeError(f"first request answered {resp.status}")
        resp.read()
    step("serve")
    return spark, server, planner, {"path": path, "vt_path": vt_path, "steps": steps}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--n", type=int, required=True)
    ap.add_argument("--master", required=True, help="Spark master")
    ap.add_argument("--config", required=True, help="workload config as JSON")
    ap.add_argument("--work", required=True, help="scratch directory to use")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    cfg = json.loads(args.config)
    os.makedirs(args.work, exist_ok=True)

    setup_wall_s, setup_cpu_s, setup_steps = [], [], []
    spark = server = planner = None
    facts: dict = {}
    for rep in range(SETUP_REPS):
        if server is not None:
            server.stop()
            spark.stop()
            shutil.rmtree(facts["path"], ignore_errors=True)
        cpu0 = proc.cpu_s(proc.tree(os.getpid()))
        t0 = time.perf_counter()
        spark, server, planner, facts = setup_once(args, cfg, args.work, rep)
        setup_wall_s.append(time.perf_counter() - t0)
        setup_cpu_s.append(proc.cpu_s(proc.tree(os.getpid())) - cpu0)
        setup_steps.append(facts["steps"])
    corpus_bytes = dir_bytes(facts["path"])
    ingest = None
    if args.workload == "ingest":
        ingest = Ingest(spark, facts["vt_path"], cfg, args.n, args.seed)
        ingest.merge()
    tracer = None
    if args.trace:
        import spans
        tracer = spans.Tracer(spark, server, planner)
        tracer.install()
    print("READY " + json.dumps({"port": server.port, "pid": os.getpid()}), flush=True)

    for line in sys.stdin:
        cmd, _, rest = line.strip().partition(" ")
        if cmd == "GO":
            if ingest is not None:
                t0, seconds = map(float, rest.split())
                ingest.start(t0, t0 + seconds)
        elif cmd == "STOP":
            if ingest is not None:
                ingest.join()
            print("IDLE", flush=True)
        elif cmd == "FINISH":
            break
    errors: list[str] = []
    out = {"setup_wall_s": setup_wall_s, "setup_cpu_s": setup_cpu_s, "setup_steps": setup_steps,
           "corpus_rows": args.n, "corpus_bytes": corpus_bytes, "merges": [],
           "spans": None, "layer": {}}
    if ingest is not None:
        errors += ingest.errors
        out["merges"] = ingest.log
        from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
            versioned_table as VT,
        )
        errors += check_ingest(spark, facts["vt_path"], ingest.batches, args.n,
                               args.seed, cfg)
        out["layer"]["served_version_lag"] = (
            VT.current_version(facts["vt_path"]) - planner.vt_version)
        out["layer"]["vt_bytes_on_disk"] = dir_bytes(facts["vt_path"])
        m = VT.read_manifest(facts["vt_path"], VT.current_version(facts["vt_path"]))
        out["layer"]["vt_live_bytes"] = sum(os.path.getsize(f) for f in m["files"])
        out["layer"]["merge_files"] = merge_file_stats(facts["vt_path"], planner.vt_version)
    if tracer is not None:
        out["spans"] = tracer.finish()
    out["errors"] = errors
    server.stop()
    spark.stop()
    print("DONE " + json.dumps(out), flush=True)
    return 0


def merge_file_stats(vt_path: str, base: int) -> list[dict]:
    """Per merge version after ``base``: files rewritten (parent files
    dropped), files and bytes written."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources import (
        versioned_table as VT,
    )
    rows = []
    for v in VT.versions(vt_path):
        if v <= base:
            continue
        m, p = VT.read_manifest(vt_path, v), VT.read_manifest(vt_path, v - 1)
        new = [f for f in m["files"] if f not in set(p["files"])]
        rows.append({"version": v,
                     "files_rewritten": len(set(p["files"]) - set(m["files"])),
                     "files_written": len(new),
                     "bytes_written": sum(os.path.getsize(f) for f in new)})
    return rows


if __name__ == "__main__":
    sys.exit(main())
