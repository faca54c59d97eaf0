"""Op profiler: isolate one op (a singleton slot or a suite sub-op),
time it warm through the noop sink, and bill its Spark work through the
status tracker, the local stand-in for the (disabled) UI.

Usage: python tools/profile_ops.py [--explain DIR] OP [OP ...]
at ``$SPARK_GRAFT_SF_DIR``. Per op it prints one JSON line: build_s and
build_jobs (jobs fired while CONSTRUCTING the DataFrame), noop_s with its
exec_jobs/exec_stages/exec_tasks bill, and warm_s (2 more noop runs).
``--explain DIR`` writes DIR/<op>.txt formatted plans instead.

Not named ``profile.py``: that would shadow the stdlib ``profile``
module, which pyspark imports, for every script run from tools/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
    DEFAULT_SF_DIR,
)
from tools.oprun import explain_text, op_builders


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _next_job_id(sc) -> int:
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return (max(ids) + 1) if ids else 0


def _job_bill(sc, first_job):
    tracker = sc.statusTracker()
    jobs = [j for j in tracker.getJobIdsForGroup(None) if j >= first_job]
    stages = 0
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = tracker.getStageInfo(sid)
            if si is not None and si.numActiveTasks + si.numCompletedTasks + si.numFailedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


def profile_op(spark, name: str, build, sf_dir: str) -> dict:
    """The JSON record for one op (see the module docstring)."""
    sc = spark.sparkContext
    # warm the shared memo caches once (the bench's warm semantics)
    _noop(build(spark, sf_dir))

    j0 = _next_job_id(sc)
    t0 = time.perf_counter()
    df = build(spark, sf_dir)
    build_s = time.perf_counter() - t0
    build_jobs = _job_bill(sc, j0)[0]

    sc.setJobDescription(f"profile:{name}")
    j0 = _next_job_id(sc)
    t0 = time.perf_counter()
    _noop(df)
    noop_s = time.perf_counter() - t0
    exec_jobs, exec_stages, exec_tasks = _job_bill(sc, j0)
    warm = []
    for _ in range(2):
        df = build(spark, sf_dir)
        t0 = time.perf_counter()
        _noop(df)
        warm.append(round(time.perf_counter() - t0, 4))
    sc.setJobDescription(None)
    return {"op": name, "build_s": round(build_s, 4),
            "build_jobs": build_jobs, "noop_s": round(noop_s, 4),
            "warm_s": warm, "exec_jobs": exec_jobs,
            "exec_stages": exec_stages, "exec_tasks": exec_tasks}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="+", help="op names (see tools/oprun.py)")
    ap.add_argument("--explain", metavar="DIR",
                    help="write each op's formatted plan to DIR/<op>.txt "
                         "and skip timing")
    args = ap.parse_args()
    builders = op_builders()

    spark = build_session("profile-ops")
    spark.sparkContext.setLogLevel("ERROR")
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in args.ops:
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(explain_text(builders[name](spark, DEFAULT_SF_DIR)))
            print(name, "plan written", flush=True)
    else:
        # session warm-up, so the first op does not pay JVM/codegen start
        next(iter(builders.values()))(spark, DEFAULT_SF_DIR).collect()
        for name in args.ops:
            rec = profile_op(spark, name, builders[name], DEFAULT_SF_DIR)
            print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
