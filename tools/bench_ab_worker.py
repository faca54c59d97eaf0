"""One-repo bench worker for bench.py's same-run A/B interleave mode.

Launched as ``python tools/bench_ab_worker.py <repo_dir>`` — imports the
ENTRY MODULE AND PACKAGE OF <repo_dir> (typically a pinned git worktree
of a prior HEAD), builds its own SparkSession, and then serves a
line-JSON protocol on stdin/stdout:

    -> {"ready": true, "ops": [...]}        (after session + roster build)
    <- {"op": "<name>"}
    -> {"op": "<name>", "sec": 1.234}       (1 warm + 1 timed run)
    <- {"exit": true}

The worker file itself always comes from the CURRENT repo (the pinned
checkout need not contain it); everything it imports comes from the
repo dir it is pointed at, so the two sides never share Python module
state — the failure mode a single-process module-swap design would hit
is cloudpickle serializing by reference and the workers silently running
the OTHER side's code.

The roster is ``oprun.op_builders()``, as in bench.py. ``oprun`` is loaded
from this file's directory before the pinned repo goes on ``sys.path``
(``tools.oprun`` would resolve inside the pinned repo); it imports the
package lazily, so the builders are the pinned repo's.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Protocol lines are prefixed so the parent can tell them apart from
# anything else that lands on this process's stdout (the child JVM shares
# the fd and can emit banners/warnings before the session is up — the r10
# end-of-round interleave died with a JSONDecodeError on exactly that).
AB_MARK = "@AB@"


def emit(obj) -> None:
    print(AB_MARK + json.dumps(obj), flush=True)


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import oprun

    repo = os.path.abspath(sys.argv[1])
    sys.path.insert(0, repo)
    os.chdir(repo)

    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("cdcagg-bench-ab")
    spark.sparkContext.setLogLevel("ERROR")
    builders = oprun.op_builders()

    emit({"ready": True, "ops": sorted(builders)})
    warmed: set[str] = set()
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        req = json.loads(line)
        if req.get("exit"):
            break
        op = req["op"]
        build = builders[op]
        try:
            if op not in warmed:
                build(spark, sf_dir).collect()
                warmed.add(op)
            t0 = time.perf_counter()
            build(spark, sf_dir).collect()
            emit({"op": op, "sec": round(time.perf_counter() - t0, 4)})
        except Exception as e:  # report per-op failure, keep serving
            emit({"op": op, "sec": None, "error": repr(e)})
    spark.stop()


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # the parent must see WHY, not a silent EOF
        import traceback

        emit({"fatal": repr(e), "traceback": traceback.format_exc()[-2000:]})
        raise
