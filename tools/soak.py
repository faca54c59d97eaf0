"""Flake soak: run the full 50-query battery N times in ONE Spark session
(driver conditions — shared session, memo caches, AQE state) and diff the
per-query value hashes across runs. A query whose hash varies run-to-run
is a nondeterminism bug even if every individual run matches the oracle
(the round-5 sql_surface_suite flake class: merge-order ulps under
``round(SUM(double), 2)``).

Round-7 adversity mode (r6 verdict #5): the quiet 5-battery soak passed
in r5/r6 while the driver still flaked, so batteries now run under
DELIBERATELY varied merge conditions:

- ``spark.sql.shuffle.partitions`` cycles 8 / 32 / 113 across batteries
  (different partial-aggregation fan-ins → different merge orders), and
- optional concurrent CPU load (busy subprocesses, default 8, env
  ``SOAK_LOAD_WORKERS``; 0 disables) perturbs task scheduling order.

A hashed value that survives byte-identical across all configs cannot be
hiding an order-sensitive float fold. Any unstable-or-wrong SUITE row is
auto-drilled per sub-op in the same session (r6 verdict #4), so the
artifact names the culprit.

Also computes each query's DuckDB oracle hash once, so one artifact
answers both "is it stable?" and "is it right?".

Usage: python tools/soak.py [n_runs] [sf_dir] [query ...]
Writes SOAK.json at the repo root and exits nonzero on any instability
or oracle mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 5
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[3:])
SHUFFLE_CONFIGS = [8, 32, 113]
LOAD_WORKERS = int(os.environ.get("SOAK_LOAD_WORKERS", "8"))

os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from tools.drill import drill_suite  # noqa: E402
from tools.hashing import value_hash  # noqa: E402
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import (  # noqa: E402
    build_session,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (  # noqa: E402
    TABLES,
)

_BUSY = "while True:\n    x = 123456789 ** 2 % 97\n"


def _spawn_load(n: int) -> list[subprocess.Popen]:
    return [subprocess.Popen([sys.executable, "-c", _BUSY],
                             stdout=subprocess.DEVNULL,
                             stderr=subprocess.DEVNULL)
            for _ in range(n)]


def main():
    spark = build_session("soak")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = [n for n in qs if not ONLY or n in ONLY]

    oracle_hash: dict[str, str | None] = {}
    for name in names:
        if name not in oracles:
            oracle_hash[name] = None
            continue
        res = con.execute(oracles[name])
        oracle_hash[name] = value_hash(
            [d[0] for d in res.description], res.fetchall())

    hashes: dict[str, list[str]] = {n: [] for n in names}
    configs_used = []
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    t0 = time.time()
    load = _spawn_load(LOAD_WORKERS) if LOAD_WORKERS else []
    try:
        for run in range(N):
            parts = SHUFFLE_CONFIGS[run % len(SHUFFLE_CONFIGS)]
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            configs_used.append(parts)
            for name in names:
                sdf = qs[name](spark, SF_DIR)
                hashes[name].append(
                    value_hash(sdf.columns, [tuple(r) for r in sdf.collect()]))
            done = sum(1 for n in names if len(set(hashes[n])) == 1)
            print(f"run {run + 1}/{N} (shuffle={parts}, load={len(load)}): "
                  f"{done}/{len(names)} stable so far "
                  f"({time.time() - t0:.0f}s)", flush=True)
    finally:
        for p in load:
            p.kill()
        # restore the session default for the drill pass
        spark.conf.set("spark.sql.shuffle.partitions", base_parts)

    report, bad = {}, []
    for name in names:
        distinct = sorted(set(hashes[name]))
        ok_stable = len(distinct) == 1
        ok_oracle = (oracle_hash[name] is None
                     or distinct == [oracle_hash[name]])
        report[name] = {
            "runs": N,
            "distinct_hashes": len(distinct),
            "stable": ok_stable,
            "matches_oracle": ok_oracle if oracle_hash[name] else None,
        }
        if not (ok_stable and ok_oracle):
            bad.append(name)
            report[name]["hashes"] = distinct
            report[name]["oracle_hash"] = oracle_hash[name]
            culprits = drill_suite(spark, con, name, SF_DIR)
            report[name]["culprit_ops"] = [c["op"] for c in culprits]

    out = {
        "n_runs": N,
        "sf_dir": SF_DIR,
        "queries": len(names),
        "shuffle_partition_configs": configs_used,
        "load_workers": len(load),
        "unstable_or_wrong": bad,
        "wall_sec": round(time.time() - t0, 1),
        "detail": report,
    }
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SOAK.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("n_runs", "queries", "shuffle_partition_configs",
                       "load_workers", "unstable_or_wrong", "wall_sec")}))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
