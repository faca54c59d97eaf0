"""Local mirror of the driver's t2 correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf, compare
row count, sorted-column schema, and an order-insensitive value hash.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# corpus-dependent literal oracles (e.g. the BPE merge table) are built at
# import time for this sf_dir — export it BEFORE the entry module loads
if len(sys.argv) > 1:
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sys.argv[1]

import duckdb

import __spark_entry__ as entrymod
from tools.drill import drill_suite
from tools.hashing import norm_cell, value_hash
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.suites import SUITE_SUBS
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import TABLES


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failed.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema {sorted(scols)} vs {sorted(dcols)}")
        if not problems and value_hash(scols, srows) != value_hash(dcols, drows):
            problems.append("value-hash mismatch")
            sset = {"|".join(norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows}
            dset = {"|".join(norm_cell(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows}
            for x in list(sset - dset)[:3]:
                problems.append(f"  spark-only: {x}")
            for x in list(dset - sset)[:3]:
                problems.append(f"  duck-only:  {x}")
            # auto-drill: a suite row folds many sub-ops — re-hash each in
            # THIS session so the failure names the culprit sub-op(s)
            culprits = drill_suite(spark, con, name, sf_dir)
            if culprits:
                problems.append("  culprit sub-ops: " + ", ".join(
                    c["op"] for c in culprits))
            elif name in SUITE_SUBS:
                problems.append(
                    "  drill: every sub-op re-matched individually "
                    "(flake signature — mismatch not reproducible in-session)")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"OK   {name} ({len(srows)} rows)")
    print(f"\n{len(failed)} failed" + (f": {failed}" if failed else ""))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
