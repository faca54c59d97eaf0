"""Per-sub-operator hash sidecar for the suite gate rows (VERDICT r5 #3).

The six suite queries fold 135+ verified sub-operators into single gate
rows; when a suite's hash mismatches, the driver artifact can't name the
culprit. This tool computes, for EVERY Sub inside every suite, the
Spark-long-format hash vs the oracle-long-format hash — one artifact read
identifies the failing sub-operator.

Usage: python tools/suite_hashes.py [sf_dir] [suite ...]
Writes SUITE_HASHES.json at the repo root; exits nonzero on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
ONLY: set[str] = set()

# argv/env handling only under __main__ so importing this module (tests,
# the auto-drill) has no side effects; the env export must precede the
# entry-module import chain because corpus-dependent literal oracles
# (e.g. the BPE merge table) are built at import time for that sf_dir.
if __name__ == "__main__":
    if len(sys.argv) > 1:
        SF_DIR = sys.argv[1]
    ONLY = set(sys.argv[2:])
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR

import duckdb  # noqa: E402

from tools.hashing import value_hash  # noqa: E402
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import (  # noqa: E402
    suites,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import (  # noqa: E402
    build_session,
)
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (  # noqa: E402
    TABLES,
)

# the roster IS the structure the suite queries are built from — a sub-op
# cannot ship in a gate row without being hashable here (r6 verdict #2)
SUITES = suites.SUITE_SUBS


def main():
    spark = build_session("suite-hashes")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    report, bad = {}, []
    for suite_name, subs in SUITES.items():
        if ONLY and suite_name not in ONLY:
            continue
        ops = {}
        for s in subs:
            sdf = suites._spark_long(s.fn(spark, SF_DIR), s)
            sh = value_hash(sdf.columns, [tuple(r) for r in sdf.collect()])
            res = con.execute(suites._oracle_long(s))
            oh = value_hash([d[0] for d in res.description], res.fetchall())
            ops[s.op] = {"spark": sh[:16], "oracle": oh[:16],
                         "match": sh == oh}
            if sh != oh:
                bad.append(f"{suite_name}.{s.op}")
            print(("OK  " if sh == oh else "FAIL") +
                  f" {suite_name}.{s.op}", flush=True)
        report[suite_name] = ops

    out = {"sf_dir": SF_DIR, "mismatches": bad, "suites": report}
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SUITE_HASHES.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({"mismatches": bad}))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
