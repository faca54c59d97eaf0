"""Scale ladder: time named ops at sf0.01, sf0.1 and, with ``--sf1 DIR``,
a synthetic sf1 slice built in DIR (reused if present), and report each
op's warm-time ratio per decade of data. A bounded-relation op should
scale far below 10x per decade; near 10x, the data path dominates.

Ops are timed like the bench (``oprun``), sub-ops in their suite's long
form, so a sub-op's ``rows_<rung>`` is its row count times
``len(values)``. A failing op gets an ``error`` key; the ladder goes on.

Usage: python tools/ladder.py OP [OP ...] [--sf1 DIR] [--json PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession, functions as F

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.session import build_session
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
    DEFAULT_SF_DIR, TABLES,
)
from tools.oprun import cold_warm, op_builders

REPS = 10
# key offset per replica: sf0.1 keys are far below 1e8, and the result
# must survive spatial.py's Knuth multiplicative hash (key * ~2.65e9)
# within int64 — rep*1e9 offsets overflowed there
OFF = 10 ** 8

# per-table integer key columns to shift by rep*OFF (PK + FKs into other
# replicated tables; nation/region keys stay — they are dimensions)
KEY_COLS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _rot(rep: int) -> tuple[str, str]:
    """Per-replica lowercase alphabet rotation for translate()."""
    src = "abcdefghijklmnopqrstuvwxyz"
    dst = src[rep:] + src[:rep]
    return src, dst


def gen_sf1(spark: SparkSession, src_dir: str, out_dir: str) -> None:
    """Write the 10x replica slice of ``src_dir`` to ``out_dir``: each
    table crossJoins 10 replicas with keys shifted by rep*OFF (FK integrity
    and per-key shapes survive). Documents are letter-rotated and
    embeddings perturbed per replica, so replicas are not near-duplicates
    of each other (a naive copy would hand the dedup family 45*|docs|
    cross-replica pairs). region/nation stay dimension-sized."""
    reps = spark.range(REPS).select(F.col("id").alias("_rep"))
    for t in TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        if t in ("region", "nation"):
            df.write.mode("overwrite").parquet(dst)
            continue
        big = df.crossJoin(F.broadcast(reps))
        for k in KEY_COLS.get(t, ()):
            big = big.withColumn(
                k, (F.col(k) + F.col("_rep") * F.lit(OFF)).cast("long"))
        if t == "documents":
            # per-rep letter rotation: replicas stop being near-dups of
            # each other while within-replica shingle structure and
            # corpus statistics keep their shape
            expr = F.col("text")
            for rep in range(1, REPS):
                s, d = _rot(rep)
                expr = F.when(F.col("_rep") == rep,
                              F.translate(F.col("text"), s, d)) \
                    .otherwise(expr)
            big = big.withColumn("text", expr)
        if t == "embeddings":
            big = big.withColumn(
                "embedding",
                F.transform(
                    F.col("embedding"),
                    lambda x, i: F.when(
                        i == 0,
                        x + F.col("_rep").cast("float") * F.lit(1e-3)
                    ).otherwise(x)))
        (big.drop("_rep")
            .repartition(32)
            .write.mode("overwrite").parquet(dst))


def run_ladder(spark: SparkSession, names: list[str],
               rungs: list[tuple[str, str]]) -> dict:
    """Per op: ``<label>`` warm seconds and ``rows_<label>`` for each
    ``(label, sf_dir)`` rung, then ``t_ratio_10x_data`` (rung 2 over
    rung 1) and, with a third rung, ``t_ratio_100x_data`` (rung 3 over
    rung 1). A failing op gets ``error`` in place of the ratios."""
    builders = op_builders()
    report: dict = {}
    for name in names:
        rec: dict = {}
        try:
            build = builders[name]
            for label, sf_dir in rungs:
                _, warm, rows = cold_warm(
                    spark, lambda: len(build(spark, sf_dir).collect()))
                rec[label] = round(warm, 3)
                rec[f"rows_{label}"] = rows
        except Exception as ex:  # one op must not kill the ladder
            report[name] = {**rec, "error": repr(ex)[:300]}
            print(f"{name}: ERROR {ex!r}"[:200], file=sys.stderr, flush=True)
            continue
        base = max(rec[rungs[0][0]], 1e-9)
        for key, (label, _) in zip(("t_ratio_10x_data", "t_ratio_100x_data"),
                                   rungs[1:]):
            rec[key] = round(rec[label] / base, 2)
        report[name] = rec
        print(name + ": " + " -> ".join(f"{rec[lb]}s" for lb, _ in rungs),
              file=sys.stderr, flush=True)
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="+", help="op names (see tools/oprun.py)")
    ap.add_argument("--sf1", metavar="DIR",
                    help="add the synthetic sf1 slice rung, built in DIR")
    ap.add_argument("--json", metavar="PATH", help="also write the report")
    args = ap.parse_args()

    data = os.path.dirname(DEFAULT_SF_DIR.rstrip("/"))
    rungs = [("0.01", os.path.join(data, "sf0.01")),
             ("0.1", os.path.join(data, "sf0.1"))]
    spark = build_session("ladder")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"rungs": dict(rungs)}
    if args.sf1:
        os.makedirs(args.sf1, exist_ok=True)
        t0 = time.perf_counter()
        gen_sf1(spark, rungs[1][1], args.sf1)
        out["sf1_slice"] = {"dir": args.sf1, "src": rungs[1][1], "reps": REPS,
                            "gen_s": round(time.perf_counter() - t0, 1)}
        rungs.append(("1", args.sf1))
    out["ops"] = run_ladder(spark, args.ops, rungs)
    spark.stop()
    print(json.dumps(out))
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
