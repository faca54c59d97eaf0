"""The shared op runner (tools/oprun.py) and the two tools built on it:
the scale ladder (tools/ladder.py) and the op profiler
(tools/profile_ops.py)."""

from __future__ import annotations

import json
import os
import pathlib

from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import suites
from tools.ladder import gen_sf1, run_ladder
from tools.oprun import op_builders
from tools.profile_ops import profile_op

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_committed_rosters_resolve():
    """Every op of the committed ladders and of the census still has a
    builder, so each artifact can be re-run by name."""
    names = set()
    for r in ("R8", "R9", "R10", "R11"):
        names |= set(json.loads((REPO / f"STRESS_{r}.json").read_text())["ops"])
    with open(REPO / "CENSUS_R11.jsonl") as fh:
        census = {json.loads(line)["op"] for line in fh}
    assert len(census) == 295
    builders = op_builders()
    assert sorted((names | census) - set(builders)) == []


def test_ladder_three_rungs(spark, sf_dir, tmp_path):
    gen_sf1(spark, sf_dir, str(tmp_path))
    rungs = [("0.001", sf_dir), ("slice", str(tmp_path)),
             ("0.01", os.path.join(os.path.dirname(sf_dir), "sf0.01"))]
    report = run_ladder(spark, ["count_filtered", "union_dedup"], rungs)
    keys = {"t_ratio_10x_data", "t_ratio_100x_data"}
    for label, _ in rungs:
        keys |= {label, f"rows_{label}"}
    for rec in report.values():
        assert set(rec) == keys
    # a sub-op runs in its suite's long form: one row per (key, value)
    sub = next(s for s in suites.SUITE_SUBS["set_ops"] if s.op == "union_dedup")
    raw = len(sub.fn(spark, str(tmp_path)).collect())
    assert report["union_dedup"]["rows_slice"] == raw * len(sub.values) > 0
    single = op_builders()["count_filtered"](spark, str(tmp_path)).collect()
    assert report["count_filtered"]["rows_slice"] == len(single)


def test_profile_op_bills_one_op(spark, sf_dir):
    rec = profile_op(spark, "union_dedup", op_builders()["union_dedup"], sf_dir)
    assert set(rec) == {"op", "build_s", "build_jobs", "noop_s", "warm_s",
                        "exec_jobs", "exec_stages", "exec_tasks"}
    assert rec["op"] == "union_dedup" and len(rec["warm_s"]) == 2
    assert rec["exec_jobs"] >= 1
