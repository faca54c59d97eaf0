"""Smoke test of the serving benchmark: every workload at a tiny size for a
few seconds, plus checks of the trace bookkeeping on hand-made spans.
Takes a few minutes (each run starts Spark).

    python3 -m pytest -q perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

NAMED = ("setup_s", "page_p50_s", "page_tail_s", "first_page_p50_s",
         "harvest_records_per_s", "lookup_p50_s", "lookup_tail_s",
         "lookup_max_ok_rps", "scrape_p50_s", "listsets_p50_s",
         "ingest_batch_p50_s", "ingest_batch_tail_s", "failed_frac",
         "server_rss_mb", "setup_wall_s", "setup_cpu_s", "cpu_ms_per_op",
         "cpu_ms_per_op_unscaled", "host_probe_ms", "generator_lag_max_s")


def bench(workload: str, trace: int = 0, *extra: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "4", "--trace", str(trace),
         "--records", "3000", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def assert_metrics(printed: dict, listed: list[dict]) -> None:
    assert set(printed) == {m["name"] for m in listed}
    for m in listed:
        value = printed[m["name"]]
        assert value["unit"] == m["unit"], m["name"]
        assert isinstance(value["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", ["harvest", "ingest", "portal"])
def test_workload_prints_every_metric(workload):
    detail, result = bench(workload)
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] >= 1
    assert_metrics(result["metrics"], spec()["end_to_end"])
    for name in NAMED:
        assert "unit" in detail["named"][name], name


def test_traced_run_prints_every_layer():
    detail, result = bench("ingest", 1)
    assert result["correct"], detail["failures"]
    assert_metrics(result["metrics"], spec()["per_layer"])
    assert result["metrics"]["spark.jobs.ListRecords.resumed"]["value"] >= 1


def test_wrong_expected_answer_is_a_failure():
    detail, result = bench("ingest", 0, "--corrupt-expected")
    assert not result["correct"]
    assert result["failed"] >= 1
    assert any("gauges" in f for f in detail["failures"])


def traced_page(drop: str | None = None):
    """One traced and one plain resumed page of 1 s; the traced one's spans
    are a facade call that plans, collects and renders a record (whose
    header is rendered inside it), without the span named ``drop``."""
    verb = "ListRecords.resumed"
    log = run.Log()
    for rid, phase in (("r1", "traced"), ("r2", "plain")):
        log.add({"kind": "resumed", "rid": rid, "due": 0.0, "sent": 0.0, "done": 1.0,
                 "phase": phase, "records": 100}, None)
    spans = [["oai.server", 0.0, 0.95, -1, "r1", {"verb": verb, "jobs": 1, "tasks": 2}],
             ["oai.facade", 0.1, 0.9, 0, "r1", {}],
             ["plans.query_builder", 0.2, 0.6, 1, "r1", {}],
             ["spark.action", 0.3, 0.5, 2, "r1",
              {"fn": "collect", "rows": 100, "scan_rows": 300, "files": 2}],
             ["oai.render", 0.6, 0.8, 1, "r1", {"fn": "render_record"}],
             ["oai.render", 0.65, 0.7, 4, "r1", {"fn": "render_header"}]]
    if drop is not None:  # as if its wrapper stopped matching: children move up
        k = next(k for k, s in enumerate(spans) if s[0] == drop)
        up = [s[:3] + [spans[k][3] if s[3] == k else s[3]] + s[4:] for s in spans]
        spans = [s[:3] + [s[3] - (s[3] > k)] + s[4:] for j, s in enumerate(up) if j != k]
    return run.layer_metrics("harvest", {"trace_verb": verb}, log,
                             {"spans": spans, "layer": {}})


def test_layers_add_up_and_nested_renders_count_once():
    metrics, problems = traced_page()
    assert problems == []
    value = {k: v["value"] for k, v in metrics.items()}
    assert value["oai.render.render_s.ListRecords.resumed"] == pytest.approx(0.2)
    assert value["spark.action_s.ListRecords.resumed"] == pytest.approx(0.2)
    assert value["plans.query_builder.build_s.ListRecords.resumed"] == pytest.approx(0.2)
    assert value["oai.server.overhead_s"] == pytest.approx(0.2)
    assert value["trace.layers_sum_s"] == pytest.approx(1.0)
    assert value["spark.scan_rows_per_row_returned.ListRecords.resumed"] == 3.0


@pytest.mark.parametrize("layer", ["spark.action", "plans.query_builder", "oai.facade"])
def test_missing_layer_is_a_failure(layer):
    _, problems = traced_page(drop=layer)
    assert any(layer in p for p in problems), problems
