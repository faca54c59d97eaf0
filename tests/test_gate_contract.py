"""Chaos test for the driver gate contract itself (round-4 post-mortem).

Round 4 shipped a one-line codec bug that executed at *import* time via the
multimodal ORACLES literal, zeroing all 50 gate rows instead of one. These
tests convert "the driver found an empty gate" into a local red test:

- importing ``__spark_entry__`` must execute NO codec (poisoned-encoder
  import must still succeed),
- the gate must declare exactly 50 queries with matching oracle keys,
- a codec regression must degrade exactly ``multimodal_features`` to a
  rows-only check (oracle entry dropped), never raise out of
  ``oracle_sql()``.
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

import __spark_entry__ as entry_mod
from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import multimodal

GATE_SIZE = 50
REPO = pathlib.Path(__file__).resolve().parent.parent
OPERATORS = REPO / "cessda_cdc_aggregator_oai_pmh_repo_handler_spark" / "operators"


def test_gate_declares_exactly_50_queries_with_oracles():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert len(q) == GATE_SIZE
    assert len(o) == GATE_SIZE
    assert set(o) == set(q)
    assert list(q) == entry_mod.GATE_ORDER
    for name, fn in q.items():
        assert callable(fn), name
    for name, sql in o.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_import_executes_no_codec():
    """Importing the entry module (and the multimodal operator) must not run
    any encoder/decoder: a subprocess stubs the codec primitives to raise
    BEFORE importing, and the import must still succeed."""
    script = f"import sys\nsys.path.insert(0, {str(REPO)!r})\n" + r"""
# Poison the codec layer before anything imports it.
import cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators.jpeg as J

def _boom(*a, **k):
    raise RuntimeError("codec executed at import time")

J.encode_jpeg_rgb = _boom
J.decode_jpeg = _boom

import __spark_entry__ as m
q = m.queries()
assert len(q) == 50, len(q)
# oracle_sql() with a broken codec: multimodal_features degrades to a
# rows-only check (entry dropped), everything else stays.
o = m.oracle_sql()
assert "multimodal_features" not in o, "poisoned oracle should drop out"
assert len(o) == 49, len(o)
print("OK")
"""
    res = subprocess.run([sys.executable, "-c", script],
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr
    assert "OK" in res.stdout


def test_lazy_oracle_is_memoized_and_matches_gate_key():
    multimodal.oracles.cache_clear()
    first = multimodal.oracles()
    assert set(first) == {"multimodal_features"}
    assert first is multimodal.oracles()  # memoized
    assert "VALUES" in first["multimodal_features"]


_BANNED_MOMENT_FNS = {
    # double moment sketches whose partial merges are shuffle-order
    # dependent: round(·, k) only *usually* absorbs the ulps — the r5/r6
    # sql_surface_suite gate flake. Hashed statistics must come from exact
    # integer/DECIMAL sufficient statistics with single-shot float at the
    # end (the acf_lag / ridge_regression pattern).
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp",
    "corr", "covar_samp", "covar_pop", "skewness", "kurtosis",
    "regr_slope", "regr_intercept", "regr_r2", "regr_avgx", "regr_avgy",
    "regr_sxx", "regr_sxy", "regr_syy", "regr_count",
}

# (module, fn): moment calls that do NOT feed a hashed metric
_MOMENT_ALLOWLIST = {
    # pca: var_pop feeds a 1e-6-tolerance boolean indicator, not a raw
    # hashed value
    ("clustering.py", "var_pop"),
}


def test_no_merge_order_sensitive_moments_in_operators():
    """The exactness-sweep contract (r6 verdict #1): no operator module may
    call a double moment-sketch aggregate — AST walk, so docstrings and
    comments don't false-positive."""
    import ast

    offenders = []
    for path in sorted(OPERATORS.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and (
                    node.attr in _BANNED_MOMENT_FNS
                    or node.attr == "var_pop"):
                if (path.name, node.attr) in _MOMENT_ALLOWLIST:
                    continue
                offenders.append(f"{path.name}:{node.lineno} F.{node.attr}")
    assert not offenders, offenders


def test_no_float_sum_in_hashed_inertia_or_oracles():
    """Companion source asserts: the kmeans inertia and the stats/regr
    oracles must accumulate exactly (floor-to-integer before the sum, or
    HUGEINT/DECIMAL sums), never round(sum(double))."""
    clustering = (OPERATORS / "clustering.py").read_text()
    assert 'F.round(F.sum("dist_sq"' not in clustering
    assert "round(sum(dist)" not in clustering
    rel = (OPERATORS / "relational_ext.py").read_text()
    for banned in ("round(stddev_samp", "round(corr(", "round(covar_samp",
                   "round(regr_"):
        assert banned not in rel, banned
    ta = (OPERATORS / "text_analysis.py").read_text()
    assert "stddev_samp(n_chars) OVER" not in ta


def test_suite_roster_is_canonical_and_complete():
    """r6 verdict #2: the per-sub-op hash sidecar must see every sub-op a
    suite ships. SUITE_SUBS is the single structure both the suite queries
    and tools/suite_hashes.py derive from; ops must be globally unique and
    the once-invisible approx_distinct must be in the roster."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import suites

    assert set(suites.QUERIES) == set(suites.SUITE_SUBS)
    assert set(suites.ORACLES) == set(suites.SUITE_SUBS)
    all_ops = [s.op for subs in suites.SUITE_SUBS.values() for s in subs]
    assert len(all_ops) == len(set(all_ops)), "duplicate sub-op names"
    corpus_ops = {s.op for s in suites.SUITE_SUBS["corpus_stats_suite"]}
    assert "approx_distinct" in corpus_ops

    import tools.suite_hashes as sh
    assert sh.SUITES is suites.SUITE_SUBS


def test_pre_long_sub_emits_long_schema(spark):
    """A pre_long Sub's fn must already produce the (op, k, metric, value)
    long format, and its op tags must all equal its roster name — the
    invariant that lets _spark_long/_oracle_long pass it through."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import suites

    pre = [s for subs in suites.SUITE_SUBS.values() for s in subs if s.pre_long]
    assert pre, "approx_distinct should be a pre_long Sub"
    for s in pre:
        df = suites._spark_long(s.fn(spark, "/root/testdata/sf0.001"), s)
        assert df.columns == ["op", "k", "metric", "value"]
        rows = df.collect()
        assert rows and all(r["op"] == s.op for r in rows)
        assert {r["metric"] for r in rows} == set(s.values)


def test_entry_smoke_runs_flagship(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns  # stable, non-empty schema
