"""The one op runner behind bench.py, tools/bench_ab_worker.py,
tools/ladder.py and tools/profile_ops.py.

The package is imported inside each function, never at module level:
the A/B worker loads this file from its own directory, then puts a
pinned checkout first on ``sys.path``, and must time that checkout's code.
"""

from __future__ import annotations

import io
import time
from contextlib import redirect_stdout


def op_builders() -> dict:
    """Op name -> ``(spark, sf_dir) -> DataFrame``, for every singleton
    slot and every suite sub-op."""
    import __spark_entry__ as entrymod
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.operators import suites

    builders = {name: fn for name, fn in entrymod.queries().items()
                if name not in suites.SUITE_SUBS}
    for subs in suites.SUITE_SUBS.values():
        for s in subs:
            builders[s.op] = (lambda spark, sf_dir, s=s:
                              suites._spark_long(s.fn(spark, sf_dir), s))
    return builders


def cold_warm(spark, run):
    """Clear the memo registry, time one cold ``run()``, then the best of
    2 warm runs (one warm sample is at the mercy of a single GC pause).
    Returns ``(cold_s, warm_s, result of the last run)``."""
    from cessda_cdc_aggregator_oai_pmh_repo_handler_spark.sources.tables import (
        clear_corpus_caches,
    )

    clear_corpus_caches(spark)
    t0 = time.perf_counter()
    out = run()
    cold = time.perf_counter() - t0
    warm = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        out = run()
        warm = min(warm, time.perf_counter() - t0)
    return cold, warm, out


def explain_text(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()
