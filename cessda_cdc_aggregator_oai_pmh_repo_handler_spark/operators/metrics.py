"""/metrics aggregations (SURVEY §3.3) as ONE Spark job.

The reference scrapes /metrics with 2 + 2·N store round-trips: count(*),
count(not deleted), distinct(_direct_base_url), then per publisher two more
filtered counts (/root/reference/cdcagg_oai/metrics.py:155-201; N+1 plan
asserted tests/test_metrics.py:28-74). Results here are identical — including
the zero-count-group skip (metrics.py:183-186) and the null-keeping
``$ne: deleted`` semantics — but computed with a single ``rollup`` pass:
per-publisher groups and the grand total come out of one shuffle.

At 100 TB: one map-side partial agg per input partition, one exchange on
``direct_base_url`` (the ingest partition key, so with a partitioned layout
even that exchange prunes), rows out = N_publishers + 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import predicates as P
from ..sources.tables import load_table


def metrics_rollup(studies: DataFrame) -> DataFrame:
    """One pass: per-publisher (records_total, records_without_deleted) plus
    the grand-total row (publisher NULL, grouping_level 1)."""
    return (
        studies.rollup("direct_base_url")
        .agg(
            F.count("*").alias("records_total"),
            F.count(F.when(P.not_deleted(), 1)).alias("records_without_deleted"),
            F.grouping("direct_base_url").alias("grouping_level"),
        )
    )


def compute_metrics(studies: DataFrame) -> dict:
    """Collect the rollup into the gauge dict the reference exposes
    (gauge names per /root/reference/cdcagg_oai/metrics.py:120-137)."""
    rows = metrics_rollup(studies).collect()
    out: dict = {"publishers_counts": {}, "publishers_counts_without_deleted": {}}
    for r in rows:
        if r["grouping_level"] == 1:
            out["records_total"] = r["records_total"]
            out["records_total_without_deleted"] = r["records_without_deleted"]
        elif r["direct_base_url"] is not None:
            # zero-count groups cannot exist in a groupBy; the reference's
            # explicit skip (metrics.py:183-186) is structural here.
            out["publishers_counts"][r["direct_base_url"]] = r["records_total"]
            out["publishers_counts_without_deleted"][r["direct_base_url"]] = (
                r["records_without_deleted"]
            )
    out["publishers_total"] = len(out["publishers_counts"])
    return out


_GAUGE_HELP = {
    "records_total": "Total number of records included",
    "records_total_without_deleted":
        "Total number of records included without logically deleted records",
    "publishers_total": "Total number of distinct publishers",
    "publishers_counts": "Number of records included per Publisher",
    "publishers_counts_without_deleted":
        "Number of records included per Publisher without logically deleted records",
}


def escape_label(value: str) -> str:
    return value.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def render_prometheus(metrics: dict) -> str:
    """Prometheus text exposition (S5) of the computed gauges, matching the
    reference's output lines (e.g.
    ``publishers_counts{publisher="some.base.url"} 20.0``,
    /root/reference/tests/test_metrics.py:76-103). The multiprocess merge
    machinery (metrics.py:73-100) is obsolete: one Spark job computes all
    gauges."""
    lines: list[str] = []
    for name in ("records_total", "records_total_without_deleted", "publishers_total"):
        lines.append(f"# HELP {name} {_GAUGE_HELP[name]}")
        lines.append(f"# TYPE {name} gauge")
        lines.append(f"{name} {float(metrics[name])}")
    for name in ("publishers_counts", "publishers_counts_without_deleted"):
        lines.append(f"# HELP {name} {_GAUGE_HELP[name]}")
        lines.append(f"# TYPE {name} gauge")
        for publisher, count in sorted(metrics[name].items()):
            lines.append(
                f'{name}{{publisher="{escape_label(publisher)}"}} {float(count)}'
            )
    return "\n".join(lines) + "\n"


def q_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-table demo of the same plan: orders as the corpus,
    o_orderpriority as publisher, status 'F' as 'deleted'."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.rollup("o_orderpriority")
        .agg(
            F.count("*").alias("records_total"),
            F.count(F.when(F.col("o_orderstatus") != "F", 1)).alias(
                "records_without_deleted"
            ),
            F.grouping("o_orderpriority").cast("int").alias("grouping_level"),
        )
        .select(
            F.col("o_orderpriority").alias("publisher"),
            "records_total", "records_without_deleted", "grouping_level",
        )
    )


QUERIES = {"metrics_rollup": q_metrics_rollup}

ORACLES = {
    "metrics_rollup": """
        SELECT o_orderpriority AS publisher,
               count(*) AS records_total,
               count(*) FILTER (WHERE o_orderstatus <> 'F') AS records_without_deleted,
               CASE WHEN GROUPING(o_orderpriority) = 1 THEN 1 ELSE 0 END AS grouping_level
        FROM orders
        GROUP BY ROLLUP (o_orderpriority)
    """,
}
