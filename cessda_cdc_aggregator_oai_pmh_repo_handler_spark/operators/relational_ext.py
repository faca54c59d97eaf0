"""Relational operators beyond the reference's surface — rounding out the
engine so a user gets the full DataFrame/SQL toolbox at the same
correctness bar (every query DuckDB-oracle checked).

The reference performs no outer/anti joins, set intersections, grouping
sets, or subqueries (SURVEY §2.3/§2.6: "no theta joins, no anti joins…");
these exist because a 100 TB corpus pipeline needs them, and they exercise
Catalyst paths (null-aware anti join, partial cube expansion, subquery
decorrelation) the core set doesn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import (
    exact_avg, exact_sum, exact_wsum, money, rate,
)
from ..sources.tables import corpus_memo, load_table


def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers without orders; null-group counted."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("rows"),
            F.count("o_orderkey").alias("orders"),
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("customers_without_orders"),
        )
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders since 2001 (churn shape)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        c.join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("cnt"))
    )


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT over key populations: parts both ordered in
    quantity ≥ 48 and priced < 950, minus a brand."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    big = li.filter(F.col("l_quantity") >= 48).select(F.col("l_partkey").alias("key"))
    cheap = p.filter(F.col("p_retailprice") < 950).select(F.col("p_partkey").alias("key"))
    brand = p.filter(F.col("p_brand") == "Brand#1").select(F.col("p_partkey").alias("key"))
    both = big.intersect(cheap).exceptAll(brand.distinct())
    return both.agg(F.count("*").alias("keys"), F.sum("key").alias("key_sum"))


def q_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping levels in one
    pass.

    r11 (guide §2.3 — aggregate before you shuffle/expand): Spark plans
    the cube as Expand-THEN-partial-aggregate, so the naive form pushed
    4× the fact rows through the hash aggregate (2.4 M expanded rows at
    sf0.1; 4× the corpus at any scale). Counts and decimal sums are
    associative, so the cube now runs over the (rf, ls) PRE-aggregated
    partials (≤ |rf|·|ls| rows): same four grouping levels, bit-identical
    totals, and the Expand multiplies a K-row relation instead of the
    fact."""
    li = load_table(spark, "lineitem", sf_dir)
    pre = (li.groupBy("l_returnflag", "l_linestatus")
           .agg(F.count("*").alias("_c"),
                F.sum(money("l_extendedprice")).alias("_s")))
    return (
        pre.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_c").cast("long").alias("cnt"),
            F.round(F.sum("_s"), 2).cast("double").alias("sum_price"),
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
        )
    )


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price — scalar subquery feeding a
    filter (Catalyst turns it into a broadcast of one value)."""
    o = load_table(spark, "orders", sf_dir)
    avg_price = o.agg(F.avg("o_totalprice").alias("a"))
    return (
        o.join(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("a"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — the manual skew-mitigation pattern:
    phase 1 aggregates on (key, salt) spreading a hot key across tasks,
    phase 2 merges salt buckets. Result identical to a direct groupBy; the
    oracle IS the direct groupBy."""
    li = load_table(spark, "lineitem", sf_dir)
    salted = (
        li.withColumn("salt", F.pmod(F.col("l_orderkey"), F.lit(8)))
        .groupBy("l_returnflag", "salt")
        .agg(F.count("*").alias("c"), F.sum("l_quantity").alias("q"))
    )
    return (
        salted.groupBy("l_returnflag")
        .agg(
            F.sum("c").alias("cnt"),
            F.round(F.sum("q"), 2).alias("sum_qty"),
        )
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (full aggregate set) — the canonical
    scan-heavy single-pass aggregation.

    r11 (the r10 BIGINT-cents discipline extended to the money-product
    scan): ``money·(1−rate)`` and ``·(1+rate)`` were per-row DECIMAL
    multiply chains whose widths (18,4)/(25,6) exceed Spark's long-backed
    precision — heap BigDecimal per row on the hottest full-scan path
    (measured ~1.0 s noop for a 2-stage/4-task query at sf0.1). The
    identical exact values now come from 64-bit integer arithmetic:
    ep_c = floor(ep·100) (the single-shot IEEE op both engines run),
    disc/tax as integer percent, per-row products ≤ 1.2e11 (domain
    bound, corpus-size-independent), summed through compact
    DECIMAL(18,0) inputs (sum buffers widen to DECIMAL(28,0) — exact
    past 1e14 rows). The dollar values are reconstructed by EXACT
    decimal literal multiplies (×0.01 / ×0.0001 / ×0.000001 — never a
    division, so no precision-loss rounding), making every output
    bit-identical to the former decimal pipeline; the unchanged oracle
    hash proves it."""
    li = load_table(spark, "lineitem", sf_dir)
    # cents via the SAME half-up decimal cast as money()/rate() (a raw
    # floor(col·100) truncates the other way on doubles like x.x49999…);
    # the narrow decimal×100 is compact and exact, the long cast lossless
    ep_c = (money("l_extendedprice") * 100).cast("long")
    d_pct = (rate("l_discount") * 100).cast("long")
    t_pct = (rate("l_tax") * 100).cast("long")
    disc_u4 = (ep_c * (100 - d_pct)).cast("decimal(18,0)")   # 1e-4 dollars
    charge_u6 = (ep_c * (100 - d_pct) * (100 + t_pct)).cast("decimal(18,0)")
    cents02 = F.lit("0.01").cast("decimal(3,2)")
    u4 = F.lit("0.0001").cast("decimal(5,4)")
    u6 = F.lit("0.000001").cast("decimal(7,6)")
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(ep_c.cast("decimal(18,0)")).alias("_sbp_c"),
            F.sum(disc_u4).alias("_sdp_u"),
            F.sum(charge_u6).alias("_sch_u"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("l_extendedprice").alias("_n_ep"),
            F.sum(rate("l_discount")).alias("_sd"),
            F.count("l_discount").alias("_n_d"),
            F.count("*").alias("count_order"),
        )
    )
    return agg.select(
        "l_returnflag", "l_linestatus", "sum_qty",
        # exact decimal rescale (Σcents·0.01 ≡ the former Σ DECIMAL(12,2))
        F.round(F.col("_sbp_c") * cents02, 2).cast("double")
        .alias("sum_base_price"),
        F.round(F.col("_sdp_u") * u4, 2).cast("double")
        .alias("sum_disc_price"),
        F.round(F.col("_sch_u") * u6, 2).cast("double").alias("sum_charge"),
        "avg_qty",
        F.round((F.col("_sbp_c") * cents02).cast("double") / F.col("_n_ep"),
                4).cast("double").alias("avg_price"),
        F.round(F.col("_sd").cast("double") / F.col("_n_d"), 4)
        .cast("double").alias("avg_disc"),
        "count_order",
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: segment filter → two joins → top-10 by
    revenue (TakeOrdered, no global sort)."""
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum(money("l_extendedprice") * (1 - rate("l_discount")))
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: the canonical 6-table join.
    Region/nation broadcast (tiny dims); customer/orders/lineitem/supplier
    shuffle on their join keys with AQE free to re-plan — at 100 TB the
    fact joins are co-located via orderkey/custkey bucketing and only the
    dims stay broadcast."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "AFRICA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(exact_sum(money("l_extendedprice") * (1 - rate("l_discount")))
             .alias("revenue"))
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: pre-aggregate lineitem per order,
    HAVING-filter to the rare big orders, then join the small survivor set
    BROADCAST against orders/customer — the aggregate-then-join shape that
    keeps the fact table out of the dimensional joins entirely."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey", F.col("qty").cast("long").alias("sum_qty"))
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions over a keyed partition: per-customer order
    sequence number, previous-order price (lag) and running total. The
    window partitions on o_custkey, so the only exchange is one hash
    shuffle on the customer key and every function evaluates in one sorted
    pass per partition — nothing global. Bounded to custkey < 100 to keep
    the gate row set small."""
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir).filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).alias("seq"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        exact_wsum(money("o_totalprice"),
                   w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_total"),
    )


def _cents(col: str):
    """Column as exact integer cents: ``floor(col·100)`` — the float
    multiply and floor are single-shot IEEE ops, bit-identical on both
    engines; DECIMAL(19,0) so downstream products/sums stay exact."""
    return F.floor(F.col(col) * 100).cast("decimal(19,0)")


def _cents_long(col: str):
    """Cents as LONG for the sufficient-statistics hot path: per-row
    products of two cents columns stay in cheap 64-bit arithmetic
    (TPC-H money/quantity cents < 2³¹ ⇒ products < 2⁶², no overflow —
    widen to the `_cents` DECIMAL path if a column's domain ever could),
    and only the product is cast to DECIMAL(20,0) so the cross-partition
    SUM stays exact. ~25% faster than DECIMAL×DECIMAL at sf0.1."""
    return F.floor(F.col(col) * 100).cast("long")


def _pl(a: str, b: str):
    """Exact product of two `_cents_long` columns, widened for summing.
    DECIMAL(18,0) — the last long-backed precision (r10's finding: one
    digit more forces a heap BigDecimal per row). The per-row product is
    domain-bounded (< 2⁶², and < 1e18 for every cents column here)
    regardless of corpus size; only the SUM buffer widens (+10 digits,
    exact past 1e14 rows)."""
    return (F.col(a) * F.col(b)).cast("decimal(18,0)")


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev, Pearson correlation, sample
    covariance) per group — from EXACT integer sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy² over floor(col·100) cents, summed in
    DECIMAL(38,0)) with ONE single-shot double evaluation at the end,
    so the hashed values are merge-order-free at any parallelism. The
    built-in stddev_samp/corr/covar_samp moment sketches merge partials
    in shuffle-arrival order, and round(4) only *usually* absorbs the
    resulting ulps — the r5/r6 gate flake. Same per-group shuffle shape
    as the naive form: map-side partial DECIMAL sums, K rows exchanged."""
    li = load_table(spark, "lineitem", sf_dir)
    d = li.select(
        "l_returnflag",
        _cents_long("l_quantity").alias("q"),
        _cents_long("l_extendedprice").alias("p"),
        _cents_long("l_discount").alias("dc"),
        _cents_long("l_tax").alias("tx"),
    )
    agg = d.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("q").cast("decimal(18,0)")).alias("sq"),
        F.sum(_pl("q", "q")).alias("sqq"),
        F.sum(F.col("p").cast("decimal(18,0)")).alias("sp"),
        F.sum(_pl("p", "p")).alias("spp"),
        F.sum(_pl("q", "p")).alias("sqp"),
        F.sum(F.col("dc").cast("decimal(18,0)")).alias("sd"),
        F.sum(F.col("tx").cast("decimal(18,0)")).alias("st"),
        F.sum(_pl("dc", "tx")).alias("sdt"),
    )
    n = F.col("cnt").cast("double")

    def dbl(c: str):
        return F.col(c).cast("double")

    den_q = n * dbl("sqq") - dbl("sq") * dbl("sq")
    den_p = n * dbl("spp") - dbl("sp") * dbl("sp")
    sd_qty = F.sqrt(den_q / (n * (n - F.lit(1.0)))) / F.lit(100.0)
    corr = ((n * dbl("sqp") - dbl("sq") * dbl("sp"))
            / F.sqrt(den_q * den_p))
    cov = ((n * dbl("sdt") - dbl("sd") * dbl("st"))
           / (n * (n - F.lit(1.0))) / F.lit(10000.0))
    return agg.select(
        "l_returnflag",
        F.col("cnt"),
        F.round(sd_qty, 4).alias("sd_qty"),
        F.round(corr, 4).alias("corr_qty_price"),
        # + 0.0 canonicalizes IEEE -0.0 to +0.0 (a tiny negative covariance
        # rounds to -0 on one engine and 0 on the other otherwise)
        (F.round(cov, 6) + F.lit(0.0)).alias("cov_disc_tax"),
    )


UNICODE_FIXTURES = [
    (0, "e" + chr(0x0301)),            # decomposed é → composes
    (1, chr(0x00E9)),                  # composed é → unchanged
    (2, "a" + chr(0x0308) + "b"),      # decomposed ä mid-string
    (3, "plain ascii"),                # unchanged
    (4, chr(0x212B)),                  # Å (ANGSTROM SIGN) → U+00C5
    (5, "o" + chr(0x0302) + chr(0x0323)),  # two combining marks reorder
]


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the corpus-cleaning step that makes
    'é' == 'é' regardless of whether a source emitted the composed
    codepoint or base+combining-mark (the classic dedup/join divergence
    in multi-source text): Python ``unicodedata.normalize('NFC')`` in an
    Arrow-batched pandas UDF, checked value-for-value against DuckDB's
    ``nfc_normalize`` over the same codepoint fixtures (both implement
    UAX #15, so equality is exact — including the singleton U+212B→U+00C5
    and combining-mark canonical reordering)."""
    from pyspark.sql.functions import PandasUDFType
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    @F.pandas_udf("string", PandasUDFType.SCALAR)
    def nfc(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    schema = StructType([StructField("i", IntegerType()),
                         StructField("raw", StringType())])
    df = spark.createDataFrame(UNICODE_FIXTURES, schema)
    return df.select(
        "i",
        nfc("raw").alias("normalized"),
        (nfc("raw") != F.col("raw")).cast("int").alias("changed"),
        F.length("raw").cast("long").alias("chars_before"),
        F.length(nfc("raw")).cast("long").alias("chars_after"))


def _unicode_oracle() -> str:
    rows = ", ".join(
        "({}, {})".format(i, " || ".join(f"chr({ord(c)})" for c in s))
        for i, s in UNICODE_FIXTURES)
    return f"""
        SELECT i,
               nfc_normalize(raw) AS normalized,
               CAST(nfc_normalize(raw) <> raw AS INT) AS changed,
               CAST(length(raw) AS BIGINT) AS chars_before,
               CAST(length(nfc_normalize(raw)) AS BIGINT) AS chars_after
        FROM (VALUES {rows}) AS t(i, raw)
    """


def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate PANDAS UDAF (`@pandas_udf` over `groupBy.agg`) —
    the custom-aggregate member of the §2.9 UDF surface next to the
    scalar SQL UDF and the table-valued UDTF: each group's column arrives
    as ONE Arrow batch and numpy reduces it vectorized. The reduction
    here is deliberately one whose built-in form is the interpreted
    ObjectAgg `percentile` (measured 26 s in 256-point form):
    `np.percentile(..., 'linear')` computes the same 1+(n-1)q
    interpolation DuckDB's quantile_cont defines, so the oracle is exact.
    Memory note: a grouped-agg UDAF materializes the whole group per
    call — bounded-cardinality group keys only (3 returnflags here); the
    two-pass selection in q_approx_quantiles is the unbounded-group
    form."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType

    # explicit GROUPED_AGG (this module's `from __future__ import
    # annotations` stringifies type hints, so the hint-inferred form
    # cannot resolve)
    @F.pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def np_p50(v):
        return float(np.percentile(v.to_numpy(), 50))

    @F.pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def np_p95(v):
        return float(np.percentile(v.to_numpy(), 95))

    # Spark refuses to mix grouped-agg pandas UDFs with built-in
    # aggregates in one agg — the count is a UDAF too
    @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def np_cnt(v):
        return len(v)

    li = load_table(spark, "lineitem", sf_dir)
    return (li.groupBy("l_returnflag")
            .agg(np_cnt("l_extendedprice").alias("cnt"),
                 F.round(np_p50("l_extendedprice"), 3).alias("p50"),
                 F.round(np_p95("l_extendedprice"), 3).alias("p95")))


ORACLE_PANDAS_UDAF = """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS cnt,
           round(quantile_cont(l_extendedprice, 0.5), 3) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 3) AS p95
    FROM lineitem
    GROUP BY l_returnflag
"""


def q_versioned_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse-lite versioned table exercised end-to-end inside one gate
    row: create from the first 10 nations, append the rest, transactional
    MERGE renaming nation 3, then answer every question from SNAPSHOTS —
    v0/v1 time-travel counts, the current merged state, and zone-map file
    pruning (files skipped by footer min/max without being opened). The
    oracle states the arithmetic the snapshots must preserve; the table
    lives in a throwaway temp dir (kilobytes — nation-sized by design)."""
    import shutil
    import tempfile

    from ..sources import versioned_table as VT

    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    path = tempfile.mkdtemp(prefix="vt_gate_")
    try:
        VT.create(n.filter(F.col("n_nationkey") < 10).coalesce(1), path)
        VT.append(n.filter(F.col("n_nationkey") >= 10).coalesce(1), path)
        upd = spark.createDataFrame([(3, "RENAMED")],
                                    "n_nationkey INT, n_name STRING")
        VT.merge_keys(spark, upd.select(
            F.col("n_nationkey").cast(dict(n.dtypes)["n_nationkey"]),
            "n_name"), path, key="n_nationkey")
        # time-travel counts come from MANIFEST footer stats: zero jobs
        v0 = VT.count_rows(path, version=0)
        v1 = VT.count_rows(path, version=1)
        cur = VT.read(spark, path)
        renamed = cur.filter(F.col("n_name") == "RENAMED").count()
        total = VT.count_rows(path)
        _pruned, n_files, n_kept = VT.read_pruned(
            spark, path, "n_nationkey", 0, 9, version=1)
        # SCHEMA EVOLUTION (round 6): add a column without rewriting any
        # file (pre-evolution rows read NULL), then a metadata-only drop
        n_total = int(total)
        extra = spark.createDataFrame(
            [(100 + i, f"NEW{i}", 1) for i in range(5)],
            "n_nationkey INT, n_name STRING, is_new INT").select(
            F.col("n_nationkey").cast(dict(n.dtypes)["n_nationkey"]),
            "n_name", "is_new")
        pre_files = set(VT.read_manifest(path, VT.current_version(path))
                        ["files"])
        ev = VT.append_evolve(extra, path)
        ev_manifest = VT.read_manifest(path, ev)
        carried = int(pre_files <= set(ev_manifest["files"]))
        evolved = VT.read(spark, path)
        ev_nulls = evolved.filter(F.col("is_new").isNull()).count()
        dv = VT.drop_column(path, "n_name")
        drop_meta_only = int(
            VT.read_manifest(path, dv)["files"] == ev_manifest["files"])
        post_cols = len(VT.read(spark, path).columns)
        return spark.range(1).select(
            F.lit(int(v0)).cast("long").alias("v0_rows"),
            F.lit(int(v1)).cast("long").alias("v1_rows"),
            F.lit(n_total).cast("long").alias("merged_rows"),
            F.lit(int(renamed)).cast("long").alias("renamed_rows"),
            F.lit(int(n_files)).cast("long").alias("files_total"),
            F.lit(int(n_kept)).cast("long").alias("files_read"),
            F.lit(int(carried)).cast("long").alias("evolve_carried_files"),
            F.lit(int(ev_nulls)).cast("long").alias("evolve_null_rows"),
            F.lit(int(drop_meta_only)).cast("long").alias("drop_meta_only"),
            F.lit(int(post_cols)).cast("long").alias("post_drop_cols"),
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


ORACLE_VERSIONED_TABLE = """
    SELECT CAST((SELECT count(*) FROM nation WHERE n_nationkey < 10)
                AS BIGINT) AS v0_rows,
           CAST((SELECT count(*) FROM nation) AS BIGINT) AS v1_rows,
           CAST((SELECT count(*) FROM nation) AS BIGINT) AS merged_rows,
           CAST(1 AS BIGINT) AS renamed_rows,
           CAST(2 AS BIGINT) AS files_total,
           CAST(1 AS BIGINT) AS files_read,
           CAST(1 AS BIGINT) AS evolve_carried_files,
           CAST((SELECT count(*) FROM nation) AS BIGINT)
               AS evolve_null_rows,
           CAST(1 AS BIGINT) AS drop_meta_only,
           CAST(2 AS BIGINT) AS post_drop_cols
"""


def q_collation_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION support: ``collate(col, 'UTF8_LCASE')`` makes
    comparison/grouping case-insensitive AT THE TYPE LEVEL — distinct,
    joins and group-bys honor it with no lower() rewrite, and unlike the
    rewrite the original strings survive for display. Case diversity is
    synthesized deterministically (even keys upper, odd lower) so the
    case-sensitive distinct count is exactly 2× the case-insensitive
    one; the DuckDB mirror spells the same semantics as count(DISTINCT
    lower(x)) — the rewrite collation replaces."""
    o = load_table(spark, "orders", sf_dir)
    mixed = o.select(
        F.when(F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority"))
        .otherwise(F.lower("o_orderpriority")).alias("p"))
    return mixed.agg(
        F.countDistinct("p").alias("case_sensitive"),
        F.countDistinct(F.collate("p", "UTF8_LCASE"))
        .alias("case_insensitive"))


ORACLE_COLLATION_DISTINCT = """
    SELECT CAST(count(DISTINCT p) AS BIGINT) AS case_sensitive,
           CAST(count(DISTINCT lower(p)) AS BIGINT) AS case_insensitive
    FROM (SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                      ELSE lower(o_orderpriority) END AS p
          FROM orders) t
"""


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML value round-trip: ``to_xml(struct(...))`` renders each order as
    an XML document, ``xpath_long``/``xpath_string`` re-extract the
    fields, and the per-priority aggregates of the EXTRACTED values must
    equal the direct relational aggregates (the oracle computes those
    directly — exact equality proves encode→parse is lossless). XML is
    this engine's serving format (SURVEY §2.1 S4, oai/render.py), so the
    built-in XML path belongs in the conformance set alongside the
    renderer's ElementTree path. Per-row XML render + 3 xpath parses is
    deliberately the slow path — the row keeps a 1/97 key-modulo slice
    (pushed to the scan; same arithmetic in the oracle) so the
    conformance check stays O(table/97) at any scale."""
    o = (load_table(spark, "orders", sf_dir)
         .filter(F.col("o_orderkey") % 97 == 0))
    x = o.select(F.to_xml(F.struct(
        "o_orderkey", "o_totalprice", "o_orderpriority")).alias("xml"))
    ext = x.select(
        F.xpath_long("xml", F.lit("/ROW/o_orderkey")).alias("k"),
        F.xpath_string("xml", F.lit("/ROW/o_totalprice")).alias("p"),
        F.xpath_string("xml", F.lit("/ROW/o_orderpriority")).alias("pr"))
    return ext.groupBy("pr").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("k").alias("sum_key"),
        # the xpath string is an exact decimal rendering — cast straight to
        # DECIMAL so the sum is merge-order-independent (ADVICE r5)
        F.round(F.sum(F.col("p").cast("decimal(18,4)")), 2)
        .cast("double").alias("sum_price"))


ORACLE_XML_ROUNDTRIP = """
    SELECT o_orderpriority AS pr,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS sum_price
    FROM orders WHERE o_orderkey % 97 = 0
    GROUP BY o_orderpriority
"""


def q_listagg_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``listagg(col, delim) WITHIN GROUP (ORDER BY …)`` — the
    ordered string-concatenation aggregate (ISO/IEC 9075:2016), checked
    value-for-value against DuckDB's ``string_agg(col, sep ORDER BY …)``
    spelling of the same aggregate. The concatenated string itself is a
    result column (the suite carries it in the key slot; deterministic
    because the within-group order is total). Nation names per region —
    a broadcast-dim-sized group by design: at scale listagg output grows
    with group size, so it belongs on bounded dimensions, not facts."""
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    n.createOrReplaceTempView("nation_la")
    r.createOrReplaceTempView("region_la")
    return spark.sql("""
        SELECT r.r_name AS r_name,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                   AS nations,
               CAST(count(*) AS BIGINT) AS n_nations,
               CAST(length(listagg(n.n_name, ',')
                    WITHIN GROUP (ORDER BY n.n_name)) AS BIGINT) AS total_len
        FROM nation_la n JOIN region_la r
          ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """)


ORACLE_LISTAGG_CONFORMANCE = """
    SELECT r.r_name AS r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(length(string_agg(n.n_name, ',' ORDER BY n.n_name))
                AS BIGINT) AS total_len
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
"""


def q_regr_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 linear-regression aggregate family (slope/intercept/r2/
    avgx/avgy/count plus count-normalized var_x/cov_xy) per group —
    computed from EXACT integer sufficient statistics (Σx, Σy, Σxy, Σx²,
    Σy² over floor(col·100) cents in DECIMAL(38,0)) with one single-shot
    double evaluation per output, the acf_lag/ridge discipline: the
    built-in regr_* moment sketches merge partials in shuffle-arrival
    order and their float ulps flipped round(4) at the r5/r6 gate. The
    ×100 scale cancels in slope/r2 (both axes scaled alike); avg/icpt/
    var/cov divide it back out. Shuffle shape unchanged: map-side
    partial DECIMAL sums, K group rows exchanged."""
    li = load_table(spark, "lineitem", sf_dir)
    d = li.select(
        "l_returnflag",
        _cents_long("l_quantity").alias("x"),
        _cents_long("l_extendedprice").alias("y"),
    )
    agg = d.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("x").cast("decimal(18,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(18,0)")).alias("sy"),
        F.sum(_pl("x", "y")).alias("sxy"),
        F.sum(_pl("x", "x")).alias("sxx"),
        F.sum(_pl("y", "y")).alias("syy"),
    )
    n = F.col("cnt").cast("double")

    def dbl(c: str):
        return F.col(c).cast("double")

    num = n * dbl("sxy") - dbl("sx") * dbl("sy")
    denx = n * dbl("sxx") - dbl("sx") * dbl("sx")
    deny = n * dbl("syy") - dbl("sy") * dbl("sy")
    return agg.select(
        "l_returnflag",
        F.col("cnt").cast("long").alias("regr_n"),
        F.round(num / denx, 4).alias("slope"),
        F.round((dbl("sy") / n - (num / denx) * (dbl("sx") / n))
                / F.lit(100.0), 4).alias("icpt"),
        F.round(num * num / (denx * deny), 6).alias("r2"),
        F.round(dbl("sx") / n / F.lit(100.0), 4).alias("avg_x"),
        F.round(dbl("sy") / n / F.lit(100.0), 4).alias("avg_y"),
        F.round(denx / (n * n) / F.lit(10000.0), 4).alias("var_x"),
        (F.round(num / (n * n) / F.lit(10000.0), 4) + F.lit(0.0))
        .alias("cov_xy"),
    )


ORACLE_REGR_CONFORMANCE = """
    WITH s AS (
        SELECT l_returnflag, count(*) AS cnt,
               sum(CAST(floor(l_quantity * 100) AS HUGEINT)) AS sx,
               sum(CAST(floor(l_extendedprice * 100) AS HUGEINT)) AS sy,
               sum(CAST(floor(l_quantity * 100) AS HUGEINT)
                   * CAST(floor(l_extendedprice * 100) AS HUGEINT)) AS sxy,
               sum(CAST(floor(l_quantity * 100) AS HUGEINT)
                   * CAST(floor(l_quantity * 100) AS HUGEINT)) AS sxx,
               sum(CAST(floor(l_extendedprice * 100) AS HUGEINT)
                   * CAST(floor(l_extendedprice * 100) AS HUGEINT)) AS syy
        FROM lineitem GROUP BY l_returnflag
    ), m AS (
        SELECT l_returnflag, cnt,
               CAST(cnt AS DOUBLE) AS n,
               CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
               CAST(cnt AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
               CAST(cnt AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
               CAST(cnt AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
        FROM s
    )
    SELECT l_returnflag,
           CAST(cnt AS BIGINT) AS regr_n,
           round(num / denx, 4) AS slope,
           round((dsy / n - (num / denx) * (dsx / n)) / 100.0, 4) AS icpt,
           round(num * num / (denx * deny), 6) AS r2,
           round(dsx / n / 100.0, 4) AS avg_x,
           round(dsy / n / 100.0, 4) AS avg_y,
           round(denx / (n * n) / 10000.0, 4) AS var_x,
           round(num / (n * n) / 10000.0, 4) + 0.0 AS cov_xy
    FROM m
"""


def _grouped_bucketed_prefix(df: DataFrame, group_col: str,
                             value_col: str, weight_col: str,
                             out_col: str) -> DataFrame:
    """Inclusive running sum of ``weight_col`` within each ``group_col``
    ordered by ``value_col``, WITHOUT a per-group fat-key window — the
    grouped sibling of text_analysis.bucketed_global_rank (r6 verdict
    #3's machinery, extended per r7 verdict #4): range-bucket the
    integer value (bucketing is monotone, so ties share a bucket and
    bucket order == value order), running-sum WITHIN each (group,
    bucket) partition in parallel, add each bucket's per-group starting
    offset. FULLY LAZY (r8): the bounds come from a broadcast 1-row
    min/max aggregate crossJoined in-plan (the markov-K pattern — the
    original driver-side bounds/offset collects re-ran two eager scan
    jobs on EVERY call, which bench attribution priced at ~3s/call),
    and the exclusive prefix is a cumulative window over the
    ≤groups×4096-row bucket-sum relation, partitioned per group and
    ordered by bucket — each window partition is ≤4096 rows at ANY
    corpus size (r10: this replaces a broadcast triangular self-join
    whose BroadcastNestedLoopJoin evaluated buckets² pairs per group,
    ~1 s of interpreted compare per call site at sf0.1). Values are
    bit-identical to the fat window's, so swapping this in changes no
    hashes."""
    from pyspark.sql import Window

    nb = 4096
    b = df.agg(F.min(value_col).alias("_pfx_lo"),
               F.max(value_col).alias("_pfx_hi"))
    d2 = (df.crossJoin(F.broadcast(b))
          .withColumn("_pfx_w", F.greatest(F.lit(1).cast("long"), F.expr(
              f"CAST((_pfx_hi - _pfx_lo + {nb}) div {nb} AS BIGINT)")))
          .withColumn("_pfx_bkt", F.expr(
              f"CAST((`{value_col}` - _pfx_lo) div _pfx_w AS BIGINT)"))
          .drop("_pfx_lo", "_pfx_hi", "_pfx_w"))
    cnts = (d2.groupBy(group_col, "_pfx_bkt")
            .agg(F.sum(weight_col).alias("_pfx_c")))
    w_off = (Window.partitionBy(group_col).orderBy("_pfx_bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    off = cnts.select(
        group_col, "_pfx_bkt",
        F.coalesce(F.sum("_pfx_c").over(w_off), F.lit(0)).cast("long")
        .alias("_pfx_off"))
    w = (Window.partitionBy(group_col, "_pfx_bkt").orderBy(value_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d2.join(F.broadcast(off), [group_col, "_pfx_bkt"])
            .withColumn(out_col,
                        F.sum(weight_col).over(w) + F.col("_pfx_off"))
            .drop("_pfx_bkt", "_pfx_off"))


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per group — the outlier-robust sibling
    of regr/stats_agg's Pearson: midranks within (l_returnflag) for each
    variable, then Pearson on the ranks. Exactness discipline throughout:
    the DOUBLED midrank 2R = 2·min_rank + ties − 1 is an integer, sums
    fold in DECIMAL(38,0), and the correlation is one single-shot
    double.

    Scale path, v5 (r8 verdict #4/#5 — fully lazy, ONE fact exchange):
    the two variables have opposite cardinality profiles and get
    opposite treatments.

    * ``q`` (quantity cents) lives on the TPC-H generator's 50-value
      integer grid at EVERY scale factor, so its midranks need no
      fact-sized window at all: a (group, q) count grid (≤150 rows,
      map-side combinable) whose exclusive prefix is a cumulative
      window over the grid itself (r10 — replaces a broadcast
      triangular self-join whose BroadcastNestedLoopJoin burned grid²
      interpreted compares), and 2R_q = 2·prefix + ties + 1 joins back
      broadcast. Zero exchanges of the fact for this variable.
    * ``p`` (extendedprice cents) is near-unique, so it keeps the
      bucketed two-level prefix (fixed width 16384 over the
      sf-invariant ~9e4..1.05e7 cent domain → ~640 buckets — a domain
      constant, so no bounds job): per-(group, bucket) counts fold to a
      ≤groups×640-row relation whose exclusive prefix is the same
      cumulative bucket window; min-ranks are in-bucket rank() + the
      joined offset, ties a (group, bucket, p) window. Every FACT-sized
      window keys on (group, bucket), never the 3-value group key alone
      (the group-keyed windows touch only the bucket/grid COUNT
      relations, bounded at any scale), so no fat single-task sort
      exists at any corpus.

    FULLY LAZY (r8 verdict #4): both helper relations are in-plan
    broadcast subtrees — building this DataFrame fires zero Spark jobs
    (asserted in test_plans). The r8 localCheckpoint memo
    (_SPEARMAN_OFF_CACHE) is gone: with the q-side window stack deleted
    the per-action rebuild is two map-combinable aggs over a two-column
    scan, cheaper than the memo's eager build-time jobs.

    Local-bench economics at sf0.1: the r8 two-exchange plan ran ~8.7s
    warm; collapsing q to the broadcast grid removes one full exchange +
    sort of the fact (the cross-term Σrq·rp previously forced both sort
    orders through exchanges; now only p's order does). The fat
    single-exchange window plan (~3.2s locally) remains three
    single-task sorts of the whole fact at 100 TB; this one is ~2000
    parallel sorts plus two tiny broadcast builds. Hashes bit-identical
    to the naive fat-window formulation."""
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    # cents as LONG on the hot path (r10): _cents' DECIMAL(19,0) is
    # precision-19 — above Spark's long-backed 18 — so every row's q/p
    # was a heap Decimal through the joins, the rank window's ORDER BY
    # and the bucket div (measured ~6x on the probe join alone). All
    # derived quantities (prefix sums, 2R midranks) stay well inside
    # int64 at any scale (cents < 2^31, 2R ≤ 2n+1); the sufficient-
    # statistic sums still fold in DECIMAL(19,0)->DECIMAL(38,0) exactly
    # as before, so the hashed output is bit-identical.
    d = li.select(
        "l_returnflag",
        _cents_long("l_quantity").alias("q"),
        _cents_long("l_extendedprice").alias("p"),
    )

    # q: broadcast midrank grid — 2R = 2·(#rows below) + ties + 1. The
    # exclusive prefix is a cumulative window over the ≤groups×50-row
    # grid, ordered by q (r10: replaces the broadcast triangular
    # self-join, whose BroadcastNestedLoopJoin evaluated grid² pairs in
    # interpreted compares; identical integer sums, window partitions
    # bounded by the 50-value grid at any corpus size)
    gq = d.groupBy("l_returnflag", "q").agg(F.count(F.lit(1)).alias("_cq"))
    w_gq = (Window.partitionBy("l_returnflag").orderBy("q")
            .rowsBetween(Window.unboundedPreceding, -1))
    rq_grid = gq.select(
        "l_returnflag", "q",
        (F.lit(2) * F.coalesce(F.sum("_cq").over(w_gq),
                               F.lit(0)).cast("long")
         + F.col("_cq") + 1).cast("decimal(19,0)").alias("rq"))

    # p: bucketed two-level prefix; the per-(group, bucket) offsets are
    # the same cumulative-window exclusive prefix over the ≤groups×640-
    # row bucket-count relation (bounded by the sf-invariant cent
    # domain / 16384 — constant at any corpus size)
    d2 = d.withColumn("_bkt_p", F.expr("`p` div 16384"))
    cnts = (d2.groupBy("l_returnflag", "_bkt_p")
            .agg(F.count(F.lit(1)).alias("_c")))
    w_off = (Window.partitionBy("l_returnflag").orderBy("_bkt_p")
             .rowsBetween(Window.unboundedPreceding, -1))
    off_p = cnts.select(
        "l_returnflag", "_bkt_p",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).cast("long")
        .alias("_off_p"))

    j = (d2.join(F.broadcast(off_p), ["l_returnflag", "_bkt_p"])
         .join(F.broadcast(rq_grid), ["l_returnflag", "q"]))
    # rank and tie count share one exchange + one sort: the tie window
    # carries the bucket in its key (ties share a bucket — bucketing is
    # monotone), so HashPartitioning(rf, bkt) satisfies both clusterings
    w_in = Window.partitionBy("l_returnflag", "_bkt_p").orderBy("p")
    w_tie = Window.partitionBy("l_returnflag", "_bkt_p", "p")
    rp = (F.lit(2) * (F.rank().over(w_in) + F.col("_off_p"))
          + F.count(F.lit(1)).over(w_tie) - 1).cast("decimal(19,0)")
    d = (j.withColumn("rp", rp)
         .drop("_bkt_p", "_off_p"))
    agg = d.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rq").alias("sq"),
        F.sum(F.col("rq") * F.col("rq")).alias("sqq"),
        F.sum("rp").alias("sp"),
        F.sum(F.col("rp") * F.col("rp")).alias("spp"),
        F.sum(F.col("rq") * F.col("rp")).alias("sqp"),
    )
    nd = F.col("n").cast("double")

    def dbl(c: str):
        return F.col(c).cast("double")

    corr = ((nd * dbl("sqp") - dbl("sq") * dbl("sp"))
            / F.sqrt((nd * dbl("sqq") - dbl("sq") * dbl("sq"))
                     * (nd * dbl("spp") - dbl("sp") * dbl("sp"))))
    return agg.select("l_returnflag", F.col("n").cast("long").alias("n"),
                      F.round(corr, 4).alias("spearman"))


ORACLE_SPEARMAN_CORR = """
    WITH d AS (
        SELECT l_returnflag,
               CAST(floor(l_quantity * 100) AS BIGINT) AS q,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
        FROM lineitem
    ),
    r AS (
        SELECT l_returnflag,
               2 * rank() OVER (PARTITION BY l_returnflag ORDER BY q)
                   + count(*) OVER (PARTITION BY l_returnflag, q) - 1 AS rq,
               2 * rank() OVER (PARTITION BY l_returnflag ORDER BY p)
                   + count(*) OVER (PARTITION BY l_returnflag, p) - 1 AS rp
        FROM d
    ),
    agg AS (
        SELECT l_returnflag, count(*) AS n,
               sum(CAST(rq AS HUGEINT)) AS sq,
               sum(CAST(rq AS HUGEINT) * rq) AS sqq,
               sum(CAST(rp AS HUGEINT)) AS sp,
               sum(CAST(rp AS HUGEINT) * rp) AS spp,
               sum(CAST(rq AS HUGEINT) * rp) AS sqp
        FROM r GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                  - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                         - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                           - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))),
                 4) AS spearman
    FROM agg
"""


EDIT_PREFIX_CHARS = 24
EDIT_CAP = 10


def q_edit_distance_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in Levenshtein conformance over real corpus text: each
    document's leading EDIT_PREFIX_CHARS chars against its successor's
    within the source (one partitioned lead window), verified
    value-for-value against DuckDB's levenshtein — both are the classic
    unit-cost edit distance, so every output is an exact integer. The
    capped variant mirrors Spark's threshold form (distance > cap → −1),
    the cheap screen a fuzzy-dedup pass runs before the full DP."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source",
        F.substring("text", 1, EDIT_PREFIX_CHARS).alias("s24"))
    w = Window.partitionBy("source").orderBy("doc_id")
    d = (d.withColumn("nxt", F.lead("s24").over(w))
         .filter(F.col("nxt").isNotNull()))
    lev = F.levenshtein("s24", "nxt")
    return d.select(
        "doc_id", "source",
        lev.cast("long").alias("lev"),
        F.when(lev <= EDIT_CAP, lev).otherwise(F.lit(-1))
        .cast("long").alias("lev_capped"),
        F.length("s24").cast("long").alias("len_a"),
    )


ORACLE_EDIT_DISTANCE = f"""
    WITH d AS (
        SELECT doc_id, source,
               substring(text, 1, {EDIT_PREFIX_CHARS}) AS s24
        FROM documents
    ),
    x AS (
        SELECT doc_id, source, s24,
               lead(s24) OVER (PARTITION BY source ORDER BY doc_id) AS nxt
        FROM d
    )
    SELECT doc_id, source,
           CAST(levenshtein(s24, nxt) AS BIGINT) AS lev,
           CAST(CASE WHEN levenshtein(s24, nxt) <= {EDIT_CAP}
                     THEN levenshtein(s24, nxt) ELSE -1 END
                AS BIGINT) AS lev_capped,
           CAST(length(s24) AS BIGINT) AS len_a
    FROM x WHERE nxt IS NOT NULL
"""


RIDGE_LAMBDA = 1.0   # L2 penalty on the non-intercept coefficients


# fitted ridge model per (session, lineitem-corpus ident) — the trained-
# model memo (kmeans/PQ/BPE precedent); the fit is one aggregation pass
# + a p² driver solve, deterministic in the corpus.
@corpus_memo(table="lineitem")
def ridge_fit(spark: SparkSession, sf_dir: str) -> dict:
    """The data pass + solve behind q_ridge_regression, exposed so tests
    can compare β against a driver-side closed form. Returns the raw
    integer sufficient statistics row plus β (original units), R², and
    the verification indicators. Memoized per (session, corpus) — r10."""
    import numpy as np

    li = load_table(spark, "lineitem", sf_dir)

    def ints(c, s):
        return F.round(F.col(c) * s).cast("long") if s != 1 \
            else F.round(F.col(c)).cast("long")

    xs = [F.lit(1).cast("long"), ints("l_quantity", 1),
          ints("l_discount", 100), ints("l_tax", 100)]
    scale = [1.0, 1.0, 100.0, 100.0]
    yv, ys = ints("l_extendedprice", 100), 100.0
    aggs = [F.count(F.lit(1)).alias("n")]
    p = len(xs)
    for i in range(p):
        for j in range(i, p):
            aggs.append(F.sum((xs[i] * xs[j]).cast("decimal(38,0)"))
                        .alias(f"a{i}{j}"))
        aggs.append(F.sum((xs[i] * yv).cast("decimal(38,0)"))
                    .alias(f"b{i}"))
    aggs.append(F.sum((yv * yv).cast("decimal(38,0)")).alias("syy"))
    stats = li.agg(*aggs).collect()[0]  # ONE row of p(p+3)/2+2 sums

    A = np.empty((p, p))
    b = np.array([float(stats[f"b{i}"]) / (scale[i] * ys)
                  for i in range(p)])
    for i in range(p):
        for j in range(i, p):
            A[i, j] = A[j, i] = (float(stats[f"a{i}{j}"])
                                 / (scale[i] * scale[j]))
    D = np.eye(p)
    D[0, 0] = 0.0  # never penalize the intercept
    beta = np.linalg.solve(A + RIDGE_LAMBDA * D, b)
    grad = (A + RIDGE_LAMBDA * D) @ beta - b
    grad_ok = float(np.linalg.norm(grad) / np.linalg.norm(b) < 1e-8)
    n = float(stats["n"])
    syy = float(stats["syy"]) / (ys * ys)
    sse = syy - 2.0 * beta @ b + beta @ A @ beta
    sst = syy - b[0] ** 2 / n
    r2 = 1.0 - sse / sst
    fit = {"stats": stats, "beta": beta, "r2": r2,
           "grad_ok": grad_ok, "r2_ok": float(0.0 <= r2 <= 1.0)}
    return fit


def q_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ridge regression via NORMAL EQUATIONS — the
    sufficient-statistics pattern for linear-model training: one
    whole-stage-codegen aggregation pass reduces the table to the 15
    entries of (XᵀX, Xᵀy, yᵀy) for features [1, l_quantity, l_discount,
    l_tax] → y = l_extendedprice; the driver solves the 4×4 ridge system
    (XᵀX + λD)β = Xᵀy (numpy, D sparing the intercept) from that one
    row. At 100 TB the data pass is embarrassingly parallel with
    map-side partial sums and the driver work stays p², independent of
    n — the exact-solve sibling of the gradient-descent loop, with no
    iterations at all.

    Exactness scheme: the 2-dp source columns are integer-scaled
    (price→cents, discount/tax→percent points), products stay in BIGINT
    (≤3e13, codegen-friendly) and only the sums widen to DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB's automatic BIGINT-sum type) — width-18
    decimal multiplies overflow DuckDB's int64 fast path. The
    hash-checked outputs are the RAW integer sums cast to double. Above
    2⁵³ that cast must be CORRECTLY rounded on both engines: Spark's
    path is Python float(Decimal) (exact), but DuckDB's native
    HUGEINT→DOUBLE is a two-step hi·2⁶⁴+lo float expression that
    DOUBLE-ROUNDS — the r8 strict sf0.1 sweep caught syy_cents2
    (≈2.22e19) off by one ulp — so the oracle casts through VARCHAR
    (strtod is correctly rounded), making both engines produce the
    nearest double of the same exact integer. The driver divides the
    scale factors back out before solving, so β lands in original
    units. The solve verifies through a
    gradient-residual indicator ‖(XᵀX+λD)β − Xᵀy‖/‖Xᵀy‖ < 1e-8 and an
    R² ∈ [0,1] indicator (both deterministically 1.0 — the oracle
    claims exactly that)."""
    fit = ridge_fit(spark, sf_dir)
    stats, grad_ok, r2_ok = fit["stats"], fit["grad_ok"], fit["r2_ok"]
    return spark.range(1).select(
        F.lit(int(stats["n"])).cast("long").alias("n_rows"),
        F.lit(float(stats["b0"])).cast("double").alias("sum_y_cents"),
        F.lit(float(stats["b1"])).cast("double").alias("sum_qy_cents"),
        F.lit(float(stats["syy"])).cast("double").alias("syy_cents2"),
        F.lit(grad_ok).cast("double").alias("grad_ok"),
        F.lit(r2_ok).cast("double").alias("r2_ok"),
    )


ORACLE_RIDGE_REGRESSION = """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                     AS VARCHAR) AS DOUBLE) AS sum_y_cents,
           CAST(CAST(sum(CAST(round(l_quantity) AS BIGINT)
                         * CAST(round(l_extendedprice * 100) AS BIGINT))
                     AS VARCHAR) AS DOUBLE) AS sum_qy_cents,
           CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                         * CAST(round(l_extendedprice * 100) AS BIGINT))
                     AS VARCHAR) AS DOUBLE) AS syy_cents2,
           CAST(1.0 AS DOUBLE) AS grad_ok,
           CAST(1.0 AS DOUBLE) AS r2_ok
    FROM lineitem
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue change: pure scan + predicate + global
    aggregate. The whole query should collapse to one WholeStageCodegen
    span over the parquet scan with every predicate pushed — the litmus
    test that the engine's filter pushdown works (PLANS.md audits it)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(money("l_extendedprice") * rate("l_discount"))
            .alias("revenue"),
            F.count("*").alias("cnt"),
        )
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: quarter of orders joined to their
    returned lineitems, revenue per customer, top 20. Orders filter cuts
    the fact join early; nation stays broadcast; the top-20 is
    TakeOrderedAndProject (no global sort materialization)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    n = load_table(spark, "nation", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # Exact DECIMAL arithmetic, not double: a double revenue sum can land
        # a float-ulp either side of a half-cent (x.xx5), where the engines'
        # round(x, 2) then disagree by a cent (r2 gate: customer 249).
        # price(2dp) * (1-discount(2dp)) has exactly 4 decimals, so
        # DECIMAL(18,4) products sum exactly; round(exact, 2) is half-up on
        # positives in both engines, and the final decimal->double cast is
        # the same nearest-double on both. Bit-identical by construction.
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                      * (F.lit(1).cast("decimal(18,4)")
                         - F.col("l_discount").cast("decimal(18,4)"))), 2)
            .cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect: one month of lineitem joined to part,
    conditional-sum ratio. Part is the build side here (smaller than the
    month of lineitem); at 100 TB both sides bucket on partkey so the join
    is shuffle-free."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    p = load_table(spark, "part", sf_dir)
    rev = money("l_extendedprice") * (1 - rate("l_discount"))
    zero = F.lit(0).cast("decimal(17,4)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            # both sums decimal-exact; the double division of two exact
            # operands is correctly rounded, hence bit-stable
            F.round(100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                                  .otherwise(zero)).cast("double")
                    / F.sum(rev).cast("double"), 4)
            .alias("promo_pct"),
            exact_sum(rev).alias("total_revenue"),
        )
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue (adapted to the driver's trimmed part
    schema: brand/size/quantity bands, no shipmode columns exist): a
    disjunction of conjunctive bands — Catalyst pushes the common partkey
    equi-join and evaluates the OR as a post-join filter; per-brand output
    keeps each band separately verifiable."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    j = li.join(p, li.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#9") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        j.filter(band)
        .groupBy("p_brand")
        .agg(
            exact_sum(money("l_extendedprice") * (1 - rate("l_discount")))
            .alias("revenue"),
            F.count("*").alias("cnt"),
        )
    )


_STATS_COLS = (
    # (column, numeric?) — the customer dimension's CBO-relevant columns
    ("c_custkey", True),
    ("c_nationkey", True),
    ("c_acctbal", True),
    ("c_mktsegment", False),
)


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style column statistics — the inputs a cost-based
    optimizer (or a human sizing a join) reads: per column, row count,
    exact NDV, null count, and min/max (numeric columns as values, string
    columns as lexicographic bounds).

    One single-distinct aggregate per column, NOT one mixed aggregate:
    N countDistincts in one agg plan an Expand that multiplies every input
    row N-fold before the shuffle (the measured approx_distinct lesson,
    8.1 s → 0.9 s); per-column aggs each get the cheap two-phase
    partial-distinct plan over a one-column pruned scan, and the rows
    union. At 100 TB this is exactly how ANALYZE sweeps wide tables:
    column-pruned parallel passes, mergeable per-column results."""
    c = load_table(spark, "customer", sf_dir)
    parts = []
    for col, numeric in _STATS_COLS:
        parts.append(c.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct(col).alias("ndv"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("nulls"),
            (F.round(F.min(col).cast("double"), 4) if numeric
             else F.lit(None).cast("double")).alias("min_num"),
            (F.round(F.max(col).cast("double"), 4) if numeric
             else F.lit(None).cast("double")).alias("max_num"),
            (F.lit("~") if numeric
             else F.min(col).cast("string")).alias("min_str"),
            (F.lit("~") if numeric
             else F.max(col).cast("string")).alias("max_str"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# One ANSI-dialect SQL text, executed VERBATIM by both engines: Spark runs
# it through spark.sql over the registered views, DuckDB runs it as the
# oracle. The strongest form of SQL-surface parity — not "equivalent"
# queries, the SAME query.
SQL_TEXT_PARITY = """
    SELECT o.o_orderpriority AS priority,
           c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS orders,
           CAST(sum(CASE WHEN o.o_totalprice > 150000
                    THEN 1 ELSE 0 END) AS BIGINT) AS big_orders,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4)))
                     AS VARCHAR(64))
                AS DOUBLE)
                 / count(*) AS avg_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY o.o_orderpriority, c.c_mktsegment
"""


def q_sql_text_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the exact oracle text runs through
    ``spark.sql`` over the registered table views — engine parity on the
    SAME characters, not a hand-matched DataFrame translation."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(SQL_TEXT_PARITY)


# The rest of the verbatim-text family: one literal ANSI string per
# SQL-surface corner, each executed by BOTH engines character-for-
# character. Money folds as DECIMAL(18,4) inside every sum so neither
# engine's double-accumulation order can perturb the hash; every window
# ORDER BY carries a unique tie-breaker so frame contents are total-
# ordered and engine-independent.
#
# r8 scalar-exactness rule (r7 verdict #2/#3): round(x, n) in a hashed
# SELECT list never applies to a DOUBLE of money/decimal provenance.
# The engines' double-round algorithms differ (Spark rounds the
# BigDecimal binary expansion HALF_UP, DuckDB rounds the shortest
# decimal) and deterministically disagree when the true value sits at a
# .xx5 boundary — and money arithmetic lands on such boundaries
# SYSTEMATICALLY (the three-round sql_text_lateral_alias red:
# 312346.85·0.1 = 31234.685). Raw double +,-,*,/,sqrt and casts are
# IEEE-correctly-rounded and bit-identical cross-engine, so un-rounded
# rational double arithmetic is safe to hash. Transcendentals (ln, exp)
# are NOT: JVM Math.log and libm differ in the last ulp on real inputs
# (caught by the strict gate on transition_entropy), so ln-derived
# values hash through round(·, 6) — for irrational values a .5·10⁻⁶
# rounding boundary is measure-zero, unlike money. Exact integers WIDER
# THAN 2⁵³ are a third class: hashing them through a DOUBLE cast
# requires a correctly-rounded conversion on both engines, and DuckDB's
# native HUGEINT→DOUBLE double-rounds (1 ulp off; caught on
# ridge_regression at sf0.1) — such oracles cast through VARCHAR
# (strtod is correctly rounded; Spark's float(Decimal) path already is).
SQL_TEXTS = {
    # running aggregate + row numbering in one window text
    "sql_text_window": """
        SELECT o_custkey,
               o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                          OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW), 2)
                    AS DOUBLE) AS running_spend
        FROM orders
        WHERE o_custkey < 100
    """,
    # correlated EXISTS + NOT EXISTS over the same subquery shape
    "sql_text_exists": """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS customers,
               CAST(sum(CASE WHEN EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
                    THEN 1 ELSE 0 END) AS BIGINT) AS with_urgent,
               CAST(sum(CASE WHEN NOT EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS BIGINT) AS never_ordered
        FROM customer c
        GROUP BY c_mktsegment
    """,
    # GROUPING SETS with grouping() flags, verbatim
    "sql_text_grouping_sets": """
        SELECT coalesce(l_returnflag, '~') AS rf,
               coalesce(l_linestatus, '~') AS ls,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag),
                                (l_returnflag, l_linestatus), ())
    """,
    # Lateral column aliases: a SELECT item referencing the alias defined
    # just before it, chained — both engines resolve left-to-right. The
    # alias chain runs in DECIMAL: round(price*0.1, 2) on DOUBLE hit a
    # deterministic cross-engine divergence (o_totalprice=312346.85 →
    # product 31234.684999999998; Spark's BigDecimal HALF_UP rounds the
    # binary expansion DOWN to .68, DuckDB's round() gives .69). DECIMAL
    # sees exactly 31234.685 on both engines; DOUBLE only at the edge.
    "sql_text_lateral_alias": """
        SELECT o_orderkey,
               CAST(price_dec AS DOUBLE) AS price,
               CAST(tithe_dec AS DOUBLE) AS tithe,
               CAST(tithe_dec + 1.0 AS DOUBLE) AS tithe_plus
        FROM (
            SELECT o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec,
                   round(price_dec * 0.1, 2) AS tithe_dec
            FROM orders WHERE o_custkey < 50
        ) t
    """,
    # Explicit NULLS FIRST/LAST ordering under LIMIT — the classic engine
    # divergence (Spark defaults NULLS FIRST for ASC, DuckDB NULLS LAST):
    # only the explicit spelling is portable, and the LIMIT makes the
    # null placement change WHICH rows survive, so the hash proves both
    # engines agreed row-for-row
    "sql_text_nulls_order": """
        WITH src AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_totalprice AS DOUBLE) END AS p
            FROM orders WHERE o_custkey < 60
        ),
        a AS (SELECT 'asc_nulls_first' AS probe, o_orderkey, p FROM src
              ORDER BY p ASC NULLS FIRST, o_orderkey LIMIT 40),
        b AS (SELECT 'desc_nulls_last' AS probe, o_orderkey, p FROM src
              ORDER BY p DESC NULLS LAST, o_orderkey LIMIT 40)
        SELECT probe,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(p) AS BIGINT) AS non_null,
               CAST(round(sum(CAST(coalesce(p, 0) AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS sum_p
        FROM (SELECT * FROM a UNION ALL SELECT * FROM b) t
        GROUP BY probe
    """,
    # GROUP BY ALL / ORDER BY ALL (the modern shorthand both engines
    # accept: every non-aggregate select item groups, every column sorts)
    "sql_text_group_order_all": """
        SELECT c_mktsegment AS segment,
               CAST(c_nationkey AS INT) AS nation,
               CAST(count(*) AS BIGINT) AS customers,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS total_bal
        FROM customer
        WHERE c_custkey < 900
        GROUP BY ALL
        ORDER BY ALL
    """,
    # INTERSECT / EXCEPT (set semantics: both engines default DISTINCT)
    "sql_text_setops": """
        SELECT CAST((SELECT count(*) FROM
                     (SELECT o_custkey FROM orders
                      INTERSECT
                      SELECT c_custkey FROM customer) i) AS BIGINT)
                   AS n_intersect,
               CAST((SELECT count(*) FROM
                     (SELECT c_custkey FROM customer
                      EXCEPT
                      SELECT o_custkey FROM orders) e) AS BIGINT)
                   AS n_except
    """,
    # WITH RECURSIVE date spine (Spark 4 recursive CTE) gap-filling a
    # daily rollup — the generated calendar-dimension pattern. The fact
    # AGGREGATES FIRST behind a pushed date bound and only the day-sized
    # rollup joins the spine (a spine LEFT JOIN over the raw fact would
    # force the 100 TB side into the outer join's build/broadcast side).
    # Both engines run the identical text; day renders as a string so the
    # key column is dialect-neutral.
    "sql_text_recursive_spine": """
        WITH RECURSIVE spine(d) AS (
            SELECT DATE '1996-01-01'
            UNION ALL
            SELECT d + INTERVAL '1' DAY FROM spine
            WHERE d < DATE '1996-01-14'
        ),
        daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   count(*) AS orders,
                   sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-01-15'
            GROUP BY CAST(o_orderdate AS DATE)
        )
        SELECT CAST(CAST(s.d AS DATE) AS STRING) AS day,
               CAST(coalesce(dy.orders, 0) AS BIGINT) AS orders,
               CAST(round(coalesce(dy.rev, 0), 2) AS DOUBLE) AS day_revenue
        FROM spine s
        LEFT JOIN daily dy ON dy.day = CAST(s.d AS DATE)
    """,
    # WITH RECURSIVE graph walk with a depth bound: follow a deterministic
    # successor function over nation keys (a cyclic functional graph), then
    # roll up visits / distinct nodes / max depth per start — the bounded
    # transitive-closure shape, verbatim on both engines.
    "sql_text_recursive_walk": """
        WITH RECURSIVE walk(start_key, node_key, depth) AS (
            SELECT n_nationkey, n_nationkey, 0
            FROM nation WHERE n_nationkey < 5
            UNION ALL
            SELECT w.start_key, n.n_nationkey, w.depth + 1
            FROM walk w
            JOIN nation n ON n.n_nationkey = (w.node_key * 7 + 3) % 25
            WHERE w.depth < 6
        )
        SELECT start_key,
               CAST(count(*) AS BIGINT) AS visits,
               CAST(count(DISTINCT node_key) AS BIGINT) AS distinct_nodes,
               CAST(max(depth) AS INT) AS max_depth
        FROM walk GROUP BY start_key
    """,
    # PIVOT in the FROM clause, verbatim: aliased IN-list labels keep the
    # generated column names dialect-neutral (bare identifiers, no
    # backtick/double-quote divergence)
    "sql_text_pivot": """
        SELECT o_orderpriority,
               CAST(round(open_st, 2) AS DOUBLE) AS open_rev,
               CAST(round(filled_st, 2) AS DOUBLE) AS filled_rev,
               CAST(round(pending_st, 2) AS DOUBLE) AS pending_rev
        FROM (
            SELECT * FROM (
                SELECT o_orderpriority, o_orderstatus,
                       CAST(o_totalprice AS DECIMAL(18,4)) AS p
                FROM orders
            ) PIVOT (
                sum(p) FOR o_orderstatus IN ('O' AS open_st,
                                             'F' AS filled_st,
                                             'P' AS pending_st)
            )
        ) t
    """,
    # UNPIVOT back to long format — the inverse rotation, over a grouped
    # rollup whose three measures share one DECIMAL type (UNPIVOT requires
    # a common value type in both dialects)
    "sql_text_unpivot": """
        SELECT o_orderpriority, metric,
               CAST(round(val, 2) AS DOUBLE) AS value
        FROM (
            SELECT o_orderpriority,
                   CAST(count(*) AS DECIMAL(18,4)) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                        AS DECIMAL(18,4)) AS revenue,
                   CAST(count(DISTINCT o_custkey) AS DECIMAL(18,4))
                       AS customers
            FROM orders GROUP BY o_orderpriority
        ) UNPIVOT (
            val FOR metric IN (n_orders, revenue, customers)
        )
    """,
    # time-based RANGE frame: the rolling last-hour census every event
    # pipeline writes, as one verbatim window text (count and max are
    # order-insensitive, so the frame is engine-exact)
    "sql_text_interval_frame": """
        SELECT user_id,
               CAST(event_id AS BIGINT) AS event_id,
               CAST(count(*) OVER w AS BIGINT) AS events_last_hour,
               CAST(max(value) OVER w AS DOUBLE) AS max_value_last_hour
        FROM events
        WHERE user_id < 20
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL '1' HOUR PRECEDING
                               AND CURRENT ROW)
    """,
    # correlated LATERAL subquery: per-customer aggregate computed in the
    # FROM clause — the decorrelation shape both engines must plan as a
    # grouped join, not a per-row re-execution
    "sql_text_lateral": """
        SELECT c.c_custkey,
               CAST(t.n_orders AS BIGINT) AS n_orders,
               CAST(round(t.top_price, 2) AS DOUBLE) AS top_price
        FROM customer c,
             LATERAL (SELECT count(*) AS n_orders,
                             max(CAST(o.o_totalprice AS DECIMAL(18,4)))
                                 AS top_price
                      FROM orders o
                      WHERE o.o_custkey = c.c_custkey) t
        WHERE c.c_custkey < 50
    """,
    # TRY_CAST error-tolerant conversion semantics over an inline VALUES
    # table: invalid int/date strings yield NULL, never an error. Two
    # probed divergences are deliberately excluded — fractional-string→
    # INTEGER (DuckDB rounds '3.5'→4, Spark rejects) and 4-digit signed
    # strings→DATE (Spark reads '-0007' as a year, DuckDB rejects); the
    # verbatim family only carries texts whose semantics coincide.
    "sql_text_trycast": """
        SELECT s,
               TRY_CAST(s AS INTEGER) AS as_int,
               TRY_CAST(s AS DOUBLE) AS as_double,
               CAST(TRY_CAST(s AS DATE) AS STRING) AS as_date
        FROM (VALUES ('42'), ('-7'), ('x7'),
                     ('2024-01-31'), ('2024-02-30'), ('')) AS t(s)
    """,
    # chained CTEs feeding a windowed quartile rollup; the ntile is
    # PARTITIONED by segment so the quartile window shuffles on a key
    # instead of sorting the whole customer set on one executor
    "sql_text_cte": """
        WITH spend AS (
            SELECT c.c_mktsegment AS segment, o.o_custkey,
                   sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS total
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, o.o_custkey
        ), ranked AS (
            SELECT segment, o_custkey, total,
                   ntile(4) OVER (PARTITION BY segment
                                  ORDER BY total, o_custkey) AS quartile
            FROM spend
        )
        SELECT segment, quartile,
               CAST(count(*) AS BIGINT) AS customers,
               CAST(round(sum(total), 2) AS DOUBLE) AS quartile_spend
        FROM ranked
        GROUP BY segment, quartile
    """,
    # SQL:2008 ordered-set aggregates (WITHIN GROUP): percentile_disc
    # returns an exact data value from the same parquet, so floor(·*100)
    # is a bit-identical BIGINT on both engines — no rounding class
    "sql_text_ordered_set": """
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(floor(percentile_disc(0.5) WITHIN GROUP
                          (ORDER BY o_totalprice) * 100) AS BIGINT)
                   AS p50_cents,
               CAST(floor(percentile_disc(0.9) WITHIN GROUP
                          (ORDER BY o_totalprice) * 100) AS BIGINT)
                   AS p90_cents
        FROM orders GROUP BY o_orderpriority
    """,
}


def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDFs (Spark 4 ``CREATE FUNCTION … RETURN expr``)
    — the §2.9 plugin surface in pure SQL: the function body is inlined
    by the analyzer into the plan (no Python worker, no JVM UDF object),
    so a SQL UDF costs exactly what its expression costs and pushdown /
    codegen still apply. The oracle runs the same query with the bodies
    textually inlined — equality proves the inlining semantics."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1.0 - d)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING RETURN CASE WHEN p >= 200000 THEN 'high'
                                   WHEN p >= 50000 THEN 'mid'
                                   ELSE 'low' END
    """)
    return spark.sql("""
        SELECT price_band(o_totalprice) AS band,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(round(sum(CAST(disc_price(o_totalprice, 0.1)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS discounted
        FROM orders GROUP BY price_band(o_totalprice)
    """)


def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 ``@udtf`` user-defined TABLE function),
    registered via ``spark.udtf.register`` and invoked from SQL with the
    ``FROM t, LATERAL fn(t.col)`` correlation — the table-valued member
    of the §2.9 plugin surface next to q_sql_udf's scalar one. One input
    row fans out to N output rows with multiple typed columns, something
    no scalar UDF can express; Spark plans it as a Generate over a
    single Python worker stage (batch-pickled rows, NOT per-row RPC).
    The word split is ``text.split(' ')`` with empties skipped but
    POSITIONS preserved, so the DuckDB mirror (list indexing over
    ``string_split``) reproduces positions exactly. Hot-path note: for
    pure splitting the built-in posexplode(split()) stays JVM-side and
    is what the corpus operators use; the UDTF form is the extension
    point for expansions with real Python logic in them."""
    from pyspark.sql.functions import udtf

    from ..sources.tables import register_views

    register_views(spark, sf_dir)

    @udtf(returnType="pos: int, word: string")
    class WordPositions:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split(" ")):
                if w:
                    yield (i, w)

    spark.udtf.register("word_positions", WordPositions)
    return spark.sql("""
        SELECT w.word AS word,
               CAST(count(*) AS BIGINT) AS occurrences,
               CAST(count(DISTINCT d.doc_id) AS BIGINT) AS docs,
               CAST(min(w.pos) AS BIGINT) AS min_pos
        FROM documents d, LATERAL word_positions(d.text) w
        WHERE d.doc_id < 200
        GROUP BY w.word
    """)


ORACLE_PYTHON_UDTF = """
    SELECT t.word AS word,
           CAST(count(*) AS BIGINT) AS occurrences,
           CAST(count(DISTINCT t.doc_id) AS BIGINT) AS docs,
           CAST(min(t.pos) AS BIGINT) AS min_pos
    FROM (
        -- DuckDB zips parallel unnests in one SELECT, pairing each word
        -- with its 0-based index (range(len)), no LATERAL needed
        SELECT e.doc_id, e.pos, e.word
        FROM (SELECT doc_id,
                     unnest(range(len(string_split(text, ' ')))) AS pos,
                     unnest(string_split(text, ' ')) AS word
              FROM documents WHERE doc_id < 200) e
        WHERE e.word <> ''
    ) t
    GROUP BY t.word
"""


ORACLE_SQL_UDF = """
    SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 50000 THEN 'mid'
                ELSE 'low' END AS band,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(round(sum(CAST(o_totalprice * (1.0 - 0.1)
                               AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS discounted
    FROM orders GROUP BY 1
"""


def _make_text_query(sql: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.tables import register_views

        register_views(spark, sf_dir)
        return spark.sql(sql)
    return q


TEXT_QUERIES = {name: _make_text_query(sql) for name, sql in SQL_TEXTS.items()}


HIST_BUCKETS = 8


def q_column_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of orders.o_totalprice — the other CBO artifact
    next to q_table_stats (selectivity estimation reads bucket bounds, not
    min/max). Two bounded passes, NO global sort: pass 1 computes the
    bucket bounds as ``percentile_disc`` (one aggregate) — the DISCRETE
    percentile is an exact data value, never an interpolated double, so
    the bounds are bit-identical in any engine reading the same parquet
    (the oracle spells out the same ANSI definition — smallest value with
    cume_dist >= f — explicitly; interpolating percentile_cont was a
    1-ulp cross-engine gate risk). Pass 2 counts rows per half-open
    (lo, hi] interval with ``sum(when)`` columns against those bounds.
    At 100 TB swap pass 1 to ``percentile_approx`` (mergeable sketch)
    and keep pass 2 unchanged.

    FULLY LAZY since r10: the bounds ride a broadcast 1-row aggregate
    crossJoined in-plan (the spearman-grid pattern) instead of a
    build-time .first() — the former form fired two eager jobs on every
    call. Pass 2 groups by the (constant) bound columns, exactly the
    oracle's ``FROM orders, bounds GROUP BY`` shape, so an empty table
    still yields zero rows."""
    o = load_table(spark, "orders", sf_dir)
    fracs = [i / HIST_BUCKETS for i in range(1, HIST_BUCKETS)]
    # ONE percentile_disc over an ARRAY of fractions: a single sorted
    # buffer serves every bound, vs N independent sort-aggregates for N
    # scalar calls (measured 2.6x at sf0.1, bit-identical values)
    arr = ", ".join(str(f) for f in fracs)
    brow = o.agg(F.expr(f"percentile_disc(array({arr})) WITHIN GROUP "
                        f"(ORDER BY o_totalprice)").alias("bs"),
                 F.min("o_totalprice").alias("b0"),
                 F.max("o_totalprice").alias("bN"))

    def bexpr(i: int) -> str:
        if i == 0:
            return "b0"
        if i == HIST_BUCKETS:
            return "bN"
        return f"element_at(bs, {i})"

    v = F.col("o_totalprice")
    cols = []
    for i in range(1, HIST_BUCKETS + 1):
        lo, hi = F.expr(bexpr(i - 1)), F.expr(bexpr(i))
        cond = (v <= hi) if i == 1 else ((v > lo) & (v <= hi))
        cols.append(F.sum(F.when(cond, 1).otherwise(0)).cast("long")
                    .alias(f"c{i}"))
    counts = (o.crossJoin(F.broadcast(brow))
              .groupBy("b0", "bs", "bN").agg(*cols))
    stack = ", ".join(
        f"'{i}', c{i}, CAST({bexpr(i - 1)} AS DOUBLE), "
        f"CAST({bexpr(i)} AS DOUBLE)"
        for i in range(1, HIST_BUCKETS + 1))
    return counts.selectExpr(
        f"stack({HIST_BUCKETS}, {stack}) AS (bucket, rows, lo, hi)")


def _histogram_oracle() -> str:
    """Mirror: bounds via the ANSI percentile_disc definition spelled out
    explicitly (smallest value whose cume_dist >= f) so the bound is an
    exact data value with no engine-specific interpolation or index
    rounding; counts via the same half-open CASE columns, unpivoted."""
    fracs = [i / HIST_BUCKETS for i in range(1, HIST_BUCKETS)]
    bsel = ", ".join(
        [f"(SELECT min(v) FROM ranked WHERE cd >= {f}) AS b{i}"
         for i, f in enumerate(fracs, 1)]
        + ["(SELECT min(o_totalprice) FROM orders) AS b0",
           f"(SELECT max(o_totalprice) FROM orders) AS b{HIST_BUCKETS}"])
    rows = []
    for i in range(1, HIST_BUCKETS + 1):
        cond = (f"o_totalprice <= b{i}" if i == 1
                else f"o_totalprice > b{i - 1} AND o_totalprice <= b{i}")
        rows.append(
            f"SELECT '{i}' AS bucket, "
            f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS rows, "
            f"CAST(b{i - 1} AS DOUBLE) AS lo, CAST(b{i} AS DOUBLE) AS hi "
            f"FROM orders, bounds GROUP BY b{i - 1}, b{i}")
    return ("WITH ranked AS (SELECT o_totalprice AS v, "
            "cume_dist() OVER (ORDER BY o_totalprice) AS cd FROM orders),\n"
            "bounds AS (SELECT " + bsel + ")\n"
            + "\nUNION ALL\n".join(rows))


def q_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier dimension rollup (broadcast nation join + exact balance
    percentiles) — completes gate coverage of every driver table."""
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("suppliers"),
            exact_sum(money("s_acctbal")).alias("total_balance"),
            # round to 3, not 2: the median of 2-decimal balances is a
            # multiple of 0.005, which sits EXACTLY on the 2-decimal rounding
            # boundary — engines then disagree by a cent on half-up vs
            # nearest-even. At 3 decimals every such value is off-boundary.
            F.round(F.percentile("s_acctbal", F.lit(0.5)), 3).alias("median_balance"),
        )
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): per-priority count of
    orders in a quarter having at least one late lineitem. The synthetic
    schema lacks commit/receipt dates, so "late" is l_shipdate after the
    order date — what matters is the EXISTS: a correlated subquery with an
    extra non-equi conjunct, which Catalyst decorrelates into a left
    SEMI-join on the order key. The fact side shuffles once on the join
    key; no row multiplication ever reaches the aggregate (semi-join
    returns each order at most once regardless of lineitem fan-out)."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: revenue flowing between two nations per
    year, where supplier nation and customer nation are the chosen pair in
    either direction. The nation-pair predicate is pushed INTO the
    supplier/customer dimension scans before any fact join — supplier
    shrinks to ~2/25 and broadcasts into lineitem; the customer leg joins
    orders first (both pre-filtered), so the or-of-pairs disjunction never
    evaluates against the full fact join. Year extraction stays a column
    expression under codegen."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    s = (
        load_table(spark, "supplier", sf_dir)
        .filter(F.col("s_nationkey").isin(1, 2))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"),
                F.col("s_nationkey").alias("sn"))
    )
    c = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_nationkey").isin(1, 2))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"),
                F.col("c_nationkey").alias("cn"))
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(((F.col("sn") == 1) & (F.col("cn") == 2))
                | ((F.col("sn") == 2) & (F.col("cn") == 1)))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(exact_sum(money("l_extendedprice") * (1 - rate("l_discount")))
             .alias("revenue"))
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales opportunity): customers with
    above-average positive balance and no orders at all, grouped by a
    country code (nationkey mod 5 stands in for the phone prefix). Composes
    the two subquery forms in one plan: a scalar subquery (global average →
    1-row broadcast, no fact shuffle for the comparison) and a NOT EXISTS
    (left ANTI join against orders, shuffled on the key at scale)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("string").alias("cntry"))
        .agg(
            F.count("*").alias("numcust"),
            exact_sum(money("c_acctbal")).alias("totacctbal"),
        )
    )


def _dec_rev():
    """Exact-money revenue term: DECIMAL sums never land a float-ulp from a
    rounding boundary (the q10 lesson — see q_tpch_q10's comment)."""
    return (F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1).cast("decimal(18,4)")
               - F.col("l_discount").cast("decimal(18,4)")))


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: of all PROMO-part revenue sold to
    EUROPE customers over two years, the fraction supplied by NATION_7,
    per order year. Five-table star: both nation legs and the filtered
    part/supplier dims broadcast; lineitem shuffles once onto orders.
    Numerator and denominator sum as DECIMAL, convert to double, and
    divide — identical doubles on both engines."""
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO")
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    cust_nations = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                    .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
                    .select("c_custkey"))
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    rev_dec = F.sum(_dec_rev())
    nation_rev_dec = F.sum(F.when(F.col("supp_nation") == "NATION_7", _dec_rev())
                           .otherwise(F.lit(0).cast("decimal(18,4)")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_nations, o.o_custkey == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(nation_rev_dec.cast("double") / rev_dec.cast("double"), 6)
             .alias("mkt_share"),
             F.round(rev_dec, 2).cast("double").alias("total_revenue"))
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit) adapted to the trimmed schema:
    no partsupp, so cost is p_retailprice·quantity·1% — the SHAPE is what
    matters: a 4-table fact join with an expression aggregate grouped by
    (nation, year). Part filter pushes to its scan, filtered part +
    supplier-with-nation broadcast, orders joins only for the year.
    Profit accumulates as DECIMAL end to end."""
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").contains("1"))
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    s = (load_table(spark, "supplier", sf_dir)
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("nation")))
    cost = (F.col("p_retailprice").cast("decimal(18,4)")
            * F.col("l_quantity").cast("decimal(18,4)")
            * F.lit(0.01).cast("decimal(6,4)"))
    amount = _dec_rev().cast("decimal(30,8)") - cost.cast("decimal(30,8)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock, adapted: part value from lineitem
    revenue instead of the absent partsupp): parts whose revenue exceeds a
    fraction of TOTAL corpus revenue — the scalar-subquery-in-HAVING shape.
    The per-part aggregate is MATERIALIZED once (localCheckpoint — the
    winnowing precedent; at 100 TB it is the intermediate table a real
    engine's CTE materialization writes), then the total is a 1-row
    broadcast from the checkpoint. This is the scalable form of
    self-reference over an UNBOUNDED-cardinality group key: a separate
    agg branch re-scans the fact (inferred filters de-canonicalize the
    exchange), and an unpartitioned window funnels billions of part rows
    through one task. DECIMAL sums; the compare runs on their exact
    doubles."""
    li = load_table(spark, "lineitem", sf_dir)
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(_dec_rev()).alias("val"))
        .localCheckpoint()
    )
    total = per_part.agg(F.sum("val").alias("total_val"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double")
                > 0.001 * F.col("total_val").cast("double"))
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority, adapted: no shipmode or
    commit/receipt dates in the trimmed schema): per order priority, how
    many 1996 lineitems shipped late (>30 days after the order date) vs on
    time. The join pushes the year bound into the orders scan; the
    conditional counts partial-aggregate map-side — integer output,
    engine-exact."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, "lineitem", sf_dir)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("late_count"),
            F.sum(F.when(late, 0).otherwise(1)).alias("ontime_count"),
        )
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship, adapted: the supplier
    set per part comes from lineitem instead of the absent partsupp, and
    the excluded-supplier subquery is negative-balance suppliers instead
    of complaint comments): per (brand, type, size) band, how many
    distinct suppliers ship it. NOT IN → left ANTI join before the
    count-distinct; part filter broadcasts into the fact."""
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#9") & F.col("p_size").isin(1, 4, 7, 10, 13))
    li = load_table(spark, "lineitem", sf_dir)
    excluded = load_table(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(excluded, li.l_suppkey == excluded.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: LEFT join so
    zero-order customers survive into the c_count=0 bucket, then a second
    aggregation over the counts. Two shuffles (custkey, then count) —
    the double-aggregation shape; all-integer output is engine-exact."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: quarterly revenue per supplier, keep the
    supplier(s) matching the maximum. The per-supplier aggregate is
    materialized once (localCheckpoint, the q11 pattern) and the max is a
    1-row broadcast from it — one lineitem scan (asserted in
    tests/test_plans.py), no unpartitioned window funneling the
    supplier-sized relation through one task, and no separate agg branch
    (whose join-inferred isnotnull filters de-canonicalize the exchange
    and re-scan the fact). DECIMAL revenue makes the equality comparison
    exact — with doubles, 'rev = max(rev)' is a float-equality
    landmine."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    s = load_table(spark, "supplier", sf_dir)
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_dec_rev()).alias("total_revenue"))
        .localCheckpoint()
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("supplier_no", "s_name",
                F.col("total_revenue").cast("double").alias("total_revenue"))
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: lineitems of one brand with
    quantity under 20% of that part's average quantity. The correlated
    scalar subquery decorrelates into a per-part average WINDOW over the
    brand-filtered join — one scan of each table (asserted in
    tests/test_plans.py); the aggregate-branch join-back form scanned
    lineitem AND part twice (the q15 lesson). Quantities are
    integer-valued doubles so the per-part average is bit-exact on both
    engines and the comparison cannot flip."""
    from pyspark.sql import Window

    p = load_table(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#13")
    li = load_table(spark, "lineitem", sf_dir)
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    aq = F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
    return (
        branded.withColumn("aq", aq)
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg(F.round(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
             .cast("double") / 7.0), 2).alias("avg_yearly"),
            F.count("*").alias("cnt"))
    )


def q_scalar_fn_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Everyday scalar-function conformance — the date/string/numeric
    builtins a user switching engines leans on, verified value-for-value
    against DuckDB over a fixed order slice: last_day / add_months /
    date_trunc / weekday (mapped to a shared Monday=0 convention),
    translate / lpad / reverse / repeat / substring, and
    positive-modulus / greatest / power (Spark's pmod vs DuckDB's
    sign-following %, reconciled the portable way). Pure projection —
    zero exchanges beyond the pushed key filter."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd")
        .alias("month_end"),
        F.date_format(F.add_months(F.to_date("o_orderdate"), 2),
                      "yyyy-MM-dd").alias("plus_two_months"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd")
        .alias("quarter_start"),
        # shared convention: Monday = 0 (Spark weekday() already is;
        # DuckDB isodow is Monday = 1)
        F.weekday("o_orderdate").alias("weekday_mon0"),
        F.translate("o_orderpriority", "-", "_").alias("pri_translated"),
        F.lpad("o_orderpriority", 12, "*").alias("pri_padded"),
        F.reverse(F.substring("o_orderpriority", 1, 3)).alias("pri_rev3"),
        F.repeat(F.substring("o_orderpriority", 1, 1), 3).alias("pri_rep"),
        F.pmod(F.col("o_orderkey") - 150, F.lit(7)).alias("pos_mod"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0))
        .alias("floor_100k"),
        F.round(F.pow(F.col("o_orderkey"), 1.5), 3).alias("key_pow15"),
    )


def q_tz_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IANA timezone conversion conformance — UTC instants rendered as
    wall-clock time in DST-observing and non-whole-hour zones, verified
    string-for-string against DuckDB's ICU implementation. The January
    fixture covers standard time; the same instants shifted +182 days
    land in July, so Europe/Berlin flips +1h→+2h and America/New_York
    −5h→−4h across the two columns (the DST transition is the part
    engines get wrong); Asia/Kathmandu pins the +05:45 fractional
    offset. A to_utc ∘ from_utc round trip must be the identity (safe
    here: no fixture instant lands in a fall-back overlap). Offsets are
    re-derived as integer minute deltas of the wall renderings — pure
    projection, zero exchanges beyond the pushed key filter."""
    e = load_table(spark, "events", sf_dir).filter(F.col("event_id") < 400)
    fmt = "yyyy-MM-dd HH:mm:ss"
    # parquet timestamps read as TIMESTAMP_NTZ; with the session tz pinned
    # to UTC the cast makes them the UTC instants the fixture means
    ts = F.col("ts").cast("timestamp")
    jul = ts + F.expr("INTERVAL 182 DAYS")

    def wall(src, zone):
        return F.from_utc_timestamp(src, zone)

    off_min = lambda w, src: ((F.unix_micros(w) - F.unix_micros(src))
                              / F.lit(60_000_000)).cast("long")
    b_jan, b_jul = wall(ts, "Europe/Berlin"), wall(jul, "Europe/Berlin")
    ny_jul = wall(jul, "America/New_York")
    ktm = wall(ts, "Asia/Kathmandu")
    roundtrip = F.to_utc_timestamp(b_jan, "Europe/Berlin") == ts
    return e.select(
        "event_id",
        F.date_format(b_jan, fmt).alias("berlin_jan"),
        F.date_format(b_jul, fmt).alias("berlin_jul"),
        F.date_format(wall(ts, "America/New_York"), fmt)
        .alias("ny_jan"),
        F.date_format(ny_jul, fmt).alias("ny_jul"),
        F.date_format(ktm, fmt).alias("kathmandu"),
        roundtrip.cast("int").alias("roundtrip_ok"),
        off_min(b_jan, ts).alias("off_berlin_jan_min"),
        off_min(b_jul, jul).alias("off_berlin_jul_min"),
        off_min(ny_jul, jul).alias("off_ny_jul_min"),
        off_min(ktm, ts).alias("off_ktm_min"),
    )


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics conformance row set — the corner cases engines
    quietly disagree on, verified against DuckDB: grouping BY a nullable
    key (the NULL group is a real group), count(*) vs count(col) (the
    NULL group's count(col) is 0), null-safe equality (<=> / IS NOT
    DISTINCT FROM), aggregates ignoring NULLs (avg), and SUM over an
    all-NULL slice staying NULL instead of 0. The nullable key is
    manufactured with nullif so the same rows exercise every rule."""
    o = load_table(spark, "orders", sf_dir)
    base = o.select(
        F.expr("nullif(o_orderpriority, '3-MEDIUM')").alias("pri_n"),
        "o_totalprice",
        F.expr("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")
        .alias("p_price"),
    )
    return base.groupBy("pri_n").agg(
        F.count("*").alias("cnt_star"),
        F.count("pri_n").alias("cnt_col"),
        F.count(F.when(F.col("pri_n").eqNullSafe(F.lit(None)), 1))
        .alias("nullsafe_null_cnt"),
        exact_avg(money("o_totalprice"), 2).alias("avg_price"),
        # all-NULL slice for most groups: SUM must stay NULL, not 0
        exact_sum(money("p_price")).alias("sum_p_only"),
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind cube/rollup
    (SPARK-45929 DataFrame API): per-returnflag, per-linestatus, and the
    grand total in ONE pass over lineitem. Like the cube, Catalyst plans
    a single scan + Expand (3 copies here, only the sets asked for —
    cheaper than cube's 4) with partial aggregation before the exchange;
    grouping() columns disambiguate the null group from real nulls.

    r11: like cube_rollup, the Expand actually multiplies the FACT rows
    before partial aggregation, so the sets now run over the (rf, ls)
    pre-aggregated partials (≤ |rf|·|ls| rows) — counts and sums are
    associative, totals bit-identical."""
    li = load_table(spark, "lineitem", sf_dir)
    pre = (li.groupBy("l_returnflag", "l_linestatus")
           .agg(F.count("*").alias("_c"), F.sum("l_quantity").alias("_q")))
    return (
        pre.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag", "l_linestatus")
        .agg(
            F.sum("_c").cast("long").alias("cnt"),
            F.round(F.sum("_q"), 2).alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
        )
    )


def q_analytic_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-family windows beyond row_number/lag: ntile quartiles,
    percent_rank, cume_dist, and a RANGE-frame running sum (peers of a
    tie enter the frame together, unlike the ROWS frame in
    q_window_functions). One hash exchange on the partition key serves
    all four — they share the same (priority, price, key) sort. Bounded
    to one order-quarter so the suite row count stays small."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp")))
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey")
    wr = (Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
          .rangeBetween(Window.unboundedPreceding, 0))
    return o.select(
        "o_orderpriority", "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        # RANGE frame: all price-tied peers enter together on both engines
        exact_wsum(money("o_totalprice"), wr).alias("range_running"),
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier (adapted: the absent partsupp
    relation is derived as min(l_extendedprice) per (part, supplier) from
    lineitem; the BRASS/size predicate becomes p_type='STANDARD' AND
    p_size<=15 against this dataset's vocabulary). The correlated
    min-cost-in-region subquery decorrelates into a per-part aggregate
    broadcast back against the joined relation — the same shape Catalyst
    produces for the real Q2. supply_cost is a MIN (a selection, not a
    sum), so both engines pick the identical parquet double and the
    equality join cannot flip. Supplier×nation×region is a broadcast dim
    chain; at 100 TB only the part-supplier aggregation shuffles, keyed by
    (partkey, suppkey) which is near-uniform."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    dims = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    # part/supplier predicates commute with the per-(part, supplier) MIN:
    # apply them BELOW the aggregate as broadcast semi-joins, so the only
    # fact shuffle aggregates the surviving slice, not all of lineitem
    li_pruned = (
        li.join(F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"))),
                "l_partkey", "left_semi")
        .join(F.broadcast(dims.select(F.col("s_suppkey").alias("l_suppkey"))),
              "l_suppkey", "left_semi")
    )
    ps = (li_pruned.groupBy("l_partkey", "l_suppkey")
          .agg(F.min("l_extendedprice").alias("supply_cost")))
    joined = (ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
              .join(F.broadcast(dims), ps.l_suppkey == F.col("s_suppkey")))
    # the regional per-part minimum as a window over the joined aggregate
    # rows — a groupBy + join-back would re-run the fact aggregation (the
    # only expensive subtree) twice; the window re-shuffles only the few
    # surviving (part, supplier) rows.
    min_w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_cost", F.min("supply_cost").over(min_w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supply_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential-part-promotion shape (adapted: without
    partsupp.availqty, a supplier 'holds excess stock' of a part when their
    1996 shipped quantity exceeds 30% of the part's total 1996 shipped
    quantity). Keeps the real Q2O's nested-IN chain as Spark-first
    semi-joins: parts by name prefix → per-(supplier, part) quantity vs
    per-part total (the correlated agg, decorrelated and broadcast) →
    suppliers in a region. l_quantity is integer-valued so the double sums
    are exact regardless of add order and the 0.3 threshold compare is
    engine-stable. The fact scan shuffles once on (suppkey, partkey); the
    per-part totals are a window over those aggregate rows, never a second
    pass over lineitem."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    p = load_table(spark, "part", sf_dir).filter(
        F.col("p_name").startswith("small")).select("p_partkey")
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    shipped = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    per_sp = (shipped.groupBy("l_suppkey", "l_partkey")
              .agg(F.sum("l_quantity").alias("qty")))
    # per-part totals as a window over the ALREADY-AGGREGATED relation —
    # a groupBy+join-back would re-run the fact scan and full-width
    # shuffle a second time; the window only re-shuffles (supp, part, qty)
    # aggregate rows by partkey.
    total_w = Window.partitionBy("l_partkey")
    excess = (per_sp
              .withColumn("total_qty", F.sum("qty").over(total_w))
              .filter(F.col("qty") > 0.3 * F.col("total_qty")))
    dominant = (excess.groupBy("l_suppkey")
                .agg(F.count("*").alias("excess_parts"),
                     F.sum("qty").alias("excess_qty")))
    dims = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (
        dims.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name", "n_name", "excess_parts",
                F.col("excess_qty").cast("double").alias("excess_qty"))
        .orderBy("s_name")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers-who-kept-orders-waiting (adapted: without
    commit/receipt dates, 'late' means shipping >60 days after the order
    date). The EXISTS / NOT EXISTS pair over the same fact decorrelates
    into per-order window counts over deduped (order, supplier, was-late)
    rows: EXISTS other supplier ⇔ n_supp > 1, NOT EXISTS other late
    supplier ⇔ n_late = 1 (the candidate itself is late). One shuffle on
    (orderkey, suppkey) serves the dedup, and the order-partitioned window
    rides the same ordering; supplier/nation/region stay broadcast. The
    oracle is the classic EXISTS/NOT EXISTS form, proving the
    decorrelation semantics-preserving."""
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    li2 = li.join(o, li.l_orderkey == o.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    # ONE pass over the fact join: dedup to (order, supplier, was-late)
    # rows, then window counts per order replace both correlated
    # subqueries — n_supp > 1 ⇔ EXISTS other supplier, n_late = 1 ⇔
    # NOT EXISTS other late supplier. The groupBy and the window share the
    # same orderkey-prefixed shuffle; a separate per-order aggregate +
    # join-back would execute the lineitem⋈orders join twice.
    pairs = (li2.groupBy(F.col("l_orderkey").alias("w_orderkey"), "l_suppkey")
             .agg(F.max(F.when(late, 1).otherwise(0)).alias("is_late")))
    order_w = Window.partitionBy("w_orderkey")
    waiting = (pairs
               .withColumn("n_supp", F.count("*").over(order_w))
               .withColumn("n_late", F.sum("is_late").over(order_w))
               .filter((F.col("is_late") == 1) & (F.col("n_supp") > 1)
                       & (F.col("n_late") == 1)))
    dims = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (
        waiting.join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# Representative filter DICT exercising the reference's whole operator
# vocabulary in one compile: $or over $in / $gte, multi-op range spec
# with $isodate wire literals, null-keeping $ne. The gate proves the
# COMPILER (functions/filter_compiler.py), not a hand-written predicate:
# the Spark side filters with compile_filter(MONGO_FILTER) and the oracle
# states the equivalent SQL independently.
MONGO_FILTER = {
    "$or": [
        {"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}},
        {"o_totalprice": {"$gte": 400000.0}},
    ],
    "o_orderdate": {"$gte": {"$isodate": "1995-01-01T00:00:00"},
                    "$lt": {"$isodate": "1997-01-01T00:00:00"}},
    "o_orderstatus": {"$ne": "P"},
}


def q_mongo_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's query IR end-to-end: an arbitrary Mongo filter
    dict compiled to one Column by ``compile_filter`` and pushed through
    a grouped rollup — the 'port your DocStore query unchanged' path."""
    from ..functions.filter_compiler import compile_filter

    o = load_table(spark, "orders", sf_dir)
    return (
        o.filter(compile_filter(MONGO_FILTER))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                     .cast("double"), 2).alias("revenue"))
    )


FI_CAP = 32      # per-basket distinct-item cap (lexicographic, like PMI)
FI_MINSUP = 2    # minimum pair support emitted


# r11: the capped per-order basket relation is the shared input of
# frequent_itemsets AND association_rules, and association_rules alone
# referenced it THREE times in one plan (item counts, basket count, pair
# counts) — Spark does not dedupe common subtrees, so the lineitem
# groupBy+collect_set ran 3× per execution (the r10 cohens_kappa/NB
# finding, guide §3.3). Checkpointed + memoized per (session, corpus)
# like the tokenized corpus.
@corpus_memo(table="lineitem")
def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.slice(F.array_sort(F.collect_set("l_partkey")), 1, FI_CAP)
             .alias("items"))
        .filter(F.size("items") >= 2)
        .localCheckpoint()
    )
    return baskets


def q_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FREQUENT-ITEMSET PAIR MINING (the A-Priori L2 step / market-basket
    co-occurrence): parts ordered together, pair support ≥ FI_MINSUP.

    Same shuffle-free candidate generation as token_pmi
    (text_analysis.py): baskets are capped sorted DISTINCT item arrays
    (``slice(array_sort(collect_set(..)), 1, CAP)``) and the ≤
    CAP·(CAP−1)/2 candidate pairs per basket come from IN-ARRAY indexed
    combinations — no per-order self-join, so a viral basket can never
    quadratically explode the exchange. The only heavy shuffle is the
    pair groupBy, which IS the co-occurrence matrix build. TPC-H baskets
    hold ≤ 7 items so the cap never binds here; at 100 TB it is the
    stated (and logged-by-construction) coverage bound, exactly as in
    the PMI op. The oracle mirrors the cap with DuckDB list functions
    and counts pairs via the classic per-order self-join, proving the
    in-array combination form equivalent. Baskets come from the
    ``_order_baskets`` memoized checkpoint shared with association_rules
    (r11 — see the cache comment above)."""
    baskets = _order_baskets(spark, sf_dir)
    pair_arr = F.flatten(F.transform(
        "items",
        lambda x, i: F.transform(
            F.slice("items", i + 2, FI_CAP),
            lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
    return (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= FI_MINSUP)
    )


CF_ITEM_SLICE = 500  # fixed part-key slice keeps the output bounded
CF_CAP = 24          # per-user basket cap (mirrors FI_CAP's discipline)
CF_MIN_CO = 2        # minimum co-purchase count for a candidate pair
CF_TOP = 3           # recommendations kept per item


def q_itemcf_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM COLLABORATIVE FILTERING — the classic 'customers who
    bought X also bought Y' recommender build (Linden et al., Amazon
    item-to-item CF): per-item top-CF_TOP neighbors by co-purchase
    cosine co(a,b)/√(n_a·n_b) over per-CUSTOMER baskets.

    Candidate generation reuses the frequent_itemsets discipline: capped
    sorted distinct per-user item arrays and IN-ARRAY indexed
    combinations — no per-user self-join, so a power buyer can never
    quadratically explode the exchange; the only heavy shuffle is the
    pair groupBy (the co-occurrence matrix build itself). Cosine is one
    single-shot double over integer counts and the ranking tie-breaks
    (cosine desc, co desc, item asc) are total, so the top-N set is
    deterministic. The oracle rebuilds the matrix with the classic
    exploded self-join, proving the in-array form equivalent."""
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey").filter(F.col("l_partkey") < CF_ITEM_SLICE)
    inter = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    baskets = inter.groupBy("u").agg(
        F.slice(F.array_sort(F.collect_set("item")), 1, CF_CAP).alias("items"))
    singles = (baskets.select(F.explode("items").alias("item"))
               .groupBy("item").agg(F.count(F.lit(1)).alias("n")))
    pair_arr = F.flatten(F.transform(
        "items",
        lambda x, i: F.transform(
            F.slice("items", i + 2, CF_CAP),
            lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
    co = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= CF_MIN_CO)
    )
    # r11: symmetrize in ONE pass over co (explode of the two directions)
    # — the former self-unionByName referenced the co subtree twice and
    # Spark executed the basket build + pair explode + groupBy once per
    # branch (common subtrees are not deduped); same rows, one execution
    sym = (co.select(F.explode(F.array(
        F.struct(F.col("pa").alias("a"), F.col("pb").alias("b")),
        F.struct(F.col("pb").alias("a"), F.col("pa").alias("b"))))
        .alias("e"), "co")
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"), "co"))
    scored = (
        sym.join(singles.select(F.col("item").alias("a"),
                                F.col("n").alias("n_a")), "a")
        .join(singles.select(F.col("item").alias("b"),
                             F.col("n").alias("n_b")), "b")
        .withColumn("cos", F.col("co")
                    / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")))
    )
    pick = Window.partitionBy("a").orderBy(
        F.desc("cos"), F.desc("co"), F.asc("b"))
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") <= CF_TOP)
        .select(F.col("a").alias("item"), "rn", F.col("b").alias("rec"),
                "co", "n_a", "n_b", F.round("cos", 6).alias("cosine"))
    )


def q_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the diagnostic a 100 TB planner runs BEFORE
    shuffling on a key: per candidate key, distinct-key count, total
    rows, the heaviest key's share, and the Gini coefficient of the key
    frequency distribution (0 = uniform, →1 = one mega-key). Gini comes
    from the exact rank formula Σ(2i−n−1)·xᵢ / (n·Σx) computed as
    integer aggregates (2Σi·xᵢ and Σx fold exactly; the subtraction and
    the two divisions are single-shot), so the hashed numbers carry no
    float-fold noise. The rank sort runs over the KEY-sized frequency
    relation, never the fact table — the same bounded-global-sort shape
    as RFM. Audits events.user_id and orders.o_custkey."""
    from pyspark.sql import Window

    def profile(df: DataFrame, key: str, rel: str) -> DataFrame:
        counts = (df.groupBy(key)
                  .agg(F.count(F.lit(1)).alias("c"))
                  .select(F.col(key).cast("long").alias("k"), "c"))
        ranked = counts.withColumn(
            "i", F.row_number().over(Window.orderBy("c", "k")))
        agg = ranked.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("total"),
            F.max("c").alias("max_c"),
            F.sum(F.col("i").cast("decimal(19,0)")
                  * F.col("c").cast("decimal(19,0)")).alias("six"),
        )
        gnum = (F.lit(2).cast("decimal(2,0)") * F.col("six")
                - (F.col("n_keys") + 1).cast("decimal(19,0)")
                * F.col("total").cast("decimal(19,0)"))
        return agg.select(
            F.lit(rel).alias("rel"), "n_keys", "total", "max_c",
            F.round(F.col("max_c").cast("double")
                    / F.col("total").cast("double"), 6).alias("top1_share"),
            F.round(gnum.cast("double")
                    / (F.col("n_keys").cast("double")
                       * F.col("total").cast("double")), 6).alias("gini"),
        )

    ev = load_table(spark, "events", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return profile(ev, "user_id", "events.user_id").unionByName(
        profile(o, "o_custkey", "orders.o_custkey"))


_SKEW_PROFILE_SQL = """
    SELECT '{rel}' AS rel, n_keys, total, max_c,
           round(CAST(max_c AS DOUBLE) / CAST(total AS DOUBLE), 6)
               AS top1_share,
           round(CAST(2 * six - (n_keys + 1) * total AS DOUBLE)
                 / (CAST(n_keys AS DOUBLE) * CAST(total AS DOUBLE)), 6)
               AS gini
    FROM (
        SELECT count(*) AS n_keys, sum(c) AS total, max(c) AS max_c,
               sum(CAST(i AS HUGEINT) * CAST(c AS HUGEINT)) AS six
        FROM (
            SELECT c, row_number() OVER (ORDER BY c, k) AS i
            FROM (SELECT CAST({key} AS BIGINT) AS k, count(*) AS c
                  FROM {table} GROUP BY 1) f
        ) r
    ) a
"""


import math as _math

# Benford first-digit expectations as shared literals: both engines get
# the SAME rounded constants, so no cross-engine log10 bit differences
BENFORD_EXP = {d: round(_math.log10(1 + 1 / d), 6) for d in range(1, 10)}


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-FORENSICS first-digit (Benford's law) audit over order
    totals — the anomaly screen fraud/quality pipelines run on money
    columns: per leading digit the observed count, observed rate,
    Benford-expected rate, and the chi-square contribution. All float
    math is single-shot (one division, one squared deviation over
    ALREADY-ROUNDED rates) so there is no merge-order-sensitive
    accumulation; the 9-row total comes from a window over the grouped
    counts (integer sum), not a second scan.

    Scale: one groupBy on 9 keys with map-side partials — the scan is
    the whole cost; everything above it is 9 rows."""
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1)
    exp_rate = F.element_at(
        F.create_map(*[F.lit(x) for d, e in sorted(BENFORD_EXP.items())
                       for x in (str(d), e)]),
        F.col("digit"))
    counts = (o.groupBy(digit.alias("digit"))
              .agg(F.count(F.lit(1)).alias("obs")))
    total = F.sum("obs").over(Window.partitionBy(F.lit(1)))
    return (
        counts
        .withColumn("obs_rate",
                    F.round(F.col("obs").cast("double")
                            / total.cast("double"), 6))
        .withColumn("exp_rate", exp_rate)
        .withColumn("chi_term",
                    F.round(F.pow(F.col("obs_rate") - F.col("exp_rate"), 2)
                            / F.col("exp_rate"), 6))
    )


_BENFORD_CASE = " ".join(
    f"WHEN '{d}' THEN {e}" for d, e in sorted(BENFORD_EXP.items()))

ORACLE_BENFORD = f"""
    WITH c AS (
        SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                      1, 1) AS digit,
               CAST(count(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT digit, obs,
               round(CAST(obs AS DOUBLE)
                     / CAST(sum(obs) OVER () AS DOUBLE), 6) AS obs_rate,
               CASE digit {_BENFORD_CASE} END AS exp_rate
        FROM c
    )
    SELECT digit, obs, obs_rate, exp_rate,
           round(pow(obs_rate - exp_rate, 2) / exp_rate, 6) AS chi_term
    FROM r
"""


TE_SMOOTHING = 10  # pseudo-observations pulled toward the global mean


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding — the classic leak-safe categorical
    feature for tabular ML: enc(g) = (Σy_g + m·ȳ)/(n_g + m) with m=10
    pseudo-observations of the global mean. One groupBy produces exact
    per-group (n, Σcents); the global sums are a second fold of that tiny
    relation, broadcast back; the encoded value is computed as
    (Σy_g·N + m·ΣY) / ((n_g+m)·N) — ONE single-shot double from four
    exact integers, no float partials anywhere. Scales as a plain
    map-side-combined aggregation regardless of fact size."""
    o = load_table(spark, "orders", sf_dir)
    grp = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_cents("o_totalprice")).alias("sc"),
    )
    tot = grp.agg(F.sum("n").alias("n_g"), F.sum("sc").alias("s_g"))
    j = grp.crossJoin(F.broadcast(tot))
    enc = ((F.col("sc").cast("double") * F.col("n_g").cast("double")
            + F.lit(float(TE_SMOOTHING)) * F.col("s_g").cast("double"))
           / ((F.col("n").cast("double") + F.lit(float(TE_SMOOTHING)))
              * F.col("n_g").cast("double"))
           / F.lit(100.0))
    return j.select(
        "o_orderpriority", "n",
        F.col("sc").cast("long").alias("sum_cents"),
        F.round(enc, 4).alias("enc"),
    )


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling sweep over the orders table: per column, row count,
    null count, exact distinct count, min and max — the ingest-time
    quality census every pipeline runs before training. Each column is
    its own single-column aggregate (column pruning keeps each scan to
    one column; at 100 TB these run as independent map-side-combined
    passes over the same files) unioned into a long relation. All five
    metrics are exact integers; money is profiled in cents, timestamps
    as epoch seconds."""
    o = load_table(spark, "orders", sf_dir)
    cols = {
        "o_orderkey": F.col("o_orderkey"),
        "o_custkey": F.col("o_custkey"),
        "o_totalprice_cents": _cents("o_totalprice").cast("long"),
        "o_orderdate_epoch": F.unix_timestamp("o_orderdate").cast("long"),
    }
    out = None
    for name, expr in cols.items():
        prof = o.select(expr.alias("v")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").isNull().cast("long")).alias("n_null"),
            F.count_distinct(F.col("v")).alias("n_distinct"),
            F.min("v").cast("long").alias("min_v"),
            F.max("v").cast("long").alias("max_v"),
        ).select(F.lit(name).alias("col_name"), "n_rows", "n_null",
                 "n_distinct", "min_v", "max_v")
        out = prof if out is None else out.unionByName(prof)
    return out


FP_MOD = 10 ** 15  # per-row hash modulus: 6e5 rows × 1e15 fits DECIMAL(38)


def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprints — the anti-entropy checksum a
    replication/backup pipeline compares across copies without sorting
    either side: per table, SUM over rows of (md5 of the canonicalized
    row) mod 10¹⁵, accumulated in DECIMAL(38,0) (commutative, exact, no
    wraparound), plus the row count. One map-side-combined pass per
    table; any single-row difference shifts the sum with probability
    1 − 10⁻¹⁵. Canonicalization: money in cents, timestamps as epoch
    seconds, pipe-joined with explicit NULL sentinels."""
    fps = []
    specs = {
        "orders": [F.col("o_orderkey").cast("string"),
                   F.col("o_custkey").cast("string"),
                   F.col("o_orderstatus"),
                   F.floor(F.col("o_totalprice") * 100).cast("string"),
                   F.unix_timestamp("o_orderdate").cast("string"),
                   F.col("o_orderpriority")],
        "customer": [F.col("c_custkey").cast("string"),
                     F.col("c_name"), F.col("c_nationkey").cast("string"),
                     F.col("c_mktsegment"),
                     F.floor(F.col("c_acctbal") * 100).cast("string")],
        "nation": [F.col("n_nationkey").cast("string"), F.col("n_name"),
                   F.col("n_regionkey").cast("string")],
    }
    out = None
    for tbl, cols in specs.items():
        t = load_table(spark, tbl, sf_dir)
        canon = F.concat_ws("|", *[F.coalesce(c, F.lit("~NULL~"))
                                   for c in cols])
        h = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10) \
            .cast("decimal(19,0)")
        fp = t.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(h) % F.lit(FP_MOD)).cast("long").alias("fp_mod"),
        ).select(F.lit(tbl).alias("tbl"), "n_rows", "fp_mod")
        out = fp if out is None else out.unionByName(fp)
    return out


SKY_BUCKET_CENTS = 100000  # $1000 price buckets for the two-level prefix


def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of urgent orders — minimize price,
    maximize recency — WITHOUT the textbook O(n²) NOT-EXISTS or a global
    sort: prices bucket into $1000 cells; the strictly-cheaper dominator
    test decomposes into (a) a prefix-MAX of order dates over strictly
    lower buckets (a broadcast self-join on the K-row bucket relation)
    and (b) a RANGE-frame running MAX *partitioned by bucket* for the
    strictly-cheaper-within-bucket part; equal-price domination is one
    more bucket-partitioned window. All comparisons are exact integers
    (cents / epoch seconds). The DuckDB oracle is the textbook NOT
    EXISTS, proving the decomposition exact. Scale: one hash exchange on
    bucket + a K-row broadcast — no n² anywhere."""
    from pyspark.sql import Window

    o = (load_table(spark, "orders", sf_dir)
         .filter(F.col("o_orderpriority") == "1-URGENT"))
    d = o.select(
        "o_orderkey",
        _cents_long("o_totalprice").alias("cents"),
        F.unix_timestamp("o_orderdate").cast("long").alias("ep"))
    d = d.withColumn("b", F.expr(f"cents DIV {SKY_BUCKET_CENTS}"))
    bmax = d.groupBy("b").agg(F.max("ep").alias("bmax"))
    pre = (bmax.alias("x")
           .join(F.broadcast(bmax.alias("y")), F.col("y.b") < F.col("x.b"),
                 "left")
           .groupBy(F.col("x.b").alias("b"))
           .agg(F.max("y.bmax").alias("pre_max")))
    w_in = (Window.partitionBy("b").orderBy("cents")
            .rangeBetween(Window.unboundedPreceding, -1))
    w_eq = Window.partitionBy("b", "cents")
    scored = (d.join(F.broadcast(pre), "b")
              .withColumn("in_max", F.max("ep").over(w_in))
              .withColumn("eq_max", F.max("ep").over(w_eq)))
    cheaper_max = F.greatest(F.coalesce(F.col("pre_max"), F.lit(-1)),
                             F.coalesce(F.col("in_max"), F.lit(-1)))
    dominated = ((cheaper_max >= F.col("ep"))
                 | (F.col("eq_max") > F.col("ep")))
    return (scored.filter(~dominated)
            .select("o_orderkey", "cents", "ep"))


def q_hierarchy_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup across the region→nation hierarchy: order
    revenue aggregated to nation (exact DECIMAL cents via one fact-side
    groupBy on o_custkey BEFORE any join), region totals as a second
    fold of the K-row nation relation broadcast back, and each nation's
    share of its region as ONE single-shot double. The drill-down report
    every BI layer asks for: the fact table is scanned exactly once and
    collapses to customer cardinality map-side; the orders→customer join
    is then two customer-sized relations with NO broadcast hint (r7
    verdict #5 — customer is fact-sized at the 100 TB design point, so
    forcing it driver-side risks OOM; AQE picks the strategy), while the
    genuinely K-row nation/region dims stay broadcast."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_ord"),
        F.sum(_cents("o_totalprice")).alias("rev_c"))
    dim = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .select("c_custkey", "n_name", "r_name"))
    per_nation = (per_cust.join(dim, per_cust.o_custkey == dim.c_custkey)
                  .groupBy("r_name", "n_name")
                  .agg(F.sum("n_ord").alias("n_orders"),
                       F.sum("rev_c").alias("rev")))
    per_region = per_nation.groupBy("r_name").agg(
        F.sum("rev").alias("region_rev"))
    j = per_nation.join(F.broadcast(per_region), "r_name")
    return j.select(
        "r_name", "n_name", "n_orders",
        F.col("rev").cast("long").alias("rev_cents"),
        F.round(F.col("rev").cast("double")
                / F.col("region_rev").cast("double"), 6)
        .alias("share_of_region"))


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b rank correlation per group (quantity vs discount,
    per l_returnflag) — the pair-concordance sibling of spearman_corr.
    Naively O(n²) in pairs; here the fact collapses FIRST to the
    distinct (group, q, d) value grid with row counts (domain-bounded:
    ≤ |quantities|×|discounts| cells per group, corpus-independent), and
    concordant/discordant pair counts come from the grid's SELF-join
    C = Σ c_a·c_b over cells with q_a<q_b ∧ d_a<d_b (equi-join on the
    group key + inequality filter — a ≤cells² relation, never n²). Tie
    terms n₁/n₂ fold from the per-variable marginals; every count is
    exact DECIMAL(38,0); τ-b is one single-shot double."""
    li = load_table(spark, "lineitem", sf_dir)
    # grid keys as LONG cents (r10, the spearman fix): the fact-sized
    # groupBy hashed heap Decimals; every downstream count/tie fold
    # already widens to DECIMAL explicitly, so values are bit-identical
    d = li.select(
        "l_returnflag",
        _cents_long("l_quantity").alias("q"),
        _cents_long("l_discount").alias("dd"),
    )
    grid = d.groupBy("l_returnflag", "q", "dd").agg(
        F.count(F.lit(1)).alias("c"))
    cdec = F.col("c").cast("decimal(19,0)")

    def tie_pairs(col: str, alias: str) -> DataFrame:
        m = grid.groupBy("l_returnflag", col).agg(
            F.sum("c").cast("decimal(19,0)").alias("t"))
        return m.groupBy("l_returnflag").agg(
            F.sum(F.col("t") * (F.col("t") - 1) / 2)
            .cast("decimal(38,0)").alias(alias))

    a = grid.select(F.col("l_returnflag").alias("rf"),
                    F.col("q").alias("qa"), F.col("dd").alias("da"),
                    cdec.alias("ca"))
    b = grid.select(F.col("l_returnflag").alias("rf"),
                    F.col("q").alias("qb"), F.col("dd").alias("db"),
                    cdec.alias("cb"))
    pair = a.join(b, "rf").filter(F.col("qa") < F.col("qb"))
    cd = pair.groupBy("rf").agg(
        F.sum(F.when(F.col("da") < F.col("db"),
                     F.col("ca") * F.col("cb")).otherwise(F.lit(0)))
        .cast("decimal(38,0)").alias("conc"),
        F.sum(F.when(F.col("da") > F.col("db"),
                     F.col("ca") * F.col("cb")).otherwise(F.lit(0)))
        .cast("decimal(38,0)").alias("disc"))
    n = d.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    ndec = F.col("n").cast("decimal(19,0)")
    j = (n.withColumn("n0", (ndec * (ndec - 1) / 2).cast("decimal(38,0)"))
         .join(tie_pairs("q", "n1"), "l_returnflag")
         .join(tie_pairs("dd", "n2"), "l_returnflag")
         .join(cd, n.l_returnflag == cd.rf).drop("rf"))

    def dbl(c: str):
        return F.col(c).cast("double")

    tau = ((dbl("conc") - dbl("disc"))
           / F.sqrt((dbl("n0") - dbl("n1")) * (dbl("n0") - dbl("n2"))))
    return j.select("l_returnflag", F.col("n").cast("long").alias("n"),
                    dbl("conc").alias("concordant"),
                    dbl("disc").alias("discordant"),
                    tau.alias("tau_b"))


ORACLE_KENDALL_TAU = """
    WITH d AS (
        SELECT l_returnflag,
               CAST(floor(l_quantity * 100) AS BIGINT) AS q,
               CAST(floor(l_discount * 100) AS BIGINT) AS dd
        FROM lineitem
    ),
    grid AS (
        SELECT l_returnflag, q, dd, count(*) AS c
        FROM d GROUP BY l_returnflag, q, dd
    ),
    tq AS (
        -- '//' (integer floor division) keeps the tie-pair counts exact
        -- HUGEINT; '/' is DOUBLE division in DuckDB and silently loses
        -- precision above 2^53 (t*(t-1) is always even, so '//' is exact)
        SELECT l_returnflag,
               sum(t * (t - 1) // 2) AS n1
        FROM (SELECT l_returnflag, q, CAST(sum(c) AS HUGEINT) AS t
              FROM grid GROUP BY l_returnflag, q) m
        GROUP BY l_returnflag
    ),
    td AS (
        SELECT l_returnflag,
               sum(t * (t - 1) // 2) AS n2
        FROM (SELECT l_returnflag, dd, CAST(sum(c) AS HUGEINT) AS t
              FROM grid GROUP BY l_returnflag, dd) m
        GROUP BY l_returnflag
    ),
    cd AS (
        SELECT a.l_returnflag,
               sum(CASE WHEN a.dd < b.dd
                   THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS conc,
               sum(CASE WHEN a.dd > b.dd
                   THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS disc
        FROM grid a JOIN grid b
          ON a.l_returnflag = b.l_returnflag AND a.q < b.q
        GROUP BY a.l_returnflag
    ),
    nn AS (
        SELECT l_returnflag, count(*) AS n,
               CAST(count(*) AS HUGEINT) * (count(*) - 1) // 2 AS n0
        FROM d GROUP BY l_returnflag
    )
    -- every HUGEINT that can exceed 2^53 reaches DOUBLE through VARCHAR
    -- (strtod is correctly rounded; DuckDB's native HUGEINT->DOUBLE
    -- double-rounds -- the ridge_regression ulp class)
    SELECT nn.l_returnflag, CAST(nn.n AS BIGINT) AS n,
           CAST(CAST(cd.conc AS VARCHAR) AS DOUBLE) AS concordant,
           CAST(CAST(cd.disc AS VARCHAR) AS DOUBLE) AS discordant,
           (CAST(CAST(cd.conc AS VARCHAR) AS DOUBLE)
            - CAST(CAST(cd.disc AS VARCHAR) AS DOUBLE))
           / sqrt((CAST(CAST(nn.n0 AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(tq.n1 AS VARCHAR) AS DOUBLE))
                  * (CAST(CAST(nn.n0 AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(td.n2 AS VARCHAR) AS DOUBLE)))
               AS tau_b
    FROM nn JOIN tq USING (l_returnflag)
            JOIN td USING (l_returnflag)
            JOIN cd USING (l_returnflag)
"""


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue, per market segment —
    the inequality readout every skew/fairness audit wants. The fact
    collapses to per-customer cent totals map-side, joins the segment
    (shuffle join, both sides customer-cardinality — no broadcast), and
    then collapses AGAIN to the distinct (segment, cents) relation with
    tie counts, over which ``_grouped_bucketed_prefix`` yields the
    inclusive rank boundary cum per value (no fat per-segment window).
    The rank-weighted sum needs no join back to rows: a block of t tied
    values x at ranks (cum−t+1 … cum) contributes x·(t·cum − t(t−1)/2)
    to W = Σ rank·x, all in DECIMAL(38,0). Gini = (2W − (n+1)S)/(nS) as
    one single-shot double per segment."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    pc = o.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    seg = pc.join(c.select("c_custkey", "c_mktsegment"),
                  pc.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), "cents")
    t = seg.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("t"))
    t = _grouped_bucketed_prefix(t, "seg", "cents", "t", "cum")
    tdec = F.col("t").cast("decimal(19,0)")
    xdec = F.col("cents").cast("decimal(19,0)")
    cumdec = F.col("cum").cast("decimal(19,0)")
    w_term = xdec * (tdec * cumdec - tdec * (tdec - 1) / 2)
    agg = t.groupBy("seg").agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(xdec * tdec).cast("decimal(38,0)").alias("s"),
        F.sum(w_term).cast("decimal(38,0)").alias("w"))
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    wd = F.col("w").cast("double")
    gini = (2.0 * wd - (nd + 1.0) * sd) / (nd * sd)
    return agg.select("seg", "n", sd.alias("sum_cents"),
                      gini.alias("gini"))


ORACLE_GINI = """
    WITH pc AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    seg AS (
        SELECT c.c_mktsegment AS seg, pc.cents
        FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
    ),
    r AS (
        SELECT seg, cents,
               row_number() OVER (PARTITION BY seg ORDER BY cents) AS i
        FROM seg
    ),
    agg AS (
        SELECT seg, count(*) AS n,
               sum(CAST(cents AS HUGEINT)) AS s,
               sum(CAST(i AS HUGEINT) * cents) AS w
        FROM r GROUP BY seg
    )
    -- w = sum(rank*cents) exceeds 2^53 at modest scale: VARCHAR-route
    -- every HUGEINT->DOUBLE so the conversion is correctly rounded
    SELECT seg, CAST(n AS BIGINT) AS n,
           CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sum_cents,
           (2.0 * CAST(CAST(w AS VARCHAR) AS DOUBLE)
            - (CAST(n AS DOUBLE) + 1.0) * CAST(CAST(s AS VARCHAR) AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE)) AS gini
    FROM agg
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided 10% trimmed mean of order value per priority — the
    outlier-robust location estimate. Trim bounds are per-group
    ``percentile_disc`` (DISCRETE percentiles are exact data values —
    the column_histogram discipline, so the bounds are bit-identical in
    any engine reading the same parquet; the oracle spells the same
    ANSI smallest-value-with-cume_dist≥f definition explicitly). The
    kept slice then folds count + DECIMAL cent sum in one pass against
    the broadcast K-row bounds; the mean is one single-shot double
    division. Two bounded passes, no global sort."""
    o = load_table(spark, "orders", sf_dir)
    bounds = o.groupBy("o_orderpriority").agg(
        F.expr("percentile_disc(0.1) WITHIN GROUP "
               "(ORDER BY o_totalprice)").alias("lo"),
        F.expr("percentile_disc(0.9) WITHIN GROUP "
               "(ORDER BY o_totalprice)").alias("hi"))
    kept = (o.join(F.broadcast(bounds), "o_orderpriority")
            .filter((F.col("o_totalprice") >= F.col("lo"))
                    & (F.col("o_totalprice") <= F.col("hi")))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("kept_n"),
                 F.sum(_cents("o_totalprice")).alias("kept_cents"),
                 F.min("lo").alias("lo"), F.min("hi").alias("hi")))
    mean = (F.col("kept_cents").cast("double")
            / F.col("kept_n").cast("double") / 100.0)
    return kept.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("lo") * 100).cast("long").alias("lo_cents"),
        F.floor(F.col("hi") * 100).cast("long").alias("hi_cents"),
        F.col("kept_n").cast("long").alias("kept_n"),
        mean.alias("trimmed_mean"))


ORACLE_TRIMMED_MEAN = """
    WITH b AS (
        SELECT o_orderpriority, o_totalprice,
               cume_dist() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice) AS cd
        FROM orders
    ),
    bounds AS (
        SELECT o_orderpriority,
               min(CASE WHEN cd >= 0.1 THEN o_totalprice END) AS lo,
               min(CASE WHEN cd >= 0.9 THEN o_totalprice END) AS hi
        FROM b GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority AS priority,
           CAST(floor(min(bo.lo) * 100) AS BIGINT) AS lo_cents,
           CAST(floor(min(bo.hi) * 100) AS BIGINT) AS hi_cents,
           CAST(count(*) AS BIGINT) AS kept_n,
           CAST(CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                     AS VARCHAR)
                AS DOUBLE) / count(*) / 100.0 AS trimmed_mean
    FROM orders o JOIN bounds bo USING (o_orderpriority)
    WHERE o.o_totalprice >= bo.lo AND o.o_totalprice <= bo.hi
    GROUP BY o.o_orderpriority
"""


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Theil-Sen robust slope of extendedprice on quantity —
    the median-of-pairwise-slopes estimator that shrugs off the outliers
    OLS (regr_conformance) chases. True Theil-Sen is O(n²) in points;
    here the fact collapses FIRST to the 50-value quantity grid with
    exact per-value sufficient statistics (n, Σy), so the pair set is
    ≤C(50,2)=1225 rows per group — domain-bounded, corpus-independent
    (the kendall_tau grid discipline). Each aggregated pair slope
    (m₂−m₁)/(x₂−x₁) is a single-shot double over exact integers; the
    median is percentile_disc over the bounded slope relation — an
    exact element of an identical set on both engines, so it hashes
    with no rounding class."""
    li = load_table(spark, "lineitem", sf_dir)
    # x/y as LONG cents on the fact path (r10, the spearman fix); the
    # sum input still widens to DECIMAL(19,0) exactly as before
    d = li.select("l_returnflag",
                  _cents_long("l_quantity").alias("x"),
                  _cents_long("l_extendedprice").alias("y"))
    g = d.groupBy("l_returnflag", "x").agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum(F.col("y").cast("decimal(18,0)")).alias("sy"))
    a = g.select(F.col("l_returnflag").alias("rf"),
                 F.col("x").alias("x1"), F.col("n").alias("n1"),
                 F.col("sy").alias("sy1"))
    b = g.select(F.col("l_returnflag").alias("rf"),
                 F.col("x").alias("x2"), F.col("n").alias("n2"),
                 F.col("sy").alias("sy2"))
    p = a.join(F.broadcast(b), "rf").filter(F.col("x1") < F.col("x2"))
    slope = ((F.col("sy2").cast("double") / F.col("n2").cast("double")
              - F.col("sy1").cast("double") / F.col("n1").cast("double"))
             / (F.col("x2") - F.col("x1")).cast("double"))
    return (p.select("rf", slope.alias("slope"))
            .groupBy("rf")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.expr("percentile_disc(0.5) WITHIN GROUP "
                        "(ORDER BY slope)").alias("ts_slope"))
            .select(F.col("rf").alias("l_returnflag"),
                    "n_pairs", "ts_slope"))


ORACLE_THEIL_SEN = """
    WITH d AS (
        SELECT l_returnflag,
               CAST(floor(l_quantity * 100) AS BIGINT) AS x,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    g AS (
        SELECT l_returnflag, x, count(*) AS n,
               sum(CAST(y AS HUGEINT)) AS sy
        FROM d GROUP BY l_returnflag, x
    ),
    p AS (
        -- sy is a HUGEINT cent sum: VARCHAR-route the DOUBLE conversion
        -- (correctly-rounded strtod; the ridge_regression ulp class)
        SELECT a.l_returnflag AS rf,
               (CAST(CAST(b.sy AS VARCHAR) AS DOUBLE) / b.n
                - CAST(CAST(a.sy AS VARCHAR) AS DOUBLE) / a.n)
               / CAST(b.x - a.x AS DOUBLE) AS slope
        FROM g a JOIN g b
          ON a.l_returnflag = b.l_returnflag AND a.x < b.x
    )
    SELECT rf AS l_returnflag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY slope) AS ts_slope
    FROM p GROUP BY rf
"""


FH_BUCKETS = 64


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature census: categorical features (priority,
    segment, and their interaction) hash into FH_BUCKETS buckets via the
    md5 recipe both engines share bit-for-bit (table_fingerprint's
    hex-prefix→BIGINT), and the census reports each bucket's occurrence
    count and DISTINCT feature load — the collision diagnostic every
    hashed-feature model (VW-style linear, wide-and-deep) needs before
    committing to a dimensionality. One fact pass with an in-row
    3-element explode, one groupBy on the bucket key; all exact
    integers."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    j = o.join(c.select("c_custkey", "c_mktsegment"),
               o.o_custkey == c.c_custkey)
    feats = j.select(F.explode(F.array(
        F.concat(F.lit("pri:"), F.col("o_orderpriority")),
        F.concat(F.lit("seg:"), F.col("c_mktsegment")),
        F.concat(F.lit("x:"), F.col("o_orderpriority"),
                 F.lit("|"), F.col("c_mktsegment")),
    )).alias("f"))
    bucket = (F.conv(F.substring(F.md5(F.col("f")), 1, 12), 16, 10)
              .cast("long") % FH_BUCKETS)
    return (feats.select(bucket.alias("bucket"), "f")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("occurrences"),
                 F.countDistinct("f").cast("long")
                 .alias("distinct_features")))


ORACLE_FEATURE_HASHING = f"""
    WITH feats AS (
        SELECT unnest([
                   'pri:' || o.o_orderpriority,
                   'seg:' || c.c_mktsegment,
                   'x:' || o.o_orderpriority || '|' || c.c_mktsegment
               ]) AS f
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT CAST('0x' || substring(md5(f), 1, 12) AS BIGINT)
               % {FH_BUCKETS} AS bucket,
           CAST(count(*) AS BIGINT) AS occurrences,
           CAST(count(DISTINCT f) AS BIGINT) AS distinct_features
    FROM feats GROUP BY 1
"""


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided 10% WINSORIZED mean of order value per priority — the
    clamping sibling of trimmed_mean (outliers are pulled to the p10/p90
    fences instead of dropped, so n stays constant — the estimator
    robust-regression pipelines prefer when row counts must not change).
    Same exact discipline: percentile_disc bounds are exact data values
    (bit-identical in any engine over the same parquet), the clamped
    cent sum folds as exact integers against the broadcast K-row bounds,
    and the mean is one single-shot double division."""
    o = load_table(spark, "orders", sf_dir)
    bounds = o.groupBy("o_orderpriority").agg(
        F.expr("percentile_disc(0.1) WITHIN GROUP "
               "(ORDER BY o_totalprice)").alias("lo"),
        F.expr("percentile_disc(0.9) WITHIN GROUP "
               "(ORDER BY o_totalprice)").alias("hi"))
    # cents as LONG on the per-row clamp path (r10, the spearman fix);
    # the sum input widens to DECIMAL(19,0) below, same as before
    cents = _cents_long("o_totalprice")
    lo_c = F.floor(F.col("lo") * 100).cast("long")
    hi_c = F.floor(F.col("hi") * 100).cast("long")
    clamped = F.least(F.greatest(cents, lo_c), hi_c)
    agg = (o.join(F.broadcast(bounds), "o_orderpriority")
           .groupBy("o_orderpriority")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(clamped.cast("decimal(19,0)")).cast("long")
                .alias("wins_cents"),
                F.min(lo_c).alias("lo_cents"),
                F.min(hi_c).alias("hi_cents")))
    mean = (F.col("wins_cents").cast("double")
            / F.col("n").cast("double") / 100.0)
    return agg.select(
        F.col("o_orderpriority").alias("priority"),
        "lo_cents", "hi_cents", "n", "wins_cents",
        mean.alias("winsorized_mean"))


ORACLE_WINSORIZED_MEAN = """
    WITH b AS (
        SELECT o_orderpriority, o_totalprice,
               cume_dist() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice) AS cd
        FROM orders
    ),
    bounds AS (
        SELECT o_orderpriority,
               CAST(floor(min(CASE WHEN cd >= 0.1 THEN o_totalprice END)
                          * 100) AS BIGINT) AS lo_c,
               CAST(floor(min(CASE WHEN cd >= 0.9 THEN o_totalprice END)
                          * 100) AS BIGINT) AS hi_c
        FROM b GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority AS priority,
           min(bo.lo_c) AS lo_cents,
           min(bo.hi_c) AS hi_cents,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(least(greatest(
                CAST(floor(o.o_totalprice * 100) AS BIGINT),
                bo.lo_c), bo.hi_c)) AS BIGINT) AS wins_cents,
           CAST(CAST(sum(least(greatest(
                CAST(floor(o.o_totalprice * 100) AS BIGINT),
                bo.lo_c), bo.hi_c)) AS VARCHAR) AS DOUBLE)
           / count(*) / 100.0 AS winsorized_mean
    FROM orders o JOIN bounds bo USING (o_orderpriority)
    GROUP BY o.o_orderpriority
"""


def q_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE with a deterministic tie-break — the most-frequent
    quantity per return flag, ties broken toward the SMALLEST value.
    Built from first principles rather than the engines' mode()
    aggregates (whose tie-breaking is implementation-defined and
    therefore un-hashable): one (group, value) count pass, then
    max_by over the composite (count, −value) struct — exact integers
    end to end, two map-combinable aggregations, no window, no sort."""
    li = load_table(spark, "lineitem", sf_dir)
    cnt = (li.select("l_returnflag", _cents("l_quantity").alias("q"))
           .groupBy("l_returnflag", "q")
           .agg(F.count(F.lit(1)).alias("cnt")))
    return (cnt.groupBy("l_returnflag")
            .agg(F.max_by("q", F.struct(F.col("cnt"), (-F.col("q"))))
                 .cast("long").alias("mode_cents"),
                 F.max(F.struct(F.col("cnt"), (-F.col("q"))))
                 .getField("cnt").cast("long").alias("mode_n"),
                 F.count(F.lit(1)).cast("long").alias("distinct_vals")))


ORACLE_MODE_STATS = """
    WITH cnt AS (
        SELECT l_returnflag,
               CAST(floor(l_quantity * 100) AS BIGINT) AS q,
               count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, q
    ),
    ranked AS (
        SELECT l_returnflag, q, cnt,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY cnt DESC, q ASC) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS dv
        FROM cnt
    )
    SELECT l_returnflag, CAST(q AS BIGINT) AS mode_cents,
           CAST(cnt AS BIGINT) AS mode_n,
           CAST(dv AS BIGINT) AS distinct_vals
    FROM ranked WHERE rn = 1
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group — the price level at which half the
    QUANTITY (not half the rows) sits below: the robust price index
    inventory/pricing pipelines want. Exact integer construction, two
    fact passes (the spearman fixed-width discipline — price cents
    bucket by a domain constant, so no bounds job): pass 1 sums quantity
    per (group, bucket) DIRECTLY from the fact (tiny relation, exclusive
    prefix via the broadcast triangular self-join); pass 2 sums quantity
    per (group, price) and adds the in-bucket running sum (window keyed
    (group, bucket) — never the group alone) plus the joined bucket
    offset. The median is the smallest price whose doubled cumulative
    weight reaches the group total (2·cum ≥ W in BIGINT — no halves, no
    floats anywhere). Output is exact integers only."""
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    # price cents as LONG (r10, the spearman fix): DECIMAL(19,0) cents
    # are heap Decimals in every join/window/groupBy touch; the long
    # domain (cents < 2^31) and long weight sums are exact, and the
    # output column was already CAST to BIGINT — bit-identical.
    d = li.select("l_returnflag", _cents_long("l_extendedprice").alias("p"),
                  F.col("l_quantity").cast("long").alias("w"))
    d = d.withColumn("_bkt", F.expr("p div 16384"))
    cnts = d.groupBy("l_returnflag", "_bkt").agg(
        F.sum("w").alias("_c"))
    # exclusive prefix as a cumulative window over the bucket-count
    # relation (r10 — replaces the buckets² BroadcastNestedLoopJoin;
    # window partitions bounded by the cent-domain/16384 bucket count)
    w_off = (Window.partitionBy("l_returnflag").orderBy("_bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    off = cnts.select(
        "l_returnflag", "_bkt",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).cast("long")
        .alias("_off"))
    tot = cnts.groupBy("l_returnflag").agg(
        F.sum("_c").cast("long").alias("wtot"))
    t = d.groupBy("l_returnflag", "_bkt", "p").agg(F.sum("w").alias("w"))
    w_in = (Window.partitionBy("l_returnflag", "_bkt").orderBy("p")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    j = (t.join(F.broadcast(off), ["l_returnflag", "_bkt"])
         .join(F.broadcast(tot), "l_returnflag")
         .withColumn("cum", F.sum("w").over(w_in) + F.col("_off")))
    hit = j.filter(F.lit(2) * F.col("cum") >= F.col("wtot"))
    return (hit.groupBy("l_returnflag")
            .agg(F.min("p").cast("long").alias("median_cents"),
                 F.min("wtot").cast("long").alias("total_weight")))


ORACLE_WEIGHTED_MEDIAN = """
    WITH t AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS p,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY l_returnflag, p
    ),
    c AS (
        SELECT l_returnflag, p, w,
               CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY p
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT)
                   AS cum,
               CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                   AS wtot
        FROM t
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN 2 * cum >= wtot THEN p END) AS BIGINT)
               AS median_cents,
           CAST(min(wtot) AS BIGINT) AS total_weight
    FROM c GROUP BY l_returnflag
"""


def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve by deciles — the distribution table behind
    gini_concentration (which customers hold which share of revenue,
    per segment): per-customer cent totals rank within their segment
    via the lazy ``_grouped_bucketed_prefix`` (no fat per-segment
    window), each distinct-value block lands in decile
    ⌈10·cum/W⌉ computed by exact integer ceiling division (a tied block
    is wholly assigned to its last member's decile — deterministic on
    both engines, unlike ntile's arbitrary tie split), and the rollup
    emits exact integer customer counts and cent sums per (segment,
    decile) with the revenue share as one single-shot division."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    pc = o.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    seg = pc.join(c.select("c_custkey", "c_mktsegment"),
                  pc.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), "cents")
    t = seg.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("t"))
    t = _grouped_bucketed_prefix(t, "seg", "cents", "t", "cum")
    tot = t.groupBy("seg").agg(
        F.sum("t").cast("long").alias("W"),
        F.sum(F.col("cents") * F.col("t")).cast("decimal(38,0)")
        .alias("total_cents"))
    j = t.join(F.broadcast(tot), "seg")
    dec = F.expr("CAST((10 * cum + W - 1) div W AS BIGINT)")
    g = (j.withColumn("decile", dec)
         .groupBy("seg", "decile")
         .agg(F.sum("t").cast("long").alias("customers"),
              F.sum(F.col("cents").cast("decimal(19,0)") * F.col("t"))
              .cast("decimal(38,0)").alias("dc"),
              F.min("total_cents").alias("tc")))
    return g.select(
        "seg", "decile", "customers",
        F.col("dc").cast("double").alias("decile_cents"),
        (F.col("dc").cast("double") / F.col("tc").cast("double"))
        .alias("share"))


ORACLE_LORENZ_DECILES = """
    WITH pc AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    seg AS (
        SELECT c.c_mktsegment AS seg, pc.cents
        FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
    ),
    t AS (
        SELECT seg, cents, count(*) AS t
        FROM seg GROUP BY seg, cents
    ),
    cumm AS (
        SELECT seg, cents, t,
               CAST(sum(t) OVER (PARTITION BY seg ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT)
                   AS cum,
               CAST(sum(t) OVER (PARTITION BY seg) AS BIGINT) AS W,
               CAST(sum(CAST(cents AS HUGEINT) * t)
                    OVER (PARTITION BY seg) AS HUGEINT) AS tc
        FROM t
    )
    -- decile_cents / tc are HUGEINT sums of rank-weighted cents:
    -- VARCHAR-route the DOUBLE conversion (correctly-rounded strtod)
    SELECT seg, CAST((10 * cum + W - 1) // W AS BIGINT) AS decile,
           CAST(sum(t) AS BIGINT) AS customers,
           CAST(CAST(sum(CAST(cents AS HUGEINT) * t) AS VARCHAR) AS DOUBLE)
               AS decile_cents,
           CAST(CAST(sum(CAST(cents AS HUGEINT) * t) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(min(tc) AS VARCHAR) AS DOUBLE) AS share
    FROM cumm
    GROUP BY seg, CAST((10 * cum + W - 1) // W AS BIGINT)
"""


def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of per-customer revenue within
    each market segment — the antitrust/concentration sibling of Gini
    (dispersion) and Lorenz (the full curve): HHI = Σ shareᵢ² = Σcᵢ²/S².
    Same pre-aggregated fact as gini_concentration (orders collapse to
    per-customer cent totals map-side BEFORE the customer join); the
    readout needs only three map-combinable sums per segment — no rank,
    no window, no prefix machinery at all. Σc² exceeds 2^53 already at
    gate scale (customer totals ~1e8 cents, squared ~1e16), so the
    DECIMAL(38,0) sums cast to double on the Spark side (correctly
    rounded) and the oracle VARCHAR-routes the HUGEINT (the
    ridge_regression ulp class); HHI and top-1 share are single-shot
    double divisions."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    pc = o.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    seg = pc.join(c.select("c_custkey", "c_mktsegment"),
                  pc.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), "cents")
    xdec = F.col("cents").cast("decimal(19,0)")
    agg = seg.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xdec).cast("decimal(38,0)").alias("s"),
        F.sum(xdec * xdec).cast("decimal(38,0)").alias("ss"),
        F.max("cents").cast("long").alias("top1_cents"))
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    return agg.select(
        "seg", "n", "top1_cents",
        (ssd / (sd * sd)).alias("hhi"),
        (F.col("top1_cents").cast("double") / sd).alias("top1_share"))


ORACLE_HHI = """
    WITH pc AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    seg AS (
        SELECT c.c_mktsegment AS seg, pc.cents
        FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
    ),
    agg AS (
        SELECT seg, count(*) AS n,
               sum(CAST(cents AS HUGEINT)) AS s,
               sum(CAST(cents AS HUGEINT) * cents) AS ss,
               max(cents) AS top1_cents
        FROM seg GROUP BY seg
    )
    -- ss > 2^53 at gate scale already: VARCHAR-route every HUGEINT
    SELECT seg, CAST(n AS BIGINT) AS n,
           CAST(top1_cents AS BIGINT) AS top1_cents,
           CAST(CAST(ss AS VARCHAR) AS DOUBLE)
           / (CAST(CAST(s AS VARCHAR) AS DOUBLE)
              * CAST(CAST(s AS VARCHAR) AS DOUBLE)) AS hhi,
           CAST(top1_cents AS DOUBLE)
           / CAST(CAST(s AS VARCHAR) AS DOUBLE) AS top1_share
    FROM agg
"""


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the frequent-itemset pairs: confidence
    P(b|a) and lift P(ab)/(P(a)P(b)) on top of raw pair support — the
    L2→rules step of A-Priori that turns co-occurrence counts into a
    recommendation/affinity readout. Candidate pairs come from the same
    capped in-array combination as frequent_itemsets (no per-order
    self-join, a viral basket cannot explode the exchange); per-item
    basket counts fold from the exploded capped baskets (one groupBy on
    the item key — the natural shuffle); the pair→item-count joins are
    plain equi-joins on the item key with NO broadcast hint (the item
    relation is part-cardinality: broadcastable at bench scale, AQE
    decides at 100 TB). Every count is an exact BIGINT; confidence and
    lift are single-shot double divisions, with the total basket count
    joined in-plan from a broadcast 1-row aggregate. The three basket
    references (item counts, basket count, pair counts) read the
    ``_order_baskets`` memoized checkpoint (r11): Spark does not dedupe
    common subtrees, so the inline form re-ran the lineitem
    groupBy+collect_set 3× per execution."""
    baskets = _order_baskets(spark, sf_dir)
    item_n = (baskets.select(F.explode("items").alias("item"))
              .groupBy("item").agg(F.count(F.lit(1)).alias("sup_i")))
    n_b = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    pair_arr = F.flatten(F.transform(
        "items",
        lambda x, i: F.transform(
            F.slice("items", i + 2, FI_CAP),
            lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup_ab"))
        .filter(F.col("sup_ab") >= FI_MINSUP)
    )
    j = (pairs
         .join(item_n.select(F.col("item").alias("pa"),
                             F.col("sup_i").alias("sup_a")), "pa")
         .join(item_n.select(F.col("item").alias("pb"),
                             F.col("sup_i").alias("sup_b")), "pb")
         .crossJoin(F.broadcast(n_b)))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return j.select(
        "pa", "pb",
        F.col("sup_ab").cast("long").alias("sup_ab"),
        F.col("sup_a").cast("long").alias("sup_a"),
        F.col("sup_b").cast("long").alias("sup_b"),
        (d("sup_ab") / d("sup_a")).alias("conf_a_to_b"),
        (d("sup_ab") / d("sup_b")).alias("conf_b_to_a"),
        (d("sup_ab") * d("n_baskets")
         / (d("sup_a") * d("sup_b"))).alias("lift"))


ORACLE_ASSOCIATION_RULES = f"""
    WITH b AS (
        SELECT l_orderkey, unnest(items) AS pk
        FROM (
            SELECT l_orderkey,
                   list_sort(list_distinct(list(l_partkey)))[1:{FI_CAP}]
                       AS items
            FROM lineitem GROUP BY l_orderkey
        ) WHERE len(items) >= 2
    ),
    item_n AS (SELECT pk, count(*) AS sup_i FROM b GROUP BY pk),
    n_b AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM b),
    pairs AS (
        SELECT x.pk AS pa, y.pk AS pb, count(*) AS sup_ab
        FROM b x JOIN b y
          ON x.l_orderkey = y.l_orderkey AND x.pk < y.pk
        GROUP BY x.pk, y.pk
        HAVING count(*) >= {FI_MINSUP}
    )
    SELECT pa, pb,
           CAST(sup_ab AS BIGINT) AS sup_ab,
           CAST(a.sup_i AS BIGINT) AS sup_a,
           CAST(bb.sup_i AS BIGINT) AS sup_b,
           CAST(sup_ab AS DOUBLE) / a.sup_i AS conf_a_to_b,
           CAST(sup_ab AS DOUBLE) / bb.sup_i AS conf_b_to_a,
           CAST(sup_ab AS DOUBLE) * n_baskets
           / (CAST(a.sup_i AS DOUBLE) * bb.sup_i) AS lift
    FROM pairs
    JOIN item_n a ON pairs.pa = a.pk
    JOIN item_n bb ON pairs.pb = bb.pk
    CROSS JOIN n_b
"""


QUERIES = {
    "hhi_concentration": q_hhi_concentration,
    "association_rules": q_association_rules,
    "winsorized_mean": q_winsorized_mean,
    "feature_hashing": q_feature_hashing,
    "theil_sen": q_theil_sen,
    "kendall_tau": q_kendall_tau,
    "mode_stats": q_mode_stats,
    "weighted_median": q_weighted_median,
    "lorenz_deciles": q_lorenz_deciles,
    "gini_concentration": q_gini_concentration,
    "trimmed_mean": q_trimmed_mean,
    "supplier_stats": q_supplier_stats,
    "target_encoding": q_target_encoding,
    "column_profile": q_column_profile,
    "table_fingerprint": q_table_fingerprint,
    "skyline_orders": q_skyline_orders,
    "hierarchy_share": q_hierarchy_share,
    "frequent_itemsets": q_frequent_itemsets,
    "itemcf_recommend": q_itemcf_recommend,
    "key_skew_audit": q_key_skew_audit,
    "tz_conformance": q_tz_conformance,
    "benford_digits": q_benford_digits,
    "sql_udf": q_sql_udf,
    "python_udtf": q_python_udtf,
    "mongo_filter": q_mongo_filter,
    "grouping_sets": q_grouping_sets,
    "analytic_extras": q_analytic_extras,
    "null_semantics": q_null_semantics,
    "scalar_fn_conformance": q_scalar_fn_conformance,
    "tpch_q2": q_tpch_q2,
    "tpch_q20": q_tpch_q20,
    "tpch_q21": q_tpch_q21,
    "tpch_q4": q_tpch_q4,
    "tpch_q7": q_tpch_q7,
    "tpch_q22": q_tpch_q22,
    "tpch_q8": q_tpch_q8,
    "tpch_q9": q_tpch_q9,
    "tpch_q11": q_tpch_q11,
    "tpch_q12": q_tpch_q12,
    "tpch_q16": q_tpch_q16,
    "tpch_q13": q_tpch_q13,
    "tpch_q15": q_tpch_q15,
    "tpch_q17": q_tpch_q17,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "window_functions": q_window_functions,
    "stats_agg": q_stats_agg,
    "listagg_conformance": q_listagg_conformance,
    "xml_roundtrip": q_xml_roundtrip,
    "collation_distinct": q_collation_distinct,
    "versioned_table": q_versioned_table,
    "pandas_udaf": q_pandas_udaf,
    "unicode_normalize": q_unicode_normalize,
    "regr_conformance": q_regr_conformance,
    "spearman_corr": q_spearman_corr,
    "edit_distance_conformance": q_edit_distance_conformance,
    "ridge_regression": q_ridge_regression,
    "tpch_q6": q_tpch_q6,
    "tpch_q10": q_tpch_q10,
    "tpch_q14": q_tpch_q14,
    "tpch_q19": q_tpch_q19,
    "tpch_q18": q_tpch_q18,
    "outer_join": q_outer_join,
    "anti_join": q_anti_join,
    "intersect_except": q_intersect_except,
    "cube_rollup": q_cube_rollup,
    "scalar_subquery": q_scalar_subquery,
    "salted_skew_agg": q_salted_skew_agg,
    "table_stats": q_table_stats,
    "column_histogram": q_column_histogram,
    "sql_text_parity": q_sql_text_parity,
    **TEXT_QUERIES,
}

_STATS_ORACLE_PARTS = [
    f"""SELECT '{col}' AS col,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(DISTINCT {col}) AS BIGINT) AS ndv,
           CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS nulls,
           {f'round(CAST(min({col}) AS DOUBLE), 4)' if numeric
            else 'CAST(NULL AS DOUBLE)'} AS min_num,
           {f'round(CAST(max({col}) AS DOUBLE), 4)' if numeric
            else 'CAST(NULL AS DOUBLE)'} AS max_num,
           {"'~'" if numeric else f'CAST(min({col}) AS VARCHAR)'} AS min_str,
           {"'~'" if numeric else f'CAST(max({col}) AS VARCHAR)'} AS max_str
    FROM customer"""
    for col, numeric in _STATS_COLS
]

ORACLES = {
    "hhi_concentration": ORACLE_HHI,
    "association_rules": ORACLE_ASSOCIATION_RULES,
    "winsorized_mean": ORACLE_WINSORIZED_MEAN,
    "feature_hashing": ORACLE_FEATURE_HASHING,
    "theil_sen": ORACLE_THEIL_SEN,
    "kendall_tau": ORACLE_KENDALL_TAU,
    "mode_stats": ORACLE_MODE_STATS,
    "weighted_median": ORACLE_WEIGHTED_MEDIAN,
    "lorenz_deciles": ORACLE_LORENZ_DECILES,
    "gini_concentration": ORACLE_GINI,
    "trimmed_mean": ORACLE_TRIMMED_MEAN,
    "table_stats": "\nUNION ALL\n".join(_STATS_ORACLE_PARTS),
    "benford_digits": ORACLE_BENFORD,
    "frequent_itemsets": f"""
        WITH b AS (
            SELECT l_orderkey, unnest(items) AS pk
            FROM (
                SELECT l_orderkey,
                       list_sort(list_distinct(list(l_partkey)))[1:{FI_CAP}]
                           AS items
                FROM lineitem GROUP BY l_orderkey
            ) WHERE len(items) >= 2
        )
        SELECT x.pk AS pa, y.pk AS pb,
               CAST(count(*) AS BIGINT) AS support
        FROM b x JOIN b y
          ON x.l_orderkey = y.l_orderkey AND x.pk < y.pk
        GROUP BY x.pk, y.pk
        HAVING count(*) >= {FI_MINSUP}
    """,
    "mongo_filter": """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS revenue
        FROM orders
        WHERE (o_orderpriority IN ('1-URGENT', '2-HIGH')
               OR o_totalprice >= 400000.0)
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND (o_orderstatus IS NULL OR o_orderstatus <> 'P')
        GROUP BY o_orderpriority
    """,
    "column_histogram": _histogram_oracle(),
    "sql_text_parity": SQL_TEXT_PARITY,
    "sql_udf": ORACLE_SQL_UDF,
    "python_udtf": ORACLE_PYTHON_UDTF,
    "listagg_conformance": ORACLE_LISTAGG_CONFORMANCE,
    "xml_roundtrip": ORACLE_XML_ROUNDTRIP,
    "collation_distinct": ORACLE_COLLATION_DISTINCT,
    "versioned_table": ORACLE_VERSIONED_TABLE,
    "pandas_udaf": ORACLE_PANDAS_UDAF,
    "unicode_normalize": _unicode_oracle(),
    "regr_conformance": ORACLE_REGR_CONFORMANCE,
    "spearman_corr": ORACLE_SPEARMAN_CORR,
    "edit_distance_conformance": ORACLE_EDIT_DISTANCE,
    "ridge_regression": ORACLE_RIDGE_REGRESSION,
    **SQL_TEXTS,
    "tpch_q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
    """,
    "tpch_q7": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((s_nationkey = 1 AND c_nationkey = 2)
               OR (s_nationkey = 2 AND c_nationkey = 1))
        GROUP BY 1, 2, 3
    """,
    "tpch_q22": """
        SELECT CAST(c_nationkey % 5 AS VARCHAR) AS cntry,
               count(*) AS numcust,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS totacctbal
        FROM customer,
             (SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0) a
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY 1
    """,
    "supplier_stats": """
        SELECT n_name, count(*) AS suppliers,
               CAST(round(sum(CAST(s_acctbal AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_balance,
               round(quantile_cont(s_acctbal, 0.5), 3) AS median_balance
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "tpch_q8": """
        WITH supp AS (
            SELECT s_suppkey, n_name AS supp_nation
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        ),
        eu_cust AS (
            SELECT c_custkey
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_7'
                                   THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                        * (1 - CAST(l_discount AS DECIMAL(18,4)))
                                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
                     6) AS mkt_share,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                    AS DOUBLE) AS total_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supp ON l_suppkey = s_suppkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND o_custkey IN (SELECT c_custkey FROM eu_cust)
        GROUP BY 1
    """,
    "tpch_q9": """
        SELECT nation, o_year,
               CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
        FROM (
            SELECT n_name AS nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(30,8))
                   - CAST(CAST(p_retailprice AS DECIMAL(18,4))
                          * CAST(l_quantity AS DECIMAL(18,4))
                          * CAST(0.01 AS DECIMAL(6,4)) AS DECIMAL(30,8)) AS amount
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%1%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
        )
        GROUP BY nation, o_year
    """,
    "tpch_q11": """
        WITH per_part AS (
            SELECT l_partkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS val
            FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
        FROM per_part
        WHERE CAST(val AS DOUBLE) > 0.001 * (
            SELECT CAST(sum(val) AS DOUBLE) FROM per_part)
    """,
    "tpch_q12": """
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
               CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                             THEN 0 ELSE 1 END) AS BIGINT) AS ontime_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_orderpriority
    """,
    "tpch_q16": """
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#9'
          AND p_size IN (1, 4, 7, 10, 13)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """,
    "tpch_q13": """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c.c_custkey, count(o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                              AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    "tpch_q15": """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   sum(CAST(l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT supplier_no, s_name,
               CAST(total_revenue AS DOUBLE) AS total_revenue
        FROM revenue
        JOIN supplier ON supplier_no = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "tpch_q17": """
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                     / 7.0, 2) AS avg_yearly,
               count(*) AS cnt
        FROM lineitem l1
        JOIN part ON l1.l_partkey = p_partkey AND p_brand = 'Brand#13'
        WHERE l1.l_quantity < 0.2 * (
            SELECT avg(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
        )
    """,
    "key_skew_audit": (
        _SKEW_PROFILE_SQL.format(rel="events.user_id", key="user_id",
                                 table="events")
        + "\nUNION ALL\n"
        + _SKEW_PROFILE_SQL.format(rel="orders.o_custkey", key="o_custkey",
                                   table="orders")),
    "itemcf_recommend": f"""
        WITH inter AS (
            SELECT DISTINCT o_custkey AS u, l_partkey AS item
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_partkey < {CF_ITEM_SLICE}
        ),
        baskets AS (
            SELECT u, (list_sort(list(item)))[1:{CF_CAP}] AS items
            FROM inter GROUP BY u
        ),
        ex AS (SELECT u, unnest(items) AS item FROM baskets),
        singles AS (SELECT item, count(*) AS n FROM ex GROUP BY 1),
        co AS (
            SELECT x.item AS pa, y.item AS pb, count(*) AS co
            FROM ex x JOIN ex y ON x.u = y.u AND x.item < y.item
            GROUP BY 1, 2 HAVING count(*) >= {CF_MIN_CO}
        ),
        sym AS (SELECT pa AS a, pb AS b, co FROM co
                UNION ALL SELECT pb, pa, co FROM co),
        scored AS (
            SELECT s.a, s.b, s.co, na.n AS n_a, nb.n AS n_b,
                   s.co / sqrt(CAST(na.n * nb.n AS DOUBLE)) AS cos
            FROM sym s
            JOIN singles na ON na.item = s.a
            JOIN singles nb ON nb.item = s.b
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY a
                                         ORDER BY cos DESC, co DESC, b)
                          AS rn
            FROM scored
        )
        SELECT a AS item, rn, b AS rec, co, n_a, n_b,
               round(cos, 6) AS cosine
        FROM ranked WHERE rn <= {CF_TOP}
    """,
    "tz_conformance": """
        WITH base AS (
            SELECT event_id, ts, ts + INTERVAL 182 DAY AS jul
            FROM events WHERE event_id < 400
        ),
        conv AS (
            SELECT event_id, ts, jul,
                   timezone('Europe/Berlin', timezone('UTC', ts)) AS b_jan,
                   timezone('Europe/Berlin', timezone('UTC', jul)) AS b_jul,
                   timezone('America/New_York', timezone('UTC', ts))
                       AS ny_jan,
                   timezone('America/New_York', timezone('UTC', jul))
                       AS ny_jul,
                   timezone('Asia/Kathmandu', timezone('UTC', ts)) AS ktm
            FROM base
        )
        SELECT event_id,
               strftime(b_jan, '%Y-%m-%d %H:%M:%S') AS berlin_jan,
               strftime(b_jul, '%Y-%m-%d %H:%M:%S') AS berlin_jul,
               strftime(ny_jan, '%Y-%m-%d %H:%M:%S') AS ny_jan,
               strftime(ny_jul, '%Y-%m-%d %H:%M:%S') AS ny_jul,
               strftime(ktm, '%Y-%m-%d %H:%M:%S') AS kathmandu,
               CAST(timezone('UTC', timezone('Europe/Berlin', b_jan)) = ts
                    AS INT) AS roundtrip_ok,
               CAST((epoch_us(b_jan) - epoch_us(ts)) / 60000000 AS BIGINT)
                   AS off_berlin_jan_min,
               CAST((epoch_us(b_jul) - epoch_us(jul)) / 60000000 AS BIGINT)
                   AS off_berlin_jul_min,
               CAST((epoch_us(ny_jul) - epoch_us(jul)) / 60000000 AS BIGINT)
                   AS off_ny_jul_min,
               CAST((epoch_us(ktm) - epoch_us(ts)) / 60000000 AS BIGINT)
                   AS off_ktm_min
        FROM conv
    """,
    "scalar_fn_conformance": """
        SELECT o_orderkey,
               strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
                   AS month_end,
               strftime(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH,
                        '%Y-%m-%d') AS plus_two_months,
               strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d')
                   AS quarter_start,
               CAST(isodow(o_orderdate) - 1 AS INT) AS weekday_mon0,
               replace(o_orderpriority, '-', '_') AS pri_translated,
               lpad(o_orderpriority, 12, '*') AS pri_padded,
               reverse(substr(o_orderpriority, 1, 3)) AS pri_rev3,
               repeat(substr(o_orderpriority, 1, 1), 3) AS pri_rep,
               CAST(((o_orderkey - 150) % 7 + 7) % 7 AS INT) AS pos_mod,
               greatest(o_totalprice, 100000.0) AS floor_100k,
               round(pow(o_orderkey, 1.5), 3) AS key_pow15
        FROM orders
        WHERE o_orderkey < 200
    """,
    "null_semantics": """
        SELECT nullif(o_orderpriority, '3-MEDIUM') AS pri_n,
               count(*) AS cnt_star,
               count(nullif(o_orderpriority, '3-MEDIUM')) AS cnt_col,
               count(CASE WHEN nullif(o_orderpriority, '3-MEDIUM')
                          IS NOT DISTINCT FROM NULL THEN 1 END)
                   AS nullsafe_null_cnt,
               CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                               AS DOUBLE) / count(o_totalprice), 2)
                    AS DOUBLE) AS avg_price,
               CAST(round(sum(CASE WHEN o_orderstatus = 'P'
                              THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 2)
                    AS DOUBLE) AS sum_p_only
        FROM orders
        GROUP BY 1
    """,
    "grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS cnt,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "analytic_extras": """
        SELECT o_orderpriority, o_orderkey,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                   PARTITION BY o_orderpriority ORDER BY o_totalprice
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS DOUBLE) AS range_running
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-02-01'
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
    """,
    # q2 oracle keeps the reference's correlated-scalar-subquery form (the
    # min cost per part over region suppliers) to pin the Spark
    # decorrelation as semantics-preserving.
    "tpch_q2": """
        WITH ps AS (
            SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, supply_cost
        FROM ps
        JOIN part ON p_partkey = l_partkey
            AND p_size <= 15 AND p_type = 'STANDARD'
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        WHERE supply_cost = (
            SELECT min(ps2.supply_cost) FROM ps ps2
            JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
            JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                AND r2.r_name = 'EUROPE'
            WHERE ps2.l_partkey = p_partkey
        )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
    # q20 oracle keeps the nested-IN form of the original query.
    "tpch_q20": """
        WITH shipped AS (
            SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'small%')
            GROUP BY l_suppkey, l_partkey
        )
        SELECT s_name, n_name,
               count(*) AS excess_parts,
               CAST(sum(qty) AS DOUBLE) AS excess_qty
        FROM shipped
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        WHERE qty > 0.3 * (SELECT sum(s2.qty) FROM shipped s2
                           WHERE s2.l_partkey = shipped.l_partkey)
        GROUP BY s_name, n_name
        ORDER BY s_name
    """,
    # q21 oracle is the classic EXISTS / NOT EXISTS correlation; the Spark
    # side replaces it with one per-order aggregate (n_supp, n_late).
    "tpch_q21": """
        SELECT s_name, count(*) AS numwait
        FROM (
            SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
            FROM lineitem l1
            JOIN orders ON l1.l_orderkey = o_orderkey
                AND o_orderstatus = 'F'
            WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate > o_orderdate
                                    + INTERVAL 60 DAY)
        ) w
        JOIN supplier ON w.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 20
    """,
    "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS sum_base_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS sum_disc_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))
                              * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                               AS DOUBLE) / count(l_extendedprice), 4)
                    AS DOUBLE) AS avg_price,
               CAST(round(CAST(sum(CAST(l_discount AS DECIMAL(4,2)))
                               AS DOUBLE) / count(l_discount), 4)
                    AS DOUBLE) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q5": """
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AFRICA'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "window_functions": """
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER w AS INT) AS seq,
               round(lag(o_totalprice) OVER w, 2) AS prev_price,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                     OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_total
        FROM orders
        WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "stats_agg": """
        WITH s AS (
            SELECT l_returnflag, count(*) AS cnt,
                   sum(CAST(floor(l_quantity * 100) AS HUGEINT)) AS sq,
                   sum(CAST(floor(l_quantity * 100) AS HUGEINT)
                       * CAST(floor(l_quantity * 100) AS HUGEINT)) AS sqq,
                   sum(CAST(floor(l_extendedprice * 100) AS HUGEINT)) AS sp,
                   sum(CAST(floor(l_extendedprice * 100) AS HUGEINT)
                       * CAST(floor(l_extendedprice * 100) AS HUGEINT)) AS spp,
                   sum(CAST(floor(l_quantity * 100) AS HUGEINT)
                       * CAST(floor(l_extendedprice * 100) AS HUGEINT)) AS sqp,
                   sum(CAST(floor(l_discount * 100) AS HUGEINT)) AS sd,
                   sum(CAST(floor(l_tax * 100) AS HUGEINT)) AS st,
                   sum(CAST(floor(l_discount * 100) AS HUGEINT)
                       * CAST(floor(l_tax * 100) AS HUGEINT)) AS sdt
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, cnt,
               round(sqrt((CAST(cnt AS DOUBLE) * CAST(sqq AS DOUBLE)
                           - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                          / (CAST(cnt AS DOUBLE)
                             * (CAST(cnt AS DOUBLE) - 1.0)))
                     / 100.0, 4) AS sd_qty,
               round((CAST(cnt AS DOUBLE) * CAST(sqp AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                     / sqrt((CAST(cnt AS DOUBLE) * CAST(sqq AS DOUBLE)
                             - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                            * (CAST(cnt AS DOUBLE) * CAST(spp AS DOUBLE)
                               - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))),
                     4) AS corr_qty_price,
               round((CAST(cnt AS DOUBLE) * CAST(sdt AS DOUBLE)
                      - CAST(sd AS DOUBLE) * CAST(st AS DOUBLE))
                     / (CAST(cnt AS DOUBLE) * (CAST(cnt AS DOUBLE) - 1.0))
                     / 10000.0, 6) + 0.0 AS cov_disc_tax
        FROM s
    """,
    "tpch_q6": """
        SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * CAST(l_discount AS DECIMAL(4,2))), 2)
                    AS DOUBLE) AS revenue,
               count(*) AS cnt
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "tpch_q10": """
        SELECT c_custkey, c_name, n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "tpch_q14": """
        SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                      THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                           * (1 - CAST(l_discount AS DECIMAL(4,2)))
                                      ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
                     4) AS promo_pct,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    "tpch_q19": """
        SELECT p_brand,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS revenue,
               count(*) AS cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
        GROUP BY p_brand
    """,
    "tpch_q18": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               sum_qty
        FROM (
            SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
            FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
        ) big
        JOIN orders ON o_orderkey = big.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    "tpch_q3": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY sum(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))) DESC, l_orderkey
        LIMIT 10
    """,
    "outer_join": """
        SELECT c_mktsegment, count(*) AS rows,
               count(o_orderkey) AS orders,
               count(*) FILTER (WHERE o_orderkey IS NULL) AS customers_without_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    """,
    "anti_join": """
        SELECT c_nationkey, count(*) AS cnt
        FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2001-01-01'
        )
        GROUP BY c_nationkey
    """,
    "intersect_except": """
        SELECT count(*) AS keys, CAST(sum(key) AS BIGINT) AS key_sum FROM (
            SELECT key FROM (
                SELECT l_partkey AS key FROM lineitem WHERE l_quantity >= 48
                INTERSECT
                SELECT p_partkey AS key FROM part WHERE p_retailprice < 950
            )
            EXCEPT ALL
            SELECT DISTINCT p_partkey AS key FROM part WHERE p_brand = 'Brand#1'
        )
    """,
    "cube_rollup": """
        SELECT l_returnflag, l_linestatus, count(*) AS cnt,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS sum_price,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "scalar_subquery": """
        SELECT o_orderpriority, count(*) AS cnt
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        GROUP BY o_orderpriority
    """,
    "salted_skew_agg": """
        SELECT l_returnflag, count(*) AS cnt,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "target_encoding": f"""
        WITH grp AS (
            SELECT o_orderpriority, count(*) AS n,
                   sum(CAST(floor(o_totalprice * 100) AS HUGEINT)) AS sc
            FROM orders GROUP BY o_orderpriority
        ),
        tot AS (SELECT sum(n) AS n_g, sum(sc) AS s_g FROM grp)
        SELECT o_orderpriority, n, CAST(sc AS BIGINT) AS sum_cents,
               round((CAST(sc AS DOUBLE) * CAST(n_g AS DOUBLE)
                      + {float(TE_SMOOTHING)} * CAST(s_g AS DOUBLE))
                     / ((CAST(n AS DOUBLE) + {float(TE_SMOOTHING)})
                        * CAST(n_g AS DOUBLE))
                     / 100.0, 4) AS enc
        FROM grp CROSS JOIN tot
    """,
    "hierarchy_share": """
        WITH per_nation AS (
            SELECT r.r_name, n.n_name, count(*) AS n_orders,
                   sum(CAST(floor(o.o_totalprice * 100) AS HUGEINT)) AS rev
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        ),
        per_region AS (
            SELECT r_name, sum(rev) AS region_rev
            FROM per_nation GROUP BY r_name
        )
        SELECT pn.r_name, pn.n_name, pn.n_orders,
               CAST(pn.rev AS BIGINT) AS rev_cents,
               round(CAST(pn.rev AS DOUBLE)
                     / CAST(pr.region_rev AS DOUBLE), 6) AS share_of_region
        FROM per_nation pn JOIN per_region pr USING (r_name)
    """,
    "skyline_orders": """
        WITH d AS (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ep
            FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        SELECT o_orderkey, cents, ep
        FROM d a
        WHERE NOT EXISTS (
            SELECT 1 FROM d b
            WHERE b.cents <= a.cents AND b.ep >= a.ep
              AND (b.cents < a.cents OR b.ep > a.ep)
        )
    """,
    "table_fingerprint": f"""
        WITH o AS (
            SELECT count(*) AS n_rows,
                   sum(CAST(CAST('0x' || substring(md5(concat_ws('|',
                       COALESCE(CAST(o_orderkey AS VARCHAR), '~NULL~'),
                       COALESCE(CAST(o_custkey AS VARCHAR), '~NULL~'),
                       COALESCE(o_orderstatus, '~NULL~'),
                       COALESCE(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), '~NULL~'),
                       COALESCE(CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT)
                                AS VARCHAR), '~NULL~'),
                       COALESCE(o_orderpriority, '~NULL~'))), 1, 12)
                       AS BIGINT) AS HUGEINT)) % {FP_MOD} AS fp_mod
            FROM orders
        ),
        c AS (
            SELECT count(*) AS n_rows,
                   sum(CAST(CAST('0x' || substring(md5(concat_ws('|',
                       COALESCE(CAST(c_custkey AS VARCHAR), '~NULL~'),
                       COALESCE(c_name, '~NULL~'),
                       COALESCE(CAST(c_nationkey AS VARCHAR), '~NULL~'),
                       COALESCE(c_mktsegment, '~NULL~'),
                       COALESCE(CAST(CAST(floor(c_acctbal * 100) AS BIGINT)
                                AS VARCHAR), '~NULL~'))), 1, 12)
                       AS BIGINT) AS HUGEINT)) % {FP_MOD} AS fp_mod
            FROM customer
        ),
        n AS (
            SELECT count(*) AS n_rows,
                   sum(CAST(CAST('0x' || substring(md5(concat_ws('|',
                       COALESCE(CAST(n_nationkey AS VARCHAR), '~NULL~'),
                       COALESCE(n_name, '~NULL~'),
                       COALESCE(CAST(n_regionkey AS VARCHAR), '~NULL~'))),
                       1, 12) AS BIGINT) AS HUGEINT)) % {FP_MOD} AS fp_mod
            FROM nation
        )
        SELECT 'orders' AS tbl, n_rows, CAST(fp_mod AS BIGINT) AS fp_mod
        FROM o
        UNION ALL
        SELECT 'customer', n_rows, CAST(fp_mod AS BIGINT) FROM c
        UNION ALL
        SELECT 'nation', n_rows, CAST(fp_mod AS BIGINT) FROM n
    """,
    "column_profile": """
        SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
               sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null,
               count(DISTINCT o_orderkey) AS n_distinct,
               CAST(min(o_orderkey) AS BIGINT) AS min_v,
               CAST(max(o_orderkey) AS BIGINT) AS max_v
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*),
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS BIGINT),
               CAST(max(o_custkey) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice_cents', count(*),
               sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT floor(o_totalprice * 100)),
               CAST(min(floor(o_totalprice * 100)) AS BIGINT),
               CAST(max(floor(o_totalprice * 100)) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate_epoch', count(*),
               sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
               count(DISTINCT epoch(o_orderdate)),
               CAST(min(epoch(o_orderdate)) AS BIGINT),
               CAST(max(epoch(o_orderdate)) AS BIGINT)
        FROM orders
    """,
}
