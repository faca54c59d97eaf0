"""Spatial join operators — grid-bucketed radius search.

The geo twin of the LSH band join: a radius join NEVER materializes the
customer × supplier cross product. Each point maps to an integer grid
cell sized to the search radius; the smaller relation replicates into its
3×3 cell neighborhood (a 9× fan-out, constant), the probe side keeps one
row per point, and candidates meet in a plain equi-join on the cell key —
then an exact distance predicate keeps true matches. At 100 TB both sides
shuffle on the cell key; skewed cells (urban hot spots) behave like any
skewed join key (AQE skew split / salting), and the fan-out factor stays
9 regardless of data volume.

Coordinates are synthesized deterministically from the TPC-H keys with
multiplicative integer hashing (seedless — the md5-order discipline used
by the sampling ops, in integer form), and the distance test is SQUARED
planar distance in integer micro-degree units, so membership decisions
are bit-exact integer comparisons on both engines: no trig, no float
fold, no boundary flake. A spherical (haversine) refinement would slot in
as a post-filter on the same candidate set.

The DuckDB oracle runs the brute-force cross join with the identical
integer predicate — proving the grid join finds exactly the pairs the
cross product finds (the 3×3 neighborhood is lossless because cell size
equals the radius).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import corpus_memo, load_table, local_rows

HAV_LAT0, HAV_LON0 = 48.8566, 2.3522  # reference point for the census
HAV_CAP = 200                          # bounded customer slice


LAT_MULT = 2654435761  # Knuth multiplicative hashes — exact in BIGINT
LON_MULT = 2246822519
LAT_SPAN = 1_000_000   # raw coordinate domains (micro-degree-ish units)
LON_SPAN = 2_000_000
GRID = 100_000         # cell edge == search radius
RADIUS2 = GRID * GRID  # squared planar threshold, exact integer


def q_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle distance census: haversine km from a fixed reference
    point for a bounded customer slice, with synthetic lat/lon derived
    from the customer key by the same Knuth multiplicative hash the grid
    join uses (integer micro-degree coordinates, exact on both engines).
    The trig itself is per-row single-shot double arithmetic written
    shape-identically in the DuckDB oracle (the ln/entropy precedent —
    no accumulation, so no merge-order exposure), rounded once. One
    pruned scan, no shuffle beyond the scan itself."""
    c = (load_table(spark, "customer", sf_dir)
         .filter(F.col("c_custkey") < HAV_CAP))
    lat_i = (F.col("c_custkey") * F.lit(LAT_MULT)) % F.lit(LAT_SPAN)
    lon_i = (F.col("c_custkey") * F.lit(LON_MULT)) % F.lit(LON_SPAN)
    # integer micro-units → degrees in [-5, 5) / [-10, 10) around origin
    lat = (lat_i.cast("double") / F.lit(100000.0)) - F.lit(5.0)
    lon = (lon_i.cast("double") / F.lit(100000.0)) - F.lit(10.0)
    rad = F.lit(3.141592653589793 / 180.0)
    la1, lo1 = F.lit(HAV_LAT0) * rad, F.lit(HAV_LON0) * rad
    la2, lo2 = lat * rad, lon * rad
    a = (F.sin((la2 - la1) / 2) * F.sin((la2 - la1) / 2)
         + F.cos(la1) * F.cos(la2)
         * F.sin((lo2 - lo1) / 2) * F.sin((lo2 - lo1) / 2))
    km = F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a))
    return c.select(
        "c_custkey",
        lat_i.cast("long").alias("lat_micro"),
        lon_i.cast("long").alias("lon_micro"),
        F.round(km, 4).alias("dist_km"),
    )


def _with_coords(df: DataFrame, key: str) -> DataFrame:
    lat = (F.col(key) * F.lit(LAT_MULT)) % LAT_SPAN
    lon = (F.col(key) * F.lit(LON_MULT)) % LON_SPAN
    return df.select(F.col(key), lat.alias("lat"), lon.alias("lon"))


def grid_radius_pairs(probe: DataFrame, build: DataFrame) -> DataFrame:
    """Candidate-pair core: (probe key, build key, dist2) for every pair
    within GRID units. The build side replicates into its 3×3 cell
    neighborhood; the probe side joins on its own cell, so every true
    pair meets exactly once."""
    pkey, bkey = probe.columns[0], build.columns[0]
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    s_cells = (
        build.withColumn("dlat", off).withColumn("dlon", off)
        .select(
            bkey,
            F.col("lat").alias("s_lat"), F.col("lon").alias("s_lon"),
            (F.expr(f"lat div {GRID}") + F.col("dlat")).alias("cell_lat"),
            (F.expr(f"lon div {GRID}") + F.col("dlon")).alias("cell_lon"),
        )
    )
    c_cells = probe.select(
        pkey, "lat", "lon",
        F.expr(f"lat div {GRID}").alias("cell_lat"),
        F.expr(f"lon div {GRID}").alias("cell_lon"),
    )
    d2 = ((F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat"))
          + (F.col("lon") - F.col("s_lon")) * (F.col("lon") - F.col("s_lon")))
    return (
        c_cells.join(s_cells, ["cell_lat", "cell_lon"])
        .withColumn("dist2", d2)
        .filter(F.col("dist2") <= RADIUS2)
        .select(pkey, bkey, "dist2")
    )


def grid_radius_join(probe: DataFrame, build: DataFrame) -> DataFrame:
    """Per-probe-key rollup of ``grid_radius_pairs``: matches within GRID
    units — count, min squared distance, nearest build key."""
    pkey, bkey = probe.columns[0], build.columns[0]
    pairs = grid_radius_pairs(probe, build)
    from pyspark.sql import Window

    w = Window.partitionBy(pkey)
    pick = Window.partitionBy(pkey).orderBy("dist2", bkey)
    return (
        pairs.withColumn("n_within", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(pkey, "n_within",
                F.col("dist2").alias("min_dist2"),
                F.col(bkey).alias("nearest_suppkey"))
    )


def q_spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every customer, the suppliers within GRID units: count, squared
    distance to the nearest, and the nearest supplier id (ties broken by
    suppkey)."""
    cust = _with_coords(load_table(spark, "customer", sf_dir), "c_custkey")
    supp = _with_coords(load_table(spark, "supplier", sf_dir), "s_suppkey")
    return grid_radius_join(cust, supp)


SSSP_SOURCE = 1   # c_custkey of the source node (exists at every SF)
SSSP_ROUNDS = 4   # Bellman-Ford relaxations — paths up to 4 edges settle


SSSP_DEGREE_CAP = 16  # k-nearest-within-radius out-degree bound

# r10 optimization: the capped proximity edge relation is rebuilt (grid
# self-join + kNN window + eager localCheckpoint — ~4 s and 3 jobs at
# sf0.1) on EVERY call; memoize it per (session, customer-corpus ident)
# like the Markov spine, so repeated executions pay the graph build
# once.
@corpus_memo(table="customer")
def _sssp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = _with_coords(load_table(spark, "customer", sf_dir), "c_custkey")
    build = cust.select(F.col("c_custkey").alias("c_custkey2"),
                        "lat", "lon")
    w_knn = (Window.partitionBy("c_custkey")
             .orderBy("dist2", "c_custkey2"))
    edges = (
        grid_radius_pairs(cust, build)
        .filter(F.col("c_custkey") != F.col("c_custkey2"))
        .withColumn("_rn", F.row_number().over(w_knn))
        .filter(F.col("_rn") <= SSSP_DEGREE_CAP)
        .select(F.col("c_custkey").alias("u"),
                F.col("c_custkey2").alias("v"),
                F.col("dist2").alias("w"))
        .localCheckpoint()
    )
    return edges


def q_spatial_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford, SSSP_ROUNDS
    unrolled relaxations) over the customer proximity graph — the
    weighted sibling of the BFS hop-distance operator: edges are each
    customer's SSSP_DEGREE_CAP nearest neighbors within GRID units (the
    grid join run as a SELF-join; deterministic (w, v) tie-break),
    weights the exact integer squared distances, and each round one
    edge-sized join + a min-aggregate. Everything is BIGINT min/plus
    arithmetic, so distances are bit-exact on both engines; the oracle
    unrolls the same recursion over the identically-capped brute-force
    pair relation.

    The degree cap is the 100 TB load-bearing piece (found by the r10
    two-decade stress): an UN-capped radius graph has |E| ∝ n²·r²/area —
    10× the points in the same coordinate box meant ~100× the edges and
    an executor OOM at the sf1 slice. Capping to the k nearest within
    the radius (the standard k-NN graph construction) makes |E| ≤ k·n —
    linear in points — while keeping every short hop that matters for
    proximity routing. The capped graph is directed (u keeping v does
    not imply v keeps u), which Bellman-Ford handles natively. The edge
    relation is the memoized ``_sssp_edges`` checkpoint (built once per
    session+corpus — the Markov-spine pattern).

    r11 (guide §2.4): the per-round ``union + groupBy(node).min`` paid one
    shuffle per relaxation (11 jobs / 4 exchanges per execution). The
    min is DEFERRED instead: round t's frontier is every WALK of exactly
    t edges from the source (edges ⋈ broadcast(frontier), no shuffle —
    the walk count is bounded by SSSP_DEGREE_CAP^SSSP_ROUNDS = 16⁴ ≤
    65 536 rows at ANY corpus size, so each frontier stays broadcastable
    by construction), and ONE final groupBy takes min(d) over the union
    of all levels. min over all ≤4-edge walks ≡ 4 unrolled Bellman-Ford
    relaxations — identical exact BIGINT distances — but the plan now
    carries 4 broadcast exchanges + 1 shuffle instead of 4 shuffles, and
    AQE's stage cache reuses each level's broadcast between the union
    branch and the next level's build."""
    edges = _sssp_edges(spark, sf_dir)
    dist = local_rows(spark, [(SSSP_SOURCE, 0)], "node long, d long")
    levels = [dist]
    frontier = dist
    for _ in range(SSSP_ROUNDS):
        frontier = (edges.join(
            F.broadcast(frontier.select(F.col("node").alias("u"), "d")), "u")
            .select(F.col("v").alias("node"),
                    (F.col("d") + F.col("w")).alias("d")))
        levels.append(frontier)
    walks = levels[0]
    for lv in levels[1:]:
        walks = walks.unionByName(lv)
    return walks.groupBy("node").agg(F.min("d").alias("d"))


QUERIES = {
    "geo_haversine": q_geo_haversine,
    "spatial_radius_join": q_spatial_radius_join,
    "spatial_sssp": q_spatial_sssp,
}

def _sssp_oracle(rounds: int = SSSP_ROUNDS) -> str:
    parts = [f"""
        c AS (
            SELECT c_custkey,
                   (c_custkey * {LAT_MULT}) % {LAT_SPAN} AS lat,
                   (c_custkey * {LON_MULT}) % {LON_SPAN} AS lon
            FROM customer
        ),
        e AS (
            SELECT u, v, w FROM (
                SELECT a.c_custkey AS u, b.c_custkey AS v,
                       (a.lat - b.lat) * (a.lat - b.lat)
                       + (a.lon - b.lon) * (a.lon - b.lon) AS w,
                       row_number() OVER (
                           PARTITION BY a.c_custkey
                           ORDER BY (a.lat - b.lat) * (a.lat - b.lat)
                                    + (a.lon - b.lon) * (a.lon - b.lon),
                                    b.c_custkey) AS rn
                FROM c a CROSS JOIN c b
                WHERE a.c_custkey <> b.c_custkey
                  AND (a.lat - b.lat) * (a.lat - b.lat)
                      + (a.lon - b.lon) * (a.lon - b.lon) <= {RADIUS2}
            ) WHERE rn <= {SSSP_DEGREE_CAP}
        ),
        d0 AS (SELECT CAST({SSSP_SOURCE} AS BIGINT) AS node,
                      CAST(0 AS BIGINT) AS d)"""]
    for t in range(1, rounds + 1):
        parts.append(f"""
        d{t} AS (
            SELECT node, min(d) AS d FROM (
                SELECT node, d FROM d{t - 1}
                UNION ALL
                SELECT e.v AS node, p.d + e.w AS d
                FROM d{t - 1} p JOIN e ON e.u = p.node
            ) x GROUP BY node
        )""")
    return f"""
        WITH {','.join(parts)}
        SELECT node, d FROM d{rounds}
    """


ORACLES = {
    "geo_haversine": f"""
        WITH c AS (
            SELECT c_custkey,
                   (c_custkey * {LAT_MULT}) % {LAT_SPAN} AS lat_i,
                   (c_custkey * {LON_MULT}) % {LON_SPAN} AS lon_i
            FROM customer WHERE c_custkey < {HAV_CAP}
        ),
        deg AS (
            SELECT c_custkey, lat_i, lon_i,
                   (CAST(lat_i AS DOUBLE) / 100000.0 - 5.0)
                   * (3.141592653589793 / 180.0) AS la2,
                   (CAST(lon_i AS DOUBLE) / 100000.0 - 10.0)
                   * (3.141592653589793 / 180.0) AS lo2,
                   {HAV_LAT0} * (3.141592653589793 / 180.0) AS la1,
                   {HAV_LON0} * (3.141592653589793 / 180.0) AS lo1
            FROM c
        )
        SELECT c_custkey,
               CAST(lat_i AS BIGINT) AS lat_micro,
               CAST(lon_i AS BIGINT) AS lon_micro,
               round(2.0 * 6371.0 * asin(sqrt(
                   sin((la2 - la1) / 2) * sin((la2 - la1) / 2)
                   + cos(la1) * cos(la2)
                   * sin((lo2 - lo1) / 2) * sin((lo2 - lo1) / 2))), 4)
               AS dist_km
        FROM deg
    """,
    "spatial_sssp": _sssp_oracle(),
    "spatial_radius_join": f"""
        WITH c AS (
            SELECT c_custkey,
                   (c_custkey * {LAT_MULT}) % {LAT_SPAN} AS lat,
                   (c_custkey * {LON_MULT}) % {LON_SPAN} AS lon
            FROM customer
        ),
        s AS (
            SELECT s_suppkey,
                   (s_suppkey * {LAT_MULT}) % {LAT_SPAN} AS s_lat,
                   (s_suppkey * {LON_MULT}) % {LON_SPAN} AS s_lon
            FROM supplier
        ),
        pairs AS (
            SELECT c.c_custkey, s.s_suppkey,
                   (lat - s_lat) * (lat - s_lat)
                   + (lon - s_lon) * (lon - s_lon) AS dist2
            FROM c CROSS JOIN s
            WHERE (lat - s_lat) * (lat - s_lat)
                  + (lon - s_lon) * (lon - s_lon) <= {RADIUS2}
        ),
        ranked AS (
            SELECT *, count(*) OVER (PARTITION BY c_custkey) AS n_within,
                   row_number() OVER (PARTITION BY c_custkey
                                      ORDER BY dist2, s_suppkey) AS rn
            FROM pairs
        )
        SELECT c_custkey, n_within, dist2 AS min_dist2,
               s_suppkey AS nearest_suppkey
        FROM ranked WHERE rn = 1
    """,
}
