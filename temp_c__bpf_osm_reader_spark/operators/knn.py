"""kNN via k-ring candidate expansion + per-query top-k (north-star operator).

Spec (frozen, matches sources/fixtures.py golden):
  * queries carry (query_image_id, lat, lon); candidates = all points whose
    res-r grid cell is within Chebyshev distance `ring` of the query's cell
    (lon wraps, lat clips), excluding the query itself;
  * distance = haversine meters; rank by (dist, neighbor_image_id); keep k.

Ring-bounded by design: a true global kNN would need iterative expansion —
at 10^12-point scale the ring bound is the scalable contract (candidates per
query stay O(density × ring²)).

Execution shape: the query side is small relative to points → the expanded
(neighbor_cell → query) table is built JVM-side by the shared grid
expansion (indexing.neighbours, no UDF) and broadcast; the points side
never shuffles. Top-k is a window over candidates, shuffled by query id —
the only shuffle, keyed on the small side's cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import EARTH_R_M, KNN_K, KNN_RES, KNN_RING, KNN_RINGS
from .indexing import cell_ij, cell_of, grid_cell_col, neighbours, ring_offsets


def haversine_m_col(lat1, lon1, lat2, lon2):
    """Haversine in meters, JVM-side (codegen'd trig, no Python).

    Squares are self-multiplies, not POWER(x, 2.0): Math.pow costs ~50x a
    multiply per candidate row, and the numpy golden twin squares by
    multiplication too (np.square), so this is also the closer arithmetic
    match. Codegen CSE evaluates each sin() once."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp, dl = p2 - p1, F.radians(lon2) - F.radians(lon1)
    sdp, sdl = F.sin(dp / 2), F.sin(dl / 2)
    a = sdp * sdp + F.cos(p1) * F.cos(p2) * sdl * sdl
    return 2.0 * EARTH_R_M * F.asin(F.sqrt(a))


def expand_query_cells(
    queries: DataFrame,
    res: int = KNN_RES,
    ring: int = KNN_RING,
) -> DataFrame:
    """(query …, qlat, qlon) → (neighbor cell_id, query …): one row per cell
    of the query cell's k-ring (indexing.neighbours), JVM-side."""
    qi, qj = cell_ij(grid_cell_col(F.col("qlat"), F.col("qlon"), res))
    return (
        neighbours(queries, qi, qj, res, ring_offsets(ring))
        .withColumn("cell_id", cell_of(res, F.col("ni"), F.col("nj")))
        .drop("di", "dj", "ni", "nj")
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int = KNN_K,
    res: int = KNN_RES,
    ring: int = KNN_RING,
) -> DataFrame:
    """→ (query_image_id, neighbor_image_id, rank, dist_m[rounded mm]).

    points: (image_id, lat, lon); queries: (image_id, lat, lon).
    """
    pq = queries.select(
        F.col("image_id").alias("query_image_id"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    expanded = expand_query_cells(pq, res, ring)  # small × (2r+1)²
    pts = points.select(
        F.col("image_id").alias("neighbor_image_id"),
        "lat",
        "lon",
        grid_cell_col(F.col("lat"), F.col("lon"), res).alias("cell_id"),
    )
    cand = pts.join(F.broadcast(expanded), "cell_id").filter(
        F.col("neighbor_image_id") != F.col("query_image_id")
    )
    cand = cand.withColumn(
        "dist_m", haversine_m_col(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon"))
    )
    w = Window.partitionBy("query_image_id").orderBy(F.col("dist_m"), F.col("neighbor_image_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_image_id",
            "neighbor_image_id",
            "rank",
            F.round(F.col("dist_m"), 3).alias("dist_m"),
        )
    )


def knn_join_global(points: DataFrame, queries: DataFrame) -> DataFrame:
    """Escalating-ring kNN: each query's result comes from the FIRST ring in
    KNN_RINGS that yields ≥ KNN_K neighbors (the last ring returns whatever
    exists).
    Closes the ring-bounded contract of knn_join for sparse regions while
    keeping the scalable shape: round i only re-expands the (shrinking) set of
    still-unsatisfied queries, so the wide rings touch few queries and the
    candidate volume stays O(density × ring²) per query per round.

    Deterministic by construction — same spec as the pure-numpy golden
    (sources/fixtures.ensure_golden_knn_global).
    """
    remaining = queries
    outs = []
    cached = []
    for i, ring in enumerate(KNN_RINGS):
        if i == len(KNN_RINGS) - 1:
            # final ring is consumed exactly once — no cache
            outs.append(knn_join(points, remaining, ring=ring))
            break
        # non-final rounds feed both the done-set and the output → cache
        # (released below once the union is checkpointed)
        out_r = knn_join(points, remaining, ring=ring).cache()
        cached.append(out_r)
        done = (
            out_r.groupBy("query_image_id")
            .count()
            .filter(F.col("count") >= KNN_K)
            .select("query_image_id")
        )
        outs.append(out_r.join(F.broadcast(done), "query_image_id", "left_semi"))
        remaining = remaining.join(
            F.broadcast(done),
            remaining["image_id"] == done["query_image_id"],
            "left_anti",
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    if cached:
        # cut the lineage through the per-ring caches, then release them —
        # otherwise a long-lived session (the 50-query harness) accumulates
        # pinned executor memory across invocations
        result = result.localCheckpoint(eager=True)
        for c in cached:
            c.unpersist()
    return result
