"""Two-phase point-in-polygon spatial join (north-star operator).

Phase 1 — cell prefilter: each polygon is covered by res-r cells (conservative
bbox polyfill, functions/geo.py:polyfill_bbox); the (cell_id, polygon_id)
cover table is tiny (|polygons| × covered cells) → broadcast hash join against
the points on cell_id. No shuffle of the big side.

Phase 2 — exact refine: even-odd ray casting over the surviving candidates.
The ring's edge table (≤12 edges per fixture polygon) rides a second
broadcast join and the crossing count is a higher-order `filter(edges, ...)`
of pure double arithmetic: no Python crossing, the whole refine stays in the
JVM with the prefilter join. The numpy kernel geo.point_in_polygon (behind the
brute-force golden) and the DuckDB oracle are its references.

At 100 TB scale: the points side stays partition-pruned and never shuffles;
candidate inflation is bounded by cover-cell area / polygon area; skewed cells
are handled by AQE skew-join + optional salting (operators/skew.py).

The reference has no spatial join (nodes stored raw, geometry left to
consumers — SURVEY §2.4); this is the capability the north rule adds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geo
from .indexing import cell_ij, cell_of, grid_cell_col, neighbours, ring_offsets

# Cover resolution of every PIP join. Measured at the flagship scale (sf0.1
# ×480 = 50.9 M points, pinned 8 cores, 2 interleaved passes; probe script
# added in commit 9d9061d):
# res 7 best 4.20 s / res 8 best 3.70 s / res 9 best 3.89 s pip stage; output
# row set identical (6,103,286) at all three — the refine is exact, res only
# moves the prefilter/refine split. res 8 quadruples the driver-side cover
# (still ~24k rows at the sf0.1 polygon layer — broadcast-trivial) and drops
# enough boundary-cell ray casts to win ~12%; res 9's extra cover cost eats
# the remaining gain.
PIP_RES = 8


def _classify_cover(polygons: pd.DataFrame, res: int) -> pd.DataFrame:
    """Driver-side cover with exact three-way cell classification:

      * dropped  — no polygon edge's bbox overlaps the cell and all 4 cell
        corners are outside: the cell is entirely outside (the boundary never
        enters it), so it generates no candidates at all;
      * _full    — no edge bbox overlaps and all 4 corners are inside: every
        point of the cell is interior, the refine is skipped;
      * boundary — everything else (conservative: edge-bbox overlap is a
        superset of edge-cell intersection), goes through the exact ray cast.

    Same even-odd half-open rule as the refine (geo.point_in_polygon), so
    classification can never flip a point's verdict — it only prunes cells
    whose verdict is uniform. Cost: O(cover cells × edges) in driver numpy
    (~5.9k cells × ≤12 edges for the sf0.1 layer); on a lakehouse this is
    write-time polygon-layer preprocessing, amortized across jobs."""
    rows = []
    for _, row in polygons.iterrows():
        ring_lat = np.asarray(row["ring_lat"], dtype=np.float64)
        ring_lon = np.asarray(row["ring_lon"], dtype=np.float64)
        cc = geo.polyfill_bbox(ring_lat, ring_lon, res)
        ry, rx = ring_lat, ring_lon
        if ry[0] == ry[-1] and rx[0] == rx[-1]:
            ry, rx = ry[:-1], rx[:-1]
        yj, xj = np.roll(ry, -1), np.roll(rx, -1)
        e_lat0, e_lat1 = np.minimum(ry, yj), np.maximum(ry, yj)
        e_lon0, e_lon1 = np.minimum(rx, xj), np.maximum(rx, xj)
        _, ci, cj = geo.cell_parts(cc)
        ny, nx = geo.grid_dims(res)
        lat0 = ci / ny * 180.0 - 90.0
        lat1 = lat0 + 180.0 / ny
        lon0 = cj / nx * 360.0 - 180.0
        lon1 = lon0 + 360.0 / nx
        # (cells, edges) bbox-overlap matrix → any edge near each cell?
        # CLOSED comparisons (<=/>=): an edge lying exactly ON a res-grid line
        # (axis-aligned input polygons) must conservatively flag the touching
        # cells as boundary — strict inequalities would let such a cell be
        # classified by its corners alone, which is verdict-ambiguous when the
        # boundary coincides with the cell edge (half-open ray-cast corners).
        near = (
            (e_lat0[None, :] <= lat1[:, None])
            & (e_lat1[None, :] >= lat0[:, None])
            & (e_lon0[None, :] <= lon1[:, None])
            & (e_lon1[None, :] >= lon0[:, None])
        ).any(axis=1)
        corners_in = np.stack(
            [
                geo.point_in_polygon(la, lo, ring_lat, ring_lon)
                for la, lo in (
                    (lat0, lon0), (lat0, lon1), (lat1, lon0), (lat1, lon1),
                )
            ]
        )
        full = ~near & corners_in.all(axis=0)
        keep = near | full  # drop all-outside cells
        rows.append(
            pd.DataFrame(
                {
                    "cell_id": cc[keep],
                    "polygon_id": np.full(int(keep.sum()), row["polygon_id"], dtype=np.int64),
                    "_full": full[keep],
                }
            )
        )
    return pd.concat(rows, ignore_index=True)


def polygon_cover(spark: SparkSession, polygons: pd.DataFrame) -> DataFrame:
    """Driver-side polyfill → small classified (cell_id, polygon_id, _full)
    cover DataFrame at PIP_RES (see _classify_cover)."""
    pdf = _classify_cover(polygons, PIP_RES)
    schema = T.StructType(
        [
            T.StructField("cell_id", T.LongType()),
            T.StructField("polygon_id", T.LongType()),
            T.StructField("_full", T.BooleanType()),
        ]
    )
    return spark.createDataFrame(pdf, schema=schema)


def _polygon_edges(spark: SparkSession, polygons: pd.DataFrame) -> DataFrame:
    """polygon_id → array<struct<yi,yj,xi,dx,dy>> — one tiny row per polygon.

    dx = xj-xi and dy = yj-yi are precomputed HERE in numpy float64, so every
    subtraction is bit-identical to the numpy reference (geo.point_in_polygon);
    the executor-side refine is then only *, /, +, < — IEEE-754 operations
    that the JVM and numpy round identically."""
    rows = []
    for _, r in polygons.iterrows():
        ry = np.asarray(r["ring_lat"], dtype=np.float64)
        rx = np.asarray(r["ring_lon"], dtype=np.float64)
        if ry[0] == ry[-1] and rx[0] == rx[-1]:  # drop the closing vertex
            ry, rx = ry[:-1], rx[:-1]
        yj, xj = np.roll(ry, -1), np.roll(rx, -1)
        edges = [
            (float(ry[i]), float(yj[i]), float(rx[i]),
             float(xj[i] - rx[i]), float(yj[i] - ry[i]))
            for i in range(ry.size)
        ]
        rows.append((int(r["polygon_id"]), edges))
    edge_t = T.StructType(
        [T.StructField(f, T.DoubleType()) for f in ("yi", "yj", "xi", "dx", "dy")]
    )
    schema = T.StructType(
        [
            T.StructField("polygon_id", T.LongType()),
            T.StructField("edges", T.ArrayType(edge_t)),
        ]
    )
    return spark.createDataFrame(rows, schema=schema)


def pip_join(
    points: DataFrame,
    polygons: pd.DataFrame,
    cover: DataFrame | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """points(image_id, lat, lon, ...) ⋈ polygons → (image_id, polygon_id).

    Emits every containing polygon per point (a point may fall in >1 polygon).
    The prefilter covers at PIP_RES. cover/edges are polygon-LAYER statistics
    (like the tile bounds: on a lakehouse they derive from the layer once,
    amortized across every join against it) — callers running pip repeatedly
    prebuild them with polygon_cover/_polygon_edges and pass them in; by
    default they are built per call.
    """
    spark = points.sparkSession
    if cover is None:
        cover = polygon_cover(spark, polygons)
    if edges is None:
        edges = _polygon_edges(spark, polygons)

    cell = grid_cell_col(F.col("lat"), F.col("lon"), PIP_RES)
    candidates = points.select("image_id", "lat", "lon", cell.alias("cell_id")).join(
        F.broadcast(cover), "cell_id"
    )
    y, x = F.col("lat"), F.col("lon")

    def _crossing(e):
        # frozen half-open rule (geo.point_in_polygon): edge counted iff
        # (yi > y) != (yj > y) and x strictly left of the crossing. When
        # the rule holds dy != 0; when it doesn't, the double division
        # yields ±inf/NaN (IEEE, never an error — ANSI div-by-zero only
        # applies to integral/decimal) and the conjunction is already
        # false, mirroring numpy's masked errstate lanes.
        cond = (e["yi"] > y) != (e["yj"] > y)
        x_cross = e["dx"] * (y - e["yi"]) / e["dy"] + e["xi"]
        return cond & (x < x_cross)

    inside = F.size(F.filter(F.col("edges"), _crossing)) % 2 == 1
    # interior-cell candidates are inside by classification — they skip
    # the edges join entirely (no per-row copy of the edge array, no ray
    # cast); only boundary-cell candidates pay the exact refine
    full_hits = candidates.filter(F.col("_full")).select("image_id", "polygon_id")
    refined = (
        candidates.filter(~F.col("_full"))
        .join(F.broadcast(edges), "polygon_id")
        .filter(inside)
        .select("image_id", "polygon_id")
    )
    return full_hits.unionByName(refined)


def box_self_join(points: DataFrame, cell_col: str, eps_deg: float, res: int) -> DataFrame:
    """Distance-bounded spatial SELF-join: every unordered pair of points
    within an eps_deg lat/lon box of each other (longitude wraps at the
    antimeridian), as (img1, img2) with img1 < img2.

    The third classic spatial-join form next to pip_join (point-vs-polygon)
    and knn (query-vs-corpus): an all-pairs "DWITHIN" over ONE table — the
    shape image-dedup-by-location or co-location mining needs.  A naive
    formulation is a cartesian product; the scale plan is grid blocking:

      * eps_deg ≤ one res-cell side ⇒ any qualifying partner sits in the
        3×3 cell neighborhood, so blocking on neighbor cells is COMPLETE
        (pytest-pinned against a brute-force cross join);
      * only the LEFT side explodes to its 9 neighbor cells (the right side
        keeps its own cell), so every unordered pair is produced exactly
        once per orientation and the img1 < img2 filter keeps exactly one —
        no distinct() pass, no double counting;
      * the join key is the packed cell id itself (the left side re-packs
        each neighbour with indexing.cell_of) — ONE dense long, the
        LongHashedRelation fast path, instead of a two-column key;
      * at 10^12 rows both sides hash-partition by that long; per-cell
        candidate lists are bounded by cell density, and hot cells fall to
        AQE skew-join (operators/skew.py salting is the manual fallback).

    The predicate runs on the same doubles both engines derive from the
    stored coordinates, so the ≤ comparisons are deterministic bit-for-bit.
    """
    ny, nx = geo.grid_dims(res)
    if res < 1:
        raise ValueError("res must be >= 1 so the 3 lon offsets stay distinct mod nx")
    if not (eps_deg <= 180.0 / ny and eps_deg <= 360.0 / nx):
        raise ValueError(
            f"eps_deg {eps_deg} exceeds a res-{res} cell side; 3x3 blocking incomplete"
        )
    right = points.select(
        F.col("image_id").alias("img2"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
        F.col(cell_col).alias("cell"),
    )
    left = neighbours(points, *cell_ij(F.col(cell_col)), res, ring_offsets(1)).select(
        F.col("image_id").alias("img1"),
        F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"),
        cell_of(res, F.col("ni"), F.col("nj")).alias("cell"),
    )
    dlon = F.abs(F.col("lon1") - F.col("lon2"))
    return (
        left.join(right, "cell")
        .where(F.col("img1") < F.col("img2"))
        .where(F.abs(F.col("lat1") - F.col("lat2")) <= F.lit(eps_deg))
        .where(F.least(dlon, F.lit(360.0) - dlon) <= F.lit(eps_deg))
        .select("img1", "img2")
    )


def polygon_stats(polys: DataFrame) -> DataFrame:
    """→ (polygon_id, kind, n_vertices, area2_e14, perim_l1_e7,
    vsum_lat_e7, vsum_lon_e7) — per-polygon shoelace geometry over the
    ring arrays, entirely in exact fixed-point BIGINTs.

    The polygon layer is the engine's nod_way analogue (pbf2sqlite.c:422-428
    stores ways as ordered closed vertex sequences and leaves geometry to
    consumers); this is the consumer-side derivation, kept in Spark. Spec:

      * vertices snap to e7 ints via floor(deg * 1e7) — floor of the same
        IEEE double in both engines, so the contract is exact (no float
        summation-order hazard anywhere downstream);
      * area2_e14 is TWICE the signed shoelace area in (e7)^2 units,
        computed on ring-local coordinates (translated by vertex 0 — the
        shoelace sum is translation-invariant) so every cross term is
        bounded by (3e8)^2 and the <=13-term sum stays far inside int64;
      * perim_l1_e7 is the exact L1 ring length (generator clamps rings
        away from the antimeridian, FIXTURES.md §2, so no wrap branch);
      * vsum_* are the open-ring vertex coordinate sums (centroid
        numerators) — emitted as sums, not means, to stay integer-exact.

    Plan: one narrow projection, zero shuffles — `transform` + `aggregate`
    higher-order functions run inside whole-stage codegen per row, so the
    operator scales linearly with the polygon table and parallelizes per
    file split.
    """
    d = polys.select(
        "polygon_id",
        "kind",
        F.expr("transform(ring_lat, x -> CAST(floor(x * 1e7) AS BIGINT))").alias("la"),
        F.expr("transform(ring_lon, x -> CAST(floor(x * 1e7) AS BIGINT))").alias("lo"),
    )
    n = "(size(la) - 1)"
    return d.select(
        "polygon_id",
        "kind",
        F.expr(f"CAST({n} AS BIGINT)").alias("n_vertices"),
        F.expr(
            f"""aggregate(sequence(0, {n} - 1), CAST(0 AS BIGINT),
                (acc, i) -> acc + (lo[i] - lo[0]) * (la[i + 1] - la[0])
                                - (lo[i + 1] - lo[0]) * (la[i] - la[0]))"""
        ).alias("area2_e14"),
        F.expr(
            f"""aggregate(sequence(0, {n} - 1), CAST(0 AS BIGINT),
                (acc, i) -> acc + abs(la[i + 1] - la[i]) + abs(lo[i + 1] - lo[i]))"""
        ).alias("perim_l1_e7"),
        F.expr(f"aggregate(slice(la, 1, {n}), CAST(0 AS BIGINT), (acc, v) -> acc + v)").alias(
            "vsum_lat_e7"
        ),
        F.expr(f"aggregate(slice(lo, 1, {n}), CAST(0 AS BIGINT), (acc, v) -> acc + v)").alias(
            "vsum_lon_e7"
        ),
    )
