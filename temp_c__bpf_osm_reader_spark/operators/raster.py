"""Raster-side operators over the packed grid-cell raster.

The engine's raster↔vector pair (OPERATORS.md north-rule table) started as
tile_assignment (raster→vector: grid cell → deterministic ordered image
table) and raster_density (vector→raster: rasterize the point layer onto
the res-8 pixel grid).  This module adds the classic raster analytics
that sit on top of a rasterized layer:

  * pyramid()   — multi-resolution rollup (map-tile pyramid): each base
    pixel is exploded to its ONE ancestor pixel per level (exact
    power-of-two hierarchy, i >> d), then a single groupBy sums every level
    at once.  At 10^12 input rows only the base groupBy touches the full
    table — map-side combinable (count), one partial row per (pixel ×
    task) — and the pyramid itself is one raster-bounded shuffle
    (n_levels × occupied pixels).
  * focal_sum() — 3×3 neighborhood (focal/convolution) statistic: each
    occupied pixel's count plus its 8 neighbors'.  Runs entirely on the
    aggregated raster (bounded by the grid, 2^res × 2^(res+1) pixels), via
    the offset _stencil (center tagged) + one pixel-keyed shuffle, on the
    grid's cylinder topology (indexing.neighbours: longitude wraps,
    latitude clamps).  global_autocorr() and local_autocorr() (Moran's I,
    global and per pixel) run on the same stencil.
  * polygonize() — raster→vector region extraction: 4-connected component
    labeling over the occupied pixels, emitting one REGION row per
    component (GDAL's gdal_polygonize / PostGIS ST_DumpAsPolygons class).
    Only the rasterization touches the input table; the labeling
    (dedup.connected_components) runs on
    the raster itself, whose size is capped by the GRID (2^res × 2^(res+1)
    pixels) no matter how many input rows fed it — at 10^12 images and
    res 8 the component graph still has ≤ 131k nodes.

Pixels come from operators/indexing.py, the one Spark module that knows the
packed cell layout: cell_ij decodes a cell id, neighbours expands a pixel to
its offset neighbours and pixel_key is polygonize's region id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components
from .indexing import cell_ij, neighbours, pixel_key, ring_offsets


def density(points: DataFrame, cell_col: str) -> DataFrame:
    """Rasterize a point layer: (row_i, col_j, n_images) per occupied pixel."""
    i, j = cell_ij(F.col(cell_col))
    return points.groupBy(i.alias("row_i"), j.alias("col_j")).agg(
        F.count(F.lit(1)).alias("n_images")
    )


def _stencil(points: DataFrame, cell_col: str, res: int, offsets) -> DataFrame:
    """Offset stencil over the rasterized layer: every occupied pixel sends
    its count to each (di, dj) offset's target pixel → (ni, nj, n_images,
    is_center), is_center tagging the (0, 0) offset. Targets follow
    indexing.neighbours (col_j wraps modulo nx — at nx == 2 a column's east
    and west borders are two distinct adjacencies; targets beyond the poles
    are dropped). Callers group by the target pixel: the center tag
    folds "join back to the base raster" into that one aggregate, so a
    statistic costs the rasterization (the only full-table pass) plus one
    raster-bounded shuffle — a join back would re-run the full-table
    rasterization for the probe side (no cross-subtree exchange reuse;
    .cache() measured slower at sf1.0 — see pyramid())."""
    pixels = density(points, cell_col)
    return neighbours(pixels, F.col("row_i"), F.col("col_j"), res, offsets).select(
        "ni", "nj", "n_images", ((F.col("di") == 0) & (F.col("dj") == 0)).alias("is_center")
    )


def pyramid(points: DataFrame, cell_col: str, base_res: int, min_res: int) -> DataFrame:
    """Multi-resolution raster pyramid: (res, row_i, col_j, n_images).

    The grid hierarchy is exact power-of-two (geo.cell_parent: i >> d,
    j >> d), so each coarser level is a lossless 2×2-block sum of the level
    below.  Level base_res is the only pass over the raw points; every
    other level aggregates the previous level's raster (≤ occupied pixels
    at that res, shrinking ≥ towards 4× per step), so the pyramid costs one
    full-table map-side-combinable shuffle plus a geometric tail of tiny
    ones — the plan a tile server would want at any scale.
    """
    if not base_res > min_res >= 0:
        raise ValueError(f"need base_res > min_res >= 0, got {base_res}, {min_res}")
    # Single-shuffle plan.  A per-level union would make each level an
    # INDEPENDENT plan subtree — Spark's exchange reuse does not fire across
    # union branches (measured: 0 ReusedExchange, the raw-points scan re-ran
    # once per level), and .cache()-ing the base raster was measured ~2x
    # SLOWER end-to-end at sf1.0 (InMemoryRelation fill + scan overhead and
    # the loss of AQE coalescing inside the cached plan outweigh the cheap
    # rescan).  Instead, exploit that the grid hierarchy is exact
    # power-of-two (geo.cell_parent: i >> d): every base pixel has exactly
    # one ancestor per level, so exploding each base-raster row to its
    # (res, i >> d, j >> d) ancestors and running ONE groupBy computes the
    # whole pyramid — one pass over the raw points, one raster-bounded
    # shuffle (n_levels x occupied-pixel rows, map-side combinable), no
    # repeated scan and no cache at any scale.
    base = density(points, cell_col)
    depths = F.array(*[F.lit(d) for d in range(base_res - min_res + 1)])
    return (
        base.select(F.explode(depths).alias("d"), "row_i", "col_j", "n_images")
        .groupBy(
            (F.lit(base_res) - F.col("d")).alias("res"),
            F.expr("shiftright(row_i, d)").alias("row_i"),
            F.expr("shiftright(col_j, d)").alias("col_j"),
        )
        .agg(F.sum("n_images").alias("n_images"))
        .select("res", "row_i", "col_j", "n_images")
    )


def focal_sum(points: DataFrame, cell_col: str, res: int) -> DataFrame:
    """3×3 focal (neighborhood) sum over the rasterized layer.

    For every OCCUPIED pixel: its own count plus the counts of its 8 grid
    neighbors (missing neighbors contribute 0), on the cylinder topology of
    _stencil. Plan: the 9-offset stencil, then ONE groupBy on the target
    pixel computes both focal_n (sum of all contributions) and the center's
    own count; keeping only groups that saw a center contribution IS the
    "center must be occupied" filter. The center contribution is
    unambiguous under wrap/clamp: offset (0,0) maps a pixel to itself only.
    """
    return (
        _stencil(points, cell_col, res, ring_offsets(1))
        .groupBy("ni", "nj")
        .agg(
            F.sum("n_images").alias("focal_n"),
            F.max(F.when(F.col("is_center"), F.col("n_images"))).alias("center_n"),
        )
        .where(F.col("center_n").isNotNull())
        .select(
            F.col("ni").alias("row_i"),
            F.col("nj").alias("col_j"),
            F.col("center_n").alias("n_images"),
            "focal_n",
        )
    )


def polygonize(points: DataFrame, cell_col: str, res: int) -> DataFrame:
    """Raster→vector region extraction: 4-connected components over the
    occupied pixels → one row per region: (region_id, n_cells, n_images,
    min_i, max_i, min_j, max_j), region_id = min indexing.pixel_key of the
    component's pixels.

    Adjacency is 4-connectivity on the cylinder: col_j wraps modulo nx
    (longitude is periodic — a region crossing the antimeridian is ONE
    region), row_i does not (no pixels beyond the poles).  The j-bbox is a
    plain min/max, deliberately NOT wrap-corrected (the golden twin makes
    the same choice, so the contract is unambiguous).

    Scale shape: the only full-table pass is density(); the component graph
    is raster-bounded (≤ 2^res × 2^(res+1) nodes — 131k at res 8 — however
    many input rows produced it), so the labeling (dedup.connected_components,
    min-label propagation with pointer jumping: a res-8 raster's worst-case
    path is ~768 pixels, ~10 rounds) costs the same at 10^12 images as at
    10^4."""
    i, j = F.col("row_i"), F.col("col_j")
    nodes = density(points, cell_col).select(
        pixel_key(i, j).alias("cell"), "row_i", "col_j", "n_images"
    ).localCheckpoint()
    # Candidate edges: each occupied pixel → its right (j+1, wrapped) and
    # down (i+1, none past the pole) neighbor keys; nx >= 2, so the wrap
    # never closes a self-loop. A semi-style join against the node set keeps
    # only occupied→occupied pairs. All raster-bounded (≤ 2 edges per
    # occupied pixel before the join).
    cand = neighbours(nodes, i, j, res, ((0, 1), (1, 0))).select(
        F.col("cell").alias("src"), pixel_key(F.col("ni"), F.col("nj")).alias("dst")
    )
    pairs = cand.join(nodes.select(F.col("cell").alias("dst")), "dst").select("src", "dst")
    labels = connected_components(nodes.select(F.col("cell").alias("id")), pairs)
    return (
        nodes.join(labels.withColumnRenamed("id", "cell"), "cell")
        .groupBy(F.col("label").alias("region_id"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_images").alias("n_images"),
            F.min("row_i").alias("min_i"),
            F.max("row_i").alias("max_i"),
            F.min("col_j").alias("min_j"),
            F.max("col_j").alias("max_j"),
        )
    )


def global_autocorr(points: DataFrame, cell_col: str, res: int) -> DataFrame:
    """Global spatial autocorrelation (Moran's I, binary rook weights) of the
    rasterized point density — the hotspot-analysis statistic (PostGIS/
    PySAL `esda.Moran` class) answering "are dense pixels next to dense
    pixels more than chance predicts?".

    Adjacency is the raster's rook topology on _stencil's cylinder (col_j
    wraps mod nx, row_i clamps at the poles); each undirected
    occupied-pixel pair is counted ONCE by probing only East and South.

    Everything that must hash identically across engines/parallelism is an
    exact BIGINT: the six Moran components
      n_cells, s_total = Σc, sum_c2 = Σc², n_pairs = P,
      sum_pair_prod = Σ_pairs c_i·c_j, sum_pair_sum = Σ_pairs (c_i+c_j)
    (int64-safe while P·c_max² < 2^63 — holds past 10^11 points on the
    res-8 grid; beyond that, promote the two pair sums to decimal(38,0)).
    moran_i is then ONE double expression over those exact integers,
      I = n·(n²·Σpp − n·S·Σps + S²·P) / (P·(n²·Σc² − n·S²))
    (the ×n² scaling clears the rational mean μ = S/n), written with the
    identical parse tree in the DuckDB oracle so the float result is
    bit-identical; NULL when P = 0 or the variance term is 0.

    Plan: the {center, East, South} _stencil → ONE raster-bounded groupBy
    on the target pixel folds the pair join into an aggregate (center_n ·
    src_sum = Σ products, src_cnt = pairs at that center) → global agg to
    a single row.  Cost beyond the rasterization is bounded by the GRID at
    any input size.
    """
    per_pixel = (
        _stencil(points, cell_col, res, ((0, 0), (0, 1), (1, 0)))
        .groupBy("ni", "nj")
        .agg(
            F.max(F.when(F.col("is_center"), F.col("n_images"))).alias("center_n"),
            F.sum(F.when(~F.col("is_center"), F.col("n_images"))).alias("src_sum"),
            F.count(F.when(~F.col("is_center"), F.lit(1))).alias("src_cnt"),
        )
        .where(F.col("center_n").isNotNull())
    )
    comp = per_pixel.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("center_n").alias("s_total"),
        F.sum(F.col("center_n") * F.col("center_n")).alias("sum_c2"),
        F.sum("src_cnt").alias("n_pairs"),
        F.coalesce(F.sum(F.col("center_n") * F.col("src_sum")), F.lit(0)).alias(
            "sum_pair_prod"
        ),
        F.coalesce(
            F.sum(F.col("center_n") * F.col("src_cnt") + F.coalesce("src_sum", F.lit(0))),
            F.lit(0),
        ).alias("sum_pair_sum"),
    )
    moran = """
        CASE WHEN n_pairs = 0 THEN NULL
             WHEN (CAST(n_pairs AS DOUBLE) * ((CAST(n_cells AS DOUBLE)
                   * CAST(n_cells AS DOUBLE) * CAST(sum_c2 AS DOUBLE))
                 - (CAST(n_cells AS DOUBLE) * CAST(s_total AS DOUBLE)
                   * CAST(s_total AS DOUBLE)))) = 0.0 THEN NULL
             ELSE (CAST(n_cells AS DOUBLE) * ((CAST(n_cells AS DOUBLE)
                   * CAST(n_cells AS DOUBLE) * CAST(sum_pair_prod AS DOUBLE))
                 - (CAST(n_cells AS DOUBLE) * CAST(s_total AS DOUBLE)
                   * CAST(sum_pair_sum AS DOUBLE))
                 + (CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)
                   * CAST(n_pairs AS DOUBLE))))
                / (CAST(n_pairs AS DOUBLE) * ((CAST(n_cells AS DOUBLE)
                   * CAST(n_cells AS DOUBLE) * CAST(sum_c2 AS DOUBLE))
                 - (CAST(n_cells AS DOUBLE) * CAST(s_total AS DOUBLE)
                   * CAST(s_total AS DOUBLE))))
        END
    """
    return comp.withColumn("moran_i", F.expr(moran))


def local_autocorr(points: DataFrame, cell_col: str, res: int) -> DataFrame:
    """Local Moran's I (Anselin LISA) hotspot map over the density raster —
    the per-pixel companion of global_autocorr: for every occupied pixel,
    an indicator whose sign says "dense next to dense" (+) vs "dense next
    to sparse" (−), the standard hotspot/coldspot classification layer.

    Output per occupied pixel: (row_i, col_j, n_images, nbr_sum, nbr_cnt,
    local_i) where nbr_sum/nbr_cnt are the EXACT BIGINT sum/count of the
    rook-neighbor counts (cylinder topology: lon wraps, lat clamps — all 4
    neighbors this time, not the E/S half, since the statistic is
    per-center) and
      local_i = (n·c_i − S) · (n·nbr_sum − nbr_cnt·S)
    is the mean-cleared product (×n vs the rational mean μ = S/n), emitted
    as ONE double expression over exact integers — int64 products would
    overflow at extreme skew (bound n²S²), doubles are scale-safe and
    bit-identical across engines for the identical parse tree.

    Plan: the 5-offset _stencil + ONE raster-bounded center-tagged
    groupBy → the global scalars (n, S) come from a second aggregate over
    the CACHED per-pixel table (raster-bounded, ≤ 2^(2·res+1) rows — the
    cache is what keeps the scalar pass from re-running the full-table
    rasterization) broadcast back via a 1-row cross join.
    """
    per_pixel = (
        _stencil(points, cell_col, res, ((0, 0), (0, 1), (0, -1), (1, 0), (-1, 0)))
        .groupBy("ni", "nj")
        .agg(
            F.max(F.when(F.col("is_center"), F.col("n_images"))).alias("center_n"),
            F.coalesce(
                F.sum(F.when(~F.col("is_center"), F.col("n_images"))), F.lit(0)
            ).alias("nbr_sum"),
            F.count(F.when(~F.col("is_center"), F.lit(1))).alias("nbr_cnt"),
        )
        .where(F.col("center_n").isNotNull())
    ).cache()
    scalars = per_pixel.agg(
        F.count(F.lit(1)).alias("g_n"), F.sum("center_n").alias("g_s")
    )
    out = (
        per_pixel.crossJoin(F.broadcast(scalars))
        .select(
            F.col("ni").alias("row_i"),
            F.col("nj").alias("col_j"),
            F.col("center_n").alias("n_images"),
            "nbr_sum",
            "nbr_cnt",
            F.expr(
                """((CAST(g_n AS DOUBLE) * CAST(center_n AS DOUBLE))
                     - CAST(g_s AS DOUBLE))
                   * ((CAST(g_n AS DOUBLE) * CAST(nbr_sum AS DOUBLE))
                     - (CAST(nbr_cnt AS DOUBLE) * CAST(g_s AS DOUBLE)))"""
            ).alias("local_i"),
        )
    )
    # raster-bounded output (≤ occupied pixels): cut lineage eagerly so the
    # per-pixel cache can be released instead of pinning executor storage
    # across a long multi-query session
    out = out.localCheckpoint(eager=True)
    per_pixel.unpersist()
    return out


def adaptive_grid(
    points: DataFrame, cell_col: str, base_res: int, min_res: int, threshold: int
) -> DataFrame:
    """Adaptive quadtree tiling: starting from the min_res grid, every cell
    with more than `threshold` points splits into its 4 children, recursing
    until cells are sparse (≤ threshold) or base_res is reached — the
    "drill until sparse" strategy a vector-tile server uses to keep tile
    payloads bounded while sparse regions stay coarse.

    Emitted cells partition the occupied space exactly: walking down from
    each occupied min_res cell you stop at the first node with
    n ≤ threshold, or at base_res (an overloaded leaf is emitted as-is —
    the caller's signal that base_res itself is too coarse there).

    The whole selection reduces to ONE parent join because pyramid counts
    NEST: an ancestor's count ≥ any descendant's, so "every ancestor is
    overloaded" ⟺ "the immediate parent is overloaded".  Emit c at res r
    iff (r = min_res OR parent_n > T) AND (n ≤ T OR r = base_res).

    Plan: pyramid() (one full-table pass + one raster-bounded shuffle) →
    one raster-bounded self-join on the parent key → filter.  The pyramid
    is CACHED before the self-join: without it Spark plans two independent
    subtrees (measured: 4 parquet scans, 0 ReusedExchange) and the
    full-table rasterization runs twice; the cached intermediate is grid-
    bounded (≤ ~2× occupied base pixels across all levels) at any input
    size, so this is the textbook cache case.  Cost beyond the
    rasterization is bounded by the grid.
    """
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    pyr = pyramid(points, cell_col, base_res, min_res).cache()
    parents = pyr.select(
        (F.col("res") + 1).alias("p_res"),
        F.col("row_i").alias("p_i"),
        F.col("col_j").alias("p_j"),
        F.col("n_images").alias("parent_n"),
    )
    joined = pyr.join(
        parents,
        (pyr["res"] == parents["p_res"])
        & (F.shiftright(pyr["row_i"], 1) == F.col("p_i"))
        & (F.shiftright(pyr["col_j"], 1) == F.col("p_j")),
        "left",
    )
    t = F.lit(threshold)
    out = joined.where(
        ((pyr["res"] == min_res) | (F.col("parent_n") > t))
        & ((F.col("n_images") <= t) | (pyr["res"] == base_res))
    ).select(pyr["res"], "row_i", "col_j", "n_images")
    # grid-bounded output: eager checkpoint, then release the pyramid cache
    # (otherwise it pins executor storage for the rest of the session)
    out = out.localCheckpoint(eager=True)
    pyr.unpersist()
    return out
