"""Hierarchical cell index, pseudo-geolocation, k-ring, polyfill, point-in-polygon.

All pure numpy, all frozen specs. No h3/s2sphere/shapely in this container, so
the engine ships its own hierarchical index with the same *capabilities*
(cell_of, k_ring, polyfill, parent/child) — functionally the role H3 res-7..9 /
S2 level-12 play in BASELINE.json's north_star. Two encodings:

  grid cell ("H3-analogue", res r):   ny=2^r lat rows × nx=2^(r+1) lon cols,
      cell_id = (r << 54) | (i << 27) | j           (int64, r<=15)
  z cell ("S2-analogue", level L):    single 2^L × 2^L quadtree over the
      equirectangular square, cell_id = (L << 48) | morton(i, j)

The pseudo-geolocation (phash → lat/lon + per-image jitter) is the analogue of
the reference's delta-decode + fixed-point scaling (readosm.c:1179-1211:
int stream → lat = Σδ/1e7 degrees): a deterministic integer-to-degrees map.

Grid math is deliberately floor-arithmetic so the DuckDB oracle can recompute
cells in ANSI SQL (see operators/relational.py oracle builders).
"""

from __future__ import annotations

import numpy as np

from .hashing import u01, xxh64_long, xxh64_str_array

# ---------------------------------------------------------------- geolocation

JITTER_DEG = 0.2  # full width of per-image jitter square, degrees
LAT_EPS = 1e-9

# frozen kNN spec — single source of truth shared by operators/knn and its
# goldens (sources/fixtures.ensure_golden_knn, ensure_golden_knn_global):
# k neighbours from the res-KNN_RES cells within KNN_RING of the query's
# cell; the global plan escalates through KNN_RINGS
KNN_K = 5
KNN_RES = 7
KNN_RING = 2
KNN_RINGS = (2, 8, 32)


def latlon_from_phash(phash: np.ndarray, image_ids) -> tuple[np.ndarray, np.ndarray]:
    """phash (int64[n]) + image_id (str[n]) → (lat, lon) float64 arrays.

    Frozen spec (v2 — Spark-xxhash64 based so the SAME doubles come out of
    pure JVM column expressions, see latlon_cols; v1 was splitmix64+FNV,
    which forced every geolocate through a Python crossing):
      u  = xxh64(phash)            # Spark xxhash64 long path, seed 42
      v  = xxh64(u)
      j1 = xxh64(utf8(image_id))   # Spark xxhash64 string path, seed 42
      j2 = xxh64(j1)
      base_lat = u01(u)*180 - 90 ; base_lon = u01(v)*360 - 180
      lat = clip(base_lat + (u01(j1)-0.5)*0.2, -90, 90-eps)
      lon = wrap(base_lon + (u01(j2)-0.5)*0.2) into [-180, 180]
    where u01(h) = (h >>> 11) / 2^53 and the lon wrap mirrors Spark's pmod
    exactly (fmod, then +360 only if negative).

    Images sharing a phash (near-duplicates) land in the same ~0.2° pocket →
    realistic hot cells (the skew the salting path handles).

    This numpy form is the test oracle and fixture generator; the engine
    computes the same doubles through latlon_cols() (JVM expressions) —
    bit-equality pinned by tests/test_spark_geo.py.
    """
    u = xxh64_long(np.asarray(phash, dtype=np.int64))
    v = xxh64_long(u)
    base_lat = u01(u) * 180.0 - 90.0
    base_lon = u01(v) * 360.0 - 180.0
    j1 = xxh64_str_array(image_ids)
    j2 = xxh64_long(j1)
    lat = np.minimum(
        np.maximum(base_lat + (u01(j1) - 0.5) * JITTER_DEG, -90.0), 90.0 - LAT_EPS
    )
    lon = base_lon + (u01(j2) - 0.5) * JITTER_DEG
    # Spark Pmod(double): r = a % n; if (r < 0) (r + n) % n else r
    r = np.fmod(lon + 180.0, 360.0)
    lon = np.where(r < 0.0, np.fmod(r + 360.0, 360.0), r) - 180.0
    return lat, lon


def latlon_cols():
    """The SAME frozen spec as latlon_from_phash, as pure-JVM Spark column
    expressions (built-in xxhash64 + double arithmetic — ANSI-safe, whole-
    stage-codegen, zero Python crossing). Returns (lat_col, lon_col).

    The engine's only geolocate path (indexing.geolocate_expr). Bit-identical
    to the numpy oracle — u01, clip, and the pmod wrap are mirrored
    operation-for-operation.
    """
    from pyspark.sql import functions as F

    def u01c(h):
        return F.shiftrightunsigned(h, 11) / F.lit(float(1 << 53))

    u = F.xxhash64(F.col("phash"))
    v = F.xxhash64(u)
    j1 = F.xxhash64(F.col("image_id"))
    j2 = F.xxhash64(j1)
    base_lat = u01c(u) * 180.0 - 90.0
    base_lon = u01c(v) * 360.0 - 180.0
    lat = base_lat + (u01c(j1) - F.lit(0.5)) * JITTER_DEG
    lat = F.least(F.greatest(lat, F.lit(-90.0)), F.lit(90.0 - LAT_EPS))
    lon = base_lon + (u01c(j2) - F.lit(0.5)) * JITTER_DEG
    lon = F.pmod(lon + 180.0, F.lit(360.0)) - 180.0
    return lat, lon


# ---------------------------------------------------------------- grid cells

RES_SHIFT = 54
I_SHIFT = 27
IJ_MASK = (1 << 27) - 1


def grid_dims(res: int) -> tuple[int, int]:
    """(ny, nx) for a resolution."""
    return (1 << res, 1 << (res + 1))


def grid_ij(lat: np.ndarray, lon: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    ny, nx = grid_dims(res)
    i = np.floor((np.asarray(lat) + 90.0) / 180.0 * ny).astype(np.int64)
    np.clip(i, 0, ny - 1, out=i)
    j = np.floor((np.asarray(lon) + 180.0) / 360.0 * nx).astype(np.int64)
    j = np.mod(j, nx)
    return i, j


def grid_cell(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Encode (lat, lon) at resolution res → int64 cell id."""
    i, j = grid_ij(lat, lon, res)
    return (np.int64(res) << np.int64(RES_SHIFT)) | (i << np.int64(I_SHIFT)) | j


def cell_parts(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    res = c >> np.int64(RES_SHIFT)
    i = (c >> np.int64(I_SHIFT)) & np.int64(IJ_MASK)
    j = c & np.int64(IJ_MASK)
    return res, i, j


def cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarsen a cell id to an ancestor resolution (hierarchy: i>>=d, j>>=d)."""
    res, i, j = cell_parts(cell)
    d = res - np.int64(parent_res)
    if np.any(d < 0):
        raise ValueError("parent_res must be <= cell res")
    return (
        (np.int64(parent_res) << np.int64(RES_SHIFT))
        | ((i >> d) << np.int64(I_SHIFT))
        | (j >> d)
    )


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """cell id → (lat0, lat1, lon0, lon1) half-open box."""
    res, i, j = cell_parts(np.asarray([cell]))
    ny, nx = grid_dims(int(res[0]))
    lat0 = float(i[0]) / ny * 180.0 - 90.0
    lon0 = float(j[0]) / nx * 360.0 - 180.0
    return lat0, lat0 + 180.0 / ny, lon0, lon0 + 360.0 / nx


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of `cell` (lon wraps, lat clips).

    The analogue of H3's grid_disk — the candidate-expansion primitive for kNN
    (SURVEY §2.4 'kNN / range join').
    """
    res_a, i_a, j_a = cell_parts(np.asarray([cell]))
    res, i0, j0 = int(res_a[0]), int(i_a[0]), int(j_a[0])
    ny, nx = grid_dims(res)
    di = np.arange(-k, k + 1)
    dj = np.arange(-k, k + 1)
    ii, jj = np.meshgrid(i0 + di, j0 + dj, indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    keep = (ii >= 0) & (ii < ny)
    ii, jj = ii[keep], np.mod(jj[keep], nx)
    cells = (np.int64(res) << np.int64(RES_SHIFT)) | (ii << np.int64(I_SHIFT)) | jj
    return np.unique(cells)


# ---------------------------------------------------------------- z-order cells

Z_LEVEL_SHIFT = 48


def _interleave_bits(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    """Morton code: bit b of i → position 2b+1, bit b of j → position 2b."""
    out = np.zeros_like(np.asarray(i, dtype=np.int64))
    for b in range(level):
        out |= ((i >> np.int64(b)) & np.int64(1)) << np.int64(2 * b + 1)
        out |= ((j >> np.int64(b)) & np.int64(1)) << np.int64(2 * b)
    return out


def z_cell(lat: np.ndarray, lon: np.ndarray, level: int = 12) -> np.ndarray:
    """S2-analogue cell: Morton-interleaved quadtree id on the 2^L×2^L grid."""
    n = 1 << level
    i = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    j = np.mod(np.floor((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64), n)
    return (np.int64(level) << np.int64(Z_LEVEL_SHIFT)) | _interleave_bits(i, j, level)


# ---------------------------------------------------------------- polygons

def ring_bbox(ring_lat: np.ndarray, ring_lon: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(np.min(ring_lat)),
        float(np.max(ring_lat)),
        float(np.min(ring_lon)),
        float(np.max(ring_lon)),
    )


def polyfill_bbox(ring_lat: np.ndarray, ring_lon: np.ndarray, res: int) -> np.ndarray:
    """Conservative cover: all res-r cells intersecting the ring's bbox.

    A superset is always safe — phase 2 of the spatial join is the exact PIP
    refine. (Polygons here do not cross the antimeridian; generator guarantees.)
    """
    lat0, lat1, lon0, lon1 = ring_bbox(ring_lat, ring_lon)
    ny, nx = grid_dims(res)
    i0 = max(0, int(np.floor((lat0 + 90.0) / 180.0 * ny)))
    i1 = min(ny - 1, int(np.floor((lat1 + 90.0) / 180.0 * ny)))
    j0 = int(np.floor((lon0 + 180.0) / 360.0 * nx))
    j1 = int(np.floor((lon1 + 180.0) / 360.0 * nx))
    ii = np.arange(i0, i1 + 1, dtype=np.int64)
    jj = np.mod(np.arange(j0, j1 + 1, dtype=np.int64), nx)
    I, J = np.meshgrid(ii, jj, indexing="ij")
    return (
        (np.int64(res) << np.int64(RES_SHIFT))
        | (I.ravel() << np.int64(I_SHIFT))
        | J.ravel()
    )


def point_in_polygon(lat: np.ndarray, lon: np.ndarray, ring_lat: np.ndarray, ring_lon: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: points (n,) vs one closed ring (m,).

    Frozen semantics (half-open): a horizontal ray to +lon; edge counted iff
    (yi > y) != (yj > y) and x strictly left of the crossing. Points exactly on
    a horizontal edge are outside; vertical-edge/on-vertex behavior follows the
    half-open rule (consistent across both the engine and golden generator).
    """
    y = np.asarray(lat, dtype=np.float64)[:, None]  # (n,1)
    x = np.asarray(lon, dtype=np.float64)[:, None]
    ry = np.asarray(ring_lat, dtype=np.float64)
    rx = np.asarray(ring_lon, dtype=np.float64)
    if ry[0] == ry[-1] and rx[0] == rx[-1]:
        ry, rx = ry[:-1], rx[:-1]
    yi, yj = ry[None, :], np.roll(ry, -1)[None, :]
    xi, xj = rx[None, :], np.roll(rx, -1)[None, :]
    cond = (yi > y) != (yj > y)
    # near-horizontal edges overflow the division to ±inf; those lanes are
    # masked out by `cond` (the half-open rule), so silence all three classes
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        x_cross = (xj - xi) * (y - yi) / (yj - yi) + xi
    crossings = cond & (x < x_cross)
    return (crossings.sum(axis=1) % 2).astype(bool)


# ---------------------------------------------------------------- distance

EARTH_R_M = 6_371_008.8


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in meters (float64 arrays, broadcastable)."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_R_M * np.arcsin(np.sqrt(a))
