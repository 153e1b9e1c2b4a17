"""On-disk deterministic fixtures + goldens (generate-if-missing, seed-frozen).

Golden outputs are computed here through a *separate, brute-force numpy path*
(no Spark, no cell prefilter) — the cross-implementation oracle, replacing the
reference's XML-vs-PBF dual-decode equivalence (SURVEY §5). The driver's
DuckDB oracle reads these parquet files by absolute path.

Scale ladder mirrors TESTDATA.md: sf0.001 → 1,060 images (the reference's
golden corpus is 1,060 nodes / 112 ways / 13 relations), sf0.01 → 10,600,
sf0.1 → 106,000.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..functions import geo
from ..functions.geo import KNN_K, KNN_RING
from ..functions.hashing import splitmix64
from ..session import read_parquet
from . import blocks as blocks_mod
from .images import generate_images
from .polygons import generate_polygons

def _default_data_dir() -> str:
    env = os.environ.get("SPARK_GRAFT_DATA_DIR")
    if env:
        return env
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if ".zip" in root:  # running from a spark-submit --py-files archive
        root = os.getcwd()
    return os.path.join(root, "data")


DATA_DIR = _default_data_dir()

SEED = 42


def n_images_for_sf(sf_dir: str) -> int:
    base = os.path.basename(os.path.normpath(sf_dir))
    if not base.startswith("sf"):
        raise ValueError(f"sf_dir must end in sf<scale> (e.g. .../sf0.01), got {sf_dir!r}")
    sf = float(base[2:])
    return max(100, int(round(1060 * sf / 0.001)))


def n_polygons_for(n_images: int) -> int:
    return min(200, max(60, int(60 * (n_images / 1060) ** 0.5)))


def read_fixture(spark, sf_dir: str, ensure):
    """Open the table `ensure(n)` writes for the image count of sf_dir."""
    return read_parquet(spark, ensure(n_images_for_sf(sf_dir)))


# ---------------------------------------------------------------- writers

_IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


def images_path(n: int) -> str:
    return os.path.join(DATA_DIR, f"images_{n}.parquet")


def ensure_images(n: int) -> str:
    p = images_path(n)
    if not os.path.exists(p):
        df = generate_images(n, seed=SEED)
        # 8k-row row groups: a single-row-group file is UNSPLITTABLE — Spark
        # hands 31 of 32 "splits" zero rows and one task scans everything
        # (measured: the whole knn map side serialized on one task). Content
        # is unchanged; only the physical layout (and thus scan parallelism).
        # NOTE: the filename is content-keyed (images_{n}), not layout-keyed —
        # a fixture cache written before this row-group change keeps the old
        # single-row-group layout (correct values, serial scans) until the
        # cached file is deleted. Geo-derived fixtures avoid this by carrying
        # a spec tag in the name (GEO_TAG); plain tables accept the weaker
        # contract because layout never affects correctness.
        pq.write_table(
            pa.Table.from_pandas(df, schema=_IMAGES_SCHEMA, preserve_index=False),
            p,
            row_group_size=8192,
        )
    return p


def ensure_polygons(m: int) -> str:
    p = os.path.join(DATA_DIR, f"polygons_{m}.parquet")
    if not os.path.exists(p):
        df = generate_polygons(m, seed=SEED)
        schema = pa.schema(
            [
                ("polygon_id", pa.int64()),
                ("kind", pa.string()),
                ("ring_lat", pa.list_(pa.float64())),
                ("ring_lon", pa.list_(pa.float64())),
            ]
        )
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), p)
    return p


# Geolocate-spec tag: every fixture whose CONTENT derives from
# latlon_from_phash carries this tag in its filename, so a spec change can
# never silently reuse a stale cached golden (in this repo OR in an external
# driver's fixture cache). x2 = the Spark-xxhash64 spec (functions/geo.py).
GEO_TAG = "x2"


def ensure_blocks(n: int) -> str:
    p = os.path.join(DATA_DIR, f"blocks_{n}_{GEO_TAG}.parquet")
    if not os.path.exists(p):
        images = pd.read_parquet(ensure_images(n))
        df = blocks_mod.encode_blocks(images)
        schema = pa.schema(
            [
                ("block_id", pa.int64()),
                ("strtab", pa.list_(pa.string())),
                ("id_delta", pa.list_(pa.int64())),
                ("lat_dz", pa.list_(pa.int64())),
                ("lon_dz", pa.list_(pa.int64())),
                ("image_sid", pa.list_(pa.int32())),
                ("keys_vals", pa.list_(pa.int32())),
            ]
        )
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), p)
    return p


def ensure_way_blocks(n: int) -> str:
    """Way-stream blocks (refs zigzag-delta-coded within each way) — input of
    operators/decode.decode_way_refs. Content is pure arithmetic on ordinals
    (no geo spec dependency), so no GEO_TAG in the name."""
    p = os.path.join(DATA_DIR, f"way_blocks_{n}.parquet")
    if not os.path.exists(p):
        df = blocks_mod.encode_way_blocks(n)
        schema = pa.schema(
            [
                ("block_id", pa.int64()),
                ("way_id", pa.list_(pa.int64())),
                ("refs_dz", pa.list_(pa.list_(pa.int64()))),
            ]
        )
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), p)
    return p


def ensure_rel_blocks(n: int) -> str:
    """Relation-stream blocks (memids zigzag-delta-coded within each relation,
    typed member dispatch + role string table) — input of
    operators/decode.decode_rel_members. Pure arithmetic on ordinals."""
    p = os.path.join(DATA_DIR, f"rel_blocks_{n}.parquet")
    if not os.path.exists(p):
        df = blocks_mod.encode_rel_blocks(n)
        schema = pa.schema(
            [
                ("block_id", pa.int64()),
                ("strtab", pa.list_(pa.string())),
                ("rel_id", pa.list_(pa.int64())),
                ("memids_dz", pa.list_(pa.list_(pa.int64()))),
                ("types", pa.list_(pa.list_(pa.int64()))),
                ("roles_sid", pa.list_(pa.list_(pa.int64()))),
            ]
        )
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), p)
    return p


# ---------------------------------------------------------------- goldens

def ensure_golden_geo(n: int) -> str:
    """image_id, lat, lon, cell_r7/r8/r9, zcell_l12 — straight numpy, no Spark."""
    p = os.path.join(DATA_DIR, f"golden_geo_{n}_{GEO_TAG}.parquet")
    if not os.path.exists(p):
        images = pd.read_parquet(ensure_images(n))
        lat, lon = geo.latlon_from_phash(images["phash"].to_numpy(), images["image_id"].to_numpy())
        out = pd.DataFrame(
            {
                "image_id": images["image_id"],
                "lat": lat,
                "lon": lon,
                "cell_r7": geo.grid_cell(lat, lon, 7),
                "cell_r8": geo.grid_cell(lat, lon, 8),
                "cell_r9": geo.grid_cell(lat, lon, 9),
                "zcell_l12": geo.z_cell(lat, lon, 12),
            }
        )
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_pip(n: int, m: int) -> str:
    """Brute-force all-points × all-polygons PIP — no prefilter, the exact row set."""
    p = os.path.join(DATA_DIR, f"golden_pip_{n}_{m}_{GEO_TAG}.parquet")
    if not os.path.exists(p):
        gg = pd.read_parquet(ensure_golden_geo(n))
        polys = pd.read_parquet(ensure_polygons(m))
        lat = gg["lat"].to_numpy()
        lon = gg["lon"].to_numpy()
        ids = gg["image_id"].to_numpy()
        out_img, out_pid = [], []
        for _, row in polys.iterrows():
            mask = geo.point_in_polygon(lat, lon, np.asarray(row["ring_lat"]), np.asarray(row["ring_lon"]))
            hit = ids[mask]
            out_img.append(hit)
            out_pid.append(np.full(hit.size, row["polygon_id"], dtype=np.int64))
        out = pd.DataFrame(
            {"image_id": np.concatenate(out_img), "polygon_id": np.concatenate(out_pid)}
        ).sort_values(["image_id", "polygon_id"], kind="mergesort", ignore_index=True)
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_regions(n: int, res: int = 8) -> str:
    """4-connected raster regions — sequential union-find, the independent
    twin of operators/raster.polygonize (which labels by distributed
    min-label propagation + pointer jumping).  Adjacency: col wraps mod nx,
    rows clamp; region_id = min packed (i<<27)|j key of the component;
    j-bbox is plain min/max (NOT wrap-corrected — same spec both sides)."""
    p = os.path.join(DATA_DIR, f"golden_regions_{n}_{GEO_TAG}.parquet")
    if not os.path.exists(p):
        gg = pd.read_parquet(ensure_golden_geo(n))
        cells = gg[f"cell_r{res}"].to_numpy()
        mask = (1 << 27) - 1
        i = (cells >> 27) & mask
        j = cells & mask
        ny, nx = 1 << res, 1 << (res + 1)
        keys, counts = np.unique((i.astype(np.int64) << 27) | j, return_counts=True)
        occupied = set(int(k) for k in keys)
        parent = {k: k for k in occupied}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a: int, b: int) -> None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for k in keys:
            k = int(k)
            ki, kj = k >> 27, k & mask
            right = (ki << 27) | ((kj + 1) % nx)
            if right in occupied and right != k:
                union(k, right)
            if ki + 1 < ny:
                down = ((ki + 1) << 27) | kj
                if down in occupied:
                    union(k, down)
        lab = np.array([find(int(k)) for k in keys], dtype=np.int64)
        df = pd.DataFrame(
            {
                "region_id": lab,
                "n_cells": np.ones(keys.size, dtype=np.int64),
                "n_images": counts.astype(np.int64),
                "i": (keys >> 27).astype(np.int64),
                "j": (keys & mask).astype(np.int64),
            }
        )
        out = (
            df.groupby("region_id", sort=True)
            .agg(
                n_cells=("n_cells", "sum"),
                n_images=("n_images", "sum"),
                min_i=("i", "min"),
                max_i=("i", "max"),
                min_j=("j", "min"),
                max_j=("j", "max"),
            )
            .reset_index()
            .astype("int64")
        )
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_knn(n: int) -> str:
    """Ring-bounded kNN golden, brute force per query (spec in operators/knn.py).

    Queries: images with ordinal % 100 == 0. Candidates: points whose res-7
    cell lies in k_ring(query_cell, 2), excluding the query itself. Rank by
    (haversine_m, neighbor_image_id), keep k=5.
    """
    p = os.path.join(DATA_DIR, f"golden_knn_{n}_{GEO_TAG}.parquet")
    if not os.path.exists(p):
        gg = pd.read_parquet(ensure_golden_geo(n))
        lat = gg["lat"].to_numpy()
        lon = gg["lon"].to_numpy()
        ids = gg["image_id"].to_numpy()
        cells = gg["cell_r7"].to_numpy()
        q_idx = np.arange(0, n, 100)
        rows = []
        for qi in q_idx:
            ring = set(geo.k_ring(int(cells[qi]), KNN_RING).tolist())
            cand = np.flatnonzero(np.isin(cells, list(ring)))
            cand = cand[cand != qi]
            if cand.size == 0:
                continue
            d = geo.haversine_m(lat[qi], lon[qi], lat[cand], lon[cand])
            order = np.lexsort((ids[cand], d))[:KNN_K]
            for r, oi in enumerate(order):
                rows.append((ids[qi], ids[cand[oi]], r + 1, round(float(d[oi]), 3)))
        out = pd.DataFrame(rows, columns=["query_image_id", "neighbor_image_id", "rank", "dist_m"])
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_golden_knn_global(n: int, rings: tuple[int, ...] = geo.KNN_RINGS) -> str:
    """Escalating-ring kNN golden: per query, the first ring in `rings` with
    ≥ k candidates wins (last ring: emit whatever exists) — pure-numpy twin of
    operators/knn.knn_join_global."""
    p = os.path.join(DATA_DIR, f"golden_knn_global_{n}_{GEO_TAG}.parquet")
    if not os.path.exists(p):
        gg = pd.read_parquet(ensure_golden_geo(n))
        lat = gg["lat"].to_numpy()
        lon = gg["lon"].to_numpy()
        ids = gg["image_id"].to_numpy()
        cells = gg["cell_r7"].to_numpy()
        rows = []
        for qi in np.arange(0, n, 100):
            for ri, ring in enumerate(rings):
                cand = np.flatnonzero(
                    np.isin(cells, geo.k_ring(int(cells[qi]), ring))
                )
                cand = cand[cand != qi]
                if cand.size >= KNN_K or ri == len(rings) - 1:
                    break
            if cand.size == 0:
                continue
            d = geo.haversine_m(lat[qi], lon[qi], lat[cand], lon[cand])
            order = np.lexsort((ids[cand], d))[:KNN_K]
            for r, oi in enumerate(order):
                rows.append((ids[qi], ids[cand[oi]], r + 1, round(float(d[oi]), 3)))
        out = pd.DataFrame(
            rows, columns=["query_image_id", "neighbor_image_id", "rank", "dist_m"]
        )
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False), p)
    return p


def ensure_all_for_sf(sf_dir: str) -> dict[str, str]:
    n = n_images_for_sf(sf_dir)
    m = n_polygons_for(n)
    return {
        "images": ensure_images(n),
        "polygons": ensure_polygons(m),
        "blocks": ensure_blocks(n),
        "golden_geo": ensure_golden_geo(n),
        "golden_pip": ensure_golden_pip(n, m),
        "golden_knn": ensure_golden_knn(n),
    }


def ensure_collections(n: int) -> str:
    """Wire-form typed-membership fixture — the rel_mem analogue
    (pbf2sqlite.c:430-439; member-type enum osmformat.proto:245-249):
    (collection_id, order_, member_type {0=image,1=polygon,2=collection},
    member_ref, role). The engine's D11 dispatch routes member_ref into
    sparse typed columns; roles cycle like OSM's outer/inner/label."""
    p = os.path.join(DATA_DIR, f"collections_{n}.parquet")
    if not os.path.exists(p):
        m = n_polygons_for(n)
        n_coll = max(n // 80, 3)
        roles = ["outer", "inner", "label"]
        rows = []
        for c in range(n_coll):
            order = 0
            for i in range(3):  # image members
                rows.append((c, order, 0, (c * 7 + i * 13) % n, roles[i % 3]))
                order += 1
            rows.append((c, order, 1, c % m, "outer"))  # polygon member
            order += 1
            if c > 0:  # nested collection member
                rows.append((c, order, 2, c - 1, "child"))
        pdf = pd.DataFrame(
            rows, columns=["collection_id", "order_", "member_type", "member_ref", "role"]
        ).astype({"collection_id": "int64", "order_": "int32", "member_type": "int32",
                  "member_ref": "int64"})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p)
    return p


# -------------------------------------------- planted near-dup embeddings

EMB_DUPS_DIM = 64
EMB_DUPS_SEED = 977_000_001
EMB_DUPS_MOD = 4          # vec i with i % 4 == 1 is a near-dup of vec i-1
EMB_DUPS_NOISE = 0.035    # planted cosine ≈ 0.9994 (margin to TAU and to LSH p)


def n_dup_vecs_for(n_images: int) -> int:
    return max(1000, n_images // 10)


def ensure_emb_dups(n: int) -> str:
    """Embedding table with PLANTED near-duplicates: every vec_id % 4 == 1 is
    a tiny-noise copy of its predecessor (cosine ≈ 0.9994); all other pairs
    are independent uniform vectors (64-dim → background cosines concentrate
    near 0, max ≪ 0.8 at these n). This separation is what makes an LSH-
    bucketed near-dup EXACT on this table: the planted pairs collide in ≥1
    band with probability 1 - ~1e-17, the background never crosses the
    refine threshold. Generation asserts both margins."""
    path = os.path.join(DATA_DIR, f"emb_dups_{n}.parquet")
    if os.path.exists(path):
        return path
    dim = EMB_DUPS_DIM
    from ..functions.hashing import u01

    idx = np.arange(n * dim, dtype=np.int64) + EMB_DUPS_SEED
    v = (u01(splitmix64(idx)) * 2.0 - 1.0).reshape(n, dim)
    noise = (u01(splitmix64(idx + 7_777_777)) * 2.0 - 1.0).reshape(n, dim)
    planted = np.arange(n) % EMB_DUPS_MOD == 1
    planted[0] = False
    src = np.flatnonzero(planted)
    v[src] = v[src - 1] + EMB_DUPS_NOISE * noise[src]
    v32 = v.astype(np.float32)
    # Margin assertions on the float32-stored values (what consumers read).
    # The naive all-pairs n x n cosine matrix is O(n^2) memory — 90 GB at the
    # sf1.0 stress scale (n = 106k), where it OOM-killed the fixture build —
    # so the background check runs blockwise over an evenly-spaced row sample:
    # exhaustive (every row) for n <= bg cap, sampled rows x ALL columns above.
    # The bound the DESIGN needs is background < ND_TAU = 0.8 (that is what
    # makes the LSH-bucketed near-dup equal the exact twin); 0.78 keeps margin
    # for the round(., 6) refine. The historical 0.7 claim holds at oracle
    # scale (n ~ 10^4), but the max over ~n^2/2 cosines of 64-dim independent
    # vectors grows like sd * sqrt(2 ln(n^2/2)) with sd = 1/8 — its expected
    # value is ~0.70 at n = 106k, so asserting 0.7 at stress scale would flag
    # a statistically healthy table.
    vd = v32.astype(np.float64)
    nrm = np.linalg.norm(vd, axis=1)
    pl = (vd[src] * vd[src - 1]).sum(axis=1) / (nrm[src] * nrm[src - 1])
    assert pl.min() > 0.99, f"planted sim too low: {pl.min()}"
    unit = vd / nrm[:, None]
    check_rows = np.unique(np.linspace(0, n - 1, min(n, 20000)).astype(np.int64))
    bg_max = 0.0
    for c0 in range(0, len(check_rows), 1024):
        rows = check_rows[c0 : c0 + 1024]
        cos = unit[rows] @ unit.T
        ar = np.arange(len(rows))
        cos[ar, rows] = 0.0                      # self
        m1 = planted[rows]                       # row is the planted copy
        cos[ar[m1], rows[m1] - 1] = 0.0
        nxt = np.minimum(rows + 1, n - 1)        # row is a planted source
        m2 = (rows + 1 < n) & planted[nxt]
        cos[ar[m2], nxt[m2]] = 0.0
        bg_max = max(bg_max, float(cos.max()))
    assert bg_max < 0.78, f"background sim too high: {bg_max}"
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v32), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(tbl, path)
    return path
