"""Seeded benchmark inputs and their numpy reference answers.

Inputs come from the engine's own `sources` generators and are written once
per (seed, size) into a cache directory, together with the reference answers
every timed operation is checked against. Reference answers are computed in
plain numpy (`functions.geo`, `functions.codec`, `functions.hashing`) and never
through Spark. Generation happens before any timed or set-up phase starts, so
it is never part of `setup_s`.

Result checks use order-insensitive checksums whose per-row hash is Spark's
`xxhash64(...)`. `functions.hashing` carries a bit-exact numpy twin of that
function, so the engine's aggregate and the reference agree exactly.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from temp_c__bpf_osm_reader_spark.functions import codec, geo
from temp_c__bpf_osm_reader_spark.functions.hashing import (
    phash64_batch,
    splitmix64,
    u01,
    xxh64_long,
    xxh64_str_array,
)
from temp_c__bpf_osm_reader_spark.sources.blocks import caption_tags, encode_blocks
from temp_c__bpf_osm_reader_spark.sources.images import generate_images
from temp_c__bpf_osm_reader_spark.sources.polygons import generate_polygons

TILE_RES = 7  # tile_assignment_scalable resolution used by the ingest pass
KNN_RES, KNN_RING, KNN_K = 7, 2, 5  # knn.knn_join defaults (frozen spec)

# Input sizes. One fixed size per workload; the seed changes only content.
SIZES = {
    "ingest": {"base_images": 2000, "replicas": 30, "polygons": 120,
               "queries": 200, "dense_share": 0.6},
    # media: N must be n_images_for_sf(sf) of some sf so the engine's
    # fixture lookup (images_{N}.parquet) finds the generated table
    "media": {"sf": "0.003", "images": 3180},
}

# Ingest warm-up input: replica 0 of the same seed's points, the same
# polygon layer, a tenth of the queries.
WARMUP_INGEST = dict(SIZES["ingest"], replicas=1, queries=20)

IMAGE_ROW_GROUP = 1024  # several row groups per file, so scans split across cores


def size_tag(workload: str) -> str:
    return workload + "-" + "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload].items()))


def hash_sum(h: np.ndarray) -> int:
    """Order-insensitive checksum of per-row xxhash64 values: the sum of each
    hash's top 31 bits (`shiftrightunsigned(h, 33)` on the Spark side), which
    cannot overflow a BIGINT sum at these row counts."""
    return int((np.asarray(h, dtype=np.uint64) >> np.uint64(33)).sum(dtype=np.uint64))


# ------------------------------------------------------------------ points


def _points(seed: int, base_images: int, replicas: int) -> pd.DataFrame:
    """Seed-generated image table replicated `replicas` times with distinct
    ids ('<image_id>#<r>'). Replicas share the phash, so they land in the same
    ~0.2-degree pocket: the Zipf pattern-pool skew of the base table is kept
    and hot pockets become dense tiles."""
    base = generate_images(base_images, seed=seed)[["image_id", "phash", "caption"]]
    reps = np.repeat(np.arange(replicas), len(base))
    ids = np.char.add(
        np.char.add(np.tile(base["image_id"].to_numpy().astype(str), replicas), "#"),
        reps.astype(str),
    )
    pts = pd.DataFrame(
        {
            "image_id": ids.astype(object),
            "phash": np.tile(base["phash"].to_numpy(), replicas),
            "caption": np.tile(base["caption"].to_numpy(), replicas),
        }
    )
    lat, lon = geo.latlon_from_phash(pts["phash"].to_numpy(), pts["image_id"].to_numpy())
    pts["lat"], pts["lon"] = lat, lon
    return pts


def _write_points(d: str, pts: pd.DataFrame) -> None:
    tbl = pa.table(
        {"image_id": pa.array(pts["image_id"], pa.string()),
         "phash": pa.array(pts["phash"], pa.int64())}
    )
    pq.write_table(tbl, os.path.join(d, "points.parquet"), row_group_size=8192)


def _write_polygons(d: str, seed: int, m: int) -> pd.DataFrame:
    polys = generate_polygons(m, seed=seed)
    schema = pa.schema(
        [("polygon_id", pa.int64()), ("kind", pa.string()),
         ("ring_lat", pa.list_(pa.float64())), ("ring_lon", pa.list_(pa.float64()))]
    )
    pq.write_table(
        pa.Table.from_pandas(polys, schema=schema, preserve_index=False),
        os.path.join(d, "polygons.parquet"),
    )
    return polys


def pip_pairs(lat, lon, polys: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Exact point-in-polygon row set, all points against every polygon
    (a bbox test first, then the frozen even-odd ray cast). Returns the
    (point index, polygon_id) pairs."""
    lat, lon = np.asarray(lat), np.asarray(lon)
    out_i, out_p = [], []
    for _, row in polys.iterrows():
        rl, ro = np.asarray(row["ring_lat"]), np.asarray(row["ring_lon"])
        cand = np.flatnonzero(
            (lat >= rl.min()) & (lat <= rl.max()) & (lon >= ro.min()) & (lon <= ro.max())
        )
        hit = cand[geo.point_in_polygon(lat[cand], lon[cand], rl, ro)]
        out_i.append(hit)
        out_p.append(np.full(hit.size, int(row["polygon_id"]), dtype=np.int64))
    return np.concatenate(out_i), np.concatenate(out_p)


def pip_checksum(ids, pids) -> int:
    """Checksum of a (image_id, polygon_id) row set: xxhash64(image_id, polygon_id)."""
    if len(ids) == 0:
        return 0
    return hash_sum(xxh64_long(np.asarray(pids, np.int64), xxh64_str_array(list(ids))))


def _ingest_reference(pts: pd.DataFrame, polys: pd.DataFrame) -> dict:
    n = len(pts)
    ids = pts["image_id"].to_numpy()
    id_hash = xxh64_str_array(list(ids))
    lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    # decode_nodes: (image_id, id, lat, lon) with id = entity ordinal and the
    # coordinates as the wire's fixed-point integers
    lat_e7 = np.round(lat * 1e7).astype(np.int64)
    lon_e7 = np.round(lon * 1e7).astype(np.int64)
    h_nodes = xxh64_long(lon_e7, xxh64_long(lat_e7, xxh64_long(np.arange(n), id_hash)))
    # decode_tags: (image_id, k, v), hashed as one '|'-joined string
    tag_rows = [
        f"{i}|{k}|{v}" for i, c in zip(ids, pts["caption"].to_numpy()) for k, v in caption_tags(c)
    ]
    # tile_assignment: order_ is the 1-based rank by image_id inside a cell
    cell = geo.grid_cell(lat, lon, TILE_RES)
    order = np.lexsort((ids.astype(str), cell))
    cs = cell[order]
    starts = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]])
    run = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    order_ = np.empty(n, dtype=np.int64)
    order_[order] = run + 1
    h_tiles = xxh64_long(order_, xxh64_long(cell, id_hash))
    pi, pp = pip_pairs(lat, lon, polys)
    return {
        "points": n,
        "nodes_checksum": hash_sum(h_nodes),
        "tags": len(tag_rows),
        "tags_checksum": hash_sum(xxh64_str_array(tag_rows)),
        "tiles_checksum": hash_sum(h_tiles),
        "pip_rows": int(pi.size),
        "pip_checksum": pip_checksum(ids[pi], pp),
    }


def knn_reference(plat, plon, pids, pcell, qlat, qlon, qids) -> list[tuple]:
    """Ring-bounded kNN by brute force inside each query's k-ring (the
    ensure_golden_knn spec): candidates are points whose res-7 cell is within
    Chebyshev distance 2 of the query's cell, minus the query itself, ranked by
    (haversine metres, neighbour id); top 5."""
    order = np.argsort(pcell, kind="stable")
    sc = pcell[order]
    qcell = geo.grid_cell(np.asarray(qlat), np.asarray(qlon), KNN_RES)
    rows = []
    for q in range(len(qids)):
        ring = geo.k_ring(int(qcell[q]), KNN_RING)
        lo, hi = np.searchsorted(sc, ring, "left"), np.searchsorted(sc, ring, "right")
        cand = np.concatenate([order[a:b] for a, b in zip(lo, hi)])
        cand = cand[pids[cand] != qids[q]]
        if cand.size == 0:
            continue
        d = geo.haversine_m(qlat[q], qlon[q], plat[cand], plon[cand])
        top = np.lexsort((pids[cand], d))[:KNN_K]
        for r, t in enumerate(top):
            rows.append((qids[q], pids[cand[t]], r + 1, round(float(d[t]), 3)))
    return rows


def _queries(seed: int, pts: pd.DataFrame, spec: dict) -> pd.DataFrame:
    """kNN query points. A fixed share are distinct existing points, taken as
    a systematic sample of the points ordered by res-7 cell (random order
    inside a cell): every cell gets queries in proportion to its population
    (to within one), so dense cells dominate as they would under uniform
    sampling, but the number of queries in the hottest cells does not vary
    from seed to seed. The rest are uniform random locations on the globe,
    which mostly land in sparse or empty rings."""
    n = spec["queries"]
    n_dense = int(round(n * spec["dense_share"]))
    k = np.arange(n - n_dense, dtype=np.int64)
    r0 = splitmix64(k + np.int64(seed) * np.int64(2_147_483_659))
    r1 = splitmix64(r0.view(np.int64))
    cell = geo.grid_cell(pts["lat"].to_numpy(), pts["lon"].to_numpy(), KNN_RES)
    order = np.lexsort((splitmix64(np.arange(len(pts), dtype=np.int64) + np.int64(seed) * 7_919), cell))
    step = len(pts) / n_dense
    pick = order[(np.arange(n_dense) * step + step / 2).astype(np.int64)]
    return pd.DataFrame(
        {
            "image_id": np.concatenate([pts["image_id"].to_numpy()[pick],
                                        np.char.add("q_", k.astype(str)).astype(object)]),
            "lat": np.concatenate([pts["lat"].to_numpy()[pick],
                                   np.degrees(np.arcsin(u01(r0) * 2.0 - 1.0))]),
            "lon": np.concatenate([pts["lon"].to_numpy()[pick], u01(r1) * 360.0 - 180.0]),
        }
    )


def _knn_frame(pts: pd.DataFrame, q: pd.DataFrame) -> pd.DataFrame:
    plat, plon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    rows = knn_reference(
        plat, plon, pts["image_id"].to_numpy(), geo.grid_cell(plat, plon, KNN_RES),
        q["lat"].to_numpy(), q["lon"].to_numpy(), q["image_id"].to_numpy(),
    )
    return pd.DataFrame(rows, columns=["query_image_id", "neighbor_image_id", "rank", "dist_m"])


# ------------------------------------------------------------------- media

# The generator keys an image's (w, h) to its pattern, so under the Zipf
# pattern pool one seed's table can hold 50% more pixels than another's. The
# media table takes the same number of images of every shape, so the seed
# changes content, patterns and duplicates but not the amount of work.
SHAPES = ((16, 16), (16, 32), (32, 32), (32, 64), (64, 16), (64, 64))


def _media_images(seed: int, n: int) -> pd.DataFrame:
    """n seed-generated images, n/len(SHAPES) of each shape: images are taken
    in generation order while their shape's quota lasts; further batches
    (derived seeds) are generated until every quota is full."""
    quota = {s: n // len(SHAPES) + (i < n % len(SHAPES)) for i, s in enumerate(SHAPES)}
    parts, batch = [], 0
    while any(quota.values()):
        df = generate_images(n, seed=seed + batch * 1_000_003)
        shape = list(zip(df["w"].tolist(), df["h"].tolist()))
        unknown = set(shape) - set(SHAPES)
        if unknown:
            raise ValueError(f"generator produced shapes outside {SHAPES}: {sorted(unknown)}")
        keep = []
        for i, s in enumerate(shape):
            if quota[s]:
                quota[s] -= 1
                keep.append(i)
        parts.append(df.iloc[keep])
        batch += 1
    out = pd.concat(parts, ignore_index=True)
    out["image_id"] = [f"img_{k:07d}" for k in range(len(out))]
    return out



def _media_reference(images: pd.DataFrame) -> dict:
    """Per-image metric family through functions.codec decode and numpy:
    decode_integrity (pix_sum, phash_dec), blur_metric (4-neighbour
    Laplacian sums), block_features_flat (4x4 block means)."""
    n = len(images)
    w, h, fmt = images["w"].to_numpy(), images["h"].to_numpy(), images["fmt"].to_numpy()
    flat, off = codec.decode_batch(images["bytes"], w, h, fmt)
    pix = np.empty(n, np.int64)
    ph = np.empty(n, np.int64)
    sq = np.zeros(n, np.int64)
    ab = np.zeros(n, np.int64)
    ni = np.zeros(n, np.int64)
    feat_sum = 0.0
    for W, H in sorted({(int(a), int(b)) for a, b in zip(w, h)}):
        idx = np.flatnonzero((w == W) & (h == H))
        mat = flat[off[idx][:, None] + np.arange(W * H)]
        pix[idx] = mat.sum(axis=1, dtype=np.int64)
        ph[idx] = phash64_batch(mat, W, H)
        m = mat.reshape(len(idx), H, W).astype(np.int64)
        lap = 4 * m[:, 1:-1, 1:-1] - m[:, :-2, 1:-1] - m[:, 2:, 1:-1] - m[:, 1:-1, :-2] - m[:, 1:-1, 2:]
        sq[idx] = (lap * lap).sum(axis=(1, 2))
        ab[idx] = np.abs(lap).sum(axis=(1, 2))
        ni[idx] = max(H - 2, 0) * max(W - 2, 0)
        bh, bw = H // 4, W // 4
        sums = m.reshape(len(idx), 4, bh, 4, bw).sum(axis=(2, 4))
        feat_sum += float((sums / float(bh * bw)).sum())
    return {
        "images": n,
        "pix_sum": int(pix.sum()),
        "phash_top": hash_sum(ph.view(np.uint64)),
        "lap_sq_sum": int(sq.sum()),
        "lap_abs_sum": int(ab.sum()),
        "n_interior": int(ni.sum()),
        "features": n * 16,
        "feature_sum": feat_sum,
    }


def _write_images(path: str, images: pd.DataFrame) -> None:
    schema = pa.schema(
        [("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
         ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
         ("phash", pa.int64())]
    )
    pq.write_table(
        pa.Table.from_pandas(images, schema=schema, preserve_index=False),
        path,
        row_group_size=IMAGE_ROW_GROUP,
    )


# ------------------------------------------------------------------- cache


def _build_ingest(seed: int, spec: dict, d: str, pts: pd.DataFrame) -> dict:
    os.makedirs(d, exist_ok=True)
    polys = _write_polygons(d, seed, spec["polygons"])
    _write_points(d, pts)
    blocks = encode_blocks(pts[["image_id", "phash", "caption"]])
    schema = pa.schema(
        [("block_id", pa.int64()), ("strtab", pa.list_(pa.string())),
         ("id_delta", pa.list_(pa.int64())), ("lat_dz", pa.list_(pa.int64())),
         ("lon_dz", pa.list_(pa.int64())), ("image_sid", pa.list_(pa.int32())),
         ("keys_vals", pa.list_(pa.int32()))]
    )
    pq.write_table(
        pa.Table.from_pandas(blocks, schema=schema, preserve_index=False),
        os.path.join(d, "blocks.parquet"),
    )
    q = _queries(seed, pts, spec)
    q.to_parquet(os.path.join(d, "queries.parquet"), index=False)
    _knn_frame(pts, q).to_parquet(os.path.join(d, "ref_knn.parquet"), index=False)
    ref = {"seed": seed, "size": spec, "queries": len(q), **_ingest_reference(pts, polys)}
    with open(os.path.join(d, "reference.json"), "w") as f:
        json.dump(ref, f)
    return ref


def _build(workload: str, seed: int, d: str) -> None:
    spec = SIZES[workload]
    if workload == "ingest":
        pts = _points(seed, spec["base_images"], spec["replicas"])
        _build_ingest(seed, spec, d, pts)
        # the warm-up passes run the same pipeline over replica 0 of the
        # point table (see workloads.Ingest.warm_op)
        warm = pts.iloc[: spec["base_images"]].reset_index(drop=True)
        _build_ingest(seed, WARMUP_INGEST, os.path.join(d, "warm"), warm)
        return
    images = _media_images(seed, spec["images"])
    _write_images(os.path.join(d, f"images_{spec['images']}.parquet"), images)
    ref = {"seed": seed, "size": spec, **_media_reference(images)}
    with open(os.path.join(d, "reference.json"), "w") as f:
        json.dump(ref, f)


def ensure_inputs(workload: str, seed: int, cache_root: str) -> str:
    """Directory holding the inputs + reference for (workload size, seed);
    built on first use. The build goes to a temporary sibling and is renamed
    into place, so a killed build never leaves a half-written cache entry."""
    d = os.path.join(cache_root, f"seed{seed}-{size_tag(workload)}")
    if os.path.exists(os.path.join(d, "reference.json")):
        return d
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _build(workload, seed, tmp)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def load_reference(d: str) -> dict:
    with open(os.path.join(d, "reference.json")) as f:
        return json.load(f)
