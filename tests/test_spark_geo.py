"""Spark-side geolocate / cell index / tiling / spatial join / kNN vs goldens.

The goldens come from a brute-force numpy path (sources/fixtures.py) — the
cross-implementation oracle replacing the reference's XML-vs-PBF dual decode.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from temp_c__bpf_osm_reader_spark.operators import indexing, knn, spatial_join
from temp_c__bpf_osm_reader_spark.sources import fixtures


def load_points(spark, fx):
    df = spark.read.parquet(fx["images"])
    return indexing.with_cells(indexing.geolocate_expr(df))


def tile_reference(golden_geo_pdf):
    """numpy tile rule (the DuckDB tile_assignment oracle's rule): res-7
    grid cell, then the 1-based rank by image_id within each cell."""
    from temp_c__bpf_osm_reader_spark.functions import geo

    ref = pd.DataFrame(
        {
            "cell_id": geo.grid_cell(
                golden_geo_pdf["lat"].to_numpy(), golden_geo_pdf["lon"].to_numpy(), 7
            ).astype(np.int64),
            "image_id": golden_geo_pdf["image_id"].to_numpy(),
        }
    ).sort_values(["cell_id", "image_id"], ignore_index=True)
    ref["order_"] = (ref.groupby("cell_id").cumcount() + 1).astype(np.int32)
    return ref


def tiles_sorted(df):
    return df.toPandas().sort_values(["cell_id", "order_"], ignore_index=True)


def test_geolocate_and_cells_match_golden(spark, fx, golden_geo_pdf):
    got = (
        load_points(spark, fx)
        .select("image_id", "lat", "lon", "cell_r7", "cell_r8", "cell_r9", "zcell_l12")
        .toPandas()
        .sort_values("image_id", ignore_index=True)
    )
    exp = golden_geo_pdf.sort_values("image_id", ignore_index=True)
    assert list(got["image_id"]) == list(exp["image_id"])
    for c in ["lat", "lon"]:  # bit patterns, so -0.0 vs 0.0 or NaN would fail
        assert np.array_equal(
            got[c].to_numpy().view(np.int64), exp[c].to_numpy().view(np.int64)
        ), c
    for c in ["cell_r7", "cell_r8", "cell_r9", "zcell_l12"]:
        assert np.array_equal(got[c].to_numpy(), exp[c].to_numpy()), c


def test_tile_assignment_deterministic_across_parallelism(spark, fx, golden_geo_pdf):
    """Byte-for-byte the numpy reference at every partition count and input
    partitioning (range-sampled bounds, no precomputed bounds)."""
    pts = load_points(spark, fx)
    ref = tile_reference(golden_geo_pdf)
    for src, parts in ((pts, 1), (pts, 7), (pts.repartition(17), 7), (pts, 16)):
        got = tiles_sorted(indexing.tile_assignment_scalable(src, 7, partitions=parts))
        pd.testing.assert_frame_equal(got, ref)


def test_tile_assignment_scalable_equals_window_variant(spark, fx):
    """The scalable plan equals the plain one-window-per-cell rule
    (row_number over cell_id ordered by image_id), computed here in Spark."""
    from pyspark.sql import Window

    pts = load_points(spark, fx)
    w = Window.partitionBy("cell_id").orderBy("image_id")
    a = tiles_sorted(
        pts.select(F.col("cell_r7").alias("cell_id"), "image_id").withColumn(
            "order_", F.row_number().over(w)
        )
    )
    b = tiles_sorted(indexing.tile_assignment_scalable(pts, 7, partitions=7))
    pd.testing.assert_frame_equal(a, b)


def test_pip_join_matches_bruteforce_golden(spark, fx, polygons_pdf):
    pts = load_points(spark, fx)
    got = (
        spatial_join.pip_join(pts, polygons_pdf)
        .toPandas()
        .sort_values(["image_id", "polygon_id"], ignore_index=True)
    )
    exp = pd.read_parquet(fx["golden_pip"]).sort_values(
        ["image_id", "polygon_id"], ignore_index=True
    )
    pd.testing.assert_frame_equal(got, exp)


def test_knn_matches_golden(spark, fx):
    pts = load_points(spark, fx)
    n = fixtures.n_images_for_sf("/root/testdata/sf0.001")
    queries = pts.filter(
        (F.regexp_extract("image_id", r"img_(\d+)", 1).cast("long") % 100) == 0
    ).select("image_id", "lat", "lon")
    got = (
        knn.knn_join(pts.select("image_id", "lat", "lon"), queries)
        .toPandas()
        .sort_values(["query_image_id", "rank"], ignore_index=True)
    )
    exp = pd.read_parquet(fx["golden_knn"]).sort_values(
        ["query_image_id", "rank"], ignore_index=True
    )
    got["rank"] = got["rank"].astype(exp["rank"].dtype)
    pd.testing.assert_frame_equal(got, exp)


def test_pip_join_plan_is_broadcast(spark, fx, polygons_pdf):
    pts = load_points(spark, fx)
    plan = spatial_join.pip_join(pts, polygons_pdf)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # big side never shuffles
    # the exact ray cast is pure expressions — no Python crossing anywhere
    # in the spatial join
    assert "EvalPython" not in plan


def test_tile_assignment_bounds_routing_matches_numpy_reference(spark, fx, golden_geo_pdf):
    """Direct-routed shuffle (precomputed bounds + magic-key addressing) must
    equal the numpy reference byte-for-byte — including deliberately BAD
    (unbalanced) bounds, since bounds affect balance only, never placement."""
    pts = load_points(spark, fx)
    ref = tile_reference(golden_geo_pdf)
    n_parts = 7
    cuts = [len(ref) * k // n_parts for k in range(1, n_parts)]
    good = [(int(ref["cell_id"].iloc[c]), ref["image_id"].iloc[c]) for c in cuts]
    # skewed bounds: all cuts bunched at the low end of the key space
    bad = sorted(good[:2] * 3)
    for bounds in (good, bad):
        got = tiles_sorted(
            indexing.tile_assignment_scalable(pts, 7, partitions=n_parts, bounds=bounds)
        )
        pd.testing.assert_frame_equal(got, ref)


def test_tile_assignment_keep_cols_and_rp_on_both_routes(spark, fx, golden_geo_pdf):
    """The flagship's call shape (keep_cols=("lat", "lon"), return_rp=True)
    on both routes — sampled bounds, and none at 32 partitions: tiles equal
    the numpy reference, the carried lat/lon are the geolocate doubles bit
    for bit, and rp holds every point exactly once."""
    pts = indexing.geolocate_expr(spark.read.parquet(fx["images"]))
    ref = tile_reference(golden_geo_pdf)
    geo_ref = golden_geo_pdf.sort_values("image_id", ignore_index=True)
    for parts, bounds in ((16, indexing.sample_cell_bounds(fx["images"], 16)), (32, None)):
        tiles, rp = indexing.tile_assignment_scalable(
            pts, 7, partitions=parts, keep_cols=("lat", "lon"), return_rp=True, bounds=bounds
        )
        got = tiles.toPandas()
        pd.testing.assert_frame_equal(
            got[["cell_id", "image_id", "order_"]]
            .sort_values(["cell_id", "order_"], ignore_index=True),
            ref,
        )
        for frame in (got, rp.toPandas()):
            frame = frame.sort_values("image_id", ignore_index=True)
            assert list(frame["image_id"]) == list(geo_ref["image_id"]), parts
            for c in ("lat", "lon"):
                assert np.array_equal(
                    frame[c].to_numpy().view(np.int64), geo_ref[c].to_numpy().view(np.int64)
                ), (parts, c)
        rp.unpersist()


def test_magic_partition_keys_route_exactly(spark):
    """pmod(murmur3(m_i), n) == i for every magic key — the direct-addressing
    contract (python murmur3 twin must match the JVM's F.hash on BIGINT)."""
    for n in (4, 7, 16, 32):
        magic = indexing.magic_partition_keys(n)
        df = spark.createDataFrame([(m,) for m in magic], "m bigint")
        got = [r[0] for r in df.select(F.pmod(F.hash("m"), F.lit(n))).collect()]
        assert got == list(range(n)), (n, magic, got)


def test_xxh64_twin_matches_spark(spark):
    """functions/hashing.xxh64_long / xxh64_str_array are bit-exact twins of
    Spark's xxhash64 (long path, string path incl. unicode and >=32-byte
    strings, and the chained hashLong form) — the contract that lets the
    geolocate spec live as JVM column expressions."""
    import random
    import string as _string

    import numpy as np

    from temp_c__bpf_osm_reader_spark.functions import hashing as H

    rng = random.Random(7)
    strs = ["", "a", "img_0000123#45", "x" * 31, "y" * 32, "z" * 100,
            "héllo wörld ✓"] + [
        "".join(rng.choices(_string.printable, k=rng.randrange(0, 64)))
        for _ in range(64)
    ]
    longs = [0, 1, -1, 2**63 - 1, -(2**63), 42] + [
        rng.randrange(-(2**63), 2**63) for _ in range(64)
    ]
    df_s = spark.createDataFrame([(s,) for s in strs], "s string")
    df_l = spark.createDataFrame([(v,) for v in longs], "l bigint")
    got_s = [r[0] for r in df_s.select(F.xxhash64("s")).collect()]
    got_l = [r[0] for r in df_l.select(F.xxhash64("l")).collect()]
    got_c = [r[0] for r in df_s.select(F.xxhash64(F.xxhash64("s"))).collect()]
    tw_s = H.xxh64_str_array(strs).view(np.int64)
    tw_l = H.xxh64_long(np.array(longs, dtype=np.int64)).view(np.int64)
    tw_c = H.xxh64_long(tw_s.view(np.uint64)).view(np.int64)
    assert got_s == [int(v) for v in tw_s]
    assert got_l == [int(v) for v in tw_l]
    assert got_c == [int(v) for v in tw_c]
    # multi-column form: xxhash64(a, b) chains a's hash as b's seed — the
    # contract the stress harness's distributed checksum compare relies on
    df_2 = spark.createDataFrame(list(zip(longs, longs[::-1])), "a bigint, b bigint")
    got_2 = [r[0] for r in df_2.select(F.xxhash64("a", "b")).collect()]
    tw_2 = H.xxh64_long(
        np.array(longs[::-1], dtype=np.int64),
        seed=H.xxh64_long(np.array(longs, dtype=np.int64)),
    ).view(np.int64)
    assert got_2 == [int(v) for v in tw_2]


def test_decode_tags_sentinel_edges(spark):
    """Hand-built keys_vals streams pinning the 0-delimiter contract
    (osmformat.proto:207-229 dense_nodes keys_vals) on the edges the golden
    corpus never exercises: empty entities (consecutive sentinels), a
    dangling key closed by a sentinel mid-block, a dangling key at block end
    (no trailing sentinel), and a leading sentinel (empty first entity)."""
    from temp_c__bpf_osm_reader_spark.operators.decode import decode_tags

    strtab = ["", "k1", "v1", "k2", "v2", "k3"]
    rows = [
        # block 0: [k1 v1 | k2 v2 k3 | <empty> | k1 v2] — entity 1 has a
        # dangling key k3 (odd count, closed by sentinel), entity 2 is empty
        (0, strtab, [1, 2, 0, 3, 4, 5, 0, 0, 1, 4]),
        # block 1: [<empty leading> | k2 v1 | k3-dangling-at-block-end]
        (1, strtab, [0, 3, 2, 0, 5]),
        # block 2: only sentinels — no tags at all
        (2, strtab, [0, 0]),
    ]
    df = spark.createDataFrame(rows, "block_id long, strtab array<string>, keys_vals array<int>")
    got = sorted(
        decode_tags(df).collect(),
        key=lambda r: (r.block_id, r.ent, r.k, r.v or ""),
    )
    exp = [
        (0, 0, "k1", "v1"),
        (0, 1, "k2", "v2"),
        (0, 1, "k3", None),
        (0, 3, "k1", "v2"),
        (1, 1, "k2", "v1"),
        (1, 2, "k3", None),
    ]
    assert [(r.block_id, r.ent, r.k, r.v) for r in got] == exp


def test_decode_entities_sentinel_strings_and_orphan_tags(spark):
    """decode_entities on hand-built blocks: every element whose string is ""
    is a sentinel, not only sid 0 (the oracle's s = '' rule), and the tags of
    an entity past the block's last node are dropped, as the oracle's join
    to the node stream drops them."""
    from temp_c__bpf_osm_reader_spark.operators.decode import decode_entities

    # sid 4 is a second "" string: it splits entities exactly like sid 0
    strtab = ["", "k1", "v1", "img_a", "", "img_b", "k2"]
    rows = [
        # [k1 v1 | k2 dangling | k1 v1] with nodes img_a, img_b: the third
        # entity has no node, so its tag is dropped
        (0, strtab, [1, 2, 4, 6, 0, 1, 2], [3, 5]),
        # a leading second-"" sentinel: entity 0 is empty, entity 1 has k2 v1
        (1, strtab, [4, 6, 2], [3, 5]),
    ]
    df = spark.createDataFrame(
        rows,
        "block_id long, strtab array<string>, keys_vals array<int>, image_sid array<int>",
    ).select(
        "block_id",
        "strtab",
        F.array_repeat(F.lit(0).cast("long"), F.size("image_sid")).alias("id_delta"),
        F.array_repeat(F.lit(0).cast("long"), F.size("image_sid")).alias("lat_dz"),
        F.array_repeat(F.lit(0).cast("long"), F.size("image_sid")).alias("lon_dz"),
        "image_sid",
        "keys_vals",
    )
    _, tags = decode_entities(df)
    got = sorted((r.image_id, r.k, r.v or "") for r in tags.collect())
    assert got == [("img_a", "k1", "v1"), ("img_b", "k2", ""), ("img_b", "k2", "v1")]


def test_decode_entities_identical_across_block_partitioning(spark, fx):
    """The sorted decode rows are the same whether the blocks arrive in one
    partition, in 7 round-robin partitions, or through widen_if_narrow with
    more partitions than blocks (so some partitions are empty)."""
    from temp_c__bpf_osm_reader_spark.operators.decode import decode_entities, widen_if_narrow

    blocks = spark.read.parquet(fx["blocks"])
    n_blocks = blocks.count()
    wide = widen_if_narrow(blocks.coalesce(1))
    assert wide.rdd.getNumPartitions() > n_blocks
    layouts = [blocks.coalesce(1), blocks.repartition(7), wide]
    results = []
    for b in layouts:
        nodes, tags = decode_entities(b)
        results.append(
            (
                sorted(map(tuple, nodes.collect())),
                sorted(map(tuple, tags.fillna("").collect())),
            )
        )
    assert len(results[0][0]) > 0 and len(results[0][1]) > 0
    assert results[1] == results[0] and results[2] == results[0]


def test_raster_topology_wrap_clamp_and_pyramid_mass(spark):
    """Hand-built points pinning the raster operators' grid topology:
    focal_sum wraps longitude (col 0's west neighbor is col nx-1), clamps
    latitude (the pole row has no neighbor beyond it), and pyramid conserves
    mass (every level sums to the input count) with exact 2x2 parentage."""
    from temp_c__bpf_osm_reader_spark.functions import geo
    from temp_c__bpf_osm_reader_spark.operators import raster

    res = 3  # tiny grid: ny=8, nx=16
    ny, nx = geo.grid_dims(res)

    def cell(i, j):
        return int((res << geo.RES_SHIFT) | (i << geo.I_SHIFT) | j)

    # two points in (0,0) [south pole row, west seam], one in (0, nx-1)
    # [its wrap neighbor], one isolated at (4, 8)
    rows = [(cell(0, 0),), (cell(0, 0),), (cell(0, nx - 1),), (cell(4, 8),)]
    df = spark.createDataFrame(rows, "cell_r long")

    focal = {
        (r.row_i, r.col_j): (r.n_images, r.focal_n)
        for r in raster.focal_sum(df, "cell_r", res=res).collect()
    }
    # (0,0): itself 2 + wrap-west (0,15) 1 = 3; row -1 clamped away
    assert focal[(0, 0)] == (2, 3)
    # (0,15): itself 1 + wrap-east (0,0) 2 = 3
    assert focal[(0, nx - 1)] == (1, 3)
    # isolated pixel: focal sum is just itself
    assert focal[(4, 8)] == (1, 1)

    pyr = raster.pyramid(df, "cell_r", base_res=res, min_res=0).collect()
    by_res = {}
    for r in pyr:
        by_res.setdefault(r.res, {})[(r.row_i, r.col_j)] = r.n_images
    assert sorted(by_res) == [0, 1, 2, 3]
    for lvl in by_res.values():
        assert sum(lvl.values()) == 4  # mass conserved at every level
    # 2x2 parentage: (0,0)+(0,15) at res 3 roll to (0,0)+(0,7) at res 2
    assert by_res[2] == {(0, 0): 2, (0, 7): 1, (2, 4): 1}
    # res 0 is ny=1, nx=2: j<8 rolls west (0,0), j>=8 east (0,1)
    assert by_res[0] == {(0, 0): 2, (0, 1): 2}


def test_box_self_join_matches_bruteforce(spark):
    """3x3 neighbor-cell blocking completeness: box_self_join over 400
    hash-scattered points (including antimeridian and near-pole clusters)
    must equal the O(n^2) numpy brute force of the same box predicate."""
    import numpy as np

    from temp_c__bpf_osm_reader_spark.functions import geo
    from temp_c__bpf_osm_reader_spark.operators import spatial_join

    n, res, eps = 400, 8, 0.25
    rng = np.random.default_rng(20260819)
    lat = rng.uniform(-89.9, 89.9, n)
    lon = rng.uniform(-180.0, 180.0, n)
    # force wrap + clamp coverage: a cluster straddling the antimeridian
    # and one hugging the pole row
    lat[:8] = rng.uniform(10.0, 10.2, 8)
    lon[:8] = np.where(rng.random(8) < 0.5, -179.95, 179.95)
    lat[8:14] = rng.uniform(89.5, 89.9, 6)
    lon[8:14] = rng.uniform(-0.3, 0.3, 6)
    cells = geo.grid_cell(lat, lon, res)
    rows = [
        (f"img{i:04d}", float(lat[i]), float(lon[i]), int(cells[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "image_id string, lat double, lon double, cell_r8 long")

    got = {
        (r.img1, r.img2)
        for r in spatial_join.box_self_join(df, "cell_r8", eps_deg=eps, res=res).collect()
    }

    dlat = np.abs(lat[:, None] - lat[None, :])
    dl = np.abs(lon[:, None] - lon[None, :])
    dlon = np.minimum(dl, 360.0 - dl)
    hit = (dlat <= eps) & (dlon <= eps)
    want = {
        (f"img{i:04d}", f"img{j:04d}")
        for i in range(n)
        for j in range(i + 1, n)
        if hit[i, j]
    }
    assert want, "fixture produced no qualifying pairs — test is vacuous"
    assert got == want


def test_polygonize_wrap_snake_and_region_stats(spark):
    """Hand-built rasters pinning polygonize's component semantics:
    a region crossing the antimeridian seam is ONE region (col wrap), rows
    do not wrap across the pole, and a long serpentine labels as one region.
    The serpentine winds down 6 rows and back up 4 in columns two apart, ten
    times over, and never reaches the wrap: its 141 pixels form one path
    whose far end is 140 steps from the min-key pixel, so plain min-label
    propagation would need 140 rounds, far past dedup.CC_MAX_ITER; only the
    pointer jumping of dedup.connected_components closes it in time."""
    from temp_c__bpf_osm_reader_spark.functions import geo
    from temp_c__bpf_osm_reader_spark.operators import raster

    res = 5  # ny=32, nx=64
    ny, nx = geo.grid_dims(res)

    def cell(i, j):
        return int((res << geo.RES_SHIFT) | (i << geo.I_SHIFT) | j)

    def key(i, j):
        return (i << geo.I_SHIFT) | j

    # serpentine from (4, 1): per cycle down 6, right 2, up 4, right 2
    snake = [(4, 1)]
    for _ in range(10):
        for di, dj, n in ((1, 0, 6), (0, 1, 2), (-1, 0, 4), (0, 1, 2)):
            for _ in range(n):
                i, j = snake[-1]
                snake.append((i + di, j + dj))
    assert len(set(snake)) == len(snake) == 141
    # seam region: (2, nx-1) and (2, 0) touch only through the wrap;
    # pole pair: (0, 5) and (ny-1, 5) must NOT merge (no row wrap)
    pts = [cell(2, nx - 1), cell(2, 0), cell(0, 5), cell(ny - 1, 5)]
    pts += [cell(i, j) for i, j in snake]
    # weight: two images in the seam's west pixel
    pts.append(cell(2, 0))
    df = spark.createDataFrame([(p,) for p in pts], "cell_r long")

    out = {r.region_id: r for r in raster.polygonize(df, "cell_r", res=res).collect()}
    # four regions: seam, pole-north, pole-south, snake
    assert len(out) == 4
    seam = out[key(2, 0)]
    assert (seam.n_cells, seam.n_images) == (2, 3)
    assert (seam.min_j, seam.max_j) == (0, nx - 1)  # plain min/max, no wrap fix
    assert out[key(0, 5)].n_cells == 1
    assert out[key(ny - 1, 5)].n_cells == 1
    got = out[key(4, 1)]
    si, sj = [i for i, _ in snake], [j for _, j in snake]
    assert (got.n_cells, got.n_images) == (len(snake), len(snake))
    assert (got.min_i, got.max_i, got.min_j, got.max_j) == (min(si), max(si), min(sj), max(sj))


def test_way_simplify_collapse_semantics(spark):
    """Hand-built way + node blocks pinning way_simplify's decimation rule:
    first vertex always kept; a vertex is dropped iff BOTH snapped axes
    equal the previous vertex's (same-cell run collapse, including exact
    duplicates); survivors renumber densely; floor-snap is exercised on
    negative coordinates (floor(-1/snap) = -1, not 0 — truncation would
    wrongly merge cells straddling zero)."""
    import numpy as np
    from temp_c__bpf_osm_reader_spark.operators import decode
    from temp_c__bpf_osm_reader_spark.sources.blocks import zigzag_encode

    snap = 1000
    # one way, nod_ids 10..15; coords (lat_e7, lon_e7) per nod_id:
    #   10: (0, 0)       keep (first)
    #   11: (500, 900)   drop (same cell 0,0)
    #   12: (500, 900)   drop (exact duplicate)
    #   13: (-1, 900)    keep (lat cell floor(-1/1000) = -1 != 0)
    #   14: (-999, 1999) keep (lon cell 1 != 0; lat cell still -1)
    #   15: (2500, 1999) keep (lat cell 2)
    coords = {10: (0, 0), 11: (500, 900), 12: (500, 900),
              13: (-1, 900), 14: (-999, 1999), 15: (2500, 1999)}
    refs = np.array([10, 11, 12, 13, 14, 15], dtype=np.int64)
    way_blocks = spark.createDataFrame(
        [(0, [7], [zigzag_encode(np.diff(refs, prepend=np.int64(0))).tolist()])],
        "block_id long, way_id array<long>, refs_dz array<array<long>>",
    )
    nod_ids = np.array(sorted(coords), dtype=np.int64)
    lats = np.array([coords[i][0] for i in nod_ids], dtype=np.int64)
    lons = np.array([coords[i][1] for i in nod_ids], dtype=np.int64)
    blocks = spark.createDataFrame(
        [(
            0,
            np.diff(nod_ids, prepend=np.int64(0)).tolist(),
            zigzag_encode(np.diff(lats, prepend=np.int64(0))).tolist(),
            zigzag_encode(np.diff(lons, prepend=np.int64(0))).tolist(),
        )],
        "block_id long, id_delta array<long>, lat_dz array<long>, lon_dz array<long>",
    )
    got = [
        (r.seq, r.nod_id, r.lat_e7, r.lon_e7)
        for r in decode.way_simplify(way_blocks, blocks, snap_e7=snap)
        .orderBy("seq")
        .collect()
    ]
    assert got == [
        (0, 10, 0, 0),
        (1, 13, -1, 900),
        (2, 14, -999, 1999),
        (3, 15, 2500, 1999),
    ]


def test_polygonize_matches_union_find_on_random_rasters(spark):
    """Seeded random rasters at several densities (sub-, near-, and
    super-percolation) — distributed label propagation must equal a
    sequential union-find on every one, including the dense case where one
    giant component spans the wrap seam."""
    import numpy as np
    from temp_c__bpf_osm_reader_spark.functions import geo
    from temp_c__bpf_osm_reader_spark.operators import raster

    res = 3  # ny=8, nx=16
    ny, nx = geo.grid_dims(res)

    for seed, density in ((1, 0.15), (2, 0.45), (3, 0.75)):
        rng = np.random.RandomState(seed)
        occ = rng.rand(ny, nx) < density
        ii, jj = np.nonzero(occ)
        if ii.size == 0:
            continue
        # 1-3 images per occupied pixel, deterministic
        counts = 1 + ((ii * 31 + jj * 7) % 3)
        pts = []
        for i, j, c in zip(ii, jj, counts):
            pts += [int((res << geo.RES_SHIFT) | (int(i) << geo.I_SHIFT) | int(j))] * int(c)
        df = spark.createDataFrame([(p,) for p in pts], "cell_r long")
        got = {
            r.region_id: (r.n_cells, r.n_images, r.min_i, r.max_i, r.min_j, r.max_j)
            for r in raster.polygonize(df, "cell_r", res=res).collect()
        }

        # sequential union-find twin (same spec: 4-conn, j wraps, i clamps)
        keys = [(int(i) << 27) | int(j) for i, j in zip(ii, jj)]
        kset = set(keys)
        parent = {k: k for k in keys}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, j in zip(ii, jj):
            k = (int(i) << 27) | int(j)
            r_ = (int(i) << 27) | ((int(j) + 1) % nx)
            if r_ in kset and r_ != k:
                a, b = find(k), find(r_)
                if a != b:
                    parent[max(a, b)] = min(a, b)
            if i + 1 < ny:
                d = ((int(i) + 1) << 27) | int(j)
                if d in kset:
                    a, b = find(k), find(d)
                    if a != b:
                        parent[max(a, b)] = min(a, b)
        want: dict[int, list] = {}
        for i, j, c in zip(ii, jj, counts):
            k = (int(i) << 27) | int(j)
            lab = find(k)
            agg = want.setdefault(lab, [0, 0, ny, -1, nx, -1])
            agg[0] += 1
            agg[1] += int(c)
            agg[2], agg[3] = min(agg[2], int(i)), max(agg[3], int(i))
            agg[4], agg[5] = min(agg[4], int(j)), max(agg[5], int(j))
        assert got == {k: tuple(v) for k, v in want.items()}, f"seed {seed}"


def test_cell_compact_expands_back_to_original_cover(spark, fx):
    """Invariant pinning the operator's whole contract: expanding every
    compacted (cell, level) back down to level 12 must reproduce the original
    distinct level-12 cell set EXACTLY (no cell lost, none invented, no
    overlap between compacted entries)."""
    pts = load_points(spark, fx)
    out = indexing.cell_compact(pts).toPandas()
    orig = set(
        pts.select(F.col("zcell_l12").alias("c")).distinct().toPandas()["c"].tolist()
    )
    expanded: list[int] = []
    for cell, lv in zip(out["cell"].tolist(), out["level"].tolist()):
        cells = [int(cell)]
        for cur in range(int(lv), 12):
            cells = [
                ((c - (cur << 48)) << 2) + ((cur + 1) << 48) + q
                for c in cells
                for q in range(4)
            ]
        expanded.extend(cells)
    assert len(expanded) == len(set(expanded))  # disjoint cover
    assert set(expanded) == orig
    # compaction must actually fire at this density
    assert (out["level"] < 12).any()


def test_polygon_stats_matches_numpy_shoelace(spark, fx, polygons_pdf):
    got = (
        spatial_join.polygon_stats(spark.read.parquet(fx["polygons"]))
        .toPandas()
        .set_index("polygon_id")
        .sort_index()
    )
    for pid, row in polygons_pdf.set_index("polygon_id").iterrows():
        la = np.floor(np.asarray(row["ring_lat"]) * 1e7).astype(np.int64)
        lo = np.floor(np.asarray(row["ring_lon"]) * 1e7).astype(np.int64)
        n = len(la) - 1  # closed ring
        la0, lo0 = la - la[0], lo - lo[0]
        area2 = int(
            np.sum(lo0[:n] * la0[1 : n + 1]) - np.sum(lo0[1 : n + 1] * la0[:n])
        )
        perim = int(np.sum(np.abs(np.diff(la))) + np.sum(np.abs(np.diff(lo))))
        g = got.loc[pid]
        assert int(g["n_vertices"]) == n
        assert int(g["area2_e14"]) == area2
        assert int(g["perim_l1_e7"]) == perim
        assert int(g["vsum_lat_e7"]) == int(la[:n].sum())
        assert int(g["vsum_lon_e7"]) == int(lo[:n].sum())


def test_spatial_autocorr_matches_numpy_twin(spark, fx, golden_geo_pdf):
    """Independent numpy derivation of every Moran component (and the same
    fixed double expression) from the golden cell assignments."""
    from temp_c__bpf_osm_reader_spark.operators import raster

    pts = spark.read.parquet(fx["golden_geo"])
    got = raster.global_autocorr(pts, "cell_r8", res=8).toPandas().iloc[0]

    ij = golden_geo_pdf["cell_r8"].to_numpy()
    ii, jj = (ij >> 27) & ((1 << 27) - 1), ij & ((1 << 27) - 1)
    from collections import Counter

    c = Counter(zip(ii.tolist(), jj.tolist()))
    n = len(c)
    S = sum(c.values())
    sum_c2 = sum(v * v for v in c.values())
    P = spp = sps = 0
    for (i, j), v in c.items():
        for ni, nj in ((i, (j + 1) % 512), (i + 1, j)):
            if ni < 256 and (ni, nj) in c:
                w = c[(ni, nj)]
                P += 1
                spp += v * w
                sps += v + w
    assert (
        int(got["n_cells"]),
        int(got["s_total"]),
        int(got["sum_c2"]),
        int(got["n_pairs"]),
        int(got["sum_pair_prod"]),
        int(got["sum_pair_sum"]),
    ) == (n, S, sum_c2, P, spp, sps)
    nd, sd, pd_ = float(n), float(S), float(P)
    den = pd_ * ((nd * nd * float(sum_c2)) - (nd * sd * sd))
    num = nd * ((nd * nd * float(spp)) - (nd * sd * float(sps)) + (sd * sd * pd_))
    assert got["moran_i"] == num / den
    # hash-scattered points must NOT show strong positive autocorrelation
    assert abs(got["moran_i"]) < 0.2


def test_spatial_autocorr_analytic_edges(spark):
    """Uniform counts -> zero variance -> NULL; an isolated-cells layout
    (no rook adjacencies) -> n_pairs 0 -> NULL."""
    from temp_c__bpf_osm_reader_spark.functions import geo
    from temp_c__bpf_osm_reader_spark.operators import raster

    import numpy as np
    import pandas as pd

    # two adjacent cells, same count: variance 0
    lat = np.array([50.1, 50.1])  # same row cell
    lon = np.array([0.1, 0.9])  # adjacent col cells at res 8 (0.703deg)
    pdf = pd.DataFrame({"cell_r8": geo.grid_cell(lat, lon, 8).astype("int64")})
    df = spark.createDataFrame(pdf)
    r = raster.global_autocorr(df, "cell_r8", res=8).toPandas().iloc[0]
    assert int(r["n_pairs"]) == 1 and pd.isna(r["moran_i"])

    # far-apart cells: no pairs
    pdf2 = pd.DataFrame(
        {
            "cell_r8": geo.grid_cell(
                np.array([10.0, -40.0, 60.0]), np.array([10.0, 100.0, -120.0]), 8
            ).astype("int64")
        }
    )
    r2 = raster.global_autocorr(spark.createDataFrame(pdf2), "cell_r8", res=8).toPandas().iloc[0]
    assert int(r2["n_pairs"]) == 0 and pd.isna(r2["moran_i"])


def test_local_autocorr_sums_to_twice_global_numerator(spark, fx):
    """Bridging identity between the two Moran operators: with symmetric
    rook weights, sum_i d_i * (sum_{j in N(i)} d_j) counts every unordered
    pair twice, so  sum(local_i) == 2 * (n^2*spp - n*S*sps + S^2*P)  where
    the right side is built from global_autocorr's EXACT integer
    components. At these scales every local_i double is an exactly
    representable integer, so the equality is exact. Checked on the golden
    layer at res 8 and on the wrapped 1×2 grid at res 0."""
    from temp_c__bpf_osm_reader_spark.functions import geo
    from temp_c__bpf_osm_reader_spark.operators import raster

    res0 = geo.grid_cell(np.array([10.0] * 3 + [-40.0] * 5), np.array([-100.0] * 3 + [60.0] * 5), 0)
    layers = (
        (spark.read.parquet(fx["golden_geo"]), "cell_r8", 8),
        (spark.createDataFrame(pd.DataFrame({"cell_r0": res0.astype(np.int64)})), "cell_r0", 0),
    )
    for pts, col, res in layers:
        loc = raster.local_autocorr(pts, col, res=res).toPandas()
        g = raster.global_autocorr(pts, col, res=res).toPandas().iloc[0]
        n, S = int(g["n_cells"]), int(g["s_total"])
        rhs = 2 * (
            n * n * int(g["sum_pair_prod"])
            - n * S * int(g["sum_pair_sum"])
            + S * S * int(g["n_pairs"])
        )
        lhs = sum(int(v) for v in loc["local_i"].tolist())
        assert lhs == rhs, res
        assert len(loc) == n
        # neighbor counts respect the rook topology bound
        assert loc["nbr_cnt"].between(0, 4).all()


def test_adaptive_grid_partitions_occupied_space(spark, fx, golden_geo_pdf):
    """The emitted quadtree cells must tile the occupied space exactly: every
    occupied res-8 pixel lies under EXACTLY one emitted cell (no orphan, no
    overlap, no ancestor-of-emitted emitted), and counts are conserved."""
    from temp_c__bpf_osm_reader_spark.operators import raster

    pts = spark.read.parquet(fx["golden_geo"])
    out = raster.adaptive_grid(pts, "cell_r8", base_res=8, min_res=5, threshold=3).toPandas()

    ij = golden_geo_pdf["cell_r8"].to_numpy()
    base = {}
    for c in ij.tolist():
        k = ((c >> 27) & ((1 << 27) - 1), c & ((1 << 27) - 1))
        base[k] = base.get(k, 0) + 1

    # counts conserved and multi-level output at this density
    assert int(out["n_images"].sum()) == len(ij)
    assert out["res"].nunique() >= 2

    # map every occupied base pixel to the emitted ancestors covering it
    emitted = {
        (int(r), int(i), int(j)) for r, i, j in zip(out["res"], out["row_i"], out["col_j"])
    }
    for (bi, bj), cnt in base.items():
        covers = [
            (r, bi >> (8 - r), bj >> (8 - r))
            for r in range(5, 9)
            if (r, bi >> (8 - r), bj >> (8 - r)) in emitted
        ]
        assert len(covers) == 1, f"pixel {(bi, bj)} covered by {covers}"

    # every emitted non-leaf-level cell is genuinely sparse; overloaded cells
    # appear only at base_res
    assert (out.loc[out["res"] < 8, "n_images"] <= 3).all()
    # and every emitted cell below min_res's root had an overloaded parent:
    # recompute parent counts from base pixels
    for r, i, j, n in zip(out["res"], out["row_i"], out["col_j"], out["n_images"]):
        if r > 5:
            pn = sum(
                c
                for (bi, bj), c in base.items()
                if (bi >> (8 - (r - 1)), bj >> (8 - (r - 1))) == (i >> 1, j >> 1)
            )
            assert pn > 3, f"emitted {(r, i, j)} under sparse parent {pn}"


def test_cell_columns_match_numpy_at_grid_edges(spark):
    """grid_cell_col (res 7, 8, 9, 16) and z_cell_col (level 12) are
    bit-equal to the numpy specs on the points the fixtures never reach:
    the poles, the antimeridian, signed zeros, and coordinates exactly on
    (and one ulp either side of) row and column boundaries. The shared
    neighbour expansion (indexing.neighbours + cell_of over ring_offsets)
    equals geo.k_ring as a set for k = 1, 2 on cells at both poles and on
    both sides of the antimeridian, at res 0, 1 and 7."""
    from temp_c__bpf_osm_reader_spark.functions import geo

    lats = [-90.0, 90.0 - 1e-9, 90.0, -0.0, 0.0]
    lons = [-180.0, 180.0, -0.0, 0.0]
    for r in (7, 8, 9, 12, 16):
        ny, nx = geo.grid_dims(r)
        for k in (1, 3, ny // 2 - 1, ny // 2 + 1, ny - 1):
            b = k * 180.0 / ny - 90.0
            lats += [b, np.nextafter(b, -np.inf), np.nextafter(b, np.inf)]
        for k in (1, 5, nx // 2 - 1, nx // 2 + 1, nx - 1):
            b = k * 360.0 / nx - 180.0
            lons += [b, np.nextafter(b, -np.inf), np.nextafter(b, np.inf)]
    lat = np.repeat(np.array(lats), len(lons))
    lon = np.tile(np.array(lons), len(lats))
    df = spark.createDataFrame(pd.DataFrame({"idx": np.arange(len(lat)), "lat": lat, "lon": lon}))
    cols = {f"r{r}": indexing.grid_cell_col(F.col("lat"), F.col("lon"), r) for r in (7, 8, 9, 16)}
    cols["z12"] = indexing.z_cell_col(F.col("lat"), F.col("lon"), 12)
    got = (
        df.select("idx", *[c.alias(n) for n, c in cols.items()])
        .toPandas()
        .sort_values("idx", ignore_index=True)
    )
    for r in (7, 8, 9, 16):
        assert np.array_equal(got[f"r{r}"].to_numpy(), geo.grid_cell(lat, lon, r)), r
    assert np.array_equal(got["z12"].to_numpy(), geo.z_cell(lat, lon, 12))

    for r in (0, 1, 7):
        ny, nx = geo.grid_dims(r)
        rows = {i for i in (0, 1, ny // 2, ny - 2, ny - 1) if i >= 0}
        cols = {0, 1, nx // 2, nx - 2, nx - 1}
        cells = sorted((r << geo.RES_SHIFT) | (i << geo.I_SHIFT) | j for i in rows for j in cols)
        cdf = spark.createDataFrame([(c,) for c in cells], "cell long")
        for k in (1, 2):
            nb = indexing.neighbours(
                cdf, *indexing.cell_ij(F.col("cell")), r, indexing.ring_offsets(k)
            ).select("cell", indexing.cell_of(r, F.col("ni"), F.col("nj")).alias("nb"))
            spark_ring = {}
            for row in nb.collect():
                spark_ring.setdefault(row.cell, set()).add(row.nb)
            for c in cells:
                assert spark_ring[c] == set(geo.k_ring(c, k).tolist()), (r, k, c)


def test_pip_join_matches_numpy_on_edges_and_vertices(spark):
    """pip_join returns exactly the (point, polygon) rows geo.point_in_polygon
    selects for points on vertices, on horizontal and vertical edges (which
    here lie on res-8 grid lines, so cover classification and the half-open
    ray cast meet on the same line), and one ulp / a small step inside and
    outside — for an axis-aligned box and a concave notched square."""
    from temp_c__bpf_osm_reader_spark.functions import geo

    d = 180.0 / 256  # res-8 cell side (lat and lon)
    lat0, lat1 = 140 * d - 90.0, 144 * d - 90.0
    lon0, lon1 = 260 * d - 180.0, 266 * d - 180.0
    box = ([lat0, lat0, lat1, lat1, lat0], [lon0, lon1, lon1, lon0, lon0])
    # square with a V notch cut into its top edge (reflex vertex at 25, 25)
    notch = ([20.0, 20.0, 30.0, 25.0, 30.0, 20.0], [20.0, 30.0, 30.0, 25.0, 20.0, 20.0])
    polys = pd.DataFrame(
        {
            "polygon_id": [1, 2],
            "kind": ["box", "notch"],
            "ring_lat": [box[0], notch[0]],
            "ring_lon": [box[1], notch[1]],
        }
    )
    pts = []
    for ring_lat, ring_lon in (box, notch):
        ry, rx = np.array(ring_lat[:-1]), np.array(ring_lon[:-1])
        my, mx = (ry + np.roll(ry, -1)) / 2, (rx + np.roll(rx, -1)) / 2
        cy, cx = ry.mean(), rx.mean()
        for y, x in list(zip(ry, rx)) + list(zip(my, mx)):
            pts.append((y, x))
            for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (-1, -1)):
                pts.append((y + dy * 1e-9, x + dx * 1e-9))
                ulp_y = np.nextafter(y, np.inf * dy) if dy else y
                ulp_x = np.nextafter(x, np.inf * dx) if dx else x
                pts.append((ulp_y, ulp_x))
            # a step toward and away from the centroid
            pts.append((y + (cy - y) * 1e-3, x + (cx - x) * 1e-3))
            pts.append((y - (cy - y) * 1e-3, x - (cx - x) * 1e-3))
    # interior grid lines of the box (cells classified full vs boundary)
    for k in range(141, 144):
        pts.append((k * d - 90.0, (lon0 + lon1) / 2))
    for k in range(261, 266):
        pts.append(((lat0 + lat1) / 2, k * d - 180.0))
    lat = np.array([p[0] for p in pts], dtype=np.float64)
    lon = np.array([p[1] for p in pts], dtype=np.float64)
    ids = [f"p{i:04d}" for i in range(len(pts))]
    df = spark.createDataFrame(pd.DataFrame({"image_id": ids, "lat": lat, "lon": lon}))

    got = {(r.image_id, r.polygon_id) for r in spatial_join.pip_join(df, polys).collect()}
    want = set()
    for pid, ring_lat, ring_lon in zip(polys["polygon_id"], polys["ring_lat"], polys["ring_lon"]):
        hit = geo.point_in_polygon(lat, lon, np.array(ring_lat), np.array(ring_lon))
        want |= {(ids[i], int(pid)) for i in np.flatnonzero(hit)}
    assert 0 < len(want) < len(pts), "fixture is vacuous"
    assert got == want


def _autocorr_oracle(counts: dict, res: int):
    """numpy brute force of the DuckDB autocorr oracles' formulas over
    {(row_i, col_j): count}: E/S probes with (col_j + dj) % nx for the global
    components, all four rook probes for the local ones."""
    ny, nx = 1 << res, 1 << (res + 1)
    n, S = len(counts), sum(counts.values())
    sum_c2 = sum(c * c for c in counts.values())
    P = spp = sps = 0
    nbr = {k: [0, 0] for k in counts}
    for (i, j), c in counts.items():
        for di, dj in ((0, 1), (1, 0), (0, -1), (-1, 0)):
            t = (i + di, (j + dj) % nx)
            if not 0 <= t[0] < ny or t not in counts:
                continue
            if (di, dj) in ((0, 1), (1, 0)):
                P, spp, sps = P + 1, spp + c * counts[t], sps + c + counts[t]
            nbr[t][0] += c
            nbr[t][1] += 1
    nd, sd, pd_ = float(n), float(S), float(P)
    den = pd_ * ((nd * nd * float(sum_c2)) - (nd * sd * sd))
    num = nd * ((nd * nd * float(spp)) - (nd * sd * float(sps)) + (sd * sd * pd_))
    moran = None if P == 0 or den == 0.0 else num / den
    local = {
        k: ((nd * float(c)) - sd) * ((nd * float(nbr[k][0])) - (float(nbr[k][1]) * sd))
        for k, c in counts.items()
    }
    return (n, S, sum_c2, P, spp, sps), moran, nbr, local


def test_autocorr_res0_wraps_like_oracle(spark):
    """On the 1×2 res-0 grid the longitude wrap gives each column two
    distinct borders with the other (east and west), exactly as the oracle
    formula (col_j + dj) % nx counts them — both Moran variants agree with
    its brute force."""
    from temp_c__bpf_osm_reader_spark.functions import geo
    from temp_c__bpf_osm_reader_spark.operators import raster

    lat = np.array([10.0] * 3 + [-40.0] * 5)
    lon = np.array([-100.0] * 3 + [60.0] * 5)
    cells = geo.grid_cell(lat, lon, 0)
    df = spark.createDataFrame(pd.DataFrame({"cell_r0": cells.astype(np.int64)}))
    ij = [(int((c >> 27) & ((1 << 27) - 1)), int(c & ((1 << 27) - 1))) for c in cells]
    counts = {k: ij.count(k) for k in set(ij)}
    assert counts == {(0, 0): 3, (0, 1): 5}
    comps, moran, nbr, local = _autocorr_oracle(counts, 0)

    g = raster.global_autocorr(df, "cell_r0", res=0).toPandas().iloc[0]
    cols = ["n_cells", "s_total", "sum_c2", "n_pairs", "sum_pair_prod", "sum_pair_sum"]
    assert tuple(int(g[c]) for c in cols) == comps == (2, 8, 34, 2, 30, 16)
    assert g["moran_i"] == moran == -1.0

    loc = raster.local_autocorr(df, "cell_r0", res=0).toPandas()
    got = {
        (int(r.row_i), int(r.col_j)): (int(r.nbr_sum), int(r.nbr_cnt), r.local_i)
        for r in loc.itertuples()
    }
    assert got == {k: (nbr[k][0], nbr[k][1], local[k]) for k in counts}
