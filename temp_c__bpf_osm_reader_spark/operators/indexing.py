"""Geolocation + hierarchical cell indexing + deterministic tile assignment.

The load-side of the engine: the analogue of the reference's decode → store →
index pipeline (readosm.c:1107-1309 decode; pbf2sqlite.c:585-597 post-load
index build). 'Indexing' in Spark terms = computing the partition/cluster key
columns; the physical layout step is `repartition(cell).sortWithinPartitions`.

Cell math is plain floor/bit arithmetic in pyspark.sql.functions — JVM-side,
whole-stage-codegen'd, and replicable in ANSI SQL by the DuckDB oracle
(`oracle_cell_expr` emits the exact same formula as SQL text). This is the
one Spark module that knows the packed cell layout (functions/geo.py) and
the grid's cylinder topology: every other operator decodes, packs and
expands cells through cell_ij, cell_of, pixel_key and neighbours.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geo import I_SHIFT, IJ_MASK, RES_SHIFT, grid_dims


def geolocate_expr(df: DataFrame) -> DataFrame:
    """(image_id, phash, …) → (image_id, lat, lon): the frozen geolocate spec
    as pure-JVM column expressions (functions/geo.latlon_cols) — whole-stage
    codegen, no Python crossing, no shuffle. Payload columns are pruned at
    the scan. The numpy kernel geo.latlon_from_phash is the test oracle; the
    doubles are bit-identical (tests/test_spark_geo.py).
    """
    from ..functions.geo import latlon_cols

    lat, lon = latlon_cols()
    return df.select("image_id", lat.alias("lat"), lon.alias("lon"))


def cell_ij(cell: Column) -> tuple[Column, Column]:
    """Packed cell id → its (i, j) pixel as bigint columns."""
    return (
        F.shiftright(cell, I_SHIFT).bitwiseAND(F.lit(IJ_MASK)),
        cell.bitwiseAND(F.lit(IJ_MASK)),
    )


def pixel_key(i: Column, j: Column) -> Column:
    """(i, j) → the resolution-free pixel key (i << I_SHIFT) | j: the low
    bits of the packed cell id."""
    return F.shiftleft(i.cast("bigint"), I_SHIFT).bitwiseOR(j.cast("bigint"))


def cell_of(res: int, i: Column, j: Column) -> Column:
    """(i, j) at resolution res → packed cell id (functions/geo.py layout)."""
    return F.lit(res << RES_SHIFT).cast("bigint").bitwiseOR(pixel_key(i, j))


def grid_cell_col(lat: Column, lon: Column, res: int) -> Column:
    """int64 cell id — same frozen spec as functions/geo.py:grid_cell."""
    ny, nx = grid_dims(res)
    i = F.least(F.greatest(F.floor((lat + 90.0) / 180.0 * ny), F.lit(0)), F.lit(ny - 1))
    j = F.pmod(F.floor((lon + 180.0) / 360.0 * nx), F.lit(nx))
    return cell_of(res, i, j)


def ring_offsets(k: int) -> list[tuple[int, int]]:
    """The (2k+1)² (di, dj) offsets of a Chebyshev k-ring (geo.k_ring)."""
    return [(di, dj) for di in range(-k, k + 1) for dj in range(-k, k + 1)]


def neighbours(df: DataFrame, i: Column, j: Column, res: int, offsets) -> DataFrame:
    """df × offsets → df's columns + (di, dj, ni, nj): for every row and
    (di, dj) offset, the neighbour pixel (ni, nj) of the row's pixel (i, j)
    on the res grid's cylinder (geo.k_ring's topology) — longitude wraps
    (nj = (j + dj) mod nx) and neighbours past a pole (ni outside [0, ny))
    are dropped. di/dj stay on the row so a caller can tag the centre.

    The offsets ride a broadcast cross join (a LocalRelation of (di, dj)
    rows, so a 4,225-offset ring-32 table plans as fast as a 9-offset one):
    the input side never shuffles. Offsets are not deduplicated: on a grid
    narrower than the stencil (nx ≤ 2·max|dj|) two offsets can name the
    same pixel."""
    ny, nx = grid_dims(res)
    offs = df.sparkSession.createDataFrame(list(offsets), "di int, dj int")
    return (
        df.crossJoin(F.broadcast(offs))
        .withColumn("ni", i + F.col("di"))
        .withColumn("nj", F.pmod(j + F.col("dj"), F.lit(nx)))
        .where((F.col("ni") >= 0) & (F.col("ni") < ny))
    )


def z_cell_col(lat: Column, lon: Column, level: int = 12) -> Column:
    """Morton-interleaved S2-analogue cell id (bit ops, JVM-side)."""
    n = 1 << level
    i = F.least(F.greatest(F.floor((lat + 90.0) / 180.0 * n), F.lit(0)), F.lit(n - 1)).cast("bigint")
    j = F.pmod(F.floor((lon + 180.0) / 360.0 * n), F.lit(n)).cast("bigint")
    out = F.lit(level).cast("bigint") * F.lit(1 << 48).cast("bigint")
    for b in range(level):
        out = out + F.shiftleft(F.shiftright(i, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        out = out + F.shiftleft(F.shiftright(j, b).bitwiseAND(F.lit(1)), 2 * b)
    return out


def oracle_cell_expr(lat: str, lon: str, res: int) -> str:
    """The grid-cell formula as ANSI SQL (DuckDB oracle twin of grid_cell_col)."""
    ny, nx = grid_dims(res)
    i = f"least(greatest(floor(({lat} + 90.0) / 180.0 * {ny}), 0), {ny - 1})"
    j = f"((CAST(floor(({lon} + 180.0) / 360.0 * {nx}) AS BIGINT) % {nx} + {nx}) % {nx})"
    return (
        f"(CAST({res} AS BIGINT) * {1 << RES_SHIFT} + CAST({i} AS BIGINT) * {1 << I_SHIFT} + {j})"
    )


ZCELL_LEVEL = 12  # the z-cell level the oracles and cell_compact use
COMPACT_MIN_LEVEL = 10


def oracle_zcell_expr(lat: str, lon: str) -> str:
    """Morton level-ZCELL_LEVEL z-cell as ANSI SQL (sum of per-bit terms)."""
    level = ZCELL_LEVEL
    n = 1 << level
    i = f"CAST(least(greatest(floor(({lat} + 90.0) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)"
    j = f"CAST(((CAST(floor(({lon} + 180.0) / 360.0 * {n}) AS BIGINT) % {n} + {n}) % {n}) AS BIGINT)"
    terms = [f"CAST({level} AS BIGINT) * {1 << 48}"]
    for b in range(level):
        terms.append(f"(({i} // {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"(({j} // {1 << b}) % 2) * {1 << (2 * b)}")
    return "(" + " + ".join(terms) + ")"


def with_cells(df: DataFrame, resolutions=(7, 8, 9), zlevel: int = 12) -> DataFrame:
    """Add cell_r{r} for each grid resolution + zcell_l{L} (S2-analogue)."""
    for r in resolutions:
        df = df.withColumn(f"cell_r{r}", grid_cell_col(F.col("lat"), F.col("lon"), r))
    if zlevel:
        df = df.withColumn(f"zcell_l{zlevel}", z_cell_col(F.col("lat"), F.col("lon"), zlevel))
    return df


# rows sample_cell_bounds reads, summed over all files of the table
BOUNDS_SAMPLE_ROWS = 8192


def sample_cell_bounds(images_path: str, n_parts: int, res: int = 7) -> list:
    """Range cut points [(cell_id, image_id), ...] for the tile shuffle from
    a BOUNDED driver-side read: row-group batches SPREAD EVENLY across each
    parquet file, capped at BOUNDS_SAMPLE_ROWS rows total — O(n_files) driver
    work and O(BOUNDS_SAMPLE_ROWS) memory regardless of table size. This
    plays the role Iceberg manifest statistics play on a real lakehouse;
    footer min/max stats can't carry the DERIVED cell key (cell = f(phash)),
    so a bounded scattered sample per file stands in.

    Scattered, not prefix: a prefix sample is only unbiased if key structure
    is uncorrelated with row order, and the Zipf pattern pool violates that
    enough to produce 3x-ideal partitions (measured round 3 — the 8-core
    straggler tail). Evenly-strided batches keep the read bounded while
    sampling the whole file.

    Bounds affect partition BALANCE only, never output (searchsorted
    routing in tile_assignment_scalable; output equality is pytest-pinned),
    so sampled bounds are exactly as correct as full-column bounds — and
    they remove the O(table) driver read that is a driver OOM at 10^12
    rows. Deterministic: same files -> same bounds, independent of core
    count.
    """
    import glob
    import os

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from ..functions import geo as geo_fns

    if os.path.isdir(images_path):
        paths = sorted(glob.glob(os.path.join(images_path, "*.parquet")))
    else:
        paths = [images_path]
    per_file = max(64, BOUNDS_SAMPLE_ROWS // max(1, len(paths)))
    chunks = []
    for p in paths:
        pf = pq.ParquetFile(p)
        try:
            ngr = pf.metadata.num_row_groups
            if ngr > 1:
                # row groups spread evenly across the file — IO stays
                # bounded (n_keep groups), coverage spans the whole file
                n_keep = min(ngr, max(2, per_file // 1024))
                gidx = sorted({g * (ngr - 1) // (n_keep - 1) for g in range(n_keep)})
                per_group = max(64, per_file // len(gidx))
                for g in gidx:
                    tbl = pf.read_row_group(g, columns=["image_id", "phash"]).to_pandas()
                    step = max(1, len(tbl) // per_group)
                    chunks.append(tbl.iloc[::step])
            else:
                # single row group (small file): one group IS the minimum IO
                # unit — read it and stride rows in memory for even coverage
                tbl = pf.read_row_group(0, columns=["image_id", "phash"]).to_pandas()
                step = max(1, len(tbl) // per_file)
                chunks.append(tbl.iloc[::step])
        finally:
            pf.close()
    sample = pd.concat(chunks, ignore_index=True)
    ids = sample["image_id"].tolist()
    lat, lon = geo_fns.latlon_from_phash(sample["phash"].to_numpy(), ids)
    cell = geo_fns.grid_cell(lat, lon, res)
    order = np.lexsort((np.array(ids), cell))
    cuts = [len(order) * k // n_parts for k in range(1, n_parts)]
    return [(int(cell[order[c]]), ids[order[c]]) for c in cuts]


def tile_assignment_scalable(
    points: DataFrame,
    res: int,
    partitions: int,
    keep_cols: tuple[str, ...] = (),
    return_rp: bool = False,
    bounds=None,
):
    """Deterministic (cell_id, image_id, order_) table — byte-for-byte stable
    across runs and parallelism levels (north-rule exactness criterion).
    order_ is dense from 1 within a cell, ordered by image_id — the analogue
    of nod_way(way_id, nod_id, order_) ordered membership
    (pbf2sqlite.c:422-428).

    No one-task-per-cell window: at 10^12 rows a hot cell (Zipf head) would
    serialize an entire reducer. Instead:

      1. range shuffle on (cell_id, image_id) + sortWithinPartitions — hot
         cells SPAN partitions instead of landing on one;
      2. per-(partition, cell) (count, min monotonic id) → driver (bounded by
         #cells + #partitions because ranges are contiguous) → cross-partition
         prefix offsets folded into one small (pid, cell_id, sub) table;
      3. order_ = monotonically_increasing_id() - sub, applied as a broadcast
         hash join — entirely JVM-side.

    Output equals the numpy rank-by-image_id reference (and the DuckDB
    tile_assignment oracle) at every partition count, with and without
    bounds — pinned by test_spark_geo.

    keep_cols: extra point columns carried through the shuffle and emitted
    untouched alongside (cell_id, image_id, order_) — lets downstream
    consumers (e.g. the PIP join) reuse the SAME range-shuffled cached data
    instead of a second materialization of the points (one cache fill and one
    full pass fewer in the fused flagship pipeline).

    The range shuffle takes one of two routes:

      * bounds given — precomputed range cut points [(cell_id, image_id),
        ...] (partitions-1 of them, ascending; sample_cell_bounds): rows
        route DIRECTLY to their partition through a codegen searchsorted
        (bounds_bucket_col) + magic-key hash repartition
        (magic_partition_keys) — the write-time bucketing pattern, where the
        bounds come from table statistics, not a per-job sample;
      * no bounds — repartitionByRange, which samples its input in an extra
        pass over the upstream plan (geolocate is JVM expressions, so that
        pass runs no Python).

    Both give byte-identical output; bounds quality only affects partition
    balance, never correctness.
    """
    spark = points.sparkSession
    # Preconditions of the folded _okey broadcast key (step 3 below): pid must
    # fit in 15 bits (sign bit safety) and the low 48 bits of cell_id must be
    # unique per cell, which holds for res <= 15 ((i<<27)|j < 2^42). Violating
    # either would silently corrupt order_ (duplicate broadcast keys multiply
    # join rows), so fail loudly — partitions is caller-controlled.
    if partitions >= (1 << 15):
        raise ValueError(
            f"tile_assignment_scalable: partitions={partitions} >= 2^15 would "
            "overflow the folded (pid << 48) order-join key; split the job or "
            "widen the key layout"
        )
    if res > 15:
        raise ValueError(
            f"tile_assignment_scalable: res={res} > 15 makes low-48 cell bits "
            "collide in the folded order-join key; use res <= 15"
        )
    cell = F.col(f"cell_r{res}") if f"cell_r{res}" in points.columns else grid_cell_col(
        F.col("lat"), F.col("lon"), res
    )
    sel = points.select(cell.alias("cell_id"), "image_id", *keep_cols)
    if bounds is not None:
        magic = magic_partition_keys(partitions)
        # LongType matters: HashPartitioning murmur3-hashes an INT over 4
        # bytes but a BIGINT over 8 — magic keys are computed for BIGINT
        route = F.element_at(
            F.array(*[F.lit(m).cast("long") for m in magic]),
            bounds_bucket_col(F.col("cell_id"), F.col("image_id"), bounds) + 1,
        )
        routed = sel.withColumn("_route", route).repartition(partitions, "_route")
        rp = (
            routed.drop("_route")
            .sortWithinPartitions("cell_id", "image_id")
            .cache()
        )
    else:
        rp = (
            sel.repartitionByRange(partitions, "cell_id", "image_id")
            .sortWithinPartitions("cell_id", "image_id")
            .cache()
        )
    # order_ is assigned ENTIRELY JVM-side. Construction: rows in each cached
    # partition sit in TOTAL order (cell_id, image_id) — unique keys, so the
    # order is deterministic even on cache-eviction recompute. monotonically_increasing_id() is
    # (partition_id << 33) + row_index_in_partition, so within a partition
    # (mid - min_mid_of_its_cell_run) is the row's position inside its
    # (partition, cell) run. The same stats pass that always ran now also
    # collects min(mid) per (partition, cell); the driver turns the
    # cross-partition prefix counts into one small (pid, cell_id, sub)
    # table — order_ = mid - sub — applied as a BROADCAST hash join
    # (≤ partitions × cells-in-range rows, bounded because ranges are
    # contiguous). Partitions beyond 2^33 rows would overflow the row-index
    # field (8.6e9 rows per partition — far past any sane task size).
    with_mid = rp.withColumn("_mid", F.monotonically_increasing_id())
    # cross-partition prefix offsets, vectorized; the fetch is Arrow
    # (toPandas), not py4j rows — ~#cells × #touched-partitions rows (bounded
    # because ranges are contiguous), and row-based collect of ~32k Rows
    # costs ~0.5-1 s of pure driver deserialization that Arrow doesn't.
    # order_ = (_mid - mn) + acc + 1 == _mid - (mn - acc - 1)
    # where acc = rows of the same cell in lower-pid partitions.
    import numpy as np
    import pandas as pd

    spdf = (
        with_mid.groupBy(F.spark_partition_id().alias("pid"), "cell_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("_mid").alias("min_mid"))
        .toPandas()
        .sort_values(["cell_id", "pid"], kind="stable", ignore_index=True)
    )
    acc = spdf.groupby("cell_id", sort=False)["cnt"].cumsum() - spdf["cnt"]
    # Join key folded to ONE BIGINT — (pid << 48) | low-48-of-cell — so the
    # broadcast side is Spark's dense LongHashedRelation instead of the
    # generic two-column unsafe-row relation: the per-row probe is then an
    # array index, not a composite-key hash+compare. Measured on the 50.9M-row
    # flagship checksum action: 6.0 s → 1.1 s at 8 pinned cores, 5.9 → 3.2 s
    # at 2 (the generic probe was also the stage whose CPU inflated ~3x under
    # 8-way memory contention). Low 48 bits of cell_id are (i << 27) | j —
    # unique per cell at a fixed res (res bits live above bit 54, constant
    # across the frame) and < 2^(27+res) <= 2^42 for res <= 15, so they never
    # collide with the pid field; pid < 2^15 keeps the key positive.
    mask48 = (1 << 48) - 1
    sub_pdf = pd.DataFrame(
        {
            "_okey": (spdf["pid"].to_numpy().astype(np.int64) << 48)
            | (spdf["cell_id"].to_numpy().astype(np.int64) & mask48),
            "_sub": (spdf["min_mid"] - acc - 1).astype(np.int64),
        }
    )
    sub_df = spark.createDataFrame(sub_pdf, schema="_okey long, _sub long")
    okey = F.shiftleft(F.spark_partition_id().cast("long"), 48).bitwiseOR(
        F.col("cell_id").bitwiseAND(F.lit(mask48))
    )
    tiles = (
        with_mid.withColumn("_okey", okey)
        .join(F.broadcast(sub_df), "_okey")
        .withColumn("order_", (F.col("_mid") - F.col("_sub")).cast("int"))
        .select("cell_id", "image_id", "order_", *keep_cols)
    )
    if return_rp:
        # hand the cached range-shuffled frame to callers that want to reuse
        # the SAME materialization (e.g. the PIP join)
        return tiles, rp
    return tiles


def write_partitioned(points: DataFrame, path: str) -> None:
    """Hive-partitioned layout keyed by the COARSE cell (the hierarchy's
    res-3 parent, 128 directories) with res-7 cell clustering inside each —
    so a cell predicate prunes directories at planning time (Catalyst
    partition pruning, the §4 'header skip' analogue) and the fine sort gives
    row-group skipping within. The res-3 parent of a res-7 cell is pure bit
    arithmetic on lat/lon, so both keys derive from the same columns."""
    pts = points.withColumn(
        "p_cell", grid_cell_col(F.col("lat"), F.col("lon"), 3)
    )
    (
        pts.repartition(F.col("p_cell"))
        .sortWithinPartitions("p_cell", "cell_r7", "image_id")
        .write.mode("overwrite")
        .partitionBy("p_cell")
        .parquet(path)
    )


# ------------------------------------------------ direct-routed tile shuffle

def _mmh3_long(v: int) -> int:
    """Spark's Murmur3 x86_32 of a BIGINT (two LE 32-bit words), seed 42 —
    matches F.hash(bigint) exactly (verified against the JVM)."""
    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = 42
    for k in ((v & 0xFFFFFFFF), ((v >> 32) & 0xFFFFFFFF)):
        k = rotl((k * c1) & 0xFFFFFFFF, 15)
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = (rotl(h, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 8
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h if h < 0x80000000 else h - 0x100000000


def magic_partition_keys(n: int) -> list[int]:
    """Smallest non-negative ints m_0..m_{n-1} with pmod(murmur3(m_i), n) == i:
    routing rows to `repartition(n, key)` with key = m_i lands them EXACTLY in
    partition i. This turns hash repartitioning into direct addressing."""
    found: dict[int, int] = {}
    m = 0
    while len(found) < n:
        r = _mmh3_long(m) % n
        if r not in found:
            found[r] = m
        m += 1
    return [found[i] for i in range(n)]


def bounds_bucket_col(cell: Column, image_id: Column, bounds) -> Column:
    """searchsorted((cell, image_id), bounds) as a codegen-able JVM expression:
    bucket = #bounds strictly below the row's (cell, image_id)."""
    b = F.lit(0)
    for c, i in bounds:
        b = b + F.when(
            (cell > F.lit(int(c)))
            | ((cell == F.lit(int(c))) & (image_id > F.lit(str(i)))),
            1,
        ).otherwise(0)
    return b


def cell_compact(points: DataFrame) -> DataFrame:
    """→ (cell, level) — hierarchical compaction of the occupied z-cell set
    (the H3 `compact` / S2 covering-normalization analogue): any 4 sibling
    cells that are ALL occupied are replaced by their parent, applied
    bottom-up from ZCELL_LEVEL to COMPACT_MIN_LEVEL.

    The Morton layout (z_cell_col: level·2^48 + interleaved bits) makes the
    hierarchy pure bit arithmetic — a child's parent is
    `((cell - lv·2^48) >> 2) + (lv-1)·2^48` and every parent has exactly 4
    children — so the whole operator is groupBy on JVM bigint keys.

    Plan: one distinct on the cell domain, then per level ONE map-side-
    combinable groupBy(parent) that both decides completeness (count = 4)
    and carries the ≤4 children for re-emission — no join, no second
    shuffle. All shuffles are on the cell domain (≪ points, bounded by
    4^level), so the operator scales with occupied area, not input rows.
    Output is an order-independent set; `level` marks the granularity kept.

    The distinct cell set and each level's groupBy are CACHED: every level
    references its `g` twice (keep-branch + parent carry-forward) and the
    final union references every level, so without the cache Spark plans
    independent subtrees and the FULL-TABLE distinct re-runs once per
    branch (measured: 6 parquet scans, 0 ReusedExchange at 2 levels). All
    cached intermediates live on the cell domain — grid-bounded at any
    input size.
    """
    cur = points.select(F.col(f"zcell_l{ZCELL_LEVEL}").alias("cell")).distinct().cache()
    cached = [cur]
    pieces = []
    for lv in range(ZCELL_LEVEL, COMPACT_MIN_LEVEL, -1):
        g = (
            cur.withColumn(
                "pcell",
                F.shiftright(F.col("cell") - F.lit(lv << 48), 2) + F.lit((lv - 1) << 48),
            )
            .groupBy("pcell")
            .agg(F.count(F.lit(1)).alias("c"), F.collect_list("cell").alias("children"))
        ).cache()
        cached.append(g)
        pieces.append(
            g.where(F.col("c") < 4)
            .select(F.explode("children").alias("cell"))
            .withColumn("level", F.lit(lv))
        )
        cur = g.where(F.col("c") == 4).select(F.col("pcell").alias("cell"))
    pieces.append(cur.withColumn("level", F.lit(COMPACT_MIN_LEVEL)))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    # the result is grid-bounded (≤ occupied cells), so cutting the lineage
    # eagerly is cheap — and lets every per-level cache be RELEASED here
    # instead of accumulating pinned executor storage across a long
    # multi-query session (knn_join_global's established pattern)
    out = out.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out
