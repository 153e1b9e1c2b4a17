"""Block decode — the reference's streaming PBF decoder, Spark-first.

Inverts sources/blocks.py with *pure DataFrame ops* (no UDF):

  D5 delta decode      → window cumsum per block (sum over rowsBetween)
  D2 zigzag decode     → (z >> 1) XOR -(z & 1)      (readosm.c:309-343)
  D6 fixed-point scale → / 1e7                      (readosm.c:1206-1211)
  D7 dictionary resolve→ element_at on the per-block strtab
                          (readosm.c:1296-1299; StringTable index 0 = "")
  D8 sentinel split    → slice keys_vals at its "" elements inside the row
                          (osmformat.proto:207-229)
  D9/D10 zip + posexplode → arrays_zip / posexplode  (readosm.c:1449-1460)

Each block is self-contained (osmformat.proto), so each is decoded where it
sits, as the reference decodes one PrimitiveBlock at a time
(readosm.c:1107-1309). The tag split never leaves its block row. The node
cumsum window needs its rows clustered by block_id: widen_if_narrow
hash-partitions the block rows that way, so the window plans no Exchange on
its output; on unclustered input the window shuffles on block_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.blocks import SCALE


def zigzag_decode_col(z):
    return F.shiftright(z, 1).bitwiseXOR(-(z.bitwiseAND(F.lit(1))))


def widen_if_narrow(blocks: DataFrame) -> DataFrame:
    """The local blocks fixture is ONE parquet row group, so one scan split,
    and the explode-heavy decode would run on a single core. When the scan is
    narrower than the session's parallelism, hash-partition the block rows by
    block_id to that parallelism: the decode then spreads over every core, and
    the per-block node window finds its clustering in place (Generate and a
    cached scan keep the partitioning) instead of shuffling the exploded
    stream. A many-file block store already scans wide and is returned as is.
    Every decode is per block, so block placement changes no result."""
    sc = blocks.sparkSession.sparkContext
    p = sc.defaultParallelism
    if blocks.rdd.getNumPartitions() < p:
        return blocks.repartition(p, "block_id")
    return blocks


def decode_nodes(blocks: DataFrame) -> DataFrame:
    """blocks → (block_id, pos, id, image_id, lat, lon).

    Dictionary resolve happens AFTER the explode as a plain element_at —
    higher-order `transform` is CodegenFallback (interpreted lambda per
    element), while Generate+Project fuse in whole-stage codegen — and
    BEFORE the window, so the 1000-string strtab never reaches the window's
    sort (only the one resolved string per row does)."""
    e = blocks.select(
        "block_id",
        "strtab",
        F.posexplode(F.arrays_zip("id_delta", "lat_dz", "lon_dz", "image_sid")).alias("pos", "e"),
    ).select(
        "block_id",
        "pos",
        F.col("e.id_delta").alias("id_delta"),
        F.col("e.lat_dz").alias("lat_dz"),
        F.col("e.lon_dz").alias("lon_dz"),
        F.element_at(F.col("strtab"), F.col("e.image_sid") + 1).alias("img"),
    )
    w = Window.partitionBy("block_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    return e.select(
        "block_id",
        "pos",
        F.sum(F.col("id_delta")).over(w).alias("id"),
        F.col("img").alias("image_id"),
        (F.sum(zigzag_decode_col(F.col("lat_dz"))).over(w) / SCALE).alias("lat"),
        (F.sum(zigzag_decode_col(F.col("lon_dz"))).over(w) / SCALE).alias("lon"),
    )


def _entities(blocks: DataFrame, *keep: str) -> tuple[DataFrame, Column]:
    """blocks → ((*keep, s, ends), ents): keys_vals resolved against strtab
    (s) and cut at every sentinel (an element whose string is "") into one
    string array per entity (ents), inside the row. s and ends are selects of
    their own, computed once per row, not once per lambda call. Callers
    posexplode ents itself: a generator over a plain column gets a non-empty
    filter inferred and pushed, with the whole cut inlined, below these
    selects."""
    resolved = blocks.select(
        *keep, F.transform("keys_vals", lambda x: F.element_at("strtab", x + 1)).alias("s")
    )
    n = F.size("s")
    # sentinel positions, then n: entity e is s[ends[e-1] + 1 : ends[e]]
    cut = resolved.select(
        *keep,
        "s",
        F.filter(F.sequence(F.lit(0), n), lambda i: (i == n) | (F.get("s", i) == "")).alias("ends"),
    )

    def first(e):
        return F.coalesce(F.get("ends", e - 1) + 1, F.lit(0))

    return cut, F.transform("ends", lambda end, e: F.slice("s", first(e) + 1, end - first(e)))


def _pairs(ents: DataFrame, *keep: str) -> DataFrame:
    """(*keep, ent, e) one row per entity → (*keep, ent, k, v): the entity
    alternates k, v, k, v, so every even element is a key and the next
    element its value (null for a dangling key at the entity's end)."""
    return (
        ents.select(*keep, "ent", "e", F.posexplode("e").alias("i", "k"))
        .where(F.col("i") % 2 == 0)
        .select(*keep, "ent", "k", F.get("e", F.col("i") + 1).alias("v"))
    )


def decode_tags(blocks: DataFrame) -> DataFrame:
    """blocks → (block_id, ent, k, v) — 0-delimited keys_vals stream split.

    ent is the entity ordinal within the block (join key to decode_nodes.pos).
    Every "" string is a sentinel (index 0 is the reserved one); the split
    happens inside the block row: no shuffle, no window."""
    cut, ents = _entities(blocks, "block_id")
    return _pairs(cut.select("block_id", F.posexplode(ents).alias("ent", "e")), "block_id")


def decode_way_refs(way_blocks: DataFrame) -> DataFrame:
    """way blocks → (way_id, nod_id, order_) — the way-refs delta decode
    (readosm.c:1423-1433: each ref is a sint64 delta against the previous
    ref within the SAME way) emitted in pbf2sqlite's way_nod shape
    (pbf2sqlite.c:755-770: INSERT INTO nod_way(way_id, nod_id, order_)).

    D5's second instance: decode_nodes cumsums across a block's node stream;
    here the cumsum window partitions by way, so state is bounded by way
    length (reference convention ≤2000 refs/way) and the only shuffle is on
    way_id — embarrassingly parallel at any table size.
    """
    ways = way_blocks.select(
        F.explode(F.arrays_zip("way_id", "refs_dz")).alias("w")
    ).select(F.col("w.way_id").alias("way_id"), F.col("w.refs_dz").alias("refs_dz"))
    e = ways.select("way_id", F.posexplode("refs_dz").alias("order_", "dz"))
    w = Window.partitionBy("way_id").orderBy("order_").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return e.select(
        "way_id",
        F.sum(zigzag_decode_col(F.col("dz"))).over(w).alias("nod_id"),
        F.col("order_").cast("int").alias("order_"),
    )


def decode_rel_members(rel_blocks: DataFrame) -> DataFrame:
    """relation blocks → (rel_of, order_, nod_id, way_id, rel_id, rol) — the
    relation-member delta decode + typed dispatch, D5's third and last wire
    stream merged with D11 (readosm.c:1575-1582: memids are sint64 deltas
    against the previous member WITHIN the same relation; pbf2sqlite.c:811-857
    dispatches each decoded id into exactly one of nod_id/way_id/rel_id by the
    member-type enum and resolves rol through the block string table).

    Plan: explode the per-relation parallel arrays (memids_dz ∥ types ∥
    roles_sid — D9's zip), cumsum the zigzag deltas over a window partitioned
    by relation (state bounded by members-per-relation, reference convention
    ≤ 8000/entity-block), resolve roles via element_at against the block's
    strtab riding the row (no join), then a three-way CASE dispatch into
    sparse typed columns. The only shuffle is the relation-keyed window —
    embarrassingly parallel at any table size.
    """
    rels = rel_blocks.select(
        "strtab",
        F.explode(F.arrays_zip("rel_id", "memids_dz", "types", "roles_sid")).alias("r"),
    ).select(
        F.col("r.rel_id").alias("rel_of"),
        "strtab",
        F.posexplode(
            F.arrays_zip(
                F.col("r.memids_dz").alias("dz"),
                F.col("r.types").alias("typ"),
                F.col("r.roles_sid").alias("sid"),
            )
        ).alias("order_", "m"),
    )
    w = Window.partitionBy("rel_of").orderBy("order_").rowsBetween(
        Window.unboundedPreceding, 0
    )
    memid = F.sum(zigzag_decode_col(F.col("m.dz"))).over(w)
    return rels.select(
        "rel_of",
        F.col("order_").cast("int").alias("order_"),
        F.when(F.col("m.typ") == 0, memid).alias("nod_id"),
        F.when(F.col("m.typ") == 1, memid).alias("way_id"),
        F.when(F.col("m.typ") == 2, memid).alias("rel_id"),
        F.element_at(F.col("strtab"), F.col("m.sid").cast("int") + 1).alias("rol"),
    )


def _way_points(way_blocks: DataFrame, blocks: DataFrame) -> DataFrame:
    """Every way ref joined to its node → (way_id, order_, nod_id, lat_e7,
    lon_e7). The node side is decode_nodes' cumsum windows WITHOUT the
    fixed-point division, so coords stay exact BIGINTs (the wire's own e7
    unit, readosm.c:1206-1211). Plan: refs decode (window per way, bounded
    ≤2000 refs by the reference's block convention) → equi-join to the node
    stream on nod_id (the one big shuffle; both sides hash-partition, AQE
    handles hot nodes)."""
    e = blocks.select(
        "block_id",
        F.posexplode(F.arrays_zip("id_delta", "lat_dz", "lon_dz")).alias("pos", "e"),
    )
    w = Window.partitionBy("block_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    nodes = e.select(
        F.sum(F.col("e.id_delta")).over(w).alias("nod_id"),
        F.sum(zigzag_decode_col(F.col("e.lat_dz"))).over(w).alias("lat_e7"),
        F.sum(zigzag_decode_col(F.col("e.lon_dz"))).over(w).alias("lon_e7"),
    )
    return decode_way_refs(way_blocks).join(nodes, "nod_id")


def way_simplify(
    way_blocks: DataFrame, blocks: DataFrame, snap_e7: int = 1 << 14
) -> DataFrame:
    """→ (way_id, seq, nod_id, lat_e7, lon_e7) — grid-snap polyline
    simplification: the vertex-decimation step a vector-tile pipeline runs
    before emitting a way at a given zoom (tippecanoe's droppable-point
    collapse class).  A vertex survives iff it is the way's FIRST vertex or
    its snap-grid cell (floor(coord_e7 / snap_e7) on both axes) differs
    from the PREVIOUS vertex's cell — consecutive same-cell runs collapse
    to their first vertex, and seq renumbers the survivors densely.

    snap_e7 = 2^14 e7-units ≈ 0.0016° ≈ 180 m at the equator — a ~z13 tile
    pixel.  The snap is pure integer-exact arithmetic (dividing an e7 coord
    by a power of two is exact in doubles, |coord| ≤ 1.8e9 < 2^53), so the
    kept set is bit-identical across engines and parallelism.

    Plan: _way_points → lag + row_number over the SAME (way_id, order_)
    window spec, so the filter and the renumber share one way-keyed
    shuffle.  Per-way state is bounded by the reference's ≤2000 refs/way
    convention — embarrassingly parallel at any table size."""
    ww = Window.partitionBy("way_id").orderBy("order_")
    si = F.floor(F.col("lat_e7") / F.lit(float(snap_e7)))
    sj = F.floor(F.col("lon_e7") / F.lit(float(snap_e7)))
    snapped = _way_points(way_blocks, blocks).select(
        "way_id",
        "order_",
        "nod_id",
        "lat_e7",
        "lon_e7",
        (
            (F.lag(si).over(ww).isNull())
            | (si != F.lag(si).over(ww))
            | (sj != F.lag(sj).over(ww))
        ).alias("keep"),
    )
    return (
        snapped.where("keep")
        .select(
            "way_id",
            (F.row_number().over(ww) - 1).cast("int").alias("seq"),
            "nod_id",
            "lat_e7",
            "lon_e7",
        )
    )


def decode_entities(blocks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """→ (nodes, tags) where tags carry the resolved image_id (EAV table —
    the analogue of pbf2sqlite's `tag(nod_id, k, v)`, pbf2sqlite.c:460-468).
    Entity ent's image_id is strtab[image_sid[ent]], zipped onto its tag
    piece inside the block row; entities past the last node are dropped."""
    with_img = blocks.select(
        "keys_vals",
        "strtab",
        F.transform("image_sid", lambda x: F.element_at("strtab", x + 1)).alias("img"),
    )
    cut, ents = _entities(with_img, "img")
    per_entity = cut.select(
        F.posexplode(F.arrays_zip(F.slice(ents, 1, F.size("img")).alias("e"), "img")).alias(
            "ent", "z"
        )
    ).select("ent", "z.e", F.col("z.img").alias("image_id"))
    return decode_nodes(blocks), _pairs(per_entity, "image_id").select("image_id", "k", "v")


def decode_metrics(blocks: DataFrame) -> DataFrame:
    """Per-block decode observability (SURVEY §2.5 O2/O3): dictionary size —
    the string-table high-watermark the reference prints (protobuf.c:308-312)
    — plus entity and key/value-stream cardinalities and the largest
    dictionary index actually referenced. Pure columnar arithmetic; at scale
    this is the table you alert on (a block whose max_sid >= strtab_size is
    corrupt — the wrong_assumption() analogue as data, readosm.c:65-68)."""
    return blocks.select(
        "block_id",
        F.size("strtab").alias("strtab_size"),
        F.size("id_delta").alias("n_entities"),
        F.size("keys_vals").alias("n_kv_stream"),
        F.greatest(
            F.array_max("image_sid").cast("bigint"),
            F.array_max("keys_vals").cast("bigint"),
        ).alias("max_sid"),
    ).orderBy("block_id")


def way_geometry(way_blocks: DataFrame, blocks: DataFrame) -> DataFrame:
    """→ (way_id, n_nodes, path_l1_e7, min/max lat/lon _e7) — per-way
    polyline geometry: what a pbf2sqlite consumer derives by joining
    nod_way(way_id, nod_id, order_) back to nod(id, lat, lon)
    (pbf2sqlite.c:755-770 + 460-468) and walking each way in ref order.

    All arithmetic stays in fixed-point e7 BIGINTs — no /1e7 round trip — so
    every output column is an exact integer and the value hash is
    parallelism-independent. Path length is the per-segment L1 sum with
    longitude wrapping at the antimeridian (360e7); bbox is plain min/max.

    Plan: _way_points → lead() over (way_id, order_) pairs consecutive
    nodes → map-side-combinable groupBy.
    """
    pts = _way_points(way_blocks, blocks)
    ww = Window.partitionBy("way_id").orderBy("order_")
    seg = pts.select(
        "way_id",
        "lat_e7",
        "lon_e7",
        F.lead("lat_e7").over(ww).alias("nlat"),
        F.lead("lon_e7").over(ww).alias("nlon"),
    )
    dlat = F.abs(F.col("nlat") - F.col("lat_e7"))
    dl = F.abs(F.col("nlon") - F.col("lon_e7"))
    dlon = F.least(dl, F.lit(3_600_000_000) - dl)
    return seg.groupBy("way_id").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(F.sum(dlat + dlon), F.lit(0)).alias("path_l1_e7"),
        F.min("lat_e7").alias("min_lat_e7"),
        F.max("lat_e7").alias("max_lat_e7"),
        F.min("lon_e7").alias("min_lon_e7"),
        F.max("lon_e7").alias("max_lon_e7"),
    )
