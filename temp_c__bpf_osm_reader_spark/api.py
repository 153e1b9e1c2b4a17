"""Driver contract: the query inventory (SURVEY §2) + DuckDB oracle twins.

Registry rule: every queries() value is a module-level function called as
(spark, sf_dir) that opens its own inputs — an operator taken directly from
operators/, or one of the compositions below, which join operators over
inputs shared through one helper each. Every fixture file is named once, by
the sources/ function that writes it; oracle_sql() takes each path from
that function.

Conventions that make the value-hash comparison exact:
  * float *aggregates* go through integer cents/basis-points (round(x*100) →
    BIGINT → exact sum → divide back) on BOTH sides — summation order can't
    perturb the result;
  * per-row double arithmetic mirrors the same expression tree in both
    dialects (IEEE ops are deterministic);
  * similarity scores are rounded to 6 decimals before ranking;
  * row_number ties are always broken by a unique key column;
  * non-SQL-expressible kernels (minhash, simhash, image decode) compare
    against goldens generated by an independent pure-Python implementation
    (sources/fixtures_text.py), which the oracle reads by absolute path.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import (
    decode,
    dedup,
    indexing,
    knn,
    multimodal,
    raster,
    relational,
    similarity,
    skew,
    spatial_join,
    temporal,
    text,
)
from .operators.indexing import oracle_cell_expr, oracle_zcell_expr
from .session import read_parquet
from .sources import audio as audio_source
from .sources import fixtures, fixtures_text, osm_datasource, xml_source
from .streaming import events as stream_events

# The driver's correctness harness runs oracles at sf0.01 — fixture paths in
# oracle SQL are therefore pinned to that scale. The env override exists for
# the local scale-stress harness (scripts/stress_oracles.py), which rebuilds
# the whole contract at a bigger synthetic sf; the driver never sets it.
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def ensure_oracle_fixtures() -> None:
    """Make sure every parquet the oracle SQL reads exists (idempotent):
    oracle_sql() opens each through the sources/ function that writes it."""
    oracle_sql()


# =====================================================================
# Inputs shared by the compositions
# =====================================================================

def _images_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixtures.read_fixture(spark, sf_dir, fixtures.ensure_images)


def _cells(spark: SparkSession, sf_dir: str, *resolutions: int, zlevel: int = 0) -> DataFrame:
    """The geolocated image table with a cell_r{r} column per grid
    resolution (and zcell_l{zlevel} when zlevel is set)."""
    return indexing.with_cells(
        indexing.geolocate_expr(_images_df(spark, sf_dir)), resolutions=resolutions, zlevel=zlevel
    )


def _checkpointed_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geolocated (image_id, lat, lon), spread over every core and
    materialized once. The PIP and kNN joins reference lat/lon in both the
    cell key and the exact refine; without the barrier the geolocate pass
    runs once per reference. The repartition lets the join's map side run at
    full width (the base fixture's row groups give few scan splits);
    localCheckpoint, not cache, so the storage is released when the
    DataFrame goes out of scope instead of staying pinned for the session."""
    return (
        indexing.geolocate_expr(_images_df(spark, sf_dir))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )


def _polygons_path(sf_dir: str) -> str:
    n = fixtures.n_images_for_sf(sf_dir)
    return fixtures.ensure_polygons(fixtures.n_polygons_for(n))


def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The node blocks, widened to the session's parallelism for the
    explode-heavy decoders."""
    return decode.widen_if_narrow(fixtures.read_fixture(spark, sf_dir, fixtures.ensure_blocks))


def _way_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fixtures.read_fixture(spark, sf_dir, fixtures.ensure_way_blocks)


def _stream_name(prefix: str, sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return f"{prefix}_{base.replace('.', '_')}"


# =====================================================================
# Compositions
# =====================================================================

def q_geolocate_cells(spark, sf_dir):
    return _cells(spark, sf_dir, 7, 8, 9, zlevel=12).select(
        "image_id", "lat", "lon", "cell_r7", "cell_r8", "cell_r9", "zcell_l12"
    )


def q_tile_assignment(spark, sf_dir):
    # Bounds are precomputed driver-side from a BOUNDED scattered sample of
    # the base table (manifest-statistics role; O(files) driver work, never
    # O(table)) so the shuffle routes directly instead of sampling its input
    # — without them repartitionByRange re-runs the whole geolocate pass.
    # 16 routed partitions regardless of core count: each bound adds a
    # comparison to the codegen'd searchsorted and a row group to the stats
    # collect — at driver-test scales 16 is plenty of parallelism, and the
    # partition count never changes the output (pytest-pinned)
    n_parts = 16
    images = fixtures.ensure_images(fixtures.n_images_for_sf(sf_dir))
    bounds = indexing.sample_cell_bounds(images, n_parts, res=7)
    return indexing.tile_assignment_scalable(
        _cells(spark, sf_dir, 7), 7, partitions=n_parts, bounds=bounds
    ).select(
        "cell_id", "image_id", F.col("order_").cast("bigint").alias("order_")
    )


def q_cell_counts_salted(spark, sf_dir):
    pts = _cells(spark, sf_dir, 7)
    return skew.salted_group_count(pts.select(F.col("cell_r7").alias("cell_id")), "cell_id")


def q_raster_density(spark, sf_dir):
    """vector→raster: rasterize the point layer onto the res-8 grid.

    Emits one row per occupied raster pixel (row_i, col_j) with its
    density — the vector→raster half of the north rule's raster↔vector
    pair; tile_assignment is the raster→vector half (grid cell →
    deterministic ordered image table). The pixel is the res-8 cell id
    decoded JVM-side (indexing.cell_ij): a map-side-combinable groupBy on
    two small longs — at 10^12 rows the shuffle carries only
    one partial row per (pixel × task)."""
    i, j = indexing.cell_ij(F.col("cell_r8"))
    return (
        _cells(spark, sf_dir, 8)
        .groupBy(i.alias("row_i"), j.alias("col_j"))
        .agg(F.count("*").alias("n_images"), F.min("image_id").alias("first_image"))
    )


def q_tile_pyramid(spark, sf_dir):
    """Multi-resolution raster pyramid (res 8 → 5) over the point layer.

    The map-tile-server rollup: level r-1 aggregates level r's raster, not
    the raw points — see operators/raster.pyramid for the scale argument."""
    return raster.pyramid(_cells(spark, sf_dir, 8), "cell_r8", base_res=8, min_res=5)


def q_focal_sum(spark, sf_dir):
    """3×3 focal-sum raster statistic at res 8 (lon wraps, lat clamps)."""
    return raster.focal_sum(_cells(spark, sf_dir, 8), "cell_r8", res=8)


def q_spatial_autocorr(spark, sf_dir):
    """Global Moran's I (rook weights, cylinder topology) of the res-8
    density raster — exact BIGINT components + one fixed-expression DOUBLE.
    See operators/raster.global_autocorr."""
    return raster.global_autocorr(_cells(spark, sf_dir, 8), "cell_r8", res=8)


def q_adaptive_grid(spark, sf_dir):
    """Adaptive quadtree tiling res 5→8, split cells with > 3 points —
    emitted cells partition the occupied space (first sparse node on the
    way down, or an overloaded res-8 leaf). See
    operators/raster.adaptive_grid."""
    return raster.adaptive_grid(
        _cells(spark, sf_dir, 8), "cell_r8", base_res=8, min_res=5, threshold=3
    )


def q_local_autocorr(spark, sf_dir):
    """Per-pixel local Moran's I (LISA hotspot map) over the res-8 density
    raster — exact BIGINT neighbor sums + fixed-expression DOUBLE indicator.
    See operators/raster.local_autocorr."""
    return raster.local_autocorr(_cells(spark, sf_dir, 8), "cell_r8", res=8)


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics: per-polygon aggregates of the points inside it.

    Composes the two-phase PIP join with an integer-exact aggregate layer
    (floor(coord*1e6) BIGINT sums — order-independent, so the value hash is
    stable at any parallelism; the module docstring's cents convention).
    The join key is image_id (unique), the groupBy has one row per polygon
    — count/min/sum are all map-side combinable, so polygon skew (a dense
    city polygon at 10^12 rows) collapses before the shuffle."""
    pts = indexing.geolocate_expr(_images_df(spark, sf_dir))
    return (
        q_pip_join(spark, sf_dir).join(pts, "image_id")
        .groupBy("polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("image_id").alias("first_image"),
            F.sum(F.floor(F.col("lat") * F.lit(1000000.0))).alias("sum_lat_e6"),
            F.sum(F.floor(F.col("lon") * F.lit(1000000.0))).alias("sum_lon_e6"),
        )
    )


def q_raster_polygonize(spark, sf_dir):
    """Raster→vector region extraction (GDAL polygonize class): 4-connected
    components over the occupied res-8 pixels → one row per region with
    cell/image counts and pixel bbox.  The inverse direction of
    raster_density, closing the north rule's raster↔vector pair in BOTH
    directions.  Iterative min-label propagation + pointer jumping on the
    raster-bounded component graph (≤131k nodes at res 8 regardless of
    input size); oracled by an independent sequential union-find golden
    (sources/fixtures.ensure_golden_regions)."""
    return raster.polygonize(_cells(spark, sf_dir, 8), "cell_r8", res=8)


# eps must be ≤ a res-16 cell side (180/2^16 = 0.00275°) for 3x3-blocking
# completeness — AND the blocking res must track eps, not sit at the coarse
# indexing res: the phash-seeded coordinates put near-duplicate images in
# shared ~0.2° pockets (up to ~7% of the table in ONE pocket at sf1.0), so
# blocking at res 8 (0.7° cells) makes the candidate set quadratic in pocket
# size (measured 4.5e9 candidate pairs at sf1.0). At res 16 a pocket spreads
# over ~10k cells and candidates stay proportional to the true pair count.
BOX_EPS_DEG = 0.002
BOX_RES = 16


def q_box_pairs(spark, sf_dir):
    """Distance-bounded spatial self-join: all image pairs within a 0.002°
    lat/lon box (lon wraps), via 3×3 neighbor-cell blocking at res 16 — the
    DWITHIN pair join next to pip_join and knn. See
    operators/spatial_join.box_self_join for the scale plan and the BOX_RES
    comment above for why the blocking res tracks eps."""
    return spatial_join.box_self_join(
        _cells(spark, sf_dir, BOX_RES), f"cell_r{BOX_RES}", eps_deg=BOX_EPS_DEG, res=BOX_RES
    )


def q_cell_compact(spark, sf_dir):
    """Hierarchical z-cell compaction (H3 `compact` analogue) of the
    occupied level-12 cover down to level 10 — the covering-normalization
    step a tile-serving consumer runs on the indexed layer. All bit
    arithmetic on the Morton ids; shuffles only on the (small) cell domain.
    See operators/indexing.cell_compact."""
    return indexing.cell_compact(_cells(spark, sf_dir, 7, 8, 9, zlevel=12))


def q_pip_join(spark, sf_dir):
    polys = pd.read_parquet(_polygons_path(sf_dir))
    return spatial_join.pip_join(_checkpointed_points(spark, sf_dir), polys)


def q_polygon_stats(spark, sf_dir):
    """Per-polygon shoelace geometry (signed area ×2, L1 perimeter, vertex
    centroid sums) in exact e7/e14 integers — the consumer-side geometry
    derivation pbf2sqlite leaves to its nod_way readers (pbf2sqlite.c:
    422-428). Shuffle-free: transform/aggregate HOFs inside whole-stage
    codegen, one pass over the polygon scan. See
    operators/spatial_join.polygon_stats."""
    return spatial_join.polygon_stats(read_parquet(spark, _polygons_path(sf_dir)))


def q_pip_by_kind(spark, sf_dir):
    kinds = read_parquet(spark, _polygons_path(sf_dir)).select("polygon_id", "kind")
    return q_pip_join(spark, sf_dir).join(F.broadcast(kinds), "polygon_id").groupBy("kind").agg(
        F.count(F.lit(1)).alias("n")
    )


def _knn_rows(spark, sf_dir, join):
    """kNN of every 100th image against all images, through `join`."""
    pts = _checkpointed_points(spark, sf_dir)
    queries = pts.filter(
        (F.regexp_extract("image_id", r"img_(\d+)", 1).cast("long") % 100) == 0
    )
    return join(pts, queries).select(
        "query_image_id", "neighbor_image_id", F.col("rank").cast("bigint").alias("rank"), "dist_m"
    )


def q_knn(spark, sf_dir):
    """Default kNN: the fixed ring-2 plan. The escalating plan (knn_global)
    runs this same ring-2 join as its first round and only adds passes, so
    it cannot be faster (measurements in BASELINE.md)."""
    return _knn_rows(spark, sf_dir, knn.knn_join)


def q_knn_global(spark, sf_dir):
    """Escalating-ring kNN (rings 2→8→32) — the k-completeness variant:
    sparse-region queries that ring 2 cannot satisfy escalate until k
    neighbors exist. Costs round-1 (≡ the fixed plan) + one extra
    points-table pass per escalation round, so it is the completeness
    option, not the throughput default (see q_knn)."""
    return _knn_rows(spark, sf_dir, knn.knn_join_global)


def q_decode_nodes(spark, sf_dir):
    return decode.decode_nodes(_blocks(spark, sf_dir))


def q_decode_tags(spark, sf_dir):
    _, tags = decode.decode_entities(_blocks(spark, sf_dir))
    return tags


def q_decode_way_refs(spark, sf_dir):
    return decode.decode_way_refs(_way_blocks(spark, sf_dir))


def q_decode_rel_members(spark, sf_dir):
    return decode.decode_rel_members(
        fixtures.read_fixture(spark, sf_dir, fixtures.ensure_rel_blocks)
    )


def q_decode_metrics(spark, sf_dir):
    # a per-block projection: the unwidened scan is already as wide as needed
    return decode.decode_metrics(fixtures.read_fixture(spark, sf_dir, fixtures.ensure_blocks))


def q_way_geometry(spark, sf_dir):
    """Per-way polyline geometry (node count, exact-integer L1 path length
    with antimeridian wrap, e7 bbox) — decode_way_refs joined back to the
    node stream, the nod_way ⋈ nod walk a pbf2sqlite consumer runs. See
    operators/decode.way_geometry."""
    return decode.way_geometry(_way_blocks(spark, sf_dir), _blocks(spark, sf_dir))


def q_way_simplify(spark, sf_dir):
    """Grid-snap polyline simplification (vector-tile vertex decimation):
    keep a way vertex iff its snap-grid cell differs from the previous
    vertex's — exact integer spec, kept set identical across engines and
    parallelism. Registered at snap 2^26 e7 (~6.7°): the synthetic way
    fixture's vertices are degrees apart (refs jump the ordinal space), so
    that is the coarsest-zoom scale where the collapse branch is live
    (~3.5%% of vertices drop at sf0.01); the z13-pixel default 2^14 would
    correctly keep everything. See operators/decode.way_simplify."""
    return decode.way_simplify(_way_blocks(spark, sf_dir), _blocks(spark, sf_dir), snap_e7=1 << 26)


def q_phash_near_dup(spark, sf_dir):
    """Per-image duplicate profile via EXACT banded Hamming over phash —
    all pairwise work on the deduplicated hash domain (D ≪ n rows), profile
    broadcast back onto the image scan. See operators/dedup.phash_near_dup
    for the scale rationale (pair output would be quadratic in hot-cluster
    size: 1.76M pairs at sf0.01)."""
    return dedup.phash_near_dup(_images_df(spark, sf_dir))


def _osm_xml(spark, sf_dir, what):
    """The .osm XML shards parsed by the engine's Python Data Source V2
    connector (spark.read.format("osmxml") — sources/osm_datasource.py,
    with shard filter pushdown)."""
    osm_datasource.register(spark)
    return (
        spark.read.format("osmxml")
        .option("what", what)
        .load(xml_source.ensure_xml(fixtures.n_images_for_sf(sf_dir)))
    )


def q_xml_nodes(spark, sf_dir):
    """Cross-format dual-decode (SURVEY §5.2): Spark parses the .osm XML
    shards; the oracle decodes the SAME entities from the PBF-analogue
    blocks — the reference's XML-vs-PBF golden check."""
    return _osm_xml(spark, sf_dir, "nodes")


def q_xml_tags(spark, sf_dir):
    """The tag side of the XML dual-decode (oracle: the blocks' EAV rows)."""
    return _osm_xml(spark, sf_dir, "tags")


def q_events_windowed_stream(spark, sf_dir):
    """Structured Streaming twin of events_windowed, driven to completion
    against a file source — stream≡batch equivalence as a driver-checked
    oracle (the batch GROUP BY is the oracle SQL)."""
    return stream_events.windowed_counts_stream(
        spark, sf_dir, query_name=_stream_name("win_out", sf_dir)
    )


def q_user_totals_stream(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running (n_events, total_value) state driven to completion over the file
    source; the final state per user must equal the batch GROUP BY (the
    oracle). The API the task brief names for custom stateful operators."""
    return stream_events.stateful_user_totals(
        spark, sf_dir, query_name=_stream_name("user_tot", sf_dir)
    )


def q_cell_counts_stream(spark, sf_dir):
    """Streaming ingest ≡ batch: per-cell counts maintained as streaming
    state over incrementally-consumed input; oracle is the batch GROUP BY."""
    return stream_events.cell_counts_stream(
        spark, sf_dir, query_name=_stream_name("cells_out", sf_dir)
    )


# =====================================================================
# Registry
# =====================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Each value is a module-level function called as (spark, sf_dir) that
    opens its own inputs: an operator, or a composition above. Registry
    order is significant: the first 50 entries are the hard-signal rows,
    and every capability class keeps one oracled representative there. The
    tail holds the class twins and the rows-only entries."""
    return {
        # geo / tiling / spatial join / knn (north-star operators)
        "geolocate_cells": q_geolocate_cells,
        "tile_assignment": q_tile_assignment,
        "cell_counts_salted": q_cell_counts_salted,
        "pip_join": q_pip_join,
        "knn": q_knn,
        "pip_by_kind": q_pip_by_kind,
        # raster analytics over the rasterized point layer (north-rule
        # raster<->vector pair + the classic raster trio on top)
        "raster_density": q_raster_density,
        "tile_pyramid": q_tile_pyramid,
        "zonal_stats": q_zonal_stats,
        "raster_polygonize": q_raster_polygonize,
        "spatial_autocorr": q_spatial_autocorr,
        "polygon_stats": q_polygon_stats,
        "cell_compact": q_cell_compact,
        # decode family (the reference's load loop, SURVEY §2.2)
        "decode_nodes": q_decode_nodes,
        "decode_tags": q_decode_tags,
        "decode_way_refs": q_decode_way_refs,
        "decode_rel_members": q_decode_rel_members,
        "xml_nodes": q_xml_nodes,
        "xml_tags": q_xml_tags,
        "focal_sum": q_focal_sum,
        # multimodal plumbing (golden-oracled — S4/S5/D4 ride these)
        "decode_integrity": multimodal.decode_integrity,
        "block_features_flat": multimodal.block_features_flat,
        "box_pairs": q_box_pairs,
        # reference queries/ dir 1:1 twins
        "addr_pivot_union": relational.addr_pivot_union,
        "way_geometry": q_way_geometry,
        "iso3166_node": relational.iso3166_node,
        # relational layer (SURVEY §2.3 + §2.4)
        "q1_lineitem_agg": relational.q1_lineitem_agg,
        "way_simplify": q_way_simplify,
        "adaptive_grid": q_adaptive_grid,
        "image_metrics": multimodal.image_metrics,
        "decontaminate": text.decontaminate,
        "ref_query_pack": relational.ref_query_pack,
        "ordered_reassembly": relational.ordered_reassembly,
        "topk_orders_per_customer": relational.topk_orders_per_customer,
        "cube_lineitem": relational.cube_lineitem,
        "props_json_agg": relational.props_json_agg,
        "asof_purchase_view": temporal.asof_purchase_view,
        "distinct_parts_per_flag": relational.distinct_parts_per_flag,
        "running_user_value": relational.running_user_value,
        "sessionize": relational.sessionize,
        "anti_join_customers": relational.anti_join_customers,
        # streaming ingest (stream ≡ batch cell counts)
        "cell_counts_stream": q_cell_counts_stream,
        # text analysis / dedup (training-data pipeline layer)
        "local_autocorr": q_local_autocorr,
        "phash_near_dup": q_phash_near_dup,
        "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
        "dedup_clusters": dedup.dedup_clusters,
        "repetition_stats": text.repetition_stats,
        "simhash_pairs": dedup.simhash_pairs,
        # similarity search (golden-oracled recall for BOTH approximate paths)
        "ann_recall_srp": similarity.ann_recall_srp,
        "ann_recall_ivf": similarity.ann_recall_ivf,
        # ---- tail: capability-duplicate oracled twins
        "emb_near_dup_bucketed": similarity.emb_near_dup_bucketed,
        "quality_score": text.quality_score,
        "typed_members": relational.typed_members,
        "ann_topk": similarity.ann_topk_bruteforce,
        "emb_near_dup": similarity.near_dup_pairs,
        "knn_global": q_knn_global,
        "blur_metric": multimodal.laplacian_stats,
        "events_windowed_stream": q_events_windowed_stream,
        "frame_sample": multimodal.frame_sample,
        "resize_nn": multimodal.resize_nn,
        "denotation_count": relational.denotation_count,
        "route_wide": relational.route_wide,
        "rel_member_tags": relational.rel_member_tags,
        "lang_id": text.lang_id,
        "events_pivot": relational.events_pivot,
        "ngram_jaccard_pairs": text.ngram_jaccard_pairs,
        "caption_semi_join": relational.caption_semi_join,
        "fingerprint": text.fingerprint,
        "multi_branch_union": relational.multi_branch_union,
        "caption_exact_dedup": text.caption_exact_dedup,
        "decode_metrics": q_decode_metrics,
        "audio_window_energy": multimodal.audio_window_energy,
        "iso3166_countries": relational.iso3166_countries,
        "semi_join_orders": relational.semi_join_orders,
        "exact_dedup_groups": text.exact_dedup_groups,
        "token_stats": text.token_stats,
        "kmeans_assign": similarity.kmeans_assign,
        "tag_pivot": relational.tag_pivot,
        "events_windowed": relational.events_windowed,
        "user_totals_stream": q_user_totals_stream,
        "rel_tag_freq": relational.rel_tag_freq,
        "null_scan": relational.null_scan,
        "rollup_lineitem": relational.rollup_lineitem,
        "revenue_by_segment": relational.revenue_by_segment,
        "event_pairs_window": temporal.event_pairs_window,
        "date_projection": relational.date_projection,
        # ---- tail: approximate / array-typed — rows-only by design
        "ann_topk_srp": similarity.ann_topk_srp,
        "ann_topk_ivf": similarity.ann_topk_ivf,
        "block_features": multimodal.block_mean_features,
    }


# =====================================================================
# Oracle SQL (DuckDB dialect)
# =====================================================================

_CELL7 = oracle_cell_expr("lat", "lon", 7)
_CELL8 = oracle_cell_expr("lat", "lon", 8)
_CELL9 = oracle_cell_expr("lat", "lon", 9)
_CELL16 = oracle_cell_expr("lat", "lon", 16)
_ZCELL = oracle_zcell_expr("lat", "lon")


def _cnt(word: str) -> str:
    """DuckDB twin of text._count_token (length-difference occurrence count)."""
    pad = "(' ' || text || ' ')"
    return (
        f"CAST((length({pad}) - length(replace({pad}, ' {word} ', ' '))) / {len(word) + 1} AS BIGINT)"
    )


def _lang_votes() -> dict[str, str]:
    return {
        lang: "(" + " + ".join(_cnt(w) for w in ws) + ")"
        for lang, ws in text.STOPWORDS.items()
    }


def oracle_sql() -> dict[str, str]:
    # every path comes from the sources/ function that writes the file
    # (generating it if missing)
    sf = ORACLE_SF_DIR
    n = fixtures.n_images_for_sf(sf)                   # 10600 at sf0.01
    m = fixtures.n_polygons_for(n)                     # 189 at sf0.01
    images = fixtures.ensure_images(n)
    polygons = fixtures.ensure_polygons(m)
    blocks = fixtures.ensure_blocks(n)
    way_blocks = fixtures.ensure_way_blocks(n)
    rel_blocks = fixtures.ensure_rel_blocks(n)
    collections = fixtures.ensure_collections(n)
    emb_dups = fixtures.ensure_emb_dups(fixtures.n_dup_vecs_for(n))
    eav_all = fixtures_text.ensure_eav_all(n)
    meta_corrupt = fixtures_text.ensure_meta_corrupt(n)
    golden_geo = fixtures.ensure_golden_geo(n)
    golden_pip = fixtures.ensure_golden_pip(n, m)
    golden_knn = fixtures.ensure_golden_knn(n)
    golden_knn_global = fixtures.ensure_golden_knn_global(n)
    golden_regions = fixtures.ensure_golden_regions(n)
    golden_decode = fixtures_text.ensure_golden_decode(n)
    golden_frames = fixtures_text.ensure_golden_frames(n)
    golden_blockmeans = fixtures_text.ensure_golden_blockmeans(n)
    golden_resize = fixtures_text.ensure_golden_resize(n)
    golden_laplacian = fixtures_text.ensure_golden_laplacian(n)
    golden_audio = audio_source.ensure_golden_audio_energy(audio_source.n_clips_for(n))
    golden_minhash = fixtures_text.ensure_golden_minhash(sf)
    golden_simhash = fixtures_text.ensure_golden_simhash(sf)
    golden_clusters = fixtures_text.ensure_golden_clusters(sf)
    golden_kmeans = fixtures_text.ensure_golden_kmeans(sf)
    golden_recall = fixtures_text.ensure_golden_recall_srp(sf)
    golden_recall_ivf = fixtures_text.ensure_golden_recall_ivf(sf)
    v = _lang_votes()
    best = f"greatest({v['en']}, {v['fr']}, {v['de']}, {v['es']})"
    decode_nodes_sql = f"""
            WITH e AS (
              SELECT block_id,
                     unnest(id_delta) AS idd,
                     unnest(lat_dz) AS latz,
                     unnest(lon_dz) AS lonz,
                     unnest(list_transform(image_sid, s -> strtab[s + 1])) AS image_id,
                     unnest(generate_series(0, len(id_delta) - 1)) AS pos
              FROM '{blocks}')
            SELECT block_id, CAST(pos AS INTEGER) AS pos,
                   CAST(sum(idd) OVER w AS BIGINT) AS id,
                   image_id,
                   sum(xor(latz >> 1, -(latz & 1))) OVER w / 10000000.0 AS lat,
                   sum(xor(lonz >> 1, -(lonz & 1))) OVER w / 10000000.0 AS lon
            FROM e
            WINDOW w AS (PARTITION BY block_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    sql = {
        "geolocate_cells": f"""
            SELECT image_id, lat, lon,
                   {_CELL7} AS cell_r7, {_CELL8} AS cell_r8, {_CELL9} AS cell_r9,
                   {_ZCELL} AS zcell_l12
            FROM '{golden_geo}'
        """,
        "tile_assignment": f"""
            SELECT {_CELL7} AS cell_id, image_id,
                   row_number() OVER (PARTITION BY {_CELL7} ORDER BY image_id) AS order_
            FROM '{golden_geo}'
        """,
        "cell_counts_salted": f"""
            SELECT {_CELL7} AS cell_id, count(*) AS n FROM '{golden_geo}' GROUP BY 1
        """,
        "cell_counts_stream": f"""
            SELECT {_CELL7} AS cell_id, count(*) AS n_images,
                   min(image_id) AS first_image
            FROM '{golden_geo}' GROUP BY 1
        """,
        "pip_join": f"SELECT image_id, polygon_id FROM '{golden_pip}'",
        "pip_by_kind": f"""
            SELECT p.kind, count(*) AS n
            FROM '{golden_pip}' g JOIN '{polygons}' p USING (polygon_id)
            GROUP BY 1
        """,
        "knn": f"""
            SELECT query_image_id, neighbor_image_id, CAST(rank AS BIGINT) AS rank, dist_m
            FROM '{golden_knn}'
        """,
        "knn_global": f"""
            SELECT query_image_id, neighbor_image_id, CAST(rank AS BIGINT) AS rank, dist_m
            FROM '{golden_knn_global}'
        """,
        "decode_nodes": decode_nodes_sql,
        # way-refs delta decode (readosm.c:1423-1433 → pbf2sqlite.c:755-770):
        # refs are zigzag(delta) WITHIN each way, so the cumsum partitions by
        # way_id — D5's second instance, independent of the node stream
        "decode_way_refs": f"""
            WITH w AS (
              SELECT unnest(way_id) AS way_id, unnest(refs_dz) AS refs
              FROM '{way_blocks}'),
            e AS (
              SELECT way_id,
                     unnest(refs) AS dz,
                     unnest(generate_series(0, len(refs) - 1)) AS order_
              FROM w)
            SELECT way_id,
                   CAST(sum(xor(dz >> 1, -(dz & 1)))
                        OVER (PARTITION BY way_id ORDER BY order_
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS nod_id,
                   CAST(order_ AS INTEGER) AS order_
            FROM e
        """,
        # relation-member delta decode + typed dispatch (readosm.c:1575-1582
        # -> pbf2sqlite.c:811-857): memids are zigzag(delta) WITHIN each
        # relation, dispatched into sparse typed columns by the member-type
        # enum; roles resolve through the block string table — D5's third
        # stream merged with D11 in wire form
        "decode_rel_members": f"""
            WITH r AS (
              SELECT strtab,
                     unnest(rel_id) AS rel_of,
                     unnest(memids_dz) AS dz_l,
                     unnest(types) AS typ_l,
                     unnest(roles_sid) AS sid_l
              FROM '{rel_blocks}'),
            e AS (
              SELECT rel_of, strtab,
                     unnest(dz_l) AS dz,
                     unnest(typ_l) AS typ,
                     unnest(sid_l) AS sid,
                     unnest(generate_series(0, len(dz_l) - 1)) AS order_
              FROM r),
            d AS (
              SELECT rel_of, order_, typ, strtab, sid,
                     CAST(sum(xor(dz >> 1, -(dz & 1)))
                          OVER (PARTITION BY rel_of ORDER BY order_
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS memid
              FROM e)
            SELECT rel_of,
                   CAST(order_ AS INTEGER) AS order_,
                   CASE WHEN typ = 0 THEN memid END AS nod_id,
                   CASE WHEN typ = 1 THEN memid END AS way_id,
                   CASE WHEN typ = 2 THEN memid END AS rel_id,
                   strtab[CAST(sid AS INTEGER) + 1] AS rol
            FROM d
        """,
        "phash_near_dup": f"""
            WITH ph AS (SELECT phash, count(*) AS c FROM '{images}' GROUP BY 1),
            nb AS (
              SELECT a.phash,
                     CAST(sum(b.c) AS INTEGER) AS near_image_count,
                     CAST(count(*) AS INTEGER) AS near_hash_count
              FROM ph a JOIN ph b
                ON a.phash <> b.phash
               AND bit_count(xor(a.phash, b.phash)) <= 3
              GROUP BY 1)
            SELECT i.image_id, i.phash,
                   CAST(ph.c - 1 AS INTEGER) AS dup_count,
                   coalesce(nb.near_image_count, 0) AS near_image_count,
                   coalesce(nb.near_hash_count, 0) AS near_hash_count
            FROM '{images}' i JOIN ph USING (phash) LEFT JOIN nb USING (phash)
        """,
        "way_geometry": f"""
            WITH w AS (
              SELECT unnest(way_id) AS way_id, unnest(refs_dz) AS refs
              FROM '{way_blocks}'),
            we AS (
              SELECT way_id,
                     unnest(refs) AS dz,
                     unnest(generate_series(0, len(refs) - 1)) AS order_
              FROM w),
            refs AS (
              SELECT way_id,
                     CAST(sum(xor(dz >> 1, -(dz & 1)))
                          OVER (PARTITION BY way_id ORDER BY order_
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS nod_id,
                     order_
              FROM we),
            ne AS (
              SELECT block_id,
                     unnest(id_delta) AS idd,
                     unnest(lat_dz) AS latz,
                     unnest(lon_dz) AS lonz,
                     unnest(generate_series(0, len(id_delta) - 1)) AS pos
              FROM '{blocks}'),
            nodes AS (
              SELECT CAST(sum(idd) OVER nw AS BIGINT) AS nod_id,
                     CAST(sum(xor(latz >> 1, -(latz & 1))) OVER nw AS BIGINT) AS lat_e7,
                     CAST(sum(xor(lonz >> 1, -(lonz & 1))) OVER nw AS BIGINT) AS lon_e7
              FROM ne
              WINDOW nw AS (PARTITION BY block_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            seg AS (
              SELECT way_id, lat_e7, lon_e7,
                     lead(lat_e7) OVER ow AS nlat,
                     lead(lon_e7) OVER ow AS nlon
              FROM refs JOIN nodes USING (nod_id)
              WINDOW ow AS (PARTITION BY way_id ORDER BY order_))
            SELECT way_id,
                   count(*) AS n_nodes,
                   coalesce(CAST(sum(abs(nlat - lat_e7)
                       + least(abs(nlon - lon_e7), 3600000000 - abs(nlon - lon_e7)))
                       AS BIGINT), 0) AS path_l1_e7,
                   min(lat_e7) AS min_lat_e7,
                   max(lat_e7) AS max_lat_e7,
                   min(lon_e7) AS min_lon_e7,
                   max(lon_e7) AS max_lon_e7
            FROM seg GROUP BY way_id
        """,
        "way_simplify": f"""
            WITH w AS (
              SELECT unnest(way_id) AS way_id, unnest(refs_dz) AS refs
              FROM '{way_blocks}'),
            we AS (
              SELECT way_id,
                     unnest(refs) AS dz,
                     unnest(generate_series(0, len(refs) - 1)) AS order_
              FROM w),
            refs AS (
              SELECT way_id,
                     CAST(sum(xor(dz >> 1, -(dz & 1)))
                          OVER (PARTITION BY way_id ORDER BY order_
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS nod_id,
                     order_
              FROM we),
            ne AS (
              SELECT block_id,
                     unnest(id_delta) AS idd,
                     unnest(lat_dz) AS latz,
                     unnest(lon_dz) AS lonz,
                     unnest(generate_series(0, len(id_delta) - 1)) AS pos
              FROM '{blocks}'),
            nodes AS (
              SELECT CAST(sum(idd) OVER nw AS BIGINT) AS nod_id,
                     CAST(sum(xor(latz >> 1, -(latz & 1))) OVER nw AS BIGINT) AS lat_e7,
                     CAST(sum(xor(lonz >> 1, -(lonz & 1))) OVER nw AS BIGINT) AS lon_e7
              FROM ne
              WINDOW nw AS (PARTITION BY block_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            snapped AS (
              SELECT way_id, order_, nod_id, lat_e7, lon_e7,
                     CAST(floor(lat_e7 / 67108864.0) AS BIGINT) AS si,
                     CAST(floor(lon_e7 / 67108864.0) AS BIGINT) AS sj
              FROM refs JOIN nodes USING (nod_id)),
            kept AS (
              SELECT way_id, order_, nod_id, lat_e7, lon_e7
              FROM (
                SELECT *,
                       lag(si) OVER ow AS psi,
                       lag(sj) OVER ow AS psj
                FROM snapped
                WINDOW ow AS (PARTITION BY way_id ORDER BY order_))
              WHERE psi IS NULL OR si != psi OR sj != psj)
            SELECT way_id,
                   CAST(row_number()
                        OVER (PARTITION BY way_id ORDER BY order_) - 1
                        AS INTEGER) AS seq,
                   nod_id, lat_e7, lon_e7
            FROM kept
        """,
        # hierarchical z-cell compaction: fixed 2-round bottom-up fold
        # (level 12 -> 10) as explicit CTEs; 281474976710656 = 2^48 (the
        # Morton id's level-prefix stride, oracle_zcell_expr)
        "cell_compact": f"""
            WITH c12 AS (SELECT DISTINCT {_ZCELL} AS cell FROM '{golden_geo}'),
            g12 AS (
              SELECT CAST((cell - 12 * 281474976710656) // 4
                          + 11 * 281474976710656 AS BIGINT) AS pcell,
                     count(*) AS c
              FROM c12 GROUP BY 1),
            keep12 AS (
              SELECT cell FROM c12
              WHERE (cell - 12 * 281474976710656) // 4 + 11 * 281474976710656 IN
                    (SELECT pcell FROM g12 WHERE c < 4)),
            c11 AS (SELECT pcell AS cell FROM g12 WHERE c = 4),
            g11 AS (
              SELECT CAST((cell - 11 * 281474976710656) // 4
                          + 10 * 281474976710656 AS BIGINT) AS pcell,
                     count(*) AS c
              FROM c11 GROUP BY 1),
            keep11 AS (
              SELECT cell FROM c11
              WHERE (cell - 11 * 281474976710656) // 4 + 10 * 281474976710656 IN
                    (SELECT pcell FROM g11 WHERE c < 4)),
            c10 AS (SELECT pcell AS cell FROM g11 WHERE c = 4)
            SELECT cell, CAST(12 AS INTEGER) AS level FROM keep12
            UNION ALL SELECT cell, CAST(11 AS INTEGER) FROM keep11
            UNION ALL SELECT cell, CAST(10 AS INTEGER) FROM c10
        """,
        # global Moran's I over the res-8 raster: independent DuckDB
        # derivation via an explicit probe->base pair join (the Spark side
        # folds the join into one center-tagged groupBy); the moran_i double
        # expression is the IDENTICAL parse tree so the float is bit-equal
        "spatial_autocorr": f"""
            WITH base AS (
              SELECT (({_CELL8}) >> 27) & 134217727 AS row_i,
                     ({_CELL8}) & 134217727 AS col_j,
                     count(*) AS c
              FROM '{golden_geo}' GROUP BY 1, 2),
            probes AS (
              SELECT row_i + di AS ci, (col_j + dj) % 512 AS cj, c AS src_c
              FROM base, (VALUES (0, 1), (1, 0)) o(di, dj)
              WHERE row_i + di < 256),
            pairs AS (
              SELECT p.src_c, b.c AS tgt_c
              FROM probes p JOIN base b ON p.ci = b.row_i AND p.cj = b.col_j),
            cellagg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_cells,
                     CAST(sum(c) AS BIGINT) AS s_total,
                     CAST(sum(c * c) AS BIGINT) AS sum_c2
              FROM base),
            pairagg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                     CAST(coalesce(sum(src_c * tgt_c), 0) AS BIGINT) AS sum_pair_prod,
                     CAST(coalesce(sum(src_c + tgt_c), 0) AS BIGINT) AS sum_pair_sum
              FROM pairs)
            SELECT n_cells, s_total, sum_c2, n_pairs, sum_pair_prod, sum_pair_sum,
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
              END AS moran_i
            FROM cellagg, pairagg
        """,
        # adaptive quadtree tiling: pyramid CTEs + ONE immediate-parent join
        # (pyramid counts nest, so "all ancestors overloaded" == "parent
        # overloaded"); res 5->8, threshold 3
        "adaptive_grid": f"""
            WITH b8 AS (
              SELECT (({_CELL8}) >> 27) & 134217727 AS row_i,
                     ({_CELL8}) & 134217727 AS col_j,
                     count(*) AS n_images
              FROM '{golden_geo}' GROUP BY 1, 2),
            b7 AS (SELECT row_i >> 1 AS row_i, col_j >> 1 AS col_j,
                          CAST(sum(n_images) AS BIGINT) AS n_images
                   FROM b8 GROUP BY 1, 2),
            b6 AS (SELECT row_i >> 1 AS row_i, col_j >> 1 AS col_j,
                          CAST(sum(n_images) AS BIGINT) AS n_images
                   FROM b7 GROUP BY 1, 2),
            b5 AS (SELECT row_i >> 1 AS row_i, col_j >> 1 AS col_j,
                          CAST(sum(n_images) AS BIGINT) AS n_images
                   FROM b6 GROUP BY 1, 2),
            pyr AS (
              SELECT CAST(8 AS INTEGER) AS res, row_i, col_j, n_images FROM b8
              UNION ALL
              SELECT CAST(7 AS INTEGER), row_i, col_j, n_images FROM b7
              UNION ALL
              SELECT CAST(6 AS INTEGER), row_i, col_j, n_images FROM b6
              UNION ALL
              SELECT CAST(5 AS INTEGER), row_i, col_j, n_images FROM b5),
            par AS (
              SELECT res + 1 AS cres, row_i AS p_i, col_j AS p_j,
                     n_images AS parent_n
              FROM pyr)
            SELECT pyr.res, pyr.row_i, pyr.col_j,
                   CAST(pyr.n_images AS BIGINT) AS n_images
            FROM pyr LEFT JOIN par
              ON par.cres = pyr.res AND (pyr.row_i >> 1) = par.p_i
                 AND (pyr.col_j >> 1) = par.p_j
            WHERE (pyr.res = 5 OR par.parent_n > 3)
              AND (pyr.n_images <= 3 OR pyr.res = 8)
        """,
        # per-pixel local Moran's I: independent DuckDB derivation via an
        # explicit 4-neighbor probe join; local_i double expression is the
        # identical parse tree to the Spark column
        "local_autocorr": f"""
            WITH base AS (
              SELECT (({_CELL8}) >> 27) & 134217727 AS row_i,
                     ({_CELL8}) & 134217727 AS col_j,
                     count(*) AS c
              FROM '{golden_geo}' GROUP BY 1, 2),
            g AS (SELECT CAST(count(*) AS BIGINT) AS g_n,
                         CAST(sum(c) AS BIGINT) AS g_s FROM base),
            probes AS (
              SELECT row_i + di AS ci, ((col_j + dj) % 512 + 512) % 512 AS cj,
                     c AS src_c
              FROM base, (VALUES (0, 1), (0, -1), (1, 0), (-1, 0)) o(di, dj)
              WHERE row_i + di >= 0 AND row_i + di < 256),
            nbr AS (
              SELECT b.row_i, b.col_j, b.c,
                     CAST(coalesce(sum(p.src_c), 0) AS BIGINT) AS nbr_sum,
                     CAST(count(p.src_c) AS BIGINT) AS nbr_cnt
              FROM base b LEFT JOIN probes p
                ON p.ci = b.row_i AND p.cj = b.col_j
              GROUP BY 1, 2, 3)
            SELECT row_i, col_j, CAST(c AS BIGINT) AS n_images, nbr_sum, nbr_cnt,
                   ((CAST(g_n AS DOUBLE) * CAST(c AS DOUBLE))
                     - CAST(g_s AS DOUBLE))
                   * ((CAST(g_n AS DOUBLE) * CAST(nbr_sum AS DOUBLE))
                     - (CAST(nbr_cnt AS DOUBLE) * CAST(g_s AS DOUBLE))) AS local_i
            FROM nbr, g
        """,
        # per-polygon shoelace geometry, exact e7/e14 ints (independent
        # DuckDB list-lambda derivation of the same frozen spec)
        "polygon_stats": f"""
            WITH p AS (
              SELECT polygon_id, kind,
                     list_transform(ring_lat, x -> CAST(floor(x * 1e7) AS BIGINT)) AS la,
                     list_transform(ring_lon, x -> CAST(floor(x * 1e7) AS BIGINT)) AS lo,
                     len(ring_lat) - 1 AS n
              FROM '{polygons}')
            SELECT polygon_id, kind,
                   CAST(n AS BIGINT) AS n_vertices,
                   CAST(list_sum(list_transform(range(1, n + 1), i ->
                        (lo[i] - lo[1]) * (la[i + 1] - la[1])
                      - (lo[i + 1] - lo[1]) * (la[i] - la[1]))) AS BIGINT) AS area2_e14,
                   CAST(list_sum(list_transform(range(1, n + 1), i ->
                        abs(la[i + 1] - la[i]) + abs(lo[i + 1] - lo[i]))) AS BIGINT)
                        AS perim_l1_e7,
                   CAST(list_sum(la[1:n]) AS BIGINT) AS vsum_lat_e7,
                   CAST(list_sum(lo[1:n]) AS BIGINT) AS vsum_lon_e7
            FROM p
        """,
        "decode_metrics": f"""
            SELECT block_id,
                   CAST(len(strtab) AS INTEGER) AS strtab_size,
                   CAST(len(id_delta) AS INTEGER) AS n_entities,
                   CAST(len(keys_vals) AS INTEGER) AS n_kv_stream,
                   greatest(CAST(list_max(image_sid) AS BIGINT),
                            CAST(list_max(keys_vals) AS BIGINT)) AS max_sid
            FROM '{blocks}'
        """,
        # cross-format dual-decode (SURVEY §5.2): Spark parses .osm XML,
        # the oracle decodes the same entities from the PBF-analogue blocks
        "xml_nodes": f"SELECT id, image_id, lat, lon FROM ({decode_nodes_sql})",
        "decode_tags": f"""
            WITH kvr AS (
              SELECT block_id,
                     unnest(list_transform(keys_vals, s -> strtab[s + 1])) AS s,
                     unnest(generate_series(0, len(keys_vals) - 1)) AS pos
              FROM '{blocks}'),
            with_ent AS (
              SELECT block_id, s, pos,
                     count(*) FILTER (WHERE s = '') OVER (
                        PARTITION BY block_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ent
              FROM kvr),
            elems AS (
              SELECT block_id, ent, s,
                     row_number() OVER (PARTITION BY block_id, ent ORDER BY pos) AS rn
              FROM with_ent WHERE s <> ''),
            pairs AS (
              SELECT block_id, ent,
                     (rn - 1) // 2 AS pair,
                     max(CASE WHEN rn % 2 = 1 THEN s END) AS k,
                     max(CASE WHEN rn % 2 = 0 THEN s END) AS v
              FROM elems GROUP BY 1, 2, 3),
            nodes AS (
              SELECT block_id,
                     unnest(list_transform(image_sid, s -> strtab[s + 1])) AS image_id,
                     unnest(generate_series(0, len(image_sid) - 1)) AS ent
              FROM '{blocks}')
            SELECT n.image_id, p.k, p.v FROM pairs p JOIN nodes n USING (block_id, ent)
        """,
        "q1_lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2) AS sum_qty,
                   round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_base_price,
                   round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                             * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS sum_disc_price,
                   round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 / count(*), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2
        """,
        "semi_join_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_custkey IN (
                SELECT c_custkey FROM customer c
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
                WHERE r.r_name = 'ASIA')
        """,
        "anti_join_customers": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "tag_pivot": f"""
            WITH t AS (SELECT image_id, string_split(caption, ' ') AS w FROM '{images}')
            SELECT image_id, w[5] AS place, substr(w[6], 7) AS style,
                   substr(w[7], 3) AS q, w[3] AS noun
            FROM t
        """,
        "addr_pivot_union": f"""
            WITH t AS (SELECT * FROM '{eav_all}')
            SELECT image_id, CAST(NULL AS BIGINT) AS polygon_id,
                   CAST(NULL AS BIGINT) AS collection_id,
                   max(CASE WHEN k='name'  THEN v END) AS name,
                   max(CASE WHEN k='place' THEN v END) AS place,
                   max(CASE WHEN k='style' THEN v END) AS style,
                   max(CASE WHEN k='q'     THEN v END) AS q,
                   max(CASE WHEN k='noun'  THEN v END) AS noun,
                   max(CASE WHEN k='kind'  THEN v END) AS kind
            FROM t WHERE image_id IS NOT NULL
              AND image_id IN (SELECT image_id FROM t
                               WHERE image_id IS NOT NULL AND k='place')
            GROUP BY image_id
            UNION ALL
            SELECT CAST(NULL AS VARCHAR), polygon_id, CAST(NULL AS BIGINT),
                   max(CASE WHEN k='name'  THEN v END),
                   max(CASE WHEN k='place' THEN v END),
                   max(CASE WHEN k='style' THEN v END),
                   max(CASE WHEN k='q'     THEN v END),
                   max(CASE WHEN k='noun'  THEN v END),
                   max(CASE WHEN k='kind'  THEN v END)
            FROM t WHERE polygon_id IS NOT NULL
              AND polygon_id IN (SELECT polygon_id FROM t
                                 WHERE polygon_id IS NOT NULL AND k='place')
            GROUP BY polygon_id
            UNION ALL
            SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), collection_id,
                   max(CASE WHEN k='name'  THEN v END),
                   max(CASE WHEN k='place' THEN v END),
                   max(CASE WHEN k='style' THEN v END),
                   max(CASE WHEN k='q'     THEN v END),
                   max(CASE WHEN k='noun'  THEN v END),
                   max(CASE WHEN k='kind'  THEN v END)
            FROM t WHERE collection_id IS NOT NULL
              AND collection_id IN (SELECT collection_id FROM t
                                    WHERE collection_id IS NOT NULL AND k='place')
            GROUP BY collection_id
        """,
        "caption_semi_join": f"""
            SELECT image_id, caption FROM '{images}'
            WHERE CAST(substr(string_split(caption, ' ')[7], 3) AS INTEGER) >= 8
        """,
        "null_scan": f"""
            SELECT image_id, k, v FROM '{meta_corrupt}' WHERE k IS NULL OR v IS NULL
        """,
        "typed_members": f"""
            SELECT collection_id, CAST(order_ AS INTEGER) AS order_,
                   CASE WHEN member_type = 0
                        THEN printf('img_%07d', member_ref) END AS image_id,
                   CASE WHEN member_type = 1 THEN member_ref END AS polygon_id,
                   CASE WHEN member_type = 2 THEN member_ref END AS sub_collection_id,
                   role
            FROM '{collections}'
        """,
        "multi_branch_union": """
            SELECT 'urgent' AS branch, o_orderkey, o_totalprice FROM orders
            WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT 'high_big' AS branch, o_orderkey, o_totalprice FROM orders
            WHERE o_orderpriority = '2-HIGH' AND o_totalprice > 100000
            UNION ALL
            SELECT 'finished' AS branch, o_orderkey, o_totalprice FROM orders
            WHERE o_orderstatus = 'F'
        """,
        "ordered_reassembly": """
            SELECT l_orderkey,
                   string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS seq,
                   count(*) AS n_lines
            FROM lineitem GROUP BY 1
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       CAST(row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
                FROM orders) WHERE rnk <= 3
        """,
        "running_user_value": """
            SELECT user_id, event_id,
                   round(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2)
                   AS running_value
            FROM events
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events)
            SELECT user_id, event_id,
                   count(*) FILTER (WHERE gap IS NULL OR gap > 1800) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM g
        """,
        "events_pivot": """
            SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'error') AS "error",
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'view') AS "view"
            FROM events GROUP BY 1
        """,
        "rollup_lineitem": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2) AS qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "asof_purchase_view": """
            WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
                 v AS (SELECT * FROM events WHERE event_type = 'view')
            SELECT p.event_id, p.user_id, v.event_id AS view_event_id,
                   round((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000.0, 6) AS lag_s
            FROM p ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND v.ts <= p.ts
        """,
        "event_pairs_window": """
            SELECT a.user_id, a.event_id AS event1, b.event_id AS event2,
                   round((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0, 6) AS dt_s
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND b.ts >= a.ts
             AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
             AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
        """,
        "cube_lineitem": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2) AS qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "props_json_agg": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY 1
        """,
        "distinct_parts_per_flag": """
            SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps
            FROM lineitem GROUP BY 1
        """,
        "revenue_by_segment": """
            SELECT c_mktsegment,
                   round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                             * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "date_projection": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso_ts,
                   CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(month(o_orderdate) AS BIGINT) AS mo
            FROM orders
        """,
        "events_windowed": """
            SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
                   event_type, count(*) AS n,
                   round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS v
            FROM events GROUP BY 1, 2
        """,
        "token_stats": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars2,
                   round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                         / length(text), 6) AS punct_ratio
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id,
                   CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                        WHEN {best} = 0 THEN 'und'
                        WHEN {v['en']} = {best} THEN 'en'
                        WHEN {v['fr']} = {best} THEN 'fr'
                        WHEN {v['de']} = {best} THEN 'de'
                        ELSE 'es' END AS pred_lang
            FROM documents
        """,
        "quality_score": """
            WITH s AS (
              SELECT doc_id, text,
                     CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                     CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
              FROM documents)
            SELECT doc_id,
                   round(0.5 * least(n_tok / 64.0, 1.0)
                         + 0.5 * (CASE WHEN (length(text) - n_tok + 1) / n_tok >= 3.0
                                        AND (length(text) - n_tok + 1) / n_tok <= 8.0
                                       THEN 1.0 ELSE 0.5 END)
                         - least(n_punct / length(text) * 5.0, 0.5), 6) AS quality
            FROM s
        """,
        "fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(text), '[.,;:!?]', '', 'g')) AS fp
            FROM documents
        """,
        "exact_dedup_groups": """
            SELECT md5(text) AS fp, count(*) AS n_dups, min(doc_id) AS canonical_doc_id
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "caption_exact_dedup": f"""
            SELECT md5(caption) AS fp, count(*) AS n_dups, min(image_id) AS canonical
            FROM '{images}' GROUP BY 1 HAVING count(*) > 1
        """,
        "raster_density": f"""
            SELECT (({_CELL8}) >> 27) & 134217727 AS row_i,
                   ({_CELL8}) & 134217727 AS col_j,
                   count(*) AS n_images, min(image_id) AS first_image
            FROM '{golden_geo}' GROUP BY 1, 2
        """,
        "tile_pyramid": f"""
            WITH b8 AS (
              SELECT (({_CELL8}) >> 27) & 134217727 AS row_i,
                     ({_CELL8}) & 134217727 AS col_j,
                     count(*) AS n_images
              FROM '{golden_geo}' GROUP BY 1, 2),
            b7 AS (SELECT row_i >> 1 AS row_i, col_j >> 1 AS col_j,
                          CAST(sum(n_images) AS BIGINT) AS n_images
                   FROM b8 GROUP BY 1, 2),
            b6 AS (SELECT row_i >> 1 AS row_i, col_j >> 1 AS col_j,
                          CAST(sum(n_images) AS BIGINT) AS n_images
                   FROM b7 GROUP BY 1, 2),
            b5 AS (SELECT row_i >> 1 AS row_i, col_j >> 1 AS col_j,
                          CAST(sum(n_images) AS BIGINT) AS n_images
                   FROM b6 GROUP BY 1, 2)
            SELECT CAST(8 AS INTEGER) AS res, row_i, col_j, n_images FROM b8
            UNION ALL
            SELECT CAST(7 AS INTEGER), row_i, col_j, n_images FROM b7
            UNION ALL
            SELECT CAST(6 AS INTEGER), row_i, col_j, n_images FROM b6
            UNION ALL
            SELECT CAST(5 AS INTEGER), row_i, col_j, n_images FROM b5
        """,
        "raster_polygonize": f"""
            SELECT region_id, n_cells, n_images, min_i, max_i, min_j, max_j
            FROM '{golden_regions}'
        """,
        "box_pairs": f"""
            WITH p AS (
              SELECT image_id, lat, lon,
                     (({_CELL16}) >> 27) & 134217727 AS row_i,
                     ({_CELL16}) & 134217727 AS col_j
              FROM '{golden_geo}'),
            off AS (
              SELECT di.di, dj.dj
              FROM (VALUES (-1), (0), (1)) di(di),
                   (VALUES (-1), (0), (1)) dj(dj)),
            l AS (
              SELECT image_id, lat, lon,
                     row_i + di AS pi,
                     ((col_j + dj) % 131072 + 131072) % 131072 AS pj
              FROM p, off
              WHERE row_i + di >= 0 AND row_i + di < 65536)
            SELECT l.image_id AS img1, p2.image_id AS img2
            FROM l JOIN p p2 ON l.pi = p2.row_i AND l.pj = p2.col_j
            WHERE l.image_id < p2.image_id
              AND abs(l.lat - p2.lat) <= {BOX_EPS_DEG}
              AND least(abs(l.lon - p2.lon), 360 - abs(l.lon - p2.lon)) <= {BOX_EPS_DEG}
        """,
        "focal_sum": f"""
            WITH base AS (
              SELECT (({_CELL8}) >> 27) & 134217727 AS row_i,
                     ({_CELL8}) & 134217727 AS col_j,
                     count(*) AS n_images
              FROM '{golden_geo}' GROUP BY 1, 2),
            off AS (
              SELECT di.di, dj.dj
              FROM (VALUES (-1), (0), (1)) di(di),
                   (VALUES (-1), (0), (1)) dj(dj)),
            contrib AS (
              SELECT base.row_i + off.di AS ci,
                     ((base.col_j + off.dj) % 512 + 512) % 512 AS cj,
                     CAST(sum(n_images) AS BIGINT) AS focal_n
              FROM base, off
              WHERE base.row_i + off.di >= 0 AND base.row_i + off.di < 256
              GROUP BY 1, 2)
            SELECT b.row_i, b.col_j, b.n_images, c.focal_n
            FROM base b JOIN contrib c ON b.row_i = c.ci AND b.col_j = c.cj
        """,
        "zonal_stats": f"""
            SELECT polygon_id,
                   count(*) AS n_points,
                   min(image_id) AS first_image,
                   CAST(sum(CAST(floor(lat * 1000000.0) AS BIGINT)) AS BIGINT)
                       AS sum_lat_e6,
                   CAST(sum(CAST(floor(lon * 1000000.0) AS BIGINT)) AS BIGINT)
                       AS sum_lon_e6
            FROM '{golden_pip}' JOIN '{golden_geo}' USING (image_id)
            GROUP BY 1
        """,
        # per-doc repetition signal: most frequent 2-gram via the identical
        # (cnt DESC, gram DESC) tie-break window
        "repetition_stats": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, greatest(len(w) - 1, 1)),
                            i -> array_to_string(w[i:i+1], ' '))) AS gram
              FROM toks),
            counts AS (
              SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2),
            ranked AS (
              SELECT doc_id, gram, cnt,
                     CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS total,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY cnt DESC, gram DESC) AS rn
              FROM counts)
            SELECT doc_id, total AS n_grams,
                   CAST(cnt AS BIGINT) AS top_gram_n, gram AS top_gram
            FROM ranked WHERE rn = 1
        """,
        # benchmark decontamination: corpus docs sharing any distinct 5-gram
        # with the doc_id % 97 == 0 benchmark slice
        "decontaminate": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, greatest(len(w) - 4, 1)),
                              i -> array_to_string(w[i:i+4], ' '))) AS gram
                FROM toks)),
            bench AS (
              SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   min(g.gram) AS witness_gram
            FROM grams g JOIN bench b ON g.gram = b.gram
            WHERE g.doc_id % 97 <> 0
            GROUP BY 1
        """,
        "ngram_jaccard_pairs": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                              i -> array_to_string(w[i:i+2], ' '))) AS gram
                FROM toks)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
            inter AS (
              SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS i
              FROM grams g1 JOIN grams g2
                ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
              GROUP BY 1, 2)
            SELECT doc1, doc2,
                   round(i / (s1.sz + s2.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = doc1
            JOIN sizes s2 ON s2.doc_id = doc2
            WHERE i / (s1.sz + s2.sz - i) >= 0.5
        """,
        "minhash_lsh_pairs": f"SELECT doc1, doc2, sig_match FROM '{golden_minhash}'",
        "dedup_clusters": f"SELECT doc_id, cluster_id FROM '{golden_clusters}'",
        "kmeans_assign": f"SELECT vec_id, cluster, dist2 FROM '{golden_kmeans}'",
        "simhash_pairs": f"SELECT doc1, doc2, hamming FROM '{golden_simhash}'",
        "ann_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            n AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
            q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 20 = 0),
            c AS (
              SELECT q.query_id, n.vec_id AS neighbor_id,
                     round(list_sum(list_transform(generate_series(1, len(qv)),
                           i -> qv[i] * v[i])) / (qnrm * nrm), 6) AS sim
              FROM q, n WHERE n.vec_id <> q.query_id),
            r AS (SELECT query_id, neighbor_id, sim,
                         CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
                  FROM c)
            SELECT query_id, neighbor_id, rnk, sim FROM r WHERE rnk <= 10
        """,
        "emb_near_dup": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            n AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
            SELECT a.vec_id AS vec1, b.vec_id AS vec2,
                   round(list_sum(list_transform(generate_series(1, len(a.v)),
                         i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS sim
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
                         i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.4
        """,
        "decode_integrity": f"SELECT image_id, fmt, pix_sum, phash_dec FROM '{golden_decode}'",
        "frame_sample": (
            f"SELECT image_id, frame_idx, frame_sum, frame_mean FROM '{golden_frames}'"
        ),
        "block_features_flat": (
            f"SELECT image_id, feat_idx, value FROM '{golden_blockmeans}'"
        ),
        "resize_nn": f"SELECT image_id, r_sum, r_phash FROM '{golden_resize}'",
        "image_metrics": f"""
            SELECT d.image_id, d.fmt, d.pix_sum, d.phash_dec,
                   l.lap_sq_sum, l.lap_abs_sum, l.n_interior
            FROM '{golden_decode}' d JOIN '{golden_laplacian}' l USING (image_id)
        """,
        "blur_metric": (
            f"SELECT image_id, lap_sq_sum, lap_abs_sum, n_interior"
            f" FROM '{golden_laplacian}'"
        ),
        "audio_window_energy": (
            f"SELECT audio_id, win_idx, energy FROM '{golden_audio}'"
        ),
        # queries/rel.sql:10-50 twin — member→tag frequency for one pinned
        # collection, per member-type branch, UNION ALL
        "rel_tag_freq": f"""
            WITH mem AS (
              SELECT CASE WHEN member_type = 0
                          THEN printf('img_%07d', member_ref) END AS image_id,
                     CASE WHEN member_type = 1 THEN member_ref END AS polygon_id,
                     CASE WHEN member_type = 2 THEN member_ref END AS sub_collection_id
              FROM '{collections}' WHERE collection_id = 1),
            i_c AS (
              SELECT 'img' AS el, count(*) AS cnt, k
              FROM mem JOIN '{eav_all}' t ON mem.image_id = t.image_id GROUP BY k),
            p_c AS (
              SELECT 'pol' AS el, count(*) AS cnt, k
              FROM mem JOIN '{eav_all}' t ON mem.polygon_id = t.polygon_id GROUP BY k),
            c_c AS (
              SELECT 'col' AS el, count(*) AS cnt, k
              FROM mem JOIN '{eav_all}' t ON mem.sub_collection_id = t.collection_id GROUP BY k)
            SELECT el, cnt, k FROM i_c
            UNION ALL SELECT el, cnt, k FROM p_c
            UNION ALL SELECT el, cnt, k FROM c_c
        """,
        # queries/denotation-count.sql twin — sparse-column conditional counts
        "denotation_count": f"""
            SELECT count(image_id) AS n_img, count(polygon_id) AS n_pol,
                   count(collection_id) AS n_col
            FROM '{eav_all}' WHERE k = 'name'
        """,
        # queries/ISO3166-1-countries.sql:1-33 twin — FULL OUTER JOIN of the
        # node-side and rel-side ISO tag slices + 5 left self-joins for names
        "iso3166_countries": f"""
            WITH t AS (SELECT * FROM '{eav_all}'),
            n AS (SELECT v, image_id AS nod_id FROM t
                  WHERE k = 'ISO3166-1' AND image_id IS NOT NULL),
            r AS (SELECT v, collection_id AS rel_id FROM t
                  WHERE k = 'ISO3166-1' AND collection_id IS NOT NULL),
            iso3166 AS (
              SELECT coalesce(n.v, r.v) AS v, r.rel_id, n.nod_id
              FROM n FULL JOIN r ON n.v = r.v)
            SELECT iso3166.v, iso3166.rel_id, iso3166.nod_id,
                   nam_r_en.v AS nam_r_en, nam_n_en.v AS nam_n_en,
                   nam_int.v AS nam_int, nam_r.v AS nam_r, nam_n.v AS nam_n
            FROM iso3166
            LEFT JOIN t nam_int  ON iso3166.rel_id = nam_int.collection_id
                                 AND nam_int.k = 'int_name'
            LEFT JOIN t nam_r    ON iso3166.rel_id = nam_r.collection_id
                                 AND nam_r.k = 'name'
            LEFT JOIN t nam_n    ON iso3166.nod_id = nam_n.image_id
                                 AND nam_n.k = 'name'
            LEFT JOIN t nam_r_en ON iso3166.rel_id = nam_r_en.collection_id
                                 AND nam_r_en.k = 'name:en'
            LEFT JOIN t nam_n_en ON iso3166.nod_id = nam_n_en.image_id
                                 AND nam_n_en.k = 'name:en'
        """,
        # queries/ISO3166-1-node.sql:16-47 twin — node-keyed N-way left
        # self-join with a pinned-id NOT IN exclusion
        "iso3166_node": f"""
            WITH t AS (SELECT image_id, k, v FROM '{eav_all}'
                       WHERE image_id IS NOT NULL)
            SELECT iso.image_id AS nod_id, iso.v AS v,
                   n.v AS n, wd.v AS wd, en_n.v AS en_n,
                   de_n.v AS de_n, place.v AS place
            FROM t iso
            LEFT JOIN t n     ON iso.image_id = n.image_id     AND n.k = 'name'
            LEFT JOIN t wd    ON iso.image_id = wd.image_id    AND wd.k = 'q'
            LEFT JOIN t en_n  ON iso.image_id = en_n.image_id  AND en_n.k = 'name:en'
            LEFT JOIN t de_n  ON iso.image_id = de_n.image_id  AND de_n.k = 'int_name'
            LEFT JOIN t place ON iso.image_id = place.image_id AND place.k = 'place'
            WHERE iso.k = 'ISO3166-1'
              AND iso.image_id NOT IN ('img_0000000', 'img_0000251')
        """,
        # queries/route.sql:1-20 twin — join-per-key EAV wide-row assembly
        "route_wide": f"""
            WITH t AS (SELECT collection_id, k, v FROM '{eav_all}'
                       WHERE collection_id IS NOT NULL)
            SELECT tag_type.collection_id AS rel_id,
                   tag_name.v AS tag_name, tag_route.v AS tag_route,
                   tag_network.v AS tag_network, tag_osmc.v AS tag_osmc,
                   tag_operator.v AS tag_operator
            FROM t tag_type
            LEFT JOIN t tag_route    ON tag_route.collection_id = tag_type.collection_id
                                     AND tag_route.k = 'route'
            LEFT JOIN t tag_network  ON tag_network.collection_id = tag_type.collection_id
                                     AND tag_network.k = 'network'
            LEFT JOIN t tag_name     ON tag_name.collection_id = tag_type.collection_id
                                     AND tag_name.k = 'name'
            LEFT JOIN t tag_osmc     ON tag_osmc.collection_id = tag_type.collection_id
                                     AND tag_osmc.k = 'osmc:symbol'
            LEFT JOIN t tag_operator ON tag_operator.collection_id = tag_type.collection_id
                                     AND tag_operator.k = 'operator'
            WHERE tag_type.k = 'type' AND tag_type.v = 'route'
              AND tag_route.v = 'hiking'
        """,
        # queries/rel-12120978.sql:1-15 twin — one relation's node members
        # left-joined to two pinned-key tag slices; CAST ordering key as col
        "rel_member_tags": f"""
            WITH mem AS (
              SELECT printf('img_%07d', member_ref) AS nod_id
              FROM '{collections}'
              WHERE collection_id = 1 AND member_type = 0),
            t AS (SELECT image_id, k, v FROM '{eav_all}'
                  WHERE image_id IS NOT NULL)
            SELECT mem.nod_id, ref.v AS ref_v, ans.v AS ans_v,
                   CAST(ref.v AS INTEGER) AS ref_int
            FROM mem
            LEFT JOIN t ref ON mem.nod_id = ref.image_id AND ref.k = 'q'
            LEFT JOIN t ans ON mem.nod_id = ans.image_id AND ans.k = 'noun'
        """,
        # exact all-pairs over the planted-duplicate table: the bucketed LSH
        # path must reproduce it value-for-value (recall 1 by construction)
        "emb_near_dup_bucketed": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM '{emb_dups}'),
            n AS (SELECT vec_id, v,
                         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
            SELECT a.vec_id AS vec1, b.vec_id AS vec2,
                   round(list_sum(list_transform(generate_series(1, len(a.v)),
                         i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS sim
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
                         i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.8
        """,
        "ann_recall_srp": f"SELECT query_id, recall FROM '{golden_recall}'",
        "ann_recall_ivf": f"SELECT query_id, recall FROM '{golden_recall_ivf}'",
        "user_totals_stream": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total_value
            FROM events GROUP BY 1
        """,
        # the reference's small ad-hoc queries/ corpus, one row-pack — each
        # branch a 1:1 transcription (see relational.ref_query_pack docstring)
        "ref_query_pack": f"""
            WITH eav AS (SELECT * FROM '{eav_all}'),
            geo AS (SELECT lat, lon FROM '{golden_geo}')
            SELECT 'most_frequent_keys' AS query, k AS c1, NULL AS c2,
                   count(*) AS cnt FROM eav GROUP BY k
            UNION ALL
            SELECT 'most_frequent_values', v, NULL, cnt FROM (
              SELECT v, count(*) AS cnt FROM eav GROUP BY v
              ORDER BY cnt DESC, v LIMIT 100)
            UNION ALL
            SELECT 'frequency_values', v, NULL, count(*) FROM eav
            GROUP BY v HAVING count(*) > 1000
            UNION ALL
            SELECT 'count_objects', 'images', NULL,
                   (SELECT count(*) FROM '{images}')
            UNION ALL
            SELECT 'count_objects', 'polygons', NULL,
                   count(DISTINCT polygon_id) FROM eav
            UNION ALL
            SELECT 'count_objects', 'collections', NULL,
                   count(DISTINCT collection_id) FROM '{collections}'
            UNION ALL
            SELECT 'count_objects', 'tags', NULL, count(*) FROM eav
            UNION ALL
            SELECT 'v_length_1', k, v, count(*) FROM eav
            WHERE length(v) = 1 GROUP BY k, v
            UNION ALL
            SELECT 'max_length_k', NULL, NULL, max(length(k)) FROM eav
            UNION ALL
            SELECT 'max_length_v', NULL, NULL, max(length(v)) FROM eav
            UNION ALL
            SELECT 'length_k_gt_30', NULL, NULL, count(*) FROM eav
            WHERE length(k) > 30
            UNION ALL
            SELECT 'urls', NULL, NULL, count(*) FROM eav
            WHERE lower(v) LIKE 'http%'
            UNION ALL
            SELECT 'v_like_Q', k, NULL, count(*) FROM eav
            WHERE v LIKE 'Q%' GROUP BY k
            UNION ALL
            SELECT 'min_lon', NULL, NULL, CAST(round(min(lon) * 10000000) AS BIGINT) FROM geo
            UNION ALL
            SELECT 'min_lat', NULL, NULL, CAST(round(min(lat) * 10000000) AS BIGINT) FROM geo
            UNION ALL
            SELECT 'max_lon', NULL, NULL, CAST(round(max(lon) * 10000000) AS BIGINT) FROM geo
            UNION ALL
            SELECT 'max_lat', NULL, NULL, CAST(round(max(lat) * 10000000) AS BIGINT) FROM geo
            UNION ALL
            SELECT 'cnt_nodes_in_way', CAST(cell_id AS VARCHAR), NULL, cnt FROM (
              SELECT {_CELL7} AS cell_id, count(*) AS cnt FROM '{golden_geo}'
              GROUP BY 1 ORDER BY cnt DESC, cell_id LIMIT 100)
            UNION ALL
            SELECT 'type_by_entity', 'img', v, count(*) FROM eav
            WHERE image_id IS NOT NULL AND k = 'place' GROUP BY v
            UNION ALL
            SELECT 'type_by_entity', 'pol', v, count(*) FROM eav
            WHERE polygon_id IS NOT NULL AND k = 'place' GROUP BY v
            UNION ALL
            SELECT 'type_by_entity', 'col', v, count(*) FROM eav
            WHERE collection_id IS NOT NULL AND k = 'place' GROUP BY v
            UNION ALL
            SELECT 'tower_types', v, NULL, count(*) FROM eav
            WHERE k = 'kind' GROUP BY v
            UNION ALL
            SELECT 'lonely_addresses', place, style, count(*) FROM (
              SELECT image_id,
                     max(CASE WHEN k = 'place' THEN v END) AS place,
                     max(CASE WHEN k = 'style' THEN v END) AS style
              FROM eav WHERE image_id IS NOT NULL GROUP BY image_id)
            GROUP BY place, style
            UNION ALL
            SELECT 'count_source', v, NULL, cnt FROM (
              SELECT v, count(*) AS cnt FROM eav WHERE k = 'style'
              GROUP BY v ORDER BY cnt DESC, v LIMIT 200)
            UNION ALL
            SELECT 'k_ISO', k, NULL, count(*) FROM eav
            WHERE k LIKE 'ISO%' GROUP BY k
            UNION ALL
            SELECT 'k_wikipedia',
                   coalesce(image_id, CAST(polygon_id AS VARCHAR),
                            CAST(collection_id AS VARCHAR)), v, 1
            FROM eav WHERE k = 'name:en' AND v NOT LIKE '%:%'
            UNION ALL
            SELECT 'q_rows', k, v, 1 FROM (
              SELECT k, coalesce(image_id, CAST(polygon_id AS VARCHAR),
                                 CAST(collection_id AS VARCHAR)) AS eid, v
              FROM eav WHERE v LIKE 'Q%' AND k NOT IN ('q', 'noun')
              ORDER BY k, eid, v LIMIT 100)
            UNION ALL
            SELECT 'denotation_tag', oth.k, oth.v, count(*) FROM
              (SELECT image_id FROM eav
               WHERE k = 'name' AND image_id IS NOT NULL) den
              JOIN eav oth ON den.image_id = oth.image_id AND oth.k = 'style'
            GROUP BY oth.k, oth.v
            UNION ALL
            SELECT 'network_values', v, NULL, count(*) FROM eav
            WHERE k = 'network' GROUP BY v
            UNION ALL
            SELECT 'type_route_hiking', t.k, NULL, count(*) FROM
              (SELECT collection_id FROM eav
               WHERE k = 'type' AND v = 'route' AND collection_id IS NOT NULL) tt
              JOIN (SELECT collection_id FROM eav
                    WHERE k = 'route' AND v = 'hiking'
                      AND collection_id IS NOT NULL) tr
                ON tt.collection_id = tr.collection_id
              JOIN eav t ON t.collection_id = tr.collection_id
            GROUP BY t.k
            UNION ALL
            SELECT 'count_addr_city', v, NULL, cnt FROM (
              SELECT v, count(*) AS cnt FROM eav WHERE k = 'place'
              GROUP BY v ORDER BY cnt DESC, v LIMIT 200)
            UNION ALL
            SELECT 'count_addr_street', v, NULL, cnt FROM (
              SELECT v, count(*) AS cnt FROM eav WHERE k = 'name'
              GROUP BY v ORDER BY cnt DESC, v LIMIT 200)
            UNION ALL
            SELECT 'frequency_addr_housenumber', v, NULL, count(*) FROM eav
            WHERE k = 'q' GROUP BY v
            UNION ALL
            SELECT 'frequency_addr_street', v, NULL, count(*) FROM eav
            WHERE k = 'name' GROUP BY v
            UNION ALL
            SELECT 'required_chars_k', k,
                   printf('%8.3f %9d', round(w / 1024.0 / 1024.1, 3), cnt), cnt
            FROM (SELECT k, count(*) AS cnt, count(*) * length(k) AS w
                  FROM eav GROUP BY k ORDER BY w DESC, k LIMIT 60)
            UNION ALL
            SELECT 'required_chars_v', v,
                   printf('%8.3f %9d', round(w / 1024.0 / 1024.0, 3), cnt), cnt
            FROM (SELECT v, count(*) AS cnt, count(*) * length(v) AS w
                  FROM eav GROUP BY v ORDER BY w DESC, v LIMIT 60)
            UNION ALL
            SELECT 'required_chars_kv', k,
                   printf('%8.3f %9d', round(w / 1024.0 / 1024.1, 3), cnt), cnt
            FROM (SELECT k, count(*) AS cnt,
                         count(*) * length(k) * max(length(v)) AS w
                  FROM eav GROUP BY k ORDER BY w DESC, k LIMIT 60)
        """,
        # ann_topk_srp, ann_topk_ivf, block_features: approximate /
        # array-typed — rows-only.
    }
    # XML tags decode to exactly the blocks' EAV rows — same oracle
    sql["xml_tags"] = sql["decode_tags"]
    # stream ≡ batch: the streaming window agg must reproduce the batch GROUP BY
    sql["events_windowed_stream"] = sql["events_windowed"]
    return sql
