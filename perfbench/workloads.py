"""The two workloads: set-up and one op each.

Every timed op calls public engine functions only and checks its result
against the numpy reference stored beside the inputs (inputs.py). A check
mismatch raises harness.CheckFailed, which the op log counts as a failure.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from harness import CheckFailed, Tracer
from inputs import KNN_K, KNN_RES, KNN_RING, SIZES, TILE_RES, load_reference
from temp_c__bpf_osm_reader_spark.functions import geo
from temp_c__bpf_osm_reader_spark.operators import decode, indexing, knn, spatial_join
from temp_c__bpf_osm_reader_spark.plans.lineage import SnapshotPipeline

U33 = 33  # checksum = sum of each row's xxhash64 >>> 33 (see inputs.hash_sum)


def _hsum(*cols):
    return F.sum(F.shiftrightunsigned(F.xxhash64(*cols), U33))


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    """setup() builds session-scoped state (scan + cache fill, polygon-layer
    cover/edges); op(i) runs op i and returns the number of items it
    completed. `warmup_ops` ops run after set-up, before the timed region;
    a traced run times `trace_ops` untraced and `trace_ops` traced ops."""

    warmup_ops: int
    trace_ops: int

    def warm_op(self, i: int) -> int:
        """One warm-up op; the same as a timed op unless a workload warms up
        on a smaller input."""
        return self.op(i)

    def __init__(self, spark, inputs_dir: str, tracer, work_dir: str):
        self.spark = spark
        self.d = inputs_dir
        self.tr = tracer
        self.work = work_dir
        self.ref = load_reference(inputs_dir)
        self.cores = spark.sparkContext.defaultParallelism

    def _polygon_layer(self) -> None:
        self.polys = pd.read_parquet(os.path.join(self.d, "polygons.parquet"))
        with self.tr.span("spatial_join", "cover_build"):
            self.cover = spatial_join.polygon_cover(self.spark, self.polys)
            self.edges = spatial_join._polygon_edges(self.spark, self.polys)


class Ingest(Workload):
    """One op = one full bulk-load pass: decode the node blocks, geolocate,
    tile-assign with checksum, PIP-join with the prebuilt cover, kNN top-5 for
    a fixed query set, then commit the tile table as a snapshot and verify
    it.

    The warm-up passes run the same pipeline over the `warm/` input, replica
    0 of the point table. A pass costs mostly fixed per-job driver work whose
    JIT warm-up takes about five passes; small passes warm the same code for
    about 70% of the cost of full ones."""

    warmup_ops = 2
    trace_ops = 2

    def warm_op(self, i: int) -> int:
        if i == 0:
            self.warm = Ingest(self.spark, os.path.join(self.d, "warm"), Tracer(False),
                               os.path.join(self.work, "warm"))
            self.warm.setup()
        return self.warm.op(i)

    def setup(self) -> None:
        spark = self.spark
        self.partitions = self.cores * 2
        points_path = os.path.join(self.d, "points.parquet")
        with self.tr.span("sources", "scan"):
            self.blocks = decode.widen_if_narrow(
                spark.read.parquet(os.path.join(self.d, "blocks.parquet"))
            ).cache()
            self.images = spark.read.parquet(points_path).repartition(self.cores).cache()
            self.queries = spark.read.parquet(os.path.join(self.d, "queries.parquet")).cache()
            self.blocks.count()
            self.images.count()
            self.queries.count()
        self.bounds = indexing.sample_cell_bounds(points_path, self.partitions, res=TILE_RES)
        self._polygon_layer()
        self.knn_ref = _sorted(pd.read_parquet(os.path.join(self.d, "ref_knn.parquet")),
                               ["query_image_id", "rank"])
        self.snap_root = os.path.join(self.work, "snapshots")
        self.snap = SnapshotPipeline(spark, self.snap_root)

    def op(self, i: int) -> int:
        ref, tr, n = self.ref, self.tr, self.ref["points"]
        with tr.span("decode"):
            nodes, tags = decode.decode_entities(self.blocks)
            nrow = nodes.select(
                F.count(F.lit(1)),
                _hsum("image_id", "id",
                      F.round(F.col("lat") * 1e7).cast("long"),
                      F.round(F.col("lon") * 1e7).cast("long")),
            ).collect()[0]
            trow = tags.select(
                F.count(F.lit(1)), _hsum(F.concat_ws("|", "image_id", "k", "v"))
            ).collect()[0]
        tr.count("rows.decode", nrow[0] + trow[0])
        with tr.span("indexing"):
            pts = indexing.geolocate_expr(self.images).select("image_id", "lat", "lon")
            tiles, rp = indexing.tile_assignment_scalable(
                pts, TILE_RES, partitions=self.partitions, keep_cols=("lat", "lon"),
                return_rp=True, bounds=self.bounds,
            )
            tile_row = tiles.select(
                F.count(F.lit(1)), _hsum("image_id", "cell_id", F.col("order_").cast("long"))
            ).collect()[0]
        tr.count("rows.indexing", tile_row[0])
        try:
            located = rp.select("image_id", "lat", "lon")
            with tr.span("spatial_join"):
                pip = spatial_join.pip_join(located, self.polys, cover=self.cover, edges=self.edges)
                prow = pip.select(F.count(F.lit(1)), _hsum("image_id", "polygon_id")).collect()[0]
            tr.count("rows.spatial_join", prow[0])
            with tr.span("knn"):
                got = knn.knn_join(located, self.queries).toPandas()
            tr.count("rows.knn", len(got))
            tr.count("knn.complete", int((got.groupby("query_image_id").size() >= KNN_K).sum()))
            tr.count("knn.queries", self.ref["queries"])
            with tr.span("lineage"):
                self.snap.run_stage("tiles", lambda: tiles.select("cell_id", "image_id", "order_"),
                                    overwrite=True)
                with tr.span("lineage", "verify"):
                    ok = self.snap.verify_stage("tiles")
            man = self.snap.manifest("tiles")
        finally:
            rp.unpersist()
        v = man["version"]
        stage = os.path.join(self.snap_root, "tiles")
        tr.count("rows.lineage", man["rows"])
        tr.count("lineage.bytes_written",
                 _dir_bytes(os.path.join(stage, f"data-v{v}"))
                 + _dir_bytes(os.path.join(stage, f"lineage-v{v}")))
        # a snapshot is kept only until the next commit: old versions would
        # otherwise pile up on disk for the length of the run
        for old in range(v):
            for p in (f"data-v{old}", f"lineage-v{old}"):
                shutil.rmtree(os.path.join(stage, p), ignore_errors=True)
        _expect("nodes rows", nrow[0], n)
        _expect("nodes checksum", nrow[1], ref["nodes_checksum"])
        _expect("tags rows", trow[0], ref["tags"])
        _expect("tags checksum", trow[1], ref["tags_checksum"])
        _expect("tiles rows", tile_row[0], n)
        _expect("tiles checksum", tile_row[1], ref["tiles_checksum"])
        _expect("pip rows", prow[0], ref["pip_rows"])
        _expect("pip checksum", prow[1] or 0, ref["pip_checksum"])
        _check_knn(got, self.knn_ref)
        _expect("snapshot rows", man["rows"], n)
        _expect("snapshot verified", ok, True)
        return n

    def layer_counts(self, ops: int) -> dict[str, float]:
        """Counts over `ops` passes, taken in numpy from the inputs and the
        polygon layer, plus one extra tile shuffle to read partition sizes."""
        pts = pd.read_parquet(os.path.join(self.d, "points.parquet"))
        lat, lon = geo.latlon_from_phash(pts["phash"].to_numpy(), pts["image_id"].to_numpy())
        cover = spatial_join._classify_cover(self.polys, spatial_join.PIP_RES)
        per_cell = cover.groupby("cell_id").agg(n=("_full", "size"), full=("_full", "sum"))
        hit = per_cell.reindex(geo.grid_cell(lat, lon, spatial_join.PIP_RES)).fillna(0)
        cand, full = float(hit["n"].sum()), float(hit["full"].sum())
        q = pd.read_parquet(os.path.join(self.d, "queries.parquet"))
        pcell = np.sort(geo.grid_cell(lat, lon, KNN_RES))
        ids = set(pts["image_id"])
        per_q = [
            int(np.sum(np.searchsorted(pcell, ring, "right") - np.searchsorted(pcell, ring, "left")))
            - (qid in ids)
            for ring, qid in (
                (geo.k_ring(int(c), KNN_RING), qid)
                for c, qid in zip(geo.grid_cell(q["lat"].to_numpy(), q["lon"].to_numpy(), KNN_RES),
                                  q["image_id"])
            )
        ]
        located = indexing.geolocate_expr(self.images).select("image_id", "lat", "lon")
        _, rp = indexing.tile_assignment_scalable(
            located, TILE_RES, partitions=self.partitions, keep_cols=("lat", "lon"),
            return_rp=True, bounds=self.bounds,
        )
        sizes = rp.groupBy(F.spark_partition_id().alias("p")).count().toPandas()["count"].to_numpy()
        rp.unpersist()
        sizes = np.concatenate([sizes, np.zeros(self.partitions - len(sizes))])
        return {
            "spatial_join.candidates": cand * ops,
            "spatial_join.boundary_share": (cand - full) / cand if cand else 0.0,
            "spatial_join.hit_ratio": self.ref["pip_rows"] / cand if cand else 0.0,
            "knn.candidates_per_query": float(np.mean(per_q)),
            "indexing.partition_skew": float(sizes.max() / np.median(sizes)),
        }


class Media(Workload):
    """One op = the image metric family over every payload of the uncached
    image table: decode_integrity, blur_metric and block_features_flat from
    api.queries(), each ending in an aggregate checksum."""

    warmup_ops = 1
    trace_ops = 4

    def setup(self) -> None:
        from temp_c__bpf_osm_reader_spark import api
        from temp_c__bpf_osm_reader_spark.sources import fixtures

        self.sf_dir = os.path.join(self.work, "sf" + SIZES["media"]["sf"])
        self.n = fixtures.n_images_for_sf(self.sf_dir)
        path = fixtures.images_path(self.n)
        if os.path.dirname(path) != self.d or not os.path.exists(path):
            raise RuntimeError(f"engine would read {path}, not the generated table in {self.d}")
        with self.tr.span("sources", "scan"):
            self.spark.read.parquet(path).select(F.count(F.lit(1))).collect()
        q = api.queries()
        self.q = {k: q[k] for k in ("decode_integrity", "blur_metric", "block_features_flat")}

    def op(self, i: int) -> int:
        spark, tr, ref = self.spark, self.tr, self.ref
        with tr.span("multimodal", "decode_integrity"):
            d = self.q["decode_integrity"](spark, self.sf_dir).select(
                F.count(F.lit(1)), F.sum("pix_sum"),
                F.sum(F.shiftrightunsigned(F.col("phash_dec"), U33)),
            ).collect()[0]
        with tr.span("multimodal", "blur_metric"):
            b = self.q["blur_metric"](spark, self.sf_dir).select(
                F.count(F.lit(1)), F.sum("lap_sq_sum"), F.sum("lap_abs_sum"), F.sum("n_interior"),
            ).collect()[0]
        with tr.span("multimodal", "block_features_flat"):
            f = self.q["block_features_flat"](spark, self.sf_dir).select(
                F.count(F.lit(1)), F.sum("value")
            ).collect()[0]
        tr.count("rows.multimodal", d[0] + b[0] + f[0])
        _expect("decode rows", d[0], ref["images"])
        _expect("pix_sum", d[1], ref["pix_sum"])
        _expect("phash_dec", d[2], ref["phash_top"])
        _expect("blur rows", b[0], ref["images"])
        _expect("lap_sq_sum", b[1], ref["lap_sq_sum"])
        _expect("lap_abs_sum", b[2], ref["lap_abs_sum"])
        _expect("n_interior", b[3], ref["n_interior"])
        _expect("feature rows", f[0], ref["features"])
        if not abs(f[1] - ref["feature_sum"]) <= 1e-9 * abs(ref["feature_sum"]):
            raise CheckFailed(f"feature sum: got {f[1]!r}, expected {ref['feature_sum']!r}")
        return ref["images"]

    def layer_counts(self, ops: int) -> dict[str, float]:
        return {}


def _sorted(df: pd.DataFrame, by: list[str]) -> pd.DataFrame:
    return df.sort_values(by, kind="mergesort").reset_index(drop=True)


def _check_knn(got: pd.DataFrame, want: pd.DataFrame) -> None:
    got = _sorted(got, ["query_image_id", "rank"])
    if len(got) != len(want):
        raise CheckFailed(f"knn: {len(got)} rows, expected {len(want)}")
    ids = ["query_image_id", "neighbor_image_id", "rank"]
    if not (got[ids].to_numpy() == want[ids].to_numpy()).all():
        raise CheckFailed("knn: neighbours differ from the reference")
    if not np.allclose(got["dist_m"].to_numpy(), want["dist_m"].to_numpy(), rtol=0, atol=2e-3):
        raise CheckFailed("knn: distances differ from the reference")


WORKLOADS = {"ingest": Ingest, "media": Media}
