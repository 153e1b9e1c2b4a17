"""Session defaults that cut the fixed cost of Python stages: the worker
daemon's stat-gated zip directory cache, and footer-schema table opens."""

import glob
import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from temp_c__bpf_osm_reader_spark import worker_daemon
from temp_c__bpf_osm_reader_spark.api import ORACLE_SF_DIR as SF
from temp_c__bpf_osm_reader_spark.plans.lineage import SnapshotPipeline
from temp_c__bpf_osm_reader_spark.session import read_parquet
from temp_c__bpf_osm_reader_spark.sources import audio, fixtures, fixtures_text

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zdaemon_a"])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("zdaemon_a", "zdaemon_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zdaemon_a").NAME == "zdaemon_a"

    importlib.invalidate_caches()  # no stamp yet: one re-read
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n  # unchanged archive: no re-read

    _write_zip(archive, ["zdaemon_a", "zdaemon_b"])
    importlib.invalidate_caches()
    assert reads[n:] == [archive]  # changed archive: re-read once
    assert importlib.import_module("zdaemon_b").NAME == "zdaemon_b"


def test_python_workers_run_the_engine_daemon(spark):
    def probe(batches):
        import zipimport

        from temp_c__bpf_osm_reader_spark import worker_daemon

        wrapped = zipimport.zipimporter.invalidate_caches is worker_daemon.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"wrapped": [wrapped]})

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, "wrapped boolean").collect()
    assert rows and all(r.wrapped for r in rows)


SF1 = os.path.join(os.path.dirname(SF), "sf1.0")  # its goldens are committed

# Every table a sources/ writer produces, by file name, with the call that
# writes it (a no-op when the file exists): the 1060- and 10600-image scales
# (sf0.001, sf0.01) and the committed tables of other scales. Fixed, so the
# test ids do not depend on what a previous run left in the data directory.
TABLES = [
    ("audio_1060.parquet", audio.ensure_audio, 1060),
    ("audio_200.parquet", audio.ensure_audio, 200),
    ("blocks_10600_x2.parquet", fixtures.ensure_blocks, 10600),
    ("blocks_1060_x2.parquet", fixtures.ensure_blocks, 1060),
    ("collections_1060.parquet", fixtures.ensure_collections, 1060),
    ("collections_10600.parquet", fixtures.ensure_collections, 10600),
    ("eav_all_10600_v2.parquet", fixtures_text.ensure_eav_all, 10600),
    ("eav_all_1060_v2.parquet", fixtures_text.ensure_eav_all, 1060),
    ("emb_dups_1000.parquet", fixtures.ensure_emb_dups, 1000),
    ("emb_dups_1060.parquet", fixtures.ensure_emb_dups, 1060),
    ("golden_audio_energy_1060_512.parquet", audio.ensure_golden_audio_energy, 1060),
    ("golden_blockmeans_10600_4.parquet", fixtures_text.ensure_golden_blockmeans, 10600),
    ("golden_clusters_sf0.01.parquet", fixtures_text.ensure_golden_clusters, SF),
    ("golden_clusters_sf1.0.parquet", fixtures_text.ensure_golden_clusters, SF1),
    ("golden_decode_10600.parquet", fixtures_text.ensure_golden_decode, 10600),
    ("golden_frames_10600_8.parquet", fixtures_text.ensure_golden_frames, 10600),
    ("golden_geo_10600_x2.parquet", fixtures.ensure_golden_geo, 10600),
    ("golden_geo_1060_x2.parquet", fixtures.ensure_golden_geo, 1060),
    ("golden_kmeans_sf0.01.parquet", fixtures_text.ensure_golden_kmeans, SF),
    ("golden_kmeans_sf1.0.parquet", fixtures_text.ensure_golden_kmeans, SF1),
    ("golden_knn_10600_x2.parquet", fixtures.ensure_golden_knn, 10600),
    ("golden_knn_1060_x2.parquet", fixtures.ensure_golden_knn, 1060),
    ("golden_knn_global_10600_x2.parquet", fixtures.ensure_golden_knn_global, 10600),
    ("golden_laplacian_10600_v2.parquet", fixtures_text.ensure_golden_laplacian, 10600),
    ("golden_laplacian_1060_v2.parquet", fixtures_text.ensure_golden_laplacian, 1060),
    ("golden_minhash_sf0.01.parquet", fixtures_text.ensure_golden_minhash, SF),
    ("golden_pip_10600_189_x2.parquet", fixtures.ensure_golden_pip, 10600, 189),
    ("golden_pip_1060_60_x2.parquet", fixtures.ensure_golden_pip, 1060, 60),
    ("golden_recall_ivf_sf0.01_k10_m20_c50_p6.parquet", fixtures_text.ensure_golden_recall_ivf, SF),
    ("golden_recall_srp_sf0.01_k10_m20_s1234_h2.parquet", fixtures_text.ensure_golden_recall_srp, SF),
    ("golden_regions_10600_x2.parquet", fixtures.ensure_golden_regions, 10600),
    ("golden_regions_1060_x2.parquet", fixtures.ensure_golden_regions, 1060),
    ("golden_resize_10600_8.parquet", fixtures_text.ensure_golden_resize, 10600),
    ("golden_simhash_sf0.01.parquet", fixtures_text.ensure_golden_simhash, SF),
    ("images_1060.parquet", fixtures.ensure_images, 1060),
    ("images_10600.parquet", fixtures.ensure_images, 10600),
    ("meta_corrupt_1060.parquet", fixtures_text.ensure_meta_corrupt, 1060),
    ("meta_corrupt_10600.parquet", fixtures_text.ensure_meta_corrupt, 10600),
    ("polygons_189.parquet", fixtures.ensure_polygons, 189),
    ("polygons_200.parquet", fixtures.ensure_polygons, 200),
    ("polygons_60.parquet", fixtures.ensure_polygons, 60),
    ("rel_blocks_1060.parquet", fixtures.ensure_rel_blocks, 1060),
    ("rel_blocks_10600.parquet", fixtures.ensure_rel_blocks, 10600),
    ("way_blocks_1060.parquet", fixtures.ensure_way_blocks, 1060),
    ("way_blocks_10600.parquet", fixtures.ensure_way_blocks, 10600),
]
# the sf0.01 input tables, opened where they are
TABLES += [
    (f"{t}.parquet", os.path.join, SF, f"{t}.parquet")
    for t in ("customer", "documents", "embeddings", "events", "lineitem",
              "nation", "orders", "part", "region", "supplier")
]


@pytest.mark.parametrize(
    ("name", "ensure", "args"), [pytest.param(n, e, a, id=n) for n, e, *a in TABLES]
)
def test_read_parquet_schema_matches_inference(spark, name, ensure, args):
    path = ensure(*args)
    assert os.path.basename(path) == name
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("name", ["events", "lineitem", "orders"])
def test_tz_naive_timestamps_read_as_ntz(spark, name):
    schema = read_parquet(spark, os.path.join(SF, f"{name}.parquet")).schema
    assert any(isinstance(f.dataType, TimestampNTZType) for f in schema.fields)


def test_read_parquet_spark_written_stage(spark, tmp_path):
    def stage():
        return spark.range(50, numPartitions=3).select(
            "id",
            F.timestamp_seconds("id").alias("ts"),
            F.timestamp_seconds("id").cast("timestamp_ntz").alias("ts_ntz"),
            (F.col("id") / 7).cast("decimal(12,3)").alias("dec"),
            F.array("id", F.col("id") * 2).alias("arr"),
            F.struct(F.col("id").cast("string").alias("s")).alias("st"),
        )

    p = SnapshotPipeline(spark, str(tmp_path / "snap"))
    p.run_stage("mixed", stage)
    data_dir = str(tmp_path / "snap" / "mixed" / "data-v0")
    got = read_parquet(spark, data_dir)
    assert got.schema == spark.read.parquet(data_dir).schema
    assert got.schema == p.read_stage("mixed").schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(data_dir).collect())
    assert p.verify_stage("mixed")


def test_engine_opens_tables_only_through_read_parquet():
    pkg = os.path.join(REPO, "temp_c__bpf_osm_reader_spark")
    files = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True) + [
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "scripts", "flagship_job.py"),
    ]
    helper = os.path.join(pkg, "session.py")
    offenders = [
        f"{os.path.relpath(f, REPO)}:{i}"
        for f in files
        if f != helper
        for i, line in enumerate(open(f), 1)
        if ".read.parquet(" in line
    ]
    assert not offenders, offenders
