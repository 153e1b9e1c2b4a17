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
from temp_c__bpf_osm_reader_spark.sources.fixtures import DATA_DIR

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


def _tables():
    return sorted(glob.glob(os.path.join(DATA_DIR, "*.parquet"))) + sorted(
        glob.glob(os.path.join(SF, "*.parquet"))
    )


@pytest.mark.parametrize("path", _tables(), ids=os.path.basename)
def test_read_parquet_schema_matches_inference(spark, path):
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
