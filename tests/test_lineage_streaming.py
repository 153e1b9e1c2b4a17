"""Lineage/checkpoint-resume + streaming equivalence tests (north-rule items)."""

import os

import pandas as pd
from pyspark.sql import functions as F

from temp_c__bpf_osm_reader_spark.operators import indexing, relational
from temp_c__bpf_osm_reader_spark.plans.lineage import SnapshotPipeline, lineage_metrics
from temp_c__bpf_osm_reader_spark.streaming import events as stream_events

SF = "/root/testdata/sf0.001"


def test_snapshot_commit_and_resume(spark, fx, tmp_path):
    root = str(tmp_path / "pipe")
    calls = {"n": 0}

    def stage():
        calls["n"] += 1
        df = spark.read.parquet(fx["images"])
        return indexing.with_cells(indexing.geolocate_expr(df), resolutions=(7,), zlevel=0).select(
            "image_id", "cell_r7"
        )

    p = SnapshotPipeline(spark, root)
    a = p.run_stage("cells", stage)
    assert calls["n"] == 1
    m = p.manifest("cells")
    assert m is not None and m["rows"] == a.count() == 1060
    # resume: second run must NOT recompute
    b = p.run_stage("cells", stage)
    assert calls["n"] == 1
    assert b.count() == 1060
    # lineage totals re-derivable from the committed data
    assert p.verify_stage("cells")
    # lineage rows sum to input count (count-consistency invariant)
    lm = spark.read.parquet(os.path.join(root, "cells", "lineage-v0"))
    assert lm.agg(F.sum("row_count")).collect()[0][0] == 1060


def test_snapshot_versioning_time_travel_rollback(spark, tmp_path):
    root = str(tmp_path / "pipe_v")
    p = SnapshotPipeline(spark, root)

    p.run_stage("t", lambda: spark.range(10).select(F.col("id")))
    assert p.current_version("t") == 0
    # overwrite commits v1; v0 stays readable (time travel)
    p.run_stage("t", lambda: spark.range(25).select(F.col("id")), overwrite=True)
    assert p.current_version("t") == 1
    assert p.read_stage("t").count() == 25
    assert p.read_stage("t", version=0).count() == 10
    assert p.manifest("t", 0)["rows"] == 10 and p.manifest("t", 1)["rows"] == 25
    assert p.verify_stage("t", 0) and p.verify_stage("t", 1)
    # rollback is metadata-only: CURRENT repoints, data untouched
    p.rollback("t", 0)
    assert p.current_version("t") == 0
    assert p.read_stage("t").count() == 10
    # a non-overwrite run now serves the rolled-back snapshot, no recompute
    assert p.run_stage("t", lambda: (_ for _ in ()).throw(AssertionError)).count() == 10
    # overwrite after rollback must NOT clobber v1 — next version is max+1
    p.run_stage("t", lambda: spark.range(7).select(F.col("id")), overwrite=True)
    assert p.current_version("t") == 2
    assert p.read_stage("t", version=1).count() == 25  # v1 intact
    assert p.read_stage("t").count() == 7


def test_lineage_checksum_parallelism_invariant(spark, fx):
    df = spark.read.parquet(fx["images"]).select("image_id", "phash")
    a = lineage_metrics(df).agg(F.sum("checksum"), F.sum("row_count")).collect()[0]
    b = lineage_metrics(df.repartition(13)).agg(F.sum("checksum"), F.sum("row_count")).collect()[0]
    assert a[0] == b[0] and a[1] == b[1]


def test_streaming_windowed_equals_batch(spark):
    got = (
        stream_events.windowed_counts_stream(spark, SF, "win_eq_test")
        .toPandas()
        .sort_values(["win_start", "event_type"], ignore_index=True)
    )
    exp = (
        relational.events_windowed(spark, SF)
        .toPandas()
        .sort_values(["win_start", "event_type"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_stateful_user_totals_equals_batch(spark):
    got = (
        stream_events.stateful_user_totals(spark, SF, "state_eq_test")
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exp = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0, 2).alias(
                "total_value"
            ),
        )
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_salted_repartition_spreads_hot_key(spark):
    from temp_c__bpf_osm_reader_spark.operators import skew

    # one hot key with 5000 rows, a few cold keys
    df = spark.range(5500).select(
        F.when(F.col("id") < 5000, F.lit(7)).otherwise(F.col("id")).alias("cell_id"),
        F.col("id").alias("image_id"),
    )
    parts = (
        skew.salted_repartition(df, "cell_id", salt=8, num_partitions=8)
        .filter(F.col("cell_id") == 7)
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert parts > 1  # the hot key spans multiple partitions


def test_osmxml_stream_reader_incremental(spark, tmp_path):
    """Streaming twin of the reference's block-at-a-time read: shards are
    consumed exactly once in filename order, late-arriving shards picked up
    by the next trigger, stream total == batch total."""
    import os
    import shutil

    import pandas as pd

    from temp_c__bpf_osm_reader_spark.sources import fixtures, osm_datasource, xml_source

    images = pd.read_parquet(fixtures.ensure_images(1060)).head(30)
    d = str(tmp_path / "shards")
    xml_source.write_osm_xml(images.head(20), d, per_file=10)  # part-00000/1
    extra = str(tmp_path / "extra")
    xml_source.write_osm_xml(images.tail(10).reset_index(drop=True), extra, per_file=10)
    osm_datasource.register(spark)
    q = (
        spark.readStream.format("osmxml")
        .option("what", "nodes")
        .load(d)
        .writeStream.format("memory")
        .queryName("osm_stream_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) FROM osm_stream_t").first()[0] == 20
    # a new shard arrives; the next start from the same checkpointless memory
    # stream would re-read — instead verify the offset logic directly
    rd = osm_datasource.OsmXmlStreamReader({"path": d, "what": "nodes"})
    it, off = rd.read({"shard": 0})
    assert off == {"shard": 2} and sum(1 for _ in it) == 20
    shutil.copy(os.path.join(extra, "part-00000.osm"), os.path.join(d, "part-00002.osm"))
    it2, off2 = rd.read(off)
    rows2 = list(it2)
    assert off2 == {"shard": 3} and len(rows2) == 10
    # replay determinism: committed range re-read is identical
    replay = list(rd.readBetweenOffsets({"shard": 2}, {"shard": 3}))
    assert replay == rows2


def test_osmxml_stream_reader_out_of_order_shard(tmp_path):
    """Shards landing out of order must not be skipped: the offset advances
    only through the contiguous prefix of present indices, so part-00001
    arriving after part-00002 is still consumed (no silent data loss)."""
    import os
    import shutil

    import pandas as pd

    from temp_c__bpf_osm_reader_spark.sources import fixtures, osm_datasource, xml_source

    images = pd.read_parquet(fixtures.ensure_images(1060)).head(30)
    staged = str(tmp_path / "staged")
    xml_source.write_osm_xml(images, staged, per_file=10)  # part-00000/1/2
    d = str(tmp_path / "live")
    os.makedirs(d)
    # part-00002 lands BEFORE part-00001
    shutil.copy(os.path.join(staged, "part-00000.osm"), os.path.join(d, "part-00000.osm"))
    shutil.copy(os.path.join(staged, "part-00002.osm"), os.path.join(d, "part-00002.osm"))
    rd = osm_datasource.OsmXmlStreamReader({"path": d, "what": "nodes"})
    it, off = rd.read({"shard": 0})
    # stops at the gap: only shard 0 consumed, 2 deferred
    assert off == {"shard": 1} and sum(1 for _ in it) == 10
    shutil.copy(os.path.join(staged, "part-00001.osm"), os.path.join(d, "part-00001.osm"))
    it2, off2 = rd.read(off)
    assert off2 == {"shard": 3} and sum(1 for _ in it2) == 20  # both, in order
