"""Streaming operators over the events table: watermarked window aggregation
and custom stateful per-user accumulation (applyInPandasWithState).

Batch-vs-stream equivalence is the correctness contract: the streaming
windowed aggregation must produce exactly the rows of the batch twin
(operators/relational.events_windowed) once all input is processed — tested
in tests/test_streaming.py with a file source + memory sink.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import read_parquet


def _events_schema(spark: SparkSession, sf_dir: str):
    return read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema


def _stream_dir(sf_dir: str) -> str:
    """The file source wants a directory; expose the single parquet file via a
    symlink under the fixture scratch dir (testdata is read-only). Anchored to
    DATA_DIR, not os.getcwd() — the driver's CWD is not ours to assume."""
    from ..sources.fixtures import DATA_DIR

    base = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(DATA_DIR, ".scratch", f"stream_events_{base}")
    os.makedirs(root, exist_ok=True)
    link = os.path.join(root, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return root


def windowed_counts_stream(spark: SparkSession, sf_dir: str, query_name: str = "win_out") -> DataFrame:
    """Tumbling 5-min window agg with a 10-min watermark, driven to completion
    against the parquet file source; returns the materialized result."""
    schema = _events_schema(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .parquet(_stream_dir(sf_dir))
        # parquet ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP (session-tz =
        # UTC, so the wall-clock values are unchanged)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0, 2).alias("v"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "v",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def stateful_user_totals(spark: SparkSession, sf_dir: str, query_name: str = "state_out") -> DataFrame:
    """Custom stateful operator: per-user running (n_events, total_cents) via
    applyInPandasWithState — the streaming analogue of the reference's
    callback-accumulated per-entity state (client.h row callbacks)."""
    schema = _events_schema(spark, sf_dir)
    stream = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir))

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(cents / 100.0, 2)]}
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = out.writeStream.outputMode("update").format("memory").queryName(query_name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # keep the latest row per user (update mode appends per micro-batch)
    t = spark.table(query_name)
    w = F.row_number().over(Window.partitionBy("user_id").orderBy(F.col("n_events").desc()))
    return t.withColumn("_rn", w).filter(F.col("_rn") == 1).drop("_rn")


def cell_counts_stream(spark: SparkSession, sf_dir: str, query_name: str = "cells_out") -> DataFrame:
    """Streaming INGEST path — the reference's block-at-a-time decode loop
    (readosm.c:1694-1892: read block → decode → load, bounded memory) as
    Structured Streaming: the images table is consumed incrementally
    (maxFilesPerTrigger=1), each micro-batch geolocates through the SAME
    JVM expressions as the batch path (indexing.geolocate_expr), and the
    running per-cell counts are maintained as streaming state. Driven to
    completion; stream ≡ batch GROUP BY is the oracle."""
    from ..operators import indexing
    from ..sources import fixtures
    from ..sources.fixtures import DATA_DIR

    n = fixtures.n_images_for_sf(sf_dir)
    images_path = fixtures.ensure_images(n)
    root = os.path.join(DATA_DIR, ".scratch", f"stream_images_{n}")
    os.makedirs(root, exist_ok=True)
    link = os.path.join(root, os.path.basename(images_path))
    if not os.path.exists(link):
        os.symlink(os.path.abspath(images_path), link)
    schema = read_parquet(spark, images_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
        .select("image_id", "phash")
    )
    pts = indexing.with_cells(indexing.geolocate_expr(stream), resolutions=(7,), zlevel=0)
    agg = pts.groupBy(F.col("cell_r7").alias("cell_id")).agg(
        F.count(F.lit(1)).alias("n_images"), F.min("image_id").alias("first_image")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)
