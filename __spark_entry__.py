"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship pipeline at sf0.001: geolocate the image table from
                 phash, cell-index at res 7, deterministic tile counts.
queries()      — one entry per implemented operator (SURVEY.md §2 inventory);
                 each is a module-level function called as (spark, sf_dir)
                 → DataFrame that opens its own inputs.
oracle_sql()   — DuckDB twins. Conventions that make value-hashes exact are
                 documented in temp_c__bpf_osm_reader_spark/api.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temp_c__bpf_osm_reader_spark import api
from temp_c__bpf_osm_reader_spark.operators import indexing
from temp_c__bpf_osm_reader_spark.session import read_parquet
from temp_c__bpf_osm_reader_spark.sources import fixtures


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: images → pseudo-geolocate → res-7 cells →
    per-cell tile counts (ordered, deterministic)."""
    n = fixtures.n_images_for_sf("/root/testdata/sf0.001")
    images = read_parquet(spark, fixtures.ensure_images(n))
    pts = indexing.with_cells(indexing.geolocate_expr(images), resolutions=(7,), zlevel=0)
    return (
        pts.groupBy(F.col("cell_r7").alias("cell_id"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("image_id").alias("first_image"),
        )
        .orderBy("cell_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    api.ensure_oracle_fixtures()
    return api.queries()


def oracle_sql() -> dict[str, str]:
    api.ensure_oracle_fixtures()
    return api.oracle_sql()
