"""Cross-partitioning determinism for the iterative algorithms — the designs
claim bit-identical output regardless of how the scan is split (integer-sum
centroid updates, BLAS-free distances, min-label fixed point). Force radically
different input partitioning and compare outputs exactly."""

import pandas as pd
import pytest

SF = "/root/testdata/sf0.01"


def _sorted(df, keys):
    pdf = df.toPandas().sort_values(keys, ignore_index=True)
    return pdf


@pytest.fixture()
def tiny_splits(spark):
    """Temporarily force many tiny scan splits (different Arrow batch shapes,
    different reduce orders)."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    yield
    spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_kmeans_bit_identical_across_scan_partitioning(spark, tiny_splits):
    from temp_c__bpf_osm_reader_spark.operators import similarity

    b = _sorted(similarity.kmeans_assign(spark, SF), ["vec_id"])
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    a = _sorted(similarity.kmeans_assign(spark, SF), ["vec_id"])
    pd.testing.assert_frame_equal(a, b)  # exact — including dist2 doubles


def test_dedup_clusters_identical_across_scan_partitioning(spark, tiny_splits):
    from temp_c__bpf_osm_reader_spark.operators import dedup

    # phash_near_dup's exact recall needs flips < bands (pigeonhole)
    assert dedup.PHASH_MAX_HAMMING < dedup.HAMMING_BANDS
    b = _sorted(dedup.dedup_clusters(spark, SF), ["doc_id"])
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    a = _sorted(dedup.dedup_clusters(spark, SF), ["doc_id"])
    pd.testing.assert_frame_equal(a, b)
