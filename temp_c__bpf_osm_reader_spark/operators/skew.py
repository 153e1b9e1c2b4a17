"""Skew handling: salted two-phase aggregation and salted layout shuffles.

The Zipfian duplicate clusters put ~10% of points in a handful of cells (hot
tiles — Manhattan, not the Pacific). A single groupBy(cell) would hand one
reducer the hot cell; salting splits it into SALT partial groups first
(classic map-side combine + salt), then merges. Result is identical to the
plain groupBy — only the shuffle layout changes — so the DuckDB oracle is the
plain GROUP BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salted_group_count(df: DataFrame, key: str) -> DataFrame:
    """count per key via DEFAULT_SALT salt → partial → merge. → (key, n)."""
    partial = (
        df.withColumn("_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(DEFAULT_SALT)))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_pn"))
    )
    return partial.groupBy(key).agg(F.sum("_pn").alias("n"))


def salted_repartition(
    df: DataFrame, key: str, salt: int = DEFAULT_SALT, num_partitions: int | None = None
) -> DataFrame:
    """Layout shuffle on (key, salt) so a hot key's rows spread over up to
    `salt` partitions instead of landing on one reducer (SURVEY §4.2.2) —
    rows unchanged, only placement. Downstream per-key operators must merge
    partials (as salted_group_count does); order-insensitive sinks (parquet
    write, lineage checksums) consume it directly. An explicit
    `num_partitions` pins the count (exempt from AQE small-data coalescing,
    which would otherwise re-merge the spread at toy scale)."""
    cols = [F.col(key), F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt))]
    if num_partitions:
        return df.repartition(num_partitions, *cols)
    return df.repartition(*cols)
