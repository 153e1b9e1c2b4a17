"""Temporal joins over the events stream: as-of join and bounded range join.

The reference has neither (SURVEY §2.4 lists as-of/interval join as a
capability-gap class it delegates away); a training-data pipeline needs both —
e.g. attributing a purchase to the most recent preceding view, or pairing
records that co-occur within a time window.

Both are built shuffle-minimally:

* as-of join — NOT an inequality join (which Spark would plan as a
  broadcast-nested-loop). Both sides are union'd, shuffled ONCE on the equi
  key (user_id), and resolved with a running `last(..., ignorenulls)` window —
  O(n log n) per key group, no candidate blow-up, survives 100× scale-up.
* range join — each left row is replicated into its two covering time bins so
  candidates meet on the (user_id, bin) equi key; the window predicate then
  filters exactly. Candidate inflation is bounded by events-per-user-per-bin,
  never O(n²) per user.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import read_parquet

ASOF_LEFT_TYPE = "purchase"
ASOF_RIGHT_TYPE = "view"
RANGE_WINDOW_S = 300


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, "events.parquet"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """For each left row, the right row of the same `key` with the greatest
    `ts` ≤ left.`ts` (DuckDB `ASOF LEFT JOIN` semantics; ties on ts resolve to
    the right side, matching `right.ts <= left.ts`).

    → (key, ts, id_col, right_id, right_ts); right_* NULL when no match.
    Only the key/ts/id triple is carried — join other left columns back on
    `id_col` afterwards.
    Single shuffle on `key`; the window's running `last` carries the most
    recent right row forward — no per-row candidate expansion.
    """
    lt = left.select(
        F.col(key), F.col(ts), F.col(id_col), F.lit(False).alias("_is_right")
    )
    rt = right.select(
        F.col(key), F.col(ts), F.col(id_col), F.lit(True).alias("_is_right")
    )
    # Right rows sort before left rows at equal ts (desc on the boolean) so a
    # same-timestamp right row is visible to the left row, per `<=`.
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts), F.col("_is_right").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last(
        F.when(
            F.col("_is_right"),
            F.struct(F.col(ts).alias("rts"), F.col(id_col).alias("rid")),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        lt.unionByName(rt)
        .withColumn("_m", carried)
        .filter(~F.col("_is_right"))
        .select(
            F.col(key),
            F.col(ts),
            F.col(id_col),
            F.col("_m.rid").alias("right_id"),
            F.col("_m.rts").alias("right_ts"),
        )
    )


def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (event_id, user_id, view_event_id, lag_s): each purchase attributed
    to the user's most recent view at-or-before it (NULLs if none)."""
    ev = _events(spark, sf_dir)
    out = asof_join(
        ev.filter(F.col("event_type") == ASOF_LEFT_TYPE),
        ev.filter(F.col("event_type") == ASOF_RIGHT_TYPE),
    )
    return out.select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("right_id").alias("view_event_id"),
        F.round(
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("right_ts").cast("timestamp"))
            )
            / 1000000.0,
            6,
        ).alias("lag_s"),
    )


def event_pairs_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range self-join: ordered pairs of same-user events with
    0 ≤ t2 − t1 ≤ RANGE_WINDOW_S → (user_id, event1, event2, dt_s).

    Left rows are replicated into time bins {b, b+1} (bin width =
    RANGE_WINDOW_S) so
    every qualifying pair meets on the (user_id, bin) equi key; the exact time
    predicate filters after the equi join. The ordering tie at equal ts breaks
    by event_id so each unordered pair appears exactly once.
    """
    w_us = RANGE_WINDOW_S * 1_000_000
    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        # ts is TIMESTAMP_NTZ in the parquet; session TZ is pinned UTC so the
        # cast is deterministic
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    b = F.floor(F.col("us") / F.lit(w_us))
    left = ev.select(
        F.col("event_id").alias("event1"),
        "user_id",
        F.col("us").alias("us1"),
        F.explode(F.array(b, b + 1)).alias("bin"),
    )
    right = ev.select(
        F.col("event_id").alias("event2"),
        "user_id",
        F.col("us").alias("us2"),
        b.alias("bin"),
    )
    return (
        left.join(right, ["user_id", "bin"])
        .filter(
            (F.col("us2") >= F.col("us1"))
            & (F.col("us2") - F.col("us1") <= w_us)
            & (
                (F.col("us1") < F.col("us2"))
                | (F.col("event1") < F.col("event2"))
            )
        )
        .select(
            "user_id",
            "event1",
            "event2",
            F.round((F.col("us2") - F.col("us1")) / 1000000.0, 6).alias("dt_s"),
        )
    )
