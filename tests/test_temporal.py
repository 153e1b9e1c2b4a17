"""Pin the as-of join's tie and no-match semantics on a constructed frame
(the events fixture has no duplicate timestamps, so the oracle comparison
never exercises ties), plus the range join's bin-boundary exactness."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from temp_c__bpf_osm_reader_spark.operators import temporal


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: view at 10:00, purchase at 10:00 (tie → matches, <= rule),
        # purchase at 10:05 (matches the 10:00 view)
        (100, _ts("2024-01-01T10:00:00"), 1, "view"),
        (2, _ts("2024-01-01T10:00:00"), 1, "purchase"),
        (3, _ts("2024-01-01T10:05:00"), 1, "purchase"),
        # user 2: purchase before any view → NULL match
        (4, _ts("2024-01-01T09:00:00"), 2, "purchase"),
        (5, _ts("2024-01-01T09:30:00"), 2, "view"),
        (6, _ts("2024-01-01T09:45:00"), 2, "purchase"),
        # user 3: two views, purchase takes the latest at-or-before
        (7, _ts("2024-01-01T08:00:00"), 3, "view"),
        (8, _ts("2024-01-01T08:30:00"), 3, "view"),
        (9, _ts("2024-01-01T08:40:00"), 3, "purchase"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )


def test_asof_tie_and_null_semantics(events):
    out = temporal.asof_join(
        events.filter(F.col("event_type") == "purchase"),
        events.filter(F.col("event_type") == "view"),
    )
    got = {r["event_id"]: r["right_id"] for r in out.collect()}
    assert got == {
        2: 100,  # equal-ts view IS visible (right.ts <= left.ts)
        3: 100,
        4: None,  # no prior view
        6: 5,
        9: 8,  # latest of two prior views
    }


def test_range_join_bin_boundary(spark, tmp_path):
    # two events exactly window_s apart (dt == window) must pair; window+1µs must not
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 7, "view", 0.0, ""),
        (2, _ts("2024-01-01T00:05:00"), 7, "view", 0.0, ""),  # dt = 300s exactly
        (3, _ts("2024-01-01T00:10:00.000001"), 7, "view", 0.0, ""),  # 300.000001 from #2
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = temporal.event_pairs_window(df.sparkSession, str(tmp_path))
    pairs = {(r["event1"], r["event2"]) for r in out.collect()}
    # dt(1,2) = 300s exactly → included; dt(2,3) = 300.000001s → excluded
    assert pairs == {(1, 2)}
