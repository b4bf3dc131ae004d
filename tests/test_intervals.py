"""Gaps-and-islands busy periods + bucketed interval join
(operators/intervals.py) — crafted islands, containment edges, multi-bucket
intervals, left-join semantics."""

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.operators import intervals


@pytest.fixture(scope="module")
def hourly(spark):
    # host a: busy 0-2h and 5h; host b: busy 1h only; host c: never
    rows = []
    for h in range(8):
        rows.append(("a", h * 3600, 5 if h in (0, 1, 2, 5) else 1))
    rows.append(("b", 3600, 9))
    rows.append(("c", 0, 1))
    return spark.createDataFrame(rows, "host string, bucket_sec long, c long")


def test_busy_islands_merges_adjacent(spark, hourly):
    got = (
        intervals.busy_islands(
            hourly, F.col("c") >= 5, ts_col="bucket_sec", step_sec=3600
        )
        .orderBy("host", "island_id")
        .collect()
    )
    as_tuples = [(r.host, r.island_id, r.start_sec, r.end_sec, r.n_buckets) for r in got]
    assert as_tuples == [
        ("a", 1, 0, 3 * 3600, 3),      # hours 0,1,2 merged
        ("a", 2, 5 * 3600, 6 * 3600, 1),
        ("b", 1, 3600, 2 * 3600, 1),
    ]


def test_interval_join_containment_edges(spark, hourly):
    isl = intervals.busy_islands(
        hourly, F.col("c") >= 5, ts_col="bucket_sec", step_sec=3600
    )
    pts = spark.createDataFrame(
        [
            ("a", 0),            # == start: in
            ("a", 3 * 3600 - 1), # last second of island 1: in
            ("a", 3 * 3600),     # == end (half-open): out
            ("a", 5 * 3600 + 10),# island 2: in
            ("a", 4 * 3600),     # gap: out
            ("b", 3700),         # in b's island
            ("c", 0),            # host with no islands: out
        ],
        "host string, warc_sec long",
    )
    got = intervals.interval_join(
        pts, isl, ts_col="warc_sec", bucket_width_sec=3600, how="inner"
    ).collect()
    matched = sorted((r.host, r.warc_sec, r.island_id) for r in got)
    assert matched == [
        ("a", 0, 1),
        ("a", 3 * 3600 - 1, 1),
        ("a", 5 * 3600 + 10, 2),
        ("b", 3700, 1),
    ]


def test_interval_join_left_keeps_unmatched(spark, hourly):
    isl = intervals.busy_islands(
        hourly, F.col("c") >= 5, ts_col="bucket_sec", step_sec=3600
    )
    pts = spark.createDataFrame(
        [("a", 0), ("a", 4 * 3600), ("zzz", 1)], "host string, warc_sec long"
    )
    got = intervals.interval_join(
        pts, isl, ts_col="warc_sec", bucket_width_sec=3600, how="left"
    ).collect()
    assert len(got) == 3
    by = {(r.host, r.warc_sec): r for r in got}
    assert by[("a", 0)].island_id == 1
    assert by[("a", 4 * 3600)].island_id is None
    assert by[("zzz", 1)].island_id is None


def test_interval_join_small_buckets_multispan(spark):
    # W much smaller than the interval: interval explodes to many buckets,
    # every contained point still matches exactly once
    isl = spark.createDataFrame(
        [("a", 1, 100, 1000, 1)],
        "host string, island_id long, start_sec long, end_sec long, n_buckets long",
    )
    pts = spark.createDataFrame(
        [("a", s) for s in (99, 100, 550, 999, 1000)],
        "host string, warc_sec long",
    )
    got = intervals.interval_join(
        pts, isl, ts_col="warc_sec", bucket_width_sec=7, how="inner"
    ).collect()
    assert sorted(r.warc_sec for r in got) == [100, 550, 999]
    assert all(r.island_id == 1 for r in got)


def test_interval_join_drops_empty_intervals(spark):
    isl = spark.createDataFrame(
        [("a", 1, 50, 50, 0), ("a", 2, 60, 61, 1)],
        "host string, island_id long, start_sec long, end_sec long, n_buckets long",
    )
    pts = spark.createDataFrame([("a", 50), ("a", 60)], "host string, warc_sec long")
    got = intervals.interval_join(
        pts, isl, ts_col="warc_sec", bucket_width_sec=3600, how="inner"
    ).collect()
    assert [(r.warc_sec, r.island_id) for r in got] == [(60, 2)]


def test_interval_join_validates_how(spark, hourly):
    isl = intervals.busy_islands(hourly, F.col("c") >= 5, ts_col="bucket_sec")
    with pytest.raises(ValueError):
        intervals.interval_join(hourly, isl, ts_col="bucket_sec", how="outer")


def test_interval_join_exact_bucket_ids_beyond_2_53(spark):
    """Nanosecond epochs lie past 2^53, where a DOUBLE floor(ts / W) rounds
    about a third of the points into the next bucket. Rounding is monotone
    on both sides, so the join keeps its matches, but the bucket ids are
    wrong: the bucket arithmetic must stay in exact longs."""
    from mimirsbrunn_spark.plans import plan_str

    W = 3_600_000_000_000  # 1 h in ns
    b = (1_700_000_000 * 10**9 // W) * W  # an hour boundary in ns
    isl = spark.createDataFrame(
        [("a", 1, b - 2, b, 1), ("a", 2, b, b + W + 1, 2)],
        "host string, island_id long, start_sec long, end_sec long, n_buckets long",
    )
    pts = spark.createDataFrame(
        [("a", t) for t in (b - 3, b - 2, b - 1, b, b + W, b + W + 1)],
        "host string, warc_sec long",
    )
    out = intervals.interval_join(pts, isl, ts_col="warc_sec", bucket_width_sec=W)
    got = sorted((r.warc_sec, r.island_id) for r in out.collect())
    assert got == [(b - 2, 1), (b - 1, 1), (b, 2), (b + W, 2)]
    assert "double" not in plan_str(out, "extended").lower()

    ts = [b - 1, b, b + 1, -1, -W, -W - 1, 2**62 + 7]
    ids = (
        spark.createDataFrame([(t,) for t in ts], "t long")
        .select("t", intervals._bucket_id(F.col("t"), W).alias("id"))
        .collect()
    )
    assert [(r.t, r.id) for r in ids] == [(t, t // W) for t in ts]
