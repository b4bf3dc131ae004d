"""Physical-plan assertions: the plan-shape properties the 100 TB design
relies on must not regress (SURVEY.md 'optimize for scale' discipline).
These inspect plans only — no job execution."""

from pyspark.sql import functions as F

from mimirsbrunn_spark import gate_rel, series, tiers
from mimirsbrunn_spark.plans import assert_broadcast_join, assert_no_sort_aggregate, plan_str


def test_series_plan_hash_agg_only(pages_df):
    """Dedup must compile to hash aggregation — a SortAggregate here means
    the full input gets sorted twice (the dropDuplicates-subset regression)."""
    df = series.series_1m(pages_df)
    assert_no_sort_aggregate(df)
    assert "HashAggregate" in plan_str(df)


def test_series_scan_prunes_columns(pages_df):
    """The series scan must not read `text` (column pruning to the parquet
    reader — at 100 TB `text` is ~half the table)."""
    p = plan_str(series.series_1m(pages_df))
    scan = [l for l in p.splitlines() if "ReadSchema" in l]
    assert scan and all("text" not in l for l in scan)


def test_filter_pushdown_reaches_scan(pages_df):
    p = plan_str(pages_df.filter(F.col("lang") == "en").select("url"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p


def test_hierarchy_join_is_broadcast(spark):
    df = gate_rel.q_hierarchy_denorm(spark, "/root/testdata/sf0.001")
    assert_broadcast_join(df)


def test_cascade_reuses_partitioning(pages_df):
    """The 1h→1d cascade step must add at most one Exchange (the re-bucket
    groupBy); no extra shuffles sneak in."""
    base = series.series_1m(pages_df)
    hourly = tiers.rollup(base, "1h")
    daily_from_hourly = tiers.rollup(hourly, "1d")
    n_h = plan_str(hourly, "simple").count("Exchange")
    n_d = plan_str(daily_from_hourly, "simple").count("Exchange")
    assert n_d == n_h + 1


def test_minhash_band_exchange_carries_no_shingles(pages_df, spark):
    """The band-bucket shuffle must move only (id, band, bucket) — the
    shingle arrays (KBs/doc) are re-joined for surviving pairs only. Any
    Exchange or Window partitioned on (band, bucket) whose schema mentions
    `sh` means the payload regression is back."""
    from mimirsbrunn_spark.operators.dedup import minhash_dedup_pairs

    docs = pages_df.limit(100).selectExpr("url as doc_id", "text")
    p = plan_str(minhash_dedup_pairs(docs))
    lines = p.splitlines()
    for i, line in enumerate(lines):
        if "Window" in line and "band" in line and "bucket" in line:
            # the Window over (band, bucket) sizes buckets; its expressions
            # must not include the shingle column
            assert "sh#" not in line


def test_series_single_full_shuffle(pages_df):
    """series_1m must have exactly 2 Exchanges: the explicit repartition on
    (host, bucket_ts, lang, salt) — the ONLY full-data shuffle, reused by
    both the dedup aggregate and the salted partial — plus the tiny final
    re-aggregate. A third Exchange means the dedup/partial fusion regressed."""
    from mimirsbrunn_spark import series

    p = plan_str(series.series_1m(pages_df), "simple")
    assert p.count("Exchange") == 2
    assert "REPARTITION_BY_COL" in p


def test_gapfill_no_join_single_exchange(pages_df):
    """gapfill must not join or union a spine: no Join operator, and exactly
    ONE Exchange downstream of the host series — the window shuffle over the
    observed rows. Gap buckets are emitted narrow (sequence+explode) by the
    row that closes each gap; a second Exchange or a Union means the
    single-window anchor design regressed."""
    from mimirsbrunn_spark import gapfill, series, tiers

    hs = tiers.host_series(tiers.rollup(series.series_1m(pages_df), "1h"))
    base_ex = plan_str(hs, "simple").count("Exchange")
    p = plan_str(gapfill.gapfill(hs, "1h"), "simple")
    assert "Join" not in p and "Union" not in p
    assert p.count("Exchange") == base_ex + 1


def test_asof_and_sessions_single_shuffle(spark):
    """asof join (union+locf) and sessionization (window + same-key groupBy)
    must each cost exactly ONE Exchange — the group-key shuffle. A Join node
    or a second Exchange means the single-sort design regressed."""
    from mimirsbrunn_spark.operators.asof import asof_join_backward
    from mimirsbrunn_spark.operators.sessions import session_stats

    left = spark.createDataFrame([("h", 1, 1)], "host string, sec long, lid long").select(
        "host", F.timestamp_seconds("sec").alias("ts"), "lid"
    )
    right = spark.createDataFrame([("h", 1, 1.0)], "host string, sec long, value double").select(
        "host", F.timestamp_seconds("sec").alias("ts"), "value"
    )
    p = plan_str(asof_join_backward(left, right, by=("host",)), "simple")
    assert p.count("Exchange") == 1 and "Join" not in p

    e = spark.createDataFrame([(1, 2, 3)], "user_id long, event_id long, sec long").select(
        "user_id", "event_id", F.timestamp_seconds("sec").alias("ts")
    )
    p2 = plan_str(session_stats(e, tiebreak="event_id"), "simple")
    assert p2.count("Exchange") == 1


def test_stats_cascade_exchange_free_after_rollup(pages_df):
    """The six-sum stats family reuses one host-keyed partitioning: the
    full minute→1h→1d→30d cascade plus the per-host corr must add ZERO
    Exchanges beyond stats_rollup's two (minute agg + key repartition) —
    hash-partitioning on the key subset satisfies every coarser grouping."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.ingest import with_host
    from mimirsbrunn_spark.operators.stats import (
        corr_from_stats,
        stats_cascade,
        stats_rollup,
    )

    p = with_host(pages_df).select("host", "warc_ts", "page_size")
    s1h = stats_rollup(p, "1h")
    base_ex = plan_str(s1h, "simple").count("Exchange")
    full = corr_from_stats(stats_cascade(stats_cascade(s1h, "1d"), "30d"))
    assert plan_str(full, "simple").count("Exchange") == base_ex


def test_distinct_and_topn_plan_shapes(spark):
    """Sketch rollup: ONE Exchange (the (keys, bucket) group shuffle),
    hash aggregation only. Sketch cascade: one Exchange over the tiny
    sketch rows. Top-N finest tier: one full-data Exchange for the count
    plus the per-bucket rank window's (already aggregated) shuffle — and
    never a SortAggregate over raw rows."""
    from mimirsbrunn_spark.operators.distinct import sketch_cascade, sketch_rollup
    from mimirsbrunn_spark.operators.topn import topn_rollup

    pg = spark.createDataFrame(
        [("h", 1, "u")], "host string, sec long, url string"
    ).select("host", F.timestamp_seconds("sec").alias("warc_ts"), "url")

    p = plan_str(sketch_rollup(pg, "1h"), "simple")
    assert p.count("Exchange") == 1
    assert_no_sort_aggregate(sketch_rollup(pg, "1h"))

    p2 = plan_str(sketch_cascade(sketch_rollup(pg, "1h"), "1d"), "simple")
    assert p2.count("Exchange") == 2  # child build + sketch-row merge

    p3 = plan_str(topn_rollup(pg, "1h", n=3), "simple")
    # count groupBy shuffles the projected raw rows once; the rank window
    # re-shuffles only (bucket, item, cnt) aggregate rows
    assert p3.count("Exchange") == 2 and "Join" not in p3


def test_slo_burn_two_exchanges_and_hdr_pick_rides_window(spark):
    """SLO: hourly stats groupBy (host,bucket) then the RANGE window on host
    — exactly TWO Exchanges, no Join (the long window must not become a
    self-join). HDR multi-quantile: the pick groupBy reuses the cumsum
    window's partitioning — one Exchange for the bin groupBy, one for the
    window, NONE for the pick."""
    import pandas as pd

    from mimirsbrunn_spark.operators.histograms import hdr_histogram, hdr_quantiles_multi
    from mimirsbrunn_spark.operators.slo import error_rollup, multiwindow_burn

    pdf = pd.DataFrame(
        {"host": ["a", "b"] * 50, "warc_sec": range(100), "is_err": [False] * 100}
    )
    df = spark.createDataFrame(pdf)
    burn = multiwindow_burn(error_rollup(df, F.col("is_err")), error_budget=0.01)
    p = plan_str(burn, "simple")
    assert "Join" not in p
    assert p.count("Exchange") == 2

    h = hdr_histogram(df, value_col="warc_sec", keys=("host",))
    q = hdr_quantiles_multi(h, {"p50": 0.5, "p99": 0.99}, keys=("host",))
    pq = plan_str(q, "simple")
    assert "Join" not in pq
    assert pq.count("Exchange") == 2


def test_smooth_cusum_seasonal_single_exchange(spark):
    """The sequential per-key stages (ewma/holt/cusum: applyInPandas) and
    the seasonal-profile window must each cost exactly ONE Exchange on
    their key columns — a second Exchange means a redundant repartition
    crept in front of the pandas stage."""
    from mimirsbrunn_spark.operators import anomaly, changepoint, smooth

    hs = spark.createDataFrame(
        [("a", 0, 1)], "host string, bucket_sec long, c long"
    )
    for df in (
        smooth.ewma(hs, 0.25, ts_col="bucket_sec", value_col="c"),
        smooth.holt_linear(hs, 0.5, 0.25, ts_col="bucket_sec", value_col="c"),
        changepoint.cusum_changepoints(hs, ts_col="bucket_sec", value_col="c"),
        anomaly.seasonal_zscore(hs, ts_col="bucket_sec", value_col="c"),
    ):
        p = plan_str(df, "simple")
        assert p.count("Exchange") == 1, p


def test_interval_join_is_equi_join_no_cross(spark):
    """interval_join must compile to an EQUI join (SortMergeJoin or
    ShuffledHashJoin/BroadcastHashJoin on keys+bucket) — a
    BroadcastNestedLoopJoin or CartesianProduct means the bucket
    decomposition regressed to a range cross-product."""
    from mimirsbrunn_spark.operators import intervals

    isl = spark.createDataFrame(
        [("a", 1, 0, 7200, 2)],
        "host string, island_id long, start_sec long, end_sec long, n_buckets long",
    )
    pts = spark.createDataFrame([("a", 5)], "host string, warc_sec long")
    for how in ("inner", "left"):
        p = plan_str(
            intervals.interval_join(pts, isl, ts_col="warc_sec", how=how),
            "simple",
        )
        assert "CartesianProduct" not in p and "NestedLoop" not in p, p
        assert ("SortMergeJoin" in p) or ("HashJoin" in p), p
