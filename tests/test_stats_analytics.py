"""Edge-case pins for the round-4 operators: series_corr (exact sufficient
stats), counters.idelta, hopping windows, cohort retention. The happy path
is gate-verified against DuckDB (check_oracle: series_corr / idelta_1h /
sliding_1h_15m / cohort_retention); these tests pin the degenerate inputs
the synthetic fixture can't guarantee to contain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.operators.analytics import cohort_retention, hopping_window_agg
from mimirsbrunn_spark.operators.counters import idelta
from mimirsbrunn_spark.operators.stats import series_corr


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------- corr


def test_series_corr_exact_line(spark):
    # y = 2x + 1 exactly → corr 1.0, slope 2.0, intercept 1.0 (all exact:
    # the sufficient stats are small integers, the formulas hit them with
    # exact doubles)
    rows = [("a", x, 2 * x + 1) for x in range(1, 6)]
    out = series_corr(
        _df(spark, rows, "k string, x long, y long"), ["k"], "x", "y"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 5
    assert r["corr"] == pytest.approx(1.0, abs=1e-12)
    assert r["slope"] == 2.0
    assert r["intercept"] == 1.0


def test_series_corr_zero_variance_is_null_not_crash(spark):
    # constant x → var_x = 0 → NULL corr/slope/intercept (not a div-by-zero
    # NaN/Inf that would poison a downstream aggregate)
    rows = [("a", 7, y) for y in (1, 5, 9)]
    r = series_corr(
        _df(spark, rows, "k string, x long, y long"), ["k"], "x", "y"
    ).collect()[0]
    assert r["corr"] is None and r["slope"] is None and r["intercept"] is None


def test_series_corr_min_points_drops_singletons(spark):
    rows = [("a", 1, 1), ("b", 1, 1), ("b", 2, 3)]
    out = series_corr(
        _df(spark, rows, "k string, x long, y long"), ["k"], "x", "y"
    ).collect()
    assert {r["k"] for r in out} == {"b"}


def test_series_corr_negative_correlation(spark):
    rows = [("a", x, 100 - 3 * x) for x in range(10)]
    r = series_corr(
        _df(spark, rows, "k string, x long, y long"), ["k"], "x", "y"
    ).collect()[0]
    assert r["corr"] == pytest.approx(-1.0, abs=1e-12)
    assert r["slope"] == -3.0


# -------------------------------------------------------------------- idelta


def test_idelta_last_two_samples_per_bucket(spark):
    rows = [
        ("h", 0, 10),
        ("h", 60, 25),
        ("h", 120, 31),  # bucket 0: idelta = 31-25 = 6 over 60 s
        ("h", 3600, 40),  # bucket 3600: single sample → dropped
        ("g", 7200, 5),
        ("g", 7260, 8),  # bucket 7200: idelta 3 over 60 s
    ]
    out = idelta(
        _df(spark, rows, "host string, ts_sec long, value long"),
        ["host"],
        bucket_sec=3600,
    ).collect()
    got = {(r["host"], r["bucket_ts_sec"]): (r["idelta"], r["irate"]) for r in out}
    assert got == {("h", 0): (6, 6 / 60), ("g", 7200): (3, 3 / 60)}


def test_idelta_duplicate_ts_yields_null_rate_not_inf(spark):
    rows = [("h", 0, 1), ("h", 0, 4)]
    out = idelta(
        _df(spark, rows, "host string, ts_sec long, value long"),
        ["host"],
        bucket_sec=3600,
    ).collect()
    assert len(out) == 1
    assert out[0]["irate"] is None  # dt=0 → NULLIF guard


# ---------------------------------------------------------------- hopping


def test_hopping_window_event_lands_in_exactly_n_hops_windows(spark):
    rows = [("h", 1000, 7)]
    out = hopping_window_agg(
        _df(spark, rows, "host string, ts_sec long, v long"),
        ["host"],
        window_sec=3600,
        hop_sec=900,
        value_col="v",
    ).collect()
    starts = sorted(r["window_start_sec"] for r in out)
    # anchor = 900; windows start at 900, 0, -900, -1800 and all contain 1000
    assert starts == [-1800, -900, 0, 900]
    assert all(s <= 1000 < s + 3600 for s in starts)
    assert all(r["doc_count"] == 1 and r["value_sum"] == 7 for r in out)


def test_hopping_window_counts_match_bruteforce(spark):
    import random

    rng = random.Random(7)
    rows = [("h", rng.randrange(0, 20_000), 1) for _ in range(300)]
    out = hopping_window_agg(
        _df(spark, rows, "host string, ts_sec long, v long"),
        ["host"],
        window_sec=3600,
        hop_sec=900,
    ).collect()
    got = {r["window_start_sec"]: r["doc_count"] for r in out}
    expect: dict[int, int] = {}
    for _, ts, _v in rows:
        for j in range(4):
            s = ts - ts % 900 - j * 900
            expect[s] = expect.get(s, 0) + 1
    assert got == expect


def test_hopping_window_rejects_non_multiple(spark):
    df = _df(spark, [("h", 0, 1)], "host string, ts_sec long, v long")
    with pytest.raises(ValueError):
        hopping_window_agg(df, ["host"], window_sec=3600, hop_sec=1000)


# ---------------------------------------------------------------- cohorts


def test_cohort_retention_triangle(spark):
    wk = 604_800
    rows = [
        ("u1", 0),          # cohort 0, offset 0
        ("u1", wk + 5),     # offset 1
        ("u1", wk + 6),     # same (cohort, offset) → still one distinct user
        ("u2", 10),         # cohort 0, offset 0
        ("u2", 3 * wk),     # offset 3
        ("u3", wk),         # cohort wk, offset 0
    ]
    out = cohort_retention(
        _df(spark, rows, "user_id string, ts_sec long"), "user_id"
    ).collect()
    got = {(r["cohort_sec"], r["period_offset"]): r["users"] for r in out}
    assert got == {(0, 0): 2, (0, 1): 1, (0, 3): 1, (wk, 0): 1}


def test_cohort_retention_offset_never_negative(spark):
    # first event defines the cohort, so every other event's period ≥ it
    rows = [("u", 100), ("u", 50), ("u", 604_900)]
    out = cohort_retention(
        _df(spark, rows, "user_id string, ts_sec long"), "user_id"
    ).collect()
    assert min(r["period_offset"] for r in out) == 0
    assert all(r["period_offset"] >= 0 for r in out)


# ------------------------------------------------------------------- plans


def test_series_corr_single_exchange(spark):
    rows = [("a", x, x) for x in range(4)]
    df = series_corr(
        _df(spark, rows, "k string, x long, y long"), ["k"], "x", "y"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one aggregation shuffle; the formulas are projections, no extra pass
    assert plan.count("Exchange") <= 2  # partial/final HashAggregate pair
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoop" not in plan


# ------------------------------------------------------------ stats tiers


@pytest.fixture(scope="module")
def stats_published(spark, small_pages_path, tmp_path_factory):
    from mimirsbrunn_spark.jobs.stats_job import run_stats_job

    out = str(tmp_path_factory.mktemp("stats_pub"))
    run_stats_job(spark, small_pages_path, out)
    return out


def test_stats_cascade_equals_direct_build(spark, small_pages_path, stats_published):
    """Every cascaded tier's six sums equal a direct raw build of that tier
    (integer addition is exact — no approximation gap)."""
    from mimirsbrunn_spark.ingest import read_pages, with_host
    from mimirsbrunn_spark.jobs.stats_job import STATS
    from mimirsbrunn_spark.operators.stats import stats_rollup

    pages = with_host(read_pages(spark, small_pages_path))
    for tier in STATS.tiers:
        want = stats_rollup(pages, tier)
        got = STATS.read(spark, stats_published, tier)
        assert got.count() == want.count() > 0, tier
        assert got.exceptAll(want).count() == 0, tier


def test_corr_range_from_tiers_equals_raw_series_corr(
    spark, small_pages_path, stats_published
):
    """read_corr_range over published tiers == series_corr over the raw
    minute observations in the same range — bit-identical (same sums, same
    formula)."""
    from mimirsbrunn_spark.ingest import read_pages, with_host
    from mimirsbrunn_spark.jobs.stats_job import read_corr_range
    from mimirsbrunn_spark.operators.stats import series_corr

    pages = with_host(read_pages(spark, small_pages_path))
    mn, mx = pages.agg(
        F.min(F.col("warc_ts").cast("long")), F.max(F.col("warc_ts").cast("long"))
    ).first()
    t0 = (mn // 86400 + 1) * 86400  # 1d-aligned interior range
    t1 = (mx // 86400) * 86400
    assert t1 > t0

    obs = (
        pages.filter(
            (F.col("warc_ts").cast("long") >= t0) & (F.col("warc_ts").cast("long") < t1)
        )
        .groupBy(
            "host",
            ((F.col("warc_ts").cast("long") / 60).cast("long") * 60).alias("m"),
        )
        .agg(F.count(F.lit(1)).alias("x"), F.sum("page_size").alias("y"))
    )
    want = series_corr(obs, ["host"], "x", "y")
    got = read_corr_range(spark, stats_published, t0, t1)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    # and the auto-routed tier really pruned: a misaligned range raises
    with pytest.raises(ValueError):
        read_corr_range(spark, stats_published, t0 + 61, t1)


def test_stats_job_incremental_refresh_equals_full(spark, small_pages_path, tmp_path):
    """days=[...] incremental mode converges to the same tables as a full
    rebuild (aux_refresh invalidation pattern)."""
    from mimirsbrunn_spark.ingest import read_pages
    from mimirsbrunn_spark.jobs.stats_job import STATS, run_stats_job

    pages = read_pages(spark, small_pages_path)
    days = sorted(
        r[0]
        for r in pages.select(F.date_format("warc_ts", "yyyy-MM-dd")).distinct().collect()
    )
    split = days[len(days) // 2]
    early_dir = str(tmp_path / "early")
    pages.filter(F.date_format("warc_ts", "yyyy-MM-dd") < split).write.parquet(early_dir)

    inc = str(tmp_path / "inc")
    run_stats_job(spark, early_dir, inc)
    run_stats_job(
        spark, small_pages_path, inc, days=[d for d in days if d >= split]
    )

    full = str(tmp_path / "full")
    run_stats_job(spark, small_pages_path, full)
    for tier in STATS.tiers:
        a = STATS.read(spark, inc, tier)
        b = STATS.read(spark, full, tier)
        assert a.count() == b.count() > 0, tier
        assert a.exceptAll(b).count() == 0, tier


# --------------------------------------------------------------------------
# trimmed mean (robust rollup aggregate)
# --------------------------------------------------------------------------


def _py_trimmed(vals, pct):
    s = sorted(vals)
    n = len(s)
    k = min((n * pct) // 100, (n - 1) // 2)
    kept = s[k : n - k]
    return n, len(kept), sum(kept) / len(kept)


def test_trimmed_mean_matches_reference_and_edges(spark):
    from mimirsbrunn_spark.operators import stats

    import random

    random.seed(2)
    groups = {
        "one": [7],                      # n=1: k clamps to 0
        "two": [3, 9],                   # n=2: k clamps to 0 (keeps both)
        "burst": [5] * 18 + [0, 900],    # outliers at both ends trimmed
        "rand": [random.randrange(10_000) for _ in range(37)],
    }
    rows = [(g, i, v) for g, vals in groups.items() for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "host string, ts long, c long")
    out = {
        r.host: (r.n, r.n_kept, r.trimmed_mean)
        for r in stats.trimmed_mean(df, "c", ("host",), trim_pct=10).collect()
    }
    for g, vals in groups.items():
        assert out[g] == _py_trimmed(vals, 10), g
    # the burst group's trimmed mean is exactly the clean value
    assert out["burst"][2] == 5.0
    import pytest as _pt

    with _pt.raises(ValueError):
        stats.trimmed_mean(df, "c", ("host",), trim_pct=50)
    # ranking a double but averaging its long cast would answer 2.0 here, not 2.5
    dbl = spark.createDataFrame([("h", 1.5), ("h", 2.5), ("h", 3.5)], "host string, c double")
    with _pt.raises(ValueError, match="integral"):
        stats.trimmed_mean(dbl, "c", ("host",), trim_pct=0)


def test_trimmed_mean_partition_invariant_single_exchange(spark):
    from mimirsbrunn_spark.operators import stats

    rows = [("h%d" % (i % 4), i, (i * 17) % 1000) for i in range(400)]
    df = spark.createDataFrame(rows, "host string, ts long, c long")
    a = {tuple(r) for r in stats.trimmed_mean(df, "c", ("host",)).collect()}
    b = {
        tuple(r)
        for r in stats.trimmed_mean(df.repartition(11), "c", ("host",)).collect()
    }
    assert a == b and len(a) == 4
    plan = (
        stats.trimmed_mean(df, "c", ("host",))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1  # groupBy rides the window partitioning
