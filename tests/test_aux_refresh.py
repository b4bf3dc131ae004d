"""Incremental refresh of the auxiliary aggregate tiers: bootstrap on a
day-truncated table, then refresh with the held-out day(s) — the result
must equal a full rebuild over everything. Histograms and top-N are exact
(integer sums / deterministic ranks → bit-identical); distinct sketches
compare estimate-for-estimate within the sketch RSE (merge/insert order
differs between the two paths). Also pins the cross-year 30d invalidation
(a January day dirties the PRIOR year's 30d partition), the one-snapshot
swap of each refreshed tier, and the time bounds every aux read pushes to
parquet."""

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark import plans
from mimirsbrunn_spark.ingest import read_pages
from mimirsbrunn_spark.tables import SnapshotTable
from mimirsbrunn_spark.tiers import dirty_partition_keys


@pytest.fixture(scope="module")
def split_pages(spark, small_pages_path, tmp_path_factory):
    """(all_pages_path, boot_pages_path, held_out_days): the last 2 days of
    the fixture are held out of the bootstrap."""
    root = tmp_path_factory.mktemp("auxsplit")
    pages = read_pages(spark, small_pages_path)
    days = sorted(
        r["d"] for r in pages.select(
            F.date_format("warc_ts", "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )
    held = days[-2:]
    boot = str(root / "boot_pages")
    pages.filter(~F.date_format("warc_ts", "yyyy-MM-dd").isin(held)).write.parquet(boot)
    return small_pages_path, boot, held


def _table_rows(spark, out, name, drop=()):
    df = SnapshotTable(f"{out}/{name}").read(spark).drop("pkey", *drop)
    return df


def test_hist_incremental_equals_full(spark, split_pages, tmp_path):
    """Both sketch families (log-2 and HDR). Each refreshed tier gains
    exactly ONE snapshot (an atomic partition swap, never a drop then an
    append) that replaces exactly its dirty partitions and keeps the
    full-build meta."""
    from mimirsbrunn_spark.jobs.histogram_job import run_histogram_job

    all_p, boot_p, held = split_pages
    for sketch, prefix in (("log2", "hist"), ("hdr", "hdr")):
        full, inc = str(tmp_path / f"full_{sketch}"), str(tmp_path / f"inc_{sketch}")
        run_histogram_job(spark, all_p, full, sketch=sketch)
        run_histogram_job(spark, boot_p, inc, sketch=sketch)
        tables = {t: SnapshotTable(f"{inc}/{prefix}_{t}") for t in ("1h", "1d", "30d")}
        before = {t: len(tbl.snapshots()) for t, tbl in tables.items()}
        run_histogram_job(spark, all_p, inc, days=held, sketch=sketch)
        for tier, tbl in tables.items():
            assert len(tbl.snapshots()) == before[tier] + 1, (sketch, tier)
            meta = tbl.snapshot(tbl.current_snapshot_id()).meta
            assert meta["replaced_values"] == sorted(dirty_partition_keys(held, tier))
            assert meta["tier"] == tier and meta["refresh_days"] == held
            assert "partition_fmt" in meta
        for tier in ("1h", "1d", "30d"):
            a = _table_rows(spark, full, f"{prefix}_{tier}")
            b = _table_rows(spark, inc, f"{prefix}_{tier}")
            assert a.count() == b.count() > 0, (sketch, tier)
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, (sketch, tier)


def test_topn_incremental_equals_full(spark, split_pages, tmp_path):
    """The refresh keeps the family meta, so the served cut (n from the
    snapshot meta) works after a daily run and equals the full build's."""
    from mimirsbrunn_spark.jobs.topn_job import read_topn, run_topn_job

    all_p, boot_p, held = split_pages
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    kw = dict(n=3, slack=4, item_col="lang")  # complete lists → deterministic
    run_topn_job(spark, all_p, full, **kw)
    run_topn_job(spark, boot_p, inc, **kw)
    run_topn_job(spark, all_p, inc, days=held, **kw)
    for tier in ("1h", "1d", "30d"):
        a = _table_rows(spark, full, f"topn_{tier}")
        b = _table_rows(spark, inc, f"topn_{tier}")
        assert a.count() == b.count() > 0, tier
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier
        a, b = read_topn(spark, full, tier), read_topn(spark, inc, tier)
        assert a.count() == b.count() > 0, tier
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier


def test_distinct_incremental_estimates_match(spark, split_pages, tmp_path):
    from mimirsbrunn_spark.jobs.distinct_job import run_distinct_job

    all_p, boot_p, held = split_pages
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    run_distinct_job(spark, all_p, full)
    run_distinct_job(spark, boot_p, inc)
    run_distinct_job(spark, all_p, inc, days=held)
    for tier in ("1h", "1d", "30d"):
        a = _table_rows(spark, full, f"distinct_{tier}", drop=("url_sketch",))
        b = _table_rows(spark, inc, f"distinct_{tier}", drop=("url_sketch",))
        j = a.withColumnRenamed("distinct_est", "ea").join(
            b.withColumnRenamed("distinct_est", "eb"), ["host", "bucket_ts"], "full"
        )
        bad = j.filter(
            "ea IS NULL OR eb IS NULL OR abs(ea - eb) > greatest(0.02 * eb, 1)"
        ).count()
        assert bad == 0 and j.count() > 0, tier


def test_dirty_parent_pkeys_cross_year(spark):
    """A 30d bucket that starts in late December covers early-January days:
    the January dirty day must invalidate the PRIOR year's partition."""
    # 2024-01-03 lies in the 30d bucket starting 2023-12-07 (epoch-aligned)
    import datetime as dt

    day = "2024-01-03"
    pk = sorted(dirty_partition_keys([day], "30d"))
    sec = int(dt.datetime(2024, 1, 3, tzinfo=dt.timezone.utc).timestamp())
    start = sec - sec % 2_592_000
    want = dt.datetime.fromtimestamp(start, dt.timezone.utc).strftime("%Y")
    assert want == "2023"  # the covering epoch-aligned bucket starts Dec 2023
    assert pk == [want]
    assert sorted(dirty_partition_keys([day], "1d")) == ["2024-01"]


@pytest.fixture(scope="module")
def aux_published(spark, small_pages_path, tmp_path_factory):
    """All five aux families published into one layout."""
    from mimirsbrunn_spark.jobs import distinct_job, histogram_job, slo_job, stats_job, topn_job

    out = str(tmp_path_factory.mktemp("aux_all") / "out")
    distinct_job.run_distinct_job(spark, small_pages_path, out)
    topn_job.run_topn_job(spark, small_pages_path, out, n=3, slack=2)
    histogram_job.run_histogram_job(spark, small_pages_path, out)
    stats_job.run_stats_job(spark, small_pages_path, out)
    slo_job.run_slo_job(spark, small_pages_path, out, "page_size % 7 = 0")
    return out


def _aux_read(family):
    from mimirsbrunn_spark.jobs import distinct_job, histogram_job, slo_job, stats_job, topn_job

    return {
        "distinct": distinct_job.spec().read,
        "topn": lambda spark, out, tier, t0, t1: topn_job.read_topn(spark, out, tier, t0=t0, t1=t1),
        "hist": histogram_job.spec().read,
        "stats": stats_job.STATS.read,
        "slo": slo_job.SLO.read,
    }[family]


@pytest.mark.parametrize("family", ["distinct", "topn", "hist", "stats", "slo"])
def test_aux_read_pushes_time_bounds(spark, aux_published, family):
    """Every aux read hands both bucket_ts bounds to the parquet scan, not
    only the partition-key range to the manifest."""
    import datetime as dt

    t0 = int(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp())
    df = _aux_read(family)(spark, aux_published, "1h", t0, t0 + 6 * 3600)
    pushed = " ".join(plans.pushed_filters(df))
    assert "GreaterThanOrEqual(bucket_ts,2024-01-02 00:00:00.0)" in pushed, pushed
    assert "LessThan(bucket_ts,2024-01-02 06:00:00.0)" in pushed, pushed
