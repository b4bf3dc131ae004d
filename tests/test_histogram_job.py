"""Published histogram tiers: cascaded tables equal direct-from-raw builds
EXACTLY at every tier (integer-sum merges), quantile-over-range equals the
operator applied to the same counts, and pruned reads touch fewer files."""

from pyspark.sql import functions as F

from mimirsbrunn_spark.ingest import read_pages, with_host
from mimirsbrunn_spark.jobs.histogram_job import read_quantile, run_histogram_job, spec
from mimirsbrunn_spark.operators.histograms import (
    hdr_histogram,
    hdr_quantile,
    histogram_quantile,
    size_histogram,
)
from mimirsbrunn_spark.series import bucket_col


def read_histogram(spark, out, tier, t0=None, t1=None, sketch="log2"):
    return spec(sketch).read(spark, out, tier, t0, t1)


def test_histogram_job_publish_exact(spark, small_pages_path, tmp_path):
    out = str(tmp_path / "hist_out")
    run_histogram_job(spark, small_pages_path, out)
    pages = with_host(read_pages(spark, small_pages_path))

    for tier in ("1h", "1d", "30d"):
        direct = size_histogram(
            pages.select(
                "host", bucket_col("warc_ts", tier).alias("bucket_ts"), "page_size"
            )
        )
        served = read_histogram(spark, out, tier)
        assert served.count() == direct.count() > 0, tier
        assert served.exceptAll(direct).count() == 0, tier


def test_quantile_over_range_and_pruning(spark, small_pages_path, tmp_path):
    out = str(tmp_path / "hist_out")
    run_histogram_job(spark, small_pages_path, out)

    full = read_histogram(spark, out, "1h")
    mn, mx = full.agg(
        F.min(F.col("bucket_ts").cast("long")), F.max(F.col("bucket_ts").cast("long"))
    ).first()
    t0, t1 = mn + 86400, mn + 3 * 86400

    # served quantile == operator over the identically pruned counts
    want = histogram_quantile(
        read_histogram(spark, out, "1h", t0=t0, t1=t1)
        .groupBy("host", "bin")
        .agg(F.sum("n").alias("n")),
        0.9,
        keys=("host",),
    )
    got = read_quantile(spark, out, 0.9, t0=t0, t1=t1)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # per-bucket form matches the per-bucket operator
    pb = read_quantile(spark, out, 0.5, t0=t0, t1=t1, per_bucket=True)
    pb_want = histogram_quantile(
        read_histogram(spark, out, "1h", t0=t0, t1=t1), 0.5
    )
    assert pb.count() == pb_want.count() > 0
    assert pb.exceptAll(pb_want).count() == 0

    # pruning actually prunes
    narrow = read_histogram(spark, out, "1h", t0=t0, t1=t1)
    assert len(narrow.inputFiles()) < len(full.inputFiles())
    ref = full.filter(
        (F.col("bucket_ts").cast("long") >= t0) & (F.col("bucket_ts").cast("long") < t1)
    )
    assert narrow.count() == ref.count() > 0


def test_hdr_sketch_published_tiers(spark, small_pages_path, tmp_path):
    """The HDR variant rides the same job: published cascade == direct HDR
    build at every tier (lossless merge), range quantile over the published
    counts == the operator over a direct sketch of the same raw rows, and
    the log2 tables coexist under their own prefix."""
    out = str(tmp_path / "hdr_out")
    run_histogram_job(spark, small_pages_path, out, sketch="hdr")
    run_histogram_job(spark, small_pages_path, out, sketch="log2")
    pages = with_host(read_pages(spark, small_pages_path))

    for tier in ("1h", "30d"):
        direct = hdr_histogram(
            pages.select(
                "host", bucket_col("warc_ts", tier).alias("bucket_ts"), "page_size"
            ),
            value_col="page_size",
        )
        served = read_histogram(spark, out, tier, sketch="hdr")
        assert served.count() == direct.count() > 0, tier
        assert served.exceptAll(direct).count() == 0, tier

    # range quantile from published HDR counts == direct sketch of the raw
    # rows in the same range (merge losslessness end to end)
    full = read_histogram(spark, out, "1h", sketch="hdr")
    mn = full.agg(F.min(F.col("bucket_ts").cast("long"))).first()[0]
    t0, t1 = mn + 86400, mn + 3 * 86400
    got = read_quantile(spark, out, 0.95, t0=t0, t1=t1, sketch="hdr")
    raw = pages.filter(
        (bucket_col("warc_ts", "1h").cast("long") >= t0)
        & (bucket_col("warc_ts", "1h").cast("long") < t1)
    )
    want = hdr_quantile(
        hdr_histogram(raw, value_col="page_size", keys=("host",)),
        0.95,
        keys=("host",),
        out_col="quantile_ub",
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # HDR is at least as sharp as log2 everywhere: its p95 upper bound never
    # exceeds the log2 bucket's upper bound
    log2q = read_quantile(spark, out, 0.95, t0=t0, t1=t1, sketch="log2")
    j = got.withColumnRenamed("quantile_ub", "hdr_ub").join(
        log2q.withColumnRenamed("quantile_ub", "log2_ub"), "host"
    )
    assert j.filter(F.col("hdr_ub") > F.col("log2_ub")).count() == 0
