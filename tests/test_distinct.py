"""Distinct-count continuous aggregates: the exact mode against hand counts
and the HLL sketch cascade against its merge property (unions are
register-lossless: exact estimate equality in coupon range, sub-RSE
agreement beyond — direct builds use the HIP estimator, unions the
composite one) plus an accuracy tolerance vs exact counts."""

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.operators.distinct import (
    distinct_rollup,
    sketch_cascade,
    sketch_rollup,
)


def _mk_pages(spark, n=6000, hosts=7, urls=400):
    """Deterministic raw rows: url ids repeat both within and across days."""
    return spark.range(n).select(
        F.concat(F.lit("h"), (F.col("id") % hosts).cast("string")).alias("host"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") * 7919) % (40 * 86400)
        ).alias("warc_ts"),
        F.concat(F.lit("u"), ((F.col("id") * 31) % urls).cast("string")).alias("url"),
    )


def test_exact_distinct_hand_computed(spark):
    rows = [
        ("a", 0, "x"), ("a", 10, "x"), ("a", 20, "y"),      # day 0: {x,y}
        ("a", 86400, "x"),                                   # day 1: {x}
        ("b", 0, "x"), ("b", 50, "y"), ("b", 60, "z"),       # day 0: {x,y,z}
    ]
    df = spark.createDataFrame(rows, "host string, sec long, url string").select(
        "host", F.timestamp_seconds("sec").alias("warc_ts"), "url"
    )
    got = {
        (r["host"], int(r["bucket_ts"].timestamp())): r["distinct_count"]
        for r in distinct_rollup(df, "1d").collect()
    }
    assert got == {("a", 0): 2, ("a", 86400): 1, ("b", 0): 3}


def _assert_est_close(m: dict, d: dict, rel: float = 0.01) -> None:
    """Merged-vs-direct estimates: identical keys, each estimate within
    ``rel`` (the HIP-vs-composite estimator gap is well under the lgK=12
    RSE of ~1.6%)."""
    assert m.keys() == d.keys() and m
    for k, v in d.items():
        assert m[k] == pytest.approx(v, rel=rel), k


def test_sketch_merge_equivalence(spark):
    """union(1h sketches) at 1d vs a direct 1d sketch, and again 1d -> 30d.
    Same lgK => the union is register-lossless, so while per-bucket counts
    stay in exact coupon mode the estimates are EXACTLY equal (the 1d
    level here); beyond that Datasketches estimates direct builds with the
    HIP estimator but unions with the composite estimator, so the 30d
    level is pinned to sub-RSE agreement instead."""
    pg = _mk_pages(spark)
    s1h = sketch_rollup(pg, "1h")
    merged_1d = sketch_cascade(s1h, "1d")
    direct_1d = sketch_rollup(pg, "1d")
    key = lambda r: (r["host"], r["bucket_ts"])
    m = {key(r): r["distinct_est"] for r in merged_1d.collect()}
    d = {key(r): r["distinct_est"] for r in direct_1d.collect()}
    assert m == d  # coupon-exact range: per-(host, day) counts are small

    merged_30d = sketch_cascade(merged_1d, "30d")
    direct_30d = sketch_rollup(pg, "30d")
    m30 = {key(r): r["distinct_est"] for r in merged_30d.collect()}
    d30 = {key(r): r["distinct_est"] for r in direct_30d.collect()}
    _assert_est_close(m30, d30)


def test_sketch_estimate_accuracy(spark):
    """lgK=12 (4096 registers) has relative std error ~1.6%; assert the
    per-bucket estimate is within 5% of the exact distinct count."""
    pg = _mk_pages(spark, n=20000, hosts=3, urls=3000)
    exact = {
        (r["host"], r["bucket_ts"]): r["distinct_count"]
        for r in distinct_rollup(pg, "30d").collect()
    }
    est = {
        (r["host"], r["bucket_ts"]): r["distinct_est"]
        for r in sketch_rollup(pg, "30d").collect()
    }
    assert est.keys() == exact.keys()
    for k, e in exact.items():
        assert est[k] == pytest.approx(e, rel=0.05)


def test_distinct_job_publish_and_serve(spark, small_pages_path, tmp_path):
    """Published sketch tiers: parents are built from the CHILD TABLE's
    stored sketch bytes and agree with a direct sketch over raw pages to
    within the estimator gap (register-losslessness survives the parquet
    round-trip); the pruned read equals the unpruned filter."""
    from mimirsbrunn_spark.ingest import read_pages, with_host
    from mimirsbrunn_spark.jobs.distinct_job import run_distinct_job, spec

    read_distinct = spec().read

    out = str(tmp_path / "distinct_out")
    run_distinct_job(spark, small_pages_path, out)
    pages = with_host(read_pages(spark, small_pages_path))

    key = lambda r: (r["host"], r["bucket_ts"])
    for tier in ("1h", "1d", "30d"):
        direct = {key(r): r["distinct_est"] for r in sketch_rollup(pages, tier).collect()}
        served = {key(r): r["distinct_est"] for r in read_distinct(spark, out, tier).collect()}
        _assert_est_close(served, direct)

    # narrow window: pruned read == full read filtered; and the range-wide
    # distinct via sketch union matches a direct whole-range sketch
    full = read_distinct(spark, out, "1h")
    mn, mx = full.agg(
        F.min(F.col("bucket_ts").cast("long")), F.max(F.col("bucket_ts").cast("long"))
    ).first()
    t0, t1 = mn + 86400, mn + 2 * 86400
    narrow = read_distinct(spark, out, "1h", t0=t0, t1=t1)
    ref = full.filter(
        (F.col("bucket_ts").cast("long") >= t0) & (F.col("bucket_ts").cast("long") < t1)
    )
    assert narrow.count() == ref.count() > 0
    assert narrow.select("host", "bucket_ts", "distinct_est").exceptAll(
        ref.select("host", "bucket_ts", "distinct_est")
    ).count() == 0

    merged_total = (
        narrow.groupBy("host")
        .agg(F.hll_union_agg("url_sketch").alias("s"))
        .select("host", F.hll_sketch_estimate("s").cast("long").alias("est"))
    )
    span_pages = pages.filter(
        (F.col("warc_ts").cast("long") >= t0) & (F.col("warc_ts").cast("long") < t1)
    )
    direct_total = (
        span_pages.groupBy("host")
        .agg(F.hll_sketch_agg("url", F.lit(12)).alias("s"))
        .select("host", F.hll_sketch_estimate("s").cast("long").alias("est"))
    )
    m = {r["host"]: r["est"] for r in merged_total.collect()}
    d = {r["host"]: r["est"] for r in direct_total.collect()}
    _assert_est_close(m, d)


def test_sketch_bucket_bounds(spark):
    """Sketch rows land in the same buckets as the exact rollup (same
    (host, bucket_ts) key set)."""
    pg = _mk_pages(spark, n=2000)
    a = {(r["host"], r["bucket_ts"]) for r in distinct_rollup(pg, "1h").collect()}
    b = {(r["host"], r["bucket_ts"]) for r in sketch_rollup(pg, "1h").collect()}
    assert a == b
