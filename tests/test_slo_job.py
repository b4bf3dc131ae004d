"""Published SLO stats tiers: cascades are exact integer sums, the burn
serving read sees FULL long windows for every in-range bucket (it reads the
pre-range stats through pruning, never raw pages), and range reads prune
files."""

from pyspark.sql import functions as F

from mimirsbrunn_spark.ingest import read_pages, with_host
from mimirsbrunn_spark.jobs.slo_job import SLO, _finest_stats, read_burn, run_slo_job
from mimirsbrunn_spark.operators.slo import multiwindow_burn

ERR_SQL = "page_size % 7 = 0"
read_error_stats = SLO.read


def test_slo_job_publish_exact_and_serving(spark, small_pages_path, tmp_path):
    out = str(tmp_path / "slo_out")
    run_slo_job(spark, small_pages_path, out, ERR_SQL)
    pages = with_host(read_pages(spark, small_pages_path))

    # published tiers == direct builds (integer-sum cascade is lossless)
    for tier in ("1h", "1d"):
        direct = _finest_stats(pages, tier, ERR_SQL)
        served = read_error_stats(spark, out, tier)
        assert served.count() == direct.count() > 0, tier
        assert served.exceptAll(direct).count() == 0, tier

    # burn over a mid-range window equals the operator over ALL stats
    # clipped to the window — i.e. the serving read's pre-t0 stats give
    # every in-range bucket its full long window
    full = read_error_stats(spark, out, "1h")
    mn, mx = full.agg(
        F.min(F.col("bucket_ts").cast("long")), F.max(F.col("bucket_ts").cast("long"))
    ).first()
    t0, t1 = mn + 86400, mn + 2 * 86400
    want = multiwindow_burn(
        full.select(
            "host", F.col("bucket_ts").cast("long").alias("bucket_sec"), "tot", "err"
        ),
        error_budget=0.01,
    ).filter((F.col("bucket_sec") >= t0) & (F.col("bucket_sec") < t1))
    got = read_burn(spark, out, t0=t0, t1=t1)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # and differs from a naive clip-first computation (proves the pre-read
    # matters: the first in-range buckets' long windows span the boundary)
    naive = multiwindow_burn(
        read_error_stats(spark, out, "1h", t0=t0, t1=t1).select(
            "host", F.col("bucket_ts").cast("long").alias("bucket_sec"), "tot", "err"
        ),
        error_budget=0.01,
    )
    assert got.exceptAll(naive).count() > 0

    # pruned read touches fewer files than the full read
    narrow = read_error_stats(spark, out, "1h", t0=t0, t1=t1)
    assert len(narrow.inputFiles()) < len(full.inputFiles())


def test_slo_job_incremental_refresh_bit_identical(spark, small_pages_path, tmp_path):
    out = str(tmp_path / "slo_inc")
    run_slo_job(spark, small_pages_path, out, ERR_SQL)
    before = {
        t: read_error_stats(spark, out, t).orderBy("host", "bucket_ts").collect()
        for t in ("1h", "1d")
    }
    # refreshing an already-published day must be a bit-identical no-op
    run_slo_job(spark, small_pages_path, out, ERR_SQL, days=["2024-01-02"])
    for t in ("1h", "1d"):
        after = read_error_stats(spark, out, t).orderBy("host", "bucket_ts").collect()
        assert after == before[t], t


def test_slo_tiers_join_the_fsck(spark, small_pages_path, tmp_path):
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.jobs.verify_job import check_cascade, verify_publication
    from mimirsbrunn_spark.tables import SnapshotTable

    out = str(tmp_path / "out")
    run_rollup_job(spark, small_pages_path, out)
    run_slo_job(spark, small_pages_path, out, ERR_SQL)
    report = verify_publication(spark, out)
    assert report["ok"], {k: v for k, v in report["checks"].items() if not v["ok"]}
    assert report["checks"]["aux:slo:1d"]["ok"]
    assert "manifest:slo_1h" in report["checks"]

    # doctor the 1d stats: pinpointed
    tbl = SnapshotTable(f"{out}/slo_1d")
    snap = tbl.snapshot(tbl.current_snapshot_id())
    doctored = tbl.read(spark).withColumn(
        "err", F.col("err") + F.when(F.col("host") == "host-000.example.com", 1).otherwise(0)
    )
    tbl.commit(doctored, mode="replace", meta=snap.meta, partition_by="pkey")
    r = check_cascade(spark, out, "slo", "1d")
    assert not r["ok"] and r["extra_rows"] > 0


def test_maintenance_keeps_aux_layout_fsck_green(spark, small_pages_path, tmp_path):
    """Compaction/vacuum over a layout holding rollup + hdr + slo tables
    must leave every fsck check green (compaction reproduces layouts; aux
    cascades stay exact)."""
    from mimirsbrunn_spark.jobs.histogram_job import run_histogram_job
    from mimirsbrunn_spark.jobs.maintenance_job import run_maintenance
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
    from mimirsbrunn_spark.jobs.verify_job import verify_publication

    out = str(tmp_path / "out")
    run_rollup_job(spark, small_pages_path, out)
    run_histogram_job(spark, small_pages_path, out, sketch="hdr")
    run_slo_job(spark, small_pages_path, out, ERR_SQL)
    run_maintenance(spark, out)
    report = verify_publication(spark, out, deep=True)
    assert report["ok"], {k: v for k, v in report["checks"].items() if not v["ok"]}
    assert report["checks"]["aux:hdr:1d"]["ok"] and report["checks"]["aux:slo:1d"]["ok"]
