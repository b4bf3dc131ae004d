"""Publication consistency checker: a clean publication verifies end-to-end,
legitimate preserved history is not flagged, and each corruption mode is
pinpointed by exactly the check that owns it."""

import os

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
from mimirsbrunn_spark.jobs.verify_job import (
    check_manifest,
    check_cascade,
    verify_publication,
)
from mimirsbrunn_spark.tables import SnapshotTable


@pytest.fixture(scope="module")
def published(spark, small_pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("verify_pub") / "out")
    run_rollup_job(spark, small_pages_path, out)
    return out


def test_clean_publication_verifies(spark, published):
    report = verify_publication(spark, published, deep=True)
    assert report["ok"], {k: v for k, v in report["checks"].items() if not v["ok"]}
    for child in ("1h", "1d", "30d"):
        t = report["checks"][f"tier:{child}"]
        assert t["extra_rows"] == 0 and t["missing_rows"] == 0
        assert t["preserved_rows"] == 0  # untruncated series: nothing preserved
        assert report["checks"][f"gapfill:{child}"]["mismatch_rows"] == 0
        assert report["checks"][f"chunks:{child}"]["mismatch_rows"] == 0
    assert report["checks"]["lineage"]["days"] == 5


def test_cli_verify_flag(spark, small_pages_path, published):
    """rollup_job --verify runs the checker post-publish and reports it in
    the summary (exit 0 on a clean layout; the rollup itself is a no-op
    rerun — every day is already in lineage)."""
    import subprocess
    import sys

    r = subprocess.run(
        [
            sys.executable, "-m", "mimirsbrunn_spark.jobs.rollup_job",
            "--pages", small_pages_path, "--out", published, "--verify",
        ],
        capture_output=True, text=True, timeout=500,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "'verify': {'ok': True" in r.stdout


def test_corrupted_tier_is_pinpointed(spark, small_pages_path, tmp_path):
    out = str(tmp_path / "out")
    run_rollup_job(spark, small_pages_path, out)
    tbl = SnapshotTable(f"{out}/rollup_1d")
    snap = tbl.snapshot(tbl.current_snapshot_id())
    df = tbl.read(spark)
    doctored = df.withColumn(
        "doc_count",
        F.when(
            F.col("bucket_ts") == F.lit("2024-01-02 00:00:00").cast("timestamp"),
            F.col("doc_count") + 1,
        ).otherwise(F.col("doc_count")),
    )
    tbl.commit(doctored, mode="replace", meta=snap.meta, partition_by="pkey")

    r = check_cascade(spark, out, "rollup", "1d")
    assert not r["ok"]
    assert r["extra_rows"] > 0 and r["missing_rows"] > 0
    assert all(
        str(row["bucket_ts"]).startswith("2024-01-02") for row in r["sample_extra"]
    )
    # the corruption propagates upward: 30d no longer aggregates from the
    # doctored 1d (30d was built from the CLEAN 1d) — also flagged
    assert not check_cascade(spark, out, "rollup", "30d")["ok"]
    # but 1h (built from the clean series) still verifies
    assert check_cascade(spark, out, "rollup", "1h")["ok"]


def test_missing_file_detected(spark, small_pages_path, tmp_path):
    out = str(tmp_path / "out")
    run_rollup_job(spark, small_pages_path, out)
    tbl = SnapshotTable(f"{out}/series_1m")
    victim = tbl.snapshot(tbl.current_snapshot_id()).files[0]
    os.remove(victim)
    r = check_manifest(tbl)
    assert not r["ok"] and r["missing"] == [victim]


def test_preserved_history_not_flagged(spark, small_pages_path, tmp_path):
    """After 1m retention truncates the series, the 1h tier keeps its full
    history (preserve∪rebuild contract): the checker must count those rows
    as preserved, not report them as mismatches."""
    import numpy as np

    from mimirsbrunn_spark.config import EngineConfig
    from mimirsbrunn_spark.synth import EPOCH_START

    out = str(tmp_path / "out")
    cfg = EngineConfig(retention={"1m": 2 * 86400})
    now = int((EPOCH_START - np.datetime64(0, "s")).astype(int)) + 5 * 86400
    run_rollup_job(spark, small_pages_path, out, config=cfg, retention_now_epoch=now)
    # force the derived refresh to run against the truncated series
    run_rollup_job(
        spark, small_pages_path, out, config=cfg, refresh_days=["2024-01-05"]
    )
    r = check_cascade(spark, out, "rollup", "1h")
    assert r["ok"], r
    assert r["preserved_rows"] > 0


def test_aux_sketch_tiers_checked(spark, small_pages_path, tmp_path):
    """Histogram-family tiers published into the layout join the fsck:
    clean cascades pass; a doctored hdr_1d count is pinpointed by
    aux:hdr:1d (and propagates to aux:hdr:30d, which was built from the
    clean 1d); the log-2 family stays green; layouts without sketch tables
    skip the checks entirely."""
    from mimirsbrunn_spark.jobs.histogram_job import run_histogram_job
    from mimirsbrunn_spark.jobs.verify_job import check_cascade

    out = str(tmp_path / "out")
    run_rollup_job(spark, small_pages_path, out)
    report = verify_publication(spark, out)
    assert not any(k.startswith("aux:") for k in report["checks"])  # none published

    run_histogram_job(spark, small_pages_path, out, sketch="log2")
    run_histogram_job(spark, small_pages_path, out, sketch="hdr")
    report = verify_publication(spark, out)
    assert report["ok"], {k: v for k, v in report["checks"].items() if not v["ok"]}
    for k in ("aux:hist:1d", "aux:hist:30d", "aux:hdr:1d", "aux:hdr:30d"):
        assert report["checks"][k]["ok"], k

    tbl = SnapshotTable(f"{out}/hdr_1d")
    snap = tbl.snapshot(tbl.current_snapshot_id())
    victim_bin = tbl.read(spark).agg(F.min("bin")).first()[0]
    doctored = tbl.read(spark).withColumn(
        "n", F.when(F.col("bin") == victim_bin, F.col("n") + 1).otherwise(F.col("n"))
    )
    tbl.commit(doctored, mode="replace", meta=snap.meta, partition_by="pkey")
    r = check_cascade(spark, out, "hdr", "1d")
    assert not r["ok"] and r["extra_rows"] > 0
    assert all(row["bin"] == victim_bin for row in r["sample_extra"])
    assert not check_cascade(spark, out, "hdr", "30d")["ok"]  # built from clean 1d
    assert check_cascade(spark, out, "hist", "1d")["ok"]  # log2 untouched


def test_stats_six_sums_checked(spark, small_pages_path, tmp_path):
    """The stats six-sums merge exactly too: once published they join the
    fsck as aux:stats:1d/30d, pass on the clean layout, and one doctored
    stats_1d row fails aux:stats:1d."""
    from mimirsbrunn_spark.jobs.stats_job import run_stats_job

    out = str(tmp_path / "out")
    run_stats_job(spark, small_pages_path, out)
    checks = verify_publication(spark, out)["checks"]
    for k in ("aux:stats:1d", "aux:stats:30d", "manifest:stats_1h", "manifest:stats_30d"):
        assert checks[k]["ok"], k

    tbl = SnapshotTable(f"{out}/stats_1d")
    snap = tbl.snapshot(tbl.current_snapshot_id())
    victim = tbl.read(spark).orderBy("host", "bucket_ts").first()
    hit = (F.col("host") == victim.host) & (F.col("bucket_ts") == victim.bucket_ts)
    doctored = tbl.read(spark).withColumn("sx", F.col("sx") + F.when(hit, 1).otherwise(0))
    tbl.commit(doctored, mode="replace", meta=snap.meta, partition_by="pkey")
    r = verify_publication(spark, out)["checks"]["aux:stats:1d"]
    assert not r["ok"] and r["extra_rows"] == 1 and r["missing_rows"] == 1
