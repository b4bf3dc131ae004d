"""Backfill / targeted refresh: late data, re-crawls, or corrections landing
in an ALREADY-processed input day must be able to reach the published tiers.
``run_rollup_job(refresh_days=...)`` is the continuous-aggregate targeted
refresh (TimescaleDB's refresh_continuous_aggregate(t0,t1) shape): explicit
ISO days, or 'auto' detection via per-day input-manifest fingerprints
recorded in lineage. Reference lifecycle analog: a dataset re-import
republishes that dataset's index while others stand
(/root/reference/libs/mimir/src/rubber.rs:553-602)."""

import os
import re

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.config import EngineConfig
from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job
from mimirsbrunn_spark.tables import Lineage, SnapshotTable

TABLES = ("series_1m", "rollup_1h", "rollup_1d", "rollup_30d", "gapfill_1h")


def _publish_input(spark, parquet_path, dst):
    src = SnapshotTable(dst)
    pages = spark.read.parquet(parquet_path)
    src.commit(
        pages.withColumn("day", F.to_date("warc_ts")), mode="replace", partition_by="day"
    )
    return src


def _late_rows_for(spark, parquet_path, day):
    """The day's rows re-fetched under distinct urls — same-day late data."""
    return (
        spark.read.parquet(parquet_path)
        .filter(F.to_date("warc_ts") == F.lit(day))
        .withColumn("url", F.concat("url", F.lit("?late")))
    )


def _assert_tables_equal(spark, out_a, out_b, names=TABLES):
    for name in names:
        a = SnapshotTable(f"{out_a}/{name}").read(spark)
        b = SnapshotTable(f"{out_b}/{name}").read(spark)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name


def test_backfill_auto_detects_changed_day(spark, small_pages_path, tmp_path):
    src_dir = str(tmp_path / "pages_tbl")
    src = _publish_input(spark, small_pages_path, src_dir)
    out = str(tmp_path / "out")
    s0 = run_rollup_job(spark, src_dir, out)
    assert s0["days_refreshed"] == [] and s0["refresh_refused_expired"] == []

    snap = src.snapshot(src.current_snapshot_id())
    day = sorted({v for v in snap.partitions.values() if v})[2]
    late = _late_rows_for(spark, small_pages_path, day)
    src.commit(
        late.withColumn("day", F.to_date("warc_ts")), mode="append", partition_by="day"
    )

    # a plain rerun never sees the late data (the day is in lineage)
    s1 = run_rollup_job(spark, src_dir, out)
    assert s1["days_processed"] == 0

    # auto-refresh: the manifest fingerprint pinpoints exactly the changed
    # day, which is recomputed through the normal overwrite-idempotent path
    s2 = run_rollup_job(spark, src_dir, out, refresh_days="auto")
    assert s2["days_refreshed"] == [day]
    assert s2["days_processed"] == 1

    # published tables now equal a from-scratch run over the full input
    out_fresh = str(tmp_path / "out_fresh")
    run_rollup_job(spark, src_dir, out_fresh)
    _assert_tables_equal(spark, out, out_fresh)

    # convergent: the new lineage row records the new fingerprint, so a
    # second auto run is a no-op
    s3 = run_rollup_job(spark, src_dir, out, refresh_days="auto")
    assert s3["days_processed"] == 0 and s3["days_refreshed"] == []


def test_backfill_explicit_days_plain_parquet(spark, tmp_path):
    import shutil

    from mimirsbrunn_spark.synth import write_pages_parquet

    src_dir = str(tmp_path / "pages_dir")
    write_pages_parquet(src_dir, n_rows=4_000, n_hosts=10, span_days=4, n_files=3)
    out = str(tmp_path / "out")
    run_rollup_job(spark, src_dir, out)

    day = "2024-01-02"
    late = _late_rows_for(spark, src_dir, day)
    late_dir = str(tmp_path / "late")
    late.coalesce(1).write.parquet(late_dir)
    for i, f in enumerate(p for p in os.listdir(late_dir) if p.endswith(".parquet")):
        shutil.copy(f"{late_dir}/{f}", f"{src_dir}/late_{i}.parquet")

    # a parquet path has no change signal: plain rerun is a no-op, and
    # 'auto' is refused rather than silently doing nothing
    assert run_rollup_job(spark, src_dir, out)["days_processed"] == 0
    with pytest.raises(ValueError, match="manifest input"):
        run_rollup_job(spark, src_dir, out, refresh_days="auto")

    s = run_rollup_job(spark, src_dir, out, refresh_days=[day])
    assert s["days_refreshed"] == [day] and s["days_processed"] == 1

    out_fresh = str(tmp_path / "out_fresh")
    run_rollup_job(spark, src_dir, out_fresh)
    _assert_tables_equal(spark, out, out_fresh)


def test_backfill_crash_mid_refresh_resumes(spark, small_pages_path, tmp_path):
    """A crash mid-refresh must not strand the day: lineage is invalidated
    BEFORE the recompute touches data, so the interrupted day reprocesses
    through the ordinary resume path on the next plain run."""
    from mimirsbrunn_spark.jobs.rollup_job import SimulatedFailure

    src_dir = str(tmp_path / "pages_tbl")
    src = _publish_input(spark, small_pages_path, src_dir)
    out = str(tmp_path / "out")
    run_rollup_job(spark, src_dir, out)

    day = "2024-01-02"
    late = _late_rows_for(spark, small_pages_path, day)
    src.commit(
        late.withColumn("day", F.to_date("warc_ts")), mode="append", partition_by="day"
    )
    with pytest.raises(SimulatedFailure):
        run_rollup_job(
            spark, src_dir, out, refresh_days=[day], fail_before_lineage=1
        )
    # plain rerun (no refresh flag) completes the interrupted refresh
    s = run_rollup_job(spark, src_dir, out)
    assert s["days_processed"] == 1

    out_fresh = str(tmp_path / "out_fresh")
    run_rollup_job(spark, src_dir, out_fresh)
    _assert_tables_equal(spark, out, out_fresh)


def test_backfill_refuses_day_expired_by_retention(spark, small_pages_path, tmp_path):
    """Refreshing a day the series retention stage already dropped would
    resurrect expired data (and the next retention run would re-expire it,
    flip-flopping the derived tiers) — refused, visibly."""
    import numpy as np

    from mimirsbrunn_spark.synth import EPOCH_START

    src_dir = str(tmp_path / "pages_tbl")
    _publish_input(spark, small_pages_path, src_dir)
    out = str(tmp_path / "out")
    cfg = EngineConfig(retention={"1m": 2 * 86400})
    now = int((EPOCH_START - np.datetime64(0, "s")).astype(int)) + 5 * 86400
    s0 = run_rollup_job(spark, src_dir, out, config=cfg, retention_now_epoch=now)
    assert s0["days_processed"] == 5

    expired_day = "2024-01-01"  # < cutoff day 2024-01-04 (now − 2d)
    s1 = run_rollup_job(spark, src_dir, out, refresh_days=[expired_day])
    assert s1["refresh_refused_expired"] == [expired_day]
    assert s1["days_processed"] == 0 and s1["days_refreshed"] == []

    # a surviving day still refreshes fine under the same watermark
    ok_day = "2024-01-04"
    s2 = run_rollup_job(spark, src_dir, out, refresh_days=[ok_day])
    assert s2["days_refreshed"] == [ok_day] and s2["refresh_refused_expired"] == []


def test_backfill_refusal_survives_vacuumed_evidence(spark, small_pages_path, tmp_path):
    """vacuum can erase the dropped_below snapshots the watermark reads;
    a committed day whose series partition no longer survives below the
    oldest standing one must STILL be refused (content-based fallback) —
    otherwise expired data gets resurrected and the next retention run
    silently re-expires it."""
    import numpy as np

    from mimirsbrunn_spark import retention
    from mimirsbrunn_spark.jobs.rollup_job import _series_retention_watermark
    from mimirsbrunn_spark.synth import EPOCH_START

    src_dir = str(tmp_path / "pages_tbl")
    _publish_input(spark, small_pages_path, src_dir)
    out = str(tmp_path / "out")
    cfg = EngineConfig(retention={"1m": 2 * 86400})
    now = int((EPOCH_START - np.datetime64(0, "s")).astype(int)) + 5 * 86400
    run_rollup_job(spark, src_dir, out, config=cfg, retention_now_epoch=now)

    # refresh a surviving day (adds snapshots past the drop), then vacuum
    # down to the latest snapshot — the dropped_below evidence is gone
    run_rollup_job(spark, src_dir, out, refresh_days=["2024-01-05"])
    series_tbl = SnapshotTable(f"{out}/series_1m")
    retention.vacuum(series_tbl, keep_snapshots=1)
    assert _series_retention_watermark(series_tbl) is None

    s = run_rollup_job(spark, src_dir, out, refresh_days=["2024-01-01"])
    assert s["refresh_refused_expired"] == ["2024-01-01"]
    assert s["days_processed"] == 0


def test_backfill_unknown_day_and_unpartitioned_auto(spark, small_pages_path, tmp_path):
    """Explicit days matching no input day are surfaced, not silently
    dropped; 'auto' against an UNPARTITIONED snapshot input (no per-day
    fingerprints) is refused like the parquet path."""
    src_dir = str(tmp_path / "pages_tbl")
    _publish_input(spark, small_pages_path, src_dir)
    out = str(tmp_path / "out")
    run_rollup_job(spark, src_dir, out)
    s = run_rollup_job(spark, src_dir, out, refresh_days=["2024-13-99"])
    assert s["refresh_unknown"] == ["2024-13-99"]
    assert s["days_processed"] == 0 and s["days_refreshed"] == []

    flat_dir = str(tmp_path / "pages_flat")
    SnapshotTable(flat_dir).commit(
        spark.read.parquet(small_pages_path), mode="replace"
    )
    out2 = str(tmp_path / "out_flat")
    run_rollup_job(spark, flat_dir, out2)
    with pytest.raises(ValueError, match="DAY-PARTITIONED"):
        run_rollup_job(spark, flat_dir, out2, refresh_days="auto")


def test_lineage_records_and_serves_fingerprints(spark, small_pages_path, tmp_path):
    """The manifest input's per-day fingerprints land in lineage
    (input_snapshot, latest row per partition wins) — the 'auto' key."""
    src_dir = str(tmp_path / "pages_tbl")
    _publish_input(spark, small_pages_path, src_dir)
    out = str(tmp_path / "out")
    run_rollup_job(spark, src_dir, out)
    fps = Lineage(f"{out}/lineage").latest_input_fingerprints(spark)
    assert len(fps) == 5 and all(v != 0 for v in fps.values())

    # plain-parquet inputs record 0 = "unknown", which 'auto' must not
    # treat as a mismatch (guarded in run_rollup_job; pinned here)
    out_p = str(tmp_path / "out_pq")
    run_rollup_job(spark, small_pages_path, out_p)
    fps_p = Lineage(f"{out_p}/lineage").latest_input_fingerprints(spark)
    assert len(fps_p) == 5 and all(v == 0 for v in fps_p.values())


def test_refresh_reads_only_processed_series_days(
    spark, small_pages_path, tmp_path, scanned
):
    """A backfill of 2024-01-01 run together with the new day 2024-01-05
    reads the series partitions of those two days only, not the three
    days between them."""
    src_dir = str(tmp_path / "pages_tbl")
    src = SnapshotTable(src_dir)
    pages = spark.read.parquet(small_pages_path).withColumn("day", F.to_date("warc_ts"))
    src.commit(pages.filter(F.col("day") < "2024-01-05"), mode="replace", partition_by="day")
    out = str(tmp_path / "out")
    run_rollup_job(spark, src_dir, out)

    late = _late_rows_for(spark, small_pages_path, "2024-01-01")
    src.commit(
        pages.filter(F.col("day") == "2024-01-05").unionByName(
            late.withColumn("day", F.to_date("warc_ts"))
        ),
        mode="append",
        partition_by="day",
    )
    scanned.clear()
    s = run_rollup_job(spark, src_dir, out, refresh_days=["2024-01-01"])
    assert s["days_refreshed"] == ["2024-01-01"] and s["days_processed"] == 2

    series_files = [f for files in scanned for f in files if "/series_1m/" in f]
    assert series_files
    read_days = {re.search(r"/_p=([^/]+)/", f).group(1) for f in series_files}
    assert read_days == {"2024-01-01", "2024-01-05"}
