"""Retention/vacuum/compaction + streaming-equals-batch tests."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark import retention, series, tiers
from mimirsbrunn_spark.config import EngineConfig
from mimirsbrunn_spark.tables import SnapshotTable


def test_retention_expiry(spark, small_pages_path, tmp_path):
    pages = spark.read.parquet(small_pages_path)
    hourly = tiers.rollup(series.series_1m(pages), "1h")
    tbl = SnapshotTable(str(tmp_path / "t1h"))
    tbl.commit(hourly, mode="replace")
    n0 = tbl.read(spark).count()

    max_ts = hourly.agg(F.max(F.col("bucket_ts").cast("long"))).collect()[0][0]
    # keep only the last day
    expired = retention.expire_tier(
        spark, tbl, "1h", now_epoch=max_ts, retention_seconds={"1h": 86400}
    )
    n1 = tbl.read(spark).count()
    assert expired > 0 and n0 - n1 == expired
    cutoff = max_ts - 86400
    assert tbl.read(spark).filter(F.col("bucket_ts").cast("long") < cutoff).count() == 0
    # keep-forever tier: no-op, no new snapshot
    sid = tbl.current_snapshot_id()
    assert retention.expire_tier(spark, tbl, "30d", now_epoch=max_ts) == 0
    assert tbl.current_snapshot_id() == sid


def test_vacuum_and_compact(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    for i in range(4):
        tbl.commit(spark.range(i * 10, (i + 1) * 10).toDF("id"), mode="append")
    data_root = os.path.join(tbl.path, "data")
    assert len(os.listdir(data_root)) == 4

    retention.compact(spark, tbl, target_files=2)
    removed = retention.vacuum(tbl, keep_snapshots=1)
    assert len(removed) == 4  # pre-compaction sets deleted
    assert tbl.read(spark).count() == 40
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(range(40))
    assert len(tbl.snapshots()) == 1


def test_config_layering(tmp_path):
    cfg = EngineConfig.load()
    assert cfg.n_salts is None  # auto: resolved per-session by series._auto_salts
    toml = tmp_path / "engine.toml"
    toml.write_text("[engine]\nn_salts = 8\nhost_buckets = 64\n")
    cfg = EngineConfig.load(str(toml))
    assert cfg.n_salts == 8 and cfg.host_buckets == 64
    cfg = EngineConfig.load(str(toml), n_salts=4)
    assert cfg.n_salts == 4  # override wins over file
    with pytest.raises(KeyError):
        EngineConfig.load(str(toml), bogus=1)


def test_streaming_equals_batch(spark, small_pages_path, small_pages_pdf, tmp_path):
    """Streaming (watermark + 1m windows, availableNow drain) must equal the
    batch series exactly. Append mode only emits a window once the watermark
    passes it, so a bounded drain needs a watermark-closing sentinel event
    after the real data — the documented operational pattern for finite
    backfills through the streaming path."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mimirsbrunn_spark.streaming import run_stream_to_table
    from oracle import reference as oracle

    stream_dir = str(tmp_path / "stream_in")
    shutil.copytree(small_pages_path, stream_dir)
    sentinel_ts = small_pages_pdf["warc_ts"].max() + pd.Timedelta(days=1)
    sentinel = pd.DataFrame(
        {
            "url": ["https://zzz-sentinel.invalid/close"],
            "warc_ts": [sentinel_ts],
            "html": [b""],
            "text": [""],
            "lang": ["unknown"],
        }
    )
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(sentinel, schema=schema, preserve_index=False),
        f"{stream_dir}/part-sentinel.parquet",
    )

    tbl = SnapshotTable(str(tmp_path / "stream_series"))
    run_stream_to_table(
        spark,
        stream_dir,
        tbl,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    got = (
        tbl.read(spark)
        .filter("host != 'zzz-sentinel.invalid'")
        .toPandas()
        .sort_values(["host", "bucket_ts", "lang"], kind="mergesort")
        .reset_index(drop=True)
    )
    got["bucket_ts"] = got["bucket_ts"].astype("datetime64[us]")
    want = oracle.series_1m(small_pages_pdf)
    pd.testing.assert_frame_equal(
        got[["host", "bucket_ts", "lang", "doc_count", "bytes_sum"]],
        want,
        check_dtype=False,
    )


def test_job_retention_stage(spark, small_pages_path, tmp_path):
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.config import EngineConfig
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    out = str(tmp_path / "out_ret")
    cfg = EngineConfig.load(retention={"1m": 86400, "1h": 2 * 86400})
    pages = spark.read.parquet(small_pages_path)
    max_ts = pages.agg(F.max(F.col("warc_ts").cast("long"))).collect()[0][0]
    run_rollup_job(spark, small_pages_path, out, config=cfg, retention_now_epoch=max_ts)

    t = SnapshotTable(f"{out}/rollup_1h").read(spark)
    assert t.filter(F.col("bucket_ts").cast("long") < max_ts - 2 * 86400).count() == 0
    assert t.count() > 0
    m = SnapshotTable(f"{out}/metrics").read(spark)
    assert m.filter("stage = 'retention'").count() > 0

    # 1m series retention is metadata-only (partition drop): expired days are
    # gone from the current snapshot but the parent snapshot still has them
    s_tbl = SnapshotTable(f"{out}/series_1m")
    cur = s_tbl.snapshot(s_tbl.current_snapshot_id())
    assert cur.meta.get("retention") == "1m"
    import datetime as dt

    cutoff_day = dt.datetime.fromtimestamp(
        max_ts - cfg.retention["1m"], dt.timezone.utc
    ).date().isoformat()
    assert all(not (v and v < cutoff_day) for v in cur.partitions.values())
    parent = s_tbl.snapshot(cur.parent_id)
    assert len(parent.files) >= len(cur.files)


def test_expire_tier_partitioned_is_metadata_only_and_keeps_layout(
    spark, small_pages_path, tmp_path
):
    """On a time-partitioned tier table, expiry drops whole partitions from
    the manifest without writing data files (except the one straddling
    partition), and the new snapshot keeps the layout spec AND the
    series_snapshot sync marker — losing either silently degrades every
    later read (no pruning) or forces a full rebuild from the truncated 1m
    series (coarse-tier history loss)."""
    import os as _os

    pages = spark.read.parquet(small_pages_path)
    hourly = tiers.rollup(series.series_1m(pages), "1h").withColumn(
        "pkey", tiers.partition_key_col("1h")
    )
    tbl = SnapshotTable(str(tmp_path / "t1h"))
    tbl.commit(
        hourly,
        mode="replace",
        meta={"tier": "1h", "series_snapshot": 42},
        partition_by="pkey",
        stats_cols=("host", "bucket_ts"),
        cluster_by=("host",),
        cluster_files=3,
    )
    before = tbl.snapshot(tbl.current_snapshot_id())
    sets_before = len(_os.listdir(_os.path.join(tbl.path, "data")))
    max_ts = hourly.agg(F.max(F.col("bucket_ts").cast("long"))).collect()[0][0]
    expired = retention.expire_tier(
        spark, tbl, "1h", now_epoch=max_ts, retention_seconds={"1h": 86400}
    )
    assert expired > 0
    after = tbl.snapshot(tbl.current_snapshot_id())
    cutoff = max_ts - 86400
    assert tbl.read(spark).filter(F.col("bucket_ts").cast("long") < cutoff).count() == 0
    assert after.row_count == before.row_count - expired
    # layout + sync marker survive
    assert after.layout == before.layout
    assert after.meta.get("series_snapshot") == 42
    assert all(after.partitions.get(f) for f in after.files)
    # at most ONE new file set was written (the straddling partition);
    # whole-partition expiry is pure manifest arithmetic
    sets_after = len(_os.listdir(_os.path.join(tbl.path, "data")))
    assert sets_after <= sets_before + 1


def test_expire_tier_legacy_partitioned_manifest_not_flattened(
    spark, small_pages_path, tmp_path
):
    """A LEGACY tier table (manifest records per-file partition values but
    layout == {} — pre-layout manifests) must not be flattened by the
    full-rewrite fallback while keeping the series_snapshot marker: the
    flattened ''-partition files would survive every later
    replace_partitions (never in any replaced set) while fresh rows are
    appended — duplicated rows that coarse tiers double-count. The fallback
    infers the partition column from the data and rewrites PARTITIONED."""
    import json as _json

    pages = spark.read.parquet(small_pages_path)
    hourly = tiers.rollup(series.series_1m(pages), "1h").withColumn(
        "pkey", tiers.partition_key_col("1h")
    )
    tbl = SnapshotTable(str(tmp_path / "t1h_legacy"))
    tbl.commit(
        hourly,
        mode="replace",
        meta={"tier": "1h", "series_snapshot": 42},
        partition_by="pkey",
    )
    # simulate the pre-layout manifest: partition values recorded, layout {}
    sid = tbl.current_snapshot_id()
    with open(tbl._manifest_path(sid)) as fh:
        m = _json.load(fh)
    assert any(m["partitions"].values())
    m["layout"] = {}
    with open(tbl._manifest_path(sid), "w") as fh:
        _json.dump(m, fh)

    max_ts = hourly.agg(F.max(F.col("bucket_ts").cast("long"))).collect()[0][0]
    expired = retention.expire_tier(
        spark, tbl, "1h", now_epoch=max_ts, retention_seconds={"1h": 86400}
    )
    assert expired > 0
    after = tbl.snapshot(tbl.current_snapshot_id())
    # healed: every surviving file carries a real partition value, the
    # layout declares the inferred column, and the sync marker survives
    assert all(after.partitions.get(f) for f in after.files)
    assert after.layout.get("partition_by") == "pkey"
    assert after.meta.get("series_snapshot") == 42
    cutoff = max_ts - 86400
    assert tbl.read(spark).filter(F.col("bucket_ts").cast("long") < cutoff).count() == 0


def test_expire_tier_legacy_day_series_not_flattened(spark, small_pages_path, tmp_path):
    """The 1m SERIES table is partitioned by 'day', not 'pkey': a legacy
    series manifest (values recorded, layout {}) must infer 'day' in the
    full-rewrite fallback — flattening it would break enumerate_days'
    manifest fast path and crash-resume's drop_partition_values({day})
    (duplicate day rows on re-append)."""
    import json as _json

    pages = spark.read.parquet(small_pages_path)
    s = series.series_1m(pages).withColumn("day", F.to_date("bucket_ts"))
    tbl = SnapshotTable(str(tmp_path / "series_legacy"))
    tbl.commit(s, mode="replace", partition_by="day")
    sid = tbl.current_snapshot_id()
    with open(tbl._manifest_path(sid)) as fh:
        m = _json.load(fh)
    assert any(m["partitions"].values())
    m["layout"] = {}
    with open(tbl._manifest_path(sid), "w") as fh:
        _json.dump(m, fh)

    max_ts = s.agg(F.max(F.col("bucket_ts").cast("long"))).collect()[0][0]
    expired = retention.expire_tier(
        spark, tbl, "1m", now_epoch=max_ts, retention_seconds={"1m": 2 * 86400}
    )
    assert expired > 0
    after = tbl.snapshot(tbl.current_snapshot_id())
    assert after.layout.get("partition_by") == "day"
    assert all(after.partitions.get(f) for f in after.files)


def test_expire_tier_inference_rejects_one_row_coincidence(spark, tmp_path):
    """A data column where a SINGLE row's string-cast equals one recorded
    partition value must not be elected as the partition column (a wrong
    election would feed later lexicographic partition drops — silent
    deletion): inference requires reproducing ALL sampled recorded values.
    Here the true key column is dropped and 'v' collides with exactly one
    epoch key — the fallback must flatten + strip, not republish
    partitioned by 'v'."""
    import datetime as _dt
    import json as _json

    day0 = int(_dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc).timestamp())
    rows = []
    for d in range(6):
        for i in range(3):
            rows.append(
                (
                    f"h{i}",
                    _dt.datetime.fromtimestamp(day0 + d * 86400, _dt.timezone.utc),
                    str(day0),  # collides with ONE bucket key on every row
                    str(day0 + d * 86400),
                )
            )
    df = spark.createDataFrame(
        rows, "host string, bucket_ts timestamp, v string, bucket string"
    )
    tbl = SnapshotTable(str(tmp_path / "coin"))
    tbl.commit(df, mode="replace", meta={"series_snapshot": 9}, partition_by="bucket")
    sid = tbl.current_snapshot_id()
    with open(tbl._manifest_path(sid)) as fh:
        m = _json.load(fh)
    m["layout"] = {}
    with open(tbl._manifest_path(sid), "w") as fh:
        _json.dump(m, fh)

    class _NoBucket(SnapshotTable):
        def read(self, spark_, **kw):
            return super().read(spark_, **kw).drop("bucket")

    t2 = _NoBucket(tbl.path)
    now = day0 + 6 * 86400
    expired = retention.expire_tier(
        spark, t2, "1h", now_epoch=now, retention_seconds={"1h": 2 * 86400}
    )
    assert expired > 0
    after = t2.snapshot(t2.current_snapshot_id())
    assert after.layout.get("partition_by") is None  # 'v' NOT elected
    assert "series_snapshot" not in after.meta  # safe full rebuild next run


def test_replace_partitions_refuses_flattened_table(spark, tmp_path):
    """A partition-scoped overwrite on a table whose live files carry no
    partition values must raise (those files survive EVERY replaced set —
    appending recomputed rows on top silently duplicates)."""
    tbl = SnapshotTable(str(tmp_path / "flat"))
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "pkey string, v double")
    tbl.commit(df, mode="replace")  # unpartitioned: files have no values
    with pytest.raises(ValueError, match="no\\s+partition value|flattened"):
        tbl.replace_partitions(
            spark.createDataFrame([("a", 9.0)], "pkey string, v double"),
            {"a"},
            partition_by="pkey",
        )


def test_expire_tier_uninferable_partition_drops_sync_marker(spark, tmp_path):
    """When the fallback cannot infer a partition column (values recorded
    but no pkey column in the data), it must flatten WITHOUT the
    series_snapshot marker so the next run takes the history-preserving
    full rebuild instead of a duplicating incremental refresh."""
    import datetime as _dt
    import json as _json

    rows = [
        (f"h{i}", _dt.datetime(2024, 1, 1 + d, tzinfo=_dt.timezone.utc), float(i))
        for i in range(4)
        for d in range(6)
    ]
    df = spark.createDataFrame(rows, "host string, bucket_ts timestamp, v double").withColumn(
        "oddkey", F.date_format("bucket_ts", "yyyy-MM-dd")
    )
    tbl = SnapshotTable(str(tmp_path / "todd"))
    tbl.commit(df, mode="replace", meta={"series_snapshot": 7}, partition_by="oddkey")
    sid = tbl.current_snapshot_id()
    with open(tbl._manifest_path(sid)) as fh:
        m = _json.load(fh)
    m["layout"] = {}
    with open(tbl._manifest_path(sid), "w") as fh:
        _json.dump(m, fh)
    # drop the column the values came from: inference is now impossible

    class _NoKey(SnapshotTable):
        def read(self, spark_, **kw):
            return super().read(spark_, **kw).drop("oddkey")

    tbl2 = _NoKey(tbl.path)
    max_ts = int(_dt.datetime(2024, 1, 6, tzinfo=_dt.timezone.utc).timestamp())
    expired = retention.expire_tier(
        spark, tbl2, "1h", now_epoch=max_ts, retention_seconds={"1h": 2 * 86400}
    )
    assert expired > 0
    after = tbl2.snapshot(tbl2.current_snapshot_id())
    assert "series_snapshot" not in after.meta


def test_retention_then_incremental_refresh_keeps_tier_history(
    spark, small_pages_pdf, tmp_path
):
    """Retention must not break continuous-aggregate invalidation: after a
    retention run, a later day-append still takes the INCREMENTAL derived
    path, so 1h history older than the 1m retention window SURVIVES (the
    whole point of retention tiers). A retention commit that dropped the
    series_snapshot marker would trigger a full rebuild from the truncated
    series and silently erase it."""
    import pandas as pd

    from mimirsbrunn_spark.config import EngineConfig
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    pdf = small_pages_pdf.sort_values("warc_ts")
    days = sorted(pdf["warc_ts"].dt.date.unique())
    assert len(days) >= 4
    first = pdf[pdf["warc_ts"].dt.date < days[-1]]
    out = str(tmp_path / "out")
    p1 = str(tmp_path / "p1")
    first.to_parquet(p1)
    # 1m keeps ~1.5 days; 1h keeps everything
    cfg = EngineConfig.load(retention={"1m": int(1.5 * 86400)}, cluster_files=2)
    max1 = int(first["warc_ts"].max().timestamp())
    run_rollup_job(spark, p1, out, job_id="r1", config=cfg, retention_now_epoch=max1)
    s_tbl = SnapshotTable(f"{out}/series_1m")
    kept_1m_days = {
        v for v in s_tbl.snapshot(s_tbl.current_snapshot_id()).partitions.values() if v
    }
    assert len(kept_1m_days) < len(days) - 1, "1m retention should have dropped days"
    h_before = SnapshotTable(f"{out}/rollup_1h").read(spark).count()

    # second run: only the last day is new
    p2 = str(tmp_path / "p2")
    pdf.to_parquet(p2)
    run_rollup_job(spark, p2, out, job_id="r2", config=cfg)
    m = SnapshotTable(f"{out}/metrics").read(spark)
    assert m.filter("job_id = 'r2' and stage = 'derived_incremental'").count() > 0, (
        "second run must take the incremental path (sync marker survived retention)"
    )
    h = SnapshotTable(f"{out}/rollup_1h").read(spark)
    assert h.count() > h_before
    # the 1h rows for days whose 1m series was expired are still there
    expired_day = min(d.isoformat() for d in days)
    assert expired_day not in kept_1m_days
    assert (
        h.filter(F.to_date("bucket_ts") == F.lit(expired_day)).count() > 0
    ), "1h history older than the 1m retention window was lost"


def test_replace_partitions_is_single_atomic_snapshot(spark, tmp_path):
    """replace_partitions swaps a partition's files in ONE published
    snapshot (no drop-then-append window where the partition's surviving
    rows are missing from the current snapshot)."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(d, i) for d in ("a", "b") for i in range(5)], "p string, v int"
    )
    tbl.commit(df, partition_by="p", stats_cols=("v",))
    n_snaps = len(tbl.snapshots())
    repl = spark.createDataFrame([("b", 99)], "p string, v int")
    tbl.replace_partitions(repl, {"b"}, partition_by="p", stats_cols=("v",))
    assert len(tbl.snapshots()) == n_snaps + 1  # exactly one new snapshot
    got = sorted((r.p, r.v) for r in tbl.read(spark).collect())
    assert got == sorted([("a", i) for i in range(5)] + [("b", 99)])
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert snap.row_count == 6
    assert all(f in snap.file_stats for f in snap.files)


def test_replace_partitions_inherits_declared_layout(spark, tmp_path):
    """A partition swap that names no layout writes the table's DECLARED
    one (partition_by, stats_cols, cluster_by, cluster_files), as an append
    does; an explicit value contradicting it raises."""
    tbl = SnapshotTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(d, h, i) for d in ("a", "b") for h in ("x", "y") for i in range(3)],
        "p string, host string, v int",
    )
    tbl.commit(
        df, partition_by="p", stats_cols=("host", "v"), cluster_by=("host",), cluster_files=2
    )
    declared = tbl.snapshot(tbl.current_snapshot_id()).layout
    assert declared == {
        "partition_by": "p", "stats_cols": ["host", "v"], "cluster_by": ["host"],
        "cluster_files": 2,
    }
    repl = spark.createDataFrame([("b", "x", 99), ("b", "y", 98)], "p string, host string, v int")
    tbl.replace_partitions(repl, {"b"})
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert snap.layout == declared
    assert all(f in snap.file_stats for f in snap.files)
    assert sorted(set(snap.partitions.values())) == ["a", "b"]
    with pytest.raises(ValueError, match="conflicts with the table's declared layout"):
        tbl.replace_partitions(repl, {"b"}, stats_cols=("v",))


def test_update_meta_is_metadata_only(spark, tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.commit(spark.range(5).toDF("id"), meta={"a": 1})
    files_before = tbl.snapshot(tbl.current_snapshot_id()).files
    tbl.update_meta({"series_snapshot": 7})
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert snap.meta == {"a": 1, "series_snapshot": 7}
    assert snap.files == files_before  # no data written


def test_compaction_preserves_snapshot_meta(spark, small_pages_path, tmp_path):
    """compact() must carry the snapshot meta forward — it holds the
    series_snapshot sync marker and the chunk tables' pruning parameters;
    resetting it would force a destructive rebuild / disable chunk
    pruning on the next run."""
    pages = spark.read.parquet(small_pages_path)
    hourly = tiers.rollup(series.series_1m(pages), "1h").withColumn(
        "pkey", tiers.partition_key_col("1h")
    )
    tbl = SnapshotTable(str(tmp_path / "t"))
    for _ in range(2):
        tbl.commit(
            hourly, mode="append", partition_by="pkey",
            meta={"tier": "1h", "series_snapshot": 9},
        )
    retention.compact(spark, tbl)
    m = tbl.snapshot(tbl.current_snapshot_id()).meta
    assert m.get("series_snapshot") == 9 and m.get("compaction") is True


def test_full_rebuild_preserves_tier_history_after_retention(
    spark, small_pages_pdf, tmp_path
):
    """The destructive-rebuild hazard, closed at the root: retention
    truncates the 1m series, then a FORCED desync (maintenance wiping the
    sync marker is simulated by deleting it) triggers the full-rebuild
    path — which must preserve 1h/1d/30d history older than the surviving
    series instead of replacing the tiers with the 7-day window."""
    from mimirsbrunn_spark.config import EngineConfig
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    p = str(tmp_path / "p")
    small_pages_pdf.to_parquet(p)
    out = str(tmp_path / "out")
    cfg = EngineConfig.load(retention={"1m": int(1.5 * 86400)}, cluster_files=2)
    max_ts = int(small_pages_pdf["warc_ts"].max().timestamp())
    run_rollup_job(spark, p, out, job_id="r1", config=cfg, retention_now_epoch=max_ts)

    h_tbl = SnapshotTable(f"{out}/rollup_1h")
    before = {
        (r.host, r.bucket_ts, r.lang): (r.doc_count, r.bytes_sum)
        for r in h_tbl.read(spark).drop("pkey").collect()
    }
    s_tbl = SnapshotTable(f"{out}/series_1m")
    surviving_days = {
        v for v in s_tbl.snapshot(s_tbl.current_snapshot_id()).partitions.values() if v
    }
    old_keys = {
        k for k in before if k[1].date().isoformat() not in surviving_days
    }
    assert old_keys, "fixture must have 1h history beyond the 1m window"

    # force a desync: wipe the marker on one tier table (what a meta-losing
    # maintenance rewrite used to do)
    h_tbl.update_meta({"series_snapshot": None})
    run_rollup_job(spark, p, out, job_id="r2", config=cfg)
    m = SnapshotTable(f"{out}/metrics").read(spark)
    assert m.filter("job_id = 'r2' and stage = 'derived'").count() > 0, (
        "forced desync must take the full-rebuild path"
    )
    after = {
        (r.host, r.bucket_ts, r.lang): (r.doc_count, r.bytes_sum)
        for r in h_tbl.read(spark).drop("pkey").collect()
    }
    assert after == before, "rebuild must reproduce the tier exactly, incl. old history"
    # and the coarser tiers cascade from the FULL 1h content
    d_rows = SnapshotTable(f"{out}/rollup_1d").read(spark)
    assert (
        d_rows.filter(
            F.to_date("bucket_ts") < F.lit(min(surviving_days))
        ).count()
        > 0
    )


def test_rebuild_preserves_coarse_tiers_beyond_1h_retention(
    spark, small_pages_pdf, tmp_path
):
    """The cascade-level preservation: with BOTH 1m and 1h retention
    trimming their tiers, a forced full rebuild must keep the 1d/30d rows
    older than the 1h window (a rebuild from the trimmed 1h alone would
    erase them — the fixture's oldest days survive only in 1d/30d)."""
    from mimirsbrunn_spark.config import EngineConfig
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    p = str(tmp_path / "p")
    small_pages_pdf.to_parquet(p)
    out = str(tmp_path / "out")
    cfg = EngineConfig.load(
        retention={"1m": int(1.5 * 86400), "1h": int(2.5 * 86400)}, cluster_files=2
    )
    max_ts = int(small_pages_pdf["warc_ts"].max().timestamp())
    run_rollup_job(spark, p, out, job_id="c1", config=cfg, retention_now_epoch=max_ts)

    h_tbl = SnapshotTable(f"{out}/rollup_1h")
    d_tbl = SnapshotTable(f"{out}/rollup_1d")
    def snap_rows(tbl):
        return {
            (r.host, r.sec, r.lang): (r.doc_count, r.bytes_sum)
            for r in tbl.read(spark)
            .select(
                "host", F.col("bucket_ts").cast("long").alias("sec"), "lang",
                "doc_count", "bytes_sum",
            )
            .collect()
        }

    h_min = h_tbl.read(spark).agg(F.min(F.col("bucket_ts").cast("long"))).first()[0]
    d_before = snap_rows(d_tbl)
    older = {k for k in d_before if k[1] < h_min}
    assert older, "fixture must have 1d rows older than the trimmed 1h window"

    d_tbl.update_meta({"series_snapshot": None})  # force the rebuild path
    run_rollup_job(spark, p, out, job_id="c2", config=cfg)
    m = SnapshotTable(f"{out}/metrics").read(spark)
    assert m.filter("job_id = 'c2' and stage = 'derived'").count() > 0
    assert snap_rows(d_tbl) == d_before, (
        "1d history beyond the 1h window was lost or changed"
    )


def test_rebuild_gap_is_surfaced_as_metric(spark, small_pages_pdf, tmp_path):
    """When the surviving series starts well AFTER the old tier's last
    preserved bucket (long idle gap + series expiry), the history-preserving
    rebuild stitches two non-contiguous spans; the hole must be surfaced as
    a rebuild_gap_seconds metric so operators can see it (the data itself
    is unrecoverable by design — the raw rows are gone)."""
    from mimirsbrunn_spark.config import EngineConfig
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    p = str(tmp_path / "p")
    small_pages_pdf.to_parquet(p)
    out = str(tmp_path / "out")
    cfg = EngineConfig.load(cluster_files=2)
    run_rollup_job(spark, p, out, job_id="g1", config=cfg)

    # simulate the idle gap: new series data lands 10 days later, then 1m
    # retention expires everything before it
    srs = SnapshotTable(f"{out}/series_1m")
    shift = 10 * 86400
    moved = (
        srs.read(spark)
        .limit(50)
        .withColumn("bucket_ts", (F.col("bucket_ts").cast("long") + shift).cast("timestamp"))
        .withColumn("day", F.to_date("bucket_ts"))
    )
    srs.commit(moved, mode="append", partition_by="day")
    now = int(small_pages_pdf["warc_ts"].max().timestamp()) + shift
    assert (
        retention.expire_tier(spark, srs, "1m", now_epoch=now, retention_seconds={"1m": 6 * 86400})
        > 0
    )

    # the append made the derived tables stale → rebuild path on the next run
    run_rollup_job(spark, p, out, job_id="g2", config=cfg)
    m = SnapshotTable(f"{out}/metrics").read(spark)
    gaps = m.filter("job_id = 'g2' AND stage = 'derived_rebuild'").filter(
        F.col("key").startswith("rebuild_gap_seconds")
    )
    rows = gaps.collect()
    assert rows, "non-contiguous preserved coverage produced no gap metric"
    assert all(r.value > 0 for r in rows)
    # the preserved history itself is intact on both sides of the hole
    h = SnapshotTable(f"{out}/rollup_1h").read(spark)
    secs = [r[0] for r in h.select(F.col("bucket_ts").cast("long")).collect()]
    assert min(secs) < now - shift and max(secs) >= now - 6 * 86400


def test_maintenance_then_rollup_is_not_destructive(spark, small_pages_pdf, tmp_path):
    """The full operational cycle — rollup with retention, maintenance
    (compaction + vacuum), rollup again — must not erase coarse-tier
    history (the compact-loses-meta / vacuum-breaks-walk regression)."""
    from mimirsbrunn_spark.config import EngineConfig
    from mimirsbrunn_spark.jobs.maintenance_job import run_maintenance
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    p = str(tmp_path / "p")
    small_pages_pdf.to_parquet(p)
    out = str(tmp_path / "out")
    cfg = EngineConfig.load(retention={"1m": int(1.5 * 86400)}, cluster_files=2)
    max_ts = int(small_pages_pdf["warc_ts"].max().timestamp())
    run_rollup_job(spark, p, out, job_id="m1", config=cfg, retention_now_epoch=max_ts)
    h_tbl = SnapshotTable(f"{out}/rollup_1h")
    n_before = h_tbl.read(spark).count()

    # aggressive maintenance: compact everything, vacuum to 1 snapshot
    run_maintenance(spark, out, keep_snapshots=1, max_file_sets=0)
    # idle re-runs with retention (advance series snapshots, vacuum between)
    for jid in ("m2", "m3"):
        run_rollup_job(spark, p, out, job_id=jid, config=cfg, retention_now_epoch=max_ts)
        run_maintenance(spark, out, keep_snapshots=1, max_file_sets=0)
    assert h_tbl.read(spark).count() == n_before, (
        "tier history changed across idle maintenance/retention cycles"
    )


def test_series_compaction_keeps_derived_in_sync(spark, tmp_path):
    """compact() on the 1m series table must NOT make every derived table
    look stale: a compaction snapshot is data-identical by construction, so
    the sync walk skips it like a retention drop. Without this, each
    --maintain run forces a full (history-preserving but expensive) rebuild
    of every tier on the next rollup."""
    from mimirsbrunn_spark.jobs.rollup_job import _derived_in_sync

    srs = SnapshotTable(str(tmp_path / "series"))
    for i in range(3):
        srs.commit(spark.range(i * 5, (i + 1) * 5).toDF("id"), mode="append")
    sid1 = srs.current_snapshot_id()
    derived = SnapshotTable(str(tmp_path / "tier"))
    derived.commit(spark.range(3).toDF("id"), mode="replace", meta={"series_snapshot": sid1})
    assert _derived_in_sync(derived, srs, sid1)

    retention.compact(spark, srs, target_files=1)
    sid2 = srs.current_snapshot_id()
    assert sid2 != sid1
    assert _derived_in_sync(derived, srs, sid2), "compaction misread as staleness"

    # a real data change after the compaction IS stale
    srs.commit(spark.range(100, 105).toDF("id"), mode="append")
    assert not _derived_in_sync(derived, srs, srs.current_snapshot_id())


def test_maintenance_job(spark, small_pages_path, tmp_path):
    from mimirsbrunn_spark.jobs.maintenance_job import run_maintenance
    from mimirsbrunn_spark.jobs.rollup_job import run_rollup_job

    out = str(tmp_path / "out_m")
    run_rollup_job(spark, small_pages_path, out)
    before = SnapshotTable(f"{out}/series_1m").read(spark).count()
    summary = run_maintenance(spark, out, target_files=2, keep_snapshots=1)
    assert "series_1m" in summary and summary["series_1m"]["compacted"]
    after_tbl = SnapshotTable(f"{out}/series_1m")
    assert after_tbl.read(spark).count() == before
    assert len(after_tbl.snapshots()) == 1
    # lineage survives vacuum (resume still works: second run processes 0)
    assert run_rollup_job(spark, small_pages_path, out)["days_processed"] == 0


def test_vacuum_partitioned_keeps_live_data(spark, tmp_path):
    """Regression (ADVICE r1): partitioned commits nest files under
    data/<uuid>/_p=<val>/, and vacuum must resolve references to the
    TOP-LEVEL set dirs — the old dirname() logic rmtree'd every partitioned
    set, including the current snapshot's data."""
    from pyspark.sql import functions as F

    tbl = SnapshotTable(str(tmp_path / "vp"))
    df = spark.range(20).select(
        "id", F.concat(F.lit("2024-01-0"), (F.col("id") % 2 + 1).cast("string")).alias("day")
    )
    tbl.commit(df, mode="replace", partition_by="day")
    tbl.commit(
        spark.range(20, 30).select("id", F.lit("2024-01-03").alias("day")),
        mode="append",
        partition_by="day",
    )
    removed = retention.vacuum(tbl, keep_snapshots=1)
    # snapshot 2 references both set dirs (append keeps parent files):
    # nothing may be deleted, and the current snapshot must stay readable
    assert removed == []
    assert tbl.read(spark).count() == 30
    # now replace-commit (drops old file sets from the manifest) and vacuum:
    # exactly the two pre-replace set dirs go, current data survives
    tbl.commit(
        spark.range(5).select("id", F.lit("2024-02-01").alias("day")),
        mode="replace",
        partition_by="day",
    )
    removed = retention.vacuum(tbl, keep_snapshots=1)
    assert len(removed) == 2
    assert tbl.read(spark).count() == 5


def test_drop_partitions_is_pure_metadata(spark, tmp_path):
    """drop_partitions must be manifest arithmetic only — it runs no Spark
    job at all (asserted by passing spark=None) and its row counts come from
    the parquet footer stats collected at commit."""
    from pyspark.sql import functions as F

    tbl = SnapshotTable(str(tmp_path / "dp"))
    df = spark.range(100).select(
        "id", F.concat(F.lit("2024-01-0"), (F.col("id") % 5 + 1).cast("string")).alias("day")
    )
    tbl.commit(df, mode="replace", partition_by="day")
    tbl.drop_partitions(None, below="2024-01-03")  # None: no SparkSession needed
    snap = tbl.snapshot(tbl.current_snapshot_id())
    assert snap.row_count == 60
    assert tbl.read(spark).count() == 60


def test_read_after_all_partitions_dropped(spark, tmp_path):
    """Dropping every partition leaves an empty snapshot; read() must return
    an empty DF with the recorded schema instead of crashing (ADVICE r1).
    It is a LocalRelation built through Arrow: the list path of
    createDataFrame would start a Python worker pool to produce no rows."""
    from pyspark.sql import functions as F

    tbl = SnapshotTable(str(tmp_path / "empty"))
    df = spark.range(10).select(
        "id", F.lit("2024-01-01").alias("day"), F.lit(None).cast("timestamp").alias("ts")
    )
    tbl.commit(df, mode="replace", partition_by="day")
    tbl.drop_partition_values({"2024-01-01"})
    got = tbl.read(spark)
    assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert got.count() == 0
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in df.schema]


def test_resume_crash_before_lineage_no_duplicates(spark, small_pages_path, tmp_path):
    """Crash in the commit→lineage window (day committed, lineage missing):
    the rerun must overwrite the day, not double-append it (ADVICE r1)."""
    from mimirsbrunn_spark.jobs.rollup_job import SimulatedFailure, run_rollup_job

    out = str(tmp_path / "out_cbl")
    with pytest.raises(SimulatedFailure):
        run_rollup_job(spark, small_pages_path, out, fail_before_lineage=1)
    # the day IS committed but NOT in lineage
    s_tbl = SnapshotTable(f"{out}/series_1m")
    committed_rows = s_tbl.read(spark).count()
    assert committed_rows > 0
    from mimirsbrunn_spark.tables import Lineage

    assert len(Lineage(f"{out}/lineage").committed_partitions(spark)) == 0

    summary = run_rollup_job(spark, small_pages_path, out)
    assert summary["days_skipped"] == 0  # nothing was in lineage
    final = s_tbl.read(spark)
    # no duplicated (host, bucket, lang) rows from the replayed day
    assert final.count() == final.dropDuplicates(["host", "bucket_ts", "lang"]).count()
    # and the table equals a clean run's series exactly
    out2 = str(tmp_path / "out_clean")
    run_rollup_job(spark, small_pages_path, out2)
    clean = SnapshotTable(f"{out2}/series_1m").read(spark)
    assert final.count() == clean.count()
    assert final.exceptAll(clean).count() == 0


def test_streaming_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch replay of the same batch_id must not double-append."""
    from mimirsbrunn_spark.streaming import idempotent_batch_commit

    tbl = SnapshotTable(str(tmp_path / "sb"))
    batch = spark.range(10).toDF("id")
    assert idempotent_batch_commit(tbl, batch, 7) is True
    assert idempotent_batch_commit(tbl, batch, 7) is False  # replay skipped
    assert tbl.read(spark).count() == 10
    assert idempotent_batch_commit(tbl, batch, 8) is True
    assert tbl.read(spark).count() == 20


def test_stateful_anomaly_stream_equals_oracle(spark, small_pages_path, small_pages_pdf):
    """applyInPandasWithState custom operator: per-host minute-close anomaly
    stream (availableNow drain) equals the single-node pandas oracle."""
    from mimirsbrunn_spark.streaming import rate_anomalies_batch_oracle, stream_rate_anomalies

    q = (
        stream_rate_anomalies(spark, small_pages_path)
        .writeStream.format("memory")
        .queryName("anomalies")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("anomalies")
        .toPandas()
        .sort_values(["host", "bucket_ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    got["bucket_ts"] = got["bucket_ts"].astype("datetime64[us]")
    want = (
        rate_anomalies_batch_oracle(small_pages_pdf)
        .sort_values(["host", "bucket_ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    want["bucket_ts"] = want["bucket_ts"].astype("datetime64[us]")
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert got["is_anomaly"].any() or True  # flag column materialized


def test_streaming_watermark_drops_late_events(spark, tmp_path):
    """An event older than the watermark horizon arriving in a later batch
    must NOT reopen its closed window (bounded state, late data dropped)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mimirsbrunn_spark.streaming import run_stream_to_table

    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )

    def write_batch(path, rows):
        pq.write_table(
            pa.Table.from_pydict(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": [pd.Timestamp(r[1], unit="s") for r in rows],
                    "html": [b"x" for _ in rows],
                    "text": ["t" for _ in rows],
                    "lang": ["en" for _ in rows],
                },
                schema=schema,
            ),
            path,
        )

    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    t0 = 1_700_000_000
    # batch 1: two events at minute 0, then a sentinel far ahead that pushes
    # the 10-minute watermark well past minute 0 (closing its window)
    write_batch(str(stream_dir / "b1.parquet"),
                [("https://h.com/1", t0), ("https://h.com/2", t0 + 5),
                 ("https://zzz.invalid/s", t0 + 3600)])
    tbl = SnapshotTable(str(tmp_path / "t"))
    run_stream_to_table(spark, str(stream_dir), tbl, checkpoint_dir=str(tmp_path / "ck"))
    first = {(r.host, r.bucket_ts, r.doc_count) for r in tbl.read(spark).collect()}
    assert ("h.com", pd.Timestamp(t0 - t0 % 60, unit="s"), 2) in {
        (h, pd.Timestamp(b), c) for h, b, c in [(r[0], r[1], r[2]) for r in first]
    }

    # batch 2: a LATE event for minute 0 + a further sentinel
    write_batch(str(stream_dir / "b2.parquet"),
                [("https://h.com/late", t0 + 10), ("https://zzz.invalid/s2", t0 + 7200)])
    run_stream_to_table(spark, str(stream_dir), tbl, checkpoint_dir=str(tmp_path / "ck"))
    rows = [r for r in tbl.read(spark).collect() if r.host == "h.com"]
    # the closed minute-0 window was NOT re-emitted or updated: still one
    # h.com row with doc_count 2 (the late event was dropped by the watermark)
    assert len(rows) == 1 and rows[0].doc_count == 2


def test_streamed_table_is_day_partitioned_with_zone_maps(spark, tmp_path):
    """run_stream_to_table commits each micro-batch with the batch job's
    serving layout: day partition values in the manifest (so retention's
    drop_partitions is metadata-only on streamed data) and (host, bucket_ts)
    zone maps per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mimirsbrunn_spark.streaming import run_stream_to_table

    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    t0 = 1_700_000_000
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    pq.write_table(
        pa.Table.from_pydict(
            {
                "url": ["https://h.com/1", "https://h.com/2", "https://zzz.invalid/s"],
                "warc_ts": [
                    pd.Timestamp(t0, unit="s"),
                    pd.Timestamp(t0 + 90_000, unit="s"),  # next day
                    pd.Timestamp(t0 + 200_000, unit="s"),  # watermark sentinel
                ],
                "html": [b"x"] * 3,
                "text": ["t"] * 3,
                "lang": ["en"] * 3,
            },
            schema=schema,
        ),
        str(stream_dir / "b1.parquet"),
    )
    tbl = SnapshotTable(str(tmp_path / "t"))
    run_stream_to_table(spark, str(stream_dir), tbl, checkpoint_dir=str(tmp_path / "ck"))
    snap = tbl.snapshot(tbl.current_snapshot_id())
    vals = {snap.partitions.get(f, "") for f in snap.files}
    assert "" not in vals and len(vals) >= 2, vals  # day-partitioned commit
    assert snap.layout.get("partition_by") == "day"
    assert all("bucket_ts" in snap.file_stats.get(f, {}) for f in snap.files)
    # metadata-only expiry works on the streamed table
    before = snap.row_count
    tbl.drop_partitions(spark, below=max(vals))
    assert tbl.row_count() < before


def test_anomaly_fn_multi_chunk_out_of_order(spark):
    """ADVICE r2 (medium): a group spanning multiple Arrow chunks has no
    cross-chunk ordering guarantee — the minute state machine must sort the
    concatenated group once, not each chunk independently (events in a later
    chunk with earlier timestamps must NOT be dropped as late)."""
    import pandas as pd

    from mimirsbrunn_spark.streaming import _anomaly_fn

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    def chunk(secs):
        return pd.DataFrame(
            {
                "host": ["h"] * len(secs),
                "url": [f"u{s}" for s in secs],
                "warc_ts": pd.to_datetime(secs, unit="s"),
            }
        )

    fn = _anomaly_fn(alpha=0.3, k=3.0, warmup=1)
    state = FakeState()
    # chunk 1 holds LATER minutes than chunk 2 — per-chunk sorting would
    # misclassify all of chunk 2 as late
    out = list(fn(("h",), iter([chunk([120, 180]), chunk([0, 0, 60])]), state))
    res = pd.concat(out, ignore_index=True)
    assert res["doc_count"].tolist() == [2, 1, 1]  # minutes 0, 1, 2 closed
    assert res["late_dropped"].sum() == 0
    # minute 3 stays open in state
    assert state.get[2] == 3  # cur_min


def test_streaming_hopping_equals_batch_operator(
    spark, small_pages_path, small_pages_pdf, tmp_path
):
    """stream_hopping (built-in sliding F.window, availableNow drain) must
    equal the batch hopping_window_agg (explode enumeration) row-for-row —
    the two window-start constructions are the same epoch-aligned set.
    Same watermark-closing sentinel pattern as test_streaming_equals_batch."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mimirsbrunn_spark.ingest import with_host
    from mimirsbrunn_spark.operators.analytics import hopping_window_agg
    from mimirsbrunn_spark.streaming import stream_hopping

    stream_dir = str(tmp_path / "hop_in")
    shutil.copytree(small_pages_path, stream_dir)
    sentinel_ts = small_pages_pdf["warc_ts"].max() + pd.Timedelta(days=1)
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    sentinel = pd.DataFrame(
        {
            "url": ["https://zzz-sentinel.invalid/close"],
            "warc_ts": [sentinel_ts],
            "html": [b""],
            "text": [""],
            "lang": ["unknown"],
        }
    )
    pq.write_table(
        pa.Table.from_pandas(sentinel, schema=schema, preserve_index=False),
        f"{stream_dir}/part-sentinel.parquet",
    )

    out_dir = str(tmp_path / "hop_out")
    q = (
        stream_hopping(spark, stream_dir)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "hop_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.read.parquet(out_dir)
        .filter("host != 'zzz-sentinel.invalid'")
        .toPandas()
        .sort_values(["host", "window_start_sec"], kind="mergesort")
        .reset_index(drop=True)
    )

    batch_pages = with_host(spark.read.parquet(small_pages_path)).select(
        "host",
        F.col("warc_ts").cast("long").alias("ts_sec"),
        "page_size",
    )
    want = (
        hopping_window_agg(
            batch_pages, ["host"], window_sec=3600, hop_sec=900, value_col="page_size"
        )
        .withColumnRenamed("window_start_sec", "window_start_sec")
        .toPandas()
        .sort_values(["host", "window_start_sec"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        got[["host", "window_start_sec", "doc_count", "value_sum"]],
        want[["host", "window_start_sec", "doc_count", "value_sum"]],
        check_dtype=False,
    )


def test_stream_error_stats_equals_batch_and_feeds_burn(
    spark, small_pages_path, small_pages_pdf, tmp_path
):
    """stream_error_stats (availableNow drain) must equal the batch
    error_rollup exactly, and its materialized output must feed
    multiwindow_burn unchanged (the lambda serving pattern). Same
    watermark-closing sentinel as test_streaming_equals_batch."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mimirsbrunn_spark.ingest import read_pages, with_host
    from mimirsbrunn_spark.operators.slo import error_rollup, multiwindow_burn
    from mimirsbrunn_spark.streaming import stream_error_stats

    stream_dir = str(tmp_path / "stream_in")
    shutil.copytree(small_pages_path, stream_dir)
    sentinel_ts = small_pages_pdf["warc_ts"].max() + pd.Timedelta(days=1)
    sentinel = pd.DataFrame(
        {
            "url": ["https://zzz-sentinel.invalid/close"],
            "warc_ts": [sentinel_ts],
            "html": [b""],
            "text": [""],
            "lang": ["unknown"],
        }
    )
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(sentinel, schema=schema, preserve_index=False),
        f"{stream_dir}/part-sentinel.parquet",
    )

    err_sql = "page_size % 7 = 0"
    out = str(tmp_path / "err_stats")
    q = (
        stream_error_stats(spark, stream_dir, err_sql)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    from pyspark.sql import functions as F

    got = (
        spark.read.parquet(out)
        .filter("host != 'zzz-sentinel.invalid'")
        .orderBy("host", "bucket_sec")
    )
    batch_pages = with_host(read_pages(spark, small_pages_path)).withColumn(
        "warc_sec", F.unix_timestamp("warc_ts")
    )
    want = error_rollup(
        batch_pages, F.expr(err_sql), ts_col="warc_sec", keys=("host",), step=3600
    ).orderBy("host", "bucket_sec")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # the materialized stream output drives the batch burn-rate read as-is
    burn = multiwindow_burn(spark.read.parquet(out), error_budget=0.01)
    assert burn.filter("burn_short is null or burn_long is null").count() == 0


def test_streaming_burn_alert_parity_end_to_end(
    spark, small_pages_path, small_pages_pdf, tmp_path
):
    """Lambda-serving page-alert parity, pinned END TO END (VERDICT r4 task
    8): the alert set computed from DRAINED streamed stats ->
    multiwindow_burn must equal the batch path's published-tier read
    (run_slo_job -> read_burn) on the same input — same (host, bucket)
    alert rows AND same burn values."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mimirsbrunn_spark.jobs.slo_job import read_burn, run_slo_job
    from mimirsbrunn_spark.operators.slo import multiwindow_burn
    from mimirsbrunn_spark.streaming import stream_error_stats

    stream_dir = str(tmp_path / "stream_in")
    shutil.copytree(small_pages_path, stream_dir)
    sentinel_ts = small_pages_pdf["warc_ts"].max() + pd.Timedelta(days=1)
    sentinel = pd.DataFrame(
        {
            "url": ["https://zzz-sentinel.invalid/close"],
            "warc_ts": [sentinel_ts],
            "html": [b""],
            "text": [""],
            "lang": ["unknown"],
        }
    )
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(sentinel, schema=schema, preserve_index=False),
        f"{stream_dir}/part-sentinel.parquet",
    )

    err_sql = "page_size % 7 = 0"
    budget = 0.01
    out = str(tmp_path / "err_stats")
    q = (
        stream_error_stats(spark, stream_dir, err_sql)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    stream_burn = multiwindow_burn(
        spark.read.parquet(out).filter("host != 'zzz-sentinel.invalid'"),
        error_budget=budget,
    )

    pub = str(tmp_path / "pub")
    run_slo_job(spark, small_pages_path, pub, err_sql)
    batch_burn = read_burn(spark, pub, error_budget=budget)

    cols = ["host", "bucket_sec", "tot", "err", "burn_short", "burn_long",
            "page_alert"]
    s = stream_burn.select(*cols)
    b = batch_burn.select(*cols)
    n_s, n_b = s.count(), b.count()
    assert n_s == n_b > 0
    assert s.exceptAll(b).count() == 0 and b.exceptAll(s).count() == 0

    # the alert set is non-trivial on this fixture (some fire, some don't)
    alerts = {(r.host, r.bucket_sec) for r in
              s.filter("page_alert").collect()}
    assert 0 < len(alerts) < n_s
    batch_alerts = {(r.host, r.bucket_sec) for r in
                    b.filter("page_alert").collect()}
    assert alerts == batch_alerts
