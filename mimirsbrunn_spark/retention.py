"""Retention + compaction: the "retention engine" third of the north star.

Tier retention policy (TimescaleDB-style, per tier): raw/fine tiers keep a
short window, coarse tiers keep long ones — e.g. 1m keeps 7 days, 1h keeps
90, 1d keeps 730, 30d forever. Expiry = replace-commit of the tier filtered
to the window (the Iceberg ``DELETE WHERE bucket_ts < cutoff`` / partition
drop analog — old snapshots stay time-travelable until vacuumed).

Vacuum = physically delete data file sets no longer referenced by the
current snapshot or the last ``keep_snapshots`` ancestors — the analog of
the reference's ghost-index cleanup after alias swap
(/root/reference/libs/mimir/src/rubber.rs:566-602: delete indexes no longer
behind the alias; tested in tests/rubber_test.rs).

At 100 TB: expiry with a partitioned layout is metadata-only (drop whole
day partitions); the rewrite path here is the sandbox equivalent and is
still bounded by tier size (rolled-up rows), not raw size.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .tables import SnapshotTable

DEFAULT_RETENTION = {
    "1m": 7 * 86400,
    "1h": 90 * 86400,
    "1d": 730 * 86400,
    "30d": None,  # keep forever
}


def expire_tier(
    spark: SparkSession,
    table: SnapshotTable,
    tier: str,
    now_epoch: int,
    retention_seconds: dict | None = None,
) -> int:
    """Expire tier rows older than the retention window. Returns the number
    of expired rows. No-op (and no commit) if nothing expires or the tier
    keeps forever.

    On a time-partitioned tier table (the rollup_job layout) expiry is
    METADATA-ONLY for every partition wholly before the cutoff's period
    (drop_partitions — no data read or rewritten), plus a rewrite of just
    the one partition straddling the cutoff. The rewrite and the drops both
    PRESERVE the table's declared layout and its snapshot meta — in
    particular the ``series_snapshot`` sync marker: a retention commit that
    lost it would force the next run's derived stage into a full rebuild
    from the (shorter-retention) 1m series, silently truncating the coarse
    tiers' history to the raw window — the exact failure retention tiers
    exist to prevent. Unpartitioned legacy tables fall back to a full
    filter-rewrite (bounded by tier size, not raw size)."""
    import datetime as dt

    policy = (retention_seconds or DEFAULT_RETENTION).get(tier)
    if policy is None or not table.exists():
        return 0
    cutoff = now_epoch - policy
    snap = table.snapshot(table.current_snapshot_id())
    before = snap.row_count
    lay = snap.layout
    keep_meta = {
        k: v for k, v in snap.meta.items() if k in ("tier", "partition_fmt", "series_snapshot")
    }
    # the partitioned fast path is sound only when EVERY file carries a
    # partition value: empty-valued legacy files always pass partition
    # pruning (reads must never hide rows), so the straddle rewrite below
    # would re-append their rows without dropping them — duplication. Mixed
    # tables take the full-rewrite path instead.
    mixed = any(snap.partitions.get(f, "") == "" for f in snap.files)
    if lay.get("partition_by") and not mixed:
        from .tiers import TIER_PARTITION_FMT

        key = dt.datetime.fromtimestamp(cutoff, dt.timezone.utc).strftime(
            TIER_PARTITION_FMT[tier][1]
        )
        meta = {**keep_meta, "retention_cutoff": cutoff}
        # partitions strictly below the cutoff's period: metadata-only drop
        # (skipped entirely when nothing is below — no empty snapshot churn)
        if any(v and v < key for v in snap.partitions.values()):
            table.drop_partitions(spark, below=key, meta=meta)
        # the straddling partition holds rows on both sides of the cutoff:
        # one ATOMIC replace_partitions swap (a separate drop + append would
        # open a crash window with the partition's surviving rows deleted),
        # written in the table's declared layout
        cur = table.snapshot(table.current_snapshot_id())
        if any(cur.partitions.get(f) == key for f in cur.files):
            part = table.read(spark, partition_min=key, partition_max=key)
            kept = part.filter(F.col("bucket_ts").cast("long") >= cutoff)
            if kept.count() < table.partition_row_count(key):
                table.replace_partitions(kept, {key}, meta=meta)
        return before - table.row_count()

    df = table.read(spark)
    expired = df.filter(F.col("bucket_ts").cast("long") < cutoff).count()
    if expired == 0:
        return 0
    kept = df.filter(F.col("bucket_ts").cast("long") >= cutoff)
    # The full-rewrite fallback must not FLATTEN a table that still carries
    # per-file partition values (legacy pre-layout manifests record values
    # with layout == {}; the mixed-table guard above lands here too): a
    # replace-commit without partition_by zeroes every partition value while
    # keep_meta's series_snapshot marker keeps the table "in sync", so the
    # next run's incremental refresh replace_partitions would KEEP all the
    # ''-partition files (never in any replaced set) while appending fresh
    # rows — silent duplication that the coarse tiers then double-count.
    # Infer the partition column (the engine's tier layout always names it;
    # legacy manifests still have the column in the data) and rewrite
    # partitioned; when inference is impossible, strip the sync marker so
    # the next run takes the history-preserving full rebuild instead.
    has_part_values = any(v for v in snap.partitions.values())
    pby = lay.get("partition_by")
    if pby is None and has_part_values:
        # candidates: the engine's own partition columns first ('pkey' for
        # tiers, 'day' for the 1m series, 'bucket' for incremental-refresh
        # layouts), then every other column. ONE aggregation pass counts,
        # per candidate, how many distinct recorded partition values its
        # string-cast reproduces; only a column reproducing ALL of the
        # sampled values qualifies (a one-row coincidence — e.g. a metric
        # value equal to one epoch key — must NOT elect a data column: the
        # republished layout would feed later lexicographic partition
        # drops, silently deleting unexpired rows).
        recorded = sorted({v for v in snap.partitions.values() if v})[:20]
        named = [c for c in ("pkey", "day", "bucket") if c in df.columns]
        cands = named + [c for c in df.columns if c not in named]
        counts = df.agg(
            *[
                F.countDistinct(
                    F.when(
                        F.col(c).cast("string").isin(recorded),
                        F.col(c).cast("string"),
                    )
                ).alias(f"_c{i}")
                for i, c in enumerate(cands)
            ]
        ).first()
        for i, c in enumerate(cands):
            if counts[f"_c{i}"] == len(recorded):
                pby = c
                break
    meta = {**keep_meta, "retention_cutoff": cutoff, "expired_rows": expired}
    if pby is None:
        # committing UNPARTITIONED: the sync marker must not survive — an
        # unpartitioned table + marker sends the next run into the
        # incremental refresh, whose replace_partitions keeps every
        # ''-partition file (never in any replaced set) while appending
        # fresh rows. This applies to ALREADY-flattened tables too (no
        # recorded values at all), not just freshly-uninferable ones.
        meta.pop("series_snapshot", None)
    table.commit(
        kept,
        mode="replace",
        meta=meta,
        partition_by=pby,
        stats_cols=tuple(lay.get("stats_cols", ())),
        cluster_by=tuple(lay.get("cluster_by", ())),
        cluster_files=lay.get("cluster_files"),
    )
    return expired


def vacuum(table: SnapshotTable, keep_snapshots: int = 2) -> list[str]:
    """Delete data-file sets unreferenced by the last ``keep_snapshots``
    snapshots; drop older manifests. Returns removed file-set dirs."""
    snaps = table.snapshots()
    keep = snaps[-keep_snapshots:] if keep_snapshots > 0 else snaps[-1:]
    data_root = os.path.join(table.path, "data")
    # Referenced = TOP-LEVEL file-set dirs (data/<uuid>). Partitioned commits
    # nest files under data/<uuid>/_p=<val>/, so dirname(f) would yield the
    # _p= subdir and every partitioned set would look unreferenced — deleting
    # live data. Resolve each file back to its first path segment under data/.
    referenced = {
        os.path.join(data_root, os.path.relpath(f, data_root).split(os.sep)[0])
        for s in keep
        for f in s.files
    }
    removed = []
    for d in sorted(os.listdir(data_root)):
        full = os.path.join(data_root, d)
        if full not in referenced:
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
    keep_ids = {s.snapshot_id for s in keep}
    snap_dir = os.path.join(table.path, "_snapshots")
    for f in os.listdir(snap_dir):
        sid = int(f[1:].split(".")[0])
        if sid not in keep_ids:
            os.remove(os.path.join(snap_dir, f))
    # earliest kept snapshot may reference a vacuumed parent — detach it
    earliest = min(keep_ids)
    s = table.snapshot(earliest)
    if s.parent_id is not None and s.parent_id not in keep_ids:
        import json

        with open(table._manifest_path(earliest)) as fh:
            m = json.load(fh)
        m["parent_id"] = None
        tmp = table._manifest_path(earliest) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, table._manifest_path(earliest))
    return removed


def compact(spark: SparkSession, table: SnapshotTable, target_files: int = 8) -> int:
    """Rewrite the table into fewer, larger files (small-file compaction
    after many append commits — Iceberg rewrite_data_files analog).
    Returns the new snapshot id.

    The rewrite PRESERVES the table's declared layout (the manifest's
    partition spec: partition_by / stats_cols / cluster_by) — compaction
    that flattened a partitioned serving table into unpartitioned files
    would silently disable manifest pruning and zone maps for every
    subsequent read; at 100 TB that turns each narrow serving query back
    into a full scan the first time maintenance runs."""
    snap = table.snapshot(table.current_snapshot_id())
    lay = snap.layout
    # Carry the snapshot meta forward MINUS the commit-TYPE flags: the
    # engine reads operational markers back from meta — series_snapshot
    # (derived-stage sync), host_buckets/month_split (read_chunks pruning),
    # similarity-index keys (dim/n_planes/seed/centroids), streaming's
    # stream_batch exactly-once marker — and compact() runs generically
    # over EVERY table under out_dir, so an allowlist would strip markers
    # of tables it doesn't know about (KeyError on the next indexed-ANN
    # read; doubled rows on a streaming replay after vacuum). Only the
    # flags that describe WHAT KIND of commit a snapshot was are dropped:
    # _derived_in_sync classifies snapshots by them, and a compaction
    # snapshot wearing a stale 'dropped_below' would be misread as a
    # retention-only partition drop.
    _COMMIT_FLAGS = (
        "dropped_below", "dropped_values", "replaced_values",
        "retention_cutoff", "refresh", "refreshed", "days", "months",
        "resume_overwrite", "partition", "expired_rows", "refresh_days",
        "refreshed_buckets", "retention",
    )
    meta = {k: v for k, v in snap.meta.items() if k not in _COMMIT_FLAGS}
    meta["compaction"] = True
    if lay.get("partition_by") or lay.get("cluster_by"):
        df = table.read(spark)
        if lay.get("partition_by") and not lay.get("cluster_by"):
            # one file per partition value (hash shuffle on the partition
            # column); the cluster_by path coalesces via repartitionByRange
            # inside commit instead
            df = df.repartition(F.col(lay["partition_by"]))
        return table.commit(
            df,
            mode="replace",
            meta=meta,
            partition_by=lay.get("partition_by"),
            stats_cols=tuple(lay.get("stats_cols", ())),
            cluster_by=tuple(lay.get("cluster_by", ())),
            cluster_files=lay.get("cluster_files"),
        )
    df = table.read(spark).repartition(target_files)
    return table.commit(df, mode="replace", meta=meta)
