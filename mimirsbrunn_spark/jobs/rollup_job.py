"""The end-to-end resumable rollup job.

Lifecycle (graft of the reference's importer lifecycle,
/root/reference/src/bin/osm2mimir.rs:41-163 — staged read → enrich →
dedup/aggregate → atomic publish, one dataset at a time):

  1. enumerate input partitions (days of warc_ts);
  2. for each day NOT in the lineage table: build the 1m series for that day,
     append-commit it to the series table, record a lineage row
     (partition id, input fingerprint, output snapshot, row count, checksum);
  3. refresh the derived tiers (1h/1d/30d), gap-fill tables and compressed
     chunk tables. The tiers are the ``rollup`` continuous aggregate
     (``_rollup_spec``, jobs/aux_refresh.py), one builder per tier for
     both paths: INCREMENTALLY when the tables already exist and record the
     series snapshot they were built from (``refresh_aux_tiers``: only
     partitions dirtied by this run's days are recomputed, each tier
     cascading from the previous tier's table via manifest-pruned reads),
     otherwise a full build from the committed 1m series
     (``ContinuousAggregate.publish``), whose preserve hook keeps the tier
     history retention has cut from the series. Gap-fill and chunks follow
     each tier (``_publish_serving``).

Resume = rerun the job: step 2 skips days already in lineage (the analog of
the reference's per-dataset alias republish — a crashed import rerun republishes
only missing datasets, rubber.rs:553-602). Step 3 is idempotent either way:
the incremental path swaps dirty partitions in with one atomic
replace_partitions snapshot per table, and a crash mid-refresh leaves the
tables out of sync with the series snapshot marker, which forces a full
rebuild on the next run.

Why days: 1m buckets never span a day boundary, so per-day series appends are
disjoint and the concatenation is exactly the global series. The expensive,
failure-prone work (the pages scan) is what checkpointing protects; derived
refreshes aggregate rolled-up series, never raw pages.

At 100 TB: the day loop is a loop over Iceberg partitions; each iteration
scans only `warc_ts ∈ day` (partition pruning via the filter), and the series
append shuffles only that day's (host, bucket, lang) groups. Days can also be
dispatched as independent Spark jobs for further isolation.

Run on a cluster (spark-submit takes a script, not a module — the launcher
is tools/submit_rollup.py; the zip comes from
``mimirsbrunn_spark.build_pyfiles_zip()``):
  spark-submit --master <cluster> --py-files mimirsbrunn_spark_pyfiles.zip \
      tools/submit_rollup.py --pages <path> --out <dir> [--job-id id]
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import codecs, gapfill, retention, series, tiers
from ..config import EngineConfig
from ..ingest import read_pages
from ..tables import Lineage, Metrics, SnapshotTable
from . import aux_refresh


class SimulatedFailure(RuntimeError):
    """Raised by the fail_after test hook to emulate a mid-job crash."""


# Zone maps + write clustering for every published serving table: files are
# range-clustered on host inside each time partition and the manifest records
# per-file (host, bucket_ts) min/max from the parquet footers, so host-scoped
# and sub-partition time reads skip files the partition key alone can't prune
# (tables.commit stats_cols / query_api stats_filters — the Iceberg
# sort-order + data-file-bounds analog).
SERVING_STATS = ("host", "bucket_ts")
SERVING_CLUSTER = ("host",)
TIERS = ("1h", "1d", "30d")


def enumerate_days(spark, input_tbl, pages) -> list[str]:
    """The job's input partitions (ISO days of warc_ts), cheapest first:
    a day-partitioned SnapshotTable input already LISTS its partition values
    in the manifest — enumeration is pure driver-side manifest arithmetic,
    NO Spark job (at 100 TB: the Iceberg .partitions metadata view, never a
    distinct() over a trillion rows). Only an unpartitioned input falls back
    to a distinct scan of the day column."""
    if input_tbl is not None:
        snap = input_tbl.snapshot(input_tbl.current_snapshot_id())
        vals = sorted({v for v in snap.partitions.values() if v})
        if vals:
            return vals
        pages = input_tbl.read(spark)
    return [
        r.d.isoformat()
        for r in pages.select(F.to_date("warc_ts").alias("d")).distinct().orderBy("d").collect()
    ]


def _input_day_fingerprints(input_tbl) -> dict[str, int]:
    """Per-day input fingerprint from the input MANIFEST alone: a stable
    nonzero 63-bit hash of the day's sorted data-file list. Data files are
    immutable and live under per-commit uuid dirs, so any append, rewrite,
    replace, or compaction of a day changes its file set and therefore its
    fingerprint — the late-data detection key for ``refresh_days='auto'``.
    Driver-side manifest arithmetic, NO Spark job (Iceberg analog: the
    per-partition data-file set from the ``.files`` metadata view)."""
    snap = input_tbl.snapshot(input_tbl.current_snapshot_id())
    by_day: dict[str, list[str]] = {}
    for f in snap.files:
        v = snap.partitions.get(f, "")
        if v:
            by_day.setdefault(v, []).append(f)
    out = {}
    for d, fs in by_day.items():
        h = hashlib.sha256("\n".join(sorted(fs)).encode()).digest()
        # >>1 keeps it in signed-long range for the lineage schema; |1
        # keeps 0 reserved as "no fingerprint recorded"
        out[d] = (int.from_bytes(h[:8], "big") >> 1) | 1
    return out


def _series_retention_watermark(series_tbl) -> str | None:
    """Largest ISO day the series' retention stage has dropped below (max
    ``dropped_below`` across snapshots), or None. Refreshing a day under
    this watermark would resurrect expired data — and the next retention
    run would silently re-expire it, leaving derived tiers rebuilt from a
    window that flip-flops. The refresh path refuses such days."""
    try:
        marks = [
            s.meta["dropped_below"]
            for s in series_tbl.snapshots()
            if "dropped_below" in s.meta
        ]
    except Exception:
        return None
    return max(marks) if marks else None


def _derived_in_sync(tbl, series_tbl, series_sid) -> bool:
    """True iff the table's current snapshot reflects the given series
    snapshot: the recorded ``series_snapshot`` marker equals it, OR is an
    ancestor separated only by RETENTION partition drops (a retention run
    advances the series snapshot without adding data — the derived tables
    then hold a superset of the surviving series, which is exactly the
    retention-tier contract; treating that as stale would trigger a full
    rebuild from the truncated series and erase coarse-tier history).
    Backends without snapshot-meta introspection (anything but
    SnapshotTable) return False → the caller falls back to a full rebuild,
    which is always safe."""
    try:
        cur = tbl.current_snapshot_id()
        if cur is None or series_sid is None:
            return False
        rec = tbl.snapshot(cur).meta.get("series_snapshot")
        if rec == series_sid:
            return True
        if rec is None:
            return False
        sid = series_sid
        while sid is not None and sid != rec:
            s = series_tbl.snapshot(sid)
            # retention partition drops don't add data; compaction snapshots
            # are data-identical by construction (same rows, fewer files) —
            # both leave the derived tables a (super)set of the series, so
            # neither invalidates them. Anything else (appends, refreshes,
            # resumes) is a real data change → stale.
            if "dropped_below" not in s.meta and not s.meta.get("compaction"):
                return False
            sid = s.parent_id
        return sid == rec
    except AttributeError:
        return False
    except FileNotFoundError:
        # an intermediate series manifest was vacuumed away — can't prove
        # the gap is retention-only; report stale (the rebuild is
        # history-preserving, so the cost is compute, not data)
        return False


def _rollup_spec(sid_now, tf, cfg=None, record=None) -> aux_refresh.ContinuousAggregate:
    """The rollup tiers as a continuous aggregate over the 1m series: meta
    records the series snapshot they reflect, tables come from ``tf`` (name
    → table), full builds write the serving layout, and ``_coverage_floor``
    keeps the history the series can no longer rebuild (``record`` receives
    its rebuild-gap metrics). Built per run, so the spec calls whatever
    ``tiers.rollup`` is bound to at that moment."""
    return aux_refresh.ContinuousAggregate(
        "rollup", TIERS, finest=tiers.rollup, merge=tiers.rollup, exact=True,
        meta={"series_snapshot": sid_now},
        layout={
            "stats_cols": SERVING_STATS,
            "cluster_by": SERVING_CLUSTER,
            "cluster_files": (cfg or EngineConfig()).cluster_files,
        },
        preserve=lambda spark, tier: _coverage_floor(spark, tf, tier, record),
        tables=tf,
    )


def _refresh_derived_incremental(
    spark, out_dir, tier_tables, series_tbl, processed_days, cfg, spec
) -> dict:
    """Refresh ONLY the serving-table partitions dirtied by the processed
    days (continuous-aggregate invalidation over the published layout):

    - rollup_{tier}: the ``rollup`` ContinuousAggregate
      (jobs/aux_refresh.py) recomputes each dirty partition key IN FULL —
      1h from the series partitions of the processed days alone (not
      the days between them), 1d/30d from the child tier's table over
      exactly the source span the dirty periods need
      (tiers.source_span handles the epoch-anchored 30d buckets that reach
      across partition boundaries) — and swaps it in with one atomic
      replace_partitions snapshot per tier.
    - chunks_{tier}, gapfill_{tier}: see ``_publish_serving`` — only the
      chunk months holding dirty buckets are re-encoded; gap-fill is
      rebuilt in full.

    Returns per-stage refreshed-partition counts (metrics payload)."""
    day_rows = series_tbl.read(spark, partition_values=set(processed_days))
    aux_refresh.refresh_aux_tiers(spark, spec, out_dir, processed_days, day_rows)
    stats: dict[str, float] = {}
    for tier in TIERS:
        # a tier row belongs to the chunk month of its own bucket_ts
        months = {
            dt.datetime.fromtimestamp(b, dt.timezone.utc).strftime("%Y-%m")
            for b in tiers.affected_buckets(processed_days, tier)
        }
        _publish_serving(spark, tier_tables, tier, cfg, spec.meta, months)
        stats[f"rollup_{tier}_partitions"] = len(tiers.dirty_partition_keys(processed_days, tier))
        stats[f"chunks_{tier}_months"] = len(months)
    return stats


def _publish_serving(spark, tier_tables, tier, cfg, meta, months=None) -> None:
    """Publish the serving tables derived from the committed rollup_{tier}:

    - gapfill_{tier}: rebuilt in full. locf/linear windows reach across
      partition boundaries (an observed point fills forward indefinitely),
      so partition-local recompute would be WRONG; the input is the
      rolled-up tier (bounded by time range, not doc count), which keeps
      the rebuild cheap at any raw-data scale.
    - chunks_{tier}: replace-committed when ``months`` is None; otherwise
      only those months are re-encoded and swapped (all host buckets of
      each). Chunk groups are (host, tier, month), independent by
      construction (split_by_month).

    ``meta`` (the sync marker) is recorded on both with the tier's own
    keys."""
    tbl = tier_tables[f"rollup_{tier}"]
    hs = tiers.host_series(tbl.read(spark).drop("pkey"))
    tier_tables[f"gapfill_{tier}"].commit(
        gapfill.gapfill(hs, tier).withColumn("pkey", tiers.partition_key_col(tier)),
        mode="replace",
        meta={"tier": tier, "partition_fmt": tiers.TIER_PARTITION_FMT[tier][1], **meta},
        partition_by="pkey",
        stats_cols=SERVING_STATS,
        cluster_by=SERVING_CLUSTER,
        cluster_files=cfg.cluster_files,
    )
    if months is not None:
        in_months = tbl.read(
            spark,
            partition_filter=lambda v: any(v.startswith(m) or m.startswith(v) for m in months),
        ).drop("pkey")
        hs = tiers.host_series(
            in_months.filter(F.date_format("bucket_ts", "yyyy-MM").isin(sorted(months)))
        )
    ch = codecs.encode_chunks(
        hs, tier, max_points_per_chunk=cfg.chunk_max_points, split_by_month=True
    ).withColumn("pkey", codecs.chunk_partition_col(cfg.host_buckets))
    ch_meta = {"tier": tier, "host_buckets": cfg.host_buckets, "month_split": True, **meta}
    ch_tbl = tier_tables[f"chunks_{tier}"]
    if months is None:
        ch_tbl.commit(
            ch, mode="replace", meta=ch_meta, partition_by="pkey",
            stats_cols=("host", "chunk_start", "last_ts"),
        )
    else:
        ch_tbl.replace_partitions(
            ch, {f"{hb:04d}|{m}" for hb in range(cfg.host_buckets) for m in months},
            meta=ch_meta,
        )


_STATS_INCONCLUSIVE = object()


def _day_epoch(day: str) -> int:
    """Epoch second of an ISO day's UTC midnight."""
    return int(dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc).timestamp())


def _manifest_max_below(tbl, bound: int):
    """Largest bucket_ts (epoch sec) strictly below ``bound``, answered from
    the manifest's per-file bucket_ts zone maps alone — None if no rows lie
    below, ``_STATS_INCONCLUSIVE`` if the manifest can't prove the answer
    (a file missing bucket_ts stats, or one straddling the bound, whose
    exact sub-bound maximum only a scan can produce). Zone-map bounds are
    exact here: tier bucket_ts values are whole bucket-aligned seconds, so
    the footer min/max round-trips losslessly."""
    try:
        snap = tbl.snapshot(tbl.current_snapshot_id())
        stats = [snap.file_stats.get(f, {}).get("bucket_ts") for f in snap.files]
    except Exception:
        return _STATS_INCONCLUSIVE  # backend without manifest introspection
    if any(s is None or len(s) != 2 for s in stats):
        return _STATS_INCONCLUSIVE
    if any(s[0] < bound <= s[1] for s in stats):
        return _STATS_INCONCLUSIVE  # straddling file: exact max needs a scan
    below = [s[1] for s in stats if s[1] < bound]
    return max(below) if below else None


def _truncation_watermark_epoch(tbl) -> int | None:
    """Largest epoch second the table's retention has provably truncated
    below, from surviving snapshot meta: expire_tier's ``retention_cutoff``
    (epoch int) and the series stage's ISO-day ``dropped_below``. None =
    no surviving evidence — either never truncated (a plain rebuild from
    this source is exact) or the evidence was vacuumed (the caller falls
    back to a content-based conservative floor)."""
    best = None
    try:
        snaps = tbl.snapshots()
    except Exception:
        return None
    for s in snaps:
        rc = s.meta.get("retention_cutoff")
        if isinstance(rc, (int, float)):
            best = max(best or 0, int(rc))
        db = s.meta.get("dropped_below")
        if isinstance(db, str) and len(db) == 10:  # ISO day (series drops);
            # tier drops record pkey-format keys here, covered by
            # retention_cutoff in the same meta
            try:
                best = max(best or 0, _day_epoch(db))
            except ValueError:
                continue
    return best


def _tier_has_rows_strictly_below(spark, tbl, bound: int) -> bool:
    """Does the tier hold any bucket strictly below ``bound``? Answered
    from the manifest's bucket_ts zone maps; a bounded existence probe
    runs only when a file straddles the bound or lacks stats."""
    mx = _manifest_max_below(tbl, bound)
    if mx is _STATS_INCONCLUSIVE:
        sec = F.col("bucket_ts").cast("long")
        return tbl.read(spark).filter(sec < bound).limit(1).count() > 0
    return mx is not None


def _preserve_floor(spark, tbl, step: int, src_min: int, src_wm: int | None) -> int | None:
    """First bucket start (epoch sec) of ``tbl`` that its source — whose
    oldest surviving instant is ``src_min`` and whose retention truncation
    watermark is ``src_wm`` — can rebuild; the tier's rows below it are
    preserved history. None = the source covers everything the tier knows,
    so a plain rebuild is exact.

    The floor is the source's truncation bound when evidence survives, NOT
    its min observed instant: flooring at the observed minimum would
    preserve the coarse bucket straddling the data's NATURAL start from the
    old tier, pinning a stale value whenever a backfill (refresh_days)
    legitimately rewrote history inside it. With no evidence the rule is
    content-based: floor at the observed minimum only when the tier
    provably holds buckets STRICTLY before the one containing ``src_min``
    (pre-source history ⇒ a truncation whose evidence was vacuumed). That
    bound equals ceil(src_min) − step when src_min straddles a bucket, but
    ceil(src_min) itself when src_min is grid-aligned (e.g. the 1h tier,
    whose src_min is a day start) — probing one step lower there would miss
    history in between. Shared by the rebuild and verify_job."""
    if src_wm is not None:
        return -(-src_wm // step) * step
    if _tier_has_rows_strictly_below(spark, tbl, (src_min // step) * step):
        return -(-src_min // step) * step
    return None


# Coverage bound of a series with no surviving partitions: every tier then
# keeps all its rows instead of replace-committing empty.
_NOTHING_COVERED = 2**62


def _series_coverage_epoch(series_tbl) -> int | None:
    """Oldest instant the surviving series covers: its first partition day
    (manifest arithmetic, no scan; 1h buckets never straddle a day, so a
    split there is exact), ``_NOTHING_COVERED`` for a series without files,
    None when the manifest cannot bound it (a backend without manifest
    introspection, or legacy unpartitioned files) — a plain rebuild."""
    try:
        snap = series_tbl.snapshot(series_tbl.current_snapshot_id())
    except (AttributeError, FileNotFoundError):
        return None
    days = sorted({v for v in snap.partitions.values() if v})
    if days:
        return _day_epoch(days[0])
    return None if snap.files else _NOTHING_COVERED


def _coverage_floor(spark, tf, tier, record=None) -> int | None:
    """The rollup spec's preserve hook: the first bucket of ``rollup_{tier}``
    its source can rebuild (``_preserve_floor``); the tier keeps its
    committed rows below it, the materialized values computed while the raw
    data existed. The 1h source is the series, bounded by its first
    surviving day; each coarser tier's source is the committed finer tier,
    bounded by its first bucket. Every tier preserves, not just 1h: once
    expire_tier has trimmed 1h to its window, a 1d/30d rebuild from it
    alone would erase their longer history. None = plain rebuild: the tier
    has no table yet (a first publish probes nothing) or the series
    coverage is unknown. ``record`` receives ``rebuild_gap_seconds_{tier}``
    when the preserved span does not abut the rebuilt one (a long idle gap
    plus partial expiry), since coarser tiers then aggregate across the
    hole. Shared by the rebuild and verify_job."""
    tbl = tf(f"rollup_{tier}")
    if not tbl.exists():
        return None
    src = tf("series_1m")
    src_min = _series_coverage_epoch(src)
    if src_min is None:
        return None
    i = TIERS.index(tier)
    if i:
        src = tf(f"rollup_{TIERS[i - 1]}")
        row = src.read(spark).agg(F.min(F.col("bucket_ts").cast("long"))).first()
        src_min = row[0] if row and row[0] is not None else _NOTHING_COVERED
    if src_min == _NOTHING_COVERED:
        return _NOTHING_COVERED  # rebuild nothing: no stitch, no gap
    step = series.TIER_SECONDS[tier]
    floor = _preserve_floor(spark, tbl, step, src_min, _truncation_watermark_epoch(src))
    if floor is not None and record is not None:
        old_max = _manifest_max_below(tbl, floor)
        if old_max is _STATS_INCONCLUSIVE:
            sec = F.col("bucket_ts").cast("long")
            old_max = tbl.read(spark).filter(sec < floor).agg(F.max(sec)).first()[0]
        if old_max is not None and old_max + step < floor:
            record({f"rebuild_gap_seconds_{tier}": float(floor - (old_max + step))})
    return floor


def _checksum(df) -> str:
    """Deterministic order-independent content checksum: XOR of per-row
    xxhash64 over all columns (bit_xor is commutative + overflow-free,
    unlike sum under ANSI mode)."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    row = df.select(F.expr(f"bit_xor(xxhash64({cols}))").alias("x")).collect()[0]
    return format((row.x or 0) & 0xFFFFFFFFFFFFFFFF, "016x")


def run_rollup_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    job_id: str = "rollup",
    fail_after: int | None = None,
    fail_before_lineage: int | None = None,
    config: EngineConfig | None = None,
    retention_now_epoch: int | None = None,
    table_factory=None,
    refresh_days: list | str | None = None,
) -> dict:
    """Run (or resume) the rollup job. Returns a summary dict.

    ``config`` carries every tuning knob (EngineConfig — layered TOML/CLI,
    the reference's settings-merge discipline). ``retention_now_epoch``
    enables the retention stage with that clock (kept explicit/deterministic
    rather than wall-clock so tests and backfills are reproducible).

    ``refresh_days`` is the BACKFILL path (the continuous-aggregate
    targeted-refresh analog): days already committed to lineage are normally
    skipped forever, so late data, re-crawls, or corrections landing in an
    already-processed input day would never reach the published tiers.
    Pass a list of ISO days to force-recompute them (drop + rebuild the 1m
    series partition, new lineage row, derived tiers refresh incrementally
    exactly as for new days), or ``"auto"`` to detect changed days by
    comparing the input manifest's per-day file-set fingerprint against the
    fingerprint recorded in lineage at processing time — driver-side
    manifest arithmetic, no input scan. ``"auto"`` requires a
    day-partitioned manifest input (SnapshotTable/Iceberg); a plain
    parquet path has no cheap change signal, so explicit days are
    required there. Days strictly below the series retention watermark
    are refused (see ``_series_retention_watermark``; the cutoff day
    itself is intact and refreshable) and reported in the summary, as are
    explicit days matching no input day (``refresh_unknown``)."""
    cfg = config or EngineConfig()
    # The codec stage runs mapInArrow — under an arbitrary session
    # (driver harness, bare spark-submit without --py-files) the Python
    # workers can't import this package unless it ships as a pyfile. Same
    # seam the gates use; idempotent, no-op when --py-files already did it.
    from .. import ensure_worker_imports

    ensure_worker_imports(spark)
    # table_factory: name -> TableIO backend (tableio.TableIO protocol).
    # Default = the sandbox SnapshotTable format; pass
    # ``lambda n: IcebergTable(spark, f"cat.db.{n}", ...)`` to publish to a
    # real Iceberg catalog — the job body is backend-agnostic.
    tf = table_factory or (lambda name: SnapshotTable(f"{out_dir}/{name}"))
    lineage = Lineage(f"{out_dir}/lineage")
    metrics = Metrics(f"{out_dir}/metrics")
    series_tbl = tf("series_1m")

    # Input resolution: a plain parquet path scans with the day filter
    # pushed to the reader; a day-partitioned SnapshotTable input (a dir
    # with _snapshots/) additionally gets MANIFEST pruning — each day
    # iteration hands the scan only that day's files, the Iceberg
    # partition-pruning shape the 100 TB deployment relies on.
    input_tbl = None
    if os.path.isdir(os.path.join(pages_path, "_snapshots")):
        input_tbl = SnapshotTable(pages_path)
        pages = None
    else:
        pages = read_pages(spark, pages_path)
    days = enumerate_days(spark, input_tbl, pages)
    done = lineage.committed_partitions(spark)
    todo = [d for d in days if f"day={d}" not in done]

    # Per-day input fingerprints (manifest inputs only): recorded into
    # lineage.input_snapshot at processing time, compared on refresh='auto'.
    input_fps = _input_day_fingerprints(input_tbl) if input_tbl is not None else {}

    # Backfill: queue committed-but-changed days for recomputation. The
    # loop body is already overwrite-idempotent (drop + re-append + new
    # lineage row), so refreshed days ride the exact same code path as new
    # days — including the derived stage's dirty-partition invalidation.
    refused_refresh: list[str] = []
    refreshed_days: list[str] = []
    unknown_refresh: list[str] = []
    if refresh_days:
        if refresh_days == "auto":
            if input_tbl is None or not input_fps:
                raise ValueError(
                    "refresh_days='auto' needs a DAY-PARTITIONED manifest "
                    "input (SnapshotTable/Iceberg) — a plain parquet path "
                    "or an unpartitioned table has no cheap per-day change "
                    "signal; pass explicit ISO days"
                )
            recorded = lineage.latest_input_fingerprints(spark)
            cand = [
                d
                for d in days
                if f"day={d}" in done
                # 0 / absent = fingerprint never recorded → unknown, not
                # a mismatch (refuse to guess; explicit days still work)
                and recorded.get(f"day={d}", 0) != 0
                and recorded[f"day={d}"] != input_fps.get(d)
            ]
        else:
            dayset = set(days)
            # a requested day the input doesn't know is an operator typo or
            # a vanished partition — surfaced, never silently dropped
            unknown_refresh = [d for d in refresh_days if d not in dayset]
            cand = [d for d in refresh_days if f"day={d}" in done and d in dayset]
        watermark = _series_retention_watermark(series_tbl) if series_tbl.exists() else None
        # vacuum can erase the dropped_below evidence: any COMMITTED day
        # whose series partition no longer survives below the oldest one
        # standing can only have been retention-dropped — refuse those too
        # (content-based fallback, same spirit as the rebuild floor's)
        alive_floor = None
        alive: set = set()
        if watermark is None and series_tbl.exists():
            try:
                s_cur = series_tbl.snapshot(series_tbl.current_snapshot_id())
                alive = {v for v in s_cur.partitions.values() if v}
                alive_floor = min(alive) if alive else None
            except (AttributeError, FileNotFoundError):
                pass
        for d in cand:
            if watermark is not None and d < watermark:
                refused_refresh.append(d)  # expired by retention; see docstring
            elif (
                watermark is None
                and alive_floor is not None
                and d < alive_floor
                and d not in alive
            ):
                refused_refresh.append(d)  # evidence vacuumed; content says expired
            else:
                refreshed_days.append(d)
        todo = todo + [d for d in refreshed_days if d not in todo]
        # crash-window discipline: un-mark the refresh days BEFORE touching
        # their data, so a crash mid-recompute degrades into the ordinary
        # resume path (reprocess) rather than a committed-but-dropped day
        lineage.invalidate(spark, {f"day={d}" for d in refreshed_days})
        if refused_refresh:
            metrics.record(
                spark,
                job_id,
                stage="refresh_refused_expired",
                kv={"days": len(refused_refresh)},
            )

    # Series snapshot BEFORE this run's appends: derived tables record the
    # series snapshot they were built from, so the derived stage can tell
    # "up to date except this run's days" (incremental refresh is sound)
    # from "stale for unknown reasons" (crash mid-derived on a previous run
    # → full rebuild) without trusting the lineage alone.
    sid_before = series_tbl.current_snapshot_id() if series_tbl.exists() else None

    processed = 0
    for day in todo:
        t0 = time.time()
        # Idempotent resume: a crash between the series commit and the
        # lineage record leaves the day committed but unmarked — the rerun
        # sees it in `todo` again. Metadata-only drop of any existing files
        # for this day turns the re-append into an overwrite (no duplicates,
        # no doubled derived tiers). Costs nothing on the clean path.
        series_tbl.drop_partition_values({day}, meta={"resume_overwrite": f"day={day}"})
        if input_tbl is not None:
            day_pages = input_tbl.read(spark, partition_min=day, partition_max=day).filter(
                F.to_date("warc_ts") == F.lit(day)
            )
        else:
            day_pages = pages.filter(F.to_date("warc_ts") == F.lit(day))
        s = series.series_1m(day_pages, n_salts=cfg.n_salts).withColumn(
            "day", F.to_date("bucket_ts")
        )
        sid = series_tbl.commit(
            s,
            mode="append",
            meta={"partition": f"day={day}"},
            partition_by="day",
            stats_cols=SERVING_STATS,
            cluster_by=SERVING_CLUSTER,
            cluster_files=cfg.cluster_files,
        )
        processed += 1
        if fail_before_lineage is not None and processed >= fail_before_lineage:
            # crash INSIDE the commit→lineage window (the non-idempotent
            # window the drop above protects; exercised by the resume tests)
            raise SimulatedFailure(f"injected failure before lineage, day={day}")
        # Day row count from table metadata (manifest footer stats / Iceberg
        # .partitions view — no data re-scan): after the drop above, the
        # day's partition holds exactly the commit we just made.
        day_rows = series_tbl.partition_row_count(day)
        # Checksum over the COMMITTED rows (tiny rolled-up day, manifest-
        # pruned read) rather than re-running the raw pages aggregation.
        lineage.record(
            spark,
            partition_id=f"day={day}",
            input_snapshot=input_fps.get(day, 0),
            output_snapshot=sid,
            row_count=day_rows,
            checksum=_checksum(series_tbl.read(spark, partition_min=day, partition_max=day)),
        )
        metrics.record(
            spark,
            job_id,
            stage=f"series_1m/day={day}",
            kv={"rows": day_rows, "seconds": time.time() - t0},
        )
        if fail_after is not None and processed >= fail_after:
            raise SimulatedFailure(f"injected failure after {processed} partitions")

    # Derived artifacts (idempotent). Every published table is PARTITIONED
    # so the serving read path (query_api.read_rollup / read_chunks) prunes
    # at the MANIFEST level: tier/gapfill tables by a coarse ISO time prefix
    # of bucket_ts (tiers.partition_key_col — granularity matched to bucket
    # density), chunk tables by the composite '<host bucket>|<month>' key
    # (chunks are closed at month boundaries via split_by_month, making
    # month pruning exact). At 100× an unpartitioned commit here turns every
    # narrow t0/t1/host query into a full-table scan.
    #
    # Refresh strategy (continuous-aggregate invalidation): when the tables
    # already exist with this layout, ONLY the partitions dirtied by the
    # newly-processed days are recomputed — each tier cascades from the
    # previous tier's TABLE with a manifest-pruned read, so a daily run
    # touches O(dirty partitions), never the full series history. The first
    # run, a desynced run and any non-default table_factory (the refresh
    # prunes its reads by SnapshotTable manifest partitions) take the full
    # rebuild.
    t0 = time.time()
    tier_tables = {
        f"{kind}_{tier}": tf(f"{kind}_{tier}")
        for tier in TIERS
        for kind in ("rollup", "gapfill", "chunks")
    }
    processed_days = todo[:processed]
    sid_now = series_tbl.current_snapshot_id() if series_tbl.exists() else None
    all_exist = all(t.exists() for t in tier_tables.values())
    incremental_ok = (
        table_factory is None
        and all_exist
        and processed > 0
        and all(_derived_in_sync(t, series_tbl, sid_before) for t in tier_tables.values())
    )
    in_sync_now = all_exist and all(
        _derived_in_sync(t, series_tbl, sid_now) for t in tier_tables.values()
    )
    spec = _rollup_spec(
        sid_now, {"series_1m": series_tbl, **tier_tables}.__getitem__, cfg,
        record=lambda kv: metrics.record(spark, job_id, stage="derived_rebuild", kv=kv),
    )
    if incremental_ok:
        stats = _refresh_derived_incremental(
            spark, out_dir, tier_tables, series_tbl, processed_days, cfg, spec
        )
        metrics.record(
            spark, job_id, stage="derived_incremental",
            kv={"seconds": time.time() - t0, **stats},
        )
    elif not in_sync_now:
        # full build: every tier through the spec, history-preserving by its
        # preserve hook (_coverage_floor), then the serving tables
        spec.publish(spark, series_tbl.read(spark), out_dir)
        for tier in TIERS:
            _publish_serving(spark, tier_tables, tier, cfg, spec.meta)
        metrics.record(spark, job_id, stage="derived", kv={"seconds": time.time() - t0})

    # retention stage (explicit clock; no-op when not requested)
    if retention_now_epoch is not None:
        expired = {}
        # 1m series: metadata-only partition drop (whole expired days fall
        # out of the manifest; no data rewrite — the Iceberg partition-drop
        # path). Conservative: only days strictly before the cutoff day.
        policy_1m = cfg.retention.get("1m")
        if policy_1m is not None and series_tbl.exists():
            cutoff_day = dt.datetime.fromtimestamp(
                retention_now_epoch - policy_1m, dt.timezone.utc
            ).date().isoformat()
            # before/after from manifest arithmetic (snapshot row_count is
            # footer-stat math) — a count() here would be two full scans of
            # the series table per retention run, pure control-path waste.
            before = series_tbl.row_count()
            series_tbl.drop_partitions(spark, below=cutoff_day, meta={"retention": "1m"})
            expired["1m_partitions"] = before - series_tbl.row_count()
        for tier in TIERS:
            expired[tier] = retention.expire_tier(
                spark,
                tier_tables[f"rollup_{tier}"],
                tier,
                retention_now_epoch,
                retention_seconds=cfg.retention,
            )
        # Re-pin the derived tables' sync marker to the series snapshot AS
        # OF the end of retention: the 1m partition drops above advanced the
        # series snapshot id without changing any data the derived tables
        # miss, and while _derived_in_sync can walk retention-only series
        # commits, that walk dies once vacuum expires the intermediate
        # manifests (e.g. repeated idle `--retention-now --maintain` runs).
        # A metadata-only meta bump per table keeps the marker exactly
        # current so the walk is never needed. SnapshotTable-only (other
        # backends fall back to the walk / safe rebuild).
        sid_after = series_tbl.current_snapshot_id() if series_tbl.exists() else None
        if sid_after is not None and sid_after != sid_now:
            for t in tier_tables.values():
                if hasattr(t, "update_meta") and t.exists():
                    # re-pin ONLY tables still carrying the marker:
                    # expire_tier deliberately STRIPS it when it had to
                    # flatten an uninferable table, so the next run takes
                    # the safe full rebuild — an unconditional re-pin here
                    # would resurrect the duplicating incremental refresh
                    cur_meta = t.snapshot(t.current_snapshot_id()).meta
                    if "series_snapshot" in cur_meta:
                        t.update_meta({"series_snapshot": sid_after})
        metrics.record(
            spark, job_id, stage="retention", kv={f"expired_{k}": v for k, v in expired.items()}
        )

    return {
        "days_total": len(days),
        "days_processed": processed,
        "days_skipped": len(days) - len(todo),
        "days_refreshed": [d for d in refreshed_days if d in todo[:processed]],
        "refresh_refused_expired": refused_refresh,
        "refresh_unknown": unknown_refresh,
        # manifest arithmetic, not a table scan
        "series_rows": series_tbl.row_count(),
    }


def main() -> None:  # pragma: no cover - thin CLI wrapper
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--job-id", default="rollup")
    ap.add_argument(
        "--aggregates",
        default="",
        help="comma list of auxiliary aggregate tiers to publish after the "
        "rollup: distinct (HLL url sketches), topn (heavy-hitter lists), "
        "hist (size histograms + quantiles)",
    )
    ap.add_argument(
        "--config",
        default=None,
        help="engine TOML (EngineConfig.load layering: defaults < file)",
    )
    ap.add_argument(
        "--retention-now",
        type=int,
        default=None,
        help="epoch-seconds clock enabling the retention stage (explicit "
        "rather than wall-clock so backfills and replays are reproducible)",
    )
    ap.add_argument(
        "--refresh-days",
        default=None,
        help="backfill: comma list of ISO days to force-recompute (late "
        "data / corrections), or 'auto' to detect changed days from the "
        "input manifest's per-day fingerprints (manifest inputs only)",
    )
    ap.add_argument(
        "--maintain",
        action="store_true",
        help="run table maintenance (layout-preserving compaction + "
        "snapshot vacuum) over the output dir after the rollup",
    )
    ap.add_argument(
        "--verify",
        action="store_true",
        help="run the publication consistency checker (jobs/verify_job) "
        "over the output dir after the rollup — the reference's "
        "validate-before-alias-swap lifecycle step; exits nonzero when "
        "any check fails",
    )
    args = ap.parse_args()
    spark = get_spark(app_name=f"rollup_job[{args.job_id}]")
    cfg = EngineConfig.load(args.config)
    summary = run_rollup_job(
        spark,
        args.pages,
        args.out,
        args.job_id,
        config=cfg,
        retention_now_epoch=args.retention_now,
        refresh_days=(
            "auto"
            if args.refresh_days == "auto"
            else [d.strip() for d in (args.refresh_days or "").split(",") if d.strip()]
            or None
        ),
    )
    summary["master"] = spark.sparkContext.master
    for agg in [a for a in args.aggregates.split(",") if a]:
        if agg == "distinct":
            from .distinct_job import run_distinct_job

            run_distinct_job(spark, args.pages, args.out)
        elif agg == "topn":
            from .topn_job import run_topn_job

            run_topn_job(spark, args.pages, args.out)
        elif agg == "hist":
            from .histogram_job import run_histogram_job

            run_histogram_job(spark, args.pages, args.out)
        else:
            raise SystemExit(f"unknown --aggregates entry: {agg}")
        summary.setdefault("aggregates", []).append(agg)
    if args.maintain:
        from .maintenance_job import run_maintenance

        summary["maintenance"] = run_maintenance(spark, args.out)
    if args.verify:
        from .verify_job import verify_publication

        report = verify_publication(spark, args.out)
        summary["verify"] = {
            "ok": report["ok"],
            "failed": sorted(k for k, c in report["checks"].items() if not c.get("ok")),
        }
        if not report["ok"]:
            print(summary)
            raise SystemExit(2)
    print(summary)


if __name__ == "__main__":  # pragma: no cover
    main()
