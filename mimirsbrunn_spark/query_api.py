"""Read-side query API — the "bragi" analog (SURVEY.md §2.9/§3).

The reference serves scored, filtered, paged reads over the published
indexes; here the read surface is rollup queries over published tier tables:
tier selection, time-range pruning, host/lang filters, on-demand gap-fill,
derived metrics, deterministic paging. Every knob is an explicit parameter
(the reference's explicitly-parameterized query-settings discipline,
/root/reference/libs/bragi/src/query_settings.rs:1-83).

Where a read runs follows from its input: a read whose input is bounded by
its answer runs on the DRIVER, and a read that reduces its input keeps a
Spark scan. ``read_rollup``, ``read_gapfill`` and ``read_chunks`` return
stored rows (decoded, for chunks) that the caller collects anyway, so they
read the manifest-pruned files with pyarrow (``SnapshotTable.read_arrow``,
the exact row predicate pushed into the Arrow scan) and answer with a
LocalRelation: no Spark job runs until the caller forces it, and none of
Spark's fixed per-query cost (relation analysis, jobs, a range-sampling
sort, code generation per time window) is paid for a few hundred rows.
``read_plot``, ``read_anomaly``, ``read_forecast``, ``read_corr``,
``read_range_total`` and ``histogram_job.read_quantile`` aggregate what
they scan, so they read through Spark (``_tier_scan``), where the time and
host predicates are pushed to parquet.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gapfill as gf
from .series import TIER_ORDER, TIER_SECONDS
from .tables import SnapshotTable


def _serving_stats_filters(
    t0: int | None, t1: int | None, hosts: list[str] | None
) -> dict | None:
    """Zone-map predicates for the serving tables (rollup_job records
    per-file (host, bucket_ts) min/max at commit time): requested hosts as a
    point-set, [t0, t1) as an inclusive bucket_ts range. Files without stats
    always pass, so this is sound against legacy/unclustered commits."""
    sf: dict = {}
    if hosts:
        sf["host"] = set(hosts)
    if t0 is not None or t1 is not None:
        sf["bucket_ts"] = (t0, t1 - 1 if t1 is not None else None)
    return sf or None


def pick_tier(t0: int, t1: int, max_points: int = 10_000) -> str:
    """Coarsest-fitting tier selection: the finest tier whose point count
    over [t0, t1) stays under ``max_points`` (continuous-aggregate read
    routing — the engine analog of index-set selection S16,
    /root/reference/libs/mimir/src/rubber.rs:254-300)."""
    span = max(t1 - t0, 1)
    for tier in TIER_ORDER:
        if span // TIER_SECONDS[tier] <= max_points:
            return tier
    return TIER_ORDER[-1]


def _tier_table(out_dir: str, tier: str) -> SnapshotTable:
    return SnapshotTable(f"{out_dir}/rollup_{tier}" if tier != "1m" else f"{out_dir}/series_1m")


def _tier_scan(
    spark: SparkSession,
    out_dir: str,
    tier: str,
    t0: int | None = None,
    t1: int | None = None,
    hosts: list[str] | None = None,
) -> DataFrame:
    """Spark scan of a published tier for the reads that reduce it: the
    manifest prunes files by partition key and zone maps, then [t0, t1) and
    the hosts are re-applied as exact row predicates, which parquet also
    receives. Partition-key columns ride in the data files and are dropped."""
    from .tiers import partition_bounds, time_window

    p_lo, p_hi = partition_bounds(tier, t0, t1)
    df = _tier_table(out_dir, tier).read(
        spark,
        partition_min=p_lo,
        partition_max=p_hi,
        stats_filters=_serving_stats_filters(t0, t1, hosts),
    ).drop("pkey", "day")
    df = time_window(df, t0, t1)
    if hosts:
        df = df.filter(F.col("host").isin(hosts))
    return df


def _all_of(conds: list):
    """The conjunction of Arrow dataset expressions; None for no condition."""
    return functools.reduce(operator.and_, conds) if conds else None


def _utc(sec: int):
    """Epoch seconds as an Arrow UTC timestamp scalar, the type of every
    timestamp column that ``SnapshotTable.read_arrow`` returns."""
    import pyarrow as pa

    return pa.scalar(int(sec) * 1_000_000, pa.timestamp("us", tz="UTC"))


def _arrow_rows(
    tbl: SnapshotTable,
    tier: str,
    t0: int | None,
    t1: int | None,
    hosts: list[str] | None,
    columns: list[str] | None = None,
    **equal,
):
    """The stored rows of a serving table in [t0, t1) for ``hosts`` (and
    each ``column=values`` of ``equal``), read on the driver through
    ``SnapshotTable.read_arrow`` with the same manifest and zone-map pruning
    as ``_tier_scan``. Bounds compare as UTC timestamps, which for integer
    bounds equals Spark's floored ``cast("long")`` comparison."""
    import pyarrow.dataset as ds

    from .tiers import partition_bounds

    conds = []
    if t0 is not None:
        conds.append(ds.field("bucket_ts") >= _utc(t0))
    if t1 is not None:
        conds.append(ds.field("bucket_ts") < _utc(t1))
    for col, values in (("host", hosts), *equal.items()):
        if values:
            conds.append(ds.field(col).isin(values))
    p_lo, p_hi = partition_bounds(tier, t0, t1)
    return tbl.read_arrow(
        columns=columns,
        row_filter=_all_of(conds),
        partition_min=p_lo,
        partition_max=p_hi,
        stats_filters=_serving_stats_filters(t0, t1, hosts),
    )


def read_rollup(
    spark: SparkSession,
    out_dir: str,
    tier: str,
    t0: int | None = None,
    t1: int | None = None,
    hosts: list[str] | None = None,
    langs: list[str] | None = None,
    fill: str | None = None,
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """Query a published tier. t0/t1 are translated into a partition-key
    string range first (MANIFEST pruning — only files whose coarse time
    partition can intersect [t0, t1) are read; see tiers.partition_bounds),
    then re-applied as exact row predicates; ``fill`` ∈ {None, 'locf',
    'linear'} applies on-demand gap-fill to the host-level series.

    Runs on the driver: the answer holds every row read, so the pruned
    files are read with pyarrow (``_arrow_rows``), sorted by (host,
    bucket_ts, lang) with NULLs first as Spark's ``orderBy`` sorts them,
    paged by slicing, and returned as a LocalRelation; no Spark job runs
    before the caller collects. With ``fill``, those rows feed the Spark
    gap-fill (``gapfill.gapfill``), whose result is sorted and paged there."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .tables import local_frame

    if fill is not None and fill not in ("locf", "linear"):
        raise ValueError(f"unknown fill {fill!r} (expected 'locf' or 'linear')")
    rows = _arrow_rows(_tier_table(out_dir, tier), tier, t0, t1, hosts, lang=langs)
    # partition-key columns ride in the data files; not part of the API
    rows = rows.drop_columns([c for c in ("pkey", "day") if c in rows.column_names])

    if fill is None:
        rows = rows.append_column(
            "avg_page_size",
            pc.divide(rows["bytes_sum"].cast(pa.float64()), rows["doc_count"].cast(pa.float64())),
        )
        rows = rows.sort_by(
            [(c, "ascending") for c in ("host", "bucket_ts", "lang")], null_placement="at_start"
        )
        return local_frame(spark, rows.slice(offset, limit))

    hs = local_frame(spark, rows).groupBy("host", "bucket_ts").agg(
        F.sum("doc_count").alias("doc_count"), F.sum("bytes_sum").alias("bytes_sum")
    )
    filled = gf.gapfill(hs, tier)
    value = F.col("value_locf") if fill == "locf" else F.col("value_linear")
    out = filled.select("host", "bucket_ts", "metric", value.alias("value"), "is_filled")
    out = out.orderBy("host", "metric", "bucket_ts")
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def read_plot(
    spark: SparkSession,
    out_dir: str,
    t0: int,
    t1: int,
    hosts: list[str] | None = None,
    metric: str = "doc_count",
    n_px: int = 800,
    method: str = "m4",
    points_per_px: int = 40,
) -> DataFrame:
    """Downsample-on-read for dashboards: pick the finest tier that keeps
    the per-series point count near the renderer's budget (~``points_per_px``
    raw points per pixel so the downsampler has material), serve it with
    manifest pruning (``_tier_scan``), collapse langs to the host series, then
    reduce to ~``n_px`` points per host — ``method='m4'`` (pixel-exact row
    set, ≤4 rows/px) or ``'lttb'`` (perceptual, exactly n_px). Output:
    (host, ts_sec, value[, bucket_ts_sec for m4]).

    Scale shape: everything up to the downsampler is the pruned tier read;
    both downsamplers shuffle once on the series key. The per-series rows
    that reach the downsampler are HARD-bounded by the budget for ANY
    [t0, t1): normally tier routing guarantees it, and when even the
    coarsest tier exceeds the budget (century-scale ranges, where
    pick_tier saturates) the series is pre-bucketed JVM-side to
    span/budget first — the pandas LTTB stage can never be handed an
    unbounded raw-tier series. TimescaleDB analog: the m4/lttb
    visualization hyperfunctions over continuous aggregates."""
    from .operators.downsample import lttb_downsample, m4_downsample

    if method not in ("m4", "lttb"):
        raise ValueError(f"unknown method {method!r} (expected 'm4' or 'lttb')")
    cap = max(n_px * points_per_px, n_px)
    tier = pick_tier(t0, t1, max_points=cap)
    df = _tier_scan(spark, out_dir, tier, t0=t0, t1=t1, hosts=hosts)
    hs = _host_series_sec(df, metric)
    step = TIER_SECONDS[tier]
    if (t1 - t0) // step > cap:
        # pick_tier saturated at the coarsest tier and the range STILL
        # exceeds the budget: coarsen to a step-aligned bucket of
        # ~span/cap so per-series cardinality stays ≤ cap regardless of
        # range (counts/bytes are sums, so re-summing is exact)
        want = -(-(t1 - t0) // cap)  # ceil(span / cap)
        coarse = max(-(-want // step), 1) * step  # ceil to a step multiple
        # t0-aligned so the range spans at most cap buckets (epoch-aligned
        # buckets could straddle cap + 1)
        hs = hs.groupBy(
            "host",
            (F.col("ts_sec") - (F.col("ts_sec") - F.lit(t0)) % coarse).alias(
                "ts_sec"
            ),
        ).agg(F.sum("value").alias("value"))
    if method == "m4":
        px_sec = max((t1 - t0) // max(n_px, 1), TIER_SECONDS[tier])
        return m4_downsample(hs, ["host"], bucket_sec=px_sec)
    return lttb_downsample(hs, ["host"], n_out=n_px)


def _host_series_sec(df: DataFrame, metric: str) -> DataFrame:
    """The shared host-series projection every analytic read uses: collapse
    langs to (host, ts_sec, value). Additive metrics only (counts/bytes —
    F.sum across langs); derived metrics like avg_page_size must be
    recomputed from the summed components, not summed."""
    return (
        df.groupBy("host", "bucket_ts")
        .agg(F.sum(metric).alias("value"))
        .select("host", F.col("bucket_ts").cast("long").alias("ts_sec"), "value")
    )


def read_anomaly(
    spark: SparkSession,
    out_dir: str,
    t0: int,
    t1: int,
    hosts: list[str] | None = None,
    metric: str = "doc_count",
    tier: str | None = None,
    window_n: int = 24,
    threshold: float = 3.0,
    only_anomalies: bool = True,
    warm_buckets: int | None = None,
) -> DataFrame:
    """Anomaly scan over the published tiers: pruned tier read (tier auto-
    routed unless given) → host series → trailing-window z-score. The
    window needs ``window_n`` points of history BEFORE t0 to score the
    first in-range points, so the read extends the range back by
    ``warm_buckets`` (default window_n) buckets and trims afterwards.
    Caveat: the z-score window is ROW-based while the warm-back is
    TIME-based — a series observed in only a fraction of its buckets gets
    proportionally fewer history rows at the range edge than a full-history
    scan would supply (min_points in the operator nulls verdicts with too
    little history rather than mis-scoring); pass a larger ``warm_buckets``
    for known-sparse series. Output: (host, ts_sec, value, zscore,
    is_anomaly)."""
    from .operators.anomaly import zscore_anomaly

    tier = tier or pick_tier(t0, t1)
    warm = t0 - (warm_buckets if warm_buckets is not None else window_n) * TIER_SECONDS[tier]
    df = _tier_scan(spark, out_dir, tier, t0=warm, t1=t1, hosts=hosts)
    hs = _host_series_sec(df, metric)
    out = zscore_anomaly(
        hs, keys=("host",), ts_col="ts_sec", value_col="value",
        window_n=window_n, threshold=threshold,
    ).filter(F.col("ts_sec") >= t0)
    return out.filter(F.col("is_anomaly")) if only_anomalies else out


def read_forecast(
    spark: SparkSession,
    out_dir: str,
    tier: str = "1h",
    hosts: list[str] | None = None,
    metric: str = "doc_count",
    season_n: int = 24,
    horizon_n: int = 24,
) -> DataFrame:
    """Seasonal-naive forecast past the published tier's end: every host is
    forecast forward from the TABLE's last bucket (the anchor — a uniform
    serving semantic that is exactly partition-prunable, unlike per-host
    tails which may live in arbitrarily old partitions). The anchor is
    found by scanning only the last coarse partition; the source season is
    then a pruned t0/t1 read. Output: (host, ts_sec, predicted)."""
    from .operators.anomaly import forecast_seasonal_naive

    step = TIER_SECONDS[tier]
    tbl = _tier_table(out_dir, tier)
    snap = tbl.snapshot(tbl.current_snapshot_id())
    parts = sorted({v for v in snap.partitions.values() if v})
    last = tbl.read(spark, partition_values={parts[-1]} if parts else None)
    anchor = last.agg(F.max(F.col("bucket_ts").cast("long"))).first()[0]
    if anchor is None:
        raise ValueError(
            f"read_forecast: {tbl.path} holds no rows (fully expired or "
            "empty publish) — nothing to anchor a forecast on"
        )
    df = _tier_scan(
        spark, out_dir, tier,
        t0=anchor - (season_n - 1) * step, t1=anchor + 1, hosts=hosts,
    )
    hs = _host_series_sec(df, metric)
    return forecast_seasonal_naive(
        hs, keys=("host",), ts_col="ts_sec", value_col="value",
        step_sec=step, season_n=season_n, horizon_n=horizon_n, anchor_ts=anchor,
    )


def read_corr(
    spark: SparkSession,
    out_dir: str,
    t0: int,
    t1: int,
    hosts: list[str] | None = None,
    x_metric: str = "doc_count",
    y_metric: str = "bytes_sum",
    tier: str | None = None,
    min_points: int = 2,
) -> DataFrame:
    """Two-metric correlation over the published tiers: pruned tier read
    (auto-routed unless given) → host series of the two integral metrics →
    ``operators/stats.series_corr`` per host. Output: (host, n, corr,
    slope, intercept).

    Scale shape: the only full-data pass is the pruned tier scan; the
    sufficient-stats groupBy map-side-combines down to one row per host
    before the Exchange."""
    from .operators.stats import series_corr

    tier = tier or pick_tier(t0, t1)
    df = _tier_scan(spark, out_dir, tier, t0=t0, t1=t1, hosts=hosts)
    hs = df.groupBy("host", "bucket_ts").agg(
        F.sum(x_metric).alias("_x"), F.sum(y_metric).alias("_y")
    )
    return series_corr(hs, ["host"], "_x", "_y", min_points=min_points)


def read_gapfill(
    spark: SparkSession,
    out_dir: str,
    tier: str,
    t0: int | None = None,
    t1: int | None = None,
    hosts: list[str] | None = None,
    metric: str | None = None,
    fill: str = "locf",
) -> DataFrame:
    """Read the PRE-COMPUTED gap-filled series published by rollup_job.
    t0/t1 prune at the manifest level via the tier's partition key, then
    re-apply as exact row predicates. Returns (host, bucket_ts, metric,
    value, is_filled).

    NOT interchangeable with ``read_rollup(fill=...)`` near range edges:
    the stored table was filled over the FULL history (a host observed
    before t0 keeps filling forward into [t0, t1)), while the on-demand
    fill anchors on observations WITHIN the requested range only — buckets
    between t0 and a host's first in-range observation exist here but not
    there, and linear edge anchors differ. Serve stored fills for
    dashboard reads; use the on-demand form for range-local analysis.

    Runs on the driver, like ``read_rollup``: the stored rows are the
    answer, so the pruned files are read with pyarrow and returned as a
    LocalRelation."""
    from .tables import local_frame

    if fill not in ("locf", "linear"):
        raise ValueError(f"unknown fill {fill!r} (expected 'locf' or 'linear')")
    value = "value_locf" if fill == "locf" else "value_linear"
    rows = _arrow_rows(
        SnapshotTable(f"{out_dir}/gapfill_{tier}"), tier, t0, t1, hosts,
        columns=["host", "bucket_ts", "metric", value, "is_filled"],
        metric=[metric] if metric else None,
    )
    return local_frame(
        spark, rows.rename_columns(["host", "bucket_ts", "metric", "value", "is_filled"])
    )


def read_range_total(
    spark: SparkSession,
    out_dir: str,
    t0: int,
    t1: int,
    hosts: list[str] | None = None,
) -> DataFrame:
    """Per-host (doc_count, bytes_sum) totals over [t0, t1), stitched from
    the COARSEST tier combination that covers the range (tiers.
    decompose_range): 30d buckets for the aligned interior, 1d/1h/1m only at
    the edges. Each sub-range reads its own tier table with manifest-level
    partition pruning, so a year-long query scans ~12 30d rows per key plus
    edge files — not 525k 1m rows. Exact by the cascade invariant (every
    tier is an exact aggregate of the finer one)."""
    from .tiers import decompose_range

    pieces = [
        _tier_scan(spark, out_dir, tier, a, b, hosts).select("host", "doc_count", "bytes_sum")
        for tier, a, b in decompose_range(t0, t1)
    ]
    if not pieces:
        raise ValueError("empty range")
    u = functools.reduce(lambda x, y: x.unionByName(y), pieces)
    return u.groupBy("host").agg(
        F.sum("doc_count").alias("doc_count"),
        F.sum("bytes_sum").alias("bytes_sum"),
    )


def read_realtime(
    spark: SparkSession,
    out_dir: str,
    tier: str,
    pages: DataFrame,
    hosts: list[str] | None = None,
) -> DataFrame:
    """REAL-TIME continuous aggregate: the materialized tier for everything
    the rollup job has published, plus the not-yet-rolled-up raw tail
    aggregated on the fly, with the straddling bucket recomputed correctly.

    The watermark is the end of the last published day (series_1m manifest
    — pure arithmetic, no scan). Tier buckets that end at/before the
    watermark-floored bucket are served from the materialized tier table;
    the bucket straddling the watermark is recomputed from materialized 1m
    rows (< watermark) plus fresh pages (>= watermark); buckets past the
    watermark come from fresh pages alone. Equals a full rebuild over
    published ∪ fresh (pinned by test), while scanning only the raw tail —
    the serving semantics of a continuously-refreshing rollup store."""
    import datetime as dt

    from . import series as series_mod
    from .series import TIER_SECONDS
    from .tiers import partition_bounds, time_window
    from .tiers import rollup as tier_rollup

    s_tbl = SnapshotTable(f"{out_dir}/series_1m")
    snap = s_tbl.snapshot(s_tbl.current_snapshot_id())
    days = sorted({v for v in snap.partitions.values() if v})
    if not days:
        raise ValueError("no published series_1m partitions")
    wm = int(
        dt.datetime.fromisoformat(days[-1]).replace(tzinfo=dt.timezone.utc).timestamp()
    ) + 86400
    step = TIER_SECONDS[tier]
    wm_floor = wm - (wm % step)

    fresh = time_window(pages, wm, None, col="warc_ts")
    tail_1m = series_mod.series_1m(fresh)

    host_sf = _serving_stats_filters(None, None, hosts)
    if tier == "1m":
        mat = s_tbl.read(spark, stats_filters=host_sf).drop("pkey", "day")
        out = mat.unionByName(tail_1m)
    else:
        t_tbl = SnapshotTable(f"{out_dir}/rollup_{tier}")
        p_lo, p_hi = partition_bounds(tier, None, wm_floor)
        mat = t_tbl.read(
            spark,
            partition_min=p_lo,
            partition_max=p_hi,
            stats_filters=_serving_stats_filters(None, wm_floor, hosts),
        ).drop("pkey")
        mat = time_window(mat, None, wm_floor)
        # straddling bucket: materialized 1m rows in [wm_floor, wm) + tail
        e_lo, e_hi = partition_bounds("1m", wm_floor, wm)
        edge_1m = s_tbl.read(
            spark, partition_min=e_lo, partition_max=e_hi, stats_filters=host_sf
        ).drop("pkey", "day")
        edge_1m = time_window(edge_1m, wm_floor, None)
        out = mat.unionByName(tier_rollup(edge_1m.unionByName(tail_1m), tier))
    if hosts:
        out = out.filter(F.col("host").isin(hosts))
    return out


def register_views(spark: SparkSession, out_dir: str, prefix: str = "") -> list[str]:
    """Register every published table under ``out_dir`` as a temp view so
    the whole read surface is plain ``spark.sql`` (the DataFrame API and
    SQL are the same Catalyst plans — views cost nothing). Returns the view
    names registered. Views read the CURRENT snapshot at registration time
    (re-register after a publish to advance, matching snapshot-isolation
    reader semantics)."""
    import os

    names = []
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        # probe BEFORE constructing: SnapshotTable.__init__ creates the
        # table skeleton, and an admin/read surface must not sprinkle
        # _snapshots/ dirs over plain files or foreign directories (which
        # would even make input autodetection misclassify a parquet dir)
        if not os.path.isdir(os.path.join(path, "_snapshots")):
            continue
        tbl = SnapshotTable(path)
        if not tbl.exists():
            continue
        view = f"{prefix}{name}"
        tbl.read(spark).createOrReplaceTempView(view)
        names.append(view)
    return names


def table_report(spark: SparkSession, out_dir: str) -> dict:
    """Operational snapshot of a published output dir: per table the current
    snapshot id, row count (manifest arithmetic — no scans), snapshot-chain
    length, partition count and bounds; plus lineage progress. The
    engine's answer to the reference's import-stats/admin surface
    (/root/reference/src/addr_reader.rs:33-65 per-country stats)."""
    import os

    report: dict = {"tables": {}, "lineage": None}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(os.path.join(path, "_snapshots")):
            continue  # plain file / foreign dir — and never mkdir into it
        tbl = SnapshotTable(path)
        if not tbl.exists():
            continue
        snap = tbl.snapshot(tbl.current_snapshot_id())
        parts = sorted({v for v in snap.partitions.values() if v})
        report["tables"][name] = {
            "snapshot_id": snap.snapshot_id,
            "rows": snap.row_count,
            "files": len(snap.files),
            "snapshots": len(tbl.snapshots()),
            "partitions": len(parts),
            "partition_min": parts[0] if parts else None,
            "partition_max": parts[-1] if parts else None,
            # serving-layout health: a serving table with layout {} or
            # files_with_stats < files prunes worse than intended
            "layout": snap.layout,
            "files_with_stats": sum(1 for f in snap.files if f in snap.file_stats),
        }
    lin_path = os.path.join(out_dir, "lineage")
    if not os.path.isdir(os.path.join(lin_path, "_snapshots")):
        return report
    lin = SnapshotTable(lin_path)
    if lin.exists():
        rows = lin.read(spark).select("partition_id").collect()
        report["lineage"] = {
            "partitions_done": len(rows),
            "latest": max((r.partition_id for r in rows), default=None),
        }
    return report


def read_chunks(
    spark: SparkSession,
    out_dir: str,
    tier: str,
    t0: int | None = None,
    t1: int | None = None,
    hosts: list[str] | None = None,
) -> DataFrame:
    """Serve the host-level series directly FROM COMPRESSED chunk storage.

    Pruning, outermost first:
    1. MANIFEST level — the published chunk table is partitioned by the
       composite '<host bucket>|<month>' key (rollup_job), so requested
       hosts map to crc32 buckets driver-side and t0/t1 to a month range;
       files outside either never reach the scan. Sound because rollup_job
       encodes with split_by_month=True (no chunk spans a month).
    2. chunk-row level — chunk_start < t1 and the chunk's RECORDED last
       point >= t0 (last_ts, written at encode time).
    3. exact row filters after the vectorized decode.
    The compressed read path a 100 TB serving tier uses instead of the
    uncompressed rollup tables.

    Runs on the DRIVER, with no Spark job: levels 1 and 2 prune inside
    ``SnapshotTable.read_arrow`` (the chunk-row predicates are pushed into
    the Arrow scan), the pruned compressed rows (about 9 B per point,
    against at least 30 B per decoded point that the caller collects
    anyway) are decoded in one vectorized pass (``codecs._decode_table``),
    and the answer is a LocalRelation. A Python task costs ~250 ms of
    worker CPU before any decode code runs, more than the whole decode of a
    pruned serving read. Whole-table decodes keep ``codecs.decode_chunks``,
    which runs the same kernel on the executors."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from . import codecs
    from .series import TIER_SECONDS
    from .tables import local_frame

    tbl = SnapshotTable(f"{out_dir}/chunks_{tier}")
    pred = None
    sid = tbl.current_snapshot_id()
    meta = tbl.snapshot(sid).meta if sid is not None else {}
    nb = meta.get("host_buckets")
    month_split = bool(meta.get("month_split"))
    if (hosts and nb) or (month_split and (t0 is not None or t1 is not None)):
        import datetime as dt

        hb_set = (
            {codecs.chunk_host_bucket(h, int(nb)) for h in hosts} if hosts and nb else None
        )
        m_lo = (
            dt.datetime.fromtimestamp(t0, dt.timezone.utc).strftime("%Y-%m")
            if month_split and t0 is not None
            else None
        )
        m_hi = (
            dt.datetime.fromtimestamp(t1 - 1, dt.timezone.utc).strftime("%Y-%m")
            if month_split and t1 is not None
            else None
        )

        def pred(v: str) -> bool:
            hb, sep, month = v.partition("|")
            if hb_set is not None and hb not in hb_set:
                return False
            if sep:  # composite key carries the month half
                if m_lo is not None and month < m_lo:
                    return False
                if m_hi is not None and month > m_hi:
                    return False
            return True

    # zone maps (per-file host / chunk_start / last_ts bounds recorded at
    # commit) refine the bucket-key pruning: a probed host bucket holds many
    # hosts, but a file whose host range misses every requested host — or
    # whose chunk extents miss [t0, t1) — never reaches the scan.
    # The same bounds, exact, are the chunk-row predicates of level 2.
    sf: dict = {}
    conds = []
    if hosts:
        sf["host"] = set(hosts)
        conds.append(ds.field("host").isin(hosts))
    if t1 is not None:
        sf["chunk_start"] = (None, t1 - 1)
        conds.append(ds.field("chunk_start") < _utc(t1))
    if t0 is not None:
        # Prune on the chunk's RECORDED last point (last_ts, written at encode
        # time). The host series is not gap-filled, so estimating the extent as
        # chunk_start + n_points*step under-counts any chunk with gaps and
        # would silently drop chunks that still hold points >= t0.
        sf["last_ts"] = (t0, None)
        conds.append(ds.field("last_ts") >= t0)
    _ = TIER_SECONDS[tier]  # validates the tier name
    chunks = tbl.read_arrow(
        columns=list(codecs.DECODE_INPUT_COLS),
        row_filter=_all_of(conds),
        partition_filter=pred,
        stats_filters=sf or None,
    )
    out = codecs._decode_table(chunks)
    sec = out["bucket_ts"].cast(pa.int64()).to_numpy() // 1_000_000
    keep = np.ones(len(sec), dtype=bool)
    if t0 is not None:
        keep &= sec >= t0
    if t1 is not None:
        keep &= sec < t1
    return local_frame(spark, out.filter(pa.array(keep)), codecs.DECODED_SCHEMA)
