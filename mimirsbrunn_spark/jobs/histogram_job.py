"""Published size-distribution histogram tiers + quantile serving: the
mergeable log-histogram sketches of operators/histograms.py materialized
as serving tables (TimescaleDB ``percentile_agg`` continuous aggregates).

Layout mirrors distinct_job/topn_job: one table per tier
(``hist_1h/1d/30d``), partitioned by the tier's coarse time key. The
finest tier bins raw page sizes once; every coarser tier SUMS the child
tier's integer bucket counts — an exact merge (reduction-order-free), so
unlike the HLL/topn cascades there is no approximation gap between a
cascaded and a direct build. ``read_quantile`` serves percentiles from the
pruned tier read; a quantile over any [t0, t1) range is derived by summing
the pruned counts first — the raw data is never touched after the 1h
build.

At 100 TB: ≤ max_bin+1 rows per (host, bucket) regardless of volume."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tiers
from ..ingest import read_pages, with_host
from ..operators.histograms import (
    hdr_histogram,
    hdr_quantile,
    histogram_quantile,
    rollup_histogram,
    size_histogram,
)
from ..series import bucket_col
from ..tables import SnapshotTable

HIST_TIERS = ["1h", "1d", "30d"]

# sketch families sharing the (keys..., bin, n) LONG layout and the exact
# integer-sum tier merge; "hdr" trades ~32x more bins for rel. error
# <= 2^-5 instead of the log-2 sketch's factor-2 buckets.
_SKETCHES = {
    "log2": ("hist", size_histogram, histogram_quantile),
    "hdr": ("hdr", hdr_histogram, hdr_quantile),
}


def run_histogram_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    value_col: str = "page_size",
    table_factory=None,
    days: list[str] | None = None,
    sketch: str = "log2",
) -> dict:
    """Build + publish the page-size histogram tiers. Returns {tier: table}.

    ``days``: incremental mode — refresh only the partitions dirtied by
    those days (jobs/aux_refresh.py); requires an existing publish.
    Histogram merges are exact integer sums, so the incremental result is
    bit-identical to a full rebuild. ``sketch``: 'log2' (coarse, tiny) or
    'hdr' (rel. error <= 2^-5) — published under distinct table prefixes so
    both can coexist."""
    prefix, finest_fn, _ = _SKETCHES[sketch]
    pages = with_host(read_pages(spark, pages_path))

    def _finest(p, tier):
        return finest_fn(
            p.select("host", bucket_col("warc_ts", tier).alias("bucket_ts"), value_col),
            value_col=value_col,
        )

    if days and SnapshotTable(f"{out_dir}/{prefix}_{HIST_TIERS[0]}").exists():
        from .aux_refresh import refresh_aux_tiers

        dp = pages.filter(F.date_format("warc_ts", "yyyy-MM-dd").isin(days))
        refresh_aux_tiers(
            spark, out_dir, prefix, days, dp, _finest,
            lambda c, t: rollup_histogram(c, t),
            tier_list=tuple(HIST_TIERS),
        )
        return {t: SnapshotTable(f"{out_dir}/{prefix}_{t}") for t in HIST_TIERS}
    tf = table_factory or (lambda name: SnapshotTable(f"{out_dir}/{name}"))
    out: dict[str, object] = {}
    prev_read: DataFrame | None = None
    for tier in HIST_TIERS:
        df = _finest(pages, tier) if prev_read is None else rollup_histogram(prev_read, tier)
        tbl = tf(f"{prefix}_{tier}")
        tbl.commit(
            df.withColumn("pkey", tiers.partition_key_col(tier)),
            mode="replace",
            meta={"tier": tier, "partition_fmt": tiers.TIER_PARTITION_FMT[tier][1]},
            partition_by="pkey",
        )
        prev_read = tbl.read(spark).drop("pkey")
        out[tier] = tbl
    return out


def read_histogram(
    spark: SparkSession,
    out_dir: str,
    tier: str,
    t0: int | None = None,
    t1: int | None = None,
    hosts: list[str] | None = None,
    sketch: str = "log2",
) -> DataFrame:
    """Serve a published histogram tier with manifest pruning. Output:
    (host, bucket_ts, bin, n)."""
    prefix = _SKETCHES[sketch][0]
    p_lo, p_hi = tiers.partition_bounds(tier, t0, t1)
    df = (
        SnapshotTable(f"{out_dir}/{prefix}_{tier}")
        .read(spark, partition_min=p_lo, partition_max=p_hi)
        .drop("pkey")
    )
    df = tiers.time_window(df, t0, t1)
    if hosts:
        df = df.filter(F.col("host").isin(hosts))
    return df


def read_quantile(
    spark: SparkSession,
    out_dir: str,
    q: float,
    tier: str = "1h",
    t0: int | None = None,
    t1: int | None = None,
    hosts: list[str] | None = None,
    per_bucket: bool = False,
    sketch: str = "log2",
) -> DataFrame:
    """Quantile-over-range from the stored counts: prune, (optionally) sum
    the range's counts per host, then derive the quantile — pure count
    arithmetic, no raw data. ``per_bucket=True`` keeps one quantile row per
    (host, bucket) instead of one per host over the whole range."""
    quantile_fn = _SKETCHES[sketch][2]
    hist = read_histogram(spark, out_dir, tier, t0=t0, t1=t1, hosts=hosts, sketch=sketch)
    if sketch == "hdr":
        # single-pass pick (cumsum window + co-partitioned groupBy) — one
        # less pass than the window+row_number filter, same pick rule
        from ..operators.histograms import hdr_quantiles_multi

        if per_bucket:
            return hdr_quantiles_multi(hist, {"quantile_ub": q})
        merged = hist.groupBy("host", "bin").agg(F.sum("n").alias("n"))
        return hdr_quantiles_multi(merged, {"quantile_ub": q}, keys=("host",))
    if per_bucket:
        return quantile_fn(hist, q, keys=("host", "bucket_ts"))
    merged = hist.groupBy("host", "bin").agg(F.sum("n").alias("n"))
    return quantile_fn(merged, q, keys=("host",))
