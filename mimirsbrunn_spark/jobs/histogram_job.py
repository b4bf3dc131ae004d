"""Published size-distribution histogram tiers + quantile serving: the
mergeable log-histogram sketches of operators/histograms.py materialized
as serving tables (TimescaleDB ``percentile_agg`` continuous aggregates;
``hist_1h/1d/30d``, laid out and refreshed as jobs/aux_refresh.py
describes). Coarser tiers SUM the child tier's integer bucket counts — an
exact merge (reduction-order-free), so unlike the HLL/topn cascades there
is no approximation gap between a cascaded and a direct build.
``read_quantile`` serves percentiles from the pruned tier read; a quantile
over any [t0, t1) range is derived by summing the pruned counts first —
the raw data is never touched after the 1h build.

At 100 TB: ≤ max_bin+1 rows per (host, bucket) regardless of volume."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest import read_pages, with_host
from ..operators.histograms import (
    hdr_histogram,
    hdr_quantile,
    histogram_quantile,
    rollup_histogram,
    size_histogram,
)
from ..series import bucket_col
from .aux_refresh import ContinuousAggregate

# sketch families sharing the (keys..., bin, n) LONG layout and the exact
# integer-sum tier merge; "hdr" trades ~32x more bins for rel. error
# <= 2^-5 instead of the log-2 sketch's factor-2 buckets.
_SKETCHES = {
    "log2": ("hist", size_histogram, histogram_quantile),
    "hdr": ("hdr", hdr_histogram, hdr_quantile),
}


def spec(sketch: str = "log2", value_col: str = "page_size") -> ContinuousAggregate:
    """Histogram tiers of ``value_col``; a read yields (host, bucket_ts,
    bin, n). 'log2' and 'hdr' publish under distinct table prefixes, so
    both can coexist."""
    prefix, finest_fn, _ = _SKETCHES[sketch]

    def finest(p: DataFrame, tier: str) -> DataFrame:
        return finest_fn(
            p.select("host", bucket_col("warc_ts", tier).alias("bucket_ts"), value_col),
            value_col=value_col,
        )

    return ContinuousAggregate(prefix, ("1h", "1d", "30d"), finest, rollup_histogram, exact=True)


def run_histogram_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    value_col: str = "page_size",
    days: list[str] | None = None,
    sketch: str = "log2",
) -> dict:
    """Build + publish the page-size histogram tiers. Returns {tier: table}.

    ``days``: incremental mode — refresh only the partitions dirtied by
    those days. Histogram merges are exact integer sums, so the incremental
    result is bit-identical to a full rebuild. ``sketch``: 'log2' (coarse,
    tiny) or 'hdr' (rel. error <= 2^-5)."""
    s, pages = spec(sketch, value_col), with_host(read_pages(spark, pages_path))
    if days:
        return s.refresh(spark, pages, out_dir, days)
    return s.publish(spark, pages, out_dir)


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
    hist = spec(sketch).read(spark, out_dir, tier, t0=t0, t1=t1, hosts=hosts)
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
