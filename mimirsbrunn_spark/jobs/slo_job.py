"""Published error-budget stats tiers + burn-rate serving: the SLO read
path materialized (``slo_1h/1d``, laid out and refreshed as
jobs/aux_refresh.py describes, exact integer-sum cascade).

The finest tier counts (tot, err) per (host, 1h bucket) from raw pages
with a caller-supplied boolean predicate; the 1d tier SUMs the 1h rows.
``read_burn`` serves multiwindow burn rates over any [t0, t1) range by
pruning the published 1h stats — it reads ``long_buckets - 1`` extra
buckets BEFORE t0 so every bucket inside the range sees its full long
window (the window is only legitimately partial at true series start,
matching Prometheus), derives the burns, then clips to the range.

At 100 TB: stats rows are bounded by bucket grid × hosts; the serving
read never touches raw pages — the same contract as every other tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest import read_pages, with_host
from ..operators.slo import multiwindow_burn
from ..series import bucket_col
from .aux_refresh import ContinuousAggregate


def _finest_stats(pages: DataFrame, tier: str, err_predicate_sql: str = "is_err") -> DataFrame:
    """(host, bucket_ts, tot, err) counts. The default predicate is the
    ``is_err`` column into which ``run_slo_job`` evaluates its own."""
    return (
        pages.select(
            "host",
            bucket_col("warc_ts", tier).alias("bucket_ts"),
            F.expr(err_predicate_sql).cast("long").alias("_e"),
        )
        .groupBy("host", "bucket_ts")
        .agg(
            F.count(F.lit(1)).alias("tot"),
            # all-NULL-predicate group publishes err=0, not NULL (ADVICE r4 #1)
            F.coalesce(F.sum("_e"), F.lit(0)).alias("err"),
        )
    )


def _rollup_stats(stats: DataFrame, tier: str) -> DataFrame:
    return (
        stats.select(
            "host", bucket_col("bucket_ts", tier).alias("bucket_ts"), "tot", "err"
        )
        .groupBy("host", "bucket_ts")
        .agg(F.sum("tot").alias("tot"), F.sum("err").alias("err"))
    )


# a read yields (host, bucket_ts, tot, err)
SLO = ContinuousAggregate("slo", ("1h", "1d"), _finest_stats, _rollup_stats, exact=True)


def run_slo_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    err_predicate_sql: str,
    days: list[str] | None = None,
) -> dict:
    """Build + publish slo_1h/slo_1d error-stat tiers. ``days`` = the
    incremental mode (bit-identical to full rebuild: integer sums)."""
    pages = with_host(read_pages(spark, pages_path)).withColumn(
        "is_err", F.expr(err_predicate_sql)
    )
    if days:
        return SLO.refresh(spark, pages, out_dir, days)
    return SLO.publish(spark, pages, out_dir)


def read_burn(
    spark: SparkSession,
    out_dir: str,
    t0: int | None = None,
    t1: int | None = None,
    hosts: list[str] | None = None,
    error_budget: float = 0.01,
    long_buckets: int = 6,
) -> DataFrame:
    """Multiwindow burn rates over [t0, t1) from the published 1h stats.
    Reads ``long_buckets - 1`` buckets before t0 (pruned, never raw pages)
    so in-range buckets see their full long window, then clips."""
    pre_t0 = None if t0 is None else t0 - (long_buckets - 1) * 3600
    stats = SLO.read(spark, out_dir, "1h", t0=pre_t0, t1=t1, hosts=hosts)
    hourly = stats.select(
        "host", F.col("bucket_ts").cast("long").alias("bucket_sec"), "tot", "err"
    )
    burn = multiwindow_burn(
        hourly, error_budget=error_budget, long_buckets=long_buckets, step=3600
    )
    if t0 is not None:
        burn = burn.filter(F.col("bucket_sec") >= t0)
    return burn
