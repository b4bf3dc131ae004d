"""Published two-series sufficient-stat continuous aggregates: the six-sum
corr state of operators/stats.py materialized as serving tables
(``stats_1h/1d/30d``, laid out and refreshed as jobs/aux_refresh.py
describes). Coarser tiers ADD the child tier's six BIGINT sums — unlike
the HLL cascade this merge is EXACT, so a stats row served from any tier
is bit-identical state to a fresh raw-data build.

What this buys at 100 TB: "corr(doc_count, bytes_sum) per host over
[t0, t1)" becomes a pruned read of ≤ span/tier_step rows per host plus one
tiny groupBy — never a raw re-scan — and the answer equals
``series_corr`` over the raw minute series exactly (pinned in
tests/test_stats_analytics.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..ingest import read_pages, with_host
from ..operators.stats import corr_from_stats, stats_cascade, stats_rollup
from .aux_refresh import ContinuousAggregate

# a read yields (host, bucket_ts, n, sx, sy, sxx, syy, sxy), mergeable downstream
STATS = ContinuousAggregate("stats", ("1h", "1d", "30d"), stats_rollup, stats_cascade, exact=True)


def run_stats_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    days: list[str] | None = None,
) -> dict:
    """Build + publish the sufficient-stat tiers. Returns {tier: table}.

    ``days``: incremental mode — refresh only the partitions dirtied by
    those days instead of rebuilding every tier from the full raw table."""
    pages = with_host(read_pages(spark, pages_path))
    if days:
        return STATS.refresh(spark, pages, out_dir, days)
    return STATS.publish(spark, pages, out_dir)


def read_corr_range(
    spark: SparkSession,
    out_dir: str,
    t0: int,
    t1: int,
    hosts: list[str] | None = None,
    tier: str | None = None,
    min_points: int = 2,
) -> DataFrame:
    """corr/slope/intercept per host over [t0, t1) from the published stat
    tiers: pick the coarsest tier whose buckets align with t0/t1 (exactness
    requires bucket-aligned bounds — a partial bucket's stats can't be
    split), read it pruned, merge the sums. Falls back to finer tiers for
    finer-aligned bounds; raises if not even the finest tier aligns."""
    from ..series import TIER_SECONDS

    tier_list = [tier] if tier else list(reversed(STATS.tiers))  # coarsest first
    for t in tier_list:
        step = TIER_SECONDS[t]
        if t0 % step == 0 and t1 % step == 0:
            return corr_from_stats(
                STATS.read(spark, out_dir, t, t0=t0, t1=t1, hosts=hosts),
                min_points=min_points,
            )
    raise ValueError(
        f"[t0, t1) = [{t0}, {t1}) does not align with any stats tier "
        f"({tier_list}); align the bounds to a tier step"
    )
