"""Published distinct-count continuous aggregates: the HLL sketch cascade of
operators/distinct.py materialized as serving tables (``distinct_1h/1d/30d``,
laid out and refreshed as jobs/aux_refresh.py describes). Coarser tiers
merge the child tier's sketch bytes (``hll_union_agg``); sketches are
stored alongside their estimates, so an ad-hoc "distinct over [t0, t1)"
union of a pruned read never needs the raw data either.

At 100 TB: the 1h build shuffles (host, bucket, url) once; after that each
tier is ≤ 2^lgk bytes per (host, bucket) regardless of cardinality.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..ingest import read_pages, with_host
from ..operators.distinct import sketch_cascade, sketch_rollup
from .aux_refresh import ContinuousAggregate


def spec(lgk: int = 12) -> ContinuousAggregate:
    """Distinct-url sketches; a read yields (host, bucket_ts, distinct_est,
    url_sketch), merge further with ``agg(hll_union_agg('url_sketch'))``."""
    return ContinuousAggregate(
        "distinct",
        ("1h", "1d", "30d"),
        finest=lambda p, t: sketch_rollup(p, t, lgk=lgk),
        merge=sketch_cascade,
        meta={"lgk": lgk},
    )


def run_distinct_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    lgk: int = 12,
    days: list[str] | None = None,
) -> dict:
    """Build + publish the distinct-url sketch tiers. Returns {tier: table}.

    ``days``: incremental mode — refresh only the partitions dirtied by
    those days instead of rebuilding every tier from the full raw table."""
    s, pages = spec(lgk), with_host(read_pages(spark, pages_path))
    if days:
        return s.refresh(spark, pages, out_dir, days)
    return s.publish(spark, pages, out_dir)
