"""Published top-N heavy-hitter tiers: the candidate-list cascade of
operators/topn.py materialized as serving tables (``topn_1h/1d/30d``, laid
out and refreshed as jobs/aux_refresh.py describes). Coarser tiers merge
the child tier's candidate LISTS (topn_cascade) and store the space-saving
``max_missed`` bound alongside, so a served top-n is provably exact
whenever the n-th count clears the bound.

At 100 TB: the 1h build shuffles (host?, bucket, item) once; after that
each tier shuffles ≤ n*slack rows per child bucket."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..ingest import read_pages, with_host
from ..operators.topn import topn_cascade, topn_rollup, topn_serve
from .aux_refresh import ContinuousAggregate


def spec(
    n: int = 10, slack: int = 4, by: tuple[str, ...] = (), item_col: str = "url"
) -> ContinuousAggregate:
    """Top-n candidate lists, n*slack kept per bucket."""
    return ContinuousAggregate(
        "topn",
        ("1h", "1d", "30d"),
        finest=lambda p, t: topn_rollup(p, t, n, by=by, item_col=item_col, slack=slack),
        merge=lambda c, t: topn_cascade(c, t, n, by=by, slack=slack),
        meta={"n": n, "slack": slack},
    )


def run_topn_job(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    n: int = 10,
    slack: int = 4,
    by: tuple[str, ...] = (),
    item_col: str = "url",
    days: list[str] | None = None,
) -> dict:
    """Build + publish the top-N url candidate tiers. Returns {tier: table}.

    ``days``: incremental mode — refresh only the partitions dirtied by
    those days instead of rebuilding every tier from the full raw table."""
    s, pages = spec(n, slack, by, item_col), with_host(read_pages(spark, pages_path))
    if days:
        return s.refresh(spark, pages, out_dir, days)
    return s.publish(spark, pages, out_dir)


def read_topn(
    spark: SparkSession,
    out_dir: str,
    tier: str,
    n: int | None = None,
    t0: int | None = None,
    t1: int | None = None,
) -> DataFrame:
    """Serve a published top-N tier through the pruned read. ``n`` cuts the
    stored candidate list down to the serve size (must be ≤ the published
    n*slack; default: the job's n from the snapshot meta). Output: (*,
    bucket_ts, item, cnt, rank, max_missed)."""
    s = spec()
    df = s.read(spark, out_dir, tier, t0, t1)
    if n is None:
        tbl = s.table(out_dir, tier)
        n = int(tbl.snapshot(tbl.current_snapshot_id()).meta["n"])
    return topn_serve(df, n)
