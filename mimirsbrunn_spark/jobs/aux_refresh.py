"""Continuous aggregates: one spec, three operations.

A ``ContinuousAggregate`` is what the distinct/topn/histogram/stats/SLO
jobs publish (the TimescaleDB continuous-aggregate pattern, applied to
mergeable states): a list of tiers, a builder of the finest tier from
raw pages, and a merge of a finer tier's rows into a coarser tier.

The numeric rollup tiers are the same spec with the 1m series as input
(``rollup_job._rollup_spec``): ``finest = merge = tiers.rollup``, the
series snapshot recorded in ``meta``, the serving ``layout`` and a
``preserve`` hook. Both its full build (``publish``) and its daily refresh
(``refresh_aux_tiers``) go through this module.

History preservation. ``preserve(spark, tier)`` gives the epoch second
below which a tier keeps its committed rows, or None for a plain rebuild:
``publish`` then commits ``old(bucket_ts < floor) ∪ fresh(bucket_ts >=
floor)``. Once retention has truncated a tier's source, the rows it can no
longer rebuild stay materialized (the TimescaleDB continuous-aggregate
semantics). The aux families declare no hook: their tiers rebuild from
raw pages in full.

Layout. One table per tier, ``{name}_{tier}`` (``tables(name)`` when the
spec names a table backend), partitioned by the tier's coarse time key
(``pkey``: day for 1h, month for 1d, year for 30d, see
``tiers.TIER_PARTITION_FMT``), so reads prune at the manifest level
exactly like ``read_rollup``. Each full-build snapshot's meta records
``tier``, ``partition_fmt`` and the family's parameters (``lgk``, ``n``,
``slack``). ``layout`` (``stats_cols``, ``cluster_by``, ``cluster_files``)
is passed to every full-build commit; refreshes inherit it.

Single raw touch. The finest tier is the ONLY one built from raw pages;
every coarser tier merges the published child tier's rows (HLL unions,
top-n candidate lists, integer sums). After the finest build the raw data
is never read again, by a coarser tier or by a serving read. ``exact``
marks the families whose merge is an integer sum: a tier then equals the
merge of its child bit for bit, which ``verify_job`` checks.

Refresh rule. A daily run with ``days=[...]`` rebuilds only the dirty
partitions of each tier (``tiers.dirty_partition_keys``): the finest tier
from the input rows of those days, each coarser tier by merging the child rows
of exactly the span its dirty partitions cover (``tiers.source_span``; a
30d bucket that starts in December dirties the PRIOR year's partition when
a January day changes). Each tier swaps its dirty partitions in with one
``replace_partitions`` snapshot, so a reader never sees them empty. At
100 TB a daily refresh reads one day of raw pages plus a bounded slice of
the (already tiny) child tiers; the full build is the bootstrap path.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tiers
from ..tables import SnapshotTable

Builder = Callable[[DataFrame, str], DataFrame]
Preserve = Callable[[SparkSession, str], int | None]


@dataclass(frozen=True)
class ContinuousAggregate:
    """``finest(pages, tier)`` builds the finest tier from raw pages;
    ``merge(child, tier)`` builds ``tier`` from the next finer tier's rows.
    ``meta``: the family's parameters, recorded in every tier's meta.
    ``layout``: commit keywords of every full-build tier. ``preserve``: the
    history-preservation hook (module docstring). ``tables``: table name →
    table backend, default a ``SnapshotTable`` under ``out_dir``."""

    name: str
    tiers: tuple[str, ...]
    finest: Builder
    merge: Builder
    exact: bool = False
    meta: dict = field(default_factory=dict)
    layout: dict = field(default_factory=dict)
    preserve: Preserve | None = None
    tables: Callable[[str], Any] | None = None

    def table(self, out_dir: str, tier: str):
        name = f"{self.name}_{tier}"
        return self.tables(name) if self.tables else SnapshotTable(f"{out_dir}/{name}")

    def tier_meta(self, tier: str) -> dict:
        return {"tier": tier, **self.meta, "partition_fmt": tiers.TIER_PARTITION_FMT[tier][1]}

    def publish(self, spark: SparkSession, pages: DataFrame, out_dir: str) -> dict:
        """Full build of every tier from ``pages``, each coarser tier from
        the finer tier as committed; rows below a ``preserve`` floor are
        kept from the tier's current snapshot. Returns {tier: table}."""
        out: dict = {}
        child: DataFrame | None = None
        for tier in self.tiers:
            df = self.finest(pages, tier) if child is None else self.merge(child, tier)
            tbl = self.table(out_dir, tier)
            floor = self.preserve(spark, tier) if self.preserve else None
            if floor is not None:
                sec = F.col("bucket_ts").cast("long")
                old = tbl.read(spark).select(*df.columns).filter(sec < floor)
                df = old.unionByName(df.filter(sec >= floor))
            tbl.commit(
                df.withColumn("pkey", tiers.partition_key_col(tier)),
                mode="replace",
                meta=self.tier_meta(tier),
                partition_by="pkey",
                **self.layout,
            )
            child = tbl.read(spark).drop("pkey")
            out[tier] = tbl
        return out

    def refresh(
        self, spark: SparkSession, pages: DataFrame, out_dir: str, days: list[str]
    ) -> dict:
        """Rebuild the partitions dirtied by ``days`` (the module docstring's
        refresh rule); a layout never published is built in full. Returns
        {tier: table}."""
        if not self.table(out_dir, self.tiers[0]).exists():
            return self.publish(spark, pages, out_dir)
        day_pages = pages.filter(F.date_format("warc_ts", "yyyy-MM-dd").isin(days))
        refresh_aux_tiers(spark, self, out_dir, days, day_pages)
        return {t: self.table(out_dir, t) for t in self.tiers}

    def read(
        self,
        spark: SparkSession,
        out_dir: str,
        tier: str,
        t0: int | None = None,
        t1: int | None = None,
        hosts: list[str] | None = None,
    ) -> DataFrame:
        """Pruned read of one tier: [t0, t1) picks the partition-key range
        from the manifest, then both bounds and the hosts are applied as row
        predicates that parquet also receives."""
        p_lo, p_hi = tiers.partition_bounds(tier, t0, t1)
        df = (
            self.table(out_dir, tier)
            .read(spark, partition_min=p_lo, partition_max=p_hi)
            .drop("pkey")
        )
        df = tiers.time_window(df, t0, t1)
        if hosts:
            df = df.filter(F.col("host").isin(hosts))
        return df


def refresh_aux_tiers(
    spark: SparkSession,
    spec: ContinuousAggregate,
    out_dir: str,
    days: list[str],
    day_rows: DataFrame,
) -> None:
    """Swap in fresh rows for every partition of ``spec``'s tiers that
    ``days`` dirty. ``day_rows`` are the finest tier's input rows of
    exactly those days: callers read only them (a day filter, or a read
    pruned to the days' partitions), never the span between them. Each
    coarser tier merges the published child rows of its source span. Every
    swap keeps the table's declared layout."""
    child_tier = None
    for tier in spec.tiers:
        pkeys = sorted(tiers.dirty_partition_keys(days, tier))
        if child_tier is None:
            df = spec.finest(day_rows, tier)
        else:
            lo, hi = tiers.source_span(tier, set(pkeys))
            df = spec.merge(spec.read(spark, out_dir, child_tier, lo, hi), tier)
        spec.table(out_dir, tier).replace_partitions(
            df.withColumn("pkey", tiers.partition_key_col(tier)).filter(
                F.col("pkey").isin(pkeys)
            ),
            pkeys,
            meta={**spec.tier_meta(tier), "refresh_days": days},
            partition_by="pkey",
        )
        child_tier = tier
