"""Continuous-aggregate tier cascade: 1m → 1h → 1d → 30d.

Each tier aggregates the PREVIOUS tier's output (sums of sums, counts of
counts) — never the raw pages, and never averages of averages: avg page size
is derived at read time as bytes_sum / doc_count (SURVEY.md §2.4 note).

Scale: the 1m tier is already ≤ |hosts| × |minutes| × |langs| rows — orders of
magnitude smaller than the pages table — so cascade shuffles are cheap. Salting
is unnecessary here (the heavy skew was absorbed by series.salted_agg); the
groupBy still gets Spark's map-side partial aggregation for free.

Reference analog: the max-normalization + weight-blend pipeline computed once
at import, not per query (/root/reference/src/utils.rs:58-72,
src/stops.rs:72-88 — the "materialize early" principle, SURVEY.md §4 P14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .series import TIER_ORDER, bucket_col


# ---------------------------------------------------------------------------
# serving-table partition keys
# ---------------------------------------------------------------------------
# Published tier/gapfill tables are partitioned by a coarse ISO time prefix of
# bucket_ts, granularity matched to the tier's bucket density (a day of the 1h
# tier is 24 buckets/host; a month of the 1d tier is ~30): fine enough that a
# narrow t0/t1 read touches few files, coarse enough that a year of data stays
# at O(100) partitions. ISO prefixes sort lexicographically = chronologically,
# so the read path translates t0/t1 into a partition_min/max string range —
# manifest pruning, no file listing, no footer reads for pruned files
# (the Iceberg partition-pruning shape; reference analog: index-set selection,
# /root/reference/libs/mimir/src/rubber.rs:254-300).

TIER_PARTITION_FMT = {
    "1m": ("yyyy-MM-dd", "%Y-%m-%d"),
    "1h": ("yyyy-MM-dd", "%Y-%m-%d"),
    "1d": ("yyyy-MM", "%Y-%m"),
    "30d": ("yyyy", "%Y"),
}


def partition_key_col(tier: str):
    """Spark column: the serving-table partition key of ``bucket_ts``
    (session timezone is pinned UTC, so this matches partition_bounds)."""
    return F.date_format("bucket_ts", TIER_PARTITION_FMT[tier][0])


def partition_bounds(tier: str, t0: int | None, t1: int | None) -> tuple[str | None, str | None]:
    """Translate an epoch-second [t0, t1) read range into the partition-key
    string range [min, max] that can contain matching buckets. Truncation is
    monotone, so bucket_ts >= t0 ⇒ key >= key(t0) and bucket_ts < t1 ⇒
    key <= key(t1-1)."""
    import datetime as dt

    fmt = TIER_PARTITION_FMT[tier][1]
    lo = (
        dt.datetime.fromtimestamp(t0, dt.timezone.utc).strftime(fmt)
        if t0 is not None
        else None
    )
    hi = (
        dt.datetime.fromtimestamp(t1 - 1, dt.timezone.utc).strftime(fmt)
        if t1 is not None
        else None
    )
    return lo, hi


def time_window(df: DataFrame, t0: int | None, t1: int | None, col: str = "bucket_ts") -> DataFrame:
    """Rows of ``df`` with t0 <= ``col`` < t1 in epoch seconds (either end
    None = open). Compared as timestamps, so the scan pushes both bounds to
    parquet; for integer bounds this equals comparing the floored
    ``cast("long")``, which parquet cannot take."""
    if t0 is not None:
        df = df.filter(F.col(col) >= F.timestamp_seconds(F.lit(t0)))
    if t1 is not None:
        df = df.filter(F.col(col) < F.timestamp_seconds(F.lit(t1)))
    return df


def dirty_partition_keys(days: list[str], tier: str) -> set[str]:
    """Partition keys (TIER_PARTITION_FMT strings) of the tier's serving
    table dirtied by new 1m data for the given ISO days — the invalidation
    set at PARTITION granularity (the unit the job refreshes)."""
    import datetime as dt

    fmt = TIER_PARTITION_FMT[tier][1]
    return {
        dt.datetime.fromtimestamp(b, dt.timezone.utc).strftime(fmt)
        for b in affected_buckets(days, tier)
    }


def _period_bounds(tier: str, pkey: str) -> tuple[int, int]:
    """Epoch-second [lo, hi) range covered by one partition-key period."""
    import datetime as dt

    if tier in ("1m", "1h"):  # day key
        lo = dt.datetime.fromisoformat(pkey).replace(tzinfo=dt.timezone.utc)
        hi = lo + dt.timedelta(days=1)
    elif tier == "1d":  # month key
        y, m = int(pkey[:4]), int(pkey[5:7])
        lo = dt.datetime(y, m, 1, tzinfo=dt.timezone.utc)
        hi = dt.datetime(y + (m == 12), m % 12 + 1, 1, tzinfo=dt.timezone.utc)
    else:  # year key
        y = int(pkey)
        lo = dt.datetime(y, 1, 1, tzinfo=dt.timezone.utc)
        hi = dt.datetime(y + 1, 1, 1, tzinfo=dt.timezone.utc)
    return int(lo.timestamp()), int(hi.timestamp())


def source_span(tier: str, pkeys: set[str]) -> tuple[int, int] | None:
    """Epoch-second [lo, hi) range of SOURCE rows needed to recompute the
    given tier partitions IN FULL: tier buckets are epoch-anchored
    multiples of the tier step, so a partition period [p0, p1) owns bucket
    starts ceil(p0) .. floor(p1-1) on that grid, and each bucket aggregates
    source rows in [b, b+step). (A 30d bucket starting in late December
    reaches into January — the span accounts for it; the January-start
    partition of the NEXT year never claims it.) None when no bucket start
    falls inside any requested period."""
    from .series import TIER_SECONDS

    step = TIER_SECONDS[tier]
    lo, hi = None, None
    for k in pkeys:
        p0, p1 = _period_bounds(tier, k)
        b0 = -(-p0 // step) * step  # first bucket start >= p0
        b1 = ((p1 - 1) // step) * step  # last bucket start < p1
        if b1 < b0:
            continue
        lo = b0 if lo is None else min(lo, b0)
        hi = b1 + step if hi is None else max(hi, b1 + step)
    return None if lo is None else (lo, hi)


def rollup(prev_tier: DataFrame, tier: str) -> DataFrame:
    """One cascade step: re-bucket the previous tier and re-aggregate."""
    return (
        prev_tier.select(
            "host",
            bucket_col("bucket_ts", tier).alias("bucket_ts"),
            "lang",
            "doc_count",
            "bytes_sum",
        )
        .groupBy("host", "bucket_ts", "lang")
        .agg(
            F.sum("doc_count").alias("doc_count"),
            F.sum("bytes_sum").alias("bytes_sum"),
        )
    )


def cascade(base_1m: DataFrame) -> dict[str, DataFrame]:
    """All tiers from the base series: {'1m': df, '1h': df, '1d': df, '30d': df}."""
    tiers = {"1m": base_1m}
    for prev, cur in zip(TIER_ORDER, TIER_ORDER[1:]):
        tiers[cur] = rollup(tiers[prev], cur)
    return tiers


# ---------------------------------------------------------------------------
# incremental refresh (continuous-aggregate invalidation)
# ---------------------------------------------------------------------------


def affected_buckets(days: list[str], tier: str) -> list[int]:
    """Tier bucket starts (epoch seconds) touched by the given ISO days —
    the invalidation set: new 1m data for a day dirties exactly the tier
    buckets its minutes fall into (a 30d bucket spans many days; any one of
    them dirties the whole bucket)."""
    import datetime as dt

    from .series import TIER_SECONDS

    step = TIER_SECONDS[tier]
    out = set()
    for d in days:
        day_start = int(
            dt.datetime.fromisoformat(d).replace(tzinfo=dt.timezone.utc).timestamp()
        )
        for sec in range(day_start, day_start + 86400, min(step, 86400)):
            out.add(sec - sec % step)
    return sorted(out)


def host_series(tier_df: DataFrame) -> DataFrame:
    """Host-level series (summed across langs) — gap-fill input."""
    return tier_df.groupBy("host", "bucket_ts").agg(
        F.sum("doc_count").alias("doc_count"),
        F.sum("bytes_sum").alias("bytes_sum"),
    )


# ---------------------------------------------------------------------------
# stitched multi-tier range reads (continuous-aggregate smart routing)
# ---------------------------------------------------------------------------


def decompose_range(
    t0: int, t1: int, tiers: list[str] | None = None
) -> list[tuple[str, int, int]]:
    """Greedy calendar decomposition of [t0, t1) into non-overlapping,
    tier-aligned sub-ranges, coarsest tier in the interior, finer tiers at
    the edges — e.g. a 95-day range becomes 1m head + 1h + 1d + three 30d
    buckets + 1d + 1h + 1m tail. t0/t1 must be aligned to the finest tier's
    step (the base series grid; nothing finer is materialized).

    This is the read-routing arithmetic of every rollup store (answer a
    range from the cheapest tier combination): a year-long query touches
    ~12 30d rows + edge rows per key instead of ~525k 1m rows. Pure driver
    arithmetic — no Spark job."""
    from .series import TIER_SECONDS

    tiers = tiers or TIER_ORDER
    step0 = TIER_SECONDS[tiers[0]]
    if t0 % step0 or t1 % step0:
        raise ValueError(f"range must align to the finest tier grid ({step0}s)")
    parts: list[tuple[str, int, int]] = []

    def rec(a: int, b: int, i: int) -> None:
        if a >= b:
            return
        step = TIER_SECONDS[tiers[i]]
        lo = -(-a // step) * step
        hi = (b // step) * step
        if lo < hi:
            rec(a, lo, i - 1)
            parts.append((tiers[i], lo, hi))
            rec(hi, b, i - 1)
        else:
            rec(a, b, i - 1)

    rec(t0, t1, len(tiers) - 1)
    return sorted(parts, key=lambda p: p[1])


def stitched_totals(
    tier_dfs: dict[str, DataFrame],
    t0: int,
    t1: int,
    key_cols: tuple[str, ...] = ("host",),
    bucket: str = "bucket_ts",
) -> DataFrame:
    """Per-key (doc_count, bytes_sum) totals over [t0, t1), summing each
    decomposed sub-range from its own tier. Exact because every tier is an
    exact aggregate of the finer one (cascade invariant, pinned by
    test_all_tiers_exact_match). ``tier_dfs`` maps tier name → that tier's
    DataFrame; only tiers present participate. One shuffle (the final
    groupBy) over rows already reduced by the coarse tiers."""
    from functools import reduce

    avail = [t for t in TIER_ORDER if t in tier_dfs]
    pieces = []
    for tier, a, b in decompose_range(t0, t1, avail):
        df = tier_dfs[tier]
        sec = F.col(bucket).cast("long")
        pieces.append(
            df.filter((sec >= a) & (sec < b)).select(
                *key_cols, "doc_count", "bytes_sum"
            )
        )
    if not pieces:
        raise ValueError("empty range")  # same contract as read_range_total
    u = reduce(lambda x, y: x.unionByName(y), pieces)
    return u.groupBy(*key_cols).agg(
        F.sum("doc_count").alias("doc_count"),
        F.sum("bytes_sum").alias("bytes_sum"),
    )
