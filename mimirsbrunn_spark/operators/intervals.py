"""Interval (time-range) join and gaps-and-islands interval extraction —
the range-predicate sibling of the as-of join (operators/asof.py) and
gap-based sessionization (operators/sessions.py).

- ``busy_islands``: merge consecutive qualifying buckets of a rolled-up
  series into half-open intervals ``[start_sec, end_sec)`` (classic
  gaps-and-islands: lag + running sum of breaks — one window pass, one
  groupBy, both riding the same key partitioning).
- ``interval_join``: ``left`` rows tagged with the interval that contains
  their timestamp (``start <= ts < end``). Spark has no native range join
  without a cross-product hazard, so the scale-safe shape is the standard
  bucket decomposition: each interval is exploded to the coarse buckets of
  width ``bucket_width_sec`` it overlaps, each left row maps to exactly ONE
  bucket, and the join becomes a plain equi-join on (keys..., bucket)
  followed by the exact containment filter. A left row can match at most
  once per containing interval (its single bucket), so no dedup pass is
  needed. Interval fan-out is bounded by ceil(len/W)+1 rows per interval —
  pick W near the median interval length so the join stays linear.

At 100 TB: one shuffle each side on (keys..., bucket); AQE handles bucket
skew like any equi-join. DuckDB twin: a native range join (IEJoin) — the
green gate hash proves the decomposition is exactly the range semantics.

Reference analog: the reference's admin point-in-polygon assignment tags
each record with the region whose (spatial) interval contains it
(/root/reference/libs/mimir/src/admin_geofinder.rs); here the containment
dimension is time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def busy_islands(
    series: DataFrame,
    predicate,
    keys: tuple[str, ...] = ("host",),
    ts_col: str = "bucket_sec",
    step_sec: int = 3600,
) -> DataFrame:
    """Merge consecutive buckets satisfying ``predicate`` (a Column) into
    half-open intervals. Output: (*keys, island_id (1-based per key, in
    time order), start_sec, end_sec, n_buckets)."""
    qual = series.filter(predicate)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    ts = F.col(ts_col).cast("long")
    brk = F.when(
        F.lag(ts).over(w).isNull() | (ts - F.lag(ts).over(w) > step_sec), 1
    ).otherwise(0)
    tagged = qual.select(
        *keys, ts.alias("_sec"), F.sum(brk).over(w).alias("island_id")
    )
    return tagged.groupBy(*keys, "island_id").agg(
        F.min("_sec").alias("start_sec"),
        (F.max("_sec") + F.lit(int(step_sec))).alias("end_sec"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


def _bucket_id(sec, w: int):
    """floor(sec / w) in exact long arithmetic: ``(sec - pmod(sec, w)) div
    w``. A long/long ``/`` is a DOUBLE division, which rounds past 2^53
    (nanosecond epochs)."""
    return F.call_function("div", sec - F.pmod(sec, F.lit(w)), F.lit(w))


def interval_join(
    left: DataFrame,
    intervals: DataFrame,
    keys: tuple[str, ...] = ("host",),
    ts_col: str = "warc_sec",
    start_col: str = "start_sec",
    end_col: str = "end_sec",
    bucket_width_sec: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Tag each ``left`` row with the interval containing its timestamp
    (half-open: start <= ts < end). ``how='inner'`` keeps matching rows;
    ``how='left'`` keeps all left rows with NULL interval columns when
    uncontained. Intervals of one key must not overlap if a unique match
    is expected (busy_islands output never overlaps)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how}")
    w = int(bucket_width_sec)
    st, en = F.col(start_col).cast("long"), F.col(end_col).cast("long")
    # empty intervals ([s, s)) match nothing and would make the bucket
    # sequence descend (an ANSI error) — drop them up front
    intervals = intervals.filter(st < en)
    # buckets overlapped by [start, end): floor(start/W) .. floor((end-1)/W)
    iv = intervals.withColumn(
        "_bucket", F.explode(F.sequence(_bucket_id(st, w), _bucket_id(en - F.lit(1), w)))
    )
    lt = left.withColumn("_bucket", _bucket_id(F.col(ts_col).cast("long"), w))
    cond = [lt[k] == iv[k] for k in keys] + [lt["_bucket"] == iv["_bucket"]]
    contained = (lt[ts_col].cast("long") >= iv[start_col].cast("long")) & (
        lt[ts_col].cast("long") < iv[end_col].cast("long")
    )
    iv_cols = [c for c in intervals.columns if c not in keys]
    if how == "inner":
        out = lt.join(iv, cond, "inner").filter(contained)
        return out.select(
            *[lt[c] for c in left.columns], *[iv[c] for c in iv_cols]
        )
    # left join: containment must live in the join condition (a post-filter
    # would drop unmatched left rows)
    out = lt.join(iv, cond + [contained], "left")
    return out.select(*[lt[c] for c in left.columns], *[iv[c] for c in iv_cols])
