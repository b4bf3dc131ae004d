"""Two-series statistical aggregates (correlation / linear regression) —
TimescaleDB ``stats_agg`` 2D: ``corr``, ``slope``, ``intercept`` over paired
observations per series key.

Why not ``F.corr``/``F.covar_samp``: those accumulate FLOAT sums whose value
depends on reduction order — fine for analytics, not value-hashable against
a single-threaded oracle. This engine's cross-engine float rule (gate.py
docstring) is "integer sufficient statistics, one float formula per output
row": we aggregate the six exact BIGINT sufficient statistics
(n, Σx, Σy, Σx², Σy², Σxy) in ONE map-side-combinable groupBy, cast each to
DOUBLE, and evaluate the textbook formulas with IEEE ops (×, −, /, √ are
all correctly rounded) — bit-identical on any partitioning, any engine.

Partial-aggregatable by construction: the six sums merge associatively, so
Spark's HashAggregate does map-side combine and the shuffle carries one row
per (key, partial) — at 100 TB the exchange is O(keys), not O(rows). The
same six-sum representation is what a rollup tier would STORE to make corr
a continuous aggregate (merge = add the sums), mirroring how tiers.py
cascades count/sum.

Reference analog: the reference blends two per-document signals into one
score at read time (libs/mimir/src/objects.rs weight + query.rs
field_value_factor); corr/slope is the timeseries-tier analog relating two
per-key series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def series_stats2d(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact integer sufficient statistics per key:
    (keys, n, sx, sy, sxx, syy, sxy) — all BIGINT. ``x_col``/``y_col`` must
    be integral (cast upstream) and NON-NULL: ``n`` counts rows while the
    sums skip NULLs, so a NULL observation would silently skew every
    moment — drop or fill incomplete pairs upstream (the engine's series
    metrics are never NULL). Overflow guard is the caller's contract
    (Σx² of 64-bit inputs — the engine's series values are counts/byte
    sums, ≪ 2³¹ per bucket, so Σx² stays ≪ 2⁶³).
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )


def _corr_cols(stats: DataFrame) -> tuple[Column, Column, Column]:
    """corr / slope / intercept from the six exact stats, evaluated in
    DOUBLE with a fixed operation order (mirrored verbatim in the SQL
    oracle). Degenerate series (zero variance in x or y) yield NULL corr;
    zero x-variance yields NULL slope/intercept."""
    dn = F.col("n").cast("double")
    dsx = F.col("sx").cast("double")
    dsy = F.col("sy").cast("double")
    dsxx = F.col("sxx").cast("double")
    dsyy = F.col("syy").cast("double")
    dsxy = F.col("sxy").cast("double")
    cov_n = dn * dsxy - dsx * dsy  # n² · covariance
    var_x = dn * dsxx - dsx * dsx  # n² · variance(x)
    var_y = dn * dsyy - dsy * dsy
    corr = cov_n / F.nullif(F.sqrt(var_x) * F.sqrt(var_y), F.lit(0.0))
    slope = cov_n / F.nullif(var_x, F.lit(0.0))
    intercept = (dsy - slope * dsx) / dn
    return corr, slope, intercept


def series_corr(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
    min_points: int = 2,
) -> DataFrame:
    """(keys, n, corr, slope, intercept) per key — Pearson correlation and
    OLS y-on-x regression of two integral series columns. Keys with fewer
    than ``min_points`` paired observations are dropped (corr undefined).

    One shuffle (the stats groupBy, map-side combined); the formulas are
    per-row projections on the aggregated row.
    """
    stats = series_stats2d(df, key_cols, x_col, y_col)
    corr, slope, intercept = _corr_cols(stats)
    return (
        stats.where(F.col("n") >= min_points)
        .select(
            *key_cols,
            "n",
            corr.alias("corr"),
            slope.alias("slope"),
            intercept.alias("intercept"),
        )
    )


# ---------------------------------------------------------------------------
# continuous-aggregate form: per-bucket sufficient-stat tiers
# ---------------------------------------------------------------------------
# The six sums are associative, so a (host, bucket) stats row IS the
# mergeable partial state of corr over any bucket-aligned range: parent
# tiers add the child's sums (exact BIGINT — zero approximation gap, unlike
# the HLL cascade), and corr over [t0, t1) is one groupBy over the pruned
# tier read. Observations are the per-minute (doc_count, bytes_sum) points,
# which nest exactly in every coarser tier (all steps are multiples of 60).

STAT_COLS = ("n", "sx", "sy", "sxx", "syy", "sxy")


def _tier_bucket(tier: str, ts_col: str = "bucket_ts"):
    from ..series import TIER_SECONDS

    sec = TIER_SECONDS[tier]
    return F.timestamp_seconds(
        (F.unix_timestamp(ts_col) / sec).cast("long") * sec
    ).alias("bucket_ts")


def stats_rollup(
    pages: DataFrame,
    tier: str,
    by: tuple[str, ...] = ("host",),
    ts_col: str = "warc_ts",
    value_col: str = "page_size",
) -> DataFrame:
    """Six-sum stats of the minute observations (x = doc_count, y = sum of
    ``value_col``) per (keys, ``tier`` bucket), from raw pages — the single
    raw-data touch of the stats cascade. Output: (*by, bucket_ts, n, sx,
    sy, sxx, syy, sxy). Two groupBys sharing the key prefix; only the
    minute aggregation sees raw rows."""
    minute = F.timestamp_seconds(
        (F.unix_timestamp(ts_col) / 60).cast("long") * 60
    ).alias("_m")
    obs = (
        pages.select(*by, minute, F.col(value_col).cast("long").alias("_v"))
        .groupBy(*by, "_m")
        .agg(F.count(F.lit(1)).alias("_x"), F.sum("_v").alias("_y"))
    )
    # ONE key-only exchange of the ROLLED-UP minute rows (bounded by
    # minutes/key, not raw rows): every downstream grouping — this tier
    # bucket, every stats_cascade step, corr_from_stats' per-key final —
    # clusters on a superset of ``by``, and hash-partitioning on a SUBSET
    # of the cluster keys satisfies Spark's required distribution, so the
    # whole cascade + corr runs Exchange-free from here (plan-pinned in
    # test_plans). Same partitioning-reuse trick as tiers.cascade.
    obs = obs.repartition(*[F.col(c) for c in by])
    x, y = F.col("_x"), F.col("_y")
    return (
        obs.select(*by, F.col("_m").alias("bucket_ts"), "_x", "_y")
        .groupBy(*by, _tier_bucket(tier))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.sum(x * y).alias("sxy"),
        )
    )


def stats_cascade(
    stats_tier_df: DataFrame,
    parent_tier: str,
    by: tuple[str, ...] = ("host",),
) -> DataFrame:
    """Parent stats tier from a child stats tier by ADDING the six sums —
    no raw data, and exactly equal to a direct parent build (integer
    addition is associative; minute observations nest in every tier)."""
    return stats_tier_df.groupBy(*by, _tier_bucket(parent_tier)).agg(
        *[F.sum(c).alias(c) for c in STAT_COLS]
    )


def corr_from_stats(
    stats_df: DataFrame,
    by: tuple[str, ...] = ("host",),
    min_points: int = 2,
) -> DataFrame:
    """(keys, n, corr, slope, intercept) over ANY set of stats rows —
    merge the six sums per key, then the same IEEE formula series_corr
    uses (shared _corr_cols, so tier-served corr is bit-identical to a
    raw-series series_corr over the same observations)."""
    merged = stats_df.groupBy(*by).agg(*[F.sum(c).alias(c) for c in STAT_COLS])
    corr, slope, intercept = _corr_cols(merged)
    return merged.where(F.col("n") >= min_points).select(
        *by,
        "n",
        corr.alias("corr"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    by: tuple[str, ...],
    trim_pct: int = 10,
    tiebreak: str | None = None,
) -> DataFrame:
    """Robust continuous aggregate: per group, the mean of ``value_col``
    after trimming the ``trim_pct``% rank-extremes from EACH end — the
    rollup-side counterpart of anomaly.mad_zscore (a crawl burst or a
    dead-minute zero in the bucket no longer drags the tier's mean).

    Exactness discipline (same as the six-sum stats above): the trim count
    is pure integer math ``k = (n * trim_pct) DIV 100`` (clamped so at
    least one row survives), membership is decided by rank, and because a
    rank RANGE always selects the same multiset of values regardless of
    how ties were broken, the kept-set is engine-independent; the mean is
    one exact-BIGINT-sum / count double, so ``value_col`` must be integral
    (ValueError at plan time otherwise). ``tiebreak`` orders equal values
    (defaults to the value alone — ties don't change the result).

    Scale shape: one Exchange on (*by) for the rank window; the following
    groupBy rides the same partitioning (no second shuffle). Output one
    row per group: (*by, n, n_kept, trimmed_mean).
    """
    if not 0 <= int(trim_pct) < 50:
        raise ValueError(f"trim_pct must be in [0, 50), got {trim_pct}")
    from pyspark.sql import Window
    from pyspark.sql.types import IntegralType

    vtype = df.select(value_col).schema[0].dataType
    if not isinstance(vtype, IntegralType):
        raise ValueError(f"trimmed_mean needs an integral {value_col!r}, got {vtype.simpleString()}")

    v = F.col(value_col).cast("long")
    order = [F.col(value_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*by)
    rn = F.row_number().over(Window.partitionBy(*by).orderBy(*order))
    staged = df.select(
        *by, v.alias("_v"), rn.alias("_rn"), F.count(F.lit(1)).over(w).alias("_n")
    )
    k = F.least(
        F.expr(f"(_n * {int(trim_pct)}) DIV 100"), F.expr("(_n - 1) DIV 2")
    )
    kept = staged.withColumn("_k", k).filter(
        (F.col("_rn") > F.col("_k")) & (F.col("_rn") <= F.col("_n") - F.col("_k"))
    )
    return kept.groupBy(*by).agg(
        F.max("_n").alias("n"),
        F.count(F.lit(1)).alias("n_kept"),
        (F.sum("_v").cast("double") / F.count(F.lit(1))).alias("trimmed_mean"),
    )
