"""Driver-contract queries: paired (PySpark callable, DuckDB oracle SQL).

Each entry here backs one key of ``__spark_entry__.queries()`` /
``oracle_sql()``. The driver runs both at sf=0.01 and compares row count,
schema and an order-insensitive value hash — so both sides must produce
IDENTICAL values, including floats.

The Spark side calls the shipped engine: every series, tier and gap-fill
gate runs the gate's ``pages`` through ``series.series_1m`` →
``tiers.cascade`` (→ ``tiers.host_series``, ``gapfill.gapfill``, the
operator under test) via ``_series``/``_engine_tiers``. The DuckDB SQL is
the independent oracle, written straight from the pinned semantics — so a
green hash certifies the engine, not a re-derivation of it.

Cross-engine determinism rules used throughout (SURVEY.md §7.5):
- time buckets are BIGINT epoch seconds (``bucket_sec``), floored with
  integer arithmetic — no timestamp objects cross the comparison boundary;
- money/measure aggregates are integers (counts, byte sums, cents via
  per-row round→cast before the SUM) — reduction-order-independent;
- per-row float expressions (ratios, interpolation) are identical formulas
  evaluated on identical operands — IEEE-deterministic; accumulated float
  sums are never compared raw;
- DuckDB SUM(BIGINT) returns HUGEINT → always cast back to BIGINT.

The ``pages`` view used by the rollup queries is a deterministic derivation
from the driver's ``events`` table (no external data, SQL-expressible in both
engines): host = 'h' || user_id % 40, warc_ts = ts, lang by user_id % 6,
page_size = byte length of props.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["en", "de", "fr", "es", "zh", "unknown"]

# DuckDB prelude: the pages derivation as a CTE, reused by every rollup oracle.
PAGES_CTE = """
pages AS (
  SELECT 'h' || CAST(user_id % 40 AS VARCHAR)                        AS host,
         CAST(floor(epoch(ts)) AS BIGINT)                            AS warc_sec,
         ['en','de','fr','es','zh','unknown'][CAST(user_id % 6 AS INT) + 1] AS lang,
         CAST(strlen(props) AS BIGINT)                               AS page_size,
         event_id,
         user_id
  FROM events
)
"""


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from . import ensure_worker_imports

    ensure_worker_imports(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema

    path = f"{sf_dir}/{name}.parquet"
    # the footer schema, read on the driver, pins the scan: Spark then runs
    # no schema-inference job (naive timestamps map to TimestampType, as
    # the inference above would)
    return spark.read.schema(from_arrow_schema(ds.dataset(path).schema)).parquet(path)


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of PAGES_CTE, plus the raw ``props`` that the engine
    input of ``_engine_tiers`` carries as its html."""
    ev = _table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    lang_arr = F.array(*[F.lit(l) for l in LANGS])
    return ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string")).alias("host"),
        F.unix_timestamp(ts).alias("warc_sec"),
        F.element_at(lang_arr, ((F.col("user_id") % 6) + 1).cast("int")).alias("lang"),
        F.octet_length("props").cast("long").alias("page_size"),
        "event_id",
        "user_id",
        "props",
    )


# ---------------------------------------------------------------------------
# the engine under test (SURVEY.md §7 — series + cascade)
# ---------------------------------------------------------------------------


def _engine_tiers(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The gate's pages through the shipped engine: ``series.series_1m``
    (fused dedup + salted 1m aggregate) → ``tiers.cascade``. Two fixed
    input rules: url = 'https://' || host || '/' || event_id is unique per
    event, so the engine's (url, warc_ts) dedup keeps every event, as the
    oracle's COUNT(*) does; html is props as bytes, so the engine's
    length(html) is the oracle's strlen(props)."""
    from . import series, tiers

    p = pages_df(spark, sf_dir).select(
        F.concat(F.lit("https://"), "host", F.lit("/"), F.col("event_id").cast("string"))
        .alias("url"),
        F.timestamp_seconds("warc_sec").alias("warc_ts"),
        F.col("props").cast("binary").alias("html"),
        "lang",
    )
    return tiers.cascade(series.series_1m(p))


def _series(
    spark: SparkSession, sf_dir: str, tier: str, by: tuple[str, ...] = ("host",)
) -> DataFrame:
    """One engine tier as (*by, bucket_sec, doc_count, bytes_sum): the host
    series (``tiers.host_series``) when grouped by host alone, else the
    tier rows as the engine publishes them (by host and lang)."""
    from . import tiers

    t = _engine_tiers(spark, sf_dir)[tier]
    if by == ("host",):
        t = tiers.host_series(t)
    return t.select(
        *by, F.col("bucket_ts").cast("long").alias("bucket_sec"), "doc_count", "bytes_sum"
    )


def _tier_sql(step: int) -> str:
    return f"""
WITH {PAGES_CTE}
SELECT host,
       warc_sec - (warc_sec % {step}) AS bucket_sec,
       lang,
       CAST(COUNT(*) AS BIGINT)      AS doc_count,
       CAST(SUM(page_size) AS BIGINT) AS bytes_sum
FROM pages
GROUP BY 1, 2, 3
"""


def q_avg_page_size_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived read-time metric: avg = bytes_sum/doc_count (single division
    of exact integers → IEEE-deterministic) over the engine's 1d tier."""
    t = _series(spark, sf_dir, "1d", by=("host", "lang"))
    return t.select(
        "host",
        "bucket_sec",
        "lang",
        (F.col("bytes_sum") / F.col("doc_count")).alias("avg_page_size"),
    )


SQL_AVG_PAGE_SIZE_1D = f"""
WITH {PAGES_CTE},
t AS (
  SELECT host, warc_sec - (warc_sec % 86400) AS bucket_sec, lang,
         CAST(COUNT(*) AS BIGINT) AS doc_count,
         CAST(SUM(page_size) AS BIGINT) AS bytes_sum
  FROM pages GROUP BY 1, 2, 3
)
SELECT host, bucket_sec, lang,
       CAST(bytes_sum AS DOUBLE) / CAST(doc_count AS DOUBLE) AS avg_page_size
FROM t
"""


def q_topk_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-style deterministic top-k page (orderBy desc + tiebreak + limit;
    reference /root/reference/libs/bragi/src/query.rs:527-535)."""
    return (
        _series(spark, sf_dir, "30d")
        .groupBy("host")
        .agg(F.sum("doc_count").alias("doc_count"), F.sum("bytes_sum").alias("bytes_sum"))
        .orderBy(F.desc("doc_count"), F.asc("host"))
        .limit(10)
    )


SQL_TOPK_HOSTS = f"""
WITH {PAGES_CTE}
SELECT host, CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(page_size) AS BIGINT) AS bytes_sum
FROM pages GROUP BY 1
ORDER BY doc_count DESC, host ASC LIMIT 10
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup counts per host (A1/J7 family: distinct fetch identity)."""
    p = pages_df(spark, sf_dir)
    return p.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.concat_ws("|", F.col("user_id"), F.col("warc_sec"))).alias(
            "n_unique_fetches"
        ),
    )


SQL_DEDUP_EXACT = f"""
WITH {PAGES_CTE}
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR) || '|' || CAST(warc_sec AS VARCHAR)) AS BIGINT)
         AS n_unique_fetches
FROM pages GROUP BY 1
"""


def q_per_lang_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-count series (north-star series family),
    summed over hosts from the engine's 1d tier."""
    return (
        _series(spark, sf_dir, "1d", by=("host", "lang"))
        .groupBy("lang", "bucket_sec")
        .agg(F.sum("doc_count").alias("doc_count"))
    )


SQL_PER_LANG_DAILY = f"""
WITH {PAGES_CTE}
SELECT lang, warc_sec - (warc_sec % 86400) AS bucket_sec,
       CAST(COUNT(*) AS BIGINT) AS doc_count
FROM pages GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# gap-fill queries (engine core — locf + linear over the 1h host series)
# ---------------------------------------------------------------------------


def q_gapfill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """locf + linear gap-fill (``gapfill.gapfill``) of the engine's 1h host
    series."""
    from . import gapfill, tiers

    hs = tiers.host_series(_engine_tiers(spark, sf_dir)["1h"])
    return gapfill.gapfill(hs, "1h", metrics=("doc_count",)).select(
        "host",
        F.col("bucket_ts").cast("long").alias("bucket_sec"),
        "value_locf",
        "value_linear",
        "is_filled",
    )


SQL_GAPFILL_1H = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS bucket_sec,
         CAST(COUNT(*) AS BIGINT) AS doc_count
  FROM pages GROUP BY 1, 2
),
bounds AS (
  SELECT host, MIN(bucket_sec) AS mn, MAX(bucket_sec) AS mx FROM hs GROUP BY 1
),
spine AS (
  SELECT host, UNNEST(generate_series(mn, mx, 3600)) AS bucket_sec FROM bounds
),
j AS (
  SELECT s.host, s.bucket_sec, CAST(h.doc_count AS DOUBLE) AS value
  FROM spine s LEFT JOIN hs h ON s.host = h.host AND s.bucket_sec = h.bucket_sec
),
anno AS (
  SELECT host, bucket_sec, value,
    last_value(value IGNORE NULLS) OVER
      (PARTITION BY host ORDER BY bucket_sec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
    last_value(CASE WHEN value IS NOT NULL THEN CAST(bucket_sec AS DOUBLE) END IGNORE NULLS) OVER
      (PARTITION BY host ORDER BY bucket_sec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
    first_value(value IGNORE NULLS) OVER
      (PARTITION BY host ORDER BY bucket_sec ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
    first_value(CASE WHEN value IS NOT NULL THEN CAST(bucket_sec AS DOUBLE) END IGNORE NULLS) OVER
      (PARTITION BY host ORDER BY bucket_sec ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
  FROM j
)
SELECT host, bucket_sec,
       COALESCE(value, prev_val) AS value_locf,
       CASE WHEN value IS NOT NULL THEN value
            ELSE prev_val + (next_val - prev_val) *
                 ((CAST(bucket_sec AS DOUBLE) - prev_ts) / (next_ts - prev_ts))
       END AS value_linear,
       value IS NULL AS is_filled
FROM anno
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-aware counter rate (operators/counters.py) over a synthetic
    per-host byte counter: cumulative bytes per 1m bucket, wrapped modulo
    200 so the fixture genuinely contains resets at every SF (per-host
    cumulative strlen(props) totals are only ~600 at sf0.001)."""
    from .operators.counters import counter_rate

    return counter_rate(
        _minute_counter(spark, sf_dir), ["host"], ts_col="ts_sec", value_col="counter"
    )


SQL_COUNTER_RATE = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 60) AS ts_sec,
         CAST(SUM(page_size) AS BIGINT) AS b
  FROM pages GROUP BY 1, 2
),
c AS (
  SELECT host, ts_sec,
         CAST(SUM(b) OVER (PARTITION BY host ORDER BY ts_sec) % 200 AS BIGINT)
           AS counter
  FROM hs
),
l AS (
  SELECT host, ts_sec, counter,
         LAG(counter) OVER (PARTITION BY host ORDER BY ts_sec) AS prev_v,
         LAG(ts_sec)  OVER (PARTITION BY host ORDER BY ts_sec) AS prev_t
  FROM c
)
SELECT host, ts_sec,
       CAST(CASE WHEN counter >= prev_v THEN counter - prev_v ELSE counter END
            AS DOUBLE)
         / CAST(NULLIF(ts_sec - prev_t, 0) AS DOUBLE)          AS rate,
       COALESCE(counter < prev_v, FALSE)                       AS is_reset
FROM l
"""


def _hour_bounds(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """First and last hour bucket of the gate's pages, as driver ints: the
    min/max of the hourly series, taken from the raw pages as the DuckDB
    side does, so the series pipeline is not run once more for them."""
    mn, mx = pages_df(spark, sf_dir).agg(F.min("warc_sec"), F.max("warc_sec")).first()
    return mn - mn % 3600, mx - mx % 3600


def q_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """locf time-weighted mean of the hourly byte series per host over the
    middle half of the fixture's time range (operators/counters.py).
    t0/t1 derive from the data with integer arithmetic so both engines
    compute identical window bounds."""
    from .operators.counters import time_weighted_avg

    hs = _series(spark, sf_dir, "1h").select(
        "host", F.col("bucket_sec").alias("ts_sec"), F.col("bytes_sum").alias("value")
    )
    mn, mx = _hour_bounds(spark, sf_dir)
    q = (mx - mn) // 4
    return time_weighted_avg(hs, ["host"], t0=mn + q, t1=mn + 3 * q)


SQL_TIME_WEIGHTED = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS ts_sec,
         CAST(SUM(page_size) AS BIGINT) AS value
  FROM pages GROUP BY 1, 2
),
b AS (
  SELECT MIN(ts_sec) AS mn, (MAX(ts_sec) - MIN(ts_sec)) // 4 AS q FROM hs
),
segs AS (
  SELECT host,
         GREATEST(
           LEAST(COALESCE(LEAD(ts_sec) OVER (PARTITION BY host ORDER BY ts_sec),
                          b.mn + 3 * b.q),
                 b.mn + 3 * b.q)
           - GREATEST(ts_sec, b.mn + b.q),
           0) AS w,
         value
  FROM hs, b
),
agg AS (
  SELECT host,
         CAST(SUM(value * w) AS BIGINT) AS svw,
         CAST(SUM(w) AS BIGINT)         AS covered_sec
  FROM segs GROUP BY 1
)
SELECT host,
       CAST(svw AS DOUBLE) / CAST(covered_sec AS DOUBLE) AS twa,
       covered_sec
FROM agg
WHERE covered_sec > 0
"""


def q_range_total_stitched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stitched multi-tier range totals (tiers.decompose_range +
    stitched_totals): the Spark side answers from the coarsest tier
    combination covering [t0, t1); the oracle sums the raw rows directly —
    equality IS the cascade-stitching invariant. t0/t1 derive from the data
    with integer arithmetic (60 s-aligned) so both engines use identical
    bounds."""
    from .tiers import stitched_totals

    p = pages_df(spark, sf_dir)
    mn, mx = p.agg(F.min("warc_sec"), F.max("warc_sec")).first()
    q1 = ((mx - mn) // 7 // 60) * 60
    q2 = ((mx - mn) // 9 // 60) * 60
    t0 = (mn - mn % 60) + q1
    t1 = (mx - mx % 60) - q2
    return stitched_totals(_engine_tiers(spark, sf_dir), t0, t1)


SQL_RANGE_TOTAL_STITCHED = f"""
WITH {PAGES_CTE},
b AS (SELECT MIN(warc_sec) AS mn, MAX(warc_sec) AS mx FROM pages),
r AS (
  SELECT (mn - (mn % 60)) + (((mx - mn) // 7) // 60) * 60 AS t0,
         (mx - (mx % 60)) - (((mx - mn) // 9) // 60) * 60 AS t1
  FROM b
)
SELECT host,
       CAST(COUNT(*) AS BIGINT)       AS doc_count,
       CAST(SUM(page_size) AS BIGINT) AS bytes_sum
FROM pages, r
WHERE (warc_sec - (warc_sec % 60)) >= r.t0
  AND (warc_sec - (warc_sec % 60)) <  r.t1
GROUP BY host
"""


def _minute_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for the counter gates: per-host minutely cumulative
    byte counter wrapped modulo 200 (resets occur at every SF)."""
    from pyspark.sql import Window

    hs = _series(spark, sf_dir, "1m").select(
        "host", F.col("bucket_sec").alias("ts_sec"), F.col("bytes_sum").alias("b")
    )
    w = Window.partitionBy("host").orderBy("ts_sec")
    return hs.select("host", "ts_sec", (F.sum("b").over(w) % 200).alias("counter"))


SQL_MINUTE_COUNTER_CTE = """
hs AS (
  SELECT host, warc_sec - (warc_sec % 60) AS ts_sec,
         CAST(SUM(page_size) AS BIGINT) AS b
  FROM pages GROUP BY 1, 2
),
c AS (
  SELECT host, ts_sec,
         CAST(SUM(b) OVER (PARTITION BY host ORDER BY ts_sec) % 200 AS BIGINT)
           AS counter
  FROM hs
)
"""


def q_counter_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-aware hourly increase of the wrapped byte counter
    (operators/counters.py counter_increase)."""
    from .operators.counters import counter_increase

    return counter_increase(_minute_counter(spark, sf_dir), ["host"], bucket_sec=3600)


SQL_COUNTER_INCREASE = f"""
WITH {PAGES_CTE},{SQL_MINUTE_COUNTER_CTE},
l AS (
  SELECT host, ts_sec, counter,
         LAG(counter) OVER (PARTITION BY host ORDER BY ts_sec) AS prev_v
  FROM c
)
SELECT host, ts_sec - (ts_sec % 3600) AS bucket_ts_sec,
       CAST(SUM(CASE WHEN counter >= prev_v THEN counter - prev_v
                     ELSE counter END) AS BIGINT)                 AS increase,
       CAST(SUM(CASE WHEN counter < prev_v THEN 1 ELSE 0 END) AS BIGINT)
                                                                  AS n_resets
FROM l
WHERE prev_v IS NOT NULL
GROUP BY 1, 2
"""


def q_ohlc_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly candlestick over the minutely per-host byte series
    (operators/counters.py ohlc) — all-integer output."""
    from .operators.counters import ohlc

    hs = _series(spark, sf_dir, "1m").select(
        "host", F.col("bucket_sec").alias("ts_sec"), F.col("bytes_sum").alias("value")
    )
    return ohlc(hs, ["host"], bucket_sec=3600)


SQL_OHLC_1H = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 60) AS ts_sec,
         CAST(SUM(page_size) AS BIGINT) AS value
  FROM pages GROUP BY 1, 2
)
SELECT host, ts_sec - (ts_sec % 3600)      AS bucket_ts_sec,
       arg_min(value, ts_sec)              AS open,
       MAX(value)                          AS high,
       MIN(value)                          AS low,
       arg_max(value, ts_sec)              AS close,
       CAST(COUNT(*) AS BIGINT)            AS n_samples
FROM hs
GROUP BY 1, 2
"""


def q_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state over the hourly host series (operators/counters.py
    state_durations): state = traffic level from doc_count thresholds,
    locf segments clipped to the middle half of the time range."""
    from .operators.counters import state_durations

    hs = _series(spark, sf_dir, "1h").select(
        "host", F.col("bucket_sec").alias("ts_sec"), "doc_count"
    )
    hs = hs.withColumn(
        "state",
        F.when(F.col("doc_count") >= 20, "high")
        .when(F.col("doc_count") >= 5, "mid")
        .otherwise("low"),
    )
    mn, mx = _hour_bounds(spark, sf_dir)
    q = (mx - mn) // 4
    return state_durations(hs, ["host"], t0=mn + q, t1=mn + 3 * q)


SQL_STATE_DURATIONS = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS ts_sec,
         COUNT(*) AS doc_count
  FROM pages GROUP BY 1, 2
),
st AS (
  SELECT host, ts_sec,
         CASE WHEN doc_count >= 20 THEN 'high'
              WHEN doc_count >= 5  THEN 'mid'
              ELSE 'low' END AS state
  FROM hs
),
b AS (
  SELECT MIN(ts_sec) AS mn, (MAX(ts_sec) - MIN(ts_sec)) // 4 AS q FROM hs
),
segs AS (
  SELECT host, state,
         GREATEST(
           LEAST(COALESCE(LEAD(ts_sec) OVER (PARTITION BY host ORDER BY ts_sec),
                          b.mn + 3 * b.q),
                 b.mn + 3 * b.q)
           - GREATEST(ts_sec, b.mn + b.q),
           0) AS w
  FROM st, b
)
SELECT host, state, CAST(SUM(w) AS BIGINT) AS duration_sec
FROM segs
GROUP BY 1, 2
HAVING SUM(w) > 0
"""


def q_heartbeat_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liveness from fetch heartbeats (operators/counters.py
    heartbeat_uptime): one heartbeat per (host, minute), ttl 300 s —
    interval-union uptime per host."""
    from .operators.counters import heartbeat_uptime

    hb = _series(spark, sf_dir, "1m").select("host", F.col("bucket_sec").alias("ts_sec"))
    return heartbeat_uptime(hb, ["host"], ttl_sec=300)


SQL_HEARTBEAT_UPTIME = f"""
WITH {PAGES_CTE},
hb AS (
  SELECT DISTINCT host, warc_sec - (warc_sec % 60) AS ts_sec FROM pages
),
seg AS (
  SELECT host, ts_sec,
         GREATEST(
           (ts_sec + 300)
           - GREATEST(ts_sec,
                      COALESCE(MAX(ts_sec + 300) OVER (
                        PARTITION BY host ORDER BY ts_sec
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        ts_sec)),
           0) AS c
  FROM hb
)
SELECT host,
       CAST(SUM(c) AS BIGINT)   AS uptime_sec,
       CAST(COUNT(*) AS BIGINT) AS n_heartbeats,
       MIN(ts_sec)              AS first_ts,
       MAX(ts_sec)              AS last_ts
FROM seg
GROUP BY host
"""


def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 pixel-bucket downsampling of the minutely byte series
    (operators/downsample.py) at 2h buckets — the deterministic row SET of
    first/last/min/max carriers per bucket."""
    from .operators.downsample import m4_downsample

    hs = _series(spark, sf_dir, "1m").select(
        "host", F.col("bucket_sec").alias("ts_sec"), F.col("bytes_sum").alias("value")
    )
    return m4_downsample(hs, ["host"], bucket_sec=7200)


SQL_M4_DOWNSAMPLE = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 60) AS ts_sec,
         CAST(SUM(page_size) AS BIGINT) AS value
  FROM pages GROUP BY 1, 2
),
w AS (
  SELECT host, ts_sec, value, ts_sec - (ts_sec % 7200) AS bucket_ts_sec,
         MIN(ts_sec) OVER pb AS tmin, MAX(ts_sec) OVER pb AS tmax,
         MIN(value)  OVER pb AS vmin, MAX(value)  OVER pb AS vmax
  FROM hs
  WINDOW pb AS (PARTITION BY host, ts_sec - (ts_sec % 7200))
)
SELECT host, ts_sec, value, bucket_ts_sec
FROM w
WHERE ts_sec = tmin OR ts_sec = tmax OR value = vmin OR value = vmax
"""


def q_distinct_urls_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count continuous aggregate (operators/distinct.py
    distinct_rollup): distinct url ids per (host, day). The oracle-able
    twin of the mergeable HLL sketch cascade (which is pytest-verified via
    its merge-equivalence property, not SQL-expressible)."""
    from .operators.distinct import distinct_rollup

    pg = pages_df(spark, sf_dir).select(
        "host",
        F.timestamp_seconds("warc_sec").alias("warc_ts"),
        (F.col("event_id") % 997).cast("string").alias("url"),
    )
    out = distinct_rollup(pg, "1d", by=("host",), item_col="url")
    return out.select(
        "host",
        F.col("bucket_ts").cast("long").alias("bucket_sec"),
        "distinct_count",
    )


SQL_DISTINCT_URLS_1D = f"""
WITH {PAGES_CTE}
SELECT host,
       warc_sec - (warc_sec % 86400) AS bucket_sec,
       CAST(COUNT(DISTINCT CAST(event_id % 997 AS VARCHAR)) AS BIGINT)
         AS distinct_count
FROM pages
GROUP BY 1, 2
"""


HOURLY_CTE = """
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS ts_sec, COUNT(*) AS value
  FROM pages GROUP BY 1, 2
)"""


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flags (operators/anomaly.py):
    mean/std over the prior 24 hourly points, exact long sums, one
    deterministic double expression — DuckDB reproduces it beyond the 6-dp
    rounding compared here."""
    from .operators.anomaly import zscore_anomaly

    out = zscore_anomaly(
        _series(spark, sf_dir, "1h"),
        keys=("host",),
        ts_col="bucket_sec",
        value_col="doc_count",
        window_n=24,
        threshold=2.0,
        min_points=8,
    )
    return out.select(
        "host",
        F.col("bucket_sec").alias("ts_sec"),
        "value",
        F.round("zscore", 6).alias("zscore_r"),
        "is_anomaly",
    )


SQL_ANOMALY_ZSCORE = f"""
WITH {PAGES_CTE},
{HOURLY_CTE},
wn AS (
  SELECT host, ts_sec, value,
         COUNT(value) OVER w AS n,
         CAST(SUM(value) OVER w AS DOUBLE) AS s,
         CAST(SUM(value * value) OVER w AS DOUBLE) AS ss
  FROM hs
  WINDOW w AS (PARTITION BY host ORDER BY ts_sec
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT host, ts_sec, value,
         CASE WHEN n >= 8 AND SQRT(GREATEST((ss - s * s / n) / n, 0)) > 0
              THEN (value - s / n) / SQRT(GREATEST((ss - s * s / n) / n, 0))
         END AS zs
  FROM wn
)
SELECT host, ts_sec, CAST(value AS BIGINT) AS value,
       ROUND(zs, 6) AS zscore_r,
       COALESCE(ABS(zs) > 2.0, FALSE) AS is_anomaly
FROM z
"""


def q_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast (operators/anomaly.py): the next 24 hourly
    buckets per host repeat the value 24 hours earlier."""
    from .operators.anomaly import forecast_seasonal_naive

    return forecast_seasonal_naive(
        _series(spark, sf_dir, "1h"),
        keys=("host",),
        ts_col="bucket_sec",
        value_col="doc_count",
        step_sec=3600,
        season_n=24,
        horizon_n=24,
    ).select("host", "ts_sec", F.col("predicted").cast("long").alias("predicted"))


SQL_FORECAST_NAIVE = f"""
WITH {PAGES_CTE},
{HOURLY_CTE},
mx AS (SELECT host, MAX(ts_sec) AS max_ts FROM hs GROUP BY 1)
SELECT h.host,
       h.ts_sec + 86400 AS ts_sec,
       CAST(h.value AS BIGINT) AS predicted
FROM hs h JOIN mx USING (host)
WHERE h.ts_sec + 86400 > mx.max_ts
  AND h.ts_sec + 86400 <= mx.max_ts + 86400
"""


def q_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month continuous aggregate (functions/timebucket.py):
    UTC civil-calendar month floors via the days-from-civil integer
    algorithm — no session-timezone dependence, so the DuckDB oracle runs
    the literally identical integer SQL (month_bucket_sql)."""
    from .functions.timebucket import monthly_rollup

    pg = pages_df(spark, sf_dir).select(
        "host", F.timestamp_seconds("warc_sec").alias("warc_ts"), "page_size"
    )
    return monthly_rollup(
        pg,
        by=("host",),
        aggs=[
            (lambda: F.count(F.lit(1)), "doc_count"),
            (lambda: F.sum("page_size"), "bytes_sum"),
        ],
    )


def _sql_monthly_rollup() -> str:
    from .functions.timebucket import month_bucket_sql

    return f"""
WITH {PAGES_CTE}
SELECT host,
       {month_bucket_sql("warc_sec")} AS month_sec,
       COUNT(*) AS doc_count,
       CAST(SUM(page_size) AS BIGINT) AS bytes_sum
FROM pages
GROUP BY 1, 2
"""


def q_topn_urls_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 urls per 1h bucket via the heavy-hitter candidate list
    (operators/topn.py topn_rollup + topn_serve). The finest tier is exact
    and fully SQL-expressible (count → row_number window → cut); the
    cascade's merge/bound semantics are pytest-verified (test_topn.py)."""
    from .operators.topn import topn_rollup, topn_serve

    pg = pages_df(spark, sf_dir).select(
        F.timestamp_seconds("warc_sec").alias("warc_ts"),
        (F.col("event_id") % 499).cast("string").alias("url"),
    )
    cand = topn_rollup(pg, "1h", n=3, slack=2)
    return topn_serve(cand, 3).select(
        F.col("bucket_ts").cast("long").alias("bucket_sec"),
        "item",
        "cnt",
        F.col("rank").cast("long").alias("rank"),
    )


SQL_TOPN_URLS_1H = f"""
WITH {PAGES_CTE},
counts AS (
  SELECT warc_sec - (warc_sec % 3600) AS bucket_sec,
         CAST(event_id % 499 AS VARCHAR) AS item,
         COUNT(*) AS cnt
  FROM pages GROUP BY 1, 2
),
ranked AS (
  SELECT bucket_sec, item, cnt,
         ROW_NUMBER() OVER (PARTITION BY bucket_sec
                            ORDER BY cnt DESC, item ASC) AS rank
  FROM counts
)
SELECT bucket_sec, item, cnt, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily page-size percentiles from an HDR sketch CASCADE: 1h sketches of
    page_size merged (integer sum) into 1d, then p50/p95/p99 derived from the
    merged counts (operators/histograms.py HDR family — the uddsketch /
    percentile_agg analog with rel. error ≤ 2^-5). The oracle computes the
    bins DIRECTLY per day with the identical exact-float index formula, so a
    green hash proves the tier merge is lossless, not just the bucketing."""
    from .operators.histograms import hdr_histogram, hdr_quantiles_multi

    p = pages_df(spark, sf_dir).withColumn(
        "bucket_ts", F.col("warc_sec") - (F.col("warc_sec") % 3600)
    )
    h1h = hdr_histogram(p, value_col="page_size", keys=("host", "bucket_ts"))
    h1d = (
        h1h.select(
            "host",
            (F.col("bucket_ts") - (F.col("bucket_ts") % 86400)).alias("bucket_ts"),
            "bin",
            "n",
        )
        .groupBy("host", "bucket_ts", "bin")
        .agg(F.sum("n").alias("n"))
    )
    out = hdr_quantiles_multi(
        h1d, {"p50_ub": 0.50, "p95_ub": 0.95, "p99_ub": 0.99}, keys=("host", "bucket_ts")
    )
    return out.withColumnRenamed("bucket_ts", "bucket_sec")


# HDR index math twin (k=5, 32 sub-buckets): u = v+1, e = bitlen(u)-1,
# pe = 2^e (exact double), bin = e*32 + floor((u-pe)*32/pe); every float op
# is a multiply/divide by a power of two on integers < 2^53 → exact in both
# engines. ub(bin) = pe' + ceil((sub+1)*pe'/32) - 2 with pe' = 2^(bin//32).
SQL_HDR_QUANTILES = f"""
WITH {PAGES_CTE},
v AS (
  SELECT host,
         warc_sec - warc_sec % 86400 AS bucket_sec,
         GREATEST(page_size, 0) + 1  AS u
  FROM pages
),
b AS (
  SELECT host, bucket_sec,
         CAST(LEAST(
           (length(bin(u)) - 1) * 32
             + CAST(FLOOR((u - POW(2.0, length(bin(u)) - 1)) * 32
                          / POW(2.0, length(bin(u)) - 1)) AS BIGINT),
           40 * 32 + 31
         ) AS INT) AS bin,
         COUNT(*) AS n
  FROM v GROUP BY 1, 2, 3
),
c AS (
  SELECT host, bucket_sec, bin,
         SUM(n) OVER (PARTITION BY host, bucket_sec ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER (PARTITION BY host, bucket_sec) AS total
  FROM b
),
pick AS (
  SELECT host, bucket_sec,
         MIN(CASE WHEN cum >= CEIL(0.5  * total) THEN bin END) AS b50,
         MIN(CASE WHEN cum >= CEIL(0.95 * total) THEN bin END) AS b95,
         MIN(CASE WHEN cum >= CEIL(0.99 * total) THEN bin END) AS b99
  FROM c GROUP BY 1, 2
)
SELECT host, bucket_sec,
       CAST(POW(2.0, b50 // 32) + CEIL((b50 % 32 + 1) * POW(2.0, b50 // 32) / 32.0) AS BIGINT) - 2 AS p50_ub,
       CAST(POW(2.0, b95 // 32) + CEIL((b95 % 32 + 1) * POW(2.0, b95 // 32) / 32.0) AS BIGINT) - 2 AS p95_ub,
       CAST(POW(2.0, b99 // 32) + CEIL((b99 % 32 + 1) * POW(2.0, b99 // 32) / 32.0) AS BIGINT) - 2 AS p99_ub
FROM pick
"""


def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn rate (operators/slo.py): deterministic error mark
    (event_id % 50 == 0 ≈ 2 % failures), hourly integer stats per host, 1h vs
    6h burn against a 99 % SLO, page when both windows burn hot (the SRE
    workbook's fast-burn pair 14.4×/6×). Long window is an integer RANGE
    frame over the hourly partials — one shuffle total."""
    from .operators.slo import error_rollup, multiwindow_burn

    p = pages_df(spark, sf_dir)
    hourly = error_rollup(
        p, (F.col("event_id") % 50 == 0), ts_col="warc_sec", keys=("host",), step=3600
    )
    return multiwindow_burn(hourly, error_budget=0.01, long_buckets=6, step=3600)


SQL_SLO_BURN = f"""
WITH {PAGES_CTE},
hourly AS (
  SELECT host,
         warc_sec - warc_sec % 3600 AS bucket_sec,
         CAST(COUNT(*) AS BIGINT) AS tot,
         CAST(SUM(CASE WHEN event_id % 50 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS err
  FROM pages GROUP BY 1, 2
),
winned AS (
  SELECT host, bucket_sec, tot, err,
         SUM(tot) OVER (PARTITION BY host ORDER BY bucket_sec
                        RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW) AS tot_l,
         SUM(err) OVER (PARTITION BY host ORDER BY bucket_sec
                        RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW) AS err_l
  FROM hourly
)
SELECT host, bucket_sec, tot, err,
       CAST(err AS DOUBLE) / CAST(tot AS DOUBLE) / 0.01     AS burn_short,
       CAST(err_l AS DOUBLE) / CAST(tot_l AS DOUBLE) / 0.01 AS burn_long,
       (CAST(err AS DOUBLE) / CAST(tot AS DOUBLE) / 0.01 >= 14.4
        AND CAST(err_l AS DOUBLE) / CAST(tot_l AS DOUBLE) / 0.01 >= 6.0)
         AS page_alert
FROM winned
"""


def core_queries() -> dict:
    qs = {
        "series_1m": partial(_series, tier="1m", by=("host", "lang")),
        "rollup_1h": partial(_series, tier="1h", by=("host", "lang")),
        "rollup_1d": partial(_series, tier="1d", by=("host", "lang")),
        "rollup_30d": partial(_series, tier="30d", by=("host", "lang")),
        "avg_page_size_1d": q_avg_page_size_1d,
        "topk_hosts": q_topk_hosts,
        "dedup_exact": q_dedup_exact,
        "per_lang_daily": q_per_lang_daily,
        "gapfill_1h": q_gapfill_1h,
        "gapfill_lang_1d": q_gapfill_lang_1d,
        "codec_roundtrip": q_codec_roundtrip,
        "counter_rate": q_counter_rate,
        "counter_increase": q_counter_increase,
        "time_weighted_avg": q_time_weighted,
        "state_durations": q_state_durations,
        "ohlc_1h": q_ohlc_1h,
        "heartbeat_uptime": q_heartbeat_uptime,
        "m4_downsample": q_m4_downsample,
        "distinct_urls_1d": q_distinct_urls_1d,
        "topn_urls_1h": q_topn_urls_1h,
        "monthly_rollup": q_monthly_rollup,
        "anomaly_zscore": q_anomaly_zscore,
        "forecast_naive": q_forecast_naive,
        "range_total_stitched": q_range_total_stitched,
        "series_corr": q_series_corr,
        "idelta_1h": q_idelta_1h,
        "sliding_1h_15m": q_sliding_1h_15m,
        "cohort_retention": q_cohort_retention,
        "corr_cascade": q_corr_cascade,
        "hdr_quantiles": q_hdr_quantiles,
        "slo_burn": q_slo_burn,
        "ewma_1h": q_ewma_1h,
        "holt_1h": q_holt_1h,
        "cusum_1h": q_cusum_1h,
        "seasonal_z_1h": q_seasonal_z_1h,
        "mad_z_1h": q_mad_z_1h,
        "trimmed_mean_1h": q_trimmed_mean_1h,
        "crawl_cadence": q_crawl_cadence,
        "interval_join": q_interval_join,
    }
    return qs


def core_oracle_sql() -> dict:
    return {
        "series_1m": _tier_sql(60),
        "rollup_1h": _tier_sql(3600),
        "rollup_1d": _tier_sql(86400),
        "rollup_30d": _tier_sql(2_592_000),
        "avg_page_size_1d": SQL_AVG_PAGE_SIZE_1D,
        "topk_hosts": SQL_TOPK_HOSTS,
        "dedup_exact": SQL_DEDUP_EXACT,
        "per_lang_daily": SQL_PER_LANG_DAILY,
        "gapfill_1h": SQL_GAPFILL_1H,
        "gapfill_lang_1d": SQL_GAPFILL_LANG_1D,
        "codec_roundtrip": SQL_CODEC_ROUNDTRIP,
        "counter_rate": SQL_COUNTER_RATE,
        "counter_increase": SQL_COUNTER_INCREASE,
        "time_weighted_avg": SQL_TIME_WEIGHTED,
        "state_durations": SQL_STATE_DURATIONS,
        "ohlc_1h": SQL_OHLC_1H,
        "heartbeat_uptime": SQL_HEARTBEAT_UPTIME,
        "m4_downsample": SQL_M4_DOWNSAMPLE,
        "distinct_urls_1d": SQL_DISTINCT_URLS_1D,
        "topn_urls_1h": SQL_TOPN_URLS_1H,
        "monthly_rollup": _sql_monthly_rollup(),
        "anomaly_zscore": SQL_ANOMALY_ZSCORE,
        "forecast_naive": SQL_FORECAST_NAIVE,
        "range_total_stitched": SQL_RANGE_TOTAL_STITCHED,
        "series_corr": SQL_SERIES_CORR,
        "idelta_1h": SQL_IDELTA_1H,
        "sliding_1h_15m": SQL_SLIDING_1H_15M,
        "cohort_retention": SQL_COHORT_RETENTION,
        "corr_cascade": SQL_CORR_CASCADE,
        "hdr_quantiles": SQL_HDR_QUANTILES,
        "slo_burn": SQL_SLO_BURN,
        "ewma_1h": SQL_EWMA_1H,
        "holt_1h": SQL_HOLT_1H,
        "cusum_1h": SQL_CUSUM_1H,
        "seasonal_z_1h": SQL_SEASONAL_Z_1H,
        "mad_z_1h": SQL_MAD_Z_1H,
        "trimmed_mean_1h": SQL_TRIMMED_MEAN_1H,
        "crawl_cadence": SQL_CRAWL_CADENCE,
        "interval_join": SQL_INTERVAL_JOIN,
    }

def q_gapfill_lang_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language gap-filled daily series (north-star per-language
    family): ``gapfill.gapfill`` of the engine's 1d tier by (host, lang)."""
    from . import gapfill

    t = _engine_tiers(spark, sf_dir)["1d"]
    return gapfill.gapfill(t, "1d", metrics=("doc_count",), by=("host", "lang")).select(
        "host",
        "lang",
        F.col("bucket_ts").cast("long").alias("bucket_sec"),
        "value_locf",
        "is_filled",
    )


SQL_GAPFILL_LANG_1D = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, lang, warc_sec - (warc_sec % 86400) AS bucket_sec,
         CAST(COUNT(*) AS BIGINT) AS doc_count
  FROM pages GROUP BY 1, 2, 3
),
bounds AS (
  SELECT host, lang, MIN(bucket_sec) AS mn, MAX(bucket_sec) AS mx FROM hs GROUP BY 1, 2
),
spine AS (
  SELECT host, lang, UNNEST(generate_series(mn, mx, 86400)) AS bucket_sec FROM bounds
),
j AS (
  SELECT s.host, s.lang, s.bucket_sec, CAST(h.doc_count AS DOUBLE) AS value
  FROM spine s LEFT JOIN hs h
    ON s.host = h.host AND s.lang = h.lang AND s.bucket_sec = h.bucket_sec
)
SELECT host, lang, bucket_sec,
       COALESCE(value, last_value(value IGNORE NULLS) OVER
         (PARTITION BY host, lang ORDER BY bucket_sec
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS value_locf,
       value IS NULL AS is_filled
FROM j
"""

def q_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec path through the gate: hourly host series → DoD+Gorilla chunk
    encode (sorted mapInArrow) → distributed decode (mapInPandas). Since
    decode∘encode is the identity, the DuckDB oracle is simply the hourly
    series SQL — the bitstream round-trip itself is what is being verified."""
    from . import codecs, tiers

    hs = tiers.host_series(_engine_tiers(spark, sf_dir)["1h"])
    chunks = codecs.encode_chunks(hs, "1h")
    out = codecs.decode_chunks(chunks)
    return out.select(
        "host",
        F.col("bucket_ts").cast("long").alias("bucket_sec"),
        "doc_count",
        "bytes_sum",
    )


SQL_CODEC_ROUNDTRIP = f"""
WITH {PAGES_CTE}
SELECT host,
       warc_sec - (warc_sec % 3600) AS bucket_sec,
       CAST(COUNT(*) AS BIGINT)      AS doc_count,
       CAST(SUM(page_size) AS BIGINT) AS bytes_sum
FROM pages
GROUP BY 1, 2
"""



# ---------------------------------------------------------------------------
# round 4 additions: two-series stats, instantaneous delta, hopping windows,
# cohort retention (operators/stats.py, counters.idelta, operators/analytics.py)
# ---------------------------------------------------------------------------


def q_series_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson corr + OLS slope/intercept of (doc_count, bytes_sum) across
    each host's hourly buckets (operators/stats.py series_corr — exact
    BIGINT sufficient statistics, one IEEE formula per host)."""
    from .operators.stats import series_corr

    hb = _series(spark, sf_dir, "1h")
    return series_corr(hb, ["host"], "doc_count", "bytes_sum")


SQL_SERIES_CORR = f"""
WITH {PAGES_CTE},
hb AS (
  SELECT host,
         warc_sec - (warc_sec % 3600)   AS bucket_sec,
         CAST(COUNT(*) AS BIGINT)       AS x,
         CAST(SUM(page_size) AS BIGINT) AS y
  FROM pages GROUP BY 1, 2
),
s AS (
  SELECT host,
         CAST(COUNT(*) AS BIGINT)   AS n,
         CAST(SUM(x) AS BIGINT)     AS sx,
         CAST(SUM(y) AS BIGINT)     AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM hb GROUP BY 1
),
d AS (
  SELECT host, n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_x,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS var_y,
         CAST(sx AS DOUBLE) AS dsx,
         CAST(sy AS DOUBLE) AS dsy,
         CAST(n AS DOUBLE)  AS dn
  FROM s WHERE n >= 2
),
sl AS (
  SELECT host, n, dsx, dsy, dn,
         cov_n / NULLIF(sqrt(var_x) * sqrt(var_y), 0.0) AS corr,
         cov_n / NULLIF(var_x, 0.0)                     AS slope
  FROM d
)
SELECT host, n, corr, slope,
       (dsy - slope * dsx) / dn AS intercept
FROM sl
"""


def q_idelta_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instantaneous hourly delta/rate of the per-host minutely byte series
    (counters.idelta — last two samples inside each (host, hour))."""
    from .operators.counters import idelta

    hs = _series(spark, sf_dir, "1m").select(
        "host", F.col("bucket_sec").alias("ts_sec"), F.col("bytes_sum").alias("b")
    )
    return idelta(hs, ["host"], bucket_sec=3600, ts_col="ts_sec", value_col="b")


SQL_IDELTA_1H = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 60) AS ts_sec,
         CAST(SUM(page_size) AS BIGINT) AS b
  FROM pages GROUP BY 1, 2
),
l AS (
  SELECT host, ts_sec - (ts_sec % 3600) AS bucket_ts_sec, ts_sec, b,
         LAG(b)      OVER (PARTITION BY host, ts_sec - (ts_sec % 3600)
                           ORDER BY ts_sec) AS pv,
         LAG(ts_sec) OVER (PARTITION BY host, ts_sec - (ts_sec % 3600)
                           ORDER BY ts_sec) AS pt,
         ROW_NUMBER() OVER (PARTITION BY host, ts_sec - (ts_sec % 3600)
                            ORDER BY ts_sec DESC) AS rn
  FROM hs
)
SELECT host, bucket_ts_sec,
       CAST(b - pv AS BIGINT) AS idelta,
       CAST(b - pv AS DOUBLE) / CAST(NULLIF(ts_sec - pt, 0) AS DOUBLE) AS irate
FROM l
WHERE rn = 1 AND pv IS NOT NULL
"""


def q_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window counts/byte sums per host: 1h window advancing every
    15m (operators/analytics.py hopping_window_agg — explicit explode
    fan-out absorbed by map-side combine)."""
    from .operators.analytics import hopping_window_agg

    p = pages_df(spark, sf_dir).withColumnRenamed("warc_sec", "ts_sec")
    return hopping_window_agg(
        p, ["host"], window_sec=3600, hop_sec=900, value_col="page_size"
    )


SQL_SLIDING_1H_15M = f"""
WITH {PAGES_CTE}
SELECT host,
       (warc_sec - (warc_sec % 900)) - j * 900 AS window_start_sec,
       CAST(COUNT(*) AS BIGINT)                AS doc_count,
       CAST(SUM(page_size) AS BIGINT)          AS value_sum
FROM pages, UNNEST([0, 1, 2, 3]) AS t(j)
GROUP BY 1, 2
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly first-seen cohort retention triangle over the pages stream
    (operators/analytics.py cohort_retention — exact distinct users per
    (cohort week, week offset))."""
    from .operators.analytics import cohort_retention

    p = pages_df(spark, sf_dir).withColumnRenamed("warc_sec", "ts_sec")
    return cohort_retention(p, "user_id", ts_col="ts_sec", period_sec=604_800)


SQL_COHORT_RETENTION = f"""
WITH {PAGES_CTE},
f AS (
  SELECT user_id, MIN(warc_sec) AS first_ts FROM pages GROUP BY 1
)
SELECT (f.first_ts - (f.first_ts % 604800)) AS cohort_sec,
       ((p.warc_sec - (p.warc_sec % 604800))
         - (f.first_ts - (f.first_ts % 604800))) // 604800 AS period_offset,
       CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS users
FROM pages p JOIN f USING (user_id)
GROUP BY 1, 2
"""


def q_corr_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate corr: minute observations → 1h six-sum stats →
    1d → 30d cascade (operators/stats.py stats_rollup/stats_cascade) →
    corr_from_stats. The oracle computes corr DIRECTLY over the minute
    observations — equality IS the cascade's exact-merge invariant."""
    from .operators.stats import corr_from_stats, stats_cascade, stats_rollup

    p = pages_df(spark, sf_dir).select(
        "host",
        F.timestamp_seconds("warc_sec").alias("warc_ts"),
        "page_size",
    )
    s1h = stats_rollup(p, "1h")
    s30d = stats_cascade(stats_cascade(s1h, "1d"), "30d")
    return corr_from_stats(s30d)


SQL_CORR_CASCADE = f"""
WITH {PAGES_CTE},
obs AS (
  SELECT host,
         warc_sec - (warc_sec % 60)     AS m,
         CAST(COUNT(*) AS BIGINT)       AS x,
         CAST(SUM(page_size) AS BIGINT) AS y
  FROM pages GROUP BY 1, 2
),
s AS (
  SELECT host,
         CAST(COUNT(*) AS BIGINT)   AS n,
         CAST(SUM(x) AS BIGINT)     AS sx,
         CAST(SUM(y) AS BIGINT)     AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM obs GROUP BY 1
),
d AS (
  SELECT host, n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_x,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS var_y,
         CAST(sx AS DOUBLE) AS dsx,
         CAST(sy AS DOUBLE) AS dsy,
         CAST(n AS DOUBLE)  AS dn
  FROM s WHERE n >= 2
),
sl AS (
  SELECT host, n, dsx, dsy, dn,
         cov_n / NULLIF(sqrt(var_x) * sqrt(var_y), 0.0) AS corr,
         cov_n / NULLIF(var_x, 0.0)                     AS slope
  FROM d
)
SELECT host, n, corr, slope,
       (dsy - slope * dsx) / dn AS intercept
FROM sl
"""


# ---------------------------------------------------------------------------
# exponential smoothing (operators/smooth.py — EWMA + Holt linear)
# ---------------------------------------------------------------------------


def q_ewma_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha=0.25) over the hourly per-host byte series
    (operators/smooth.py). The recursion e_t = 0.25*x_t + 0.75*e_{t-1}
    runs in identical operand order in the pandas stage and the DuckDB
    recursive-CTE twin, so the 6-decimal-rounded output is exact."""
    from .operators import smooth

    hs = _series(spark, sf_dir, "1h").select(
        "host", "bucket_sec", F.col("bytes_sum").alias("b")
    )
    out = smooth.ewma(
        hs, 0.25, keys=("host",), ts_col="bucket_sec", value_col="b", out_col="e"
    )
    return out.select(
        "host", "bucket_sec", "b", F.round("e", 6).alias("ewma_r")
    )


SQL_EWMA_1H = f"""
WITH RECURSIVE {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS bucket_sec,
         CAST(SUM(page_size) AS BIGINT) AS b
  FROM pages GROUP BY 1, 2
),
base AS (
  SELECT host, bucket_sec, b,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY bucket_sec) AS rn
  FROM hs
),
rec AS (
  SELECT host, bucket_sec, b, rn, CAST(b AS DOUBLE) AS e
  FROM base WHERE rn = 1
  UNION ALL
  SELECT nxt.host, nxt.bucket_sec, nxt.b, nxt.rn,
         0.25 * CAST(nxt.b AS DOUBLE) + 0.75 * rec.e AS e
  FROM base nxt JOIN rec ON nxt.host = rec.host AND nxt.rn = rec.rn + 1
)
SELECT host, bucket_sec, b, round(e, 6) AS ewma_r FROM rec
"""


def q_holt_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear smoothing (sf=0.5, tf=0.25) over the hourly per-host
    byte series: level + trend per bucket (operators/smooth.py;
    PromQL double_exponential_smoothing analog, b_1 pinned to 0)."""
    from .operators import smooth

    hs = _series(spark, sf_dir, "1h").select(
        "host", "bucket_sec", F.col("bytes_sum").alias("b")
    )
    out = smooth.holt_linear(
        hs, 0.5, 0.25, keys=("host",), ts_col="bucket_sec", value_col="b",
        level_col="s", trend_col="tr",
    )
    return out.select(
        "host", "bucket_sec", "b",
        F.round("s", 6).alias("smooth_r"), F.round("tr", 6).alias("trend_r"),
    )


SQL_HOLT_1H = f"""
WITH RECURSIVE {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS bucket_sec,
         CAST(SUM(page_size) AS BIGINT) AS b
  FROM pages GROUP BY 1, 2
),
base AS (
  SELECT host, bucket_sec, b,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY bucket_sec) AS rn
  FROM hs
),
rec AS (
  SELECT host, bucket_sec, b, rn,
         CAST(b AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS tr
  FROM base WHERE rn = 1
  UNION ALL
  SELECT nxt.host, nxt.bucket_sec, nxt.b, nxt.rn,
         0.5 * CAST(nxt.b AS DOUBLE) + 0.5 * (rec.s + rec.tr) AS s,
         0.25 * ((0.5 * CAST(nxt.b AS DOUBLE) + 0.5 * (rec.s + rec.tr)) - rec.s)
           + 0.75 * rec.tr AS tr
  FROM base nxt JOIN rec ON nxt.host = rec.host AND nxt.rn = rec.rn + 1
)
SELECT host, bucket_sec, b, round(s, 6) AS smooth_r, round(tr, 6) AS trend_r
FROM rec
"""


# ---------------------------------------------------------------------------
# CUSUM changepoints + seasonal-profile z-score (operators/changepoint.py,
# operators/anomaly.py)
# ---------------------------------------------------------------------------


def q_cusum_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided standardized CUSUM (k=0.5, h=4.0) over the hourly per-host
    doc-count series (operators/changepoint.py). Mean/std come from exact
    BIGINT sums and the sp/sn recursions run in identical operand order in
    the pandas stage and the DuckDB recursive-CTE twin, so the
    6-decimal-rounded output is exact."""
    from .operators import changepoint

    hs = _series(spark, sf_dir, "1h").select(
        "host", "bucket_sec", F.col("doc_count").alias("c")
    )
    out = changepoint.cusum_changepoints(
        hs, k=0.5, h=4.0, keys=("host",), ts_col="bucket_sec", value_col="c"
    )
    return out.select(
        "host", "bucket_sec", "c",
        F.round("z", 6).alias("z_r"),
        F.round("cusum_pos", 6).alias("sp_r"),
        F.round("cusum_neg", 6).alias("sn_r"),
        "is_change",
    )


SQL_CUSUM_1H = f"""
WITH RECURSIVE {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS bucket_sec,
         CAST(count(*) AS BIGINT) AS c
  FROM pages GROUP BY 1, 2
),
st AS (
  SELECT host, count(*) AS n, SUM(c) AS s, SUM(c * c) AS ss
  FROM hs GROUP BY 1
),
zb AS (
  SELECT hs.host, hs.bucket_sec, hs.c,
         ROW_NUMBER() OVER (PARTITION BY hs.host ORDER BY hs.bucket_sec) AS rn,
         CASE WHEN sqrt(greatest((CAST(st.ss AS DOUBLE)
                 - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n) / st.n,
                 0.0)) > 0.0
              THEN (CAST(hs.c AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
                   / sqrt(greatest((CAST(st.ss AS DOUBLE)
                 - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n) / st.n,
                 0.0))
              ELSE 0.0 END AS z
  FROM hs JOIN st USING (host)
),
rec AS (
  SELECT host, bucket_sec, c, rn, z,
         greatest(z - 0.5, 0.0) AS sp,
         greatest(-z - 0.5, 0.0) AS sn,
         (greatest(z - 0.5, 0.0) > 4.0 OR greatest(-z - 0.5, 0.0) > 4.0)
           AS alarm
  FROM zb WHERE rn = 1
  UNION ALL
  SELECT nxt.host, nxt.bucket_sec, nxt.c, nxt.rn, nxt.z,
         greatest((CASE WHEN rec.alarm THEN 0.0 ELSE rec.sp END)
                  + nxt.z - 0.5, 0.0) AS sp,
         greatest((CASE WHEN rec.alarm THEN 0.0 ELSE rec.sn END)
                  - nxt.z - 0.5, 0.0) AS sn,
         (greatest((CASE WHEN rec.alarm THEN 0.0 ELSE rec.sp END)
                   + nxt.z - 0.5, 0.0) > 4.0
          OR greatest((CASE WHEN rec.alarm THEN 0.0 ELSE rec.sn END)
                   - nxt.z - 0.5, 0.0) > 4.0) AS alarm
  FROM zb nxt JOIN rec ON nxt.host = rec.host AND nxt.rn = rec.rn + 1
)
SELECT host, bucket_sec, c, round(z, 6) AS z_r, round(sp, 6) AS sp_r,
       round(sn, 6) AS sn_r, alarm AS is_change
FROM rec
"""


def q_seasonal_z_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal-profile z-score (leave-one-out) over the hourly
    per-host doc-count series (operators/anomaly.py seasonal_zscore):
    "is 14:00 today unusual for 14:00 on this host"."""
    from .operators import anomaly

    out = anomaly.seasonal_zscore(
        _series(spark, sf_dir, "1h"), keys=("host",), ts_col="bucket_sec", value_col="doc_count",
        season_sec=86400, threshold=2.0, min_points=4,
    )
    return out.select(
        "host", "bucket_sec", "phase", "value",
        F.round("zscore", 6).alias("z_r"), "is_anomaly",
    )


SQL_SEASONAL_Z_1H = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS bucket_sec,
         CAST(count(*) AS BIGINT) AS c
  FROM pages GROUP BY 1, 2
),
ph AS (
  SELECT host, bucket_sec, bucket_sec % 86400 AS phase, c,
         count(*) OVER w AS n, SUM(c) OVER w AS s, SUM(c * c) OVER w AS ss
  FROM hs
  WINDOW w AS (PARTITION BY host, bucket_sec % 86400)
),
d AS (
  SELECT host, bucket_sec, phase, c AS value, n,
         CASE WHEN n > 1
              THEN CAST(s - c AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS m,
         CASE WHEN n > 1
              THEN sqrt(greatest((CAST(ss - c * c AS DOUBLE)
                - CAST(s - c AS DOUBLE) * CAST(s - c AS DOUBLE)
                  / CAST(n - 1 AS DOUBLE)) / CAST(n - 1 AS DOUBLE), 0.0))
         END AS std
  FROM ph
),
zc AS (
  SELECT host, bucket_sec, phase, value,
         CASE WHEN (n - 1) >= 4 AND std > 0.0
              THEN (CAST(value AS DOUBLE) - m) / std END AS z,
         ((n - 1) >= 4 AND std = 0.0 AND CAST(value AS DOUBLE) <> m)
           AS flat_out
  FROM d
)
SELECT host, bucket_sec, phase, value, round(z, 6) AS z_r,
       (COALESCE(abs(z) > 2.0, FALSE) OR COALESCE(flat_out, FALSE))
         AS is_anomaly
FROM zc
"""


def q_mad_z_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD z-score over the hourly per-host doc-count series
    (operators/anomaly.py mad_zscore): rank-math exact medians, so the
    whole row — median, MAD, z at 6 dp — is hash-exact vs DuckDB."""
    from .operators import anomaly

    out = anomaly.mad_zscore(
        _series(spark, sf_dir, "1h"), keys=("host",), ts_col="bucket_sec", value_col="doc_count",
        threshold=3.5, min_points=8,
    )
    return out.select(
        "host", "bucket_sec", "value", "median", "mad",
        F.round("zscore", 6).alias("z_r"), "is_anomaly",
    )


SQL_MAD_Z_1H = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS bucket_sec,
         CAST(count(*) AS BIGINT) AS c
  FROM pages GROUP BY 1, 2
),
r1 AS (
  SELECT host, bucket_sec, c,
         count(*) OVER (PARTITION BY host) AS n,
         row_number() OVER (PARTITION BY host ORDER BY c, bucket_sec) AS rn1
  FROM hs
),
m1 AS (
  SELECT *,
         AVG(CASE WHEN rn1 = (n + 1) // 2 OR rn1 = (n + 2) // 2
                  THEN CAST(c AS DOUBLE) END)
           OVER (PARTITION BY host) AS med
  FROM r1
),
r2 AS (
  SELECT *, abs(CAST(c AS DOUBLE) - med) AS d,
         row_number() OVER (
           PARTITION BY host
           ORDER BY abs(CAST(c AS DOUBLE) - med), bucket_sec) AS rn2
  FROM m1
),
m2 AS (
  SELECT *,
         AVG(CASE WHEN rn2 = (n + 1) // 2 OR rn2 = (n + 2) // 2 THEN d END)
           OVER (PARTITION BY host) AS mad
  FROM r2
),
zc AS (
  SELECT host, bucket_sec, c AS value, med, mad,
         CASE WHEN n >= 8 AND mad > 0.0
              THEN 0.6745 * (CAST(c AS DOUBLE) - med) / mad END AS z,
         (n >= 8 AND mad = 0.0 AND CAST(c AS DOUBLE) <> med) AS flat_out
  FROM m2
)
SELECT host, bucket_sec, value, med AS median, mad, round(z, 6) AS z_r,
       (COALESCE(abs(z) > 3.5, FALSE) OR COALESCE(flat_out, FALSE))
         AS is_anomaly
FROM zc
"""


def q_trimmed_mean_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust hourly rollup: per (host, hour), the 10%-trimmed mean of the
    minute-level doc-count series (operators/stats.py trimmed_mean) —
    rank-range membership is tie-invariant, so n/n_kept/mean are all
    hash-exact vs DuckDB."""
    from .operators import stats

    m = _series(spark, sf_dir, "1m").select(
        "host",
        F.col("bucket_sec").alias("m_sec"),
        (F.col("bucket_sec") - (F.col("bucket_sec") % 3600)).alias("bucket_sec"),
        F.col("doc_count").alias("c"),
    )
    return stats.trimmed_mean(
        m, "c", ("host", "bucket_sec"), trim_pct=10, tiebreak="m_sec"
    ).select("host", "bucket_sec", "n", "n_kept", "trimmed_mean")


SQL_TRIMMED_MEAN_1H = f"""
WITH {PAGES_CTE},
m AS (
  SELECT host, warc_sec - (warc_sec % 60) AS m_sec,
         CAST(count(*) AS BIGINT) AS c
  FROM pages GROUP BY 1, 2
),
r AS (
  SELECT host, m_sec - (m_sec % 3600) AS bucket_sec, c,
         count(*) OVER w AS n,
         row_number() OVER (
           PARTITION BY host, m_sec - (m_sec % 3600) ORDER BY c, m_sec) AS rn
  FROM m WINDOW w AS (PARTITION BY host, m_sec - (m_sec % 3600))
),
kk AS (
  SELECT *, least((n * 10) // 100, (n - 1) // 2) AS k FROM r
)
SELECT host, bucket_sec, MAX(n) AS n, count(*) AS n_kept,
       CAST(SUM(c) AS DOUBLE) / count(*) AS trimmed_mean
FROM kk WHERE rn > k AND rn <= n - k
GROUP BY 1, 2
"""


def q_crawl_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-cadence health (operators/counters.py cadence_stats):
    inter-arrival gap count, mean gap, coefficient of variation, max gap.
    Gaps are differences of the SORTED timestamp multiset — tie-invariant —
    and the sums are exact (BIGINT / DECIMAL(38,0)), so mean/cv at 6 dp
    are hash-safe vs DuckDB's HUGEINT twin."""
    from .operators import counters

    pg = pages_df(spark, sf_dir).select("host", F.col("warc_sec").alias("ts_sec"))
    out = counters.cadence_stats(pg, keys=("host",), ts_col="ts_sec")
    return out.select(
        "host", "n_gaps", F.round("mean_gap", 6).alias("mean_gap_r"),
        F.round("cv", 6).alias("cv_r"), "max_gap",
    )


SQL_CRAWL_CADENCE = f"""
WITH {PAGES_CTE},
g AS (
  SELECT host,
         warc_sec - lag(warc_sec)
           OVER (PARTITION BY host ORDER BY warc_sec) AS gap
  FROM pages
),
a AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_gaps, SUM(gap) AS s,
         SUM(CAST(gap AS HUGEINT) * gap) AS ss, MAX(gap) AS max_gap
  FROM g WHERE gap IS NOT NULL GROUP BY 1
)
SELECT host, n_gaps,
       round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_r,
       round(CASE WHEN n_gaps >= 2 AND s > 0 THEN
         sqrt(greatest((CAST(ss AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
           / CAST(n_gaps AS DOUBLE), 0.0))
         / (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) END, 6) AS cv_r,
       max_gap
FROM a
"""


# ---------------------------------------------------------------------------
# busy-island extraction + bucketed interval join (operators/intervals.py)
# ---------------------------------------------------------------------------


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands busy periods (hourly doc_count >= 2, adjacent hours
    merged) then every page tagged with the island containing its raw
    timestamp via the bucket-decomposed interval join. The DuckDB twin uses
    a NATIVE range join (IEJoin) over the same islands — the green hash
    proves the equi-join decomposition implements exact range semantics."""
    from .operators import intervals

    pg = pages_df(spark, sf_dir)
    isl = intervals.busy_islands(
        _series(spark, sf_dir, "1h"),
        F.col("doc_count") >= 2,
        keys=("host",),
        ts_col="bucket_sec",
        step_sec=3600,
    )
    out = intervals.interval_join(
        pg.select("host", "warc_sec", "event_id"),
        isl,
        keys=("host",),
        ts_col="warc_sec",
        bucket_width_sec=3600,
        how="inner",
    )
    return out.select(
        "host", "event_id", "warc_sec",
        F.col("island_id").cast("long").alias("island_id"),
        "start_sec", "end_sec", "n_buckets",
    )


SQL_INTERVAL_JOIN = f"""
WITH {PAGES_CTE},
hs AS (
  SELECT host, warc_sec - (warc_sec % 3600) AS bucket_sec,
         CAST(count(*) AS BIGINT) AS c
  FROM pages GROUP BY 1, 2
),
qual AS (
  SELECT host, bucket_sec,
         lag(bucket_sec) OVER (PARTITION BY host ORDER BY bucket_sec) AS prev
  FROM hs WHERE c >= 2
),
tagged AS (
  SELECT host, bucket_sec,
         SUM(CASE WHEN prev IS NULL OR bucket_sec - prev > 3600
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY host ORDER BY bucket_sec) AS island_id
  FROM qual
),
isl AS (
  SELECT host, CAST(island_id AS BIGINT) AS island_id,
         min(bucket_sec) AS start_sec,
         max(bucket_sec) + 3600 AS end_sec,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM tagged GROUP BY 1, 2
)
SELECT p.host, p.event_id, p.warc_sec, i.island_id, i.start_sec, i.end_sec,
       i.n_buckets
FROM pages p
JOIN isl i ON p.host = i.host
          AND p.warc_sec >= i.start_sec AND p.warc_sec < i.end_sec
"""
