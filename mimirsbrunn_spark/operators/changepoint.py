"""CUSUM changepoint detection over per-key series — the alerting sibling
of the smoothing family (operators/smooth.py) and trailing z-score
(operators/anomaly.py): instead of flagging single outlier points, CUSUM
accumulates small persistent shifts in the level of a series and alarms
when the cumulative drift crosses a threshold (Page 1954; the classic
"crawl rate of this host changed regime" detector).

Semantics (pinned, both engines):

- per key, the series is standardized against its OWN full-series mean and
  population std derived from exact integer sums:
      mean = S / n,   var = max((SS - S*S/n) / n, 0),   std = sqrt(var)
  (identical operand order to anomaly.zscore_anomaly; S and SS are exact
  BIGINT sums, so the doubles are bit-identical across engines). Values
  are expected integer-scale (doc counts); for byte-scale metrics the SS
  long sum would overflow — standardize upstream instead.
- z_t = (x_t - mean) / std  (z_t = 0 everywhere when std = 0),
- two one-sided recursions with drift allowance ``k`` (in sigmas):
      sp_t = max(0, sp_eff_{t-1} + z_t - k)
      sn_t = max(0, sn_eff_{t-1} - z_t - k)
  alarm at t iff sp_t > h or sn_t > h; after an alarm BOTH accumulators
  reset to 0 (sp_eff/sn_eff), so a long regime shift yields periodic
  re-alarms rather than a saturated counter.

Cross-engine determinism: the recursion runs in exactly this operand order
on float64 both here (numpy scalar loop) and in the DuckDB gate twin (a
recursive CTE carrying sp_eff/sn_eff); k and h should be exact binary
fractions when bit-parity matters. Outputs crossing a comparison boundary
are rounded to 6 decimals per the engine float rule (gate.py docstring).

Scale shape: one Exchange on the key columns (``applyInPandas``), per-group
pass bounded by the retention tier length (O(buckets), never O(corpus)) —
same shape as smooth.ewma. No collect, no driver loop.

Reference analog: the reference's admin weight/importance blending reacts
to level differences between data sources (/root/reference/libs/mimir/src/
utils.rs weight family, SURVEY.md §2 A5); here the level shift is detected
along time instead of across sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def cusum_changepoints(
    series: DataFrame,
    k: float = 0.5,
    h: float = 4.0,
    keys: tuple[str, ...] = ("host",),
    ts_col: str = "bucket_sec",
    value_col: str = "value",
) -> DataFrame:
    """Two-sided standardized CUSUM per key. Returns the input columns plus
    ``z`` (float64), ``cusum_pos``, ``cusum_neg`` (post-reset accumulator
    values at each row) and ``is_change`` (boolean alarm)."""
    kk, hh = float(k), float(h)
    if kk < 0.0:
        raise ValueError(f"k must be >= 0, got {k}")
    if hh <= 0.0:
        raise ValueError(f"h must be > 0, got {h}")
    fields = list(series.schema.fields) + [
        T.StructField("z", T.DoubleType(), True),
        T.StructField("cusum_pos", T.DoubleType(), True),
        T.StructField("cusum_neg", T.DoubleType(), True),
        T.StructField("is_change", T.BooleanType(), True),
    ]
    schema = T.StructType(fields)

    def _one(pdf):
        import math

        import numpy as np

        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="int64")
        n = len(xs)
        z = np.zeros(n, dtype="float64")
        sp = np.zeros(n, dtype="float64")
        sn = np.zeros(n, dtype="float64")
        alarm = np.zeros(n, dtype="bool")
        if n:
            big = xs.astype(object)  # exact Python ints: int64 sums wrap
            s = int(big.sum())
            ss = int((big * big).sum())
            mean = s / n
            var = max((ss - s * s / n) / n, 0.0)
            std = math.sqrt(var)
            if std > 0.0:
                spe, sne = 0.0, 0.0
                for i in range(n):
                    zi = (float(xs[i]) - mean) / std
                    spi = max(spe + zi - kk, 0.0)
                    sni = max(sne - zi - kk, 0.0)
                    al = spi > hh or sni > hh
                    z[i], sp[i], sn[i], alarm[i] = zi, spi, sni, al
                    spe, sne = (0.0, 0.0) if al else (spi, sni)
        pdf["z"] = z
        pdf["cusum_pos"] = sp
        pdf["cusum_neg"] = sn
        pdf["is_change"] = alarm
        return pdf

    return series.groupBy(*[F.col(c) for c in keys]).applyInPandas(_one, schema)
