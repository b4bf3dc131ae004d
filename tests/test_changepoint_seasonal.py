"""CUSUM changepoint detection (operators/changepoint.py) and
seasonal-profile leave-one-out z-score (operators/anomaly.seasonal_zscore)
— crafted regime shifts and phase anomalies vs independent python
recursions."""

import math
import random

import pytest

from mimirsbrunn_spark.operators import anomaly, changepoint

# --------------------------------------------------------------------------
# CUSUM
# --------------------------------------------------------------------------


def _py_cusum(vals, k, h):
    n = len(vals)
    s = sum(vals)
    ss = sum(v * v for v in vals)
    mean = s / n
    var = max((ss - s * s / n) / n, 0.0)
    std = math.sqrt(var)
    out = []
    if std == 0.0:
        return [(0.0, 0.0, 0.0, False)] * n
    spe = sne = 0.0
    for x in vals:
        z = (float(x) - mean) / std
        sp = max(spe + z - k, 0.0)
        sn = max(sne - z - k, 0.0)
        al = sp > h or sn > h
        out.append((z, sp, sn, al))
        spe, sne = (0.0, 0.0) if al else (sp, sn)
    return out


def _mk(spark, series: dict):
    rows = []
    for host, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((host, i * 3600, v))
    return spark.createDataFrame(rows, "host string, bucket_sec long, c long")


def test_cusum_detects_level_shift(spark):
    vals = [10] * 20 + [14] * 20  # persistent +shift, no single-point outlier
    df = _mk(spark, {"a": vals})
    got = (
        changepoint.cusum_changepoints(
            df, k=0.5, h=4.0, ts_col="bucket_sec", value_col="c"
        )
        .orderBy("bucket_sec")
        .collect()
    )
    alarms = [r.bucket_sec // 3600 for r in got if r.is_change]
    # both regimes deviate from the FULL-series mean (12), so the negative
    # accumulator alarms in the low prefix and the positive one in the
    # shifted suffix — a step change alarms on both sides by construction
    assert any(i >= 20 for i in alarms) and any(i < 20 for i in alarms)
    pos_alarms = [r for r in got if r.is_change and r.cusum_pos > 4.0]
    assert pos_alarms and all(r.bucket_sec // 3600 >= 20 for r in pos_alarms)
    # trailing z-score would miss this shift entirely (each shifted point
    # is < 3 sigma of the trailing mix); CUSUM accumulates it
    exp = _py_cusum(vals, 0.5, 4.0)
    for r, (z, sp, sn, al) in zip(got, exp):
        assert r.is_change == al
        assert r.cusum_pos == pytest.approx(sp, abs=1e-12)
        assert r.cusum_neg == pytest.approx(sn, abs=1e-12)


def test_cusum_matches_python_on_random_series(spark):
    rng = random.Random(7)
    series = {
        f"h{i}": [rng.randrange(0, 50) for _ in range(rng.randrange(1, 60))]
        for i in range(6)
    }
    series["flat"] = [5] * 10  # std = 0 path
    got = (
        changepoint.cusum_changepoints(
            _mk(spark, series), k=0.5, h=4.0, ts_col="bucket_sec", value_col="c"
        )
        .orderBy("host", "bucket_sec")
        .collect()
    )
    by_host = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r)
    for host, vals in series.items():
        exp = _py_cusum(vals, 0.5, 4.0)
        rows = by_host[host]
        assert len(rows) == len(exp)
        for r, (z, sp, sn, al) in zip(rows, exp):
            assert r.z == pytest.approx(z, abs=1e-12)
            assert r.cusum_pos == pytest.approx(sp, abs=1e-12)
            assert r.cusum_neg == pytest.approx(sn, abs=1e-12)
            assert r.is_change == al


def test_cusum_resets_after_alarm_and_realarm(spark):
    # long regime shift: with reset-on-alarm the accumulator re-crosses the
    # threshold periodically instead of saturating once
    vals = [10] * 30 + [16] * 60
    got = (
        changepoint.cusum_changepoints(
            _mk(spark, {"a": vals}), k=0.5, h=4.0,
            ts_col="bucket_sec", value_col="c",
        )
        .orderBy("bucket_sec")
        .collect()
    )
    alarms = [i for i, r in enumerate(got) if r.is_change]
    assert len(alarms) >= 2
    after = [r for i, r in enumerate(got) if i - 1 in alarms]
    for r in after:  # accumulator restarted from 0 on the row after an alarm
        assert r.cusum_pos <= max(r.z - 0.5, 0.0) + 1e-12


def test_cusum_exact_sum_beyond_int64(spark):
    """S is an exact integer sum like SS: four values of 2**62 sum to 2**64,
    which int64 wraps to 0 (mean 0, std 2**62, z = 1 everywhere). The
    exact sums give mean 2**62 and std 0, so z = 0 and no alarm."""
    vals = [2**62] * 4
    got = changepoint.cusum_changepoints(
        _mk(spark, {"big": vals}), k=0.5, h=4.0, ts_col="bucket_sec", value_col="c"
    ).collect()
    exp = _py_cusum(vals, 0.5, 4.0)
    assert [(r.z, r.cusum_pos, r.cusum_neg, r.is_change) for r in got] == exp


def test_cusum_validates_params(spark):
    df = _mk(spark, {"a": [1, 2]})
    with pytest.raises(ValueError):
        changepoint.cusum_changepoints(df, k=-0.1, value_col="c")
    with pytest.raises(ValueError):
        changepoint.cusum_changepoints(df, h=0.0, value_col="c")


# --------------------------------------------------------------------------
# seasonal-profile z-score
# --------------------------------------------------------------------------


def test_seasonal_zscore_flags_phase_anomaly(spark):
    # 10 days of hourly data, phase 5 is always 10 except one day = 100;
    # other phases constant (zero variance -> z NULL, not anomalous)
    rows = []
    for day in range(10):
        for hour in range(24):
            v = 10
            if hour == 5 and day == 7:
                v = 100
            rows.append(("a", day * 86400 + hour * 3600, v))
    df = spark.createDataFrame(rows, "host string, bucket_sec long, c long")
    got = anomaly.seasonal_zscore(
        df, ts_col="bucket_sec", value_col="c", season_sec=86400,
        threshold=3.0, min_points=4,
    ).collect()
    anom = [r for r in got if r.is_anomaly]
    assert len(anom) == 1
    (r,) = anom
    assert r.phase == 5 * 3600 and r.bucket_sec == 7 * 86400 + 5 * 3600
    # the spike's LOO window is the nine 10s -> std 0, x <> m: flagged via
    # the flat-profile clause with z NULL (the LOO blind spot closed)
    assert r.zscore is None
    # every OTHER phase-5 point's window CONTAINS the 100 -> std > 0 and a
    # small |z| (~0.35): defined but not anomalous
    normal_phase5 = [x for x in got if x.phase == 5 * 3600 and not x.is_anomaly]
    assert normal_phase5 and all(x.zscore is not None for x in normal_phase5)
    assert all(abs(x.zscore) < 1.0 for x in normal_phase5)
    # constant phases: std 0 and x == m -> z NULL, not anomalous
    other = [x for x in got if x.phase != 5 * 3600]
    assert all(x.zscore is None and not x.is_anomaly for x in other)


def test_seasonal_zscore_loo_matches_python(spark):
    rng = random.Random(3)
    rows = []
    vals = {}
    for day in range(8):
        v = rng.randrange(0, 30)
        vals.setdefault(0, []).append(v)
        rows.append(("a", day * 86400, v))
    df = spark.createDataFrame(rows, "host string, bucket_sec long, c long")
    got = (
        anomaly.seasonal_zscore(
            df, ts_col="bucket_sec", value_col="c", season_sec=86400,
            threshold=2.0, min_points=4,
        )
        .orderBy("bucket_sec")
        .collect()
    )
    xs = vals[0]
    n = len(xs)
    for i, r in enumerate(got):
        rest = xs[:i] + xs[i + 1:]
        m = sum(rest) / (n - 1)
        var = max(sum((x - m) ** 2 for x in rest) / (n - 1), 0.0)
        std = math.sqrt(var)
        if std > 0:
            assert r.zscore == pytest.approx((xs[i] - m) / std, abs=1e-9)
        else:
            assert r.zscore is None


def test_seasonal_zscore_min_points_guard(spark):
    rows = [("a", i * 86400, v) for i, v in enumerate([1, 9, 3])]  # n-1 = 2 < 4
    rows.append(("b", 3600, 7))  # singleton (host, phase) group: n - 1 = 0
    df = spark.createDataFrame(rows, "host string, bucket_sec long, c long")
    got = anomaly.seasonal_zscore(
        df, ts_col="bucket_sec", value_col="c", season_sec=86400, min_points=4
    ).collect()
    assert len(got) == 4
    assert all(r.zscore is None and not r.is_anomaly for r in got)


# --------------------------------------------------------------------------
# MAD robust z-score
# --------------------------------------------------------------------------


def _py_median_mad(vals):
    s = sorted(vals)
    n = len(s)
    med = (s[(n - 1) // 2] + s[n // 2]) / 2
    d = sorted(abs(v - med) for v in vals)
    mad = (d[(n - 1) // 2] + d[n // 2]) / 2
    return med, mad


def test_mad_zscore_exact_median_mad_and_burst(spark):
    h1 = [5, 7, 6, 5, 8, 6, 7, 5, 100, 6, 5, 7]  # even n, burst at idx 8
    h3 = [3, 9, 4, 8, 5, 7, 6, 2, 11]            # odd n
    rows = [("h1", i * 3600, v) for i, v in enumerate(h1)]
    rows += [("h3", i * 3600, v) for i, v in enumerate(h3)]
    df = spark.createDataFrame(rows, "host string, bucket_sec long, doc_count long")
    out = anomaly.mad_zscore(df, keys=("host",), min_points=8).collect()
    for h, vals in (("h1", h1), ("h3", h3)):
        med, mad = _py_median_mad(vals)
        got = [r for r in out if r.host == h]
        assert len(got) == len(vals)
        assert all(r.median == med and r.mad == mad for r in got), (h, got[0])
        for r in got:
            exp = 0.6745 * (r.value - med) / mad
            assert abs(r.zscore - exp) < 1e-12
            assert r.is_anomaly == (abs(exp) > 3.5)
    burst = [r for r in out if r.host == "h1" and r.value == 100][0]
    assert burst.is_anomaly and burst.zscore > 3.5
    # mean/std z-score on the same series: the burst inflates std enough
    # that MAD is the detector that still fires on crafted mild anomalies —
    # here just pin that the burst's robust z dwarfs its normal z
    assert burst.zscore > 10


def test_mad_zscore_flat_profile_and_min_points(spark):
    rows = [("h2", i * 3600, 4) for i in range(10)] + [("h2", 36000, 50)]
    rows += [("tiny", i * 3600, i) for i in range(5)]  # below min_points
    df = spark.createDataFrame(rows, "host string, bucket_sec long, doc_count long")
    out = anomaly.mad_zscore(df, keys=("host",), min_points=8).collect()
    o = [r for r in out if r.host == "h2" and r.value == 50][0]
    assert o.is_anomaly and o.zscore is None and o.mad == 0.0
    assert all(not r.is_anomaly for r in out if r.host == "h2" and r.value == 4)
    assert all(r.zscore is None and not r.is_anomaly for r in out if r.host == "tiny")


def test_mad_zscore_partition_invariant_single_exchange(spark):
    random.seed(5)
    rows = [("h%d" % (i % 3), i * 60, random.randrange(100)) for i in range(300)]
    df = spark.createDataFrame(rows, "host string, bucket_sec long, doc_count long")
    key = lambda rs: {(r.host, r.bucket_sec, r.median, r.mad, r.zscore, r.is_anomaly) for r in rs}  # noqa: E731
    a = key(anomaly.mad_zscore(df, keys=("host",)).collect())
    b = key(anomaly.mad_zscore(df.repartition(13), keys=("host",)).collect())
    assert a == b and len(a) == 300
    plan = (
        anomaly.mad_zscore(df, keys=("host",))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
