"""The core gates run the shipped engine and match their DuckDB oracles.

Each gate below builds its series through ``gate._series`` /
``gate._engine_tiers`` (``series.series_1m`` → ``tiers.cascade``) and, for
the two gap-fill gates, ``gapfill.gapfill``. Every gate runs at sf0.001
against its ``core_oracle_sql()`` entry on DuckDB, compared the way the
driver compares them: row count, column names and the order-insensitive
``tools/check_oracle.value_hash``. A spy on the engine entry points proves
the gate reached them."""

import importlib.util
import os

import duckdb
import pytest

from mimirsbrunn_spark import gapfill, gate, series

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENGINE_GATES = [
    "series_1m",
    "rollup_1h",
    "rollup_1d",
    "rollup_30d",
    "avg_page_size_1d",
    "topk_hosts",
    "per_lang_daily",
    "gapfill_1h",
    "gapfill_lang_1d",
    "codec_roundtrip",
    "counter_rate",
    "counter_increase",
    "time_weighted_avg",
    "state_durations",
    "ohlc_1h",
    "heartbeat_uptime",
    "m4_downsample",
    "anomaly_zscore",
    "forecast_naive",
    "range_total_stitched",
    "series_corr",
    "idelta_1h",
    "ewma_1h",
    "holt_1h",
    "cusum_1h",
    "seasonal_z_1h",
    "mad_z_1h",
    "trimmed_mean_1h",
    "interval_join",
]
GAPFILL_GATES = {"gapfill_1h", "gapfill_lang_1d"}


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')")
    yield con, gate.core_oracle_sql(), _check_oracle().value_hash
    con.close()


def _spy(monkeypatch, module, name):
    calls = []
    real = getattr(module, name)

    def spy(*args, **kwargs):
        calls.append(name)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, spy)
    return calls


@pytest.mark.parametrize("name", ENGINE_GATES)
def test_gate_runs_engine_and_matches_oracle(spark, oracle, monkeypatch, name):
    con, sql, value_hash = oracle
    series_calls = _spy(monkeypatch, series, "series_1m")
    gapfill_calls = _spy(monkeypatch, gapfill, "gapfill")

    sdf = gate.core_queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    assert series_calls, f"{name} does not reach series.series_1m"
    if name in GAPFILL_GATES:
        assert gapfill_calls, f"{name} does not reach gapfill.gapfill"

    res = con.execute(sql[name])
    ocols = [d[0] for d in res.description]
    orows = [tuple(r) for r in res.fetchall()]
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows) > 0
    assert value_hash(srows, scols) == value_hash(orows, ocols)


@pytest.mark.parametrize("name", ["time_weighted_avg", "state_durations"])
def test_window_gates_take_bounds_from_pages(spark, jobs_of, name):
    """Building the two locf window gates collects their bounds from the
    raw pages: fewer Spark jobs than running the hourly series pipeline
    for its min/max (4 jobs) before the result runs it again."""
    _, jobs = jobs_of(spark, lambda: gate.core_queries()[name](spark, SF_DIR), name)
    assert len(jobs) < 4
