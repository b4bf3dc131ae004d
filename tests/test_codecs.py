"""Codec gates: (1) vectorized numpy bitstreams byte-identical to the
pure-Python oracle; (2) round-trip decode equality; (3) the Spark chunk
table (one Exchange on host, sorted mapInArrow, one vectorized encode pass
per Arrow batch) round-trips to the exact tier rows (FIXTURES.md chunks
table) and matches the oracle byte for byte, also when groups and
max_points_per_chunk cuts straddle Arrow batch boundaries."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from oracle import reference as oracle
from mimirsbrunn_spark import codecs, plans, series, tiers


def test_dod_bitstream_matches_oracle_simple():
    ts = np.array([0, 60, 120, 180, 600, 660, 100000], dtype=np.int64)
    assert codecs.encode_dod(ts) == oracle.encode_dod_py(ts)
    assert np.array_equal(codecs.decode_dod(codecs.encode_dod(ts), ts[0], len(ts)), ts)


def test_gorilla_bitstream_matches_oracle_simple():
    v = np.array([5, 5, 7, 7, 0, -3, 2**40, 2**40 + 1], dtype=np.int64)
    assert codecs.encode_gorilla(v) == oracle.encode_gorilla_py(v)
    assert np.array_equal(
        codecs.decode_gorilla(codecs.encode_gorilla(v), v[0], len(v)), v
    )


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200),
)
def test_dod_roundtrip_property(deltas):
    ts = np.cumsum(np.array([1_700_000_000] + deltas, dtype=np.int64))
    enc = codecs.encode_dod(ts)
    assert enc == oracle.encode_dod_py(ts)
    assert np.array_equal(codecs.decode_dod(enc, ts[0], len(ts)), ts)
    assert np.array_equal(oracle.decode_dod_py(enc, ts[0], len(ts)), ts)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=200
    )
)
def test_gorilla_roundtrip_property(vals):
    v = np.array(vals, dtype=np.int64)
    enc = codecs.encode_gorilla(v)
    assert enc == oracle.encode_gorilla_py(v)
    assert np.array_equal(codecs.decode_gorilla(enc, v[0], len(v)), v)
    assert np.array_equal(oracle.decode_gorilla_py(enc, v[0], len(v)), v)


def test_edge_cases():
    one = np.array([42], dtype=np.int64)
    assert codecs.encode_dod(one) == b"" == oracle.encode_dod_py(one)
    assert codecs.encode_gorilla(one) == b"" == oracle.encode_gorilla_py(one)
    assert np.array_equal(codecs.decode_dod(b"", 42, 1), one)
    assert np.array_equal(codecs.decode_gorilla(b"", 42, 1), one)


def test_spark_chunks_roundtrip(spark, pages_df, pages_pdf):
    base = series.series_1m(pages_df)
    hourly = tiers.host_series(tiers.rollup(base, "1h"))
    chunks = codecs.encode_chunks(hourly, "1h").toPandas()

    decoded = codecs.decode_chunks_pdf(chunks)
    decoded["bucket_ts"] = decoded["bucket_ts"].astype("datetime64[us]")
    want = oracle.host_series(oracle.rollup(oracle.series_1m(pages_pdf), "1h"))
    d = decoded.sort_values(["host", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    w = want.sort_values(["host", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        d[["host", "bucket_ts", "doc_count", "bytes_sum"]],
        w[["host", "bucket_ts", "doc_count", "bytes_sum"]],
        check_dtype=False,
    )

    # bitstreams byte-identical to oracle chunks
    want_chunks = oracle.chunks_for_tier(
        oracle.rollup(oracle.series_1m(pages_pdf), "1h"), "1h"
    )
    got = chunks.sort_values("host").reset_index(drop=True)
    wc = want_chunks.sort_values("host").reset_index(drop=True)
    assert (got["host"] == wc["host"]).all()
    for col in ("ts_dod", "val_gorilla", "bytes_gorilla"):
        assert all(bytes(a) == bytes(b) for a, b in zip(got[col], wc[col])), col

    # compression actually compresses: < 8 bytes/point overall for timestamps
    total_points = int(chunks["n_points"].sum())
    total_ts_bytes = int(chunks["ts_dod"].map(len).sum())
    assert total_ts_bytes < 8 * total_points


def test_multi_chunk_roundtrip(spark, pages_df, pages_pdf):
    """Bounded chunk size: series splits into multiple chunks per host and
    still round-trips exactly."""
    base = series.series_1m(pages_df)
    hourly = tiers.host_series(tiers.rollup(base, "1h"))
    chunks = codecs.encode_chunks(hourly, "1h", max_points_per_chunk=50).toPandas()
    per_host = chunks.groupby("host").size()
    assert (per_host > 1).any()
    assert (chunks["n_points"] <= 50).all()

    decoded = codecs.decode_chunks_pdf(chunks)
    decoded["bucket_ts"] = decoded["bucket_ts"].astype("datetime64[us]")
    want = oracle.host_series(oracle.rollup(oracle.series_1m(pages_pdf), "1h"))
    d = decoded.sort_values(["host", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    w = want.sort_values(["host", "bucket_ts"], kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        d[["host", "bucket_ts", "doc_count", "bytes_sum"]],
        w[["host", "bucket_ts", "doc_count", "bytes_sum"]],
        check_dtype=False,
    )


def test_chunk_partition_col_matches_driver_twin_beyond_9999_buckets(spark):
    """The Spark-side partition key and the driver-side probe twin must
    agree for host_buckets > 9999: printf-style %04d zero-pads to a MINIMUM
    width (no truncation), while the old lpad SHORTENED 5-digit buckets to
    4 chars — written partition '1234|…' vs probed '12345|…' = rows
    silently unreachable by read_chunks."""
    import datetime as dt

    from mimirsbrunn_spark.codecs import chunk_host_bucket, chunk_partition_col

    hosts = [f"host-{i:03d}.example.com" for i in range(40)]
    df = spark.createDataFrame(
        [(h, dt.datetime(2024, 1, 1)) for h in hosts],
        "host string, chunk_start timestamp",
    )
    for buckets in (64, 20000):
        got = {
            r.host: r.pk
            for r in df.withColumn("pk", chunk_partition_col(buckets)).collect()
        }
        for h in hosts:
            want = f"{chunk_host_bucket(h, buckets)}|2024-01"
            assert got[h] == want, (h, buckets, got[h], want)


# --------------------------------------------------------------------------
# encode_chunks vs the pure-Python oracle encoders, batch boundaries included
# --------------------------------------------------------------------------

SERIES_SCHEMA = "host string, bucket_ts timestamp, doc_count long, bytes_sum long"


def _crafted_series() -> pd.DataFrame:
    """Host series with groups of 1..40 points spanning many UTC months,
    irregular gaps (every delta-of-delta range incl. the 64-bit one), large
    XORs, and a NULL-host group."""
    rng = np.random.default_rng(5)
    rows = []
    hosts = ["a.example", "b.example", "c.example", "d.example", "e.example", None]
    for host, n in zip(hosts, (1, 2, 7, 13, 40, 9)):
        t = 1_704_067_200 + int(rng.integers(0, 40)) * 86_400  # 2024-01-01 + days
        for i in range(n):
            t += int(rng.choice([3600, 3600, 7200, 86_400, 2_000_000, 90_000_000]))
            rows.append(
                (
                    host,
                    pd.Timestamp(t, unit="s"),
                    int(rng.integers(0, 50)),
                    int(rng.integers(0, 2**62)) if i % 3 else 10**6,
                )
            )
    return pd.DataFrame(rows, columns=["host", "bucket_ts", "doc_count", "bytes_sum"])


def _want_chunks(pdf: pd.DataFrame, tier: str, max_points, split_by_month) -> list:
    sec_all = pdf["bucket_ts"].astype("datetime64[us]").astype("int64") // 1_000_000
    pdf = pdf.assign(_sec=sec_all, _month=pdf["bucket_ts"].dt.strftime("%Y-%m"))
    keys = ["host", "_month"] if split_by_month else ["host"]
    out = []
    for _, g in pdf.groupby(keys, dropna=False, sort=False):
        g = g.sort_values("_sec", kind="mergesort")
        sec = g["_sec"].to_numpy()
        dc = g["doc_count"].to_numpy()
        bs = g["bytes_sum"].to_numpy()
        step = max_points or len(sec)
        for lo in range(0, len(sec), step):
            hi = min(lo + step, len(sec))
            out.append(
                (
                    g["host"].iloc[0], tier, int(sec[lo]),
                    oracle.encode_dod_py(sec[lo:hi]),
                    oracle.encode_gorilla_py(dc[lo:hi]),
                    oracle.encode_gorilla_py(bs[lo:hi]),
                    hi - lo, int(sec[lo]), int(dc[lo]), int(bs[lo]), int(sec[hi - 1]),
                )
            )
    return sorted(out, key=lambda r: (r[0] is not None, r[0] or "", r[2]))


def _got_chunks(chunks_df) -> list:
    got = [
        (
            r.host, r.tier, int(pd.Timestamp(r.chunk_start).timestamp()),
            bytes(r.ts_dod), bytes(r.val_gorilla), bytes(r.bytes_gorilla),
            r.n_points, r.first_ts, r.first_val, r.first_bytes, r.last_ts,
        )
        for r in chunks_df.collect()
    ]
    return sorted(got, key=lambda r: (r[0] is not None, r[0] or "", r[2]))


@pytest.mark.parametrize(
    "max_points,split_by_month", [(None, False), (None, True), (4, False), (5, True)]
)
def test_encode_chunks_across_arrow_batches_matches_oracle(spark, max_points, split_by_month):
    """Arrow batches of 7 rows cut most groups (and most max_points cuts)
    across batches; the carried group must encode exactly as one whole
    group would. The NULL host is a group of its own, as in groupBy."""
    pdf = _crafted_series()
    df = spark.createDataFrame(pdf, SERIES_SCHEMA)
    want = _want_chunks(pdf, "1h", max_points, split_by_month)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = _got_chunks(codecs.encode_chunks(df, "1h", max_points, split_by_month))
    finally:
        spark.conf.set(key, old)
    assert got == want
    assert any(r[0] is None for r in got)
    if split_by_month:  # the month cut is exercised: some host spans months
        assert len(got) > len(_want_chunks(pdf, "1h", max_points, False))


@pytest.mark.parametrize("split_by_month", [False, True])
def test_encode_chunks_empty_input_and_one_exchange(spark, split_by_month):
    empty = spark.createDataFrame(_crafted_series().iloc[:0], SERIES_SCHEMA)
    ch = codecs.encode_chunks(empty, "1h", 3, split_by_month)
    assert ch.collect() == []
    # the only shuffle is the hash on host: no per-group Exchange, no
    # second pass (the input is a local relation with none of its own)
    assert plans.count_exchanges(ch) == 1


CHUNK_COLS = [
    "host", "tier", "chunk_start", "ts_dod", "val_gorilla", "bytes_gorilla",
    "n_points", "first_ts", "first_val", "first_bytes", "last_ts",
]


def test_decode_batch_of_chunks_matches_per_chunk_and_oracle(spark):
    """One batch of many chunks — bitstreams from ``oracle.encode_*_py``,
    with 1-point chunks, 64-bit delta-of-delta escapes and 62-bit XORs —
    decodes in one pass (``_decode_table``, also sliced into many passes,
    and through ``decode_chunks`` over 7-row Arrow batches) to exactly the
    per-chunk ``decode_dod``/``decode_gorilla`` points and the source
    series."""
    import pyarrow as pa

    pdf = _crafted_series()
    sec = pdf["bucket_ts"].astype("datetime64[us]").astype("int64") // 1_000_000
    want = sorted(
        zip(pdf["host"].fillna("~"), sec, pdf["doc_count"], pdf["bytes_sum"])
    )
    for max_points in (None, 5):
        rows = _want_chunks(pdf, "1h", max_points, True)
        assert any(r[6] == 1 for r in rows)
        t = pa.Table.from_pylist([dict(zip(CHUNK_COLS, r)) for r in rows])
        per_chunk = [
            np.concatenate([dec(r[i], r[f], r[6]) for r in rows])
            for dec, i, f in (
                (codecs.decode_dod, 3, 7),
                (codecs.decode_gorilla, 4, 8),
                (codecs.decode_gorilla, 5, 9),
            )
        ]
        assert np.diff(per_chunk[0]).max() > 2048  # 64-bit dod escapes
        assert np.abs(per_chunk[2]).max() >= 2**61  # 62-bit XORs
        one = codecs._decode_table(t)
        got = [
            one["bucket_ts"].cast(pa.int64()).to_numpy() // 1_000_000,
            one["doc_count"].to_numpy(),
            one["bytes_sum"].to_numpy(),
        ]
        for g, w in zip(got, per_chunk):
            assert np.array_equal(g, w)
        hosts = [h or "~" for h in one["host"].to_pylist()]
        assert sorted(zip(hosts, *got)) == want
        assert one["tier"].to_pylist() == ["1h"] * len(want)

        old = codecs._DECODE_SLICE_BYTES
        codecs._DECODE_SLICE_BYTES = 16
        try:
            assert codecs._decode_table(t).equals(one)
        finally:
            codecs._DECODE_SLICE_BYTES = old

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        dec = codecs.decode_chunks(spark.createDataFrame(t)).toArrow()
    finally:
        spark.conf.set(key, old)
    secs = dec["bucket_ts"].cast(pa.int64()).to_numpy() // 1_000_000
    hosts = [h or "~" for h in dec["host"].to_pylist()]
    assert sorted(zip(hosts, secs, dec["doc_count"].to_numpy(), dec["bytes_sum"].to_numpy())) == want
