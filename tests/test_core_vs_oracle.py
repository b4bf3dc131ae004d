"""Engine vs single-node oracle: exact match at every tier (the north-star
gate). Mirrors the reference's golden end-to-end assertions
(/root/reference/tests/bragi_three_cities_test.rs:88-111)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from oracle import reference as oracle
from mimirsbrunn_spark import gapfill as gf
from mimirsbrunn_spark import series, tiers
from mimirsbrunn_spark.ingest import (
    check_duplicate_payloads,
    check_text_invariant,
    dedup_pages,
)


def normalize(pdf: pd.DataFrame, keys) -> pd.DataFrame:
    return pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)


def assert_frames_equal(a: pd.DataFrame, b: pd.DataFrame, keys):
    a, b = normalize(a, keys), normalize(b, keys)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            assert np.array_equal(av, bv, equal_nan=True), f"col {c} differs"
        else:
            assert (av == bv).all(), f"col {c} differs"


def to_pdf(df):
    pdf = df.toPandas()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf


def test_text_invariant(pages_df):
    assert check_text_invariant(pages_df) == 0


def test_duplicate_payloads_exact(pages_df):
    assert check_duplicate_payloads(pages_df) == 0


def test_dedup_matches_oracle(pages_df, pages_pdf):
    got = dedup_pages(pages_df).count()
    want = len(oracle.dedup_pages(pages_pdf))
    assert got == want
    assert got < pages_df.count()  # duplicates existed


def test_all_tiers_exact_match(pages_df, pages_pdf):
    want = oracle.all_tiers(pages_pdf)
    base = series.series_1m(pages_df)
    got = tiers.cascade(base)
    for tier in oracle.TIER_ORDER:
        g = to_pdf(got[tier])
        w = want[tier]
        assert_frames_equal(
            g[["host", "bucket_ts", "lang", "doc_count", "bytes_sum"]],
            w,
            keys=["host", "bucket_ts", "lang"],
        )


def test_gapfill_exact_match(pages_df, pages_pdf):
    base_o = oracle.series_1m(pages_pdf)
    tier_o = oracle.rollup(base_o, "1h")
    want = oracle.gapfill(tier_o, "1h")

    base = series.series_1m(pages_df)
    tier = tiers.rollup(base, "1h")
    got = to_pdf(gf.gapfill(tiers.host_series(tier), "1h"))
    got = got[["host", "bucket_ts", "metric", "value_locf", "value_linear", "is_filled"]]
    assert_frames_equal(got, want, keys=["host", "metric", "bucket_ts"])
    assert got["is_filled"].any()  # gaps actually exercised


def test_gapfill_1d_exact_match(pages_df, pages_pdf):
    tier_o = oracle.rollup(oracle.rollup(oracle.series_1m(pages_pdf), "1h"), "1d")
    want = oracle.gapfill(tier_o, "1d")
    base = series.series_1m(pages_df)
    t = tiers.rollup(tiers.rollup(base, "1h"), "1d")
    got = to_pdf(gf.gapfill(tiers.host_series(t), "1d"))
    got = got[["host", "bucket_ts", "metric", "value_locf", "value_linear", "is_filled"]]
    assert_frames_equal(got, want, keys=["host", "metric", "bucket_ts"])


def test_gapfill_per_lang_exact_match(pages_df, pages_pdf):
    """Per-language gap-filled series (north star: per-language doc-count
    series) — engine vs oracle, exact."""
    tier_o = oracle.rollup(oracle.series_1m(pages_pdf), "1d")
    want = oracle.gapfill(tier_o, "1d", by=("host", "lang"))

    base = series.series_1m(pages_df)
    t = tiers.rollup(base, "1d")
    lang_series = t.groupBy("host", "lang", "bucket_ts").agg(
        F.sum("doc_count").alias("doc_count"), F.sum("bytes_sum").alias("bytes_sum")
    )
    got = to_pdf(gf.gapfill(lang_series, "1d", by=("host", "lang")))
    got = got[["host", "lang", "bucket_ts", "metric", "value_locf", "value_linear", "is_filled"]]
    want = want[["host", "lang", "bucket_ts", "metric", "value_locf", "value_linear", "is_filled"]]
    assert_frames_equal(got, want, keys=["host", "lang", "metric", "bucket_ts"])
