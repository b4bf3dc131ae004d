"""Round-5 breadth operators: exponential smoothing (EWMA / Holt linear /
Holt forecast), duplicate-passage detection, and TF-IDF keyword extraction
— crafted-corpus value checks vs independent python recursions, hash-vs-
string key equivalence, and funnel splits."""

import math

import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.operators import keywords, passages, smooth

# --------------------------------------------------------------------------
# smoothing
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def series_df(spark):
    rows = []
    for h, vals in (("a", [10, 20, 5, 40, 40]), ("b", [7]), ("c", [0, 0, 100])):
        for i, v in enumerate(vals):
            rows.append((h, i * 3600, v))
    return spark.createDataFrame(rows, "host string, bucket_sec long, value long")


def _py_ewma(vals, alpha):
    out, acc = [], None
    for i, x in enumerate(vals):
        acc = float(x) if i == 0 else alpha * float(x) + (1.0 - alpha) * acc
        out.append(acc)
    return out


def _py_holt(vals, sf, tf):
    lv, tr = [], []
    s, b = float(vals[0]), 0.0
    lv.append(s)
    tr.append(b)
    for x in vals[1:]:
        s_new = sf * float(x) + (1.0 - sf) * (s + b)
        b = tf * (s_new - s) + (1.0 - tf) * b
        s = s_new
        lv.append(s)
        tr.append(b)
    return lv, tr


def test_ewma_matches_python_recursion(spark, series_df):
    got = smooth.ewma(series_df, 0.25).orderBy("host", "bucket_sec").collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r)
    assert set(by_host) == {"a", "b", "c"}
    for h, vals in (("a", [10, 20, 5, 40, 40]), ("b", [7]), ("c", [0, 0, 100])):
        want = _py_ewma(vals, 0.25)
        assert [r.ewma for r in by_host[h]] == want  # bit-identical recursion


def test_holt_matches_python_recursion(spark, series_df):
    got = (
        smooth.holt_linear(series_df, 0.5, 0.25)
        .orderBy("host", "bucket_sec")
        .collect()
    )
    a_rows = [r for r in got if r.host == "a"]
    lv, tr = _py_holt([10, 20, 5, 40, 40], 0.5, 0.25)
    assert [r.smooth for r in a_rows] == lv
    assert [r.trend for r in a_rows] == tr
    # single-point series: level = the point, trend = 0 (pinned init)
    b_row = [r for r in got if r.host == "b"][0]
    assert b_row.smooth == 7.0 and b_row.trend == 0.0


def test_forecast_holt_linear_extrapolation(spark, series_df):
    fc = smooth.forecast_holt(
        series_df, 0.5, 0.25, horizon_buckets=3, bucket_sec=3600
    )
    rows = {(r.host, r.step): r for r in fc.collect()}
    assert len(rows) == 9  # 3 hosts x 3 steps
    lv, tr = _py_holt([10, 20, 5, 40, 40], 0.5, 0.25)
    for step in (1, 2, 3):
        r = rows[("a", step)]
        assert r.forecast == lv[-1] + step * tr[-1]
        assert r.bucket_sec == 4 * 3600 + step * 3600
    # zero-trend single point forecasts flat
    assert rows[("b", 3)].forecast == 7.0


def test_smoothing_factor_validation(series_df):
    with pytest.raises(ValueError):
        smooth.ewma(series_df, 0.0)
    with pytest.raises(ValueError):
        smooth.holt_linear(series_df, 1.0, 0.5)


# --------------------------------------------------------------------------
# duplicate passages
# --------------------------------------------------------------------------

_T = [f"tok{i:02d}" for i in range(40)]  # 40 distinct tokens
_X = [f"rep{i:02d}" for i in range(20)]  # 20-token repeated block


@pytest.fixture(scope="module")
def pass_corpus(spark):
    rows = [
        (1, " ".join(_T)),                      # 3 spans (i=1,11,21)
        (2, " ".join(_T[:20] + [f"new{i}" for i in range(20)])),  # shares span 1
        (3, " ".join(f"uniq{i}" for i in range(25))),             # all unique
        (4, "short doc"),                        # 0 spans
        (5, " ".join(_X + _X)),                  # internal repetition
        (6, None),                               # NULL text
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_passages_values(spark, pass_corpus):
    got = {r.doc_id: r for r in passages.duplicate_passages(pass_corpus).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    # docs 1/2 share exactly the first 20-token window
    assert got[1].total_spans == 3 and got[1].dup_spans == 1
    assert got[2].total_spans == 3 and got[2].dup_spans == 1
    assert got[3].total_spans == 1 and got[3].dup_spans == 0
    # doc 5: spans at i=1 and i=21 are both X -> internal repetition counts
    assert got[5].total_spans == 3 and got[5].dup_spans == 2
    assert got[5].dup_frac == 2.0 / 3.0
    for d in (4, 6):
        assert got[d].total_spans == 0 and got[d].dup_spans == 0
        assert got[d].dup_frac == 0.0


def test_passages_hashed_equals_string_keys(spark, pass_corpus):
    a = passages.duplicate_passages(pass_corpus, hasher="none")
    b = passages.duplicate_passages(pass_corpus, hasher="xxhash64")
    rows_a = {tuple(r) for r in a.collect()}
    rows_b = {tuple(r) for r in b.collect()}
    assert rows_a == rows_b


def test_drop_duplicated_docs_funnel(spark, pass_corpus):
    kept, dropped = passages.drop_duplicated_docs(pass_corpus, max_dup_frac=0.5)
    assert {r.doc_id for r in dropped.collect()} == {5}  # 2/3 > 0.5
    assert {r.doc_id for r in kept.collect()} == {1, 2, 3, 4, 6}
    assert "dup_frac" in kept.columns  # stats ride along for funnel reports


# --------------------------------------------------------------------------
# TF-IDF keywords
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def kw_corpus(spark):
    rows = [
        (1, "apple apple banana common"),
        (2, "banana common common"),
        (3, "cherry common"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tfidf_ranking_and_scores(spark, kw_corpus):
    out = keywords.tfidf_topk(kw_corpus, k=5).collect()
    d1 = sorted([r for r in out if r.doc_id == 1], key=lambda r: r.rank)
    # integer-lexicographic order: tf desc, then df asc, then term asc
    assert [(r.term, r.tf, r.df) for r in d1] == [
        ("apple", 2, 1), ("banana", 1, 2), ("common", 1, 3)
    ]
    assert d1[0].score_r == round(2.0 * math.log(3.0 / 1.0), 6)
    assert d1[2].score_r == 0.0  # ln(3/3) = 0
    d3 = sorted([r for r in out if r.doc_id == 3], key=lambda r: r.rank)
    assert d3[0].term == "cherry"  # rarer term outranks equal-tf common


def test_tfidf_k_truncation_and_df_pruning(spark, kw_corpus):
    top1 = keywords.tfidf_topk(kw_corpus, k=1).collect()
    assert {(r.doc_id, r.term) for r in top1} == {
        (1, "apple"), (2, "common"), (3, "cherry")
    }
    # max_df_frac=0.5 on N=3 prunes df>=2 terms (banana, common)
    pruned = keywords.tfidf_topk(kw_corpus, k=5, max_df_frac=0.5).collect()
    assert {r.term for r in pruned} == {"apple", "cherry"}


def test_tfidf_tie_break_by_term(spark):
    df = spark.createDataFrame(
        [(1, "zeta alpha"), (2, "unrelated words")], "doc_id long, text string"
    )
    d1 = sorted(
        [r for r in keywords.tfidf_topk(df, k=2).collect() if r.doc_id == 1],
        key=lambda r: r.rank,
    )
    assert [r.term for r in d1] == ["alpha", "zeta"]  # same tf/df -> term asc


def test_tfidf_runs_no_job_to_build(spark, kw_corpus, jobs_of):
    """The corpus size N is a one-row aggregate inside the plan: building
    the top-k DataFrame runs no Spark job, and N still reaches the score."""
    out, jobs = jobs_of(spark, lambda: keywords.tfidf_topk(kw_corpus, k=1), "tfidf_build")
    assert len(jobs) == 0
    got = {(r.doc_id, r.term): r.score_r for r in out.collect()}
    assert got[(1, "apple")] == round(2.0 * math.log(3.0 / 1.0), 6)
