"""TF-IDF keyword extraction — top-k characteristic terms per document,
the standard corpus-analysis/labeling stage of a training-data pipeline
(topic tagging, domain mixing diagnostics, search-side term weighting).

Ranking is INTEGER-lexicographic — (tf DESC, df ASC, term ASC) — so the
top-k set is bit-identical across engines regardless of float ulp; the
float tf·idf score is carried as an output column (rounded to 6 per the
engine float rule, gate.py docstring), never as the sort key. idf uses
the raw ln(N/df) form (df ≥ 1 for every emitted term, so no smoothing
epsilon is needed and the formula stays identical in both engines).

Scale shape: one explode → groupBy (doc, term) [Exchange 1] → groupBy
term for document frequencies [Exchange 2] → join tf⋈df on term (rides
Exchange 2's partitioning) → per-doc row_number window [Exchange 3 on
doc]. The df side is one row per distinct term (Zipf-bounded); hot terms
(stopwords) are aggregated BEFORE the join so the skewed raw explode
never crosses a join. ``min_df``/``max_df_frac`` prune ubiquitous and
hapax terms before the window — at 100 TB that is also the memory guard
for the per-doc window.

N (corpus size) is a one-row aggregate broadcast-joined onto the df
side as a scalar column, so building the plan runs no Spark job.

Reference analog: the reference boosts rare-term matches through its
scoring ladder (/root/reference/libs/bragi/src/query.rs — the
minimum_should_match / field-boost family, SURVEY.md §2 G8/G10); tf·idf
is that weighting made corpus-explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import decontam


def term_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_col, term, tf): one row per (document, distinct term)."""
    toks = decontam.norm_tokens(F.col(text_col))
    return (
        docs.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """Top-k TF-IDF terms per document: (id_col, term, tf, df, score_r,
    rank)."""
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    n = F.col("_n")
    tf = term_frequencies(docs, id_col=id_col, text_col=text_col)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    df_ = df_.crossJoin(F.broadcast(n_docs)).where(
        (F.col("df") >= int(min_df)) & (F.col("df") <= F.lit(float(max_df_frac)) * n)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    score = F.round(F.col("tf").cast("double") * F.log(n / F.col("df").cast("double")), 6)
    return (
        tf.join(df_, "term")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= int(k))
        .select(id_col, "term", "tf", "df", score.alias("score_r"), "rank")
    )
