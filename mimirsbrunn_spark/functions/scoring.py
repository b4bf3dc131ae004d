"""Search scoring functions (G-family, SURVEY.md §2.8).

G10: the combination minimum_should_match ladder behind every fuzzy search
in the reference (/root/reference/libs/bragi/src/query.rs:346-376):
``1<-1 3<-2 9<-4 20<25%`` — for a query with n optional token clauses, the
spec of the LARGEST threshold strictly below n applies (Elasticsearch
combination semantics); a negative spec means "n - |v| required", a percent
spec means ``floor(n * pct)``.

All pure column math — no UDF, broadcastable into any scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def msm_required(n_col):
    """Required clause matches for ``n_col`` optional clauses under the
    reference's empirical ladder (1→-1, 3→-2, 9→-4, 20→25%)."""
    n = n_col.cast("long")
    return (
        F.when(n <= 1, n)
        .when(n <= 3, n - 1)
        .when(n <= 9, n - 2)
        .when(n <= 20, n - 4)
        .otherwise(F.floor(n * 0.25).cast("long"))
    )


def clause_overlap(query_tokens_col, doc_tokens_col):
    """Number of query CLAUSES whose token appears in the document's token
    set (duplicate query tokens count as separate clauses, as in a bool
    query with repeated should terms)."""
    return F.size(
        F.filter(query_tokens_col, lambda t: F.array_contains(doc_tokens_col, t))
    ).cast("long")


def zoom_ratio(radius_col, min_radius: float, max_radius: float):
    """G9: zoom-ratio linear interpolation parameter
    (query.rs:253-295): clamp the proximity radius into [min, max], then
    ``(ln1p(r) - ln1p(min)) / (ln1p(max) - ln1p(min))`` — 0 at min zoom,
    1 at max."""
    import math

    r = F.least(F.greatest(radius_col.cast("double"), F.lit(float(min_radius))), F.lit(float(max_radius)))
    lo, hi = math.log1p(min_radius), math.log1p(max_radius)
    return (F.log1p(r) - F.lit(lo)) / F.lit(hi - lo)


def blend_weight(zoom_col, min_weight, max_weight):
    """G9: the (1-z)*min + z*max linear combination applied to each weight
    parameter (admin / factor / missing in the reference)."""
    return (1 - zoom_col) * F.lit(float(min_weight)) + zoom_col * F.lit(float(max_weight))


def field_value_factor(weight_col, factor: float = 1.0, missing: float = 0.0, modifier: str | None = None):
    """G8: ES field_value_factor — coalesce(weight, missing) * factor, with
    an optional 'log1p' modifier (query.rs:154-157)."""
    v = F.coalesce(weight_col.cast("double"), F.lit(float(missing))) * F.lit(float(factor))
    if modifier == "log1p":
        return F.log1p(v)
    if modifier is not None:
        raise ValueError(f"unknown modifier {modifier!r}")
    return v


def importance_score(
    doc_type_col,
    weight_col,
    type_weights: dict[str, float],
    factor: float = 1.0,
    missing: float = 0.0,
    modifier: str | None = None,
):
    """G12: the function_score importance blend (query.rs:150-172
    build_with_weight, boost_mode=replace): per-doc-type weight ×
    field_value_factor(weight, factor, missing). Unknown doc types score 0
    (no matching function)."""
    tw = F.lit(0.0)
    for t, w in type_weights.items():
        tw = F.when(doc_type_col == t, F.lit(float(w))).otherwise(tw)
    return tw * field_value_factor(weight_col, factor, missing, modifier)
