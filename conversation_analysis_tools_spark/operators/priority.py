"""Multi-factor priority classification (N21-N25), reference-exact.

Semantics (pipeline/priority_classifier.py):
* length score: word_count = len(text.split());
  <50 -> 0.1, <200 -> 0.5, <500 -> 0.8, else 1.0 (:77-101, defaults :51-55)
* keyword score: any critical substring -> 1.0 (max-combine), else any
  high substring -> 0.7, else 0.0; match on lowered text (:103-140)
* combined: normalized weights {relevance .4, length .2,
  keyword_match .3, recency .1}; recency defaults 0.5 (:142-176)
* level: >=0.85 CRITICAL, >=0.65 HIGH, >=0.45 MEDIUM, >=0.25 LOW,
  else NONE (:178-198)

Pure column expressions -> zero shuffles beyond whatever produced the
relevance column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_WEIGHTS = {"relevance": 0.4, "length": 0.2, "keyword_match": 0.3, "recency": 0.1}
LEVELS = {"critical": 0.85, "high": 0.65, "medium": 0.45, "low": 0.25}
LENGTHS = {"min_words": 50, "substantial": 200, "comprehensive": 500}
#: The reference's default recency score; no caller supplies one.
RECENCY = 0.5


def length_score_expr() -> Column:
    from conversation_analysis_tools_spark.functions.text import ws_trim_expr

    wc = F.size(F.split(ws_trim_expr(F.col("text")), r"\s+"))
    return (
        F.when(wc < LENGTHS["min_words"], 0.1)
        .when(wc < LENGTHS["substantial"], 0.5)
        .when(wc < LENGTHS["comprehensive"], 0.8)
        .otherwise(1.0)
    )


def keyword_score_expr(critical: list[str], high: list[str]) -> Column:
    t = F.lower(F.col("text"))
    any_crit = None
    for kw in critical:
        c = t.contains(kw.lower())
        any_crit = c if any_crit is None else (any_crit | c)
    any_high = None
    for kw in high:
        c = t.contains(kw.lower())
        any_high = c if any_high is None else (any_high | c)
    expr = F.lit(0.0)
    if any_high is not None:
        expr = F.when(any_high, 0.7).otherwise(expr)
    if any_crit is not None:
        expr = F.when(any_crit, 1.0).otherwise(expr)
    return expr


def combined_score_expr(
    relevance: Column,
    length: Column,
    keyword: Column,
    weights: dict[str, float] | None = None,
) -> Column:
    w = dict(weights or DEFAULT_WEIGHTS)
    total = sum(w.values())
    # Skip normalization when weights already sum to 1: dividing by a
    # 1.0000000000000002 float total would perturb every weight by an
    # ulp and make threshold comparisons engine-dependent.
    if abs(total - 1.0) > 1e-12:
        w = {k: v / total for k, v in w.items()}
    return (
        F.lit(w["relevance"]) * relevance
        + F.lit(w["length"]) * length
        + F.lit(w["keyword_match"]) * keyword
        + F.lit(w["recency"]) * F.lit(RECENCY)
    )


def level_expr(score: Column) -> Column:
    return (
        F.when(score >= LEVELS["critical"], "CRITICAL")
        .when(score >= LEVELS["high"], "HIGH")
        .when(score >= LEVELS["medium"], "MEDIUM")
        .when(score >= LEVELS["low"], "LOW")
        .otherwise("NONE")
    )


def classify(
    docs: DataFrame,
    relevance_col: str,
    critical: list[str],
    high: list[str],
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """N25 batch classify: adds length/keyword/priority score + level."""
    length = length_score_expr()
    keyword = keyword_score_expr(critical, high)
    combined = combined_score_expr(F.col(relevance_col), length, keyword, weights)
    return (
        docs.withColumn("length_score", length)
        .withColumn("keyword_score", keyword)
        .withColumn("priority_score", combined)
        .withColumn("priority_level", level_expr(F.col("priority_score")))
    )
