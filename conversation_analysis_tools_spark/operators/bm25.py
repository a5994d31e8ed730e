"""Okapi BM25 scoring as native column expressions.

The standard lexical retrieval scorer the reference approximates with
its keyword-density relevance formula (pipeline/relevance_scorer.py);
BM25 adds document-length normalization and saturating TF, and is the
lexical half of hybrid (BM25 + vector) retrieval.

Scale shape: one tokenize+count shuffle, a broadcast of the per-query-term df table
(|query| rows) and the 1-row corpus stats, then a partial-aggregated
groupBy on doc_id. The corpus is scanned once; nothing O(n^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.operators.tfidf import (
    explode_tokens,
    term_counts,
)

#: Okapi term-frequency saturation and length normalization.
K1 = 1.2
B = 0.75


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """Per-doc BM25 score against ``query_terms``.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   [Robertson-Sparck
    Jones with the +1 floor], N = total docs, dl = token count of the
    doc, avgdl = mean dl over docs with >= 1 token, k1 = K1, b = B. Docs containing
    none of the query terms are absent from the result (score 0).
    """
    counts = term_counts(explode_tokens(docs))
    dl = counts.groupBy("doc_id").agg(F.sum("cnt").alias("dl"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    stats = n_docs.crossJoin(avgdl)

    hits = counts.where(F.col("term").isin(query_terms))
    df_t = hits.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("cnt") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("cnt") * (K1 + 1) / denom
    return (
        hits.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )
