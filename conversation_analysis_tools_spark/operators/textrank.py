"""TextRank extractive ranking (N13-N15) as a grouped-pandas operator.

Reference: per-document power iteration over a row-normalized sentence
similarity matrix, damping 0.85, init 1/n, atol=1e-6, max 100 iters
(pipeline/summarizer.py:122-159); similarity = |t1 ∩ t2| /
sqrt(|t1|·|t2|) on distinct-token sets (:78-100).

Spark grain (SURVEY §4 item 3): one *group* = one similarity graph;
the matrix for a group is tiny, so ``applyInPandas`` per group is the
right physical strategy -- Arrow-batched, one shuffle on the group
key, numpy inside. Tokenization happens Spark-side (JVM) so Python
only sees token arrays, not raw text.

Used two ways:
* sentence grain: group = doc_id, node = sentence  (the reference's)
* document grain: group = source, node = document  (corpus ranking)
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _textrank_scores(sets: list[set], damping: float) -> np.ndarray:
    """Power iteration identical to the reference (summarizer.py:122-159),
    at most 100 rounds."""
    n = len(sets)
    if n == 0:
        return np.array([])
    m = np.zeros((n, n))
    for i in range(n):
        for j in range(i + 1, n):
            if sets[i] and sets[j]:
                denom = math.sqrt(len(sets[i]) * len(sets[j]))
                sim = len(sets[i] & sets[j]) / denom if denom > 0 else 0.0
            else:
                sim = 0.0
            m[i][j] = sim
            m[j][i] = sim
    row_sums = m.sum(axis=1)
    row_sums[row_sums == 0] = 1
    norm = m / row_sums[:, np.newaxis]
    scores = np.ones(n) / n
    for _ in range(100):
        prev = scores.copy()
        scores = (1 - damping) / n + damping * norm.T @ prev
        if np.allclose(scores, prev, atol=1e-6):
            break
    return scores


def textrank_rank(
    df: DataFrame,
    group_col: str,
    node_col: str,
    tokens_col: str,
) -> DataFrame:
    """Rank nodes within each group by TextRank score (damping 0.85).

    Input: (group, node_id, tokens array<string>). Output:
    (group, node_id, score, rank) -- rank 1 = highest score, ties
    broken by node id (deterministic).
    """
    out_schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField(node_col, LongType()),
            StructField("score", DoubleType()),
            StructField("rank", LongType()),
        ]
    )

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(node_col).reset_index(drop=True)
        sets = [set(t) if t is not None else set() for t in pdf[tokens_col]]
        scores = _textrank_scores(sets, 0.85)
        out = pd.DataFrame(
            {
                group_col: pdf[group_col],
                node_col: pdf[node_col],
                "score": scores,
            }
        )
        out = out.sort_values(["score", node_col], ascending=[False, True])
        out["rank"] = range(1, len(out) + 1)
        return out

    return (
        df.select(group_col, node_col, tokens_col)
        .groupBy(group_col)
        .applyInPandas(rank_group, schema=out_schema)
    )


def doc_sentences(docs: DataFrame) -> DataFrame:
    """(id, text) -> (id, sent_idx, sentence, tokens): the reference's
    sentence split (``[.!?]+``, strip, >= 3 words,
    summarizer.py:42-61) + its tokenizer, all JVM-side; sent_idx is
    the document-order position among *kept* sentences (the index the
    reference's ``sorted(ranked[:k])`` re-sort operates on)."""
    from conversation_analysis_tools_spark.functions.text import (
        sentences_expr,
        tokens_expr,
    )

    return docs.select(
        "doc_id", F.posexplode(sentences_expr("text")).alias("sent_idx", "sentence")
    ).withColumn("tokens", tokens_expr(F.col("sentence")))


def summarize_text(text: str | None, stop: frozenset, k: int, damping: float) -> tuple[int, str]:
    """One document's extractive summary (summarizer.py:161-242):
    sentence split, TextRank, top-k by ``np.argsort(scores)[::-1]``
    (same default sort => same tie-behavior on equal scores),
    re-sorted into DOCUMENT order, joined with ' '. <= k sentences
    are returned verbatim; zero sentences -> ''."""
    import re

    if not isinstance(text, str):
        return 0, ""
    parts = [s.strip() for s in re.split(r"[.!?]+", text) if s.strip()]
    sentences = [s for s in parts if len(s.split()) >= 3]
    n = len(sentences)
    if n == 0:
        return 0, ""
    if n <= k:
        return n, " ".join(sentences)
    sets = [
        {w for w in re.findall(r"\b[a-z]{3,}\b", s.lower()) if w not in stop}
        for s in sentences
    ]
    scores = _textrank_scores(sets, damping)
    top = sorted(np.argsort(scores)[::-1][:k])
    return n, " ".join(sentences[i] for i in top)


def summary_column(text_col, k: int = 3, damping: float = 0.85):
    """Column expression ``struct(n_sentences, summary)`` computed by a
    MAP-ONLY Arrow-batched pandas UDF -- the sentence graph never
    leaves its document, so summarization shuffles nothing and joins
    nothing: callers attach it to any relation that carries the text
    column. (An earlier groupBy(doc).applyInPandas draft spent more
    time on 5000 one-doc groups than on TextRank itself; the
    scalar-UDF form more than halved pipeline wall time.)"""
    from pyspark.sql.functions import pandas_udf

    from conversation_analysis_tools_spark.functions.text import STOPWORDS

    stop = frozenset(STOPWORDS)

    @pandas_udf("n_sentences bigint, summary string")
    def summ(texts: pd.Series) -> pd.DataFrame:
        pairs = [summarize_text(t, stop, k, damping) for t in texts]
        return pd.DataFrame(pairs, columns=["n_sentences", "summary"])

    return summ(F.col(text_col) if isinstance(text_col, str) else text_col)


def summarize_documents(docs: DataFrame, k: int = 3) -> DataFrame:
    """Sentence-grain extractive summary per document -> (id,
    n_sentences, summary). Reference-exact semantics via
    :func:`summarize_text`; plan is the map-only
    :func:`summary_column`. At 100 TB this stage pipelines with the
    scan."""
    s = summary_column("text", k).alias("_s")
    return docs.select("doc_id", s).select(
        "doc_id",
        F.col("_s.n_sentences").alias("n_sentences"),
        F.col("_s.summary").alias("summary"),
    )


def summarize_top_k(ranked: DataFrame, k: int = 3) -> DataFrame:
    """N14: keep top-k per group, re-sorted into document order
    (reference re-sorts selected sentences by position,
    summarizer.py:198)."""
    return ranked.where(F.col("rank") <= k).orderBy(F.col("doc_id"))


def key_nodes_by_threshold(
    ranked: DataFrame, group_col: str, threshold: float = 0.5
) -> DataFrame:
    """N15: max-normalize scores within group, keep >= threshold,
    sorted desc (summarizer.py:244-284)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col)
    normed = ranked.withColumn(
        "norm_score", F.col("score") / F.max("score").over(w)
    )
    return normed.where(F.col("norm_score") >= threshold).orderBy(
        group_col, F.desc("norm_score")
    )
