"""Config-driven content-analysis pipeline orchestration (N30).

Mirrors the reference's ``run_pipeline.py`` CLI + YAML config
(config/pipeline_config.yaml:1-99; process() at
pipeline/pipeline.py:248-323): fetch -> relevance -> duplicates ->
optional dedup filter -> summaries (TextRank rank) -> priority ->
stats -> store.

Spark-first: the whole pipeline is ONE DataFrame DAG; the token/TF
work is shared between relevance and dedup branches (the reference
precomputes vectors for the same reason --
pipeline/duplicate_detector.py:147-151); each stage is also available
separately through the operators package.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.operators import components as C
from conversation_analysis_tools_spark.operators import priority as P
from conversation_analysis_tools_spark.operators import relevance as R
from conversation_analysis_tools_spark.operators import similarity as S
from conversation_analysis_tools_spark.operators import textrank as TR

#: Defaults mirroring config/pipeline_config.yaml (weights :22-26,
#: summarizer :29-31, duplicates :34, priority :62-79).
DEFAULT_CONFIG: dict[str, Any] = {
    "keywords": [],
    "relevance_weights": {"density": 0.3, "coverage": 0.4, "tfidf": 0.3},
    "duplicate_threshold": 0.8,
    # 'auto' (the 100-TB configuration, default since round 10): the
    # duplicate stage probes its candidate volume with one linear
    # aggregation and routes to tuned cosine-LSH + exact verify past
    # the budget -- the exact inverted-index plan measurably killed
    # the JVM at 500k docs (SCALE.md sf10 probe), so it must not be
    # what a config-less user runs. 'exact' pins the certified
    # inverted-index/dense plan (operators/similarity.duplicate_pairs).
    "duplicate_route": "auto",
    "remove_duplicates": False,
    "summary_top_k": 3,
    "textrank_damping": 0.85,
    "priority_weights": {
        "relevance": 0.4,
        "length": 0.2,
        "keyword_match": 0.3,
        "recency": 0.1,
    },
    "critical_keywords": [],
    "high_keywords": [],
}


def run_content_pipeline(
    docs: DataFrame,
    config: dict[str, Any] | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns the per-stage DataFrames.

    Keys: relevance, duplicate_pairs, components, unique_docs,
    analysis_results, stats.
    """
    cfg = {**DEFAULT_CONFIG, **(config or {})}
    kws = cfg["keywords"]

    # One tokenize+count shuffle feeds the relevance branch (tf_max +
    # idf) AND the duplicate branch (tf_sum) -- the same shared-vector
    # optimization the reference does in Python
    # (pipeline/duplicate_detector.py:147-151), here as a persisted
    # long-format table.
    from conversation_analysis_tools_spark.operators import tfidf as T

    from conversation_analysis_tools_spark.operators.cache import track

    counts = track(T.term_counts(T.explode_tokens(docs)))

    scored = R.score_documents(
        docs, kws, cfg["relevance_weights"], counts=counts
    ).select(
        "doc_id", F.round("relevance", 6).alias("relevance"), "text"
    )

    pairs = S.duplicate_pairs(
        docs, cfg["duplicate_threshold"], counts=counts,
        route=cfg["duplicate_route"],
    )
    comp = C.connected_components(pairs.select("id1", "id2"))
    uniq = C.unique_representatives(
        docs.select(F.col("doc_id").alias("id")), comp
    )

    classified = P.classify(
        scored,
        "relevance",
        cfg["critical_keywords"],
        cfg["high_keywords"],
        cfg["priority_weights"],
    )

    dups = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id"), F.lit(True).alias("is_duplicate")
    )
    # Sentence-grain extractive summaries (summarizer.py:161-242) --
    # the reference's analysis_results.summary column
    # (pipeline/pipeline.py:390-400). A map-only column on the
    # classified relation (which still carries the text): no join, no
    # shuffle; '' when no sentence survives, like ' '.join([]).
    results = (
        classified.join(dups, "doc_id", "left")
        .withColumn("is_duplicate", F.coalesce("is_duplicate", F.lit(False)))
        .withColumn(
            "summary",
            TR.summary_column(
                "text", cfg["summary_top_k"], cfg["textrank_damping"]
            )["summary"],
        )
        .select(
            F.col("doc_id").alias("message_id"),
            F.col("relevance").alias("relevance_score"),
            "summary",
            F.round("priority_score", 6).alias("priority_score"),
            "priority_level",
            "is_duplicate",
        )
    )
    if cfg["remove_duplicates"]:
        results = results.where(~F.col("is_duplicate"))

    out: dict[str, DataFrame] = {
        "relevance": scored.drop("text"),
        "duplicate_pairs": pairs,
        "components": comp,
        "unique_docs": uniq,
        "analysis_results": results,
    }

    # A21-style stats rollup (pipeline/pipeline.py:325-354)
    out["stats"] = results.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("relevance_score"), 6).alias("avg_relevance"),
        F.round(F.min("relevance_score"), 6).alias("min_relevance"),
        F.round(F.max("relevance_score"), 6).alias("max_relevance"),
        F.sum(F.col("is_duplicate").cast("int")).alias("n_duplicates"),
    )
    return out


def store_results(results: DataFrame, path: str) -> None:
    """store_results_db equivalent: upsert the analysis_results table
    (pipeline/pipeline.py:356-429)."""
    from conversation_analysis_tools_spark.sources.conversations import upsert_parquet

    upsert_parquet(results, path, key="message_id")
