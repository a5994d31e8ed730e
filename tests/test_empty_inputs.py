"""Empty-input behavior across the operator surface.

Mirrors the reference's empty-database pins
(tests/test_pipeline.py:212 test_pipeline_empty_database): every
operator must degrade to an empty (or all-zero) result, never raise.
At 100 TB this is not a toy case -- per-partition emptiness is the
NORMAL case after selective filters, and a strategy probe or
aggregate that assumes >=1 row breaks the whole job.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.decisions import capture


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], schema="doc_id bigint, text string")


def test_pipeline_empty(spark, empty_docs):
    """Full pipeline on zero docs: every stage empty, stats row still
    present with n_docs=0 (reference compute_statistics contract)."""
    from conversation_analysis_tools_spark.pipeline import run_content_pipeline

    out = run_content_pipeline(empty_docs, {"keywords": ["data"]})
    for key in ("relevance", "duplicate_pairs", "components", "unique_docs", "analysis_results"):
        assert out[key].count() == 0, key
    stats = out["stats"].collect()
    assert len(stats) == 1
    assert stats[0]["n_docs"] == 0


def test_dedup_family_empty(spark, empty_docs):
    from conversation_analysis_tools_spark.operators import dedup as D

    assert D.exact_dup_groups(empty_docs).count() == 0
    assert D.minhash_dedup_pairs(empty_docs, threshold=0.2).count() == 0
    assert D.simhash(empty_docs).count() == 0
    assert D.edit_distance_pairs(empty_docs).count() == 0
    # the saturation router's three paths: the auto probe must read a
    # NULL volume sum as 0 (not route or crash), and the tuned-LSH
    # plan must survive zero buckets
    for route in ("auto", "exact", "minhash"):
        with capture() as recs:
            assert (
                D.ngram_jaccard_pairs(
                    empty_docs, threshold=0.15, route=route
                ).count()
                == 0
            ), route
    # explicit route sticks
    assert [r["choice"] for r in recs if r["gate"] == "ngram_jaccard_pairs"] == [
        "minhash"
    ]


def test_connected_components_empty(spark):
    from conversation_analysis_tools_spark.operators import components as C

    edges = spark.createDataFrame([], schema="id1 bigint, id2 bigint")
    assert C.connected_components(edges).count() == 0
    # the star path must also tolerate zero edges
    assert C.connected_components(edges, strategy="star").count() == 0


def test_similarity_empty(spark, empty_docs):
    from conversation_analysis_tools_spark.operators import similarity as S

    assert S.duplicate_pairs(empty_docs, 0.5).count() == 0


def test_dense_doc_vectors_empty_vocab(spark):
    """An empty vocabulary yields no vectors whatever tf holds."""
    from conversation_analysis_tools_spark.operators.similarity import (
        _dense_doc_vectors,
    )

    tf = spark.createDataFrame(
        [(1, "alpha", 0.5), (1, "beta", 0.5), (2, "alpha", 1.0)],
        "doc_id long, term string, tf double",
    )
    vecs = _dense_doc_vectors(tf, "doc_id", [])
    assert vecs.columns == ["_id", "v"]
    assert vecs.count() == 0


def test_priority_empty(spark, empty_docs):
    from conversation_analysis_tools_spark.operators import priority as P

    scored = empty_docs.withColumn("relevance", F.lit(0.0))
    out = P.classify(scored, "relevance", [], [], None)
    assert out.count() == 0


def test_bloom_empty(spark):
    """Bloom over an empty eval set: empty bitset, probe keeps nothing."""
    from conversation_analysis_tools_spark.operators import bloom as B

    empty = spark.createDataFrame([], schema="shingle string")
    bits = B.build_bloom(empty, "shingle")
    assert bits.count() == 1  # one (all-zero) bitset row
    probe = spark.createDataFrame([("abc",), ("def",)], "shingle string")
    kept = B.bloom_prefilter(probe, empty, "shingle", "shingle")
    assert kept.count() == 0


def test_textrank_empty(spark, empty_docs):
    from conversation_analysis_tools_spark.operators import textrank as TR

    out = empty_docs.select(
        "doc_id", TR.summary_column("text", 3, 0.85)["summary"].alias("summary")
    )
    assert out.count() == 0


def test_gapfill_and_cumsum_empty(spark):
    from conversation_analysis_tools_spark.operators.temporal import (
        distributed_cumsum,
        gapfill_forward,
    )

    empty = spark.createDataFrame([], schema="event_type string, day date, n long")
    assert gapfill_forward(empty).count() == 0
    empty2 = spark.createDataFrame([], schema="day date, new_users long")
    assert distributed_cumsum(empty2).count() == 0
