"""Priority classifier threshold anchors and TextRank invariants
(reference test_priority_classifier.py:59-67, test_summarizer.py)."""

import numpy as np
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.operators import priority as P
from conversation_analysis_tools_spark.operators.textrank import (
    _textrank_scores,
    textrank_rank,
)
from conversation_analysis_tools_spark.functions.text import sentences_expr


def test_score_to_level_thresholds(spark):
    # reference: 0.95->CRITICAL, 0.70->HIGH, 0.50->MEDIUM, 0.30->LOW, 0.10->NONE
    df = spark.createDataFrame(
        [(0.95,), (0.70,), (0.50,), (0.30,), (0.10,)], "score double"
    )
    levels = [
        r["lvl"] for r in df.select(P.level_expr(F.col("score")).alias("lvl")).collect()
    ]
    assert levels == ["CRITICAL", "HIGH", "MEDIUM", "LOW", "NONE"]


def test_length_score_monotone(spark):
    # reference test_priority_classifier.py:16-27
    texts = [
        ("a " * 10).strip(),
        ("b " * 100).strip(),
        ("c " * 300).strip(),
        ("d " * 600).strip(),
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    scores = [
        r["s"] for r in df.select(P.length_score_expr().alias("s")).collect()
    ]
    assert scores == [0.1, 0.5, 0.8, 1.0]


def test_keyword_score_max_combine(spark):
    df = spark.createDataFrame(
        [("urgent crash in prod",), ("just a bit slow",), ("all fine",)],
        "text string",
    )
    expr = P.keyword_score_expr(["crash"], ["slow"])
    scores = [r["s"] for r in df.select(expr.alias("s")).collect()]
    assert scores == [1.0, 0.7, 0.0]


def test_sentence_split_reference_semantics(spark):
    # reference test_summarizer.py:16-32: 3-word minimum, [.!?]+ split
    df = spark.createDataFrame(
        [("First sentence is here. Second one too! Short. Third sentence here?",)],
        "text string",
    )
    sents = df.select(sentences_expr("text").alias("s")).head()["s"]
    assert sents == [
        "First sentence is here",
        "Second one too",
        "Third sentence here",
    ]


def test_textrank_uniform_on_symmetric_graph():
    # fully-connected identical sentences -> uniform scores
    sets = [{"a", "b"}, {"a", "b"}, {"a", "b"}]
    scores = _textrank_scores(sets, damping=0.85)
    assert np.allclose(scores, 1 / 3, atol=1e-6)


def test_textrank_rank_deterministic(spark):
    df = spark.createDataFrame(
        [
            ("g", 1, ["machine", "learning", "model"]),
            ("g", 2, ["machine", "learning", "data"]),
            ("g", 3, ["weather", "sunny"]),
        ],
        "source string, doc_id long, tokens array<string>",
    )
    r1 = textrank_rank(df, "source", "doc_id", "tokens").collect()
    r2 = textrank_rank(df, "source", "doc_id", "tokens").collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    by_id = {r["doc_id"]: r for r in r1}
    # the two central docs outrank the isolated one
    assert by_id[3]["score"] <= by_id[1]["score"]
    assert {r["rank"] for r in r1} == {1, 2, 3}
