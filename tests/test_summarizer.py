"""Sentence-grain extractive summarization parity.

Pins ``summarize_documents`` against a pure-Python transcription of
the reference algorithm (pipeline/summarizer.py):

* sentence split ``[.!?]+`` / strip / >= 3 words (:42-61)
* token-set cosine similarity (:78-100)
* TextRank power iteration, damping .85, atol 1e-6 (:122-159)
* ``<= k`` fast path returns all sentences (:181-185)
* top-k via ``np.argsort(scores)[::-1]``, re-sorted to DOCUMENT
  order, joined with ' ' (:193-199, 225-242)
"""

from __future__ import annotations

import math
import re

import numpy as np
import pytest

from conversation_analysis_tools_spark.functions.text import STOPWORDS
from conversation_analysis_tools_spark.operators.textrank import (
    summarize_documents,
)

# --- pure-Python transcription of the reference semantics ----------------


def _ref_split(text: str) -> list[str]:
    parts = [s.strip() for s in re.split(r"[.!?]+", text) if s.strip()]
    return [s for s in parts if len(s.split()) >= 3]


def _ref_tokens(text: str) -> set[str]:
    words = re.findall(r"\b[a-z]{3,}\b", text.lower())
    return {w for w in words if w not in STOPWORDS}


def _ref_summary(text: str, k: int = 3, damping: float = 0.85) -> str:
    sentences = _ref_split(text)
    n = len(sentences)
    if n == 0:
        return ""
    if n <= k:
        return " ".join(sentences)
    sets = [_ref_tokens(s) for s in sentences]
    m = np.zeros((n, n))
    for i in range(n):
        for j in range(i + 1, n):
            if sets[i] and sets[j]:
                denom = math.sqrt(len(sets[i]) * len(sets[j]))
                sim = len(sets[i] & sets[j]) / denom if denom else 0.0
            else:
                sim = 0.0
            m[i][j] = m[j][i] = sim
    row_sums = m.sum(axis=1)
    row_sums[row_sums == 0] = 1
    norm = m / row_sums[:, None]
    scores = np.ones(n) / n
    for _ in range(100):
        prev = scores.copy()
        scores = (1 - damping) / n + damping * norm.T @ prev
        if np.allclose(scores, prev, atol=1e-6):
            break
    top = sorted(np.argsort(scores)[::-1][:k])
    return " ".join(sentences[i] for i in top)


# --- fixture corpus covering every branch --------------------------------

DOCS = [
    # > k sentences, linked graph: real TextRank selection + reorder
    (
        1,
        "Spark executes queries with catalyst optimizer. The catalyst "
        "optimizer rewrites query plans. Query plans become physical "
        "stages quickly. Physical stages run on executors. Executors "
        "cache shuffle data often. Unrelated penguins waddle home.",
    ),
    # exactly k sentences: fast path, all kept verbatim in order
    (2, "Alpha beta gamma works. Delta epsilon zeta helps. Eta theta iota runs."),
    # fewer than k: all kept
    (3, "Only one real sentence here."),
    # zero kept sentences (all < 3 words)
    (4, "Too short. No. Nope!"),
    # ties: several mutually-unrelated sentences share identical scores
    (
        5,
        "Apple banana cherry grows. Quantum neutrino physics shines. "
        "Guitar violin cello plays. Desert cactus lizard waits. "
        "Ocean whale dolphin swims.",
    ),
]


@pytest.fixture(scope="module")
def summaries(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out = summarize_documents(df, k=3)
    return {r["doc_id"]: r for r in out.collect()}


def test_selection_and_document_order(summaries):
    expected = _ref_summary(DOCS[0][1], k=3)
    assert summaries[1]["summary"] == expected
    assert summaries[1]["n_sentences"] == 6
    # document-order reassembly: chosen sentences appear in original
    # relative order within the summary
    order = [summaries[1]["summary"].find(s) for s in _ref_split(DOCS[0][1])
             if s in summaries[1]["summary"]]
    assert order == sorted(order)


def test_fast_path_all_sentences(summaries):
    assert summaries[2]["summary"] == _ref_summary(DOCS[1][1], k=3)
    assert summaries[2]["n_sentences"] == 3
    assert summaries[3]["summary"] == "Only one real sentence here"


def test_no_kept_sentences_empty_summary(summaries):
    # zero kept sentences -> '' (reference: ' '.join([]))
    assert summaries[4]["summary"] == ""
    assert summaries[4]["n_sentences"] == 0


def test_tie_behavior_matches_reference(summaries):
    assert summaries[5]["summary"] == _ref_summary(DOCS[4][1], k=3)


def test_pipeline_summary_column(spark):
    from conversation_analysis_tools_spark.pipeline import run_content_pipeline

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out = run_content_pipeline(df, {"keywords": ["spark"]})
    rows = {r["message_id"]: r for r in out["analysis_results"].collect()}
    assert rows[1]["summary"] == _ref_summary(DOCS[0][1], k=3)
    assert rows[4]["summary"] == ""  # no kept sentences -> ''


def test_fixed_corpus_pinned_literals():
    """The driver-facing literal oracles (queries/iterative.py) must
    equal the pure-Python reference power iteration -- guards the
    pinned constants against numpy/tokenizer drift."""
    import math
    import re

    from conversation_analysis_tools_spark.functions.text import STOPWORDS
    from conversation_analysis_tools_spark.operators.textrank import (
        _textrank_scores,
        summarize_text,
    )
    from conversation_analysis_tools_spark.queries.iterative import (
        SUMMARY_FIXED_EXPECTED,
        TEXTRANK_FIXED_CORPUS,
        TEXTRANK_FIXED_EXPECTED,
    )

    stop = frozenset(STOPWORDS)
    expected = []
    for doc_id, text in TEXTRANK_FIXED_CORPUS:
        parts = [s.strip() for s in re.split(r"[.!?]+", text) if s.strip()]
        sentences = [s for s in parts if len(s.split()) >= 3]
        sets = [
            {w for w in re.findall(r"\b[a-z]{3,}\b", s.lower()) if w not in stop}
            for s in sentences
        ]
        scores = _textrank_scores(sets, 0.85)
        order = sorted(
            range(len(scores)), key=lambda i: (-scores[i], i)
        )
        ranks = {i: r + 1 for r, i in enumerate(order)}
        for i, sc in enumerate(scores):
            expected.append((doc_id, i, int(math.floor(sc * 1_000_000 + 0.5)), ranks[i]))
    assert expected == TEXTRANK_FIXED_EXPECTED

    summ_expected = []
    for doc_id, text in TEXTRANK_FIXED_CORPUS:
        n, s = summarize_text(text, stop, 3, 0.85)
        summ_expected.append((doc_id, n, s))
    assert summ_expected == SUMMARY_FIXED_EXPECTED

    from conversation_analysis_tools_spark.queries.iterative import (
        KEY_NODES_FIXED_EXPECTED,
    )

    key_expected = []
    for doc_id, text in TEXTRANK_FIXED_CORPUS:
        parts = [s.strip() for s in re.split(r"[.!?]+", text) if s.strip()]
        sentences = [s for s in parts if len(s.split()) >= 3]
        sets = [
            {w for w in re.findall(r"\b[a-z]{3,}\b", s.lower()) if w not in stop}
            for s in sentences
        ]
        scores = _textrank_scores(sets, 0.85)
        mx = max(scores)
        for i, sc in enumerate(scores):
            if sc / mx >= 0.9:
                key_expected.append(
                    (doc_id, i, int(math.floor(sc / mx * 1_000_000 + 0.5)))
                )
    assert key_expected == KEY_NODES_FIXED_EXPECTED
