"""The per-thread decision record: nothing kept without a capture,
nested captures share inner records, threads do not see each other's."""

from __future__ import annotations

import threading

from conversation_analysis_tools_spark import decisions


def test_record_without_capture_keeps_nothing():
    decisions.record("gate_a", "x", n=1)
    assert not getattr(decisions._OPEN, "sinks", [])
    with decisions.capture() as recs:
        pass
    assert recs == []


def test_nested_captures_both_see_inner_record():
    with decisions.capture() as outer:
        decisions.record("gate_a", "x")
        with decisions.capture() as inner:
            decisions.record("gate_b", "y", n=2)
        decisions.record("gate_c", "z")
    assert inner == [{"gate": "gate_b", "choice": "y", "n": 2}]
    assert [r["gate"] for r in outer] == ["gate_a", "gate_b", "gate_c"]
    assert not decisions._OPEN.sinks


def test_other_thread_records_stay_out_of_capture():
    seen = []

    def worker():
        decisions.record("gate_other", "w")
        with decisions.capture() as theirs:
            decisions.record("gate_theirs", "t")
        seen.extend(theirs)

    with decisions.capture() as mine:
        decisions.record("gate_mine", "m")
        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=30)
    assert not t.is_alive()
    assert [r["gate"] for r in mine] == ["gate_mine"]
    assert [r["gate"] for r in seen] == ["gate_theirs"]


def test_adaptive_gates_record_choice_and_inputs(spark, sample_docs):
    """Each two-plan gate reports its pick once per call, with the
    input it decided on."""
    from conversation_analysis_tools_spark.functions.spread import spread_input
    from conversation_analysis_tools_spark.operators import dedup as D
    from conversation_analysis_tools_spark.operators import similarity as S
    from conversation_analysis_tools_spark.operators.ann import kmeans_centroids
    from conversation_analysis_tools_spark.operators.components import (
        connected_components,
    )
    from conversation_analysis_tools_spark.operators.density import (
        dup_density_decision,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(emb, n_centroids=2)
    with decisions.capture() as recs:
        spread_input(sample_docs, "doc_id")
        D._skew_safe_engaged(sample_docs, None)
        dup_density_decision(sample_docs)
        pairs = S.pairwise_cosine(S.tf_vectors(sample_docs), threshold=0.5)
        connected_components(pairs.select("id1", "id2"))
        D.semdedup_prune(emb, cents, threshold=0.9)
    # tokenizing spreads its input too, so spread_input recurs
    assert recs[0]["gate"] == "spread_input"
    assert [r["gate"] for r in recs if r["gate"] != "spread_input"] == [
        "skew_safe", "dup_density", "pairwise_cosine",
        "connected_components", "semdedup_prune",
        "connected_components",  # semdedup's own near-dup components
    ]
    by_gate = {r["gate"]: r for r in recs[1:]}
    # an in-memory frame has no size estimate Catalyst trusts: both
    # size gates keep the one-pass plan and say what they saw
    assert recs[0]["choice"] == "identity"
    assert recs[0]["est_bytes"] >= recs[0]["min_bytes"]
    assert by_gate["skew_safe"]["choice"] == "direct"
    assert by_gate["skew_safe"]["requested"] is None
    assert by_gate["dup_density"]["choice"] == "direct"  # one dup in six
    assert by_gate["pairwise_cosine"]["choice"] == "dense"
    assert by_gate["pairwise_cosine"]["n_docs"] == 6
    assert by_gate["connected_components"]["choice"] == "local"
    assert by_gate["connected_components"]["star_rounds"] is None
    assert by_gate["semdedup_prune"] == {
        "gate": "semdedup_prune", "choice": "expression", "n_vectors": 12,
    }


def test_carried_reports_to_building_thread_capture():
    """A callable wrapped with carried() reports to the captures open
    where it was wrapped, from another thread, and once on its own."""
    with decisions.capture() as mine:
        task = decisions.carried(lambda: decisions.record("gate_cb", "c"))
        t = threading.Thread(target=task)
        t.start()
        t.join(timeout=30)
        task()
    assert not t.is_alive()
    assert [r["gate"] for r in mine] == ["gate_cb", "gate_cb"]
    assert not decisions._OPEN.sinks


def test_streaming_fold_decisions_reach_capture(spark, tmp_path):
    """A curation drain's foreachBatch folds run on Spark's callback
    thread; their spread_input records reach the caller's capture."""
    import pandas as pd

    from conversation_analysis_tools_spark.queries.textstats import _v2_gop
    from conversation_analysis_tools_spark.streaming.curation import (
        stream_curation_funnel,
    )

    src = tmp_path / "src"
    src.mkdir()
    for b in range(2):
        pd.DataFrame({
            "doc_id": [10 * b + i for i in range(3)],
            "source": ["src0"] * 3,
            "text": ["the word " * 30 + f"with tail{b}{i}" for i in range(3)],
        }).to_parquet(src / f"part{b}.parquet")
    with decisions.capture() as recs:
        funnel = stream_curation_funnel(
            spark, str(src), str(tmp_path / "store"),
            lambda batch: _v2_gop(batch, cache=False),
        )
    assert funnel.count() == 1
    assert [r for r in recs if r["gate"] == "spread_input"]
