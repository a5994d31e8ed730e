"""Single-pass funnel metrics (operators/metrics.PipelineMetrics):
observe() points must report the same counts as separate count()
passes, from ONE action, without perturbing the observed result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import table
from conversation_analysis_tools_spark.functions.text import raw_tokens_expr
from conversation_analysis_tools_spark.operators.metrics import PipelineMetrics

SF_DIR = "/root/testdata/sf0.001"


def test_funnel_counts_from_one_action(spark):
    docs = table(spark, "documents", SF_DIR)
    obs = PipelineMetrics()

    scanned = obs.observed(
        docs, "scanned", F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )
    gated = scanned.where(F.size(raw_tokens_expr("text")) >= 20)
    gated = obs.observed(gated, "post_quality", F.count(F.lit(1)).alias("n"))
    result = gated.groupBy("lang").agg(F.count("*").alias("n"))

    rows = result.collect()  # the single action

    n_scanned = docs.count()
    n_gated = docs.where(F.size(raw_tokens_expr("text")) >= 20).count()
    assert obs.get("scanned")["n"] == n_scanned
    assert obs.get("scanned")["chars"] == docs.agg(F.sum("n_chars")).first()[0]
    assert obs.get("post_quality")["n"] == n_gated
    # observation is transparent: grouped result matches the unobserved plan
    want = {
        r["lang"]: r["n"]
        for r in docs.where(F.size(raw_tokens_expr("text")) >= 20)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["lang"]: r["n"] for r in rows} == want


def test_duplicate_point_rejected(spark):
    docs = table(spark, "documents", SF_DIR)
    obs = PipelineMetrics()
    obs.observed(docs, "p", F.count(F.lit(1)))
    with pytest.raises(ValueError, match="duplicate"):
        obs.observed(docs, "p", F.count(F.lit(1)))


def test_get_raises_for_point_no_action_ran(spark, monkeypatch):
    """A point on a branch no action ran raises within the bound
    instead of blocking forever; funnel() goes through the same wait."""
    import threading

    import conversation_analysis_tools_spark.operators.metrics as M

    monkeypatch.setattr(M, "GET_TIMEOUT_SEC", 1)
    docs = table(spark, "documents", SF_DIR)
    obs = PipelineMetrics()
    ran = obs.observed(docs, "ran", F.count(F.lit(1)).alias("n"))
    obs.observed(docs.where("doc_id < 0"), "unused", F.count(F.lit(1)).alias("n"))
    ran.count()
    assert obs.get("ran")["n"] == docs.count()
    errors = []

    def call(fn):
        try:
            fn()
        except ValueError as e:
            errors.append(str(e))

    for fn in (lambda: obs.get("unused"), obs.funnel):
        t = threading.Thread(target=call, args=(fn,), daemon=True)
        t.start()
        t.join(60)
        assert not t.is_alive(), "get blocked past its bound"
    assert len(errors) == 2 and all("'unused'" in e for e in errors)


def test_observation_then_cached_ml_plan(spark):
    """Session-hygiene regression: a registered Observation makes the
    session's ObservationManager non-serializable; if a later plan
    embeds an ml model UDF (whose training summary pins the session),
    cache().count() dies with Task-not-serializable. The classifier's
    scoring plan must stay model-free so this never happens."""
    from conversation_analysis_tools_spark.queries import REGISTRY

    obs = PipelineMetrics()
    pt = obs.observed(
        table(spark, "documents", SF_DIR), "scan", F.count(F.lit(1)).alias("n")
    )
    pt.groupBy("lang").count().collect()
    assert obs.get("scan")["n"] > 0

    scored = REGISTRY["quality_classifier_scores"].fn(spark, SF_DIR).cache()
    try:
        assert scored.count() == table(spark, "documents", SF_DIR).count()
    finally:
        scored.unpersist()


def test_bench_emit_line_stays_parseable_at_any_size():
    """The driver parses bench.py's LAST stdout line from a ~2000-byte
    tail capture (round 4 lost its bench artifact to an oversized
    line). The emit contract: valid JSON, under 1800 bytes, totals
    always present -- even with 3x today's headline count."""
    import json as _json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    # today's size, with the jobs/stages census riding the line
    # (VERDICT r8 item 3: positional "jobs/stages" per queries key)
    timings = {q: 1.234 for q in bench.HEADLINE}
    medians = {q: 1.345 for q in bench.HEADLINE}
    jobs = {q: 3 for q in bench.HEADLINE}
    stages = {q: 7 for q in bench.HEADLINE}
    line, detail = bench.emit_line(timings, medians, 0.1, 5000, jobs, stages)
    doc = _json.loads(line)
    assert len(line) <= 1950 and doc["metric"] == "total_headline_sec"
    assert doc["pipeline_docs_per_sec"] > 0
    assert doc["census"].split(",") == ["3/7"] * len(bench.HEADLINE)
    # BOTH statistics ride the parsed line (VERDICT r5 item 8)
    assert doc["value"] == round(sum(timings.values()), 3)
    assert doc["total_median"] == round(sum(medians.values()), 3)
    assert detail["queries_median"] == medians
    assert "census" not in detail  # detail carries name-keyed maps instead
    # 3x the headline: census drops first, then the map gives way to
    # the pointer form -- the line must degrade, not grow
    big_t = {f"very_long_query_name_number_{i:03d}": 1.234 for i in range(120)}
    big_t["pipeline_analysis_results"] = 3.0
    big_m = dict(big_t)
    big_j = {q: 3 for q in big_t}
    big_s = {q: 7 for q in big_t}
    line2, detail2 = bench.emit_line(big_t, big_m, 0.1, 5000, big_j, big_s)
    doc2 = _json.loads(line2)
    assert len(line2) <= 1950
    assert "census" not in doc2
    assert doc2.get("queries_detail") == "BENCH_DETAIL.json"
    assert doc2["value"] == round(sum(big_t.values()), 3)
    assert detail2["queries"] == big_t  # detail always carries the full map
