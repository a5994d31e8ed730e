"""Hot-key-safe twins for the span/line dedup family (round 12,
VERDICT r11 item 3): the one-pass min/max-window plans concentrate a
universal boilerplate span/line into ONE window partition; past
SKEW_SAFE_MIN_BYTES (or with skew_safe=True) the operators switch to
the two-phase plan (map-side-combined per-key aggregate + salted
attach join). These tests pin (a) value equality between the two
plans on a corpus with a universal hot key, (b) the safe plan's shape
(no Window operator; the salted join is present), and (c) the
auto gate's wiring."""

import pyspark.sql.functions as F

from conversation_analysis_tools_spark.operators import dedup as D


def _skewed_docs(spark, n=120):
    """Every doc shares one boilerplate sentence (a universal hot
    span/line) plus unique filler; a handful are exact dups."""
    boiler = "please subscribe to our newsletter for updates today"
    rows = []
    for i in range(n):
        uniq = " ".join(f"w{i}x{j}" for j in range(10))
        rows.append((i, f"{boiler} {uniq}"))
    # two exact dup clusters so cross-doc spans exist beyond the hot one
    rows.append((n, rows[0][1]))
    rows.append((n + 1, rows[1][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _skewed_pages(spark, n=120):
    boiler = "Subscribe to our newsletter"
    rows = []
    for i in range(n):
        rows.append((i, f"unique line {i} alpha\n{boiler}\nunique line {i} beta"))
    # one doc that is ALL boilerplate (must keep its row: n_kept 0)
    rows.append((n, boiler))
    return spark.createDataFrame(rows, "doc_id long, page string")


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_span_stats_skew_safe_value_identical(spark):
    docs = _skewed_docs(spark)
    fast = D.substring_span_stats(docs, width=4, skew_safe=False)
    safe = D.substring_span_stats(docs, width=4, skew_safe=True)
    rows_fast = _sorted(fast)
    assert rows_fast == _sorted(safe)
    # the hot span really is cross-doc everywhere: every doc has dups
    assert all(r[2] > 0 for r in rows_fast)


def test_span_removal_skew_safe_value_identical(spark):
    docs = _skewed_docs(spark)
    fast = D.remove_duplicate_spans(docs, width=4, skew_safe=False)
    safe = D.remove_duplicate_spans(docs, width=4, skew_safe=True)
    assert _sorted(fast) == _sorted(safe)


def test_boilerplate_skew_safe_value_identical(spark):
    pages = _skewed_pages(spark)
    fast = D.remove_boilerplate_lines(pages, skew_safe=False)
    safe = D.remove_boilerplate_lines(pages, skew_safe=True)
    rows_fast = _sorted(fast)
    assert rows_fast == _sorted(safe)
    # the all-boilerplate doc keeps its row with n_kept 0, cleaned ''
    tail = [r for r in rows_fast if r[0] == 120]
    assert tail == [(120, 1, 0, "")]


def test_skew_safe_plan_has_no_window(spark):
    docs = _skewed_docs(spark, n=8)
    pages = _skewed_pages(spark, n=8)
    for df in (
        D.substring_span_stats(docs, width=4, skew_safe=True),
        D.remove_duplicate_spans(docs, width=4, skew_safe=True),
        D.remove_boilerplate_lines(pages, skew_safe=True),
    ):
        plan = _optimized_plan(df)
        assert "Window" not in plan  # no un-combinable hot partition
        assert "_salt" in plan  # the salted attach join is in place
    # and the default (auto, tiny input) keeps the one-pass window plan
    for df in (
        D.substring_span_stats(docs, width=4),
        D.remove_duplicate_spans(docs, width=4),
        D.remove_boilerplate_lines(pages),
    ):
        assert "Window" in _optimized_plan(df)


def test_skew_safe_auto_engages_past_threshold(spark, monkeypatch):
    """The auto gate flips to the safe plan once the Catalyst input
    size estimate exceeds SKEW_SAFE_MIN_BYTES. The probe must read a
    file-backed relation (in-memory test corpora report the unknown
    Long.MaxValue default, which the gate treats as 'keep the one-pass
    plan')."""
    from conversation_analysis_tools_spark.catalog import table

    docs = table(spark, "documents", "/root/testdata/sf0.001")
    assert "Window" in _optimized_plan(D.substring_span_stats(docs, width=4))
    monkeypatch.setattr(D, "SKEW_SAFE_MIN_BYTES", 0)
    df = D.substring_span_stats(docs, width=4)
    assert "Window" not in _optimized_plan(df)
