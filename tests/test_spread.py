"""spread_input's split estimate under user-overridden confs, and
output parity of a token-family operator across both branches."""

from __future__ import annotations

from conversation_analysis_tools_spark.functions.spread import spread_input


def test_spread_reads_parsed_max_partition_bytes(spark):
    """A user's "128m" maxPartitionBytes means 128 MiB, not 128 bytes:
    the spread decision equals the one under the same size in bytes."""
    df = spark.range(100_000)  # ~800 KB estimated: one split at 128 MiB
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spread = {}
    try:
        for raw in ("134217728", "128m"):
            spark.conf.set(key, raw)
            spread[raw] = spread_input(df, "id", min_bytes=0) is not df
    finally:
        spark.conf.set(key, old)
    assert spread == {"134217728": True, "128m": True}


def test_span_stats_identical_spread_or_identity(spark, sample_docs, monkeypatch):
    """Forcing the spread branch and the identity branch gives the same
    span statistics and SimHash signatures."""
    from conversation_analysis_tools_spark.operators import dedup as D

    def run(branch):
        monkeypatch.setattr(D, "spread_input", branch)
        spans = sorted(map(tuple, D.substring_span_stats(sample_docs, width=3).collect()))
        sigs = sorted(map(tuple, D.simhash(sample_docs).collect()))
        return spans, sigs

    spread = run(lambda df, key, **kw: df.repartition(4, key))
    identity = run(lambda df, key, **kw: df)
    assert spread == identity and spread[0] and spread[1]
