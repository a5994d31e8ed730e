"""spread_input's split estimate under user-overridden confs."""

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
