"""Incremental rollup maintenance: mergeable per-group aggregate state.

The scale pattern behind continuous aggregates / hypertable rollups:
keep (count, sum) state per group key, fold each new data partition in
with a groupBy-sum MERGE instead of recomputing history. Averages and
other derived stats come from the state at read time. Reference
analogue: the reference recomputes its SQLite rollups from scratch on
every ingest (uni_parse.py chunked commits); this is the
incremental-view-maintenance replacement.

At 100 TB: the rollup table is orders of magnitude smaller than the
fact table, so the merge shuffles only |delta rollup| + |old rollup|
rows on the group key. If the rollup table is written bucketed by the
group key (layout.write_bucketed), the merge is exchange-free on the
old side and only the delta (one day / one hour of data) shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.functions.numeric import avg4


def build_rollup(events: DataFrame, *keys: str) -> DataFrame:
    """Mergeable daily rollup state: (count, exact integer-cent sum)
    per key. Integer state makes merge == recompute bit-exact in ANY
    fold order (double sums are order-dependent in the last ulp, which
    flips rounded read-time values on knife-edge groups); rounding and
    the /100 descale are read-time presentation concerns."""
    cents = F.round(F.col("value") * 100).cast("long")
    return events.groupBy(
        F.col("ts").cast("date").alias("d"), *[F.col(k) for k in keys]
    ).agg(F.count("*").alias("n"), F.sum(cents).alias("total"))


def merge_rollup(old: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE two rollup states: union + re-aggregate. count and sum
    are both associative, so merged state == state built from the
    union of the underlying facts."""
    keys = [c for c in old.columns if c not in ("n", "total")]
    return (
        old.unionByName(delta)
        .groupBy(*keys)
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
    )


def finalize_rollup(state: DataFrame) -> DataFrame:
    """Read-time projection of the state: descale the integer-cent
    sum, derive the average from (sum, count) instead of storing it."""
    return state.select(
        *[c for c in state.columns if c not in ("total",)],
        F.round(F.col("total") / 100.0, 4).alias("total"),
        avg4(F.col("total") * 100, F.col("n")).alias("avg_value"),
    )
