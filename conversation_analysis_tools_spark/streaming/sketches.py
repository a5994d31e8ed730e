"""Streaming sketch-table maintenance: the distinct-count companion
to stream_maintain_rollup.

`incremental_rollup` / `stream_maintain_rollup` maintain (count, sum)
state because those merge by addition; distinct counts don't -- their
mergeable state is a sketch. This module maintains a per-day
DataSketches HLL sketch table under a micro-batch stream: each batch
sketches its own (day, user) slice and UNIONS it into the persistent
state. Two algebraic properties carry the correctness story:

* union is associative+commutative => the maintained state equals the
  one-shot batch sketch REGARDLESS of how the stream was micro-batched
  (pinned in tests/test_sketch_stream.py);
* union is IDEMPOTENT (HLL registers are per-bucket maxima), so an
  at-least-once replay of a batch re-unions the same items into a
  state that already contains them -- a no-op by algebra, not by
  bookkeeping. The batch marker is therefore only a skip
  optimization, not a correctness requirement (contrast
  fold_rollup_batch, where addition would double-count).

State layout is plain parquet, committed with its batch marker by the
staged-directory rename swap the rollup fold also uses
(events.swap_fold); the state is one ~4 KB sketch row per day,
KB-scale regardless of event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.streaming.events import (
    drain,
    read_event_stream,
    scoped_session,
    swap_fold,
)


def build_day_sketches(events: DataFrame) -> DataFrame:
    """(d, sk): one HLL sketch of ``user_id`` per event day."""
    return (
        events.select(F.to_date("ts").alias("d"), "user_id")
        .groupBy("d")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )


def merge_day_sketches(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Union two day-sketch tables: full-outer on day, hll_union where
    both sides exist. Associative, commutative, idempotent."""
    o = state.select(F.col("d"), F.col("sk").alias("o_sk"))
    n = delta.select(F.col("d"), F.col("sk").alias("n_sk"))
    return o.join(n, "d", "full_outer").select(
        "d",
        F.when(F.col("o_sk").isNull(), F.col("n_sk"))
        .when(F.col("n_sk").isNull(), F.col("o_sk"))
        .otherwise(F.expr("hll_union(o_sk, n_sk)"))
        .alias("sk"),
    )


def fold_sketch_batch(batch_df: DataFrame, batch_id: int, state_path: str) -> bool:
    """Fold one micro-batch into the persistent day-sketch table
    (events.swap_fold). Returns False for marker-skipped replays
    (which would also be harmless to apply -- union is idempotent)."""
    return swap_fold(
        batch_df,
        batch_id,
        state_path,
        build_day_sketches,
        merge_day_sketches,
    )


def stream_maintain_sketches(
    spark: SparkSession, path_dir: str, state_path: str
) -> DataFrame:
    """Drain the staged event stream through the sketch fold; returns
    the maintained day-sketch table."""
    drain(
        read_event_stream(scoped_session(spark, 8), path_dir),
        lambda batch_df, batch_id: fold_sketch_batch(batch_df, batch_id, state_path),
        state_path + "._ckpt",
    )
    return spark.read.parquet(state_path)
