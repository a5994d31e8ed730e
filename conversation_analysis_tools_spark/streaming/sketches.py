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
  bookkeeping. The batch marker below is therefore only a skip
  optimization, not a correctness requirement (contrast
  fold_rollup_batch, where addition would double-count).

State layout is plain parquet with the same staged-directory rename
swap as the rollup fold (at 100 TB a table format -- Delta/Iceberg --
makes this a transactional MERGE INTO); the state is one ~4 KB sketch
row per day, KB-scale regardless of event volume.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.decisions import carried

SKETCH_BATCH_MARKER = "_applied_batch.json"


def _applied(state_path: str) -> int:
    p = os.path.join(state_path, SKETCH_BATCH_MARKER)
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        return json.load(f)["batch_id"]


def build_day_sketches(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """(d, sk): one HLL sketch of ``key_col`` per event day."""
    return (
        events.select(F.to_date("ts").alias("d"), key_col)
        .groupBy("d")
        .agg(F.expr(f"hll_sketch_agg({key_col})").alias("sk"))
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


def fold_sketch_batch(
    batch_df: DataFrame, batch_id: int, state_path: str, key_col: str = "user_id"
) -> bool:
    """Fold one micro-batch into the persistent day-sketch table.
    Returns False for marker-skipped replays (which would also be
    harmless to apply -- union is idempotent)."""
    # crash-window recovery: a failure between the two swap renames
    # leaves the only state copy stranded in ._old -- restore it
    # before the exists-probe below would treat the store as empty
    old = state_path + "._old"
    if not os.path.exists(state_path) and os.path.exists(old):
        os.rename(old, state_path)
    if batch_id <= _applied(state_path):
        return False
    sess = batch_df.sparkSession
    delta = build_day_sketches(batch_df, key_col)
    if os.path.exists(state_path):
        merged = merge_day_sketches(sess.read.parquet(state_path), delta)
    else:
        merged = delta
    staged = state_path + "._staged"
    shutil.rmtree(staged, ignore_errors=True)
    merged.write.mode("overwrite").parquet(staged)
    with open(os.path.join(staged, SKETCH_BATCH_MARKER), "w") as f:
        json.dump({"batch_id": batch_id}, f)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(state_path):
        os.rename(state_path, old)
    os.rename(staged, state_path)
    shutil.rmtree(old, ignore_errors=True)
    return True


def stream_maintain_sketches(
    spark: SparkSession,
    path_dir: str,
    state_path: str,
    key_col: str = "user_id",
    state_partitions: int | None = 8,
    timeout_sec: int = 120,
) -> DataFrame:
    """Drain the staged event stream through the sketch fold; returns
    the maintained day-sketch table."""
    from conversation_analysis_tools_spark.streaming.events import (
        read_event_stream,
        scoped_session,
    )

    s2 = scoped_session(spark, state_partitions)
    stream = read_event_stream(s2, path_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_sketch_batch(batch_df, batch_id, state_path, key_col)

    q = (
        stream.writeStream.foreachBatch(carried(fold))
        .trigger(availableNow=True)
        .option("checkpointLocation", state_path + "._ckpt")
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise RuntimeError(f"sketch drain did not finish within {timeout_sec}s")
    return spark.read.parquet(state_path)
