"""Streaming curation funnel: the batch capstone's stages folded over
ingest (VERDICT r8 item 6).

The batch capstone (queries/textstats.curation_pipeline_v2) gates,
redacts, quality-scores, and fingerprint-dedups a corpus in one DAG.
The ingest-service version of that job sees documents ARRIVE: every
stage except dedup is a stateless row map (domain gate, PII redaction,
Gopher word rules -- they fold over a stream unchanged), and the
fingerprint dedup becomes KEEP-FIRST-ARRIVAL: a doc's fingerprint is
admitted the first time a quality survivor carries it, and every later
carrier is dropped -- the same greedy-by-arrival semantics as the
near-dup admission filter (streaming/neardup.py), but at exact
fingerprint grain, so no verification join is needed: the store is a
plain fp set.

Determinism and the strict oracle: with a doc_id-ordered staged source
(ascending micro-batches) and min-doc_id resolution INSIDE each batch,
keep-first-arrival admits exactly the min-doc_id survivor per
fingerprint -- i.e. precisely the batch capstone's window(fp, order by
doc_id) rn=1 row. The streaming funnel therefore shares the batch
query's DuckDB oracle verbatim; nothing is rows-only here.

Mechanics per micro-batch (foreachBatch):

1. run the SHARED stage builder (passed in, so the streaming path can
   never drift from the batch definition) -- map-only flags + redacted
   text + fingerprint;
2. write the batch's per-source funnel counts (total / after-domain /
   after-quality) into a ``batch=<id>`` partition -- pure map-side
   counts, replay-overwrite-safe;
3. admission: survivors reduce to their min-doc_id row per fp (one
   window at fp grain, batch-sized), anti-join against the fps the
   store absorbed from EARLIER batches (partition-pruned), and the
   admitted rows land in the batch's own ``fps/batch=<id>`` partition.
   The store is an fp -> (doc_id, source, chars) table: state is
   O(admitted fingerprints), the inherent floor for exact dedup on
   ingest.

At 100 TB the fps store would be bucketed by fp so the anti-join is
co-located; nothing in the fold collects to the driver.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conversation_analysis_tools_spark.streaming.events import (
    drain,
    scoped_session,
    skip_replays,
)


def fold_curation_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    stage_fn: Callable[[DataFrame], DataFrame],
) -> None:
    """One foreachBatch fold. ``stage_fn`` maps raw docs (doc_id,
    source, text) to the staged frame (doc_id, source, red, blocked,
    q, fp) -- the batch capstone's own builder is passed in so both
    paths share one definition. Replay-idempotent by layout: both
    outputs land in ``batch=<id>`` partitions with overwrite
    semantics, and the cross-batch anti-join reads only EARLIER
    partitions, so a replayed fold converges instead of
    double-admitting."""
    spark = batch_df.sparkSession
    gop = stage_fn(batch_df).persist()
    try:
        funnel = gop.groupBy("source").agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(~F.col("blocked"), 1).otherwise(0)).alias(
                "n_after_domain"
            ),
            F.sum(F.when(~F.col("blocked") & F.col("q"), 1).otherwise(0)).alias(
                "n_after_quality"
            ),
        )
        funnel.write.mode("overwrite").parquet(
            os.path.join(store_dir, "funnel", f"batch={batch_id}")
        )
        surv = gop.where(~F.col("blocked") & F.col("q"))
        w = Window.partitionBy("fp").orderBy("doc_id")
        batch_min = (
            surv.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "fp", "doc_id", "source", F.length("red").alias("chars")
            )
        )
        fps_path = os.path.join(store_dir, "fps")
        if os.path.exists(fps_path):
            seen = (
                spark.read.parquet(fps_path)
                .where(F.col("batch") < batch_id)
                .select("fp")
            )
            admitted = batch_min.join(seen, "fp", "left_anti")
        else:
            admitted = batch_min
        admitted.write.mode("overwrite").parquet(
            os.path.join(fps_path, f"batch={batch_id}")
        )
    finally:
        gop.unpersist()


def stream_curation_funnel(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    stage_fn: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Drain the staged document stream (one file per micro-batch, in
    file order) through the curation fold; return the per-source
    funnel -- column-identical to curation_pipeline_v2's output, which
    is what lets the two share an oracle.

    Replay safety: the applied-batch marker skips folds the store
    already absorbed (events.skip_replays), per-batch partitions
    overwrite on replay, and an incomplete drain RAISES (events.drain)
    instead of returning a truncated funnel."""
    stream = (
        scoped_session(spark, 8)
        .readStream.schema("doc_id bigint, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src_dir)
    )
    drain(
        stream,
        skip_replays(
            store_dir,
            lambda batch_df, batch_id: fold_curation_batch(
                batch_df, batch_id, store_dir, stage_fn
            ),
        ),
        os.path.join(store_dir, "_ckpt"),
    )
    funnel_path = os.path.join(store_dir, "funnel")
    if not os.path.exists(funnel_path):
        return spark.createDataFrame(
            [],
            "source string, n_total bigint, n_after_domain bigint,"
            " n_after_quality bigint, n_after_dedup bigint,"
            " kept_chars bigint",
        )
    funnel = (
        spark.read.parquet(funnel_path)
        .groupBy("source")
        .agg(
            F.sum("n_total").alias("n_total"),
            F.sum("n_after_domain").alias("n_after_domain"),
            F.sum("n_after_quality").alias("n_after_quality"),
        )
    )
    kept = (
        spark.read.parquet(os.path.join(store_dir, "fps"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_after_dedup"),
            F.sum("chars").alias("kept_chars"),
        )
    )
    return funnel.join(kept, "source", "left").select(
        "source",
        "n_total",
        "n_after_domain",
        "n_after_quality",
        F.coalesce("n_after_dedup", F.lit(0)).alias("n_after_dedup"),
        F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
    )
