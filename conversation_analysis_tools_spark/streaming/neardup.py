"""Streaming near-duplicate dedup: the ingest-time filter a training
corpus runs continuously.

Batch dedup (queries/dedup.py) answers "which of these N docs
duplicate each other"; the ingest problem is different: documents
arrive over time and each new one must be admitted or dropped AGAINST
EVERYTHING ALREADY ADMITTED, immediately -- re-clustering the corpus
per arrival is not an option at 100 TB. The streaming semantics is
therefore GREEDY BY ARRIVAL ORDER:

    doc d is dropped  iff  some ADMITTED earlier doc e is a verified
    near-duplicate of d (LSH band collision + exact Jaccard >= t);
    otherwise d is admitted and future docs dedup against it too.

(Greedy differs from batch component-representative selection --
near-dup similarity is not transitive -- and greedy IS what an ingest
service computes; the batch variant is near_dup_canonicalize.)

Mechanics per micro-batch (foreachBatch):

1. shingle + MinHash-sign the batch (operators/dedup.py -- one md5
   per shingle, map-side partial agg), after collapsing identical
   shingle sets to their min-id representative: identical sets relate
   identically to every store and batch doc, so greedy admission never
   keeps a non-representative, and a replica burst stays linear;
2. ONE candidate relation: the batch's bands joined on (band, key) to
   the batch's own bands (id1 < id2) and to the store bands of earlier
   batches (tagged ``_store``) -- a distributed equi-join, linear in
   both sides; store docs all precede the batch in arrival order, so
   this needs no order bookkeeping;
3. ONE exact-Jaccard verify over store arrays + representative arrays
   (shingle arrays ride in the store), and ONE collect of the verified
   pairs -- candidate-sized (band collisions), never batch-sized. A
   store hit drops its batch doc outright; batch pairs between docs
   the store left are resolved greedily by doc_id on the driver;
4. admitted docs write their (doc_id, sh_arr) and band rows into
   PER-BATCH store subdirectories (``batch=<id>``), both writes
   anti-joining the one broadcast drop set -- so a replayed fold
   OVERWRITES its own output instead of double-appending, which is
   what makes the at-least-once foreachBatch contract safe here. At
   corpus scale the band table would additionally be bucketed by
   (band, key) so step 2 is a co-located join.

State size is O(admitted corpus) -- that is inherent to exact-verify
dedup-on-ingest; production trades it down with signature-only
verification (accept LSH FPs) or TTL'd stores.

The whole fold is deterministic given arrival order, so with a staged
doc_id-ordered source the result carries a STRICT oracle: DuckDB
computes the same greedy admission with a sequential recursive CTE
over the identical (md5-exact) verified candidate pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conversation_analysis_tools_spark.operators import dedup as D
from conversation_analysis_tools_spark.operators.density import set_fp
from conversation_analysis_tools_spark.streaming.events import (
    drain,
    scoped_session,
    skip_replays,
)


def _greedy_admit(
    ids_in_order: list[int], pairs: list[tuple[int, int]]
) -> set[int]:
    """Driver-side greedy: admit each id (ascending) unless a verified
    pair links it to an already-admitted earlier id. ``pairs`` holds
    (id1, id2) with id1 < id2."""
    by_later: dict[int, list[int]] = {}
    for a, b in pairs:
        by_later.setdefault(b, []).append(a)
    admitted: set[int] = set()
    for d in ids_in_order:
        if not any(e in admitted for e in by_later.get(d, ())):
            admitted.add(d)
    return admitted


def fold_neardup_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float,
) -> None:
    """One foreachBatch fold: admit/drop ``batch_df`` against the
    store, write admitted docs into the batch's own store partition.

    Replay-idempotent BY LAYOUT: outputs land in ``batch=<id>``
    subdirectories with overwrite semantics, so re-running the same
    batch (at-least-once foreachBatch, or a crash between the two
    writes) converges to the same store state instead of appending
    twice. Inputs are persisted for the fold's several actions and
    unpersisted before returning -- a continuous stream must not
    accumulate per-batch cached relations."""
    spark = batch_df.sparkSession
    arrs_path = os.path.join(store_dir, "arrs")
    bands_path = os.path.join(store_dir, "bands")

    arrs = D.shingle_arrays(batch_df.select("doc_id", "text")).persist()
    id_type = arrs.schema["doc_id"].dataType.simpleString()
    # Identical shingle sets relate identically to every store and
    # batch doc, so greedy admission keeps at most their min-id
    # representative: non-reps drop before any candidate join, which
    # keeps a replica burst from going quadratic. Shingle-less docs
    # have no fingerprint and no bands; they are always admitted.
    non_reps = (
        set_fp(arrs, "doc_id")
        .withColumn("_rep", F.min("doc_id").over(Window.partitionBy("_fp")))
        .where(F.col("doc_id") > F.col("_rep"))
        .select("doc_id")
    )
    reps = arrs.join(non_reps, "doc_id", "left_anti").persist()
    bands = D.lsh_bands(D.minhash_signatures_from_arrays(reps)).persist()
    try:
        # One candidate relation: batch bands against batch bands
        # (id1 < id2) and against the store bands of EARLIER batches
        # (``_store``; a replayed fold must not meet its own output).
        # The gate is bands_path, the second write below, so a
        # first-fold crash between the writes replays as an empty store.
        def tagged(b: DataFrame, store: bool) -> DataFrame:
            return b.select(
                F.col("doc_id").alias("id1"), "band", "key", F.lit(store).alias("_store")
            )

        pool, sh_arrs = tagged(bands, False), reps
        if os.path.exists(bands_path):
            prior = F.col("batch") < batch_id
            store_bands = spark.read.schema(
                f"doc_id {id_type}, band int, key string, batch int"
            ).parquet(bands_path)
            store_arrs = spark.read.schema(
                f"doc_id {id_type}, sh_arr array<string>, batch int"
            ).parquet(arrs_path)
            pool = pool.unionByName(tagged(store_bands.where(prior), True))
            sh_arrs = store_arrs.where(prior).select("doc_id", "sh_arr").unionByName(reps)
        cands = (
            bands.select(F.col("doc_id").alias("id2"), "band", "key")
            .join(pool, ["band", "key"])
            .where(F.col("_store") | (F.col("id1") < F.col("id2")))
            .select("id1", "id2", "_store")
            .distinct()
        )
        # The only collect: verified candidate pairs, candidate-sized.
        # A store hit drops its batch doc outright; batch pairs between
        # docs the store left go through greedy admission by id.
        rows = D.jaccard_verify(cands, sh_arrs, threshold).select(
            "id1", "id2", "_store"
        ).collect()
        dropped = {r["id2"] for r in rows if r["_store"]}
        pairs = [
            (r["id1"], r["id2"])
            for r in rows
            if not (r["_store"] or r["id1"] in dropped or r["id2"] in dropped)
        ]
        involved = sorted({i for p in pairs for i in p})
        dropped |= set(involved) - _greedy_admit(involved, pairs)

        drop_df = F.broadcast(
            spark.createDataFrame(
                [(i,) for i in sorted(dropped)], f"doc_id {id_type}"
            )
        )
        reps.join(drop_df, "doc_id", "left_anti").write.mode("overwrite").parquet(
            os.path.join(arrs_path, f"batch={batch_id}")
        )
        bands.join(drop_df, "doc_id", "left_anti").write.mode("overwrite").parquet(
            os.path.join(bands_path, f"batch={batch_id}")
        )
    finally:
        arrs.unpersist()
        reps.unpersist()
        bands.unpersist()


def stream_neardup_dedup(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    threshold: float = 0.2,
) -> DataFrame:
    """Drain the staged document stream (one file per micro-batch, in
    file order) through the near-dup admission fold; returns the
    admitted doc ids.

    Replay safety: the applied batch_id marker skips folds the store
    has already absorbed (events.skip_replays), and the per-batch
    store partitions make a replayed (or crashed-midway) fold
    overwrite its own output -- either way the store converges. An
    incomplete drain RAISES (events.drain) instead of returning a
    truncated admission set."""
    stream = (
        scoped_session(spark, 8)
        .readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src_dir)
    )
    drain(
        stream,
        skip_replays(
            store_dir,
            lambda batch_df, batch_id: fold_neardup_batch(
                batch_df, batch_id, store_dir, threshold
            ),
        ),
        os.path.join(store_dir, "_ckpt"),
    )
    arrs_path = os.path.join(store_dir, "arrs")
    if not os.path.exists(arrs_path):
        # zero source files -> no fold ever ran -> empty admission set
        # (reading the never-created store would raise AnalysisException)
        return spark.createDataFrame([], "doc_id bigint")
    # the store's declared schema: no inference job on the caller's thread
    return spark.read.schema(
        "doc_id bigint, sh_arr array<string>, batch int"
    ).parquet(arrs_path).select("doc_id")
