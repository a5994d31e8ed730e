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
   per shingle, map-side partial agg);
2. LSH-band join batch vs the persistent store's band table -- a
   distributed equi-join on (band, key), linear in both sides; any
   batch doc with a store band collision that survives exact-Jaccard
   verification (shingle arrays ride in the store) is dropped. Store
   docs all precede the batch in arrival order, so this needs no
   order bookkeeping;
3. batch-INTERNAL candidates (band self-join within the batch) are
   verified the same way, then resolved greedily by doc_id on the
   driver -- the candidate pair list of one micro-batch is the only
   thing ever collected, and it is candidate-sized (band collisions),
   not batch-sized;
4. admitted docs write their (doc_id, sh_arr) and band rows into
   PER-BATCH store subdirectories (``batch=<id>``) -- so a replayed
   fold OVERWRITES its own output instead of double-appending, which
   is what makes the at-least-once foreachBatch contract safe here.
   At corpus scale the band table would additionally be bucketed by
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

from conversation_analysis_tools_spark.operators import dedup as D
from conversation_analysis_tools_spark.operators.density import group_reps, set_fp
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
    id_col: str = "doc_id",
    text_col: str = "text",
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

    arrs = D.shingle_arrays(
        batch_df.select(id_col, text_col), id_col, text_col
    ).persist()
    bands = D.lsh_bands(D.minhash_signatures_from_arrays(arrs, id_col), id_col)
    survivors = None
    rep_surv = None
    try:
        # -- cross: batch vs admitted store --------------------------
        # Only partitions from EARLIER batches: a replayed fold must
        # not dedup the batch against its own previous output (every
        # doc is a perfect near-dup of itself), and the batch column
        # partition-prunes, so later/own partitions are never scanned.
        # Existence gates on bands_path -- the SECOND write below --
        # so a first-fold crash between the two writes replays as an
        # empty store (and overwrites both partitions) instead of
        # reading a bands dir that was never created.
        if os.path.exists(bands_path):
            store_bands = (
                spark.read.parquet(bands_path)
                .where(F.col("batch") < batch_id)
                .select(F.col(id_col).alias("id1"), "band", "key")
            )
            cand_cross = (
                bands.select(F.col(id_col).alias("id2"), "band", "key")
                .join(store_bands, ["band", "key"])
                .select("id1", "id2")
                .distinct()
            )
            store_arrs = (
                spark.read.parquet(arrs_path)
                .where(F.col("batch") < batch_id)
                .select(id_col, "sh_arr")
            )
            both = store_arrs.unionByName(arrs)
            dropped_cross = (
                D.jaccard_verify(cand_cross, both, threshold, id_col)
                .select(F.col("id2").alias(id_col))
                .distinct()
            )
            survivors = arrs.join(dropped_cross, id_col, "left_anti").persist()
        else:
            survivors = arrs

        # -- exact-dup collapse inside the batch ---------------------
        # Identical shingle sets are mutual near-dups at Jaccard 1.0
        # (threshold <= 1) with IDENTICAL pair relations, so greedy
        # admission provably keeps exactly the min-id representative
        # of every identical group: a non-rep is blocked by its rep if
        # the rep is admitted, else by whatever admitted doc blocked
        # the rep (same relations). Folding that outcome in directly
        # keeps a replica BURST batch (the adversarial streaming case)
        # from going quadratic in the internal candidate join AND from
        # collecting m^2/2 pairs to the driver. Docs with no shingles
        # are absent from ``members`` and pass through untouched,
        # exactly as in the uncollapsed plan (they have no bands).
        members = set_fp(survivors, id_col)
        reps = group_reps(members, id_col)
        non_reps = members.join(reps.select(id_col), id_col, "left_anti")
        rep_surv = survivors.join(
            non_reps.select(id_col), id_col, "left_anti"
        ).persist()
        # -- internal: representatives vs themselves, greedy by id ---
        surv_bands = bands.join(rep_surv.select(id_col), id_col, "left_semi")
        cand_int = D.minhash_candidates(surv_bands, id_col)
        verified = D.jaccard_verify(cand_int, rep_surv, threshold, id_col)
        # the ONLY collect: one micro-batch's verified candidate
        # pairs at REPRESENTATIVE grain. Greedy admission only needs
        # the pair-involved ids (a survivor in no pair is admitted and
        # blocks nobody), so the local resolution is candidate-sized,
        # never batch-sized.
        pairs = [
            (r["id1"], r["id2"]) for r in verified.select("id1", "id2").collect()
        ]
        involved = sorted({i for p in pairs for i in p})
        dropped_int = set(involved) - _greedy_admit(involved, pairs)

        if dropped_int:
            id_type = rep_surv.schema[id_col].dataType.simpleString()
            drop_df = spark.createDataFrame(
                [(i,) for i in sorted(dropped_int)], f"{id_col} {id_type}"
            )
            kept = rep_surv.join(F.broadcast(drop_df), id_col, "left_anti")
        else:
            kept = rep_surv
        kept_bands = surv_bands.join(kept.select(id_col), id_col, "left_semi")
        kept.write.mode("overwrite").parquet(
            os.path.join(arrs_path, f"batch={batch_id}")
        )
        kept_bands.write.mode("overwrite").parquet(
            os.path.join(bands_path, f"batch={batch_id}")
        )
    finally:
        arrs.unpersist()
        if survivors is not None and survivors is not arrs:
            survivors.unpersist()
        if rep_surv is not None:
            rep_surv.unpersist()


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
    return spark.read.parquet(arrs_path).select("doc_id")
