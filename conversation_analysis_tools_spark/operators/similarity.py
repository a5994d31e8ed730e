"""Sparse-vector document similarity (N16-N18, J8) -- inverted-index
join, never a blind crossJoin.

Reference semantics (pipeline/duplicate_detector.py:74-167): cosine
over sum-normalized TF dicts; pairs i<j kept when sim >= threshold.
Pairs with no shared term have cosine 0, so generating candidates from
an inverted-index self-join on ``term`` is *exact* (SURVEY §4 item 1):
only pairs that share at least one term are ever materialized.

Scale path: at 100 TB the frequent-term blowup (a term shared by k
docs contributes k^2 candidate rows) is the wall; ``duplicate_pairs``
probes that volume and routes past a budget to the banded cosine-LSH
:func:`tuned_simhash_pairs`, and the MinHash-LSH variant in dedup.py
replaces the exact join entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.decisions import record
from conversation_analysis_tools_spark.operators import tfidf as T
from conversation_analysis_tools_spark.operators.cache import track
from conversation_analysis_tools_spark.operators.density import (
    collapse_engaged,
    dup_density_decision,
    expand_rep_pairs,
    group_reps,
)


def tf_vectors(docs: DataFrame, counts: DataFrame | None = None) -> DataFrame:
    """(id, term, tf) sum-normalized -- the duplicate-detector vector.

    Pass a precomputed (persisted) ``counts`` table to share the
    tokenize+count shuffle with other branches of a pipeline."""
    if counts is None:
        counts = T.term_counts(T.explode_tokens(docs))
    return T.tf_sum(counts)


#: Threshold comparisons subtract this epsilon on BOTH the engine and
#: every oracle: small-integer count vectors produce cosines that are
#: EXACT rationals (e.g. exactly 0.9), and the two engines' float
#: pipelines land on opposite sides of ``>= thr`` by one ulp (observed
#: at sf0.1: rowcount 2627 vs 2626). Shifting the cut to thr - 1e-9 --
#: far above fp noise (~1e-15), far below the gap to the next distinct
#: rational -- makes both engines agree on every pair.
THRESHOLD_EPS = 1e-9

#: Vocabulary size below which the dense-vector plan beats the
#: inverted index: with v distinct terms shared by nearly all docs the
#: term join materializes O(v * n^2) rows, while the dense plan is a
#: blocked matrix product over n^2 pairs with BLAS dots.
SMALL_VOCAB_LIMIT = 256

#: Corpus size above which the dense plan's n^2 FLOPs are hopeless on
#: any cluster (10^10+ pair dots) -- force the inverted index (or the
#: MinHash-LSH dedup variant) regardless of vocabulary size.
DENSE_MAX_N = 100_000

#: Target rows per block in the blocked dense plan. Grid parallelism
#: is B(B+1)/2 cells for B = ceil(n / DENSE_BLOCK_ROWS); shuffle
#: volume is n * B vector rows.
DENSE_BLOCK_ROWS = 2_000


def pairwise_cosine(
    tf: DataFrame,
    strategy: str = "auto",
    threshold: float = 0.0,
) -> DataFrame:
    """All-pairs cosine -> (id1, id2, sim). Physical strategy chosen
    from corpus statistics (a deliberate optimizer decision, SURVEY §4):

    * ``inverted``: self-join on term -- optimal for large sparse
      vocabularies (real text), where few pairs share terms.
    * ``dense``: vocab-aligned L2-normalized dense vectors, all pairs
      by the grid-blocked BLAS scan (:func:`grid_blocked_pairs`) --
      optimal when the vocabulary is tiny and shared (every pair
      overlaps, so the inverted index degenerates to O(vocab * n^2)
      join rows).
    * ``auto``: the dense plan when the vocabulary has at most
      SMALL_VOCAB_LIMIT terms and the corpus at most DENSE_MAX_N
      docs, else the inverted index. A forced ``dense`` takes the same
      path without either fence.
    """
    requested, n_docs, per_doc = strategy, None, None
    terms = None  # distinct terms the probe saw, capped at the limit + 1
    if strategy in ("auto", "dense"):
        forced = strategy == "dense"
        # one tiny job decides the strategy AND yields the vocabulary;
        # a forced dense plan takes the whole vocabulary, unfenced
        probe = tf.select("term").distinct()
        if not forced:
            # The strategy probe and the main plan both consume ``tf``;
            # persist it so tokenize + term-count shuffle run once (the
            # reference's precomputed-vector optimization,
            # pipeline/duplicate_detector.py:147-151 -- SURVEY §4). The
            # inverted path reads it twice more (both sides of the term
            # self-join), so the persist pays for itself three times.
            tf = track(tf)
            probe = tf.select("term").distinct().limit(SMALL_VOCAB_LIMIT + 1)
        probe = probe.collect()
        terms, strategy = len(probe), "inverted"
        if forced or terms <= SMALL_VOCAB_LIMIT:
            # Tentatively dense: build (and persist) the vectors, and
            # let their count -- needed for grid blocking anyway --
            # double as the DENSE_MAX_N fence (even a tiny vocabulary
            # cannot rescue the dense plan's n^2 FLOPs above it). The
            # vector build is linear, so probing via it is safe, and
            # this fuses what used to be a separate
            # approx_count_distinct job into a count the dense path
            # paid regardless.
            vocab = sorted(r["term"] for r in probe)
            per_doc = track(_dense_doc_vectors(tf, "doc_id", vocab))
            n_docs = per_doc.count()
            if forced or n_docs <= DENSE_MAX_N:
                strategy = "dense"
            else:
                per_doc.unpersist()
                per_doc = None
    record("pairwise_cosine", strategy, requested=requested, terms=terms,
           n_docs=n_docs)
    if per_doc is not None:
        return grid_blocked_pairs(per_doc, threshold, n=n_docs)
    return _pairwise_cosine_inverted(tf)


def _dense_doc_vectors(
    tf: DataFrame, id_col: str, vocab: list
) -> DataFrame:
    """(id, term, tf) -> (_id, v) with v vocab-aligned and
    L2-normalized, entirely JVM-side.

    One codegen'd aggregate per vocabulary slot (round 12, guide
    §1.2/§4.1): ``sum(CASE WHEN term = t THEN tf END)`` -- tf rows are
    unique per (id, term), so the sum is the single value or NULL,
    and coalesce(.., 0.0) reproduces the map-lookup default exactly.
    The previous shape built a per-doc term->tf map through
    ``collect_list(struct(..))`` -- an ObjectHashAggregate that drops
    the stage out of whole-stage codegen -- and then probed it with
    interpreted higher-order transforms per row: at sf1 the vector
    build + count job measured 4.09 s; this form runs the same stage
    as <= SMALL_VOCAB_LIMIT codegen'd sum buffers (inside the
    session's maxFields=600). The norm folds left-to-right in vocab
    order exactly like the old F.aggregate, so every float is
    bit-identical."""
    if not vocab:
        # empty vocabulary: no slots, so no vectors whatever tf holds
        # (e.g. a corpus with no terms); same (_id, v) schema
        return tf.select(
            F.col(id_col).alias("_id"),
            F.array(F.lit(0.0)).alias("v"),
        ).where(F.lit(False))
    vcols = [
        F.sum(F.when(F.col("term") == t, F.col("tf"))).alias(f"_s{i}")
        for i, t in enumerate(vocab)
    ]
    sums = tf.groupBy(id_col).agg(*vcols)
    x = [F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(vocab))]
    nrm_sq = F.lit(0.0)
    for xi in x:
        nrm_sq = nrm_sq + xi * xi
    # norm in its own projection: sqrt(..) is referenced by every
    # element of the division below, and CollapseProject declines to
    # inline a non-cheap alias used more than once, so the norm is
    # evaluated once per row, not once per vocabulary slot
    safe = F.when(F.col("_n") == 0.0, F.lit(1.0)).otherwise(F.col("_n"))
    return (
        sums.select(
            F.col(id_col).alias("_id"),
            F.sqrt(nrm_sq).alias("_n"),
            *[x[i].alias(f"_x{i}") for i in range(len(vocab))],
        )
        .select(
            "_id",
            F.array(
                *[F.col(f"_x{i}") / safe for i in range(len(vocab))]
            ).alias("v"),
        )
    )


def grid_blocked_pairs(
    per_doc: DataFrame,
    threshold: float,
    n: int | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """All-pairs cosine >= threshold over L2-normalized vectors (_id,
    v), within each ``group_col`` group (e.g. per k-means cluster) or,
    without one, over all rows as a single group.

    Grid-block plan: a group of s rows hashes into B = ceil(s /
    DENSE_BLOCK_ROWS) blocks (at most 64), every row replicates to
    the B grid cells its block belongs to (cell (bi, bj), bi <= bj),
    and each cell computes one block_i @ block_j^T BLAS product in
    Arrow-batched ``applyInPandas``, emitting pairs >= threshold. An
    unordered pair {x, y} lands in exactly one cell (min(bx,by),
    max(bx,by)); the diagonal cell keeps the strict upper triangle.
    Shuffle s*B vector rows, B(B+1)/2 independent tasks per group, no
    driver-side matrix: typical groups are single-block (one task per
    group), and a skewed group degrades to bounded-size tasks instead
    of one quadratic task. A 64x-128x win over the per-pair
    interpreted HOF cosine fold when groups hold hundreds+ of vectors
    (measured 34 s -> 4 s on semdedup at 20k vectors / 157 clusters).

    The single group sizes B from ``n``, counted here unless the
    caller already counted the (persisted) vectors; groups join their
    sizes from one groupBy. Returns (id1, id2, sim) with id1 < id2,
    led by ``group_col`` when given."""
    import numpy as np
    import pandas as pd

    keys = [] if group_col is None else [group_col]
    schema = "id1 long, id2 long, sim double"
    if group_col is None:
        if n is None:
            n = per_doc.count()
        nb = F.lit(max(1, min(64, -(-n // DENSE_BLOCK_ROWS))))
    else:
        schema = f"g {per_doc.schema[group_col].dataType.simpleString()}, {schema}"
        sizes = per_doc.groupBy(group_col).agg(F.count("*").alias("_gsz"))
        per_doc = per_doc.join(F.broadcast(sizes), group_col)
        nb = F.greatest(
            F.lit(1),
            F.least(F.lit(64), F.ceil(F.col("_gsz") / F.lit(DENSE_BLOCK_ROWS))),
        ).cast("int")
    blocked = per_doc.withColumn("_nb", nb).withColumn(
        "blk", F.pmod(F.hash("_id"), F.col("_nb")).cast("int")
    )
    # replicate each row to every grid cell its block participates in
    cells = F.transform(
        F.sequence(F.lit(0), F.col("_nb") - 1),
        lambda o: F.struct(
            F.least(F.col("blk"), o).alias("bi"),
            F.greatest(F.col("blk"), o).alias("bj"),
        ),
    )
    exploded = blocked.select(
        *keys, "_id", "blk", "v", F.explode(F.array_distinct(cells)).alias("c")
    ).select(
        *keys, "_id", "blk", "v", F.col("c.bi").alias("bi"), F.col("c.bj").alias("bj")
    )

    thr = threshold

    # deliberately UNannotated: applyInPandas only needs hints to
    # infer the eval type, and a (key, pdf) pair with a partial hint
    # set makes that inference fail with a UserWarning on every run
    def cell_product(key, pdf):
        bi, bj = key[-2:]
        if bi == bj:
            left = right = pdf
        else:
            left = pdf[pdf["blk"] == bi]
            right = pdf[pdf["blk"] == bj]
        lid = left["_id"].to_numpy()
        rid = right["_id"].to_numpy()
        if len(lid) and len(rid):
            sims = np.stack(left["v"].to_numpy()) @ np.stack(right["v"].to_numpy()).T
            mask = sims >= thr - THRESHOLD_EPS
            if bi == bj:
                mask &= rid[None, :] > lid[:, None]
            ii, jj = np.nonzero(mask)
            sim = sims[ii, jj]
        else:  # an off-diagonal cell whose other block is empty
            ii = jj = np.zeros(0, dtype=np.int64)
            sim = np.zeros(0)
        a, b = lid[ii], rid[jj]
        out = {"id1": np.minimum(a, b), "id2": np.maximum(a, b), "sim": sim}
        if len(key) == 3:
            g = pd.Series([key[0]] * len(a), dtype=None if len(a) else object)
            out = {"g": g, **out}
        return pd.DataFrame(out)

    pairs = exploded.groupBy(*keys, "bi", "bj").applyInPandas(
        cell_product, schema=schema
    )
    return pairs if group_col is None else pairs.withColumnRenamed("g", group_col)


def unit_vector(vec_col: str) -> Column:
    """``vec_col`` divided by its L2 norm; a zero vector stays zero
    (and so dots to 0 against anything)."""
    nrm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x))
    safe = F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm)
    return F.transform(F.col(vec_col), lambda x: x / safe)


def grouped_grid_pairs(vecs: DataFrame, group_col: str, threshold: float) -> DataFrame:
    """WITHIN-GROUP all-pairs cosine >= threshold over the raw
    ``embedding`` column, ids from ``vec_id``: :func:`grid_blocked_pairs`
    gridded per ``group_col``. Returns (group_col, id1, id2, sim) with
    id1 < id2."""
    # null groups/vectors produce no pairs by contract (a null key
    # matches nothing in an equi-join anyway; dropping them here also
    # keeps np.stack off ragged input)
    per = vecs.where(
        F.col(group_col).isNotNull() & F.col("embedding").isNotNull()
    ).select(
        F.col(group_col),
        F.col("vec_id").alias("_id"),
        unit_vector("embedding").alias("v"),
    )
    return grid_blocked_pairs(per, threshold, group_col=group_col)


def _l2_normalize(tf: DataFrame, id_col: str) -> DataFrame:
    """Divide each doc's tf values by its L2 norm, via a window over
    ``id_col`` -- ONE shuffle on id, no join, and crucially no
    O(n_docs) broadcast (a per-doc norms table broadcast is a driver
    OOM at corpus scale). After this, a pairwise dot product over
    shared terms IS the cosine."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col)
    nrm = F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(w))
    safe = F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm)
    return tf.withColumn("tf", F.col("tf") / safe)


def _pairwise_cosine_inverted(tf: DataFrame) -> DataFrame:
    """Inverted-index plan: self-join on term -> groupBy pair.

    ``tf`` is (id, term, tf). Vectors are L2-normalized FIRST (window
    over id), so the grouped term-join dot product is already the
    cosine -- dividing inputs by norms up front is algebraically
    identical to the reference's divide-at-the-end
    (pipeline/duplicate_detector.py:74-107) and removes two per-doc
    norm joins (previously O(n_docs) broadcasts -- an at-scale
    killer). Only pairs sharing a term appear (exact w.r.t. any
    threshold > 0).
    """
    unit = _l2_normalize(tf, "doc_id")
    a = unit.select(
        F.col("doc_id").alias("id1"), F.col("term"), F.col("tf").alias("tf1")
    )
    b = unit.select(
        F.col("doc_id").alias("id2"), F.col("term"), F.col("tf").alias("tf2")
    )
    return (
        a.join(b, "term")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.sum(F.col("tf1") * F.col("tf2")).alias("sim"))
    )


def duplicate_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    strategy: str = "auto",
    counts: DataFrame | None = None,
    collapse: str = "auto",
    route: str = "auto",
    route_budget: int = 32_000_000,
    cand_budget: int | None = None,
) -> DataFrame:
    """N17: pairs with cosine >= threshold (default 0.8,
    pipeline/duplicate_detector.py:127-167).

    Exact-duplicate collapse: byte-identical texts (the overwhelmingly
    common duplication mode in real corpora) are collapsed to one
    representative (min id per md5(text)) BEFORE the pair join, then
    member pairs are re-expanded. A dup cluster of size k costs k
    expansion rows per surviving pair instead of k^2 inverted-index
    join rows per shared term -- near-dup-heavy corpora are exactly
    where dedup runs. Output-exact: identical texts have identical TF
    vectors, so every cross-group member pair has its representative
    pair's cosine, and within-group pairs score the representative's
    self-cosine (1 up to fp noise; docs whose text yields no terms
    have no vector and never pair, same as the direct plan).

    ``collapse`` selects the plan: ``'auto'`` (default) runs ONE
    EAGER map-side probe job AT PLAN-BUILD TIME -- an
    approx_count_distinct over md5(text) estimating the exact-dup
    count; below density.DUP_COLLAPSE_MIN_FRAC the direct plan runs, since on
    a dup-light corpus the rep semi-joins and expansion joins are pure
    overhead (~+30% measured at sf0.1's 8 dups / 5k docs). Callers
    that only build or explain the plan (audits, dry runs) should pass
    ``collapse='never'`` (direct plan, fully lazy) or ``'always'``
    (collapse plan, fully lazy) to skip the probe. The probe's
    decision (NOT the result) is memoized per semantic plan of
    ``docs``, so re-running the same corpus -- the bench/pipeline
    steady state -- pays the probe scan once per session; a stale hit
    (same plan hash over regenerated files) can only pick between the
    two OUTPUT-IDENTICAL plans, never change results. Either path
    yields the identical pair set.

    ``route`` (round 9, the dedup-family saturation-router discipline
    at tf-cosine grain): 'auto' (DEFAULT since round 10 -- the n-gram
    Jaccard twin's discipline) probes the volume of the exact plan
    Catalyst would actually pick: the inverted index's candidate
    volume (sum over terms of df*(df-1)/2, one linear aggregation),
    or -- when the vocabulary fits the dense BLAS plan (<=
    SMALL_VOCAB_LIMIT terms and <= DENSE_MAX_N docs, the latter from
    one HLL count run only in that regime) -- the dense plan's PAIR
    count, since a small shared vocabulary saturates the index metric
    (~vocab * n^2) long before the dense plan is in trouble. Past
    ``route_budget`` it swaps in :func:`tuned_simhash_pairs` (banded
    cosine-LSH candidates + exact-cosine verify: recall-bounded near
    the threshold, zero false positives, candidate volume ~linear).
    'exact' pins the inverted-index/dense plan -- the certified
    exact-plan queries pass it explicitly so their driver plans stay
    byte-identical.
    All-pairs cosine has NO feasible exact plan once every pair
    shares a term (500k 55-word docs over a 4096-word vocabulary put
    ~52% of all pairs in the inverted index: ~1e11 candidate rows --
    measured killing the JVM through a 126 GiB scratch), which is why
    the engine default must not be the exact plan. The route is
    recorded via ``decisions.record`` (gate ``duplicate_pairs``, with
    ``requested`` the caller's own request), and 'auto' logs a
    WARNING when it swaps in the routed path.
    """
    import logging

    if route not in ("exact", "auto", "simhash"):
        raise ValueError(f"route must be exact|auto|simhash, got {route!r}")
    requested = route

    def _cos(tf_df: DataFrame) -> DataFrame:
        est = None
        rt = route
        dense_ok = None
        if rt == "auto":
            # The probe must estimate the EXACT plan Catalyst would
            # actually run, not just the inverted index: on a small
            # shared vocabulary pairwise_cosine's auto strategy picks
            # the grid-blocked dense BLAS plan, whose cost is the PAIR
            # count -- the inverted volume saturates (sum df^2 ~
            # vocab * n^2) long before the dense plan is in trouble.
            # Round 10: routing on inverted volume alone sent the
            # sf0.1 saturated corpus (5k docs, 31 terms, 3.9e8 index
            # rows) to simhash where the dense plan runs the exact
            # answer in a tenth of the time. Probe = one grouped
            # aggregation (volume + vocabulary size) + one HLL doc
            # count ONLY when the vocabulary is dense-plan-small.
            tf_df = track(tf_df)
            # ONE probe job (round 11, guide §2.3/§2.4): the per-term
            # df aggregation carries a DataSketches HLL partial of the
            # doc ids, merged in the same global aggregate -- the doc
            # count used to be a SECOND approx_count_distinct pass
            # over the whole tf table (a full extra corpus-derivative
            # pass at scale; one of two sequential probe jobs in every
            # route='auto' call). Default sketch lgConfigK=12 gives
            # ~1.6% relative std error, inside the 2% the fence's
            # 0.95 derate was sized for.
            stats = (
                tf_df.groupBy("term")
                .agg(
                    F.count(F.lit(1)).alias("df"),
                    F.hll_sketch_agg("doc_id").alias("_sk"),
                )
                .agg(
                    F.sum(
                        F.col("df").cast("double")
                        * (F.col("df") - 1).cast("double")
                        / 2.0
                    ).alias("rows"),
                    F.count(F.lit(1)).alias("vocab"),
                    F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("n"),
                )
                .first()
            )
            inv_rows = float(stats["rows"] or 0.0)
            vocab = int(stats["vocab"] or 0)
            # the HLL doc count serves two deciders: the dense
            # feasibility fence below, and the routed path's
            # volume-aware banding solve (the random-collision floor
            # is quadratic in n -- see solve_simhash_bands)
            n_docs = int(stats["n"] or 0)
            dense_ok = False
            est = inv_rows
            # The dense-metric branch must only fire when execution can
            # actually take the dense plan: pairwise_cosine forwards
            # the caller's ``strategy``, so with strategy='inverted' a
            # small shared vocabulary would be SCORED dense (256x
            # budget) while the saturated inverted plan RUNS. And the
            # fence is derated to 0.95*DENSE_MAX_N because this count
            # is an HLL estimate while pairwise_cosine re-checks the
            # fence with an exact count: an underestimate just above
            # the fence would otherwise declare dense feasible here and
            # then silently fall back to the inverted plan -- the
            # measured JVM-kill regime this router exists to prevent.
            # 0.95 = ~3 sigma at the sketch's ~1.6% rse; corpora in
            # the derate band route on the (conservative) inverted
            # metric.
            if vocab <= SMALL_VOCAB_LIMIT and strategy in ("auto", "dense"):
                dense_ok = n_docs <= 0.95 * DENSE_MAX_N
                if dense_ok:
                    est = n_docs * max(0, n_docs - 1) / 2.0
            # A dense BLAS pair is ~100-1000x cheaper than a shuffled
            # inverted-index join row (one fused multiply-add chain
            # inside a numpy matmul vs an exchanged+aggregated row), so
            # the pair metric gets a scaled budget: at the ratio below,
            # 32M rows buys 8.2e9 pairs >= C(DENSE_MAX_N, 2), i.e.
            # every dense-feasible corpus keeps the exact plan --
            # consistent with DENSE_MAX_N being the feasibility fence
            # -- while an explicit tiny route_budget (the certificates'
            # budget-0/1 forcing trick) still forces the routed plan.
            eff_budget = route_budget * (256 if dense_ok else 1)
            rt = "simhash" if est > eff_budget else "exact"
            if rt == "simhash":
                logging.getLogger(__name__).warning(
                    "duplicate_pairs: auto-routing to tuned cosine-LSH "
                    "(approximate, recall-bounded near threshold): probed "
                    "exact-plan volume %.3g %s > budget %d.",
                    est,
                    "dense pairs" if dense_ok else "inverted-index rows",
                    eff_budget,
                )
        record("duplicate_pairs", rt, requested=requested, probe_rows=est,
               route_budget=route_budget, dense_feasible=dense_ok,
               n_docs=n_docs if dense_ok is not None else None)
        if rt == "simhash":
            return tuned_simhash_pairs(
                tf_df, threshold,
                n_docs=n_docs if requested == "auto" else None,
                cand_budget=cand_budget,
            )
        sims = pairwise_cosine(tf_df, strategy, threshold)
        return sims.where(F.col("sim") >= threshold - THRESHOLD_EPS)
    member = docs.select(
        F.col("doc_id"), F.md5(F.col("text").cast("binary")).alias("_fp")
    )
    engaged = collapse_engaged(
        collapse,
        lambda: dup_density_decision(member=member, sig_col="_fp"),
    )
    if not engaged:
        return _cos(tf_vectors(docs, counts))
    member = track(member)  # collapse path: 3 consumers below
    reps = track(group_reps(member, "doc_id"))
    rep_ids = reps.select("doc_id")
    docs_r = docs.join(rep_ids, "doc_id", "left_semi")
    counts_r = (
        counts.join(rep_ids, "doc_id", "left_semi") if counts is not None else None
    )
    tf = track(tf_vectors(docs_r, counts_r))
    # within-group pairs score their rep's self-cosine (the inner join
    # on selfdot drops term-less docs, matching the direct plan where
    # they never enter the index); cross-group pairs inherit the rep
    # pair's cosine
    selfdot = (
        _l2_normalize(tf, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("tf")).alias("sim"))
    )
    within = (
        reps.join(selfdot, "doc_id")
        .where(F.col("sim") >= threshold - THRESHOLD_EPS)
        .select("_fp", "sim")
    )
    return expand_rep_pairs(_cos(tf), member, "doc_id", "sim", within)


#: Band-length ladder for the adaptive banding solve, best-first.
#: Shorter bands raise the per-band collision probability p^r, so the
#: solve needs fewer bands at low thresholds -- at the price of a
#: higher random-pair collision floor (b * 2^-r per pair) and, in the
#: saturated-n regime, larger buckets (2^r buckets per band). r = 12
#: is the floor: below it random collisions stop being rare (b/2^r
#: approaches 10%+) and over-cap star-degrade starts costing recall.
SIMHASH_R_LADDER = (20, 16, 14, 12)


#: Candidate-volume ceiling for the banded solve when the corpus size
#: is known: the random-pair collision floor materializes b * 2^-r *
#: n^2/2 REAL verify candidates (each a join row carrying two term
#: maps). Measured bracket on the 126 GiB scratch: 3.05e7 candidates
#: executed fine (the walked-back t=0.8 sf10 run), 2.9e8 killed the
#: JVM (the recall-first (16, 152) solve at 500k docs). The ceiling
#: sits modestly above the proven-safe point, well under the proven
#: kill. Volume outranks the recall target: past it the solve walks
#: BACK to longer bands and reports the (clamped) recall it can
#: actually afford.
SIMHASH_CAND_BUDGET = 50_000_000

#: Recall the banded solve targets at cosine = threshold.
SIMHASH_RECALL_TARGET = 0.98
#: Band-count clamp of the solve.
SIMHASH_B_MAX = 256
#: Bucket size past which candidate pairs star-degrade
#: (:func:`dedup.capped_bucket_pairs`).
SIMHASH_MAX_BUCKET = 20


def solve_simhash_bands(
    threshold: float,
    n_docs: int | None = None,
    cand_budget: int = SIMHASH_CAND_BUDGET,
) -> tuple[int, int, float]:
    """(r, b, est_recall) for the banded cosine-LSH solve: the FIRST
    ladder step whose solved band count fits ``SIMHASH_B_MAX`` (longest bands
    = lowest random-collision floor wins; t = 0.9 solves at the
    r9-certified (20, 85), so high-threshold plans are unchanged by
    the round-10 ladder). If every step clamps, the last step runs at
    SIMHASH_B_MAX and ``est_recall`` = 1-(1-p^r)^b reports the degraded
    expectation -- callers WARN on est_recall < SIMHASH_RECALL_TARGET.

    With ``n_docs`` the solve is additionally VOLUME-aware: the
    random-collision floor costs ~b * 2^-r * n^2/2 exact-verify
    candidates, and if the recall-first choice exceeds ``cand_budget``
    (default :data:`SIMHASH_CAND_BUDGET`) the solve walks back up the
    ladder to the longest band length whose floor fits -- trading
    recall (the clamp binds again) for a candidate volume that
    actually executes. At t=0.8 this keeps the 0.98-target (16, 152)
    solve up to ~200k docs and degrades to the clamped (20, 256)
    ~0.93 beyond it, with the estimate reporting the trade either way.
    ``cand_budget`` exists for the driver certificate
    (simhash_walkback_fixed forces it to 0 so the walk-back provably
    engages on a small fixed corpus) and for operators tuned to a
    different scratch capacity."""
    import math

    t = float(threshold)
    p = 1.0 - math.acos(t) / math.pi

    def solve_at(cand_r: int) -> int:
        return max(
            4,
            min(
                SIMHASH_B_MAX,
                math.ceil(
                    math.log(1.0 - SIMHASH_RECALL_TARGET)
                    / math.log(1.0 - p**cand_r)
                ),
            ),
        )

    r, b = SIMHASH_R_LADDER[-1], solve_at(SIMHASH_R_LADDER[-1])
    for cand_r in SIMHASH_R_LADDER:
        cand_b = math.ceil(
            math.log(1.0 - SIMHASH_RECALL_TARGET) / math.log(1.0 - p**cand_r)
        )
        if cand_b <= SIMHASH_B_MAX:
            r, b = cand_r, max(4, cand_b)
            break
    if n_docs is not None and n_docs > 1:
        def floor_cands(cand_r: int, cand_b: int) -> float:
            return cand_b * (2.0 ** -cand_r) * n_docs * (n_docs - 1) / 2.0

        if floor_cands(r, b) > cand_budget:
            # longest bands first: smallest floor; accept the first
            # that fits, else the smallest-floor step regardless
            for cand_r in sorted(SIMHASH_R_LADDER, reverse=True):
                cand_b = solve_at(cand_r)
                if floor_cands(cand_r, cand_b) <= cand_budget:
                    r, b = cand_r, cand_b
                    break
            else:
                r = max(SIMHASH_R_LADDER)
                b = solve_at(r)
    est = 1.0 - (1.0 - p**r) ** b
    return r, b, est


def tuned_simhash_pairs(
    tf: DataFrame,
    threshold: float,
    n_docs: int | None = None,
    cand_budget: int | None = None,
) -> DataFrame:
    """Threshold-ADAPTIVE banded cosine-LSH + exact-cosine verify: the
    ``duplicate_pairs`` saturation router's target (round 9) -- the
    cosine mirror of dedup.tuned_lsh_pairs.

    Charikar (STOC 2002) random-hyperplane LSH: a hyperplane drawn
    from md5 bits agrees on a pair with cosine t w.p. p = 1 -
    arccos(t)/pi, so a band of ``r`` hyperplane signs collides w.p.
    p^r and b bands give recall 1-(1-p^r)^b; solving

        b = ceil(ln(1 - SIMHASH_RECALL_TARGET) / ln(1 - p^r)),
        clamped to [4, SIMHASH_B_MAX]

    Band length adapts to the threshold (round 10, closing the r9
    t<=0.8 clamp gap): the solve walks :data:`SIMHASH_R_LADDER`
    best-first and keeps the longest band length whose solve fits 256
    bands -- t = 0.9 stays at the r9-certified (r=20, b=85); t = 0.8,
    where r=20 clamped at 256 bands and measured recall sagged to
    ~0.93, now solves at (r=16, b=152) and meets the 0.98 target
    (certified by simhash_recall_frontier_fixed); t = 0.7 solves at
    (r=14, b=232). Only when every ladder step clamps (t below
    ~0.6) does the last step run at 256 bands, and then the degraded
    expected recall is WARN-logged. The solve is recorded via
    ``decisions.record`` (gate ``tuned_simhash_pairs``: choice ``r``,
    with ``b`` and ``est_recall``). The band length sets the random-pair collision floor: near-orthogonal
    pairs (p ~ 0.5) collide w.p. b * 2^-r, so candidates stay
    ~linear in n even on corpora where every pair shares a term and
    the inverted index is ~n^2 by construction.

    Signatures: per doc, sign of (tf-weighted sum of +-1 bit
    projections) over k = r*b hyperplanes, the bits drawn from salted
    md5(term) digests (deterministic; the per-task memo means each
    distinct term hashes once per task). The per-doc sign matmul runs
    vectorized in Arrow-batched applyInPandas at id grain -- the
    signature stage is one pass over the (id, term, tf) table.
    Sum-normalized tf is a positive per-doc scalar times the count
    vector, so the signs equal the count-vector simhash's.

    Candidates come from :func:`dedup.capped_bucket_pairs` (full pairs
    <= SIMHASH_MAX_BUCKET, star degrade above -- linear volume). Every
    candidate is verified EXACTLY: per-doc term->tf maps join by pair
    and an array_intersect/aggregate fold computes the true cosine
    JVM-side, so emitted pairs carry exact sims and false positives
    are impossible -- the trade is bounded recall near the threshold,
    exactly the tuned-LSH contract.
    """
    import logging
    import math

    import numpy as np
    import pandas as pd

    from conversation_analysis_tools_spark.operators.dedup import (
        capped_bucket_pairs,
    )

    t = float(threshold)
    if not 0.0 < t < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold!r}")
    r, b, est_recall = solve_simhash_bands(
        t, n_docs=n_docs,
        cand_budget=(
            SIMHASH_CAND_BUDGET if cand_budget is None else cand_budget
        ),
    )
    record("tuned_simhash_pairs", r, b=b, est_recall=est_recall,
           n_docs=n_docs, cand_budget=cand_budget)
    if est_recall < SIMHASH_RECALL_TARGET:
        logging.getLogger(__name__).warning(
            "tuned_simhash_pairs: the 256-band clamp binds at threshold "
            "%.3g even at the shortest band length (r=%d): expected recall "
            "~%.3f < target %.3f. The exact route is the contract in this "
            "regime (pass route='exact').",
            t, r, est_recall, SIMHASH_RECALL_TARGET,
        )
    k = r * b
    salts = math.ceil(k / 60)
    id_type = tf.schema["doc_id"].dataType.simpleString()
    weights = (1 << np.arange(r, dtype=np.int64))

    memo: dict = {}  # per-task term-bits cache (closure survives the pickle)

    def sign_one(pdf: pd.DataFrame) -> pd.DataFrame:
        def term_bits(term: str) -> np.ndarray:
            v = memo.get(term)
            if v is None:
                import hashlib

                chunks = []
                for s in range(salts):
                    d = hashlib.md5(f"{term}#c{s}".encode()).digest()
                    chunks.append(
                        np.unpackbits(np.frombuffer(d, dtype=np.uint8))[:60]
                    )
                v = np.concatenate(chunks)[:k].astype(np.float64) * 2.0 - 1.0
                memo[term] = v
            return v

        # sort by term FIRST: the float dot below sums in row order,
        # which otherwise follows shuffle order -- a hyperplane sum
        # near zero could flip sign between runs and make the routed
        # output (and its driver certificate) shuffle-luck-dependent
        pdf = pdf.sort_values("term")
        tfv = pdf["tf"].to_numpy(dtype=np.float64)
        M = np.stack([term_bits(tm) for tm in pdf["term"]])
        bits = (tfv @ M > 0).astype(np.int64).reshape(b, r)
        return pd.DataFrame(
            {
                "doc_id": np.repeat(pdf["doc_id"].iloc[0], b),
                "band": np.arange(b, dtype=np.int32),
                "key": bits @ weights,
            }
        )

    bx = tf.groupBy("doc_id").applyInPandas(
        sign_one, schema=f"doc_id {id_type}, band int, key long"
    )
    cands = capped_bucket_pairs(bx, "doc_id", SIMHASH_MAX_BUCKET)
    # exact verify: per-doc term->unit-tf maps, one fold over the
    # shared-term intersection per candidate -- JVM-side, no Python
    unit = _l2_normalize(tf, "doc_id")
    vec = unit.groupBy("doc_id").agg(
        F.map_from_arrays(
            F.collect_list("term"), F.collect_list("tf")
        ).alias("m")
    )
    v1 = vec.select(F.col("doc_id").alias("id1"), F.col("m").alias("m1"))
    v2 = vec.select(F.col("doc_id").alias("id2"), F.col("m").alias("m2"))
    dot = F.aggregate(
        F.array_intersect(F.map_keys("m1"), F.map_keys("m2")),
        F.lit(0.0),
        lambda acc, tm: acc + F.element_at("m1", tm) * F.element_at("m2", tm),
    )
    return (
        cands.join(v1, "id1")
        .join(v2, "id2")
        .select("id1", "id2", dot.alias("sim"))
        .where(F.col("sim") >= t - THRESHOLD_EPS)
        .groupBy("id1", "id2")
        .agg(F.first("sim").alias("sim"))
    )


def near_duplicates_of(docs: DataFrame, target_id, threshold: float = 0.5) -> DataFrame:
    """N18: one-vs-all cosine for a single target document.

    The target's TF vector is a handful of rows -> broadcast; the scan
    side never shuffles on pairs, only the per-candidate dot-product
    aggregation runs. All vectors are L2-normalized up front (window
    over id -- no O(n_docs) norms broadcast), so the grouped dot IS
    the cosine.
    """
    unit = _l2_normalize(tf_vectors(docs), "doc_id")
    target = unit.where(F.col("doc_id") == target_id).select(
        F.col("term"), F.col("tf").alias("tf_t")
    )
    return (
        unit.where(F.col("doc_id") != target_id)
        .join(F.broadcast(target), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("tf_t")).alias("sim"))
        .select(F.col("doc_id").alias("dup_id"), "sim")
        .where(F.col("sim") >= threshold - THRESHOLD_EPS)
    )
