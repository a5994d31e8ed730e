"""Skyline (Pareto-frontier) operator.

Pattern from the retrieved-papers corpus ("Integration of Skyline
Queries into Spark SQL", EDBT 2023): the classic two-phase
distributed skyline. A row p is in the skyline iff no other row q
dominates it -- q <= p in every skyline dimension and q < p in at
least one (ties/duplicates survive: neither dominates). The naive
relational form is a quadratic NOT EXISTS self-join; the distributed
form exploits that a point dominated anywhere is dominated globally:

1. **Local phase** (map-only): each partition prunes its own
   dominated points -- survivors are a superset of the global
   skyline. Arrow-batched mapInPandas with a sort-then-scan Pareto
   filter; the kept set accumulates ACROSS the partition's Arrow
   batches (so a 10M-row partition still prunes against everything
   kept so far, not just its current 10k-row batch).
2. **Global phase**, sized by a count probe on the survivors:
   - survivors <= ``global_cap``: one final task concatenates all
     batches and runs the EXACT filter once (per-batch filtering
     here would let cross-batch dominated rows leak through).
   - survivors > ``global_cap`` (pathological, e.g. anti-correlated
     dimensions where ~every row is Pareto-optimal): quantile-grid
     fallback. Survivors are striped by quantiles of the first
     non-constant skyline dimension; each stripe filters itself
     (applyInPandas, ~n/R rows per task), then every (candidate
     stripe i, dominator stripe j<i) pair is checked in its own
     bounded task -- a dominator q of p has q.dim0 <= p.dim0, so
     stripe(q) <= stripe(p) under the monotone stripe assignment,
     and checking against within-stripe SURVIVORS suffices because
     dominance is transitive (any remover's chain terminates at a
     surviving global-skyline point in an earlier-or-same stripe).
     No task ever receives ~n rows: stripes are ~n/R and pair tasks
     are ~2n/R. The pairwise work is inherently ~quadratic in that
     regime (the output IS ~the input), but it is spread over R^2/2
     tasks instead of funneled through one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dominated_mask(dom, cand):
    """Boolean mask over ``cand`` rows: dominated by any ``dom`` row
    (minimize every dimension; NaN never dominates or is dominated).
    Chunked broadcast keeps the (chunk, |dom|, d) temporaries small."""
    chunk = 128
    import numpy as np

    out = np.zeros(len(cand), dtype=bool)
    if len(dom) == 0 or len(cand) == 0:
        return out
    for s in range(0, len(cand), chunk):
        c = cand[s : s + chunk]
        le = (dom[None, :, :] <= c[:, None, :]).all(axis=2)
        lt = (dom[None, :, :] < c[:, None, :]).any(axis=2)
        out[s : s + chunk] = (le & lt).any(axis=1)
    return out


def _pareto_scan(pdf, cols, buf, k):
    """Sort-then-scan Pareto filter over one pandas batch against an
    (optionally pre-populated) kept buffer. Returns (filtered pdf,
    buf, k). The buffer grows geometrically and is sliced as a VIEW
    per check -- rebuilding the kept matrix with fancy indexing per
    kept point would make the scan O(k^2 * d) in memory traffic for
    frontier size k, exactly the anti-correlated regime this module
    worries about."""
    import numpy as np

    pdf = pdf.sort_values(cols, kind="mergesort").reset_index(drop=True)
    a = pdf[cols].to_numpy(dtype="float64")
    keep_rows: list[int] = []
    for i in range(len(a)):
        p = a[i]
        if k:
            kept = buf[:k]
            le = (kept <= p).all(axis=1)
            lt = (kept < p).any(axis=1)
            if bool((le & lt).any()):
                continue
        if buf is None:
            buf = np.empty((256, a.shape[1]))
        elif k == len(buf):
            buf = np.concatenate([buf, np.empty_like(buf)])
        buf[k] = p
        k += 1
        keep_rows.append(i)
    return pdf.iloc[keep_rows], buf, k


def _pareto_filter(cols: list[str], exact: bool = False):
    """mapInPandas batch filter (schema passthrough).

    ``exact=False`` (local phase): streams batches, pruning each
    against itself and everything kept so far. Output is a SUPERSET
    of the partition skyline (an early-batch row already emitted may
    be dominated by a later batch) -- fine for phase 1, whose
    contract is only "never drop a skyline point".

    ``exact=True`` (final single-task phase): concatenates the whole
    iterator first, so the one sorted scan sees every row and the
    output is exactly the input's skyline. Only safe when the input
    is bounded (the caller's count probe guarantees it)."""

    def batches(it):
        import pandas as pd

        buf, k = None, 0
        if exact:
            pdfs = [pdf for pdf in it if len(pdf)]
            if not pdfs:
                return
            whole = pd.concat(pdfs, ignore_index=True)
            out, _, _ = _pareto_scan(whole, cols, buf, k)
            yield out
            return
        for pdf in it:
            if len(pdf) == 0:
                continue
            out, buf, k = _pareto_scan(pdf, cols, buf, k)
            yield out

    return batches


def _grid_skyline(local: DataFrame, cols: list[str], stripes: int) -> DataFrame:
    """Quantile-grid fallback for pathological frontiers: stripe the
    phase-1 survivors on the first non-constant skyline dimension,
    filter within stripes, then check every (candidate stripe i,
    dominator stripe j<i) pair in its own task. Multiplicity-exact:
    duplicates ride through the stripe filter (identical rows never
    dominate each other) and ``exceptAll`` removes dominated rows by
    multiset difference, so no synthetic row id is needed."""
    # one agg probe picks the stripe dimension: the first skyline col
    # with min < max on the survivors. All-constant dims => every row
    # ties with every other => nothing dominates, return as-is.
    ranges = local.agg(
        *[f for c in cols for f in (F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}"))]
    ).first()
    dim0 = next(
        (
            c
            for c in cols
            if ranges[f"mn_{c}"] is not None and ranges[f"mn_{c}"] < ranges[f"mx_{c}"]
        ),
        None,
    )
    if dim0 is None:
        return local
    probs = [i / stripes for i in range(1, stripes)]
    bounds = sorted(set(local.approxQuantile(dim0, probs, 0.001)))
    if not bounds:
        # unreachable: dim0 was selected with non-null min < max, so
        # approxQuantile over a non-empty prob list returns values.
        # Raise rather than "fall back" -- the only conceivable
        # fallback here (one exact task) would funnel an over-cap
        # survivor set through a single task, the exact pathology
        # this grid exists to prevent.
        raise AssertionError(
            f"no quantile bounds for non-constant stripe dim {dim0!r}"
        )
    # monotone stripe assignment: q.dim0 <= p.dim0 => stripe(q) <=
    # stripe(p). One array literal + filter-size, not a sum of
    # per-bound comparisons: the bounds list scales with the dynamic
    # stripe count, and a 1000-term boolean sum would blow up the
    # expression tree where a single linear array scan stays flat.
    stripe = F.size(
        F.filter(
            F.array(*[F.lit(float(b)) for b in bounds]),
            lambda b: F.col(dim0) > b,
        )
    )
    nstripes = len(bounds) + 1
    data_cols = local.columns
    tagged = local.withColumn("_stripe", stripe)
    within = tagged.groupBy("_stripe").applyInPandas(
        lambda pdf: _pareto_scan(pdf, cols, None, 0)[0], tagged.schema
    )
    from conversation_analysis_tools_spark.operators.cache import track

    within = track(within)
    # (i, j) pair tasks: candidates from stripe i copied to every j<i,
    # dominators from stripe j copied to every i>j. when() guards keep
    # sequence() from going DESCENDING at the edges (Spark's sequence
    # defaults to step -1 when stop < start, it is never empty).
    cand = within.withColumn(
        "_pj",
        F.explode(
            F.when(
                F.col("_stripe") > 0, F.sequence(F.lit(0), F.col("_stripe") - 1)
            )
        ),
    ).select(*data_cols, F.col("_stripe").alias("_pi"), "_pj", F.lit(1).alias("_role"))
    doms = within.withColumn(
        "_pi",
        F.explode(
            F.when(
                F.col("_stripe") < nstripes - 1,
                F.sequence(F.col("_stripe") + 1, F.lit(nstripes - 1)),
            )
        ),
    ).select(*data_cols, "_pi", F.col("_stripe").alias("_pj"), F.lit(0).alias("_role"))
    paired = cand.unionByName(doms)

    def emit_dominated(pdf):
        d_rows = pdf[pdf["_role"] == 0]
        c_rows = pdf[pdf["_role"] == 1]
        if len(d_rows) == 0 or len(c_rows) == 0:
            return c_rows.iloc[0:0][data_cols]
        mask = _dominated_mask(
            d_rows[cols].to_numpy(dtype="float64"),
            c_rows[cols].to_numpy(dtype="float64"),
        )
        return c_rows.iloc[mask.nonzero()[0]][data_cols]

    dominated = paired.groupBy("_pi", "_pj").applyInPandas(
        emit_dominated, within.drop("_stripe").schema
    )
    return within.drop("_stripe").exceptAll(dominated)


def skyline(
    df: DataFrame,
    cols: list[str],
    global_cap: int = 200_000,
    stripes: int = 32,
) -> DataFrame:
    """Pareto-minimal rows of ``df`` over ``cols`` (minimize every
    dimension; to maximize a column, pass its negation as a derived
    column). Local phase at full parallelism, then a count probe on
    the survivors decides the global phase: one exact task under
    ``global_cap``, the quantile-grid fallback (no task receives ~n
    rows) above it. ``repartition(1)`` (not coalesce) forces the
    stage boundary so the local phase keeps its full parallelism.

    The grid is SIZED BY THE PROBE, not fixed: ``stripes`` is a
    floor, and above it the stripe count grows as ceil(2 * survivors
    / global_cap), keeping every stripe near global_cap/2 rows no
    matter how large the pathological frontier gets -- a 100x bigger
    anti-correlated corpus gets 100x more (bounded) pair tasks, never
    100x bigger tasks. The R^2/2 task-count growth is the inherent
    price of a quadratic-output regime; what must never grow is the
    per-task input."""
    import math

    from conversation_analysis_tools_spark.operators.cache import track

    local = track(df.mapInPandas(_pareto_filter(cols), df.schema))
    n_surv = local.count()
    if n_surv <= global_cap:
        return local.repartition(1).mapInPandas(
            _pareto_filter(cols, exact=True), df.schema
        )
    # clamp: past ~1024 stripes the quantile list and stripe-assign
    # expression stop being free; a stripe only exceeds global_cap/2
    # input again at >512*cap survivors (~10^8 rows of pure frontier
    # at the default cap), where raising global_cap is the right knob
    stripes = min(1024, max(stripes, math.ceil(2 * n_surv / global_cap)))
    return _grid_skyline(local, cols, stripes)
