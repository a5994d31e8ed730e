"""Representative collapse for the collapse-capable pair operators
(similarity.duplicate_pairs, dedup.minhash_dedup_pairs,
dedup.ngram_jaccard_pairs, dedup.edit_distance_pairs,
dedup.cross_corpus_minhash_pairs, dedup.simhash_pairs): the
exact-duplicate density probe that decides it, the group keys and
representatives, and the one rep-pair -> member-pair expansion.

Those operators each have two OUTPUT-IDENTICAL physical plans: a
direct plan (candidates over every doc) and a representative-collapse
plan (identical-content groups collapsed to one representative before
the candidate join, member pairs re-expanded after verify). The
collapse turns a dup cluster's quadratic candidate blowup into a
linear output expansion -- mandatory on dup-dense corpora (mirrors,
re-crawls, replica bursts) -- but its extra fingerprint groupBy,
rep semi-join, and expansion joins are pure fixed overhead on a
dup-light corpus (~+30-70% measured at sf0.1's 8 dups / 5k docs,
where the stage count dominates the tiny data).

The probe is ONE eager map-side job: approx_count_distinct over the
operator's OWN grouping key estimates its group-collapse yield, and
the collapse engages above DUP_COLLAPSE_MIN_FRAC. The key must be
the one the operator actually collapses on: the Jaccard-family
operators group by the shingle-set fingerprint, and probing a proxy
(md5 of the raw text) misses every corpus whose duplication is
invisible at byte grain but total at token grain -- version markers,
whitespace/punctuation drift, case changes. Measured on the 10x
word-perturbed probe corpus (replica markers that the tokenizer
drops): the text-keyed probe chose the direct plan and
ngram_jaccard_pairs paid 17.5 s where the set-keyed collapse runs
1.5 s. Callers therefore pass the ``member`` relation carrying their
own key; only the character-grain edit-distance verify (whose
collapse key genuinely is the full text) uses the md5(text) default.

The DECISION (never data) is memoized per (semantic plan, leaf-file
fingerprint) of the probed member relation, so the bench / pipeline
steady state pays the probe scan once per process. The plan hash
alone is not content-safe -- a reader re-created over the same path
after the files are regenerated hashes identically -- so the leaf
files' (path, size, mtime_ns) triples pin the decision to the bytes
actually probed. File-backed decisions also persist to the fitcache
disk store: a COLD process (the driver's bench and correctness runs
included) skips the probe job entirely. Plans with no file leaves
(in-memory test frames) key on the plan hash alone and stay
process-local. Even a stale hit can only pick the other
output-identical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversation_analysis_tools_spark import fitcache
from conversation_analysis_tools_spark.decisions import record
from conversation_analysis_tools_spark.operators.cache import track

#: Minimum exact-dup fraction for the collapse plan to pay for the
#: extra stages it adds around the pair join (approx_count_distinct
#: probe, so an absolute floor of 16 also absorbs HLL estimation
#: error on dup-free corpora).
DUP_COLLAPSE_MIN_FRAC = 0.05

#: Memoized decisions keyed by (plan semantic hash, leaf-file
#: fingerprint) (bounded; evicts oldest).
_DECISION_CACHE: dict[tuple, bool] = {}
_DECISION_CACHE_MAX = 64


def _memo_key(member: DataFrame) -> tuple[tuple | None, bool]:
    """(memo key, file-backed?) for the probed relation.

    The key pairs the analyzed plan's semanticHash (internal API; on
    failure the probe runs uncached) with a fingerprint of the plan's
    leaf files -- ``inputFiles()`` is public API and resolves to the
    concrete scan file set, so regenerated data under an identical
    path/plan produces a different key instead of a stale hit. A plan
    with no file leaves (local test frames) keys on the hash alone;
    its inputs cannot be swapped behind the cache within a process,
    but the decision must never be disk-persisted (second element
    False)."""
    try:
        plan_hash = member._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # noqa: BLE001 -- internal API; probe uncached
        return None, False
    files_fp = None
    try:
        uris = sorted(member.inputFiles())
        if uris:
            import os

            fp = []
            for uri in uris:
                p = uri[len("file:"):] if uri.startswith("file:") else uri
                st = os.stat(p)
                fp.append((uri, st.st_size, st.st_mtime_ns))
            files_fp = tuple(fp)
    except Exception:  # noqa: BLE001 -- non-local fs: plan-hash key only
        files_fp = None
    return (plan_hash, files_fp), files_fp is not None


def dup_density_decision(
    docs: DataFrame | None = None,
    member: DataFrame | None = None,
    sig_col: str = "_tsig",
) -> bool:
    """True when the duplicate-group density warrants the
    representative-collapse plan. One map-side probe job, memoized per
    (semantic plan, leaf-file fingerprint) OF THE PROBED RELATION (see
    ``_memo_key``; on hash failure the probe simply runs uncached, and
    file-backed decisions persist to the fitcache disk store so cold
    processes skip the job). ``member``
    supplies the (.., sig_col) relation carrying the operator's own
    collapse key -- the shingle-set fingerprint for the Jaccard
    family, md5(text) for similarity/edit-distance; when omitted it
    is built as md5(text) over ``docs``. Keying the memo on the
    member plan keeps text-grain and set-grain decisions over the
    same corpus distinct."""
    if member is None:
        member = docs.select(
            F.md5(F.col("text").cast("binary")).alias("_tsig")
        )
        sig_col = "_tsig"
    key, file_backed = _memo_key(member)
    key_repr = repr(("dup_density", key)) if file_backed else None
    decision = _DECISION_CACHE.get(key) if key is not None else None
    source, n, distinct = "memo", None, None  # counts only from a probe
    if decision is None and key_repr is not None:
        hit = fitcache._disk_load(key_repr)
        if isinstance(hit, bool):
            decision = _DECISION_CACHE[key] = hit
            source = "disk"
    if decision is None:
        source = "probe"
        n, distinct = member.agg(
            F.count("*").alias("n"),
            # rsd 0.01: keeps the HLL's 1-sigma error ~5x below the 5%
            # decision threshold, so a dup-free corpus never trips it
            F.approx_count_distinct(sig_col, 0.01).alias("nd"),
        ).first()
        decision = n - distinct > max(16, DUP_COLLAPSE_MIN_FRAC * n)
        if key is not None:
            if len(_DECISION_CACHE) >= _DECISION_CACHE_MAX:
                _DECISION_CACHE.pop(next(iter(_DECISION_CACHE)))
            _DECISION_CACHE[key] = decision
        if key_repr is not None:
            fitcache._disk_store(key_repr, decision)
    record("dup_density", "collapse" if decision else "direct", source=source,
           n=n, distinct=distinct, min_frac=DUP_COLLAPSE_MIN_FRAC)
    return decision


def collapse_engaged(collapse: str, probe) -> bool:
    """Resolve an operator's ``collapse`` mode: 'never' and 'always'
    pin the plan and stay lazy; 'auto' returns ``probe()``, normally
    :func:`dup_density_decision` over the operator's own key."""
    if collapse not in ("auto", "never", "always"):
        raise ValueError(f"collapse must be auto|never|always, got {collapse!r}")
    return collapse == "always" or (collapse == "auto" and probe())


# ---------------------------------------------------------------------------
# identical-content representative-collapse (dup-cluster blowup guard)
#
# The scale regime dedup exists for is dup-DENSE corpora, where the
# overwhelmingly common duplicate is byte- or set-identical replicas.
# Without a guard, a replica cluster of size m lands in the same LSH
# buckets and the candidate join goes O(m^2) INSIDE the candidate
# stage (measured: 3.2x wall at 10x rows for MinHash, 9.1x for the
# edit-distance consumer, SCALE.md). The guard collapses each
# identical-content group to one representative (min id) before
# signatures/banding, runs the candidate+verify plan on
# representatives only, then re-expands member pairs afterward -- the
# quadratic moves from the join into a linear expansion of the OUTPUT,
# which is the lower bound anyway. Members of one group pair among
# themselves at the self-similarity, and a cross-group member pair is
# a candidate iff its representative pair is (identical content =>
# identical signatures => identical bands) with the identical
# verified score (identical arrays/texts).
# ---------------------------------------------------------------------------


def set_fp(arrs: DataFrame, id_col: str) -> DataFrame:
    """(id, _fp): md5 fingerprint of each doc's shingle SET (sorted
    newline-join of the per-doc distinct array; shingles are
    ``[a-z ]``-only, so the separator is unambiguous). Shingle-less
    docs are dropped -- they emit no signature rows in the direct plan
    (explode of an empty array) and so can never be candidates."""
    return arrs.where(F.size("sh_arr") > 0).select(
        F.col(id_col),
        F.md5(F.concat_ws("\n", F.array_sort("sh_arr")).cast("binary")).alias("_fp"),
    )


def group_reps(members: DataFrame, id_col: str) -> DataFrame:
    """One representative (min id) per fingerprint group. The groupBy
    partial-aggregates map-side, so a replica cluster of any size is
    skew-safe; rows are (32-hex, id) -- tiny."""
    return members.groupBy("_fp").agg(F.min(id_col).alias(id_col))


def maybe_collapse(
    arrs: DataFrame,
    id_col: str,
    collapse: str,
) -> tuple[DataFrame, DataFrame | None]:
    """Collapse-plan dispatch shared by the MinHash/Jaccard consumers:
    returns (work_arrs, members). ``members`` is None when the direct
    plan should run (candidates over every doc, no expansion);
    otherwise work_arrs holds one representative per identical
    shingle set and the caller re-expands its verified pairs with
    ``expand_rep_pairs(..., members, ...)``.

    ``collapse``: 'auto' (default) runs the dup-density probe (one
    map-side job per corpus plan per process, memoized) and collapses
    only when dup clusters would materially inflate the candidate
    join; 'never'/'always' pin the plan and stay fully lazy, for
    plan-only consumers and tests. Either plan is output-exact, so the
    probe can only trade wall clock (~+30-70% fixed stage overhead at
    dup-light sf0.1 vs quadratic candidate blowup on dup-dense
    corpora).

    The probe runs over the SHINGLE-SET fingerprint -- the key this
    collapse actually groups on -- because token-invisible text drift
    (version markers, punctuation) makes byte-distinct docs
    set-identical; a md5(text) proxy probe missed exactly those and
    cost ngram_jaccard_pairs 17.5 s vs 1.5 s on the 10x
    word-perturbed corpus. Probing ``set_fp`` of the track()'d
    ``arrs`` also warms the persisted shingle cache every downstream
    stage reuses, so the probe's scan is not wasted work."""
    members = set_fp(arrs, id_col)
    if not collapse_engaged(
        collapse, lambda: dup_density_decision(member=members, sig_col="_fp")
    ):
        return arrs, None
    members = track(members)
    reps = group_reps(members, id_col)
    return track(arrs.join(reps.select(id_col), id_col, "left_semi")), members


def expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    id_col: str,
    value_col: str | None = None,
    within=None,
) -> DataFrame:
    """Representative pairs -> member pairs.

    ``members`` is (id, _fp), one row per member of every group.
    ``rep_pairs`` is (id1, id2[, value_col]) at representative grain;
    a caller whose rep pairs already carry both groups' keys passes
    (_fp1, _fp2[, value_col]) instead and saves the two id -> key
    joins.

    within-group: every member pair of one group, scored ``within``:
    a constant (identical content => self-similarity, exactly what the
    direct plan's verify computes for such a pair), or a (_fp,
    value_col) relation of per-group values, where a group absent
    from it emits no within pairs. cross-group: each rep pair expands
    over member sets of its two groups, inheriting the rep pair's
    verified value (identical arrays/texts => identical score). A
    member belongs to exactly one group, so the union is
    duplicate-free by construction. The joins are keyed on the
    fingerprint; multiplicity only arises inside true dup clusters, so
    join output tracks the final output size.

    ``value_col=None`` expands CANDIDATE pairs instead -- no score
    attached, because the downstream verify (e.g. the Levenshtein DP,
    whose inputs differ per member even when shingle sets do not)
    still runs per member pair. The set equivalence holds the same
    way: a within-group pair is always a direct-plan candidate
    (identical sets => identical signatures => it shares every band
    with its peers), and a cross-group member pair shares a band
    bucket iff its rep pair does."""
    w1 = members.select(F.col(id_col).alias("id1"), "_fp")
    w2 = members.select(F.col(id_col).alias("id2"), "_fp")
    pairs = w1.join(w2, "_fp").where(F.col("id1") < F.col("id2"))
    if value_col is None:
        pairs = pairs.select("id1", "id2")
    elif isinstance(within, DataFrame):
        pairs = pairs.join(within, "_fp").select("id1", "id2", value_col)
    else:
        pairs = pairs.select("id1", "id2", F.lit(within).alias(value_col))
    if "_fp1" not in rep_pairs.columns:
        f1 = members.select(F.col(id_col).alias("id1"), F.col("_fp").alias("_fp1"))
        f2 = members.select(F.col(id_col).alias("id2"), F.col("_fp").alias("_fp2"))
        rep_pairs = rep_pairs.join(f1, "id1").join(f2, "id2").drop("id1", "id2")
    m1 = members.select(F.col(id_col).alias("_m1"), F.col("_fp").alias("_fp1"))
    m2 = members.select(F.col(id_col).alias("_m2"), F.col("_fp").alias("_fp2"))
    cross = (
        rep_pairs.join(m1, "_fp1")
        .join(m2, "_fp2")
        .select(
            F.least("_m1", "_m2").alias("id1"),
            F.greatest("_m1", "_m2").alias("id2"),
            *([] if value_col is None else [value_col]),
        )
    )
    return pairs.unionByName(cross)
