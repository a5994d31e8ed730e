"""Deduplication family for the training-data pipeline: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Design constraints:
* Everything is deterministic and engine-portable: hashes are md5
  (bit-identical in Spark and DuckDB) so even the approximate paths
  are oracle-checkable -- the LSH banding produces the *same* candidate
  set in both engines.
* Candidate generation never materializes O(n^2): LSH buckets
  (MinHash), bit-blocks (SimHash), or inverted shingle index (Jaccard)
  bound the join.
* At 100 TB: shingle explode is a flatMap; the per-band groupBy is the
  only shuffle. The fixed-band paths keep every bucket, so their
  candidates are exact and oracle-matched (on dup-dense corpora the
  adaptive representative collapse keeps replica clusters out of the
  buckets). :func:`tuned_lsh_pairs`, the saturation router's target,
  STAR-degrades buckets over ``max_bucket`` (each id paired with the
  bucket min; linear), where popular buckets carry real
  near-threshold pairs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conversation_analysis_tools_spark.decisions import record
from conversation_analysis_tools_spark.functions.spread import spread_input
from conversation_analysis_tools_spark.operators.cache import track
from conversation_analysis_tools_spark.operators.density import (
    collapse_engaged,
    dup_density_decision,
    expand_rep_pairs,
    group_reps,
    maybe_collapse,
)

_LOG = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


#: Shingle width in words; SHINGLES_SQL mirrors it.
SHINGLE_N = 3


def shingle_arrays(df: DataFrame) -> DataFrame:
    """(doc_id, sh_arr) distinct word SHINGLE_N-grams per doc as a sorted array.

    Narrow (map-only) stage: the per-doc distinct is ``array_distinct``
    inside the row, NOT a groupBy/distinct shuffle -- the distinct key
    always includes the doc id, so no cross-row work is needed. Array
    size is bounded by doc length (content capped at 100k chars at
    ingest), so the row stays executor-memory-safe at 100 TB.
    """
    from conversation_analysis_tools_spark.functions.text import raw_tokens_expr

    # Materialize the token array in its own projection FIRST: inlining
    # the regexp into the transform lambda makes Spark re-evaluate the
    # regexp per shingle (no CSE inside lambdas) -- measured 10x cost.
    # spread here (not at call sites) so every shingle consumer shares
    # one plan shape and CacheManager can substitute a persisted copy.
    toks = spread_input(df, "doc_id").select(
        F.col("doc_id"), raw_tokens_expr("text").alias("_toks")
    )
    arr = F.col("_toks")
    # n direct element reads beat slice(): slice allocates a fresh
    # n-array per shingle before concat (measured -26% on the build)
    sh = F.when(
        F.size(arr) >= SHINGLE_N,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - F.lit(SHINGLE_N)),
            lambda i: F.concat_ws(
                " ", *[F.get(arr, i + j) for j in range(SHINGLE_N)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(F.col("doc_id"), F.array_distinct(sh).alias("sh_arr"))


def shingles(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams over raw lowercase tokens.

    Tokens are the reference tokenizer's raw form (stopwords kept --
    shingle dedup wants surface form). Zero-shuffle: explode of
    ``shingle_arrays`` (already per-doc distinct)."""
    return shingle_arrays(df).select(
        F.col("doc_id"), F.explode("sh_arr").alias("shingle")
    )


#: DuckDB fragment producing the same (doc_id, shingle) relation.
SHINGLES_SQL = r"""
shingles AS (
    SELECT DISTINCT doc_id, shingle
    FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 3
                      THEN list_transform(range(0, len(toks) - 2),
                                          i -> array_to_string(toks[i+1:i+3], ' '))
                      ELSE [] END) AS shingle
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '\b[a-z]{3,}\b') AS toks
              FROM documents)
    )
)
"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash (hash-groupBy; the
    always-first, always-cheap pass)."""
    return (
        df.select(F.col("doc_id"), F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # 4 rows per band

#: Double-hashing modulus (Mersenne prime 2^31 - 1). All arithmetic
#: below stays under 2^35 -- safe in ANSI BIGINT on both engines.
MINHASH_P = 2_147_483_647

def km_u_step(digest_col):
    """Kirsch-Mitzenmacher base/step pair from ONE md5 digest column:

        u    = int(digest[0:15], 16) mod P          (60-bit window)
        step = int(digest[15:30], 16) mod (P-1) + 1 (disjoint window,
                                                     never 0)

    so h_i = (u + i*step) mod P composes k pairwise-independent hash
    functions from a single digest (Kirsch & Mitzenmacher 2006). THE
    single source of the scheme -- MinHash signatures and the
    Count-Min rollup both derive their rows from this helper, and the
    DuckDB oracles mirror it via queries.dedup._hex60_sql's
    digit-at-a-time parse; change it only in lockstep with that SQL."""
    u = F.pmod(
        F.conv(F.substring(digest_col, 1, 15), 16, 10).cast("bigint"),
        F.lit(MINHASH_P),
    )
    step = (
        F.pmod(
            F.conv(F.substring(digest_col, 16, 15), 16, 10).cast("bigint"),
            F.lit(MINHASH_P - 1),
        )
        + 1
    )
    return u, step


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """k=16 MinHash signature per doc via ONE md5 per shingle +
    Kirsch-Mitzenmacher double hashing:

        d    = md5(shingle)                 (one digest, 32 hex chars)
        u    = int(d[0:15], 16)             (60-bit)
        v    = int(d[15:30], 16)            (60-bit, disjoint digits)
        h_i  = (u mod P + i * (v mod (P-1) + 1)) mod P,  P = 2^31-1

    Kirsch & Mitzenmacher 2006: two independent draws compose into k
    pairwise-independent permutations, so min over h_i is a valid
    MinHash family. The previous form hashed every shingle 16 times
    (md5('i:' || shingle) per hash function) -- 16x the digest work on
    what is the dominant compute of every dedup consumer at corpus
    scale. The +1 on the step keeps v mod (P-1) + 1 in [1, P-1],
    never 0, so the k probes are always distinct.

    Engine-portable: md5 + integer ops only (the DuckDB oracle parses
    the same hex digits digit-at-a-time). One groupBy -- all 16 mins
    partial-aggregate map-side, so the exchange carries one 16-int
    signature row per doc (vs 16 hex strings before: 4x smaller).
    :func:`minhash_signatures_from_arrays` wraps this form for
    callers holding per-doc shingle arrays.
    """
    digested = sh.select(
        F.col("doc_id"), F.md5(F.col("shingle").cast("binary")).alias("_d")
    )
    u, step = km_u_step(F.col("_d"))
    based = digested.select(F.col("doc_id"), u.alias("_u"), step.alias("_step"))
    # one F.expr per aggregate (not one per sub-Column): each PySpark
    # Column call is a py4j round trip, and this builder sits inside
    # every MinHash-family query's timed build (guide §4)
    aggs = [
        F.expr(f"min(pmod(_u + {i}L * _step, {MINHASH_P}L)) AS h{i}")
        for i in range(N_HASHES)
    ]
    return based.groupBy("doc_id").agg(*aggs)


def minhash_signatures_from_arrays(arrs: DataFrame) -> DataFrame:
    """k=16 MinHash signature per doc from the per-doc shingle array
    -- same single-digest double-hashing scheme as
    :func:`minhash_signatures` (one md5 per shingle, h_i derived by
    Kirsch-Mitzenmacher), which this wraps after exploding.

    Implementation note (measured best-of-2 at sf0.1): explode +
    groupBy beats the "zero-shuffle" ``array_min(transform(...))``
    row-local form ~2.7x (4.1 s -> 1.5 s end-to-end LSH). Higher-order
    lambdas evaluate INTERPRETED, outside whole-stage codegen, while
    the exploded md5 + min-aggregate runs fully codegen'd with
    map-side partial aggregation. The shuffle this re-introduces is
    one ~0.5 KB signature row per document (each doc's shingles are
    row-local, so the partial agg completes map-side) -- negligible
    next to the 16x-md5-per-shingle compute that dominates either
    way. Shingle-less docs are dropped (explode of an empty array),
    matching the previous contract.
    """
    sh = arrs.select(F.col("doc_id"), F.explode("sh_arr").alias("shingle"))
    return minhash_signatures(sh)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Signature -> (id, band, key): 4 bands x 4 rows, band key =
    md5 of the ':'-joined row hashes (ints render identically as
    decimal strings in both engines)."""
    rows_per_band = N_HASHES // N_BANDS
    bands = []
    for b in range(N_BANDS):
        cols = [
            F.col(f"h{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(":", *cols).cast("binary")).alias("key"),
            )
        )
    return sigs.select(
        F.col("doc_id"), F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_candidates(bands: DataFrame) -> DataFrame:
    """Pairs sharing >= 1 band bucket."""
    a = bands.select(F.col("doc_id").alias("id1"), "band", "key")
    b = bands.select(F.col("doc_id").alias("id2"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def jaccard_verify(candidates: DataFrame, sh_arr: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-doc shingle arrays.

    Two equi-joins bring each side's array onto the (rare) candidate
    row; intersection is ``array_intersect`` inside the row -- no
    exploded inverted-index re-join, no groupBy. At scale the candidate
    set is tiny relative to the corpus, so shipping two arrays per
    candidate beats re-shuffling the full shingle table twice. Columns
    of ``candidates`` beyond (id1, id2) ride through to the output.
    """
    a1 = sh_arr.select(F.col("doc_id").alias("id1"), F.col("sh_arr").alias("a1"))
    a2 = sh_arr.select(F.col("doc_id").alias("id2"), F.col("sh_arr").alias("a2"))
    inter = F.size(F.array_intersect("a1", "a2"))
    return (
        candidates.join(a1, "id1")
        .join(a2, "id2")
        .select(
            *candidates.columns,
            (
                inter.cast("double")
                / (F.size("a1") + F.size("a2") - inter)
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


#: Recall the tuned band solve targets at Jaccard = threshold.
LSH_RECALL_TARGET = 0.98


def tuned_lsh_pairs(
    sh_arr: DataFrame,
    threshold: float,
    max_bucket: int = 20,
) -> DataFrame:
    """Threshold-ADAPTIVE banded MinHash + exact-Jaccard verify: the
    high-recall LSH plan ``ngram_jaccard_pairs``' saturation router
    targets.

    The fixed 16-hash/4-band sibling (:func:`lsh_bands`) has its
    S-curve midpoint at (1/4)^(1/4) ~ 0.71 -- recall at a LOW
    threshold like 0.15 is ~zero (measured 0/27 true pairs at sf1).
    Here the band count is SOLVED FROM the threshold and
    LSH_RECALL_TARGET: with r = 2 rows per band, a true pair at J = t
    shares a band w.p. 1-(1-t^2)^b, so

        b = ceil(ln(1 - LSH_RECALL_TARGET) / ln(1 - t^2)),  k = 2b hashes

    (clamped to [4, 256]; t = 0.15, R = 0.98 -> b = 172, k = 344 --
    cheap, because Kirsch-Mitzenmacher derives every h_i from ONE md5
    per shingle, and the wide min-aggregate completes map-side).
    r = 2 is the sweet spot: r = 1 admits ~b*J_rand of all n^2 pairs
    (quadratic on saturated spaces where random-pair J is large by
    construction), r = 3 needs b ~ 1/t^3 bands (~1200 at t = 0.15).

    Candidates come from IN-BUCKET pair explosion, not a band
    self-join: one groupBy collects each (band, key) bucket's ids and
    the i<j pairs unfold row-locally with higher-order array
    functions. Buckets up to ``max_bucket`` full-pair; OVER-cap
    buckets are NOT dropped wholesale (ADVICE r8: saturated corpora
    -- exactly the ones that trigger routing -- are where buckets get
    popular, so wholesale drops lose near-threshold true pairs) --
    they degrade to STAR pairs: each id paired with the bucket's min
    id, m-1 rows instead of m(m-1)/2. Candidate volume stays PROVABLY
    linear -- <= max_bucket * n_docs * b from full buckets plus
    <= n_docs * b from star arms -- where the self-join form is
    quadratic in bucket skew. A true pair is now lost only if in
    EVERY one of its ~t^2*b expected collision buckets it is (a)
    over-cap AND (b) neither member is the bucket min -- strictly
    rarer than the old any-bucket-under-cap condition (measured at
    sf1: 27/27 before, 27/27 after). Upstream rep-collapse keeps
    replica clusters out of the buckets, so over-cap buckets of
    DISTINCT shingle sets are band collisions, not dup mass. Emitted
    pairs carry their TRUE Jaccard (exact array intersect on the
    >= threshold survivors); duplicate candidates from multi-band
    collisions are folded at pair grain AFTER the (tiny) threshold
    filter rather than with a pre-verify distinct, which would
    shuffle the full candidate set.
    """
    import math

    t = float(threshold)
    if not 0.0 < t < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold!r}")
    b = min(256, max(4, math.ceil(
        math.log(1.0 - LSH_RECALL_TARGET) / math.log(1.0 - t * t))))
    k = 2 * b
    record("tuned_lsh_pairs", b, hashes=k, threshold=t,
           recall_target=LSH_RECALL_TARGET)
    sh = sh_arr.select(F.col("doc_id"), F.explode("sh_arr").alias("shingle"))
    digested = sh.select(
        F.col("doc_id"), F.md5(F.col("shingle").cast("binary")).alias("_d")
    )
    u, step = km_u_step(F.col("_d"))
    based = digested.select(F.col("doc_id"), u.alias("_u"), step.alias("_step"))
    # The k min-aggregates and b band structs are built as TWO F.expr
    # SQL strings instead of 2(k + b) Column calls: each PySpark
    # Column/function call is a py4j round trip, and at the low-
    # threshold solve (t = 0.15 -> b = 172, k = 344) the old listcomps
    # cost ~1.9 s of pure driver-side socket chatter PER BUILD
    # (cProfile: 12.6k round trips, guide §4 -- the plan, aggregate
    # buffers, and every hash value are byte-identical; the only
    # change is how many strings cross the Python/JVM boundary).
    sigs = based.groupBy("doc_id").agg(
        F.expr(
            "array("
            + ",".join(
                f"min(pmod(_u + {i}L * _step, {MINHASH_P}L))" for i in range(k)
            )
            + ")"
        ).alias("sig")
    )
    # r=2 band key packs both row hashes into one long (h < P < 2^31,
    # so h1*P + h2 < 2^62): one 8-byte shuffle column per band
    bands_sql = (
        "explode(array("
        + ",".join(
            f"struct({i} AS band,"
            f" sig[{2 * i}] * {MINHASH_P}L + sig[{2 * i + 1}] AS key)"
            for i in range(b)
        )
        + "))"
    )
    bx = sigs.select(F.col("doc_id"), F.expr(bands_sql).alias("bk")).select(
        F.col("doc_id"), F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    cands = capped_bucket_pairs(bx, "doc_id", max_bucket)
    return (
        jaccard_verify(cands, sh_arr, t)
        .groupBy("id1", "id2")
        .agg(F.first("jaccard").alias("jaccard"))
    )


def capped_bucket_pairs(
    bx: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """(id, band, key) bucket rows -> candidate (id1, id2) pairs:
    buckets up to ``max_bucket`` full-pair (i < j row-local explosion),
    OVER-cap buckets degrade to STAR pairs around the bucket's min id
    (ids is sorted, so element 1 is the min and id1 < id2 holds by
    construction) -- linear degrade, not a drop (ADVICE r8). Shared by
    the tuned Jaccard-LSH and the tuned cosine-LSH
    (operators/similarity.tuned_simhash_pairs) routed paths."""
    buckets = (
        bx.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return buckets.select(
        F.expr(
            f"""
            explode(CASE WHEN size(ids) <= {int(max_bucket)}
                THEN flatten(transform(ids, (x, i) ->
                    transform(slice(ids, i + 2, size(ids)),
                              y -> struct(x AS id1, y AS id2))))
                ELSE transform(slice(ids, 2, size(ids)),
                               y -> struct(element_at(ids, 1) AS id1,
                                           y AS id2))
            END)
            """
        ).alias("p")
    ).select("p.id1", "p.id2")


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    collapse: str = "auto",
) -> DataFrame:
    """MinHash LSH candidates -> exact-Jaccard verified pairs.

    Identical-shingle-SET groups are collapsed to one representative
    before banding and re-expanded after verify (adaptively -- see
    ``maybe_collapse``) -- output-exact for any threshold <= 1, since
    a within-group pair's exact Jaccard is 1.0 and a cross-group
    member pair has the same arrays (hence candidates and Jaccard) as
    its rep pair. Every band bucket is kept, so the operator is exact
    and oracle-matched.
    """
    rep_pairs, members = minhash_rep_pairs(df, threshold, collapse)
    if members is None:
        return rep_pairs
    return expand_rep_pairs(rep_pairs, members, "doc_id", "jaccard", 1.0)


def minhash_rep_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    collapse: str = "auto",
) -> tuple[DataFrame, DataFrame | None]:
    """The shared MinHash pipeline up to (but not including) member
    expansion: (verified representative pairs, members). ``members``
    is None when the direct plan ran (the pairs ARE member-grain);
    otherwise consumers either expand to member pairs
    (``expand_rep_pairs`` -- what ``minhash_dedup_pairs`` returns) or
    keep working at rep grain when their downstream is grain-agnostic
    (``minhash_cluster_members``: connected components over rep pairs,
    members inheriting through the fingerprint group -- the m^2
    member-pair materialization never happens)."""
    # persist: the array table feeds fingerprints AND the verify joins
    arrs = track(shingle_arrays(df))
    work, members = maybe_collapse(arrs, "doc_id", collapse)
    cands = minhash_candidates(lsh_bands(minhash_signatures_from_arrays(work)))
    return jaccard_verify(cands, work, threshold), members


def minhash_cluster_members(
    df: DataFrame,
    threshold: float = 0.5,
    collapse: str = "auto",
) -> DataFrame:
    """(id, component) for every doc in a near-dup cluster, component
    = min member id -- EXACTLY ``connected_components`` over
    ``minhash_dedup_pairs`` output, but without ever materializing the
    expanded member-pair set. Identity argument: the member-grain edge
    set is (within-group cliques for every >=2-member fingerprint
    group) + (rep pairs expanded over their two groups' members), so a
    member-grain component is the union of the groups whose reps form
    a rep-grain component, plus isolated multi-member groups. Each rep
    is its group's MIN id (``group_reps``), hence min member id of a
    component == min rep id of its rep-grain component == the label
    both plans assign. Dup-dense cost: CC joins run over the collapsed
    edge list and the expansion is replaced by one fingerprint-keyed
    join at OUTPUT grain (one row per clustered doc, not per pair)."""
    from conversation_analysis_tools_spark.operators.components import (
        connected_components,
    )

    rep_pairs, members = minhash_rep_pairs(df, threshold, collapse)
    comp_rep = connected_components(rep_pairs.select("id1", "id2"))
    if members is None:
        return comp_rep
    groups = members.groupBy("_fp").agg(
        F.min("doc_id").alias("_rep"), F.count("*").alias("_gsz")
    )
    # no forced broadcast: groups is one row per DISTINCT fingerprint
    # (corpus-scale at 100 TB), comp_rep one per clustered rep -- both
    # equi-joins, AQE picks broadcast when they happen to be small
    m = members.join(groups, "_fp").join(
        comp_rep.withColumnRenamed("id", "_rep"), "_rep", "left"
    )
    return m.select(
        F.col("doc_id").alias("id"),
        F.coalesce(
            "component", F.when(F.col("_gsz") >= 2, F.col("_rep"))
        ).alias("component"),
    ).where(F.col("component").isNotNull())


def cross_corpus_minhash_pairs(
    eval_df: DataFrame,
    train_df: DataFrame,
    threshold: float = 0.2,
    collapse: str = "auto",
) -> DataFrame:
    """Eval-vs-train contamination at MinHash grain: LSH band join
    strictly ACROSS the two corpora (never within either side), then
    exact-Jaccard verify. Complements the exact shared-shingle check
    (decontamination n-gram join) with the sketch-grain variant that
    survives token insertions/deletions.

    Scale shape: benchmark/eval corpora are tiny next to a 100 TB
    train corpus, so the eval band table is broadcast. The train side
    is collapsed to one representative per identical shingle set
    before banding (adaptively, behind the shared dup-density probe --
    the dup-cluster blowup guard): a replica cluster of m train docs costs ONE
    candidate row instead of m, and the verified pairs re-expand to
    members afterward (identical sets => identical candidates and
    Jaccard, so the expansion is output-exact). The fingerprint
    groupBy ships (32-hex, id) rows and partial-aggregates map-side --
    negligible next to the signature pass it already pays. Returns
    (eval_id, train_id, jaccard).
    """
    e_arrs = track(shingle_arrays(eval_df))
    t_arrs = track(shingle_arrays(train_df))
    t_rep_arrs, t_members = maybe_collapse(t_arrs, "doc_id", collapse)
    e_bands = lsh_bands(minhash_signatures_from_arrays(e_arrs)).select(
        F.col("doc_id").alias("eval_id"), "band", "key"
    )
    t_bands = lsh_bands(
        minhash_signatures_from_arrays(t_rep_arrs)
    ).select(F.col("doc_id").alias("train_id"), "band", "key")
    cands = (
        t_bands.join(F.broadcast(e_bands), ["band", "key"])
        .select("eval_id", "train_id")
        .distinct()
    )
    a1 = e_arrs.select(F.col("doc_id").alias("eval_id"), F.col("sh_arr").alias("a1"))
    a2 = t_rep_arrs.select(F.col("doc_id").alias("train_id"), F.col("sh_arr").alias("a2"))
    inter = F.size(F.array_intersect("a1", "a2"))
    rep_pairs = (
        cands.join(F.broadcast(a1), "eval_id")
        .join(a2, "train_id")
        .select(
            "eval_id",
            "train_id",
            (inter.cast("double") / (F.size("a1") + F.size("a2") - inter)).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    if t_members is None:
        return rep_pairs
    # expand train representatives back to every member of their group
    t_reps = group_reps(t_members, "doc_id")
    return (
        rep_pairs.join(
            t_reps.withColumnRenamed("doc_id", "train_id"), "train_id"
        )
        .drop("train_id")
        .join(t_members.withColumnRenamed("doc_id", "train_id"), "_fp")
        .select("eval_id", "train_id", "jaccard")
    )


#: Descending memcmp-probe grid for the verified-affix strip. Sized
#: for the family's ``max_chars=1000`` truncation: the largest rung
#: covers a near-full shared affix, the smallest still pays for
#: itself (a 128-char strip removes ~band*128 DP cells for one
#: O(128) compare).
AFFIX_GRID = (896, 768, 640, 512, 384, 256, 128)


def affix_stripped_levenshtein(t1, t2, bound):
    """Banded ``levenshtein(t1, t2, bound)`` computed on AFFIX-STRIPPED
    strings: ``lev(p+a+s, p+b+s) == lev(a, b)`` for any shared prefix
    ``p`` / suffix ``s`` (induction on the DP recurrence with equal
    boundary chars), so stripping a VERIFIED -- not necessarily
    maximal -- common affix preserves the exact distance, including
    the banded form's ``-1`` past ``bound``, while shrinking the
    O(band * L) DP to the differing core. Near-dup pairs are exactly
    the pairs with long shared affixes (a perturbed replica differs in
    a few chars), so this targets the dominant cost of dup-dense
    verify: measured 10.1 s -> 4.6 s on the 10x word-perturbed sf0.1
    probe (250k true pairs, cores ~tens of chars vs ~900).

    The probes are a monotone DESCENDING when-chain of JVM memcmp
    comparisons (short-circuits at the first hit); maximality only
    affects how much DP is saved, never correctness, so a fixed grid
    beats a data-dependent binary search that Catalyst could only
    express as an exponentially nested CaseWhen. A set-grain Jaccard
    pre-screen (VERDICT r6 suggestion) was considered and REJECTED as
    unsound for an exact operator: identical shingle SETS bound
    character edit distance in neither direction (reordered tokens:
    jaccard 1, edit_sim ~0), and on the probe corpus 98.6% of
    candidates qualify, so no admission screen can remove work --
    only cheapening the per-pair DP can.
    """
    min_len = F.least(F.length(t1), F.length(t2))
    pfx = None
    sfx = None
    for k in AFFIX_GRID:  # descending: first hit wins
        kl = F.lit(k)
        pc = (min_len >= kl) & (
            F.substring(t1, 1, k) == F.substring(t2, 1, k)
        )
        sc = (min_len >= kl) & (
            F.substring(t1, F.length(t1) - kl + 1, kl)
            == F.substring(t2, F.length(t2) - kl + 1, kl)
        )
        pfx = F.when(pc, kl) if pfx is None else pfx.when(pc, kl)
        sfx = F.when(sc, kl) if sfx is None else sfx.when(sc, kl)
    pfx = pfx.otherwise(F.lit(0))
    sfx = sfx.otherwise(F.lit(0))
    # Prefix+suffix may overlap on near-equal strings; SHRINKING the
    # suffix keeps it a verified common suffix of the stripped tails
    # (a suffix match of length s implies every shorter length), and
    # the greatest(0, ...) covers the fully-equal case where the
    # prefix probe alone exceeds min_len (both cores empty, dist 0).
    sfx = F.greatest(F.lit(0), F.least(sfx, min_len - pfx))
    c1 = F.substring(t1, pfx + 1, F.length(t1) - pfx - sfx)
    c2 = F.substring(t2, pfx + 1, F.length(t2) - pfx - sfx)
    return F.call_function("levenshtein", c1, c2, bound)


def edit_distance_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    max_chars: int = 1000,
    collapse: str = "auto",
) -> DataFrame:
    """Near-dup pairs verified by exact Levenshtein similarity:
    MinHash-LSH candidate generation, then
    ``1 - lev(a, b) / max(len(a), len(b))`` >= threshold on the
    candidate texts. Mirrors the reference's character-edit duplicate
    notion (/root/reference/pipeline/deduplicator.py similarity
    verify) with a bucketed candidate stage instead of all pairs.

    Scale shape: the candidate set is LSH-linear, never n^2; texts are
    capped at ``max_chars``; and the distance runs BANDED --
    ``levenshtein(t1, t2, bound)`` is O(bound * L), not O(L^2), and
    returns -1 past the bound. The band is PER-PAIR,
    floor((1-threshold) * max(len1, len2)) + 1: a pair with sim >=
    threshold has distance <= (1-threshold) * max(len) < that bound,
    so no qualifying pair is ever banded away; -1 rows are exactly the
    sim < threshold rejects. A length prefilter (|len1 - len2| within
    the pair's edit budget, necessary since dist >= |len1 - len2|)
    rejects length-mismatched candidates at O(1) before any DP runs.
    F.levenshtein runs JVM-side inside codegen -- no Python in the
    loop. On dup-dense corpora the remaining wall tracks the TRUE pair
    output (measured 10x word-perturbed sf0.1: 252k candidates vs
    248.5k qualifying pairs -- no inflation survives the LSH +
    prefilter stack). Returns (id1, id2, edit_sim).

    Byte-identical-TEXT groups are collapsed to one representative
    before banding and re-expanded after verify (adaptively, behind
    the shared dup-density probe -- the dup-cluster blowup guard).
    The group key here is md5 of the FULL text, not the shingle set:
    identical text implies identical shingles (=> identical
    candidates) AND identical truncated strings (=> identical
    Levenshtein), so the expansion is output-exact; a merely
    set-identical pair could differ in character order and must stay
    in the direct verify. Docs with no shingles are excluded from
    grouping -- they can never be candidates in the direct plan.

    Independently of the VERIFY grain, the CANDIDATE stage collapses
    on the shingle-SET fingerprint (``maybe_collapse``, the same
    adaptive probe the Jaccard family uses): identical sets produce
    identical signatures and band keys, so a member pair is a direct-
    plan candidate iff its representative pair is, and a within-group
    pair always is (it shares every band). The rep-grain candidate
    pairs re-expand to member pairs BEFORE the Levenshtein verify
    (``expand_rep_pairs`` with ``value_col=None`` -- candidate-set-
    exact, carrying no score), so the DP still runs per true pair while the signature +
    band join stage runs once per distinct shingle set. On the 10x
    word-perturbed probe (token-invisible markers: byte-distinct,
    set-identical) the candidate stage was 9.1 s of the 17-20 s wall;
    rep-grain candidates cut it to the collapsed corpus's cost.

    'auto' therefore runs TWO eager probe jobs (text grain for the
    verify collapse, set grain for the candidate collapse) -- an
    accepted cost: both decisions are memoized per corpus content
    fingerprint in the fitcache disk tier, so the pair of jobs runs
    once per corpus LIFETIME, not per build, and folding them into
    one scan would re-derive the shingle arrays outside the track()'d
    relation the set probe deliberately warms.
    """
    arrs = track(shingle_arrays(df))
    if collapse_engaged(collapse, lambda: dup_density_decision(df)):
        nonempty = arrs.where(F.size("sh_arr") > 0).select("doc_id")
        members = track(
            df.join(nonempty, "doc_id", "left_semi").select(
                F.col("doc_id"), F.md5(F.col("text").cast("binary")).alias("_fp")
            )
        )
        reps = group_reps(members, "doc_id")
        work_arrs = arrs.join(reps.select("doc_id"), "doc_id", "left_semi")
        t_base = df.join(reps.select("doc_id"), "doc_id", "left_semi")
    else:
        members = None
        work_arrs = arrs
        t_base = df
    cand_arrs, cand_members = maybe_collapse(work_arrs, "doc_id", collapse)
    cands = minhash_candidates(lsh_bands(minhash_signatures_from_arrays(cand_arrs)))
    if cand_members is not None:
        cands = expand_rep_pairs(cands, cand_members, "doc_id")
    t = t_base.select(
        F.col("doc_id"), F.substring(F.col("text"), 1, max_chars).alias("_t")
    )
    t1 = t.select(F.col("doc_id").alias("id1"), F.col("_t").alias("t1"))
    t2 = t.select(F.col("doc_id").alias("id2"), F.col("_t").alias("t2"))
    # Two exact verify cuts (both derived from dist >= |len1 - len2|
    # and dist <= (1-threshold) * max(len) for any qualifying pair):
    #  1. length prefilter -- a pair whose lengths differ by more than
    #     the allowed edit budget cannot qualify; reject at O(1)
    #     before any DP runs (kills cheap-to-kill candidate noise).
    #  2. per-pair band -- the DP band only needs the PAIR's own
    #     budget floor((1-t)*max(len1,len2))+1, not the corpus-wide
    #     (1-t)*max_chars+1; short docs get a proportionally narrower
    #     O(band * L) run. F.levenshtein()'s wrapper takes only a
    #     Python-int threshold, so the column-valued band goes through
    #     call_function (same count verified both ways at 10x sf0.1).
    #     A narrower "try a tiny band first, escalate on -1" tier was
    #     measured and REJECTED: per-pair cost here is dominated by
    #     row/expression fixed overhead, not DP cells (band/8 only ran
    #     1.8x faster), and Catalyst freely duplicates the CaseWhen
    #     into filter pushdowns (15 levenshtein sites in the inlined
    #     plan), erasing the remainder.
    maxlen = F.greatest(F.length("t1"), F.length("t2"))
    pair_bound = (F.floor(F.lit(1 - threshold) * maxlen) + 1).cast("int")
    # The DP runs on affix-stripped strings (exact identity; the
    # rationale, probe-grid design, and the rejected Jaccard
    # pre-screen alternative live on affix_stripped_levenshtein). The
    # band stays derived from the ORIGINAL lengths -- sound, since the
    # stripped pair has the same true distance -- and -1 still marks
    # exactly the sim < threshold rejects.
    dist = affix_stripped_levenshtein(F.col("t1"), F.col("t2"), pair_bound)
    # The DP result materializes ONCE through a tiny persisted
    # (id1, id2, _ml, _d) projection: downstream the same _d feeds
    # both the qualifying filter and the emitted similarity, and
    # Catalyst's alias inlining (filter pushdown through the project)
    # would otherwise re-run the most expensive expression in the
    # whole plan per reference. ~16 bytes/candidate of executor
    # memory buys the guarantee.
    # The prefilter compares against the INTEGER pair_bound, not the raw
    # float product: Python's (1 - threshold) rounds DOWN for values
    # like 0.8/0.9, and a boundary pair whose edits are pure insertions
    # (dist == |len1-len2| == exact budget, e.g. lengths 40 vs 50 at
    # t=0.8) passes the downstream 1-_d/_ml >= t filter but would be
    # rejected by `lendiff <= (1-t)*maxlen` evaluated in floats.
    # pair_bound = floor((1-t)*maxlen)+1 is provably >= any qualifying
    # distance >= any qualifying length gap, so the cut stays sound.
    verified = track(
        cands.join(t1, "id1")
        .join(t2, "id2")
        .where(F.abs(F.length("t1") - F.length("t2")) <= pair_bound)
        .select("id1", "id2", maxlen.alias("_ml"), dist.alias("_d"))
    )
    rep_pairs = (
        verified.where(
            (F.col("_d") >= 0) & (1 - F.col("_d") / F.col("_ml") >= threshold)
        )
        .select("id1", "id2", (1 - F.col("_d") / F.col("_ml")).alias("edit_sim"))
    )
    if members is None:
        return rep_pairs
    return expand_rep_pairs(rep_pairs, members, "doc_id", "edit_sim", 1.0)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: 60 bits = 15 md5 hex digits; 4 pigeonhole blocks of 15 bits. The
#: standard web-dedup operating point is 64-bit/k=3 (Manku et al.
#: 2007); 60 keeps the signature and every block arithmetic inside a
#: signed BIGINT on both engines (1 << 63 overflows). Block width sets
#: the candidate volume: a 4-bit block has 16 possible values, so ANY
#: corpus degenerates to ~n^2/16 candidate pairs per block (measured
#: 25x wall at 10x rows, SCALE.md); 15-bit blocks give 32768 bucket
#: values -> candidates ~n^2/32768 per block + true near-dup buckets.
SIMHASH_BITS = 60
SIMHASH_BLOCK_BITS = SIMHASH_BITS // 4
SIMHASH_BLOCK_MASK = (1 << SIMHASH_BLOCK_BITS) - 1


def simhash(df: DataFrame) -> DataFrame:
    """60-bit SimHash over token multiset, md5-derived bit projections.

    bit b of token = bit (3 - b%4) of hex digit b//4 of md5(token);
    simhash bit b = 1 iff sum over token OCCURRENCES of (2*bit - 1)
    > 0 (iterating occurrences is the same sum as cnt-weighted
    distinct terms). Engine-portable (md5 + integer ops only).

    Physical shape (round 12, guide §4.1/§1.2): the md5 prefix parses
    once per token into a 60-bit BIGINT (bit b of the signature =
    bit 59-b, bit-exact with the digit-at-a-time formula the DuckDB
    oracle uses), tokens explode to (id, hash) rows, and the 60
    bit-sums run as 60 CODEGEN'D sum aggregates in one groupBy(id)
    (inside whole-stage codegen under the session's
    spark.sql.codegen.maxFields=600). Two earlier shapes were
    measured and rejected: 60 *separate* interpreted aggregate passes
    (6.2 s vs 1.1 s on a 50k-doc corpus -- per-row interpreted
    aggregate setup), and the round-3..11 row-local zip_with/aggregate
    HOF accumulator, whose lambdas evaluate INTERPRETED outside
    codegen: at sf1 the HOF signature pass measured 1.11 s vs 0.63 s
    for this 60-sum codegen form (bit-exact parity on 50k docs); the
    HOF's only edge was ~0.15 s of avoided stage overhead on the
    5k-doc sf0.1 corpus. The groupBy exchange carries one 60-long row
    per doc per map partition (explode keeps a doc's tokens row-local,
    so partial aggregation completes map-side); at 100 TB the stage is
    still one corpus scan plus a signature-sized exchange, and the
    per-row work is codegen that scales with cores, where the
    interpreted HOF did not. ``explode_outer`` keeps token-less docs:
    their sums are NULL, every CASE falls to 0, and the signature is
    0 -- exactly the HOF form's empty-array output.

    Edge contracts: a doc whose text is NULL gets signature 0, like
    empty text, so NULL-text and empty-text docs pair at hamming 0 in
    :func:`simhash_pairs`. ``doc_id`` must be unique: the signature
    sums group by id, so docs sharing an id merge into one signature.
    """
    from conversation_analysis_tools_spark.functions.text import raw_tokens_expr

    hv = spread_input(df, "doc_id").select(
        F.col("doc_id"),
        F.explode_outer(raw_tokens_expr("text")).alias("_t"),
    ).select(
        F.col("doc_id"),
        F.expr(
            f"cast(conv(substring(md5(cast(_t as binary)), 1,"
            f" {SIMHASH_BITS // 4}), 16, 10) as bigint)"
        ).alias("_h"),
    )
    sums = hv.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(2 * bit_get(_h, {SIMHASH_BITS - 1 - b}) - 1) AS s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = "+".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(SIMHASH_BITS)
    )
    return sums.select(F.col("doc_id"), F.expr(sig).alias("simhash"))


def simhash_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with hamming(simhash) <= k via 15-bit block candidates.

    Pigeonhole: hamming <= 3 over 4 blocks => >= 1 identical block.
    Candidates share a (block_idx, block_value); exact hamming filter
    after. Block width is the scale lever: 2^15 bucket values keep
    random-collision candidates ~n^2/32768 per block, so candidate
    volume tracks true near-duplicate density, not corpus size squared.

    Dup-cluster blowup guard: identical signatures are COLLAPSED to one
    representative (min id per signature) before the block join, then
    member pairs are re-expanded afterward. On near-duplicate-dense
    corpora (exact replicas are the overwhelmingly common case) this
    turns the quadratic candidate join inside a dup cluster into a
    linear expansion of the *output* pairs. Output-exact for ANY
    ``max_hamming``: members of one signature group pair at hamming 0,
    and a cross-group member pair shares a block iff its representative
    pair does (same signatures).
    """
    # --- collapse: one representative per distinct signature ---------
    # groupBy runs with map-side partial aggregation, so a dup cluster
    # of any size is skew-safe; the group table is 16 bytes/row.
    groups = sig.groupBy("simhash").agg(F.min("doc_id").alias("_rep"))
    reps = groups.select(F.col("_rep").alias("doc_id"), "simhash")
    blocks = reps.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("blk"),
                        F.shiftright("simhash", SIMHASH_BLOCK_BITS * j)
                        .bitwiseAND(F.lit(SIMHASH_BLOCK_MASK))
                        .alias("val"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.blk").alias("blk"), F.col("bv.val").alias("val"))
    a = blocks.select(
        F.col("doc_id").alias("id1"), F.col("simhash").alias("sh1"), "blk", "val"
    )
    b = blocks.select(
        F.col("doc_id").alias("id2"), F.col("simhash").alias("sh2"), "blk", "val"
    )
    rep_pairs = (
        a.join(b, ["blk", "val"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "sh1", "sh2")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))))
        .where(F.col("hamming") <= max_hamming)
    )
    # --- expand: within-group pairs at hamming 0, cross-group pairs
    # inherit the rep pair's hamming. The rep pairs already carry both
    # signatures, so the expansion joins members on them directly.
    members = sig.select(F.col("doc_id"), F.col("simhash").alias("_fp"))
    return expand_rep_pairs(
        rep_pairs.select(
            F.col("sh1").alias("_fp1"), F.col("sh2").alias("_fp2"), "hamming"
        ),
        members, "doc_id", "hamming", 0,
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    collapse: str = "auto",
    route: str = "auto",
    route_budget: int = 32_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold via inverted shingle index:
    only pairs sharing a shingle are generated, length-filtered
    BEFORE the intersection count.

    Identical-shingle-SET groups are collapsed to one representative
    before the index join and re-expanded after (adaptively -- see
    ``maybe_collapse``). The inverted index is EXACT, so the blowup
    here is worse than LSH's: a replica cluster of m docs with s
    shingles each costs m^2*s/2 rows out of the shingle self-join
    (measured 53.6 s / 5.7x wall on the 10x dup-heavy probe);
    collapsed, it costs s rows plus a linear expansion of the m^2/2
    OUTPUT pairs, which the pair-set contract emits regardless.
    Output-exact: within-group exact Jaccard is 1.0 and a cross-group
    member pair shares shingles (and sizes) with its rep pair.

    The length filter (t*max(sz1,sz2) <= min(sz1,sz2), applied inside
    the index join -- sizes ride the postings, no broadcast) is
    pair-level, so it drops ALL rows of a pair or none and the
    surviving intersection counts are untouched; a dropped pair has
    J <= min/max < t, so the output is provably identical.

    Known wall (measured, round 7): on a corpus whose shingle space
    SATURATES (the synthetic 31-word vocab: distinct shingles stop
    growing while postings keep growing), sum(df^2) -- the index-join
    row count -- grows quadratically in corpus size (2.9M at 5k docs
    -> 245M at 50k docs) and this exact operator follows it. The
    published exact mitigation, prefix filtering (AllPairs: Bayardo
    et al. WWW 2007; Vernica et al. SIGMOD 2010), was implemented and
    MEASURED here: it prunes by dropping each doc's highest-df
    shingles from the index, which on a Zipfian (natural-text)
    df distribution removes the dominant df^2 terms, but on this
    near-uniform-df space it halves sum(df^2) (245M -> 131M) while
    its own overheads (df join + per-doc rank window + pair-grain
    distinct + array verify joins) cost 10x the savings -- 7.1 s vs
    0.7 s at sf0.1. Reverted; on real web text the Zipfian premise
    holds and the prefix path wins -- see git history for the
    working implementation.

    ``route`` closes that wall by MEASURING instead of hoping:

    - ``'auto'`` (default) probes the index-join volume the exact
      plan would generate -- sum over shingles of df*(df-1)/2 on the
      (collapsed) postings, one linear map-side-combined aggregation
      over data the collapse probe already cached -- and routes to
      the MinHash sibling when it exceeds ``route_budget`` rows.
      The probe measures the join's actual driver (candidate ROW
      volume), so Zipfian corpora with harmless postings stay on
      the exact path no matter how big the corpus is.
    - ``'exact'`` / ``'minhash'`` pin the path (no probe job).

    The routed path is :func:`tuned_lsh_pairs`: banded MinHash with
    the band count SOLVED FROM the threshold for a 0.98 recall
    target at J = t (the fixed 16/4 sibling's S-curve midpoint sits
    at ~0.71 -- measured recall ZERO at threshold 0.15), in-bucket
    pair explosion bounded by a bucket cap (candidate volume provably
    linear in corpus size), then the same exact array-intersect
    verify -- every emitted pair carries its TRUE Jaccard and the
    trade is the bounded recall near the threshold (measured 27/27 at
    sf1). The route is recorded via ``decisions.record`` (gate
    ``ngram_jaccard_pairs``; the band solve as ``tuned_lsh_pairs``),
    and 'auto' logs a WARNING when it swaps in the approximate path.
    Callers who need the exact contract unconditionally pin
    ``route='exact'`` and own the quadratic cost the probe would have
    refused.
    """
    if route not in ("auto", "exact", "minhash"):
        raise ValueError(f"route must be auto|exact|minhash, got {route!r}")
    requested = route
    arrs = track(shingle_arrays(df))
    rep_arrs, members = maybe_collapse(arrs, "doc_id", collapse)
    # postings carry the doc's set size inline (explode keeps sibling
    # columns) -- the length filter needs no corpus-grain broadcast
    sh = rep_arrs.select(
        F.col("doc_id"),
        F.size("sh_arr").alias("sz"),
        F.explode("sh_arr").alias("shingle"),
    )
    est: float | None = None
    if route == "auto":
        # exact-plan cost probe: the self-join emits df*(df-1)/2 rows
        # per shingle (before the length filter, so an upper bound --
        # the filter can only shrink it). double sum: overflow-proof
        # at any conceivable df, and a probe needs no exactness.
        est = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(
                F.sum(
                    F.col("df").cast("double")
                    * (F.col("df") - 1).cast("double")
                    / 2.0
                ).alias("rows")
            )
            .first()["rows"]
        )
        route = "minhash" if (est or 0.0) > route_budget else "exact"
        if route == "minhash":
            _LOG.warning(
                "ngram_jaccard_pairs: auto-routing to tuned-LSH "
                "(approximate, recall-bounded near threshold): probed "
                "exact-plan candidate volume %.3g rows > budget %d. "
                "Pin route='exact' to force the exact plan at its "
                "measured quadratic cost.",
                est or 0.0,
                route_budget,
            )
    record("ngram_jaccard_pairs", route, requested=requested,
           probe_rows=est, route_budget=route_budget)
    if route == "minhash":
        rep_pairs = tuned_lsh_pairs(rep_arrs, threshold)
    else:
        s1 = sh.select(
            F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"), "shingle"
        )
        s2 = sh.select(
            F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"), "shingle"
        )
        t = F.lit(float(threshold))
        inter = (
            s1.join(s2, "shingle")
            .where(
                (F.col("id1") < F.col("id2"))
                & (t * F.col("sz2") <= F.col("sz1"))
                & (t * F.col("sz1") <= F.col("sz2"))
            )
            .groupBy("id1", "id2", "sz1", "sz2")
            .agg(F.count("*").alias("inter"))
        )
        rep_pairs = inter.select(
            "id1",
            "id2",
            (F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))).alias(
                "jaccard"
            ),
        ).where(F.col("jaccard") >= threshold)
    if members is None:
        return rep_pairs
    return expand_rep_pairs(rep_pairs, members, "doc_id", "jaccard", 1.0)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    block_col: str | None = "label",
) -> DataFrame:
    """Near-dup pairs by embedding cosine within blocking key.

    ``block_col`` bounds the pair space (at scale the block is an LSH
    bucket from ann.hyperplane_buckets; here the given label). Cosine
    is a zip_with/aggregate expression -- JVM-side, no UDF. Without a
    blocking key the pair scan routes through the grid-blocked BLAS
    plan (operators/similarity.grid_blocked_pairs) instead of a
    crossJoin: same exact result, bounded per-task memory, no
    nested-loop join.
    """
    from conversation_analysis_tools_spark.functions.vector import (
        dot_expr,
        norm_expr,
    )

    if block_col is None:
        from conversation_analysis_tools_spark.operators.similarity import (
            grid_blocked_pairs,
            unit_vector,
        )

        # persisted: counted for the grid size, then scanned by the cells
        per_doc = track(
            emb.select(F.col("vec_id").alias("_id"), unit_vector("embedding").alias("v"))
        )
        return grid_blocked_pairs(per_doc, threshold)

    # norms hoisted to per-ROW (Catalyst does no CSE inside lambda
    # bodies, so inline cosine_expr re-folds both norms per PAIR --
    # 3 interpreted folds/pair vs 1 here). Same fold order over the
    # same values, so sim is bit-identical to cosine_expr.
    a = emb.select(
        F.col(block_col),
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("v1"),
        norm_expr("embedding").alias("_n1"),
    )
    b = emb.select(
        F.col(block_col),
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("v2"),
        norm_expr("embedding").alias("_n2"),
    )
    sim = F.when(
        (F.col("_n1") == 0) | (F.col("_n2") == 0), F.lit(0.0)
    ).otherwise(dot_expr("v1", "v2") / (F.col("_n1") * F.col("_n2")))
    return (
        a.join(b, [block_col])
        .where(F.col("id1") < F.col("id2"))
        .select(F.col(block_col), "id1", "id2", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Hot-key-safe plan selection for the span/line dedup family
#
# The one-pass min/max-window plans below (round 11) shuffle the span/
# line table ONCE, but a window partition has no combiner: a UNIVERSAL
# boilerplate span/line concentrates O(corpus doc count) rows into one
# window partition with a full sort -- the documented straggler/OOM
# risk at 100 TB (optimization playbook §2.5; AQE skew handling covers
# joins only, never windows). The skew-safe twin restructures the same
# computation so no operator ever needs one key's rows in one task:
#
#   1. the per-key GLOBAL aggregate (min/max doc id, distinct-doc
#      count) runs as a groupBy with map-side partial aggregation --
#      a hot key reaches the reduce side as <= one partial row per map
#      task, bounded regardless of df;
#   2. the per-row attach joins rows to that (small-per-key) table on
#      a SALTED key: rows carry salt = pmod(xxhash64(id), SKEW_SALT),
#      the per-key table explodes SKEW_SALT ways, and the join key is
#      (key, salt) -- the hot key's rows spread over SKEW_SALT
#      partitions instead of one (the guide's standard hot-key split).
#
# Output-identical to the window plan (the tests pin value equality);
# costs one extra exchange of the span/line table plus the salted
# replication of the per-key table, which is why it is not the
# unconditional plan. Gating is by INPUT VOLUME, not a per-call
# frequency probe: the quantity that makes a hot key dangerous is its
# row count (df x corpus size), so below SKEW_SAFE_MIN_BYTES even a
# universal key's window partition is a bounded single task, while
# above it the safe plan's extra exchange is noise against the scan --
# and a probe job would pay a full eager pass per call to detect a
# condition the safe plan tolerates for free. The estimate comes from
# Catalyst's own plan statistics (driver-side, no job).
# ---------------------------------------------------------------------------

#: Input-size threshold above which the span/line dedup operators use
#: the skew-safe two-phase plan. 1 GiB of input text is ~10^8 short
#: lines/spans: the worst-case (universal-key) window partition at
#: that size is a heavy-but-finite single task, while past it the
#: unbounded partition becomes the straggler the playbook warns about.
#: Every driver corpus (sf0.001-sf0.1, and the sf1/sf10 probes) sits
#: far below, so certified bench plans are unchanged.
SKEW_SAFE_MIN_BYTES = 1 << 30

#: Salt fan-out for the skew-safe attach join: the hot key's rows
#: spread over this many partitions. 64 bounds the per-key replication
#: of the (tiny) per-key table while cutting the hot partition 64x;
#: production can raise it toward the shuffle partition count.
SKEW_SALT = 64


def _skew_safe_engaged(df: DataFrame, skew_safe: bool | None) -> bool:
    """Resolve the span/line family's ``skew_safe`` tri-state: explicit
    True/False pins the plan; None sizes the decision from Catalyst's
    input-size estimate (driver-side metadata, no job)."""
    engaged, est = skew_safe, None
    if skew_safe is None:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # noqa: BLE001 -- estimation must never kill the plan
            pass
        # Catalyst reports spark.sql.defaultSizeInBytes (Long.MaxValue)
        # for relations it cannot size (in-memory/RDD-backed inputs, e.g.
        # test corpora): that is "unknown", not "huge" -- keep the
        # one-pass plan there rather than pessimizing every
        # createDataFrame input.
        engaged = est is not None and SKEW_SAFE_MIN_BYTES < est < 1 << 60
    record("skew_safe", "twin" if engaged else "direct", requested=skew_safe,
           est_bytes=est, min_bytes=SKEW_SAFE_MIN_BYTES)
    return engaged


def _salted_cross_flags(
    rows: DataFrame, keys: DataFrame, key_col: str, id_col: str
) -> DataFrame:
    """Skew-safe attach: keep the ``rows`` whose ``key_col`` appears in
    ``keys`` (single-column relation), joining on a salted key so a
    hot key's rows spread over SKEW_SALT partitions. Semantically a
    left-semi join on ``key_col``: a row matches iff its (key, salt)
    is in the exploded table, which holds iff its key is in ``keys``."""
    salted = rows.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(SKEW_SALT)).cast("int")
    )
    exploded = keys.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(SKEW_SALT - 1))).alias("_salt"),
    )
    return salted.join(exploded, [key_col, "_salt"], "left_semi").drop("_salt")


def substring_span_stats(
    df: DataFrame,
    width: int = 8,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Per-document exact substring-span duplication: for each doc, how
    many of its width-`width` token windows also appear verbatim in at
    least one OTHER document (the span-level exact-dedup signal from
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022 -- their suffix-array match re-expressed as a rolling
    window hash-join, the shape that distributes).

    Reference has no span-grain dedup (its duplicate detector is
    whole-document cosine, pipeline/duplicate_detector.py); this is a
    beyond-reference training-data operator.

    Plan: map-only window expansion (one row per token position via
    transform+explode -- no self-join), 8-byte xxhash64 span keys
    hashed straight off the token columns (internal grouping identity
    only; switching from 32-char md5-of-joined-string strings measured
    5.7x on the dup-heavy 10x corpus), then exactly TWO shuffles of
    16-byte rows: a min/max window over span_hash marks each span row
    cross-doc in one pass (min(id) != max(id) over the hash partition
    == 'appears in >= 2 distinct docs'), and one groupBy doc_id folds
    the flags into per-doc totals (count(*) over the span rows IS
    n_spans, so the old separate per-doc arithmetic branch and its
    second tokenize pass are gone). The span table has a single
    consumer, so nothing is persisted. A pathologically hot span
    (one boilerplate window in most docs) concentrates its rows in
    one window partition; below SKEW_SAFE_MIN_BYTES of input that
    partition is a bounded single task, and past it (or with
    ``skew_safe=True``) the operator switches to the two-phase
    hot-key-safe twin documented at :data:`SKEW_SAFE_MIN_BYTES`:
    per-hash min/max via a map-side-combined groupBy (a hot key
    reduces to one partial row per map task), per-doc dup counts via
    the salted semi-join attach, and per-doc span totals computed
    map-only from the token array (size - width + 1) so the span
    table is never re-grouped at row grain. Output-identical either
    way (pinned by tests).
    Production width is ~50 tokens; the synthetic corpus's short docs
    use a smaller window.

    Docs with fewer than `width` tokens have no spans and are absent
    (same contract as unigram_logprob for empty docs).
    """
    from pyspark.sql import Window

    from conversation_analysis_tools_spark.functions.text import raw_tokens_expr

    # spread to scan parallelism (round 12, guide §2.5/§6): the
    # tokenize + per-position xxhash chain otherwise runs as one task
    # on single-row-group corpora
    toks = spread_input(df, "doc_id").select(
        F.col("doc_id"), raw_tokens_expr("text").alias("_toks")
    )
    arr = F.col("_toks")
    # span identity is INTERNAL (grouping only, never emitted), so an
    # 8-byte xxhash64 over the window's token columns replaces the
    # 32-char md5-of-joined-string: 4x narrower shuffle keys and no
    # per-span string allocation. The DuckDB oracle groups by its own
    # md5 strings -- identical partitions, collision odds ~(n_spans^2)/2^65.
    span_hashes = F.when(
        F.size(arr) >= width,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - F.lit(width)),
            lambda i: F.xxhash64(*[F.get(arr, i + j) for j in range(width)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    spans = toks.select(F.col("doc_id"), F.explode(span_hashes).alias("span_hash"))

    if _skew_safe_engaged(df, skew_safe):
        # two-phase hot-key-safe twin: per-hash global min/max with
        # map-side combine, salted semi-join attach, per-doc totals
        # map-only from the token array (size - width + 1 == count of
        # exploded positions, the same quantity the window plan
        # counts row-wise)
        cross = (
            spans.groupBy("span_hash")
            .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
            .where(F.col("_mn") != F.col("_mx"))
            .select("span_hash")
        )
        dup_per_doc = (
            _salted_cross_flags(spans, cross, "span_hash", "doc_id")
            .groupBy("doc_id")
            .agg(F.count("*").alias("_n_dup"))
        )
        base = toks.where(F.size(arr) >= width).select(
            F.col("doc_id"),
            (F.size(arr) - F.lit(width - 1)).cast("long").alias("_n_spans"),
        )
        per_doc = base.join(dup_per_doc, "doc_id", "left").withColumn(
            "_n_dup", F.coalesce(F.col("_n_dup"), F.lit(0))
        )
    else:
        # a span is cross-doc iff >= 2 DISTINCT docs carry it; min/max
        # of the doc id over the hash partition answers that without
        # the distinct->count->join-back detour (a span repeated only
        # WITHIN one doc has min == max and stays non-dup, same as
        # before)
        w = Window.partitionBy("span_hash")
        flagged = spans.select(
            F.col("doc_id"),
            (F.min("doc_id").over(w) != F.max("doc_id").over(w)).alias("_cross"),
        )
        per_doc = flagged.groupBy("doc_id").agg(
            F.count("*").alias("_n_spans"),
            F.sum(F.when(F.col("_cross"), 1).otherwise(0)).alias("_n_dup"),
        )
    n_spans = F.col("_n_spans").cast("bigint")
    n_dup = F.col("_n_dup").cast("bigint")
    return per_doc.select(
        F.col("doc_id"),
        n_spans.alias("n_spans"),
        n_dup.alias("n_dup_spans"),
        F.round(n_dup * 1.0 / n_spans, 6).alias("dup_fraction"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    width: int = 8,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Cut cross-document duplicated spans OUT of each document (the
    transformation half of Lee et al. 2022's exact substring dedup --
    ``substring_span_stats`` is the measurement half).

    A token position is removed iff it is covered by at least one
    width-token window whose hash also occurs in >= 1 OTHER document.
    Output is the token-level cleaned text (lowercase analysis-token
    stream -- span dedup operates on token sequences, not surface
    bytes): (id, n_tokens, n_removed, cleaned_text).

    Plan: posexplode keeps each span's start index; a min/max window
    over span_hash marks each span row cross-doc in ONE pass of the
    24-byte span rows (min(id) != max(id) over the hash partition ==
    'appears in >= 2 distinct docs' -- the old distinct -> count ->
    semi-join-back detour shuffled the same rows three more times and
    needed the span table persisted for its two consumers); dup
    starts come back as a per-doc sorted array (bounded by doc
    length); the coverage test and text rebuild are then row-local
    higher-order functions -- no further shuffle, no UDF. Only the
    token table keeps its persist (the rebuild join re-reads it).
    At 100 TB the heavy relation is the span table, same footprint
    as the stats operator; past SKEW_SAFE_MIN_BYTES of input (or with
    ``skew_safe=True``) the window is replaced by the two-phase
    hot-key-safe twin (map-side-combined per-hash min/max + salted
    semi-join attach) so a universal boilerplate span can never pin
    one window partition. Output-identical either way (pinned by
    tests).
    """
    from pyspark.sql import Window

    from conversation_analysis_tools_spark.functions.text import raw_tokens_expr

    # spread to scan parallelism (round 12, guide §2.5/§6) before the
    # tokenize; the persisted token table then also caches spread
    toks_df = track(
        spread_input(df, "doc_id").select(
            F.col("doc_id"), raw_tokens_expr("text").alias("_toks")
        )
    )
    arr = F.col("_toks")
    # span identity is INTERNAL (grouping only, never emitted), so an
    # 8-byte xxhash64 over the window's token columns replaces the
    # 32-char md5-of-joined-string: 4x narrower shuffle keys and no
    # per-span string allocation. The DuckDB oracle groups by its own
    # md5 strings -- identical partitions, collision odds ~(n_spans^2)/2^65.
    span_hashes = F.when(
        F.size(arr) >= width,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - F.lit(width)),
            lambda i: F.xxhash64(*[F.get(arr, i + j) for j in range(width)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    spans = toks_df.select(
        F.col("doc_id"), F.posexplode(span_hashes).alias("s", "span_hash")
    )

    if _skew_safe_engaged(df, skew_safe):
        # two-phase hot-key-safe twin (see SKEW_SAFE_MIN_BYTES): the
        # per-hash min/max groupBy partial-aggregates map-side, the
        # salted semi-join spreads a universal span's rows over
        # SKEW_SALT partitions
        cross = (
            spans.groupBy("span_hash")
            .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
            .where(F.col("_mn") != F.col("_mx"))
            .select("span_hash")
        )
        dup_starts = (
            _salted_cross_flags(spans, cross, "span_hash", "doc_id")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("s")).alias("_starts"))
        )
    else:
        w = Window.partitionBy("span_hash")
        flagged = spans.select(
            F.col("doc_id"),
            F.col("s"),
            (F.min("doc_id").over(w) != F.max("doc_id").over(w)).alias("_cross"),
        )
        dup_starts = (
            flagged.where(F.col("_cross"))
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("s")).alias("_starts"))
        )

    out = toks_df.join(dup_starts, "doc_id", "left")
    starts = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    # Fold the SORTED starts into merged disjoint [lo, hi] intervals
    # before the per-token test: a start s covers [s, s+width-1], and
    # consecutive dup spans overlap, so a dup-heavy doc (the whole
    # point of dedup) collapses to a handful of intervals -- the
    # coverage test is then O(n_tokens * n_intervals) instead of
    # O(n_tokens * n_starts), which is quadratic per doc exactly on
    # the dup-heavy corpora this operator exists for.
    empty_iv = F.array().cast("array<struct<lo:int,hi:int>>")
    intervals = F.aggregate(
        starts,
        empty_iv,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        F.greatest(
                            F.element_at(acc, -1)["hi"], s + F.lit(width - 1)
                        ).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(s.alias("lo"), (s + F.lit(width - 1)).alias("hi"))
                ),
            )
        ),
    )
    out = out.withColumn("_iv", intervals)
    # sequence(0, -1) DESCENDS in Spark -- guard the token-less doc
    kept = F.when(
        F.size(arr) > 0,
        F.filter(
            F.sequence(F.lit(0), F.size(arr) - F.lit(1)),
            lambda t: ~F.exists(
                F.col("_iv"), lambda v: (v["lo"] <= t) & (t <= v["hi"])
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return out.select(
        F.col("doc_id"),
        F.size(arr).cast("bigint").alias("n_tokens"),
        (F.size(arr) - F.size(kept)).cast("bigint").alias("n_removed"),
        F.concat_ws(
            " ", F.transform(kept, lambda t: F.element_at(arr, t + F.lit(1)))
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bucketed semantic dedup
# ---------------------------------------------------------------------------


def semdedup_prune(
    emb: DataFrame,
    centroids,
    threshold: float = 0.4,
    dense_path: bool | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means the
    embedding space, search for near-duplicate pairs only WITHIN each
    cluster, and keep one representative per near-dup group -- the
    member FARTHEST from its cluster centroid (the paper's
    keep-low-centroid-similarity rule; it retains the least-redundant
    exemplar), ties broken by min id.

    Scale shape: the O(n^2) pair space is bounded per-cluster --
    pairs shuffle on ``centroid_id`` only, never globally. At 100 TB:
    train the quantizer on a sample, write the assigned table bucketed
    by centroid_id, and recursively split any cluster whose size
    exceeds a per-task pair budget (the dense path's per-cluster grid
    does exactly this); the within-cluster work is then
    embarrassingly parallel. Mirrors the reference's dedup intent
    (pipeline/duplicate_detector.py) at embedding grain.

    ``dense_path`` picks the physical strategy (round 7; same
    decision shape as the probed dense/inverted switch in
    operators/similarity.pairwise_cosine):

    - False (small corpora): pure-expression plan -- C distance
      folds for assignment, per-pair cosine fold within clusters.
      Zero Python, zero Arrow; the right call when the corpus or C
      is small (fixed job overhead dominates, measured 2.1 s at 2k
      vectors / C=16).
    - True (scaled corpora, where C grows as ~n/128 to keep the pair
      space linear): the interpreted-HOF costs grow as n*C*dim
      (assignment) and pairs*dim (cosine) -- QUADRATIC in corpus
      size once C scales -- so assignment runs as one numpy matmul
      per Arrow batch and the within-cluster pair scan through the
      per-cluster grid-blocked BLAS stage
      (similarity.grouped_grid_pairs). Measured at 20k vectors /
      C=157: 94.9 s (expression plan, fixed C=16) -> 13.8 s.
    - None: decide from a one-column count of ``emb`` (<= 2048 rows
      -> expression plan), matching the caller-side C=max(16,
      ceil(n/128)) rule so driver-sf plans stay byte-identical to
      the pre-adaptive ones.

    Both paths emit the same pairs up to float-ulp edge cases at the
    exact threshold boundary (the BLAS path compares against
    thr - 1e-9 like every other dense stage); components and keep
    rules are identical. Returns (id, centroid_id, centroid_dist,
    component, keep).
    """
    import numpy as np
    import pandas as pd

    from conversation_analysis_tools_spark.functions.vector import (
        dot_expr,
        norm_expr,
    )
    from conversation_analysis_tools_spark.operators.ann import (
        _centroid_dist_array,
        _nearest_centroid,
    )

    n_vectors = None  # stays None when the caller pins the path
    if dense_path is None:
        n_vectors = emb.count()
        dense_path = n_vectors > 2048
    record("semdedup_prune", "dense" if dense_path else "expression",
           n_vectors=n_vectors)

    from conversation_analysis_tools_spark.operators.components import (
        connected_components,
    )
    from conversation_analysis_tools_spark.operators.similarity import (
        grouped_grid_pairs,
    )

    if dense_path:
        # Assignment via one numpy matmul per Arrow batch instead of
        # the C-wide interpreted HOF distance fold (the fold's
        # n*C*dim interpreted ops dominate wall once C scales --
        # measured ~30 s of a 37 s run at 20k vectors / C=157).
        nearest = _nearest_centroid(centroids)
        out_schema = (
            "vec_id long, embedding array<double>, "
            "centroid_id int, centroid_dist double"
        )

        def assign_batches(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                # NULL embeddings keep their row with NULL
                # centroid_id/dist; they join no cluster and surface as
                # kept singletons downstream
                cid, d2 = nearest(pdf["embedding"])
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "embedding": pdf["embedding"].to_numpy(),
                        "centroid_id": cid,
                        "centroid_dist": np.sqrt(d2),
                    }
                )

        # spread first (round 9, sf10 probe): a 500k-vector corpus
        # arrives as 1-2 parquet splits, so the per-batch matmul ran
        # single-core -- measured 35 s of the sf10 wall; spread to
        # full parallelism it is ~32 tasks of ~1e9 flops each. Small
        # corpora never take the dense path, so driver-sf plans are
        # untouched.
        assigned = track(
            spread_input(
                emb.select(
                    F.col("vec_id"),
                    F.col("embedding").cast("array<double>").alias("embedding"),
                ),
                "vec_id",
            ).mapInPandas(assign_batches, schema=out_schema)
        )
        # IDENTICAL-EMBEDDING collapse before the pair scan (round 7,
        # the text-dedup representative-collapse discipline at vector
        # grain): a clique of m byte-identical embeddings -- exact-dup
        # documents, quantized embedders -- emits m^2/2 edge rows into
        # connected components no matter how the pair scan is blocked
        # (measured: one 10k-copy clique in a 12k corpus = 104.8 s,
        # ~50M edges). Pair/CC stages run on one representative (min
        # id) per DISTINCT vector; the quotient graph is exact:
        # cosine depends only on vector values, so edge(a, b) exists
        # iff edge(rep_a, rep_b) does, identical members connect to
        # their rep (self-cosine within THRESHOLD_EPS of 1.0 >= any
        # t <= 1), and CC labels are min ids -- each rep IS its
        # group's min member id, so rep-grain labels equal
        # member-grain labels verbatim. Member rows re-join their
        # rep's component LINEARLY and the unchanged keep window
        # ranks members directly. t > 1.0 (nothing pairs, even
        # identicals) falls through to the plain scan.
        if threshold <= 1.0:
            nonnull = assigned.where(F.col("embedding").isNotNull())
            groups = nonnull.groupBy("centroid_id", "embedding").agg(
                F.min("vec_id").alias("_rep")
            )
            member_map = nonnull.select("centroid_id", "vec_id", "embedding").join(
                groups, ["centroid_id", "embedding"]
            )
            reps = member_map.where(F.col("vec_id") == F.col("_rep")).select(
                "centroid_id", "vec_id", "embedding"
            )
            rep_edges = grouped_grid_pairs(
                reps, "centroid_id", threshold
            ).select("id1", "id2")
            rep_comps = connected_components(rep_edges)
            comps = (
                member_map.select("vec_id", "_rep")
                .join(
                    rep_comps.withColumnRenamed("id", "_rep"), "_rep", "left"
                )
                .select(
                    F.col("vec_id").alias("id"),
                    F.coalesce("component", F.col("_rep")).alias("component"),
                )
            )
            return _semdedup_decisions(assigned, comps)
        # within-cluster pair scan through the per-cluster
        # grid-blocked BLAS stage (zero-norm vectors normalize to
        # themselves and dot to 0 against anything, matching the
        # expression path's explicit sim=0 rule); an adversarially
        # skewed cluster degrades to bounded-size grid tasks instead
        # of one quadratic task
        edges = grouped_grid_pairs(
            assigned, "centroid_id", threshold
        ).select("id1", "id2")
    else:
        # one pass over the C distance expressions serves both the
        # argmin assignment and the distance-to-own-centroid (vs.
        # calling ivf_assign then recomputing the array: half the
        # codegen width)
        dists = _centroid_dist_array("embedding", centroids)
        assigned = track(
            emb.withColumn("_d", dists).select(
                F.col("vec_id"),
                F.col("embedding"),
                (F.array_position("_d", F.array_min("_d")) - 1)
                .cast("int")
                .alias("centroid_id"),
                F.sqrt(F.array_min("_d")).alias("centroid_dist"),
            )
        )
        # norms hoisted to per-row (no CSE inside lambda bodies:
        # inline cosine_expr re-folds both norms per PAIR) -- same
        # fold order, bit-identical sims, 3 interpreted folds/pair
        # -> 1
        a = assigned.select(
            "centroid_id",
            F.col("vec_id").alias("id1"),
            F.col("embedding").alias("v1"),
            norm_expr("embedding").alias("_n1"),
        )
        b = assigned.select(
            "centroid_id",
            F.col("vec_id").alias("id2"),
            F.col("embedding").alias("v2"),
            norm_expr("embedding").alias("_n2"),
        )
        sim = F.when(
            (F.col("_n1") == 0) | (F.col("_n2") == 0), F.lit(0.0)
        ).otherwise(dot_expr("v1", "v2") / (F.col("_n1") * F.col("_n2")))
        edges = (
            a.join(b, ["centroid_id"])
            .where(F.col("id1") < F.col("id2"))
            .where(sim >= threshold)
            .select("id1", "id2")
        )
    comps = connected_components(edges)
    return _semdedup_decisions(assigned, comps)


def _semdedup_decisions(assigned: DataFrame, comps: DataFrame) -> DataFrame:
    """Shared semdedup tail: attach (id -> component) decisions to the
    assigned table and rank keeps. ``comps`` is (id, component) at
    member grain (from member-grain CC, or the rep-grain expansion);
    rows absent from it (singletons / null vectors) become their own
    component. The keep window partitions by component, so its cost
    is one per-component sort at member grain -- linear."""
    out = assigned.drop("embedding").join(
        comps.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    )
    # singletons (no near-dup edge) form their own component and are kept
    out = out.withColumn(
        "component", F.coalesce(F.col("component"), F.col("vec_id")).cast("bigint")
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("centroid_dist"), F.asc("vec_id")
    )
    return out.select(
        F.col("vec_id"),
        F.col("centroid_id").cast("int").alias("centroid_id"),
        F.round("centroid_dist", 6).alias("centroid_dist"),
        "component",
        (F.row_number().over(w) == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# cross-document boilerplate line removal (CCNet-style)
# ---------------------------------------------------------------------------


#: Distinct-document count at which a line is boilerplate.
BOILERPLATE_MIN_DF = 5


def remove_boilerplate_lines(
    pages: DataFrame,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Line-grain cross-document dedup (Wenzek et al. 2019 CCNet; the
    RefinedWeb/C4 "seen-before" rule): hash every normalized line,
    count how many DISTINCT documents each hash appears in, and drop
    lines whose document frequency reaches BOILERPLATE_MIN_DF -- navbars,
    cookie banners, newsletter prompts survive per-doc rules
    (c4_line_clean) but never a corpus-frequency cut.

    Differs from dedup_span_removal (token-window grain, pairwise
    duplicated spans) in both grain and algorithm: this is a GLOBAL
    frequency cut, one number per line hash, no pair enumeration.

    Plan shape (scale notes):
    - explode lines map-side; normalized md5 keys (cross-engine
      portable, so the oracle reproduces the exact candidate set);
    - the per-hash distinct-doc count rides ONE shuffle of the line
      table as two stacked windows over the same (line_hash, id)
      exchange+sort: dense_rank ordered by id, then its per-partition
      max -- which IS count(distinct id) -- so the old
      distinct -> groupBy(hash) -> anti-join-back detour (three more
      shuffles of the same rows) is gone. The universal-boilerplate
      hash is the skew case: its rows land in one window partition
      (bounded by corpus doc count) -- past SKEW_SAFE_MIN_BYTES of
      input (or with ``skew_safe=True``) the operator switches to the
      two-phase hot-key-safe twin: distinct-doc counts as two stacked
      map-side-combined groupBys ((hash, id) grain spreads a hot hash
      over the full partition space, then a plain count per hash whose
      partials combine), boilerplate rows removed by a salted ANTI
      join (a universal hash's rows spread over SKEW_SALT partitions),
      and the per-doc line totals computed map-only from the split
      array. Output-identical either way (pinned by tests); docs whose
      every line is boilerplate keep their row (n_kept 0, cleaned '').
    - callers must feed a non-null ``page`` (ADVICE r11: split(null)
      drops the doc row entirely; both in-repo callers satisfy this).
    - one final groupBy(id) rebuilds the page with array_sort over
      (pos, line) structs, folding n_lines (count of all line rows),
      n_kept (count of non-boilerplate rows), and the rebuilt text
      (collect_list skips the nulls the boilerplate rows produce) in
      the same pass -- every doc has >= 1 line (split never returns
      an empty array), so the separate per-doc-totals branch and its
      left join are unnecessary.

    Returns (doc_id, n_lines, n_kept, cleaned).
    """
    from pyspark.sql import Window

    from conversation_analysis_tools_spark.functions.spread import spread_input

    # spread to scan parallelism (round 12, guide §2.5/§6): the line
    # explode + md5 otherwise runs as one task on single-row-group
    # corpora (the per-doc totals below re-derive from the same spread
    # relation, so the skew-safe twin's base branch shares it)
    pages = spread_input(pages, "doc_id")
    lines = pages.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("page"), "\n")).alias("pos", "line"),
    ).withColumn("line_hash", F.md5(F.lower(F.trim(F.col("line")))))

    if _skew_safe_engaged(pages, skew_safe):
        # two-phase hot-key-safe twin (see SKEW_SAFE_MIN_BYTES):
        # distinct-doc count per hash as two stacked map-side-combined
        # groupBys -- the (hash, id) grain hashes a universal line
        # over the whole partition space, and the per-hash count of
        # those deduped rows combines partial counts map-side, so no
        # task ever holds one key's full row set
        boiler = (
            lines.groupBy("line_hash", "doc_id")
            .agg(F.lit(1).alias("_one"))
            .groupBy("line_hash")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") >= F.lit(BOILERPLATE_MIN_DF))
            .select("line_hash")
        )
        salted = lines.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(SKEW_SALT)).cast("int"),
        )
        boiler_exp = boiler.select(
            "line_hash",
            F.explode(F.sequence(F.lit(0), F.lit(SKEW_SALT - 1))).alias(
                "_salt"
            ),
        )
        kept_rows = salted.join(
            boiler_exp, ["line_hash", "_salt"], "left_anti"
        )
        # per-doc totals map-only from the split array (split never
        # yields an empty array, so every doc keeps its row even when
        # every line was boilerplate)
        base = pages.select(
            F.col("doc_id"),
            F.size(F.split(F.col("page"), "\n")).cast("bigint").alias(
                "n_lines"
            ),
        )
        surv = kept_rows.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("_cleaned"),
        )
        return base.join(surv, "doc_id", "left").select(
            F.col("doc_id"),
            "n_lines",
            F.coalesce(F.col("_n_kept"), F.lit(0)).cast("bigint").alias(
                "n_kept"
            ),
            F.coalesce(F.col("_cleaned"), F.lit("")).alias("cleaned"),
        )

    wo = Window.partitionBy("line_hash").orderBy("doc_id")
    wp = Window.partitionBy("line_hash")
    flagged = lines.select(
        F.col("doc_id"),
        "pos",
        "line",
        (
            F.max(F.dense_rank().over(wo)).over(wp) >= F.lit(BOILERPLATE_MIN_DF)
        ).alias("_boiler"),
    )
    keep = ~F.col("_boiler")
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.count(F.when(keep, 1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("cleaned"),
    )
