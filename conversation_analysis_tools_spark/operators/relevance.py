"""Keyword relevance scoring (N6-N10), reference-exact.

Semantics (pipeline/relevance_scorer.py:127-224):
* density  = |tokens that are keywords| / |tokens|   (multiset count)
* coverage = |keywords present in token set| / |keywords|
* tfidf_kw = sum(tfidf[kw] for matched kw) / |keywords| (0 if none)
* combined = normalized weights {density .3, coverage .4, tfidf .3}

All three scores derive from ONE tokenize pass: the shared (id,
term, cnt) counts table feeds the density/coverage aggregation, the
max-TF window, and the IDF aggregation (no UDFs anywhere), and the
doc-grain score tables join back on id -- broadcast at test scale,
id-grain shuffle joins of narrow score rows at corpus scale. Scales
linearly in corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.operators import tfidf as T

DEFAULT_WEIGHTS = {"density": 0.3, "coverage": 0.4, "tfidf": 0.3}


def keyword_tfidf_scores(
    docs: DataFrame,
    keywords: list[str],
    counts: DataFrame | None = None,
) -> DataFrame:
    """Per-doc tfidf keyword score: sum of matched keyword tfidf / |kws|.

    Uses the max-normalized TF and reference IDF (tfidf.py). The
    keyword filter happens *before* the aggregation so only keyword
    rows shuffle. Pass a (possibly persisted) ``counts`` table to share
    the tokenize+count work with other pipeline branches; IDF is then
    derived from it too (idf_from_counts), so the raw token stream is
    shuffled exactly once.
    """
    n_docs = docs.count()  # corpus size N; cheap metadata-only count on parquet
    if counts is None:
        # counts feeds both the tf_max branch and idf_from_counts, but
        # in ONE plan -- recomputing the cheap tokenize+count beats
        # persist materialization here (callers with genuinely shared
        # multi-job consumption pass a persisted ``counts``)
        counts = T.term_counts(T.explode_tokens(docs))
    tf = T.tf_max(counts)
    idf_df = T.idf_from_counts(counts, n_docs)
    tfidf_df = T.tfidf(tf, idf_df)
    kw = [k.lower() for k in keywords]
    # Keyword restriction as a broadcast join against a literal
    # relation, NOT ``term.isin(kw)``: term is a grouping key of every
    # aggregate under the IDF branch, so an isin predicate pushes all
    # the way below the shared (id, term) exchange and de-aligns that
    # branch from the density/TF consumers -- the corpus then pays a
    # second scan+tokenize just to build IDF for a handful of terms.
    # The join applies the same restriction above the aggregates, the
    # three branches stay canonicalization-equal, and the token table
    # is scanned and shuffled exactly once per plan.
    # dict.fromkeys dedupes while preserving order: an inner join
    # against a relation with duplicate terms would multiply tfidf
    # rows and double-count them in sum('tfidf') -- the old isin
    # matched each row once regardless (ADVICE r11). len(keywords)
    # stays the divisor to preserve the reference normalization.
    kw_df = docs.sparkSession.createDataFrame(
        [(k,) for k in dict.fromkeys(kw)], "term string"
    )
    per_doc = (
        tfidf_df.join(F.broadcast(kw_df), "term")
        .where(F.col("tfidf") > 0)
        .groupBy("doc_id")
        .agg((F.sum("tfidf") / F.lit(len(keywords))).alias("tfidf_score"))
    )
    return per_doc


def score_documents(
    docs: DataFrame,
    keywords: list[str],
    weights: dict[str, float] | None = None,
    counts: DataFrame | None = None,
) -> DataFrame:
    """N9/N10: combined relevance score per document.

    ONE tokenize pass feeds all three scores (round 8): the (id,
    term, cnt) counts table uses the same token definition as the
    density/coverage expressions (``explode_tokens`` wraps
    ``tokens_with_dupes_expr``), so density is sum(cnt | term in
    kw) / sum(cnt) -- the multiset ratio -- and coverage's numerator
    is a countIf over the already-distinct (id, term) grain. The
    previous plan tokenized TWICE (a row-local array branch for
    density/coverage plus the exploded branch for tfidf), and the
    regexp tokenize is the dominant cost at corpus scale (measured
    2.5 s of nlp_relevance's 9.7 s at sf1, per branch). Docs whose
    text yields no tokens fall out of the exploded grain and rejoin
    with all-zero scores, the reference value. When the caller does
    not pass a shared ``counts``, the one built here is left
    UNPERSISTED: all three consumers (density agg, tf window, idf
    agg) sit in ONE plan and share the (id, term) exchange at
    runtime (the explode_tokens/idf_from_counts canonicalization
    alignment), so the token stream is scanned and shuffled once
    without paying the cache fill-and-decompress barrier the old
    track() added (measured ~0.5 s of nlp_relevance's ~3.4 s at
    sf0.1). Callers whose consumers span SEPARATE jobs (the
    pipeline's route probe) still pass a persisted ``counts`` --
    exchange reuse cannot cross jobs."""
    w = dict(weights or DEFAULT_WEIGHTS)
    total = sum(w.values())
    # Same ulp-drift guard as priority.combined_score_expr: 0.3+0.4+0.3
    # sums to 0.9999999999999999 in floats; normalizing by that would
    # shift each weight off its literal value.
    if abs(total - 1.0) > 1e-12:
        w = {k: v / total for k, v in w.items()}

    if counts is None:
        counts = T.term_counts(T.explode_tokens(docs))
    kw = [k.lower() for k in keywords]
    is_kw = F.col("term").isin(kw)
    dens = counts.groupBy("doc_id").agg(
        (
            F.sum(F.when(is_kw, F.col("cnt")).otherwise(0)) / F.sum("cnt")
        ).alias("density"),
        (F.sum(F.when(is_kw, 1).otherwise(0)) / F.lit(len(keywords))).alias(
            "coverage"
        ),
    )
    kw_tfidf = keyword_tfidf_scores(docs, keywords, counts)
    return (
        docs.join(dens, "doc_id", "left")
        .join(kw_tfidf, "doc_id", "left")
        .withColumn("density", F.coalesce(F.col("density"), F.lit(0.0)))
        .withColumn("coverage", F.coalesce(F.col("coverage"), F.lit(0.0)))
        .withColumn("tfidf_score", F.coalesce(F.col("tfidf_score"), F.lit(0.0)))
        .withColumn(
            "relevance",
            F.lit(w["density"]) * F.col("density")
            + F.lit(w["coverage"]) * F.col("coverage")
            + F.lit(w["tfidf"]) * F.col("tfidf_score"),
        )
    )
