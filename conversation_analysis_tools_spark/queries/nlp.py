"""NLP pipeline queries (SURVEY.md §2.9, N1-N29) on the documents /
embeddings tables, with DuckDB oracles.

Every operator is native Spark column expressions / higher-order
functions / joins -- zero Python UDFs (§2.11). Formula fidelity to the
reference is pinned in operators/{tfidf,relevance,similarity,priority}.

Oracle discipline: values that pass through transcendental functions
(ln, sqrt) or float aggregation are rounded to 6 decimals on both
sides; orderings use the *rounded* sort key plus a unique tiebreak so
rank boundaries cannot flip between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import table as _catalog_table
from conversation_analysis_tools_spark.decisions import capture
from conversation_analysis_tools_spark.functions.text import (
    STOPWORDS_SQL_ARRAY,
    sentences_expr,
    tokens_with_dupes_expr,
)
from conversation_analysis_tools_spark.functions.vector import cosine_expr
from conversation_analysis_tools_spark.operators import relevance as R
from conversation_analysis_tools_spark.operators import similarity as S
from conversation_analysis_tools_spark.operators import tfidf as T
from conversation_analysis_tools_spark.operators import priority as P
from conversation_analysis_tools_spark.queries.registry import register
from conversation_analysis_tools_spark.functions.lits import array_lit

#: Keywords for relevance scoring -- drawn from the corpus vocabulary
#: (plays the role of the reference's ML keyword list, tests/conftest.py:28-39).
KEYWORDS = ["spark", "join", "filter", "stream", "vector"]
CRITICAL_KW = ["dup"]
HIGH_KW = ["slow", "vector"]

KW_SQL = "[" + ", ".join(f"'{k}'" for k in KEYWORDS) + "]"
KW_IN = ", ".join(f"'{k}'" for k in KEYWORDS)

#: Shared oracle CTE: the reference tokenizer in DuckDB.
TOK_CTE = (
    "tok AS (\n"
    "  SELECT doc_id, unnest(list_filter(\n"
    "    regexp_extract_all(lower(text), '\\b[a-z]{3,}\\b'),\n"
    f"    t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t))) AS term\n"
    "  FROM documents\n"
    ")"
)

#: tokens as a per-doc list (for density/coverage expressions).
TOKLIST_CTE = (
    "toklist AS (\n"
    "  SELECT doc_id, list_filter(\n"
    "    regexp_extract_all(lower(text), '\\b[a-z]{3,}\\b'),\n"
    f"    t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t)) AS toks\n"
    "  FROM documents\n"
    ")"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _catalog_table(spark, "documents", sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _catalog_table(spark, "embeddings", sf_dir)


# ---------------------------------------------------------------------------
# N1: tokenizer
# ---------------------------------------------------------------------------


@register(
    "nlp_token_stats",
    oracle=f"""
    WITH {TOKLIST_CTE}
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct
    FROM toklist
    """,
)
def nlp_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 tokenize: \\b[a-z]{3,}\\b on lowered text minus stopwords
    (pipeline/relevance_scorer.py:44-60). Pure flatMap -- no shuffle."""
    docs = _docs(spark, sf_dir)
    toks = tokens_with_dupes_expr("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# N2/N3: the two TF normalizations
# ---------------------------------------------------------------------------

_COUNTS_CTE = (
    "counts AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term)"
)


@register(
    "nlp_tf_max",
    oracle=f"""
    WITH {TOK_CTE}, {_COUNTS_CTE}
    SELECT doc_id, term,
           cnt / max(cnt) OVER (PARTITION BY doc_id) AS tf
    FROM counts
    """,
)
def nlp_tf_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 max-normalized TF (relevance scorer variant,
    pipeline/relevance_scorer.py:62-78). Exact integer ratio -- no
    rounding needed for hash parity."""
    tokens = T.explode_tokens(_docs(spark, sf_dir))
    return T.tf_max(T.term_counts(tokens))


@register(
    "nlp_tf_sum",
    oracle=f"""
    WITH {TOK_CTE}, {_COUNTS_CTE}
    SELECT doc_id, term,
           cnt / sum(cnt) OVER (PARTITION BY doc_id) AS tf
    FROM counts
    """,
)
def nlp_tf_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 sum-normalized TF (duplicate detector variant,
    pipeline/duplicate_detector.py:57-72)."""
    tokens = T.explode_tokens(_docs(spark, sf_dir))
    return T.tf_sum(T.term_counts(tokens))


# ---------------------------------------------------------------------------
# N4/N5: IDF and TF-IDF (reference formula, not Spark ML's)
# ---------------------------------------------------------------------------


@register(
    "nlp_idf",
    oracle=f"""
    WITH {TOK_CTE}
    SELECT term,
           count(DISTINCT doc_id) AS df,
           round(ln((SELECT count(*) FROM documents) / (1 + count(DISTINCT doc_id))), 6) + 0 AS idf
    FROM tok GROUP BY term
    """,
)
def nlp_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 IDF = ln(N / (1 + df)) -- the reference's formula
    (pipeline/relevance_scorer.py:80-101), NOT Spark ML's
    log((N+1)/(df+1))."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    # df from the counts table (distinct (doc_id, term) rows): count(*)
    # per term on the compact table, not countDistinct on raw tokens
    counts = T.term_counts(T.explode_tokens(docs))
    return (
        counts.groupBy("term")
        .agg(F.count("*").alias("df"))
        .select(
            "term",
            "df",
            # +0.0 folds -0.0 to 0.0: at web scale a term in ~all of N
            # docs gives ln(N/(1+df)) in (-5e-7, 0), which rounds to -0.0
            # on one engine and 0.0 on the other (negative-zero parity)
            (
                F.round(F.log(F.lit(float(n)) / (F.lit(1) + F.col("df"))), 6)
                + F.lit(0.0)
            ).alias("idf"),
        )
    )


@register(
    "nlp_tfidf",
    oracle=f"""
    WITH {TOK_CTE}, {_COUNTS_CTE},
    tf AS (
        SELECT doc_id, term, cnt / max(cnt) OVER (PARTITION BY doc_id) AS tf
        FROM counts
    ),
    idf AS (
        SELECT term, ln((SELECT count(*) FROM documents) / (1 + count(DISTINCT doc_id))) AS idf
        FROM tok GROUP BY term
    )
    SELECT t.doc_id, t.term, round(t.tf * i.idf, 6) AS tfidf
    FROM tf t JOIN idf i ON t.term = i.term
    """,
)
def nlp_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 TF-IDF = max-norm TF x reference IDF
    (pipeline/relevance_scorer.py:103-125). IDF side is vocabulary-
    sized -> broadcast join, TF table never reshuffles."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    # counts has two consumers (TF window, IDF agg) in ONE plan; the
    # double scan+tokenize is cheaper than persist materialization
    # (measured 1.3s vs 1.65s at sf0.1 -- a persist pays only when the
    # consumers run in separate jobs, as in pairwise_cosine's probe)
    counts = T.term_counts(T.explode_tokens(docs))
    tf = T.tf_max(counts)
    idf_df = T.idf_from_counts(counts, n)
    out = T.tfidf(tf, idf_df)
    return out.select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))


# ---------------------------------------------------------------------------
# N6-N10: relevance scoring
# ---------------------------------------------------------------------------

_RELEVANCE_ORACLE = f"""
    WITH {TOK_CTE}, {TOKLIST_CTE}, {_COUNTS_CTE},
    tf AS (
        SELECT doc_id, term, cnt / max(cnt) OVER (PARTITION BY doc_id) AS tf
        FROM counts
    ),
    idf AS (
        SELECT term, ln((SELECT count(*) FROM documents) / (1 + count(DISTINCT doc_id))) AS idf
        FROM tok GROUP BY term
    ),
    kwsum AS (
        SELECT t.doc_id, sum(t.tf * i.idf) / {{nkw}} AS tfidf_score
        FROM tf t JOIN idf i ON t.term = i.term
        WHERE t.term IN ({KW_IN}) AND t.tf * i.idf > 0
        GROUP BY t.doc_id
    ),
    base AS (
        SELECT doc_id,
               CASE WHEN len(toks) > 0
                    THEN len(list_filter(toks, t -> list_contains({KW_SQL}, t))) * 1.0 / len(toks)
                    ELSE 0.0 END AS density,
               len(list_intersect(list_distinct(toks), {KW_SQL})) * 1.0 / {{nkw}} AS coverage
        FROM toklist
    )
    SELECT b.doc_id,
           round(b.density, 6) AS density,
           round(b.coverage, 6) AS coverage,
           round(coalesce(k.tfidf_score, 0.0), 6) AS tfidf_score,
           round(0.3 * b.density + 0.4 * b.coverage + 0.3 * coalesce(k.tfidf_score, 0.0), 6)
               AS relevance
    FROM base b LEFT JOIN kwsum k ON b.doc_id = k.doc_id
""".replace("{nkw}", str(len(KEYWORDS)))


@register("nlp_relevance", oracle=_RELEVANCE_ORACLE)
def nlp_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6-N9 keyword density / coverage / tfidf / combined relevance
    (pipeline/relevance_scorer.py:127-224; weights .3/.4/.3)."""
    scored = R.score_documents(_docs(spark, sf_dir), KEYWORDS)
    return scored.select(
        "doc_id",
        F.round("density", 6).alias("density"),
        F.round("coverage", 6).alias("coverage"),
        F.round("tfidf_score", 6).alias("tfidf_score"),
        F.round("relevance", 6).alias("relevance"),
    )


@register(
    "nlp_relevance_topk",
    oracle=f"""
    WITH scored AS ({_RELEVANCE_ORACLE})
    SELECT doc_id, relevance
    FROM scored
    ORDER BY relevance DESC, doc_id
    LIMIT 50
    """,
)
def nlp_relevance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N10 rank_documents top-k (pipeline/relevance_scorer.py:246-278).
    Sorts on the *rounded* score (+doc_id tiebreak) so the rank-50
    boundary is engine-independent; TakeOrderedAndProject, no global
    sort."""
    scored = R.score_documents(_docs(spark, sf_dir), KEYWORDS)
    return (
        scored.select("doc_id", F.round("relevance", 6).alias("relevance"))
        .orderBy(F.desc("relevance"), F.asc("doc_id"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# N11: sentence split
# ---------------------------------------------------------------------------


@register(
    "nlp_sentence_stats",
    oracle=r"""
    WITH sent AS (
        SELECT doc_id,
               list_filter(
                   list_transform(string_split_regex(text, '[.!?]+'), s -> trim(s)),
                   s -> s <> '' AND len(string_split_regex(s, '\s+')) >= 3) AS sentences
        FROM documents
    )
    SELECT doc_id, len(sentences) AS n_sentences
    FROM sent
    """,
)
def nlp_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N11 sentence split: [.!?]+ delimiters, trimmed, >=3 words
    (pipeline/summarizer.py:42-61)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", F.size(sentences_expr("text")).cast("bigint").alias("n_sentences")
    )


# ---------------------------------------------------------------------------
# N16-N18: similarity / duplicate pairs (inverted-index join, J8)
# ---------------------------------------------------------------------------

_TF_SUM_CTE = f"""
    {TOK_CTE}, {_COUNTS_CTE},
    tf AS (
        SELECT doc_id, term, cnt / sum(cnt) OVER (PARTITION BY doc_id) AS tf
        FROM counts
    ),
    norms AS (SELECT doc_id, sqrt(sum(tf * tf)) AS nrm FROM tf GROUP BY doc_id)
"""


@register(
    "nlp_duplicate_pairs",
    oracle=f"""
    WITH {_TF_SUM_CTE},
    dots AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, sum(a.tf * b.tf) AS dot
        FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id1, id2, round(dot / (x.nrm * y.nrm), 6) AS sim
    FROM dots JOIN norms x ON id1 = x.doc_id JOIN norms y ON id2 = y.doc_id
    WHERE dot / (x.nrm * y.nrm) >= 0.9 - 1e-9  -- THRESHOLD_EPS, similarity.py
    """,
)
def nlp_duplicate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N17/J8 duplicate pair detection: cosine of sum-normalized TF
    >= threshold, pairs i<j (pipeline/duplicate_detector.py:127-167).

    The reference loops O(n^2); here an inverted-index self-join on
    term generates only pairs sharing >=1 term (exact -- disjoint
    pairs have cosine 0, duplicate_detector.py:94-95). At 100 TB the
    MinHash-LSH variant (dedup module) replaces this.
    """
    # route="exact" pins the certified inverted-index plan (the engine
    # default is route="auto" since round 10; the routed twin is
    # certified by nlp_dup_routed_fixed)
    pairs = S.duplicate_pairs(_docs(spark, sf_dir), threshold=0.9, route="exact")
    return pairs.select("id1", "id2", F.round("sim", 6).alias("sim"))


def _routed_cos_rows() -> list[tuple[int, str]]:
    """Planted corpus with hand-derivable cosines: every word is a
    unique 5-letter token occurring ONCE per doc, so sum-normalized
    tf cosine of an equal-length pair = shared/len. Pairs land at
    29/30 = 0.966667 and 28/30 = 0.933333 (above t = 0.9), the
    control pair at 26/30 = 0.866667 (below -- the exact verify must
    exclude it no matter what the banding admits), plus an unrelated
    singleton."""
    ctr = [0]

    def w() -> str:
        i = ctr[0]
        ctr[0] += 1
        s = ""
        for _ in range(4):
            s += chr(97 + i % 26)
            i //= 26
        return "q" + s

    def doc(shared: list[str], extra: int) -> str:
        return " ".join(shared + [w() for _ in range(extra)])

    rows: list[tuple[int, str]] = []
    sh = [w() for _ in range(29)]
    rows += [(1, doc(sh, 1)), (2, doc(sh, 1))]
    sh = [w() for _ in range(28)]
    rows += [(3, doc(sh, 2)), (4, doc(sh, 2))]
    sh = [w() for _ in range(26)]
    rows += [(5, doc(sh, 4)), (6, doc(sh, 4))]
    rows.append((7, doc([w() for _ in range(10)], 0)))
    return rows


@register(
    "nlp_dup_routed_fixed",
    oracle="""
    SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
           CAST(sim AS DOUBLE) AS sim
    FROM (VALUES (1, 2, 0.966667), (3, 4, 0.933333)) AS t(id1, id2, sim)
    """,
)
def nlp_dup_routed_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing certificate for duplicate_pairs' round-9 saturation
    router (the tf-cosine mirror of dedup_jaccard_routed_fixed):
    route='auto' with route_budget=0 forces the probe's 'simhash'
    decision, so the oracle gate runs the ROUTED plan end to end --
    probe, decision, salted-md5 hyperplane signatures (b = 85 bands
    of r = 20 signs at t = 0.9), capped/star-degraded bucket
    explosion, exact map-fold cosine verify -- against a literal
    oracle. The planted pairs sit at 0.966667 and 0.933333 (found
    with their EXACT sims), the 0.866667 control must be excluded by
    the verify regardless of banding, and a loud guard on the
    captured route record fails if the probe ever picks 'exact'.
    Reference semantics preserved: duplicate_detector.py:127-167
    (threshold contract). sf_dir unused (fixed corpus)."""
    docs = spark.createDataFrame(_routed_cos_rows(), "doc_id long, text string")
    with capture() as recs:
        pairs = S.duplicate_pairs(
            docs, threshold=0.9, route="auto", route_budget=0
        )
    route = [r for r in recs if r["gate"] == "duplicate_pairs"]
    if [r["choice"] for r in route] != ["simhash"]:  # pragma: no cover - loud guard
        raise RuntimeError(
            f"cosine routing certificate ran on {route!r}; "
            "the budget-0 probe must pick 'simhash'"
        )
    return pairs.select("id1", "id2", F.round("sim", 6).alias("sim"))


#: Recall-grid geometry per threshold (x100): three planted pairs with
#: hand-derivable cosines in (t, t+0.05] -- the hardest near-threshold
#: recall regime -- plus one sub-threshold control pair the exact
#: verify must exclude provably. Cosine of an equal-length unique-word
#: pair sharing s of m words is exactly s/m (sum-normalized tf).
_SRF_GRID: dict[int, tuple[list[tuple[int, int]], tuple[int, int]]] = {
    90: ([(28, 30), (37, 40), (55, 60)], (26, 30)),
    80: ([(25, 30), (33, 40), (49, 60)], (23, 30)),
    70: ([(22, 30), (29, 40), (43, 60)], (20, 30)),
    60: ([(19, 30), (25, 40), (37, 60)], (17, 30)),
}


def _srf_corpus(t100: int) -> tuple[list, list]:
    """(doc rows, [(id1, id2, kind)]) for one threshold's grid: each
    (s, m) spec becomes a doc pair of m unique words sharing s; all
    words are unique across the corpus, so cross-spec pairs share
    nothing (cosine 0) and each planted cosine is exactly s/m. The
    prefix is letters-only per threshold: the tokenizer's
    \\b[a-z]{3,}\\b drops any word containing a digit."""
    ctr = [0]
    prefix = "g" + {90: "n", 80: "e", 70: "s", 60: "x"}[t100]

    def w() -> str:
        i = ctr[0]
        ctr[0] += 1
        s = ""
        for _ in range(4):
            s += chr(97 + i % 26)
            i //= 26
        return prefix + s

    rows: list[tuple[int, str]] = []
    pairs: list[tuple[int, int, str]] = []
    specs, control = _SRF_GRID[t100]
    for idx, (s, m) in enumerate(specs + [control]):
        shared = [w() for _ in range(s)]
        i1, i2 = 2 * idx + 1, 2 * idx + 2
        rows.append((i1, " ".join(shared + [w() for _ in range(m - s)])))
        rows.append((i2, " ".join(shared + [w() for _ in range(m - s)])))
        pairs.append((i1, i2, "control" if (s, m) == control else "planted"))
    rows.append((99, " ".join(w() for _ in range(10))))
    return rows, pairs


@register(
    "simhash_recall_frontier_fixed",
    oracle="""
    SELECT * FROM (VALUES
        (60, 12, 256, 3, 3, TRUE, TRUE),
        (70, 14, 232, 3, 3, TRUE, TRUE),
        (80, 16, 152, 3, 3, TRUE, TRUE),
        (90, 20, 85,  3, 3, TRUE, TRUE)
    ) AS t(t_x100, r, b, n_planted, n_found, controls_clean, recall_ok)
    """,
)
def simhash_recall_frontier_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-threshold frontier for the routed cosine path (round
    10, closing the r9 clamp gap): one row per threshold with the
    adaptive banding solve it runs under (solve_simhash_bands: t=0.9
    -> the r9-certified (r=20, b=85); t=0.8 -- the REFERENCE'S OWN
    default duplicate threshold, pipeline_config.yaml:34 /
    duplicate_detector.py:127 -- now (16, 152) instead of the r9
    256-band clamp whose measured recall was ~0.93; t=0.7 -> (14,
    232); t=0.6 -> the residual clamp regime (12, 256), expected
    recall ~0.979, WARN-logged by the operator), the planted
    near-threshold pair count, how many the routed plan found, and
    whether the sub-threshold control stayed excluded.

    Geometry (the dedup_jaccard_recall_grid_fixed playbook at cosine
    grain): per threshold, three unique-word doc pairs with exact
    cosines s/m inside (t, t+0.05] -- the adversarial band where LSH
    recall is weakest -- plus a control pair below t that the exact
    map-fold verify must exclude PROVABLY (zero false positives by
    construction; only recall is probabilistic). Signatures are
    salted-md5 deterministic, so measured recall on these fixed
    corpora is reproducible run to run, and the literal oracle pins
    it: 3/3 at every threshold including the clamp regime. Verified
    pair membership is computed declaratively (planted-pairs
    broadcast left-joined against the routed output; no collect).
    sf_dir unused (fixed corpora)."""
    from functools import reduce

    from conversation_analysis_tools_spark.operators.similarity import (
        solve_simhash_bands,
    )

    found_parts = []
    planted_rows: list[tuple[int, int, int, str]] = []
    for t100 in sorted(_SRF_GRID):
        rows, pairs = _srf_corpus(t100)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = S.duplicate_pairs(
            docs, threshold=t100 / 100.0, route="simhash", collapse="never"
        )
        found_parts.append(
            out.select(F.lit(t100).alias("t_x100"), "id1", "id2")
        )
        planted_rows += [(t100, i1, i2, kind) for i1, i2, kind in pairs]
    found = reduce(lambda a, b: a.unionByName(b), found_parts)
    planted = spark.createDataFrame(
        planted_rows, "t_x100 int, id1 long, id2 long, kind string"
    )
    solve = spark.createDataFrame(
        [
            (t100, *solve_simhash_bands(t100 / 100.0)[:2])
            for t100 in _SRF_GRID
        ],
        "t_x100 int, r int, b int",
    )
    # broadcast the ROUTED OUTPUT (the right/build side -- only the
    # right side of a left outer join can be broadcast; it is a
    # handful of verified pairs by construction)
    j = planted.join(
        F.broadcast(found.withColumn("hit", F.lit(1))),
        ["t_x100", "id1", "id2"], "left",
    )
    agg = j.groupBy("t_x100").agg(
        F.sum(F.when(F.col("kind") == "planted", 1).otherwise(0))
        .cast("int")
        .alias("n_planted"),
        F.sum(
            F.when(F.col("kind") == "planted", F.coalesce("hit", F.lit(0)))
            .otherwise(0)
        )
        .cast("int")
        .alias("n_found"),
        (
            F.sum(
                F.when(F.col("kind") == "control", F.coalesce("hit", F.lit(0)))
                .otherwise(0)
            )
            == 0
        ).alias("controls_clean"),
    )
    return agg.join(F.broadcast(solve), "t_x100").select(
        "t_x100", "r", "b", "n_planted", "n_found", "controls_clean",
        (F.col("n_found") == F.col("n_planted")).alias("recall_ok"),
    )


@register(
    "simhash_walkback_fixed",
    oracle="""
    SELECT CAST(r AS INT) AS r, CAST(b AS INT) AS b,
           CAST(est_recall_x10000 AS INT) AS est_recall_x10000,
           CAST(n_planted AS INT) AS n_planted,
           CAST(n_found AS INT) AS n_found,
           controls_clean, walked_back
    FROM (VALUES (20, 256, 9278, 3, 3, TRUE, TRUE))
        AS t(r, b, est_recall_x10000, n_planted, n_found,
             controls_clean, walked_back)
    """,
)
def simhash_walkback_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver certificate for the VOLUME-AWARE walk-back of the routed
    cosine path (VERDICT r10 item 1): the routing decision that fires
    in the production t=0.8 large-n regime -- the reference's own
    default duplicate threshold (config/pipeline_config.yaml:34,
    pipeline/duplicate_detector.py:127) past ~200k docs, where the
    recall-first (16, 152) solve materializes a verify-candidate
    volume measured killing the JVM (2.9e8 candidates at 500k docs;
    SCALE.md bracket) and solve_simhash_bands walks back up the band
    ladder to the clamped (20, 256), est_recall ~0.9278.

    The dedup_jaccard_routed_fixed playbook: ``cand_budget=0`` forces
    the walk-back to provably engage on a small fixed corpus (every
    candidate floor > 0), reproducing the EXACT production decision --
    (20, 256, 0.9278) here equals the n=500k default-budget solve --
    while ``route_budget=0`` forces the route probe's 'simhash'
    decision, so the gate runs probe -> walk-back -> degraded banding
    -> exact map-fold verify end to end. Loud guards raise unless the
    walk-back actually engaged with the expected solve. Asserted
    against the literal oracle: the solved (r, b), the WARN-surfaced
    est_recall (x10000), 3/3 planted near-threshold pairs (cosines
    0.8333/0.825/0.8167, the hardest (t, t+0.05] band) still found by
    the DEGRADED banding, and the sub-threshold control (0.7667)
    provably excluded by the exact verify. sf_dir unused (fixed
    corpus)."""
    from conversation_analysis_tools_spark.operators.similarity import (
        solve_simhash_bands,
    )

    rows, pairs = _srf_corpus(80)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with capture() as recs:
        out = S.duplicate_pairs(
            docs, threshold=0.8, route="auto", route_budget=0,
            cand_budget=0, collapse="never",
        )
    last = {r["gate"]: r for r in recs}
    route = last.get("duplicate_pairs", {})
    solve = last.get("tuned_simhash_pairs", {})
    recall_first = solve_simhash_bands(0.8)[:2]
    solved = (solve.get("choice"), solve.get("b"))
    if (  # pragma: no cover - loud guards
        route.get("choice") != "simhash"
        or solved == recall_first
        or solved != solve_simhash_bands(0.8, n_docs=500_000)[:2]
    ):
        raise RuntimeError(
            f"walk-back certificate ran on {route!r} / {solve!r}; the "
            f"budget-0 solve must walk back from {recall_first} to the "
            "production large-n decision"
        )
    planted = spark.createDataFrame(
        pairs, "id1 long, id2 long, kind string"
    )
    j = planted.join(
        F.broadcast(out.withColumn("hit", F.lit(1))), ["id1", "id2"], "left"
    )
    return j.agg(
        F.lit(solved[0]).alias("r"),
        F.lit(solved[1]).alias("b"),
        F.lit(int(round(solve["est_recall"] * 10000))).alias(
            "est_recall_x10000"
        ),
        F.sum(F.when(F.col("kind") == "planted", 1).otherwise(0))
        .cast("int")
        .alias("n_planted"),
        F.sum(
            F.when(F.col("kind") == "planted", F.coalesce("hit", F.lit(0)))
            .otherwise(0)
        )
        .cast("int")
        .alias("n_found"),
        (
            F.sum(
                F.when(F.col("kind") == "control", F.coalesce("hit", F.lit(0)))
                .otherwise(0)
            )
            == 0
        ).alias("controls_clean"),
        F.lit(solved != recall_first).alias("walked_back"),
    )


@register(
    "nlp_near_duplicates",
    oracle=f"""
    WITH {_TF_SUM_CTE},
    target AS (SELECT term, tf FROM tf WHERE doc_id = 0),
    dots AS (
        SELECT a.doc_id, sum(a.tf * t.tf) AS dot
        FROM tf a JOIN target t ON a.term = t.term
        WHERE a.doc_id <> 0
        GROUP BY a.doc_id
    )
    SELECT d.doc_id AS dup_id,
           round(d.dot / (n.nrm * (SELECT nrm FROM norms WHERE doc_id = 0)), 6) AS sim
    FROM dots d JOIN norms n ON d.doc_id = n.doc_id
    WHERE d.dot / (n.nrm * (SELECT nrm FROM norms WHERE doc_id = 0)) >= 0.5 - 1e-9  -- THRESHOLD_EPS
    """,
)
def nlp_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N18 near-duplicates of one target doc: one-vs-all cosine >=
    threshold (pipeline/duplicate_detector.py:169-214). Target vector
    broadcast; only per-candidate dot aggregation shuffles."""
    return S.near_duplicates_of(_docs(spark, sf_dir), target_id=0, threshold=0.5).select(
        "dup_id", F.round("sim", 6).alias("sim")
    )


# ---------------------------------------------------------------------------
# N21-N25: priority classification
# ---------------------------------------------------------------------------

_PRIORITY_ORACLE = f"""
    WITH scored AS ({_RELEVANCE_ORACLE}),
    feats AS (
        SELECT d.doc_id,
               s.relevance,
               CAST(CASE WHEN len(string_split_regex(regexp_replace(d.text, '^\\s+|\\s+$', '', 'g'), '\\s+')) < 50 THEN 0.1
                    WHEN len(string_split_regex(regexp_replace(d.text, '^\\s+|\\s+$', '', 'g'), '\\s+')) < 200 THEN 0.5
                    WHEN len(string_split_regex(regexp_replace(d.text, '^\\s+|\\s+$', '', 'g'), '\\s+')) < 500 THEN 0.8
                    ELSE 1.0 END AS DOUBLE) AS length_score,
               CAST(CASE WHEN lower(d.text) LIKE '%dup%' THEN 1.0
                    WHEN lower(d.text) LIKE '%slow%' OR lower(d.text) LIKE '%vector%' THEN 0.7
                    ELSE 0.0 END AS DOUBLE) AS keyword_score
        FROM documents d JOIN scored s ON d.doc_id = s.doc_id
    )
    SELECT doc_id, length_score, keyword_score,
           round(0.4 * relevance + 0.2 * length_score + 0.3 * keyword_score + 0.1 * 0.5, 6)
               AS priority_score,
           CASE WHEN 0.4 * relevance + 0.2 * length_score + 0.3 * keyword_score + 0.05 >= 0.85 THEN 'CRITICAL'
                WHEN 0.4 * relevance + 0.2 * length_score + 0.3 * keyword_score + 0.05 >= 0.65 THEN 'HIGH'
                WHEN 0.4 * relevance + 0.2 * length_score + 0.3 * keyword_score + 0.05 >= 0.45 THEN 'MEDIUM'
                WHEN 0.4 * relevance + 0.2 * length_score + 0.3 * keyword_score + 0.05 >= 0.25 THEN 'LOW'
                ELSE 'NONE' END AS priority_level
    FROM feats
"""


@register("nlp_priority", oracle=_PRIORITY_ORACLE)
def nlp_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N21-N24 priority: length step-fn, substring keyword score
    (max-combine), weighted combine (recency=0.5 default), threshold
    levels (pipeline/priority_classifier.py:77-198).

    Note: the relevance input is the *rounded* N9 score so both
    engines branch identically at level thresholds.
    """
    docs = _docs(spark, sf_dir)
    scored = R.score_documents(docs, KEYWORDS).select(
        "doc_id", F.round("relevance", 6).alias("relevance"), "text"
    )
    out = P.classify(scored, "relevance", CRITICAL_KW, HIGH_KW)
    return out.select(
        "doc_id",
        "length_score",
        "keyword_score",
        F.round("priority_score", 6).alias("priority_score"),
        "priority_level",
    )


@register(
    "nlp_priority_distribution",
    oracle=f"""
    WITH pr AS ({_PRIORITY_ORACLE})
    SELECT priority_level, count(*) AS n
    FROM pr GROUP BY priority_level
    """,
)
def nlp_priority_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N25 level histogram (pipeline/priority_classifier.py:325-345)."""
    return (
        nlp_priority(spark, sf_dir)
        .groupBy("priority_level")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# N29: topic keyword search
# ---------------------------------------------------------------------------


@register(
    "nlp_topic_search",
    oracle="""
    SELECT source,
           CAST(sum(CASE WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
                         OR lower(text) LIKE '%hash%' THEN 1 ELSE 0 END) AS BIGINT)
               AS relevant_docs,
           count(*) AS total_docs
    FROM documents
    GROUP BY source
    ORDER BY relevant_docs DESC, source
    LIMIT 10
    """,
)
def nlp_topic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N29 topic keyword search: rank groups by count of docs matching
    the topic's keyword list (sql_search.py:839-862, topic dict
    sql_search.py:1696-1763)."""
    docs = _docs(spark, sf_dir)
    t = F.lower(F.col("text"))
    rel = F.when(
        t.contains("join") | t.contains("merge") | t.contains("hash"), 1
    ).otherwise(0)
    return (
        docs.groupBy("source")
        .agg(F.sum(rel).alias("relevant_docs"), F.count("*").alias("total_docs"))
        .orderBy(F.desc("relevant_docs"), F.asc("source"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# N27: dense semantic top-k search over embeddings
# ---------------------------------------------------------------------------


@register(
    "semantic_search_topk",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
        SELECT e.vec_id, e.label,
               round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, sim
    FROM sims
    WHERE sim >= 0.3 - 1e-9  -- THRESHOLD_EPS
    ORDER BY sim DESC, vec_id
    LIMIT 20
    """,
)
def semantic_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N27 semantic top-k: cosine(query, embedding) >= 0.3, top 20
    (sql_search.py:394-514; defaults threshold 0.3 / limit 20).

    The query vector is collected once (one row) and inlined as a
    literal -> broadcast to every executor; cosine is a zip_with/
    aggregate expression, JVM-side; top-k is TakeOrderedAndProject.
    """
    emb = _emb(spark, sf_dir)
    qv = emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    q = array_lit([float(x) for x in qv])
    sims = (
        emb.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.round(cosine_expr(F.col("embedding"), q), 6).alias("sim"),
        )
    )
    return (
        sims.where(F.col("sim") >= 0.3 - 1e-9)  # THRESHOLD_EPS, similarity.py
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(20)
    )


@register(
    "embedding_generation",
    oracle=f"""
    WITH {TOK_CTE}, {_COUNTS_CTE},
    tf AS (
        SELECT doc_id, term, cnt / max(cnt) OVER (PARTITION BY doc_id) AS tf
        FROM counts
    ),
    idf AS (
        SELECT term, ln((SELECT count(*) FROM documents) / (1 + count(DISTINCT doc_id))) AS idf
        FROM tok GROUP BY term
    ),
    w AS (
        SELECT t.doc_id, t.term, t.tf * i.idf AS tfidf
        FROM tf t JOIN idf i ON t.term = i.term
    ),
    vocab AS (SELECT DISTINCT term FROM tok),
    cells AS (
        SELECT d.doc_id, v.term, coalesce(w.tfidf, 0.0) AS x
        FROM documents d
        CROSS JOIN vocab v
        LEFT JOIN w ON w.doc_id = d.doc_id AND w.term = v.term
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS dim,
           round(sqrt(sum(x * x)), 4) AS l2_norm,
           string_agg(CAST(CAST(round(x * 10000) AS BIGINT) AS VARCHAR),
                      ',' ORDER BY term) AS embedding_csv
    FROM cells GROUP BY doc_id
    """,
)
def embedding_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N26 embedding generation: reference-exact TF-IDF pivoted into a
    dense vocab-aligned vector column (replaces
    TfidfVectorizer(max_features=5000) + npz cache,
    sql_search.py:1161-1249).

    STRICT oracle: the synthetic vocabulary (< max_features) makes the
    whole vector SQL-expressible -- doc x vocab cells from the same
    tf*idf CTEs as nlp_tfidf, serialized as 1e-4-scaled INTEGER CSV
    (engine-portable: float->string formatting differs between engines
    for values like 1e-4, integers never do; raw array cells crash the
    harness canonicalizer). The engine side serializes from the
    double-typed vector (dtype="double") so both engines round the
    same values; the float32 npz-faithful variant remains the operator
    default and is property-tested in tests/test_embed_views.py."""
    from conversation_analysis_tools_spark.operators.embed import tfidf_embeddings

    docs = _docs(spark, sf_dir)
    # The oracle enumerates ALL distinct terms while the engine keeps
    # the top-vocab_size by df: equal only while the corpus vocabulary
    # fits. Fail loudly if regenerated testdata ever outgrows it
    # (silent divergence would show up as a baffling hash mismatch).
    from conversation_analysis_tools_spark.operators import tfidf as _T

    n_vocab = (
        _T.explode_tokens(docs).select("term").distinct().count()
    )
    assert n_vocab < 5000, (
        f"corpus vocabulary {n_vocab} >= vocab_size 5000: the "
        "embedding_generation oracle (all-terms CTE) no longer matches "
        "the engine's top-df truncation; raise vocab_size or add the "
        "top-df cut to the oracle"
    )
    emb = tfidf_embeddings(docs, vocab_size=5000, dtype="double")
    vec = F.col("embedding")
    return emb.select(
        "doc_id",
        F.size(vec).alias("dim"),
        F.round(
            F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("l2_norm"),
        F.array_join(
            F.transform(
                vec, lambda x: F.round(x * 10000).cast("long").cast("string")
            ),
            ",",
        ).alias("embedding_csv"),
    )
