"""Text-statistics queries: the reference's word-frequency / topic /
sentiment / complexity aggregations (SURVEY §2.4 A15-A20) plus the
training-data-pipeline text-analysis extensions (language-ID, quality
scoring, token counting, document fingerprinting).

All are single-pass column-expression plans over ``documents`` --
explode+agg for token statistics, chained-when for bucketing, md5 for
fingerprints (identical across Spark and DuckDB, so oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conversation_analysis_tools_spark.catalog import table as _catalog_table
from conversation_analysis_tools_spark.functions.text import (
    STOPWORDS,
    STOPWORDS_SQL_ARRAY,
    raw_tokens_expr,
    word_count_expr,
    sentence_count_expr,
    ws_trim_expr,
)
from conversation_analysis_tools_spark.queries.registry import register
from conversation_analysis_tools_spark.functions.lits import array_lit
from conversation_analysis_tools_spark.functions.spread import spread_input


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _catalog_table(spark, "documents", sf_dir)


# ---------------------------------------------------------------------------
# A15: word frequency with per-1000 normalization
# ---------------------------------------------------------------------------


@register(
    "word_frequency_top5",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(list_filter(
            regexp_extract_all(lower(text), '\\b[a-z]{{4,}}\\b'),
            t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t))) AS term
        FROM documents
    ),
    counts AS (SELECT lang, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
    ranked AS (
        SELECT lang, term, cnt,
               round(cnt * 1000.0 / sum(cnt) OVER (PARTITION BY lang), 4) AS per_1000,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rnk
        FROM counts
    )
    SELECT lang, term, cnt, per_1000, rnk FROM ranked WHERE rnk <= 5
    """,
)
def word_frequency_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 word-frequency agg: 4+-char tokens (the exper_sql variant
    uses \\b[a-zA-Z]{4,}\\b -- exper_sql.py:634-676), stopword filter,
    top-5 per group with per-1000-words normalization
    (exper_sql.py:741-782).

    Explode -> two-level agg; the per-1000 window reuses the groupBy
    partitioning (same key) so AQE plans no extra shuffle. The input
    is spread to scan parallelism first (round 12, guide §2.5/§6): the
    single-row-group corpus otherwise runs the regex tokenize as ONE
    task.
    """
    docs = spread_input(_docs(spark, sf_dir), "doc_id")
    toks = F.filter(
        F.regexp_extract_all(F.lower("text"), F.lit(r"\b[a-z]{4,}\b"), 0),
        lambda t: ~F.array_contains(array_lit(sorted(STOPWORDS)), t),
    )
    counts = (
        docs.select("lang", F.explode(toks).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
    )
    wl = Window.partitionBy("lang")
    wr = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("term"))
    return (
        counts.select(
            "lang",
            "term",
            "cnt",
            F.round(F.col("cnt") * 1000.0 / F.sum("cnt").over(wl), 4).alias("per_1000"),
            F.row_number().over(wr).alias("rnk"),
        )
        .where(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# A16: vocabulary set operations
# ---------------------------------------------------------------------------


@register(
    "vocab_common_terms",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(list_filter(
            regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b'),
            t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t))) AS term
        FROM documents
    )
    SELECT term FROM tok WHERE lang = 'en' GROUP BY term HAVING count(*) >= 10
    INTERSECT
    SELECT term FROM tok WHERE lang = 'zh' GROUP BY term HAVING count(*) >= 10
    """,
)
def vocab_common_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 vocabulary set ops: frequent-term sets intersected across
    groups (content_analysis.py:104-131 uses Python set &/-).
    Spark ``intersect`` == SQL INTERSECT (distinct semantics)."""
    from conversation_analysis_tools_spark.functions.text import tokens_with_dupes_expr

    docs = _docs(spark, sf_dir)
    tok = docs.select("lang", F.explode(tokens_with_dupes_expr("text")).alias("term"))

    def frequent(lang: str) -> DataFrame:
        return (
            tok.where(F.col("lang") == lang)
            .groupBy("term")
            .agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") >= 10)
            .select("term")
        )

    return frequent("en").intersect(frequent("zh"))


# ---------------------------------------------------------------------------
# A17: topic co-occurrence
# ---------------------------------------------------------------------------

TOPICS = {
    "performance": ["slow", "fast"],
    "storage": ["table", "column", "row"],
    "relational": ["join", "filter", "scan"],
}


def _topic_flag_sql(kws: list[str]) -> str:
    return (
        "CASE WHEN "
        + " OR ".join(f"lower(text) LIKE '%{k}%'" for k in kws)
        + " THEN 1 ELSE 0 END"
    )


@register(
    "topic_cooccurrence_matrix",
    oracle=f"""
    WITH flags AS (
        SELECT {_topic_flag_sql(TOPICS['performance'])} AS f_performance,
               {_topic_flag_sql(TOPICS['storage'])} AS f_storage,
               {_topic_flag_sql(TOPICS['relational'])} AS f_relational,
               count(*) OVER () AS total
        FROM documents
    )
    SELECT 'performance' AS topic_a, 'storage' AS topic_b,
           CAST(sum(f_performance * f_storage) AS BIGINT) AS n_docs,
           round(sum(f_performance * f_storage) * 1.0 / any_value(total), 6) AS frac
    FROM flags
    UNION ALL
    SELECT 'performance', 'relational',
           CAST(sum(f_performance * f_relational) AS BIGINT),
           round(sum(f_performance * f_relational) * 1.0 / any_value(total), 6)
    FROM flags
    UNION ALL
    SELECT 'storage', 'relational',
           CAST(sum(f_storage * f_relational) AS BIGINT),
           round(sum(f_storage * f_relational) * 1.0 / any_value(total), 6)
    FROM flags
    """,
)
def topic_cooccurrence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 co-occurrence matrix, one pass: per-doc boolean topic flags
    then pairwise sum(flag_i * flag_j), normalized to [0,1]
    (exper_sql.py:2495-2548 runs N^2 separate queries -- here it is a
    single scan regardless of topic count).
    """
    docs = _docs(spark, sf_dir)
    t = F.lower(F.col("text"))

    def flag(kws: list[str]):
        pred = None
        for k in kws:
            c = t.contains(k)
            pred = c if pred is None else (pred | c)
        return F.when(pred, 1).otherwise(0)

    flags = docs.select(
        flag(TOPICS["performance"]).alias("f_performance"),
        flag(TOPICS["storage"]).alias("f_storage"),
        flag(TOPICS["relational"]).alias("f_relational"),
    )
    agg = flags.agg(
        F.sum(F.col("f_performance") * F.col("f_storage")).alias("ps"),
        F.sum(F.col("f_performance") * F.col("f_relational")).alias("pr"),
        F.sum(F.col("f_storage") * F.col("f_relational")).alias("sr"),
        F.count("*").alias("total"),
    )
    pairs = [
        ("performance", "storage", "ps"),
        ("performance", "relational", "pr"),
        ("storage", "relational", "sr"),
    ]
    stack = ", ".join(f"'{a}', '{b}', {c}" for a, b, c in pairs)
    return agg.selectExpr(
        f"stack(3, {stack}) AS (topic_a, topic_b, n_docs)", "total"
    ).select(
        "topic_a",
        "topic_b",
        "n_docs",
        F.round(F.col("n_docs") * 1.0 / F.col("total"), 6).alias("frac"),
    )


# ---------------------------------------------------------------------------
# A18: dynamic CASE-column topic aggregation
# ---------------------------------------------------------------------------


@register(
    "topic_case_agg",
    oracle=f"""
    SELECT source,
           count(*) AS total_docs,
           CAST(sum({_topic_flag_sql(TOPICS['performance'])}) AS BIGINT) AS performance,
           CAST(sum({_topic_flag_sql(TOPICS['storage'])}) AS BIGINT) AS storage,
           CAST(sum({_topic_flag_sql(TOPICS['relational'])}) AS BIGINT) AS relational,
           round(sum({_topic_flag_sql(TOPICS['performance'])}) * 100.0 / count(*), 4)
               AS performance_pct
    FROM documents
    GROUP BY source
    """,
)
def topic_case_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 generated one-SUM(CASE)-per-topic aggregation
    (exper_sql.py:2260-2287: 8 topics x 5 keywords, built
    programmatically) -- same code-generation idea, Spark agg list."""
    docs = _docs(spark, sf_dir)
    t = F.lower(F.col("text"))

    def flag(kws):
        pred = None
        for k in kws:
            c = t.contains(k)
            pred = c if pred is None else (pred | c)
        return F.when(pred, 1).otherwise(0)

    aggs = [F.count("*").alias("total_docs")] + [
        F.sum(flag(kws)).alias(topic) for topic, kws in TOPICS.items()
    ]
    return (
        docs.groupBy("source")
        .agg(*aggs)
        .withColumn(
            "performance_pct",
            F.round(F.col("performance") * 100.0 / F.col("total_docs"), 4),
        )
    )


# ---------------------------------------------------------------------------
# A19: sentiment word counts
# ---------------------------------------------------------------------------

POS_WORDS = ["fast", "small"]
NEG_WORDS = ["slow", "big"]


@register(
    "sentiment_wordcount",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b')) AS term
        FROM documents
    )
    SELECT source,
           CAST(sum(CASE WHEN term IN ({', '.join(repr(w) for w in POS_WORDS)}) THEN 1 ELSE 0 END) AS BIGINT) AS pos_hits,
           CAST(sum(CASE WHEN term IN ({', '.join(repr(w) for w in NEG_WORDS)}) THEN 1 ELSE 0 END) AS BIGINT) AS neg_hits,
           round(sum(CASE WHEN term IN ({', '.join(repr(w) for w in POS_WORDS)}) THEN 1 ELSE 0 END) * 100.0
                 / nullif(sum(CASE WHEN term IN ({', '.join(repr(w) for w in POS_WORDS + NEG_WORDS)}) THEN 1 ELSE 0 END), 0), 4)
               AS pos_pct
    FROM tok
    GROUP BY source
    """,
)
def sentiment_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 sentiment lexicon counting: occurrences of +/- word lists,
    positive percentage (exper_sql.py:889-984). Conditional agg over
    the exploded token stream -- one shuffle on source."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("source", F.explode(raw_tokens_expr("text")).alias("term"))
    pos = F.sum(F.when(F.col("term").isin(POS_WORDS), 1).otherwise(0))
    neg = F.sum(F.when(F.col("term").isin(NEG_WORDS), 1).otherwise(0))
    both = F.sum(F.when(F.col("term").isin(POS_WORDS + NEG_WORDS), 1).otherwise(0))
    return tok.groupBy("source").agg(
        pos.alias("pos_hits"),
        neg.alias("neg_hits"),
        F.round(pos * 100.0 / F.nullif(both, F.lit(0)), 4).alias("pos_pct"),
    )


# ---------------------------------------------------------------------------
# A20: message complexity (exact reference expressions)
# ---------------------------------------------------------------------------


@register(
    "complexity_stats",
    oracle="""
    SELECT doc_id,
           length(text) - length(replace(text, ' ', '')) + 1 AS words,
           length(text) - length(replace(text, '.', '')) AS sentences,
           CASE WHEN length(text) - length(replace(text, '.', '')) > 0
                THEN round((length(text) - length(replace(text, ' ', '')) + 1) * 1.0
                           / (length(text) - length(replace(text, '.', ''))), 4)
                ELSE 0.0 END AS words_per_sentence
    FROM documents
    """,
)
def complexity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 complexity: words ~ spaces+1, sentences ~ '.' count, ratio
    with divide-by-zero CASE guard -- the exact LENGTH-REPLACE
    expressions of exper_sql.py:988-1005."""
    docs = _docs(spark, sf_dir)
    words = word_count_expr("text")
    sents = sentence_count_expr("text")
    return docs.select(
        "doc_id",
        words.cast("bigint").alias("words"),
        sents.cast("bigint").alias("sentences"),
        F.when(sents > 0, F.round(words * 1.0 / sents, 4)).otherwise(0.0).alias(
            "words_per_sentence"
        ),
    )


# ---------------------------------------------------------------------------
# Extensions: language-ID, quality, token counts, fingerprints
# ---------------------------------------------------------------------------

#: marker-word heuristic profiles (n-gram language ID degenerates to
#: marker words on this synthetic corpus; the operator shape -- score
#: per language, argmax -- is the real thing).
LANG_MARKERS = {
    "en": ["the", "data", "fast"],
    "es": ["spark", "query"],
    "de": ["window", "stream"],
}


@register(
    "langid_heuristic",
    oracle="""
    WITH scores AS (
        SELECT doc_id, lang,
               (CASE WHEN lower(text) LIKE '%the%' THEN 1 ELSE 0 END
                + CASE WHEN lower(text) LIKE '%data%' THEN 1 ELSE 0 END
                + CASE WHEN lower(text) LIKE '%fast%' THEN 1 ELSE 0 END) AS s_en,
               (CASE WHEN lower(text) LIKE '%spark%' THEN 1 ELSE 0 END
                + CASE WHEN lower(text) LIKE '%query%' THEN 1 ELSE 0 END) AS s_es,
               (CASE WHEN lower(text) LIKE '%window%' THEN 1 ELSE 0 END
                + CASE WHEN lower(text) LIKE '%stream%' THEN 1 ELSE 0 END) AS s_de
        FROM documents
    )
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS predicted_lang
    FROM scores
    """,
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-word scoring + argmax (training-data
    pipeline extension; heuristic n-gram language ID). Deterministic
    tie-break: en > es > de."""
    docs = _docs(spark, sf_dir)
    t = F.lower(F.col("text"))

    def score(kws):
        s = F.lit(0)
        for k in kws:
            s = s + F.when(t.contains(k), 1).otherwise(0)
        return s

    scores = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        score(LANG_MARKERS["en"]).alias("s_en"),
        score(LANG_MARKERS["es"]).alias("s_es"),
        score(LANG_MARKERS["de"]).alias("s_de"),
    )
    pred = (
        F.when((F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de")), "en")
        .when(F.col("s_es") >= F.col("s_de"), "es")
        .otherwise("de")
    )
    return scores.select("doc_id", "actual_lang", pred.alias("predicted_lang"))


@register(
    "quality_scores",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, n_chars,
               len(regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b')) AS n_tokens,
               len(list_filter(regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b'),
                               t -> list_contains({STOPWORDS_SQL_ARRAY}, t))) AS n_stop
        FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           round(n_stop * 1.0 / nullif(n_tokens, 0), 6) AS stopword_ratio,
           round(n_chars * 1.0 / nullif(n_tokens, 0), 4) AS avg_token_len,
           CASE WHEN n_tokens < 20 THEN 'low'
                WHEN n_stop * 1.0 / nullif(n_tokens, 0) > 0.1 THEN 'medium'
                ELSE 'high' END AS quality
    FROM feats
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length / stopword-ratio features +
    bucket label (training-data pipeline extension; mirrors the
    length-punct-stopword heuristics family)."""
    docs = _docs(spark, sf_dir)
    raw = raw_tokens_expr("text")
    stop_arr = array_lit(sorted(STOPWORDS))
    feats = docs.select(
        "doc_id",
        "n_chars",
        F.size(raw).cast("bigint").alias("n_tokens"),
        F.size(F.filter(raw, lambda t: F.array_contains(stop_arr, t)))
        .cast("bigint")
        .alias("n_stop"),
    )
    ratio = F.col("n_stop") * 1.0 / F.nullif(F.col("n_tokens"), F.lit(0))
    return feats.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(ratio, 6).alias("stopword_ratio"),
        F.round(F.col("n_chars") * 1.0 / F.nullif(F.col("n_tokens"), F.lit(0)), 4).alias(
            "avg_token_len"
        ),
        F.when(F.col("n_tokens") < 20, "low")
        .when(ratio > 0.1, "medium")
        .otherwise("high")
        .alias("quality"),
    )


@register(
    "token_counts",
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS regex_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex pre-token
    count, and the chars/4 BPE estimate (training-data pipeline
    extension)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split(ws_trim_expr(F.col("text")), r"\s+")).cast("bigint").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        )
        .cast("bigint")
        .alias("regex_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("est_bpe_tokens"),
    )


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS content_hash,
           md5(array_to_string(list_sort(list_distinct(list_filter(
               regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b'),
               t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t)))), ' ')) AS token_set_hash
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact content hash + token-set hash
    (order/frequency-insensitive near-dup key). md5 is bit-identical
    across engines -> oracle-checkable."""
    docs = _docs(spark, sf_dir)
    from conversation_analysis_tools_spark.functions.text import tokens_expr

    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
        F.md5(
            F.concat_ws(" ", F.sort_array(F.array_distinct(tokens_expr("text")))).cast(
                "binary"
            )
        ).alias("token_set_hash"),
    )


@register(
    "fingerprint_dup_groups",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(list_filter(
                   regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b'),
                   t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t)))), ' ')) AS token_set_hash
        FROM documents
    )
    SELECT token_set_hash, count(*) AS n_docs, min(doc_id) AS representative
    FROM fp
    GROUP BY token_set_hash
    HAVING count(*) > 1
    """,
)
def fingerprint_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups by token-set fingerprint: hash-groupBy
    dedup (the scalable exact path; representative = min(doc_id),
    mirroring N20's min-cluster selection)."""
    fp = doc_fingerprints(spark, sf_dir)
    return (
        fp.groupBy("token_set_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative"))
        .where(F.col("n_docs") > 1)
    )


@register(
    "curation_pipeline",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang, n_chars,
               len(regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b')) AS n_tokens,
               len(list_filter(regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b'),
                               t -> list_contains({STOPWORDS_SQL_ARRAY}, t))) AS n_stop,
               md5(array_to_string(list_sort(list_distinct(list_filter(
                   regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b'),
                   t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t)))), ' ')) AS fp
        FROM documents
    ),
    quality AS (
        SELECT doc_id, lang, n_chars, fp,
               CASE WHEN n_tokens < 20 THEN 'low'
                    WHEN n_stop * 1.0 / nullif(n_tokens, 0) > 0.1 THEN 'medium'
                    ELSE 'high' END AS quality
        FROM feats
    ),
    deduped AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM quality
    )
    SELECT lang,
           count(*) AS kept_docs,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
    FROM deduped
    WHERE rn = 1 AND quality <> 'low'
    GROUP BY lang
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation capstone: quality-filter -> exact
    near-dup removal (token-set fingerprint, keep min doc_id) ->
    per-language corpus stats. Composes quality_scores +
    doc_fingerprints semantics into the one-pass pipeline a 100 TB
    pretraining-data job runs (filter early, dedup on the hash, only
    then aggregate -- the scan never materializes dropped docs).
    Input spread to scan parallelism first (round 12, guide §2.5/§6):
    the tokenize/fingerprint chain otherwise runs as one task on the
    single-row-group corpus."""
    from conversation_analysis_tools_spark.functions.text import tokens_expr

    docs = spread_input(_docs(spark, sf_dir), "doc_id")
    raw = raw_tokens_expr("text")
    stop_arr = array_lit(sorted(STOPWORDS))
    feats = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(raw).alias("n_tokens"),
        F.size(F.filter(raw, lambda t: F.array_contains(stop_arr, t))).alias("n_stop"),
        F.md5(
            F.concat_ws(" ", F.sort_array(F.array_distinct(tokens_expr("text")))).cast(
                "binary"
            )
        ).alias("fp"),
    )
    quality = feats.withColumn(
        "quality",
        F.when(F.col("n_tokens") < 20, "low")
        .when(F.col("n_stop") * 1.0 / F.nullif(F.col("n_tokens"), F.lit(0)) > 0.1, "medium")
        .otherwise("high"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = quality.withColumn("rn", F.row_number().over(w))
    return (
        deduped.where((F.col("rn") == 1) & (F.col("quality") != "low"))
        .groupBy("lang")
        .agg(F.count("*").alias("kept_docs"), F.sum("n_chars").alias("kept_chars"))
    )


@register(
    "stratified_cap",
    oracle="""
    WITH ranked AS (
        SELECT lang, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS total_docs
        FROM documents
    )
    SELECT lang,
           count(*) AS kept_docs,
           any_value(total_docs) AS total_docs,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
    FROM ranked
    WHERE rn <= 30
    GROUP BY lang
    """,
)
def stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: cap each language at N
    docs, selection order = md5(content) (pseudo-random but
    reproducible across engines and runs -- the data-mixing quota
    pattern of pretraining pipelines; seeded sample() would be
    engine-specific)."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("text").cast("binary")), "doc_id")
    wt = Window.partitionBy("lang")
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wt).alias("total_docs"),
    )
    return (
        ranked.where(F.col("rn") <= 30)
        .groupBy("lang")
        .agg(
            F.count("*").alias("kept_docs"),
            F.any_value("total_docs").alias("total_docs"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


@register(
    "corpus_length_percentiles",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
           round(quantile_cont(n_chars, 0.99), 4) AS p99_chars
    FROM documents
    GROUP BY lang
    """,
)
def corpus_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length percentiles (the corpus profile every
    training-data pipeline reports before/after curation). Exact
    percentile for the oracle; percentile_approx is the sketch path
    at 100 TB (approx_stats)."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
        F.round(F.percentile("n_chars", F.lit(0.99)), 4).alias("p99_chars"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, public heuristics)
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_metrics(docs: DataFrame) -> DataFrame:
    """All six Gopher rule metrics per doc (Rae et al. 2021): word
    count, mean word length, alphabetic-word fraction, distinct stop
    words, bullet-line fraction, ellipsis-line fraction. Map-only
    column expressions; shared by the gate query and the distilled
    classifier's teacher score (queries/mlfilter.py). The input is
    spread to scan parallelism first (round 12, guide §2.5/§6) so the
    per-doc regex work never serializes onto one scan task."""
    words = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    lines = F.split(F.col("text"), "\n")
    feats = spread_input(docs, "doc_id").select(
        "doc_id", words.alias("words"), lines.alias("lines")
    )
    n_words = F.size("words")
    n_lines = F.size("lines")
    mean_len = F.round(
        F.aggregate(
            F.transform("words", lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        )
        * 1.0
        / n_words,
        4,
    )
    alpha_frac = F.round(
        F.size(F.filter("words", lambda w: w.rlike("[a-zA-Z]"))) * 1.0 / n_words, 4
    )
    n_stops = F.size(
        F.array_intersect(
            F.transform("words", lambda w: F.lower(w)),
            array_lit(sorted(_GOPHER_STOPS)),
        )
    )
    bullet_frac = F.round(
        F.size(F.filter("lines", lambda l: l.rlike(r"^\s*[-*]"))) * 1.0 / n_lines, 4
    )
    ellipsis_frac = F.round(
        F.size(F.filter("lines", lambda l: l.like("%..."))) * 1.0 / n_lines, 4
    )
    return feats.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        n_stops.cast("bigint").alias("n_stops"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
    )


@register(
    "gopher_quality_flags",
    oracle=rf"""
    WITH feats AS (
        SELECT doc_id,
               regexp_extract_all(text, '\S+') AS words,
               string_split(text, chr(10)) AS lines
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(words) AS n_words,
               round(list_sum(list_transform(words, w -> len(w))) * 1.0
                     / len(words), 4) AS mean_word_len,
               round(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
                     * 1.0 / len(words), 4) AS alpha_frac,
               len(list_intersect(list_transform(words, w -> lower(w)),
                   {_GOPHER_STOPS!r})) AS n_stops,
               round(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*]')))
                     * 1.0 / len(lines), 4) AS bullet_frac,
               round(len(list_filter(lines, l -> l LIKE '%...'))
                     * 1.0 / len(lines), 4) AS ellipsis_frac
        FROM feats
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           alpha_frac, CAST(n_stops AS BIGINT) AS n_stops,
           (n_words BETWEEN 50 AND 100000) AND
           (mean_word_len BETWEEN 3 AND 10) AND
           (alpha_frac >= 0.8) AND (n_stops >= 2) AND
           (bullet_frac <= 0.9) AND (ellipsis_frac <= 0.3)
               AS passes_gopher
    FROM m
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document quality gate (Rae et al. 2021 heuristics:
    word count 50..100k, mean word length 3..10, >=80% alphabetic
    words, >=2 distinct stop words, <=90% bullet lines, <=30%
    ellipsis lines). Map-only column expressions -- zero shuffle, the
    always-first 100 TB curation filter. Whitespace words here, not
    the [a-z]{3,} analysis tokenizer: the rules gate raw surface text.
    """
    m = gopher_metrics(_docs(spark, sf_dir))
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "n_stops",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_frac") >= 0.8)
            & (F.col("n_stops") >= 2)
            & (F.col("bullet_frac") <= 0.9)
            & (F.col("ellipsis_frac") <= 0.3)
        ).alias("passes_gopher"),
    )


# ---------------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020 heuristics)
# ---------------------------------------------------------------------------


@register(
    "c4_line_clean",
    oracle=r"""
    WITH pages AS (
        SELECT doc_id,
               substr(text, 1, 60) || ' more words here.' || chr(10) ||
               'short line' || chr(10) ||
               '{ "code": ' || CAST(doc_id AS VARCHAR) || ' }' || chr(10) ||
               'the lorem ipsum filler line number ' ||
                   CAST(doc_id AS VARCHAR) || ' is dropped.' || chr(10) ||
               'this closing sentence has enough words to survive number ' ||
                   CAST(doc_id % 100 AS VARCHAR) || '.' AS page
        FROM documents
    ),
    split_lines AS (
        SELECT doc_id, string_split(page, chr(10)) AS lines FROM pages
    ),
    cleaned AS (
        SELECT doc_id, len(lines) AS n_lines,
               list_filter(lines, l ->
                   regexp_matches(l, '[.!?"]$')
                   AND len(string_split(l, ' ')) >= 5
                   AND NOT contains(lower(l), 'lorem ipsum')
                   AND NOT contains(l, '{')) AS kept
        FROM split_lines
    )
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, chr(10)) AS cleaned
    FROM cleaned
    """,
)
def c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020): keep lines that end
    in terminal punctuation, have >= 5 words, and contain neither
    'lorem ipsum' nor a curly brace.

    The synthetic corpus is single-line, so (pii_scrub precedent) the
    query plants a deterministic 5-line page per doc from its own
    columns, then exercises the REAL operator -- line split, predicate
    filter, re-join -- as pure column expressions: map-only, zero
    shuffle, the line-grain sibling of the doc-grain Gopher gate.
    """
    docs = _docs(spark, sf_dir)
    page = F.concat(
        F.substring("text", 1, 60), F.lit(" more words here.\n"),
        F.lit("short line\n"),
        F.lit('{ "code": '), F.col("doc_id").cast("string"), F.lit(" }\n"),
        F.lit("the lorem ipsum filler line number "),
        F.col("doc_id").cast("string"), F.lit(" is dropped.\n"),
        F.lit("this closing sentence has enough words to survive number "),
        (F.col("doc_id") % 100).cast("string"), F.lit("."),
    )
    lines = F.split(page, "\n")
    kept = F.filter(
        lines,
        lambda l: l.rlike('[.!?"]$')
        & (F.size(F.split(l, " ")) >= 5)
        & ~F.contains(F.lower(l), F.lit("lorem ipsum"))
        & ~F.contains(l, F.lit("{")),
    )
    return docs.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.array_join(kept, "\n").alias("cleaned"),
    )


def _drift_oracle() -> str:
    from conversation_analysis_tools_spark.queries.nlp import TOK_CTE

    return f"""
    WITH {TOK_CTE},
    flags AS (SELECT doc_id % 2 = 1 AS is_new, term FROM tok),
    counts AS (
        SELECT term,
               sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS c_new,
               sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS c_old
        FROM flags GROUP BY 1
    ),
    tot AS (SELECT sum(c_new) AS n_new, sum(c_old) AS n_old,
                   count(*) AS v FROM counts)
    SELECT term, CAST(c_old AS BIGINT) AS c_old, CAST(c_new AS BIGINT) AS c_new,
           round(1000000.0 * ((c_new + 1.0) / (n_new + v))
                 * ln(((c_new + 1.0) / (n_new + v))
                      / ((c_old + 1.0) / (n_old + v))), 2) + 0 AS contrib_ppm
    FROM counts, tot
    """


@register("corpus_drift_kl", oracle=_drift_oracle())
def corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift monitor: KL(new || old) decomposed per term
    between two deterministic corpus halves (doc_id parity stands in
    for the old/new snapshot split; in production the split key is
    ingestion date or corpus version). The standard pre-training data
    health check -- a drifting token distribution between snapshots is
    the first visible symptom of a scraper or filter regression
    (beyond-reference; same smoothed-LM machinery family as
    dsir_importance, Xie et al. 2023).

    Add-one smoothing over the union vocabulary keeps every log
    finite; contrib_ppm = 1e6 * p_new * ln(p_new / p_old), summing to
    1e6 * KL. Emits the FULL per-term decomposition (the testdata
    vocabulary is bounded); at real scale the top-k cut is one
    TakeOrderedAndProject on contrib_ppm.

    Plan/scale: tokenize is a map-only flatMap; ONE shuffle on term
    with map-side partial conditional sums (no per-half join -- both
    halves aggregate in the same pass); the totals row broadcasts via
    a one-row crossJoin. Log arithmetic runs on identical integer
    counts in both engines, and the 1e6 scaling keeps cross-engine
    1-ulp ln() noise ~8 orders below the rounding boundary.
    """
    from conversation_analysis_tools_spark.functions.text import (
        tokens_with_dupes_expr,
    )

    docs = spread_input(_catalog_table(spark, "documents", sf_dir), "doc_id")
    toks = docs.select(
        (F.col("doc_id") % 2 == 1).alias("is_new"),
        F.explode(tokens_with_dupes_expr("text")).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("c_new"),
        F.sum(F.when(F.col("is_new"), 0).otherwise(1)).alias("c_old"),
    )
    totals = counts.agg(
        F.sum("c_new").alias("n_new"),
        F.sum("c_old").alias("n_old"),
        F.count("*").alias("v"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    p_new = (F.col("c_new") + 1.0) / (F.col("n_new") + F.col("v"))
    p_old = (F.col("c_old") + 1.0) / (F.col("n_old") + F.col("v"))
    return j.select(
        "term",
        F.col("c_old").cast("bigint").alias("c_old"),
        F.col("c_new").cast("bigint").alias("c_new"),
        # +0.0 folds -0.0 to 0.0 (cross-engine negative-zero parity)
        (
            F.round(F.lit(1000000.0) * p_new * F.log(p_new / p_old), 2)
            + F.lit(0.0)
        ).alias("contrib_ppm"),
    )


# ---------------------------------------------------------------------------
# PII redaction (the scrub stage, full pattern set)
# ---------------------------------------------------------------------------

#: Hostile literal inputs for the redaction certificate: one case per
#: pattern, the separator variants, the ordering interactions, and
#: the negative controls the precision-over-recall contract promises
#: to leave alone.
_PII_CASES: list[tuple[int, str]] = [
    (1, "reach me at jane.doe+spam@mail.example.co.uk today"),
    (2, "card 4111-1111-1111-1111 expires soon"),
    (3, "card 4111 1111 1111 1111 expires soon"),
    (4, "ssn 078-05-1120 on file"),
    (5, "call (555) 867-5309 or 555-867-5309 or 555.867.5309"),
    (6, "server 192.168.0.1 and 10.0.0.255 up"),
    (7, "order 1234567890 and ref 12345-678-9012 shipped"),
    (8, "fake 123-45-6789 vs 123-456-7890 mixed"),
    (9, "ip 1.2.3.4 via v1.2.3@host.io build"),
    (10, "no personal data in this sentence."),
]


def _pii_cases_sql() -> str:
    rows = ", ".join(
        "({}, '{}')".format(cid, s.replace("'", "''")) for cid, s in _PII_CASES
    )
    return f"cases(case_id, s) AS (VALUES {rows})"


#: Corpus-grain planted contact line (round-10 merge of the retired
#: pii_scrub certificate): each doc plants an email + a separator
#: phone from its own columns, then the FULL chain scrubs it -- the
#: corpus-scale map path of the redaction, per-doc-varying text
#: through every pattern. Defined once, used by both the Spark plan
#: and the DuckDB oracle below.
_PII_CORPUS_SQL = (
    "'contact ' || source || '@example.com or call 555-867-' || "
    "CAST(1000 + doc_id % 9000 AS VARCHAR) || ' re: ' || substr(text, 1, 40)"
)


def _pii_corpus_line():
    return F.concat(
        F.lit("contact "),
        F.col("source"),
        F.lit("@example.com or call 555-867-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" re: "),
        F.substring("text", 1, 40),
    )


def _pii_fixed_oracle() -> str:
    from conversation_analysis_tools_spark.functions.redact import redact_sql

    return f"""
    WITH {_pii_cases_sql()},
    corpus(case_id, s) AS (
        SELECT 1000 + doc_id, {_PII_CORPUS_SQL} FROM documents
    ),
    allrows AS (SELECT * FROM cases UNION ALL SELECT * FROM corpus)
    SELECT CAST(case_id AS BIGINT) AS case_id, {redact_sql('s')} AS redacted
    FROM allrows
    """


@register("pii_redaction_fixed", oracle=_pii_fixed_oracle())
def pii_redaction_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-pattern PII redaction certificate (the scrub stage a
    100-TB curation pipeline runs before training): the ordered
    five-pattern chain in functions/redact.py (email, credit-card,
    SSN, phone, IPv4) over ten hostile fixed literals PLUS one
    planted contact line per corpus doc (round-10 consolidation: the
    retired pii_scrub certificate's corpus-scale scrub assertion now
    rides here as the case_id >= 1000 rows, upgraded from its
    two-pattern chain to the full five).

    The fixed rows cover every pattern, the separator variants (CC
    with dashes AND spaces; phone dotted, dashed, and parenthesized),
    the ordering interactions the chain's order exists for (an SSN
    next to a phone number; an email whose local part looks like a
    dotted version string, which the email-first rule must eat before
    the IPv4 rule can), and the negative controls (a bare 10-digit
    order id stays -- the documented precision-over-recall trade).
    The corpus rows push per-doc-VARYING text through every pattern
    (the synthetic corpus is PII-free, so each doc plants a
    deterministic contact line from its own columns -- pii_scrub's
    design). The oracle RECOMPUTES the redaction in DuckDB from the
    same pattern table via redact_sql, so a driver pass certifies
    Java-regex/RE2 dialect parity of every pattern on every input;
    the expected fixed-case strings are additionally hand-pinned in
    tests/test_curation_gates.py so both dialects drifting together
    still fails somewhere. Map-only: at scale this is a pure row
    expression inside whole-stage codegen, zero shuffle."""
    from conversation_analysis_tools_spark.functions.redact import redact_pii

    cases = spark.createDataFrame(_PII_CASES, "case_id long, s string")
    corpus = _catalog_table(spark, "documents", sf_dir).select(
        (F.lit(1000) + F.col("doc_id")).alias("case_id"),
        _pii_corpus_line().alias("s"),
    )
    return cases.unionByName(corpus).select(
        "case_id", redact_pii("s").alias("redacted")
    )


@register(
    "gopher_repetition_flags",
    oracle=r"""
    WITH pages AS (
        SELECT doc_id,
               regexp_extract_all(text, '\S+') AS words,
               [substr(text, 1, 50),
                'unique line ' || CAST(doc_id AS VARCHAR),
                'shared header line',
                CASE WHEN doc_id % 4 = 0 THEN substr(text, 1, 50)
                     ELSE 'distinct tail ' || CAST(doc_id AS VARCHAR) END,
                'closing line ' || CAST(doc_id % 5 AS VARCHAR)] AS lines
        FROM documents
    ),
    line_stats AS (
        SELECT doc_id,
               round(1.0 - len(list_distinct(lines)) * 1.0 / len(lines), 4)
                   AS dup_line_frac,
               round(list_sum(list_transform(lines, l ->
                         CASE WHEN len(list_filter(lines, x -> x = l)) > 1
                              THEN len(l) ELSE 0 END)) * 1.0
                     / list_sum(list_transform(lines, l -> len(l))), 4)
                   AS dup_line_char_frac
        FROM pages
    ),
    grams AS (
        SELECT doc_id, kind, gram, count(*) AS cnt
        FROM (
            SELECT doc_id, '2' AS kind,
                   unnest(CASE WHEN len(words) >= 2
                          THEN list_transform(range(0, len(words) - 1),
                               i -> array_to_string(words[i+1:i+2], ' '))
                          ELSE [] END) AS gram
            FROM pages
            UNION ALL
            SELECT doc_id, '5' AS kind,
                   unnest(CASE WHEN len(words) >= 5
                          THEN list_transform(range(0, len(words) - 4),
                               i -> array_to_string(words[i+1:i+5], ' '))
                          ELSE [] END) AS gram
            FROM pages
        ) GROUP BY 1, 2, 3
    ),
    top2 AS (
        SELECT doc_id, cnt * len(gram) AS top2_chars
        FROM (SELECT doc_id, gram, cnt,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY cnt DESC, gram ASC) AS rn
              FROM grams WHERE kind = '2')
        WHERE rn = 1
    ),
    dup5 AS (
        SELECT doc_id,
               sum(CASE WHEN cnt > 1 THEN cnt * len(gram) ELSE 0 END)
                   AS dup5_chars
        FROM grams WHERE kind = '5' GROUP BY doc_id
    ),
    chars AS (
        SELECT doc_id, len(array_to_string(words, ' ')) AS n_chars FROM pages
    )
    SELECT c.doc_id,
           l.dup_line_frac, l.dup_line_char_frac,
           round(least(1.0, coalesce(t.top2_chars, 0) * 1.0 / c.n_chars), 4)
               AS top_2gram_char_frac,
           round(least(1.0, coalesce(d.dup5_chars, 0) * 1.0 / c.n_chars), 4)
               AS dup_5gram_char_frac,
           (l.dup_line_frac <= 0.3)
             AND (l.dup_line_char_frac <= 0.2)
             AND (coalesce(t.top2_chars, 0) * 1.0 / c.n_chars <= 0.2)
             AND (coalesce(d.dup5_chars, 0) * 1.0 / c.n_chars <= 0.15)
               AS passes_repetition
    FROM chars c JOIN line_stats l USING (doc_id)
    LEFT JOIN top2 t USING (doc_id) LEFT JOIN dup5 d USING (doc_id)
    """,
)
def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher REPETITION rules (Rae et al. 2021 Table A1), the
    half of the Gopher gate gopher_quality_flags doesn't cover:
    duplicate-line fraction (<= 0.30), duplicate-line character
    fraction (<= 0.20), top-2-gram character fraction (<= 0.20), and
    duplicate-5-gram character fraction (<= 0.15) -- the rules that
    catch boilerplate and spam at corpus scale. All four are GATED in
    passes_repetition (the char-fraction rule was reported but
    ungated until round 9 -- ADVICE r8), per Rae et al. Table A1.

    The synthetic corpus is single-line, so (c4_line_clean precedent)
    the query plants a deterministic 5-line page per doc from its own
    columns -- every fourth doc repeats its first line, so the line
    rules fire on a known slice. Line metrics are ROW-LOCAL
    expressions (pages are bounded; the O(n_lines^2) in-row count is
    over 5 elements); the n-gram metrics explode to (doc, kind, gram)
    grain and partial-aggregate map-side -- ONE shuffle at gram
    grain, the shape that survives 100 TB where per-row HOF
    mode-finding would run interpreted. Ties for the top 2-gram break
    lexicographically (row_number cnt DESC, gram ASC) so both engines
    pick the same gram. Character fractions use the space-normalized
    word join as the denominator; overlapping gram coverage can
    exceed it, hence the least(1.0, ...) clamp."""
    docs = _docs(spark, sf_dir)
    words = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    lines_arr = F.array(
        F.substring("text", 1, 50),
        F.concat(F.lit("unique line "), F.col("doc_id").cast("string")),
        F.lit("shared header line"),
        F.when(
            F.col("doc_id") % 4 == 0, F.substring("text", 1, 50)
        ).otherwise(
            F.concat(F.lit("distinct tail "), F.col("doc_id").cast("string"))
        ),
        F.concat(F.lit("closing line "), (F.col("doc_id") % 5).cast("string")),
    )
    pages = docs.select(
        "doc_id", words.alias("words"), lines_arr.alias("lines")
    )

    n_lines = F.size("lines")
    line_chars = F.aggregate(
        F.transform("lines", lambda l: F.length(l)), F.lit(0), lambda a, x: a + x
    )
    dup_line_chars = F.aggregate(
        F.transform(
            "lines",
            lambda l: F.when(
                F.size(F.filter("lines", lambda x: x == l)) > 1, F.length(l)
            ).otherwise(0),
        ),
        F.lit(0),
        lambda a, x: a + x,
    )
    line_stats = pages.select(
        "doc_id",
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("lines")) * F.lit(1.0) / n_lines, 4
        ).alias("dup_line_frac"),
        F.round(dup_line_chars * F.lit(1.0) / line_chars, 4).alias(
            "dup_line_char_frac"
        ),
        F.length(F.array_join("words", " ")).alias("n_chars"),
    )

    def _grams(n: int, kind: str):
        seq = F.transform(
            F.sequence(F.lit(0), F.size("words") - n),
            lambda i: F.concat_ws(" ", F.slice("words", i + 1, n)),
        )
        arr = F.when(F.size("words") >= n, seq).otherwise(
            F.array().cast("array<string>")
        )
        return F.transform(
            arr, lambda g: F.struct(F.lit(kind).alias("kind"), g.alias("gram"))
        )

    # ONE exchange for the whole gram side: repartition the exploded
    # stream by doc_id up front -- HashPartitioning(doc_id) satisfies
    # the clustered distribution of groupBy(doc_id, kind, gram), the
    # top-2-gram window (PARTITION BY doc_id), AND the dup-5-gram
    # per-doc aggregate, so none of them re-shuffles (census: 4
    # exchanges -> 1 on the gram path). The trade is shuffling raw
    # gram rows instead of map-combined counts, a wash here: 5-grams
    # are near-unique, so the combine barely shrinks the stream.
    counted = (
        pages.select(
            "doc_id",
            F.explode(F.concat(_grams(2, "2"), _grams(5, "5"))).alias("kg"),
        )
        .select("doc_id", F.col("kg.kind").alias("kind"), F.col("kg.gram").alias("gram"))
        .repartition(F.col("doc_id"))
        .groupBy("doc_id", "kind", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top2 = (
        counted.where(F.col("kind") == "2")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", (F.col("cnt") * F.length("gram")).alias("top2_chars"))
    )
    dup5 = (
        counted.where(F.col("kind") == "5")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram")).otherwise(0)
            ).alias("dup5_chars")
        )
    )
    t2 = F.coalesce("top2_chars", F.lit(0)) * F.lit(1.0) / F.col("n_chars")
    d5 = F.coalesce("dup5_chars", F.lit(0)) * F.lit(1.0) / F.col("n_chars")
    return (
        line_stats.join(top2, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            "dup_line_frac",
            "dup_line_char_frac",
            F.round(F.least(F.lit(1.0), t2), 4).alias("top_2gram_char_frac"),
            F.round(F.least(F.lit(1.0), d5), 4).alias("dup_5gram_char_frac"),
            (
                (F.col("dup_line_frac") <= 0.3)
                & (F.col("dup_line_char_frac") <= 0.2)
                & (t2 <= 0.2)
                & (d5 <= 0.15)
            ).alias("passes_repetition"),
        )
    )


#: Planted per-doc host table + blocklist, shared by
#: url_domain_filter and curation_pipeline_v2 -- ONE definition feeds
#: both Spark bodies and both oracles so the queries can never drift.
_PLANTED_HOSTS = [
    "spam.example.com",
    "blog.example.org",
    "news.example.org",
    "ads.tracker.net",
    "docs.example.io",
]
_HOST_BLOCKLIST = ["spam.example.com", "ads.tracker.net"]


def _planted_host_expr():
    c = F.when(F.col("doc_id") % 5 == 0, F.lit(_PLANTED_HOSTS[0]))
    for i in range(1, len(_PLANTED_HOSTS) - 1):
        c = c.when(F.col("doc_id") % 5 == i, F.lit(_PLANTED_HOSTS[i]))
    return c.otherwise(F.lit(_PLANTED_HOSTS[-1]))


def _planted_host_sql() -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(_PLANTED_HOSTS[:-1])
    )
    return f"CASE doc_id % 5 {whens} ELSE '{_PLANTED_HOSTS[-1]}' END"


def _blocklist_sql() -> str:
    return ", ".join(f"'{h}'" for h in _HOST_BLOCKLIST)


@register(
    "url_domain_filter",
    oracle=rf"""
    WITH pages AS (
        SELECT doc_id,
               'https://' || {_planted_host_sql()}
               || '/page/' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END
                   AS url
        FROM documents
    ),
    parsed AS (
        SELECT doc_id, url,
               regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host
        FROM pages
    )
    SELECT host,
           regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS registered_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN contains(url, '?') THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_query,
           host IN ({_blocklist_sql()}) AS blocked
    FROM parsed
    GROUP BY host
    """,
)
def url_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain curation (the FIRST stage of web-pipeline filtering
    -- RefinedWeb/C4 drop whole domains by blocklist before any
    content rule runs): host extraction, registered-domain (eTLD+1
    approximation: last two labels), per-domain doc counts, and the
    blocklist verdict.

    The synthetic corpus carries no URLs, so (pii_scrub precedent)
    each doc plants a deterministic URL from its own columns; the
    REAL operator -- portable regex host parse, domain aggregation,
    broadcast-sized blocklist membership -- then runs unmodified. At
    100 TB this is a map-only extract + one domain-grain aggregate
    (domains are millions, not billions: the shuffle carries domain
    cardinality) and the blocklist is literal plan data (a real one
    would broadcast-join a dimension table, same shape as
    decontamination_bloom's bitset). Regexes use the Java/RE2 common
    dialect with a single capture group, identical in both engines;
    host parsing stops at '/', '?', or '#' so path-less and
    query-bearing URLs parse alike."""
    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://"),
        _planted_host_expr(),
        F.lit("/page/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
    )
    parsed = docs.select(
        "doc_id",
        url.alias("url"),
        F.regexp_extract(url, r"^[a-z]+://([^/?#]+)", 1).alias("host"),
    )
    return parsed.groupBy("host").agg(
        F.first(F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1)).alias(
            "registered_domain"
        ),
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("url").contains("?"), 1).otherwise(0)).alias(
            "n_with_query"
        ),
        F.first(F.col("host").isin(_HOST_BLOCKLIST)).alias("blocked"),
    )


def _v2_gop(docs: DataFrame, cache: bool = True) -> DataFrame:
    """The v2 capstone's stage builder, shared with the STREAMING
    funnel (streaming/curation.py) so the two paths can never drift:
    docs (doc_id, source, text) -> (doc_id, source, red, blocked, q,
    fp). All map-only except the gopher_metrics join (same-grain,
    doc_id-keyed). ``cache=False`` for per-micro-batch use, where the
    caller persists/unpersists around its own consumers instead of
    parking relations in the process-wide tracker."""
    from conversation_analysis_tools_spark.functions.redact import redact_pii
    from conversation_analysis_tools_spark.functions.text import tokens_expr
    from conversation_analysis_tools_spark.operators.cache import track

    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        F.lit("@example.com or call 555-867-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" now"),
    )
    # spread before the redact chain (round 12, guide §2.5/§6): the
    # PII regex cascade is the stage's dominant per-row cost and the
    # single-row-group corpus otherwise runs it as ONE task
    docs = spread_input(docs, "doc_id")
    base = docs.select(
        "doc_id",
        "source",
        _planted_host_expr().isin(_HOST_BLOCKLIST).alias("blocked"),
        redact_pii(with_pii).alias("red"),
    )
    if cache:
        base = track(base)
    metrics = gopher_metrics(base.select("doc_id", F.col("red").alias("text")))
    fp = F.md5(
        F.array_join(F.array_sort(tokens_expr("red")), " ").cast("binary")
    )
    return base.join(metrics, "doc_id").select(
        "doc_id",
        "source",
        "red",
        "blocked",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_frac") >= 0.8)
            & (F.col("n_stops") >= 2)
        ).alias("q"),
        fp.alias("fp"),
    )


def _v2_oracle() -> str:
    from conversation_analysis_tools_spark.functions.redact import redact_sql

    red = redact_sql(
        "text || ' contact ' || source || '@example.com or call 555-867-' || "
        "CAST(1000 + doc_id % 9000 AS VARCHAR) || ' now'"
    )
    return f"""
    WITH base AS (
        SELECT doc_id, source,
               {_planted_host_sql()} AS host,
               {red} AS red
        FROM documents
    ),
    feats AS (
        SELECT doc_id, source, red,
               host IN ({_blocklist_sql()}) AS blocked,
               regexp_extract_all(red, '\\S+') AS words
        FROM base
    ),
    gop AS (
        SELECT doc_id, source, red, blocked,
               len(words) >= 50 AND len(words) <= 100000
               AND round(list_sum(list_transform(words, w -> len(w))) * 1.0
                   / len(words), 4) BETWEEN 3 AND 10
               AND round(len(list_filter(words,
                       w -> regexp_matches(w, '[a-zA-Z]')))
                   * 1.0 / len(words), 4) >= 0.8
               AND len(list_intersect(
                       list_transform(words, w -> lower(w)),
                       {_GOPHER_STOPS!r})) >= 2 AS q,
               md5(array_to_string(list_sort(list_distinct(list_filter(
                   regexp_extract_all(lower(red), '\\b[a-z]{{3,}}\\b'),
                   t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t)))), ' '))
                   AS fp
        FROM feats
    ),
    surv AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gop WHERE NOT blocked AND q
    ),
    funnel AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN NOT blocked THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after_domain,
               CAST(sum(CASE WHEN NOT blocked AND q THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_after_quality
        FROM gop GROUP BY source
    ),
    kept AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_after_dedup,
               CAST(sum(len(red)) AS BIGINT) AS kept_chars
        FROM surv WHERE rn = 1 GROUP BY source
    )
    SELECT f.source, f.n_total, f.n_after_domain, f.n_after_quality,
           coalesce(k.n_after_dedup, 0) AS n_after_dedup,
           coalesce(k.kept_chars, 0) AS kept_chars
    FROM funnel f LEFT JOIN kept k USING (source)
    """


@register("curation_pipeline_v2", oracle=_v2_oracle())
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-8 curation capstone: every new stage composed into
    ONE DAG with per-source funnel observability -- the job shape a
    100 TB pretraining-data run executes nightly:

    1. DOMAIN gate (url_domain_filter semantics): planted per-doc
       host, blocklist drop -- map-only, runs first so nothing
       downstream touches blocked docs;
    2. PII REDACTION (functions/redact.py, the ordered five-pattern
       chain) over text + a planted contact line -- the redacted doc
       is the content every later stage sees, exactly as a real
       pipeline orders it (never quality-score text you are about to
       mutate);
    3. GOPHER word rules on the REDACTED text, via the SAME
       gopher_metrics operator (and therefore the same rounded
       values and 8-word Gopher stop list) gopher_quality_flags
       gates on -- the word-rule subset (line rules are not
       meaningful on the single-line redacted docs);
    4. EXACT DEDUP at token-set-fingerprint grain of the redacted
       text (md5 of sorted distinct analysis tokens via the shared
       tokenizer -- curation_pipeline's recipe, keep min doc_id),
       restricted to survivors so the window only shuffles docs
       that can still be kept.

    Output: per-source funnel (n_total -> n_after_domain ->
    n_after_quality -> n_after_dedup, plus kept chars) -- the drop
    accounting a data-governance review asks for. ``base`` (the
    redacted corpus) is track()'d: the metrics derivation and the
    join-back would otherwise re-run the 5-regex redaction chain per
    consumer; beyond that the only exchanges are the survivor
    fingerprint window and the two source-grain aggregates. The stage
    builder lives in _v2_gop, SHARED with the streaming funnel
    (streaming/curation.py) -- one definition, two execution modes."""
    gop = _v2_gop(_docs(spark, sf_dir))
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        gop.where(~F.col("blocked") & F.col("q"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_after_dedup"),
            F.sum(F.length("red")).alias("kept_chars"),
        )
    )
    funnel = gop.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(~F.col("blocked"), 1).otherwise(0)).alias("n_after_domain"),
        F.sum(F.when(~F.col("blocked") & F.col("q"), 1).otherwise(0)).alias(
            "n_after_quality"
        ),
    )
    return funnel.join(kept, "source", "left").select(
        "source",
        "n_total",
        "n_after_domain",
        "n_after_quality",
        F.coalesce("n_after_dedup", F.lit(0)).alias("n_after_dedup"),
        F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
    )


def _v3_oracle() -> str:
    from conversation_analysis_tools_spark.functions import chrome as CH
    from conversation_analysis_tools_spark.functions.redact import redact_sql

    red = redact_sql("cleaned")
    return f"""
    WITH base AS (
        SELECT doc_id, source,
               {_planted_host_sql()} AS host,
               '{CH.OPENER_PREFIX}' || CAST(doc_id AS VARCHAR)
                   || '{CH.OPENER_MID}' || source
                   || '{CH.OPENER_SUFFIX}' || chr(10) ||
               '{CH.NEWSLETTER_LINE}' || chr(10) ||
               '{CH.LOREM_PREFIX}'
                   || CAST(doc_id AS VARCHAR) || '{CH.LOREM_SUFFIX}' || chr(10) ||
               '{CH.SHORT_LINE}' || chr(10) ||
               array_to_string(list_transform(string_split(text, chr(10)),
                                              l -> l || ' .'), chr(10)) AS page
        FROM documents
    ),
    flags AS (
        SELECT doc_id, source, host IN ({_blocklist_sql()}) AS blocked, page
        FROM base
    ),
    c4 AS (
        SELECT doc_id, source,
               len(string_split(page, chr(10))) AS n_lines_in,
               list_filter(string_split(page, chr(10)), l ->
                   regexp_matches(l, '[.!?"]$')
                   AND len(string_split(l, ' ')) >= 5
                   AND NOT contains(lower(l), 'lorem ipsum')
                   AND NOT contains(l, '{{')) AS kept
        FROM flags WHERE NOT blocked
    ),
    lines AS (
        SELECT doc_id, source, n_lines_in, u.pos, u.line,
               md5(lower(trim(u.line))) AS line_hash
        FROM c4,
             LATERAL (SELECT generate_subscripts(kept, 1) - 1 AS pos,
                             unnest(kept) AS line) u
        WHERE len(kept) > 0
    ),
    boiler AS (
        SELECT line_hash
        FROM (SELECT DISTINCT doc_id, line_hash FROM lines)
        GROUP BY line_hash HAVING count(*) >= 5
    ),
    keptl AS (SELECT l.* FROM lines l ANTI JOIN boiler b USING (line_hash)),
    rebuilt AS (
        SELECT doc_id, source, n_lines_in,
               CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(line, chr(10) ORDER BY pos) AS cleaned
        FROM keptl GROUP BY doc_id, source, n_lines_in
    ),
    red AS (
        SELECT doc_id, source, n_lines_in, n_kept, {red} AS red
        FROM rebuilt
    ),
    gop AS (
        SELECT doc_id, source, n_lines_in, n_kept, red,
               len(words) >= 50 AND len(words) <= 100000
               AND round(list_sum(list_transform(words, w -> len(w))) * 1.0
                   / len(words), 4) BETWEEN 3 AND 10
               AND round(len(list_filter(words,
                       w -> regexp_matches(w, '[a-zA-Z]')))
                   * 1.0 / len(words), 4) >= 0.8
               AND len(list_intersect(
                       list_transform(words, w -> lower(w)),
                       {_GOPHER_STOPS!r})) >= 2 AS q,
               md5(array_to_string(list_sort(list_distinct(list_filter(
                   regexp_extract_all(lower(red), '\\b[a-z]{{3,}}\\b'),
                   t -> NOT list_contains({STOPWORDS_SQL_ARRAY}, t)))), ' '))
                   AS fp
        FROM (SELECT *, regexp_extract_all(red, '\\S+') AS words FROM red)
    ),
    surv AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM gop WHERE q
    ),
    funnel0 AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN NOT blocked THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after_domain
        FROM flags GROUP BY source
    ),
    funnel1 AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_after_lines,
               CAST(sum(n_lines_in) AS BIGINT) AS n_lines_in,
               CAST(sum(n_kept) AS BIGINT) AS n_lines_kept,
               CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after_quality
        FROM gop GROUP BY source
    ),
    kept AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_after_dedup,
               CAST(sum(len(red)) AS BIGINT) AS kept_chars
        FROM surv WHERE rn = 1 GROUP BY source
    )
    SELECT f0.source, f0.n_total, f0.n_after_domain,
           coalesce(f1.n_after_lines, 0) AS n_after_lines,
           coalesce(f1.n_lines_in, 0) AS n_lines_in,
           coalesce(f1.n_lines_kept, 0) AS n_lines_kept,
           coalesce(f1.n_after_quality, 0) AS n_after_quality,
           coalesce(k.n_after_dedup, 0) AS n_after_dedup,
           coalesce(k.kept_chars, 0) AS kept_chars
    FROM funnel0 f0
    LEFT JOIN funnel1 f1 USING (source)
    LEFT JOIN kept k USING (source)
    """


@register("curation_pipeline_v3", oracle=_v3_oracle())
def curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 curation capstone (VERDICT r8 item 4): v2's funnel
    with the LINE-grain stages composed in, so the full published
    curation recipe runs in ONE DAG:

    1. DOMAIN gate (map-only, first -- blocked docs never reach the
       line shuffle);
    2. PAGE construction: the doc body's REAL lines (split on
       newline -- multi-line on corpora like testdata_sf1ml, where
       gen_testdata plants boilerplate chrome; single-line driver
       docs become one body line) sentence-terminated, plus planted
       chrome that each later rule provably catches: a unique opener
       carrying the PII contact (survives everything), a universal
       newsletter line (survives C4, only the FREQUENCY cut can kill
       it), a per-doc lorem-ipsum line (unique -- only C4 can kill
       it), and a short unterminated line (C4 word/punct rules);
    3. C4 LINE RULES (c4_line_clean semantics, Raffel et al. 2020):
       row-local HOF filter, runs BEFORE the frequency cut so the
       line-hash shuffle only carries rule-surviving lines;
    4. CROSS-DOC BOILERPLATE CUT (operators/dedup.py
       remove_boilerplate_lines, Wenzek et al. 2019 CCNet, df >= 5):
       the one line-grain exchange, hash-keyed;
    5. PII REDACTION of the rebuilt page (functions/redact.py chain);
    6. GOPHER word rules on the redacted text (same rounded
       gopher_metrics exprs as v2);
    7. EXACT DEDUP at token-set-fingerprint grain, survivors only.

    Output: per-source funnel n_total -> n_after_domain ->
    n_after_lines (docs with >= 1 surviving line) -> n_after_quality
    -> n_after_dedup, plus line observability (n_lines_in /
    n_lines_kept over line-stage survivors) and kept chars.
    Exchanges: the line-hash distinct+count (reused by the anti
    join), the per-doc rebuild, the survivor fingerprint window, and
    three source-grain aggregates -- everything else is map-only, the
    shape that survives 100 TB. Reference semantics anchor:
    analyzer.py's filter pipeline ordering; the line stages are the
    C4/CCNet recipe the reference's single-doc scope never needed."""
    from conversation_analysis_tools_spark.functions.redact import redact_pii
    from conversation_analysis_tools_spark.functions.text import tokens_expr
    from conversation_analysis_tools_spark.operators import dedup as D2
    from conversation_analysis_tools_spark.operators.cache import track

    from conversation_analysis_tools_spark.functions import chrome as CH

    docs = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    page = F.concat_ws(
        "\n",
        F.concat(
            F.lit(CH.OPENER_PREFIX), sid,
            F.lit(CH.OPENER_MID),
            F.col("source"), F.lit(CH.OPENER_SUFFIX),
        ),
        F.lit(CH.NEWSLETTER_LINE),
        F.concat(F.lit(CH.LOREM_PREFIX), sid, F.lit(CH.LOREM_SUFFIX)),
        F.lit(CH.SHORT_LINE),
        F.array_join(
            F.transform(F.split("text", "\n"), lambda l: F.concat(l, F.lit(" ."))),
            "\n",
        ),
    )
    base = track(
        docs.select(
            "doc_id",
            "source",
            _planted_host_expr().isin(_HOST_BLOCKLIST).alias("blocked"),
            page.alias("page"),
        )
    )
    lines_arr = F.split("page", "\n")
    c4_kept = F.filter(
        lines_arr,
        lambda l: l.rlike('[.!?"]$')
        & (F.size(F.split(l, " ")) >= 5)
        & ~F.contains(F.lower(l), F.lit("lorem ipsum"))
        & ~F.contains(l, F.lit("{")),
    )
    staged = (
        base.where(~F.col("blocked"))
        .select(
            "doc_id",
            "source",
            F.size(lines_arr).alias("n_lines_in"),
            c4_kept.alias("kept_arr"),
        )
        .where(F.size("kept_arr") > 0)
        .select(
            "doc_id", "source", "n_lines_in",
            F.array_join("kept_arr", "\n").alias("page"),
        )
    )
    bl = D2.remove_boilerplate_lines(staged.select("doc_id", "page"))
    survivors = staged.select("doc_id", "source", "n_lines_in").join(
        bl.select("doc_id", "n_kept", "cleaned").where(F.col("n_kept") > 0),
        "doc_id",
    )
    red = track(
        survivors.select(
            "doc_id", "source", "n_lines_in", "n_kept",
            redact_pii("cleaned").alias("red"),
        )
    )
    metrics = gopher_metrics(red.select("doc_id", F.col("red").alias("text")))
    fp = F.md5(
        F.array_join(F.array_sort(tokens_expr("red")), " ").cast("binary")
    )
    gop = red.join(metrics, "doc_id").select(
        "doc_id",
        "source",
        "n_lines_in",
        "n_kept",
        "red",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_frac") >= 0.8)
            & (F.col("n_stops") >= 2)
        ).alias("q"),
        fp.alias("fp"),
    )
    # the fp-dedup survivor is the min doc_id among quality rows of
    # each fingerprint -- a window min over ALL gop rows, so the
    # dedup tallies (n_after_dedup, kept_chars) fold into the SAME
    # source-grain aggregate as the line/quality funnel counts: one
    # fp shuffle + one source aggregate instead of two aggregates +
    # a row_number window on a filtered copy + an extra join
    min_q_id = F.min(F.when(F.col("q"), F.col("doc_id"))).over(
        Window.partitionBy("fp")
    )
    keep1 = F.col("q") & (F.col("doc_id") == min_q_id)
    funnel0 = base.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(~F.col("blocked"), 1).otherwise(0)).alias("n_after_domain"),
    )
    funnel1 = (
        gop.withColumn("_keep1", keep1)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_after_lines"),
            F.sum("n_lines_in").alias("n_lines_in"),
            F.sum("n_kept").alias("n_lines_kept"),
            F.sum(F.when(F.col("q"), 1).otherwise(0)).alias("n_after_quality"),
            F.count(F.when(F.col("_keep1"), 1)).alias("n_after_dedup"),
            F.sum(F.when(F.col("_keep1"), F.length("red"))).alias("kept_chars"),
        )
    )
    return (
        funnel0.join(funnel1, "source", "left")
        .select(
            "source",
            "n_total",
            "n_after_domain",
            F.coalesce("n_after_lines", F.lit(0)).alias("n_after_lines"),
            F.coalesce("n_lines_in", F.lit(0)).alias("n_lines_in"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("n_after_quality", F.lit(0)).alias("n_after_quality"),
            F.coalesce("n_after_dedup", F.lit(0)).alias("n_after_dedup"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
        )
    )
