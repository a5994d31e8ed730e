"""Reference-exact TF / IDF / TF-IDF as distributed long-format tables.

Formula fidelity (SURVEY §7 hard-part #5 -- these differ from
``pyspark.ml.feature.IDF``, so they are hand-built):

* TF max-normalized: ``count / max(count) within doc``
  (pipeline/relevance_scorer.py:62-78).
* TF sum-normalized: ``count / sum(count) within doc``
  (pipeline/duplicate_detector.py:57-72).
* IDF: ``ln(N / (1 + df))`` with unseen-term fallback ``ln(N + 1)``
  (pipeline/relevance_scorer.py:80-101,122).

Long format ``(doc_id, term, weight)`` rather than map columns: joins
and aggregations over terms are then plain shuffles Catalyst can
optimize, and the inverted-index similarity join (similarity.py) reads
it directly. At 100 TB the token explode is a flatMap (no shuffle);
the groupBy(doc_id, term) count is the only shuffle and it partial-
aggregates map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conversation_analysis_tools_spark.functions.text import tokens_with_dupes_expr


def explode_tokens(df: DataFrame) -> DataFrame:
    """(id, text) -> (id, term) multiset, reference tokenizer.

    The trailing ``isnotnull`` filters are no-ops on engine corpora
    (ids are primary keys, regexp matches are never null) kept for
    plan alignment: joins downstream of the shared token table infer
    exactly these filters into SOME consumer branches but not others
    (an inner join on term adds isnotnull(term); a left join back to
    docs adds isnotnull(id) -- pushed all the way into that branch's
    parquet scan), which stops the branches canonicalizing equal and
    blocks exchange reuse. With both filters always present, every
    consumer of the (id, term) exchange shares ONE scan + tokenize +
    partial-aggregate instead of paying a full corpus pass per
    branch.

    The input is spread to full scan parallelism first (round 12,
    guide §2.5/§6): the corpora arrive as single-row-group parquet, so
    without the repartition the regex tokenize -- the dominant
    per-task cost of every token-family query -- runs as ONE task
    (measured 4.8-5.2 s inside each of nlp_tfidf /
    pipeline_analysis_results / nlp_duplicate_pairs at sf1 on
    local[32]). The repartition moves only the narrow (id, text) rows
    and is a no-op at scale (or under 512 KB); with the exchange
    sitting BELOW the tokenize, multi-consumer plans reuse the
    repartition exchange and each branch tokenizes in parallel --
    2 x (cost/32) beats 1 x cost single-task long before 32-way
    corpora stop fitting one split.
    """
    from conversation_analysis_tools_spark.functions.spread import spread_input

    return spread_input(df, "doc_id").select(
        F.col("doc_id"), F.explode(tokens_with_dupes_expr("text")).alias("term")
    ).where(F.col("doc_id").isNotNull() & F.col("term").isNotNull())


def term_counts(tokens: DataFrame) -> DataFrame:
    """(id, term) multiset -> (id, term, cnt)."""
    return tokens.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))


def tf_max(counts: DataFrame) -> DataFrame:
    """Max-normalized TF (relevance-scorer variant)."""
    w = Window.partitionBy("doc_id")
    return counts.select(
        "doc_id", "term", (F.col("cnt") / F.max("cnt").over(w)).alias("tf")
    )


def tf_sum(counts: DataFrame) -> DataFrame:
    """Sum-normalized TF (duplicate-detector variant)."""
    w = Window.partitionBy("doc_id")
    return counts.select(
        "doc_id", "term", (F.col("cnt") / F.sum("cnt").over(w)).alias("tf")
    )


def idf(tokens: DataFrame, corpus_size: int | Column) -> DataFrame:
    """Per-term IDF table: ``ln(N / (1 + df))``.

    ``corpus_size`` is N = total docs (including docs with zero
    tokens), matching build_idf's ``len(documents)``.
    """
    n = F.lit(corpus_size) if isinstance(corpus_size, int) else corpus_size
    return (
        tokens.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select("term", F.log(n / (F.lit(1) + F.col("df"))).alias("idf"))
    )


def idf_from_counts(counts: DataFrame, corpus_size: int | Column) -> DataFrame:
    """Per-term IDF from the (id, term, cnt) table.

    ``counts`` rows are already distinct (id, term), so df is a plain
    count per term -- re-aggregating the compact counts table instead
    of running a second countDistinct shuffle over the raw token
    stream. Same result as ``idf``; preferred whenever the counts
    table is already materialized (it usually is: TF needs it).

    The count deliberately references ``cnt`` through a predicate the
    optimizer cannot fold (``count(when(cnt >= 1, 1))`` == count(*),
    since cnt >= 1 always): with a plain ``count(*)`` -- or even
    ``count(cnt)``, which NullPropagation folds back to ``count(1)``
    because cnt is non-nullable -- column pruning rewrites this
    branch into a distinct, its (id, term) exchange no longer
    canonicalizes equal to the TF branch's, and exchange reuse cannot
    fire: the corpus is then scanned and tokenized TWICE in every
    unpersisted two-consumer plan (at 100 TB a second full pass over
    the corpus). With the opaque predicate both subtrees stay
    identical up to the shared exchange (together with
    explode_tokens's isnotnull alignment filter), which AQE then
    materializes once: nlp_tfidf's event-log profile drops from two
    ~0.4 s tokenize jobs to one.
    """
    n = F.lit(corpus_size) if isinstance(corpus_size, int) else corpus_size
    return (
        counts.groupBy("term")
        .agg(F.count(F.when(F.col("cnt") >= 1, 1)).alias("df"))
        .select("term", F.log(n / (F.lit(1) + F.col("df"))).alias("idf"))
    )


def tfidf(tf_df: DataFrame, idf_df: DataFrame) -> DataFrame:
    """Join TF x IDF -> (id, term, tfidf).

    The IDF side is tiny (vocabulary-sized) -> broadcast, so the TF
    table never shuffles for this join.
    """
    return tf_df.join(F.broadcast(idf_df), "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf")).alias("tfidf")
    )
