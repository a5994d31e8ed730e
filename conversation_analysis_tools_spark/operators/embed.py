"""N26 embedding generation: TF-IDF vectors as an ArrayType(Float)
column, replacing the reference's TfidfVectorizer(max_features=5000)
cache (sql_search.py:1161-1249: fit on <=10k sampled messages, npz
cache on disk).

Spark-first: vocabulary = top-`vocab_size` terms by document frequency
(the reference's max_features cut); weights = the engine's own
reference-exact TF-IDF (operators/tfidf.py), pivoted into a dense
vocab-aligned array. The "cache" is a parquet table (id, embedding) --
exactly the driver's embeddings-table shape, so downstream cosine /
ANN / dedup operators consume it unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.operators import tfidf as T


def tfidf_embeddings(
    docs: DataFrame,
    vocab_size: int = 5000,
    dtype: str = "float",
) -> DataFrame:
    """(id, text) -> (id, embedding array<float>) dense TF-IDF vectors.

    Two shuffles total: term counts, then the per-doc map pivot; the
    vocabulary (top-df terms, tie-broken lexicographically for
    determinism) is collected once and inlined -- it is bounded by
    vocab_size, never by corpus size.
    """
    tokens = T.explode_tokens(docs)
    n_docs = docs.count()
    counts = T.term_counts(tokens)
    df_tbl = counts.groupBy("term").agg(F.count("*").alias("df"))
    vocab = [
        r["term"]
        for r in df_tbl.orderBy(F.desc("df"), F.asc("term")).limit(vocab_size).collect()
    ]
    vocab = sorted(vocab)

    tf = T.tf_max(counts)
    idf_df = T.idf_from_counts(counts, n_docs)
    w = T.tfidf(tf, idf_df).where(F.col("term").isin(vocab))

    ent = F.map_from_entries(F.collect_list(F.struct("term", "tfidf")))
    per_doc = w.groupBy("doc_id").agg(ent.alias("m"))
    # float32 mimics the reference's npz cache; dtype="double" keeps
    # full precision for oracle-checked serializations
    vec = F.array(
        *[
            F.coalesce(F.element_at("m", F.lit(t)), F.lit(0.0)).cast(dtype)
            for t in vocab
        ]
    )
    # docs with zero tokens keep a zero vector (left join against corpus)
    out = docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        F.col("doc_id"), vec.alias("embedding")
    )
    return out
