"""Shared column-expression library.

Everything here is a *native* Spark column expression (JVM-side,
whole-stage-codegen friendly). No row-at-a-time Python UDFs: the hot
path stays in Tungsten; the engine's Python crossings are its pandas
UDF operators (grouped-pandas TextRank, mapInPandas stages), never
these expressions.
"""

from conversation_analysis_tools_spark.functions.text import (
    STOPWORDS,
    tokens_expr,
    sentences_expr,
    word_count_expr,
    sentence_count_expr,
)
from conversation_analysis_tools_spark.functions.timeutil import (
    sqlite_dow,
    hour_bucket,
    month_bucket,
    epoch_micros,
    gap_seconds,
)
from conversation_analysis_tools_spark.functions.vector import (
    dot_expr,
    norm_expr,
    cosine_expr,
)

__all__ = [
    "STOPWORDS",
    "tokens_expr",
    "sentences_expr",
    "word_count_expr",
    "sentence_count_expr",
    "sqlite_dow",
    "hour_bucket",
    "month_bucket",
    "epoch_micros",
    "gap_seconds",
    "dot_expr",
    "norm_expr",
    "cosine_expr",
]
