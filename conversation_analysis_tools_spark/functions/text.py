"""Text expressions: tokenizer, stopword removal, sentence split,
complexity metrics.

Semantics mirror the reference exactly (citations into
/root/reference):

* tokenize = ``re.findall(r'\\b[a-z]{3,}\\b', text.lower())`` then drop
  stopwords (pipeline/relevance_scorer.py:44-60; same function repeated
  in pipeline/summarizer.py:63-76 and pipeline/duplicate_detector.py:42-55).
* 93-word default English stopword set
  (pipeline/relevance_scorer.py:28-42).
* sentence split = ``re.split(r'[.!?]+')``, strip, keep sentences with
  >= 3 words (pipeline/summarizer.py:42-61).
* complexity metrics: sentences ~ LENGTH(c)-LENGTH(REPLACE(c,'.','')),
  words ~ space count + 1 (exper_sql.py:988-1005).

All are pure column expressions -> whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.functions.lits import array_lit

# Default English stopwords -- the reference's exact set
# (pipeline/relevance_scorer.py:28-42).
STOPWORDS: tuple[str, ...] = (
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you", "your",
    "yours", "yourself", "yourselves", "he", "him", "his", "himself", "she", "her",
    "hers", "herself", "it", "its", "itself", "they", "them", "their", "theirs",
    "themselves", "what", "which", "who", "whom", "this", "that", "these", "those",
    "am", "is", "are", "was", "were", "be", "been", "being", "have", "has", "had",
    "having", "do", "does", "did", "doing", "a", "an", "the", "and", "but", "if",
    "or", "because", "as", "until", "while", "of", "at", "by", "for", "with",
    "about", "against", "between", "into", "through", "during", "before", "after",
    "above", "below", "to", "from", "up", "down", "in", "out", "on", "off", "over",
    "under", "again", "further", "then", "once",
)

#: Tokenizer regex -- identical to the reference's
#: ``\b[a-z]{3,}\b`` (works in both Java regex and DuckDB's RE2).
TOKEN_PATTERN = r"\b[a-z]{3,}\b"

#: SQL literal array of stopwords, reused by the DuckDB oracle strings.
STOPWORDS_SQL_ARRAY = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def raw_tokens_expr(text: Column | str) -> Column:
    """``[a-z]{3,}`` word extraction on lowercased text, stopwords kept."""
    col = F.col(text) if isinstance(text, str) else text
    # idx=0 = whole match (Spark defaults to capture group 1, which
    # errors on group-free patterns; DuckDB returns group 0 by default)
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)


def tokens_expr(text: Column | str) -> Column:
    """Reference tokenizer as an array<string> column expression."""
    return F.array_except(raw_tokens_expr(text), array_lit(sorted(STOPWORDS)))


def tokens_with_dupes_expr(text: Column | str) -> Column:
    """Tokenizer that preserves duplicate tokens after stopword removal.

    ``array_except`` dedups its output; TF computation needs the
    multiset, so filter with a higher-order function instead.
    """
    raw = raw_tokens_expr(text)
    stop = array_lit(sorted(STOPWORDS))
    return F.filter(raw, lambda t: ~F.array_contains(stop, t))


def ws_trim_expr(col: Column) -> Column:
    """Python ``str.strip()`` equivalent: strips ALL whitespace, not
    just spaces (Spark/DuckDB ``trim`` are space-only -- a measured
    parity gap vs the reference's .strip())."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def sentences_expr(text: Column | str) -> Column:
    """Sentence split: ``[.!?]+`` delimiters, trimmed, >= 3 words.

    Mirrors pipeline/summarizer.py:42-61 (trim == str.strip, all
    whitespace).
    """
    col = F.col(text) if isinstance(text, str) else text
    parts = F.split(col, r"[.!?]+")
    trimmed = F.transform(parts, lambda s: ws_trim_expr(s))
    return F.filter(
        trimmed,
        lambda s: (s != "") & (F.size(F.split(s, r"\s+")) >= 3),
    )


def word_count_expr(text: Column | str) -> Column:
    """Approximate word count: spaces + 1 (exper_sql.py:992-993 idiom)."""
    col = F.col(text) if isinstance(text, str) else text
    return (
        F.length(col) - F.length(F.replace(col, F.lit(" "), F.lit(""))) + F.lit(1)
    )


def sentence_count_expr(text: Column | str) -> Column:
    """Approximate sentence count: number of '.' chars (exper_sql.py:992)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.length(col) - F.length(F.replace(col, F.lit("."), F.lit("")))
