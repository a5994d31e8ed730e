"""Search CLI + API -- the Spark counterpart of the reference's
``sql_search.py`` entry point (its menu flows: keyword search with
highlighted snippets :211-281, boolean search :299-349, summary stats
:1150-1260, ad-hoc SQL :2015-2141, CSV/JSON export :1832-2006).

The reference is an interactive menu over SQLite; batch flags are the
CLI-appropriate shape for a distributed engine (each invocation is
one Spark job), and every flow is also a plain function so notebooks
can call the same API::

    python -m conversation_analysis_tools_spark.search \
        --data /root/testdata/sf0.001 "machine learning"
    ... --boolean "hash AND window NOT vector"
    ... --sql "SELECT source, count(*) FROM documents GROUP BY 1"
    ... --stats
    ... "spark" --export /tmp/hits.csv

Search runs over the ``documents`` table of ``--data``; ``--sql``
sees every testdata table registered as a view (same names the
oracle uses).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Context chars either side of a snippet match (sql_search.py:259).
SNIPPET_CONTEXT = 60


def snippet_search(
    docs: DataFrame,
    query: str,
    context: int = SNIPPET_CONTEXT,
    text_col: str = "text",
) -> DataFrame:
    """Case-insensitive substring hits with a highlighted context
    snippet (sql_search.py:253-281): first match position, ``context``
    chars either side, '...' at clipped edges, every occurrence
    wrapped in brackets. Pure column expressions -- the filter and
    snippet run inside codegen; ``text`` is pruned after projection."""
    q = query.lower()
    t = F.col(text_col)
    low = F.lower(t)
    pos0 = F.locate(q, low) - 1  # 0-based first match
    n = F.length(t)
    s0 = F.greatest(F.lit(0), pos0 - context)
    e0 = F.least(n, pos0 + len(q) + context)
    import re as _re

    # replacement "[$0]": $0 echoes the ORIGINAL match (casing kept),
    # and nothing from the user query lands in the replacement string
    # (where $ and \ are Java replacement metacharacters)
    snippet = F.concat(
        F.when(s0 > 0, F.lit("...")).otherwise(F.lit("")),
        F.regexp_replace(
            F.substring(t, (s0 + 1).cast("int"), (e0 - s0).cast("int")),
            "(?i)" + _re.escape(q),
            "[$0]",
        ),
        F.when(e0 < n, F.lit("...")).otherwise(F.lit("")),
    )
    return docs.where(low.contains(q)).select(
        "doc_id", "source", snippet.alias("snippet")
    )


def boolean_predicate(expr: str, text_col: str = "text") -> Column:
    """``a AND b NOT c OR d`` -> one Catalyst predicate
    (sql_search.py:299-349 builds the same LIKE tree). OR binds
    loosest; within an OR-branch, terms chain with AND and a NOT
    prefix negates the following term.

    Only UPPERCASE ``AND``/``OR``/``NOT`` are operators: lowercase
    ``and``/``or``/``not`` fall through to literal search terms, so
    the operator words themselves stay searchable (matching is still
    case-insensitive on the text side)."""
    low = F.lower(F.col(text_col))
    branch = None
    pred = None
    toks = expr.split()
    i = 0
    while i < len(toks):
        tok = toks[i]
        up = tok if tok in ("AND", "OR", "NOT") else None
        if up == "OR":
            if branch is None or i == len(toks) - 1:
                raise ValueError(f"dangling OR in {expr!r}")
            pred = branch if pred is None else (pred | branch)
            branch = None
        elif up in ("AND", "NOT"):
            neg = up == "NOT"
            i += 1
            # "a AND NOT b": AND may be followed by a NOT operator,
            # not a literal term
            if not neg and i < len(toks) and toks[i] == "NOT":
                neg = True
                i += 1
            if i >= len(toks):
                raise ValueError(f"dangling {up} in {expr!r}")
            term = low.contains(toks[i].lower())
            term = ~term if neg else term
            branch = term if branch is None else (branch & term)
        else:
            term = low.contains(tok.lower())
            branch = term if branch is None else (branch & term)
        i += 1
    if branch is not None:
        pred = branch if pred is None else (pred | branch)
    if pred is None:
        raise ValueError(f"empty boolean expression {expr!r}")
    return pred


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Per-source summary (sql_search.py:1150-1260 stats menu)."""
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.count_distinct("lang").alias("n_langs"),
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        description="Search the document corpus (sql_search.py counterpart)"
    )
    p.add_argument("query", nargs="?", help="keyword for snippet search")
    p.add_argument("--data", default="/root/testdata/sf0.001", help="sf dir")
    p.add_argument(
        "--boolean",
        help="boolean expression: a AND b NOT c OR d (operators must be "
        "UPPERCASE; lowercase and/or/not are searched as literal terms)",
    )
    p.add_argument("--sql", help="ad-hoc SQL over the registered tables")
    p.add_argument("--stats", action="store_true", help="per-source summary")
    p.add_argument("--limit", type=int, default=20, help="rows to print")
    p.add_argument("--export", help="write full result as .csv/.json dir")
    p.add_argument("--master", default=None, help="Spark master override")
    args = p.parse_args(argv)

    from conversation_analysis_tools_spark.catalog import register_views
    from conversation_analysis_tools_spark.session import get_spark
    from conversation_analysis_tools_spark.sources import sinks

    spark = get_spark(app_name="cats-search", master=args.master)
    docs = register_views(spark, args.data)["documents"]

    if args.sql:
        result = spark.sql(args.sql)
    elif args.boolean:
        result = docs.where(boolean_predicate(args.boolean)).select(
            "doc_id", "source", "n_chars"
        )
    elif args.stats:
        result = corpus_stats(docs)
    elif args.query:
        result = snippet_search(docs, args.query)
    else:
        p.error("give a query, --boolean, --sql, or --stats")

    result.show(args.limit, truncate=False)
    if args.export:
        if args.export.endswith(".json"):
            result.write.mode("overwrite").json(args.export)
        else:
            sinks.write_csv(result, args.export)
        print(f"exported -> {args.export}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
