"""Relational core queries (SURVEY.md §2.2-2.8) with DuckDB oracles.

Each query re-expresses a reference pattern on the driver's synthetic
star schema (FIXTURES.md §C maps reference tables -> driver tables).
Citations in each docstring point at the reference implementation the
semantics come from.

Scale discipline applied throughout:
* filters/projections first so parquet pushdown + pruning fire;
* ``broadcast()`` on dimension sides of joins;
* window-function ``lead`` instead of the reference's self-join for
  sequential pairs (one shuffle instead of two scans + join);
* aggregates rounded to 4 decimals on both engine sides (hash parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conversation_analysis_tools_spark.functions.numeric import avg4, cents
from conversation_analysis_tools_spark.functions.timeutil import (
    gap_seconds,
    hour_bucket,
    month_bucket,
    sqlite_dow,
)
from conversation_analysis_tools_spark.operators.temporal import yearly_windowed
from conversation_analysis_tools_spark.queries.registry import register
from conversation_analysis_tools_spark.catalog import table as _catalog_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _catalog_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# Flagship: sequential-pair response time (J3/W2/A9)
# ---------------------------------------------------------------------------


@register(
    "event_response_time",
    oracle="""
    WITH nxt AS (
        SELECT event_type, ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        FROM events
    )
    SELECT event_type,
           count(*) AS n_pairs,
           CAST(floor(CAST(2 * (sum(epoch_us(next_ts) - epoch_us(ts))) + (100 * count(*)) AS DOUBLE) / CAST(2 * (100 * count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE)
               AS avg_gap_sec
    FROM nxt
    WHERE next_ts IS NOT NULL
    GROUP BY event_type
    """,
    doc="Flagship: next-event gap per user via lead(), avg by type.",
)
def event_response_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential message-pair response time, recast on events.

    Reference: message_pairs view self-join ``h.msg_order + 1 =
    a.msg_order`` (create_views.sql:21-25) + response-time aggregation
    ``(julianday(t2)-julianday(t1))*24*60`` (advanced_queries.sql:100-118).

    Spark-first: the self-join becomes ``lead() OVER (PARTITION BY
    user_id ORDER BY ts)`` -- one shuffle on user_id instead of a
    self-join (two scans + shuffle both sides). The window partition
    key (user_id) is high-cardinality => scales linearly; no skew at
    100 TB because per-user event counts are bounded.
    """
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("event_type", "ts", "user_id", "event_id")
        .withColumn("next_ts", F.lead("ts").over(w))
        .where(F.col("next_ts").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            # exact integer-microsecond sum + integer half-up rounding
            # (functions/numeric.py): bit-identical to the oracle at
            # any summation order, including .00005 boundaries
            avg4(
                F.sum(F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))),
                F.count("*") * 100,
            ).alias("avg_gap_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Filters / predicates (F1-F12)
# ---------------------------------------------------------------------------


@register(
    "substring_search",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE lower(text) LIKE '%spark%'
    """,
)
def substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 keyword search: SQLite ``LIKE '%kw%'`` is ASCII
    case-insensitive (sql_search.py:211-238), so lower() both sides.

    The contains() predicate pushes to the parquet scan as a row-group
    filter only via min/max (ineffective for substrings) but column
    pruning still drops ``text`` after the filter -- the projected
    output is 3 narrow columns, not the 100KB text.
    """
    docs = _t(spark, sf_dir, "documents")
    return docs.where(F.lower(F.col("text")).contains("spark")).select(
        "doc_id", "source", "n_chars"
    )


#: Snippet context chars either side of the match (sql_search.py:259).
SNIPPET_CONTEXT = 60
SNIPPET_QUERY = "spark"


@register(
    "snippet_highlight",
    oracle=f"""
    WITH hits AS (
        SELECT doc_id, source, text,
               strpos(lower(text), '{SNIPPET_QUERY}') - 1 AS pos0,
               length(text) AS n
        FROM documents
        WHERE lower(text) LIKE '%{SNIPPET_QUERY}%'
    ),
    bounds AS (
        SELECT doc_id, source, text, n,
               greatest(0, pos0 - {SNIPPET_CONTEXT}) AS s0,
               least(n, pos0 + {len(SNIPPET_QUERY)} + {SNIPPET_CONTEXT}) AS e0
        FROM hits
    )
    SELECT doc_id, source,
           (CASE WHEN s0 > 0 THEN '...' ELSE '' END)
           || regexp_replace(substr(text, CAST(s0 + 1 AS INT), CAST(e0 - s0 AS INT)),
                             '(?i){SNIPPET_QUERY}', '[{SNIPPET_QUERY}]', 'g')
           || (CASE WHEN e0 < n THEN '...' ELSE '' END) AS snippet
    FROM bounds
    """,
)
def snippet_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippet extraction + keyword highlight
    (sql_search.py:253-281): take the first case-insensitive match
    position, cut ``SNIPPET_CONTEXT`` chars of context either side,
    add '...' ellipses at clipped edges, and wrap every match in
    brackets (the engine-side stand-in for the reference's ANSI color
    escapes -- presentation chooses the wrapper).

    Pure column expressions (locate / substring / regexp_replace), so
    the whole post-process stays in whole-stage codegen right behind
    the search filter -- no second pass over the corpus and nothing
    leaves the JVM. Title truncation (sql_search.py:270-272) is a
    display concern left to the markdown/HTML sinks."""
    docs = _t(spark, sf_dir, "documents")
    q, ctx = SNIPPET_QUERY, SNIPPET_CONTEXT
    hits = docs.where(F.lower(F.col("text")).contains(q)).select(
        "doc_id",
        "source",
        "text",
        (F.locate(q, F.lower(F.col("text"))) - 1).alias("pos0"),
        F.length("text").alias("n"),
    )
    bounds = hits.select(
        "doc_id",
        "source",
        "text",
        "n",
        F.greatest(F.lit(0), F.col("pos0") - ctx).alias("s0"),
        F.least(F.col("n"), F.col("pos0") + len(q) + ctx).alias("e0"),
    )
    core = F.substring(
        F.col("text"), (F.col("s0") + 1).cast("int"), (F.col("e0") - F.col("s0")).cast("int")
    )
    snippet = F.concat(
        F.when(F.col("s0") > 0, F.lit("...")).otherwise(F.lit("")),
        F.regexp_replace(core, f"(?i){q}", f"[{q}]"),
        F.when(F.col("e0") < F.col("n"), F.lit("...")).otherwise(F.lit("")),
    )
    return bounds.select("doc_id", "source", snippet.alias("snippet"))


@register(
    "boolean_search",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE (lower(text) LIKE '%hash%' AND lower(text) LIKE '%window%'
           AND lower(text) NOT LIKE '%vector%')
       OR lower(text) LIKE '%stream%'
    """,
)
def boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 boolean keyword combo: the reference parses ``a AND b NOT c
    OR d`` into a LIKE tree (sql_search.py:299-349). Same predicate as
    one Catalyst filter -- constant-folded, evaluated in one pass.
    """
    docs = _t(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    pred = (
        t.contains("hash") & t.contains("window") & ~t.contains("vector")
    ) | t.contains("stream")
    return docs.where(pred).select("doc_id", "lang")


@register(
    "date_range_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
      AND o_orderstatus = 'O'
    """,
)
def date_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 date-range + F3 equality predicate
    (sql_search.py:551-567,720-723).

    ``to_date`` + between compiles to a timestamp range predicate that
    *does* push down to parquet row-group min/max stats -- at 100 TB
    with date-partitioned layout this becomes partition pruning.
    """
    orders = _t(spark, sf_dir, "orders")
    return orders.where(
        F.to_date("o_orderdate").between("1996-01-01", "1996-12-31")
        & (F.col("o_orderstatus") == "O")
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "semi_join_exists",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    """,
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 correlated EXISTS -> left_semi join (sql_search.py:576-577,
    851-855: conversations having >=1 matching message).

    The filter on the probe side (totalprice) is applied *before* the
    semi-join so the shuffled build side is minimal.
    """
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "topic_cooccurrence_filter",
    oracle="""
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE lower(d.text) LIKE '%join%' AND lower(d.text) LIKE '%shuffle%'
       OR lower(d.text) LIKE '%merge%' AND lower(d.text) LIKE '%sort%'
    """,
)
def topic_cooccurrence_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 topic co-occurrence: the reference runs two correlated scalar
    COUNT subqueries per conversation (exper_sql.py:2511-2523); on a
    single text column that decorrelates to a plain conjunction of
    contains -- one scan, zero joins.
    """
    docs = _t(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    return docs.where(
        (t.contains("join") & t.contains("shuffle"))
        | (t.contains("merge") & t.contains("sort"))
    ).select("doc_id", "source")


@register(
    "quantile_filter",
    oracle="""
    WITH q AS (SELECT quantile_cont(value, 0.95) AS p95 FROM events)
    SELECT e.event_type,
           count(*) AS n_outliers,
           CAST(floor(CAST(2 * (sum(CAST(round((e.value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_outlier_value
    FROM events e, q
    WHERE e.value > q.p95
    GROUP BY e.event_type
    """,
)
def quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 outlier/quantile filter (exper_sql.py:2675: hist range capped
    at quantile(0.95)).

    Exact ``percentile`` here for oracle parity; at 100 TB swap to
    ``percentile_approx`` (single-pass sketch, no full sort) -- the
    scalar is then broadcast into the filter, which is what the
    cross-join-with-1-row plan below already does.
    """
    events = _t(spark, sf_dir, "events")
    p95 = events.agg(F.percentile("value", F.lit(0.95)).alias("p95"))
    return (
        events.crossJoin(F.broadcast(p95))
        .where(F.col("value") > F.col("p95"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_outliers"),
            avg4(F.sum(cents("value")) * 100, F.count("*")).alias("avg_outlier_value"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (J1-J8)
# ---------------------------------------------------------------------------


@register(
    "join_workhorse",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_workhorse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 the workhorse equi-join chain (messages ⋈ conversations idiom,
    create_views.sql:82 and ~30 other sites), recast as
    lineitem ⋈ orders ⋈ customer revenue by segment.

    Physical strategy: customer is a dimension -> broadcast (no shuffle
    of the fact table for that join); lineitem⋈orders shuffles on
    orderkey, which the 100 TB layout makes shuffle-free via bucketing
    both sides by orderkey (layout.write_bucketed). Only the 3 needed columns are
    scanned from lineitem.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "left_join_keep_empty",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS order_count,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def left_join_keep_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 left outer join so empty groups keep a row
    (create_views.sql:42: conversations LEFT JOIN messages).
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


@register(
    "ordered_id_join",
    oracle="""
    WITH ranked AS (
        SELECT o_orderkey, o_totalprice,
               row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    )
    SELECT rnk, o_orderkey, o_totalprice
    FROM ranked
    WHERE rnk <= 25
    """,
)
def ordered_id_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 CASE-ordered ID fetch (sql_search.py:462-481: fetch by ID list
    preserving similarity order). Spark-first: join against a small
    (id, rank) relation is the general form; here the rank relation is
    derived by window so the oracle can reproduce it exactly.

    Scale: ``orderBy().limit(k)`` compiles to TakeOrderedAndProject
    (per-partition top-k, merged on the driver) -- the global
    ``row_number`` window only ever sees the k survivors, never the
    full table through one task (the bm25_topk pattern)."""
    orders = _t(spark, sf_dir, "orders")
    top = (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return top.select(
        F.row_number().over(w).alias("rnk"), "o_orderkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A22)
# ---------------------------------------------------------------------------


@register(
    "group_counts",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 COUNT(*) by group (access_db.py:33-40). Partial aggregation
    (map-side combine) is automatic; output cardinality == #types.
    """
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "conditional_agg",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchases,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors,
           round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 4)
               AS purchase_value
    FROM events
    GROUP BY user_id
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 SUM(CASE WHEN ...) split counts (create_views.sql:36-37,
    sql_search.py:559-560): one pass, no per-category scans."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)),
            4,
        ).alias("purchase_value"),
    )


@register(
    "count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS unique_users,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 COUNT(DISTINCT) (create_views.sql:80, sql_search.py:845-846).

    Exact distinct here (oracle parity). At 100 TB prefer
    ``approx_count_distinct`` (HLL sketch, no expand) -- exposed as
    query 'approx_distinct' with a rows-only check.
    """
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("unique_users"),
            F.count("*").alias("n"),
        )
    )


@register(
    "length_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(floor(CAST(2 * (CAST(sum(length(text)) AS BIGINT) * 10000) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_len,
           min(length(text)) AS min_len,
           max(length(text)) AS max_len,
           CAST(sum(length(text)) AS BIGINT) AS total_len
    FROM documents
    GROUP BY lang
    """,
)
def length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 message_length_stats view: COUNT/AVG/MIN/MAX/SUM of
    LENGTH(content) per group (create_views.sql:46-56)."""
    docs = _t(spark, sf_dir, "documents")
    ln = F.length("text")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        avg4(F.sum(ln) * 10000, F.count("*")).alias("avg_len"),
        F.min(ln).alias("min_len"),
        F.max(ln).alias("max_len"),
        F.sum(ln).alias("total_len"),
    )


@register(
    "ratio_of_aggregates",
    oracle="""
    SELECT l_returnflag,
           CAST(floor(CAST(2 * (sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100) + (CAST(sum(l_quantity) AS BIGINT)) AS DOUBLE) / CAST(2 * (CAST(sum(l_quantity) AS BIGINT)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE) AS price_per_qty,
           CAST(floor(CAST(2 * (count(*) * 10000) + (count(DISTINCT l_orderkey)) AS DOUBLE) / CAST(2 * (count(DISTINCT l_orderkey)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE)
               AS lines_per_order
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def ratio_of_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 ratio of aggregates (advanced_queries.sql:15 response ratio;
    access_db.py:53-65 CAST AS FLOAT avg-messages-per-conversation)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        avg4(
            F.sum(cents("l_extendedprice")) * 100,
            F.sum("l_quantity").cast("long"),
        ).alias("price_per_qty"),
        avg4(F.count("*") * 10000, F.countDistinct("l_orderkey")).alias(
            "lines_per_order"
        ),
    )


@register(
    "having_filter",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 20
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 HAVING (access_db.py:181-189, exper_sql.py:1675): post-agg
    filter; Catalyst keeps it after the final aggregation, cardinality
    already reduced."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .where(F.col("n_events") >= 20)
    )


@register(
    "time_bucketed_agg",
    oracle="""
    SELECT strftime(ts, '%Y-%m') AS month,
           CAST(date_part('dow', ts) AS INT) AS dow,
           CAST(date_part('hour', ts) AS INT) AS hour,
           count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def time_bucketed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8 multi-dim time-bucketed agg (exper_sql.py:364-371,
    1078-1087). SQLite %w and Postgres/DuckDB dow are both 0=Sunday;
    Spark dayofweek is 1=Sunday -- sqlite_dow() normalizes."""
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            month_bucket("ts").alias("month"),
            sqlite_dow("ts").alias("dow"),
            hour_bucket("ts").alias("hour"),
        )
        .groupBy("month", "dow", "hour")
        .agg(F.count("*").alias("n"))
    )


@register(
    "histogram_buckets",
    oracle="""
    SELECT CASE
             WHEN value < 10 THEN '0-10'
             WHEN value < 50 THEN '10-50'
             WHEN value < 100 THEN '50-100'
             WHEN value < 200 THEN '100-200'
             ELSE '200+'
           END AS bucket,
           count(*) AS n,
           CAST(floor(CAST(2 * (sum(CAST(round((value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def histogram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 CASE-bucket histogram (advanced_queries.sql:77-98; pd.cut
    buckets exper_sql.py:2696-2725) as chained when()."""
    events = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 10, "0-10")
        .when(F.col("value") < 50, "10-50")
        .when(F.col("value") < 100, "50-100")
        .when(F.col("value") < 200, "100-200")
        .otherwise("200+")
    )
    return (
        events.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            avg4(F.sum(cents("value")) * 100, F.count("*")).alias("avg_value"),
        )
    )


@register(
    "group_concat_sorted",
    oracle="""
    SELECT lang,
           array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
    FROM documents
    GROUP BY lang
    """,
)
def group_concat_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 GROUP_CONCAT(DISTINCT ...) (sql_search.py:717) --
    collect_set is unordered in both engines, so sort before joining
    (SQLite's order is arbitrary; determinism requires the sort)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("source"))).alias("sources")
    )


@register(
    "pivot_counts",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
)
def pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 pivot (pandas .pivot after SQL, exper_sql.py:288-292).

    Explicit pivot value list => single-pass plan (no extra distinct
    job to discover columns) -- the form that survives at scale.
    """
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "top_values",
    oracle="""
    SELECT p_brand, count(*) AS n
    FROM part
    GROUP BY p_brand
    ORDER BY n DESC, p_brand
    LIMIT 10
    """,
)
def top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 value_counts / top-N (sql_search.py:1294-1295,
    Counter.most_common). orderBy+limit compiles to
    TakeOrderedAndProject -- no global sort."""
    return (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("p_brand"))
        .limit(10)
    )


@register(
    "stddev_agg",
    oracle="""
    SELECT event_type,
           round(stddev_samp(value), 4) AS value_stddev,
           CAST(floor(CAST(2 * (sum(CAST(round((value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE) AS value_avg
    FROM events
    GROUP BY event_type
    """,
)
def stddev_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 STDDEV -- the reference *wanted* this and fell back because
    SQLite lacks it (exper_sql.py:1808-1827); Spark has it natively."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 4).alias("value_stddev"),
            avg4(F.sum(cents("value")) * 100, F.count("*")).alias("value_avg"),
        )
    )


@register(
    "json_metadata_agg",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_total,
           CAST(floor(CAST(2 * (CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) * 10000) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE) AS k_avg
    FROM events
    GROUP BY event_type
    """,
)
def json_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON extraction over the metadata column
    (uni_parse.py:293 JSON-in-TEXT; access_db.py:203-214 json fns).
    get_json_object stays JVM-side (Jackson), no UDF."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("k_total"), avg4(F.sum(k) * 10000, F.count("*")).alias("k_avg")
    )


@register(
    "variant_props_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_min,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    GROUP BY event_type
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured metadata via the VARIANT type (beyond-reference
    upgrade of the JSON-in-TEXT idiom, uni_parse.py:293).

    ``get_json_object`` re-parses the JSON string on EVERY path access;
    ``parse_json`` decodes once into Spark 4's binary VARIANT encoding
    and ``variant_get`` then navigates the binary form -- at 100 TB
    with multi-key metadata this turns k string parses per row into
    one. The typed extraction (``$.k`` as bigint) also feeds the
    filter BEFORE the aggregate, so only qualifying rows shuffle.
    The input is spread to scan parallelism first (round 12, guide
    §2.5/§6): the single-row-group events file otherwise runs the
    whole VARIANT decode as one task."""
    from conversation_analysis_tools_spark.functions.spread import spread_input

    events = spread_input(_t(spark, sf_dir, "events"), "event_id")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        events.withColumn("k", k)
        .where(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


# ---------------------------------------------------------------------------
# Windows (W1-W5)
# ---------------------------------------------------------------------------


@register(
    "row_number_order",
    oracle="""
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM events
    """,
)
def row_number_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 ROW_NUMBER per conversation (create_views.sql:10). One
    shuffle on the partition key; at 100 TB the events table is
    pre-partitioned by user bucket so this is often shuffle-free."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select("user_id", "event_id", F.row_number().over(w).alias("seq"))


@register(
    "context_window",
    oracle="""
    WITH numbered AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        FROM events
    )
    SELECT m.user_id, m.event_id AS match_id, n.event_id AS context_id,
           n.seq - m.seq AS offset
    FROM numbered m
    JOIN numbered n
      ON n.user_id = m.user_id AND abs(n.seq - m.seq) <= 2
    WHERE m.event_type = 'error'
    """,
)
def context_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 context window: rows within +/-N positions of each match in
    the same conversation (sql_search.py:906-1027 issues one SQL query
    per match in a Python loop -- here it is ONE distributed self-join,
    not n_matches round-trips).
    """
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    numbered = events.select(
        "user_id", "event_id", "event_type", F.row_number().over(w).alias("seq")
    )
    matches = numbered.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("m_user"),
        F.col("event_id").alias("match_id"),
        F.col("seq").alias("m_seq"),
    )
    return (
        numbered.join(
            matches,
            (numbered.user_id == matches.m_user)
            & (F.abs(numbered.seq - matches.m_seq) <= 2),
        )
        .select(
            F.col("m_user").alias("user_id"),
            "match_id",
            F.col("event_id").alias("context_id"),
            (F.col("seq") - F.col("m_seq")).alias("offset"),
        )
    )


@register(
    "per_group_share",
    oracle="""
    SELECT event_type,
           CAST(date_part('hour', ts) AS INT) AS hour,
           count(*) AS n,
           round(count(*) * 100.0 / sum(count(*)) OVER (PARTITION BY event_type), 4)
               AS pct_of_type
    FROM events
    GROUP BY event_type, 2
    """,
)
def per_group_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 per-group normalization: hourly counts as % of platform total
    (exper_sql.py:1186-1193) -- window sum over the aggregate, one
    extra (tiny) shuffle on the group key."""
    events = _t(spark, sf_dir, "events")
    agg = (
        events.select("event_type", hour_bucket("ts").alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("event_type")
    return agg.select(
        "event_type",
        "hour",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(w), 4).alias("pct_of_type"),
    )


@register(
    "top_n_per_group",
    oracle="""
    WITH ranked AS (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rnk
        FROM part
    )
    SELECT p_brand, p_partkey, p_retailprice, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def top_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 rank-and-keep-top-k per group (exper_sql.py:1566-1577 pandas
    head-after-sort) -- row_number window + filter; deterministic via
    p_partkey tiebreak."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.select(
            "p_brand", "p_partkey", "p_retailprice", F.row_number().over(w).alias("rnk")
        )
        .where(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Sorts / top-k (O1-O6)
# ---------------------------------------------------------------------------


@register(
    "top_k_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 ORDER BY ... DESC LIMIT k (sql_search.py:238, LIMIT 100
    result caps). TakeOrderedAndProject: per-partition heap + driver
    merge, never a global sort."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "multi_key_sort",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, n_docs DESC, source
    """,
)
def multi_key_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 multi-key sort (create_views.sql:85: ORDER BY platform,
    message_count DESC)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang", F.desc("n_docs"), "source")
    )


# ---------------------------------------------------------------------------
# Remaining filter / join / agg / set-op surface
# ---------------------------------------------------------------------------


@register(
    "in_list_filter",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice
    FROM part
    WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
      AND p_size >= 10
    """,
)
def in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 IN-list / OR-of-equals (sql_search.py:732-740: model IN
    matched list). isin compiles to an In predicate that pushes down
    to the parquet scan."""
    part = _t(spark, sf_dir, "part")
    return part.where(
        F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#33") & (F.col("p_size") >= 10)
    ).select("p_partkey", "p_brand", "p_retailprice")


@register(
    "length_filter",
    oracle="SELECT doc_id, n_chars FROM documents WHERE length(text) > 300",
)
def length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 LENGTH(content) > k skip-short filter (sql_search.py:1200)."""
    return (
        _t(spark, sf_dir, "documents")
        .where(F.length("text") > 300)
        .select("doc_id", "n_chars")
    )


@register(
    "pair_join_unconstrained",
    oracle="""
    SELECT a.user_id,
           count(*) AS n_pairs,
           CAST(floor(CAST(2 * (sum(CAST(round(a.value * 100) AS BIGINT)
                     - CAST(round(b.value * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_value_diff
    FROM events a
    JOIN events b ON a.user_id = b.user_id
    WHERE a.event_type = 'purchase' AND b.event_type = 'error'
    GROUP BY a.user_id
    """,
)
def pair_join_unconstrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 unconstrained within-group pair join (advanced_queries.sql:11-20:
    human x assistant all-pairs per conversation, intentionally loose).

    Self-joins on a bounded-cardinality group key: per-key blowup is
    quadratic in per-user event count, which is bounded -- at 100 TB
    AQE skew-join splits any hot user.
    """
    events = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    a = events.where(F.col("event_type") == "purchase").select(
        "user_id", cents.alias("va")
    )
    b = events.where(F.col("event_type") == "error").select(
        "user_id", cents.alias("vb")
    )
    return (
        a.join(b, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            # exact cents + integer half-up rounding (functions/numeric.py)
            avg4(
                F.sum(F.col("va") - F.col("vb")) * 100, F.count("*")
            ).alias("avg_value_diff"),
        )
    )


@register(
    "json_group_export",
    oracle="""
    SELECT user_id,
           to_json(list(struct_pack(event_id := event_id, event_type := event_type)
                        ORDER BY event_id)) AS events_json
    FROM events
    GROUP BY user_id
    """,
)
def json_group_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/S8 JSON aggregation: whole group -> one JSON document
    (access_db.py:201-219 json_group_array(json_object(...))).
    Sorted by event_id first -- JSON text is byte-identical across
    engines only with a deterministic element order."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.to_json(
            F.array_sort(
                F.collect_list(F.struct(F.col("event_id"), F.col("event_type")))
            )
        ).alias("events_json")
    )


@register(
    "csv_roundtrip",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS text_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(sum(length('q"uo,te:' || source)) AS BIGINT) AS tricky_chars,
           CAST(sum(length('  pad ' || source || '  ')) AS BIGINT)
               AS padded_chars
    FROM documents
    GROUP BY source
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 CSV sink, driver-certified end to end (upgrades the sink
    from pytest-only): write the documents projection through
    sources/sinks.write_csv, read the directory BACK with the source
    schema in FAILFAST mode, and emit per-source aggregates the
    oracle recomputes straight from the source table -- any row the
    write dropped/duplicated, any value the text round trip mangled,
    or any parse drift (FAILFAST turns silent permissive-mode nulls
    into loud failure) flips a sum. The ``tricky`` column INJECTS the
    CSV-hostile class (embedded quote + delimiter) so the writer's
    quoting and the reader's unescaping are exercised on every row,
    not just on whatever the corpus happens to contain; the
    ``padded`` column injects leading/trailing whitespace, the class
    the writer's default ignore*WhiteSpace=true would silently trim
    (write_csv pins both options false -- this column keeps that
    pin honest). Embedded
    NEWLINES are deliberately out of contract for this sink: reading
    them needs multiLine=true, which makes files non-splittable -- at
    100 TB newline-bearing exports belong in the parquet/JSON sinks
    (reference CSV exporter: sql_search.py:1970-2006 csv.writer,
    which has the same row-per-line framing). Staging is the
    deterministic per-sf_dir dir (bounded disk, same policy as
    shard_manifest)."""
    from conversation_analysis_tools_spark.catalog import staging_dir
    from conversation_analysis_tools_spark.sources.sinks import write_csv

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.concat(F.lit('q"uo,te:'), F.col("source")).alias("tricky"),
        F.concat(F.lit("  pad "), F.col("source"), F.lit("  ")).alias("padded"),
    )
    out = staging_dir("csv_export", sf_dir)
    write_csv(docs, out)
    back = (
        spark.read.schema(docs.schema)
        .option("header", "true")
        .option("mode", "FAILFAST")
        .csv(out)
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("text_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum(F.length("tricky")).alias("tricky_chars"),
        F.sum(F.length("padded")).alias("padded_chars"),
    )


@register(
    "set_except_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def set_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set ops: EXCEPT (reference does this with Python sets,
    content_analysis.py:104-131; engine gets SQL set ops natively).
    Catalyst plans EXCEPT as a left-anti aggregate join."""
    events = _t(spark, sf_dir, "events")
    purch = events.where(F.col("event_type") == "purchase").select("user_id")
    errs = events.where(F.col("event_type") == "error").select("user_id")
    return purch.distinct().exceptAll(errs.distinct())


@register(
    "random_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR))
    LIMIT 50
    """,
)
def random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 ORDER BY RANDOM() LIMIT n sampling corpus pull
    (sql_search.py:1194-1203), as DETERMINISTIC hash sampling:
    ordering by md5(id) is uniform-pseudorandom yet identical in every
    engine, which is also the correct 100 TB idiom -- a reproducible
    sample that re-runs identically across retries/engines, planned as
    TakeOrderedAndProject (per-partition top-k + merge, no global
    sort, no rand() re-evaluation hazard under task retry)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.orderBy(F.md5(F.col("doc_id").cast("string")))
        .limit(50)
        .select("doc_id", "lang", "source")
    )


@register(
    "limit_sample",
    oracle="""
    SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 100
    """,
)
def limit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 LIMIT sampling (exper_sql.py:626,737), made rank-stable:
    the reference's bare LIMIT has no defined order (scan order there,
    partition race here), so pin it to the primary key -- same rows on
    every engine, planned as TakeOrderedAndProject top-k."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Window extensions beyond the reference (free Spark surface, §2.5 note)
# ---------------------------------------------------------------------------


@register(
    "rolling_avg_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY 1
    )
    SELECT day, n,
           round(avg(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
               AS rolling_7d_avg
    FROM daily
    """,
)
def rolling_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day average of daily event counts -- rowsBetween
    frame (the frame type the reference never had; extends W-family).
    The window runs year-partitioned (operators/temporal.
    yearly_windowed tail replication) so the rollup never funnels
    through one WindowExec task at long event histories.
    """
    events = _t(spark, sf_dir, "events")
    daily = (
        events.select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )
    return yearly_windowed(
        daily,
        6,
        {
            "rolling_7d_avg": lambda wb: F.round(
                F.avg("n").over(wb.rowsBetween(-6, 0)), 4
            )
        },
    )


@register(
    "lag_day_over_day",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY 1
    )
    SELECT day, n,
           n - lag(n) OVER (ORDER BY day) AS delta,
           round((n - lag(n) OVER (ORDER BY day)) * 100.0
                 / nullif(lag(n) OVER (ORDER BY day), 0), 4) + 0 AS pct_change
    FROM daily
    """,
)
def lag_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day delta and % change via lag() (W-family extension),
    year-partitioned with a 1-row tail replica per year (lag(1) is a
    trailing ROWS frame of depth 1) -- same no-single-partition
    posture as the rolling/anomaly date windows.
    """
    events = _t(spark, sf_dir, "events")
    daily = (
        events.select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n"))
    )
    def _lagn(wb):
        return F.lag("n").over(wb)

    return yearly_windowed(
        daily,
        1,
        {
            "delta": lambda wb: F.col("n") - _lagn(wb),
            # +0.0 folds -0.0 to 0.0 (cross-engine negative-zero parity)
            "pct_change": lambda wb: F.round(
                (F.col("n") - _lagn(wb)) * 100.0 / F.nullif(_lagn(wb), F.lit(0)), 4
            )
            + F.lit(0.0),
        },
    )


@register(
    "cube_rollup_counts",
    oracle="""
    SELECT coalesce(event_type, '<all>') AS event_type,
           coalesce(CAST(date_part('dow', ts) AS INT), -1) AS dow,
           count(*) AS n
    FROM events
    GROUP BY CUBE (event_type, CAST(date_part('dow', ts) AS INT))
    """,
)
def cube_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (the idiomatic upgrade of the reference's
    pivot cross-tabs, SURVEY §2.4 note): all (type, dow) margins in
    one pass -- partial aggregation handles the grouping-set
    expansion, no N separate queries."""
    events = _t(spark, sf_dir, "events")
    return (
        events.select("event_type", sqlite_dow("ts").alias("dow"))
        .cube("event_type", "dow")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "n",
        )
    )


@register(
    "sql_endpoint_rollup",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS users,
           CAST(floor(CAST(2 * (sum(CAST(round((value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE)
               AS avg_value
    FROM events
    WHERE value > 50
    GROUP BY event_type
    """,
)
def sql_endpoint_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 raw-SQL endpoint: the engine accepts SQL text (the reference
    funnels every query through SQL strings, and
    exper_sql.py:2015-2141 passes arbitrary user SQL). Identical SQL
    runs on both engines here -- Catalyst gets it as text, not as a
    built plan."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               count(DISTINCT user_id) AS users,
               CAST(floor(CAST(2 * (sum(CAST(round((value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE)
                   AS avg_value
        FROM events
        WHERE value > 50
        GROUP BY event_type
        """
    )


@register(
    "join_enrich_pct",
    oracle="""
    WITH per AS (
        SELECT event_type, CAST(date_part('hour', ts) AS INT) AS hour,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, sum(n) AS total FROM per GROUP BY event_type)
    SELECT p.event_type, p.hour, p.n,
           round(p.n * 100.0 / t.total, 4) AS pct
    FROM per p JOIN tot t ON p.event_type = t.event_type
    """,
)
def join_enrich_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 merge/enrich join: totals aggregated separately then joined
    back for per-group percentages (exper_sql.py:1712-1715 pandas
    merge). The window-function form of the same computation is
    per_group_share (W4); both shapes belong to the surface."""
    events = _t(spark, sf_dir, "events")
    per = (
        events.select("event_type", hour_bucket("ts").alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("n"))
    )
    tot = per.groupBy("event_type").agg(F.sum("n").alias("total"))
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hour",
        "n",
        F.round(F.col("n") * 100.0 / F.col("total"), 4).alias("pct"),
    )


@register(
    "stats_summary",
    oracle="""
    SELECT count(*) AS n_events,
           CAST(floor(CAST(2 * (sum(CAST(round((value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE) AS avg_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           round(stddev_samp(value), 4) AS std_value,
           round(quantile_cont(value, 0.5), 4) AS median_value
    FROM events
    """,
)
def stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 statistics summary: one-row avg/min/max/std/median rollup
    (pipeline/pipeline.py:325-354 result stats). Exact percentile for
    the oracle; percentile_approx is the 100 TB variant (see
    approx_stats)."""
    events = _t(spark, sf_dir, "events")
    return events.agg(
        F.count("*").alias("n_events"),
        avg4(F.sum(cents("value")) * 100, F.count("*")).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.stddev_samp("value"), 4).alias("std_value"),
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
    )


@register(
    "approx_stats",
    oracle="""
    SELECT event_type, count(*) AS n,
           TRUE AS approx_users_ok, TRUE AS approx_median_ok
    FROM events GROUP BY event_type
    """,
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB forms of A3/A21: approx_count_distinct (HLL) and
    percentile_approx (quantile sketch) -- single-pass, mergeable,
    no sort/expand.

    Sketch values are engine-specific, so the checkable output is a
    CERTIFICATE, not the raw sketch: Spark computes sketch AND exact
    in one aggregate and emits error-bound booleans (HLL default rsd
    0.05 -> 3-sigma bound 15%; quantile sketch accuracy 10000 ->
    approx median must land within the exact p45-p55 value band). The
    oracle asserts both bounds hold (TRUE) plus the exact group
    counts -- a real cross-engine check that fails if either sketch
    degrades."""
    events = _t(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_median"),
        F.percentile("value", F.lit(0.45)).alias("p45"),
        F.percentile("value", F.lit(0.55)).alias("p55"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "event_type",
        "n",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.15 * F.col("exact_users")
        ).alias("approx_users_ok"),
        F.col("approx_median").between(F.col("p45"), F.col("p55")).alias(
            "approx_median_ok"
        ),
    )


@register(
    "rollup_distinct_hll",
    oracle="""
    SELECT date_trunc('week', CAST(ts AS DATE)) AS week_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merged_within_5pct
    FROM events GROUP BY 1
    """,
)
def rollup_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup -- THE classic rollup
    mergeability problem: count(DISTINCT) does not re-aggregate (a
    week is not the sum of its days), so an incremental rollup must
    store a MERGEABLE sketch per fine bucket and union upward.
    Spark 4 ships Apache DataSketches HLL natively: per-day
    ``hll_sketch_agg(user_id)`` -> weekly ``hll_union_agg`` ->
    ``hll_sketch_estimate``. At 100 TB the daily sketch table is the
    materialized state (one ~4 KB sketch per bucket, NOT per user);
    maintaining it streams exactly like streaming_rollup_maintenance,
    and ANY coarser grain (week/month/all-time, any dimension slice)
    derives from unions without touching raw events again.

    Sketch bytes are engine-specific, so the checkable output is a
    CERTIFICATE (same contract as approx_stats): the estimate from
    the MERGED daily sketches must land within 5% of exact (default
    lgK=12 -> ~1.6% standard error; 5% is a >3-sigma bound), emitted
    alongside the exact weekly distinct the oracle recomputes."""
    events = _t(spark, sf_dir, "events")
    daily = events.select(
        F.date_trunc("week", F.to_date("ts")).alias("week_start"),
        F.to_date("ts").alias("d"),
        "user_id",
    ).groupBy("week_start", "d").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    weekly_est = daily.groupBy("week_start").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    weekly_exact = events.groupBy(
        F.date_trunc("week", F.to_date("ts")).alias("week_start")
    ).agg(F.count_distinct("user_id").alias("exact_users"))
    return weekly_exact.join(weekly_est, "week_start").select(
        "week_start",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("merged_within_5pct"),
    )


@register(
    "rollup_quantiles_binned",
    oracle="""
    WITH b AS (
        SELECT date_trunc('week', CAST(ts AS DATE)) AS week_start,
               CAST(floor(value) AS BIGINT) AS bin, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT week_start, bin,
               sum(c) OVER (PARTITION BY week_start ORDER BY bin) AS cum,
               sum(c) OVER (PARTITION BY week_start) AS total
        FROM b
    )
    SELECT week_start,
           CAST(min(CASE WHEN cum >= 0.50 * total THEN bin END) AS BIGINT) AS p50_bin,
           CAST(min(CASE WHEN cum >= 0.95 * total THEN bin END) AS BIGINT) AS p95_bin,
           CAST(max(total) AS BIGINT) AS n
    FROM t GROUP BY 1
    """,
)
def rollup_quantiles_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE rollup with a STRICT oracle: per-day
    fixed-bin histograms (bin = floor(value), one count per
    (day, bin)) merge to any coarser grain by ADDING counts -- unlike
    raw percentiles, which do not re-aggregate. The weekly p50/p95 is
    then the first bin whose cumulative count crosses the quantile --
    deterministic integer arithmetic, so the oracle recomputes the
    same weekly result DIRECTLY from events and equality proves
    merge-equals-direct (the same contract incremental_rollup pins
    for sums). Quantile error is bounded by the bin width by
    construction.

    At 100 TB: per-bucket state is at most n_bins rows (vs a
    value-sketch per bucket when no fixed range exists -- Spark 4
    ships HLL/Theta but no mergeable quantile sketch, and a bounded
    value domain makes the exact histogram both smaller and
    strictly checkable). The daily histogram table maintains
    incrementally exactly like streaming_rollup_maintenance."""
    events = _t(spark, sf_dir, "events")
    daily = events.select(
        F.date_trunc("week", F.to_date("ts")).alias("week_start"),
        F.to_date("ts").alias("d"),
        F.floor("value").cast("bigint").alias("bin"),
    ).groupBy("week_start", "d", "bin").agg(F.count("*").alias("c"))
    weekly = daily.groupBy("week_start", "bin").agg(F.sum("c").alias("c"))
    w_cum = Window.partitionBy("week_start").orderBy("bin")
    t = weekly.select(
        "week_start",
        "bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy("week_start")).alias("total"),
    )
    return t.groupBy("week_start").agg(
        F.min(F.when(F.col("cum") >= 0.50 * F.col("total"), F.col("bin"))).alias(
            "p50_bin"
        ),
        F.min(F.when(F.col("cum") >= 0.95 * F.col("total"), F.col("bin"))).alias(
            "p95_bin"
        ),
        F.max("total").alias("n"),
    )


#: Count-Min sketch shape: D rows x W columns. W=8192 -> eps = e/W
#: ~ 3.3e-4; D=5 rows drive the per-query failure probability of the
#: 8N/W overestimate bound below (1/8)^5 ~ 3e-5 (Markov per row,
#: independent rows).
CMS_W = 8192
CMS_D = 5


def _cms_positions(key_str):
    """posexplode column of the D Count-Min cell positions for a key:
    row hashes come from operators.dedup.km_u_step (THE single source
    of the Kirsch-Mitzenmacher scheme, shared with MinHash), columns
    from mod W. One helper so the sketch-build side and the
    candidate-probe side can never address different cells."""
    from conversation_analysis_tools_spark.operators.dedup import (
        MINHASH_P,
        km_u_step,
    )

    u, step = km_u_step(F.md5(key_str.cast("binary")))
    return F.posexplode(
        F.array(
            *[
                F.pmod(
                    F.pmod(u + F.lit(i) * step, F.lit(MINHASH_P)),
                    F.lit(CMS_W),
                )
                for i in range(CMS_D)
            ]
        )
    )


def _cms_oracle_sql() -> str:
    from conversation_analysis_tools_spark.operators.dedup import MINHASH_P
    from conversation_analysis_tools_spark.queries.dedup import _hex60_sql

    rows_i = " UNION ALL ".join(f"SELECT {i} AS i" for i in range(CMS_D))
    return f"""
    WITH counts AS (
        SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
    ),
    pos AS (
        SELECT user_id,
               u % {MINHASH_P} AS um,
               v % {MINHASH_P - 1} + 1 AS step
        FROM (
            SELECT user_id, {_hex60_sql(1)} AS u, {_hex60_sql(16)} AS v
            FROM (SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS d
                  FROM counts)
        )
    ),
    keypos AS (
        SELECT user_id, i, ((um + i * step) % {MINHASH_P}) % {CMS_W} AS w
        FROM pos CROSS JOIN ({rows_i}) r
    ),
    cells AS (
        SELECT k.i, k.w, CAST(sum(c.exact_n) AS BIGINT) AS cell
        FROM keypos k JOIN counts c USING (user_id)
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT user_id, exact_n FROM counts
        ORDER BY exact_n DESC, user_id LIMIT 10
    ),
    est AS (
        SELECT k.user_id, CAST(min(cells.cell) AS BIGINT) AS est_n
        FROM keypos k
        JOIN cells ON k.i = cells.i AND k.w = cells.w
        WHERE k.user_id IN (SELECT user_id FROM cand)
        GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n FROM events)
    SELECT c.user_id, c.exact_n, e.est_n,
           TRUE AS ge_ok,
           (e.est_n - c.exact_n) <= (8 * t.n) // {CMS_W} AS within_8eps
    FROM cand c JOIN est e USING (user_id) CROSS JOIN tot t
    """


@register("rollup_heavy_hitters_cms", oracle=_cms_oracle_sql())
def rollup_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable FREQUENCY rollup -- Count-Min sketch heavy hitters,
    completing the sketch family (HLL distinct, Theta overlap, binned
    quantiles): per-day D x W cell counts merge to any coarser grain by
    ADDING cells, so per-key frequency estimates need bounded state
    (D*W = 40,960 cells per bucket at ANY data volume), never a
    per-key rollup. Row hashes are Kirsch-Mitzenmacher over one md5
    per key (the minhash_signatures scheme, Cormode & Muthukrishnan
    2005 for the sketch), so the DuckDB oracle mirrors every cell
    bit-identically: the oracle builds the sketch DIRECTLY from
    per-key counts while the engine sums per-DAY cells -- est_n
    equality proves merge-equals-direct (the incremental_rollup
    contract), ge_ok pins the CMS one-sided guarantee (estimate never
    undercounts), and within_8eps bounds the overestimate at 8N/W.

    Plan: ONE events scan -- the exact counts, total-N, and the
    sketch all derive from the per-(day,user) partial-count
    aggregate, whose exchange Catalyst reuses across the branches
    (ReusedExchange in ``tools/profile.py --plans``). That first
    exchange is per-(day,user) grain: it scales with distinct keys,
    like any per-user aggregate. What is BOUNDED is the sketch state the
    rollup materializes and every exchange after it -- day x D x W
    cells regardless of row count, ONE md5 per (day,user), not per
    event, D precomputed positions via posexplode (no interpreted
    HOF lambdas). The candidate probe joins broadcast top-k
    positions against the bounded cell table.
    The events input is spread to scan parallelism above the 4 MB
    floor (round 12, guide §2.5/§6): the single-row-group events file
    otherwise runs the to_date + 310k-group partial aggregate as ONE
    task (interleaved A/B: sf1 3.24 -> 2.42 s best with the spread;
    the 2 MB sf0.1 input sits under the floor, where the raw-row
    exchange measured ~0.1 s worse than the single-task scan)."""
    from conversation_analysis_tools_spark.functions.spread import spread_input

    events = spread_input(_t(spark, sf_dir, "events"), "event_id", min_bytes=4 << 20)
    per_day_user = events.groupBy(
        F.to_date("ts").alias("d"), "user_id"
    ).agg(F.count("*").alias("c"))
    positions = per_day_user.select(
        "d",
        "user_id",
        "c",
        _cms_positions(F.col("user_id").cast("string")).alias("i", "w"),
    )
    daily_cells = positions.groupBy("d", "i", "w").agg(F.sum("c").alias("c"))
    cells = daily_cells.groupBy("i", "w").agg(F.sum("c").alias("cell"))

    counts = per_day_user.groupBy("user_id").agg(
        F.sum("c").alias("exact_n")
    )
    cand = counts.orderBy(F.desc("exact_n"), F.asc("user_id")).limit(10)
    cand_pos = cand.select(
        "user_id",
        "exact_n",
        _cms_positions(F.col("user_id").cast("string")).alias("i", "w"),
    )
    est = (
        cells.join(F.broadcast(cand_pos), ["i", "w"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cell").alias("est_n"))
    )
    total = per_day_user.agg(F.sum("c").alias("n"))
    return est.crossJoin(F.broadcast(total)).select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") >= F.col("exact_n")).alias("ge_ok"),
        (
            F.col("est_n") - F.col("exact_n")
            <= F.expr(f"(8 * n) div {CMS_W}")
        ).alias("within_8eps"),
    )


# ---------------------------------------------------------------------------
# Temporal joins (beyond-reference custom operators; see operators/temporal.py)
# ---------------------------------------------------------------------------


@register(
    "asof_last_signup",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           s.event_id AS last_signup_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND s.ts <= p.ts
    """,
)
def asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest signup at
    or before it. Union-tag + last(ignorenulls) window -- one shuffle
    on user_id, no join operator at all (operators/temporal.asof_join);
    oracle uses DuckDB's native ASOF JOIN."""
    from conversation_analysis_tools_spark.operators.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    signups = events.where(F.col("event_type") == "signup").select(
        "user_id", "event_id", "ts"
    )
    out = asof_join(purchases, signups, "user_id", "ts", "ts", ["event_id"])
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("asof_event_id").alias("last_signup_id"),
    )


@register(
    "range_join_5min",
    oracle="""
    SELECT e.event_id AS error_id,
           p.event_id AS purchase_id,
           e.user_id
    FROM events e JOIN events p
      ON e.user_id = p.user_id
     AND e.event_type = 'error' AND p.event_type = 'purchase'
     AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 300000000
    """,
)
def range_join_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: (error, purchase) pairs of the same user
    within 5 minutes. Bucketed-candidate plan (join on adjacent
    width-delta time buckets, exact band filter after) instead of the
    O(n^2) conditional join Spark would otherwise plan
    (operators/temporal.range_join)."""
    from conversation_analysis_tools_spark.operators.temporal import range_join

    events = _t(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    out = range_join(errors, purchases, "user_id", "ts", "pts", 300.0)
    return out.select("error_id", "purchase_id", "user_id")


@register(
    "context_window_frame",
    oracle="""
    WITH numbered AS (
        SELECT user_id, event_id, event_type, ts
        FROM events
    )
    SELECT user_id, event_id,
           array_to_string(
               list(event_id) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
               ), ',') AS context_ids
    FROM numbered
    """,
)
def context_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 context window, frame variant: neighbors collected with a
    rowsBetween(-2, 2) frame (the alternate plan SURVEY §2.5 lists
    next to the self-join form in `context_window`). One window pass,
    no join; the frame order is fully deterministic (ts, event_id) so
    the collected lists hash identically across engines. The array is
    serialized to a CSV string because the harness canonicalizer
    pandas-sorts output columns and cannot hash list cells."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    return events.select(
        "user_id",
        "event_id",
        F.array_join(
            F.collect_list("event_id").over(w).cast("array<string>"), ","
        ).alias("context_ids"),
    )


@register(
    "salted_skew_join",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact ⋈ dim join via layout.salted_join: the dim
    side replicates into 8 salt shards and each fact row hashes to
    exactly one shard, so one hot key spreads over 8 reducers instead
    of stalling one task (the manual fallback when AQE's skew split
    can't fire). Salting is correctness-neutral -- the oracle is the
    PLAIN join, which is the point: same rows, different physical
    distribution. At 100 TB this is the shape for joining a
    power-law-keyed event stream against a broadcast-ineligible
    dimension."""
    from conversation_analysis_tools_spark.layout import salted_join

    events = _t(spark, sf_dir, "events").select("user_id", "event_type")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        salted_join(events, dim, "user_id", n_salts=8)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "partition_pruned_scan",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
    GROUP BY 1, 2
    """,
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned physical layout, exercised end-to-end: write
    events partitioned by event_date (the 100 TB events layout), then
    answer a 3-day range query off the partitioned copy.
    The filter prunes at the DIRECTORY level -- the scan touches 3
    partitions out of the month, which at 100 TB is the difference
    between reading ~300 GB and reading the full table (the plan from
    ``tools/profile.py --plans`` shows PartitionFilters on the scan). Oracle: the same aggregate off the
    raw unpartitioned table -- layout changes bytes read, never
    results."""
    from conversation_analysis_tools_spark.catalog import staging_dir

    # deterministic staging path + overwrite: repeated verify/bench
    # loops reuse one copy instead of leaking a mkdtemp per run
    d = staging_dir("events_part", sf_dir)
    ev = _t(spark, sf_dir, "events")
    ev.withColumn("event_date", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "event_date"
    ).parquet(d)
    part = spark.read.parquet(d)
    return (
        part.where(F.col("event_date").between("2024-01-10", "2024-01-12"))
        .groupBy(F.col("event_date").alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
    )


def _zorder_bits_sql(cx: str, cy: str) -> str:
    """Bit-interleave expression: 8-bit ``cx``/``cy`` -> 16-bit Morton
    z-value. Pure shifts/ands -- identical text works in Spark SQL and
    DuckDB (Spark spells shifts as functions, so this emits the
    function forms and the oracle rewrites them to operators)."""
    return " + ".join(
        f"shiftleft(shiftright({cx}, {i}) & 1, {2 * i})"
        f" + shiftleft(shiftright({cy}, {i}) & 1, {2 * i + 1})"
        for i in range(8)
    )


def _zorder_oracle_sql() -> str:
    z = " + ".join(
        f"(((cx >> {i}) & 1) << {2 * i}) + (((cy >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )
    return f"""
    WITH s AS (
        SELECT min(o_custkey) AS mnk, max(o_custkey) AS mxk,
               min(o_orderdate) AS mnd, max(o_orderdate) AS mxd
        FROM orders
    ),
    q AS (
        SELECT (256 * (o_custkey - mnk)) // (mxk - mnk + 1) AS cx,
               (256 * date_diff('day', mnd, o_orderdate))
                   // (date_diff('day', mnd, mxd) + 1) AS cy
        FROM orders CROSS JOIN s
    ),
    zq AS (SELECT cx, cy, {z} AS z FROM q),
    b AS (
        SELECT 'zorder' AS layout, z >> 8 AS bucket, cx, cy FROM zq
        UNION ALL
        SELECT 'custkey' AS layout, cx AS bucket, cx, cy FROM zq
    ),
    g AS (
        SELECT layout, CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
               CAST(min(cx) AS BIGINT) AS min_cx, CAST(max(cx) AS BIGINT) AS max_cx,
               CAST(min(cy) AS BIGINT) AS min_cy, CAST(max(cy) AS BIGINT) AS max_cy
        FROM b GROUP BY 1, 2
    )
    SELECT *,
           (min_cx <= 95 AND max_cx >= 64 AND min_cy <= 95 AND max_cy >= 64)
               AS overlaps_probe
    FROM g
    """


@register("zorder_clustered_scan", oracle=_zorder_oracle_sql())
def zorder_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) multi-dimensional clustering -- the layout
    that makes BOTH ``o_custkey`` range probes AND ``o_orderdate``
    range probes prune files, where a 1-D sort prunes only its own
    column. Each order gets deterministic 8-bit quantized coords
    (cx = key rank bucket, cy = day bucket -- exact integer
    arithmetic off min/max, no sampled range boundaries), bits
    interleave into a 16-bit z-value, and file = ``z >> 8`` (256
    files). The output is each file's min/max cube footprint under
    both layouts plus whether it overlaps a fixed 1/8 x 1/8 probe
    rectangle (cx, cy both in [64, 95]): z-order files overlap 4/256
    (measured at sf0.01 AND sf0.1 -- the aligned probe decomposes into
    exactly four z-contiguous runs) while the custkey-sorted layout
    overlaps all 32 files the cx band touches: 8x fewer files read
    for 2-D probes, and the gap widens with dimension count. The min/max footprints ARE what parquet
    row-group stats / file skipping consume at 100 TB; writing is one
    ``repartitionByRange(z).sortWithinPartitions(z)`` (tested with a
    real partitioned write in tests/test_layout.py).

    Oracle: identical integer arithmetic in DuckDB -- quantization,
    interleave, per-bucket min/max, and the overlap predicate are all
    engine-portable, so every footprint row matches bit-exactly."""
    orders = _t(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_custkey").alias("mnk"),
        F.max("o_custkey").alias("mxk"),
        F.min("o_orderdate").alias("mnd"),
        F.max("o_orderdate").alias("mxd"),
    )
    q = orders.crossJoin(F.broadcast(stats)).select(
        F.expr("(256 * (o_custkey - mnk)) div (mxk - mnk + 1)").alias("cx"),
        F.expr(
            "(256 * datediff(o_orderdate, mnd))"
            " div (datediff(mxd, mnd) + 1)"
        ).alias("cy"),
    )
    zq = q.select("cx", "cy", F.expr(_zorder_bits_sql("cx", "cy")).alias("z"))
    b = zq.select(
        F.lit("zorder").alias("layout"),
        F.shiftright("z", 8).cast("bigint").alias("bucket"),
        "cx",
        "cy",
    ).unionAll(
        zq.select(
            F.lit("custkey").alias("layout"),
            F.col("cx").cast("bigint").alias("bucket"),
            "cx",
            "cy",
        )
    )
    g = b.groupBy("layout", "bucket").agg(
        F.count("*").alias("n"),
        F.min("cx").cast("bigint").alias("min_cx"),
        F.max("cx").cast("bigint").alias("max_cx"),
        F.min("cy").cast("bigint").alias("min_cy"),
        F.max("cy").cast("bigint").alias("max_cy"),
    )
    return g.select(
        "*",
        (
            (F.col("min_cx") <= 95)
            & (F.col("max_cx") >= 64)
            & (F.col("min_cy") <= 95)
            & (F.col("max_cy") >= 64)
        ).alias("overlaps_probe"),
    )


@register(
    "skyline_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size <= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier (pattern: "Integration of Skyline
    Queries into Spark SQL", EDBT 2023 -- PAPERS.md): the parts no
    other part beats on BOTH price and size (minimize p_retailprice,
    p_size; ties survive). The oracle is the quadratic NOT EXISTS
    dominance self-join; the engine plan is the two-phase distributed
    skyline (operators/skyline.py): per-partition Pareto filter, one
    bounded exchange of frontier candidates, final filter -- the
    self-join never materializes."""
    from conversation_analysis_tools_spark.operators.skyline import skyline

    parts = _catalog_table(spark, "part", sf_dir).select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline(parts, ["p_retailprice", "p_size"])


@register(
    "corr_matrix_by_flag",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) + 0 AS r_qty_price,
           round(corr(l_quantity, l_discount), 4) + 0 AS r_qty_disc,
           round(corr(l_extendedprice, l_discount), 4) + 0 AS r_price_disc,
           round(corr(l_extendedprice, l_extendedprice * (1 - l_discount)), 4) + 0
               AS r_price_net
    FROM lineitem GROUP BY 1
    """,
)
def corr_matrix_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation matrix over the lineitem measures
    (beyond-reference; completes the §2.4 statistics family next to
    stddev_agg/stats_summary -- the reference's SQLite backend has no
    corr() at all). r_price_net includes a derived column so one pair
    is strongly correlated by construction (~1.0), not just the
    near-zero independent synthetics.

    Plan/scale: corr is an algebraic aggregate (sums of x, y, xy, x^2,
    y^2), so all four coefficients reduce map-side in ONE pass over
    the scan with partial aggregation -- a single shuffle of 5-ish
    cells per group, no row ever leaves its partition unaggregated.
    Pearson r is scale-invariant, so the sample/population variance
    choice cancels and both engines agree to double precision;
    round(4) absorbs summation-order noise (~1e-12 relative).
    """
    li = _t(spark, sf_dir, "lineitem")

    def _r(c):
        # nanvl: a degenerate group (single row / zero variance) gives
        # NaN from Spark's corr but NULL from DuckDB's -- fold NaN to
        # NULL so the engines agree even off lineitem. +0.0 on every
        # signed rounded coefficient folds -0.0 to 0.0 (cross-engine
        # negative-zero parity; surfaced by the sf1 gate); NULL rides
        # through both folds unchanged on both engines.
        return F.round(F.nanvl(c, F.lit(None).cast("double")), 4) + F.lit(0.0)

    return li.groupBy("l_returnflag").agg(
        _r(F.corr("l_quantity", "l_extendedprice")).alias("r_qty_price"),
        _r(F.corr("l_quantity", "l_discount")).alias("r_qty_disc"),
        _r(F.corr("l_extendedprice", "l_discount")).alias("r_price_disc"),
        _r(
            F.corr(
                F.col("l_extendedprice"),
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
            )
        ).alias("r_price_net"),
    )
