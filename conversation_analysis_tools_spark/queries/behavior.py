"""Behavioral analytics over the events table: retention cohorts,
conversion funnels, event-sequence transitions.

The reference has no events table, but these are the workhorse
queries of any large-scale user-activity store and exercise operator
shapes the rest of the registry doesn't: distinct-count matrices over
derived keys, sequentially-dependent conditional aggregation, and
lag-based sequence mining (reference analogue: the time-bucketed
activity rollups in exper_sql.py:2600-2700).

Scale notes (100 TB): every query here shuffles on ``user_id`` exactly
once -- cohort/funnel/transition state is all per-user, so the single
hash partitioning carries the whole plan; window functions and the
follow-up groupBy reuse it without a second exchange. The final
rollups (cohort-week matrix, 3-row funnel, 25-cell transition matrix)
are tiny reductions with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import table as _catalog_table
from conversation_analysis_tools_spark.operators.temporal import yearly_windowed
from conversation_analysis_tools_spark.queries.registry import register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _catalog_table(spark, "events", sf_dir)


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_diff('day', f.cohort_week,
                              date_trunc('week', e.ts)) / 7 AS INT)
                   AS week_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
           count(DISTINCT user_id) AS n_users
    FROM activity GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users cohorted by the week of their
    first event; n_users = distinct users from that cohort active in
    cohort_week + week_offset.

    Plan: one shuffle on user_id computes the per-user cohort week via
    an unbounded window min (no join back); the distinct + matrix agg
    then reduce on the derived (cohort_week, week_offset) key with
    map-side partials.
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn("cohort_week", F.date_trunc("week", F.min("ts").over(w)))
        .withColumn(
            "week_offset",
            (F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7)
            .cast("int"),
        )
        .select("user_id", F.col("cohort_week").cast("date").alias("cohort_week"), "week_offset")
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY 1
    )
    SELECT step, n_users FROM (
        SELECT 1 AS ord, 'view' AS step,
               CAST(count(*) AS BIGINT) AS n_users
        FROM v WHERE t_view IS NOT NULL
        UNION ALL
        SELECT 2, 'view>click', CAST(count(*) AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'view>click>purchase', CAST(count(*) AS BIGINT) FROM p
    ) ORDER BY ord
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel: first view, then the first click AFTER
    that view, then the first purchase AFTER that click (strict
    event-time ordering, not mere co-occurrence).

    Plan: the sequential dependency (step N's window starts at step
    N-1's timestamp) is resolved with three stacked unbounded window
    mins over the SAME user_id partitioning -- one exchange total,
    no self-joins, unlike the oracle's 3-CTE join formulation. The
    per-user triple then collapses via first() on the already-
    partitioned column and a 3-cell global count.
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn("t_view", t_view)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_purchase", t_purchase)
    per_user = staged.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    counts = per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'view', n_view, 'view>click', n_click, "
            "'view>click>purchase', n_purchase) AS (step, n_users)"
        )
    )


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-sequence transition matrix: consecutive
    (prev, next) event-type pairs per user, counted corpus-wide
    (the Markov-chain view of user behavior). event_id breaks
    timestamp ties so the sequence is deterministic.

    Plan: one shuffle+sort on user_id for the lag; the 25-cell count
    reduces with map-side partials.
    """
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "anomaly_daily_zscore",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY 1
    ),
    trail AS (
        SELECT day, n,
               sum(n)  OVER w AS s7,
               sum(n * n) OVER w AS ss7,
               count(n) OVER w AS c7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, CAST(n AS BIGINT) AS n,
           round((n - s7 * 1.0 / c7)
                 / sqrt((ss7 - s7 * 1.0 * s7 / c7) / (c7 - 1)), 4) + 0 AS zscore
    FROM trail
    WHERE c7 >= 3 AND (ss7 - s7 * 1.0 * s7 / c7) > 0
    """,
)
def anomaly_daily_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike/drop detection on the daily event series: each day's count
    scored as a z-score against its OWN trailing 7-day window (current
    day excluded, so a spike can't suppress itself). The standard ops
    alert primitive (beyond-reference, companion to rolling_avg_daily).

    Exact-int discipline: the window sums (s7, ss7, c7) are integer and
    order-independent; mean/variance/z are then single expression
    chains evaluated identically by both engines, and the z-score is
    irrational in all but degenerate cases (plain round is safe --
    registry float discipline). Days with under 3 trailing points or
    zero variance are unscored.

    Plan: one date-grain aggregate, then the trailing window runs
    year-partitioned via operators/temporal.yearly_windowed (last-7-
    rows-of-year replication; exact, ROWS-frame-grain) so WindowExec
    stays distributed at any event history length instead of moving
    the rollup to a single partition."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n")
    )
    trail = yearly_windowed(
        daily,
        7,
        {
            "s7": lambda wb: F.sum("n").over(wb.rowsBetween(-7, -1)),
            "ss7": lambda wb: F.sum(F.col("n") * F.col("n")).over(
                wb.rowsBetween(-7, -1)
            ),
            "c7": lambda wb: F.count("n").over(wb.rowsBetween(-7, -1)),
        },
    )
    mean = F.col("s7") * 1.0 / F.col("c7")
    var = (F.col("ss7") - F.col("s7") * 1.0 * F.col("s7") / F.col("c7")) / (
        F.col("c7") - 1
    )
    return (
        trail.where((F.col("c7") >= 3) & (F.col("ss7") - F.col("s7") * 1.0 * F.col("s7") / F.col("c7") > 0))
        .select(
            "day",
            F.col("n").cast("bigint").alias("n"),
            # +0.0 folds -0.0 to 0.0 (cross-engine negative-zero parity
            # for signed rounded floats; both engines: -0.0 + 0.0 = 0.0)
            (F.round((F.col("n") - mean) / F.sqrt(var), 4) + F.lit(0.0)).alias(
                "zscore"
            ),
        )
    )


@register(
    "audience_overlap_theta",
    oracle="""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS exact_overlap,
           TRUE AS overlap_within_15pct
    FROM du a JOIN du b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def audience_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set INTERSECTION at sketch grain -- the overlap
    question HLL cannot answer (HLL unions only; audience overlap
    needs intersections). Apache DataSketches Theta (Spark 4
    built-ins): one sketch per event type, pairwise
    ``theta_intersection`` across the 5x5 type pairs.

    At 100 TB the per-type sketches are KB-sized state maintained
    incrementally like any rollup; every pairwise (or k-way) overlap
    then derives from sketch algebra without re-scanning events --
    vs the exact path's distinct self-join, which shuffles the full
    (type, user) relation and re-runs per question asked.

    Certificate contract (same as approx_stats/rollup_distinct_hll):
    sketch bytes are engine-specific, so the checkable output is the
    exact overlap (recomputed by the oracle's self-join) plus a
    boolean pinning the sketch estimate within 15% of it (default
    lgK=12; intersection error grows when the overlap is small
    relative to the union, hence the generous bound)."""
    du = _events(spark, sf_dir).select("event_type", "user_id").distinct()
    sk = du.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id)").alias("sk")
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("s1"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("s2"))
    est = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .selectExpr(
            "type_a",
            "type_b",
            "theta_sketch_estimate(theta_intersection(s1, s2)) AS est",
        )
    )
    exact = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_overlap"))
    )
    return exact.join(est, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_overlap",
        (
            F.abs(F.col("est") - F.col("exact_overlap"))
            <= 0.15 * F.col("exact_overlap")
        ).alias("overlap_within_15pct"),
    )


@register(
    "timeseries_gapfill",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        FROM events WHERE user_id % 25 = 0
        GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(day) AS mn, max(day) AS mx
        FROM daily GROUP BY 1
    ),
    cal AS (
        SELECT event_type,
               CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                           CAST(mx AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    j AS (
        SELECT c.event_type, c.day, d.n
        FROM cal c LEFT JOIN daily d
          ON c.event_type = d.event_type AND c.day = d.day
    )
    SELECT event_type, day, n IS NULL AS filled,
           CAST(last_value(n IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_fill
    FROM j
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + forward-fill, the resample primitive every
    time-series consumer needs before joins or models (beyond-
    reference; the reference's time rollups, exper_sql.py:2600-2700,
    silently skip empty days). Per event_type over a sparsified slice
    (user_id % 25 = 0, so the daily series actually has holes at the
    driver sfs): the per-key calendar is densified from min(day) to
    max(day) via sequence+explode, missing days are flagged
    ``filled`` and carry the last observed count forward with a
    last(ignorenulls) running window. n_fill is never null -- each
    key's first calendar day is observed by construction.

    Plan/scale: the raw scan reduces to (key, day) grain FIRST (one
    shuffle with map-side partials); the calendar explode, the fill
    join, and the forward-fill window all run at that date grain --
    rows = keys x span days, KB-scale per key at any event volume --
    and share one hash partitioning on event_type. Nothing rescans
    events: at 100 TB the dense calendar costs (keys x days), not
    bytes.
    """
    from conversation_analysis_tools_spark.operators.temporal import gapfill_forward

    ev = _events(spark, sf_dir).where(F.col("user_id") % 25 == 0)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    return gapfill_forward(daily)


@register(
    "cumulative_new_users",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS day
        FROM events GROUP BY 1
    ),
    daily AS (SELECT day, count(*) AS new_users FROM firsts GROUP BY 1)
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (
                ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM daily
    """,
)
def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: users first seen per day plus the running
    cumulative user count (beyond-reference; the standard companion
    to retention_cohorts on any activity store).

    Plan/scale: one user_id shuffle computes each user's first day
    (map-side partial min), the date reduce is tiny, and the running
    total runs through operators/temporal.distributed_cumsum -- cumsum
    within year partitions plus broadcast prior-year offsets -- so no
    day-grain data ever funnels through a single-partition global
    window, at any history length.
    """
    from conversation_analysis_tools_spark.operators.temporal import (
        distributed_cumsum,
    )

    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("day"))
    daily = firsts.groupBy("day").agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    return distributed_cumsum(daily, out="cumulative_users")
