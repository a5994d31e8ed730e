"""Temporal join operators Spark lacks natively: as-of join and
bounded range (interval) join -- implemented as compositions of
built-in ops with scale-safe plans (SURVEY §2.3 notes the reference
has neither; its sequential-pair J3 is the degenerate case).

As-of join (each left row matched to the latest right row at or
before it, per key): the union-tag trick -- union both sides ordered
by (key, time), propagate the last right value with a window
``last(ignorenulls)``; ONE shuffle on the key, no join at all, no
per-row subqueries. This is how kdb/QuestDB/Flink implement it
logically; at 100 TB the shuffle is on the natural key so it
co-locates with the rest of the per-key pipeline.

Range join (pairs within a time distance): naive is a conditional
join that Spark plans as O(n^2) BroadcastNestedLoop. The scale plan
buckets time into width-`delta` buckets, joins on (key, bucket) for
the 3 adjacent buckets, then applies the exact band predicate --
candidates are bounded by bucket occupancy, never n^2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: list[str],
) -> DataFrame:
    """For each left row: columns of the latest right row with
    ``right_time <= left_time`` within the same ``on`` key (nulls when
    no prior right row exists).
    """
    l_tag = left.withColumn("_t", F.col(left_time)).withColumn("_is_left", F.lit(1))
    r_tag = right.select(
        F.col(on),
        F.col(right_time).alias("_t"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    ).withColumn("_is_left", F.lit(0))
    # deterministic final tiebreak: duplicate right timestamps within a
    # key would otherwise make last(ignorenulls) pick whichever
    # duplicate happened to sort last physically -- order by the
    # right row's own columns so every run/partitioning agrees
    r_tiebreak = F.xxhash64(*[F.col(f"_r_{c}") for c in right_cols])
    l_tag = l_tag.withColumn("_tb", F.lit(0).cast("long"))
    r_tag = r_tag.withColumn("_tb", r_tiebreak)

    merged = l_tag.unionByName(r_tag, allowMissingColumns=True)
    # right rows sort before left rows at equal time => "at or before"
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_t"), F.col("_is_left"), F.col("_tb"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in right_cols:
        merged = merged.withColumn(
            f"asof_{c}", F.last(f"_r_{c}", ignorenulls=True).over(w)
        )
    return (
        merged.where(F.col("_is_left") == 1)
        .drop("_t", "_is_left", "_tb", *[f"_r_{c}" for c in right_cols])
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    delta_seconds: float,
) -> DataFrame:
    """All (left, right) pairs within the same key whose times differ
    by at most ``delta_seconds``. Bucketed-candidate plan: equi-join on
    (key, time bucket) over the 3 adjacent width-delta buckets, exact
    band filter after."""
    delta_us = int(delta_seconds * 1_000_000)
    lb = left.withColumn("_lt", F.unix_micros(F.col(left_time)))
    rb = right.withColumn("_rt", F.unix_micros(F.col(right_time))).withColumn(
        "_rbucket", (F.col("_rt") / delta_us).cast("long")
    )
    lb = lb.withColumn(
        "_bucket",
        F.explode(
            F.array(
                (F.col("_lt") / delta_us).cast("long") - 1,
                (F.col("_lt") / delta_us).cast("long"),
                (F.col("_lt") / delta_us).cast("long") + 1,
            )
        ),
    )
    rb = rb.withColumnRenamed(on, "_ron")
    joined = lb.join(
        rb, (lb[on] == F.col("_ron")) & (F.col("_bucket") == F.col("_rbucket"))
    )
    return joined.where(
        F.abs(F.col("_lt") - F.col("_rt")) <= F.lit(delta_us)
    ).drop("_lt", "_rt", "_bucket", "_rbucket", "_ron")


def yearly_windowed(daily: DataFrame, tail_rows: int, aggs) -> DataFrame:
    """Evaluate ordered-window expressions over a date-grain rollup
    WITHOUT the single-partition ``Window.orderBy(day)`` plan:
    partition by year, with the last ``tail_rows`` ROWS of each year
    replicated into the following year's partition so a year-Y+1
    row's trailing frame sees exactly its global trailing rows
    (earlier Y+1 rows plus Y's replicated tail). The frame is
    row-grain, so the tail marker is a per-year row_number, never a
    calendar cutoff -- exact even when the series has gaps. Replica
    rows are dropped AFTER the window evaluates.

    ``aggs`` maps output column name -> callable taking the BASE
    (partitioned, day-ordered, unframed) WindowSpec; trailing
    aggregates apply ``.rowsBetween(lo, hi)`` themselves (lo >=
    -tail_rows, hi <= 0), and lag()/lead(-style) functions use the
    base spec directly (Spark forbids explicit frames on them).

    A bounded probe (one row per year of history) falls back to the
    single-partition window when a non-final year holds fewer than
    ``tail_rows`` rows or the year sequence has holes -- the only
    shapes where a trailing frame can span more than two years. A
    rollup that sparse is definitionally tiny, so the fallback is
    safe exactly where it is slow. At any event volume the date-grain
    rollup is bounded (<= 366 rows/year), but event HISTORY length is
    unbounded -- decades of days belong across executors, not in one
    WindowExec task."""
    yr = F.year("day")
    counts = sorted(
        (r["y"], r["c"])
        for r in daily.groupBy(yr.alias("y")).agg(F.count("*").alias("c")).collect()
    )
    dense = all(c >= tail_rows for _y, c in counts[:-1]) and all(
        b - a == 1 for (a, _), (b, _) in zip(counts, counts[1:])
    )
    if dense:
        wtail = Window.partitionBy(yr).orderBy(F.col("day").desc())
        served = daily.withColumn("_rn", F.row_number().over(wtail)).select(
            *daily.columns,
            F.explode(
                F.when(
                    F.col("_rn") <= tail_rows, F.array(yr, yr + F.lit(1))
                ).otherwise(F.array(yr))
            ).alias("_serve_year"),
        )
        base = Window.partitionBy("_serve_year").orderBy("day")
        keep = F.col("_serve_year") == yr
    else:
        served = daily.withColumn("_serve_year", yr)
        base = Window.orderBy("day")
        keep = F.lit(True)
    return (
        served.select(
            *daily.columns,
            *[fn(base).alias(name) for name, fn in aggs.items()],
            "_serve_year",
        )
        .where(keep)
        .drop("_serve_year")
    )


def gapfill_forward(daily: DataFrame) -> DataFrame:
    """Densify a per-key daily series over its min->max calendar and
    forward-fill the value column (the resample primitive; consumed by
    queries/behavior.timeseries_gapfill and its planted-gap tests, so
    query and test exercise ONE implementation).

    Input: (event_type, day, n). Output: (event_type, day, filled,
    n_fill) -- ``filled`` marks days absent from the input, ``n_fill``
    carries the last observed value forward (never null: each key's
    first calendar day is observed by construction).

    Scale: everything runs at (key, day) grain -- rows = keys x span
    days regardless of the event volume that produced ``daily`` --
    and the calendar explode, fill join, and running window share one
    hash partitioning on the key.
    """
    # null-key/day rows are excluded EXPLICITLY: they have no calendar
    # position, and leaving them in would silently vanish in the fill
    # equi-join while still skewing the min/max bounds
    daily = daily.where(F.col("event_type").isNotNull() & F.col("day").isNotNull())
    cal = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select("event_type", F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    j = cal.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "event_type",
        "day",
        F.col("n").isNull().alias("filled"),
        F.last("n", ignorenulls=True)
        .over(w)
        .cast("bigint")
        .alias("n_fill"),
    )


def distributed_cumsum(daily: DataFrame, out: str = "cumulative") -> DataFrame:
    """Running (unbounded-preceding) sum of ``new_users`` over a
    date-grain (``day``) series WITHOUT a global single-partition window at the day grain: cumsum
    within each year partition, then add the broadcast sum of all
    prior years' totals. The only global window runs on the YEAR-grain
    totals -- rows = distinct years, bounded by history length / 365,
    so the single task it implies holds a few dozen rows at any event
    volume (same bounded-rollup argument as yearly_windowed's tails).
    Exact for integer values at any partitioning.
    """
    # null-day rows are excluded EXPLICITLY (they have no position in
    # a date order; silently dropping them in the offsets equi-join
    # while counting them into year totals would inflate every
    # cumulative -- the contract is: no calendar position, no row)
    daily = daily.where(F.col("day").isNotNull())
    df = daily.withColumn("_yr", F.year("day"))
    # RANGE frame, not ROWS: if a day ever appears twice, all its rows
    # are peers and get the identical (all-ties-included) cumulative
    # instead of a partition-order-dependent split -- deterministic
    # under the date-grain contract AND under accidental duplicates
    w_in = (
        Window.partitionBy("_yr")
        .orderBy("day")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = df.withColumn("_cum_in", F.sum("new_users").over(w_in))
    totals = df.groupBy("_yr").agg(F.sum("new_users").alias("_tot"))
    w_yr = Window.orderBy("_yr").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_yr", F.coalesce(F.sum("_tot").over(w_yr), F.lit(0)).alias("_off")
    )
    return (
        df.join(F.broadcast(offsets), "_yr")
        .withColumn(out, (F.col("_cum_in") + F.col("_off")).cast("bigint"))
        .drop("_yr", "_cum_in", "_off")
    )
