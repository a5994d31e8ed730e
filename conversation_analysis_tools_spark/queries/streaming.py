"""Windowed event-time queries (SURVEY §2.10 extension surface).

The window transformations live in ``streaming/events.py`` and are
plan-identical in batch and streaming mode; here they run in batch so
DuckDB can oracle them (tumbling = date_trunc; sliding = union of
offset truncs; sessions = gaps-and-islands). ``streaming_tumbling``
additionally executes the real Structured Streaming path
(readStream -> watermark -> availableNow) as a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import table as _catalog_table
from conversation_analysis_tools_spark.functions.numeric import avg4
from conversation_analysis_tools_spark.queries.registry import register
from conversation_analysis_tools_spark.streaming import (
    drain,
    read_event_stream,
    session_aggregate,
    sliding_counts,
    tumbling_counts,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _catalog_table(spark, "events", sf_dir)


@register(
    "window_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(floor(CAST(2 * (sum(CAST(round((value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE)
               AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows (batch semantics of the
    streaming op -- window(ts, '1 hour').start == date_trunc hour)."""
    return tumbling_counts(_events(spark, sf_dir), "1 hour")


@register(
    "window_sliding_2h1h",
    oracle="""
    WITH assigned AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events
    )
    SELECT window_start, event_type, count(*) AS n
    FROM assigned
    GROUP BY 1, 2
    """,
)
def window_sliding_2h1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h windows every 1h: each event belongs to 2 windows
    (window start in {trunc(ts), trunc(ts)-1h})."""
    return sliding_counts(_events(spark, sf_dir), "2 hours", "1 hour")


@register(
    "session_windows_30m",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    )
    SELECT min(ts) AS session_start, user_id,
           count(*) AS n_events,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS session_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 30-minute gap, per user -- Spark's built-in
    ``session_window`` vs the classic gaps-and-islands SQL (lag ->
    cumulative-sum session ids). Session start = first event ts."""
    return session_aggregate(_events(spark, sf_dir), "30 minutes")


@register(
    "streaming_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           CAST(floor(CAST(2 * (sum(CAST(round((value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE)
               AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming path: readStream over the events
    parquet, watermark, tumbling window agg, availableNow trigger to a
    memory sink. The finite stream drains completely under
    availableNow + complete mode, so every window emits and the result
    equals the batch tumbling agg -- strict oracle."""
    return drain(tumbling_counts(_staged_stream(spark, sf_dir), "1 hour"))


@register(
    "stateful_sessionize",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization (applyInPandasWithState in
    streaming mode; identical-semantics grouped-pandas in batch --
    streaming/events.sessionize_with_state). The oracle is the
    gaps-and-islands SQL; the streaming path carries the same logic
    as GroupState across micro-batches."""
    from conversation_analysis_tools_spark.streaming.events import sessionize_with_state

    return sessionize_with_state(_events(spark, sf_dir), gap_minutes=30.0)


def _staged_stream(
    spark: SparkSession, sf_dir: str, scope: bool = True
) -> DataFrame:
    """readStream over the events parquet (file source needs a
    directory; stage the single file via symlink into a deterministic
    per-sf_dir dir -- zero copy, zero temp-dir accumulation).

    By default the stream is built on a :func:`scoped_session` clone,
    so per-stream shuffle tuning never leaks into the shared session;
    pass ``scope=False`` with an already-scoped session when two
    streams must share one session (stream-stream join). Read the
    memory-sink table back via ``df.sparkSession``."""
    import os

    from conversation_analysis_tools_spark.catalog import staging_dir
    from conversation_analysis_tools_spark.streaming.events import scoped_session

    d = staging_dir("stream_events", sf_dir)
    link = f"{d}/events.parquet"
    target = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.islink(link) and os.readlink(link) != target:
        os.remove(link)
    if not os.path.exists(link):
        os.symlink(target, link)
    if scope:
        spark = scoped_session(spark, 8)
    return read_event_stream(spark, d)


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment AS segment,
           count(*) AS n,
           round(sum(CAST(round(e.value * 100) AS BIGINT)) / 100.0, 4) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join executed on the REAL streaming path:
    readStream events -> broadcast-join the static customer dimension
    -> watermarked tumbling window x segment aggregate -> availableNow
    memory sink. The stream side never shuffles for the join (the
    dimension is broadcast); only the window agg shuffles. Because the
    finite stream drains completely, the result equals the batch join
    -- so this real streaming execution still has a strict oracle.
    """
    from conversation_analysis_tools_spark.streaming import enrich_with_dim

    src = _staged_stream(spark, sf_dir)
    # load the dimension on the SAME (scoped) session as the stream --
    # mixing DataFrames across sessions is undefined
    dim = _catalog_table(src.sparkSession, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    enriched = enrich_with_dim(src, dim)
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0, 4
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n",
            "total_value",
        )
    )
    return drain(agg)


@register(
    "streaming_dedup_first",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keep-first dedup on (user_id, event_type), executed
    on the REAL streaming path with an append-mode memory sink.

    Run with watermark=None -> global dropDuplicates (exact DISTINCT,
    unbounded state): right for a bounded backfill like this drain,
    and it is what gives the strict oracle. The production infinite-
    stream variant is the same operator with a watermark
    (dropDuplicatesWithinWatermark: state bounded to the horizon,
    re-occurrences past it pass through again -- see
    streaming.dedup_first).
    """
    from conversation_analysis_tools_spark.streaming import dedup_first

    src = _staged_stream(spark, sf_dir)
    return drain(
        dedup_first(src, ["user_id", "event_type"], watermark=None),
        output_mode="append",
    )


@register(
    "streaming_stream_join",
    oracle="""
    SELECT v.user_id,
           count(*) AS n_pairs,
           CAST(floor(CAST(2 * (sum(epoch_us(c.ts) - epoch_us(v.ts))) + (100 * count(*)) AS DOUBLE) / CAST(2 * (100 * count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE)
               AS avg_lag_sec
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    GROUP BY v.user_id
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join on the REAL streaming path: two
    independent readStreams (views, clicks), each watermarked, joined
    on user_id with a 2-hour event-time band -- Spark buffers both
    sides in state and emits matches as they arrive (the attribution-
    join shape: click within 2h of a view).

    The watermark (35 days) exceeds the bounded corpus's whole span,
    so no state is purged and no late row is dropped during the
    availableNow drain => the appended pair set equals the batch
    interval join exactly, giving a strict oracle. Production tunes
    the watermark to the real lateness bound; state size is
    O(events within horizon). The per-user aggregate runs batch-side
    on the sink table (chaining a second stateful op onto a stream-
    stream join is the one shape to avoid).
    """
    from conversation_analysis_tools_spark.streaming.events import (
        parquet_row_count,
        scoped_session,
        size_state_partitions,
    )

    # State-volume-derived partition count (round 12; the committed
    # constant 4 was the sf0.1 OUTCOME, not a scalable input): the
    # 35-day watermark exceeds the corpus span, so both sides buffer
    # every view and click -- 2 of the 5 near-uniform event types, so
    # est_state ~ 2/5 of the events footer row count (parquet
    # metadata, no job; sizing needs only the order of magnitude).
    # At sf0.1 AND sf1 this derives the A/B-measured optimum 4 (40k /
    # 400k state rows both sit under the 1M-rows-per-partition memory
    # target, so the floor holds); a 100 TB backlog derives the
    # thousands of partitions that keep each of the join's
    # 4-stores-per-partition state bounded.
    est_state = parquet_row_count(f"{sf_dir}/events.parquet") * 2 // 5
    # ONE scoped session for both streams: a stream-stream join must
    # not straddle two sessions
    s2 = scoped_session(spark, size_state_partitions(est_state))
    views = (
        _staged_stream(s2, sf_dir, scope=False)
        .where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "35 days")
    )
    clicks = (
        _staged_stream(s2, sf_dir, scope=False)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "35 days")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    return (
        drain(joined, output_mode="append")
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            # exact integer-microsecond sum + integer half-up rounding
            # (functions/numeric.py)
            avg4(
                F.sum(F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("v_ts"))),
                F.count("*") * 100,
            ).alias("avg_lag_sec"),
        )
    )


@register(
    "streaming_rollup_maintenance",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS total,
           CAST(floor(CAST(2 * (sum(CAST(round((value) * 100) AS BIGINT)) * 100) + (count(*)) AS DOUBLE) / CAST(2 * (count(*)) AS DOUBLE)) AS BIGINT) / CAST(10000 AS DOUBLE)
               AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous incremental-rollup maintenance on the REAL streaming
    path: the event stream (staged as 3 files -> 3 micro-batches)
    folds into a persistent daily rollup via foreachBatch +
    merge_rollup -- a streaming materialized view. Because rollup
    state is exact integer cents, the maintained table is bit-exact
    against the oracle's from-scratch GROUP BY no matter how the
    stream was micro-batched: a REAL streaming execution with a
    STRICT oracle (same oracle as incremental_rollup, which is the
    point -- batch recompute, delta merge, and continuous maintenance
    all agree)."""
    import shutil

    from conversation_analysis_tools_spark.catalog import staging_dir
    from conversation_analysis_tools_spark.operators.rollup import finalize_rollup
    from conversation_analysis_tools_spark.streaming.events import (
        stream_maintain_rollup,
    )

    # deterministic staging dir, wiped at entry: bounded temp disk
    # across verify/bench loops, AND a fresh checkpoint every run (a
    # reused checkpoint would skip already-seen file paths and serve a
    # stale rollup if the testdata was regenerated in place)
    d = staging_dir("stream_rollup", sf_dir)
    shutil.rmtree(d, ignore_errors=True)
    src = f"{d}/src"
    _events(spark, sf_dir).repartitionByRange(3, "event_id").write.parquet(src)
    state = stream_maintain_rollup(spark, src, f"{d}/rollup", "event_type")
    return finalize_rollup(state)


@register(
    "stateful_user_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4)
               AS total_value,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative totals -- the transformWithStateInPandas
    changelog operator (streaming/events.cumulative_user_stats,
    Spark 4 arbitrary-state API: ValueState of (n, cents, min_us,
    max_us), one emitted row per user per batch-with-input; the
    latest row per user equals this batch GROUP BY no matter how the
    input was micro-batched, because the state is integer-exact and
    monotone).

    Like stateful_sessionize, the driver row checks the
    batch-identical semantics; the real TWS execution additionally
    needs the protobuf proto client (absent in this container --
    import-gated via tws_available(), exercised by
    tests/test_tws_state.py when present)."""
    from conversation_analysis_tools_spark.streaming.events import (
        cumulative_user_stats,
    )

    return cumulative_user_stats(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Streaming near-duplicate dedup (ingest-time admission filter)
# ---------------------------------------------------------------------------

def _neardup_stream_oracle() -> str:
    """Greedy-by-arrival admission as SQL: identical LSH candidate
    generation + exact-Jaccard verification as dedup_minhash_lsh
    (md5-exact across engines), then a SEQUENTIAL recursive CTE walks
    doc_id order carrying the admitted list -- doc admitted iff no
    verified pair links it to an admitted earlier doc. MATERIALIZED
    pins the verified-pair and order CTEs so the recursion does not
    re-derive the LSH pipeline per iteration (51 s -> 1.3 s at
    sf0.01)."""
    from conversation_analysis_tools_spark.queries.dedup import (
        _BAND_KEYS_SQL,
        _SIGS_CTE_SQL,
    )

    return f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\\b[a-z]{{3,}}\\b') AS toks
        FROM documents
    ),
    shingles AS MATERIALIZED (
        SELECT DISTINCT doc_id, shingle
        FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= 3
                          THEN list_transform(range(0, len(toks) - 2),
                                              i -> array_to_string(toks[i+1:i+3], ' '))
                          ELSE [] END) AS shingle
            FROM toks
        )
    ),
    {_SIGS_CTE_SQL},
    bands AS (
    {_BAND_KEYS_SQL}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.id1, c.id2, count(*) AS inter
        FROM cands c
        JOIN shingles s1 ON s1.doc_id = c.id1
        JOIN shingles s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
        GROUP BY c.id1, c.id2
    ),
    ver AS MATERIALIZED (
        SELECT i.id1, i.id2
        FROM inter i JOIN sizes z1 ON i.id1 = z1.doc_id JOIN sizes z2 ON i.id2 = z2.doc_id
        WHERE i.inter * 1.0 / (z1.sz + z2.sz - i.inter) >= 0.2
    ),
    seq AS MATERIALIZED (SELECT list(doc_id ORDER BY doc_id) AS ids FROM documents),
    g(rn, kept) AS (
        SELECT 0, CAST([] AS BIGINT[])
        UNION ALL
        SELECT g.rn + 1,
               CASE WHEN EXISTS (SELECT 1 FROM ver v
                                 WHERE v.id2 = seq.ids[g.rn + 1]
                                   AND list_contains(g.kept, v.id1))
                    THEN g.kept
                    ELSE list_append(g.kept, seq.ids[g.rn + 1]) END
        FROM g, seq WHERE g.rn < len(seq.ids)
    )
    SELECT unnest(kept) AS doc_id FROM g, seq WHERE g.rn = len(seq.ids)
    """


@register("streaming_neardup_dedup", oracle=_neardup_stream_oracle())
def streaming_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-duplicate admission on the REAL streaming
    path: documents staged as 3 doc_id-ordered files -> 3 micro-
    batches (maxFilesPerTrigger=1, mtimes pinned so the file source
    drains them in order) -> foreachBatch admits each batch greedily
    against the persistent MinHash store (streaming/neardup.py).

    Greedy-by-arrival is the real ingest semantics (admit unless a
    verified near-dup of something already admitted); with a
    deterministic arrival order it carries a strict oracle -- DuckDB
    replays the same admission sequentially over the identical
    (md5-exact) verified candidate pairs."""
    import os

    from conversation_analysis_tools_spark.streaming.neardup import (
        stream_neardup_dedup,
    )

    d, src = _stage_ordered_docs(spark, sf_dir, "stream_neardup", ["doc_id", "text"])
    return stream_neardup_dedup(spark, src, os.path.join(d, "store"))


#: Micro-batches a staged documents stream drains in.
_STAGE_FILES = 3


def _stage_ordered_docs(
    spark: SparkSession, sf_dir: str, kind: str, cols: list[str]
) -> tuple[str, str]:
    """Stage the documents table as ``_STAGE_FILES`` doc_id-RANGE files with
    strictly increasing mtimes, so a maxFilesPerTrigger=1 file-source
    stream drains them as ascending-doc_id micro-batches -- the
    deterministic arrival order the greedy-by-arrival oracles replay.
    Returns (staging root, source dir)."""
    import os
    import shutil

    from conversation_analysis_tools_spark.catalog import staging_dir

    d = staging_dir(kind, sf_dir)
    shutil.rmtree(d, ignore_errors=True)
    src = os.path.join(d, "src")
    os.makedirs(src)
    docs = _catalog_table(spark, "documents", sf_dir).select(*cols)
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = hi - lo + 1
    for k in range(_STAGE_FILES):
        a = lo + span * k // _STAGE_FILES
        b = lo + span * (k + 1) // _STAGE_FILES
        part = os.path.join(d, f"part{k}")
        (
            docs.where((F.col("doc_id") >= a) & (F.col("doc_id") < b))
            .coalesce(1)
            .write.parquet(part)
        )
        src_file = next(
            f for f in os.listdir(part) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"{k:02d}.parquet")
        os.rename(os.path.join(part, src_file), dst)
        # strictly increasing mtimes => deterministic drain order
        os.utime(dst, (1_000_000 + k, 1_000_000 + k))
    return d, src


@register(
    "streaming_hll_maintenance",
    oracle="""
    SELECT CAST(ts AS DATE) AS d,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_within_5pct
    FROM events GROUP BY 1
    """,
)
def streaming_hll_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous DISTINCT-count maintenance on the REAL streaming
    path: the sketch companion to streaming_rollup_maintenance.
    Distinct counts don't merge by addition, so the maintained state
    is one DataSketches HLL sketch per day (KB-scale regardless of
    event volume), unioned per micro-batch (streaming/sketches.py).
    Union is associative AND idempotent: any micro-batching -- and
    any at-least-once replay -- converges to the same sketch, which
    is what lets a REAL streaming execution carry a driver-checkable
    oracle (certificate form: per-day estimate within 5% of the
    exact distinct the oracle recomputes; the batching-invariance
    itself is pinned strictly in tests/test_sketch_stream.py)."""
    import shutil

    from conversation_analysis_tools_spark.catalog import staging_dir
    from conversation_analysis_tools_spark.streaming.sketches import (
        stream_maintain_sketches,
    )

    d = staging_dir("stream_hll", sf_dir)
    shutil.rmtree(d, ignore_errors=True)
    src = f"{d}/src"
    _events(spark, sf_dir).repartitionByRange(3, "event_id").write.parquet(src)
    state = stream_maintain_sketches(spark, src, f"{d}/state")
    est = state.selectExpr("d", "hll_sketch_estimate(sk) AS est")
    exact = (
        _events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return exact.join(est, "d").select(
        "d",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("est_within_5pct"),
    )


def _streaming_funnel_oracle() -> str:
    """The batch capstone's oracle verbatim: with a doc_id-ordered
    staged source, keep-first-arrival fingerprint admission equals
    the batch window's min-doc_id-per-fp row (see
    streaming/curation.py), so the streaming funnel shares
    curation_pipeline_v2's DuckDB SQL -- identical columns, identical
    values, strict (not rows-only)."""
    from conversation_analysis_tools_spark.queries.textstats import _v2_oracle

    return _v2_oracle()


@register("streaming_curation_funnel", oracle=_streaming_funnel_oracle())
def streaming_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone on the REAL streaming path (VERDICT r8
    item 6): documents staged as 3 doc_id-ordered files -> 3
    micro-batches (maxFilesPerTrigger=1, pinned mtimes), each folded
    through curation_pipeline_v2's OWN stage builder (_v2_gop --
    domain gate, PII redaction, Gopher word rules: stateless maps
    that stream unchanged) and a keep-first-arrival fingerprint
    admission against a persistent fp store (streaming/curation.py).

    Greedy-by-arrival at exact fingerprint grain + ascending-doc_id
    arrival order = the batch window's min-doc_id winner per fp, so
    this REAL streaming execution carries the batch capstone's strict
    oracle -- the funnel a 100-TB ingest service would publish
    continuously, proven equal to the nightly batch job's."""
    import os

    from conversation_analysis_tools_spark.queries.textstats import _v2_gop
    from conversation_analysis_tools_spark.streaming.curation import (
        stream_curation_funnel,
    )

    d, src = _stage_ordered_docs(
        spark, sf_dir, "stream_curation", ["doc_id", "source", "text"]
    )
    return stream_curation_funnel(
        spark,
        src,
        os.path.join(d, "store"),
        lambda batch: _v2_gop(batch, cache=False),
    )
