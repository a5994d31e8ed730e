"""Structured Streaming over events: tumbling / sliding / session
windows with watermarked late-data handling.

The transformations are written against a plain DataFrame so the SAME
function serves batch (oracle-checkable -- time bucketing is pure SQL)
and streaming (``readStream`` + watermark). That is the Spark model:
the logical plan is identical, the sink/trigger decide incremental
execution.

Scale posture: event streams shuffle on (window, key); watermark
bounds state; session windows use the built-in ``session_window``
(state store merges, no custom applyInPandasWithState needed for gap
sessions).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import (
    events_ts,
    parquet_footers,
    raw_events,
)
from conversation_analysis_tools_spark.decisions import carried
from conversation_analysis_tools_spark.functions.numeric import avg4, cents

def read_event_stream(spark: SparkSession, path_dir: str) -> DataFrame:
    """File-source stream over an events parquet directory, one file
    per micro-batch. ``readStream`` needs an explicit schema: it takes
    the batch read's, so the stream's ``ts`` goes through the batch
    reader's rule (catalog.events_ts)."""
    stream = (
        spark.readStream.schema(raw_events(spark, path_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path_dir)
    )
    return events_ts(stream)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows; watermark bounds late data and
    state size when the input is a stream.

    avg(value) uses the exact-integer path (functions/numeric.avg4):
    cent sums are order-independent and the half-up rounding happens
    in integer space, so the oracle holds at every scale."""
    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            avg4(F.sum(cents("value")) * 100, F.count("*")).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "avg_value")
    )


def sliding_counts(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    src = events.withWatermark("ts", "3 hours") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge into
    one session (built-in session_window state merge)."""
    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(cents("value")) / 100.0, 4).alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: the dimension side is a bounded
    batch table, broadcast to every task, so the (unbounded) stream
    side never shuffles for the join -- the standard pattern for
    attaching slowly-changing reference data to an event stream. The
    same plan serves batch inputs unchanged."""
    return events.join(
        F.broadcast(dim), events["user_id"] == dim["c_custkey"], "inner"
    ).drop("c_custkey")


def dedup_first(
    events: DataFrame, keys: list[str], watermark: str | None = "2 hours"
) -> DataFrame:
    """Streaming dedup: keep the first row per key.

    With ``watermark`` set (the production path), uses
    ``dropDuplicatesWithinWatermark`` so the key-state store is
    bounded by the watermark horizon -- re-occurrences beyond the
    horizon pass through again (at-least-once dedup, bounded state).
    With ``watermark=None``, global ``dropDuplicates``: exact DISTINCT
    semantics with unbounded state (fine for bounded backfills; never
    for an infinite stream). Projects to the key columns so the result
    is deterministic (which physical row survives is undefined)."""
    if events.isStreaming and watermark is not None:
        return (
            events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys)
            .select(*keys)
        )
    return events.dropDuplicates(keys).select(*keys)


#: Rows-per-shuffle-partition target for sizing a stateful streaming
#: query's state layout. A stateful operator opens one state store per
#: shuffle partition (a stream-stream join opens FOUR: keyToNumValues
#: + keyWithIndexToValue per side) and EVERY micro-batch -- including
#: the mandatory zero-row watermark-advance batch -- pays open+commit
#: on all of them, so over-partitioned small state is pure store
#: overhead (measured at sf0.1's ~40k state rows: the stream-stream
#: join ran 12.8 s at 32 partitions, 2.6 s at 4; at sf1's ~400k rows:
#: 10.6 s at 40 partitions, 5.4 at 16, 3.7 at 8, 3.5 at 4, 4.5 at 2)
#: while under-partitioned large state serializes the operator and
#: concentrates state in few stores. The measured optimum sits at ~4
#: partitions across a 10x state-volume span, so the per-partition
#: target is sized for MEMORY, not for the local curve's left edge:
#: 1M state rows/partition keeps each store's state in the tens-of-MB
#: band the optimization guide sizes shuffle partitions to (§2.2),
#: and derives the hundreds-to-thousands of partitions a 10B-row
#: backlog wants while the PARTITION_FLOOR keeps a small-state
#: operator from serializing (2 partitions measured ~30% slower than
#: 4 at both sfs).
STATE_ROWS_PER_PARTITION = 1_000_000

#: Never fewer than this many stateful partitions: below it the
#: operator loses its last useful parallelism and the measured curve
#: turns back up (2 partitions: 4.5 s vs 3.5 at sf1; "2 was level, 4
#: best" at sf0.1 in the round-11 interleaved A/B).
STATE_PARTITION_FLOOR = 4


def size_state_partitions(est_state_rows: int) -> int:
    """Shuffle-partition count for a stateful streaming query, derived
    from the estimated state volume instead of a constant: one
    partition per STATE_ROWS_PER_PARTITION state rows, floor
    STATE_PARTITION_FLOOR. The estimate only needs the right order of
    magnitude -- the measured cost curve is flat within 2x of the
    optimum at both sf0.1 and sf1 -- so callers size it from
    driver-side metadata (parquet footer row counts x filter
    selectivity), never from an extra Spark job. Round 12 retargeted
    STATE_ROWS_PER_PARTITION 10k -> 1M after the sf1 A/B showed the 10k
    target deriving 40 partitions whose store open/commit overhead
    tripled the query (see STATE_ROWS_PER_PARTITION)."""
    import math

    return max(
        STATE_PARTITION_FLOOR,
        math.ceil(max(0, est_state_rows) / STATE_ROWS_PER_PARTITION),
    )


def parquet_row_count(path: str) -> int:
    """Exact row count of a parquet file or directory tree from its
    footers (catalog.parquet_footers) -- driver-side, no Spark job (the
    streaming state-sizing probe; at cluster scale this is one metadata
    read per file, the same cost as planning the scan)."""
    return sum(
        block.getRowCount()
        for _, footer in parquet_footers(SparkSession.active(), path)
        for block in footer.getBlocks()
    )


#: Seconds a drain may run before it is stopped and raises.
DRAIN_TIMEOUT_SEC = 240


def drain(
    stream: DataFrame,
    fold: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
    output_mode: str = "complete",
) -> DataFrame | None:
    """Run ``stream`` to completion with ``availableNow`` (every file
    its source holds now, then stop) and wait for it.

    With ``fold``, every micro-batch goes to ``fold(batch_df,
    batch_id)`` through ``foreachBatch``, progress is kept in
    ``checkpoint``, and the fold's decisions reach the captures open
    here (decisions.carried); returns None. Without, the rows go to a
    new in-memory table in ``output_mode`` with a temporary checkpoint,
    and the table is returned (on the stream's session).

    A stream that fails raises its error. One still running after
    DRAIN_TIMEOUT_SEC is stopped and raises: its sink holds a partial
    result, which is never returned. The stateful operators' partition
    count is the stream session's (build it on :func:`scoped_session`).
    """
    import uuid

    writer = stream.writeStream.trigger(availableNow=True)
    if fold is None:
        name = f"drain_{uuid.uuid4().hex[:8]}"
        writer = writer.format("memory").queryName(name).outputMode(output_mode)
    else:
        writer = writer.foreachBatch(carried(fold)).option(
            "checkpointLocation", checkpoint
        )
    q = writer.start()
    if not q.awaitTermination(DRAIN_TIMEOUT_SEC):
        q.stop()
        raise RuntimeError(
            f"stream drain did not finish within {DRAIN_TIMEOUT_SEC}s; "
            "its sink holds a PARTIAL result -- not returning it"
        )
    return None if fold is not None else stream.sparkSession.table(name)


def scoped_session(spark: "SparkSession", shuffle_partitions: int | None) -> "SparkSession":
    """Clone the session for one streaming query: same SparkContext
    and cached data, separate SQLConf -- so per-stream tuning never
    leaks into queries planned concurrently on the shared session.
    Carries over the confs the engine depends on (``newSession()``
    resets runtime-set confs to builder defaults).

    ``shuffle_partitions`` is the stream's state layout: a stateful
    query opens one state store per shuffle partition per stateful
    operator, and store open/commit dominates small drains
    (stream-stream join at sf0.1: 12.8 s with 32 stores/side vs 2.6 s
    with 4). The count is baked into the checkpoint at first start, so
    size it to state volume (:func:`size_state_partitions`), not to the
    batch parallelism default."""
    s2 = spark.newSession()
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        try:
            v = spark.conf.get(k)
        except Exception:
            continue
        if v is not None:
            s2.conf.set(k, v)
    if shuffle_partitions is not None:
        s2.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return s2


def sessionize_with_state(events: "DataFrame", gap_minutes: float = 30.0) -> "DataFrame":
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user session tracking with arbitrary state (the escape hatch
    for semantics session_window can't express -- e.g. carrying
    last-event metadata or custom expiry rules across micro-batches).

    Batch-mode fallback: when the input is a batch DataFrame the same
    semantics run as a grouped-pandas op (state loop inside the
    group), so the operator is testable without a streaming sink.
    Emits one row per closed-or-final session.

    .. warning:: **Checkpoint compatibility.** Round 10 changed the
       state schema from (start_ms/end_ms bigint, tot double) to
       (start_us/end_us bigint, tot bigint cents) to match the batch
       path's precision. A streaming query restarted from a
       pre-change checkpoint would either fail Spark's state schema
       check or -- worse -- reinterpret ms epochs as microseconds and
       float totals as integer cents, silently corrupting sessions.
       Existing sessionize checkpoints MUST be discarded (or the
       checkpoint path versioned, e.g. ``.../sessionize_v2``) when
       upgrading past that change.
    """
    import pandas as pd

    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, total_value double"
    )
    gap = pd.Timedelta(minutes=gap_minutes)

    def sessionize_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        rows = []
        start = end = None
        n = 0
        tot = 0  # exact integer cents (value is 2-decimal currency)
        for ts, v in zip(pdf["ts"], pdf["value"]):
            c = int(round(float(v) * 100))
            if start is None:
                start, end, n, tot = ts, ts, 1, c
            elif ts - end > gap:
                rows.append((start, end, n, round(tot / 100.0, 4)))
                start, end, n, tot = ts, ts, 1, c
            else:
                end, n, tot = ts, n + 1, tot + c
        if start is not None:
            rows.append((start, end, n, round(tot / 100.0, 4)))
        uid = pdf["user_id"].iloc[0]
        return pd.DataFrame(
            [(uid, s, e, c, t) for (s, e, c, t) in rows],
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )

    if not events.isStreaming:
        return events.select("user_id", "ts", "value").groupBy("user_id").applyInPandas(
            sessionize_pdf, schema=out_schema
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def with_state(key, pdfs, state: "GroupState"):
        import pandas as pd  # noqa: F811

        # State keeps MICROSECOND epochs and integer CENTS -- the same
        # precision and arithmetic as the batch fallback above. The
        # original ms-epoch/float-total state diverged from batch by
        # sub-ms timestamp truncation and float accumulation; the
        # certified query exercises the batch branch, so only the
        # RUN_SLOW_STREAMING soak (streamed subset-of batch keys)
        # caught it (round 10).
        (user_id,) = key
        if state.exists:
            start_us, end_us, n, tot = state.get
        else:
            start_us = end_us = None
            n, tot = 0, 0
        gap_us = int(gap_minutes * 60_000_000)
        closed = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            for ts, v in zip(pdf["ts"], pdf["value"]):
                us = int(ts.value // 1_000)
                c = int(round(float(v) * 100))
                if start_us is None:
                    start_us, end_us, n, tot = us, us, 1, c
                elif us - end_us > gap_us:
                    closed.append((start_us, end_us, n, tot))
                    start_us, end_us, n, tot = us, us, 1, c
                else:
                    end_us, n, tot = us, n + 1, tot + c
        if state.hasTimedOut:
            if start_us is not None:
                closed.append((start_us, end_us, n, tot))
            state.remove()
        else:
            state.update((start_us, end_us, n, tot))
            state.setTimeoutDuration(int(gap_minutes * 60_000))
        if closed:
            yield pd.DataFrame(
                [
                    (
                        user_id,
                        pd.Timestamp(s, unit="us"),
                        pd.Timestamp(e, unit="us"),
                        c,
                        round(t / 100.0, 4),
                    )
                    for (s, e, c, t) in closed
                ],
                columns=[
                    "user_id",
                    "session_start",
                    "session_end",
                    "n_events",
                    "total_value",
                ],
            )

    src = events.withWatermark("ts", "2 hours")
    return src.select("user_id", "ts", "value").groupBy("user_id").applyInPandasWithState(
        with_state,
        outputStructType=out_schema,
        stateStructType="start_us bigint, end_us bigint, n bigint, tot bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


#: The last batch id folded into a state directory; the leading
#: underscore keeps parquet scans from reading it as data.
BATCH_MARKER = "_applied_batch.json"


def rollup_applied_batch(state_dir: str) -> int:
    """Last batch id folded into the state at ``state_dir`` (-1 before
    the first fold)."""
    p = os.path.join(state_dir, BATCH_MARKER)
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        return json.load(f)["batch_id"]


def _mark_applied(state_dir: str, batch_id: int) -> None:
    with open(os.path.join(state_dir, BATCH_MARKER), "w") as f:
        json.dump({"batch_id": batch_id}, f)


def skip_replays(store_dir: str, fold):
    """``fold`` as a foreachBatch function that skips batches the
    marker in ``store_dir`` records and marks each batch it folds. For
    folds whose outputs land in per-batch partitions that a replay
    overwrites: the marker written after the fold is a skip, not the
    commit."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= rollup_applied_batch(store_dir):
            return
        fold(batch_df, batch_id)
        _mark_applied(store_dir, batch_id)

    return run


def swap_fold(
    batch_df: DataFrame, batch_id: int, state_path: str, build, merge
) -> bool:
    """Fold ONE micro-batch into the parquet state at ``state_path``,
    exactly once: the next state is ``build(batch_df)``, merged into
    the current one with ``merge(state, delta)`` after the first fold.

    ``foreachBatch`` is at-least-once: a failure between the sink
    write and the checkpoint commit (or a restart with a lagging
    checkpoint) replays a batch. The batch id is therefore committed
    ATOMICALLY with the state it describes -- marker file written into
    the staged directory, then directory-rename swap -- and a replay
    (batch_id <= recorded) is skipped. Returns False for skips.
    Parquet has no in-place MERGE (a table format -- Delta/Iceberg --
    makes this a transactional MERGE INTO at scale), so the
    transaction is the directory swap."""
    # crash-window recovery: a failure between the two swap renames
    # below leaves the only state copy stranded in ._old -- restore
    # it before the marker read / exists-probe treat state as empty
    old = state_path + "._old"
    if not os.path.exists(state_path) and os.path.exists(old):
        os.rename(old, state_path)
    if batch_id <= rollup_applied_batch(state_path):
        return False
    nxt = build(batch_df)
    if os.path.exists(state_path):
        nxt = merge(batch_df.sparkSession.read.parquet(state_path), nxt)
    staged = state_path + "._staged"
    shutil.rmtree(staged, ignore_errors=True)
    nxt.write.mode("overwrite").parquet(staged)
    _mark_applied(staged, batch_id)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(state_path):
        os.rename(state_path, old)
    os.rename(staged, state_path)
    shutil.rmtree(old, ignore_errors=True)
    return True


def fold_rollup_batch(
    batch_df: "DataFrame", batch_id: int, rollup_path: str, keys: tuple
) -> bool:
    """Fold ONE micro-batch into the persistent rollup, exactly once
    (:func:`swap_fold`: addition would double-count a replay). Returns
    False for skipped replays."""
    from conversation_analysis_tools_spark.operators.rollup import (
        build_rollup,
        merge_rollup,
    )

    return swap_fold(
        batch_df,
        batch_id,
        rollup_path,
        lambda batch: build_rollup(batch, *keys),
        merge_rollup,
    )


def stream_maintain_rollup(
    spark: SparkSession, path_dir: str, rollup_path: str, *keys: str
) -> DataFrame:
    """Continuous incremental-rollup maintenance via ``foreachBatch``:
    each micro-batch of the event stream is folded into the persistent
    daily rollup with operators/rollup.merge_rollup -- the production
    marriage of the streaming source and the mergeable-state pattern
    (a streaming materialized view).

    ``foreachBatch`` is the right sink here because the update is an
    arbitrary batch transaction (read current state, merge, overwrite),
    not an append the built-in sinks can express. Each batch shuffles
    only |batch rollup| + |current rollup| rows on the group key --
    history is never re-read; with the rollup written bucketed by key
    the old side is exchange-free (layout.write_bucketed).

    Because rollup state is exact integer cents (build_rollup), the
    maintained table is bit-identical to a from-scratch GROUP BY over
    all events regardless of how the stream was micro-batched --
    pinned by tests/test_ann_streaming.py. Returns the final state.

    Exactly-once fold: each batch commits with its batch id through
    :func:`swap_fold`, so a replayed micro-batch is skipped instead of
    double-counted.
    """
    # dedicated cloned session: state-store partition count is scoped
    # to this stream instead of mutating the shared session's conf
    drain(
        read_event_stream(scoped_session(spark, 8), path_dir),
        lambda batch_df, batch_id: fold_rollup_batch(
            batch_df, batch_id, rollup_path, keys
        ),
        rollup_path + "._ckpt",
    )
    return spark.read.parquet(rollup_path)


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------


def tws_available() -> bool:
    """Whether ``transformWithStateInPandas`` can execute here.

    The TWS Python driver worker speaks protobuf to the JVM state
    server (pyspark/sql/streaming/proto/StateMessage_pb2); without the
    ``protobuf`` package the worker crashes during state-schema
    discovery. Same optional-dep gating pattern as matplotlib
    rendering (sources/charts.py)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _cumulative_processor():
    """Build the StatefulProcessor for :func:`cumulative_user_stats`.

    Deferred into a factory so importing this module never requires
    the streaming-proto stack."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class CumulativeUserStats(StatefulProcessor):
        """Per-user running totals as a changelog stream.

        ValueState holds (n, cents, min_us, max_us); every batch with
        input for a user emits the user's NEW cumulative row. The
        latest row per user therefore equals the batch aggregate
        regardless of how the input was micro-batched -- which is what
        makes the operator strictly verifiable (take last-per-user,
        compare to GROUP BY). Value sums run in integer cents, so
        emission order and batching never perturb the float result.
        """

        def init(self, handle):
            self._state = handle.getValueState(
                "agg", "n BIGINT, cents BIGINT, min_us BIGINT, max_us BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._state.get()
            n, cents, min_us, max_us = prev if prev is not None else (0, 0, None, None)
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                # HALF_UP (away from zero), matching F.round and the
                # DuckDB oracle -- pandas .round() is half-to-even and
                # would diverge on exact half-cents
                import numpy as np

                v = pdf["value"].to_numpy() * 100
                cents += int(
                    (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64").sum()
                )
                us = pdf["ts"].astype("int64") // 1000
                lo, hi = int(us.min()), int(us.max())
                min_us = lo if min_us is None else min(min_us, lo)
                max_us = hi if max_us is None else max(max_us, hi)
            self._state.update((n, cents, min_us, max_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(cents / 100.0, 4)],
                    "first_ts": [pd.Timestamp(min_us, unit="us")],
                    "last_ts": [pd.Timestamp(max_us, unit="us")],
                }
            )

        def close(self):
            pass

    return CumulativeUserStats()


TWS_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, "
    "first_ts timestamp, last_ts timestamp"
)


def cumulative_user_stats(events: DataFrame) -> DataFrame:
    """Per-user cumulative (count, exact-cents sum, first/last ts).

    Streaming input -> the Spark 4 ``transformWithStateInPandas``
    arbitrary-state operator (ValueState changelog; one emitted row
    per user per batch-with-input, latest row == final totals). The
    caller finishes with last-row-per-user (monotone n_events makes
    that well-defined) -- batching-count independent by construction.

    Batch input -> the semantically identical GROUP BY (what the
    changelog's final rows are), so the operator is testable and
    driver-checkable in environments where the TWS proto stack is
    unavailable (:func:`tws_available`).
    """
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            (F.sum(cents("value")) / F.lit(100.0)).alias("_tv"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        ).select(
            "user_id",
            "n_events",
            F.round("_tv", 4).alias("total_value"),
            "first_ts",
            "last_ts",
        )
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "(pyspark streaming proto client); not installed here. "
            "Batch-mode cumulative_user_stats carries the same "
            "semantics."
        )
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _cumulative_processor(),
            outputStructType=TWS_OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )
