"""ANN recall against exact kNN; streaming-vs-batch window equality."""

import os
import time

import pytest
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import table
from conversation_analysis_tools_spark.operators import ann as A
from tests.conftest import SF_DIR


def _queries(emb, n=5):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_lsh_recall_against_bruteforce(spark):
    emb = table(spark, "embeddings", SF_DIR)
    q = _queries(emb)
    exact = A.brute_force_topk(emb, q, k=5, exclude_self=True).collect()
    approx = A.lsh_topk(emb, q, dim=64, k=5, n_planes=3, exclude_self=True).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_multi_table_recall_improves(spark):
    # 3 independent tables: a true neighbor is missed only when it
    # splits from the query in every table (measured 0.96 vs 0.64)
    emb = table(spark, "embeddings", SF_DIR)
    q = _queries(emb)
    exact = A.brute_force_topk(emb, q, k=5, exclude_self=True).collect()
    approx = A.lsh_topk(
        emb, q, dim=64, k=5, n_planes=3, exclude_self=True, n_tables=3
    ).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"multi-table LSH recall too low: {recall}"


def test_ivf_recall_against_bruteforce(spark):
    emb = table(spark, "embeddings", SF_DIR)
    q = _queries(emb)
    exact = A.brute_force_topk(emb, q, k=5, exclude_self=True).collect()
    cents = A.kmeans_centroids(emb, n_centroids=8)
    assigned = A.ivf_assign(emb, cents)
    approx = A.ivf_topk(assigned, q, cents, k=5, n_probe=3, exclude_self=True).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_assignment_covers_all(spark):
    emb = table(spark, "embeddings", SF_DIR)
    cents = A.kmeans_centroids(emb, n_centroids=8)
    assigned = A.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    cids = [r["centroid_id"] for r in assigned.select("centroid_id").distinct().collect()]
    assert all(0 <= c < 8 for c in cids)


def test_streaming_tumbling_matches_batch(spark):
    from conversation_analysis_tools_spark.streaming import (
        drain,
        read_event_stream,
        tumbling_counts,
    )
    from conversation_analysis_tools_spark.streaming.events import scoped_session

    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="stream_events_test_")
    os.symlink(os.path.abspath(f"{SF_DIR}/events.parquet"), f"{d}/events.parquet")
    batch = tumbling_counts(table(spark, "events", SF_DIR), "1 hour")
    stream = read_event_stream(scoped_session(spark, 8), d)
    streamed = drain(tumbling_counts(stream, "1 hour"))
    b = sorted(map(tuple, batch.collect()))
    s = sorted(map(tuple, streamed.collect()))
    assert b == s


@pytest.mark.skipif(
    not os.environ.get("RUN_SLOW_STREAMING"),
    reason="applyInPandasWithState run takes ~4min locally; "
    "set RUN_SLOW_STREAMING=1 (last run round 10: 931 closed sessions "
    "from sf0.001 events, every (user, session_start) matching the "
    "batch path at full microsecond precision -- this soak is the ONLY "
    "pin on the STREAMING branch's state arithmetic, and running it in "
    "r10 caught a real ms-truncation + float-total divergence)",
)
def test_stateful_sessionize_streaming_mode(spark):
    import tempfile

    from conversation_analysis_tools_spark.streaming.events import (
        read_event_stream,
        sessionize_with_state,
    )

    d = tempfile.mkdtemp(prefix="state_stream_test_")
    os.symlink(os.path.abspath(f"{SF_DIR}/events.parquet"), f"{d}/events.parquet")
    out = sessionize_with_state(read_event_stream(spark, d), gap_minutes=30.0)
    q = (
        out.writeStream.format("memory")
        .queryName("state_mode_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = spark.table("state_mode_test").collect()
    batch = sessionize_with_state(
        __import__(
            "conversation_analysis_tools_spark.catalog", fromlist=["table"]
        ).table(spark, "events", SF_DIR),
        gap_minutes=30.0,
    ).collect()
    # append mode emits only sessions closed within the batch: subset
    batch_keys = {(r["user_id"], r["session_start"]) for r in batch}
    assert streamed and all(
        (r["user_id"], r["session_start"]) in batch_keys for r in streamed
    )


def _session_events(path):
    """Three users; gaps just under, at, and just over 30 minutes at
    microsecond resolution, and half-cent values."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime(2024, 1, 1, 10, 0, 0, 1)
    gap = timedelta(minutes=30)
    us = timedelta(microseconds=1)
    offsets = {
        1: [timedelta(0), gap - us, 2 * gap, 3 * gap + us, 4 * gap + us,
            9 * gap],
        2: [timedelta(0), gap + us, 3 * gap + 2 * us, 3 * gap + 3 * us],
        3: [timedelta(0), gap, 2 * gap - us],
    }
    values = [0.005, 1.015, 2.675, 0.125, 10.335, 4.445]
    rows = [
        (uid, t0 + off, values[i % len(values)])
        for uid, offs in offsets.items()
        for i, off in enumerate(offs)
    ]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }),
        f"{path}/events.parquet",
    )


def test_stateful_sessionize_streaming_matches_batch(spark, tmp_path):
    """Small-input pin on the streaming branch's state arithmetic (the
    soak above runs it on sf0.001 only on request): every session the
    stream closes equals its batch row in all columns, at microsecond
    and cent precision. Within one micro-batch a session closes when a
    later event of its user is more than 30 minutes after its end, so
    the stream emits every batch session except each user's last."""
    from conversation_analysis_tools_spark.streaming.events import (
        read_event_stream,
        scoped_session,
        sessionize_with_state,
    )

    _session_events(tmp_path)
    session = scoped_session(spark, 2)
    # Stopped once the one data batch has reported progress (after its
    # sink commit): the processing-time timeout makes every batch ask
    # for another, so neither an availableNow drain nor
    # processAllAvailable ever returns on this operator.
    q = (
        sessionize_with_state(read_event_stream(session, str(tmp_path)), gap_minutes=30.0)
        .writeStream.format("memory")
        .queryName("sessionize_small")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while not any(p["numInputRows"] for p in q.recentProgress):
            assert q.exception() is None, q.exception()
            assert time.monotonic() < deadline, "the data batch did not commit in 120 s"
            time.sleep(0.5)
    finally:
        q.stop()
    streamed = session.table("sessionize_small").collect()
    batch = sessionize_with_state(
        table(spark, "events", str(tmp_path)), gap_minutes=30.0
    ).collect()
    last = {}
    for r in batch:
        last[r["user_id"]] = max(last.get(r["user_id"], r["session_start"]),
                                 r["session_start"])
    closed = sorted(tuple(r) for r in batch if r["session_start"] != last[r["user_id"]])
    assert [r[0] for r in closed] == [1, 1, 1, 2, 2]
    assert sorted(tuple(r) for r in streamed) == closed


def test_int8_quantized_recall_and_range(spark):
    emb = table(spark, "embeddings", SF_DIR)
    q = _queries(emb)
    exact = A.brute_force_topk(emb, q, k=5, exclude_self=True).collect()
    quant = A.int8_brute_force_topk(emb, q, k=5, exclude_self=True).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    quant_set = {(r["query_id"], r["vec_id"]) for r in quant}
    recall = len(exact_set & quant_set) / len(exact_set)
    assert recall >= 0.8, f"int8 recall too low: {recall}"
    # sims stay true cosines (|sim| <= 1) and close to the exact ones
    exact_sim = {(r["query_id"], r["vec_id"]): r["sim"] for r in exact}
    for r in quant:
        assert abs(r["sim"]) <= 1.0 + 1e-9
        key = (r["query_id"], r["vec_id"])
        if key in exact_sim:
            assert abs(r["sim"] - exact_sim[key]) < 0.02, key


def test_quantize_vectors_bounds(spark):
    emb = table(spark, "embeddings", SF_DIR).limit(50)
    qdf = A.quantize_vectors(emb).select("q", "qscale").collect()
    for r in qdf:
        assert all(-127 <= v <= 127 for v in r["q"])
        assert r["qscale"] > 0


def test_pq_recall_and_adc_ordering(spark):
    emb = table(spark, "embeddings", SF_DIR)
    q = _queries(emb)
    exact = A.brute_force_topk(emb, q, k=5, exclude_self=True).collect()
    cb = A.pq_train(emb, 64)
    assert cb.shape == (A.PQ_M, A.PQ_K, 64 // A.PQ_M)
    enc = A.pq_encode(emb, cb)
    codes = enc.select("pq_code").limit(20).collect()
    for r in codes:
        assert len(r["pq_code"]) == A.PQ_M
        assert all(0 <= c < A.PQ_K for c in r["pq_code"])
    approx = A.pq_topk(enc, q, cb, k=5, rerank=100, exclude_self=True).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"PQ recall too low: {recall}"
    # re-ranked sims are exact cosines where they overlap the baseline
    exact_sim = {(r["query_id"], r["vec_id"]): r["sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact_sim:
            assert abs(r["sim"] - exact_sim[key]) < 1e-6, key


def test_stream_maintain_rollup_equals_batch(spark, tmp_path):
    """foreachBatch rollup maintenance: folding the stream's
    micro-batches into the persistent rollup must equal a from-scratch
    rollup over all events, bit-exact (integer-cent state), regardless
    of how the stream was batched."""
    from conversation_analysis_tools_spark.catalog import table
    from conversation_analysis_tools_spark.operators.rollup import build_rollup
    from conversation_analysis_tools_spark.streaming.events import (
        stream_maintain_rollup,
    )

    events = table(spark, "events", SF_DIR)
    # stage as 3 files -> 3 micro-batches (maxFilesPerTrigger=1), so
    # the merge path actually folds state across batches
    src_dir = str(tmp_path / "events_staged")
    events.repartitionByRange(3, "event_id").write.parquet(src_dir)
    rollup_path = str(tmp_path / "rollup")

    final = stream_maintain_rollup(spark, src_dir, rollup_path, "event_type")
    got = {(r["d"], r["event_type"]): (r["n"], r["total"]) for r in final.collect()}
    want = {
        (r["d"], r["event_type"]): (r["n"], r["total"])
        for r in build_rollup(events, "event_type").collect()
    }
    assert got == want


def test_fold_rollup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-folded
    batch_id must be a no-op (no double counting), while the next
    batch_id folds normally."""
    from conversation_analysis_tools_spark.catalog import table
    from conversation_analysis_tools_spark.operators.rollup import build_rollup
    from conversation_analysis_tools_spark.streaming.events import (
        fold_rollup_batch,
        rollup_applied_batch,
    )

    events = table(spark, "events", SF_DIR)
    half1 = events.where("event_id % 2 = 0")
    half2 = events.where("event_id % 2 = 1")
    rollup_path = str(tmp_path / "rollup")

    assert fold_rollup_batch(half1, 0, rollup_path, ("event_type",))
    snap = {
        (r["d"], r["event_type"]): (r["n"], r["total"])
        for r in spark.read.parquet(rollup_path).collect()
    }
    # replay batch 0 -> skipped, state unchanged
    assert not fold_rollup_batch(half1, 0, rollup_path, ("event_type",))
    assert rollup_applied_batch(rollup_path) == 0
    again = {
        (r["d"], r["event_type"]): (r["n"], r["total"])
        for r in spark.read.parquet(rollup_path).collect()
    }
    assert again == snap
    # batch 1 folds; final state equals the from-scratch rollup
    assert fold_rollup_batch(half2, 1, rollup_path, ("event_type",))
    got = {
        (r["d"], r["event_type"]): (r["n"], r["total"])
        for r in spark.read.parquet(rollup_path).collect()
    }
    want = {
        (r["d"], r["event_type"]): (r["n"], r["total"])
        for r in build_rollup(events, "event_type").collect()
    }
    assert got == want


def test_ann_recall_frontier_certificate(spark):
    # the merged recall certificate must clear every pinned floor at
    # test grain too, and the provable anchors are exactly 100: IVF
    # n_probe = C = 16 (candidates = whole corpus), LSH (1,1) (1-bit
    # multiprobe covers both buckets of a single plane), PQ
    # rerank='all' (exact re-rank of every encoded row)
    from conversation_analysis_tools_spark.queries.similarity import (
        ann_recall_frontier,
    )

    rows = {
        (r["family"], r["point"]): r
        for r in ann_recall_frontier(spark, SF_DIR).collect()
    }
    assert all(r["recall_ok"] for r in rows.values()), rows
    assert {f for f, _ in rows} == {"method", "ivf", "lsh", "pq"}

    # IVF: exhaustive anchors, scan label arithmetic, monotone floors
    ivf = {}
    for (fam, point), r in rows.items():
        if fam != "ivf":
            continue
        kv = dict(part.split("=") for part in point.split(","))
        na, np_, scan = int(kv["na"]), int(kv["np"]), int(kv["scan"])
        assert scan == min(100, na * np_ * 100 // 16), point
        ivf[(na, np_)] = r
    for na in (1, 2):
        assert ivf[(na, 16)]["floor_x100"] == 100
        pts = sorted(p for a, p in ivf if a == na)
        floors = [ivf[(na, p)]["floor_x100"] for p in pts]
        assert floors == sorted(floors)

    assert rows[("lsh", "p=1,t=1")]["floor_x100"] == 100
    assert rows[("pq", "all")]["floor_x100"] == 100


def test_ivf_soft_assign_replica_dedup_exact(spark):
    # n_assign=2 with every list probed must equal the exact
    # brute-force top-k: each vector appears in TWO probed lists, so
    # without the replica-dedup inside the top-k window the dup rows
    # would occupy two ranks and corrupt the result
    emb = table(spark, "embeddings", SF_DIR)
    q = _queries(emb)
    exact = A.brute_force_topk(emb, q, k=5, exclude_self=True).collect()
    cents = A.kmeans_centroids(emb, n_centroids=8)
    soft = A.ivf_assign(emb, cents, n_assign=2)
    approx = A.ivf_topk(soft, q, cents, k=5, n_probe=8, exclude_self=True).collect()
    assert {(r["query_id"], r["vec_id"], r["rnk"]) for r in approx} == {
        (r["query_id"], r["vec_id"], r["rnk"]) for r in exact
    }
