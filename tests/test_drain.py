"""The one streaming drain (streaming/events.drain) and the events
reader rule it streams with (catalog.events_ts)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import table
from conversation_analysis_tools_spark.streaming import events as E
from tests.conftest import SF_DIR


def _staged_events(tmp_path) -> str:
    d = tmp_path / "events"
    d.mkdir()
    os.symlink(os.path.abspath(f"{SF_DIR}/events.parquet"), d / "events.parquet")
    return str(d)


def test_memory_sink_drain_raises_when_unfinished(spark, tmp_path, monkeypatch):
    """A memory-sink drain that cannot finish in time raises instead of
    returning the partial sink."""
    monkeypatch.setattr(E, "DRAIN_TIMEOUT_SEC", 0.001)
    stream = E.read_event_stream(E.scoped_session(spark, 8), _staged_events(tmp_path))
    with pytest.raises(RuntimeError, match="did not finish"):
        E.drain(E.tumbling_counts(stream, "1 hour"))


def test_fold_drain_raises_when_unfinished(spark, tmp_path, monkeypatch):
    """A foreachBatch drain (rollup maintenance) that cannot finish in
    time raises instead of returning the partial rollup."""
    monkeypatch.setattr(E, "DRAIN_TIMEOUT_SEC", 0.001)
    with pytest.raises(RuntimeError, match="did not finish"):
        E.stream_maintain_rollup(
            spark, _staged_events(tmp_path), str(tmp_path / "rollup"), "event_type"
        )


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_batch_equals_stream(spark, tmp_path, unit):
    """An events file with TIMESTAMP(NANOS) ``ts`` and one with
    TIMESTAMP(MICROS) not adjusted to UTC (Spark's TIMESTAMP_NTZ): the
    batch read and the drained stream give the same ``ts``, the NTZ
    wall clock read as UTC and nanoseconds truncated to micros."""
    base_ns = 1_704_067_200_000_000_000  # 2024-01-01 00:00:00 UTC
    ns = [base_ns + i * 2_220_000_000_000 + 123_456_789 for i in range(6)]
    raw = ns if unit == "ns" else [n // 1000 for n in ns]
    d = tmp_path / unit
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(6), pa.int64()),
                "ts": pa.array(raw, pa.timestamp(unit)),
            }
        ),
        d / "events.parquet",
        version="2.6",
    )
    micros = F.unix_micros("ts").alias("us")
    batch = table(spark, "events", str(d)).select("event_id", micros)
    stream = E.read_event_stream(E.scoped_session(spark, 8), str(d))
    streamed = E.drain(stream.select("event_id", micros), output_mode="append")
    want = [(i, n // 1000) for i, n in enumerate(ns)]
    assert sorted(map(tuple, batch.collect())) == want
    assert sorted(map(tuple, streamed.collect())) == want
