"""Ingest tests: Claude posexplode path, ChatGPT BFS tree flatten,
upsert semantics -- against tiny synthetic export files."""

import json
import os
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from conversation_analysis_tools_spark.sources import (
    detect_platform,
    ingest_chatgpt,
    ingest_claude,
    ingest_file,
    upsert_parquet,
)
from conversation_analysis_tools_spark.catalog import table
from tests.conftest import SF_DIR

CLAUDE_EXPORT = [
    {
        "uuid": "conv-1",
        "name": "Test chat",
        "created_at": "2024-01-01T10:00:00Z",
        "updated_at": "2024-01-01T11:00:00Z",
        "account": {"uuid": "acct-9"},
        "summary": "",
        "chat_messages": [
            {
                "uuid": "m1",
                "sender": "human",
                "text": "hello there",
                "created_at": "2024-01-01T10:00:00Z",
                "attachments": [],
            },
            {
                "uuid": "m2",
                "sender": "assistant",
                "text": "hi! how can I help?",
                "created_at": "2024-01-01T10:00:05Z",
                "attachments": [],
            },
        ],
    }
]

CHATGPT_EXPORT = [
    {
        "conversation_id": "g-1",
        "title": "Tree chat",
        "create_time": 1704103200.0,
        "update_time": 1704106800.0,
        "mapping": {
            "root": {"parent": None, "children": ["n1"], "message": None},
            "n1": {
                "parent": "root",
                "children": ["n2"],
                "message": {
                    "id": "gm1",
                    "author": {"role": "user"},
                    "content": {"parts": ["question?"]},
                    "create_time": 1704103200.0,
                    "metadata": {},
                },
            },
            "n2": {
                "parent": "n1",
                "children": [],
                "message": {
                    "id": "gm2",
                    "author": {"role": "assistant"},
                    "content": {"parts": ["answer."]},
                    "create_time": 1704103260.0,
                    "metadata": {"model_slug": "gpt-4"},
                },
            },
        },
    }
]


@pytest.fixture(scope="module")
def export_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("exports")
    claude = d / "claude.json"
    claude.write_text(json.dumps(CLAUDE_EXPORT))
    chatgpt = d / "chatgpt.json"
    chatgpt.write_text(json.dumps(CHATGPT_EXPORT))
    return str(claude), str(chatgpt)


def test_detect_platform(spark, export_files):
    claude, chatgpt = export_files
    assert detect_platform(spark, claude) == "claude"
    assert detect_platform(spark, chatgpt) == "chatgpt"


def test_claude_ingest(spark, export_files):
    claude, _ = export_files
    convs, msgs = ingest_claude(spark, claude)
    c = convs.collect()
    assert len(c) == 1 and c[0]["platform"] == "claude"
    assert c[0]["account_id"] == "acct-9"
    m = sorted(msgs.collect(), key=lambda r: r["order_index"])
    assert [r["id"] for r in m] == ["m1", "m2"]
    assert [r["order_index"] for r in m] == [0, 1]
    assert m[0]["role"] == m[0]["sender"] == "human"
    assert m[0]["parent_id"] is None
    assert m[1]["model"] == "claude"


def test_chatgpt_bfs_flatten(spark, export_files):
    _, chatgpt = export_files
    convs, msgs = ingest_chatgpt(spark, chatgpt)
    assert convs.collect()[0]["account_id"] is None
    m = sorted(msgs.collect(), key=lambda r: r["order_index"])
    assert [r["id"] for r in m] == ["gm1", "gm2"]
    assert m[0]["parent_id"] == "root" and m[1]["parent_id"] == "n1"
    assert m[0]["sender"] == "human" and m[0]["role"] == "user"
    assert m[1]["model"] == "gpt-4"
    assert [r["created_at"] for r in m] == [
        datetime(2024, 1, 1, 10, 0, 0),
        datetime(2024, 1, 1, 10, 1, 0),
    ]


def test_bfs_flatten_zero_create_time_is_epoch():
    """A message create_time of 0 is the epoch, as in the ChatGPT
    conversation path and the ingest_fixed oracle; only a missing
    time is NULL."""
    import pandas as pd

    from conversation_analysis_tools_spark.sources.conversations import (
        _bfs_flatten,
    )

    mapping = {
        "n0": {"parent": None, "children": [],
               "message": {"id": "m0", "create_time": 0,
                           "author": {"role": "user"},
                           "content": {"parts": ["hi"]}}},
    }
    pdf = pd.DataFrame({"conv_id": ["c0"], "mapping_json": [json.dumps(mapping)]})
    (batch,) = _bfs_flatten(iter([pdf]))
    assert list(batch["created_at"]) == [pd.Timestamp("1970-01-01 00:00:00")]


def test_upsert_keeps_latest(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    df1 = spark.createDataFrame([("a", 1), ("b", 1)], "id string, v int")
    upsert_parquet(df1, path)
    df2 = spark.createDataFrame([("b", 2), ("c", 2)], "id string, v int")
    upsert_parquet(df2, path)
    rows = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 1, "b": 2, "c": 2}


def test_upsert_latest_by_within_batch(spark, tmp_path):
    """Round 11: INSERT OR REPLACE precedence is explicit -- the new
    batch beats the store per key, and within a batch the row with
    the greatest latest_by wins (the reference's sequential last-row-
    wins, uni_parse.py:547-569, made deterministic distributed)."""
    path = str(tmp_path / "t.parquet")
    df1 = spark.createDataFrame(
        [("a", 0, "first"), ("a", 1, "second"), ("b", 0, "only")],
        "id string, oi int, v string",
    )
    upsert_parquet(df1, path, latest_by="oi")
    df2 = spark.createDataFrame(
        [("a", 0, "replaced")], "id string, oi int, v string"
    )
    upsert_parquet(df2, path, latest_by="oi")
    rows = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    # in-batch dup resolved by oi ('second'), then batch 2 replaces it
    # despite its LOWER oi -- batch precedence outranks latest_by
    assert rows == {"a": "replaced", "b": "only"}


def _store_bytes(path):
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def test_upsert_truncated_store_raises_and_keeps_files(spark, tmp_path):
    """An unreadable part file is not "no store yet": the upsert raises
    and the store is left byte for byte as it was."""
    path = str(tmp_path / "t.parquet")
    upsert_parquet(spark.createDataFrame([("a", 1), ("b", 1)], "id string, v int"), path)
    part = next(f for f in os.listdir(path) if f.endswith(".parquet"))
    with open(os.path.join(path, part), "r+b") as fh:
        fh.truncate(os.path.getsize(os.path.join(path, part)) // 2)
    before = _store_bytes(path)
    with pytest.raises(Exception):
        upsert_parquet(spark.createDataFrame([("c", 2)], "id string, v int"), path)
    assert _store_bytes(path) == before


def test_upsert_column_mismatch_raises_and_keeps_files(spark, tmp_path):
    """A store with a column the batch lacks is rejected before any
    write, not replaced by the batch."""
    path = str(tmp_path / "t.parquet")
    upsert_parquet(
        spark.createDataFrame([("a", 1, "x")], "id string, v int, w string"), path
    )
    before = _store_bytes(path)
    with pytest.raises(ValueError, match="columns"):
        upsert_parquet(spark.createDataFrame([("c", 2)], "id string, v int"), path)
    assert _store_bytes(path) == before


def test_upsert_without_aqe_keeps_store(spark, tmp_path):
    """The merge is staged beside the store: with AQE off, no eager
    shuffle stage reads the old files before an in-place overwrite
    would delete them, and the upsert must still keep them."""
    path = str(tmp_path / "t.parquet")
    upsert_parquet(spark.createDataFrame([("a", 1), ("b", 1)], "id string, v int"), path)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        upsert_parquet(spark.createDataFrame([("b", 2)], "id string, v int"), path)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    rows = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 1, "b": 2}


def _jobs(spark, fn):
    """Spark jobs started by ``fn()``, counted with a job group."""
    sc = spark.sparkContext
    group = f"test_ingest:{uuid.uuid4()}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        # setJobGroup sets three properties; clear all three
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_and_upsert_job_counts(spark, tmp_path):
    """Declared schemas: a ChatGPT ingest is one job (the platform
    sniff), a Claude ingest two (sniff + its one inferred read), and
    an upsert into an existing store starts no more jobs than the
    first into an empty one (no parquet schema inference)."""
    fixtures = os.path.join(os.path.dirname(__file__), "fixtures", "ingest")
    out = {}

    def ingest(name):
        out["msgs"] = ingest_file(spark, os.path.join(fixtures, name))[1]

    assert _jobs(spark, lambda: ingest("chatgpt_export.json")) == 1
    assert _jobs(spark, lambda: ingest("claude_export.json")) == 2
    path = str(tmp_path / "msgs")
    msgs = out["msgs"]
    first = _jobs(spark, lambda: upsert_parquet(msgs, path, latest_by="order_index"))
    second = _jobs(spark, lambda: upsert_parquet(msgs, path, latest_by="order_index"))
    assert second <= first
    assert spark.read.parquet(path).count() == msgs.dropDuplicates(["id"]).count()


def test_claude_missing_optional_fields(spark, tmp_path):
    """An export in which no record carries ``summary``, ``account`` or
    message ``attachments`` ingests with those fields NULL."""
    export = [
        {k: v for k, v in c.items() if k not in ("summary", "account")}
        for c in CLAUDE_EXPORT
    ]
    for c in export:
        c["chat_messages"] = [
            {k: v for k, v in m.items() if k != "attachments"} for m in c["chat_messages"]
        ]
    p = tmp_path / "claude_bare.json"
    p.write_text(json.dumps(export))
    convs, msgs = ingest_claude(spark, str(p))
    c = convs.collect()
    assert len(c) == 1 and c[0]["account_id"] is None
    assert json.loads(c[0]["metadata"]).get("summary") is None
    m = sorted(msgs.collect(), key=lambda r: r["order_index"])
    assert [r["id"] for r in m] == ["m1", "m2"]
    assert all(json.loads(r["metadata"]).get("attachments") is None for r in m)


def test_compact_parquet_reduces_files(spark, tmp_path):
    import os

    from conversation_analysis_tools_spark.sources.sinks import compact_parquet

    out = str(tmp_path / "frag")
    events = table(spark, "events", SF_DIR)
    # fragment: one file per partition x 16
    events.repartition(16).write.mode("overwrite").parquet(out)
    before = sum(
        1 for f in os.listdir(out) if f.endswith(".parquet") and not f.startswith("_")
    )
    n = compact_parquet(spark, out, target_file_mb=128)
    after = sum(
        1 for f in os.listdir(out) if f.endswith(".parquet") and not f.startswith("_")
    )
    assert after <= before and after == n
    assert spark.read.parquet(out).count() == events.count()


def test_orc_roundtrip(spark, tmp_path):
    from conversation_analysis_tools_spark.sources.sinks import read_orc, write_orc

    out = str(tmp_path / "events_orc")
    events = table(spark, "events", SF_DIR)
    write_orc(events, out)
    back = read_orc(spark, out)
    assert back.count() == events.count()
    assert set(back.columns) == set(events.columns)
