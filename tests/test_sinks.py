"""Export-sink coverage (SURVEY §2.1 S7-S10 + compaction): CSV/JSON
round-trips, markdown/HTML renders with code-block rewrite, parquet
compaction file-count math."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from conversation_analysis_tools_spark.sources import sinks as SK


def _conv(spark):
    conversations = spark.createDataFrame(
        [("c1", "Test & Title", "claude", "2024-01-01 10:00:00")],
        ["id", "title", "platform", "created_at"],
    )
    messages = spark.createDataFrame(
        [
            ("m1", "c1", "human", "hello <world>", "2024-01-01 10:00:00", 0),
            ("m2", "c1", "assistant", "```python\nprint(1)\n``` done", "2024-01-01 10:00:05", 1),
        ],
        ["id", "conversation_id", "sender", "content", "created_at", "order_index"],
    )
    return conversations, messages


def test_csv_roundtrip(spark, tmp_path):
    df = spark.range(5).select("id", (F.col("id") * 2).alias("x"))
    p = str(tmp_path / "csv_out")
    SK.write_csv(df, p)
    back = spark.read.option("header", "true").csv(p)
    assert sorted(int(r["x"]) for r in back.collect()) == [0, 2, 4, 6, 8]


def test_json_nested_export(spark, tmp_path):
    conversations, messages = _conv(spark)
    p = str(tmp_path / "json_out")
    SK.write_json_nested(messages, conversations, p)
    files = [f for f in os.listdir(p) if f.endswith(".json")]
    rows = [json.loads(line) for f in files for line in open(os.path.join(p, f))]
    assert len(rows) == 1
    doc = rows[0]
    assert doc["id"] == "c1" and len(doc["messages"]) == 2
    assert [m["order_index"] for m in doc["messages"]] == [0, 1]


def test_json_nested_order_survives_shuffle(spark, tmp_path):
    """Message order must come from order_index, not from any
    accidental pre-groupBy ordering: feed rows reversed across 3
    partitions and assert the export is still in order."""
    conversations = spark.createDataFrame(
        [("c1", "T", "claude", "2024-01-01 00:00:00")],
        ["id", "title", "platform", "created_at"],
    )
    rows = [
        (f"m{i}", "c1", "human", f"msg {i}", "2024-01-01 00:00:00", i)
        for i in range(11, -1, -1)  # reversed insert order
    ]
    messages = spark.createDataFrame(
        rows, ["id", "conversation_id", "sender", "content", "created_at", "order_index"]
    ).repartition(3)
    p = str(tmp_path / "json_shuffled")
    SK.write_json_nested(messages, conversations, p)
    files = [f for f in os.listdir(p) if f.endswith(".json")]
    docs = [json.loads(line) for f in files for line in open(os.path.join(p, f))]
    assert len(docs) == 1
    assert [m["order_index"] for m in docs[0]["messages"]] == list(range(12))
    assert [m["content"] for m in docs[0]["messages"]] == [f"msg {i}" for i in range(12)]


def test_markdown_render(spark):
    conversations, messages = _conv(spark)
    conv = conversations.collect()[0]
    msgs = sorted(messages.collect(), key=lambda m: m["order_index"])
    md = SK.render_markdown(conv, msgs)
    assert md.startswith("# Test & Title")
    assert "## human" in md and "## assistant" in md
    assert SK.safe_filename("a b/c?d") == "a_b_c_d"


def test_html_render_code_block_rewrite(spark):
    conversations, messages = _conv(spark)
    conv = conversations.collect()[0]
    msgs = sorted(messages.collect(), key=lambda m: m["order_index"])
    html = SK.render_html(conv, msgs)
    assert "<h1>Test &amp; Title</h1>" in html
    assert '<pre><code class="python">print(1)\n</code></pre>' in html
    assert "hello &lt;world&gt;" in html  # escaped outside code blocks


def test_compact_parquet(spark, tmp_path):
    p = str(tmp_path / "frag")
    spark.range(0, 1000).repartition(20).write.parquet(p)
    assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) == 20
    SK.compact_parquet(spark, p)
    n_after = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert n_after <= 2  # tiny data -> ~1 file
    assert spark.read.parquet(p).count() == 1000
