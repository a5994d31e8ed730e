"""Export sinks (SURVEY §2.1 S7-S10).

CSV/JSON are distributed writes; markdown/HTML rendering is
presentation (driver-side after a bounded collect), mirroring the
reference's per-conversation file renderers (sql_search.py:1843-1968)
without pretending they are engine operators.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv(df: DataFrame, path: str) -> None:
    """S7 CSV sink (sql_search.py:1970-2006).

    ignore*WhiteSpace default TRUE on the write path (univocity), so
    a padded value would be silently trimmed while the read defaults
    preserve -- an asymmetric value-mangling class the round-trip
    certificate (csv_roundtrip) now injects and checks. Both are
    pinned false: the sink writes bytes as given."""
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def write_json_nested(messages: DataFrame, conversations: DataFrame, path: str) -> None:
    """S8 nested conversation+messages JSON export
    (sql_search.py:1832-1841): one JSON doc per conversation with its
    messages collected in order.

    Ordering: ``collect_list`` after a shuffle gives NO order
    guarantee, so sort AFTER collecting -- ``array_sort`` over structs
    compares field-by-field, so ``order_index`` leads the struct. Same
    idiom as ``json_group_export`` (queries/relational.py)."""
    nested = (
        messages.groupBy("conversation_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("order_index", "id", "sender", "content", "created_at")
                )
            ).alias("messages")
        )
        .join(conversations, conversations.id == F.col("conversation_id"))
        .select("id", "title", "platform", "created_at", "messages")
    )
    nested.write.mode("overwrite").json(path)


def write_training_shards(
    docs: DataFrame, path: str, id_col: str = "doc_id", n_shards: int = 16
) -> None:
    """Training-shard writer: deterministic md5-bucket shard
    assignment, one parquet directory per shard (``shard=K/``).

    The shard function is the first md5 hex digit of the id (16
    shards) -- content-addressed like hash_split, so re-runs and
    incremental appends land every doc in the same shard, and a
    training job reads any subset of shards as a reproducible sample.
    ``partitionBy`` writes all shards in ONE pass (no per-shard
    filter-and-write loop); at 100 TB the same call fans out to
    shard-partitioned object-store prefixes. Readers get directory
    pruning on the shard column for free.
    """
    (
        docs.withColumn("shard", shard_bucket(F.col(id_col), n_shards))
        .repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def shard_bucket(id_expr, n_shards: int = 16):
    """Deterministic md5-hex-digit shard assignment (the
    write_training_shards / hash_split function)."""
    return (
        F.conv(
            F.substring(F.md5(id_expr.cast("string").cast("binary")), 1, 1), 16, 10
        ).cast("bigint")
        % n_shards
    )


_SAFE_NAME = re.compile(r"[^A-Za-z0-9_-]+")


def render_markdown(conversation_row, message_rows) -> str:
    """S9 per-conversation markdown render (sql_search.py:1843-1884)
    -- driver-side formatting of an already-collected conversation."""
    lines = [f"# {conversation_row['title'] or conversation_row['id']}", ""]
    for m in message_rows:
        lines.append(f"## {m['sender']}")
        lines.append("")
        lines.append(m["content"] or "")
        lines.append("")
    return "\n".join(lines)


def safe_filename(title: str) -> str:
    """Filename sanitizer (sql_search.py:1851 regex idiom)."""
    return _SAFE_NAME.sub("_", title or "untitled")[:80]


_CODE_BLOCK = re.compile(r"```(\w*)\n(.*?)```", re.DOTALL)


def render_html(conversation_row, message_rows) -> str:
    """S10 per-conversation HTML render with code-block rewrite
    (sql_search.py:1886-1968: fenced code -> <pre><code>) --
    driver-side presentation like the markdown sink."""

    def esc(s: str) -> str:
        return (
            (s or "")
            .replace("&", "&amp;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
        )

    def body(content: str) -> str:
        out, last = [], 0
        for m in _CODE_BLOCK.finditer(content or ""):
            out.append(f"<p>{esc(content[last:m.start()])}</p>")
            lang = m.group(1) or "text"
            out.append(f'<pre><code class="{lang}">{esc(m.group(2))}</code></pre>')
            last = m.end()
        out.append(f"<p>{esc(content[last:] if content else '')}</p>")
        return "".join(out)

    title = esc(conversation_row["title"] or conversation_row["id"])
    parts = [f"<html><head><title>{title}</title></head><body><h1>{title}</h1>"]
    for m in message_rows:
        parts.append(f'<div class="msg {esc(m["sender"])}"><h2>{esc(m["sender"])}</h2>')
        parts.append(body(m["content"]))
        parts.append("</div>")
    parts.append("</body></html>")
    return "".join(parts)


def compact_parquet(
    spark, path: str, target_file_mb: int = 128, sort_within: str | None = None
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``target_file_mb`` each; returns the new file count.

    The perennial 100 TB operational task -- streaming/incremental
    writers leave thousands of KB-sized files whose per-file open cost
    dominates scans. Sizing from the actual on-disk bytes (not row
    counts) keeps the math format-aware; ``sort_within`` optionally
    re-sorts within partitions for better column compression and
    min/max pruning. Rewrite-then-swap keeps readers consistent.
    """
    import os
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    if sort_within:
        df = df.repartition(n_files).sortWithinPartitions(sort_within)
    else:
        df = df.coalesce(n_files) if n_files < df.rdd.getNumPartitions() else df.repartition(n_files)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n_files


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (columnar alternative; native Spark support)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark, path: str) -> DataFrame:
    return spark.read.orc(path)
