"""Conversation-export ingest: nested Claude / ChatGPT JSON ->
normalized ``conversations`` + ``messages`` tables.

Reference lifecycle (uni_parse.py:547-569): char-level streaming JSON
array parser -> platform sniff -> per-conversation normalize ->
INSERT OR REPLACE in chunks. Spark-first replacement:

* S1 streaming array scan -> ``spark.read.json(multiLine=True)``;
  Spark's Jackson scanner is already incremental per record and
  distributes across files. No hand-rolled brace parser. ChatGPT
  exports are read against a declared schema, never inferred: their
  ``mapping`` is keyed by node id, so inference makes one struct
  field per tree node (1,556 fields for 150 conversations, unbounded
  on a real export) and costs a full scan per read. Claude keeps one
  inferred read; its fixed field set bounds the schema's width.
* S2 platform sniff -> the two marker fields (``chat_messages`` vs
  ``mapping``) read as strings against a two-field schema; a filter
  plus ``first()`` is one job with no shuffle and no inference.
* S3 Claude normalize -> ``posexplode(chat_messages)``; order_index =
  array position (uni_parse.py:332).
* S4 ChatGPT tree flatten -> per-conversation BFS in ``mapInPandas``
  at ingest only (SURVEY §3.1: keep trees out of the query path);
  order_index = BFS visit position (uni_parse.py:380-421,502).
* S5 upsert -> union with the store, keep the newest row per key,
  write beside the store and swap it in (Delta MERGE on a real lake).
  The store is read against the batch's schema, not inferred, which
  starts no job; its column names are first checked from the parquet
  footers on the driver, so a store that does not match, or whose
  files cannot be read, raises and is left as it was.
* content truncated to 100,000 chars at ingest (uni_parse.py:329,
  497-499).
* timestamps: ISO with Z and unix epochs both normalized to UTC
  timestamps (uni_parse.py:510-544).

Target schema == SURVEY §1.1 (uni_parse.py:28-60), with TimestampType
for the string-encoded SQLite timestamps and metadata kept as a JSON
string column (queried via get_json_object).
"""

from __future__ import annotations

import json
from collections import deque
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from conversation_analysis_tools_spark.catalog import parquet_footers

MAX_CONTENT_CHARS = 100_000

CONVERSATIONS_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("title", StringType()),
        StructField("platform", StringType()),
        StructField("created_at", TimestampType()),
        StructField("updated_at", TimestampType()),
        StructField("account_id", StringType()),
        StructField("original_id", StringType()),
        StructField("metadata", StringType()),
    ]
)

MESSAGES_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("conversation_id", StringType()),
        StructField("parent_id", StringType()),
        StructField("sender", StringType()),
        StructField("role", StringType()),
        StructField("content", StringType()),
        StructField("created_at", TimestampType()),
        StructField("model", StringType()),
        StructField("order_index", IntegerType()),
        StructField("metadata", StringType()),
    ]
)


def _norm_ts(col):
    """ISO timestamps with trailing Z / offsets / fractional seconds ->
    UTC timestamp (uni_parse.py:510-527 normalization)."""
    c = F.regexp_replace(col.cast("string"), "Z$", "+00:00")
    return F.to_timestamp(c)


# Export schemas declared for the reads that need only these fields.
# ChatGPT's matches the ingest_fixed oracle's pinned read_json columns
# (queries/ingest.py); ``mapping`` stays raw JSON text for the flatten.
_MARKERS_SCHEMA = "chat_messages string, mapping string"
CHATGPT_EXPORT_SCHEMA = (
    "conversation_id string, id string, title string, "
    "create_time double, update_time double, mapping string"
)


def detect_platform(spark: SparkSession, path: str) -> str:
    """S2: sniff 'claude' vs 'chatgpt' from the first record carrying a
    marker field (uni_parse.py:88-123 reads the file head). The markers
    are read as strings against a declared schema, so the sniff infers
    nothing and is one job."""
    row = (
        spark.read.option("multiLine", "true")
        .schema(_MARKERS_SCHEMA)
        .json(path)
        .where(F.col("chat_messages").isNotNull() | F.col("mapping").isNotNull())
        .first()
    )
    if row is None:
        raise ValueError(f"cannot detect platform for {path}: no chat_messages or mapping")
    return "claude" if row["chat_messages"] is not None else "chatgpt"


# ---------------------------------------------------------------------------
# Claude (S3)
# ---------------------------------------------------------------------------


def ingest_claude(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Claude export JSON array -> (conversations, messages)."""
    raw = spark.read.option("multiLine", "true").json(path)

    # optional fields: an export in which no record carries one has no
    # such column after inference, and it reads as NULL
    fields = {f.name: f.dataType for f in raw.schema.fields}
    account = fields.get("account")
    account_id = (
        F.col("account.uuid").cast("string")
        if isinstance(account, StructType) and "uuid" in account.fieldNames()
        else F.lit(None).cast("string")
    )
    summary = F.col("summary") if "summary" in fields else F.lit(None).cast("string")
    msg = fields["chat_messages"].elementType
    attachments = (
        F.col("m.attachments")
        if isinstance(msg, StructType) and "attachments" in msg.fieldNames()
        else F.lit(None).cast("string")
    )

    convs = raw.select(
        F.col("uuid").cast("string").alias("id"),
        F.col("name").cast("string").alias("title"),
        F.lit("claude").alias("platform"),
        _norm_ts(F.col("created_at")).alias("created_at"),
        _norm_ts(F.col("updated_at")).alias("updated_at"),
        account_id.alias("account_id"),
        F.col("uuid").cast("string").alias("original_id"),
        F.to_json(F.struct(summary.alias("summary"))).alias("metadata"),
    )

    msgs = raw.select(
        F.col("uuid").cast("string").alias("conversation_id"),
        F.posexplode("chat_messages").alias("order_index", "m"),
    ).select(
        F.col("m.uuid").cast("string").alias("id"),
        "conversation_id",
        F.lit(None).cast("string").alias("parent_id"),  # NULL for Claude (uni_parse.py:326)
        F.col("m.sender").cast("string").alias("sender"),
        F.col("m.sender").cast("string").alias("role"),  # role = sender (uni_parse.py:328)
        F.substring(F.col("m.text").cast("string"), 1, MAX_CONTENT_CHARS).alias("content"),
        _norm_ts(F.col("m.created_at")).alias("created_at"),
        F.lit("claude").alias("model"),  # default model (uni_parse.py:309)
        F.col("order_index").cast("int").alias("order_index"),
        F.to_json(F.struct(attachments.alias("attachments"))).alias("metadata"),
    )
    return convs, msgs


# ---------------------------------------------------------------------------
# ChatGPT (S4): BFS tree flatten per conversation
# ---------------------------------------------------------------------------


def _bfs_flatten(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per conversation: mapping JSON -> BFS-ordered message rows.

    Reference capability: uni_parse.py:380-421 (iterative traversal),
    :440-505 (row extraction). Four DELIBERATE normalization upgrades
    over the reference's traversal, certified as-such by the
    ingest_fixed oracle (round 11) rather than bug-for-bug:

    * ALL roots are visited (sorted by node id); the reference stops
      at the first parentless node in dict order and silently drops
      any other root's subtree (uni_parse.py:384-393).
    * siblings are visited in child-array order; the reference
      appends ``reversed(children)`` to a ``pop(0)`` FIFO
      (uni_parse.py:415-421), which visits siblings right-to-left --
      the comment there says "to process in correct order", the
      reversal predates the stack->queue switch.
    * order_index is DENSE over message-bearing nodes; the reference
      enumerates every visited node so indexes skip at message-less
      tree roots (uni_parse.py:424,502).
    * message id prefers the message's own ``id`` (node key as
      fallback); the reference keys every row by the node id only
      (uni_parse.py:492).

    Matched to the reference where cheap and observable: sender maps
    assistant->assistant / user->human / anything else passes through
    raw (uni_parse.py:448-452); model defaults to 'unknown'
    (uni_parse.py:477-480); non-string content parts are JSON-dumped
    (uni_parse.py:461-470 -- compact separators here, the engine-wide
    to_json convention). Parts are joined with newlines (the
    reference keeps only parts[0]; multi-part messages are real in
    modern exports). Runs at ingest only; downstream queries are
    order_index-based.
    """
    for pdf in pdf_iter:
        out = []
        times = []  # message create_time, converted once per batch
        for conv_id, mapping_json in zip(pdf["conv_id"], pdf["mapping_json"]):
            mapping = json.loads(mapping_json) or {}
            roots = [k for k, v in mapping.items() if not v.get("parent")]
            queue = deque(sorted(roots))
            seen: set[str] = set()
            idx = 0
            while queue:
                node_id = queue.popleft()
                if node_id in seen or node_id not in mapping:
                    continue
                seen.add(node_id)
                node = mapping[node_id]
                queue.extend(c for c in node.get("children") or [])
                msg = node.get("message")
                if not msg:
                    continue
                author = (msg.get("author") or {}).get("role") or ""
                parts = (msg.get("content") or {}).get("parts") or []
                # non-string parts JSON-dumped (uni_parse.py:461-470);
                # compact separators = the engine's to_json convention
                text = "\n".join(
                    p if isinstance(p, str) else json.dumps(p, separators=(",", ":"))
                    for p in parts
                    if p
                )
                times.append(msg.get("create_time"))  # 0 is the epoch
                meta = msg.get("metadata") or {}
                out.append(
                    {
                        "id": msg.get("id") or node_id,
                        "conversation_id": conv_id,
                        "parent_id": node.get("parent"),
                        # uni_parse.py:448-452: assistant/user mapped,
                        # any other role passes through raw
                        "sender": (
                            "human"
                            if author == "user"
                            else "assistant" if author == "assistant" else author
                        ),
                        "role": author,  # raw author.role (uni_parse.py:447)
                        "content": text[:MAX_CONTENT_CHARS],
                        "model": meta.get("model_slug") or "unknown",  # uni_parse.py:477-480
                        "order_index": idx,
                        "metadata": json.dumps({"node_id": node_id}),
                    }
                )
                idx += 1
        batch = pd.DataFrame(out, columns=[f.name for f in MESSAGES_SCHEMA.fields])
        # unix seconds; a missing time is NaN -> NaT -> NULL
        batch["created_at"] = pd.to_datetime(
            pd.Series(times, dtype="float64"), unit="s", utc=True
        ).dt.tz_localize(None)
        yield batch


def ingest_chatgpt(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """ChatGPT export JSON array -> (conversations, messages), both from
    one read against ``CHATGPT_EXPORT_SCHEMA``. ``mapping`` stays raw
    JSON text, so the flatten sees real dicts for non-string content
    parts; an inferred struct would coerce a heterogeneous parts array
    to array<string> and make ingested content depend on the export's
    formatting (caught by the ingest_fixed oracle, round 11)."""
    raw = spark.read.option("multiLine", "true").schema(CHATGPT_EXPORT_SCHEMA).json(path)
    # exports carry the id as conversation_id and/or id
    conv_id = F.coalesce(F.col("conversation_id"), F.col("id"))

    convs = raw.select(
        conv_id.alias("id"),
        "title",
        F.lit("chatgpt").alias("platform"),
        F.to_timestamp(F.from_unixtime(F.col("create_time"))).alias("created_at"),
        F.to_timestamp(F.from_unixtime(F.col("update_time"))).alias("updated_at"),
        F.lit(None).cast("string").alias("account_id"),  # always NULL (uni_parse.py:367)
        conv_id.alias("original_id"),
        # minimal metadata {"id": conv_id} (uni_parse.py:369)
        F.to_json(F.struct(conv_id.alias("id"))).alias("metadata"),
    )
    trees = raw.select(conv_id.alias("conv_id"), F.col("mapping").alias("mapping_json"))
    msgs = trees.mapInPandas(_bfs_flatten, schema=MESSAGES_SCHEMA)
    return convs, msgs


def ingest_file(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Detect platform and ingest (the parse_file entry point,
    uni_parse.py:65-86)."""
    platform = detect_platform(spark, path)
    return (
        ingest_claude(spark, path) if platform == "claude" else ingest_chatgpt(spark, path)
    )


# ---------------------------------------------------------------------------
# S5 upsert, S12 repair
# ---------------------------------------------------------------------------


def _store_columns(spark: SparkSession, path: str) -> list[str] | None:
    """Column names of the parquet store at ``path``, from the footer
    of every data file (catalog.parquet_footers: driver-side, no Spark
    job); None when it holds no data file. Raises when a footer cannot
    be read or two files disagree."""
    names = None
    for p, footer in parquet_footers(spark, path):
        fields = footer.getFileMetaData().getSchema().getFields()
        cols = [fields.get(i).getName() for i in range(fields.size())]
        if names is not None and cols != names:
            raise ValueError(f"store {path}: {p} has columns {cols}, not {names}")
        names = cols
    return names


def upsert_parquet(
    df: DataFrame, path: str, key: str = "id", latest_by: str | None = None
) -> None:
    """INSERT OR REPLACE semantics on parquet: union with the existing
    table (if any), keep the newest row per key, overwrite.
    (On a production lake this is a Delta/Iceberg MERGE; plain parquet
    needs the read-union-rewrite.)

    The reference's sequential INSERT OR REPLACE (uni_parse.py:547-569)
    makes the LAST row per key win deterministically; a distributed
    frame has no "last" without an ordering, so precedence here is
    explicit: rows from ``df`` beat rows already in the store, and
    within ``df`` the row with the greatest ``latest_by`` value wins
    (e.g. ``order_index`` for re-exported conversations, where the
    last occurrence in file order carries the highest index). Without
    ``latest_by``, duplicate keys WITHIN one batch resolve
    arbitrarily -- pass it whenever a batch can carry duplicate keys.

    A store whose column names differ from the batch's, or whose file
    footers cannot be read, raises before anything is written; a write
    that fails leaves the store as it was."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    hadoop_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    root = hadoop_path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    tagged = df.withColumn("_src", F.lit(1))
    stored = _store_columns(spark, path)
    if stored is None:
        merged = tagged
    elif sorted(stored) != sorted(df.columns):
        raise ValueError(
            f"store {path} has columns {stored}, the batch has {df.columns}"
        )
    else:
        # names match; reading with the batch's schema infers nothing
        existing = spark.read.schema(df.schema).parquet(path)
        merged = tagged.unionByName(existing.withColumn("_src", F.lit(0)))
    order = [F.desc("_src")] + (
        [F.desc(latest_by)] if latest_by is not None else []
    )
    w = Window.partitionBy(key).orderBy(*order)
    merged = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )
    # Written beside the store, then swapped in. Overwriting the path
    # being read deletes the old files before the job runs; only AQE's
    # eager shuffle stage would have read them by then.
    staged = hadoop_path(root.getParent(), f".{root.getName()}.upsert")
    merged.write.mode("overwrite").parquet(staged.toString())
    fs.delete(root, True)
    if not fs.rename(staged, root):
        raise OSError(f"cannot move the upserted store {staged} to {path}")


def read_json_with_repair(
    spark: SparkSession, path: str, salvage: bool = False
) -> DataFrame:
    """S12 JSON validation: PERMISSIVE parse keeps malformed records in
    ``_corrupt_record`` for inspection instead of failing the job.

    With ``salvage=True``, files whose array structure is broken
    (trailing commas, truncated final object -- the cases
    json_clean.py:105-224 rewrites) are repaired in-flight: complete
    top-level objects are recovered per file
    (sources/json_repair.py) and parsed with schema inference. Use the
    plain PERMISSIVE read when corrupt rows should be quarantined
    rather than silently recovered.
    """
    if salvage:
        from conversation_analysis_tools_spark.sources.json_repair import (
            repaired_objects,
        )

        objs = repaired_objects(spark, path)
        # json-lines dataset of the salvaged objects; inference over
        # the recovered rows (ingest-time edge path, file grain)
        return spark.read.json(objs.rdd.map(lambda r: r.obj))
    return (
        spark.read.option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
