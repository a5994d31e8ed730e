"""The reference's five SQL views (SURVEY §1.2, create_views.sql) as
DataFrame builders over the ingested (conversations, messages) tables,
plus the raw-SQL endpoint (S6: every reference query funnels through
SQL text -- exper_sql.py:2015-2141 passes arbitrary user SQL).

Spark-first notes:
* message_pairs drops the reference's ROW_NUMBER self-join for a
  single lead() window -- one shuffle on conversation_id instead of
  numbering + re-join (create_views.sql:2-25).
* duration math uses integer epoch seconds, not julianday floats
  (create_views.sql:40).
* time_activity's correlated COUNT(DISTINCT ...) subquery
  (create_views.sql:59-71) decorrelates into a plain two-level
  aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conversation_analysis_tools_spark.functions.timeutil import gap_seconds


def message_pairs(messages: DataFrame) -> DataFrame:
    """(human message, next assistant message) pairs per conversation
    (create_views.sql:2-25) via lead() -- W2 replaces J3."""
    w = Window.partitionBy("conversation_id").orderBy("order_index")
    base = messages.select(
        "conversation_id", "order_index", "sender", "id", "content", "created_at"
    )
    led = (
        base.withColumn("next_sender", F.lead("sender").over(w))
        .withColumn("next_id", F.lead("id").over(w))
        .withColumn("next_content", F.lead("content").over(w))
        .withColumn("next_time", F.lead("created_at").over(w))
    )
    return (
        led.where((F.col("sender") == "human") & (F.col("next_sender") == "assistant"))
        .select(
            "conversation_id",
            F.col("id").alias("human_message_id"),
            F.col("content").alias("human_content"),
            F.col("created_at").alias("human_time"),
            F.col("next_id").alias("assistant_message_id"),
            F.col("next_content").alias("assistant_content"),
            F.col("next_time").alias("assistant_time"),
            F.round(gap_seconds("created_at", "next_time"), 4).alias("response_sec"),
        )
    )


def conversation_summary(conversations: DataFrame, messages: DataFrame) -> DataFrame:
    """Per-conversation rollup: counts, sender split, duration minutes
    (create_views.sql:28-43); LEFT JOIN keeps empty conversations."""
    agg = messages.groupBy("conversation_id").agg(
        F.count("*").alias("message_count"),
        F.sum(F.when(F.col("sender") == "human", 1).otherwise(0)).alias("human_messages"),
        F.sum(F.when(F.col("sender") == "assistant", 1).otherwise(0)).alias(
            "assistant_messages"
        ),
        F.min("created_at").alias("first_message"),
        F.max("created_at").alias("last_message"),
    )
    dur = F.round(gap_seconds(F.col("first_message"), F.col("last_message")) / 60.0, 4)
    return (
        conversations.join(agg, conversations.id == agg.conversation_id, "left")
        .select(
            "id",
            "title",
            "platform",
            conversations.created_at,
            F.coalesce("message_count", F.lit(0)).alias("message_count"),
            F.coalesce("human_messages", F.lit(0)).alias("human_messages"),
            F.coalesce("assistant_messages", F.lit(0)).alias("assistant_messages"),
            "first_message",
            "last_message",
            F.coalesce(dur, F.lit(0.0)).alias("duration_minutes"),
        )
    )


def message_length_stats(messages: DataFrame) -> DataFrame:
    """COUNT/AVG/MIN/MAX/SUM of LENGTH(content) per (conversation,
    sender) (create_views.sql:46-56)."""
    ln = F.length("content")
    return messages.groupBy("conversation_id", "sender").agg(
        F.count("*").alias("message_count"),
        F.round(F.avg(ln), 4).alias("avg_length"),
        F.min(ln).alias("min_length"),
        F.max(ln).alias("max_length"),
        F.sum(ln).alias("total_length"),
    )


def time_activity(conversations: DataFrame, messages: DataFrame) -> DataFrame:
    """Per (platform, date): message count, active conversations, avg
    length (create_views.sql:59-71; the correlated COUNT(DISTINCT)
    subquery decorrelated into countDistinct)."""
    joined = messages.join(
        F.broadcast(conversations.select(F.col("id").alias("cid"), "platform")),
        messages.conversation_id == F.col("cid"),
    )
    return (
        joined.select(
            "platform", F.to_date(messages.created_at).alias("activity_date"),
            "conversation_id", F.length("content").alias("ln"),
        )
        .groupBy("platform", "activity_date")
        .agg(
            F.count("*").alias("message_count"),
            F.countDistinct("conversation_id").alias("active_conversations"),
            F.round(F.avg("ln"), 4).alias("avg_message_length"),
        )
    )


def model_usage(conversations: DataFrame, messages: DataFrame) -> DataFrame:
    """Per (platform, model): usage counts + avg length, model
    non-null and non-empty (create_views.sql:74-85)."""
    joined = messages.where(
        F.col("model").isNotNull() & (F.col("model") != "")
    ).join(
        F.broadcast(conversations.select(F.col("id").alias("cid"), "platform")),
        messages.conversation_id == F.col("cid"),
    )
    return (
        joined.groupBy("platform", "model")
        .agg(
            F.count("*").alias("message_count"),
            F.countDistinct("conversation_id").alias("conversation_count"),
            F.round(F.avg(F.length("content")), 4).alias("avg_message_length"),
        )
        .orderBy("platform", F.desc("message_count"), "model")
    )


def register_conversation_views(
    spark: SparkSession, conversations: DataFrame, messages: DataFrame
) -> None:
    """Register the base tables + all five views as temp views so the
    raw-SQL endpoint can query them (sql_search.py:77-99 auto-creates
    views when missing)."""
    conversations.createOrReplaceTempView("conversations")
    messages.createOrReplaceTempView("messages")
    message_pairs(messages).createOrReplaceTempView("message_pairs")
    conversation_summary(conversations, messages).createOrReplaceTempView(
        "conversation_summary"
    )
    message_length_stats(messages).createOrReplaceTempView("message_length_stats")
    time_activity(conversations, messages).createOrReplaceTempView("time_activity")
    model_usage(conversations, messages).createOrReplaceTempView("model_usage")


def run_sql(spark: SparkSession, sql: str) -> DataFrame:
    """S6 raw SQL endpoint: arbitrary SQL over the registered views
    (exper_sql.py:2015-2141 custom_query_visualization) -- Catalyst
    parse/analyze/optimize, distributed execution."""
    return spark.sql(sql)
