"""Streaming curation funnel (streaming/curation.py): the batch
capstone folded over ingest -- keep-first-arrival fingerprint
admission with a doc_id-ordered drain must equal the batch window's
min-doc_id winner, making the two queries value-identical."""

import os

from pyspark.sql import functions as F


def test_streaming_funnel_equals_batch_capstone(spark):
    from conversation_analysis_tools_spark.queries.streaming import (
        streaming_curation_funnel,
    )
    from conversation_analysis_tools_spark.queries.textstats import (
        curation_pipeline_v2,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: (
            r["n_total"], r["n_after_domain"], r["n_after_quality"],
            r["n_after_dedup"], r["kept_chars"],
        )
        for r in streaming_curation_funnel(spark, sf).collect()
    }
    want = {
        r["source"]: (
            r["n_total"], r["n_after_domain"], r["n_after_quality"],
            r["n_after_dedup"], r["kept_chars"],
        )
        for r in curation_pipeline_v2(spark, sf).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_funnel_fold_replay_idempotent(spark, tmp_path):
    """A replayed fold (at-least-once foreachBatch) must overwrite its
    own partitions, not double-admit: folding the same batch twice
    leaves the store identical."""
    from conversation_analysis_tools_spark.queries.textstats import _v2_gop
    from conversation_analysis_tools_spark.streaming.curation import (
        fold_curation_batch,
    )

    docs = spark.createDataFrame(
        [
            # "the ... with" keeps the Gopher stop-word gate (>= 2) open
            (i, f"src{i % 2}", "the word " * 30 + f"with tail{chr(97 + i)}")
            for i in range(6)
        ],
        "doc_id long, source string, text string",
    )
    store = str(tmp_path / "store")
    stage = lambda b: _v2_gop(b, cache=False)  # noqa: E731
    fold_curation_batch(docs, 0, store, stage)
    fps1 = sorted(
        map(tuple, spark.read.parquet(os.path.join(store, "fps")).collect())
    )
    fold_curation_batch(docs, 0, store, stage)  # replay
    fps2 = sorted(
        map(tuple, spark.read.parquet(os.path.join(store, "fps")).collect())
    )
    assert fps1 == fps2 and len(fps1) > 0
    # a later batch with an already-admitted fingerprint is dropped
    # (doc 1 admitted "tailb"; 101 % 5 == 1 keeps the domain gate open,
    # so only the fp admission can drop it)
    dup = spark.createDataFrame(
        [(101, "src0", "the word " * 30 + "with tailb")],
        "doc_id long, source string, text string",
    )
    fold_curation_batch(dup, 1, store, stage)
    fps3 = spark.read.parquet(os.path.join(store, "fps")).collect()
    assert sorted(map(tuple, fps3)) == fps1  # nothing new admitted


def test_state_partition_sizing_contract():
    """State-volume-derived streaming partition count (round 12): one
    partition per STATE_ROWS_PER_PARTITION state rows, floor 1 -- the
    sf0.1 A/B optimum (40k rows -> 4) is the formula's OUTPUT, and the
    count grows linearly with state volume instead of being a
    committed constant."""
    from conversation_analysis_tools_spark.streaming.events import (
        STATE_PARTITION_FLOOR,
        STATE_ROWS_PER_PARTITION,
        size_state_partitions,
    )

    # small state pins to the floor: the measured optimum is ~4
    # partitions at BOTH sf0.1 (~40k state rows) and sf1 (~400k),
    # where finer partitioning only multiplies per-batch store
    # open/commit overhead (sf1 A/B: 40 partitions 10.6s vs 4 3.5s)
    assert size_state_partitions(0) == STATE_PARTITION_FLOOR
    assert size_state_partitions(40_000) == 4
    assert size_state_partitions(400_000) == 4
    # linear growth once state outgrows the per-store memory target:
    # a 10B-row backlog derives the thousands a 100 TB cluster wants
    assert size_state_partitions(10 * STATE_ROWS_PER_PARTITION) == 10
    assert size_state_partitions(10_000_000_000) == 10_000
    assert size_state_partitions(25 * STATE_ROWS_PER_PARTITION + 1) == 26


def test_parquet_row_count_matches_spark(spark):
    """The driver-side footer row count (no Spark job) agrees with a
    full scan -- it feeds the state sizing estimate."""
    from conversation_analysis_tools_spark.catalog import table
    from conversation_analysis_tools_spark.streaming.events import (
        parquet_row_count,
    )

    sf = "/root/testdata/sf0.001"
    # events.parquet is TIMESTAMP(NANOS) -- load via catalog.table
    assert parquet_row_count(f"{sf}/events.parquet") == table(
        spark, "events", sf
    ).count()


def test_parquet_row_count_single_file_and_partitioned_dir(spark, tmp_path):
    """The footer row count (catalog.parquet_footers) equals a Spark
    count on one parquet file and on a Spark-written ``partitionBy``
    directory, whose data files sit in ``key=value`` subdirectories."""
    from conversation_analysis_tools_spark.streaming.events import (
        parquet_row_count,
    )

    df = spark.range(0, 1000).withColumn("part", F.col("id") % 3)
    one = str(tmp_path / "one")
    df.coalesce(1).write.parquet(one)
    f = next(x for x in os.listdir(one) if x.endswith(".parquet"))
    single = os.path.join(one, f)
    parted = str(tmp_path / "parted")
    df.repartition(4).write.partitionBy("part").parquet(parted)
    for p in (single, parted):
        assert parquet_row_count(p) == spark.read.parquet(p).count() == 1000
