"""Physical-layout tests: date-partitioned events enable partition
pruning, and same-bucketed tables join without an exchange
(layout.write_bucketed) -- the 100 TB layout posture."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from conversation_analysis_tools_spark.catalog import table
from tests.conftest import SF_DIR


def test_partitioned_events_prune(spark, tmp_path):
    out = str(tmp_path / "events_part")
    events = table(spark, "events", SF_DIR)
    events.withColumn("event_date", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(out)

    part = spark.read.parquet(out)
    one_day = part.where(F.col("event_date") == "2024-01-03")

    buf = io.StringIO()
    with redirect_stdout(buf):
        one_day.explain(True)
    plan = buf.getvalue()
    # the date predicate must become a PartitionFilter, not a row filter
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]

    expected = events.where(F.to_date("ts") == "2024-01-03").count()
    assert one_day.count() == expected


def test_partitioned_roundtrip_preserves_rows(spark, tmp_path):
    out = str(tmp_path / "events_part2")
    events = table(spark, "events", SF_DIR)
    events.withColumn("event_date", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(out)
    assert spark.read.parquet(out).count() == events.count()


def test_bucketed_join_no_exchange(spark, tmp_path):
    from conversation_analysis_tools_spark.layout import (
        bucketed_tables_join,
        write_bucketed,
    )

    import uuid

    ev_t, us_t = f"ev_bkt_{uuid.uuid4().hex[:8]}", f"us_bkt_{uuid.uuid4().hex[:8]}"
    events = table(spark, "events", SF_DIR).select("event_id", "user_id", "value")
    users = (
        table(spark, "events", SF_DIR)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    write_bucketed(events, ev_t, "user_id", n_buckets=4)
    write_bucketed(users, us_t, "user_id", n_buckets=4)
    joined = bucketed_tables_join(spark, ev_t, us_t, "user_id")

    # disable auto-broadcast so the planner takes the sort-merge path
    # the bucketing is designed for (at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan  # both sides arrive pre-bucketed
        assert joined.count() == events.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ev_t}")
        spark.sql(f"DROP TABLE IF EXISTS {us_t}")


def test_salted_join_matches_plain(spark):
    from conversation_analysis_tools_spark.layout import salted_join

    events = table(spark, "events", SF_DIR).select("event_id", "user_id", "value")
    dim = (
        table(spark, "events", SF_DIR)
        .groupBy("user_id")
        .agg(F.round(F.avg("value"), 4).alias("avg_v"))
    )
    plain = events.join(dim, "user_id")
    salted = salted_join(events, dim, "user_id", n_salts=4)
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.select(*plain.columns).collect()}
    assert a == b


def test_zorder_layout_prunes_2d_probe(spark, tmp_path):
    """Write orders z-clustered (file = z >> 8 as a partition column),
    probe the fixed 2-D rectangle from zorder_clustered_scan, and
    assert (a) the partition filter prunes to the exact overlap set
    the footprint math predicts, (b) the pruned read returns the same
    rows as the unclustered scan."""
    from conversation_analysis_tools_spark.queries.relational import (
        _zorder_bits_sql,
        zorder_clustered_scan,
    )

    footprints = zorder_clustered_scan(spark, SF_DIR)
    z_files = {
        r["bucket"]
        for r in footprints.where(
            (F.col("layout") == "zorder") & F.col("overlaps_probe")
        ).collect()
    }
    assert 0 < len(z_files) < 32  # strictly better than the 1-D layout

    orders = table(spark, "orders", SF_DIR)
    stats = orders.agg(
        F.min("o_custkey").alias("mnk"),
        F.max("o_custkey").alias("mxk"),
        F.min("o_orderdate").alias("mnd"),
        F.max("o_orderdate").alias("mxd"),
    )
    q = orders.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.expr("(256 * (o_custkey - mnk)) div (mxk - mnk + 1)").alias("cx"),
        F.expr(
            "(256 * datediff(o_orderdate, mnd)) div (datediff(mxd, mnd) + 1)"
        ).alias("cy"),
    )
    zq = q.withColumn("zfile", F.expr(f"shiftright(({_zorder_bits_sql('cx', 'cy')}), 8)"))
    out = str(tmp_path / "orders_z")
    zq.write.mode("overwrite").partitionBy("zfile").parquet(out)

    part = spark.read.parquet(out)
    probe = part.where(F.col("zfile").isin(*[int(b) for b in z_files])).where(
        F.col("cx").between(64, 95) & F.col("cy").between(64, 95)
    )
    exact = zq.where(F.col("cx").between(64, 95) & F.col("cy").between(64, 95))
    assert probe.count() == exact.count()  # overlap files cover the probe

    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "zfile" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_ivf_list_layout_prunes_partitions(spark, tmp_path):
    # the IVF inverted-list layout: assigned table written partitioned
    # by centroid_id, a static probe-set filter must prune at the
    # DIRECTORY level (the ann_ivf_partitioned_parity plan shape)
    import io
    from contextlib import redirect_stdout

    from conversation_analysis_tools_spark.operators import ann as A

    emb = table(spark, "embeddings", SF_DIR)
    cents = A.kmeans_centroids(emb, n_centroids=8)
    out = str(tmp_path / "ivf_lists")
    A.ivf_assign(emb, cents).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(out)
    part = spark.read.parquet(out)
    probe = part.where(F.col("centroid_id").isin([0, 3]))

    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]

    # pruned read returns exactly the rows of those lists
    expected = A.ivf_assign(emb, cents).where(
        F.col("centroid_id").isin([0, 3])
    ).count()
    assert probe.count() == expected


def test_ivf_list_join_uses_dynamic_partition_pruning(spark, tmp_path):
    # when the probe set is a runtime relation (not a literal IN),
    # Spark's dynamic partition pruning must still prune the
    # centroid-partitioned list scan via the join -- the mechanism a
    # 100-TB IVF fact scan relies on when probe sets come from a query
    import io
    from contextlib import redirect_stdout

    from conversation_analysis_tools_spark.operators import ann as A

    emb = table(spark, "embeddings", SF_DIR)
    cents = A.kmeans_centroids(emb, n_centroids=8)
    out = str(tmp_path / "ivf_dpp")
    A.ivf_assign(emb, cents).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(out)
    part = spark.read.parquet(out)
    probes = emb.where(F.col("vec_id") < 2).select(
        F.explode(F.array(F.lit(0), F.lit(3))).alias("centroid_id")
    ).distinct()
    joined = part.join(probes, "centroid_id")

    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain(True)
    assert "dynamicpruning" in buf.getvalue().lower()
    # and the join result matches the statically filtered scan
    want = part.where(F.col("centroid_id").isin([0, 3])).count()
    assert joined.count() == want


def test_ivf_batch_search_plans_dpp_inside_ivf_topk(spark, tmp_path):
    # the ann_ivf_batch_dpp serving shape, pinned at the PLAN level:
    # ivf_topk's probe-relation join against the centroid-partitioned
    # store must carry a dynamicpruning subquery on centroid_id (the
    # probe broadcast reused as a runtime partition filter), and the
    # batch results must match the unpartitioned search exactly
    import io
    from contextlib import redirect_stdout

    from conversation_analysis_tools_spark.operators import ann as A

    emb = table(spark, "embeddings", SF_DIR)
    cents = A.kmeans_centroids(emb, n_centroids=8)
    out = str(tmp_path / "ivf_dpp_batch")
    A.ivf_assign(emb, cents).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(out)
    part = spark.read.parquet(out)
    batch = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pruned = A.ivf_topk(part, batch, cents, k=3, n_probe=2, exclude_self=True)

    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    lower = plan.lower()
    assert "dynamicpruning" in lower
    # the pruning subquery hangs off the PARTITION column
    frag = lower.split("dynamicpruning", 1)[1][:200]
    assert "centroid_id" in frag

    inline = A.ivf_topk(
        A.ivf_assign(emb, cents), batch, cents, k=3, n_probe=2, exclude_self=True
    )
    assert inline.exceptAll(pruned).count() == 0
    assert pruned.exceptAll(inline).count() == 0
