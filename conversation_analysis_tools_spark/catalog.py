"""Table catalog: load the synthetic star-schema parquet tables and
register them as temp views.

Tables (see TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings -- one parquet file per table
under an ``sf_dir``.

Scale notes (100 TB posture):
* Reads are plain ``spark.read.parquet`` so Catalyst keeps predicate
  pushdown + column pruning; never ``.cache()`` the raw fact tables.
* ``dim_tables`` lists the small dimensions that should be broadcast
  on join (region/nation/supplier are tiny at every scale factor;
  customer/part grow with sf but stay << lineitem/orders).
* On a real deployment the fact tables would be written partitioned
  (events by ``date(ts)``, lineitem by ``l_shipdate`` month) and
  bucketed by their join key (orders/lineitem by orderkey) --
  ``layout.write_bucketed`` and the ``partition_pruned_scan`` query
  build those layouts.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor.
DIM_TABLES = ("region", "nation", "supplier")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def raw_events(spark: SparkSession, path: str) -> DataFrame:
    """The events parquet at ``path`` as stored, with a NANOS ``ts``
    read as its long nanoseconds (vanilla Spark rejects the type);
    :func:`events_ts` normalizes it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def events_ts(events: DataFrame) -> DataFrame:
    """``events`` (batch or stream, read as :func:`raw_events` reads
    it) with ``ts`` as TIMESTAMP_LTZ.

    The synthetic ``events.ts`` physical type has varied across data
    generations: INT64 TIMESTAMP(NANOS,false) (read as long; rebuild
    micros, the same truncation DuckDB applies narrowing ns -> us) or
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark reads
    TIMESTAMP_NTZ, which ``unix_micros``/watermarks refuse). The
    session timezone is pinned to UTC, so the NTZ -> LTZ cast is
    wall-clock-identity and matches DuckDB's naive-timestamp oracle
    reads either way.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts = events.schema["ts"].dataType
    if isinstance(ts, LongType):
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts, TimestampNTZType):
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table of the star schema as a DataFrame."""
    return {name: table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (for ``spark.sql``)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load a single table.

    Pins the session timezone to UTC on every load: the driver's
    SparkSession (not built by our factory) must bucket timestamps
    identically to the DuckDB oracle. Same chokepoint pins the
    InferFiltersFromGenerate exclusion (see session.py for why) so
    driver-owned sessions get the plan fix too; both sets are
    idempotent constants, not toggled state.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _infer = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    current = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
    if _infer not in current:  # append, never clobber a session's own list
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            f"{current},{_infer}" if current else _infer,
        )
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return events_ts(raw_events(spark, path))
    return spark.read.parquet(path)


def parquet_footers(spark: SparkSession, path: str) -> Iterator:
    """(Hadoop path, parquet-mr ``ParquetMetadata``) of every data file
    at ``path`` -- one file, or a directory tree with its partition
    subdirectories -- read on the driver through the Hadoop file
    system, with no Spark job. Names starting with ``_`` or ``.`` are
    skipped, as Spark's file listing skips them; a missing path has no
    footers. A footer that cannot be read raises."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return
    parquet = jvm.org.apache.parquet.hadoop
    pending = [root]
    while pending:
        for st in fs.listStatus(pending.pop()):
            p = st.getPath()
            if p.getName().startswith(("_", ".")):
                continue
            if st.isDirectory():
                pending.append(p)
                continue
            reader = parquet.ParquetFileReader.open(
                parquet.util.HadoopInputFile.fromPath(p, conf)
            )
            try:
                footer = reader.getFooter()
            finally:
                reader.close()
            yield p, footer


def staging_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(kind, sf_dir) scratch directory.

    Queries that materialize a derived physical layout (partitioned
    copy, streaming source staging) must NOT mkdtemp() per invocation
    -- repeated bench/verify loops would accumulate unbounded temp
    disk. A deterministic path + overwrite semantics bounds usage to
    one copy per layout kind. Rooted on the same RAM-backed scratch
    the session uses for shuffle files when available (staged layouts
    at test SF are MBs; /tmp on the harness box is iowait-bound)."""
    import hashlib

    from conversation_analysis_tools_spark.session import _local_scratch

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _local_scratch() or "/tmp"
    d = os.path.join(root, "cats_staging", f"{kind}_{key}")
    os.makedirs(d, exist_ok=True)
    return d
