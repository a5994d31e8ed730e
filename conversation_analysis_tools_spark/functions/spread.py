"""Scan-parallelism repair for small-file inputs (optimization guide
§2.5 input skew / §6 split sizing).

A parquet scan can never be more parallel than its row-group count,
and the engine's corpora arrive as SINGLE-row-group files at every
local sf -- so a "map-only" tokenize/shingle stage runs as ONE task no
matter how many cores the session has (measured at sf1: the 50k-doc
tokenize+count stage was a single 4.8-5.2 s task inside every
token-family query on local[32]). Repartitioning the RAW rows up to
the session's parallelism moves only the narrow input once and lets
the expensive derived work (regex tokenize, shingling, hashing) run
wide; at 100 TB the scan already has thousands of splits and the
helper is a no-op, so the decision is scale-adaptive rather than a
local[32] tune.

The probe is Catalyst's own size estimate (driver-side metadata, no
job, ~ms): estimated splits = ceil(sizeInBytes / maxPartitionBytes),
spread when that is below the session's defaultParallelism. The
estimate can only err toward spreading (multi-row-group files split
finer than estimated never coarser), which costs one cheap exchange of
raw rows; the rdd.getNumPartitions() alternative is exact but forces
an RDD conversion per plan build (~0.1-0.9 s of py4j, measured) --
far too hot for a helper called in every token-family query builder.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from conversation_analysis_tools_spark.decisions import record

#: Inputs below this estimated size are never spread: the derived work
#: on a sub-half-MB relation is cheaper than scheduling a full-width
#: shuffle (and the fixed-corpus certificate plans stay untouched).
#: sf0.1's 594 KB documents table sits just above, so the driver bench
#: corpus gets the repair.
SPREAD_MIN_BYTES = 512 << 10


def spread_input(
    df: DataFrame, key: str, min_bytes: int = SPREAD_MIN_BYTES
) -> DataFrame:
    """Repartition ``df`` by ``key`` up to the session's default
    parallelism when the scan would otherwise produce fewer splits
    than cores; identity for big inputs (scale-adaptive), tiny inputs
    (below ``min_bytes``), and anything whose stats cannot be
    estimated. Hash repartition on the key is deterministic, so
    retried tasks reproduce their partition assignment (guide §2.5).

    ``min_bytes`` is the measured crossover where the one raw-row
    exchange starts paying for itself; it depends on how heavy the
    downstream per-row work is. The default suits regex-tokenize /
    shingle / banding chains; callers whose per-row kernel is a single
    codegen'd expression (e.g. a small fixed centroid distance) should
    pass a larger floor -- the exchange only wins once the single-task
    scan is long enough to leave the other cores idle for longer than
    the shuffle costs."""
    try:
        spark = df.sparkSession
        target = spark.sparkContext.defaultParallelism
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 -- estimation must never kill a plan
        return df
    # the JVM's parsed value, so a user's "128m" reads as 128 MiB; read
    # only past the floor, where the split estimate matters
    spread = est >= min_bytes and math.ceil(
        est / spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    ) < target
    record("spread_input", "spread" if spread else "identity",
           est_bytes=est, min_bytes=min_bytes, target=target)
    return df.repartition(target, key) if spread else df
