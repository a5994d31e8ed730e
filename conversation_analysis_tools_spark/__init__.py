"""PySpark-native analytics engine with the query and data-processing
capabilities of CrazyDubya/conversation-analysis-tools, re-architected
Spark-first (DataFrame/SQL + Catalyst + Structured Streaming).

Layout:
    session     -- SparkSession factory tuned for the target scale
    catalog     -- parquet table loader / temp-view registration
    views       -- the reference's SQL views over ingested conversations
    layout      -- bucketed-table and salted-join physical layout helpers
    decisions   -- per-thread record of the adaptive gates' plan choices
    fitcache    -- train-once cache for fitted indexes and models
    search, pipeline, run_pipeline -- search and pipeline entry points
    functions/  -- shared column-expression library (text, time, vector)
    operators/  -- relational + NLP + dedup/similarity operators
    queries/    -- the registered queries and their DuckDB oracles
    sources/    -- conversation-export ingest (Claude / ChatGPT JSON)
    streaming/  -- Structured Streaming extensions over event tables
"""

import sys

from pyspark import cloudpickle

from conversation_analysis_tools_spark.session import get_spark
from conversation_analysis_tools_spark.catalog import load_tables, register_views

# Functions of this package that a UDF reaches are pickled by value, so
# Python workers run them without importing the package (an application
# that puts the repo on its own sys.path alone still works).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["get_spark", "load_tables", "register_views"]
__version__ = "0.1.0"
