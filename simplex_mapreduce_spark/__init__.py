"""simplex_mapreduce_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capability surface of the reference
``bravoPan/simplex_mapreduce`` (an MIT-6.824-style Go MapReduce framework,
see SURVEY.md), re-expressed Spark-first:

- the reference's user-facing Map/Reduce closure API lives in
  :mod:`simplex_mapreduce_spark.mapreduce` (parity facade run as one
  Arrow-batched DataFrame pipeline,
  reference: src/mapreduce.go:344-355 ``Run()``);
- everything relational/extension (scans, joins, aggregations, windows,
  dedup, similarity search, text analysis, event/stream processing) is
  declarative DataFrame/SQL code optimized by Catalyst, registered in
  :mod:`simplex_mapreduce_spark.registry`.

Design target: correctness at small scale factors (DuckDB-oracle-checked)
and efficiency at 100 TB (broadcast joins for dims, partial aggregation,
filter pushdown on raw parquet columns, AQE, no driver-side collects).
"""

from simplex_mapreduce_spark.registry import QUERIES, ORACLES, register
from simplex_mapreduce_spark.session import get_spark, apply_runtime_conf
from simplex_mapreduce_spark.sources.tables import TABLES, load_table, load_tables
from simplex_mapreduce_spark.mapreduce import MapReduceJob

__all__ = [
    "QUERIES",
    "ORACLES",
    "register",
    "get_spark",
    "apply_runtime_conf",
    "TABLES",
    "load_table",
    "load_tables",
    "MapReduceJob",
]

__version__ = "0.1.0"
