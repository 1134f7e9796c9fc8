"""PySpark-native analytics engine with the query and data-processing
capabilities of ElsaMarziano/MapReduceFramework, re-expressed Spark-first.

The reference (/root/reference, C++11 pthreads MapReduce kernel) provides a
generic map -> shuffle/group-by-key -> reduce dataflow plus a job
lifecycle/progress API (SURVEY.md section 2). This package provides:

- ``session``: SparkSession construction tuned for analytic workloads.
- ``sources``: explicit-schema table registry over the driver parquet.
- ``plans.queries``: the operator/query registry (name -> Spark callable +
  DuckDB oracle SQL) — the single source of truth consumed by
  ``__spark_entry__.py``, the pytest parity harness, and ``bench.py``.
- ``core``: the generic MapReduceClient API (map/emit2/reduce/emit3 and
  JobHandle/getJobState semantics, reference MapReduceFramework.h:15-24),
  made idiomatic: mapInPandas + hash shuffle + sorted key-run reduce
  (one mapInPandas pass for a one-partition input) + statusTracker.
- ``operators``: dedup / similarity / text / multimodal extension operators
  designed for 100 TB scale.
- ``streaming``: Structured Streaming surface over the events table.
"""

__version__ = "0.1.0"
