"""The generic MapReduce client API run through the correctness gate.

These queries execute real MapReduceClient jobs (core/client.py) through
core/job.py's run_job — one mapInPandas pass for a one-partition input,
otherwise a mapInPandas map stage, a hash shuffle + sort on the key and
a mapInPandas walk over the sorted key runs — and compare against the
same oracles as their DataFrame-native twins — proving the generic API
is capability-equivalent to the reference's, not just present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceframework_spark.core import (
    CharCountClient,
    FilterEvensClient,
    ModuloHistogramClient,
    run_job,
)
from mapreduceframework_spark.plans.registry import query
from mapreduceframework_spark.sources import load_table


@query(
    "mr_char_counts",
    oracle="""
        SELECT ch, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)
        GROUP BY ch
    """,
    tags=("mapreduce-api", "reference"),
)
def mr_char_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SampleClient (reference SampleClient.cpp:32-66) through the
    generic API; must equal the DataFrame-native char_counts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return run_job(spark, CharCountClient(), docs)


@query(
    "mr_histogram_mod100",
    oracle="""
        SELECT o_orderkey % 100 AS key, COUNT(*) AS cnt
        FROM orders GROUP BY 1
    """,
    tags=("mapreduce-api", "reference"),
)
def mr_histogram_mod100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """test1's client (reference test1-1_thread_1_process.cpp:59-77)
    through the generic API."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("k1"),  # reference passes NULL values
        F.col("o_orderkey").alias("v1"),
    )
    return run_job(spark, ModuloHistogramClient(), orders)


@query(
    "mr_filter_evens",
    oracle="""
        SELECT o_orderkey AS k, o_orderkey AS v FROM orders
        WHERE o_orderkey % 2 = 1
    """,
    tags=("mapreduce-api",),
)
def mr_filter_evens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit-zero-shaped map (the contract's '0..n times',
    reference MapReduceClient.h:58) — a filter via the generic API."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("k1"),
        F.col("o_orderkey").alias("v1"),
    )
    return run_job(spark, FilterEvensClient(), orders)
