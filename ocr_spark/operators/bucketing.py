"""Bucketed-table helpers: shuffle-free co-located joins.

At 100 TB the dominant join cost is the shuffle. Two tables bucketed
(and sort-ordered) on the SAME key with the SAME bucket count join with
NO exchange on either side: Spark's bucketing metadata proves
co-partitioning, so the sort-merge join reads bucket i of both tables
on one task. This module wraps the write side; the plan-level guarantee
is pinned by tests/test_plans.py::test_bucketed_join_has_no_shuffle.

Usage shape: two tables written with ``write_bucketed`` on the same key
and bucket count join through ``bucketed_join`` without an exchange.
The extraction pipeline does not use it: its resume is a fold over the
manifest chain, with no join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table_name: str, bucket_col: str,
                   n_buckets: int = 64,
                   sort_col: str | None = None) -> None:
    """Persist ``df`` as a bucketed (+ optionally sorted) managed table.
    Bucketing requires the table catalog (saveAsTable) — plain
    ``.parquet()`` writes drop the bucket metadata."""
    writer = (df.write.mode("overwrite")
              .bucketBy(n_buckets, bucket_col))
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: str, how: str = "inner") -> DataFrame:
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, on=on, how=how)
