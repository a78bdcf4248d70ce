"""Bucketed tables for co-located joins (SURVEY §4: the reference
co-partitions RDDs with a shared ``LongHashPartitioner`` so the
coordinate-descent inner loop joins without shuffling —
GameEstimator.scala:547, RandomEffectDataset.scala:70-71. Spark-first,
the durable equivalent is bucketing: both sides bucketed by the join
key join with ZERO Exchange).

Use when the same key joins repeatedly across stages/jobs — training
data and score frames on ``uid``, data and model tables on ``entity``.
For a single join, AQE + plain shuffle is usually cheaper than the
bucketed write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_within: bool = True,
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table. Reading
    it back gives a DataFrame whose output partitioning satisfies
    hash-join requirements on ``bucket_col`` — no Exchange."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_within:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def cojoin_bucketed(
    spark: SparkSession, left_table: str, right_table: str, key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. With matching
    bucket counts the plan contains no shuffle on either side."""
    return spark.table(left_table).join(spark.table(right_table), key, how)
