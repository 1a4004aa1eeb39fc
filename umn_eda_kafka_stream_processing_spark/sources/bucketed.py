"""Bucketed-table support: co-located fact-fact joins.

At 100 TB the expensive joins are fact-fact (orders ⋈ lineitem,
events ⋈ tickets) where neither side broadcasts. Writing both sides
bucketed by the join key — `bucketBy(n, key).sortBy(key)` managed
tables — lets Spark plan a sort-merge join with NO Exchange on
either side: the shuffle is paid once at write time and amortized
over every subsequent join, the single biggest recurring-cost lever
for a star schema that's joined daily.

Bucket count guidance: pick n so each bucket file is 100-500 MB at
the target scale, and use the SAME n on every table sharing the key
(mismatched counts reintroduce a shuffle on one side; Spark can
coalesce buckets only when one count divides the other —
spark.sql.bucketing.coalesceBucketsInJoin.enabled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    num_buckets: int,
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *cols)
    writer.sortBy(*cols).saveAsTable(table)


def bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the executed plan —
    the thing bucketing is supposed to remove. Exposed for tests and
    for the plan audit."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        line.count("Exchange") for line in plan.splitlines()
        if "Exchange" in line and "reuse" not in line.lower()
    )
