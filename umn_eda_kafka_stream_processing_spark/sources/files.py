"""Non-parquet batch file sources: CSV, JSON lines, ORC.

Parquet is the canonical store (sources/parquet.py); these loaders
cover ingest from upstream systems that hand over text formats.
Schemas are ALWAYS explicit — ``inferSchema`` runs a full extra pass
over the data (a second 100 TB scan) and can silently mis-type
columns between batches; an ingest contract pins types once.

Text formats carry no column statistics and no column pruning, so a
production pipeline lands them into partitioned parquet first
(sources/parquet.py:write_partitioned) and queries that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def load_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .options(header="true", sep=",", mode="FAILFAST")
        .csv(path)
    )


def load_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines with an explicit schema; FAILFAST surfaces malformed
    records at ingest instead of nulling them silently downstream."""
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def load_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
