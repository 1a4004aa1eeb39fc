"""Kafka source/sink wiring — the engine's streaming I/O boundary.

Maps the reference's topic model (string key + JSON value,
reference: Streams.java:30-55,83) onto Spark's Kafka connector:

* ``read_topic``  — batch read  (reference: simple/SimpleKafkaConsumer.java:28-50)
* ``stream_topic``— streaming read (reference: builder.stream(...),
  e.g. samples/TopCustomerArtists.java:59)
* ``write_topic`` / ``write_stream_topic`` — JSON-encode and sink
  (reference: .to(topic, Produced.with(...)), e.g.
  samples/TopCustomerArtists.java:90)

These require the spark-sql-kafka package on the classpath; they are
exercised in integration environments, not in the local test suite
(no broker in this container). The JSON envelope codec
(``decode_json_topic`` / ``encode_json_topic``) is pure DataFrame
logic and IS unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_json_topic(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """Kafka wire format → flattened typed DataFrame.

    ``raw`` has Kafka's columns (key/value binary, topic, partition,
    offset, timestamp). Output: one column per schema field, plus
    ``key`` (string) and ``event_seq`` (monotone per-partition order
    derived from the Kafka offset — the engine's arrival-order
    envelope; see schemas.py).
    """
    value_fields = [f for f in schema.fields if f.name not in ("key", "event_seq")]
    value_schema = T.StructType(value_fields)
    parsed = raw.select(
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        # offset is a total order *within a partition* — exactly the
        # ordering guarantee Kafka Streams relies on. Keyed operators
        # only ever compare seq within a key, and a key lives in one
        # partition, so this is a faithful arrival order.
        F.col("offset").cast("long").alias("event_seq"),
    )
    return parsed.select("key", "v.*", "event_seq")


def encode_json_topic(df: DataFrame) -> DataFrame:
    """Typed DataFrame → Kafka wire format (key string, value JSON)."""
    payload_cols = [c for c in df.columns if c != "key"]
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.to_json(F.struct(*payload_cols)).alias("value"),
    )


def read_topic(
    spark: SparkSession,
    topic: str,
    schema: T.StructType,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_json_topic(raw, schema)


def stream_topic(
    spark: SparkSession,
    topic: str,
    schema: T.StructType,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return decode_json_topic(reader.load(), schema)


def write_topic(df: DataFrame, topic: str, bootstrap_servers: str) -> None:
    (
        encode_json_topic(df)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def write_stream_topic(
    df: DataFrame,
    topic: str,
    bootstrap_servers: str,
    checkpoint_location: str,
):
    """Start a streaming sink to a Kafka topic; returns the query.

    ``update`` output mode reproduces the reference's per-record
    emission (record cache 0 bytes, Streams.java:88).
    """
    return (
        encode_json_topic(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("update")
        .start()
    )
