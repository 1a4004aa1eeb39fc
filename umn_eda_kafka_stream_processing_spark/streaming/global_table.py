"""GlobalKTable analogue: broadcast stream-static dimension join.

Kafka Streams' ``GlobalKTable`` (``builder.globalTable(topic)``,
SURVEY.md §2.3 engine-scope extension; the reference's KTables at
samples/PurchaseEventTicket.java:44-51 are the per-partition cousins)
materializes a FULL copy of a compacted topic on every instance so a
stream can enrich against it without repartitioning — the join key
does not have to be the stream's partition key, and the stream never
moves.

The Spark twin of "full copy on every instance" is a broadcast: the
dimension snapshot (a ``stores.SnapshotStore``
materialization — this engine's compacted-topic materialization) ships to all
executors once per microbatch and the fact microbatch hash-joins
against it locally. The fact side gets NO Exchange — exactly the
no-co-partitioning guarantee the reference API gives — which at
100 TB means the hot path pays one broadcast of a small dim instead
of shuffling the firehose.

Refresh semantics: Kafka Streams keeps the global store continuously
updated from the topic. Structured Streaming's built-in stream-static
join re-plans the static side per batch but can cache file listings,
so the reliable refresh path is ``foreachBatch``: every microbatch
re-reads the snapshot path fresh (new ``spark.read`` → new file
listing), making an upsert that lands between batches visible to the
next batch — the same eventually-consistent lookup the reference
provides, with the snapshot updated out-of-band by its own
``SnapshotStore.upsert`` maintenance stream.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def global_table(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """Fresh read of a compacted snapshot table (a SnapshotStore
    materialization). Called per microbatch so a snapshot upsert between
    batches is picked up — never cache the returned frame across
    batches."""
    return spark.read.parquet(snapshot_path)


def global_lookup_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
) -> DataFrame:
    """Enrich a fact (micro)batch against a global dimension with an
    explicit broadcast — the GlobalKTable lookup join. left_outer
    matches KStream#leftJoin(GlobalKTable): a fact with
    no dim row passes through with NULLs instead of vanishing."""
    keys = [on] if isinstance(on, str) else list(on)
    return facts.join(F.broadcast(dim), keys, "left_outer")


def start_global_table_join(
    stream_df: DataFrame,
    snapshot_path: str,
    on: str | Sequence[str],
    emit: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Run a streaming fact source against a continuously-maintained
    snapshot table: per microbatch, re-read the snapshot, broadcast
    hash-join the batch locally (no fact shuffle), and hand the
    enriched frame to ``emit(enriched_df, batch_id)``.

    The snapshot is maintained independently (its own
    SnapshotStore.upsert writer — the changelog topic of the reference's
    global store); this query only ever reads it.
    """
    checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt-gkt-")

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        dim = global_table(batch_df.sparkSession, snapshot_path)
        emit(global_lookup_join(batch_df, dim, on), batch_id)

    return (
        stream_df.writeStream.foreachBatch(on_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
