"""Versioned key-value store with time-travel reads (batch-id log).

The reference's KTable keeps only the LATEST value per key
(`builder.table(...)`, samples/PurchaseEventTicket.java:44-51); its
changelog topic, however, retains the full history — Kafka Streams
rebuilds any point-in-time state by replaying the changelog up to an
offset. This module is the lakehouse analogue: an append-only parquet
log partitioned by ``batch_id`` whose reads reconstruct the KTable
*as of* any ingested batch (Iceberg/Delta "time travel", expressed as
plain parquet + one hash-agg).

Spark-first / 100 TB shape:

* **Writes are per-batch partition overwrites** — batch N lands under
  ``batch_id=N`` via dynamic partition overwrite, so an at-least-once
  replay of the same batch rewrites exactly its own directory with
  identical content (idempotent, the round-10 store rule). No other
  partition is touched, ever.
* **As-of reads are partition-pruned**: ``batch_id <= asof`` is a
  partition filter, so reading "state as of batch 3" in a 10,000-batch
  store lists 4 directories, not the table.
* **Latest-wins is one hash aggregation** (``max_by`` over
  ``struct(batch_id, seq)``) — map-side combined, shuffle volume
  ~|distinct keys|, never a row_number window over all versions.
* **Deletes are tombstone DATA, not file deletes** — a row with the
  tombstone flag set wins latest-wins like any other version and the
  key is then dropped from the as-of view. History stays replayable;
  physical reclamation is ``SnapshotStore.maintain``/horizon-collapse territory.

Unbounded history is bounded the way `stores.BatchStore.collapse`
bounds the batch-keyed stores: fold batches older than the retention
horizon into a single base batch (latest-wins is associative), after
which time travel reaches back exactly to the horizon. The fold is its
own — latest-wins needs batch ORDER, which a batch-keyed merge never
sees — but the batch listing and deletes are the shared ones.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.stores import BatchStore

BATCH_COL = "batch_id"


def append_versioned(
    batch_df: DataFrame,
    table_path: str,
    batch_id: int,
) -> None:
    """Append one batch of key versions under ``batch_id=<n>``.

    Idempotent under replay: the write is a dynamic partition
    overwrite of exactly this batch's partition, so re-running the
    batch replaces its directory with the same rows instead of
    doubling them (foreachBatch is at-least-once).

    CONTRACT: ``(batch_id, seq)`` must be a TOTAL order per key —
    when one batch carries several versions of a key, give them
    distinct ``seq`` values (e.g. a per-key row_number in arrival
    order). `read_versioned_asof`'s latest-wins ``max_by`` breaks a
    duplicate (key, batch_id, seq) nondeterministically across
    partitionings, so a violated contract means irreproducible
    reads, not an error.
    """
    if BATCH_COL in batch_df.columns:
        raise ValueError(f"batch_df must not already carry {BATCH_COL!r}")
    (
        batch_df.withColumn(BATCH_COL, F.lit(int(batch_id)).cast("long"))
        .write.mode("overwrite")
        .partitionBy(BATCH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(table_path)
    )
    batch_df.sparkSession.catalog.refreshByPath(table_path)


def read_versioned_asof(
    spark: SparkSession,
    table_path: str,
    asof_batch: int,
    key_cols: str | Sequence[str],
    seq_col: str | None = None,
    tombstone_col: str | None = None,
) -> DataFrame:
    """State of the store as of ``asof_batch`` (inclusive).

    Latest version per key over the partition-pruned slice
    ``batch_id <= asof_batch``; version order is ``(batch_id,
    seq_col)`` — ``seq_col`` breaks ties when one batch carries
    several versions of a key (e.g. an update and a delete in the
    same microbatch). If ``tombstone_col`` is given, keys whose
    winning version has it true are dropped from the view (the
    column itself is kept off the output).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    df = spark.read.parquet(table_path).filter(
        F.col(BATCH_COL) <= F.lit(int(asof_batch))
    )
    order = (
        F.struct(F.col(BATCH_COL), F.col(seq_col))
        if seq_col
        else F.col(BATCH_COL)
    )
    payload = [c for c in df.columns if c not in keys]
    latest = (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*payload), order).alias("_v"))
        .select(*keys, "_v.*")
    )
    if tombstone_col:
        # NULL tombstone flags route like CASE-ELSE: kept (the
        # coalesce-to-false rule)
        latest = latest.filter(
            ~F.coalesce(F.col(tombstone_col), F.lit(False))
        ).drop(tombstone_col)
    return latest


def collapse_versioned(
    spark: SparkSession,
    table_path: str,
    upto_batch: int,
    key_cols: str | Sequence[str],
    seq_col: str | None = None,
    tombstone_col: str | None = None,
) -> dict:
    """Horizon collapse — the retention step that keeps the versioned
    log O(|keys|) + O(window) instead of O(|batches| x |keys|): fold
    every batch with ``batch_id <= upto_batch`` into ONE latest-wins
    base partition at ``batch_id = upto_batch``. Reads as of any
    batch >= the horizon are unchanged; probes BELOW the horizon see
    an empty store — their history is gone, exactly Iceberg's
    expire-snapshots contract (the valid as-of floor is the horizon;
    `BatchStore.batch_ids` reports it).

    With ``tombstone_col``, keys whose folded winner is a tombstone
    are DROPPED entirely (the RocksDB bottom-level delete-compaction:
    nothing below the horizon can resurrect them, and future as-of
    reads observe the same absent key either way).

    Partition-pruned: only folded batch directories are read; they
    are deleted after the base partition is dynamically overwritten.
    Idempotent: a second collapse at the same horizon sees only the
    base partition and no-ops. CONTRACT: collapse only batches
    beyond the stream's replay horizon — a replayed batch_id <= the
    horizon would otherwise re-append below the base.

    ``upto_batch`` is CLAMPED to the largest INGESTED batch id that
    is <= it: a horizon that was never ingested (beyond the max, or
    in a gap between batch ids) would otherwise relabel history into
    a base partition at a phantom batch_id — destroying time travel
    to real batches and making `BatchStore.batch_ids` report a batch
    that never existed (round-11 advice; gap case round-12 review).
    A horizon below every ingested batch is a no-op.

    Returns ``{"batches_folded": n, "keys": k}``.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    log = BatchStore(spark, table_path)
    eligible = [b for b in log.batch_ids() if b <= int(upto_batch)]
    if len(eligible) <= 1:
        return {"batches_folded": 0, "keys": 0}
    upto_batch = max(eligible)  # fold INTO a real ingested batch
    store = spark.read.parquet(table_path)
    old = store.filter(F.col(BATCH_COL) <= F.lit(int(upto_batch)))
    order = (
        F.struct(F.col(BATCH_COL), F.col(seq_col))
        if seq_col
        else F.col(BATCH_COL)
    )
    payload = [c for c in old.columns if c not in keys]
    folded = (
        old.groupBy(*keys)
        .agg(F.max_by(F.struct(*payload), order).alias("_v"))
        .select(*keys, "_v.*")
        .withColumn(BATCH_COL, F.lit(int(upto_batch)).cast("long"))
    )
    if tombstone_col:
        folded = folded.filter(
            ~F.coalesce(F.col(tombstone_col), F.lit(False))
        )
    folded = folded.localCheckpoint()  # reads partitions the write replaces
    n_keys = folded.count()
    (
        folded.write.mode("overwrite")
        .partitionBy(BATCH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(table_path)
    )
    folded_away = [b for b in eligible if b != upto_batch]
    log.delete_batches(folded_away)
    return {"batches_folded": len(folded_away), "keys": int(n_keys)}
