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

* **The log is a `stores.BatchStore`** — batch N lands under
  ``batch_id=N`` by its dynamic partition overwrite, so an at-least-once
  replay of the same batch rewrites exactly its own directory with
  identical content. No other partition is touched, ever.
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

Unbounded history is bounded by `stores.BatchStore.collapse` with the
same latest-wins merge the as-of read applies: batches older than the
retention horizon fold into a single base batch, after which time travel
reaches back exactly to the horizon. The store's marker protocol makes
the fold crash-safe and turns a straggler replay of a folded batch into
a no-op.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.stores import BatchStore


def latest_versions(
    key_cols: str | Sequence[str],
    seq_col: str | None = None,
    tombstone_col: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """The versioned log's merge: the latest version per key over rows
    carrying ``batch_id``, version order ``(batch_id, seq_col)`` —
    ``seq_col`` breaks ties when one batch carries several versions of
    a key (e.g. an update and a delete in the same microbatch). With
    ``tombstone_col``, keys whose winning version has it true are
    dropped (NULL flags route like CASE-ELSE: kept); the column stays
    on the output, so a fold keeps the log's schema."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def merge(rows: DataFrame) -> DataFrame:
        order = F.col("batch_id")
        if seq_col:
            order = F.struct(order, F.col(seq_col))
        payload = [c for c in rows.columns if c not in keys]
        latest = (
            rows.groupBy(*keys)
            .agg(F.max_by(F.struct(*payload), order).alias("_v"))
            .select(*keys, "_v.*")
        )
        if tombstone_col:
            latest = latest.filter(
                ~F.coalesce(F.col(tombstone_col), F.lit(False))
            )
        return latest

    return merge


def append_versioned(
    batch_df: DataFrame,
    table_path: str,
    batch_id: int,
) -> bool:
    """Append one batch of key versions under ``batch_id=<n>``
    (`BatchStore.upsert`). Idempotent under replay: re-running the
    batch replaces its directory with the same rows instead of doubling
    them (foreachBatch is at-least-once). A batch at or below the
    collapse horizon is a no-op (returns False): its versions are
    already in the fold.

    CONTRACT: ``(batch_id, seq)`` must be a TOTAL order per key —
    when one batch carries several versions of a key, give them
    distinct ``seq`` values (e.g. a per-key row_number in arrival
    order). `read_versioned_asof`'s latest-wins ``max_by`` breaks a
    duplicate (key, batch_id, seq) nondeterministically across
    partitionings, so a violated contract means irreproducible
    reads, not an error.
    """
    return BatchStore(batch_df.sparkSession, table_path).upsert(
        batch_id, batch_df, write_coalesce=None
    )


def read_versioned_asof(
    spark: SparkSession,
    table_path: str,
    asof_batch: int,
    key_cols: str | Sequence[str],
    seq_col: str | None = None,
    tombstone_col: str | None = None,
) -> DataFrame | None:
    """State of the store as of ``asof_batch`` (inclusive), or None
    before the first batch: `latest_versions` over the partition-pruned
    slice ``batch_id <= asof_batch`` of the live log. With
    ``tombstone_col`` the deleted keys and the column itself are kept
    off the output."""
    rows = BatchStore(spark, table_path).scan()
    if rows is None:
        return None
    latest = latest_versions(key_cols, seq_col, tombstone_col)(
        rows.filter(F.col("batch_id") <= F.lit(int(asof_batch)))
    )
    return latest.drop(tombstone_col) if tombstone_col else latest


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
    base batch (`BatchStore.collapse` with `latest_versions`). Reads as
    of any batch >= the horizon are unchanged; probes BELOW the horizon
    see an empty store — their history is gone, exactly Iceberg's
    expire-snapshots contract (the valid as-of floor is the horizon).

    With ``tombstone_col``, keys whose folded winner is a tombstone
    are DROPPED entirely (the RocksDB bottom-level delete-compaction:
    nothing below the horizon can resurrect them, and future as-of
    reads observe the same absent key either way).

    ``upto_batch`` is clamped to the largest ingested batch id <= it,
    so the fold never lands in a phantom batch; a horizon below every
    ingested batch is a no-op, and so is a second collapse at the same
    horizon. Crash-safe at every step (see `BatchStore.collapse`).

    Returns ``{"batches_folded": n, "rows": k}``.
    """
    merge = latest_versions(key_cols, seq_col, tombstone_col)
    return BatchStore(spark, table_path, merge).collapse(upto_batch)
