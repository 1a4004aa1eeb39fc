"""Foreign-key KTable ⋈ KTable join (the KIP-213 analogue).

Kafka Streams' ``KTable.join(other, foreignKeyExtractor, ...)``
(SURVEY.md §2.3 engine-scope extension; the reference app only has
primary-key table joins) joins a table to another table through a
NON-KEY column, with full update propagation in both directions —
critically, an update to the RIGHT table re-emits the joined row for
EVERY left row referencing it (Kafka Streams implements this with a
subscription topic re-keyed by FK; ~the hardest operator in that
runtime).

The Spark shape: both tables are keyed snapshot stores
(`stores.SnapshotStore` — this engine's KTable materialization),
maintained by ONE serialized streaming query: the two changelogs are
unioned under a side tag (each side's row rides a nullable struct)
and a single foreachBatch applies left upserts, then right upserts,
then the emissions. Single writer + single reader per batch means a
store is never read while the other maintainer is mid-overwrite —
the two-query variant could hit FILE_NOT_EXIST (or a partial file
listing) when one side's dynamic overwrite raced the other side's
snapshot read.

Update propagation is driven by AFFECTED-KEY pruning, not a full
re-join:

* left changelog rows → upsert the left store; the affected left
  keys are exactly the batch's keys; join just those rows against
  the right store.
* right changelog rows → upsert the right store; the affected left
  rows are ``left_store semi-join batch's right keys ON the FK``
  (the subscription-topic lookup, as one equi-join); join those
  against the right store.

Both emission joins broadcast the right store (a dimension-sized
KTable — the case FK joins exist for); the left store read is
row-pruned by a broadcast semi-join on the affected keys/FKs. With
``n_fk_buckets`` set, the left store is hive-partitioned by
``pmod(hash(fk), N)`` (the fk is not the store's key, so the upsert
is move-aware — an update may CHANGE a row's FK and hence its
partition), and the right-batch path
PARTITION-PRUNES its left-store scan to the touched FK buckets: at
100 TB the per-batch work is O(|batch| + |affected|) in rows AND in
bytes scanned, never O(|left table|). Emission is at-least-once
(foreachBatch) in update mode: downstream consumers key by the left
key and keep the latest, exactly like consuming a KTable changelog
topic. ``how='left'`` follows KTable leftJoin semantics: a left row
with no right match emits NULL-extended (including before the right
store first materializes) and is refreshed when its FK arrives.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

_BUCKET_COL = "_fkb"
_LEFT_OUTER = {"left", "left_outer", "leftouter"}


def fk_join_snapshot(
    left: DataFrame,
    right: DataFrame,
    fk_col: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Join (a pruned slice of) the left KTable snapshot to the right
    KTable snapshot through the foreign key. Right side broadcasts
    (the dimension table FK joins exist for)."""
    rt = right.withColumnRenamed(right_key, "_fk_rk")
    return left.join(
        F.broadcast(rt), F.col(fk_col) == F.col("_fk_rk"), how
    ).drop("_fk_rk")


def start_fk_table_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    *,
    left_key: str,
    fk_col: str,
    right_key: str,
    left_store: str,
    right_store: str,
    emit: Callable[[DataFrame, int], None],
    how: str = "inner",
    checkpoint_root: str | None = None,
    n_fk_buckets: int | None = None,
) -> StreamingQuery:
    """Wire both changelog streams into the FK-join topology as ONE
    serialized streaming query (see module docstring for why);
    returns its StreamingQuery handle. ``emit`` receives the
    refreshed joined rows for the affected left keys after each
    side's rows in every microbatch. With ``n_fk_buckets`` the left
    store is partitioned by ``pmod(hash(fk_col), n_fk_buckets)`` and
    right-side fan-out scans prune to the touched buckets."""
    root = checkpoint_root or tempfile.mkdtemp(prefix="ckpt-fkjoin-")
    lschema, rschema = left_stream.schema, right_stream.schema
    left_outer = how in _LEFT_OUTER

    def on_left_rows(left: SnapshotStore, right: SnapshotStore,
                     batch_df: DataFrame, batch_id: int) -> None:
        left_snap = left.upsert(batch_df)
        if n_fk_buckets:
            # bucket upserts return only the touched buckets; emission
            # prunes to this batch's keys anyway, so re-reading the
            # store for the full snapshot is still required here
            left_snap = left.read()
        right_snap = right.read()
        if right_snap is None:
            if not left_outer:
                return  # inner: nothing to join against yet; rows
                # surface when the right store first materializes
                # (its batch re-emits every referencing left row)
            # KTable leftJoin: emit NULL-extended now, refreshed when
            # the FK arrives — an empty right frame carries the
            # stream's schema so the emission shape never changes
            right_snap = batch_df.sparkSession.createDataFrame([], rschema)
        affected = batch_df.select(left_key).distinct()
        pruned = left_snap.join(F.broadcast(affected), left_key, "left_semi")
        emit(
            fk_join_snapshot(pruned, right_snap, fk_col, right_key, how)
            .drop(_BUCKET_COL),
            batch_id,
        )

    def on_right_rows(left: SnapshotStore, right: SnapshotStore,
                      batch_df: DataFrame, batch_id: int) -> None:
        # the upsert returns the post-upsert snapshot (the full right
        # KTable — unpartitioned), so the emission join reuses it
        # instead of re-listing the store it just wrote (one read per
        # batch path)
        right_snap = right.upsert(batch_df)
        touched = batch_df.select(F.col(right_key).alias(fk_col)).distinct()
        # with FK buckets, partition pruning: the touched FK buckets
        # are a tiny literal list (≤ min(|batch keys|, n_fk_buckets)),
        # so only the affected buckets' directories are ever read. A
        # stored row's partition is derived from its CURRENT fk, so
        # every row referencing a touched key is inside a touched
        # bucket — pruning is exact, never lossy.
        left_snap = left.read(near=touched if n_fk_buckets else None)
        if left_snap is None:
            return  # nothing references anything yet
        # the KIP-213 subscription lookup: every left row whose FK is
        # one of the batch's right keys is affected — ONE broadcast
        # semi-join, not a scan-compare
        affected = left_snap.join(F.broadcast(touched), fk_col, "left_semi")
        emit(
            fk_join_snapshot(affected, right_snap, fk_col, right_key, how)
            .drop(_BUCKET_COL),
            batch_id,
        )

    # the side-tag envelope: one query, both changelogs. NULL-struct
    # casts keep a single union schema without serializing payloads.
    lenv = left_stream.select(
        F.lit("L").alias("_side"),
        F.struct(*left_stream.columns).alias("_l"),
        F.lit(None).cast(rschema).alias("_r"),
    )
    renv = right_stream.select(
        F.lit("R").alias("_side"),
        F.lit(None).cast(lschema).alias("_l"),
        F.struct(*right_stream.columns).alias("_r"),
    )

    def on_batch(env_df: DataFrame, batch_id: int) -> None:
        # the stores resolve through the batch's own session
        spark = env_df.sparkSession
        stores = (
            SnapshotStore(
                spark, left_store, left_key,
                _BUCKET_COL if n_fk_buckets else (), "event_seq",
                n_buckets=n_fk_buckets, bucket_on=fk_col,
            ),
            SnapshotStore(spark, right_store, right_key, order="event_seq"),
        )
        env_df = materialize(env_df, Why.SHARED)
        lbatch = env_df.filter(F.col("_side") == "L").select("_l.*")
        rbatch = env_df.filter(F.col("_side") == "R").select("_r.*")
        # left rows first: a batch carrying both sides applies left
        # upserts before the right-side fan-out re-reads the left
        # store, so the fan-out sees this batch's left rows too
        if not lbatch.isEmpty():
            on_left_rows(*stores, lbatch, batch_id)
        if not rbatch.isEmpty():
            on_right_rows(*stores, rbatch, batch_id)

    return (
        lenv.unionByName(renv)
        .writeStream.foreachBatch(on_batch)
        .outputMode("update")
        .option("checkpointLocation", f"{root}/both")
        .start()
    )
