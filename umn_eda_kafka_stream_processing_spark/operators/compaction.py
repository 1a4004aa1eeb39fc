"""Changelog → snapshot-table compaction (batch KTable materializer).

The reference materializes every KTable into a RocksDB store that
lives as long as the app (builder.table(topic, Materialized.as(
persistentKeyValueStore(...))), samples/PurchaseEventTicket.java:
44-51). On a 100 TB lake the analogous durable object is a parquet
SNAPSHOT TABLE maintained from an append-only changelog: upsert the
latest version of each key, keep everything else untouched.

Spark-first shape — no per-row writes, no driver loops:

* compaction = ``latest_by_key`` (one hash-agg, map-side combined)
  over old-snapshot ∪ changelog;
* the write uses hive partitioning + DYNAMIC partition overwrite
  (``spark.sql.sources.partitionOverwriteMode=dynamic``), so only
  partitions that actually contain changed keys are rewritten — at
  100 TB an upsert touching one day's keys rewrites one day's
  directories, not the table;
* untouched partitions are pruned from the read side too: the old
  snapshot is semi-joined to the changelog's distinct partition
  values (a PartitionFilters-eligible broadcast semi join), so the
  compaction job reads only the partitions it will rewrite.

Streaming tie-in: pass ``upsert_snapshot`` to foreachBatch to turn a
streaming changelog into a continuously-maintained snapshot table
(at-least-once; rewrites are idempotent because compaction is
deterministic by (key, order_col)).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from umn_eda_kafka_stream_processing_spark.operators.core import latest_by_key
from umn_eda_kafka_stream_processing_spark.stores import hadoop_fs, read_or_empty


def compact_changelog(
    snapshot: DataFrame | None,
    changelog: DataFrame,
    key_cols: str | Sequence[str],
    order_col: str = "event_seq",
) -> DataFrame:
    """Latest row per key across old snapshot + new changelog.

    The snapshot must already be one-row-per-key; ties on
    ``order_col`` resolve to the changelog row (upsert overwrites),
    implemented by tagging sides rather than trusting input order.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    tagged_new = changelog.withColumn("_src", F.lit(1))
    if snapshot is None:
        merged = tagged_new
    else:
        merged = snapshot.withColumn("_src", F.lit(0)).unionByName(tagged_new)
    # order by (order_col, _src): equal sequence numbers prefer the
    # changelog side — matches KTable re-pipe-overwrites semantics
    compacted = latest_by_key(
        merged, keys, F.struct(F.col(order_col), F.col("_src"))
    )
    return compacted.drop("_src")


def _delete_partitions(
    spark: SparkSession, table_path: str, subdirs: Sequence[str]
) -> None:
    """Delete partition directories (``c=v`` or nested ``c=v/d=w``)
    the job emptied: dynamic overwrite only replaces partitions the job
    WRITES, so a partition whose last row went away must go explicitly."""
    if not subdirs:
        return
    fs, _, jvm = hadoop_fs(spark, table_path)
    for sub in subdirs:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{table_path}/{sub}"), True)


def upsert_snapshot(
    spark: SparkSession,
    table_path: str,
    changelog: DataFrame,
    key_cols: str | Sequence[str],
    order_col: str = "event_seq",
    partition_cols: Sequence[str] = (),
    write_coalesce: int | None = None,
) -> DataFrame:
    """Upsert a changelog into the parquet snapshot at table_path.

    Returns the compacted frame it wrote (checkpointed when a merge
    happened), so a caller that needs the post-upsert snapshot — the
    FK join's emission path — can reuse it instead of re-listing the
    store it just overwrote. With ``partition_cols`` the returned
    frame covers only the touched partitions (the full snapshot has
    untouched partitions too — re-read the path if those are needed).

    With ``partition_cols``, only partitions present in the changelog
    are read, compacted, and dynamically overwritten. Without them,
    the whole (assumed modest — a dimension/KTable, not the fact
    lake) snapshot is rewritten.

    CONTRACT: a key's partition values must be stable (the usual
    date/tenant layout). If an update can MOVE a key across
    partitions, the old partition is never read here and would keep
    a stale copy — use the move-aware variant
    (``operators/similarity.py:upsert_ivf_index``) as the template:
    it widens the read set to partitions holding the batch's keys
    and drops partitions the merge emptied.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    partition_cols = list(partition_cols)
    try:
        old = spark.read.parquet(table_path)
    except AnalysisException:  # first write: no snapshot yet
        old = None

    if old is not None and partition_cols:
        touched = changelog.select(*partition_cols).distinct()
        # broadcast semi join on partition values: planned as
        # partition pruning, so untouched directories are never read
        old = old.join(F.broadcast(touched), partition_cols, "left_semi")

    compacted = compact_changelog(old, changelog, keys, order_col)
    if old is not None:
        # the plan reads the same path it overwrites — materialize
        # the merge first or the overwrite would delete its own input
        compacted = compacted.localCheckpoint()

    if write_coalesce:
        # register/decision-sized stores (<= ~1024 rows per batch):
        # without this the merge's shuffle partitioning writes ~32
        # near-empty files per upsert — task and file-count floor,
        # not data (round-12 verdict on the advised census's wall).
        # repartition, not coalesce (the ~5-7 s one-task stall).
        # NEVER set for data-sized stores: it serializes the write.
        # With partition_cols, cluster BY the partition key (guide §6:
        # rebalance on the partition column before a partitioned
        # write): a round-robin repartition would still scatter every
        # directory across all write tasks — tasks x dirs tiny files,
        # and every later partition-pruned read pays the listing.
        if partition_cols:
            compacted = compacted.repartition(
                int(write_coalesce), *[F.col(c) for c in partition_cols]
            )
        else:
            compacted = compacted.repartition(int(write_coalesce))
    writer = compacted.write.mode("overwrite")
    if partition_cols:
        # dynamic mode replaces ONLY the partitions this job writes
        writer = writer.partitionBy(*partition_cols).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(table_path)
    # drop the session's cached file listing for the path: the old
    # (now deleted) part files otherwise stay visible to future reads
    spark.catalog.refreshByPath(table_path)
    return compacted


def upsert_bucket_partitioned(
    spark: SparkSession,
    table_path: str,
    changelog: DataFrame,
    id_col: str,
    order_col: str,
    bucket_col: str,
) -> None:
    """Key-compacting upsert into a BUCKET-partitioned parquet store
    where an update may MOVE a key across partitions (the case
    ``upsert_snapshot``'s contract excludes): IVF/IVFPQ vector indexes
    (a re-embedded vector changes buckets), the FK-join left store
    (an update can change the row's foreign key, hence its
    pmod(hash(fk), N) partition).

    Move-aware read set: partitions receiving new rows ∪ partitions
    holding an updated key's OLD row — so the compaction merge always
    sees (and therefore removes) the stale copy. Partitions the merge
    emptied are deleted explicitly (dynamic overwrite only replaces
    partitions the job writes). Touched-partition pruning keeps the
    job O(|touched|), never O(|table|).
    """
    emptied: set = set()
    try:
        old = spark.read.parquet(table_path)
    except AnalysisException:
        old = None

    if old is None:
        merged = compact_changelog(None, changelog, id_col, order_col)
    else:
        batch_keys = changelog.select(id_col).distinct()
        # collected BEFORE the overwrite — bucket ids are tiny, and
        # any plan that still references `old` after the write would
        # re-list the deleted part files
        touched_buckets = {
            r[bucket_col]
            for r in (
                changelog.select(bucket_col)
                .unionByName(
                    old.join(F.broadcast(batch_keys), id_col, "left_semi")
                    .select(bucket_col)
                )
                .distinct()
                .collect()
            )
        }
        old_touched = old.filter(
            F.col(bucket_col).isin(*touched_buckets)
            if touched_buckets else F.lit(False)
        )
        merged = compact_changelog(
            old_touched, changelog, id_col, order_col
        ).localCheckpoint()
        # a touched bucket whose last row moved away produces no
        # output, so its stale directory would survive the dynamic
        # overwrite — drop it explicitly (merged is checkpointed, so
        # this collect is safe)
        written = {
            r[bucket_col]
            for r in merged.select(bucket_col).distinct().collect()
        }
        emptied = touched_buckets - written

    (
        merged.write.mode("overwrite")
        .partitionBy(bucket_col)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(table_path)
    )

    _delete_partitions(
        spark, table_path, [f"{bucket_col}={b}" for b in emptied]
    )

    # the session's shared FileStatusCache still lists the replaced
    # files; without this, the next read of the store can hit
    # FILE_NOT_EXIST on the overwritten partitions
    spark.catalog.refreshByPath(table_path)


def _partition_dir(parts: list, row) -> str:
    """Relative directory of one partition — nested for multi-column
    layouts (``c=v/d=w``)."""
    return "/".join(f"{c}={row[c]}" for c in parts)


def _partition_selector(parts: list, chosen) -> Column:
    """Partition-pruning predicate for a bounded set of partition
    tuples. Single column: a plain isin. Multi column: an OR of
    per-tuple conjuncts — struct(...).isin(python tuples) raises
    UNSUPPORTED_FEATURE.LITERAL_TYPE, and the chosen set is bounded
    (one term per directory to rewrite) so the predicate stays small
    and PartitionFilters-eligible."""
    if len(parts) == 1:
        return F.col(parts[0]).isin(*[r[parts[0]] for r in chosen])
    sel = F.lit(False)
    for r in chosen:
        conj = F.lit(True)
        for c in parts:
            conj = conj & (F.col(c) == F.lit(r[c]))
        sel = sel | conj
    return sel


def compact_store(
    spark: SparkSession,
    table_path: str,
    partition_cols: str | Sequence[str] = (),
    key_cols: str | Sequence[str] = (),
    order_col: str | None = None,
    target_files: int = 1,
    target_rows: int | None = None,
) -> dict:
    """Small-file compaction for the incremental parquet stores — the
    production maintenance half of the foreachBatch + ``upsert_
    snapshot`` / ``upsert_bucket_partitioned`` pattern (reference
    analogue: RocksDB's own background compaction under every KTable
    store, samples/PurchaseEventTicket.java:44-51).

    Every microbatch upsert rewrites its touched buckets as one file
    PER SHUFFLE TASK holding that bucket's rows, and append-mode
    stores (the dedup seen-hash store) add files monotonically — after
    thousands of batches a "partition-pruned" read still pays one
    file-open per tiny file. This op bin-packs each over-fragmented
    bucket back to a bounded file count, touching nothing else:

    * file census is DISTRIBUTED — one column-pruned scan grouping the
      hidden ``_metadata.file_path`` by bucket (never a driver FS
      walk, which at 100 TB is the slower and rate-limited path);
    * a bucket is rewritten only when its file count EXCEEDS its
      target (``target_files``, or ``ceil(rows / target_rows)`` when
      ``target_rows`` is given) — so re-running compaction on a
      compacted store selects zero buckets and is a no-op (idempotent,
      safe to schedule blindly after every N batches);
    * the rewrite reads ONLY selected buckets (partition-pruned
      ``isin`` filter), optionally re-applies the latest-wins merge
      (pass ``key_cols`` + ``order_col``; a correctly-maintained
      store makes this a no-op, but it heals duplicate keys a crashed
      double-write could have left), repartitions so each bucket
      lands in exactly its target file count, and dynamically
      overwrites only those bucket directories;
    * multi-file buckets split on ``pmod(hash(key_cols), k)`` — the
      salt hashes ONLY the key columns (MapType payloads make
      ``hash(*)`` raise, and payload edits must not move rows between
      files gratuitously — round-8 fuzzy-join lesson).

    Content is preserved exactly: the default path rewrites rows
    byte-identically (no dedup, no reorder semantics — parquet row
    order within a store is already meaningless to every reader,
    which goes through ``latest_by_key``-shaped queries).

    Returns a stats dict: ``buckets_total``, ``buckets_compacted``,
    ``files_before``, ``files_after`` (census of the rewritten
    buckets), ``rows`` (rows rewritten).
    """
    parts = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if target_files < 1:
        raise ValueError(f"target_files must be >= 1, got {target_files}")
    store = spark.read.parquet(table_path)
    gcols = parts or ["_all"]
    group = (
        [F.col(c) for c in parts] if parts else [F.lit(0).alias("_all")]
    )
    census = (
        store.select(*group, F.col("_metadata.file_path").alias("_file"))
        .groupBy(*gcols)
        .agg(
            F.countDistinct("_file").cast("long").alias("_files"),
            F.count(F.lit(1)).cast("long").alias("_rows"),
        )
    )
    if target_rows is not None:
        want = F.greatest(F.lit(1), F.ceil(F.col("_rows") / F.lit(target_rows)))
    else:
        want = F.lit(target_files)
    census = census.withColumn("_want", want.cast("long"))
    # bucket ids + targets are tiny (one row per partition directory)
    rows = census.collect()
    chosen = [r for r in rows if r["_files"] > r["_want"]]
    stats = {
        "buckets_total": len(rows),
        "buckets_compacted": len(chosen),
        "files_before": int(sum(r["_files"] for r in chosen)),
        "files_after": 0,
        "rows": 0,
    }
    if not chosen:
        return stats
    touched = store.filter(_partition_selector(parts, chosen)) if parts else store
    if keys and order_col:
        # heal-duplicates mode: latest-wins recompaction (no-op on a
        # correctly-maintained store, exactness under crash replays)
        touched = compact_changelog(None, touched, keys, order_col)
    max_want = max(int(r["_want"]) for r in chosen)
    if max_want > 1:
        if not keys:
            raise ValueError(
                "target file counts > 1 need key_cols for the split salt"
            )
        # per-bucket k via a broadcast map of bucket -> want; rows of
        # one (bucket, salt) land in one task -> exactly k files
        want_map = {tuple(r[c] for c in parts): int(r["_want"]) for r in chosen} if parts else {}
        if parts:
            k_expr = F.lit(1)
            for bkt, k in want_map.items():
                cond = F.lit(True)
                for c, v in zip(parts, bkt):
                    cond = cond & (F.col(c) == F.lit(v))
                k_expr = F.when(cond, F.lit(k)).otherwise(k_expr)
        else:
            k_expr = F.lit(max_want)
        salt = F.pmod(F.hash(*[F.col(k) for k in keys]), k_expr)
        touched = touched.withColumn("_salt", salt)
        out = touched.repartition(
            max(len(chosen) * max_want, 1),
            *( [F.col(c) for c in parts] + [F.col("_salt")] ),
        ).drop("_salt")
    else:
        # every row of a bucket in one task; partitionBy then writes
        # exactly one file per bucket directory
        out = touched.repartition(
            max(len(chosen), 1),
            *(([F.col(c) for c in parts]) or [F.lit(0)]),
        )
    # the plan reads the same directories it overwrites
    out = out.localCheckpoint()
    stats["rows"] = out.count()
    writer = out.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(table_path)
    spark.catalog.refreshByPath(table_path)
    after = (
        spark.read.parquet(table_path)
        .select(*group, F.col("_metadata.file_path").alias("_file"))
    )
    if parts:
        after = after.filter(_partition_selector(parts, chosen))
    stats["files_after"] = after.select("_file").distinct().count()
    return stats


def expire_snapshot(
    spark: SparkSession,
    table_path: str,
    ts_col: str,
    cutoff,
    partition_cols: str | Sequence[str] = (),
) -> dict:
    """TTL / retention sweep for a parquet snapshot store: delete rows
    whose ``ts_col`` is strictly below ``cutoff`` — the batch-store
    analogue of the streaming KTable TTL (streaming/stateful.py; the
    reference expires idle keys from its RocksDB stores the same way)
    and the GDPR-retention maintenance shape.

    Partition-pruned like `compact_store`: one column-pruned census
    (min ts per partition directory, via the distributed
    ``_metadata.file_path``-free group — min/ts only) selects ONLY
    partitions that actually hold expired rows; those are re-read
    (partition-pruned ``isin``), filtered, and dynamically
    overwritten. A partition the sweep empties entirely is deleted
    explicitly (dynamic overwrite only replaces partitions the job
    writes — the `upsert_bucket_partitioned` rule). Untouched
    partitions' files are never opened for rewrite, never rewritten.
    Idempotent: a second sweep with the same cutoff selects nothing.

    Returns stats: ``partitions_total``, ``partitions_touched``,
    ``rows_expired``, ``rows_kept`` (of touched partitions),
    ``partitions_deleted``.
    """
    parts = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    store = spark.read.parquet(table_path)
    # accept a Column so TIMESTAMP_NTZ cutoffs can be passed as typed
    # literals (F.lit(datetime) builds a TZ timestamp — the CLAUDE.md
    # NTZ rule)
    cut = cutoff if isinstance(cutoff, Column) else F.lit(cutoff)
    gcols = parts or ["_all"]
    group = (
        [F.col(c) for c in parts] if parts else [F.lit(0).alias("_all")]
    )
    census = (
        store.select(*group, F.col(ts_col).alias("_ts"))
        .groupBy(*gcols)
        .agg(
            F.sum((F.col("_ts") < cut).cast("long")).alias("_exp"),
            F.count(F.lit(1)).cast("long").alias("_rows"),
        )
        .collect()
    )
    chosen = [r for r in census if int(r["_exp"] or 0) > 0]
    stats = {
        "partitions_total": len(census),
        "partitions_touched": len(chosen),
        "rows_expired": int(sum(r["_exp"] for r in chosen)),
        "rows_kept": int(sum(r["_rows"] - r["_exp"] for r in chosen)),
        "partitions_deleted": 0,
    }
    if not chosen:
        return stats
    touched = store.filter(_partition_selector(parts, chosen)) if parts else store
    # NULL ts must route like CASE-ELSE (kept): the census's sum skips
    # NULL (counted as not-expired), so the rewrite must keep the row
    # too — a bare ~(ts < cut) is NULL for NULL ts and silently drops
    # it, making stats and stored data disagree (the CLAUDE.md
    # "filters must coalesce to false" trap)
    kept = touched.filter(
        ~F.coalesce(F.col(ts_col) < cut, F.lit(False))
    ).localCheckpoint()
    emptied = [
        r for r in chosen if int(r["_rows"]) == int(r["_exp"])
    ]
    writer = kept.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts).option(
            "partitionOverwriteMode", "dynamic"
        )
        writer.parquet(table_path)
        _delete_partitions(
            spark, table_path, [_partition_dir(parts, r) for r in emptied]
        )
        stats["partitions_deleted"] = len(emptied)
    else:
        writer.parquet(table_path)
    spark.catalog.refreshByPath(table_path)
    return stats


def maintain_store(
    spark: SparkSession,
    table_path: str,
    partition_cols: str | Sequence[str] = (),
    ttl: "tuple | None" = None,
    target_files: int = 1,
    target_rows: int | None = None,
    key_cols: str | Sequence[str] = (),
    order_col: str | None = None,
) -> dict:
    """One-call store maintenance — the TTL sweep (`expire_snapshot`)
    and the small-file compaction (`compact_store`) fused into ONE
    census pass and ONE rewrite per touched partition (separately
    they each scan the store and each rewrite partitions both would
    touch; the scheduled maintenance step should pay once).

    * ``ttl``: optional ``(ts_col, cutoff)`` — rows with ts strictly
      below cutoff expire (NULL ts rows are KEPT, the coalesce-to-
      false rule; cutoff may be a Column for TIMESTAMP_NTZ literals);
    * ``target_files`` / ``target_rows``: per-partition file-count
      target, computed on the POST-TTL row count (a partition whose
      survivors fit one file compacts to one file in the same
      rewrite that expired its rows);
    * ``key_cols`` + ``order_col``: optional latest-wins heal (the
      `compact_store` crash-duplicate repair) applied to rewritten
      partitions.

    The single distributed census groups the hidden
    ``_metadata.file_path`` AND the TTL predicate per partition
    directory (one column-pruned scan, never a driver FS walk); a
    partition is rewritten iff it holds expired rows OR exceeds its
    file target, partition-pruned exactly like the parent ops;
    partitions the sweep empties are deleted explicitly. Follows the
    family shape: census → bounded chosen set → partition-pruned
    rewrite → idempotent replay (a second call selects ZERO
    partitions — pinned by the catalog census).

    Returns merged stats: ``partitions_total``, ``rows_expired``,
    ``partitions_expired``, ``partitions_deleted``,
    ``partitions_rewritten``, ``files_before``, ``files_after``,
    ``rows_rewritten``.
    """
    parts = (
        [partition_cols]
        if isinstance(partition_cols, str)
        else list(partition_cols)
    )
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if target_files < 1:
        raise ValueError(f"target_files must be >= 1, got {target_files}")
    if ttl is not None:
        ts_col, cutoff = ttl
        cut = cutoff if isinstance(cutoff, Column) else F.lit(cutoff)
        exp_expr = F.sum(
            (F.col(ts_col) < cut).cast("long")
        )
    else:
        ts_col, cut = None, None
        exp_expr = F.sum(F.lit(0).cast("long"))
    store = spark.read.parquet(table_path)
    gcols = parts or ["_all"]
    group = (
        [F.col(c) for c in parts] if parts else [F.lit(0).alias("_all")]
    )
    census = (
        store.select(
            *group,
            F.col("_metadata.file_path").alias("_file"),
            *([F.col(ts_col)] if ts_col else []),
        )
        .groupBy(*gcols)
        .agg(
            F.countDistinct("_file").cast("long").alias("_files"),
            F.count(F.lit(1)).cast("long").alias("_rows"),
            F.coalesce(exp_expr, F.lit(0)).cast("long").alias("_exp"),
        )
    )
    if target_rows is not None:
        want = F.greatest(
            F.lit(1),
            F.ceil((F.col("_rows") - F.col("_exp")) / F.lit(target_rows)),
        )
    else:
        want = F.lit(target_files)
    census = census.withColumn("_want", want.cast("long"))
    rows = census.collect()  # one row per partition directory (bounded)
    emptied = [r for r in rows if r["_exp"] == r["_rows"]]
    empty_set = {tuple(r[c] for c in parts) for r in emptied} if parts else set()
    chosen = [
        r
        for r in rows
        if (r["_exp"] > 0 or r["_files"] > r["_want"])
        and tuple(r[c] for c in parts) not in empty_set
    ] if parts else [
        r for r in rows if r["_exp"] > 0 or r["_files"] > r["_want"]
    ]
    stats = {
        "partitions_total": len(rows),
        "rows_expired": int(sum(r["_exp"] for r in rows)),
        "partitions_expired": sum(1 for r in rows if r["_exp"] > 0),
        "partitions_deleted": 0,
        "partitions_rewritten": len(chosen),
        "files_before": int(sum(r["_files"] for r in chosen)),
        "files_after": 0,
        "rows_rewritten": 0,
    }
    if parts and emptied:
        _delete_partitions(
            spark, table_path, [_partition_dir(parts, r) for r in emptied]
        )
        stats["partitions_deleted"] = len(emptied)
        spark.catalog.refreshByPath(table_path)
        store = spark.read.parquet(table_path) if chosen else store
    if not chosen:
        return stats
    # (an unpartitioned fully-expired store lands in `chosen` — its
    # rewrite below overwrites the store with the empty survivor set)
    touched = (
        store.filter(_partition_selector(parts, chosen)) if parts else store
    )
    if ts_col is not None:
        touched = touched.filter(
            ~F.coalesce(F.col(ts_col) < cut, F.lit(False))
        )
    if keys and order_col:
        touched = compact_changelog(None, touched, keys, order_col)
    max_want = max(int(r["_want"]) for r in chosen)
    if max_want > 1:
        if not keys:
            raise ValueError(
                "target file counts > 1 need key_cols for the split salt"
            )
        if parts:
            k_expr: Column = F.lit(1)
            for r in chosen:
                cond = F.lit(True)
                for c in parts:
                    cond = cond & (F.col(c) == F.lit(r[c]))
                k_expr = F.when(cond, F.lit(int(r["_want"]))).otherwise(k_expr)
        else:
            k_expr = F.lit(max_want)
        salt = F.pmod(F.hash(*[F.col(k) for k in keys]), k_expr)
        out = (
            touched.withColumn("_salt", salt)
            .repartition(
                max(len(chosen) * max_want, 1),
                *([F.col(c) for c in parts] + [F.col("_salt")]),
            )
            .drop("_salt")
        )
    else:
        out = touched.repartition(
            max(len(chosen), 1),
            *(([F.col(c) for c in parts]) or [F.lit(0)]),
        )
    out = out.localCheckpoint()  # reads the directories it overwrites
    stats["rows_rewritten"] = out.count()
    writer = out.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(table_path)
    spark.catalog.refreshByPath(table_path)
    after = spark.read.parquet(table_path).select(
        *group, F.col("_metadata.file_path").alias("_file")
    )
    if parts:
        after = after.filter(_partition_selector(parts, chosen))
    stats["files_after"] = after.select("_file").distinct().count()
    return stats


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: str | Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data capture between two one-row-per-key snapshots:
    returns the NEW frame's columns (old values for deletes) plus
    ``change`` in {'inserted', 'deleted', 'updated', 'unchanged'} —
    the diff an incremental pipeline publishes when a store is
    rebuilt (snapshot-to-changelog, the inverse of
    `compact_changelog`).

    ``compare_cols`` limits which columns define 'updated' (default:
    every shared non-key column). Comparison is null-safe (``<=>``),
    so NULL → value and value → NULL both count as updates.

    Plan shape: one full-outer join hashed on the key with a
    SHUFFLE_HASH hint — full outer never broadcasts, and without the
    hint Spark plans a sort-merge that sorts BOTH snapshots
    (the round-4 rule); with co-bucketed stores the exchange
    disappears entirely. No windows, no driver collect.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    shared = [
        c for c in new.columns if c in set(old.columns) and c not in keys
    ]
    cmp_cols = list(compare_cols) if compare_cols is not None else shared
    missing = [c for c in cmp_cols if c not in shared]
    if missing:
        raise ValueError(
            f"compare_cols not in both snapshots: {missing}"
        )
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in shared],
        # explicit presence tag: a NULL join-side key column can't
        # distinguish "row absent" from "key is NULL" on its own
        F.lit(1).alias("_o_present"),
    )
    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c) for c in shared],
        F.lit(1).alias("_n_present"),
    )
    cond = None
    for k in keys:
        c = n[k] == o[f"_ok_{k}"]
        cond = c if cond is None else (cond & c)
    j = n.join(o.hint("shuffle_hash"), cond, "full_outer")
    changed = F.lit(False)
    for c in cmp_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    status = (
        F.when(F.col("_o_present").isNull()
               & F.col("_n_present").isNotNull(), F.lit("inserted"))
        .when(F.col("_n_present").isNull(), F.lit("deleted"))
        .when(changed, F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    out_cols = [
        F.coalesce(F.col(k), F.col(f"_ok_{k}")).alias(k) for k in keys
    ] + [
        F.when(F.col("_n_present").isNull(), F.col(f"_o_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in shared
    ]
    return j.select(*out_cols, status.alias("change"))


def write_sorted(
    df: DataFrame,
    path: str,
    cols: str | Sequence[str],
    n_files: int = 32,
) -> DataFrame:
    """Globally-sorted export — the training-shard write path: emit
    ``df`` as ``n_files`` parquet files that together form one total
    order on ``cols``, WITHOUT a single-task global sort.

    Plan shape (the only scale-correct one): ``repartitionByRange``
    samples the sort key and plans a RangeExchange into ``n_files``
    key-disjoint partitions, and ``sortWithinPartitions`` sorts each
    independently — so the sort is n_files parallel local sorts, and
    reading file 0..k-1 yields the first k shards of the global
    order. A plain ``orderBy().write`` at 100 TB would also range-
    exchange, but gives no control over shard count/size and no
    manifest; ``coalesce(1)``-style exports (one task sorts
    everything) are the anti-pattern this replaces.

    Returns the per-file MANIFEST: (file, n_rows, min_/max_ of each
    sort column independently — the parquet-footer-style file-
    skipping stats — plus ``min_key``/``max_key``, the lexicographic
    min/max of the full sort TUPLE). Computed by one column-pruned
    scan of the written files grouped by ``input_file_name()``.
    Disjointness is a TUPLE property: per-column stats of a
    multi-column sort DO overlap across files (a file ending at
    (5, 3) can contain (4, 9), so its independent max is (5, 9)) —
    audit with min_key/max_key, where ordering files by min_key
    gives every file's max_key < the next file's min_key.

    Equal keys land in ONE partition (range partitioning is by key),
    so a single dominant key caps parallelism at one file — pre-salt
    by extending ``cols`` with a tiebreaker column when the export
    key is skewed (the key_skew_census signal)."""
    keys = [cols] if isinstance(cols, str) else list(cols)
    spark = df.sparkSession
    (
        df.repartitionByRange(n_files, *[F.col(k) for k in keys])
        .sortWithinPartitions(*[F.col(k).asc() for k in keys])
        .write.mode("overwrite")
        .parquet(path)
    )
    spark.catalog.refreshByPath(path)
    written = spark.read.parquet(path)
    tup = F.struct(*[F.col(k) for k in keys])
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(tup).alias("min_key"),
        F.max(tup).alias("max_key"),
    ]
    for k in keys:
        aggs.append(F.min(k).alias(f"min_{k}"))
        aggs.append(F.max(k).alias(f"max_{k}"))
    return (
        written.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .orderBy(F.col("min_key").asc())
    )


def zonemap_select(
    manifest: Sequence,
    col: str,
    lo,
    hi,
) -> list[str]:
    """Metadata-only file skipping — the READ side of ``write_sorted``:
    given a collected manifest (one row per file with ``min_<col>`` /
    ``max_<col>`` stats, <= n_files rows, a bounded planning list) and
    a closed predicate range ``[lo, hi]`` on ``col``, return the file
    paths whose zone [min, max] intersects the range. This is exactly
    what a parquet reader does with footer/row-group statistics and
    what table formats do with manifest min/max — expressed over OUR
    manifest so the pruning decision is auditable data, not reader
    internals.

    Sound by construction: a file whose [min_col, max_col] misses
    [lo, hi] cannot contain a matching row, so reading only the
    selected files loses nothing (the zonemap_pruning_census pins
    that equivalence against a full scan). Selectivity is the layout's
    job: after write_sorted on ``col`` the zones are near-disjoint and
    a narrow range touches O(1) of the files; on an unsorted export
    every zone spans the whole domain and nothing prunes — the census
    quantifies the difference.

    Driver-side on purpose: the manifest is <= n_files rows (the same
    bounded-collect class as compact_store's census) and the output
    feeds ``spark.read.parquet(*files)``, a plan-time decision."""
    out = []
    for m in manifest:
        mn, mx = m[f"min_{col}"], m[f"max_{col}"]
        if mn is None or mx is None:
            out.append(m["file"])  # stat-less file: must be read
        elif not (mx < lo or mn > hi):
            out.append(m["file"])
    return out


def zorder_expr(a: str, b: str, bits: int = 10, div: str = "div") -> str:
    """SQL text for the 2-D Morton (Z-order) interleave of two
    already-normalized integer expressions in [0, 2^bits): bit i of
    ``a`` lands at position 2i+1, bit i of ``b`` at 2i. Pure integer
    div/mod arithmetic so ONE generator yields the Spark expression
    (div='div') and the DuckDB oracle twin (div='//') — the engines
    cannot drift.

    Z-ordering is the standard multi-dimensional layout key: sorting
    (or range-partitioning) 100 TB of files by z(a, b) makes a
    conjunctive 2-D range predicate touch O(boundary) files instead
    of every file holding the full b-range of each a value — the
    file-skipping win `zorder_locality_stats` measures exactly."""
    terms = [
        f"(({a} {div} {1 << i}) % 2) * {2 * (1 << (2 * i))}"
        f" + (({b} {div} {1 << i}) % 2) * {1 << (2 * i)}"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_key(df: DataFrame, a: str, b: str, bits: int = 10) -> Column:
    """Spark Column of ``zorder_expr`` over two normalized integer
    columns of ``df`` (see zorder_expr)."""
    return F.expr(zorder_expr(a, b, bits)).cast("long")


def zorder_nd_expr(
    cols: Sequence[str], bits: int = 8, div: str = "div"
) -> str:
    """n-column Morton (Z-order) interleave as SQL text: bit j of
    ``cols[i]`` lands at position j*n + (n-1-i), so ``cols[0]``
    carries the most significant bit of each group — the same bit
    layout as `hilbert_nd_exprs`' final interleave, making the two
    keys directly comparable block-for-block. Pure div/mod
    arithmetic, one generator for both engines (div='div' Spark,
    '//' DuckDB). Inputs normalized longs in [0, 2^bits);
    n*bits < 63. Z is one flat expression (cheaper to compute than
    the Hilbert walk) but jumps at power-of-two seams — use the
    locality censuses to pick per layout."""
    cols = list(cols)
    n = len(cols)
    if n * bits >= 63:
        raise ValueError(
            f"n*bits = {n * bits} overflows the BIGINT key range"
        )
    terms = [
        f"(({cols[i]} {div} {1 << j}) % 2) * {1 << (j * n + (n - 1 - i))}"
        for j in range(bits)
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def hilbert_step_exprs(
    s: int,
    x: str = "_hx",
    y: str = "_hy",
    d: str = "_hd",
    div: str = "div",
) -> dict[str, str]:
    """One per-bit step of the 2-D Hilbert index (the classic xy2d
    quadrant-walk, a public algorithm), as SQL text over the running
    state columns (d, x, y) — ONE generator yields both the Spark
    step (div='div') and the DuckDB oracle twin (div='//'), the
    zorder_expr portability convention.

    The state is kept MASKED to the remaining low bits ([0, s) after
    the step), so every intermediate is non-negative — integer div/%
    on negatives is where engines could diverge and the textbook
    formulation (s-1-x on the unmasked value) goes negative. The
    quadrant digit (3*rx) XOR ry is arithmetic (3rx + ry - 2rx·ry —
    exact for rx, ry in {0,1}); the ry=0 branch reflects (rx=1) and
    transposes, ry=1 passes through, all on the masked remainders.

    Verified a true Hilbert curve (bijective on the grid, every
    consecutive pair of indexes is grid-ADJACENT — the locality
    property Z-order lacks) against a Python reference."""
    rx = f"(({x} {div} {s}) % 2)"
    ry = f"(({y} {div} {s}) % 2)"
    return {
        d: f"{d} + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})",
        x: (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s} - 1 - ({y} % {s}) ELSE {y} % {s} END) "
            f"ELSE {x} % {s} END"
        ),
        y: (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s} - 1 - ({x} % {s}) ELSE {x} % {s} END) "
            f"ELSE {y} % {s} END"
        ),
    }


def with_hilbert(
    df: DataFrame, a: str, b: str, bits: int = 10, out: str = "h"
) -> DataFrame:
    """Add the Hilbert index of two normalized integer columns in
    [0, 2^bits) as ``out``. ``bits`` chained simultaneous projections
    (withColumns reads the PRE-step state, so the x/y/d updates see
    one consistent snapshot); Catalyst collapses them into one
    whole-stage-codegen Project — a narrow, shuffle-free layout key,
    like zorder_key. Hilbert beats Z-order on range locality (every
    curve step is grid-adjacent; Z jumps at power-of-two seams), at
    the price of this stateful per-bit walk instead of one flat
    interleave expression."""
    cur = df.withColumns(
        {
            "_hx": F.col(a).cast("long"),
            "_hy": F.col(b).cast("long"),
            "_hd": F.lit(0).cast("long"),
        }
    )
    for i in range(bits - 1, -1, -1):
        steps = hilbert_step_exprs(1 << i)
        cur = cur.withColumns({c: F.expr(e) for c, e in steps.items()})
    return cur.withColumn(out, F.col("_hd").cast("long")).drop(
        "_hx", "_hy", "_hd"
    )


def _spark_xor(a: str, b: str) -> str:
    return f"({a} ^ {b})"


def duck_xor(a: str, b: str) -> str:
    """DuckDB spells bitwise xor as a function (its ``^`` is
    exponentiation, the classic silent cross-engine trap)."""
    return f"xor({a}, {b})"


def hilbert_nd_exprs(
    n: int,
    bits: int,
    cols: Sequence[str] | None = None,
    div: str = "div",
    xor=None,
) -> tuple[list[dict[str, str]], str]:
    """n-dimensional Hilbert index as SQL text — Skilling's
    axes-to-transpose algorithm ("Programming the Hilbert curve",
    AIP Conf. Proc. 707, 2004 — public), generalizing the 2-D
    quadrant walk to any dimension count. ONE generator emits both
    engines' text (the zorder_expr convention): Spark with
    div='div' / the default ``^`` xor, DuckDB with div='//' /
    ``duck_xor`` — so the engines cannot drift.

    Returns (steps, index_expr): ``steps`` is an ordered list of
    SIMULTANEOUS-update dicts {state_col: expr} over the n working
    columns (each dict must see one consistent pre-step snapshot —
    withColumns / one CTE per dict), and ``index_expr`` interleaves
    the transposed bits into the final index (bit j of X[i] lands at
    j*n + (n-1-i) — X[0] carries the most significant bit of each
    group). Inputs must be normalized longs in [0, 2^bits).

    Arithmetic stays engine-portable: bit tests and low-bit masks are
    div/% on non-negative values (P = Q-1 masks spell ``% Q``); only
    genuine XOR goes through the formatter. Per step i of round Q,
    coordinate i either reflects X[0] (bit set: X0 ^= Q-1) or swaps
    its low bits with X[0] through t = (X0 ^ Xi) & (Q-1); the gray
    code runs SEQUENTIALLY (X[i] ^= X[i-1] reads the updated
    predecessor — one step per i), then the parity correction t
    (xor-fold of Q-1 over the set bits of X[n-1]) applies to every
    coordinate at once. Verified bijective + unit-step-adjacent for
    n=2..4 against a Python transcription of the paper's loop."""
    if xor is None:
        xor = _spark_xor
    X = list(cols) if cols else [f"_g{i}" for i in range(n)]
    assert len(X) == n
    steps: list[dict[str, str]] = []
    q = 1 << (bits - 1)
    while q > 1:
        p = q - 1
        for i in range(n):
            cond = f"(({X[i]} {div} {q}) % 2) = 1"
            if i == 0:
                steps.append(
                    {
                        X[0]: (
                            f"CASE WHEN {cond} THEN {xor(X[0], str(p))} "
                            f"ELSE {X[0]} END"
                        )
                    }
                )
            else:
                t = f"({xor(X[0], X[i])} % {q})"
                steps.append(
                    {
                        X[0]: (
                            f"CASE WHEN {cond} THEN {xor(X[0], str(p))} "
                            f"ELSE {xor(X[0], t)} END"
                        ),
                        X[i]: (
                            f"CASE WHEN {cond} THEN {X[i]} "
                            f"ELSE {xor(X[i], t)} END"
                        ),
                    }
                )
        q >>= 1
    for i in range(1, n):
        steps.append({X[i]: xor(X[i], X[i - 1])})
    t_expr = "0"
    q = 1 << (bits - 1)
    while q > 1:
        t_expr = xor(
            t_expr, f"((({X[n - 1]} {div} {q}) % 2) * {q - 1})"
        )
        q >>= 1
    steps.append({X[i]: xor(X[i], t_expr) for i in range(n)})
    terms = [
        f"(({X[i]} {div} {1 << j}) % 2) * {1 << (j * n + (n - 1 - i))}"
        for j in range(bits)
        for i in range(n)
    ]
    return steps, "(" + " + ".join(terms) + ")"


def with_hilbert_nd(
    df: DataFrame, cols: Sequence[str], bits: int = 8, out: str = "h"
) -> DataFrame:
    """Add the n-D Hilbert index of ``cols`` (normalized longs in
    [0, 2^bits)) as ``out`` — the layout key for 3+-dimensional
    exports (date, tenant, key), where `with_hilbert` stops at 2-D.
    Chained projections, no shuffle; Catalyst collapses the walk
    into whole-stage-codegen Projects like the 2-D variant. Index
    range is [0, 2^(n*bits)) — keep n*bits < 63."""
    cols = list(cols)
    n = len(cols)
    if n < 2:
        raise ValueError("with_hilbert_nd needs >= 2 columns")
    if n * bits >= 63:
        raise ValueError(
            f"n*bits = {n * bits} overflows the BIGINT index range"
        )
    state = [f"_g{i}" for i in range(n)]
    cur = df.withColumns(
        {s: F.col(c).cast("long") for s, c in zip(state, cols)}
    )
    steps, index_expr = hilbert_nd_exprs(n, bits, state)
    for step in steps:
        cur = cur.withColumns({c: F.expr(e) for c, e in step.items()})
    return cur.withColumn(out, F.expr(index_expr).cast("long")).drop(
        *state
    )


def partition_checksums(
    df: DataFrame,
    part_col: str,
    cols: Sequence[str],
) -> DataFrame:
    """Anti-entropy partition digests — the replica-verification /
    corruption-sweep primitive: per partition value, a row count and
    an order-independent content checksum (SUM of the first 32 bits
    of a per-row md5; addition commutes, so any partitioning/engine
    yields the same BIGINT). Two replicas (or a store vs. its
    rebuild) compare with a |parts|-row join — the Cassandra/Dynamo
    merkle-repair idea at table-partition granularity, as auditable
    data.

    The row hash is md5 over the CONCATENATION OF PER-COLUMN MD5s —
    each inner digest is exactly 32 hex chars, so column boundaries
    are fixed-width and a value containing any delimiter can never
    alias across columns (a plain '|' join made ('a|b','c') and
    ('a','b|c') identical — round-11 advice). One column-pruned scan
    + one hash-agg.

    NULL columns hash as the empty string (coalesce), so a NULL→''
    flip in one column is NOT detected — callers needing
    NULL-vs-empty discrimination should pre-tag (e.g. cast through
    ``CASE WHEN x IS NULL THEN chr(0) ELSE x END``). Collision odds:
    forging an equal sum needs coordinated 32-bit collisions; for
    corruption DETECTION (bit rot, a lost row, a stale version) that
    is far beyond accidental.
    """
    joined = F.concat(
        *[F.md5(F.coalesce(F.col(c).cast("string"), F.lit(""))) for c in cols]
    )
    h32 = F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")
    return df.groupBy(part_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(h32).cast("long").alias("checksum"),
    )


def erase_keys(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key_col: str,
    partition_cols: str | Sequence[str],
) -> dict:
    """Key-erasure sweep (the GDPR right-to-be-forgotten pass): remove
    every row whose ``key_col`` appears in ``keys`` from the
    partitioned parquet store, rewriting ONLY partitions that
    actually hold such rows.

    Shape: one semi-join census finds the touched partition values
    (bounded collect — partition dirs, not rows), a partition-pruned
    read anti-joins the keys out (the erasure set broadcasts — a
    deletion request batch is dim-sized), dynamic overwrite replaces
    exactly the touched directories, and directories the erasure
    emptied are deleted explicitly (the upsert_bucket_partitioned
    rule: dynamic overwrite only replaces partitions the job WRITES).
    Idempotent: a second sweep with the same keys touches nothing.

    NOTE: this erases the CURRENT store only. Versioned/changelog
    stores (operators/versioned.py) additionally need the history
    folded past the erasure point (`collapse_versioned` drops
    tombstoned keys from the base) — the census pairs the two.

    Returns ``{"partitions_touched": p, "rows_removed": r,
    "rows_kept": k, "partitions_emptied": e}``.

    Only a MISSING store path reports the all-zero "nothing to
    erase" sweep (a never-written store is legitimately empty); any
    other read failure — wrong schema, corrupt footer, permission —
    RE-RAISES: a compliance sweep must never report success against
    a store it could not actually read (round-11 advice).
    """
    parts = (
        [partition_cols]
        if isinstance(partition_cols, str)
        else list(partition_cols)
    )
    nothing = {
        "partitions_touched": 0,
        "rows_removed": 0,
        "rows_kept": 0,
        "partitions_emptied": 0,
    }
    store = read_or_empty(lambda: spark.read.parquet(table_path), None)
    if store is None:
        return nothing
    kd = keys.select(F.col(keys.columns[0]).alias(key_col)).distinct()
    touched_rows = (
        store.join(F.broadcast(kd), key_col, "left_semi")
        .select(*parts)
        .distinct()
        .collect()
    )
    touched = [tuple(r[c] for c in parts) for r in touched_rows]
    if not touched:
        return nothing
    sel = _partition_selector(parts, touched_rows)
    touched_df = store.filter(sel)
    n_before = touched_df.count()
    kept = touched_df.join(
        F.broadcast(kd), key_col, "left_anti"
    ).localCheckpoint()
    n_kept = kept.count()
    (
        kept.write.mode("overwrite")
        .partitionBy(*parts)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(table_path)
    )
    written = {
        tuple(r[c] for c in parts)
        for r in kept.select(*parts).distinct().collect()
    }
    emptied = [t for t in touched if t not in written]
    _delete_partitions(
        spark,
        table_path,
        [_partition_dir(parts, dict(zip(parts, t))) for t in emptied],
    )
    spark.catalog.refreshByPath(table_path)
    return {
        "partitions_touched": len(touched),
        "rows_removed": int(n_before - n_kept),
        "rows_kept": int(n_kept),
        "partitions_emptied": len(emptied),
    }


def equidepth_bounds(
    df: DataFrame, col: str, n_shards: int
) -> list:
    """Deterministic equi-depth shard bounds: the EXACT type-1
    quantiles at i/n for i = 1..n-1 (operators/ranking.py histogram —
    no corpus sort, no sampling). Spark's own repartitionByRange
    SAMPLES the key, so two runs of the same job can cut different
    file boundaries; exact bounds make the physical layout a pure
    function of the data — reproducible exports, diffable manifests,
    and an oracle can recompute which shard every row lands in.
    Returns the n-1 upper bounds as a sorted list (bounded planning
    data, the zonemap-manifest collect class)."""
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        exact_quantiles,
    )

    n = int(n_shards)
    if n < 2:
        return []
    qs = exact_quantiles(df, col, [(i, n) for i in range(1, n)])
    return [r["value"] for r in qs.orderBy("pct_ppm").collect()]


def shard_expr(col: str, bounds: Sequence) -> Column:
    """Shard id = number of bounds STRICTLY below the value — ties of
    a boundary value all land in one shard, so shards are disjoint by
    VALUE (never split a key across files). A sum of comparisons,
    whole-stage-codegen friendly at any realistic shard count."""
    e = F.lit(0)
    for b in bounds:
        e = e + F.when(F.col(col) > F.lit(b), 1).otherwise(0)
    return e.cast("int")


def write_range_sharded(
    df: DataFrame,
    path: str,
    col: str,
    n_shards: int,
    tiebreak_cols: Sequence[str] = (),
) -> list:
    """Deterministic range-sharded export — `write_sorted`'s
    reproducible sibling: rows land in hive partitions
    ``shard=0..n-1`` cut at EXACT equi-depth bounds (not sampled
    ones), each shard locally sorted on ``col``. Which rows land in
    which shard is a pure function of the data — re-runs are
    CONTENT-equivalent per partition (`partition_checksums`' order-
    independent digests verify replicas). For byte-identical re-runs
    pass ``tiebreak_cols`` extending the local sort to a TOTAL order:
    without them, equal-key rows serialize in exchange-arrival order,
    which can differ run to run.

    Returns the bounds used. One quantile pass + one shuffle on the
    shard id + n local sorts; equal keys never split across shards
    (a single dominant key caps that shard's size — the write_sorted
    skew caveat applies)."""
    bounds = equidepth_bounds(df, col, n_shards)
    out = df.withColumn("shard", shard_expr(col, bounds))
    order = [F.col(col).asc()] + [
        F.col(c).asc() for c in tiebreak_cols
    ]
    (
        out.repartition(int(n_shards), "shard")
        .sortWithinPartitions(*order)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    df.sparkSession.catalog.refreshByPath(path)
    return bounds
