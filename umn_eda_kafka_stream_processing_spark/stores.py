"""The two store kinds every store pipeline shares — the latest-wins
keyed `SnapshotStore` and the batch-keyed `BatchStore` — plus the
Hadoop-FS handle and the concurrency helper.

The reference keeps all of its state in one abstraction — a KTable
materialized as a persistent key-value store
(``builder.table(topic, Materialized.as(persistentKeyValueStore(...)))``,
samples/PurchaseEventTicket.java:44-51). Its lake-side analogue is the
`SnapshotStore`: one row per key, upserted latest-wins, maintained in
place (TTL, small-file compaction, key erasure). The stores whose rows
are a pure function of their source batch — CMS and HLL registers,
benchmark gram sets, agg-view partials, partition bloom registers, the
constraint/histogram/category monitors, the versioned key-value log, dead
letters, the advised pipeline's register and decision logs and its enriched
output — are all one `BatchStore`. What differs between them is only the
``merge`` that folds batches and the marker name.

Both kinds write through one partition rewrite (`_rewrite_partitions`):
dynamic partition overwrite, then the deletes of partitions the job
emptied, then a refresh of the session's file listing.

BatchStore on-disk format (shared by every batch-keyed kind):

* one hive partition per source batch, ``batch_id=N``, written by dynamic
  partition overwrite — a foreachBatch replay recomputes identical rows and
  rewrites its own directory, with no store read and no merge;
* the payload columns as given (``batch_id`` is the one reserved name);
* an underscore-prefixed marker FILE ``<marker>_N`` (hidden from Spark's
  parquet scans; a ``name=value`` filename would be partition-discovered)
  records a collapse horizon or a retention floor, read with one Hadoop FS
  listing — zero Spark jobs.

Absence is decided by a listing too, never by a failed ``spark.read``:
`BatchStore.scan` is None when no ``batch_id=N`` directory is live and
`SnapshotStore.read` is None when the store root does not exist. A root
that exists but cannot be read (no schema, corrupt footer) raises.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.operators.core import latest_by_key

T = TypeVar("T")

HORIZON = "_collapse_horizon"
CMS_HORIZON = "_cms_collapse_horizon"
FLOOR = "_retention_floor"


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for ``path`` through the JVM Hadoop API, so
    one code path works for file:/, hdfs://, s3a://, gs:// alike. Resolve
    it from the session that owns the data: the session carries the
    cluster's Hadoop conf (credentials, scheme handlers)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p, jvm


def run_concurrently(*thunks: Callable[[], T]) -> list[T]:
    """Run ``thunks`` as concurrent Spark job submitters and return their
    results. Tiny store writes are mostly scheduler latency, so writes to
    DISJOINT paths overlap: the wall pays the max, not the sum.

    Every thunk is joined — and every worker thread with it — before
    anything returns or raises; then the first failure in argument order
    re-raises. A failing thunk therefore never leaves another one's write
    running while the caller's batch retries."""
    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    return [f.result() for f in futures]


def _cols(cols: str | Sequence[str]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def _partition_dir(parts: list[str], row) -> str:
    """Relative directory of one partition — nested for multi-column
    layouts (``c=v/d=w``)."""
    return "/".join(f"{c}={row[c]}" for c in parts)


def _partition_selector(parts: list[str], chosen) -> Column:
    """Partition-pruning predicate for a bounded set of partitions (rows
    or dicts keyed by partition column). Single column: a plain isin.
    Multi column: an OR of per-tuple conjuncts — struct(...).isin(python
    tuples) raises UNSUPPORTED_FEATURE.LITERAL_TYPE, and the chosen set is
    bounded (one term per directory to rewrite), so the predicate stays
    small and PartitionFilters-eligible."""
    if not chosen:
        return F.lit(False)
    if len(parts) == 1:
        return F.col(parts[0]).isin(*[r[parts[0]] for r in chosen])
    sel = F.lit(False)
    for r in chosen:
        conj = F.lit(True)
        for c in parts:
            conj = conj & (F.col(c) == F.lit(r[c]))
        sel = sel | conj
    return sel


def _emptied(parts: list[str], touched: Sequence, frame: DataFrame) -> list[str]:
    """The ``touched`` partition directories (rows or dicts keyed by
    partition column) that the materialized ``frame`` holds no row for:
    a dynamic overwrite of ``frame`` would leave them stale."""
    if not touched:
        return []
    written = {tuple(r) for r in frame.select(*parts).distinct().collect()}
    return [
        _partition_dir(parts, t)
        for t in touched
        if tuple(t[c] for c in parts) not in written
    ]


def _drop_if_empty(spark: SparkSession, path: str) -> None:
    """Remove a store root that holds nothing but a job's ``_SUCCESS``
    (a zero-row partitioned write, or a sweep that emptied every
    partition), so the store reads as ABSENT instead of as a directory
    with no schema to infer. One FS listing, no Spark job."""
    fs, root, _ = hadoop_fs(spark, path)
    if fs.exists(root) and all(
        st.getPath().getName() in ("_SUCCESS", "._SUCCESS.crc")
        for st in fs.listStatus(root)
    ):
        fs.delete(root, True)


def _rewrite_partitions(
    spark: SparkSession,
    path: str,
    frame: DataFrame | None,
    parts: Sequence[str] = (),
    emptied: Sequence[str] = (),
) -> None:
    """The one store rewrite. With ``parts``, a DYNAMIC partition
    overwrite: only the partitions ``frame`` holds rows for are replaced.
    Dynamic overwrite never touches a partition the job writes no row
    into, so the ``emptied`` partition directories (relative paths) are
    deleted explicitly. Without ``parts`` the whole store is replaced.
    ``frame=None`` only deletes. Then the session's cached file listing
    of the path is dropped: the replaced files otherwise stay visible to
    later reads (FILE_NOT_EXIST)."""
    if frame is not None:
        writer = frame.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts).option(
                "partitionOverwriteMode", "dynamic"
            )
        writer.parquet(path)
    fs, _, jvm = hadoop_fs(spark, path)
    for sub in emptied:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}"), True)
    _drop_if_empty(spark, path)
    spark.catalog.refreshByPath(path)


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
    tagged_new = changelog.withColumn("_src", F.lit(1))
    if snapshot is None:
        merged = tagged_new
    else:
        merged = snapshot.withColumn("_src", F.lit(0)).unionByName(tagged_new)
    # order by (order_col, _src): equal sequence numbers prefer the
    # changelog side — matches KTable re-pipe-overwrites semantics
    compacted = latest_by_key(
        merged, _cols(key_cols), F.struct(F.col(order_col), F.col("_src"))
    )
    return compacted.drop("_src")


class BatchStore:
    """A batch-keyed parquet store at ``path``.

    ``merge(rows) -> DataFrame`` folds the live rows of several batches
    (``batch_id`` included) into rows whose read semantics equal the
    originals': register SUM for CMS, register-wise MAX for HLL, bit OR
    for bloom registers, set UNION for gram sets, the final aggregates
    for an agg view's per-batch partials (sum→sum, count→sum, min→min,
    max→max), latest-wins by ``(batch_id, seq)`` for the versioned log.
    Every merge selects its own output columns; a ``batch_id`` it keeps
    is dropped from a fold. `read` applies it across the live batches;
    `collapse` applies it to fold old batches into one base batch. Stores
    without a merge (monitors, logs) read their live rows as they are.

    ``marker`` names the marker file. A horizon marker (`HORIZON`,
    `CMS_HORIZON`) is written by `collapse` and records the base batch
    holding the fold; the `FLOOR` marker is written by `expire` and records
    the smallest retained batch. Either way every reader excludes
    ``batch_id < marker``: those directories are stale leftovers of a
    collapse or expire that crashed between its marker and its deletes.
    Upserts no-op for ``batch_id <= horizon`` (a straggler replay of a
    folded batch would re-add mass the fold holds; a replay of the base
    would overwrite the fold with one batch) and for ``batch_id < floor``
    (a replay must not resurrect an expired partition; the floor batch
    itself is live)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        merge: Callable[[DataFrame], DataFrame] | None = None,
        marker: str = HORIZON,
    ) -> None:
        self.spark, self.path, self.merge, self.marker = spark, path, merge, marker

    def _names(self) -> list[str]:
        """One Hadoop FS listing of the store root (empty if absent)."""
        fs, p, _ = hadoop_fs(self.spark, self.path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def _path(self, name: str):
        fs, _, jvm = hadoop_fs(self.spark, self.path)
        return fs, jvm.org.apache.hadoop.fs.Path(f"{self.path}/{name}")

    @staticmethod
    def _ids(names: list[str]) -> list[int]:
        return sorted(
            int(n.split("=", 1)[1]) for n in names if n.startswith("batch_id=")
        )

    def _mark(self, names: list[str]) -> int | None:
        prefix = f"{self.marker}_"
        marks = [int(n[len(prefix):]) for n in names if n.startswith(prefix)]
        return max(marks) if marks else None

    def batch_ids(self) -> list[int]:
        """Sorted batch ids on disk — metadata only: one listing of the
        ``batch_id=N`` directories, zero Spark jobs (a distinct() over the
        column would plan a scan; Spark's metadata-only query optimization
        is off by default)."""
        return self._ids(self._names())

    def mark(self) -> int | None:
        """The store's horizon or floor (see the class doc), or None if it
        was never collapsed/expired. One FS listing, zero Spark jobs."""
        return self._mark(self._names())

    def closed(self, batch_id: int) -> bool:
        """True when an upsert of ``batch_id`` must no-op (class doc).
        Callers whose payload builder runs eager jobs check this first, so
        a guarded batch schedules no Spark job at all."""
        mark = self.mark()
        if mark is None:
            return False
        if self.marker == FLOOR:
            return int(batch_id) < mark
        return int(batch_id) <= mark

    def upsert(
        self, batch_id: int, rows: DataFrame, write_coalesce: int | None = 1
    ) -> bool:
        """Write ``rows`` (payload columns only) as batch ``batch_id``:
        dynamic overwrite of ``batch_id=N`` — a replay rewrites the same
        directory, a crash mid-write leaves a partial directory the replay
        overwrites wholesale. A replay that produces no rows leaves the
        old directory in place: call `delete_batches` first where that
        matters. Returns False (and runs nothing) for a closed batch.

        ``write_coalesce=k`` repartitions to k write tasks (one file for
        register-sized batches) — repartition, NOT coalesce: coalesce(1)
        over a small plan folds all upstream slices into one task that
        stalls ~5-7 s in the scheduler, while a 1-partition shuffle of
        <= ~1024 rows is ~free. Pass None for frames that are already one
        partition (a ``parallelize(rows, 1)`` local frame)."""
        if self.closed(batch_id):
            return False
        if "batch_id" in rows.columns:
            raise ValueError(
                "rows already carry the reserved column batch_id"
                " — it is added here (pass the payload columns only)"
            )
        out = rows.select(F.lit(int(batch_id)).cast("long").alias("batch_id"), "*")
        if write_coalesce:
            out = out.repartition(int(write_coalesce))
        _rewrite_partitions(self.spark, self.path, out, ["batch_id"])
        return True

    def scan(self) -> DataFrame | None:
        """The live rows, batch_id included (as long — partition
        inference reads small values as int32), or None when no batch is
        live: the store was never written, or retention removed every
        batch. The marker filter is on the partition column, so stale
        directories are pruned."""
        names = self._names()
        mark = self._mark(names)
        # a collapse stopped between its marker and the promotion of its
        # staged fold: the fold IS the base batch
        staged = mark is not None and f"_fold_{mark}" in names
        lo = mark + 1 if staged else mark
        live = [b for b in self._ids(names) if lo is None or b >= lo]
        df = None
        if live:
            df = self.spark.read.parquet(self.path)
            if lo is not None:
                df = df.filter(F.col("batch_id") >= lo)
            df = df.withColumn("batch_id", F.col("batch_id").cast("long"))
        if staged:
            fold = self._read_fold(mark).withColumn(
                "batch_id", F.lit(mark).cast("long")
            )
            df = fold if df is None else df.unionByName(fold)
        return df

    def read(self) -> DataFrame | None:
        """The store's current value: ``merge`` over the live rows —
        equal to the payload built from all batches at once (the
        mergeable-state contract). Without a merge, the live rows. None
        when no batch is live."""
        rows = self.scan()
        if rows is None or self.merge is None:
            return rows
        return self.merge(rows)

    def delete_batches(self, batch_ids: list[int]) -> None:
        """Delete the ``batch_id=N`` directories outright — exact
        directory deletes, no Spark job. `collapse` and `expire` call it
        only after their marker has landed."""
        for b in batch_ids:
            fs, p = self._path(f"batch_id={int(b)}")
            fs.delete(p, True)
        if batch_ids:
            self.spark.catalog.refreshByPath(self.path)

    def _write_mark(self, n: int) -> None:
        fs, p = self._path(f"{self.marker}_{int(n)}")
        fs.create(p, True).close()

    def _read_fold(self, n: int) -> DataFrame:
        # the part files, not the hidden directory: Spark skips (and
        # warns about) an underscore-prefixed path given to it directly
        fs, staged = self._path(f"_fold_{n}")
        return self.spark.read.parquet(*[
            str(st.getPath()) for st in fs.listStatus(staged)
            if st.getPath().getName().endswith(".parquet")
        ])

    def _promote(self, n: int) -> None:
        """Move a staged fold into place as ``batch_id=n``: one directory
        rename, so readers see either the staged fold or the promoted
        one, never neither."""
        fs, staged = self._path(f"_fold_{n}")
        fs.delete(self._path(f"_fold_{n}/_SUCCESS")[1], False)
        fs.delete(self._path(f"batch_id={n}")[1], True)
        fs.rename(staged, self._path(f"batch_id={n}")[1])
        self.spark.catalog.refreshByPath(self.path)

    def collapse(self, upto_batch: int) -> dict:
        """Fold every live batch ``<= upto_batch`` into ONE base batch with
        ``merge`` — the retention step that keeps reads O(rows + window)
        instead of O(rows × batches); `read` returns the same before and
        after.

        ``upto_batch`` is CLAMPED to the largest ingested batch <= it and
        the fold lands in that REAL batch's partition (never a phantom
        batch). Only the folded partitions are read and deleted.

        Crash safety, step by step — `read` is exact after a crash at any
        point, and the next call finishes the job:

        1. the fold is written to a hidden staging directory
           ``_fold_<base>`` (a crash here leaves an orphan every reader
           ignores and the next call deletes);
        2. the ``<marker>_<base>`` marker lands — from now on readers take
           the base batch from the staged fold and exclude everything
           below it;
        3. the staged fold replaces ``batch_id=<base>`` by one rename;
        4. the folded-away directories are deleted (stale ones a crash
           leaves are excluded by readers and swept by the next call).

        Idempotent: a second call at the same horizon folds nothing. The
        fold is written with the merge's own partitioning, which adaptive
        execution coalesces to the data's size: a register-sized fold
        lands as one file, a data-sized one in parallel tasks.

        CONTRACT: collapse only batches at/below the stream's replay
        horizon (Structured Streaming replays the LAST batch — pass
        ``current_batch - 1`` or older); the upsert guard makes a violating
        replay a no-op rather than a double count.

        Returns ``{"batches_folded": n, "rows": k}`` — ``k`` rows in the
        fold."""
        names = self._names()
        prior = self._mark(names)
        staged = [n for n in names if n.startswith("_fold_")]
        for name in staged:
            if name == f"_fold_{prior}":
                self._promote(prior)  # a predecessor stopped after step 2
            else:
                fs, p = self._path(name)  # ... or before it
                fs.delete(p, True)
        ids = self.batch_ids() if staged else self._ids(names)
        if prior is not None:
            # finish a predecessor's deletes: everything below the
            # recorded horizon is already folded into its base
            self.delete_batches([b for b in ids if b < prior])
            ids = [b for b in ids if b >= prior]
        eligible = [b for b in ids if b <= int(upto_batch)]
        if len(eligible) <= 1:
            return {"batches_folded": 0, "rows": 0}
        base = max(eligible)
        rows = self.scan().filter(F.col("batch_id").isin(eligible))
        (
            self.merge(rows)
            .drop("batch_id")
            .write.mode("overwrite")
            .parquet(f"{self.path}/_fold_{base}")
        )
        n_rows = self._read_fold(base).count()
        self._write_mark(base)
        self._promote(base)
        self.delete_batches([b for b in eligible if b != base])
        return {"batches_folded": len(eligible) - 1, "rows": int(n_rows)}

    def expire(self, keep_from_batch: int) -> dict:
        """RETENTION for stores read in bounded batch WINDOWS (the
        monitors): drop every ``batch_id < keep_from_batch`` partition
        outright — folding would corrupt any window crossing the fold.
        Metadata-only end to end (one listing, exact directory deletes,
        zero Spark jobs), crash-safe in the same marker-first order as
        `collapse`. Monotone: the floor only rises, so the same or a
        smaller ``keep_from_batch`` deletes nothing new.

        Returns ``{"batches_expired": n}``."""
        names = self._names()
        floor = self._mark(names)
        keep = max(int(keep_from_batch), floor if floor is not None else 0)
        doomed = [b for b in self._ids(names) if b < keep]
        if not doomed:
            return {"batches_expired": 0}
        if floor is None or keep > floor:
            self._write_mark(keep)
        self.delete_batches(doomed)
        return {"batches_expired": len(doomed)}


class SnapshotStore:
    """A latest-wins keyed parquet store at ``path`` — the KTable
    materialization: one row per ``keys`` value, the row with the largest
    ``order`` winning (ties go to the newer write, the re-pipe-overwrites
    rule). Every upsert is idempotent (a replayed batch re-merges rows
    already in the store to a no-op). An `advance` body is replay-exact
    when its step computes the same rows from the store after its own
    batch's write as before it (the incremental operators' steps do;
    `tests/test_stores.py` crashes each one at its write).

    ``partition_by`` lays the store out in hive partitions. With
    ``n_buckets`` the single partition column is a bucket the store
    computes itself, ``pmod(hash(*bucket_on), n_buckets)`` (``bucket_on``
    defaults to the keys), so readers can prune to the buckets of the keys
    they probe (`read` with ``near``).

    A partition column hashed from a subset of the store's own keys, or
    one that is itself a key, can never move a key between partitions,
    so an upsert (and `advance`) reads and rewrites only the partitions
    its rows land in: one collect of their bucket ids, then a scan
    pruned to those directories. Any other partition column — a
    caller-assigned IVF bucket, the hash of a foreign key — can MOVE a
    key: the upsert then scans the whole store once to find the
    partitions holding its keys' old rows, so the merge sees (and drops)
    the stale copy, and deletes the partitions the merge emptied; it
    still rewrites only the touched partitions. An unpartitioned store
    is read and rewritten whole."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: str | Sequence[str] = (),
        partition_by: str | Sequence[str] = (),
        order: str = "_seq",
        n_buckets: int | None = None,
        bucket_on: str | Sequence[str] | None = None,
    ) -> None:
        self.spark, self.path, self.order = spark, path, order
        self.keys, self.parts = _cols(keys), _cols(partition_by)
        self.n_buckets = n_buckets
        self.bucket_on = self.keys if bucket_on is None else _cols(bucket_on)
        self.moves = bool(self.parts) and not (
            n_buckets and set(self.bucket_on) <= set(self.keys)
            or set(self.parts) <= set(self.keys)
        )

    def _bucket(self) -> Column:
        return F.pmod(
            F.hash(*[F.col(c) for c in self.bucket_on]), F.lit(self.n_buckets)
        )

    def read(self, near: DataFrame | None = None) -> DataFrame | None:
        """The store's rows (bucket and order columns included), or None
        when the store was never written — the absence rule: only a
        missing root is absent (one Hadoop ``exists``, before any Spark
        read); a directory that cannot be read (no schema, corrupt
        footer) raises.

        ``near`` (a frame carrying the ``bucket_on`` columns, or the
        partition column of a store without ``n_buckets``) prunes the
        scan to the partitions holding near's keys: the partition ids
        are collected (a bounded list of ints) into an isin that lands in
        the scan's PartitionFilters."""
        fs, root, _ = hadoop_fs(self.spark, self.path)
        if not fs.exists(root):
            return None
        rows = self.spark.read.parquet(self.path)
        if near is None:
            return rows
        part = self._bucket() if self.n_buckets else F.col(self.parts[0])
        ids = [r[0] for r in near.select(part).distinct().collect()]
        return rows.where(F.col(self.parts[0]).isin(ids))

    def _stamp(self, rows: DataFrame, seq: int | Column | None) -> DataFrame:
        """``rows`` with the store's bucket column and, with ``seq``, its
        order column (an int becomes a long literal; a Column is used as
        is)."""
        if seq is not None and not isinstance(seq, Column):
            seq = F.lit(int(seq)).cast("long")
        extra = {} if seq is None else {self.order: seq}
        if self.n_buckets:
            extra[self.parts[0]] = self._bucket()
        return rows.withColumns(extra)

    def upsert(self, rows: DataFrame, seq: int | Column | None = None) -> DataFrame:
        """Merge ``rows`` into the store latest-wins by key and rewrite
        the touched partitions (the whole store when unpartitioned).
        The store adds its bucket column, and with ``seq`` its order
        column; without ``seq`` the rows carry the order column
        themselves.

        Returns the merged frame it wrote — checkpointed when a merge
        with stored rows happened, and covering only the touched
        partitions of a partitioned store — so a caller that needs the
        post-upsert snapshot can reuse it instead of re-listing the
        store."""
        rows = self._stamp(rows, seq)
        if not self.moves:
            # a key never leaves its partition: the rows' own partitions
            # hold every old row they replace
            return self._write(self.read(near=rows if self.parts else None), rows)
        old, touched = self.read(), []
        if old is not None:
            # the partitions receiving rows AND those holding an updated
            # key's old row — collected BEFORE the overwrite (any plan
            # still referencing `old` after it would re-list deleted
            # files)
            touched = [
                r.asDict()
                for r in rows.select(*self.parts)
                .unionByName(
                    old.join(
                        F.broadcast(rows.select(*self.keys).distinct()),
                        self.keys,
                        "left_semi",
                    ).select(*self.parts)
                )
                .distinct()
                .collect()
            ]
            old = old.filter(_partition_selector(self.parts, touched))
        return self._write(old, rows, touched=touched)

    def advance(
        self,
        step: Callable[[DataFrame | None], DataFrame | tuple[DataFrame, DataFrame]],
        seq: int | Column,
        near: DataFrame | None = None,
        write_coalesce: int | None = None,
    ) -> DataFrame:
        """One incremental step — read, merge, write back — the way a
        KTable update reads and replaces the rows of the keys it touches.

        The store is scanned ONCE: the read, pruned to ``near``'s
        partitions (the whole store when ``near`` is None), is
        checkpointed, and ``step`` gets those rows (None when the store
        was never written). Nothing downstream reads the path the write
        replaces. ``step`` is pure: it returns the rows to upsert, or a
        ``(rows, output)`` pair when the caller's output is another
        frame. The output (the rows when no pair) is materialized once
        and returned. The rows are merged latest-wins with the rows
        already read, stamped with ``seq`` and written back as `upsert`
        writes them — ``near`` must therefore cover the keys of every
        row ``step`` returns, and every partition read is rewritten.

        ``write_coalesce=k`` clusters the write into k tasks by the
        partition columns: one file per touched partition directory
        instead of (shuffle partitions x directories) near-empty files.
        Never set it for a data-sized unpartitioned store: it serializes
        the write.

        Only for stores whose keys never move between partitions."""
        if self.moves:
            raise ValueError("advance needs keys that never change partition")
        prior = self.read(near=near)
        if prior is not None:
            prior = materialize(prior, Why.OVERWRITE)
        result = step(prior)
        rows, out = result if isinstance(result, tuple) else (result, result)
        done = materialize(out, Why.SHARED)
        rows = self._stamp(done if rows is out else rows, seq)
        self._write(prior, rows, write_coalesce, reads_store=False)
        return done

    def _write(
        self,
        old: DataFrame | None,
        rows: DataFrame,
        write_coalesce: int | None = None,
        touched: Sequence[dict] = (),
        reads_store: bool = True,
    ) -> DataFrame:
        """Merge stamped ``rows`` over ``old`` (every stored row of the
        partitions the write replaces) and rewrite those partitions. A
        ``touched`` partition the merge leaves empty is deleted.
        ``reads_store=False``: ``old`` is already materialized, so the
        merge needs no checkpoint before the overwrite."""
        parts, emptied = self.parts, []
        merged = compact_changelog(old, rows, self.keys, self.order)
        if old is not None and reads_store:
            merged = materialize(merged, Why.OVERWRITE)
            # a touched partition whose last row moved away gets no
            # output row, so the overwrite would leave it stale
            emptied = _emptied(parts, touched, merged)
        if write_coalesce:
            merged = merged.repartition(
                int(write_coalesce), *[F.col(c) for c in parts]
            )
        _rewrite_partitions(self.spark, self.path, merged, parts, emptied)
        return merged

    def _files(self, dirs: list[str]) -> int:
        """Data files under the given partition directories (the store
        root for ""): one FS listing each, zero Spark jobs."""
        fs, _, jvm = hadoop_fs(self.spark, self.path)
        n = 0
        for d in dirs:
            p = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{d}".rstrip("/"))
            if fs.exists(p):
                n += sum(
                    not st.getPath().getName().startswith(("_", "."))
                    for st in fs.listStatus(p)
                )
        return n

    def maintain(
        self,
        ttl: "tuple | None" = None,
        target_files: int | None = 1,
        target_rows: int | None = None,
    ) -> dict:
        """Store maintenance in ONE census pass and ONE rewrite per
        touched partition — the TTL sweep and the small-file compaction
        (reference analogue: RocksDB's background compaction and TTL
        under every KTable store, samples/PurchaseEventTicket.java:44-51).

        * ``ttl``: optional ``(ts_col, cutoff)`` — rows with ts strictly
          below cutoff expire. NULL ts rows are KEPT (the census counts
          them as not expired, so the rewrite must route them like
          CASE-ELSE: a bare ``~(ts < cut)`` is NULL and would drop them).
          The cutoff may be a Column, so TIMESTAMP_NTZ cutoffs pass as
          typed literals (``F.lit(datetime)`` builds a TZ timestamp).
        * ``target_files`` / ``target_rows``: per-partition file-count
          target (``ceil(surviving rows / target_rows)`` when
          ``target_rows`` is given), computed on the post-TTL rows, so a
          partition whose survivors fit one file compacts in the same
          rewrite that expired its rows. ``target_files=None`` is a pure
          TTL sweep: nothing is rewritten for its file count. Targets
          above 1 split a partition on ``pmod(hash(keys), k)`` — the
          store's keys only, so payload edits never move rows between
          files.
        * a store with keys whose rows carry its order column re-applies
          latest-wins to the partitions it rewrites (a no-op on a
          correctly maintained store; it heals the duplicate keys a
          crashed double write could leave). An insert-only store
          without an order column is rewritten row for row.

        The census is one column-pruned, distributed group-by per
        partition directory (rows, expired rows); file counts come from
        the scan's own file listing. A partition is rewritten iff it
        holds expired rows OR exceeds its file target; a partition whose
        rows all expire is deleted instead; nothing else is read or
        rewritten. Idempotent: a second call selects ZERO partitions.

        Returns ``partitions_total``, ``rows_expired``,
        ``partitions_expired``, ``partitions_deleted``,
        ``partitions_rewritten``, ``files_before``, ``files_after`` (the
        rewritten partitions' data files) and ``rows_rewritten`` (the
        census's surviving rows of the rewritten partitions)."""
        if target_files is not None and target_files < 1:
            raise ValueError(f"target_files must be >= 1, got {target_files}")
        parts = self.parts
        stats = dict.fromkeys(
            ("partitions_total", "rows_expired", "partitions_expired",
             "partitions_deleted", "partitions_rewritten", "files_before",
             "files_after", "rows_rewritten"),
            0,
        )
        store = self.read()
        if store is None:
            return stats
        group = [F.col(c) for c in parts] or [F.lit(0).alias("_all")]
        aggs = [F.count(F.lit(1)).cast("long").alias("_rows")]
        if ttl is not None:
            ts_col, cutoff = ttl
            cut = cutoff if isinstance(cutoff, Column) else F.lit(cutoff)
            aggs.append(F.sum((F.col(ts_col) < cut).cast("long")).alias("_exp"))
        # one row per partition directory (bounded)
        census = [
            r.asDict()
            for r in store.select(*group, *([F.col(ts_col)] if ttl else []))
            .groupBy(*(parts or ["_all"]))
            .agg(*aggs)
            .collect()
        ]
        files: dict[str, int] = {}
        for f in store.inputFiles():
            d = "/".join(f.split("/")[-1 - len(parts):-1])
            files[d] = files.get(d, 0) + 1
        for r in census:
            r["_exp"] = int(r.get("_exp") or 0)
            r["_dir"] = _partition_dir(parts, r)
            r["_files"] = files.get(r["_dir"], 0)
            r["_gone"] = bool(parts) and r["_exp"] == r["_rows"]
            r["_want"] = target_files
            if target_rows and target_files is not None:
                r["_want"] = max(1, -(-(r["_rows"] - r["_exp"]) // target_rows))
        emptied = [r["_dir"] for r in census if r["_gone"]]
        chosen = [
            r for r in census
            if not r["_gone"]
            and (r["_exp"] > 0
                 or (r["_want"] is not None and r["_files"] > r["_want"]))
        ]
        stats.update(
            partitions_total=len(census),
            rows_expired=sum(r["_exp"] for r in census),
            partitions_expired=sum(r["_exp"] > 0 for r in census),
            partitions_deleted=len(emptied),
            partitions_rewritten=len(chosen),
            files_before=sum(r["_files"] for r in chosen),
            rows_rewritten=sum(r["_rows"] - r["_exp"] for r in chosen),
        )
        if not chosen:
            if emptied:
                _rewrite_partitions(self.spark, self.path, None, parts, emptied)
            return stats
        # (an unpartitioned, fully expired store is chosen: its rewrite
        # overwrites the store with the empty survivor set)
        out = store.filter(_partition_selector(parts, chosen)) if parts else store
        if ttl is not None:
            out = out.filter(~F.coalesce(F.col(ts_col) < cut, F.lit(False)))
        if self.keys and self.order in store.columns:
            out = compact_changelog(None, out, self.keys, self.order)
        if target_files is not None:
            out = self._pack(out, chosen)
        _rewrite_partitions(
            self.spark, self.path, materialize(out, Why.OVERWRITE), parts, emptied
        )
        stats["files_after"] = self._files([r["_dir"] for r in chosen])
        return stats

    def _pack(self, out: DataFrame, chosen: list[dict]) -> DataFrame:
        """Repartition so each chosen partition lands in exactly its
        target file count: rows of one (partition, salt) share a task."""
        by = [F.col(c) for c in self.parts]
        max_want = max(r["_want"] for r in chosen)
        if max_want == 1:
            return out.repartition(len(chosen), *(by or [F.lit(0)]))
        if not self.keys:
            raise ValueError(
                "target file counts > 1 need the store's keys for the split salt"
            )
        k_expr = F.lit(max_want)
        if self.parts:
            k_expr = F.lit(1)
            for r in chosen:
                k_expr = F.when(
                    _partition_selector(self.parts, [r]), F.lit(r["_want"])
                ).otherwise(k_expr)
        salt = F.pmod(F.hash(*[F.col(k) for k in self.keys]), k_expr)
        return (
            out.withColumn("_salt", salt)
            .repartition(len(chosen) * max_want, *by, F.col("_salt"))
            .drop("_salt")
        )

    def erase(self, keys: DataFrame, key_col: str) -> dict:
        """Remove every row whose ``key_col`` appears in (the first
        column of) ``keys``, rewriting ONLY partitions that hold such
        rows — see `compaction.erase_keys`."""
        parts = self.parts
        stats = dict.fromkeys(
            ("partitions_touched", "rows_removed", "rows_kept",
             "partitions_emptied"),
            0,
        )
        store = self.read()
        if store is None:
            return stats
        kd = keys.select(F.col(keys.columns[0]).alias(key_col)).distinct()
        touched = (
            store.join(F.broadcast(kd), key_col, "left_semi")
            .select(*parts)
            .distinct()
            .collect()
        )
        if not touched:
            return stats
        touched_df = store.filter(_partition_selector(parts, touched))
        n_before = touched_df.count()
        kept = materialize(
            touched_df.join(
                F.broadcast(kd), key_col, "left_anti"
            ),
            Why.OVERWRITE,
        )
        n_kept = kept.count()
        emptied = _emptied(parts, touched, kept)
        _rewrite_partitions(self.spark, self.path, kept, parts, emptied)
        return {
            "partitions_touched": len(touched),
            "rows_removed": int(n_before - n_kept),
            "rows_kept": int(n_kept),
            "partitions_emptied": len(emptied),
        }
