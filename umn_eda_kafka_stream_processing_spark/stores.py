"""The one batch-keyed store, the Hadoop-FS handle, and the concurrency
helper every store pipeline shares.

The reference keeps all of its state in one abstraction — a KTable
materialized as a persistent key-value store
(``builder.table(topic, Materialized.as(persistentKeyValueStore(...)))``,
samples/PurchaseEventTicket.java:44-51). The lake-side stores whose rows
are a pure function of their source batch — CMS and HLL registers,
benchmark gram sets, agg-view partials, the constraint/histogram/category
monitors, the advised pipeline's register and decision logs — are all one
`BatchStore`. What differs between them is only the ``merge`` that folds
batches and the marker name.

On-disk format (shared by every store kind):

* one hive partition per source batch, ``batch_id=N``, written by dynamic
  partition overwrite — a foreachBatch replay recomputes identical rows and
  rewrites its own directory, with no store read and no merge;
* payload columns plus ``event_seq=0`` (keeps the schema interchangeable
  with `compaction.upsert_snapshot`-managed stores);
* an underscore-prefixed marker FILE ``<marker>_N`` (hidden from Spark's
  parquet scans; a ``name=value`` filename would be partition-discovered)
  records a collapse horizon or a retention floor, read with one Hadoop FS
  listing — zero Spark jobs.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

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


def read_or_empty(read: Callable[[], T], empty: T) -> T:
    """``read()``, or ``empty`` when the path it reads was never written.
    Only PATH_NOT_FOUND counts as empty; any other failure — wrong schema,
    corrupt footer, permissions — re-raises: an audit must never report
    "nothing there" for a store it could not actually read."""
    try:
        return read()
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        return empty


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


class BatchStore:
    """A batch-keyed parquet store at ``path``.

    ``merge(payload) -> DataFrame`` folds the payload rows of several
    batches (batch_id/event_seq dropped) into rows whose read semantics
    equal the originals': register SUM for CMS, register-wise MAX for HLL,
    set UNION for gram sets, the final aggregates for an agg view's
    per-batch partials (sum→sum, count→sum, min→min, max→max). `read`
    applies it across the live batches; `collapse` applies it to fold old
    batches into one base batch. Stores without a merge (monitors, logs)
    read their live rows as they are.

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
        overwrites wholesale. Returns False (and runs nothing) for a
        closed batch.

        ``write_coalesce=k`` repartitions to k write tasks (one file for
        register-sized batches) — repartition, NOT coalesce: coalesce(1)
        over a small plan folds all upstream slices into one task that
        stalls ~5-7 s in the scheduler, while a 1-partition shuffle of
        <= ~1024 rows is ~free. Pass None for frames that are already one
        partition (a ``parallelize(rows, 1)`` local frame)."""
        if self.closed(batch_id):
            return False
        clash = {"batch_id", "event_seq"} & set(rows.columns)
        if clash:
            raise ValueError(
                f"rows already carry reserved column(s) {sorted(clash)}"
                " — they are added here (pass the payload columns only)"
            )
        out = rows.select(
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            "*",
            F.lit(0).cast("long").alias("event_seq"),
        )
        if write_coalesce:
            out = out.repartition(int(write_coalesce))
        (
            out.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )
        self.spark.catalog.refreshByPath(self.path)
        return True

    def scan(self) -> DataFrame:
        """The live rows, batch_id (as long — partition inference reads
        small values as int32) and event_seq included. The marker filter
        is on the partition column, so stale directories are pruned."""
        names = self._names()
        mark = self._mark(names)
        df = self.spark.read.parquet(self.path)
        if mark is not None:
            df = df.filter(F.col("batch_id") >= mark)
        df = df.withColumn("batch_id", F.col("batch_id").cast("long"))
        if mark is not None and f"_fold_{mark}" in names:
            # a collapse stopped between its marker and the promotion of
            # its staged fold: the fold IS the base batch
            fold = self._read_fold(mark)
            df = df.filter(F.col("batch_id") > mark).unionByName(
                fold.withColumn("batch_id", F.lit(mark).cast("long"))
            )
        return df

    def read(self) -> DataFrame:
        """The store's current value: ``merge`` over the live payload
        rows — equal to the payload built from all batches at once (the
        mergeable-state contract). Without a merge, the live rows."""
        if self.merge is None:
            return self.scan()
        return self.merge(self.scan().drop("batch_id", "event_seq"))

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

        Idempotent: a second call at the same horizon folds nothing.

        CONTRACT: collapse only batches at/below the stream's replay
        horizon (Structured Streaming replays the LAST batch — pass
        ``current_batch - 1`` or older); the upsert guard makes a violating
        replay a no-op rather than a double count.

        Returns ``{"batches_folded": n, "rows": k}``."""
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
        payload = (
            self.spark.read.parquet(self.path)
            .filter(F.col("batch_id").isin(eligible))
            .drop("batch_id", "event_seq")
        )
        fold_path = f"{self.path}/_fold_{base}"
        (
            self.merge(payload)
            .select("*", F.lit(0).cast("long").alias("event_seq"))
            .repartition(1)
            .write.mode("overwrite")
            .parquet(fold_path)
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
