"""Changelog→snapshot compaction: the batch KTable materializer
(operators/compaction.py). Pins upsert semantics, tie-breaking, and
that dynamic partition overwrite leaves untouched partitions' files
alone."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.operators.compaction import (
    snapshot_diff,
)
from umn_eda_kafka_stream_processing_spark.stores import (
    BatchStore,
    SnapshotStore,
    compact_changelog,
)


def _rows(spark, data):
    return spark.createDataFrame(
        data, "id string, shard string, v string, event_seq long"
    )


def test_compact_changelog_upsert_and_tie_break(spark):
    snap = _rows(spark, [("a", "s1", "old", 1), ("b", "s1", "keep", 2)])
    log = _rows(spark, [("a", "s1", "new", 5), ("a", "s1", "mid", 3),
                        ("c", "s2", "ins", 1)])
    out = {r["id"]: r for r in compact_changelog(snap, log, "id").collect()}
    assert out["a"]["v"] == "new" and out["b"]["v"] == "keep"
    assert out["c"]["v"] == "ins"
    # equal seq: changelog side wins (re-pipe overwrites)
    tie = compact_changelog(
        _rows(spark, [("a", "s1", "old", 7)]),
        _rows(spark, [("a", "s1", "re-piped", 7)]),
        "id",
    ).collect()
    assert tie[0]["v"] == "re-piped"


def test_compact_changelog_bootstrap_without_snapshot(spark):
    log = _rows(spark, [("a", "s1", "v1", 1), ("a", "s1", "v2", 2)])
    out = compact_changelog(None, log, "id").collect()
    assert len(out) == 1 and out[0]["v"] == "v2"


def test_upsert_snapshot_round_trip(spark, tmp_path):
    path = str(tmp_path / "snap")
    store = SnapshotStore(spark, path, "id", order="event_seq")
    store.upsert(_rows(spark, [("a", "s1", "v1", 1), ("b", "s2", "v1", 1)]))
    store.upsert(_rows(spark, [("a", "s1", "v2", 2)]))
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": "v2", "b": "v1"}


def test_upsert_snapshot_dynamic_overwrite_leaves_other_partitions(spark, tmp_path):
    path = str(tmp_path / "snap")
    store = SnapshotStore(spark, path, "id", "shard", order="event_seq")
    store.upsert(_rows(spark, [("a", "s1", "v1", 1), ("b", "s2", "v1", 1)]))
    s2_files = {
        f: os.path.getmtime(os.path.join(path, "shard=s2", f))
        for f in os.listdir(os.path.join(path, "shard=s2"))
        if f.endswith(".parquet")
    }
    store.upsert(_rows(spark, [("a", "s1", "v2", 2)]))
    # values: s1 upserted, s2 untouched
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": "v2", "b": "v1"}
    # files: the s2 directory was not rewritten (same files, same mtimes)
    s2_after = {
        f: os.path.getmtime(os.path.join(path, "shard=s2", f))
        for f in os.listdir(os.path.join(path, "shard=s2"))
        if f.endswith(".parquet")
    }
    assert s2_after == s2_files


def _bucket_files(path, bucket):
    d = os.path.join(path, f"shard={bucket}")
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def _sorted_rows(spark, path):
    return sorted(
        (r["id"], r["shard"], r["v"], r["event_seq"])
        for r in spark.read.parquet(path).collect()
    )


def test_compact_store_reduces_files_preserves_rows_idempotent(spark, tmp_path):
    """The small-file maintenance op: many appended files per bucket
    bin-pack to the target count, content is row-identical, and a
    replayed compaction selects zero buckets (no-op)."""
    path = str(tmp_path / "store")
    # 3 appends x repartition(4) = up to 12 files per bucket
    for seq in range(3):
        _rows(spark, [
            (f"k{seq}a", "s1", f"v{seq}", seq),
            (f"k{seq}b", "s1", f"w{seq}", seq),
            (f"k{seq}c", "s2", f"x{seq}", seq),
        ]).repartition(4).write.mode("append").partitionBy("shard").parquet(path)
    before = _sorted_rows(spark, path)
    assert len(_bucket_files(path, "s1")) > 1

    store = SnapshotStore(spark, path, partition_by="shard")
    stats = store.maintain()
    assert stats["partitions_rewritten"] == 2
    assert stats["files_after"] == 2  # one file per bucket
    assert _sorted_rows(spark, path) == before
    assert len(_bucket_files(path, "s1")) == 1
    assert len(_bucket_files(path, "s2")) == 1

    # replay: already at target -> zero buckets touched, files untouched
    mtimes = {
        b: [os.path.getmtime(os.path.join(path, f"shard={b}", f))
            for f in _bucket_files(path, b)]
        for b in ("s1", "s2")
    }
    stats2 = store.maintain()
    assert stats2["partitions_rewritten"] == 0
    assert stats2["rows_rewritten"] == 0
    assert mtimes == {
        b: [os.path.getmtime(os.path.join(path, f"shard={b}", f))
            for f in _bucket_files(path, b)]
        for b in ("s1", "s2")
    }
    assert _sorted_rows(spark, path) == before


def test_compact_store_target_rows_splits_buckets(spark, tmp_path):
    """target_rows sizes each bucket's file count as ceil(rows/target):
    a 6-row bucket at target_rows=2 lands in 3 files (key-salted)."""
    path = str(tmp_path / "store")
    for seq in range(6):
        _rows(spark, [(f"k{seq}", "s1", f"v{seq}", seq)]).write.mode(
            "append"
        ).partitionBy("shard").parquet(path)
    before = _sorted_rows(spark, path)
    stats = SnapshotStore(spark, path, "id", "shard").maintain(target_rows=2)
    assert stats["partitions_rewritten"] == 1
    assert _sorted_rows(spark, path) == before
    assert 1 < len(_bucket_files(path, "s1")) <= 3


def test_compact_store_multi_column_partitions(spark, tmp_path):
    """Two-level partition dirs: the pruning predicate must be an OR
    of per-tuple conjuncts — struct(...).isin(python tuples) raises
    UNSUPPORTED_FEATURE.LITERAL_TYPE (regression: the first
    implementation did exactly that)."""
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(f"k{i}", f"s{i % 2}", "v", i % 3) for i in range(60)],
        "id string, shard string, v string, event_seq long",
    )
    for _ in range(2):
        df.coalesce(1).write.mode("append").partitionBy(
            "shard", "event_seq"
        ).parquet(path)
    before = _sorted_rows(spark, path)
    store = SnapshotStore(spark, path, partition_by=["shard", "event_seq"])
    stats = store.maintain()
    assert stats["partitions_rewritten"] == 6 and stats["files_after"] == 6
    assert _sorted_rows(spark, path) == before
    assert store.maintain()["partitions_rewritten"] == 0


def test_compact_store_heals_duplicate_keys(spark, tmp_path):
    """A keyed store whose rows carry its order column re-applies
    latest-wins on rewrite — a crashed double-write's duplicate key
    collapses to the winner."""
    path = str(tmp_path / "store")
    _rows(spark, [("a", "s1", "old", 1), ("b", "s1", "keep", 1)]).write.mode(
        "append"
    ).partitionBy("shard").parquet(path)
    _rows(spark, [("a", "s1", "new", 5)]).write.mode(
        "append"
    ).partitionBy("shard").parquet(path)
    SnapshotStore(spark, path, "id", "shard", order="event_seq").maintain()
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": "new", "b": "keep"}


def test_compact_store_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "store")
    for seq in range(4):
        _rows(spark, [(f"k{seq}", "s1", "v", seq)]).write.mode(
            "append"
        ).parquet(path)
    before = _sorted_rows(spark, path)
    store = SnapshotStore(spark, path)
    stats = store.maintain()
    assert stats["partitions_rewritten"] == 1 and stats["files_after"] == 1
    assert _sorted_rows(spark, path) == before
    assert store.maintain()["partitions_rewritten"] == 0


def test_expire_snapshot_ttl_sweep(spark, tmp_path):
    """Retention sweep: expired rows vanish, NULL-ts rows are KEPT
    (the census counts them as not-expired, so the rewrite must route
    them like CASE-ELSE — the coalesce-to-false rule), untouched
    partitions' files keep their mtimes, an emptied partition's
    directory is deleted, and a replayed sweep is a no-op."""
    path = str(tmp_path / "store")
    _rows(spark, [
        ("a", "s1", "old", 10), ("b", "s1", "new", 90),
        ("h", "s1", "null-ts", None),                  # kept: NULL ts
        ("c", "s2", "new", 80), ("d", "s2", "new", 95),
        ("e", "s3", "old", 5), ("f", "s3", "old", 7),  # fully expires
        ("g", "s4", "new", 99),                        # untouched
    ]).write.mode("append").partitionBy("shard").parquet(path)
    s4 = {
        f: os.path.getmtime(os.path.join(path, "shard=s4", f))
        for f in os.listdir(os.path.join(path, "shard=s4"))
    }
    store = SnapshotStore(spark, path, partition_by="shard")
    stats = store.maintain(ttl=("event_seq", 50), target_files=None)
    assert {k: stats[k] for k in (
        "partitions_total", "partitions_expired", "rows_expired",
        "rows_rewritten", "partitions_deleted", "partitions_rewritten",
    )} == {
        "partitions_total": 4, "partitions_expired": 2,
        "rows_expired": 3, "rows_rewritten": 2, "partitions_deleted": 1,
        "partitions_rewritten": 1,
    }
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    assert got == {"b", "c", "d", "g", "h"}
    assert not os.path.isdir(os.path.join(path, "shard=s3"))
    assert s4 == {
        f: os.path.getmtime(os.path.join(path, "shard=s4", f))
        for f in os.listdir(os.path.join(path, "shard=s4"))
    }
    replay = store.maintain(ttl=("event_seq", 50), target_files=None)
    assert replay["partitions_expired"] == 0 and replay["rows_expired"] == 0
    assert {r["id"] for r in spark.read.parquet(path).collect()} == got
    # NULL-ts row survived in a TOUCHED partition (s1 was rewritten)
    assert "h" in got


def test_expire_snapshot_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "store")
    _rows(spark, [("a", "s1", "x", 1), ("b", "s1", "y", 9)]).write.parquet(path)
    stats = SnapshotStore(spark, path).maintain(
        ttl=("event_seq", 5), target_files=None
    )
    assert stats["rows_expired"] == 1 and stats["rows_rewritten"] == 1
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {"b"}


def test_maintain_store_one_pass_ttl_and_compaction(spark, tmp_path):
    """Fused maintenance: ONE census chooses partitions needing TTL
    expiry OR compaction; each is rewritten once (a partition whose
    rows expire also lands compacted in the same rewrite); a fully
    expired partition's directory is deleted; an untouched partition
    keeps its files byte-for-byte (mtimes); a replayed call selects
    zero partitions."""
    path = str(tmp_path / "store")
    # s1/s2 fragmented (2 appends); s3 fully expires; s4 untouched
    _rows(spark, [
        ("a", "s1", "old", 10), ("c", "s2", "new", 80),
        ("e", "s3", "old", 5),  ("g", "s4", "new", 99),
    ]).coalesce(1).write.mode("append").partitionBy("shard").parquet(path)
    _rows(spark, [
        ("b", "s1", "new", 90), ("d", "s2", "new", 95),
    ]).coalesce(1).write.mode("append").partitionBy("shard").parquet(path)
    s4 = {
        f: os.path.getmtime(os.path.join(path, "shard=s4", f))
        for f in os.listdir(os.path.join(path, "shard=s4"))
    }
    store = SnapshotStore(spark, path, partition_by="shard")
    stats = store.maintain(ttl=("event_seq", 50))
    assert stats == {
        "partitions_total": 4, "rows_expired": 2,
        "partitions_expired": 2, "partitions_deleted": 1,
        "partitions_rewritten": 2, "files_before": 4,
        "files_after": 2, "rows_rewritten": 3,
    }
    got = {r["id"] for r in spark.read.parquet(path).collect()}
    assert got == {"b", "c", "d", "g"}
    assert not os.path.isdir(os.path.join(path, "shard=s3"))
    assert s4 == {
        f: os.path.getmtime(os.path.join(path, "shard=s4", f))
        for f in os.listdir(os.path.join(path, "shard=s4"))
    }
    # one file per rewritten partition (expiry + compaction fused)
    for shard in ("s1", "s2"):
        files = [
            f for f in os.listdir(os.path.join(path, f"shard={shard}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, shard
    replay = store.maintain(ttl=("event_seq", 50))
    assert replay["partitions_rewritten"] == 0
    assert replay["rows_expired"] == 0 and replay["partitions_deleted"] == 0
    assert {r["id"] for r in spark.read.parquet(path).collect()} == got


def test_maintain_store_preserves_streaming_exactness(spark, tmp_path):
    """The scheduled-maintenance shape: N upsert batches -> maintain
    -> N more batches -> maintain; the store still equals the
    latest-by-key of every update ever applied, and fragmentation is
    healed (one file per bucket after each maintenance)."""
    path = str(tmp_path / "store")
    store = SnapshotStore(spark, path, "id", "shard", order="event_seq")
    expect: dict = {}

    def batch(bid, updates):
        rows = [
            (f"k{n}", f"s{n % 3}", f"v{bid}-k{n}", bid) for n in updates
        ]
        for k, _, v, seq in rows:
            cur = expect.get(k)
            if cur is None or seq >= cur[1]:
                expect[k] = (v, seq)
        store.upsert(_rows(spark, rows))

    for bid, ups in enumerate([[1, 2], [2, 3], [4]]):
        batch(bid, ups)
    m1 = store.maintain()
    for bid, ups in enumerate([[1, 5], [3, 4]], start=3):
        batch(bid, ups)
    m2 = store.maintain()
    got = {
        r["id"]: (r["v"], r["event_seq"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == expect
    assert m2["partitions_rewritten"] >= 0  # census ran
    # post-maintenance: every shard is exactly one file
    for d in os.listdir(path):
        if d.startswith("shard="):
            files = [
                f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, d
    # and a third maintenance is a no-op
    m3 = store.maintain()
    assert m3["partitions_rewritten"] == 0
    assert {
        r["id"]: (r["v"], r["event_seq"])
        for r in spark.read.parquet(path).collect()
    } == expect


def test_incremental_agg_view_replay_and_collapse(spark, tmp_path):
    """Continuously-maintained GROUP BY: per-batch partials keyed
    (batch_id, group) in a BatchStore; read re-aggregates across
    batches and equals the from-scratch GROUP BY after every batch; a
    replayed batch is byte-identical; collapsing old batches folds
    them into one baseline row per group without changing the view,
    is idempotent, and new batches keep composing on top."""
    path = str(tmp_path / "view")
    partials = [
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("v").cast("long").alias("s"),
        F.min("v").cast("long").alias("mn"),
        F.max("v").cast("long").alias("mx"),
    ]
    finals = [
        F.sum("c").cast("long").alias("c"),
        F.sum("s").cast("long").alias("s"),
        F.min("mn").cast("long").alias("mn"),
        F.max("mx").cast("long").alias("mx"),
    ]
    store = BatchStore(spark, path, lambda df: df.groupBy("k").agg(*finals))
    batches = [
        [("a", 3), ("a", 5), ("b", 1)],
        [("a", 2), ("c", 9)],
        [("b", 7), ("c", 4), ("c", 6)],
    ]
    seen: list = []

    def expect():
        agg: dict = {}
        for k, v in seen:
            c, s, mn, mx = agg.get(k, (0, 0, None, None))
            agg[k] = (
                c + 1, s + v,
                v if mn is None else min(mn, v),
                v if mx is None else max(mx, v),
            )
        return agg

    def view():
        return {
            r["k"]: (r["c"], r["s"], r["mn"], r["mx"])
            for r in store.read().collect()
        }

    def partial(rows):
        return spark.createDataFrame(rows, "k string, v long").groupBy(
            "k"
        ).agg(*partials)

    for bid, rows in enumerate(batches):
        seen.extend(rows)
        store.upsert(bid, partial(rows))
        assert view() == expect(), f"after batch {bid}"
    # replay batch 1: store byte-identical
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    store.upsert(1, partial(batches[1]))
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    # collapse batches <= 1 into the real base batch 1: view
    # unchanged, folded partition gone, idempotent
    st = store.collapse(1)
    assert st == {"batches_folded": 1, "rows": 3}  # 0 folded into 1
    assert view() == expect()
    assert store.batch_ids() == [1, 2]
    st2 = store.collapse(1)
    assert st2 == {"batches_folded": 0, "rows": 0}
    # a straggler replay at/below the horizon NO-OPS (the marker
    # guard): re-adding batch 1's mass would double count now that
    # the baseline at batch 1 carries batch 0 too
    assert not store.upsert(1, partial(batches[1]))
    assert view() == expect()
    # new batches compose on top of the baseline; a later collapse
    # folds the baseline together with them
    seen.extend([("a", 100), ("d", 1)])
    store.upsert(3, partial([("a", 100), ("d", 1)]))
    assert view() == expect()
    st3 = store.collapse(3)
    assert st3["batches_folded"] == 2  # baseline 1 + batch 2 into base 3
    assert view() == expect()


def test_agg_view_collapse_crash_recovery(spark, tmp_path, monkeypatch):
    """A collapse that crashed between its marker write and its
    directory deletes leaves the folded baseline AND the original
    batch directories on disk: readers must exclude the stale
    sub-horizon directories and the next collapse must sweep them
    (the BatchStore crash-safety contract)."""
    import pytest

    partials = [F.sum("v").cast("long").alias("s")]
    finals = [F.sum("s").cast("long").alias("s")]
    store = BatchStore(
        spark, str(tmp_path / "view"),
        lambda df: df.groupBy("k").agg(*finals),
    )
    batches = [[("a", 3), ("b", 1)], [("a", 2)], [("b", 7)]]
    for bid, rows in enumerate(batches):
        store.upsert(bid, spark.createDataFrame(
            rows, "k string, v long"
        ).groupBy("k").agg(*partials))

    def view():
        return {r["k"]: r["s"] for r in store.read().collect()}

    want = {"a": 5, "b": 8}
    assert view() == want

    def crash(self, batch_ids):
        raise RuntimeError("injected crash before the deletes")

    monkeypatch.setattr(BatchStore, "delete_batches", crash)
    with pytest.raises(RuntimeError, match="injected"):
        store.collapse(1)
    monkeypatch.undo()
    assert 0 in store.batch_ids()  # stale directory really on disk
    assert view() == want  # reader ignores it
    res = store.collapse(2)
    assert res["batches_folded"] == 1  # 1 into base 2; stale 0 swept
    assert store.batch_ids() == [2]
    assert view() == want


def test_snapshot_diff_cdc_statuses(spark):
    """insert/delete/update/unchanged classification, null-safe value
    compare (NULL->value and value->NULL are updates), old values
    surfaced for deletes, compare_cols subsetting."""
    old = spark.createDataFrame(
        [("a", "v1", 1), ("b", "v1", 2), ("c", None, 3), ("d", "v1", 4)],
        "id string, v string, extra long",
    )
    new = spark.createDataFrame(
        [("a", "v1", 1), ("b", "v2", 2), ("c", "v9", 3), ("e", "v1", 5)],
        "id string, v string, extra long",
    )
    got = {
        r["id"]: (r["change"], r["v"], r["extra"])
        for r in snapshot_diff(old, new, "id").collect()
    }
    assert got == {
        "a": ("unchanged", "v1", 1),
        "b": ("updated", "v2", 2),
        "c": ("updated", "v9", 3),   # NULL -> value is an update
        "d": ("deleted", "v1", 4),   # old values surfaced
        "e": ("inserted", "v1", 5),
    }
    # compare only `extra`: b and c become unchanged
    got2 = {
        r["id"]: r["change"]
        for r in snapshot_diff(old, new, "id", compare_cols=["extra"]).collect()
    }
    assert got2 == {
        "a": "unchanged", "b": "unchanged", "c": "unchanged",
        "d": "deleted", "e": "inserted",
    }
    try:
        snapshot_diff(old, new, "id", compare_cols=["nope"])
    except ValueError as e:
        assert "nope" in str(e)
    else:
        raise AssertionError("bad compare_cols must raise")


def test_streaming_changelog_maintains_snapshot(spark, tmp_path):
    """foreachBatch(SnapshotStore.upsert): a streaming changelog becomes a
    continuously-maintained snapshot table (the docstring's streaming
    tie-in, exercised for real microbatch by microbatch)."""
    from tests import fixtures as fx
    from umn_eda_kafka_stream_processing_spark import schemas
    from umn_eda_kafka_stream_processing_spark.sources.memory import rows_df
    from umn_eda_kafka_stream_processing_spark.streaming.runner import (
        file_stream_source,
        start_foreach_batch_sink,
    )

    src = str(tmp_path / "changelog")
    snap = str(tmp_path / "snapshot")

    def _pipe(rows, start_seq=0):
        rows_df(spark, schemas.EVENT, rows, start_seq=start_seq).coalesce(
            1
        ).write.mode("append").parquet(src)

    _pipe([fx.event("e1", "a1", "v1", 100), fx.event("e2", "a1", "v1", 50)])
    stream = file_stream_source(spark, src, schemas.EVENT, max_files_per_trigger=None)

    store = SnapshotStore(spark, snap, "id", order="event_seq")

    def sink(batch_df, batch_id):
        store.upsert(batch_df)

    q = start_foreach_batch_sink(
        stream, sink, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        _pipe([fx.event("e1", "a1", "v9", 250)], start_seq=2)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["id"]: (r["venueid"], r["capacity"])
           for r in spark.read.parquet(snap).collect()}
    assert got == {"e1": ("v9", 250), "e2": ("v1", 50)}
    # maintenance step: the store a foreachBatch sink maintains is the
    # thing maintenance exists for — bin-pack it and re-check reads
    store.maintain()
    got2 = {r["id"]: (r["venueid"], r["capacity"])
            for r in spark.read.parquet(snap).collect()}
    assert got2 == got


def test_versioned_store_time_travel(spark, tmp_path):
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        read_versioned_asof,
    )

    path = str(tmp_path / "vstore")
    mk = lambda data: spark.createDataFrame(  # noqa: E731
        data, "k long, v string, seq long, del_flag boolean"
    )
    # batch 0: insert a, b   batch 1: update a, insert c
    # batch 2: delete b, and (update c then delete c) IN ONE batch —
    # seq must break the tie toward the delete
    append_versioned(mk([(1, "a0", 0, False), (2, "b0", 0, False)]), path, 0)
    append_versioned(mk([(1, "a1", 0, False), (3, "c0", 0, False)]), path, 1)
    append_versioned(
        mk([(2, None, 0, True), (3, "c1", 1, False), (3, None, 2, True)]),
        path,
        2,
    )

    def state(asof):
        rows = read_versioned_asof(
            spark, path, asof, "k", seq_col="seq", tombstone_col="del_flag"
        ).collect()
        return {r["k"]: r["v"] for r in rows}

    assert state(0) == {1: "a0", 2: "b0"}
    assert state(1) == {1: "a1", 2: "b0", 3: "c0"}
    assert state(2) == {1: "a1"}
    assert BatchStore(spark, path).batch_ids() == [0, 1, 2]

    # replay batch 1 (at-least-once): dynamic overwrite of exactly
    # its partition — every as-of view unchanged, no duplicates
    append_versioned(mk([(1, "a1", 0, False), (3, "c0", 0, False)]), path, 1)
    assert state(1) == {1: "a1", 2: "b0", 3: "c0"}
    total = spark.read.parquet(path).count()
    assert total == 7

    # NULL tombstone flag routes like CASE-ELSE: kept (coalesce rule)
    append_versioned(mk([(4, "d0", 0, None)]), path, 3)
    assert state(3) == {1: "a1", 4: "d0"}

    # the as-of read is partition-pruned: batch_id <= 1 must reach
    # the scan as a partition filter, not a post-scan filter
    plan = read_versioned_asof(
        spark, path, 1, "k", seq_col="seq"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "batch_id" in plan


def test_append_versioned_rejects_reserved_column(spark, tmp_path):
    import pytest

    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
    )

    df = spark.createDataFrame([(1, 0)], "k long, batch_id long")
    with pytest.raises(ValueError):
        append_versioned(df, str(tmp_path / "v2"), 0)


def test_streaming_versioned_store_time_travel(spark, tmp_path):
    """foreachBatch(append_versioned): the streaming changelog becomes
    a TIME-TRAVELABLE store — every microbatch's state remains
    reconstructible after the stream moves on (the changelog-replay
    half of the KTable)."""
    from tests import fixtures as fx
    from umn_eda_kafka_stream_processing_spark import schemas
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        read_versioned_asof,
    )
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
    )
    from umn_eda_kafka_stream_processing_spark.sources.memory import rows_df
    from umn_eda_kafka_stream_processing_spark.streaming.runner import (
        file_stream_source,
        start_foreach_batch_sink,
    )

    src = str(tmp_path / "changelog")
    store = str(tmp_path / "vstore")

    def _pipe(rows, start_seq=0):
        rows_df(spark, schemas.EVENT, rows, start_seq=start_seq).coalesce(
            1
        ).write.mode("append").parquet(src)

    _pipe([fx.event("e1", "a1", "v1", 100), fx.event("e2", "a1", "v1", 50)])
    stream = file_stream_source(
        spark, src, schemas.EVENT, max_files_per_trigger=None
    )

    def sink(batch_df, batch_id):
        append_versioned(
            batch_df.localCheckpoint(), store, batch_id=batch_id
        )

    q = start_foreach_batch_sink(
        stream, sink, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        _pipe([fx.event("e1", "a1", "v9", 250)], start_seq=2)
        q.processAllAvailable()
    finally:
        q.stop()

    assert BatchStore(spark, store).batch_ids() == [0, 1]

    def state(asof):
        return {
            r["id"]: (r["venueid"], r["capacity"])
            for r in read_versioned_asof(
                spark, store, asof, "id", seq_col="event_seq"
            ).collect()
        }

    # batch 0's state is still reconstructible after batch 1 landed
    assert state(0) == {"e1": ("v1", 100), "e2": ("v1", 50)}
    assert state(1) == {"e1": ("v9", 250), "e2": ("v1", 50)}


def test_collapse_versioned_horizon(spark, tmp_path):
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        collapse_versioned,
        read_versioned_asof,
    )

    path = str(tmp_path / "vfold")
    mk = lambda data: spark.createDataFrame(  # noqa: E731
        data, "k long, v string, seq long, del_flag boolean"
    )
    append_versioned(mk([(1, "a0", 0, False), (2, "b0", 0, False)]), path, 0)
    append_versioned(mk([(1, "a1", 0, False), (2, None, 0, True)]), path, 1)
    append_versioned(mk([(3, "c0", 0, False)]), path, 2)

    def state(asof):
        return {
            r["k"]: r["v"]
            for r in read_versioned_asof(
                spark, path, asof, "k", seq_col="seq",
                tombstone_col="del_flag",
            ).collect()
        }

    before = {a: state(a) for a in range(3)}
    stats = collapse_versioned(
        spark, path, upto_batch=1, key_cols="k", seq_col="seq",
        tombstone_col="del_flag",
    )
    assert stats == {"batches_folded": 1, "rows": 1}  # tombstone dropped
    assert BatchStore(spark, path).batch_ids() == [1, 2]
    # reads at or beyond the horizon are unchanged
    assert state(1) == before[1] == {1: "a1"}
    assert state(2) == before[2] == {1: "a1", 3: "c0"}
    # below-horizon probes see an EMPTY store: that history is gone
    # (the Iceberg expire-snapshots contract; the floor is batch 1)
    assert state(0) == {} and before[0] == {1: "a0", 2: "b0"}
    # idempotent: a second collapse at the same horizon no-ops
    assert collapse_versioned(
        spark, path, 1, "k", seq_col="seq", tombstone_col="del_flag"
    ) == {"batches_folded": 0, "rows": 0}
    assert state(2) == before[2]


def test_collapse_versioned_crash_and_straggler_replay_equal_clean_run(
    spark, tmp_path, monkeypatch
):
    """A tombstone for key b lands in batch 2, the base of a collapse at
    horizon 2. (a) The collapse crashes after its fold is in place and
    before it deletes the folded-away batches; the as-of views must
    not bring b back, and the collapse's replay finishes the job.
    (b) After a clean collapse, a straggler replay of folded batch 0
    must not bring b back either. Both equal the clean run's views."""
    import shutil

    import pytest

    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        collapse_versioned,
        read_versioned_asof,
    )

    mk = lambda data: spark.createDataFrame(  # noqa: E731
        data, "k string, v string, seq long, del_flag boolean"
    )
    batches = [
        [("a", "a0", 0, False), ("b", "b0", 0, False)],
        [("a", "a1", 0, False), ("b", "b1", 0, False)],
        [("b", None, 0, True)],
        [("c", "c0", 0, False)],
    ]
    landed = str(tmp_path / "landed")
    for n, rows in enumerate(batches):
        append_versioned(mk(rows), landed, n)

    def collapse(path):
        return collapse_versioned(
            spark, path, 2, "k", seq_col="seq", tombstone_col="del_flag"
        )

    def views(path):
        return {
            asof: sorted(
                (r["k"], r["v"])
                for r in read_versioned_asof(
                    spark, path, asof, "k", seq_col="seq",
                    tombstone_col="del_flag",
                ).collect()
            )
            for asof in (2, 3)
        }

    clean = str(tmp_path / "clean")
    shutil.copytree(landed, clean)
    collapse(clean)
    want = views(clean)
    assert want == {2: [("a", "a1")], 3: [("a", "a1"), ("c", "c0")]}

    # (a) crash between the fold and the deletes, then the replay
    crashed = str(tmp_path / "crashed")
    shutil.copytree(landed, crashed)

    def crash(*args, **kwargs):
        raise RuntimeError("injected before the deletes")

    monkeypatch.setattr(BatchStore, "delete_batches", crash)
    with pytest.raises(RuntimeError, match="injected"):
        collapse(crashed)
    monkeypatch.undo()
    assert views(crashed) == want
    collapse(crashed)
    assert views(crashed) == want
    assert BatchStore(spark, crashed).batch_ids() == [2, 3]

    # (b) straggler replay of a folded batch after the clean collapse
    append_versioned(mk(batches[0]), clean, 0)
    assert views(clean) == want
    assert BatchStore(spark, clean).batch_ids() == [2, 3]


def test_versioned_store_soak_composition(spark, tmp_path):
    """The full production loop in ONE test (round-11 verdict #6):
    four streaming microbatches flow through append_versioned + an
    agg-view BatchStore of partials, a replay of the last batch is injected, then
    SnapshotStore.maintain (compaction, idempotence pinned), a
    collapse_versioned at horizon 1, and an erase_keys sweep — and
    at EVERY surviving as-of point the store still reconstructs
    exactly the from-scratch Python fold (latest-wins by (batch,
    seq), tombstones dropped, erased keys gone), while the agg view
    keeps its event totals (erasure of the KTable store does not
    rewrite history aggregates)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        erase_keys,
    )
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        collapse_versioned,
        read_versioned_asof,
    )
    from umn_eda_kafka_stream_processing_spark.streaming.runner import (
        file_stream_source,
        start_foreach_batch_sink,
    )

    vstore, astore = str(tmp_path / "vstore"), str(tmp_path / "aggview")
    view = BatchStore(
        spark, astore,
        lambda df: df.groupBy("g").agg(
            F.sum("s").alias("s"), F.sum("c").alias("c")
        ),
    )
    src = str(tmp_path / "changes")
    def _fields():
        return [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("del_flag", T.BooleanType()),
        ]

    schema = T.StructType(_fields())
    stream_schema = T.StructType(_fields() + [T.StructField("g", T.LongType())])
    batches = {
        0: [(1, 10, 0, False), (2, 20, 0, False), (3, 30, 0, False)],
        1: [(1, 11, 0, False), (4, 40, 0, False)],
        2: [(3, None, 0, True), (5, 50, 0, False)],
        3: [(2, 21, 0, False), (6, 60, 0, False), (6, 61, 1, False)],
    }

    def sink(batch_df, batch_id):
        b = batch_df.localCheckpoint()
        append_versioned(b, vstore, batch_id=batch_id)
        view.upsert(batch_id, b.groupBy("g").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
        ))

    def pipe(bid):
        spark.createDataFrame(batches[bid], schema).withColumn(
            "g", F.col("k") % 2
        ).coalesce(1).write.mode("append").parquet(src)

    pipe(0)
    q = start_foreach_batch_sink(
        file_stream_source(
            spark, src, stream_schema, max_files_per_trigger=None,
        ),
        sink, checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        for bid in (1, 2, 3):
            q.processAllAvailable()
            pipe(bid)
        q.processAllAvailable()
    finally:
        q.stop()

    # replay the last batch (at-least-once): both stores no-op
    rows_before = spark.read.parquet(vstore).count()
    agg_before = {
        r["g"]: (r["s"], r["c"])
        for r in view.read().collect()
    }
    sink(
        spark.createDataFrame(batches[3], schema).withColumn(
            "g", F.col("k") % 2
        ),
        3,
    )
    assert spark.read.parquet(vstore).count() == rows_before
    assert {
        r["g"]: (r["s"], r["c"])
        for r in view.read().collect()
    } == agg_before

    # maintenance: compaction touches once, then replays to zero
    versions = SnapshotStore(spark, vstore, partition_by="batch_id")
    versions.maintain(target_files=1)
    again = versions.maintain(target_files=1)
    assert again["partitions_rewritten"] == 0 and again["rows_expired"] == 0

    # horizon collapse at batch 1, then a GDPR erasure of key 2
    collapse_versioned(
        spark, vstore, 1, "k", seq_col="seq", tombstone_col="del_flag"
    )
    assert BatchStore(spark, vstore).batch_ids() == [1, 2, 3]
    stats = erase_keys(
        spark, vstore,
        spark.createDataFrame([(2,)], "k long"), "k", "batch_id",
    )
    assert stats["rows_removed"] == 2  # k=2 versions in base + batch 3

    # from-scratch Python fold == store at EVERY surviving as-of
    def truth(asof):
        latest = {}
        for bid in range(asof + 1):
            for k, v, seq, dead in batches[bid]:
                cur = latest.get(k)
                if cur is None or (bid, seq) >= cur[0]:
                    latest[k] = ((bid, seq), v, dead)
        return {
            k: v
            for k, (_, v, dead) in latest.items()
            if not dead and k != 2  # erased key gone at every point
        }

    for asof in (1, 2, 3):
        got = {
            r["k"]: r["v"]
            for r in read_versioned_asof(
                spark, vstore, asof, "k",
                seq_col="seq", tombstone_col="del_flag",
            ).collect()
        }
        assert got == truth(asof), asof
    # below the horizon the history is gone (expire-snapshots floor)
    assert read_versioned_asof(
        spark, vstore, 0, "k", seq_col="seq", tombstone_col="del_flag"
    ).count() == 0

    # the agg view still carries every EVENT ever ingested: erasing
    # the KTable store does not rewrite history aggregates
    want_agg = {}
    for rows in batches.values():
        for k, v, _, _ in rows:
            g = k % 2
            s, c = want_agg.get(g, (0, 0))
            want_agg[g] = (s + (v or 0), c + 1)
    assert {
        r["g"]: (r["s"], r["c"])
        for r in view.read().collect()
    } == want_agg


def test_versioned_batch_ids_is_metadata_only(spark, tmp_path, monkeypatch):
    """Batch-id discovery is a Hadoop FS directory listing — zero
    Spark jobs, zero data reads: it must succeed even with the
    session's DataFrame reader disabled; a missing store lists []."""
    from pyspark.sql import SparkSession
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
    )

    path = str(tmp_path / "vmeta")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    append_versioned(df, path, 0)
    append_versioned(df, path, 7)

    def _no_read(self):
        raise AssertionError("batch_ids attempted a data read")

    monkeypatch.setattr(SparkSession, "read", property(_no_read))
    assert BatchStore(spark, path).batch_ids() == [0, 7]
    assert BatchStore(spark, str(tmp_path / "absent")).batch_ids() == []


def test_collapse_versioned_clamps_overshooting_horizon(spark, tmp_path):
    """upto_batch beyond the store's max ingested batch id clamps to
    it — history is folded into the REAL newest batch, never a
    phantom batch_id that was never ingested (round-11 advice)."""
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        collapse_versioned,
        read_versioned_asof,
    )

    path = str(tmp_path / "vclamp")
    mk = lambda data: spark.createDataFrame(data, "k long, v string, seq long")  # noqa: E731
    append_versioned(mk([(1, "a0", 0), (2, "b0", 0)]), path, 0)
    append_versioned(mk([(1, "a1", 0)]), path, 1)

    stats = collapse_versioned(spark, path, upto_batch=99, key_cols="k",
                               seq_col="seq")
    assert stats == {"batches_folded": 1, "rows": 2}
    assert BatchStore(spark, path).batch_ids() == [1]  # no phantom 99

    def state(asof):
        return {r["k"]: r["v"] for r in read_versioned_asof(
            spark, path, asof, "k", seq_col="seq").collect()}

    assert state(1) == {1: "a1", 2: "b0"}
    assert state(99) == state(1)

    # MID-RANGE gap: a horizon between ingested ids folds into the
    # largest REAL batch <= it, never a phantom id (r12 review)
    path2 = str(tmp_path / "vgap")
    append_versioned(mk([(1, "x0", 0)]), path2, 0)
    append_versioned(mk([(2, "y0", 0)]), path2, 2)
    append_versioned(mk([(1, "x1", 0)]), path2, 5)
    stats2 = collapse_versioned(spark, path2, upto_batch=3, key_cols="k",
                                seq_col="seq")
    assert stats2 == {"batches_folded": 1, "rows": 2}
    assert BatchStore(spark, path2).batch_ids() == [2, 5]  # no phantom 3
    got2 = {r["k"]: r["v"] for r in read_versioned_asof(
        spark, path2, 2, "k", seq_col="seq").collect()}
    assert got2 == {1: "x0", 2: "y0"}
    # a horizon below every ingested id is a no-op
    assert collapse_versioned(spark, path2, 1, "k", seq_col="seq") == {
        "batches_folded": 0, "rows": 0}


def test_partition_checksums_detects_single_row_change(spark):
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        partition_checksums,
    )

    a = spark.createDataFrame(
        [(i % 4, i, f"v{i}") for i in range(100)], "part long, k long, v string"
    )
    # identical content, different row order/partitioning -> equal sums
    b = a.repartition(7).sortWithinPartitions("v")
    ca = {r["part"]: (r["n_rows"], r["checksum"])
          for r in partition_checksums(a, "part", ["k", "v"]).collect()}
    cb = {r["part"]: (r["n_rows"], r["checksum"])
          for r in partition_checksums(b, "part", ["k", "v"]).collect()}
    assert ca == cb
    # one flipped value diverges exactly its partition
    from pyspark.sql import functions as F
    c = a.withColumn(
        "v", F.when(F.col("k") == 57, F.lit("CORRUPT")).otherwise(F.col("v"))
    )
    cc = {r["part"]: (r["n_rows"], r["checksum"])
          for r in partition_checksums(c, "part", ["k", "v"]).collect()}
    diff = [p for p in ca if ca[p] != cc[p]]
    assert diff == [57 % 4]

    # delimiter-bearing values never alias across column boundaries:
    # ('a|b','c') vs ('a','b|c') — per-column md5 fixes the width
    d1 = spark.createDataFrame([(0, "a|b", "c")], "part long, k string, v string")
    d2 = spark.createDataFrame([(0, "a", "b|c")], "part long, k string, v string")
    s1 = partition_checksums(d1, "part", ["k", "v"]).collect()[0]["checksum"]
    s2 = partition_checksums(d2, "part", ["k", "v"]).collect()[0]["checksum"]
    assert s1 != s2


def test_erase_keys_missing_vs_unreadable_store(spark, tmp_path):
    """A never-written store path is a legitimate zero sweep; an
    UNREADABLE store (here: a dir with no parquet schema) re-raises —
    a compliance sweep must never report 'nothing to erase' against
    a store it could not read."""
    import pytest
    from pyspark.sql.utils import AnalysisException
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        erase_keys,
    )

    keys = spark.createDataFrame([(1,)], "k long")
    assert erase_keys(
        spark, str(tmp_path / "never_written"), keys, "k", "bucket"
    ) == {"partitions_touched": 0, "rows_removed": 0, "rows_kept": 0,
          "partitions_emptied": 0}

    # existing-but-schemaless dir: UNABLE_TO_INFER_SCHEMA — an
    # AnalysisException that is NOT path-not-found must re-raise, not
    # masquerade as a successful zero sweep
    empty = tmp_path / "schemaless"
    empty.mkdir()
    with pytest.raises(AnalysisException):
        erase_keys(spark, str(empty), keys, "k", "bucket")


def test_erase_keys_prunes_and_idempotent(spark, tmp_path):
    import os

    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        erase_keys,
    )

    path = str(tmp_path / "gdpr")
    df = spark.createDataFrame(
        [(i, f"u{i % 5}", i % 4) for i in range(40)],
        "k long, user string, bucket long",
    )
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)
    # record untouched partitions' file mtimes: bucket 1 holds keys
    # 1,5,9... none of which are erased below (erase multiples of 4,
    # all in bucket 0)
    b1 = os.path.join(path, "bucket=1")
    mtimes = {f: os.path.getmtime(os.path.join(b1, f))
              for f in os.listdir(b1)}

    keys = spark.createDataFrame([(i,) for i in range(0, 40, 4)], "k long")
    stats = erase_keys(spark, path, keys, "k", "bucket")
    assert stats["partitions_touched"] == 1  # k%4==0 -> bucket 0 only
    assert stats["rows_removed"] == 10 and stats["rows_kept"] == 0
    assert stats["partitions_emptied"] == 1  # bucket 0 fully erased
    got = {r["k"] for r in spark.read.parquet(path).collect()}
    assert got == {i for i in range(40) if i % 4 != 0}
    # untouched partition files were never rewritten
    assert mtimes == {
        f: os.path.getmtime(os.path.join(b1, f)) for f in os.listdir(b1)
    }
    # replay: nothing left to erase
    assert erase_keys(spark, path, keys, "k", "bucket") == {
        "partitions_touched": 0, "rows_removed": 0,
        "rows_kept": 0, "partitions_emptied": 0,
    }


def test_versioned_store_schema_evolution(spark, tmp_path):
    """A later batch ADDS a column: as-of reads spanning the schema
    change see the union schema with NULL backfill (parquet
    mergeSchema semantics on the batch-partitioned log)."""
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        read_versioned_asof,
    )

    path = str(tmp_path / "vevolve")
    append_versioned(
        spark.createDataFrame([(1, "a0", 0)], "k long, v string, seq long"),
        path,
        0,
    )
    append_versioned(
        spark.createDataFrame(
            [(2, "b0", 0, "eu")], "k long, v string, seq long, region string"
        ),
        path,
        1,
    )
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        st = {
            r["k"]: (r["v"], r["region"])
            for r in read_versioned_asof(
                spark, path, 1, "k", seq_col="seq"
            ).collect()
        }
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert st == {1: ("a0", None), 2: ("b0", "eu")}
