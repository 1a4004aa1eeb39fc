"""The shared store layer (stores.py): crash injection over every store
kind kept in a `BatchStore` and over every operator built on
`SnapshotStore.advance`, the concurrency helper's join-then-raise
contract, the advised pipeline's no-orphaned-write guarantee, the
`SnapshotStore` absence rule (URI stores, empty first batches), bucket
pruning read through the scan metric, and the fold's file sizing."""

from __future__ import annotations

import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from umn_eda_kafka_stream_processing_spark.operators import runtime_filter as rf
from umn_eda_kafka_stream_processing_spark.operators import sketches as sk
from umn_eda_kafka_stream_processing_spark.operators.decontam import (
    benchmark_grams,
    merge_grams,
)
from umn_eda_kafka_stream_processing_spark.operators.quality import (
    category_registers,
    check_constraints,
    histogram_monitor_registers,
)
from umn_eda_kafka_stream_processing_spark.operators.versioned import (
    latest_versions,
)
from umn_eda_kafka_stream_processing_spark.stores import (
    CMS_HORIZON,
    FLOOR,
    HORIZON,
    BatchStore,
    run_concurrently,
)


def _pool_threads() -> set:
    return {
        t for t in threading.enumerate()
        if t.name.startswith("ThreadPoolExecutor") and t.is_alive()
    }


def test_run_concurrently_joins_every_thunk_then_raises():
    """A fast failure surfaces only after the slow sibling finished,
    every worker thread is gone by then, and results come back in
    argument order."""
    before = _pool_threads()
    done = []

    def slow():
        time.sleep(0.3)
        done.append("slow")

    def boom():
        raise RuntimeError("first failure")

    def later_boom():
        time.sleep(0.1)
        raise ValueError("second failure")

    with pytest.raises(RuntimeError, match="first failure"):
        run_concurrently(slow, boom, later_boom)
    assert done == ["slow"]
    assert _pool_threads() <= before
    assert run_concurrently(lambda: 1, lambda: 2) == [1, 2]


def test_advised_fact_fn_failure_joins_register_write(spark, tmp_path):
    """The fact fn's register write runs alongside the enrichment. When
    the enrichment fails — here its dim snapshot was never written —
    the exception must surface only after the register write finished,
    with no pool worker left running: an orphaned write would race the
    batch's retry."""
    from umn_eda_kafka_stream_processing_spark.streaming.advised import (
        make_advised_enrichment_batch_fn,
    )

    p = lambda n: str(tmp_path / n)  # noqa: E731
    fact_fn = make_advised_enrichment_batch_fn(
        spark,
        dim_snapshot_path=p("never_written_dim"),
        left_regs_path=p("lregs"),
        right_regs_path=p("rregs"),
        out_path=p("out"),
        decisions_path=p("decisions"),
        on="k",
    )
    batch = spark.createDataFrame(
        [(i % 37, i) for i in range(2000)], "k long, v long"
    )
    before = _pool_threads()
    with pytest.raises(AnalysisException):
        fact_fn(batch, 0)
    assert _pool_threads() <= before
    left = BatchStore(spark, p("lregs"), sk.merge_cms, CMS_HORIZON)
    assert left.batch_ids() == [0]
    assert sorted(map(tuple, left.read().collect())) == sorted(
        map(tuple, sk.cms_registers(batch, "k").collect())
    )


# ------------------------------------------------------ crash injection
#
# Every store kind kept in a BatchStore, each with its payload builder
# and its retention step. A kind lands batches 0..2, then retains
# (collapses into base 1, or expires batch 0). A clean run is compared
# with runs that crash at each write boundary and then replay.


def _cms(spark, store, b):
    keys = spark.createDataFrame(
        [(f"k{i % (b + 3)}",) for i in range(40)], "k string"
    )
    return sk.cms_registers(keys, "k"), 1


def _cms_local(spark, store, b):
    # the advised pipeline's shape: collected registers written back as
    # a one-partition local frame, no repartition
    regs = [tuple(r) for r in _cms(spark, store, b)[0].collect()]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(regs, 1), "row int, bucket long, cnt long"
    ), None


def _hll(spark, store, b):
    users = spark.createDataFrame(
        [("a", f"u{(b * 7 + i) % 30}") for i in range(40)], "g string, u string"
    )
    return sk.hll_registers(users, "g", "u"), 1


def _grams(spark, store, b):
    docs = spark.createDataFrame(
        [(f"shared words one two three four five six seven {b}",),
         (" ".join(f"w{b}_{i}" for i in range(10)),)],
        "text string",
    )
    return benchmark_grams(docs), 1


def _agg_view(spark, store, b):
    rows = spark.createDataFrame(
        [(f"g{i % 3}", b * 10 + i) for i in range(9)], "g string, v long"
    )
    return rows.groupBy("g").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
    ), 1


def _constraints(spark, store, b):
    rows = spark.createDataFrame(
        [(i, None if i % (b + 2) == 0 else i) for i in range(8)], "id long, v long"
    )
    return check_constraints(rows, [("not_null", "v"), ("range", "v", 0, 5)]), 1


def _histogram(spark, store, b):
    rows = spark.createDataFrame(
        [(float((b * 5 + i) % 16),) for i in range(30)], "v double"
    )
    return histogram_monitor_registers(rows, {"v": (0.0, 16.0, 4)}), 1


def _categories(spark, store, b):
    rows = spark.createDataFrame(
        [(["x", "y", "z"][(b + i) % 3],) for i in range(10)], "c string"
    )
    return category_registers(store, rows, ["c"]), 1


def _decisions(spark, store, b):
    return spark.createDataFrame(
        spark.sparkContext.parallelize([("broadcast", b, 10 * b)], 1),
        "strategy string, rows_left long, rows_right long",
    ), None


def _versioned(spark, store, b):
    # batch 1 deletes key 1 and updates key 2 twice (seq breaks the tie)
    rows = {
        0: [(1, "a0", 0, False), (2, "b0", 0, False)],
        1: [(1, None, 0, True), (2, "b1", 0, False), (2, "b2", 1, False)],
        2: [(3, "c0", 0, False), (1, "a2", 0, False)],
    }[b]
    return spark.createDataFrame(
        rows, "k long, v string, seq long, del_flag boolean"
    ), None


def _bloom(spark, store, b):
    rows = spark.createDataFrame(
        [(i % 3, b * 100 + i) for i in range(30)], "part long, key long"
    )
    return rf.partition_bloom_index(rows, "part", "key", m_bits=256), 1


def _dead_letters(spark, store, b):
    from umn_eda_kafka_stream_processing_spark.streaming.runner import (
        DEAD_LETTER_SCHEMA,
    )

    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(f"md5-{b}-{i}", f'{{"id": "t{i}"}}', "down") for i in range(b + 1)],
            1,
        ),
        DEAD_LETTER_SCHEMA,
    ), None


def _agg_merge(df):
    return df.groupBy("g").agg(F.sum("s").alias("s"), F.sum("c").alias("c"))


# kind -> (payload builder, merge, marker, retention step)
KINDS = {
    "cms": (_cms, sk.merge_cms, CMS_HORIZON, "collapse"),
    "cms_local": (_cms_local, sk.merge_cms, CMS_HORIZON, "collapse"),
    "hll": (_hll, sk.merge_hll, HORIZON, "collapse"),
    "grams": (_grams, merge_grams, HORIZON, "collapse"),
    "agg_view": (_agg_view, _agg_merge, HORIZON, "collapse"),
    "constraint_monitor": (_constraints, None, FLOOR, "expire"),
    "histogram_monitor": (_histogram, None, FLOOR, "expire"),
    "category_monitor": (_categories, None, FLOOR, "expire"),
    "decision_log": (_decisions, None, HORIZON, None),
    "versioned": (
        _versioned, latest_versions("k", "seq", "del_flag"), HORIZON, "collapse"
    ),
    "bloom": (_bloom, rf.merge_bloom("part"), HORIZON, "collapse"),
    "dead_letters": (_dead_letters, None, HORIZON, None),
}
FAULTS = ("after_write", "before_mark", "before_promote", "before_deletes")
CASES = [
    (kind, fault)
    for kind, (_, _, _, retain) in KINDS.items()
    for fault in FAULTS
    if fault == "after_write"
    or (retain == "collapse")
    or (retain == "expire" and fault != "before_promote")
]


class Crash(RuntimeError):
    pass


def _crash(*args, **kwargs):
    raise Crash("injected")


def _store(spark, kind, path):
    _, merge, marker, _ = KINDS[kind]
    return BatchStore(spark, path, merge, marker)


def _land(spark, kind, store, b):
    if not store.closed(b):
        rows, coalesce = KINDS[kind][0](spark, store, b)
        store.upsert(b, rows, write_coalesce=coalesce)


def _retain(kind, store):
    retain = KINDS[kind][3]
    if retain == "collapse":
        store.collapse(1)
    elif retain == "expire":
        store.expire(1)


def _state(store):
    return (
        sorted(map(tuple, store.read().collect()), key=repr),
        store.batch_ids(),
    )


@pytest.fixture(scope="module")
def landed(spark, tmp_path_factory):
    """kind -> (the kind's store path after batches 0..2, its clean
    retained state); built once per kind, every case works on a copy."""
    built: dict = {}

    def get(kind):
        if kind not in built:
            root = tmp_path_factory.mktemp(kind)
            store = _store(spark, kind, str(root / "landed"))
            for b in range(3):
                _land(spark, kind, store, b)
            shutil.copytree(store.path, str(root / "clean"))
            clean = _store(spark, kind, str(root / "clean"))
            _retain(kind, clean)
            built[kind] = (store.path, _state(clean))
        return built[kind]

    return get


@pytest.mark.parametrize("kind,fault", CASES)
def test_store_crash_injection_replay_equals_clean_run(
    spark, tmp_path, landed, monkeypatch, kind, fault
):
    """A crash at any write boundary, then the replay a restarted
    stream makes, leaves every store kind exactly as a clean run: the
    batch write of a batch that never committed (after_write), and the
    retention step between its write and its marker (before_mark),
    between the marker and the fold's promotion (before_promote) and
    between the marker and the deletes (before_deletes). Folding
    stores read the clean value even before the replay."""
    landed_path, clean = landed(kind)
    path = str(tmp_path / "store")
    shutil.copytree(landed_path, path)
    store = _store(spark, kind, path)

    if fault == "after_write":
        upsert = BatchStore.upsert

        def write_then_crash(self, *args, **kwargs):
            upsert(self, *args, **kwargs)
            raise Crash("injected after the write")

        monkeypatch.setattr(BatchStore, "upsert", write_then_crash)
        with pytest.raises(Crash):
            _land(spark, kind, store, 2)
        monkeypatch.undo()
        _land(spark, kind, store, 2)  # the replay
        _retain(kind, store)
        assert _state(store) == clean
        return

    target = {
        "before_mark": "_write_mark",
        "before_promote": "_promote",
        "before_deletes": "delete_batches",
    }[fault]
    monkeypatch.setattr(BatchStore, target, _crash)
    with pytest.raises(Crash):
        _retain(kind, store)
    monkeypatch.undo()
    if KINDS[kind][3] == "collapse" or fault == "before_deletes":
        assert _state(store)[0] == clean[0]
    _retain(kind, store)  # the replay
    assert _state(store) == clean
    assert not [n for n in store._names() if n.startswith("_fold_")]


def test_seen_stores_read_back_through_a_uri(spark, tmp_path):
    """A dedup seen-store given as a URI (file:///...) is read back like
    a plain path: an exact duplicate arriving in a later batch is
    dropped by both the SimHash and the semantic incremental dedup."""
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        incremental_simhash_dedup,
    )
    from umn_eda_kafka_stream_processing_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    text = " ".join("w%02d" % i for i in range(60))
    store = (tmp_path / "simhash_seen").as_uri()
    kept = [
        incremental_simhash_dedup(
            spark.createDataFrame([(i, text)], "doc_id long, text string"),
            store,
            i,
        ).count()
        for i in (1, 2)
    ]
    assert kept == [1, 0]

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "bucket int, embedding array<double>"
    )
    store = (tmp_path / "semantic_seen").as_uri()
    kept = [
        incremental_semantic_dedup(
            spark.createDataFrame(
                [(i, [1.0, 0.1])], "vec_id long, embedding array<double>"
            ),
            store,
            i,
            centroids,
            tau=0.9,
        ).count()
        for i in (1, 2)
    ]
    assert kept == [1, 0]


def test_incremental_op_after_an_empty_first_batch_equals_from_scratch(
    spark, tmp_path
):
    """An empty first batch leaves no store behind (a zero-row write
    would otherwise leave a directory with no schema, which the absence
    rule refuses to read as empty), and the next real batch lands on
    exactly the from-scratch result."""
    import os
    from datetime import datetime

    from umn_eda_kafka_stream_processing_spark.operators.windows import (
        incremental_retention,
        retention_matrix_from_store,
    )

    schema = "user_id long, ts timestamp"
    rows = [(1, datetime(2024, 3, 4)), (1, datetime(2024, 3, 12)),
            (2, datetime(2024, 3, 5))]
    resumed, fresh = str(tmp_path / "resumed"), str(tmp_path / "fresh")
    incremental_retention(spark.createDataFrame([], schema), resumed, 0)
    assert not os.path.exists(resumed)
    incremental_retention(spark.createDataFrame(rows, schema), resumed, 1)
    incremental_retention(spark.createDataFrame(rows, schema), fresh, 0)

    def matrix(path):
        return sorted(
            tuple(r) for r in retention_matrix_from_store(spark, path).collect()
        )

    assert matrix(resumed) == matrix(fresh) != []


def test_simhash_dedup_replay_keeps_the_same_docs(spark, tmp_path):
    """A foreachBatch replay of a SimHash dedup batch, with its batch
    id, keeps what the first attempt kept: the probe ignores the rows
    the first attempt admitted. Appending admissions made the replay
    dedup every doc against its own first attempt."""
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        incremental_simhash_dedup,
    )

    docs = spark.createDataFrame(
        [(1, " ".join("a%02d" % i for i in range(60))),
         (2, " ".join("b%02d" % i for i in range(60)))],
        "doc_id long, text string",
    )
    store = str(tmp_path / "seen")
    kept = [
        sorted(r["doc_id"] for r in incremental_simhash_dedup(docs, store, 0).collect())
        for _ in range(2)
    ]
    assert kept == [[1, 2], [1, 2]]


def _semantic_centroids(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "bucket int, embedding array<double>"
    )


def test_semantic_dedup_replay_leaves_store_and_output_unchanged(spark, tmp_path):
    """The same semantic-dedup batch run twice, with its batch id, leaves
    the seen-store's rows and the batch's output as the first run left
    them: the store is keyed by (bucket, id), so the replay rewrites its
    own rows. Appending admissions stored every row twice."""
    from umn_eda_kafka_stream_processing_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    batch = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.1, 1.0]), (3, [1.0, 0.11])],
        "vec_id long, embedding array<double>",
    )
    store = str(tmp_path / "seen")
    runs = [
        (
            _rows(incremental_semantic_dedup(
                batch, store, 0, _semantic_centroids(spark), tau=0.9
            )),
            _rows(spark.read.parquet(store)),
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1]
    assert len(runs[0][0]) == len(runs[0][1]) == 2


# --- every operator built on SnapshotStore.advance: crash and replay ------
#
# name -> (batch b's input frame, run(spark, batch, store path, b)). Each
# operator lands batches 0..2; batch 2's store write crashes (before or
# after it lands) and the batch is replayed, as a restarted stream does.


def _ts(day):
    from datetime import datetime, timedelta

    return datetime(2024, 3, 4) + timedelta(days=day)


def _events(spark, b):
    kinds = ["view", "click", "purchase"]
    return spark.createDataFrame(
        [(u, 10 * b + i, kinds[(u + b + i) % 3], _ts(3 * b + i))
         for u in range(4) for i in range(2)],
        "user_id long, event_id long, event_type string, ts timestamp",
    )


def _span_docs(spark, b):
    shared = "the quick brown fox jumps"
    return spark.createDataFrame(
        [(3 * b + i, f"{shared} {b} {i} " + "xyz" * (b + i)) for i in range(3)],
        "doc_id long, text string",
    )


def _simhash_docs(spark, b):
    base = ["w%02d" % i for i in range(60)]
    return spark.createDataFrame(
        [(10 * b, " ".join(base[:-1] + [f"e{b}"])),
         (10 * b + 1, " ".join(f"n{b}_{i:02d}" for i in range(60)))],
        "doc_id long, text string",
    )


def _budget_docs(spark, b):
    return spark.createDataFrame(
        [(["a", "b"][i % 2], f"d{b}_{i}", 3 + i) for i in range(6)],
        "domain string, doc string, tokens long",
    )


def _cluster_rows(spark, b):
    return spark.createDataFrame(
        [(i % 2, 10 * b + i) for i in range(5)], "bucket long, vec_id long"
    )


def _vectors(spark, b):
    import math

    angle = math.radians(30 + 20 * b)
    return spark.createDataFrame(
        [(10 * b, [1.0, 0.0]), (10 * b + 1, [math.cos(angle), math.sin(angle)]),
         (10 * b + 2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )


def _advance_ops():
    from umn_eda_kafka_stream_processing_spark.operators import dedup, sampling, similarity
    from umn_eda_kafka_stream_processing_spark.operators import windows as win

    return {
        "funnel": (_events, lambda spark, df, path, b: win.incremental_funnel(
            df, path, ["view", "click", "purchase"], b, n_buckets=4)),
        "transitions": (_events, lambda spark, df, path, b:
                        win.incremental_transitions(df, path, b, n_buckets=4)),
        "retention": (_events, lambda spark, df, path, b:
                      win.incremental_retention(df, path, b, n_buckets=4)),
        "scd2": (_events, lambda spark, df, path, b:
                 win.incremental_scd2(df, path, b, n_buckets=4)),
        "span_dedup": (_span_docs, lambda spark, df, path, b:
                       dedup.incremental_span_dedup(df, path, span_len=8, n_buckets=4)),
        "simhash_dedup": (_simhash_docs, lambda spark, df, path, b:
                          dedup.incremental_simhash_dedup(df, path, b)),
        "budget_admission": (_budget_docs, lambda spark, df, path, b:
                             sampling.incremental_budget_admission(
                                 spark, path, df, "domain", "doc", "tokens",
                                 {"a": 40, "b": 45}, b)),
        "cluster_quota": (_cluster_rows, lambda spark, df, path, b:
                          sampling.incremental_cluster_quota(
                              spark, path, df, "bucket", "vec_id", 6, b)),
        "semantic_dedup": (_vectors, lambda spark, df, path, b:
                           similarity.incremental_semantic_dedup(
                               df, path, b, _semantic_centroids(spark), tau=0.99)),
    }


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.fixture(scope="module")
def advanced(spark, tmp_path_factory):
    """op -> (its store path after batches 0..1, the clean run's batch-2
    output and store rows); built once per operator."""
    built: dict = {}

    def get(name):
        if name not in built:
            make, run = _advance_ops()[name]
            root = tmp_path_factory.mktemp(name)
            path = str(root / "store")
            for b in range(2):
                run(spark, make(spark, b), path, b)
            shutil.copytree(path, str(root / "landed"))
            out = _rows(run(spark, make(spark, 2), path, 2))
            assert out, "batch 2 must write rows for its replay to mean anything"
            built[name] = (str(root / "landed"), out, _rows(spark.read.parquet(path)))
        return built[name]

    return get


@pytest.mark.parametrize("fault", ["before_write", "after_write"])
@pytest.mark.parametrize("name", sorted(_advance_ops()))
def test_advance_crash_and_replay_equals_clean_run(
    spark, tmp_path, advanced, monkeypatch, name, fault
):
    """A crash just before or just after batch 2's store rewrite, then
    the replay of batch 2, leaves the store rows and the batch's output
    exactly as a clean run: every step reads the state before its own
    batch, also when the first attempt's write already landed."""
    import umn_eda_kafka_stream_processing_spark.stores as stores

    landed_path, clean_out, clean_rows = advanced(name)
    make, run = _advance_ops()[name]
    path = str(tmp_path / "store")
    shutil.copytree(landed_path, path)
    rewrite = stores._rewrite_partitions

    def crashing(*args, **kwargs):
        if fault == "after_write":
            rewrite(*args, **kwargs)
        raise Crash(f"injected {fault}")

    monkeypatch.setattr(stores, "_rewrite_partitions", crashing)
    with pytest.raises(Crash):
        run(spark, make(spark, 2), path, 2)
    monkeypatch.undo()
    out = _rows(run(spark, make(spark, 2), path, 2))  # the replay
    assert out == clean_out
    assert _rows(spark.read.parquet(path)) == clean_rows


# --- pruning, read through the scan metric --------------------------------


def files_read(spark, action) -> list[int]:
    """Run ``action`` and return each file scan's ``number of files
    read``, over the SQL executions it started (from the SQL status
    store, which keeps them with the UI off). ``DataFrame.inputFiles``
    cannot show pruning: on a path-based read it lists every file."""
    jsc = spark.sparkContext._jsc.sc()

    def executions():
        jsc.listenerBus().waitUntilEmpty()
        store = spark._jsparkSession.sharedState().statusStore()
        runs = store.executionsList()
        return store, [runs.apply(i) for i in range(runs.size())]

    _, before = executions()
    seen = {int(e.executionId()) for e in before}
    action()
    store, after = executions()
    counts = []
    for e in after:
        if int(e.executionId()) in seen:
            continue
        values = store.executionMetrics(e.executionId())
        metrics = e.metrics()
        for i in range(metrics.size()):
            m = metrics.apply(i)
            v = values.get(m.accumulatorId())
            if m.name() == "number of files read" and v.isDefined():
                counts.append(int(str(v.get()).replace(",", "")))
    return counts


def _bucket_files(path: str) -> int:
    """The most data files any one bucket directory of a store holds."""
    import os

    return max(
        sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if "=" in d
    )


def _pruning_cases():
    """name -> land(spark, keys, b, path): batch ``b`` touching one store
    key per integer in ``keys`` (a user, a span, a store key)."""
    from umn_eda_kafka_stream_processing_spark.operators import dedup
    from umn_eda_kafka_stream_processing_spark.operators import windows as win
    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    def events(spark, keys, b):
        return spark.createDataFrame(
            [(u, b, "view", _ts(b)) for u in keys],
            "user_id long, event_id long, event_type string, ts timestamp",
        )

    def doc(spark, keys, b):
        # one doc of len(keys) + 7 distinct chars: one 8-char span per key
        text = "".join(
            chr(0x4E00 + (b * 997 + 31 * i) % 20000) for i in range(len(keys) + 7)
        )
        return spark.createDataFrame([(b, text)], "doc_id long, text string")

    return {
        "funnel": lambda s, k, b, p: win.incremental_funnel(
            events(s, k, b), p, ["view", "click"], b),
        "transitions": lambda s, k, b, p: win.incremental_transitions(
            events(s, k, b), p, b),
        "retention": lambda s, k, b, p: win.incremental_retention(
            events(s, k, b), p, b),
        "scd2": lambda s, k, b, p: win.incremental_scd2(events(s, k, b), p, b),
        "span_dedup": lambda s, k, b, p: dedup.incremental_span_dedup(
            doc(s, k, b), p, span_len=8),
        "upsert": lambda s, k, b, p: SnapshotStore(
            s, p, "k", "_b", n_buckets=32
        ).upsert(s.createDataFrame([(x, b) for x in k], "k long, v long"), b),
    }


@pytest.mark.parametrize("name", sorted(_pruning_cases()))
def test_one_key_batch_scans_one_bucket(spark, tmp_path, name):
    """After a 400-key first batch into a 32-bucket store, a one-key
    batch scans only its key's bucket: no scan reads more files than
    one bucket directory holds. An operator on `SnapshotStore.advance`
    scans the store once."""
    land = _pruning_cases()[name]
    path = str(tmp_path / "store")
    land(spark, range(400), 0, path)
    per_bucket = _bucket_files(path)
    counts = files_read(spark, lambda: land(spark, [7], 1, path))
    assert counts and max(counts) <= per_bucket, (counts, per_bucket)
    if name != "upsert":
        assert len(counts) == 1, counts


def test_resweep_after_a_collapse_crashed_before_its_deletes(
    spark, tmp_path, monkeypatch
):
    """`resweep_decontaminate` reads the gram store's live batches
    only: after a collapse that crashed before deleting the folded
    batches, the stale directories left behind are not read, and the
    delta equals the one over a cleanly collapsed store."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        resweep_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(1, "shared words one two three four five six seven 0"),
         (2, " ".join(f"w0_{i}" for i in range(10))),
         (3, " ".join(f"w2_{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    stores = {}
    for name in ("clean", "crashed"):
        store = _store(spark, "grams", str(tmp_path / name))
        for b in range(3):
            _land(spark, "grams", store, b)
        stores[name] = store
    stores["clean"].collapse(1)
    monkeypatch.setattr(BatchStore, "delete_batches", _crash)
    with pytest.raises(Crash):
        stores["crashed"].collapse(1)
    monkeypatch.undo()
    assert 0 in stores["crashed"].batch_ids()

    def resweep(store):
        return _rows(resweep_decontaminate(spark, store.path, corpus, since_batch=0))

    assert resweep(stores["crashed"]) == resweep(stores["clean"])


def _fold_files(store, base: int) -> int:
    import os

    d = os.path.join(store.path, f"batch_id={base}")
    return sum(f.endswith(".parquet") for f in os.listdir(d))


def test_collapse_fold_is_sized_by_the_data(spark, tmp_path):
    """`collapse` writes the fold with the merge's own partitioning: a
    register-sized fold stays one file, and a versioned-log fold larger
    than the advisory partition size (lowered here, with the minimum
    coalesced size, so a small log spans several) is written by
    several tasks."""
    regs = _store(spark, "cms", str(tmp_path / "cms"))
    for b in range(3):
        _land(spark, "cms", regs, b)
    assert regs.collapse(1)["batches_folded"] == 1
    assert _fold_files(regs, 1) == 1

    log = _store(spark, "versioned", str(tmp_path / "versioned"))
    for b in range(2):
        log.upsert(b, spark.range(20_000).select(
            F.col("id").alias("k"),
            F.concat(F.lit(f"value-{b}-"), F.col("id").cast("string")).alias("v"),
            F.lit(0).cast("long").alias("seq"),
            F.lit(False).alias("del_flag"),
        ))
    conf = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        assert log.collapse(1)["rows"] == 20_000
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert _fold_files(log, 1) > 1
