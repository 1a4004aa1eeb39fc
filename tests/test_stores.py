"""The shared store layer (stores.py): crash injection over every store
kind kept in a `BatchStore`, the concurrency helper's join-then-raise
contract, and the advised pipeline's no-orphaned-write guarantee."""

from __future__ import annotations

import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

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
