"""Tests of the benchmark itself: seeded inputs, output checks, probes.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import workloads
from probe import SparkProbe, Tracer


def _files(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("stage", [gen.stage_replay, gen.stage_store])
def test_same_seed_stages_byte_identical_inputs(tmp_path, stage):
    stage(str(tmp_path / "a"), 7)
    stage(str(tmp_path / "b"), 7)
    stage(str(tmp_path / "c"), 8)
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_store_fact_skew_drifts_and_flips_the_decision_inputs(tmp_path):
    layout = gen.stage_store(str(tmp_path), 3)
    counts: dict[int, int] = {}
    shares = []
    for path in layout["fact"]:
        for k in pq.read_table(path)["k"].to_pylist():
            counts[k] = counts.get(k, 0) + 1
        shares.append(max(counts.values()) / sum(counts.values()))
    # cumulative top-key share rises batch over batch and crosses the
    # advisor's 5% salting bar by the batch the dim outgrows broadcast
    assert all(a < b for a, b in zip(shares, shares[1:]))
    assert shares[0] < 0.05 < shares[2]
    dim_rows = np.cumsum([pq.read_metadata(p).num_rows for p in layout["dim"]])
    assert dim_rows[1] <= gen.STORE_MAX_BROADCAST_ROWS < dim_rows[2]


def test_replay_tickets_are_hot_and_streams_are_wide(tmp_path):
    layout = gen.stage_replay(str(tmp_path), 5)

    def keys(topic, field):
        out = []
        for f in sorted(os.listdir(layout["topics"][topic])):
            t = pq.read_table(os.path.join(layout["topics"][topic], f))
            out += [json.loads(v)[field] for v in t["value"].to_pylist()]
        return out

    events = keys("tickets", "eventid")
    customers = keys("streams", "customerid")
    top_event = max(events.count(e) for e in set(events)) / len(events)
    assert top_event > 0.2  # hot keys: one concert takes a fifth of all tickets
    assert len(set(customers)) > 0.6 * len(customers)  # wide keys


def test_corrupted_results_count_as_failures():
    cols = ("a", "b")
    rows = [(1, 0.5), (2, None)]
    good = workloads.result_hash(cols, rows)
    assert workloads.result_hash(cols, list(reversed(rows))) == good
    bad = workloads.result_hash(cols, [(1, 0.5), (2, 0.0)])
    assert workloads.failed_queries({"q": bad, "r": good}, {"q": good, "r": good}) == {"q"}

    final = {"T": {("k1",): [("k1", 1)], ("k2",): [("k2", 3)]}}
    ref = {"T": workloads.result_hash(("key", "count"), [("k1", 1), ("k2", 2)])}
    assert workloads.failed_topologies(final, ref, {"T": ("key", "count")}) == {"T"}

    expected = [{"batch_id": 0, "join_rows": 2, "revenue_cents": 300},
                {"batch_id": 1, "join_rows": 1, "revenue_cents": 50}]
    state = {"out": {0: (2, 300), 1: (1, 50)}, "decisions": [("0",), ("1",)]}
    assert workloads.failed_store_ops(expected, state, state) == set()
    corrupt = {"out": {0: (2, 301), 1: (1, 50)}, "decisions": [("0",), ("1",)]}
    assert workloads.failed_store_ops(expected, corrupt, corrupt) == {"pair0"}
    assert workloads.failed_store_ops(expected, state, corrupt) == {"replay"}


def test_catalog_recheck_mismatch_fails_every_pass(tmp_path, monkeypatch):
    cat = workloads.Catalog(str(tmp_path), 1, str(tmp_path / "cache"))
    cat.stage()
    cat.oracle = {q: "h" for q in workloads.CATALOG_MIX}
    cat.failed = set()
    stale = {q: "h" for q in workloads.CATALOG_MIX}
    stale["dedup_pipeline_summary"] = "stale"  # a wrong session-cached read
    monkeypatch.setattr(cat, "_collect_hashes", lambda spark: stale)
    passes = [{"ops": [0.1] * 7, "failed_ops": 0}, {"ops": [0.1] * 7, "failed_ops": 0}]
    cat.check(None, passes)
    assert [p["failed_ops"] for p in passes] == [1, 1]
    assert passes[0]["failed"] == ["dedup_pipeline_summary"]


def test_tail_is_the_interpolated_p90():
    assert workloads.tail([float(i) for i in range(1, 12)]) == pytest.approx(10.0)
    assert workloads.tail([2.0, 1.0, 4.0, 3.0, 6.0, 5.0]) == pytest.approx(5.5)
    assert workloads.tail([3.0]) == 3.0


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "call", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "call", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert tr.self_times() == {"pass": 5.0, "call": 6.0}


@pytest.fixture(scope="module")
def spark():
    from umn_eda_kafka_stream_processing_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", extra_conf={
        "spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_probe_counts_repeat_exactly_for_the_same_operation(spark, tmp_path):
    store = workloads.StorePipeline(str(tmp_path), 4)
    store.stage()
    probe = SparkProbe(spark)
    counts = []
    for rep in range(2):
        dim_fn, fact_fn = store._fns(spark, str(tmp_path / f"run{rep}"))
        pair = []
        for b in range(2):
            first = probe.start(f"pair{b}")
            dim_fn(spark.read.parquet(store.layout["dim"][b]), b)
            fact_fn(spark.read.parquet(store.layout["fact"][b]), b)
            c = probe.finish(first)
            pair.append((c["jobs"], c["stages"], c["tasks"]))
        counts.append(pair)
    assert counts[0] == counts[1]
    assert all(jobs > 0 and stages > 0 and tasks > 0 for jobs, stages, tasks in counts[0])
