"""Property-based tests (hypothesis): operator semantics vs
brute-force Python reference implementations on randomized inputs.

Kept to few, small examples — each example is a Spark job. The
properties cover the operators whose edge behavior is easiest to get
wrong: as-of inclusivity/ordering, latest-by-key with duplicate
seqs, and top-k tie determinism.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.operators.core import grouped_topk, latest_by_key
from umn_eda_kafka_stream_processing_spark.operators.joins import asof_join

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_keys = st.sampled_from(["k1", "k2"])


@given(
    facts=st.lists(st.tuples(_keys, st.integers(0, 20)), min_size=1, max_size=8),
    updates=st.lists(st.tuples(_keys, st.integers(0, 20)), min_size=1, max_size=8),
)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, facts, updates):
    # dedupe updates per (key, time): operator contract
    upd = {(k, t): f"v{k}{t}" for k, t in updates}
    fdf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(facts)], "k string, t long, fid long"
    )
    udf = spark.createDataFrame(
        [(k, t, v) for (k, t), v in upd.items()], "k string, ut long, val string"
    )
    got = {r["fid"]: r["val"]
           for r in asof_join(fdf, udf, "k", "t", "ut", ["val"], how="left").collect()}
    for i, (k, t) in enumerate(facts):
        cands = [(ut, v) for (uk, ut), v in upd.items() if uk == k and ut <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, cands)


@given(
    rows=st.lists(
        st.tuples(_keys, st.integers(0, 5), st.integers(0, 99)),
        min_size=1, max_size=10,
    ),
)
@settings(**_SETTINGS)
def test_latest_by_key_is_max_seq(spark, rows):
    # unique seq per row (append arrival order to break seq ties the
    # same way Kafka offsets would — the engine requires a total order)
    data = [(k, v, i) for i, (k, _s, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k string, v long, event_seq long")
    got = {r["k"]: r["v"] for r in latest_by_key(df, "k").collect()}
    want = {}
    for k, v, seq in data:
        want[k] = v  # increasing seq == arrival order
    assert got == want


@given(
    counts=st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.sampled_from("abcde"),
                  st.integers(1, 9)),
        min_size=1, max_size=12, unique_by=lambda t: (t[0], t[1]),
    ),
    k=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_grouped_topk_deterministic_ties(spark, counts, k):
    df = spark.createDataFrame(counts, "g string, item string, count long")
    out = grouped_topk(
        df, ["g"], [F.col("count").desc(), F.col("item").asc()], k
    ).collect()
    by_group: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["g"], r["rank"])):
        by_group.setdefault(r["g"], []).append((r["item"], r["count"]))
    for g in {c[0] for c in counts}:
        rows = [(i, n) for gg, i, n in counts if gg == g]
        want = sorted(rows, key=lambda t: (-t[1], t[0]))[:k]
        assert by_group.get(g, []) == want


@given(
    build=st.sets(st.integers(0, 10_000), min_size=1, max_size=12),
    probe=st.sets(st.integers(0, 10_000), min_size=1, max_size=20),
)
@settings(**_SETTINGS)
def test_bloom_filter_never_false_negative(spark, build, probe):
    """Bloom guarantee under randomized key sets: every build key
    passes the probe predicate, for any m/k — membership is derived
    from the same md5 positions on both sides, so a false negative
    is impossible unless the build/probe hashing drifts apart."""
    from umn_eda_kafka_stream_processing_spark.operators import runtime_filter as rf

    bdf = spark.createDataFrame([(k,) for k in sorted(build)], "k long")
    pdf = spark.createDataFrame(
        [(k,) for k in sorted(build | probe)], "k long"
    )
    words = rf.bloom_build(bdf, "k", m_bits=256, k_hashes=2)
    got = {r["k"]: r["hit"] for r in pdf.withColumn(
        "hit", rf.bloom_might_contain("k", words, m_bits=256, k_hashes=2)
    ).collect()}
    assert all(got[k] for k in build)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 30),            # id
            st.sampled_from(["a", "b"]),   # snapshot membership bits
            st.integers(0, 3),             # value
        ),
        min_size=1,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_snapshot_diff_matches_bruteforce(spark, rows):
    """snapshot_diff vs a dict-based reference: random one-row-per-key
    old/new snapshots (overlapping, disjoint, NULL-valued) classify
    identically."""
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        snapshot_diff,
    )

    old = {}
    new = {}
    for i, (k, side, v) in enumerate(rows):
        val = None if v == 3 else v
        if side == "a" or i % 3 == 0:
            old[k] = val
        if side == "b" or i % 2 == 0:
            new[k] = val if i % 5 else (None if val is not None else 0)
    if not old or not new:
        return
    odf = spark.createDataFrame(
        [(k, v) for k, v in old.items()], "k long, v long"
    )
    ndf = spark.createDataFrame(
        [(k, v) for k, v in new.items()], "k long, v long"
    )
    got = {
        r["k"]: (r["change"], r["v"])
        for r in snapshot_diff(odf, ndf, "k").collect()
    }
    for k in set(old) | set(new):
        if k not in old:
            want = ("inserted", new[k])
        elif k not in new:
            want = ("deleted", old[k])
        elif old[k] == new[k]:
            want = ("unchanged", new[k])
        else:
            want = ("updated", new[k])
        assert got[k] == want, (k, old.get(k, "<absent>"), new.get(k, "<absent>"))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 40), st.sampled_from(["x", "y", "z"])),
        min_size=1,
        max_size=14,
    ),
    target_rows=st.integers(1, 4),
)
@settings(**{**_SETTINGS, "max_examples": 4})  # one append per row: each
# example pays ~14 write jobs — 4 examples keep the property meaningful
# without dominating the suite
def test_compact_store_property_content_and_idempotence(
    spark, tmp_path_factory, rows, target_rows
):
    """SnapshotStore.maintain on random append-built stores: content exactly
    preserved, per-bucket file counts land at <= ceil(rows/target),
    and a second compaction selects nothing."""
    import math
    import os
    from collections import Counter

    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    path = str(tmp_path_factory.mktemp("cs") / "store")
    # keys for the split salt; no order column, so no latest-wins heal
    store = SnapshotStore(spark, path, "id", "bucket")
    # one append per row — worst-case fragmentation
    for i, (k, b) in enumerate(rows):
        spark.createDataFrame(
            [(k, b, i)], "id long, bucket string, seq long"
        ).coalesce(1).write.mode("append").partitionBy("bucket").parquet(path)
    before = sorted(
        (r["id"], r["bucket"], r["seq"])
        for r in spark.read.parquet(path).collect()
    )
    store.maintain(target_rows=target_rows)
    after = sorted(
        (r["id"], r["bucket"], r["seq"])
        for r in spark.read.parquet(path).collect()
    )
    assert after == before
    per_bucket = Counter(b for _, b in rows)
    for b, n in per_bucket.items():
        files = [
            f for f in os.listdir(os.path.join(path, f"bucket={b}"))
            if f.endswith(".parquet")
        ]
        assert len(files) <= math.ceil(n / target_rows), (b, n, files)
    replay = store.maintain(target_rows=target_rows)
    assert replay["partitions_rewritten"] == 0
    assert sorted(
        (r["id"], r["bucket"], r["seq"])
        for r in spark.read.parquet(path).collect()
    ) == before
