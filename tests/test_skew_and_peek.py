"""Tests for skew-mitigation operators and peek/observe."""

from __future__ import annotations

from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.operators.core import grouped_count, peek
from umn_eda_kafka_stream_processing_spark.operators.skew import salted_agg, salted_grouped_count


def test_salted_count_matches_plain_count(spark):
    df = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(7)],
        "k string, v long",
    )
    plain = {(r["k"], r["count"]) for r in grouped_count(df, "k").collect()}
    salted = {(r["k"], r["count"])
              for r in salted_grouped_count(df, "k", salt_buckets=8).collect()}
    salted_det = {(r["k"], r["count"])
                  for r in salted_grouped_count(df, "k", salt_cols=["v"]).collect()}
    assert salted == plain == salted_det == {("hot", 500), ("cold", 7)}


def test_salted_agg_distributive(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0)], "k string, v double"
    )
    got = {
        (r["k"], r["s"], r["mx"])
        for r in salted_agg(
            df, "k",
            partial_aggs=[F.sum("v").alias("s"), F.max("v").alias("mx")],
            final_aggs=[F.sum("s").alias("s"), F.max("mx").alias("mx")],
            salt_cols=["v"],
        ).collect()
    }
    assert got == {("a", 6.0, 3.0), ("b", 10.0, 10.0)}


def test_peek_is_passthrough(spark):
    df = spark.createDataFrame([(1,), (2,)], "x long")
    observed = peek(df, F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
    assert sorted(r["x"] for r in observed.collect()) == [1, 2]


def test_topk_as_ordered_map(spark):
    from umn_eda_kafka_stream_processing_spark.operators.core import grouped_topk, topk_as_ordered_map

    df = spark.createDataFrame(
        [("c1", "a1", 5), ("c1", "a2", 9), ("c1", "a3", 1), ("c2", "a1", 2)],
        "customerid string, artistid string, count long",
    )
    topk = grouped_topk(
        df, ["customerid"], [F.col("count").desc(), F.col("artistid").asc()], 2
    )
    got = {r["customerid"]: [(s["name"], s["count"]) for s in r["top"]]
           for r in topk_as_ordered_map(topk, "customerid", "artistid").collect()}
    assert got == {"c1": [("a2", 9), ("a1", 5)], "c2": [("a1", 2)]}


def test_salted_join_matches_plain_join_property(spark):
    """Property: for every left-preserving how, salted_join is
    multiset-identical to the plain join — i.e. each (left, right)
    pair matches EXACTLY once despite the b-side salt replication,
    and unmatched-left semantics are unchanged. Randomized frames
    with duplicate keys on both sides and keys unique to each side."""
    import random

    from umn_eda_kafka_stream_processing_spark.operators.skew import salted_join

    rng = random.Random(41)
    for trial in range(3):
        # NULL keys included: SQL equi-join semantics (NULL matches
        # nothing) must survive the salting on both sides
        lrows = [
            (rng.randint(0, 6) if rng.random() > 0.1 else None, i)
            for i in range(rng.randint(5, 40))
        ]
        rrows = [
            (rng.randint(2, 9) if rng.random() > 0.1 else None, 100 + i)
            for i in range(rng.randint(5, 40))
        ]
        left = spark.createDataFrame(lrows, "k long, lv long")
        right = spark.createDataFrame(rrows, "k long, rv long")
        nkey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        for how in ("inner", "left", "left_semi", "left_anti"):
            plain = sorted(
                (tuple(r) for r in left.join(right, "k", how).collect()),
                key=nkey,
            )
            salted = sorted(
                (
                    tuple(r)
                    for r in salted_join(
                        left, right, "k", salt_buckets=5, how=how
                    ).collect()
                ),
                key=nkey,
            )
            assert salted == plain, (trial, how)


_SKEW_LOG = "umn_eda_kafka_stream_processing_spark.skew"


def _census_decision(df, key="k", census=None):
    """Salting-only decision from a key census (collected here unless
    a precomputed one is passed)."""
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        decide_join_strategy,
        key_skew_census,
    )

    if census is None:
        census = key_skew_census(df, key, key).collect()[0]
    return decide_join_strategy(census["n_rows"], census["max_cnt"], None)


def _register_decision(left_rows, right_rows, **thresholds):
    """All seven advisor scalars from collected CMS register rows."""
    from umn_eda_kafka_stream_processing_spark.operators.sketches import (
        cms_register_stats,
    )
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        decide_join_strategy,
    )

    stats = cms_register_stats(left_rows, right_rows)
    return stats | decide_join_strategy(
        stats["rows_left"], stats["top_cnt_left_ub"], stats["rows_right"],
        **thresholds,
    )


def test_maybe_salted_join_decision_and_equivalence(spark, caplog):
    """Census-driven salting: on BOTH a skewed and a uniform fixture
    the executed join equals the plain join exactly, and the decision
    salts ONLY the skewed one (observable via the audit log)."""
    import logging

    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        join_with_strategy,
    )

    right = spark.createDataFrame(
        [(f"k{i}", i * 10) for i in range(20)], "k string, payload long"
    )
    skewed = spark.createDataFrame(
        [("k1", i) for i in range(400)]
        + [(f"k{i % 20}", 1000 + i) for i in range(50)],
        "k string, v long",
    )
    uniform = spark.createDataFrame(
        [(f"k{i % 20}", i) for i in range(400)], "k string, v long"
    )
    for df, expect_salted in ((skewed, True), (uniform, False)):
        plain = {
            (r["k"], r["v"], r["payload"])
            for r in df.join(right, "k").collect()
        }
        decision = _census_decision(df)
        with caplog.at_level(logging.INFO, logger=_SKEW_LOG):
            caplog.clear()
            advised = join_with_strategy(
                df, right, "k", decision, salt_buckets=4,
                left_salt_cols=["v"],
            )
            got = [
                (r["k"], r["v"], r["payload"]) for r in advised.collect()
            ]
        assert len(got) == len(set(got)), "a pair met more than once"
        assert set(got) == plain
        decisions = [
            rec for rec in caplog.records if rec.name == _SKEW_LOG
        ]
        assert len(decisions) == 1
        msg = decisions[0].getMessage()
        assert ("salted_shuffle_hash" in msg) is expect_salted
        assert "share_left_micro_ub" in msg

    # a precomputed census skips the planning job and drives the same
    # decision (train-once/serve-many)
    pre = {"n_rows": 100, "max_cnt": 50, "top_key": "k1"}
    decision = _census_decision(None, census=pre)
    assert decision == {
        "strategy": "salted_shuffle_hash", "share_left_micro_ub": 500_000
    }
    got = {
        (r["k"], r["v"], r["payload"])
        for r in join_with_strategy(
            skewed, right, "k", decision, salt_buckets=4,
            left_salt_cols=["v"],
        ).collect()
    }
    assert got == {
        (r["k"], r["v"], r["payload"])
        for r in skewed.join(right, "k").collect()
    }


def test_maybe_salted_agg_decision_and_equivalence(spark):
    """Agg-side salting: the census decision picks `salted_agg` or the
    plain groupBy.agg, the result equals the plain groupBy.agg exactly
    on both fixtures, the decision salts ONLY the skewed one, and a
    precomputed census drives the same decision."""
    from pyspark.sql import functions as F

    skewed = spark.createDataFrame(
        [("k1", i) for i in range(400)]
        + [(f"k{i % 20}", 1000 + i) for i in range(50)],
        "k string, v long",
    )
    uniform = spark.createDataFrame(
        [(f"k{i % 20}", i) for i in range(400)], "k string, v long"
    )
    plain_aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.max("v").cast("long").alias("m"),
    ]

    def advised(df, decision):
        if decision["strategy"] != "salted_shuffle_hash":
            return df.groupBy("k").agg(*plain_aggs)
        return salted_agg(
            df, "k",
            partial_aggs=[
                F.count(F.lit(1)).alias("_n"),
                F.sum("v").alias("_s"),
                F.max("v").alias("_m"),
            ],
            final_aggs=[
                F.sum("_n").cast("long").alias("n"),
                F.sum("_s").cast("long").alias("s"),
                F.max("_m").cast("long").alias("m"),
            ],
            salt_buckets=4, salt_cols=["v"],
        )

    def rows(df):
        return {(r["k"], r["n"], r["s"], r["m"]) for r in df.collect()}

    for df, expect_salted in ((skewed, True), (uniform, False)):
        decision = _census_decision(df)
        assert (decision["strategy"] == "salted_shuffle_hash") is expect_salted
        assert rows(advised(df, decision)) == rows(
            df.groupBy("k").agg(*plain_aggs)
        )

    pre = {"n_rows": 100, "max_cnt": 50, "top_key": "k1"}
    decision = _census_decision(None, census=pre)
    assert decision["strategy"] == "salted_shuffle_hash"
    assert rows(advised(skewed, decision)) == rows(
        skewed.groupBy("k").agg(*plain_aggs)
    )


def test_maybe_broadcast_join_decision_and_equivalence(spark, caplog):
    """Build-side-count decision: results equal the plain join either
    way; a small build side broadcasts (BroadcastHashJoin in the
    plan), a large one shuffles (ShuffledHashJoin); a precomputed row
    count drives the decision without a count; right-preserving hows
    raise."""
    import logging

    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        decide_join_strategy,
        join_with_strategy,
    )

    left = spark.createDataFrame(
        [(f"k{i % 20}", i) for i in range(300)], "k string, v long"
    )
    right = spark.createDataFrame(
        [(f"k{i}", i * 10) for i in range(20)], "k string, payload long"
    )
    plain = {
        (r["k"], r["v"], r["payload"]) for r in left.join(right, "k").collect()
    }
    for max_rows, strategy, node in (
        (1000, "broadcast", "BroadcastHashJoin"),
        (5, "shuffle_hash", "ShuffledHashJoin"),
    ):
        decision = decide_join_strategy(
            0, 0, right.count(), max_broadcast_rows=max_rows
        )
        assert decision["strategy"] == strategy
        with caplog.at_level(logging.INFO, logger=_SKEW_LOG):
            caplog.clear()
            j = join_with_strategy(left, right, "k", decision)
            got = {(r["k"], r["v"], r["payload"]) for r in j.collect()}
        assert got == plain
        assert strategy in caplog.records[-1].getMessage()
        assert node in j._jdf.queryExecution().executedPlan().toString()
    # a precomputed build-side count overrides reality (train-once path)
    decision = decide_join_strategy(0, 0, 3, max_broadcast_rows=5)
    assert decision["strategy"] == "broadcast"
    j = join_with_strategy(left, right, "k", decision)
    assert {(r["k"], r["v"], r["payload"]) for r in j.collect()} == plain
    try:
        join_with_strategy(left, right, "k", decision, how="full_outer")
    except ValueError as e:
        assert "left-preserving" in str(e)
    else:
        raise AssertionError("full_outer must raise")


def test_cms_join_size_matches_python_replica(spark):
    """CMS join-size estimate: equals the Python replica of the
    identical md5 register dot-product min, and never underestimates
    the exact join cardinality."""
    import hashlib

    from umn_eda_kafka_stream_processing_spark.operators.sketches import (
        _CMS_D,
        _CMS_W,
        cms_join_size,
        cms_registers,
    )

    a_keys = [i % 13 for i in range(400)]
    b_keys = [i % 7 for i in range(150)]
    a = spark.createDataFrame([(k,) for k in a_keys], "k long")
    b = spark.createDataFrame([(k,) for k in b_keys], "k long")
    est = cms_join_size(
        cms_registers(a, "k"), cms_registers(b, "k")
    ).collect()[0]["est_join_rows"]

    def bucket(row, key):
        h = hashlib.md5(f"cms|{row}|{key}".encode()).hexdigest()[:8]
        return int(h, 16) % _CMS_W

    dots = []
    for r in range(_CMS_D):
        ra: dict = {}
        rb: dict = {}
        for k in a_keys:
            ra[bucket(r, k)] = ra.get(bucket(r, k), 0) + 1
        for k in b_keys:
            rb[bucket(r, k)] = rb.get(bucket(r, k), 0) + 1
        dots.append(sum(c * rb.get(bk, 0) for bk, c in ra.items()))
    assert int(est) == min(dots)
    from collections import Counter

    ca, cb = Counter(a_keys), Counter(b_keys)
    exact = sum(n * cb.get(k, 0) for k, n in ca.items())
    assert int(est) >= exact
    # fully disjoint register tables: the min runs over ALL d hash
    # rows, so the estimate is 0 — never NULL, never a missing-row
    # inflated min (round-10 advice)
    c = spark.createDataFrame([("left-only",)], "k string")
    d = spark.createDataFrame([("right-only",)], "k string")
    zero = cms_join_size(
        cms_registers(c, "k"), cms_registers(d, "k")
    ).collect()
    assert len(zero) == 1 and int(zero[0]["est_join_rows"]) == 0


def test_advise_join_strategy_from_standing_registers_flips(spark, tmp_path):
    """The decision closed over incremental CMS register stores:
    decisions come from standing sketches (zero planning jobs on the
    data), the exact row counts and conservative skew bound are
    pinned against Python, and the strategy FLIPS from broadcast to
    shuffle_hash once enough batches grow the build side past the
    row bound — then to salted when the probe side turns skewed."""
    from umn_eda_kafka_stream_processing_spark.operators.sketches import (
        cms_registers,
        merge_cms,
    )
    from umn_eda_kafka_stream_processing_spark.stores import CMS_HORIZON, BatchStore

    left = BatchStore(spark, str(tmp_path / "regs_left"), merge_cms, CMS_HORIZON)
    right = BatchStore(spark, str(tmp_path / "regs_right"), merge_cms, CMS_HORIZON)

    def keys(rows):
        return cms_registers(spark.createDataFrame(rows, "k long"), "k")

    # batch 0: uniform left, tiny right -> broadcast
    left.upsert(0, keys([(i,) for i in range(200)]))
    right.upsert(0, keys([(i,) for i in range(50)]))

    def decide():
        return _register_decision(
            left.read().collect(),
            right.read().collect(),
            max_broadcast_rows=100,
            max_share_micro=50_000,
        )

    d0 = decide()
    assert (d0["rows_left"], d0["rows_right"]) == (200, 50)
    assert d0["strategy"] == "broadcast"
    # batches 1-2 grow the right side past the broadcast bound
    for bid in (1, 2):
        right.upsert(bid, keys([(1000 * bid + i,) for i in range(40)]))
    d1 = decide()
    assert d1["rows_right"] == 130 and d1["strategy"] == "shuffle_hash"
    # batch 1 replay: batch-keyed registers, decision unchanged
    right.upsert(1, keys([(1000 + i,) for i in range(40)]))
    d1r = decide()
    assert (d1r["rows_right"], d1r["strategy"]) == (130, "shuffle_hash")
    # a skewed left batch pushes the heaviest-key bound over 5%
    left.upsert(1, keys([(7,)] * 100))
    d2 = decide()
    assert d2["rows_left"] == 300
    assert d2["top_cnt_left_ub"] >= 100  # >= true heaviest (101)
    assert d2["strategy"] == "salted_shuffle_hash"
    # the bound is an upper bound on the true heaviest key, and the
    # est join size overestimates the true cartesian contribution
    assert d2["share_left_micro_ub"] >= (1_000_000 * 101 + 150) // 300
    true_join = 101 * 1  # key 7 appears 101x left, 1x right
    assert d2["est_join_rows"] >= true_join


def test_join_strategy_decision_equals_duckdb_reference(spark):
    """Differential test of the decision path against the DuckDB
    oracle SQL (`catalog_sketches._duck_advise_case`): on randomized
    register tables spanning all three strategies, plus an empty left
    and an empty right side, every one of the seven scalars
    `cms_register_stats` + `decide_join_strategy` yield equals the
    reference's."""
    import random

    import duckdb

    from umn_eda_kafka_stream_processing_spark.operators.sketches import (
        cms_registers,
    )
    from umn_eda_kafka_stream_processing_spark.plans.catalog_sketches import (
        _duck_advise_case,
    )

    rng = random.Random(14)
    fixtures = [
        # (left keys, right keys) spanning broadcast / hash / salted
        ([rng.randrange(500) for _ in range(800)],
         [rng.randrange(100) for _ in range(40)]),
        ([rng.randrange(500) for _ in range(800)],
         list(range(700))),
        ([7] * 600 + [rng.randrange(10_000) for _ in range(200)],
         list(range(900))),
        ([], list(range(10))),           # empty left
        ([1, 2, 3], []),                 # empty right
    ]
    con = duckdb.connect()
    seen = set()
    for i, (lkeys, rkeys) in enumerate(fixtures):
        label = f"f{i}"
        regs = {}
        for pre, ks in (("ra", lkeys), ("rb", rkeys)):
            regs[pre] = [
                (r["row"], r["bucket"], r["cnt"])
                for r in cms_registers(
                    spark.createDataFrame([(k,) for k in ks], "k long"), "k"
                ).collect()
            ]
            con.execute(
                f"CREATE TABLE {pre}_{label} "
                "(row INTEGER, bucket BIGINT, cnt BIGINT)"
            )
            if regs[pre]:
                con.executemany(
                    f"INSERT INTO {pre}_{label} VALUES (?, ?, ?)", regs[pre]
                )
        cur = con.execute(_duck_advise_case(label, "k", "k", 100, 50_000))
        want = dict(zip([c[0] for c in cur.description], cur.fetchone()))
        assert want.pop("case_name") == label
        got = _register_decision(
            regs["ra"], regs["rb"],
            max_broadcast_rows=100, max_share_micro=50_000,
        )
        assert got == want, label
        seen.add(got["strategy"])
    assert seen == {"broadcast", "shuffle_hash", "salted_shuffle_hash"}


def test_join_with_strategy_checks_how_before_the_strategy(spark, tmp_path):
    """Every strategy returns the identical rows; a right-preserving
    ``how`` raises on EVERY strategy — not only once a batch flips to
    salted — and already when the advised pipeline is built; an
    unknown strategy raises."""
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        join_with_strategy,
    )
    from umn_eda_kafka_stream_processing_spark.streaming.advised import (
        make_advised_enrichment_batch_fn,
    )

    left = spark.createDataFrame(
        [(i % 10, i) for i in range(60)], "k long, lv long"
    )
    right = spark.createDataFrame(
        [(i, 100 + i) for i in range(10)], "k long, rv long"
    )
    want = sorted(map(tuple, left.join(right, "k").collect()))
    for strat in ("broadcast", "salted_shuffle_hash", "shuffle_hash"):
        got = sorted(
            map(
                tuple,
                join_with_strategy(
                    left, right, "k", {"strategy": strat}
                ).collect(),
            )
        )
        assert got == want, strat
        for how in ("full_outer", "right", "cross"):
            try:
                join_with_strategy(
                    left, right, "k", {"strategy": strat}, how=how
                )
            except ValueError as e:
                assert "left-preserving" in str(e)
            else:
                raise AssertionError(f"{strat} accepted how={how!r}")
    try:
        make_advised_enrichment_batch_fn(
            spark,
            dim_snapshot_path=str(tmp_path / "dim"),
            left_regs_path=str(tmp_path / "l"),
            right_regs_path=str(tmp_path / "r"),
            out_path=str(tmp_path / "out"),
            decisions_path=str(tmp_path / "dec"),
            on="k",
            how="full_outer",
        )
    except ValueError as e:
        assert "left-preserving" in str(e)
    else:
        raise AssertionError("advised pipeline accepted how='full_outer'")
    try:
        join_with_strategy(left, right, "k", {"strategy": "nope"})
    except ValueError as e:
        assert "nope" in str(e)
    else:
        raise AssertionError("unknown strategy must raise")


def test_salted_join_rejects_right_preserving_how(spark):
    from umn_eda_kafka_stream_processing_spark.operators.skew import salted_join

    df = spark.range(3).withColumnRenamed("id", "k")
    try:
        salted_join(df, df, "k", how="full_outer")
    except ValueError as e:
        assert "left-preserving" in str(e)
    else:
        raise AssertionError("full_outer must be rejected")
