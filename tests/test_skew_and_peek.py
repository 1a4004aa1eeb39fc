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


def test_maybe_salted_join_decision_and_equivalence(spark, caplog):
    """Auto-salt advisor property: on BOTH a skewed and a uniform
    fixture the result equals the plain join exactly, and the census
    decision salts ONLY the skewed one (observable via the audit
    log)."""
    import logging

    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        maybe_salted_join,
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
    logger = "umn_eda_kafka_stream_processing_spark.skew"
    for df, expect_salted in ((skewed, True), (uniform, False)):
        plain = {
            (r["k"], r["v"], r["payload"])
            for r in df.join(right, "k").collect()
        }
        with caplog.at_level(logging.INFO, logger=logger):
            caplog.clear()
            advised = maybe_salted_join(
                df, right, "k", salt_buckets=4, left_salt_cols=["v"]
            )
            got = [
                (r["k"], r["v"], r["payload"]) for r in advised.collect()
            ]
        assert len(got) == len(set(got)), "a pair met more than once"
        assert set(got) == plain
        decisions = [
            rec for rec in caplog.records if rec.name == logger
        ]
        assert len(decisions) == 1
        assert ("SALTED" in decisions[0].getMessage()) is expect_salted

    # a precomputed census skips the planning job and drives the same
    # decision (train-once/serve-many)
    pre = {"n_rows": 100, "max_cnt": 50, "top_key": "k1"}
    with caplog.at_level(logging.INFO, logger=logger):
        caplog.clear()
        got = {
            (r["k"], r["v"], r["payload"])
            for r in maybe_salted_join(
                skewed, right, "k", census=pre, salt_buckets=4,
                left_salt_cols=["v"],
            ).collect()
        }
    assert got == {
        (r["k"], r["v"], r["payload"])
        for r in skewed.join(right, "k").collect()
    }
    assert "SALTED" in caplog.records[-1].getMessage()


def test_maybe_salted_agg_decision_and_equivalence(spark, caplog):
    """Agg-side advisor property (maybe_salted_join's twin): result
    equals the plain groupBy.agg exactly on both fixtures; the census
    salts ONLY the skewed one; a precomputed census skips the
    planning job and drives the same decision."""
    import logging

    from pyspark.sql import functions as F

    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        maybe_salted_agg,
    )

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
    partial_aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum("v").alias("_s"),
        F.max("v").alias("_m"),
    ]
    final_aggs = [
        F.sum("_n").cast("long").alias("n"),
        F.sum("_s").cast("long").alias("s"),
        F.max("_m").cast("long").alias("m"),
    ]
    logger = "umn_eda_kafka_stream_processing_spark.skew"
    for df, expect_salted in ((skewed, True), (uniform, False)):
        plain = {
            (r["k"], r["n"], r["s"], r["m"])
            for r in df.groupBy("k").agg(*plain_aggs).collect()
        }
        with caplog.at_level(logging.INFO, logger=logger):
            caplog.clear()
            got = {
                (r["k"], r["n"], r["s"], r["m"])
                for r in maybe_salted_agg(
                    df, "k", plain_aggs, partial_aggs, final_aggs,
                    salt_buckets=4, salt_cols=["v"],
                ).collect()
            }
        assert got == plain
        decisions = [rec for rec in caplog.records if rec.name == logger]
        assert len(decisions) == 1
        assert ("SALTED" in decisions[0].getMessage()) is expect_salted

    pre = {"n_rows": 100, "max_cnt": 50, "top_key": "k1"}
    with caplog.at_level(logging.INFO, logger=logger):
        caplog.clear()
        got = {
            (r["k"], r["n"], r["s"], r["m"])
            for r in maybe_salted_agg(
                skewed, "k", plain_aggs, partial_aggs, final_aggs,
                census=pre, salt_buckets=4, salt_cols=["v"],
            ).collect()
        }
    assert got == {
        (r["k"], r["n"], r["s"], r["m"])
        for r in skewed.groupBy("k").agg(*plain_aggs).collect()
    }
    assert "SALTED" in caplog.records[-1].getMessage()


def test_maybe_broadcast_join_decision_and_equivalence(spark, caplog):
    """Join-strategy advisor: results equal the plain join either
    way; a small build side broadcasts (BroadcastHashJoin in the
    plan), a large one shuffles (ShuffledHashJoin); a precomputed
    build_rows drives the decision without a count; right-preserving
    hows raise."""
    import logging

    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        maybe_broadcast_join,
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
    logger = "umn_eda_kafka_stream_processing_spark.skew"
    for max_rows, expect_bcast, node in (
        (1000, True, "BroadcastHashJoin"),
        (5, False, "ShuffledHashJoin"),
    ):
        with caplog.at_level(logging.INFO, logger=logger):
            caplog.clear()
            j = maybe_broadcast_join(left, right, "k", max_rows=max_rows)
            got = {(r["k"], r["v"], r["payload"]) for r in j.collect()}
        assert got == plain
        msg = caplog.records[-1].getMessage()
        assert ("BROADCAST" in msg) is expect_bcast
        assert node in j._jdf.queryExecution().executedPlan().toString()
    # precomputed build_rows overrides reality (train-once path)
    with caplog.at_level(logging.INFO, logger=logger):
        caplog.clear()
        j = maybe_broadcast_join(
            left, right, "k", max_rows=5, build_rows=3
        )
        assert {(r["k"], r["v"], r["payload"]) for r in j.collect()} == plain
    assert "BROADCAST" in caplog.records[-1].getMessage()
    try:
        maybe_broadcast_join(left, right, "k", how="full_outer")
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
    """The advisor loop closed over incremental CMS register stores:
    decisions come from standing sketches (zero planning jobs on the
    data), the exact row counts and conservative skew bound are
    pinned against Python, and the strategy FLIPS from broadcast to
    shuffle_hash once enough batches grow the build side past the
    row bound — then to salted when the probe side turns skewed."""
    from umn_eda_kafka_stream_processing_spark.operators.sketches import (
        cms_registers,
        merge_cms,
    )
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        advise_join_strategy,
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
        return advise_join_strategy(
            left.read(),
            right.read(),
            max_broadcast_rows=100,
            max_share_micro=50_000,
        ).collect()[0]

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


def test_advise_join_strategy_rows_equals_dataframe(spark):
    """The pure-Python advisor twin (the advised pipeline's
    zero-job decision path) is integer-exact identical to the
    DataFrame version on randomized register tables across all three
    strategy regimes — every scalar, not just the strategy."""
    import random

    from umn_eda_kafka_stream_processing_spark.operators.sketches import (
        cms_registers,
    )
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        advise_join_strategy,
        advise_join_strategy_rows,
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
    seen = set()
    for lkeys, rkeys in fixtures:
        lregs = cms_registers(
            spark.createDataFrame([(k,) for k in lkeys], "k long")
            if lkeys else spark.createDataFrame([], "k long"),
            "k",
        )
        rregs = cms_registers(
            spark.createDataFrame([(k,) for k in rkeys], "k long")
            if rkeys else spark.createDataFrame([], "k long"),
            "k",
        )
        want = advise_join_strategy(
            lregs, rregs, max_broadcast_rows=100, max_share_micro=50_000
        ).collect()[0].asDict()
        got = advise_join_strategy_rows(
            [(r["row"], r["bucket"], r["cnt"]) for r in lregs.collect()],
            [(r["row"], r["bucket"], r["cnt"]) for r in rregs.collect()],
            max_broadcast_rows=100, max_share_micro=50_000,
        )
        want["est_join_rows"] = int(want["est_join_rows"])
        assert got == want
        seen.add(got["strategy"])
    assert seen == {"broadcast", "shuffle_hash", "salted_shuffle_hash"}
    # serve side: every chosen strategy returns the identical rows
    left = spark.createDataFrame(
        [(i % 10, i) for i in range(60)], "k long, lv long"
    )
    right = spark.createDataFrame(
        [(i, 100 + i) for i in range(10)], "k long, rv long"
    )
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        join_with_strategy,
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
