"""Unit tests for the exact-ranking operators (operators/ranking.py),
triangle census (operators/graph.py:triangle_stats), and the
funnel / Markov-transition temporal operators — each checked against
an independent brute-force Python reference on randomized micro data.
"""

from __future__ import annotations

import itertools
import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.operators.graph import triangle_stats
from umn_eda_kafka_stream_processing_spark.operators.ranking import (
    binary_auc,
    exact_quantiles,
    value_ranks,
)
from umn_eda_kafka_stream_processing_spark.operators.windows import (
    funnel_steps,
    transition_counts,
)


def test_value_ranks_matches_sorted_bruteforce(spark):
    rng = random.Random(7)
    vals = [rng.randint(0, 40) for _ in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: (r["cnt"], r["below"])
        for r in value_ranks(df, "v", n_buckets=8).collect()
    }
    s = sorted(vals)
    for v in set(vals):
        below = sum(1 for x in s if x < v)
        cnt = vals.count(v)
        assert got[v] == (cnt, below)


def test_value_ranks_single_distinct_value(spark):
    df = spark.createDataFrame([(5,)] * 9, "v long")
    rows = value_ranks(df, "v").collect()
    assert [(r["v"], r["cnt"], r["below"]) for r in rows] == [(5, 9, 0)]


def test_exact_quantiles_type1_semantics(spark):
    rng = random.Random(11)
    vals = [rng.uniform(-5, 5) for _ in range(301)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    probs = [(1, 4), (1, 2), (3, 4), (99, 100)]
    got = {
        r["pct_ppm"]: r["value"]
        for r in exact_quantiles(df, "v", probs, n_buckets=16).collect()
    }
    s = sorted(vals)
    n = len(s)
    for num, den in probs:
        rank = -(-num * n // den)  # ceil
        assert got[1_000_000 * num // den] == s[rank - 1]


def test_weighted_quantiles_matches_bruteforce(spark):
    """Type-1 weighted quantiles: smallest value whose cumulative
    WEIGHT reaches ceil(q*W) — brute-force check with ties, repeated
    values, and a zero-weight row that must be ignored."""
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        weighted_quantiles,
    )

    rng = random.Random(23)
    rows = [
        (rng.choice([1.5, 2.0, 2.0, 3.5, 7.0, 9.0]), rng.randint(1, 9))
        for _ in range(200)
    ] + [(0.5, 0)]  # zero weight: never a quantile
    df = spark.createDataFrame(rows, "v double, w long")
    probs = [(1, 4), (1, 2), (3, 4), (99, 100)]
    got = {
        r["pct_ppm"]: r["value"]
        for r in weighted_quantiles(
            df, "v", "w", probs, n_buckets=8
        ).collect()
    }
    expanded = sorted(v for v, w in rows for _ in range(w))
    tot = len(expanded)
    for num, den in probs:
        rank = -(-num * tot // den)  # ceil
        assert got[1_000_000 * num // den] == expanded[rank - 1]
    assert 0.5 not in got.values()


def test_grouped_exact_quantiles_matches_bruteforce(spark):
    """Per-group type-1 quantiles: every group's result equals the
    brute-force sorted-rank answer, including a single-value group
    (lo == hi bucket degenerate), a single-row group, skewed ties,
    and NULL values ignored."""
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_exact_quantiles,
    )

    rng = random.Random(7)
    rows = []
    data: dict = {}
    for g, n in (("a", 211), ("b", 37), ("one", 1), ("const", 24)):
        vals = []
        for i in range(n):
            if g == "const":
                v = 4.25
            else:
                v = rng.choice([0.5, 1.0, 1.0, 2.5, 7.0, 9.0, 11.5])
            vals.append(v)
            rows.append((g, v))
        data[g] = sorted(vals)
    rows.append(("a", None))  # ignored
    df = spark.createDataFrame(rows, "g string, v double")
    probs = [(1, 4), (1, 2), (19, 20)]
    got = {
        (r["g"], r["pct_ppm"]): r["value"]
        for r in grouped_exact_quantiles(
            df, "g", "v", probs, n_buckets=8
        ).collect()
    }
    assert len(got) == 4 * len(probs)
    for g, s in data.items():
        n = len(s)
        for num, den in probs:
            rank = -(-num * n // den)  # ceil
            assert got[(g, 1_000_000 * num // den)] == s[rank - 1], (
                g, num, den
            )


def test_grouped_weighted_quantiles_matches_bruteforce(spark):
    """Per-group WEIGHTED quantiles: each group's answer equals the
    expand-by-weight brute force; zero/negative/NULL weights drop."""
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_weighted_quantiles,
    )

    rng = random.Random(31)
    rows = []
    for g, n in (("a", 150), ("b", 40)):
        for _ in range(n):
            rows.append(
                (g, rng.choice([1.5, 2.0, 2.0, 3.5, 7.0]), rng.randint(1, 9))
            )
    rows += [("a", 0.25, 0), ("b", 0.25, -2), ("b", 0.25, None)]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    probs = [(1, 4), (1, 2), (19, 20)]
    got = {
        (r["g"], r["pct_ppm"]): r["value"]
        for r in grouped_weighted_quantiles(
            df, "g", "v", "w", probs, n_buckets=8
        ).collect()
    }
    for g in ("a", "b"):
        expanded = sorted(
            v for gg, v, w in rows if gg == g and w and w > 0 for _ in range(w)
        )
        tot = len(expanded)
        for num, den in probs:
            rank = -(-num * tot // den)
            assert got[(g, 1_000_000 * num // den)] == expanded[rank - 1]
    assert 0.25 not in [v for v in got.values()]


def test_grouped_binary_auc_matches_pair_counting(spark):
    """Per-group AUC equals global pair counting run per group,
    including ties; a one-class group reports auc_micro = 0."""
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_binary_auc,
    )

    rng = random.Random(13)
    rows = []
    for g, n in (("a", 300), ("b", 80)):
        rows += [
            (g, rng.choice([0.1, 0.2, 0.2, 0.5, 0.9]), rng.randint(0, 1))
            for _ in range(n)
        ]
    rows += [("onecls", 0.3, 1), ("onecls", 0.7, 1)]
    df = spark.createDataFrame(rows, "g string, s double, lb long")
    got = {
        r["g"]: (r["n_pos"], r["n_neg"], r["u2"], r["auc_micro"])
        for r in grouped_binary_auc(df, "g", "s", "lb", n_buckets=4).collect()
    }
    for g in ("a", "b"):
        pos = [s for gg, s, l in rows if gg == g and l == 1]
        neg = [s for gg, s, l in rows if gg == g and l == 0]
        u2 = sum(
            2 if p > q else (1 if p == q else 0) for p in pos for q in neg
        )
        auc = (1_000_000 * u2 + len(pos) * len(neg)) // (
            2 * len(pos) * len(neg)
        )
        assert got[g] == (len(pos), len(neg), u2, auc), g
    assert got["onecls"] == (2, 0, 0, 0)


def test_binary_auc_matches_pair_counting(spark):
    rng = random.Random(3)
    rows = [
        (rng.choice([0.1, 0.2, 0.2, 0.5, 0.9]), rng.randint(0, 1))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "s double, lb long")
    got = binary_auc(df, "s", "lb", n_buckets=4).collect()[0]
    pos = [s for s, l in rows if l == 1]
    neg = [s for s, l in rows if l == 0]
    u2 = sum(
        2 if p > q else (1 if p == q else 0)
        for p in pos
        for q in neg
    )
    assert (got["n_pos"], got["n_neg"], got["u2"]) == (
        len(pos),
        len(neg),
        u2,
    )
    expect_auc = (1_000_000 * u2 + len(pos) * len(neg)) // (
        2 * len(pos) * len(neg)
    )
    assert got["auc_micro"] == expect_auc


def test_binary_auc_degenerate_single_class(spark):
    df = spark.createDataFrame([(1.0, 1), (2.0, 1)], "s double, lb long")
    got = binary_auc(df, "s", "lb").collect()[0]
    assert got["n_neg"] == 0 and got["auc_micro"] == 0


@pytest.mark.parametrize("case", ["random", "empty", "one_class", "all_null"])
def test_global_ranks_equal_grouped_over_one_group(spark, case):
    """The global quantile, weighted-quantile and AUC operators equal
    their grouped operators over one group holding every row — on
    random data (also checked against the sorted-rank answer), an
    empty input, a one-class label and an all-NULL value column. The
    one difference is kept: a global AUC over no scored row is the
    single row (NULL, NULL, 0, NULL), where the grouped form has no
    group and so no row."""
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_binary_auc,
        grouped_exact_quantiles,
        grouped_weighted_quantiles,
        weighted_quantiles,
    )

    rng = random.Random(29)
    rows = {
        "random": [
            (rng.choice([0.5, 1.0, 2.5, 2.5, 7.0]), rng.randint(0, 5),
             rng.randint(0, 1))
            for _ in range(500)
        ],
        "empty": [],
        "one_class": [(float(i % 7), 1 + i % 3, 1) for i in range(40)],
        "all_null": [(None, 2, i % 2) for i in range(10)],
    }[case]
    df = spark.createDataFrame(rows, "v double, w long, lb long")
    one = df.withColumn("g", F.lit("all"))
    probs = [(1, 4), (1, 2), (99, 100)]

    def cut(frame):
        return sorted(tuple(r) for r in frame.select("pct_ppm", "value").collect())

    got = cut(exact_quantiles(df, "v", probs, n_buckets=8))
    assert got == cut(grouped_exact_quantiles(one, "g", "v", probs, n_buckets=8))
    assert cut(weighted_quantiles(df, "v", "w", probs, n_buckets=8)) == cut(
        grouped_weighted_quantiles(one, "g", "v", "w", probs, n_buckets=8)
    )
    auc = [tuple(r) for r in binary_auc(df, "v", "lb", n_buckets=8).collect()]
    grouped = [
        tuple(r)[1:]
        for r in grouped_binary_auc(one, "g", "v", "lb", n_buckets=8).collect()
    ]
    if case in ("empty", "all_null"):
        assert (got, grouped, auc) == ([], [], [(None, None, 0, None)])
    else:
        assert len(auc) == 1 and auc == grouped
    if case == "random":
        s = sorted(v for v, _, _ in rows)
        assert got == [
            (1_000_000 * num // den, s[-(-num * len(s) // den) - 1])
            for num, den in probs
        ]
    if case == "one_class":
        assert auc == [(40, 0, 0, 0)]


def test_triangle_stats_matches_bruteforce(spark):
    rng = random.Random(5)
    nodes = list(range(14))
    edges = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(40)
        }
    )
    df = spark.createDataFrame(edges, "a long, b long")
    got = triangle_stats(df).collect()[0]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tris = sum(
        1
        for x, y, z in itertools.combinations(sorted(nodes), 3)
        if y in adj[x] and z in adj[x] and z in adj[y]
    )
    wedges = sum(
        len(adj[n]) * (len(adj[n]) - 1) // 2 for n in nodes if adj[n]
    )
    n_nodes = sum(1 for n in nodes if adj[n])
    assert (
        got["n_nodes"],
        got["n_edges"],
        got["n_wedges"],
        got["n_triangles"],
    ) == (n_nodes, len(edges), wedges, tris)


def test_triangle_stats_empty_graph(spark):
    df = spark.createDataFrame([], "a long, b long")
    got = triangle_stats(df).collect()[0]
    assert (
        got["n_nodes"],
        got["n_edges"],
        got["n_wedges"],
        got["n_triangles"],
    ) == (0, 0, 0, 0)


def _ts(minutes: int) -> datetime:
    return datetime(2024, 1, 1) + timedelta(minutes=minutes)


def test_funnel_strict_ordering_and_window(spark):
    rows = [
        # u1 completes in order
        (1, "view", _ts(0)),
        (1, "click", _ts(10)),
        (1, "purchase", _ts(20)),
        # u2: click BEFORE view -> stalls at view
        (2, "click", _ts(0)),
        (2, "view", _ts(5)),
        (2, "purchase", _ts(30)),
        # u3: purchase outside the 1-hour window
        (3, "view", _ts(0)),
        (3, "click", _ts(10)),
        (3, "purchase", _ts(120)),
        # u4: same-timestamp click does NOT chain (strict >)
        (4, "view", _ts(0)),
        (4, "click", _ts(0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_steps(
            df, ["view", "click", "purchase"], window="1 hour"
        ).collect()
    }
    assert got[1] == (_ts(0), _ts(10), _ts(20))
    assert got[2][1] is None and got[2][2] is None
    assert got[3][1] == _ts(10) and got[3][2] is None
    assert got[4][1] is None
    # u2 did later have no click after view? click was at t0 < view t5 -> None
    assert set(got) == {1, 2, 3, 4}


def test_transition_counts_rows_and_probs(spark):
    rows = [
        (1, 1, "a", _ts(0)),
        (1, 2, "b", _ts(1)),
        (1, 3, "a", _ts(2)),
        (2, 4, "a", _ts(0)),
        (2, 5, "b", _ts(1)),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["prob_micro"])
        for r in transition_counts(df).collect()
    }
    # a->b twice, b->a once
    assert got[("a", "b")] == (2, 1_000_000)
    assert got[("b", "a")] == (1, 1_000_000)


def test_grouped_mad_outliers_matches_bruteforce(spark):
    import random

    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_mad_outliers,
    )

    rng = random.Random(117)
    rows = []
    for g in ("a", "b", "c"):
        for i in range(rng.randint(15, 40)):
            # heavy tail so real outliers exist
            x = rng.randint(0, 50) * (100 if rng.random() < 0.1 else 1)
            rows.append((g, len(rows), x))
    # a degenerate group: MAD = 0, any deviating row must flag
    rows += [("d", 9000 + i, 7) for i in range(10)] + [("d", 9100, 8)]
    # NULL values are ignored
    rows.append(("a", 9999, None))
    df = spark.createDataFrame(rows, "g string, k long, x long")
    thr = 4_447_800
    got = {
        r["k"]: (r["med"], r["mad"], r["is_outlier"])
        for r in grouped_mad_outliers(df, "g", "x", thr).collect()
    }

    def t1_median(vals):
        s = sorted(vals)
        return s[(len(s) + 1) // 2 - 1]  # type-1: ceil(n/2)-th

    by_g = {}
    for g, k, x in rows:
        if x is not None:
            by_g.setdefault(g, []).append((k, x))
    expect = {}
    for g, kv in by_g.items():
        med = t1_median([x for _, x in kv])
        mad = t1_median([abs(x - med) for _, x in kv])
        for k, x in kv:
            expect[k] = (med, mad, abs(x - med) * 1_000_000 > thr * mad)
    assert got == expect
    assert 9999 not in got  # NULL row dropped
    assert any(v[2] for v in got.values())  # outliers actually exist
    assert got[9100][2] and not got[9000][2]  # MAD=0 degeneracy


def test_bfs_hops_bruteforce(spark):
    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        bfs_hops,
    )

    # directed: 1->2->3->4->5, a shortcut 1->4, an unreachable 9->10,
    # and a back-edge 3->1 (cycle must not loop forever)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (9, 10), (3, 1)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds, max_hops=10).collect()
    }
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}

    # horizon: max_hops=1 stops at direct neighbors
    got1 = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds, max_hops=1).collect()
    }
    assert got1 == {1: 0, 2: 1, 4: 1}

    # multi-source: min hop over seeds wins
    seeds2 = spark.createDataFrame([(1,), (5,)], "node long")
    got2 = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds2, max_hops=3).collect()
    }
    assert got2[5] == 0 and got2[4] == 1 and got2[2] == 1


def test_grouped_winsorize_matches_bruteforce(spark):
    import random

    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_winsorize,
    )

    rng = random.Random(7)
    rows = []
    for g in ("a", "b"):
        for i in range(rng.randint(40, 80)):
            rows.append((g, len(rows), rng.randint(0, 10_000)))
    df = spark.createDataFrame(rows, "g string, k long, x long")
    got = {
        r["k"]: (r["lo_cut"], r["hi_cut"], r["winsorized"], r["was_clamped"])
        for r in grouped_winsorize(df, "g", "x", (1, 10), (9, 10)).collect()
    }

    def t1(vals, num, den):
        s = sorted(vals)
        return s[(num * len(s) + den - 1) // den - 1]

    by_g = {}
    for g, k, x in rows:
        by_g.setdefault(g, []).append((k, x))
    for g, kv in by_g.items():
        vals = [x for _, x in kv]
        lo, hi = t1(vals, 1, 10), t1(vals, 9, 10)
        for k, x in kv:
            w = max(min(x, hi), lo)
            assert got[k] == (lo, hi, w, w != x), (g, k)


def test_shortest_paths_bruteforce(spark):
    import heapq
    import random

    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        shortest_paths,
    )

    rng = random.Random(23)
    n = 40
    edges = []
    for _ in range(160):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.append((a, b, rng.randint(1, 9)))
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    rounds = n  # >= diameter: early stop makes this cheap
    got = {
        r["node"]: r["d"]
        for r in shortest_paths(df, seeds, rounds=rounds).collect()
    }

    # dijkstra reference
    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    dist = {0: 0, 7: 0}
    pq = [(0, 0), (0, 7)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 1 << 60):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, 1 << 60):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == dist

    # bounded rounds: with rounds=1 only direct relaxations apply
    got1 = {
        r["node"]: r["d"]
        for r in shortest_paths(df, seeds, rounds=1).collect()
    }
    direct = {0: 0, 7: 0}
    for a, b, w in edges:
        if a in (0, 7):
            direct[b] = min(direct.get(b, 1 << 60), w)
    assert got1 == direct


def test_grouped_percentile_rank_bruteforce(spark):
    import random

    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_percentile_rank,
    )

    rng = random.Random(31)
    rows = [("a", i, rng.randint(0, 40)) for i in range(120)]
    rows += [("b", 1000 + i, rng.randint(0, 5)) for i in range(30)]  # ties
    rows.append(("a", 9999, None))  # NULL passes through
    df = spark.createDataFrame(rows, "g string, k long, x long")
    got = {
        r["k"]: r["pct_micro"]
        for r in grouped_percentile_rank(df, "g", "x").collect()
    }
    by_g = {}
    for g, k, x in rows:
        if x is not None:
            by_g.setdefault(g, []).append((k, x))
    for g, kv in by_g.items():
        xs = sorted(x for _, x in kv)
        n = len(xs)
        for k, x in kv:
            below = sum(1 for y in xs if y < x)
            cnt = xs.count(x)
            exp = (2 * below + cnt) * 1_000_000 // (2 * n)
            assert got[k] == exp, (g, k)
    assert got[9999] is None
