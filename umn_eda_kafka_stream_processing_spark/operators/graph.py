"""Fixed-point PageRank — iterative graph analytics done the way a
100 TB engine has to do it: per-iteration hash-aggregations over an
edge list, exact integer arithmetic so the result is deterministic
under any partitioning, and checkpointed lineage so N iterations stay
N shuffles (the connected-components precedent,
`dedup.py:near_dup_clusters`).

Why FIXED-POINT: textbook PageRank sums floating-point contributions
per node, and a float sum's value depends on reduction order — the
same graph on a different partitioning (or a different engine) drifts
in the last ulps, which breaks this repo's hash-equality bar. Holding
ranks as integer PICOS (1e12 fixed point) makes every step — share =
rank div outdeg, damping = (85 * sum) div 100 — an exact BIGINT op:
order-independent, overflow-safe (total mass <= 1e12, so 85 * sum <
1e14 << 2^63), and bit-identical on any engine with integer division.
The div-truncation "leaks" mass (at most outdeg-1 picos per node per
step) — deterministically, the standard price of fixed-point
iteration.

``pagerank_directed`` serves directed graphs (web links, purchases)
and symmetrized ones alike: nodes with no out-edges are sinks, and
their mass is redistributed uniformly each round (sum the dangling
picos, add DT div n into every node's damped term). On a SYMMETRIZED
edge list every node has out-degree >= 1, so DT is 0 and each step is
the plain recurrence rank = base + (d * sum_in shares) div 100.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize

SCALE = 10**12  # integer "picos" fixed point


def pagerank_directed(
    edges: DataFrame,
    damping_pct: int = 85,
    iterations: int = 5,
) -> DataFrame:
    """PageRank over a DIRECTED (src, dst) edge list with dangling-
    mass redistribution — the general form for web/purchase graphs
    where sinks are real. Returns (node, rank_picos) over all nodes
    appearing as src OR dst.

    Exact fixed-point step (all BIGINT, order-independent — the
    module's determinism contract):

        DT_t        = sum of rank_t over nodes with outdeg = 0
        in_{t+1}(v) = sum over in-edges of rank_t(u) div outdeg(u)
        rank_{t+1}  = base + (d * (in + DT_t div n)) div 100
        base        = ((100-d) * 1e12) div (100 * n)

    Scale shape: the dangling flag is computed ONCE (one node-list
    agg over the checkpointed edges: a node is dangling unless it is
    some edge's src), with the node and dangling counts in one job;
    each iteration is one rank x edge join + one in-neighbor hash-agg
    (graph-sized, always shuffle_hash — never broadcast) plus, when
    some node is dangling, a ONE-ROW dangling-mass agg broadcast back
    (a graph without sinks has DT = 0 and skips it). Ranks are the
    single checkpointed frame per round (the round-7 one-checkpoint
    lesson). Overflow: total mass stays <= ~2e12 picos, so
    85 * (in + dt) < 2e14 << 2^63."""
    e = edges.select("src", "dst").distinct()
    outdeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    e2 = materialize(e.join(outdeg.hint("shuffle_hash"), "src"), Why.SHARED)
    nodes = materialize(
        e2.select(F.col("src").alias("node"), F.lit(False).alias("d"))
        .union(e2.select(F.col("dst").alias("node"), F.lit(True).alias("d")))
        .groupBy("node")
        .agg(F.min("d").alias("dangling")),
        Why.SHARED,
    )
    n, n_dangling = nodes.agg(
        F.count(F.lit(1)), F.sum(F.col("dangling").cast("long"))
    ).collect()[0]
    base = (100 - damping_pct) * SCALE // (100 * n)
    ranks = nodes.withColumn("rank_picos", F.lit(SCALE // n).cast("long"))
    for _ in range(iterations):
        shares = (
            e2.join(
                ranks.select(
                    F.col("node").alias("src"), "rank_picos"
                ).hint("shuffle_hash"),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_picos div outdeg").alias("share"),
            )
            .groupBy("node")
            .agg(F.sum("share").cast("long").alias("_in"))
        )
        step = nodes.join(shares.hint("shuffle_hash"), "node", "left")
        if n_dangling:
            dt = ranks.where(F.col("dangling")).agg(
                F.coalesce(F.sum("rank_picos"), F.lit(0))
                .cast("long")
                .alias("_dt")
            )
            step = step.crossJoin(F.broadcast(dt))
        else:
            step = step.withColumn("_dt", F.lit(0).cast("long"))
        ranks = materialize(
            step.select(
                "node",
                "dangling",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * (coalesce(_in, 0) "
                        f"+ _dt div {n})) div 100"
                    )
                )
                .cast("long")
                .alias("rank_picos"),
            ),
            Why.ROUND,
        )
    return ranks.select("node", "rank_picos")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle census of an undirected graph: one row
    (n_nodes, n_edges, n_wedges, n_triangles) — all BIGINT.

    ``edges`` must be the deduplicated a<b-normalized undirected edge
    list. Triangles are enumerated on the DEGREE-ORDERED orientation
    (edge points from lower (degree, node) to higher): every triangle
    then has exactly one node with out-edges to both others, and the
    closing edge's orientation is determined by the same total order
    — so each triangle is generated once, and per-node wedge-probe
    work is sum C(outdeg, 2), the orientation that provably minimizes
    it (the classic heavy-hitter mitigation: a hub's edges mostly
    point AT it, so the hub never fans out its whole neighborhood).
    At 100 TB this is two shuffle-hash self-joins keyed on the wedge
    pivot; no corpus-wide window, no driver materialization.
    ``n_wedges`` is the orientation-independent undirected count
    sum C(deg, 2), so clustering coefficients derive from the output
    alone. Oracle twins list triangles from the raw a<b edge list
    instead — different algorithm, same counts.
    """
    e = materialize(edges, Why.SHARED).select(
        F.col(edges.columns[0]).alias("a"), F.col(edges.columns[1]).alias("b")
    )
    deg = materialize(
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg")),
        Why.SHARED,
    )
    o = materialize(
        e.join(
            deg.select(
                F.col("node").alias("a"), F.col("deg").alias("deg_a")
            ).hint("shuffle_hash"),
            "a",
        )
        .join(
            deg.select(
                F.col("node").alias("b"), F.col("deg").alias("deg_b")
            ).hint("shuffle_hash"),
            "b",
        )
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("src"),
                    F.col("b").alias("dst"),
                    F.col("deg_b").alias("dst_deg"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("src"),
                    F.col("a").alias("dst"),
                    F.col("deg_a").alias("dst_deg"),
                )
            )
            .alias("s")
        )
        .select("s.src", "s.dst", "s.dst_deg"),
        Why.SELF_JOIN,
    )
    x, y = o.alias("x"), o.alias("y")
    cand = (
        x.join(y.hint("shuffle_hash"), F.col("x.src") == F.col("y.src"))
        .where(
            (F.col("x.dst_deg") < F.col("y.dst_deg"))
            | (
                (F.col("x.dst_deg") == F.col("y.dst_deg"))
                & (F.col("x.dst") < F.col("y.dst"))
            )
        )
        .select(
            F.col("x.dst").alias("src"), F.col("y.dst").alias("dst")
        )
    )
    tri = cand.join(
        o.select("src", "dst").hint("shuffle_hash"), ["src", "dst"], "semi"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum(F.expr("deg * (deg - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    )
    nedges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        stats.crossJoin(nedges)
        .crossJoin(tri)
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


def core_numbers(
    edges: DataFrame,
    cap: int | None = None,
    max_rounds: int = 32,
) -> tuple[DataFrame, int, bool]:
    """FULL k-core decomposition — every node's core number (the
    largest k whose k-core contains it) — by the distributed h-index
    iteration (Montresor, De Pellegrini, Miorandi, "Distributed
    k-core decomposition", 2011 — a public algorithm): start each
    node at its degree (an upper bound on coreness) and repeatedly
    set est(v) = h-index of its neighbors' estimates (the largest h
    such that >= h neighbors have est >= h), which is monotone
    non-increasing and converges exactly to the core number. Returns
    (frame (node, core), rounds_run, converged).

    Level-by-level peeling is NOT viable for the full decomposition
    at scale — a graph with max core K needs K sequential peels, and
    K grows with density (274 on the sf0.1 co-supply graph). The
    h-index iteration instead converges in rounds bounded by the
    longest strictly-decreasing estimate chain (7 and 31 there).

    ``cap`` truncates the deliverable to min(core, cap): estimates
    start at min(deg, cap) and every update re-clamps. The capped
    operator is still monotone with the same fixpoint truncated at
    cap (verified against peeling), converges MUCH faster on dense
    graphs (1 round instead of 31 at sf0.1), and is what a curation
    dashboard usually wants ("which nodes are in at least a 16-core"
    — not the exact 274).

    Scale shape: per round one adj x estimates shuffle_hash join
    (graph-sized — never broadcast), one per-NODE window (frame
    bounded by max degree — the wedge rule; no corpus-wide sort) for
    the h-index rank, one hash-agg; estimates are the single
    checkpointed frame per round. Early stop: sum(est) is a monotone
    non-increasing integer, so sum-stability == pointwise stability
    — one scalar to the driver per round (loop control, the k_core
    precedent). Ties in the descending neighbor sort don't need a
    deterministic break: max(min(est, rank)) over a multiset is
    tie-order invariant."""
    from pyspark.sql.window import Window

    e = edges.select(
        F.col(edges.columns[0]).alias("a"),
        F.col(edges.columns[1]).alias("b"),
    )
    adj = materialize(
        e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .union(e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))),
        Why.SHARED,
    )
    est = adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("core")
    )
    if cap is not None:
        est = est.select(
            "node", F.least(F.col("core"), F.lit(cap)).alias("core")
        )
    est = materialize(est, Why.ROUND)
    prev_sum = est.agg(F.sum("core")).collect()[0][0]
    w = Window.partitionBy("node").orderBy(F.desc("core"))
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        nb = adj.join(
            est.withColumnRenamed("node", "nbr").hint("shuffle_hash"),
            "nbr",
        )
        h = (
            nb.select(
                "node",
                F.least(
                    F.col("core"), F.row_number().over(w).cast("long")
                ).alias("_m"),
            )
            .groupBy("node")
            .agg(F.max("_m").cast("long").alias("core"))
        )
        if cap is not None:
            h = h.select(
                "node", F.least(F.col("core"), F.lit(cap)).alias("core")
            )
        est = materialize(h, Why.ROUND)
        rounds += 1
        s = est.agg(F.sum("core")).collect()[0][0]
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    return est, rounds, converged


def k_core(
    edges: DataFrame, k: int, max_rounds: int = 6
) -> tuple[DataFrame, int, bool]:
    """k-core decomposition by iterative peeling: drop nodes with
    degree < k (and their edges) until fixpoint or ``max_rounds``.
    Returns (core_edges, rounds_run, converged).

    Each round is one degree hash-agg + two semi-joins keyed on the
    endpoints, with the shrinking edge set localCheckpointed so N
    rounds stay N shuffles (the connected-components/pagerank
    precedent); only per-round edge COUNTS reach the driver (loop
    control). Peeling is monotone (each round's set is a subset of
    the last), so count-stability == set-stability, and running
    extra rounds past the fixpoint is a no-op — which is what lets
    a fixed-round SQL unrolling (the oracle) match an early-stopping
    loop exactly. ``edges`` must be the a<b-normalized undirected
    edge list."""
    e = materialize(edges, Why.SHARED).select(
        F.col(edges.columns[0]).alias("a"), F.col(edges.columns[1]).alias("b")
    )
    n_before = e.count()
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        e2 = materialize(
            e.join(
                keep.withColumnRenamed("node", "a").hint("shuffle_hash"),
                "a",
                "semi",
            )
            .join(
                keep.withColumnRenamed("node", "b").hint("shuffle_hash"),
                "b",
                "semi",
            ),
            Why.ROUND,
        )
        rounds += 1
        n_after = e2.count()
        e = e2
        if n_after == n_before:
            converged = True
            break
        n_before = n_after
    return e, rounds, converged


def bfs_hops(edges: DataFrame, sources: DataFrame, max_hops: int) -> DataFrame:
    """Multi-source BFS hop distance — "how far is every node from
    the seed set", the reachability primitive under contamination
    blast-radius, fraud neighborhoods, and lineage impact queries.
    Returns (node, hop) for every node within ``max_hops`` of any
    source (hop = exact shortest hop count; sources are hop 0).
    Directed as given — symmetrize first for undirected graphs.

    Frontier iteration, the only shape that survives 100 TB: each
    round joins the CURRENT frontier (not the visited set) against
    the edge list — one shuffle-hash join + one distinct + one
    anti-join vs. visited per round, all hash-partitioned on the
    node key; per-round frames are localCheckpointed so round N's
    plan never replays rounds 1..N-1 (the PageRank rule). Work per
    round is O(edges touched by the frontier), total O(E) across
    the whole traversal — never O(E x rounds). One bounded isEmpty
    scalar per round gives early termination on frontier exhaustion.

    Determinism: hop counts are exact integers under any
    partitioning (min over equal-length discoveries is the same
    number), so results hash-match a recursive-CTE oracle.
    """
    e = materialize(
        edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d")).distinct(),
        Why.SHARED,
    )
    dist = materialize(
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0).cast("long")),
        Why.SHARED,
    )
    frontier = dist.select("node")
    for h in range(1, int(max_hops) + 1):
        nxt = (
            e.join(
                frontier.hint("shuffle_hash"),
                e["_s"] == frontier["node"],
            )
            .select(F.col("_d").alias("node"))
            .distinct()
        )
        new = materialize(
            nxt.join(dist.hint("shuffle_hash"), "node", "left_anti")
            .withColumn("hop", F.lit(h).cast("long")),
            Why.ROUND,
        )
        if new.isEmpty():
            break
        dist = materialize(dist.unionByName(new), Why.ROUND)
        frontier = new.select("node")
    return dist


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
) -> DataFrame:
    """Bounded multi-source WEIGHTED shortest paths (Bellman-Ford
    with a delta frontier) — `bfs_hops`' weighted sibling: returns
    (node, d) where ``d`` is the exact minimum path weight from any
    source using at most ``rounds`` edges. Weights must be positive
    integers (exact BIGINT sums — the fixed-point rule); the
    deliverable is the DEFINED k-round iterate (the eigencentrality
    contract): callers pick ``rounds`` >= the diameter they care
    about, and the early stop fires as soon as a round improves
    nothing.

    Delta frontier: round k relaxes ONLY edges out of nodes whose
    distance improved in round k-1 (the classic worklist
    optimization) — identical result to full Bellman-Ford round by
    round, but per-round work is O(edges out of improved nodes), not
    O(E). Each round: one shuffle-hash join frontier x edges + one
    min-agg + one improvement anti-check; dist/frontier are
    localCheckpointed so round N never replays rounds 1..N-1.
    """
    e = materialize(edges, Why.SHARED).select(
        F.col("src").alias("_s"),
        F.col("dst").alias("_d"),
        F.col("w").cast("long").alias("_w"),
    )
    dist = materialize(
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("d", F.lit(0).cast("long")),
        Why.SHARED,
    )
    frontier = dist
    for _ in range(int(rounds)):
        cand = (
            e.join(
                frontier.hint("shuffle_hash"),
                e["_s"] == frontier["node"],
            )
            .select(
                F.col("_d").alias("node"),
                (frontier["d"] + F.col("_w")).alias("d"),
            )
            .groupBy("node")
            .agg(F.min("d").cast("long").alias("d"))
        )
        improved = materialize(
            cand.join(
                dist.withColumnRenamed("d", "_d0").hint("shuffle_hash"),
                "node",
                "left",
            )
            .where(
                F.col("_d0").isNull() | (F.col("d") < F.col("_d0"))
            )
            .select("node", "d"),
            Why.ROUND,
        )
        if improved.isEmpty():
            break
        dist = materialize(
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("d").cast("long").alias("d")),
            Why.ROUND,
        )
        frontier = improved
    return dist
