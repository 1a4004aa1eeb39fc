"""Distributed linear algebra in exact fixed-point — power iteration
for the dominant eigenvector of a gram (uncentered covariance)
matrix.

Why fixed-point (the graph.py PageRank rationale): float matvecs sum
per-coordinate products in partition order, so the same data on a
different partitioning — or another engine — drifts in the last
ulps and breaks hash-equality. Here every step is exact BIGINT:

- element micros  m = floor(x * 1e6 + 0.5)           (per value)
- gram            c_ij = sum_rows m_i * m_j          (exact BIGINT sum)
- scaled          g_ij = c_ij div (n * 1000)         (~E[x_i x_j]*1e9)
- matvec          w_i = sum_j (g_ij * v_j) div 1e6   (per-term trunc div)
- normalize       u_i = w_i div 1000;
                  nrm = floor(sqrt(double(sum u_i^2)));
                  v'_i = (u_i * 1e6) div max(nrm, 1)

The ONLY non-integer op is sqrt — IEEE-correctly-rounded on every
engine (unlike ln/exp), and BIGINT->DOUBLE casts round nearest-even
identically, so even that step is bit-portable. Integer div/% on
NEGATIVES truncates toward zero in BOTH Spark (`div`) and DuckDB
(`//`) — verified — so sign handling needs no special casing.

Overflow audit for |x| <= 1, dim <= 64: m <= 1e6 and the gram sum
c_ij <= n*1e12 would exceed BIGINT past n ~ 9e6 rows, so the gram
agg sums per-term DECIMAL(38,0) products (exact partial sums — the
exact-decimal money pattern; Spark's decimal sum is exact and
order-independent, same as BIGINT) and only the SCALED
g = c div (n*1000) <= 1e9 returns to BIGINT — safe to n ~ 1e26
rows, i.e. unbounded for any real corpus. DuckDB's oracle twin sums
HUGEINT (int128) — same integers. The quantization (three trunc-divs per
iteration) costs ~1e-4 relative per round — deterministic, identical
on both engines; the contract is "exact arithmetic on a defined
iteration", not infinite-precision PCA.

Scale shape: the gram agg is ONE hash-agg over (i, j) pairs exploded
from each row (dim^2 fan-out bounded by 64^2); each iteration is a
broadcast of the 64-row vector against the 4096-row gram — no
shuffle grows with the corpus after the gram agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize


def gram_micro(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(gram, n) for power_iteration: gram = (i, j, g) with 1-based
    positions and g = sum(m_i * m_j) div (n * 1000); n is a 1-row
    count frame. One posexplode + one id-keyed self-join + one (i, j)
    hash-agg."""
    ex = materialize(
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "p0", "x"
            ),
        ).select(
            "vec_id",
            (F.col("p0") + 1).alias("pos"),
            F.floor(F.col("x") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("m"),
        ),
        Why.SELF_JOIN,
    )
    a = ex.select(
        F.col("vec_id").alias("_id"), F.col("pos").alias("i"),
        F.col("m").alias("ma"),
    )
    b = ex.select(
        F.col("vec_id").alias("_id"), F.col("pos").alias("j"),
        F.col("m").alias("mb"),
    )
    # DECIMAL(38,0) per-term products + exact decimal partial sums:
    # BIGINT c_ij wraps past n ~ 9e6 rows (module overflow audit);
    # only the scaled g (<= 1e9) returns to BIGINT.
    c = (
        a.join(b.hint("shuffle_hash"), "_id")
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.col("ma").cast("decimal(38,0)") * F.col("mb")
            ).alias("c")
        )
    )
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("nr"))
    gram = materialize(
        c.crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.expr("c div (nr * 1000)").cast("long").alias("g"),
        ),
        Why.SHARED,
    )
    return gram, n


def power_iteration(
    gram: DataFrame,
    iterations: int = 5,
    norm_shift: int = 1000,
    vec_join: str = "broadcast",
) -> DataFrame:
    """Dominant-eigenvector power iteration over a (i, j, g) gram
    frame (see module docstring for the exact fixed-point step).
    Returns (pos, v_micro) with ||v|| ~ 1e6. Start vector is the
    all-equal direction (never orthogonal to a gram's top
    eigenvector, whose entries can't sum to zero: x'Gx > 0).
    ``norm_shift`` is the pre-norm down-shift keeping sum(u^2) in
    BIGINT — 1000 suits gram scales (|w| <= ~1e10); graph adjacency
    callers with larger |w| bounds pass 10000 (see
    supplier_eigencentrality's overflow audit). ``vec_join`` picks
    the matvec join strategy: 'broadcast' for model-sized vectors
    (a 64-dim gram), 'shuffle_hash' when the vector is GRAPH-sized
    (eigencentrality at 100 TB — broadcasting a node-count vector
    would be wrong, the fixed-point PageRank rule)."""
    v = (
        gram.select(F.col("i").alias("pos"))
        .distinct()
        .withColumn("v", F.lit(125000).cast("long"))
    )
    for _ in range(iterations):
        vj = v.select(F.col("pos").alias("j"), "v")
        vj = F.broadcast(vj) if vec_join == "broadcast" else vj.hint(
            "shuffle_hash"
        )
        w = (
            gram.join(vj, "j")
            .groupBy("i")
            .agg(
                F.sum(F.expr("(g * v) div 1000000"))
                .cast("long")
                .alias("w")
            )
        )
        # one eager materialization per round (u); nrm and v stay
        # lazy — v is consumed once by the next round's matvec, and
        # recomputing the cheap nrm agg there beats a second
        # checkpoint job (the round-trip cost dominates these
        # vector-sized frames)
        u = materialize(
            w.select(
                F.col("i").alias("pos"),
                F.expr(f"w div {norm_shift}").alias("u"),
            ),
            Why.ROUND,
        )
        nrm = u.agg(
            F.floor(
                F.sqrt(F.sum(F.col("u") * F.col("u")).cast("double"))
            )
            .cast("long")
            .alias("nrm")
        )
        v = u.crossJoin(F.broadcast(nrm)).select(
            "pos",
            F.expr("(u * 1000000) div greatest(nrm, 1)")
            .cast("long")
            .alias("v"),
        )
    return v.select("pos", F.col("v").alias("v_micro"))


def grouped_linreg(
    df: DataFrame,
    group_cols: "str | list[str]",
    x_micro: str,
    y_micro: str,
) -> DataFrame:
    """EXACT per-group simple linear regression (the segment-level
    A/B / elasticity shape: one slope per group, thousands of groups,
    billions of rows) — slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) on
    integer-micro inputs, entirely in exact integer arithmetic.

    One hash-agg per group (map-side combined — the only shuffle),
    with per-term products and partial sums in DECIMAL(38,0): x,y
    micros up to ~1e11 square to ~1e22 per row, which wraps BIGINT
    after a handful of rows but stays exact in decimal128 (the
    gram_micro overflow rule: cast BEFORE the product).

    MAGNITUDE BOUND (round-9 advice — be honest about headroom): the
    largest intermediate is 1e6 · (n·Σ|xy| + Σ|x|·Σ|y|), which must
    stay under 10^38, i.e. roughly

        n² · max|x_micro| · max|y_micro| · 2e6  <  1e38.

    With micros at ~1e9 (|x|,|y| ≈ 1000 units) that is n ≲ 2e9 rows
    PER GROUP; at ~1e11 micros, n ≲ 2e7. Past the bound the two
    engines FAIL DIFFERENTLY — Spark (non-ANSI) silently NULLs the
    decimal overflow while DuckDB HUGEINT raises — so there is no
    silent-wrong-answer mode, but the cross-engine contract ends
    there. For wider groups, center x,y per group first (subtract the
    group mean in a first pass): the covariance terms then scale with
    the VARIANCE, not the raw magnitudes, buying ~max(x)·max(y)/
    (σx·σy) extra headroom. The final ratio is one int128 division
    per group —
    Spark DECIMAL(38,0) ``div`` == DuckDB HUGEINT ``//`` exactly,
    including truncation toward zero on NEGATIVE covariances (the
    round-7 verified rule), so the oracle is exact-match by
    construction.

    Returns (group_cols..., n, slope_ppm, x_mean_micro,
    y_mean_micro): slope_ppm = 1e6 · cov/var, means =
    (Σ + n div 2) div n — every division truncates toward zero
    (half-up for non-negative sums, half-toward-zero for negative;
    identical in both engines). Groups with zero x-variance (or a
    single row) return NULL slope — a 0/0 slope is undefined, not
    zero."""
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = df.where(
        F.col(x_micro).isNotNull() & F.col(y_micro).isNotNull()
    ).groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d(x_micro)).alias("_sx"),
        F.sum(d(y_micro)).alias("_sy"),
        F.sum(d(x_micro) * F.col(y_micro)).alias("_sxy"),
        F.sum(d(x_micro) * F.col(x_micro)).alias("_sxx"),
    )
    return g.select(
        *groups,
        "n",
        F.expr(
            "CASE WHEN n * _sxx - _sx * _sx = 0 THEN NULL "
            "ELSE CAST((1000000 * (n * _sxy - _sx * _sy)) "
            "div (n * _sxx - _sx * _sx) AS BIGINT) END"
        ).alias("slope_ppm"),
        F.expr("CAST((_sx + n div 2) div n AS BIGINT)").alias(
            "x_mean_micro"
        ),
        F.expr("CAST((_sy + n div 2) div n AS BIGINT)").alias(
            "y_mean_micro"
        ),
    )
