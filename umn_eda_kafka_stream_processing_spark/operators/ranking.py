"""Distributed EXACT ranking primitives — order statistics without a
corpus-wide window and without a driver collect.

A single `rank() OVER (ORDER BY x)` funnels the whole dataset through
one task at 100 TB (explain_audit fails unpartitioned windows for
exactly that reason). The scale-correct shape is the classic
two-level histogram, run per group (`_grouped_with_below`):

1. aggregate to DISTINCT (group, value) rows (first hash-agg — the
   corpus never sorts),
2. assign each value a MONOTONE bucket within its group (a weakly
   order-preserving float map over the group's lo/hi, an aggregate
   joined back; only bucket boundaries depend on it, never the
   result),
3. per-(group, bucket) totals prefix-summed by a window partitioned by
   group over at most ``n_buckets`` rows, joined back,
4. within-bucket prefix via a window PARTITIONED BY (group, bucket).

The global operators are the grouped ones over one group (`_ALL`),
so every rank runs through the same plan. Every count is
BIGINT, so ranks are exact and order-independent; the DuckDB oracle
twins use a plain corpus-wide window instead — different algorithm,
same integers (the strong cross-check shape).

Derived operators:
- ``exact_quantiles`` — type-1 (smallest value whose cumulative count
  reaches ceil(q*N)) quantiles with RATIONAL q (num/den), so the
  target rank is exact integer arithmetic.
- ``binary_auc`` — Mann-Whitney U / ROC-AUC from rank sums:
  2U = sum over distinct scores of pos * (2*neg_below + neg_eq)
  (ties contribute half), kept doubled so everything stays integer;
  auc_micro = floor(1e6 * 2U / (2*n_pos*n_neg) + 0.5) via the
  identical integer formula on both engines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize

DEFAULT_BUCKETS = 1024
_ALL = "_all"  # the one group of the global operators


def _one_group(df: DataFrame, value_col: str) -> DataFrame:
    """``df`` with the group column `_ALL` = ``value_col IS NULL``:
    every row a rank operator keeps (NULL values are dropped) lands in
    the one group FALSE. A literal key would do the same, but Catalyst
    folds a literal out of the window partitioning and the join keys,
    leaving an unpartitioned window and cartesian joins in the plan."""
    return df.withColumn(_ALL, F.col(value_col).isNull())


def _distinct_values(
    df: DataFrame,
    groups: list[str],
    value_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """(groups..., value, cnt): one row per distinct non-NULL (group,
    value); ``cnt`` counts its rows, or with ``weight_col`` sums their
    BIGINT weights over rows with a positive, non-NULL weight."""
    rows = df.where(F.col(value_col).isNotNull())
    cnt = F.count(F.lit(1))
    if weight_col is not None:
        rows = rows.where(
            F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
        )
        cnt = F.sum(F.col(weight_col).cast("long"))
    return rows.groupBy(*groups, value_col).agg(cnt.cast("long").alias("cnt"))


def value_ranks(
    df: DataFrame,
    value_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(value, cnt, below) per DISTINCT non-null value: ``below`` rows
    are strictly smaller globally — min rank = below + 1, max rank =
    below + cnt, tie-average rank = below + (cnt + 1) / 2."""
    dv = _distinct_values(_one_group(df, value_col), [_ALL], value_col)
    return _grouped_with_below(
        dv, [_ALL], value_col, "cnt", n_buckets, join_hint="broadcast"
    ).drop(_ALL)


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[tuple[int, int]],
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Type-1 exact quantiles at rational probabilities ``(num, den)``:
    the smallest value whose cumulative count reaches
    ceil(num * N / den). Returns (pct_ppm, value) — pct_ppm =
    1e6*num/den (callers should pick ppm-exact rationals).
    `grouped_exact_quantiles` over one group."""
    return _grouped_quantiles_from_dv(
        df.sparkSession,
        _distinct_values(_one_group(df, value_col), [_ALL], value_col),
        [_ALL], value_col, probs, n_buckets, join_hint="broadcast",
    ).drop(_ALL)


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    probs: Sequence[tuple[int, int]],
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Type-1 WEIGHTED exact quantiles: the smallest value whose
    cumulative integer weight reaches ceil(num * W / den) — the
    curation ask behind "where does the token-MASS sit", where every
    document counts by its token/byte weight, not once (`exact_quantiles`
    is this with weight 1). `grouped_weighted_quantiles` over one
    group: the corpus never sorts globally. Weights are cast to BIGINT
    (exact, order-independent sums); rows with NULL value/weight or
    non-positive weight are ignored. Returns (pct_ppm, value)."""
    dv = _distinct_values(
        _one_group(df, value_col), [_ALL], value_col, weight_col
    )
    return _grouped_quantiles_from_dv(
        df.sparkSession, dv, [_ALL], value_col, probs, n_buckets,
        join_hint="broadcast",
    ).drop(_ALL)


def grouped_exact_quantiles(
    df: DataFrame,
    group_cols: str | Sequence[str],
    value_col: str,
    probs: Sequence[tuple[int, int]],
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Type-1 exact quantiles PER GROUP — "exact p95 token length per
    domain/language", the daily curation query `exact_quantiles` only
    answers corpus-globally. Returns (group_cols..., pct_ppm, value).

    Fully distributed two-level histogram — per-group AGGREGATES
    joined back, so there is NO driver collect at all and group
    cardinality is unbounded:

    1. one hash-agg to distinct (group, value) counts — the corpus
       never sorts;
    2. per-group lo/hi agg, joined back on the group key (both sides
       already hash-partitioned by group — co-located);
    3. each value maps to a weakly MONOTONE bucket within its group
       (order preserved by IEEE ops with positive constants; bucket
       boundaries never affect the result);
    4. per-(group, bucket) totals prefix-summed by a window
       partitioned BY GROUP over at most ``n_buckets`` rows per
       frame (bounded), joined back on (group, bucket);
    5. the in-bucket prefix runs partitioned by (group, bucket) — a
       frame of ~|distinct values|/n_buckets rows, never a per-group
       or corpus sort. No unpartitioned window anywhere
       (explain_audit's rule), no frame wider than a bucket.

    Quantiles are RATIONAL (num, den): the target rank
    ceil(num·N_g/den) is exact integer arithmetic per group; pct_ppm
    = 1e6·num/den (pick ppm-exact rationals). NULL values are
    ignored; groups whose every value is NULL vanish (no rank
    exists). Counts are BIGINT — exact and order-independent."""
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    return _grouped_quantiles_from_dv(
        df.sparkSession, _distinct_values(df, groups, value_col), groups,
        value_col, probs, n_buckets,
    )


def grouped_weighted_quantiles(
    df: DataFrame,
    group_cols: str | Sequence[str],
    value_col: str,
    weight_col: str,
    probs: Sequence[tuple[int, int]],
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Type-1 WEIGHTED exact quantiles PER GROUP — "below what length
    sits 95% of each domain's token MASS": completes the quantile
    matrix (global/weighted/grouped). `grouped_exact_quantiles` with
    each row counting by its positive integer weight instead of once;
    same fully distributed per-group histogram, no driver collect.
    Rows with NULL value/weight or non-positive weight are ignored
    (the weighted_quantiles row-filter rule)."""
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    return _grouped_quantiles_from_dv(
        df.sparkSession, _distinct_values(df, groups, value_col, weight_col),
        groups, value_col, probs, n_buckets,
    )


def _grouped_with_below(
    dv: DataFrame,
    groups: list[str],
    value_col: str,
    weight_col: str,
    n_buckets: int,
    join_hint: str | None = None,
) -> DataFrame:
    """Add ``below`` = per-group sum of ``weight_col`` over rows with
    STRICTLY smaller ``value_col`` — the one rank substrate of this
    module (the global operators pass one constant group).
    ``dv`` must hold one row per distinct (groups, value), non-null;
    other columns pass through. Fully distributed (per-group lo/hi
    agg joined back instead of a driver collect); the bucket-offset
    window is partitioned by group over <=n_buckets rows per frame,
    the in-bucket prefix by (group, bucket).

    ``join_hint``: strategy hint for the joined-back aggregates.
    Default None lets Catalyst/AQE pick (small dv frames broadcast —
    the quantile/AUC queries' shape). Pass "shuffle_hash" when dv is
    CORPUS-sized (e.g. md5-unique priorities in the budget sampler):
    the static planner otherwise falls to SortMergeJoin and sorts
    both sides, while the agg sides here are already partitioned on
    the group key (the r04 fact-x-agg rule)."""
    mm = dv.groupBy(*groups).agg(
        F.min(value_col).alias("_lo"),
        F.max(value_col).alias("_hi"),
    )
    if join_hint:
        mm = mm.hint(join_hint)
    b = dv.join(mm, groups).withColumn(
        "_bk",
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
            F.least(
                F.floor(
                    (
                        F.col(value_col).cast("double")
                        - F.col("_lo").cast("double")
                    )
                    / (
                        F.col("_hi").cast("double")
                        - F.col("_lo").cast("double")
                    )
                    * F.lit(n_buckets)
                ),
                F.lit(n_buckets - 1),
            )
        ).cast("int"),
    ).drop("_lo", "_hi")
    bt = b.groupBy(*groups, "_bk").agg(
        F.sum(weight_col).cast("long").alias("_bw")
    )
    w_off = (
        Window.partitionBy(*groups)
        .orderBy(F.col("_bk").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = bt.withColumn(
        "_off", F.coalesce(F.sum("_bw").over(w_off), F.lit(0)).cast("long")
    ).drop("_bw")
    if join_hint:
        off = off.hint(join_hint)
    w_in = (
        Window.partitionBy(*groups, "_bk")
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(off, [*groups, "_bk"])
        .withColumn(
            "_in", F.coalesce(F.sum(weight_col).over(w_in), F.lit(0))
        )
        .withColumn("below", (F.col("_off") + F.col("_in")).cast("long"))
        .drop("_bk", "_off", "_in")
    )


def _grouped_quantiles_from_dv(
    spark,
    dv: DataFrame,
    groups: list[str],
    value_col: str,
    probs: Sequence[tuple[int, int]],
    n_buckets: int,
    join_hint: str | None = None,
) -> DataFrame:
    """Shared tail of the grouped quantile operators: per-group
    histogram prefix ranks over a (groups..., value, cnt) frame of
    distinct values, then the rational-rank cut. See
    `grouped_exact_quantiles` for the plan-shape contract.
    ``join_hint`` pins the joined-back aggregates' strategy when
    ``dv`` carries no stats (a localCheckpointed input plans SMJ
    statically — pass "broadcast" for group-sized aggs)."""
    tot = dv.groupBy(*groups).agg(
        F.sum("cnt").cast("long").alias("n_total")
    )
    if join_hint:
        tot = tot.hint(join_hint)
    r = _grouped_with_below(
        dv, groups, value_col, "cnt", n_buckets, join_hint=join_hint
    ).join(tot, groups)
    pdf = spark.createDataFrame(
        [(1_000_000 * n // d, n, d) for n, d in probs],
        "pct_ppm long, p_num long, p_den long",
    )
    return (
        r.crossJoin(F.broadcast(pdf))
        .where(
            F.col("below") + F.col("cnt")
            >= F.expr("(p_num * n_total + p_den - 1) div p_den")
        )
        .groupBy(*groups, "pct_ppm")
        .agg(F.min(value_col).alias("value"))
    )


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """ROC-AUC of a score against a 0/1 label, exactly, from rank
    sums: one row (n_pos, n_neg, u2, auc_micro) where u2 = 2U counts
    each (pos, neg) pair twice (+1 per tied pair) so ties need no
    fractions. The final ratio routes through exact int128 on both
    engines — Spark DECIMAL(38,0) ``div``, DuckDB HUGEINT ``//``,
    verified to agree — because 1e6·u2 wraps BIGINT once
    n_pos·n_neg exceeds ~4.6e12 (a few million rows per class; at
    100 TB that's every run). u2 itself stays BIGINT-safe up to
    ~2.1e9 rows per class (u2 <= 2·n_pos·n_neg < 2^63).

    `grouped_binary_auc` over one group, folded to the one global row
    — which an input with no scored row still gets: (NULL, NULL, 0,
    NULL), the SQL global aggregate's answer."""
    one = _auc(
        _one_group(df, score_col), [_ALL], score_col, label_col, n_buckets,
        join_hint="broadcast",
    )
    return one.agg(
        F.max("n_pos").alias("n_pos"),
        F.max("n_neg").alias("n_neg"),
        F.coalesce(F.max("u2"), F.lit(0)).cast("long").alias("u2"),
        F.max("auc_micro").alias("auc_micro"),
    )


def grouped_binary_auc(
    df: DataFrame,
    group_cols: "str | Sequence[str]",
    score_col: str,
    label_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Exact ROC-AUC PER GROUP — "how does the quality model rank per
    language/domain", the segment-level evaluation `binary_auc` only
    answers corpus-globally. Same Mann-Whitney rank-sum construction
    (u2 = 2U kept integer so score ties contribute exact halves; the
    final ratio through exact int128 — Spark DECIMAL(38,0) div ==
    DuckDB HUGEINT //), ranked by the fully distributed
    `_grouped_with_below` (per-group aggregates joined back; every
    window partitioned, no frame wider than a bucket). Groups with one
    class return auc_micro = 0 (undefined, flagged by n_pos/n_neg in
    the output).

    Returns (group_cols..., n_pos, n_neg, u2, auc_micro)."""
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    return _auc(df, groups, score_col, label_col, n_buckets)


def _auc(
    df: DataFrame,
    groups: list[str],
    score_col: str,
    label_col: str,
    n_buckets: int,
    join_hint: str | None = None,
) -> DataFrame:
    """The AUC body of `grouped_binary_auc`; ``join_hint`` as in
    `_grouped_with_below`."""
    g = (
        df.where(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(*groups, score_col)
        .agg(
            F.sum(F.col(label_col).cast("long")).alias("pos"),
            (
                F.count(F.lit(1)) - F.sum(F.col(label_col).cast("long"))
            ).alias("neg"),
        )
    )
    r = _grouped_with_below(
        g, groups, score_col, "neg", n_buckets, join_hint=join_hint
    )
    return r.groupBy(*groups).agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.coalesce(F.sum(F.expr("pos * (2 * below + neg)")), F.lit(0))
        .cast("long")
        .alias("u2"),
    ).select(
        *groups,
        "n_pos",
        "n_neg",
        "u2",
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0 "
            "ELSE (1000000 * CAST(u2 AS DECIMAL(38,0)) "
            "+ CAST(n_pos AS DECIMAL(38,0)) * n_neg) "
            "div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) "
            "END"
        )
        .cast("long")
        .alias("auc_micro"),
    )


def grouped_mad_outliers(
    df: DataFrame,
    group_cols: str | Sequence[str],
    value_col: str,
    threshold_micro: int,
) -> DataFrame:
    """Per-group robust outlier flags from the EXACT integer
    median/MAD — the anomaly screen a quality pipeline runs per
    domain/segment before trusting its statistics: mean/stddev
    z-scores are dragged by the very outliers they hunt, while the
    median and the median-absolute-deviation have a 50% breakdown
    point (Hampel's rule).

    ``value_col`` must be integer-valued (cents/micros — the repo's
    money rule); everything downstream is then exact BIGINT on both
    engines. A row is an outlier iff

        |x - median_g| * 1_000_000  >  threshold_micro * MAD_g

    (integer cross-multiplication, never a float division; the
    classic "3 sigma-equivalents" is threshold_micro = 4_447_800 =
    3 x 1.4826 x 1e6). Groups with MAD = 0 — over half the group at
    one value — flag EVERY deviating row, the standard Hampel
    degeneracy, and identically on both engines. NULL values are
    ignored (not flagged, not counted).

    Scale shape: BOTH medians come from the distinct-value frame —
    the MAD's deviation distribution is derived from (group, value,
    count) directly (|x - med| keyed with the same counts), so the
    corpus is hash-aggregated ONCE and never checkpointed or joined
    mid-pipeline; per-group (med, mad) is a |groups|-sized frame that
    joins back onto the rows in a single (AQE-broadcast) join at the
    end. Two histogram passes, no driver collect, no window frame
    wider than a bucket. Returns the input rows (minus NULL values)
    + ``med``, ``abs_dev``, ``mad``, ``is_outlier``.
    """
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    spark = df.sparkSession
    # the histogram substrate consumes its input several times (min/
    # max agg, bucketing, totals) — materialize the COMPRESSED frames
    # (distinct values, then distinct deviations), never the corpus
    dv = materialize(_distinct_values(df, groups, value_col), Why.SHARED)
    med = _grouped_quantiles_from_dv(
        spark, dv, groups, value_col, [(1, 2)], DEFAULT_BUCKETS,
        join_hint="broadcast",
    ).select(*groups, F.col("value").cast("long").alias("med"))
    med = materialize(med, Why.SHARED)
    # deviation distribution from the DISTINCT values, reusing their
    # counts — |x - med| can collide (x below vs above the median),
    # so re-aggregate on the deviation
    dv_ad = materialize(
        dv.join(F.broadcast(med), groups)
        .select(
            *groups,
            F.abs(
                F.col(value_col).cast("long") - F.col("med")
            ).alias("_ad"),
            "cnt",
        )
        .groupBy(*groups, "_ad")
        .agg(F.sum("cnt").cast("long").alias("cnt")),
        Why.SHARED,
    )
    mad = _grouped_quantiles_from_dv(
        spark, dv_ad, groups, "_ad", [(1, 2)], DEFAULT_BUCKETS,
        join_hint="broadcast",
    ).select(*groups, F.col("value").cast("long").alias("mad"))
    # (med, mad) is |groups|-sized: broadcast it onto the corpus —
    # a shuffle_hash here would force the one corpus shuffle this
    # operator otherwise never does
    stats = med.join(F.broadcast(mad), groups)
    return (
        df.where(F.col(value_col).isNotNull())
        .join(F.broadcast(stats), groups)
        .withColumn(
            "abs_dev",
            F.abs(F.col(value_col).cast("long") - F.col("med")).cast(
                "long"
            ),
        )
        .withColumn(
            "is_outlier",
            (F.col("abs_dev") * F.lit(1_000_000))
            > (F.lit(int(threshold_micro)) * F.col("mad")),
        )
    )


def grouped_winsorize(
    df: DataFrame,
    group_cols: str | Sequence[str],
    value_col: str,
    lo_prob: tuple[int, int] = (1, 100),
    hi_prob: tuple[int, int] = (99, 100),
) -> DataFrame:
    """Per-group winsorization at EXACT type-1 quantiles — the
    outlier CLAMP (where `grouped_mad_outliers` is the outlier
    FLAG): values below the group's lo-quantile rise to it, values
    above the hi-quantile drop to it — the standard tail treatment
    before means/regressions on heavy-tailed lengths and scores.

    ``value_col`` must be integer-valued (the repo's money/micros
    rule) so the cuts and clamps are exact on both engines.
    Rational probabilities keep the target ranks exact BIGINT.

    Scale shape: ONE pass of the distributed per-group histogram
    computes BOTH cut points (two probs through the same
    substrate), the |groups|x2 cut frame pivots to (lo_cut, hi_cut)
    and BROADCASTS onto the rows — the corpus never shuffles.
    Returns the input rows (minus NULL values) + ``lo_cut``,
    ``hi_cut``, ``winsorized``, ``was_clamped``.
    """
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    cuts = grouped_exact_quantiles(
        df, groups, value_col, [tuple(lo_prob), tuple(hi_prob)]
    )
    lo_ppm = 1_000_000 * lo_prob[0] // lo_prob[1]
    hi_ppm = 1_000_000 * hi_prob[0] // hi_prob[1]
    pivoted = cuts.groupBy(*groups).agg(
        F.max(
            F.when(F.col("pct_ppm") == lo_ppm, F.col("value"))
        ).cast("long").alias("lo_cut"),
        F.max(
            F.when(F.col("pct_ppm") == hi_ppm, F.col("value"))
        ).cast("long").alias("hi_cut"),
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .join(F.broadcast(pivoted), groups)
        .withColumn(
            "winsorized",
            F.greatest(
                F.least(F.col(value_col).cast("long"), F.col("hi_cut")),
                F.col("lo_cut"),
            ),
        )
        .withColumn(
            "was_clamped",
            F.col("winsorized") != F.col(value_col).cast("long"),
        )
    )


def grouped_percentile_rank(
    df: DataFrame,
    group_cols: str | Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-group percentile-rank (quantile-normalization) transform —
    the feature scaling that survives heavy tails where z-scores
    don't: each row gets its group's exact MIDRANK percentile

        pct_micro = (2*below + cnt) * 1_000_000 div (2 * N_g)

    (ties share the average rank — the Mann-Whitney convention the
    AUC operator already uses; exact BIGINT on both engines, uniform
    on [0, 1e6] within every group by construction).

    Scale shape: one distinct-value hash-agg, the grouped histogram
    for ``below`` (no corpus window), per-group totals joined back,
    then ONE (group, value)-keyed join attaches the rank to the rows
    — the rows shuffle once, on the same key the dv frame already
    carries. NULL values pass through with pct_micro NULL.
    """
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    dv = _distinct_values(df, groups, value_col)
    r = _grouped_with_below(dv, groups, value_col, "cnt", DEFAULT_BUCKETS)
    tot = dv.groupBy(*groups).agg(
        F.sum("cnt").cast("long").alias("_nt")
    )
    ranks = r.join(tot, groups).select(
        *groups,
        value_col,
        F.expr(
            "CAST(((2 * below + cnt) * 1000000) div (2 * _nt) AS BIGINT)"
        ).alias("pct_micro"),
    )
    return df.join(
        ranks.hint("shuffle_hash"), [*groups, value_col], "left"
    )
