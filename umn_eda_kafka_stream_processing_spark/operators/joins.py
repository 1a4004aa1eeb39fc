"""Join operators beyond plain equi-joins.

The reference's only join is the KStream⋈KTable inner equi-join
(SURVEY.md §2.3); Spark's ``how=`` parameter covers outer/semi/anti
for free. This module adds the two join families a complete engine
needs that Spark has no single operator for:

* ``asof_join``   — temporal as-of: each fact row picks up the latest
  update with update_time <= fact_time for its key. This is ALSO the
  faithful generalization of the reference's stream⋈table semantics
  (a stream record joins table state *as of its arrival* —
  SURVEY.md §2.3; the batch pipelines use latest-overall because the
  reference tests always pipe dims first).
* ``interval_join`` — fact time within [start, end] of the other side.

Scale notes: asof_join is the union-then-window formulation — ONE
shuffle+sort of facts+updates on the key, no per-row lookups, no
broadcast requirement on either side; this is the canonical
distributed as-of (same shape Flink/kdb+ batch equivalents use).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    facts: DataFrame,
    updates: DataFrame,
    key_cols: str | Sequence[str],
    fact_time: str,
    update_time: str,
    payload_cols: Sequence[str],
    how: str = "inner",
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: attach to each fact row the payload of the
    nearest update per key — ``direction='backward'`` (default) the
    LATEST update with update_time <= fact_time, ``'forward'`` the
    EARLIEST with update_time >= fact_time (both inclusive).
    ``tolerance`` (an SQL interval string, e.g. ``'7 days'``) bounds
    how far the match may be from the fact: a match older/farther
    than the bound is treated as no match (dropped under 'inner',
    NULL payload under 'left') — the pandas merge_asof / kdb wj
    surface.

    ``updates`` must be unique per (key, update_time) — pre-dedupe
    with latest_by_key otherwise (ties would be nondeterministic in
    ANY engine's as-of). ``how``: 'inner' drops unmatched facts;
    'left' keeps them with null payload.

    Implementation: union updates (tag 0) and facts (tag 1) on
    (key, time, tag), then ONE window pass per key carrying the last
    non-null payload (and its timestamp, for the tolerance test)
    forward — time ASC for backward, time DESC for forward; tag 0
    sorts first within a timestamp either way, so an update at
    exactly the fact's time wins (inclusive). Still the canonical
    distributed as-of: one shuffle+sort on the key, no per-row
    lookups, no broadcast requirement on either side.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}"
        )
    fact_payload = [c for c in facts.columns if c not in keys and c != fact_time]
    clash = set(fact_payload) & set(payload_cols)
    if clash:
        raise ValueError(
            f"asof_join output would contain duplicate columns {sorted(clash)}; "
            "rename one side before joining"
        )
    u = updates.select(
        *[F.col(k) for k in keys],
        F.col(update_time).alias("_t"),
        F.lit(0).alias("_tag"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_p"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"`{c}`:{facts.schema[c].dataType.simpleString()}" for c in fact_payload
            ) + ">"
        ).alias("_f"),
    )
    f = facts.select(
        *[F.col(k) for k in keys],
        F.col(fact_time).alias("_t"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"`{c}`:{updates.schema[c].dataType.simpleString()}" for c in payload_cols
            ) + ">"
        ).alias("_p"),
        F.struct(*[F.col(c) for c in fact_payload]).alias("_f"),
    )
    t_order = (
        F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(t_order, F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    attached = (
        u.unionByName(f)
        .withColumn("_asof", F.last("_p", ignorenulls=True).over(w))
        .withColumn(
            "_asof_t",
            F.last(
                F.when(F.col("_tag") == 0, F.col("_t")), ignorenulls=True
            ).over(w),
        )
        .filter(F.col("_tag") == 1)
    )
    if tolerance is not None:
        gap_ok = (
            F.col("_t") <= F.col("_asof_t") + F.expr(f"INTERVAL {tolerance}")
            if direction == "backward"
            else F.col("_asof_t")
            <= F.col("_t") + F.expr(f"INTERVAL {tolerance}")
        )
        attached = attached.withColumn(
            "_asof", F.when(gap_ok, F.col("_asof"))
        )
    if how == "inner":
        attached = attached.filter(F.col("_asof").isNotNull())
    elif how != "left":
        raise ValueError(f"asof_join supports inner/left, got {how!r}")
    return attached.select(
        *keys, F.col("_t").alias(fact_time), "_f.*", "_asof.*"
    )


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    key_cols: str | Sequence[str],
    fact_time: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Fact rows joined to interval rows of the same key where
    start <= fact_time < end (right-open, the streaming convention).

    Plain equi-join on the key with the range as a join predicate —
    Catalyst evaluates the range during the hash probe, so cost is
    |matches|, not |facts|x|intervals|. For keyless range joins
    bucketize the time dimension first (bucket = floor(t / width)
    on both sides, like dedup.ngram_jaccard_pairs' length bands).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # qualify through the parent DataFrames: unqualified F.col would be
    # ambiguous whenever both sides carry a column with the same name
    cond = (facts[fact_time] >= intervals[start_col]) & (
        facts[fact_time] < intervals[end_col]
    )
    for k in keys:
        cond = (facts[k] == intervals[k]) & cond
    joined = facts.join(intervals, cond, "inner")
    # drop the duplicate key columns from the interval side
    out_cols = [facts[c] for c in facts.columns] + [
        intervals[c] for c in intervals.columns if c not in keys
    ]
    return joined.select(*out_cols)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    block: "Callable[[Column], Column] | None" = None,
    salt_buckets: int = 8,
) -> DataFrame:
    """Blocked fuzzy (edit-distance) join — the entity-resolution
    primitive. Candidate pairs come from an EQUI-join on a blocking
    key (never an all-pairs cross product), are pre-pruned by the
    length band |len_l - len_r| <= max_dist (a free lower bound on
    edit distance), and survive iff levenshtein <= max_dist. Returns
    left.* + right.* + ``dist``.

    ``block`` maps a name column to its blocking key (default: first
    character lowercased). Blocking trades recall for scale — a typo
    that changes the key escapes its block; callers choose keys their
    dirt model preserves (and should report match rates, which makes
    the recall loss measurable rather than silent — the hot_bucket_cap
    census convention).

    Skew: a blocking key is low-cardinality BY DESIGN (the default is
    ~26 buckets, each quadratic), so the join key is salted — the left
    side takes ONE deterministic salt per row (pmod of the hash of the
    JOIN column only — replay-stable, the skew.py no-F.rand() rule,
    and independent of unrelated payload columns, which may be
    unhashable types like maps and whose edits must not move a row's
    salt), the right side replicates each row to all ``salt_buckets``
    salts, and the equi-key becomes (block, salt). Every (left, right) pair still
    meets EXACTLY once (inner join, one salt per left row), but one
    block's pair work spreads over ``salt_buckets`` tasks instead of
    one reducer running the whole block² forever at 100 TB. Cost: the
    (small, deduped) clean side shuffles ``salt_buckets`` times.
    ``salt_buckets=1`` disables salting; the shuffle_hash hint keeps
    AQE from broadcasting the exploded side at test SFs (which would
    silently void the salt — the salted_join lesson).
    """
    if block is None:
        def block(c: Column) -> Column:  # noqa: ANN001
            return F.lower(F.substring(c, 1, 1))

    lb = left.withColumn("_blk", block(F.col(left_col)))
    rb = right.withColumn("_blk", block(F.col(right_col)))
    keys = ["_blk"]
    if salt_buckets > 1:
        lb = lb.withColumn(
            "_fzs",
            F.pmod(F.hash(F.col(left_col)), F.lit(salt_buckets)),
        )
        rb = rb.withColumn(
            "_fzs",
            F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
        )
        keys = ["_blk", "_fzs"]
    return (
        lb.join(rb.hint("shuffle_hash"), keys)
        .where(
            F.abs(F.length(left_col) - F.length(right_col))
            <= F.lit(max_dist)
        )
        .withColumn(
            "dist", F.levenshtein(F.col(left_col), F.col(right_col))
        )
        .where(F.col("dist") <= F.lit(max_dist))
        .drop(*keys)
    )


def best_fuzzy_match(
    matches: DataFrame,
    group_cols: Sequence[str],
    tie_col: str,
) -> DataFrame:
    """Pick each group's best fuzzy candidate: min (dist, tie_col) —
    a min(struct) argmin, which gets map-side partial aggregation
    instead of shuffling every candidate (the pq_encode rule). Both
    key components must be non-null (dist always is; pass a non-null
    tie column), so the NULL-sorts-first min(struct) trap cannot
    bite. Returns group_cols + best_dist + best_<tie_col>."""
    g = matches.groupBy(*group_cols).agg(
        F.min(F.struct(F.col("dist"), F.col(tie_col))).alias("_b")
    )
    return g.select(
        *group_cols,
        F.col("_b.dist").alias("best_dist"),
        F.col(f"_b.{tie_col}").alias(f"best_{tie_col}"),
    )
