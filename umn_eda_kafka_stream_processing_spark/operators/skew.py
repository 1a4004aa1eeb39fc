"""Skew-mitigation operators.

At 100 TB a handful of hot keys (a viral artist, one dominant
language) can put an entire ``groupBy``/join key on one reducer. AQE's
skew-join splitting (enabled in session.py) handles the JOIN side at
runtime; these helpers handle the AGGREGATION side and give an
explicit, plannable alternative when AQE's heuristics aren't enough.

* ``salted_grouped_count`` — two-stage count: map keys onto
  (key, salt) with a deterministic per-row salt, partially aggregate
  (spreads one hot key over ``salt_buckets`` reducers), then sum the
  partials. Result is IDENTICAL to ``groupBy(key).count()`` — counts
  are distributive — at the cost of a second (tiny) shuffle over
  |keys| x salt_buckets rows.
* ``salted_agg`` — the same two-stage shape for any distributive
  aggregate pair (e.g. partial sum → sum, partial max → max).
* ``decide_join_strategy`` — the one broadcast / salted / shuffle_hash
  decision, over scalars from a key census, a build-side count or
  Count-Min registers; ``join_with_strategy`` executes it.

The salt is ``pmod(hash(salt cols), buckets)`` — deterministic and
replay-stable. ``F.rand()`` is deliberately NOT used: random values
depend on within-partition row order, which is nondeterministic
downstream of a shuffle, so a retried map task could re-salt its rows
differently and double-count/drop them across salt buckets. With no
``salt_cols`` given, every column is hashed (identical rows co-bucket,
which is harmless for distributive aggregates).
"""

from __future__ import annotations

import logging
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(df: DataFrame, salt_cols: Sequence[str] | None, buckets: int) -> Column:
    cols = list(salt_cols) if salt_cols else list(df.columns)
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(buckets))


def salted_grouped_count(
    df: DataFrame,
    group_cols: str | Sequence[str],
    salt_buckets: int = 16,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """groupBy(...).count() with a salted first stage; identical
    result, hot keys spread over ``salt_buckets`` reducers."""
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    partial = (
        df.withColumn("_salt", _salt(df, salt_cols, salt_buckets))
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("count"))


_LEFT_PRESERVING = frozenset(
    {"inner", "left", "left_outer", "leftouter",
     "left_semi", "leftsemi", "left_anti", "leftanti"}
)


def require_left_preserving(how: str) -> None:
    """Raise ValueError unless ``how`` is a left-preserving equi-join
    (inner/left/left_semi/left_anti): under right/full outer a salted
    plan emits an unmatched right row once per salt, a broadcast
    build side cannot preserve unmatched right rows, and 'cross'
    takes no join keys."""
    if how.lower() not in _LEFT_PRESERVING:
        raise ValueError(
            f"requires a left-preserving equi-join, got how={how!r}: an "
            "unmatched right row would surface once per salt or be lost "
            "by a broadcast build side"
        )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt_buckets: int = 16,
    left_salt_cols: Sequence[str] | None = None,
    how: str = "inner",
    right_hint: str | None = None,
) -> DataFrame:
    """Equi-join with a salted key: the left side gets ONE
    deterministic salt per row, the right side replicates each row to
    ALL ``salt_buckets`` salts, and the join adds the salt to the
    key — so each matching (left, right) pair still meets EXACTLY
    once, but one hot key's join work spreads over ``salt_buckets``
    tasks instead of one reducer.

    This is the a-side-salt/b-side-explode shape proven inline in
    dedup.py:ngram_jaccard_pairs (measured there: 12-27 s of
    straggler executor time collapsed by salting), promoted to a
    reusable operator. Use it when BOTH sides are too big to
    broadcast and the key is low-cardinality or skewed (day keys,
    language codes, category ids); for a small side, ``broadcast()``
    is strictly better, and for mild skew AQE's skew-join splitting
    already handles the common case.

    Cost model: the right side is replicated ``salt_buckets`` times
    through the shuffle — salt the side whose rows are NARROW, and
    size ``salt_buckets`` to the straggler ratio, not higher. The
    salt is ``pmod(hash(left_salt_cols or all left columns),
    buckets)`` — deterministic and replay-stable (the module's
    no-F.rand() rule).

    ``how`` must be left-preserving (``inner``, ``left``/
    ``left_outer``, ``left_semi``, ``left_anti``): a left row owns
    exactly one salt so its match/no-match semantics are unchanged,
    while a right/full outer would emit one unmatched row PER SALT.

    ``right_hint`` (e.g. ``"shuffle_hash"``) pins the join strategy:
    at small inputs AQE happily broadcasts the exploded right side,
    which silently voids the salting — pass the hint when the query
    exists to exercise/exhibit the at-scale distributed shape.
    """
    require_left_preserving(how)
    keys = [on] if isinstance(on, str) else list(on)
    lt = left.withColumn("_salt", _salt(left, left_salt_cols, salt_buckets))
    rt = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    if right_hint:
        rt = rt.hint(right_hint)
    out = lt.join(rt, [*keys, "_salt"], how)
    return out.drop("_salt")


def salted_agg(
    df: DataFrame,
    group_cols: str | Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    salt_buckets: int = 16,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-stage salted aggregation for distributive aggregates.

    ``partial_aggs`` run per (key, salt); ``final_aggs`` re-combine
    the partials per key and must reference the partials' aliases
    (e.g. partial ``sum(x) AS s`` → final ``sum(s) AS s``).
    """
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    partial = (
        df.withColumn("_salt", _salt(df, salt_cols, salt_buckets))
        .groupBy(*keys, "_salt")
        .agg(*partial_aggs)
    )
    return partial.groupBy(*keys).agg(*final_aggs)


ADVISOR_MAX_SHARE_MICRO = 50_000  # heaviest key > 5% of rows → salt
BROADCAST_MAX_ROWS = 1_000_000  # ~tens of MB for narrow dims

_LOG = logging.getLogger("umn_eda_kafka_stream_processing_spark.skew")


def decide_join_strategy(
    rows_left: int | None,
    top_left: int | None,
    rows_right: int | None,
    max_broadcast_rows: int = BROADCAST_MAX_ROWS,
    max_share_micro: int = ADVISOR_MAX_SHARE_MICRO,
) -> dict:
    """THE join-strategy decision — a pure function of three scalars,
    so it costs no Spark job and every stats source feeds it the same
    way:

    * a key census: ``n_rows``/``max_cnt`` of a collected
      `key_skew_census` row (exact heaviest-key count);
    * a build-side count: ``right.count()`` as ``rows_right``;
    * standing Count-Min registers: `sketches.cms_register_stats`
      (exact row counts, a heaviest-key UPPER bound — a decision from
      it can only over-salt, never miss skew).

    ``share_left_micro_ub`` is the heaviest left key's round-half-up
    ppm share, (1e6·top + rows div 2) div rows (0 for an empty left
    side) — integer-exact, the BIGINT arithmetic the DuckDB oracles
    re-derive. The strategy is the first match of:

    * ``broadcast`` — the build side is provably small
      (rows_right <= max_broadcast_rows; ``rows_right=None`` never
      broadcasts — the salting-only decision);
    * ``salted_shuffle_hash`` — the share exceeds ``max_share_micro``
      (default 5%: one reducer owns that share of the probe work
      regardless of parallelism, the straggler regime AQE's
      per-stage skew splitting does not fix);
    * ``shuffle_hash`` — otherwise (pin the hash build; a stats-free
      frame must not fall to a sort-merge of both sides).

    A row bound, not bytes: cruder than autoBroadcastJoinThreshold's
    estimate but deterministic and engine-portable (the estimate
    silently flips on stats-free frames and OOMs when it undercounts).
    Execute the result with `join_with_strategy`, or branch on it
    between `salted_agg` and a plain ``groupBy().agg()``."""
    rows_left, top_left = int(rows_left or 0), int(top_left or 0)
    share = (
        (1_000_000 * top_left + rows_left // 2) // rows_left if rows_left else 0
    )
    if rows_right is not None and int(rows_right) <= max_broadcast_rows:
        strategy = "broadcast"
    elif share > max_share_micro:
        strategy = "salted_shuffle_hash"
    else:
        strategy = "shuffle_hash"
    return {"strategy": strategy, "share_left_micro_ub": share}


def join_with_strategy(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    decision: Mapping,
    how: str = "inner",
    salt_buckets: int = 16,
    left_salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Execute the join a `decide_join_strategy` decision chose (any
    mapping carrying ``strategy``; the join runs no planning job):

    * ``broadcast`` — broadcast the right side;
    * ``salted_shuffle_hash`` — `salted_join` with a shuffle_hash
      build (at small inputs AQE would otherwise broadcast the
      exploded side and void the salt);
    * ``shuffle_hash`` — pinned hash build.

    Results are identical across all three strategies (property-
    tested) — the decision only moves WHERE the work happens. ``how``
    must be left-preserving whatever the strategy, checked before the
    branch: a data-driven decision can flip to salted on any batch,
    and a right/full outer that only fails then fails on every
    replay. Each decision is logged once, with the scalars that made
    it, on the ``umn_eda_kafka_stream_processing_spark.skew`` logger."""
    require_left_preserving(how)
    keys = [on] if isinstance(on, str) else list(on)
    strategy = decision["strategy"]
    if strategy not in ("broadcast", "salted_shuffle_hash", "shuffle_hash"):
        raise ValueError(f"unknown strategy {strategy!r}")
    _LOG.info(
        "join_with_strategy(%s): %s %s", keys, strategy,
        {k: v for k, v in decision.items() if k != "strategy"},
    )
    if strategy == "broadcast":
        return left.join(F.broadcast(right), keys, how)
    if strategy == "salted_shuffle_hash":
        return salted_join(
            left, right, keys,
            salt_buckets=salt_buckets,
            left_salt_cols=left_salt_cols,
            how=how,
            right_hint="shuffle_hash",
        )
    return left.join(right.hint("shuffle_hash"), keys, how)


def key_skew_census(
    df: DataFrame, key_col: str, label: str
) -> DataFrame:
    """One-row skew diagnostic for a prospective join/agg key: total
    rows, distinct keys, the heaviest key and its count, and
    skew_micro = floor(1e6 * max_cnt * n_keys / n_rows + 0.5) — how
    many times the heaviest key exceeds the uniform share (1e6 =
    perfectly uniform). The planning signal for whether a key needs
    salting (salted_join/salted_agg) before it becomes the one task
    that runs forever at 100 TB.

    Two hash-aggs: key counts, then a min(struct(-cnt, key)) argmax
    (map-side combined — no corpus sort, no window). NULL keys are
    counted as a key (they hash-partition together too — a mostly-
    NULL FK is the classic silent skew); the struct coalesces NULL
    to '' so the argmax stays total."""
    c = df.groupBy(
        F.coalesce(F.col(key_col).cast("string"), F.lit("")).alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return c.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("k"))).alias(
            "_b"
        ),
    ).select(
        F.lit(label).alias("key"),
        "n_rows",
        "n_keys",
        (-F.col("_b.nc")).cast("long").alias("max_cnt"),
        F.col("_b.k").alias("top_key"),
        F.expr(
            "CAST((1000000 * (-_b.nc) * n_keys + n_rows div 2) "
            "div n_rows AS BIGINT)"
        ).alias("skew_micro"),
    )
