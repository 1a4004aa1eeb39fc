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
from collections.abc import Sequence

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
    count_name: str = "count",
) -> DataFrame:
    """groupBy(...).count() with a salted first stage; identical
    result, hot keys spread over ``salt_buckets`` reducers."""
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    partial = (
        df.withColumn("_salt", _salt(df, salt_cols, salt_buckets))
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(count_name))


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
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join requires a left-preserving join, got how={how!r}: "
            "an unmatched right row under right/full outer would surface "
            f"once per salt ({salt_buckets} duplicates)"
        )
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

_LOG = logging.getLogger("umn_eda_kafka_stream_processing_spark.skew")


def maybe_salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt_buckets: int = 16,
    max_share_micro: int = ADVISOR_MAX_SHARE_MICRO,
    census: "dict | None" = None,
    how: str = "inner",
    right_hint: str | None = None,
    left_salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Auto-salt advisor: join plain when the key is healthy, via
    `salted_join` when it is skewed — wiring `key_skew_census` (the
    decision signal) into the join path so callers stop hand-picking.

    The decision is ONE bounded planning scalar (a 1-row census agg
    over the left side's join key — the prefix-join guard shape):
    salt iff the heaviest key's row share exceeds
    ``max_share_micro``/1e6 (default 5% — at that share one reducer
    owns ≥5% of the join's probe work regardless of parallelism,
    the straggler regime AQE's skew splitting handles only
    per-stage; salting fixes the shape). Pass a precomputed
    ``census`` (any mapping with n_rows/max_cnt, e.g. a collected
    `key_skew_census` row) to skip the planning job — the
    train-once/serve-many pattern for a key joined repeatedly.

    Both outcomes are logged on the
    ``umn_eda_kafka_stream_processing_spark.skew`` logger with the
    census numbers, so a pipeline's salting decisions are auditable
    after the fact. Result is identical either way (property test:
    plain == salted on both skewed and uniform fixtures); ``how``
    must be left-preserving when salting triggers (salted_join's
    contract)."""
    keys = [on] if isinstance(on, str) else list(on)
    salt, census, share_micro = advise_salting(
        left, keys, max_share_micro, census
    )
    n_rows = int(census["n_rows"] or 0)
    max_cnt = int(census["max_cnt"] or 0)
    if salt:
        _LOG.info(
            "maybe_salted_join(%s): SALTED (top key %r holds %d/%d rows, "
            "share %dppm > %dppm) with %d salt buckets",
            keys, census.get("top_key"), max_cnt, n_rows,
            share_micro, max_share_micro, salt_buckets,
        )
        return salted_join(
            left, right, keys,
            salt_buckets=salt_buckets,
            left_salt_cols=left_salt_cols,
            how=how,
            right_hint=right_hint,
        )
    _LOG.info(
        "maybe_salted_join(%s): PLAIN (top key %r holds %d/%d rows, "
        "share %dppm <= %dppm)",
        keys, census.get("top_key"), max_cnt, n_rows,
        share_micro, max_share_micro,
    )
    rt = right.hint(right_hint) if right_hint else right
    return left.join(rt, keys, how)


def maybe_salted_agg(
    df: DataFrame,
    group_cols: str | Sequence[str],
    plain_aggs: Sequence[Column],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    salt_buckets: int = 16,
    max_share_micro: int = ADVISOR_MAX_SHARE_MICRO,
    census: "dict | None" = None,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Auto-salt advisor for the AGGREGATION path — the more common
    skew victim (a groupBy on a hot key puts that key's entire
    reduce on one task; AQE splits skewed JOINS but not skewed
    final aggregations). `maybe_salted_join`'s twin: one bounded
    planning scalar (`advise_salting` over the group key) decides
    between the plain one-shuffle ``groupBy(...).agg(plain_aggs)``
    and the two-stage `salted_agg` — identical results either way
    for distributive aggregates (property-tested on skewed and
    uniform fixtures; salting triggers only on the skewed one).

    The three agg lists exist because the salted path needs the
    partial/final split: ``plain_aggs`` run once per key on the
    plain path; ``partial_aggs`` run per (key, salt) and
    ``final_aggs`` re-combine the partials per key, referencing the
    partials' aliases (partial ``sum(x) AS s`` → final ``sum(s) AS
    s``). All three must produce the same output columns — the
    caller's contract, same as salted_agg's.

    Note Spark's hash aggregate already computes map-side PARTIALS
    for distributive aggregates, which absorbs most agg skew when
    upstream partitions are key-diverse; the regime this fixes is a
    hot key arriving ALREADY CLUSTERED (post-shuffle-on-that-key
    lineage, hive-partitioned-by-key input), where every map task
    holding the hot key is the same task. Pass a precomputed
    ``census`` to skip the planning job (train-once/serve-many).
    Decisions are logged on the same ``.skew`` logger as the join
    advisor, so a pipeline's salting is auditable after the fact."""
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    salt, census, share_micro = advise_salting(
        df, keys, max_share_micro, census
    )
    n_rows = int(census["n_rows"] or 0)
    max_cnt = int(census["max_cnt"] or 0)
    if salt:
        _LOG.info(
            "maybe_salted_agg(%s): SALTED (top key %r holds %d/%d rows, "
            "share %dppm > %dppm) with %d salt buckets",
            keys, census.get("top_key"), max_cnt, n_rows,
            share_micro, max_share_micro, salt_buckets,
        )
        return salted_agg(
            df, keys, partial_aggs, final_aggs,
            salt_buckets=salt_buckets, salt_cols=salt_cols,
        )
    _LOG.info(
        "maybe_salted_agg(%s): PLAIN (top key %r holds %d/%d rows, "
        "share %dppm <= %dppm)",
        keys, census.get("top_key"), max_cnt, n_rows,
        share_micro, max_share_micro,
    )
    return df.groupBy(*keys).agg(*plain_aggs)


BROADCAST_MAX_ROWS = 1_000_000  # ~tens of MB for narrow dims


def maybe_broadcast_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    max_rows: int = BROADCAST_MAX_ROWS,
    build_rows: int | None = None,
    shuffle_hint: str = "shuffle_hash",
) -> DataFrame:
    """Join-STRATEGY advisor, the third of the advisor family
    (`maybe_salted_join` / `maybe_salted_agg` decide salting; this
    decides the physical join build): broadcast the right side when
    it is provably small, pin a shuffle strategy when it is not —
    instead of trusting autoBroadcastJoinThreshold's byte estimate,
    which silently flips to a sort-merge when stats are missing
    (fresh parquet, post-transform frames) and OOMs the driver when
    they undercount.

    The decision is ONE bounded planning scalar — a count() of the
    build side (a map-side-combined agg; pass a precomputed
    ``build_rows`` to skip it, the train-once pattern — e.g. the
    `n_rows` a store's census or CMS register table already holds).
    ``max_rows`` is a ROW bound, deliberately cruder than bytes but
    deterministic and engine-portable; size it to executor memory /
    worst-case row width.

    Large side: the join is hinted ``shuffle_hint`` (default
    shuffle_hash — array/map payload rows sort badly under SMJ, the
    r04 rule; pass None to leave strategy to the optimizer).

    ``how`` must be left-preserving (inner/left/left_semi/left_anti):
    broadcasting the RIGHT side of a right/full outer is not a valid
    plan (every executor would emit its own copy of unmatched build
    rows). Decisions are logged on the module's audit logger."""
    # no 'cross': this function always passes equi-join keys, and a
    # cross join with an on-clause is contradictory (Spark errors or
    # silently treats it as inner) — round-10 advice
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"maybe_broadcast_join requires a left-preserving equi-join, "
            f"got how={how!r}: a broadcast build side cannot preserve "
            "unmatched right rows (and 'cross' takes no join keys)"
        )
    keys = [on] if isinstance(on, str) else list(on)
    n = int(build_rows) if build_rows is not None else right.count()
    if n <= max_rows:
        _LOG.info(
            "maybe_broadcast_join(%s): BROADCAST (build side %d rows "
            "<= %d)", keys, n, max_rows,
        )
        return left.join(F.broadcast(right), keys, how)
    _LOG.info(
        "maybe_broadcast_join(%s): SHUFFLE%s (build side %d rows > %d)",
        keys, f" ({shuffle_hint})" if shuffle_hint else "", n, max_rows,
    )
    rt = right.hint(shuffle_hint) if shuffle_hint else right
    return left.join(rt, keys, how)


def cms_side_stats(regs: DataFrame, side: str) -> DataFrame:
    """One-row (rows_<side>, top_cnt_<side>_ub) from a Count-Min
    register table over a join key (operators/sketches.py:
    cms_registers, or a `merge_cms` store read):

    * ``rows`` is EXACT — every input row increments exactly one
      bucket per hash row, so any row's register total equals the
      input row count (min across rows guards a malformed table);
    * ``top_cnt_ub`` is an UPPER BOUND on the heaviest key's count:
      for the true heaviest key k*, each hash row's register at
      h_r(k*) holds >= f(k*), so that row's max cell >= f(k*), and
      the min over rows of per-row max cells still >= f(k*). The
      bound is conservative (collisions only inflate it), so a
      salting decision from it can only over-salt, never miss skew.

    An empty register table (empty input) coalesces to (0, 0).
    """
    per_row = regs.groupBy("row").agg(
        F.max("cnt").alias("_mx"), F.sum("cnt").alias("_tot")
    )
    return per_row.agg(
        F.coalesce(F.min("_tot"), F.lit(0))
        .cast("long")
        .alias(f"rows_{side}"),
        F.coalesce(F.min("_mx"), F.lit(0))
        .cast("long")
        .alias(f"top_cnt_{side}_ub"),
    )


def advise_join_strategy(
    regs_left: DataFrame,
    regs_right: DataFrame,
    max_broadcast_rows: int = BROADCAST_MAX_ROWS,
    max_share_micro: int = ADVISOR_MAX_SHARE_MICRO,
) -> DataFrame:
    """The advisor loop CLOSED over standing sketches: price and plan
    a prospective join entirely from two Count-Min register tables
    (each ≤1024 rows, incrementally maintained in a `merge_cms`
    `stores.BatchStore`) — ZERO planning jobs touch the data
    itself, so a pipeline can re-decide its join strategy per batch
    for free (the round-10 verdict's missing consumer for
    `cms_join_size`).

    Inputs the registers yield (see `cms_side_stats` /
    `cms_join_size`): exact per-side row counts, an upper bound on
    each side's heaviest-key count, and the CMS inner-product
    OVERESTIMATE of the join cardinality. Decision (first match):

    * ``broadcast`` — right side provably small
      (rows_right <= max_broadcast_rows): the `maybe_broadcast_join`
      criterion with build_rows from the sketch;
    * ``salted_shuffle_hash`` — left heaviest-key share UPPER BOUND
      exceeds ``max_share_micro`` ppm: the `maybe_salted_join`
      criterion; conservative by construction (the bound can only
      over-salt — a salted plan is correct either way);
    * ``shuffle_hash`` — otherwise (pin the hash build; never let a
      missing-stats SMJ sort both sides — the r04 rule).

    Returns ONE row: (rows_left, rows_right, top_cnt_left_ub,
    top_cnt_right_ub, share_left_micro_ub, est_join_rows, strategy).
    share = (1e6·ub + rows div 2) div rows — the advise_salting
    round-half-up ppm in pure BIGINT, portable to the DuckDB oracle.
    est_join_rows is the Cormode-Muthukrishnan min-dot (always >=
    the true join size), kept DECIMAL(38,0) — two ~1e12-row
    registers dot past BIGINT. Feed the scalars onward:
    build_rows= for `maybe_broadcast_join`, a census dict for
    `maybe_salted_join` — the train-once/serve-many shape."""
    from umn_eda_kafka_stream_processing_spark.operators.sketches import (
        cms_join_size,
    )

    stats = (
        cms_side_stats(regs_left, "left")
        .crossJoin(cms_side_stats(regs_right, "right"))
        # est stays DECIMAL(38,0): two ~1e12-row registers dot past
        # BIGINT (the cast-before-product rule's output half) — cast
        # at the consumer if the scale is known small
        .crossJoin(cms_join_size(regs_left, regs_right))
    )
    share_left = F.expr(
        "CASE WHEN rows_left = 0 THEN 0 ELSE "
        "(1000000 * top_cnt_left_ub + rows_left div 2) div rows_left END"
    ).cast("long")
    return stats.select(
        "rows_left",
        "rows_right",
        "top_cnt_left_ub",
        "top_cnt_right_ub",
        share_left.alias("share_left_micro_ub"),
        "est_join_rows",
        F.when(
            F.col("rows_right") <= F.lit(int(max_broadcast_rows)),
            F.lit("broadcast"),
        )
        .when(
            share_left > F.lit(int(max_share_micro)),
            F.lit("salted_shuffle_hash"),
        )
        .otherwise(F.lit("shuffle_hash"))
        .alias("strategy"),
    )


def advise_join_strategy_rows(
    left_rows,
    right_rows,
    max_broadcast_rows: int = BROADCAST_MAX_ROWS,
    max_share_micro: int = ADVISOR_MAX_SHARE_MICRO,
) -> dict:
    """Pure-Python twin of `advise_join_strategy` over COLLECTED
    register rows — the driver-cached fast path for per-batch
    pipelines: CMS registers are ≤1024 rows by construction, so a
    streaming consumer that already holds them (the advised pipeline
    folds its own upserts; the dim side re-collects only when the
    store's batch listing changes) can price the join with ZERO Spark
    jobs instead of scheduling a multi-stage plan per microbatch
    (~0.8 s of pure scheduling at local[32], the round-13 carried
    target's dominant term).

    ``left_rows`` / ``right_rows``: iterables of (row, bucket, cnt)
    tuples (or Rows). Arithmetic is integer-exact and IDENTICAL to
    the DataFrame version (Python ints are unbounded, mirroring the
    DECIMAL(38,0) dot and BIGINT div) — equality is unit-test-pinned
    on randomized registers, and the advised census's oracle pins it
    against DuckDB per batch. Returns the same dict shape a
    `collect()[0].asDict()` of the DataFrame version yields, with
    ``est_join_rows`` an int (castable to DECIMAL(38,0))."""
    def side_stats(rows):
        per_row: dict[int, list[int]] = {}
        for r, b, c in rows:
            tot_mx = per_row.setdefault(int(r), [0, 0])
            tot_mx[0] += int(c)
            tot_mx[1] = max(tot_mx[1], int(c))
        if not per_row:
            return 0, 0
        return (
            min(t for t, _ in per_row.values()),
            min(m for _, m in per_row.values()),
        )

    left = [(int(r), int(b), int(c)) for r, b, c in left_rows]
    right = [(int(r), int(b), int(c)) for r, b, c in right_rows]
    rows_left, top_left = side_stats(left)
    rows_right, top_right = side_stats(right)
    rb = {(r, b): c for r, b, c in right}
    dots = [0, 0, 0, 0]  # min over ALL d rows: missing rows stay 0
    for r, b, c in left:
        other = rb.get((r, b))
        if other is not None:
            dots[r] += c * other
    est = min(dots)
    share_left = (
        0
        if rows_left == 0
        else (1000000 * top_left + rows_left // 2) // rows_left
    )
    if rows_right <= int(max_broadcast_rows):
        strategy = "broadcast"
    elif share_left > int(max_share_micro):
        strategy = "salted_shuffle_hash"
    else:
        strategy = "shuffle_hash"
    return {
        "rows_left": rows_left,
        "rows_right": rows_right,
        "top_cnt_left_ub": top_left,
        "top_cnt_right_ub": top_right,
        "share_left_micro_ub": share_left,
        "est_join_rows": est,
        "strategy": strategy,
    }


def join_with_strategy(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    decision,
    how: str = "inner",
    salt_buckets: int = 16,
    left_salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Execute the join an `advise_join_strategy` census chose —
    the serve side of the sketch-driven planning loop (``decision``
    is a collected Row/dict carrying ``strategy``; the join itself
    never runs a planning job):

    * ``broadcast`` — broadcast the right side;
    * ``salted_shuffle_hash`` — `salted_join` with a shuffle_hash
      build (left-preserving hows only, salted_join's contract);
    * ``shuffle_hash`` — pinned hash build (stats-free frames
      otherwise fall to SMJ).

    Results are identical across all three strategies (property-
    tested) — the decision only moves WHERE the work happens."""
    keys = [on] if isinstance(on, str) else list(on)
    strategy = decision["strategy"]
    if strategy == "broadcast":
        _LOG.info("join_with_strategy(%s): BROADCAST (from sketch)", keys)
        return left.join(F.broadcast(right), keys, how)
    if strategy == "salted_shuffle_hash":
        _LOG.info("join_with_strategy(%s): SALTED (from sketch)", keys)
        return salted_join(
            left, right, keys,
            salt_buckets=salt_buckets,
            left_salt_cols=left_salt_cols,
            how=how,
            right_hint="shuffle_hash",
        )
    if strategy == "shuffle_hash":
        _LOG.info("join_with_strategy(%s): SHUFFLE_HASH (from sketch)", keys)
        return left.join(right.hint("shuffle_hash"), keys, how)
    raise ValueError(f"unknown strategy {strategy!r}")


def advise_salting(
    left: DataFrame,
    keys: Sequence[str],
    max_share_micro: int = ADVISOR_MAX_SHARE_MICRO,
    census: "dict | None" = None,
) -> tuple[bool, dict, int]:
    """The advisor's decision, reusable standalone: returns
    (salt?, census, share_micro) where share_micro = round-half-up
    ppm share of the heaviest key. Computes the `key_skew_census`
    (multi-column keys concat through a non-printing separator) when
    no precomputed census is passed."""
    if census is None:
        probe = left.select(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(k).cast("string"), F.lit(""))
                    for k in keys
                ],
            ).alias("_k")
        )
        census = (
            key_skew_census(probe, "_k", "+".join(keys))
            .collect()[0]
            .asDict()
        )
    n_rows = int(census["n_rows"] or 0)
    max_cnt = int(census["max_cnt"] or 0)
    share_micro = (
        (1_000_000 * max_cnt + n_rows // 2) // n_rows if n_rows else 0
    )
    return share_micro > max_share_micro, census, share_micro


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
