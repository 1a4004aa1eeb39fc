"""What is built around the keyed snapshot store: change capture,
layout, integrity and erasure.

The store itself — latest-wins upsert, TTL sweep, small-file compaction —
is `stores.SnapshotStore`, this engine's KTable materialization
(builder.table(topic, Materialized.as(persistentKeyValueStore(...))),
samples/PurchaseEventTicket.java:44-51). This module holds the operators
around it: `snapshot_diff` (snapshot → changelog, the inverse of the
upsert's merge), the sorted and range-sharded exports with their
zone-map manifests, the Z-order/Hilbert layout keys, anti-entropy
partition checksums and the key-erasure sweep.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: str | Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data capture between two one-row-per-key snapshots:
    returns the NEW frame's columns (old values for deletes) plus
    ``change`` in {'inserted', 'deleted', 'updated', 'unchanged'} —
    the diff an incremental pipeline publishes when a store is
    rebuilt (snapshot-to-changelog, the inverse of
    `stores.compact_changelog`).

    ``compare_cols`` limits which columns define 'updated' (default:
    every shared non-key column). Comparison is null-safe (``<=>``),
    so NULL → value and value → NULL both count as updates.

    Plan shape: one full-outer join hashed on the key with a
    SHUFFLE_HASH hint — full outer never broadcasts, and without the
    hint Spark plans a sort-merge that sorts BOTH snapshots
    (the round-4 rule); with co-bucketed stores the exchange
    disappears entirely. No windows, no driver collect.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    shared = [
        c for c in new.columns if c in set(old.columns) and c not in keys
    ]
    cmp_cols = list(compare_cols) if compare_cols is not None else shared
    missing = [c for c in cmp_cols if c not in shared]
    if missing:
        raise ValueError(
            f"compare_cols not in both snapshots: {missing}"
        )
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in shared],
        # explicit presence tag: a NULL join-side key column can't
        # distinguish "row absent" from "key is NULL" on its own
        F.lit(1).alias("_o_present"),
    )
    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c) for c in shared],
        F.lit(1).alias("_n_present"),
    )
    cond = None
    for k in keys:
        c = n[k] == o[f"_ok_{k}"]
        cond = c if cond is None else (cond & c)
    j = n.join(o.hint("shuffle_hash"), cond, "full_outer")
    changed = F.lit(False)
    for c in cmp_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    status = (
        F.when(F.col("_o_present").isNull()
               & F.col("_n_present").isNotNull(), F.lit("inserted"))
        .when(F.col("_n_present").isNull(), F.lit("deleted"))
        .when(changed, F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    out_cols = [
        F.coalesce(F.col(k), F.col(f"_ok_{k}")).alias(k) for k in keys
    ] + [
        F.when(F.col("_n_present").isNull(), F.col(f"_o_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in shared
    ]
    return j.select(*out_cols, status.alias("change"))


def write_sorted(
    df: DataFrame,
    path: str,
    cols: str | Sequence[str],
    n_files: int = 32,
) -> DataFrame:
    """Globally-sorted export — the training-shard write path: emit
    ``df`` as ``n_files`` parquet files that together form one total
    order on ``cols``, WITHOUT a single-task global sort.

    Plan shape (the only scale-correct one): ``repartitionByRange``
    samples the sort key and plans a RangeExchange into ``n_files``
    key-disjoint partitions, and ``sortWithinPartitions`` sorts each
    independently — so the sort is n_files parallel local sorts, and
    reading file 0..k-1 yields the first k shards of the global
    order. A plain ``orderBy().write`` at 100 TB would also range-
    exchange, but gives no control over shard count/size and no
    manifest; ``coalesce(1)``-style exports (one task sorts
    everything) are the anti-pattern this replaces.

    Returns the per-file MANIFEST: (file, n_rows, min_/max_ of each
    sort column independently — the parquet-footer-style file-
    skipping stats — plus ``min_key``/``max_key``, the lexicographic
    min/max of the full sort TUPLE). Computed by one column-pruned
    scan of the written files grouped by ``input_file_name()``.
    Disjointness is a TUPLE property: per-column stats of a
    multi-column sort DO overlap across files (a file ending at
    (5, 3) can contain (4, 9), so its independent max is (5, 9)) —
    audit with min_key/max_key, where ordering files by min_key
    gives every file's max_key < the next file's min_key.

    Equal keys land in ONE partition (range partitioning is by key),
    so a single dominant key caps parallelism at one file — pre-salt
    by extending ``cols`` with a tiebreaker column when the export
    key is skewed (the key_skew_census signal)."""
    keys = [cols] if isinstance(cols, str) else list(cols)
    spark = df.sparkSession
    (
        df.repartitionByRange(n_files, *[F.col(k) for k in keys])
        .sortWithinPartitions(*[F.col(k).asc() for k in keys])
        .write.mode("overwrite")
        .parquet(path)
    )
    spark.catalog.refreshByPath(path)
    written = spark.read.parquet(path)
    tup = F.struct(*[F.col(k) for k in keys])
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(tup).alias("min_key"),
        F.max(tup).alias("max_key"),
    ]
    for k in keys:
        aggs.append(F.min(k).alias(f"min_{k}"))
        aggs.append(F.max(k).alias(f"max_{k}"))
    return (
        written.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .orderBy(F.col("min_key").asc())
    )


def zonemap_select(
    manifest: Sequence,
    col: str,
    lo,
    hi,
) -> list[str]:
    """Metadata-only file skipping — the READ side of ``write_sorted``:
    given a collected manifest (one row per file with ``min_<col>`` /
    ``max_<col>`` stats, <= n_files rows, a bounded planning list) and
    a closed predicate range ``[lo, hi]`` on ``col``, return the file
    paths whose zone [min, max] intersects the range. This is exactly
    what a parquet reader does with footer/row-group statistics and
    what table formats do with manifest min/max — expressed over OUR
    manifest so the pruning decision is auditable data, not reader
    internals.

    Sound by construction: a file whose [min_col, max_col] misses
    [lo, hi] cannot contain a matching row, so reading only the
    selected files loses nothing (the zonemap_pruning_census pins
    that equivalence against a full scan). Selectivity is the layout's
    job: after write_sorted on ``col`` the zones are near-disjoint and
    a narrow range touches O(1) of the files; on an unsorted export
    every zone spans the whole domain and nothing prunes — the census
    quantifies the difference.

    Driver-side on purpose: the manifest is <= n_files rows (the same
    bounded-collect class as `SnapshotStore.maintain`'s census) and the output
    feeds ``spark.read.parquet(*files)``, a plan-time decision."""
    out = []
    for m in manifest:
        mn, mx = m[f"min_{col}"], m[f"max_{col}"]
        if mn is None or mx is None:
            out.append(m["file"])  # stat-less file: must be read
        elif not (mx < lo or mn > hi):
            out.append(m["file"])
    return out


def zorder_expr(a: str, b: str, bits: int = 10, div: str = "div") -> str:
    """SQL text for the 2-D Morton (Z-order) interleave of two
    already-normalized integer expressions in [0, 2^bits): bit i of
    ``a`` lands at position 2i+1, bit i of ``b`` at 2i. Pure integer
    div/mod arithmetic so ONE generator yields the Spark expression
    (div='div') and the DuckDB oracle twin (div='//') — the engines
    cannot drift.

    Z-ordering is the standard multi-dimensional layout key: sorting
    (or range-partitioning) 100 TB of files by z(a, b) makes a
    conjunctive 2-D range predicate touch O(boundary) files instead
    of every file holding the full b-range of each a value — the
    file-skipping win `zorder_locality_stats` measures exactly."""
    terms = [
        f"(({a} {div} {1 << i}) % 2) * {2 * (1 << (2 * i))}"
        f" + (({b} {div} {1 << i}) % 2) * {1 << (2 * i)}"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_nd_expr(
    cols: Sequence[str], bits: int = 8, div: str = "div"
) -> str:
    """n-column Morton (Z-order) interleave as SQL text: bit j of
    ``cols[i]`` lands at position j*n + (n-1-i), so ``cols[0]``
    carries the most significant bit of each group — the same bit
    layout as `hilbert_nd_exprs`' final interleave, making the two
    keys directly comparable block-for-block. Pure div/mod
    arithmetic, one generator for both engines (div='div' Spark,
    '//' DuckDB). Inputs normalized longs in [0, 2^bits);
    n*bits < 63. Z is one flat expression (cheaper to compute than
    the Hilbert walk) but jumps at power-of-two seams — use the
    locality censuses to pick per layout."""
    cols = list(cols)
    n = len(cols)
    if n * bits >= 63:
        raise ValueError(
            f"n*bits = {n * bits} overflows the BIGINT key range"
        )
    terms = [
        f"(({cols[i]} {div} {1 << j}) % 2) * {1 << (j * n + (n - 1 - i))}"
        for j in range(bits)
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def hilbert_step_exprs(s: int, div: str = "div") -> dict[str, str]:
    """One per-bit step of the 2-D Hilbert index (the classic xy2d
    quadrant-walk, a public algorithm), as SQL text over the running
    state columns (d, x, y) — ONE generator yields both the Spark
    step (div='div') and the DuckDB oracle twin (div='//'), the
    zorder_expr portability convention.

    The state is kept MASKED to the remaining low bits ([0, s) after
    the step), so every intermediate is non-negative — integer div/%
    on negatives is where engines could diverge and the textbook
    formulation (s-1-x on the unmasked value) goes negative. The
    quadrant digit (3*rx) XOR ry is arithmetic (3rx + ry - 2rx·ry —
    exact for rx, ry in {0,1}); the ry=0 branch reflects (rx=1) and
    transposes, ry=1 passes through, all on the masked remainders.

    Verified a true Hilbert curve (bijective on the grid, every
    consecutive pair of indexes is grid-ADJACENT — the locality
    property Z-order lacks) against a Python reference."""
    rx = f"((_hx {div} {s}) % 2)"
    ry = f"((_hy {div} {s}) % 2)"
    return {
        "_hd": f"_hd + {s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})",
        "_hx": (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s} - 1 - (_hy % {s}) ELSE _hy % {s} END) "
            f"ELSE _hx % {s} END"
        ),
        "_hy": (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s} - 1 - (_hx % {s}) ELSE _hx % {s} END) "
            f"ELSE _hy % {s} END"
        ),
    }


def with_hilbert(
    df: DataFrame, a: str, b: str, bits: int = 10, out: str = "h"
) -> DataFrame:
    """Add the Hilbert index of two normalized integer columns in
    [0, 2^bits) as ``out``. ``bits`` chained simultaneous projections
    (withColumns reads the PRE-step state, so the x/y/d updates see
    one consistent snapshot); Catalyst collapses them into one
    whole-stage-codegen Project — a narrow, shuffle-free layout key,
    like `zorder_expr`. Hilbert beats Z-order on range locality (every
    curve step is grid-adjacent; Z jumps at power-of-two seams), at
    the price of this stateful per-bit walk instead of one flat
    interleave expression."""
    cur = df.withColumns(
        {
            "_hx": F.col(a).cast("long"),
            "_hy": F.col(b).cast("long"),
            "_hd": F.lit(0).cast("long"),
        }
    )
    for i in range(bits - 1, -1, -1):
        steps = hilbert_step_exprs(1 << i)
        cur = cur.withColumns({c: F.expr(e) for c, e in steps.items()})
    return cur.withColumn(out, F.col("_hd").cast("long")).drop(
        "_hx", "_hy", "_hd"
    )


def _spark_xor(a: str, b: str) -> str:
    return f"({a} ^ {b})"


def duck_xor(a: str, b: str) -> str:
    """DuckDB spells bitwise xor as a function (its ``^`` is
    exponentiation, the classic silent cross-engine trap)."""
    return f"xor({a}, {b})"


def hilbert_nd_exprs(
    n: int,
    bits: int,
    cols: Sequence[str] | None = None,
    div: str = "div",
    xor=None,
) -> tuple[list[dict[str, str]], str]:
    """n-dimensional Hilbert index as SQL text — Skilling's
    axes-to-transpose algorithm ("Programming the Hilbert curve",
    AIP Conf. Proc. 707, 2004 — public), generalizing the 2-D
    quadrant walk to any dimension count. ONE generator emits both
    engines' text (the zorder_expr convention): Spark with
    div='div' / the default ``^`` xor, DuckDB with div='//' /
    ``duck_xor`` — so the engines cannot drift.

    Returns (steps, index_expr): ``steps`` is an ordered list of
    SIMULTANEOUS-update dicts {state_col: expr} over the n working
    columns (each dict must see one consistent pre-step snapshot —
    withColumns / one CTE per dict), and ``index_expr`` interleaves
    the transposed bits into the final index (bit j of X[i] lands at
    j*n + (n-1-i) — X[0] carries the most significant bit of each
    group). Inputs must be normalized longs in [0, 2^bits).

    Arithmetic stays engine-portable: bit tests and low-bit masks are
    div/% on non-negative values (P = Q-1 masks spell ``% Q``); only
    genuine XOR goes through the formatter. Per step i of round Q,
    coordinate i either reflects X[0] (bit set: X0 ^= Q-1) or swaps
    its low bits with X[0] through t = (X0 ^ Xi) & (Q-1); the gray
    code runs SEQUENTIALLY (X[i] ^= X[i-1] reads the updated
    predecessor — one step per i), then the parity correction t
    (xor-fold of Q-1 over the set bits of X[n-1]) applies to every
    coordinate at once. Verified bijective + unit-step-adjacent for
    n=2..4 against a Python transcription of the paper's loop."""
    if xor is None:
        xor = _spark_xor
    X = list(cols) if cols else [f"_g{i}" for i in range(n)]
    assert len(X) == n
    steps: list[dict[str, str]] = []
    q = 1 << (bits - 1)
    while q > 1:
        p = q - 1
        for i in range(n):
            cond = f"(({X[i]} {div} {q}) % 2) = 1"
            if i == 0:
                steps.append(
                    {
                        X[0]: (
                            f"CASE WHEN {cond} THEN {xor(X[0], str(p))} "
                            f"ELSE {X[0]} END"
                        )
                    }
                )
            else:
                t = f"({xor(X[0], X[i])} % {q})"
                steps.append(
                    {
                        X[0]: (
                            f"CASE WHEN {cond} THEN {xor(X[0], str(p))} "
                            f"ELSE {xor(X[0], t)} END"
                        ),
                        X[i]: (
                            f"CASE WHEN {cond} THEN {X[i]} "
                            f"ELSE {xor(X[i], t)} END"
                        ),
                    }
                )
        q >>= 1
    for i in range(1, n):
        steps.append({X[i]: xor(X[i], X[i - 1])})
    t_expr = "0"
    q = 1 << (bits - 1)
    while q > 1:
        t_expr = xor(
            t_expr, f"((({X[n - 1]} {div} {q}) % 2) * {q - 1})"
        )
        q >>= 1
    steps.append({X[i]: xor(X[i], t_expr) for i in range(n)})
    terms = [
        f"(({X[i]} {div} {1 << j}) % 2) * {1 << (j * n + (n - 1 - i))}"
        for j in range(bits)
        for i in range(n)
    ]
    return steps, "(" + " + ".join(terms) + ")"


def with_hilbert_nd(
    df: DataFrame, cols: Sequence[str], bits: int = 8, out: str = "h"
) -> DataFrame:
    """Add the n-D Hilbert index of ``cols`` (normalized longs in
    [0, 2^bits)) as ``out`` — the layout key for 3+-dimensional
    exports (date, tenant, key), where `with_hilbert` stops at 2-D.
    Chained projections, no shuffle; Catalyst collapses the walk
    into whole-stage-codegen Projects like the 2-D variant. Index
    range is [0, 2^(n*bits)) — keep n*bits < 63."""
    cols = list(cols)
    n = len(cols)
    if n < 2:
        raise ValueError("with_hilbert_nd needs >= 2 columns")
    if n * bits >= 63:
        raise ValueError(
            f"n*bits = {n * bits} overflows the BIGINT index range"
        )
    state = [f"_g{i}" for i in range(n)]
    cur = df.withColumns(
        {s: F.col(c).cast("long") for s, c in zip(state, cols)}
    )
    steps, index_expr = hilbert_nd_exprs(n, bits, state)
    for step in steps:
        cur = cur.withColumns({c: F.expr(e) for c, e in step.items()})
    return cur.withColumn(out, F.expr(index_expr).cast("long")).drop(
        *state
    )


def partition_checksums(
    df: DataFrame,
    part_col: str,
    cols: Sequence[str],
) -> DataFrame:
    """Anti-entropy partition digests — the replica-verification /
    corruption-sweep primitive: per partition value, a row count and
    an order-independent content checksum (SUM of the first 32 bits
    of a per-row md5; addition commutes, so any partitioning/engine
    yields the same BIGINT). Two replicas (or a store vs. its
    rebuild) compare with a |parts|-row join — the Cassandra/Dynamo
    merkle-repair idea at table-partition granularity, as auditable
    data.

    The row hash is md5 over the CONCATENATION OF PER-COLUMN MD5s —
    each inner digest is exactly 32 hex chars, so column boundaries
    are fixed-width and a value containing any delimiter can never
    alias across columns (a plain '|' join made ('a|b','c') and
    ('a','b|c') identical — round-11 advice). One column-pruned scan
    + one hash-agg.

    NULL columns hash as the empty string (coalesce), so a NULL→''
    flip in one column is NOT detected — callers needing
    NULL-vs-empty discrimination should pre-tag (e.g. cast through
    ``CASE WHEN x IS NULL THEN chr(0) ELSE x END``). Collision odds:
    forging an equal sum needs coordinated 32-bit collisions; for
    corruption DETECTION (bit rot, a lost row, a stale version) that
    is far beyond accidental.
    """
    joined = F.concat(
        *[F.md5(F.coalesce(F.col(c).cast("string"), F.lit(""))) for c in cols]
    )
    h32 = F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")
    return df.groupBy(part_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(h32).cast("long").alias("checksum"),
    )


def erase_keys(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key_col: str,
    partition_cols: str | Sequence[str],
) -> dict:
    """Key-erasure sweep (the GDPR right-to-be-forgotten pass): remove
    every row whose ``key_col`` appears in ``keys`` from the
    partitioned parquet store, rewriting ONLY partitions that
    actually hold such rows (`stores.SnapshotStore.erase`).

    Shape: one semi-join census finds the touched partition values
    (bounded collect — partition dirs, not rows), a partition-pruned
    read anti-joins the keys out (the erasure set broadcasts — a
    deletion request batch is dim-sized), dynamic overwrite replaces
    exactly the touched directories, and directories the erasure
    emptied are deleted explicitly (dynamic overwrite only replaces
    partitions the job WRITES). Idempotent: a second sweep with the
    same keys touches nothing.

    NOTE: this erases the CURRENT store only. Versioned/changelog
    stores (operators/versioned.py) additionally need the history
    folded past the erasure point (`collapse_versioned` drops
    tombstoned keys from the base) — the census pairs the two.

    Returns ``{"partitions_touched": p, "rows_removed": r,
    "rows_kept": k, "partitions_emptied": e}``.

    Only a MISSING store path reports the all-zero "nothing to
    erase" sweep (a never-written store is legitimately empty); any
    other read failure — wrong schema, corrupt footer, permission —
    RE-RAISES: a compliance sweep must never report success against
    a store it could not actually read.
    """
    store = SnapshotStore(spark, table_path, partition_by=partition_cols)
    return store.erase(keys, key_col)


def equidepth_bounds(
    df: DataFrame, col: str, n_shards: int
) -> list:
    """Deterministic equi-depth shard bounds: the EXACT type-1
    quantiles at i/n for i = 1..n-1 (operators/ranking.py histogram —
    no corpus sort, no sampling). Spark's own repartitionByRange
    SAMPLES the key, so two runs of the same job can cut different
    file boundaries; exact bounds make the physical layout a pure
    function of the data — reproducible exports, diffable manifests,
    and an oracle can recompute which shard every row lands in.
    Returns the n-1 upper bounds as a sorted list (bounded planning
    data, the zonemap-manifest collect class)."""
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        exact_quantiles,
    )

    n = int(n_shards)
    if n < 2:
        return []
    qs = exact_quantiles(df, col, [(i, n) for i in range(1, n)])
    return [r["value"] for r in qs.orderBy("pct_ppm").collect()]


def shard_expr(col: str, bounds: Sequence) -> Column:
    """Shard id = number of bounds STRICTLY below the value — ties of
    a boundary value all land in one shard, so shards are disjoint by
    VALUE (never split a key across files). A sum of comparisons,
    whole-stage-codegen friendly at any realistic shard count."""
    e = F.lit(0)
    for b in bounds:
        e = e + F.when(F.col(col) > F.lit(b), 1).otherwise(0)
    return e.cast("int")


def write_range_sharded(
    df: DataFrame,
    path: str,
    col: str,
    n_shards: int,
    tiebreak_cols: Sequence[str] = (),
) -> list:
    """Deterministic range-sharded export — `write_sorted`'s
    reproducible sibling: rows land in hive partitions
    ``shard=0..n-1`` cut at EXACT equi-depth bounds (not sampled
    ones), each shard locally sorted on ``col``. Which rows land in
    which shard is a pure function of the data — re-runs are
    CONTENT-equivalent per partition (`partition_checksums`' order-
    independent digests verify replicas). For byte-identical re-runs
    pass ``tiebreak_cols`` extending the local sort to a TOTAL order:
    without them, equal-key rows serialize in exchange-arrival order,
    which can differ run to run.

    Returns the bounds used. One quantile pass + one shuffle on the
    shard id + n local sorts; equal keys never split across shards
    (a single dominant key caps that shard's size — the write_sorted
    skew caveat applies)."""
    bounds = equidepth_bounds(df, col, n_shards)
    out = df.withColumn("shard", shard_expr(col, bounds))
    order = [F.col(col).asc()] + [
        F.col(c).asc() for c in tiebreak_cols
    ]
    (
        out.repartition(int(n_shards), "shard")
        .sortWithinPartitions(*order)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    df.sparkSession.catalog.refreshByPath(path)
    return bounds
