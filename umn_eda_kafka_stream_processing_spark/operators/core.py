"""Core relational operator library.

Each operator is a thin, composable function over DataFrames that
re-expresses one Kafka Streams DSL construct from the reference
(SURVEY.md §2) in Catalyst-optimizable form. Nothing here collects to
the driver; every operator is a pure logical-plan transformation, so
predicate pushdown / column pruning / broadcast selection all apply.

Scale notes are inline per operator — every one of these must hold at
1000 executors over 100 TB, not just on local[32].
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame,
    key_cols: str | Sequence[str],
    order_col: str | Column = "event_seq",
) -> DataFrame:
    """Last-write-wins-by-key view — the reference's KTable.

    reference: builder.table(topic, Materialized.as(
    persistentKeyValueStore(...))), e.g.
    samples/PurchaseEventTicket.java:44-51. A KTable holds the latest
    value per key; re-piping a key overwrites (upsert).

    Implementation: max_by over the arrival-order column — a single
    hash aggregation (partial + final, map-side combined by Catalyst).
    This beats the window/row_number formulation at scale: row_number
    needs a full shuffle + per-partition sort of *all* versions, while
    max_by reduces each map partition to one candidate row per key
    before the shuffle, so shuffle volume is ~|distinct keys| not
    |rows|.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    payload = [c for c in df.columns if c not in keys]
    agg = [F.max_by(F.struct(*payload), order).alias("_latest")]
    out = df.groupBy(*keys).agg(*agg)
    return out.select(*keys, "_latest.*")


def rekey(df: DataFrame, key_expr: Column | str) -> DataFrame:
    """Replace the record key — the reference's selectKey.

    reference: .selectKey((k, v) -> ...), e.g.
    samples/PurchaseEventTicket.java:61. In Kafka Streams this marks a
    repartition through the broker; in Spark the shuffle happens
    implicitly (and only if needed) at the next key-based operator,
    so rekey itself is free.
    """
    col = F.col(key_expr) if isinstance(key_expr, str) else key_expr
    if "key" in df.columns:
        df = df.drop("key")
    return df.withColumn("key", col)


def merge(*dfs: DataFrame) -> DataFrame:
    """Union streams of identical schema — the reference's merge().

    reference: exercises/stateless/TargetCustomerFilter.java:16-18
    ("merge the legacy customers into data-demo-customers").
    unionByName keeps this safe under column reordering.
    """
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other)
    return out


def branch(
    df: DataFrame, *predicates: Column, with_default: bool = False
) -> list[DataFrame]:
    """Split a stream into disjoint sub-streams by predicate order —
    the reference's split().branch(...).branch(...).

    reference: samples/PurchaseEventTicket.java:97-158 (3-way:
    sold-out / ≤20% remaining / >20%);
    exercises/stateless/AddressSortAndStringify.java:18-20 (MN vs
    default). Kafka Streams routes each record to the FIRST matching
    branch; we reproduce that by conjoining the negations of all
    earlier predicates. Catalyst folds each branch to a simple
    conjunctive filter over the shared parent plan (cache the parent
    if all branches are consumed).

    Returns one DataFrame per predicate, plus (if ``with_default``)
    a final DataFrame of records matching no predicate
    (noDefaultBranch() in the reference = with_default=False:
    unmatched records are dropped).
    """
    branches: list[DataFrame] = []
    seen_any: Column | None = None
    for pred in predicates:
        # NULL-safe: a predicate evaluating to NULL must mean "does
        # not match" (like a Java predicate returning false), not
        # "drop the record from every branch including the default" —
        # which is what raw three-valued filters would do
        pred = F.coalesce(pred, F.lit(False))
        cond = pred if seen_any is None else (~seen_any) & pred
        branches.append(df.filter(cond))
        seen_any = pred if seen_any is None else seen_any | pred
    if with_default:
        branches.append(df.filter(~seen_any) if seen_any is not None else df)
    return branches


def peek(df: DataFrame, *metrics: Column) -> DataFrame:
    """Observe a stream without transforming it — the reference's
    ``peek((k, v) -> log.info(...))`` (27 call sites, e.g.
    samples/TopCustomerArtists.java:60,88).

    Row-at-a-time logging is driver-hostile at scale, so this maps to
    ``df.observe``: named aggregate metrics collected as a side effect
    of the next action, readable via QueryExecutionListener /
    StreamingQueryListener. Default metric: row count.
    """
    metrics = metrics or (F.count(F.lit(1)).alias("rows"),)
    return df.observe("peek", *metrics)


def grouped_count(
    df: DataFrame, group_cols: str | Sequence[str], count_name: str = "count"
) -> DataFrame:
    """Count per key — the reference's groupBy(...).count().

    reference: exercises/stateful/CustomerStreamCount.java:14-16 (spec)
    and CustomerStreamCounterTest.java:70-96 (behavior: the final
    count per key is what batch recomputation yields; the streaming
    runner reproduces the running emission in update mode).

    Hash aggregation with map-side partial combine — the canonical
    scale-safe count.
    """
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_name))


def grouped_topk(
    df: DataFrame,
    group_cols: str | Sequence[str],
    order_cols: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group — the reference's SortedCounterMap.top(k).

    reference: samples/TopCustomerArtists.java:87,125-129 (top-3
    artists per customer); phase3/TopSellingGenreByVenue.java:173
    (top-3 genres per venue).

    Tie-break: the reference's stable re-sort makes ties
    arrival-order-dependent (SURVEY.md §2.4); this engine defines the
    deterministic rule *count DESC, then key ASC* — callers pass the
    full deterministic ordering in ``order_cols``.

    Scale: row_number over (group, order) is a single shuffle; with
    AQE skew handling a hot group splits fine. For extreme k<<group
    cardinality a partial top-k per map partition could pre-prune,
    but Catalyst already pushes a WindowGroupLimit when filtering on
    row_number <= k (Spark 3.5+), which does exactly that.
    """
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def global_topk(
    df: DataFrame,
    order_by: Sequence[tuple[str, bool]],
    k: int,
) -> DataFrame:
    """Global top-k with a dense 1..k rank — scale-safe replacement for
    ``row_number() OVER (ORDER BY ...)`` + ``rank <= k``.

    An unpartitioned ranking window is a single-task sort of the ENTIRE
    input (Spark warns "No Partition Defined for Window operation") —
    at 100× customer/supplier scale that one task is the job. Instead:

    1. ``orderBy(...).limit(k)`` — planned as TakeOrderedAndProject, a
       distributed partial top-k: every map partition keeps only its
       own best k rows, and the driver merges |partitions|·k rows.
    2. rank the ≤k survivors with NO window at all: collect them into
       one array, ``array_sort`` by the ordering, ``posexplode`` so
       position+1 is the rank. The aggregate sees ≤k rows by
       construction, so the single final row is trivially cheap and no
       WindowExec (hence no single-partition-sort path) ever exists.

    ``order_by`` is ``[(column_name, ascending)]`` and must be a total
    order (tie-break to a unique key) with non-null sort keys —
    DESC columns are negated for the array sort, so they must be
    numeric (every global ranking in this engine orders by a count or
    a money sum, then a unique key ASC).
    """
    order_cols = [
        F.col(name).asc() if asc else F.col(name).desc() for name, asc in order_by
    ]
    top = df.orderBy(*order_cols).limit(k)
    sort_fields = []
    for i, (name, asc) in enumerate(order_by):
        col = F.col(name)
        if not asc:
            dt = dict(df.dtypes)[name]
            if dt in ("string", "date", "timestamp", "timestamp_ntz", "boolean"):
                raise ValueError(
                    f"global_topk: DESC on non-numeric column {name!r} ({dt}) "
                    "is not expressible as an array-sort negation"
                )
            col = -col
        sort_fields.append(col.alias(f"_k{i}"))
    packed = top.agg(
        F.array_sort(
            F.collect_list(F.struct(*sort_fields, F.struct(*df.columns).alias("_row")))
        ).alias("_sorted")
    )
    return packed.select(
        F.posexplode("_sorted").alias("_pos", "_e")
    ).select("_e._row.*", (F.col("_pos") + 1).cast("long").alias("rank"))


def topk_as_ordered_map(
    topk: DataFrame,
    group_cols: str | Sequence[str],
    name_col: str,
) -> DataFrame:
    """Collapse grouped_topk rows into ONE row per group carrying an
    ordered array<struct<name,count>> — the output shape of the
    reference's LinkedHashMap<String,Long> aggregate
    (samples/TopCustomerArtists.java:36-42). MapType would lose the
    rank ordering, which is semantically significant (SURVEY.md §1.4);
    array_sort on the (rank, name, count) struct keeps it.
    """
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    return (
        topk.groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rank", name_col, "count"))
            ).alias("_sorted")
        )
        .select(
            *keys,
            F.transform(
                "_sorted",
                lambda s: F.struct(
                    s[name_col].alias("name"), s["count"].alias("count")
                ),
            ).alias("top"),
        )
    )


def running_count(df: DataFrame, key_cols: str | Sequence[str]) -> DataFrame:
    """Per-record running count within key, in arrival order — the
    per-record emission sequence of the reference's stateful counts.

    reference: CustomerStreamCounterTest.java:70-96 asserts outputs
    1,2,3 for three successive records of one key. Batch equivalent:
    cumulative count over the arrival-order window.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = Window.partitionBy(*keys).orderBy(F.col("event_seq"))
    return df.withColumn("count", F.row_number().over(w).cast("long"))
