"""Declarative data-quality constraint checking — the contract gate a
production table needs before anything downstream trusts it (the
expectations/dbt-test shape, re-expressed as Spark aggregates).

The reference app trusts its topics implicitly; at 100 TB an ingest
contract is enforced by a CENSUS, not a scan-and-throw: every
constraint evaluates to (n_rows, n_violations, pass) and the caller
decides whether to quarantine, alert, or proceed. Scale shape:

* all ROW-LOCAL checks (not_null / range / accepted_values / regex)
  compile to conditional-sum expressions evaluated in ONE aggregate
  over ONE scan — adding a tenth check costs zero extra passes;
* ``unique`` is one hash-agg on the key (duplicate rows = n_rows −
  n_keys, exact, map-side combined);
* ``fk`` (referential integrity) is one LEFT ANTI hash join against
  the dimension's distinct keys — orphan count, never a full join;
* output is a LONG frame (one row per constraint) so censuses append
  into monitoring tables and diff across runs.

Violation semantics: a NULL value VIOLATES not_null but does NOT
violate range/accepted_values/regex (compose with not_null to forbid
NULLs — SQL's own three-valued convention, and what makes each check
independently meaningful). All counters BIGINT.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.stores import FLOOR, BatchStore

_ROW_LOCAL = {"not_null", "range", "accepted_values", "regex"}


def _violation_expr(check: tuple) -> Column:
    kind = check[0]
    col = F.col(check[1])
    if kind == "not_null":
        return col.isNull().cast("long")
    if kind == "range":
        lo, hi = check[2], check[3]
        bad = F.lit(False)
        if lo is not None:
            bad = bad | (col < F.lit(lo))
        if hi is not None:
            bad = bad | (col > F.lit(hi))
        return F.coalesce(bad.cast("long"), F.lit(0))
    if kind == "accepted_values":
        return F.coalesce(
            (~col.isin(*check[2])).cast("long"), F.lit(0)
        )
    if kind == "regex":
        return F.coalesce((~col.rlike(check[2])).cast("long"), F.lit(0))
    raise ValueError(f"unknown row-local check kind {kind!r}")


def _label(check: tuple) -> tuple[str, str]:
    kind = check[0]
    if kind == "unique":
        cols = [check[1]] if isinstance(check[1], str) else list(check[1])
        return kind, ",".join(cols)
    if kind == "fk":
        cols = [check[1]] if isinstance(check[1], str) else list(check[1])
        return kind, ",".join(cols)
    return kind, check[1]


def check_constraints(
    df: DataFrame,
    checks: Sequence[tuple],
    dims: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Evaluate ``checks`` against ``df``; returns one row per check:
    (check, target, n_rows, n_violations, ok).

    Check forms (plain tuples — declarative, serializable):

    * ``("not_null", col)``
    * ``("range", col, lo, hi)`` — inclusive bounds; pass None to
      leave a side open
    * ``("accepted_values", col, [v1, v2, ...])``
    * ``("regex", col, pattern)`` — full rlike semantics
    * ``("unique", col | [cols])`` — violations = duplicate ROWS
      (n_rows − distinct keys); NULL keys count as a key
    * ``("fk", col | [cols], dim_name, dim_col | [dim_cols])`` —
      violations = rows whose key finds no match in
      ``dims[dim_name]`` (NULL keys never match — orphans);
      the dimension side is reduced to distinct keys first

    All row-local checks run in ONE aggregate over one scan; unique
    and fk each add one bounded extra job (hash-agg / anti join)."""
    if not checks:
        raise ValueError(
            "checks must be non-empty: an empty contract gate would "
            "silently pass everything"
        )
    dims = dims or {}
    row_local = [c for c in checks if c[0] in _ROW_LOCAL]
    rows: list[DataFrame] = []
    if row_local:
        aggs = [F.count(F.lit(1)).cast("long").alias("_n")] + [
            F.sum(_violation_expr(c)).cast("long").alias(f"_v{i}")
            for i, c in enumerate(row_local)
        ]
        one = df.agg(*aggs)
        for i, c in enumerate(row_local):
            kind, label = _label(c)
            rows.append(
                one.select(
                    F.lit(kind).alias("check"),
                    F.lit(label).alias("target"),
                    F.col("_n").alias("n_rows"),
                    F.coalesce(F.col(f"_v{i}"), F.lit(0)).alias(
                        "n_violations"
                    ),
                )
            )
    for c in checks:
        if c[0] == "unique":
            keys = [c[1]] if isinstance(c[1], str) else list(c[1])
            kind, label = _label(c)
            rows.append(
                df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("_cnt"))
                .agg(
                    F.sum("_cnt").cast("long").alias("n_rows"),
                    (F.sum("_cnt") - F.count(F.lit(1)))
                    .cast("long")
                    .alias("n_violations"),
                )
                .select(
                    F.lit(kind).alias("check"),
                    F.lit(label).alias("target"),
                    "n_rows",
                    "n_violations",
                )
            )
        elif c[0] == "fk":
            keys = [c[1]] if isinstance(c[1], str) else list(c[1])
            dim_name, dim_cols = c[2], c[3]
            dcols = [dim_cols] if isinstance(dim_cols, str) else list(dim_cols)
            if dim_name not in dims:
                raise ValueError(
                    f"fk check references unknown dim {dim_name!r}; "
                    f"pass it via dims="
                )
            dim = (
                dims[dim_name]
                .select(
                    *[F.col(d).alias(k) for k, d in zip(keys, dcols)]
                )
                .distinct()
            )
            kind, label = _label(c)
            fact = df.select(*keys)
            orphans = fact.join(dim, keys, "left_anti")
            n_all = fact.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows")
            )
            n_bad = orphans.agg(
                F.count(F.lit(1)).cast("long").alias("n_violations")
            )
            rows.append(
                n_all.crossJoin(n_bad).select(
                    F.lit(kind).alias("check"),
                    F.lit(label).alias("target"),
                    "n_rows",
                    "n_violations",
                )
            )
        elif c[0] not in _ROW_LOCAL:
            raise ValueError(f"unknown check kind {c[0]!r}")
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.withColumn(
        "ok", (F.col("n_violations") == 0).cast("long")
    )


def histogram_monitor_registers(
    batch_df: DataFrame, specs: "dict[str, tuple]"
) -> DataFrame:
    """DISTRIBUTION half of the streaming contract monitor: one batch's
    256-bin histogram sketch per watched column (operators/sketches.py:
    histogram_registers — constant mergeable state, one hash-agg per
    column), rows ``(col_name, bin, cnt)``. ``specs``: {column: (lo, hi,
    bins)}.

    The payload of a monitor store — a `stores.BatchStore` with the
    `stores.FLOOR` marker: each batch's registers rewrite their own
    ``batch_id=N`` partition (a replay is a no-op, never a
    read-modify-add), `drift_census` sums windows across batch ids at
    read, and beyond the drift window the history is EXPIRED
    (`BatchStore.expire`) rather than collapsed — a fold would corrupt
    any window crossing it. Store size: <= Σ bins rows per batch,
    however large the batches. The check_constraints census is the
    count-based monitor's payload the same way."""
    from umn_eda_kafka_stream_processing_spark.operators.sketches import (
        histogram_registers,
    )

    if not specs:
        raise ValueError("specs must be non-empty")
    regs = None
    for col, (lo, hi, bins) in sorted(specs.items()):
        r = histogram_registers(
            batch_df.select(F.lit(col).alias("_col"), F.col(col)),
            "_col", col, float(lo), float(hi), int(bins),
        ).select(
            F.col("g").alias("col_name"),
            "bin",
            "cnt",
        )
        regs = r if regs is None else regs.unionByName(r)
    return regs


def drift_census(
    spark,
    store_path: str,
    ref_batches: tuple,
    cur_batches: tuple,
) -> DataFrame:
    """Population-Stability-Index drift per watched column between two
    batch WINDOWS of a `histogram_monitor_registers` store — the
    distribution alarm the count-based constraint monitor lacks
    (reference batches = the contract's blessed window, current =
    the batches under suspicion; both inclusive (lo, hi) batch_id
    ranges).

    PSI = Σ_bins (q_i − p_i)·ln(q_i/p_i) with add-one smoothing over
    the union of occupied bins (B), so empty bins are defined and
    probabilities stay normalized: p_i = (ref_i+1)/(ref_total+B),
    q_i = (cur_i+1)/(cur_total+B). Every term is >= 0 (both factors
    share sign), so the census is monotone in drift; the usual
    alert bands are ~0.1 (watch) / 0.25 (act).

    Engine-portable integer form (the charlm ln rule): per bin, ONE
    ln on a double ratio computed from exact BIGINT counts in a
    fixed cast order, micro-rounded to BIGINT (lr_micro); the
    probability gap is pure IEEE arithmetic on the same exact
    inputs, nano-rounded (dq_nano); the per-bin term is the BIGINT
    product and the column's PSI is an exact integer SUM —
    psi_femto = Σ dq_nano·lr_micro (1e-15 units; div by 1e9 for
    micro). Never a float sum across bins.

    Plan: the store is tiny (≤ bins rows per batch per column) —
    one scan, conditional window sums, one per-column agg. Returns
    (col_name, n_bins, ref_total, cur_total, psi_femto, psi_micro).
    Expired batches (below the retention floor) are excluded — a
    window referencing them reads zero mass there, the documented
    retention contract."""
    return _psi_census(spark, store_path, ref_batches, cur_batches, "bin", "n_bins")


def _psi_census(
    spark,
    store_path: str,
    ref_batches: tuple,
    cur_batches: tuple,
    key_col: str,
    n_col: str,
) -> DataFrame:
    """The one PSI body of the numeric (`drift_census`, ``key_col`` =
    bin) and categorical (`categorical_drift_census`, ``key_col`` =
    category) monitors: window the register store's counts per
    (col_name, key_col) into ref/cur, then the exact-integer tail.
    See `drift_census` for the smoothing and rounding contract;
    ``n_col`` names the occupied-domain-size column."""
    rlo, rhi = int(ref_batches[0]), int(ref_batches[1])
    clo, chi = int(cur_batches[0]), int(cur_batches[1])
    st = BatchStore(spark, store_path, marker=FLOOR).scan()
    in_ref = (F.col("batch_id") >= rlo) & (F.col("batch_id") <= rhi)
    in_cur = (F.col("batch_id") >= clo) & (F.col("batch_id") <= chi)
    per_key = (
        st.filter(in_ref | in_cur)
        .groupBy("col_name", key_col)
        .agg(
            F.sum(F.when(in_ref, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("ref_cnt"),
            F.sum(F.when(in_cur, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("cur_cnt"),
        )
    )
    tot = per_key.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("long").alias(n_col),
        F.sum("ref_cnt").cast("long").alias("ref_total"),
        F.sum("cur_cnt").cast("long").alias("cur_total"),
    )
    j = per_key.join(tot, "col_name")
    # fixed cast/op order — both engines produce identical doubles:
    # p, q from exact BIGINTs; the ratio from integer PRODUCTS cast
    # individually (BIGINT->DOUBLE rounds nearest-even identically)
    p = (F.col("ref_cnt") + F.lit(1)).cast("double") / (
        F.col("ref_total") + F.col(n_col)
    ).cast("double")
    q = (F.col("cur_cnt") + F.lit(1)).cast("double") / (
        F.col("cur_total") + F.col(n_col)
    ).cast("double")
    ratio = (
        (F.col("cur_cnt") + F.lit(1)).cast("double")
        * (F.col("ref_total") + F.col(n_col)).cast("double")
    ) / (
        (F.col("ref_cnt") + F.lit(1)).cast("double")
        * (F.col("cur_total") + F.col(n_col)).cast("double")
    )
    lr_micro = F.floor(F.log(ratio) * F.lit(1000000.0) + F.lit(0.5)).cast(
        "long"
    )
    dq_nano = F.floor((q - p) * F.lit(1000000000.0) + F.lit(0.5)).cast(
        "long"
    )
    return (
        j.withColumn("_term", dq_nano * lr_micro)
        .groupBy("col_name")
        .agg(
            F.min(n_col).alias(n_col),
            F.min("ref_total").alias("ref_total"),
            F.min("cur_total").alias("cur_total"),
            F.sum("_term").cast("long").alias("psi_femto"),
        )
        .withColumn(
            "psi_micro",
            F.expr("psi_femto div 1000000000").cast("long"),
        )
    )


def category_registers(
    store: BatchStore,
    batch_df: DataFrame,
    cols: Sequence[str],
    max_categories: int = 10_000,
) -> DataFrame:
    """CATEGORICAL half of the streaming contract monitor (the 256-bin
    histogram registers cover numeric columns; real contracts also pin
    categorical frequency drift — event types, langs, domains): one
    batch's ``(col_name, category, cnt)`` count registers per watched
    column — the table_profile stack-melt (one Generate, no shuffle) +
    ONE hash-agg for any column count. The payload of a monitor
    ``store`` (`stores.FLOOR` marker, see `histogram_monitor_registers`);
    `categorical_drift_census` sums windows across batch ids at read.

    Values are counted as STRINGS (the melt's shared type); NULL is its
    own category. ``max_categories`` makes the "categorical" assumption
    fail LOUD — and it bounds the CUMULATIVE occupied set (live store
    union batch), so a column drifting a few new categories per batch
    trips it too, instead of silently growing the store corpus-sized (a
    high-cardinality column belongs in the histogram monitor or a KMV
    sketch). The check runs Spark jobs, so callers test
    ``store.closed(batch_id)`` first: a guarded replay then runs
    nothing."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
    melted = batch_df.select(
        F.expr(f"stack({len(cols)}, {pairs}) AS (col_name, category)")
    )
    regs = materialize(
        melted.groupBy("col_name", "category")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt")),
        Why.SHARED,
    )
    # the store read is register-sized when the contract holds —
    # exactly what the guard protects
    occupied = regs.select("col_name", "category")
    live = store.scan()
    if live is not None:
        occupied = occupied.unionByName(live.select("col_name", "category"))
    burst = (
        occupied.distinct()
        .groupBy("col_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_categories)
        .collect()
    )
    if burst:
        names = ", ".join(f"{r['col_name']}({r['n']})" for r in burst)
        raise ValueError(
            f"column(s) exceed max_categories={max_categories}: {names} "
            "— not categorical; use the histogram monitor or a sketch"
        )
    return regs


def categorical_drift_census(
    spark,
    store_path: str,
    ref_batches: tuple,
    cur_batches: tuple,
) -> DataFrame:
    """PSI drift per watched column between two batch windows of a
    `category_registers` store — identical smoothing and
    exact-integer arithmetic as the numeric `drift_census`, with the
    occupied-CATEGORY union in place of the occupied-bin union
    (add-one smoothing keeps probabilities normalized without
    storing empty categories; categories occupied in neither window
    never surface, so the union is exactly the store's occupied
    set). Returns (col_name, n_cats, ref_total, cur_total,
    psi_femto, psi_micro). Expired batches (below the retention
    floor) are excluded."""
    return _psi_census(
        spark, store_path, ref_batches, cur_batches, "category", "n_cats"
    )


def table_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """One-pass column profiler — the ANALYZE-TABLE/data-discovery
    census a pipeline runs before trusting a new feed: per column,
    row count, NULL count, EXACT distinct count, and the mode (most
    frequent value, lexicographic-min tie-break) with its frequency.

    Shape: the table is melted to (col_name, value-as-string) via one
    ``stack`` generator (a Generate, no shuffle), then ONE hash-agg to
    (col_name, value) counts and ONE per-column agg on top — two
    shuffles total regardless of column count, instead of the
    k x count(DISTINCT) expand a naive profile plans. The mode is the
    min(struct(-count, value)) argmax (map-side combined), never a
    window.

    Values are compared as STRINGS (the melt's shared type). Cast
    non-portable columns before calling when an oracle must agree:
    doubles format differently across engines (route money through a
    decimal cast), timestamps via an explicit date_format.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    k = len(cols)
    if k == 0:
        raise ValueError("cols must be non-empty")
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
    melted = df.select(
        F.expr(f"stack({k}, {pairs}) AS (col_name, v)")
    )
    vc = melted.groupBy("col_name", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return vc.groupBy("col_name").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("v").isNull(), F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("n_null"),
        F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_distinct"),
        F.min(
            F.when(
                F.col("v").isNotNull(), F.struct(-F.col("c"), F.col("v"))
            )
        )["v"].alias("mode_value"),
        F.coalesce(
            F.max(F.when(F.col("v").isNotNull(), F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("mode_count"),
    )
