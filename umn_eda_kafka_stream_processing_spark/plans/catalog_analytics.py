"""Analytics-surface queries: subword tokenization, rolling-hash
fingerprints, exact percentiles, rollup grouping sets.

Rounds out the engine surface beyond the reference (which has only
counts — SURVEY.md §2.4) with the aggregate families Spark gives for
free, each pinned by a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up
from umn_eda_kafka_stream_processing_spark.operators.runtime_filter import (
    duck_bloom_ctes,
)
from umn_eda_kafka_stream_processing_spark.plans.registry import register as _register
from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table, spread

# GPT-2-style pre-tokenizer classes, RE2/Java-regex-portable subset:
# contraction suffixes, letter runs (Latin + ext, Greek, Cyrillic,
# CJK), digit runs, single non-space-punct chars.
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-zÀ-ɏͰ-ϿЀ-ӿ一-鿿]+|[0-9]+|[^A-Za-z0-9\s]"


@_register(
    "bpe_token_stats",
    "Subword-ish token counting: GPT-2-style pre-tokenizer regex (letter "
    "runs incl. Latin-ext/Greek/Cyrillic/CJK, digit runs, contraction "
    "suffixes, punctuation singles) — the BPE pre-segmentation pass, "
    "JVM-side regexp_count; whitespace count for comparison.",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_BPE_RE)).cast("long").alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_ws_tokens"),
    )


# polynomial rolling hash: h = fold(codepoints, (h*131 + c) mod (2^31-1)).
# 131 * (2^31-1) + c < 2^38 — no BIGINT overflow; bit-identical in any
# engine with 64-bit integers. greatest(len,1) guards Spark's
# sequence(1, 0) == [1, 0] descending-sequence edge on empty text.
_B, _M = 131, 2**31 - 1
_FOLD = f"(h, c) -> (h * {_B} + c) % {_M}"


@_register(
    "rolling_fingerprints",
    "Document fingerprinting by polynomial rolling hash (Rabin-Karp over "
    "codepoints mod 2^31-1): whole-document hash plus winnowing-style "
    "minimum over 16-char window hashes — pure integer folds, portable.",
    f"""
    WITH cps AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(text), 1) + 1),
                            i -> CAST(greatest(unicode(substr(text, CAST(i AS INT), 1)), 0) AS BIGINT)) AS cp
      FROM documents
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), cp), {_FOLD}) AS doc_hash,
           CAST(list_min(list_transform(range(1, greatest(len(cp) - 15, 1) + 1),
                i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                                              cp[CAST(i AS INT):CAST(i + 15 AS INT)]),
                                 {_FOLD}))) AS BIGINT) AS winnow_min
    FROM cps
    """,
)
def rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    with_cp = docs.select(
        "doc_id",
        "text",
        F.expr(
            "transform(sequence(1, greatest(length(text), 1)), "
            "i -> bigint(greatest(ascii(substring(text, i, 1)), 0)))"
        ).alias("cp"),
    )
    doc_hash = F.expr(f"aggregate(cp, bigint(0), {_FOLD})")
    winnow = F.expr(
        f"array_min(transform(sequence(1, greatest(size(cp) - 15, 1)), "
        f"i -> aggregate(slice(cp, i, 16), bigint(0), {_FOLD})))"
    )
    return with_cp.select(
        "doc_id",
        doc_hash.alias("doc_hash"),
        winnow.cast("long").alias("winnow_min"),
    )


@_register(
    "value_percentiles_by_type",
    "Exact interpolated percentiles (p50/p95/p99) of event value per type — "
    "Spark percentile == DuckDB quantile_cont semantics; rounded half-up 4dp.",
    """
    SELECT event_type,
           floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
           floor(quantile_cont(value, 0.95) * 10000.0 + 0.5) / 10000.0 AS p95,
           floor(quantile_cont(value, 0.99) * 10000.0 + 0.5) / 10000.0 AS p99,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        round_half_up(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        round_half_up(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        round_half_up(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "orders_rollup",
    "ROLLUP grouping sets over (order priority, order status): per-cell, "
    "per-priority, and grand-total counts + decimal totalprice sums in one "
    "pass — the partial-aggregation tree Catalyst plans natively.",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sum exactly in decimal (order-independent), emit DOUBLE: DECIMAL
    # stringifies with engine-dependent trailing-zero scale, which the
    # driver's value hash treats as a mismatch even when values agree.
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n", "total",
        )
    )


@_register(
    "q6_forecast_revenue",
    "TPC-H Q6 forecasting revenue change: single-scan filter + aggregate — "
    "the pushdown showcase (PushedFilters on shipdate/discount/quantity "
    "reach the parquet scan; whole-stage codegen end to end).",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")), 4
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_register(
    "customer_table_profile",
    "Data-quality profile of the customer table: per-column null count, "
    "exact distinct count, min/max (as strings) — the profiling sweep a "
    "pipeline runs before training-data ingestion; one row per column via "
    "a single multi-aggregate pass per column, unioned.",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_s, CAST(max({c}) AS VARCHAR) AS max_s
    FROM customer"""
        for c in ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    ),
)
def customer_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    parts = []
    for c in ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"):
        parts.append(
            cust.agg(
                (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.min(c).cast("string").alias("min_s"),
                F.max(c).cast("string").alias("max_s"),
            ).select(F.lit(c).alias("col"), "n_null", "n_distinct", "min_s", "max_s")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "q10_returned_items",
    "TPC-H Q10 returned-item reporting: customer x orders x lineitem x "
    "nation, one quarter, returnflag R, top-20 customers by lost revenue "
    "(deterministic tail: revenue DESC then custkey ASC).",
    """
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 4)
                  AS DOUBLE) AS revenue
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-04-01'
        AND l.l_returnflag = 'R'
      GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, n_name, revenue,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rank
          FROM rev)
    WHERE rank <= 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
                ),
                4,
            ).cast("double").alias("revenue")
        )
    )
    return global_topk(rev, [("revenue", False), ("c_custkey", True)], 20)


@_register(
    "salted_event_type_totals",
    "Skew-safe aggregation, oracle-proven identical to the plain "
    "groupBy: event_type has only 5 values (hot keys), so the count+sum "
    "runs through operators/skew.py:salted_agg — deterministic salt, "
    "partials over (key, salt), exact decimal re-combine per key.",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS value_total
    FROM events GROUP BY event_type
    """,
)
def salted_event_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    out = salted_agg(
        events,
        "event_type",
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("ps"),
        ],
        final_aggs=[
            F.sum("pn").cast("long").alias("n"),
            # exact decimal partial sums re-combine exactly; emit
            # rounded DOUBLE (decimal scale stringification diverges
            # between engines under the driver's value hash)
            round_half_up(F.sum("ps").cast("double"), 4).alias("value_total"),
        ],
    )
    return out


@_register(
    "props_key_stats",
    "JSON prop extraction without a UDF: get_json_object pulls props.k "
    "JVM-side (codegen), aggregated per event_type — the pattern for "
    "semi-structured columns at scale (parse in the scan projection, "
    "never in Python).",
    """
    SELECT event_type,
           cast(count(k) AS bigint) AS n_with_k,
           cast(min(k) AS bigint) AS min_k,
           cast(max(k) AS bigint) AS max_k,
           cast(sum(k) AS bigint) AS sum_k
    FROM (
      SELECT event_type,
             cast(json_extract_string(props, '$.k') AS bigint) AS k
      FROM events
    )
    GROUP BY event_type
    """,
)
def props_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )


@_register(
    "user_bucket_type_pivot",
    "Pivot demonstration: event value totals per user bucket x event "
    "type. The pivot VALUES ARE DECLARED explicitly — an undeclared "
    "pivot runs a distinct-collect over the column first, a full extra "
    "job at scale; declared values make pivot one hash-agg with CASE "
    "projections (exactly the oracle's shape).",
    """
    SELECT user_id % 10 AS user_bucket,
           CAST(round(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS click,
           CAST(round(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS error,
           CAST(round(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS purchase,
           CAST(round(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS signup,
           CAST(round(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS view
    FROM events
    GROUP BY user_id % 10
    """,
)
def user_bucket_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pv = (
        ev.select((F.col("user_id") % 10).alias("user_bucket"), "event_type", "value")
        .groupBy("user_bucket")
        .pivot("event_type", types)  # declared values: no distinct pre-pass
        # decimal sums: order-independent (double sums drift with
        # partial-agg order), emitted as DOUBLE per the money rule
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2))
    )
    return pv.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0.0)).cast("double").alias(t) for t in types],
    )


# ---------------------------------------------------------------------------
# Analytic window functions (running totals, tiles, distribution ranks)
# and CUBE grouping sets — the remaining relational-analytics shapes
# (SURVEY.md §2.6 covers ranking top-k; these add frame-based and
# tile/distribution windows). All windows are PARTITIONED (per-key
# frames — the shuffle is on the partition key, each frame sorts
# locally); no global ORDER-BY window ever appears (explain_audit
# enforces that engine-wide).
# ---------------------------------------------------------------------------

@_register(
    "customer_cumulative_revenue",
    "Running per-customer spend: frame-based window sum (ROWS UNBOUNDED "
    "PRECEDING) over order date with key tiebreak. The running sum is "
    "EXACT DECIMAL on both engines — a double running sum would "
    "accumulate engine-ordering-dependent error row by row.",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                      OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE)
               AS running_spend
    FROM orders
    """,
)
def customer_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2)
        .cast("double").alias("running_spend"),
    )


@_register(
    "nation_customer_quartiles",
    "ntile(4) balance quartiles per nation — tile assignment is purely "
    "positional, so the window order carries a full tiebreak "
    "(c_acctbal, c_custkey) making tiles identical across engines.",
    """
    SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(ntile(4) OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal, c_custkey) AS BIGINT)
               AS balance_quartile
    FROM customer
    """,
)
def nation_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.ntile(4).over(w).cast("long").alias("balance_quartile"),
    )


@_register(
    "hourly_type_distribution",
    "percent_rank + cume_dist of hour-of-day activity within each event "
    "type: which hours sit where in the type's traffic distribution. "
    "Both are deterministic rationals of (rank, n); rounded half-up 6dp "
    "on both engines. Window partitioned per type — no global sort.",
    """
    SELECT event_type, hod, CAST(n AS BIGINT) AS n,
           floor(percent_rank() OVER (PARTITION BY event_type
                                      ORDER BY n, hod) * 1000000.0 + 0.5)
             / 1000000.0 AS pr,
           floor(cume_dist() OVER (PARTITION BY event_type
                                   ORDER BY n, hod) * 1000000.0 + 0.5)
             / 1000000.0 AS cd
    FROM (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
                 count(*) AS n
          FROM events GROUP BY 1, 2)
    """,
)
def hourly_type_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("n", "hod")
    return counts.select(
        "event_type", "hod", "n",
        round_half_up(F.percent_rank().over(w), 6).alias("pr"),
        round_half_up(F.cume_dist().over(w), 6).alias("cd"),
    )


@_register(
    "events_cube_totals",
    "CUBE grouping sets over (event type, value band): all four "
    "grouping-set combinations (cell, per-type, per-band, grand total) "
    "in one partial-aggregation tree; NULL grouping keys rendered as "
    "'ALL' so the hash is dtype-free.",
    """
    SELECT coalesce(event_type, 'ALL') AS etype,
           coalesce(band, 'ALL') AS vband,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS value_total
    FROM (SELECT event_type,
                 CASE WHEN value >= 100 THEN 'high'
                      WHEN value >= 20 THEN 'mid'
                      ELSE 'low' END AS band,
                 value
          FROM events)
    GROUP BY CUBE (event_type, band)
    """,
)
def events_cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    banded = events.select(
        "event_type",
        F.when(F.col("value") >= 100, "high")
        .when(F.col("value") >= 20, "mid")
        .otherwise("low").alias("band"),
        "value",
    )
    return (
        banded.cube("event_type", "band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double").alias("value_total"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("band", F.lit("ALL")).alias("vband"),
            "n", "value_total",
        )
    )


@_register(
    "bloom_prejoin_stats",
    "Bloom-filter pre-join census (operators/runtime_filter.py): the "
    "urgent-order keys build a 4096-bit md5 bloom (32-bit words — "
    "DuckDB's << is overflow-checked, so bit 63 is unusable there); the "
    "lineitem probe side is pruned by a literal-array bit test BEFORE "
    "any exchange — the explicit, auditable form of Spark's runtime "
    "bloom filter. Output: one census row proving what the filter "
    "admitted — probe rows, bloom passes, true matches, false "
    "positives — plus exact decimal revenue over the true matches. "
    "Oracle: DuckDB rebuilds the identical filter from the same md5 "
    "bits and replays the census.",
    f"""
    WITH {duck_bloom_ctes(
        "SELECT cast(o_orderkey AS VARCHAR) AS kk FROM orders "
        "WHERE o_orderpriority = '1-URGENT'")},
    pkeys AS (SELECT DISTINCT l_orderkey, cast(l_orderkey AS VARCHAR) AS kk FROM lineitem),
    ppos AS (SELECT l_orderkey,
                    cast(concat('0x', substr(md5(concat('bloom', i, '|', kk)), 1, 8)) AS BIGINT) % 4096 AS pos
             FROM pkeys CROSS JOIN (SELECT unnest(range(0, 3)) AS i)),
    keypass AS (SELECT l_orderkey FROM ppos j
                JOIN bwords w ON w.w = CAST(j.pos // 32 AS INT)
                 AND (w.bits & (1::BIGINT << CAST(j.pos % 32 AS INT))) <> 0
                GROUP BY l_orderkey HAVING count(*) = 3),
    bl AS (SELECT l.l_orderkey, l.l_extendedprice, l.l_discount,
                  (l.l_orderkey IN (SELECT l_orderkey FROM keypass)) AS pass_bloom,
                  (cast(l.l_orderkey AS VARCHAR) IN (SELECT kk FROM bkeys)) AS true_match
           FROM lineitem l)
    SELECT CAST((SELECT count(*) FROM bkeys) AS BIGINT) AS n_build_keys,
           CAST(count(*) AS BIGINT) AS n_probe_rows,
           CAST(sum(CASE WHEN pass_bloom THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
           CAST(sum(CASE WHEN true_match THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
           CAST(sum(CASE WHEN pass_bloom AND NOT true_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_pos,
           CAST(round(sum(CASE WHEN true_match
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                    END), 4) AS DOUBLE) AS matched_revenue
    FROM bl
    """,
)
def bloom_prejoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators import runtime_filter as rf

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    build = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    words = rf.bloom_build(build, "o_orderkey")
    hit = rf.bloom_might_contain("l_orderkey", words)
    # true-match flag via broadcast semi-join shape: the build keys are
    # selective, so they broadcast; the probe side never shuffles
    bkeys = build.select(F.col("o_orderkey").alias("_bk")).distinct()
    flagged = (
        lineitem.withColumn("pass_bloom", hit)
        .join(F.broadcast(bkeys), F.col("l_orderkey") == F.col("_bk"), "left")
        .withColumn("true_match", F.col("_bk").isNotNull())
    )
    n_build = build.select("o_orderkey").distinct().count()
    return flagged.agg(
        F.lit(n_build).cast("long").alias("n_build_keys"),
        F.count(F.lit(1)).cast("long").alias("n_probe_rows"),
        F.sum(F.when(F.col("pass_bloom"), 1).otherwise(0))
        .cast("long").alias("n_pass_bloom"),
        F.sum(F.when(F.col("true_match"), 1).otherwise(0))
        .cast("long").alias("n_true_match"),
        F.sum(F.when(F.col("pass_bloom") & ~F.col("true_match"), 1).otherwise(0))
        .cast("long").alias("n_false_pos"),
        F.round(
            F.sum(
                F.when(
                    F.col("true_match"),
                    (
                        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                    ).cast("decimal(18,4)"),
                )
            ),
            4,
        ).cast("double").alias("matched_revenue"),
    )


@_register(
    "repeated_span_topk",
    "Exact-substring duplication report (the Lee et al. 2022 "
    "'Deduplicating Training Data' layer between exact-doc and near-dup "
    "dedup): every overlapping 16-char span, aggregated per span with "
    "distinct-doc and occurrence counts, spans shared by >= 2 docs "
    "ranked by (n_docs DESC, n_occ DESC, span ASC) through the "
    "scale-safe global_topk (TakeOrderedAndProject — no unpartitioned "
    "window). Plan: one span-keyed hash-agg with map-side partials; at "
    "100 TB the same shape runs on span HASHES with a candidate-verify "
    "extraction pass, but the agg/rank skeleton is identical.",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(length(text) - 15, 0) + 1),
                    i -> substr(text, i, 16))) AS span
      FROM documents
    ),
    s AS (
      SELECT span,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_occ
      FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT span, n_docs, n_occ, rank FROM (
      SELECT span, n_docs, n_occ,
             CAST(row_number() OVER (ORDER BY n_docs DESC, n_occ DESC,
                                     span ASC) AS BIGINT) AS rank
      FROM s
    ) WHERE rank <= 100
    """,
)
def repeated_span_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    w = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 15, 1)),"
                " i -> substring(text, i, 16))"
            )
        ).alias("span"),
    ).filter(F.length("span") == 16)
    stats = (
        w.groupBy("span")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return global_topk(
        stats, [("n_docs", False), ("n_occ", False), ("span", True)], 100
    )


@_register(
    "span_dup_doc_fraction",
    "The exact-substring dedup DECISION per doc (what Lee et al. "
    "pipelines act on): fraction of each document's overlapping 16-char "
    "spans that also appear in ANOTHER document. One span-keyed "
    "hash-agg builds the shared-span set (distinct-doc count >= 2), a "
    "left equi-join flags each span occurrence, one doc-keyed agg "
    "produces (n_spans, n_shared, dup_frac). High-fraction docs are the "
    "near-verbatim copies the span report surfaces.",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(length(text) - 15, 0) + 1),
                    i -> substr(text, i, 16))) AS span
      FROM documents
    ),
    shared AS (
      SELECT span FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(s.span) AS BIGINT) AS n_shared,
           floor(CAST(count(s.span) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
             / 1000000.0 AS dup_frac
    FROM w LEFT JOIN shared s ON s.span = w.span
    GROUP BY w.doc_id
    """,
)
def span_dup_doc_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    w = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 15, 1)),"
                " i -> substring(text, i, 16))"
            )
        ).alias("span"),
    ).filter(F.length("span") == 16)
    shared = (
        w.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("span", F.lit(1).alias("_shared"))
    )
    return (
        w.join(shared, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.coalesce(F.col("_shared"), F.lit(0))).cast("long").alias(
                "n_shared"
            ),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_shared",
            round_half_up(
                F.col("n_shared").cast("double") / F.col("n_spans"), 6
            ).alias("dup_frac"),
        )
    )


@_register(
    "span_dedup_rewrite_stats",
    "Exact-substring dedup ACTION (Lee et al. 2022): rewrite the corpus "
    "by cutting maximal character runs covered by 16-char spans shared "
    "with another doc (keeper = min doc_id keeps its occurrences), then "
    "report the before/after: doc counts, chars removed, corpus dup "
    "fraction on the original vs the REWRITTEN text. Spark plan: span "
    "hash-agg + span-keyed join + per-doc sorted-position fold "
    "(operators/dedup.py:remove_shared_spans — interval union via a "
    "moving-cursor F.aggregate, no corpus-wide window, no Python); the "
    "oracle rebuilds the same text via gaps-and-islands + string_agg, a "
    "deliberately different formulation of the same semantics.",
    """
    WITH w AS (
      SELECT doc_id, pos, substr(text, pos, 16) AS span
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - 15, 0) + 1)) AS pos
            FROM documents)
    ),
    st AS (
      SELECT span, min(doc_id) AS keeper, count(DISTINCT doc_id) AS nd
      FROM w GROUP BY span
    ),
    rem AS (
      SELECT w.doc_id, w.pos AS s, w.pos + 15 AS e
      FROM w JOIN st ON st.span = w.span
      WHERE st.nd >= 2 AND w.doc_id <> st.keeper
    ),
    isl AS (
      SELECT doc_id, s, e,
             sum(CASE WHEN s > coalesce(pme, 0) THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s
                       ROWS UNBOUNDED PRECEDING) AS g
      FROM (SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pme
            FROM rem)
    ),
    mrg AS (
      SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, g
    ),
    parts AS (
      SELECT doc_id, s, e,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
      FROM mrg
    ),
    rew0 AS (
      SELECT p.doc_id,
             concat(string_agg(substr(d.text, p.pe + 1, p.s - p.pe - 1),
                               '' ORDER BY p.s),
                    substr(d.text, max(p.e) + 1)) AS rewritten
      FROM parts p JOIN documents d ON d.doc_id = p.doc_id
      GROUP BY p.doc_id, d.text
    ),
    rew AS (
      SELECT d.doc_id, d.text, coalesce(r.rewritten, d.text) AS rewritten
      FROM documents d LEFT JOIN rew0 r ON r.doc_id = d.doc_id
    ),
    sh1 AS (SELECT span FROM st WHERE nd >= 2),
    bef AS (
      SELECT CAST(count(*) AS BIGINT) AS n1, CAST(count(s.span) AS BIGINT) AS k1
      FROM w LEFT JOIN sh1 s ON s.span = w.span
    ),
    w2 AS (
      SELECT doc_id, substr(rewritten, pos, 16) AS span
      FROM (SELECT doc_id, rewritten,
                   unnest(range(1, greatest(length(rewritten) - 15, 0) + 1))
                       AS pos
            FROM rew)
    ),
    sh2 AS (SELECT span FROM w2 GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
    aft AS (
      SELECT CAST(count(*) AS BIGINT) AS n2, CAST(count(s.span) AS BIGINT) AS k2
      FROM w2 LEFT JOIN sh2 s ON s.span = w2.span
    ),
    docstats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN length(text) > length(rewritten)
                           THEN 1 ELSE 0 END) AS BIGINT) AS docs_rewritten,
             CAST(sum(length(text)) AS BIGINT) AS chars_before,
             CAST(sum(length(rewritten)) AS BIGINT) AS chars_after,
             CAST(sum(length(text)) - sum(length(rewritten)) AS BIGINT)
                 AS chars_removed
      FROM rew
    )
    SELECT n_docs, docs_rewritten, chars_before, chars_after, chars_removed,
           CASE WHEN n1 = 0 THEN 0.0
                ELSE floor(CAST(k1 AS DOUBLE) / n1 * 1000000.0 + 0.5)
                     / 1000000.0 END AS dup_frac_before,
           CASE WHEN n2 = 0 THEN 0.0
                ELSE floor(CAST(k2 AS DOUBLE) / n2 * 1000000.0 + 0.5)
                     / 1000000.0 END AS dup_frac_after
    FROM docstats, bef, aft
    """,
)
def span_dedup_rewrite_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        _span_windows,
        remove_shared_spans,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    # three consumers: the doc stats and both corpus-frac passes
    rew = materialize(remove_shared_spans(docs), Why.SHARED)

    def corpus_frac(df: DataFrame, col: str, out: str) -> DataFrame:
        w = _span_windows(df, "doc_id", col, 16)
        sh = (
            w.groupBy("span")
            .agg(F.countDistinct("doc_id").alias("_nd"))
            .filter(F.col("_nd") >= 2)
            .select("span", F.lit(1).alias("_s"))
        )
        return (
            w.join(sh, "span", "left")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.coalesce(F.col("_s"), F.lit(0))).alias("_k"),
            )
            .select(
                F.when(F.col("_n") == 0, F.lit(0.0))
                .otherwise(
                    round_half_up(F.col("_k").cast("double") / F.col("_n"), 6)
                )
                .alias(out)
            )
        )

    docstats = rew.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("chars_removed") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_rewritten"),
        F.sum(F.length("text")).cast("long").alias("chars_before"),
        F.sum(F.length("rewritten")).cast("long").alias("chars_after"),
        F.sum("chars_removed").cast("long").alias("chars_removed"),
    )
    bef = corpus_frac(rew.select("doc_id", "text"), "text", "dup_frac_before")
    aft = corpus_frac(
        rew.select("doc_id", "rewritten"), "rewritten", "dup_frac_after"
    )
    return docstats.crossJoin(bef).crossJoin(aft)


@_register(
    "span_dedup_minrun_stats",
    "Variable-length exact-substring dedup (Lee et al. 2022 remove only "
    "duplicated RUNS >= a length threshold — ~50 tokens in the paper; "
    "fixed 16-char windows alone over-cut boilerplate-adjacent text): "
    "merge each doc's removable 16-char occurrences into maximal runs, "
    "cut only runs >= 40 chars, spare the rest. Reports run counts on "
    "both sides of the threshold plus the before/after char totals. "
    "Spark plan: the same span hash-agg + span-keyed join as the full "
    "rewrite, then two per-doc array folds (merge runs, cut survivors) "
    "inside whole-stage codegen (operators/dedup.py:remove_shared_spans "
    "min_run_len); the oracle merges runs via gaps-and-islands windows "
    "and filters them with a WHERE on run length — a deliberately "
    "different formulation of the same interval semantics.",
    """
    WITH w AS (
      SELECT doc_id, pos, substr(text, pos, 16) AS span
      FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - 15, 0) + 1)) AS pos
            FROM documents)
    ),
    st AS (
      SELECT span, min(doc_id) AS keeper, count(DISTINCT doc_id) AS nd
      FROM w GROUP BY span
    ),
    rem AS (
      SELECT w.doc_id, w.pos AS s, w.pos + 15 AS e
      FROM w JOIN st ON st.span = w.span
      WHERE st.nd >= 2 AND w.doc_id <> st.keeper
    ),
    isl AS (
      -- island break only on a REAL gap (s > pme + 1): adjacent
      -- removable intervals are one contiguous duplicated run, and
      -- the length threshold must see them merged (the rewrite-only
      -- oracle can split on adjacency because the cut text is the
      -- same either way; run counts and thresholds are not)
      SELECT doc_id, s, e,
             sum(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s
                       ROWS UNBOUNDED PRECEDING) AS g
      FROM (SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pme
            FROM rem)
    ),
    mrg AS (
      SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, g
    ),
    counts AS (
      SELECT CAST(count(*) AS BIGINT) AS runs_merged,
             CAST(coalesce(sum(CASE WHEN e - s + 1 >= 40 THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS runs_cut
      FROM mrg
    ),
    parts AS (
      SELECT doc_id, s, e,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
      FROM mrg WHERE e - s + 1 >= 40
    ),
    rew0 AS (
      SELECT p.doc_id,
             concat(string_agg(substr(d.text, p.pe + 1, p.s - p.pe - 1),
                               '' ORDER BY p.s),
                    substr(d.text, max(p.e) + 1)) AS rewritten
      FROM parts p JOIN documents d ON d.doc_id = p.doc_id
      GROUP BY p.doc_id, d.text
    ),
    rew AS (
      SELECT d.doc_id, d.text, coalesce(r.rewritten, d.text) AS rewritten
      FROM documents d LEFT JOIN rew0 r ON r.doc_id = d.doc_id
    ),
    docstats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN length(text) > length(rewritten)
                           THEN 1 ELSE 0 END) AS BIGINT) AS docs_rewritten,
             CAST(sum(length(text)) AS BIGINT) AS chars_before,
             CAST(sum(length(rewritten)) AS BIGINT) AS chars_after,
             CAST(sum(length(text)) - sum(length(rewritten)) AS BIGINT)
                 AS chars_removed
      FROM rew
    )
    SELECT n_docs, docs_rewritten, runs_merged, runs_cut,
           runs_merged - runs_cut AS runs_spared,
           chars_before, chars_after, chars_removed
    FROM docstats, counts
    """,
)
def span_dedup_minrun_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        remove_shared_spans,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    rew = remove_shared_spans(docs, min_run_len=40)
    return rew.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("chars_removed") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_rewritten"),
        F.sum("runs_merged").cast("long").alias("runs_merged"),
        F.sum("runs_cut").cast("long").alias("runs_cut"),
        (F.sum("runs_merged") - F.sum("runs_cut"))
        .cast("long")
        .alias("runs_spared"),
        F.sum(F.length("text")).cast("long").alias("chars_before"),
        F.sum(F.length("rewritten")).cast("long").alias("chars_after"),
        F.sum("chars_removed").cast("long").alias("chars_removed"),
    )


def _purchase_cs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier purchase pairs (a='c:<cust>',
    b='s:<supp>') — session-cached: the orders⋈lineitem distinct is
    shared by both PageRank variants and re-read per bench repeat."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized

    def build() -> DataFrame:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        return (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(
                F.concat(
                    F.lit("c:"), F.col("o_custkey").cast("string")
                ).alias("a"),
                F.concat(
                    F.lit("s:"), F.col("l_suppkey").cast("string")
                ).alias("b"),
            )
            .distinct()
        )

    return materialized(spark, f"purchase_cs_pairs|{sf_dir}", build)


def _pagerank_oracle() -> str:
    """Unrolled DuckDB twin of operators/graph.py:pagerank_directed
    over the symmetrized customer-supplier purchase graph (no sinks, so
    no dangling-mass term): one (contribs, ranks) CTE pair per
    iteration, all-BIGINT fixed-point arithmetic (rank div outdeg
    shares, (85 * sum) div 100 damping)."""
    iters, damping = 5, 85
    scale = 10**12
    ctes = [
        """cs AS (
      SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS a,
                      's:' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    )""",
        """e AS (
      SELECT a AS src, b AS dst FROM cs
      UNION
      SELECT b AS src, a AS dst FROM cs
    )""",
        """od AS (
      SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src
    )""",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM od)",
        f"""r0 AS (
      SELECT od.src AS node, CAST({scale} // nn.n AS BIGINT) AS rank
      FROM od, nn
    )""",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""c{k} AS (
      SELECT e.dst AS node,
             CAST(sum(r.rank // od.outdeg) AS BIGINT) AS s
      FROM e JOIN r{k - 1} r ON r.node = e.src
             JOIN od ON od.src = e.src
      GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""r{k} AS (
      SELECT od.src AS node,
             CAST(({100 - damping} * {scale}) // (100 * nn.n)
                  + ({damping} * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM od CROSS JOIN nn LEFT JOIN c{k} c ON c.node = od.src
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, substr(node, 1, 1) AS node_type,
           rank AS rank_picos
    FROM r{iters}"""
    )


@_register(
    "purchase_graph_pagerank",
    "Fixed-point PageRank over the symmetrized customer-supplier "
    "purchase graph (who-buys-from-whom via orders x lineitem) — "
    "iterative graph analytics at engine scale: 5 rounds of one "
    "edge x rank join + one in-neighbor hash-agg, ranks checkpointed "
    "per round (the connected-components shape). Ranks are integer "
    "PICOS with div-truncation shares and (85*sum) div 100 damping, "
    "so every step is an exact order-independent BIGINT op and the "
    "result hash-matches any partitioning/engine — float PageRank "
    "cannot satisfy that bar (operators/graph.py). Oracle: the five "
    "iterations unrolled as CTE pairs.",
    _pagerank_oracle(),
)
def purchase_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        pagerank_directed,
    )

    cs = _purchase_cs_pairs(spark, sf_dir)
    edges = cs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).union(cs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    ranks = pagerank_directed(edges, damping_pct=85, iterations=5)
    return ranks.select(
        "node",
        F.substring("node", 1, 1).alias("node_type"),
        "rank_picos",
    )


def _pagerank_directed_oracle() -> str:
    """Unrolled DuckDB twin of operators/graph.py:pagerank_directed
    over the DIRECTED customer->supplier purchase graph: every
    supplier is a sink, so each iteration carries a dangling-mass CTE
    (d{k}) redistributed uniformly. r{k} is referenced twice per
    round (contribs + dangling sum) — AS MATERIALIZED, or DuckDB's
    CTE inlining goes exponential (the round-7 lesson)."""
    iters, damping = 5, 85
    scale = 10**12
    ctes = [
        """cs AS MATERIALIZED (
      SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                      's:' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    )""",
        """od AS MATERIALIZED (
      SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM cs GROUP BY src
    )""",
        """nd AS MATERIALIZED (
      SELECT v.node, (od.src IS NULL) AS dangling
      FROM (SELECT src AS node FROM cs UNION SELECT dst FROM cs) v
      LEFT JOIN od ON od.src = v.node
    )""",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd)",
        f"""r0 AS MATERIALIZED (
      SELECT node, dangling, CAST({scale} // nn.n AS BIGINT) AS rank
      FROM nd, nn
    )""",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""c{k} AS (
      SELECT cs.dst AS node,
             CAST(sum(r.rank // od.outdeg) AS BIGINT) AS s
      FROM cs JOIN r{k - 1} r ON r.node = cs.src
             JOIN od ON od.src = cs.src
      GROUP BY cs.dst
    )"""
        )
        ctes.append(
            f"""d{k} AS (
      SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dt
      FROM r{k - 1} WHERE dangling
    )"""
        )
        ctes.append(
            f"""r{k} AS MATERIALIZED (
      SELECT nd.node, nd.dangling,
             CAST(({100 - damping} * {scale}) // (100 * nn.n)
                  + ({damping} * (coalesce(c.s, 0) + d.dt // nn.n)) // 100
                  AS BIGINT) AS rank
      FROM nd CROSS JOIN nn CROSS JOIN d{k} d
      LEFT JOIN c{k} c ON c.node = nd.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, substr(node, 1, 1) AS node_type,
           rank AS rank_picos
    FROM r{iters}"""
    )


@_register(
    "purchase_pagerank_directed",
    "PageRank over the DIRECTED customer->supplier purchase graph "
    "with dangling-mass redistribution "
    "(operators/graph.py:pagerank_directed): every supplier is a "
    "sink, so each of the 5 rounds sums the sinks' picos (one-row "
    "agg, broadcast back) and feeds DT div n into every node's "
    "damped term — without it the graph's mass drains to zero and "
    "customer ranks collapse to the base term. Same exact-BIGINT "
    "fixed-point contract as purchase_graph_pagerank (order-"
    "independent, hash-equal on any partitioning); the dangling "
    "flag is computed once and checkpointed, each round is one "
    "edge x rank shuffle_hash join + one hash-agg. Oracle: the five "
    "iterations unrolled as (contribs, dangling, ranks) CTE triples, "
    "ranks MATERIALIZED (each is referenced twice per round).",
    _pagerank_directed_oracle(),
)
def purchase_pagerank_directed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        pagerank_directed,
    )

    cs = _purchase_cs_pairs(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    ranks = pagerank_directed(cs, damping_pct=85, iterations=5)
    return ranks.select(
        "node",
        F.substring("node", 1, 1).alias("node_type"),
        "rank_picos",
    )


_COSUPPLY_EDGE_CTES = """p AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS total FROM p),
    d AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
          FROM p GROUP BY 1),
    co AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
                  CAST(count(*) AS BIGINT) AS obs
           FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                             AND a.l_suppkey < b.l_suppkey
           GROUP BY 1, 2),
    e AS (SELECT co.s1 AS a, co.s2 AS b
          FROM co JOIN d d1 ON d1.l_suppkey = co.s1
                  JOIN d d2 ON d2.l_suppkey = co.s2
                  CROSS JOIN n
          WHERE 5 * obs * total >= 6 * d1.cnt * d2.cnt)"""


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift-thresholded supplier co-supply graph (a<b-normalized
    undirected edges): two suppliers connect iff they share an order
    at least 1.2x as often as independence predicts — exact BIGINT
    cross-multiplication (5*obs*total >= 6*cnt_a*cnt_b), no float
    lift. One per-order self-join bounded by order size, one pair
    hash-agg, dim-sized degree broadcasts.

    Derive-once/serve-many: four catalog queries (triangles, k-core,
    core levels, eigencentrality) analyze this same graph, so the
    edge frame goes through the session parquet cache
    (caching.materialized) — the production shape where the graph is
    materialized once and each analysis reads the table."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized

    return materialized(
        spark, f"cosupply_edges|{sf_dir}", lambda: _cosupply_edges_build(spark, sf_dir)
    )


def _cosupply_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = materialize(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct(),
        Why.SELF_JOIN,
    )
    total = p.agg(
        F.countDistinct("l_orderkey").cast("long").alias("total")
    )
    d = p.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a, b = p.alias("pa"), p.alias("pb")
    co = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("pa.l_orderkey") == F.col("pb.l_orderkey"))
            & (F.col("pa.l_suppkey") < F.col("pb.l_suppkey")),
        )
        .groupBy(
            F.col("pa.l_suppkey").alias("s1"),
            F.col("pb.l_suppkey").alias("s2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    return (
        co.join(
            F.broadcast(d.select(F.col("l_suppkey").alias("s1"),
                                 F.col("cnt").alias("cnt1"))),
            "s1",
        )
        .join(
            F.broadcast(d.select(F.col("l_suppkey").alias("s2"),
                                 F.col("cnt").alias("cnt2"))),
            "s2",
        )
        .crossJoin(F.broadcast(total))
        .where(F.expr("5 * obs * total >= 6 * cnt1 * cnt2"))
        .select(F.col("s1").alias("a"), F.col("s2").alias("b"))
    )


@_register(
    "cosupply_triangle_stats",
    "Exact triangle census of the lift-thresholded supplier "
    "co-supply graph (edge iff two suppliers share an order at least "
    "1.2x as often as independence predicts — the 6*cnt_a*cnt_b <= "
    "5*obs*total comparison is exact BIGINT cross-multiplication, no "
    "float lift). Spark counts triangles on the DEGREE-ORDERED "
    "orientation (operators/graph.py:triangle_stats — per-node probe "
    "work sum C(outdeg,2), the hub-proof shape at 100 TB); the "
    "oracle lists triangles from the raw a<b edge list instead — "
    "different algorithm, same exact counts. clustering_micro = "
    "floor(1e6*3*tri/wedges+0.5) via the identical integer formula "
    "both sides.",
    "WITH " + _COSUPPLY_EDGE_CTES + """,
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
              SELECT a AS node FROM e UNION ALL SELECT b FROM e
            ) GROUP BY 1),
    tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
                       AS n_wedges
            FROM deg),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CAST(CASE WHEN coalesce(n_wedges, 0) = 0 THEN 0
                ELSE (3000000 * n_triangles + n_wedges // 2) // n_wedges
                END AS BIGINT) AS clustering_micro
    FROM agg CROSS JOIN ne CROSS JOIN tri
    """,
)
def cosupply_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.graph import triangle_stats

    stats = triangle_stats(_cosupply_edges(spark, sf_dir))
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN coalesce(n_wedges, 0) = 0 THEN 0 "
            "ELSE (3000000 * n_triangles + n_wedges div 2) div n_wedges END"
        )
        .cast("long")
        .alias("clustering_micro"),
    )


@_register(
    "order_price_exact_quantiles",
    "GLOBAL exact type-1 quantiles of order price via the two-level "
    "histogram rank operator (operators/ranking.py:exact_quantiles): "
    "distinct-value hash-agg, monotone bucket map, bounded per-bucket "
    "totals collected + prefix-broadcast, within-bucket prefix window "
    "PARTITIONED BY BUCKET — global order statistics with no "
    "corpus-wide window (which explain_audit rightly bans). Rational "
    "probabilities make the target rank ceil(num*N/den) exact BIGINT; "
    "the oracle uses a plain corpus-wide window — different "
    "algorithm, same integers.",
    """
    WITH dv AS (SELECT o_totalprice AS v, CAST(count(*) AS BIGINT) AS c
                FROM orders GROUP BY 1),
    r AS (SELECT v, c,
                 coalesce(CAST(sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nb
          FROM dv),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM dv),
    p AS (SELECT * FROM (VALUES (250000, 1, 4), (500000, 1, 2),
                                (750000, 3, 4), (900000, 9, 10),
                                (990000, 99, 100)) t(pct_ppm, pn, pd))
    SELECT CAST(pct_ppm AS BIGINT) AS pct_ppm, min(v) AS value
    FROM r CROSS JOIN n CROSS JOIN p
    WHERE nb + c >= (pn * nt + pd - 1) // pd
    GROUP BY 1
    """,
)
def order_price_exact_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.ranking import exact_quantiles

    orders = load_table(spark, sf_dir, "orders")
    return exact_quantiles(
        orders,
        "o_totalprice",
        [(1, 4), (1, 2), (3, 4), (9, 10), (99, 100)],
    )


@_register(
    "doc_length_quantiles_by_lang",
    "PER-GROUP exact type-1 quantiles (operators/ranking.py:"
    "grouped_exact_quantiles): exact p25/p50/p90/p95 document length "
    "per language — the daily curation query the global operator "
    "can't answer. Fully distributed generalization of the two-level "
    "histogram: the global version's two bounded driver collects "
    "become per-group aggregates JOINED BACK on the group key (no "
    "driver collect at all, unbounded group cardinality); the bucket-"
    "offset prefix window is partitioned by group over <=1024 bucket "
    "rows per frame, the in-bucket prefix by (group, bucket) — no "
    "unpartitioned window, no frame wider than a bucket. Rational "
    "probabilities keep the per-group target rank ceil(num*N_g/den) "
    "exact BIGINT. Oracle: plain per-group cumulative window — "
    "different algorithm, same integers.",
    """
    WITH dv AS (SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS c
                FROM documents GROUP BY 1, 2),
    r AS (SELECT lang, v, c,
                 coalesce(CAST(sum(c) OVER (PARTITION BY lang ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nb,
                 CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS nt
          FROM dv),
    p AS (SELECT * FROM (VALUES (250000, 1, 4), (500000, 1, 2),
                                (900000, 9, 10), (950000, 19, 20))
          t(pct_ppm, pn, pd))
    SELECT lang, CAST(pct_ppm AS BIGINT) AS pct_ppm,
           CAST(min(v) AS BIGINT) AS value
    FROM r CROSS JOIN p
    WHERE nb + c >= (pn * nt + pd - 1) // pd
    GROUP BY 1, 2
    """,
)
def doc_length_quantiles_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_exact_quantiles,
    )

    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    out = grouped_exact_quantiles(
        docs, "lang", "n_chars", [(1, 4), (1, 2), (9, 10), (19, 20)]
    )
    return out.select("lang", "pct_ppm", F.col("value").cast("long"))


@_register(
    "price_mass_quantiles_by_flag",
    "PER-GROUP WEIGHTED exact quantiles (operators/ranking.py:"
    "grouped_weighted_quantiles — completes the quantile matrix: "
    "global/weighted/grouped): below what line price sits each "
    "return flag's p25/p50/p95 of shipped QUANTITY mass. Same fully "
    "distributed per-group histogram as doc_length_quantiles_by_lang "
    "(no driver collect, windows bounded by bucket), with each "
    "distinct value counting its BIGINT quantity sum. Oracle: plain "
    "per-group cumulative-weight window — different algorithm, same "
    "integers.",
    """
    WITH dv AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS c
                FROM lineitem GROUP BY 1, 2),
    r AS (SELECT g, v, c,
                 coalesce(CAST(sum(c) OVER (PARTITION BY g ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nb,
                 CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nt
          FROM dv),
    p AS (SELECT * FROM (VALUES (250000, 1, 4), (500000, 1, 2),
                                (950000, 19, 20)) t(pct_ppm, pn, pd))
    SELECT g AS l_returnflag, CAST(pct_ppm AS BIGINT) AS pct_ppm,
           min(v) AS value
    FROM r CROSS JOIN p
    WHERE nb + c >= (pn * nt + pd - 1) // pd
    GROUP BY 1, 2
    """,
)
def price_mass_quantiles_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_weighted_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return grouped_weighted_quantiles(
        li, "l_returnflag", "l_extendedprice", "qty",
        [(1, 4), (1, 2), (19, 20)],
    )


@_register(
    "quantity_weighted_price_quantiles",
    "WEIGHTED exact type-1 quantiles (operators/ranking.py:"
    "weighted_quantiles): the smallest line price whose cumulative "
    "QUANTITY reaches ceil(q*W) — the token-mass/byte-mass curation "
    "shape ('below what price sits half the shipped volume'), where "
    "every row counts by its integer weight, not once. Same "
    "two-level histogram as exact_quantiles (distinct-value hash-agg "
    "summing weights, bounded bucket collect, bucket-partitioned "
    "prefix window — no corpus-wide window); weights cast to BIGINT "
    "so cumulative mass is exact and order-independent. Oracle: "
    "plain corpus-wide cumulative-weight window — different "
    "algorithm, same integers.",
    """
    WITH dv AS (SELECT l_extendedprice AS v,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS c
                FROM lineitem GROUP BY 1),
    r AS (SELECT v, c,
                 coalesce(CAST(sum(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nb
          FROM dv),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM dv),
    p AS (SELECT * FROM (VALUES (250000, 1, 4), (500000, 1, 2),
                                (750000, 3, 4), (900000, 9, 10),
                                (990000, 99, 100)) t(pct_ppm, pn, pd))
    SELECT CAST(pct_ppm AS BIGINT) AS pct_ppm, min(v) AS value
    FROM r CROSS JOIN n CROSS JOIN p
    WHERE nb + c >= (pn * nt + pd - 1) // pd
    GROUP BY 1
    """,
)
def quantity_weighted_price_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        weighted_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_quantiles(
        li,
        "l_extendedprice",
        "qty",
        [(1, 4), (1, 2), (3, 4), (9, 10), (99, 100)],
    )


@_register(
    "qty_price_slope_by_flag",
    "EXACT per-group simple linear regression (operators/linalg.py:"
    "grouped_linreg) — the segment-level elasticity/A-B shape: per "
    "return flag, the slope of line price (cents) against quantity "
    "(micros), slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) entirely in "
    "integer arithmetic. ONE map-side-combined hash-agg per group "
    "with DECIMAL(38,0) per-term products and partial sums (micro "
    "squares wrap BIGINT after a handful of rows — the gram_micro "
    "cast-before-product rule), then one int128 division per group "
    "(Spark DECIMAL(38,0) div == DuckDB HUGEINT //, truncation "
    "toward zero verified on negatives). Oracle: the identical "
    "formula over HUGEINT sums — exact-match by construction.",
    """
    WITH b AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ), g AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS HUGEINT)) AS sx,
             sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx
      FROM b GROUP BY 1
    )
    SELECT flag, n,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST((1000000 * (n * sxy - sx * sy))
                          // (n * sxx - sx * sx) AS BIGINT) END
               AS slope_ppm,
           CAST((sx + n // 2) // n AS BIGINT) AS x_mean_micro,
           CAST((sy + n // 2) // n AS BIGINT) AS y_mean_micro
    FROM g
    """,
)
def qty_price_slope_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.linalg import (
        grouped_linreg,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr(
            "CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("y"),
    )
    return grouped_linreg(li, "flag", "x", "y")


@_register(
    "fuzzy_part_match_stats",
    "Blocked fuzzy-join entity resolution with measurable ground "
    "truth: every part name gets a deterministic typo by "
    "p_partkey % 4 (none / char delete / char double / char "
    "substitute — all at positions >= 2, so the first-char blocking "
    "key is recall-complete BY CONSTRUCTION and the match-rate "
    "census proves it). Dirty names re-match the clean vocabulary "
    "via operators/joins.py:fuzzy_join (block equi-join + length "
    "band + levenshtein <= 1 — never an all-pairs product; the "
    "~26-bucket block key is SALTED 8 ways — left-salt/right-"
    "explode, each pair meets once — so no task owns a whole "
    "block^2 at scale) and "
    "best_fuzzy_match (min(struct(dist, name)) argmin — map-side "
    "combined, no candidate shuffle). Output: per-edit-type match "
    "and accuracy counts. Oracle: direct blocked join + "
    "row_number() argmin — different argmin algorithm, same rows.",
    """
    WITH p AS (SELECT p_partkey, lower(p_name) AS orig,
                      p_partkey % 4 AS et
               FROM part),
    d AS (SELECT p_partkey, orig, et,
                 CASE et
                   WHEN 0 THEN orig
                   WHEN 1 THEN substr(orig, 1, 2) || substr(orig, 4)
                   WHEN 2 THEN substr(orig, 1, 2) || substr(orig, 2, 1)
                               || substr(orig, 3)
                   ELSE substr(orig, 1, 3) || 'x' || substr(orig, 5)
                 END AS dn
          FROM p),
    c AS (SELECT DISTINCT lower(p_name) AS cn FROM part),
    m AS (SELECT d.p_partkey, d.orig, d.et, c.cn,
                 levenshtein(d.dn, c.cn) AS dist
          FROM d JOIN c ON substr(d.dn, 1, 1) = substr(c.cn, 1, 1)
                        AND abs(length(d.dn) - length(c.cn)) <= 1
          WHERE levenshtein(d.dn, c.cn) <= 1),
    b AS (SELECT p_partkey, orig, et, cn,
                 row_number() OVER (PARTITION BY p_partkey
                                    ORDER BY dist ASC, cn ASC) AS rn
          FROM m),
    bm AS (SELECT et,
                  CAST(count(*) AS BIGINT) AS n_matched,
                  CAST(sum(CASE WHEN cn = orig THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_correct
           FROM b WHERE rn = 1 GROUP BY et),
    tot AS (SELECT et, CAST(count(*) AS BIGINT) AS n_parts
            FROM d GROUP BY et)
    SELECT CAST(tot.et AS BIGINT) AS edit_type, tot.n_parts,
           coalesce(bm.n_matched, 0) AS n_matched,
           coalesce(bm.n_correct, 0) AS n_correct
    FROM tot LEFT JOIN bm ON bm.et = tot.et
    """,
)
def fuzzy_part_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.joins import (
        best_fuzzy_match,
        fuzzy_join,
    )

    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        "p_partkey",
        F.lower("p_name").alias("orig"),
        (F.col("p_partkey") % 4).alias("et"),
    ).withColumn(
        "dn",
        F.expr(
            "CASE et WHEN 0 THEN orig "
            "WHEN 1 THEN substr(orig, 1, 2) || substr(orig, 4) "
            "WHEN 2 THEN substr(orig, 1, 2) || substr(orig, 2, 1) "
            "|| substr(orig, 3) "
            "ELSE substr(orig, 1, 3) || 'x' || substr(orig, 5) END"
        ),
    )
    clean = part.select(F.lower("p_name").alias("cn")).distinct()
    matches = fuzzy_join(dirty, clean, "dn", "cn", max_dist=1)
    best = best_fuzzy_match(
        matches, ["p_partkey", "orig", "et"], "cn"
    )
    matched = best.groupBy("et").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum((F.col("best_cn") == F.col("orig")).cast("long"))
        .cast("long")
        .alias("n_correct"),
    )
    totals = dirty.groupBy("et").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    return (
        totals.join(F.broadcast(matched), "et", "left")
        .select(
            F.col("et").cast("long").alias("edit_type"),
            "n_parts",
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
            F.coalesce("n_correct", F.lit(0)).cast("long").alias("n_correct"),
        )
    )


def _zorder_oracle() -> str:
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        zorder_expr,
    )

    z = zorder_expr("cx", "dyn", 10, div="//")
    return f"""
    WITH o AS (
      SELECT o_custkey,
             date_part('doy', CAST(o_orderdate AS TIMESTAMP)) AS dy
      FROM orders
    ),
    mm AS (SELECT CAST(min(o_custkey) AS BIGINT) AS mn,
                  CAST(max(o_custkey) AS BIGINT) AS mx FROM o),
    k AS (
      SELECT ((o_custkey - mn) * 1024) // (mx - mn + 1) AS cx,
             ((dy - 1) * 1024) // 366 AS dyn
      FROM o CROSS JOIN mm
    ),
    z AS (
      SELECT cx, dyn, {z} // 1024 AS zb,
             (cx * 1024 + dyn) // 1024 AS lb
      FROM k
    ),
    m AS (SELECT * FROM z WHERE cx >= 448 AND cx < 576
                            AND dyn >= 448 AND dyn < 576)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_rows_matched,
           (SELECT CAST(count(DISTINCT zb) AS BIGINT) FROM m)
               AS z_blocks_touched,
           (SELECT CAST(count(DISTINCT lb) AS BIGINT) FROM m)
               AS linear_blocks_touched,
           (SELECT CAST(count(DISTINCT zb) AS BIGINT) FROM z)
               AS z_blocks_total,
           (SELECT CAST(count(DISTINCT lb) AS BIGINT) FROM z)
               AS linear_blocks_total
    """


@_register(
    "zorder_locality_stats",
    "Multi-dimensional data layout: Morton (Z-order) interleave of "
    "normalized (customer, day-of-year) — the layout key that makes "
    "a conjunctive 2-D range predicate touch O(boundary) storage "
    "blocks instead of every block holding each customer's full date "
    "range. The query MEASURES that win: blocks (key div 1024) "
    "touched by a middle-1/8 x middle-1/8 range under z-order vs a "
    "row-major linear key, same data. zorder_expr generates the "
    "identical pure div/mod bit-interleave text for BOTH engines "
    "(operators/compaction.py:zorder_expr — one generator, zero "
    "drift). At 100 TB this is the write_partitioned sort key; all "
    "stats are exact BIGINT.",
    _zorder_oracle(),
)
def zorder_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        zorder_expr,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.dayofyear("o_orderdate").alias("dy")
    )
    mm = o.agg(
        F.min("o_custkey").cast("long").alias("mn"),
        F.max("o_custkey").cast("long").alias("mx"),
    )
    k = o.crossJoin(F.broadcast(mm)).select(
        F.expr("((o_custkey - mn) * 1024) div (mx - mn + 1)").alias("cx"),
        F.expr("((dy - 1) * 1024) div 366").alias("dyn"),
    )
    z = k.select(
        "cx",
        "dyn",
        F.expr(f"{zorder_expr('cx', 'dyn', 10)} div 1024").alias("zb"),
        F.expr("(cx * 1024 + dyn) div 1024").alias("lb"),
    )
    return _block_census(
        z,
        _center_box_2d(),
        [("zb", "z_blocks_touched"), ("lb", "linear_blocks_touched")],
        [("zb", "z_blocks_total"), ("lb", "linear_blocks_total")],
    )


def _center_box_2d() -> Column:
    """The 2-D query box: the central 1/8 of both 1024-cell axes."""
    return (
        (F.col("cx") >= 448)
        & (F.col("cx") < 576)
        & (F.col("dyn") >= 448)
        & (F.col("dyn") < 576)
    )


def _block_census(
    s: DataFrame,
    inside: Column,
    touched: list[tuple[str, str]],
    total: list[tuple[str, str]],
) -> DataFrame:
    """One aggregation over the block-key frame ``s``: the rows inside
    the query box, the distinct blocks each ``touched`` key's layout
    reads for it, and each ``total`` key's distinct blocks overall —
    (key column, output name) pairs."""
    return s.agg(
        F.count(F.when(inside, 1)).cast("long").alias("n_rows_matched"),
        *[
            F.countDistinct(F.when(inside, F.col(c))).cast("long").alias(out)
            for c, out in touched
        ],
        *[F.countDistinct(c).cast("long").alias(out) for c, out in total],
    )


def _hilbert_oracle() -> str:
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        hilbert_step_exprs,
        zorder_expr,
    )

    bits = 10
    z = zorder_expr("cx", "dyn", bits, div="//")
    ctes = [
        """o AS (
      SELECT o_custkey,
             date_part('doy', CAST(o_orderdate AS TIMESTAMP)) AS dy
      FROM orders
    )""",
        """mm AS (SELECT CAST(min(o_custkey) AS BIGINT) AS mn,
                  CAST(max(o_custkey) AS BIGINT) AS mx FROM o)""",
        f"""k AS (
      SELECT ((o_custkey - mn) * {1 << bits}) // (mx - mn + 1) AS cx,
             ((dy - 1) * {1 << bits}) // 366 AS dyn
      FROM o CROSS JOIN mm
    )""",
        f"""s{bits} AS (
      SELECT cx, dyn, {z} // {1 << bits} AS zb,
             (cx * {1 << bits} + dyn) // {1 << bits} AS lb,
             cx AS _hx, dyn AS _hy, CAST(0 AS BIGINT) AS _hd
      FROM k
    )""",
    ]
    for i in range(bits - 1, -1, -1):
        st = hilbert_step_exprs(1 << i, div="//")
        ctes.append(
            f"""s{i} AS (
      SELECT cx, dyn, zb, lb,
             {st['_hx']} AS _hx,
             {st['_hy']} AS _hy,
             {st['_hd']} AS _hd
      FROM s{i + 1}
    )"""
        )
    lo, hi = (7 << (bits - 4)), (9 << (bits - 4))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    s AS MATERIALIZED (SELECT cx, dyn, zb, lb, _hd // {1 << bits} AS hb
                       FROM s0),
    m AS MATERIALIZED (SELECT * FROM s
                       WHERE cx >= {lo} AND cx < {hi}
                         AND dyn >= {lo} AND dyn < {hi})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_rows_matched,
           (SELECT CAST(count(DISTINCT hb) AS BIGINT) FROM m)
               AS h_blocks_touched,
           (SELECT CAST(count(DISTINCT zb) AS BIGINT) FROM m)
               AS z_blocks_touched,
           (SELECT CAST(count(DISTINCT lb) AS BIGINT) FROM m)
               AS linear_blocks_touched,
           (SELECT CAST(count(DISTINCT hb) AS BIGINT) FROM s)
               AS h_blocks_total"""
    )


@_register(
    "hilbert_locality_stats",
    "Hilbert-curve layout census on the (customer, day-of-year) "
    "grid — the locality upgrade over Z-order: every step of the "
    "curve is grid-ADJACENT (Z jumps at power-of-two seams), so a "
    "centered 2-D range predicate touches fewer 1024-row blocks "
    "under the Hilbert sort key than under Z or row-major. "
    "operators/compaction.py:with_hilbert computes the index as "
    "bits chained simultaneous projections (whole-stage codegen, "
    "narrow, shuffle-free) with every intermediate MASKED "
    "non-negative — integer div/%% on negatives is where engines "
    "diverge; the oracle chains the SAME generated per-bit step "
    "text (div='//'). Verified a true Hilbert curve (bijective + "
    "unit-step adjacency) against a Python reference in tests.",
    _hilbert_oracle(),
)
def hilbert_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        with_hilbert,
        zorder_expr,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.dayofyear("o_orderdate").alias("dy")
    )
    mm = o.agg(
        F.min("o_custkey").cast("long").alias("mn"),
        F.max("o_custkey").cast("long").alias("mx"),
    )
    k = o.crossJoin(F.broadcast(mm)).select(
        F.expr("((o_custkey - mn) * 1024) div (mx - mn + 1)").alias("cx"),
        F.expr("((dy - 1) * 1024) div 366").alias("dyn"),
    )
    h = with_hilbert(k, "cx", "dyn", bits=10, out="_h")
    s = h.select(
        "cx",
        "dyn",
        F.expr(f"{zorder_expr('cx', 'dyn', 10)} div 1024").alias("zb"),
        F.expr("(cx * 1024 + dyn) div 1024").alias("lb"),
        F.expr("_h div 1024").alias("hb"),
    )
    return _block_census(
        s,
        _center_box_2d(),
        [
            ("hb", "h_blocks_touched"),
            ("zb", "z_blocks_touched"),
            ("lb", "linear_blocks_touched"),
        ],
        [("hb", "h_blocks_total")],
    )


def _hilbert3_oracle() -> str:
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        duck_xor,
        hilbert_nd_exprs,
        zorder_nd_expr,
    )

    bits = 7
    side = 1 << bits
    steps, idx = hilbert_nd_exprs(3, bits, div="//", xor=duck_xor)
    z3 = zorder_nd_expr(["cx", "dyn", "hx"], bits, div="//")
    ctes = [
        """e AS (
      SELECT user_id,
             date_part('doy', CAST(ts AS TIMESTAMP)) AS dy,
             date_part('hour', CAST(ts AS TIMESTAMP)) AS hr
      FROM events
    )""",
        """mm AS (SELECT CAST(min(user_id) AS BIGINT) AS mn,
                  CAST(max(user_id) AS BIGINT) AS mx FROM e)""",
        f"""s0 AS (
      SELECT ((user_id - mn) * {side}) // (mx - mn + 1) AS cx,
             ((dy - 1) * {side}) // 366 AS dyn,
             (hr * {side}) // 24 AS hx,
             ((user_id - mn) * {side}) // (mx - mn + 1) AS _g0,
             ((dy - 1) * {side}) // 366 AS _g1,
             (hr * {side}) // 24 AS _g2
      FROM e CROSS JOIN mm
    )""",
    ]
    state = ["_g0", "_g1", "_g2"]
    for k, step in enumerate(steps, start=1):
        keep = ["cx", "dyn", "hx"] + [c for c in state if c not in step]
        sets = ", ".join(f"{e} AS {c}" for c, e in step.items())
        ctes.append(
            f"s{k} AS (SELECT {', '.join(keep)}, {sets} FROM s{k - 1})"
        )
    last = f"s{len(steps)}"
    lo, hi = (7 * side) // 16, (9 * side) // 16
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    s AS MATERIALIZED (
      SELECT cx, dyn, hx, {idx} // 1024 AS hb,
             {z3} // 1024 AS zb,
             ((cx * {side} + dyn) * {side} + hx) // 1024 AS lb
      FROM {last}
    ),
    m AS MATERIALIZED (SELECT * FROM s
                       WHERE cx >= {lo} AND cx < {hi}
                         AND dyn >= {lo} AND dyn < {hi}
                         AND hx >= {lo} AND hx < {hi})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_rows_matched,
           (SELECT CAST(count(DISTINCT hb) AS BIGINT) FROM m)
               AS h3_blocks_touched,
           (SELECT CAST(count(DISTINCT zb) AS BIGINT) FROM m)
               AS z3_blocks_touched,
           (SELECT CAST(count(DISTINCT lb) AS BIGINT) FROM m)
               AS linear_blocks_touched,
           (SELECT CAST(count(DISTINCT hb) AS BIGINT) FROM s)
               AS h3_blocks_total"""
    )


@_register(
    "hilbert3_locality_stats",
    "THREE-dimensional Hilbert layout census on the (user, "
    "day-of-year, hour-of-day) grid — the n-D generalization "
    "(operators/compaction.py:hilbert_nd_exprs/with_hilbert_nd, "
    "Skilling's axes-to-transpose walk, a public algorithm) of the "
    "2-D quadrant walk, for the real layout ask (date, tenant, key) "
    "that 2-D keys can't serve. Narrow chained projections, no "
    "shuffle; ONE generator emits both engines' step text (Spark "
    "div/'^', DuckDB '//'/xor() — DuckDB's ^ is exponentiation, the "
    "silent trap), so the oracle runs the IDENTICAL walk. Census: "
    "1024-row blocks touched by a centered 3-D range under the "
    "Hilbert key vs the n-D Morton key (zorder_nd_expr — same bit "
    "layout, block-for-block comparable) vs a row-major linear key. "
    "Bijectivity + unit-step adjacency for n=3,4 pinned against a "
    "Python transcription of the paper in tests.",
    _hilbert3_oracle(),
)
def hilbert3_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        with_hilbert_nd,
        zorder_nd_expr,
    )
    from umn_eda_kafka_stream_processing_spark.operators.windows import (
        event_ts,
    )

    bits = 7
    side = 1 << bits
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.dayofyear(event_ts("ts")).alias("dy"),
        F.hour(event_ts("ts")).alias("hr"),
    )
    mm = e.agg(
        F.min("user_id").cast("long").alias("mn"),
        F.max("user_id").cast("long").alias("mx"),
    )
    k = e.crossJoin(F.broadcast(mm)).select(
        F.expr(f"((user_id - mn) * {side}) div (mx - mn + 1)").alias("cx"),
        F.expr(f"((dy - 1) * {side}) div 366").alias("dyn"),
        F.expr(f"(hr * {side}) div 24").alias("hx"),
    )
    h = with_hilbert_nd(k, ["cx", "dyn", "hx"], bits=bits, out="_h")
    s = h.select(
        "cx",
        "dyn",
        "hx",
        F.expr("_h div 1024").alias("hb"),
        F.expr(f"{zorder_nd_expr(['cx', 'dyn', 'hx'], bits)} div 1024")
        .alias("zb"),
        F.expr(f"((cx * {side} + dyn) * {side} + hx) div 1024").alias("lb"),
    )
    lo, hi = (7 * side) // 16, (9 * side) // 16
    return _block_census(
        s,
        (F.col("cx") >= lo) & (F.col("cx") < hi)
        & (F.col("dyn") >= lo) & (F.col("dyn") < hi)
        & (F.col("hx") >= lo) & (F.col("hx") < hi),
        [
            ("hb", "h3_blocks_touched"),
            ("zb", "z3_blocks_touched"),
            ("lb", "linear_blocks_touched"),
        ],
        [("hb", "h3_blocks_total")],
    )


_SKEW_KEYS = (
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
    ("events.event_type", "events", "event_type"),
)


def _skew_census_oracle() -> str:
    blocks = []
    for i, (label, tbl, col) in enumerate(_SKEW_KEYS):
        blocks.append(
            f"""SELECT '{label}' AS key, n_rows, n_keys, max_cnt,
           (SELECT k FROM (SELECT k, cnt FROM (
              SELECT coalesce(CAST({col} AS VARCHAR), '') AS k,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM {tbl} GROUP BY 1))
            ORDER BY cnt DESC, k ASC LIMIT 1) AS top_key,
           CAST((1000000 * max_cnt * n_keys + n_rows // 2) // n_rows
                AS BIGINT) AS skew_micro
    FROM (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(cnt) AS BIGINT) AS max_cnt
          FROM (SELECT coalesce(CAST({col} AS VARCHAR), '') AS k,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM {tbl} GROUP BY 1))"""
        )
    return "\nUNION ALL\n".join(blocks)


@_register(
    "join_key_skew_census",
    "Skew diagnostics for the engine's join/agg keys — the planning "
    "census that decides which keys need salting "
    "(operators/skew.py:key_skew_census): per key, rows / distinct "
    "keys / heaviest key + count / skew_micro = heaviest-vs-uniform "
    "ratio in integer micros. Two hash-aggs per key with a "
    "min(struct(-cnt, key)) argmax (map-side combined, no corpus "
    "sort); NULL keys count as a key (a mostly-NULL FK is the "
    "classic silent skew). Oracle: ORDER BY LIMIT 1 argmax — "
    "different algorithm, same row.",
    _skew_census_oracle(),
)
def join_key_skew_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.skew import key_skew_census

    out = None
    for label, tbl, col in _SKEW_KEYS:
        c = key_skew_census(load_table(spark, sf_dir, tbl), col, label)
        out = c if out is None else out.unionByName(c)
    return out


_ADVISOR_ORACLE = """
    WITH ec AS (
      SELECT coalesce(CAST(event_type AS VARCHAR), '') AS k,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ), esh AS (
      SELECT CAST((1000000 * max(cnt) + sum(cnt) // 2) // sum(cnt)
                  AS BIGINT) AS share_micro FROM ec
    ), ej AS (
      SELECT CAST(count(*) AS BIGINT) AS n_out,
             CAST(sum((event_id % 97) * length(event_type)) AS BIGINT)
                 AS checksum
      FROM events
      WHERE event_type IN (SELECT DISTINCT event_type FROM events
                           WHERE length(event_type) >= 5)
    ), oc AS (
      SELECT coalesce(CAST(o_custkey AS VARCHAR), '') AS k,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ), osh AS (
      SELECT CAST((1000000 * max(cnt) + sum(cnt) // 2) // sum(cnt)
                  AS BIGINT) AS share_micro FROM oc
    ), oj AS (
      SELECT CAST(count(*) AS BIGINT) AS n_out,
             CAST(sum((o.o_orderkey % 97) * c.c_nationkey) AS BIGINT)
                 AS checksum
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_nationkey < 10
    )
    SELECT 'events.event_type' AS key,
           CAST(CASE WHEN esh.share_micro > 50000 THEN 1 ELSE 0 END
                AS BIGINT) AS salted,
           esh.share_micro, ej.n_out, ej.checksum
    FROM esh, ej
    UNION ALL
    SELECT 'orders.o_custkey',
           CAST(CASE WHEN osh.share_micro > 50000 THEN 1 ELSE 0 END
                AS BIGINT),
           osh.share_micro, oj.n_out, oj.checksum
    FROM osh, oj
"""


@_register(
    "salt_advisor_join_census",
    "Auto-salt advisor wired into the join path (operators/skew.py:"
    "decide_join_strategy -> join_with_strategy): for a SKEWED key "
    "(events.event_type — a handful of values, heaviest far above the "
    "5% share threshold) and a HEALTHY key (orders.o_custkey), the "
    "one-row key_skew_census (a bounded planning scalar) feeds the "
    "decision (salting only, never broadcast), which salts only the "
    "skewed join (left-salt/right-explode via salted_join, "
    "shuffle_hash-pinned so AQE can't void the salt at test SFs), and "
    "the query emits each decision plus the joined row count and an "
    "integer checksum over BOTH sides' columns — so a pair lost or "
    "duplicated by salting hash-mismatches. Oracle recomputes the "
    "share, the threshold decision, and the PLAIN join's checksum in "
    "SQL: advisor-salted == plain is the property under test.",
    _ADVISOR_ORACLE,
)
def salt_advisor_join_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        decide_join_strategy,
        join_with_strategy,
        key_skew_census,
    )

    def branch(label, left, right, key, checksum, buckets):
        census = key_skew_census(left, key, key).collect()[0]
        d = decide_join_strategy(census["n_rows"], census["max_cnt"], None)
        salt = d["strategy"] == "salted_shuffle_hash"
        share = d["share_left_micro_ub"]
        j = join_with_strategy(left, right, key, d, salt_buckets=buckets)
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("n_out"),
            F.sum(checksum).cast("long").alias("checksum"),
        ).select(
            F.lit(label).alias("key"),
            F.lit(1 if salt else 0).cast("long").alias("salted"),
            F.lit(share).cast("long").alias("share_micro"),
            "n_out",
            "checksum",
        )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    # independent scan for the dim side (the self-join rule)
    etypes = (
        load_table(spark, sf_dir, "events")
        .where(F.length("event_type") >= 5)
        .select("event_type")
        .distinct()
    )
    skewed = branch(
        "events.event_type",
        ev,
        etypes,
        "event_type",
        # `%`, not pmod: DuckDB's % follows the dividend's sign while
        # pmod is non-negative — identical only for non-negative keys
        # (round-9 advice; one modulo semantics on both sides)
        (F.col("event_id") % F.lit(97)) * F.length("event_type"),
        8,
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") < 10)
        .select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    )
    healthy = branch(
        "orders.o_custkey",
        orders,
        cust,
        "o_custkey",
        (F.col("o_orderkey") % F.lit(97)) * F.col("c_nationkey"),
        8,
    )
    return skewed.unionByName(healthy)


_BCAST_ADVISOR_ORACLE = """
    WITH b1 AS (SELECT CAST(count(*) AS BIGINT) AS n_build FROM customer),
    j1 AS (
      SELECT CAST(count(*) AS BIGINT) AS n_out,
             CAST(sum((o.o_orderkey % 97) * c.c_nationkey) AS BIGINT)
                 AS checksum
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
          FROM lineitem GROUP BY 1),
    b2 AS (SELECT CAST(count(*) AS BIGINT) AS n_build FROM g),
    j2 AS (
      SELECT CAST(count(*) AS BIGINT) AS n_out,
             CAST(sum((o.o_orderkey % 97) * g.n) AS BIGINT) AS checksum
      FROM orders o JOIN g ON g.l_orderkey = o.o_orderkey
    )
    SELECT 'customer_dim' AS key,
           CAST(CASE WHEN b1.n_build <= 1000000 THEN 1 ELSE 0 END
                AS BIGINT) AS broadcasted,
           b1.n_build, j1.n_out, j1.checksum
    FROM b1, j1
    UNION ALL
    SELECT 'lineitem_agg',
           CAST(CASE WHEN b2.n_build <= 1000 THEN 1 ELSE 0 END AS BIGINT),
           b2.n_build, j2.n_out, j2.checksum
    FROM b2, j2
"""


@_register(
    "broadcast_advisor_join_census",
    "Join-strategy advisor, build-side count source (operators/"
    "skew.py:decide_join_strategy -> join_with_strategy): one bounded "
    "count() of the build side picks broadcast (provably small dim) "
    "vs a pinned shuffle_hash (stats-free frames silently fall to "
    "SMJ under autoBroadcastJoinThreshold's byte guess). Branch 1 "
    "joins orders to the customer dim (small at every test SF -> "
    "BROADCAST); branch 2 joins orders to a per-order lineitem agg "
    "with a deliberately tiny 1000-row bound (-> SHUFFLE at every "
    "test SF). Census: decision bit, build rows, joined rows, key "
    "checksum; the oracle re-derives the decision from the same "
    "count and the checksums from plain SQL joins — results must be "
    "strategy-independent.",
    _BCAST_ADVISOR_ORACLE,
)
def broadcast_advisor_join_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        decide_join_strategy,
        join_with_strategy,
    )

    def branch(label, left, right, key, checksum, max_rows):
        n_build = right.count()
        d = decide_join_strategy(0, 0, n_build, max_broadcast_rows=max_rows)
        j = join_with_strategy(left, right, key, d)
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("n_out"),
            F.sum(checksum).cast("long").alias("checksum"),
        ).select(
            F.lit(label).alias("key"),
            F.lit(1 if d["strategy"] == "broadcast" else 0)
            .cast("long")
            .alias("broadcasted"),
            F.lit(n_build).cast("long").alias("n_build"),
            "n_out",
            "checksum",
        )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    dim = branch(
        "customer_dim",
        orders,
        cust,
        "o_custkey",
        (F.col("o_orderkey") % F.lit(97)) * F.col("c_nationkey"),
        1_000_000,
    )
    orders2 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    g = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    big = branch(
        "lineitem_agg",
        orders2,
        g,
        "o_orderkey",
        (F.col("o_orderkey") % F.lit(97)) * F.col("n"),
        1000,
    )
    return dim.unionByName(big)


_AGG_ADVISOR_ORACLE = """
    WITH eg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(event_id % 97) AS BIGINT) AS s
      FROM events GROUP BY 1
    ), esh AS (
      SELECT CAST((1000000 * max(n) + sum(n) // 2) // sum(n)
                  AS BIGINT) AS share_micro FROM eg
    ), er AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(n) AS BIGINT) AS total_n,
             CAST(sum((s % 1000003) * (n % 1009)) AS BIGINT) AS checksum
      FROM eg
    ), og AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(o_orderkey % 97) AS BIGINT) AS s
      FROM orders GROUP BY 1
    ), osh AS (
      SELECT CAST((1000000 * max(n) + sum(n) // 2) // sum(n)
                  AS BIGINT) AS share_micro FROM og
    ), orr AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(n) AS BIGINT) AS total_n,
             CAST(sum((s % 1000003) * (n % 1009)) AS BIGINT) AS checksum
      FROM og
    )
    SELECT 'events.event_type' AS key,
           CAST(CASE WHEN esh.share_micro > 50000 THEN 1 ELSE 0 END
                AS BIGINT) AS salted,
           esh.share_micro, er.n_groups, er.total_n, er.checksum
    FROM esh, er
    UNION ALL
    SELECT 'orders.o_custkey',
           CAST(CASE WHEN osh.share_micro > 50000 THEN 1 ELSE 0 END
                AS BIGINT),
           osh.share_micro, orr.n_groups, orr.total_n, orr.checksum
    FROM osh, orr
"""


@_register(
    "salt_advisor_agg_census",
    "Auto-salt advisor wired into the AGGREGATION path (operators/"
    "skew.py:decide_join_strategy over a key census; groupBy on "
    "a hot key is the more common skew victim and AQE's skew "
    "splitting covers only joins): for the SKEWED events.event_type "
    "key and the HEALTHY orders.o_custkey key, the one-row "
    "key_skew_census decides, and each key aggregates either plain "
    "(one shuffle) or via the salted two-stage shape — identical "
    "results for distributive aggregates. The query rolls each "
    "branch's per-key (count, sum(key-mod)) frame into one row: "
    "decision + group count + row total + an order-independent "
    "nonlinear checksum sum((s % 1000003) * (n % 1009)) that moves "
    "if any row lands in the wrong group or a partial is dropped/"
    "double-counted. Oracle recomputes the share, the threshold "
    "decision, and the PLAIN GROUP BY checksum in SQL: advisor-"
    "salted == plain is the property under test. `%` (not pmod) on "
    "both sides — one modulo semantics (round-9 advice).",
    _AGG_ADVISOR_ORACLE,
)
def salt_advisor_agg_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.skew import (
        decide_join_strategy,
        key_skew_census,
        salted_agg,
    )

    def branch(label, df, key, mod_col, buckets):
        census = key_skew_census(df, key, key).collect()[0]
        d = decide_join_strategy(census["n_rows"], census["max_cnt"], None)
        salt = d["strategy"] == "salted_shuffle_hash"
        share = d["share_left_micro_ub"]
        modexpr = (F.col(mod_col) % F.lit(97)).cast("long")
        if salt:
            per_key = salted_agg(
                df,
                key,
                partial_aggs=[
                    F.count(F.lit(1)).alias("_n"),
                    F.sum(modexpr).alias("_s"),
                ],
                final_aggs=[
                    F.sum("_n").cast("long").alias("n"),
                    F.sum("_s").cast("long").alias("s"),
                ],
                salt_buckets=buckets,
                salt_cols=[mod_col],
            )
        else:
            per_key = df.groupBy(key).agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(modexpr).cast("long").alias("s"),
            )
        return per_key.agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n").cast("long").alias("total_n"),
            F.sum(
                (F.col("s") % F.lit(1000003)) * (F.col("n") % F.lit(1009))
            ).cast("long").alias("checksum"),
        ).select(
            F.lit(label).alias("key"),
            F.lit(1 if salt else 0).cast("long").alias("salted"),
            F.lit(share).cast("long").alias("share_micro"),
            "n_groups",
            "total_n",
            "checksum",
        )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return branch("events.event_type", ev, "event_type", "event_id", 8).unionByName(
        branch("orders.o_custkey", orders, "o_custkey", "o_orderkey", 8)
    )


@_register(
    "sorted_export_census",
    "Sorted-export write path (operators/compaction.py:write_sorted): "
    "lineitem is exported as 8 parquet shards forming ONE total order "
    "on (l_orderkey, l_linenumber) via repartitionByRange + "
    "sortWithinPartitions — a RangeExchange into key-disjoint "
    "partitions with n parallel LOCAL sorts, never a global "
    "single-partition Sort (plan pinned in tests). The census audits "
    "the invariants sampling can't perturb: every row landed exactly "
    "once (n_rows, global min/max key vs SQL), the per-file manifest "
    "ranges are pairwise DISJOINT in manifest order, each file is "
    "internally sorted (a per-file lag() window over the read-back — "
    "partitioned by input_file_name, never corpus-wide), and the "
    "shard count stayed within budget. The oracle pins the three "
    "booleans at 1: a lost row, an overlapping shard, or an unsorted "
    "file hash-mismatches.",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_okey,
           CAST(max(l_orderkey) AS BIGINT) AS max_okey,
           CAST(1 AS BIGINT) AS files_ok,
           CAST(1 AS BIGINT) AS disjoint_ok,
           CAST(1 AS BIGINT) AS files_sorted_ok
    FROM lineitem
    """,
)
def sorted_export_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql.window import Window

    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        write_sorted,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    out = tempfile.mkdtemp(prefix="sparkgraft_sorted_export_") + "/shards"
    # manifest is <= n_files rows — a bounded planning collect
    man = write_sorted(
        li, out, ["l_orderkey", "l_linenumber"], n_files=8
    ).collect()
    n_rows = sum(m["n_rows"] for m in man)
    files_ok = int(1 <= len(man) <= 8)
    # disjointness is a TUPLE property (per-column file stats overlap
    # legitimately under a multi-column sort) — compare min_key/max_key
    disjoint_ok = int(
        all(
            tuple(a["max_key"]) < tuple(b["min_key"])
            for a, b in zip(man, man[1:])
        )
    )
    # within-file sortedness, distributed: order rows by the hidden
    # _metadata.row_index — the FILE's own row numbering. (The earlier
    # monotonically_increasing_id version depended on one scan split
    # per file: Spark packs/splits scan partitions by SIZE, so a file
    # split across partitions at larger SFs would interleave _mid out
    # of file order and false-flag violations — round-9 advice.)
    key = F.struct("l_orderkey", "l_linenumber")
    back = spark.read.parquet(out).select(
        "l_orderkey",
        "l_linenumber",
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.row_index").alias("_ridx"),
    )
    w = Window.partitionBy("_file").orderBy("_ridx")
    violations = (
        back.select(
            F.when(F.lag(key).over(w) > key, 1).otherwise(0).alias("bad")
        )
        .agg(F.sum("bad").alias("n"))
        .collect()[0]["n"]
    )
    return spark.range(1).select(
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(man[0]["min_l_orderkey"]).cast("long").alias("min_okey"),
        F.lit(man[-1]["max_l_orderkey"]).cast("long").alias("max_okey"),
        F.lit(files_ok).cast("long").alias("files_ok"),
        F.lit(disjoint_ok).cast("long").alias("disjoint_ok"),
        F.lit(int(violations == 0)).cast("long").alias("files_sorted_ok"),
    )


@_register(
    "zonemap_pruning_census",
    "Zone-map file skipping — the READ side of the sorted export "
    "(operators/compaction.py:zonemap_select over the write_sorted "
    "manifest): lineitem lands as 8 key-disjoint sorted shards, then "
    "two probe ranges on l_orderkey (a 1/11-of-keyspan band at the low "
    "end; the exact midpoint key) are answered by reading ONLY the "
    "files whose manifest [min,max] zone intersects the range — "
    "parquet-footer/table-format pruning expressed as auditable "
    "manifest data instead of reader internals. The census pins "
    "LOSSLESSNESS (count + key-checksum from the selected files equal "
    "the full-scan answer for the same predicate) and that pruning "
    "actually HAPPENED (files_read < files_total; a skipped row or a "
    "zone miscomputed hash-mismatches). Probe bounds derive from the "
    "manifest's own global min/max by integer div, so the oracle "
    "recomputes them from table min/max with the same arithmetic. At "
    "100 TB this metadata-only decision is the difference between a "
    "point probe opening one shard and opening the corpus — the "
    "quantified payoff of the write_sorted/zorder layout family.",
    """
    WITH rng AS (
      SELECT CAST(min(l_orderkey) AS BIGINT) AS lo_all,
             CAST(max(l_orderkey) AS BIGINT) AS hi_all
      FROM lineitem
    ), probes AS (
      SELECT 'low_band' AS probe, lo_all AS lo,
             lo_all + (hi_all - lo_all) // 11 AS hi FROM rng
      UNION ALL
      SELECT 'mid_point' AS probe,
             lo_all + (hi_all - lo_all) // 2 AS lo,
             lo_all + (hi_all - lo_all) // 2 AS hi FROM rng
    )
    SELECT p.probe,
           CAST(count(l.l_orderkey) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(l.l_orderkey % 1000003), 0) AS BIGINT)
               AS key_checksum,
           CAST(1 AS BIGINT) AS lossless_ok,
           CAST(1 AS BIGINT) AS pruned_ok
    FROM probes p LEFT JOIN lineitem l
      ON l.l_orderkey BETWEEN p.lo AND p.hi
    GROUP BY p.probe
    """,
)
def zonemap_pruning_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        write_sorted,
        zonemap_select,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    out = tempfile.mkdtemp(prefix="sparkgraft_zonemap_") + "/shards"
    # manifest is <= n_files rows — a bounded planning collect
    man = write_sorted(
        li, out, ["l_orderkey", "l_linenumber"], n_files=8
    ).collect()
    lo_all = min(m["min_l_orderkey"] for m in man)
    hi_all = max(m["max_l_orderkey"] for m in man)
    span = hi_all - lo_all
    mid = lo_all + span // 2  # python // == DuckDB // on non-negatives
    probes = [
        ("low_band", lo_all, lo_all + span // 11),
        ("mid_point", mid, mid),
    ]
    full = spark.read.parquet(out)
    rows = []
    for name, lo, hi in probes:
        files = zonemap_select(man, "l_orderkey", lo, hi)
        pred = F.col("l_orderkey").between(F.lit(lo), F.lit(hi))
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n"),
            F.coalesce(
                F.sum(F.col("l_orderkey") % F.lit(1000003)), F.lit(0)
            ).cast("long").alias("s"),
        ]
        sel = spark.read.parquet(*files).filter(pred).agg(*aggs).collect()[0]
        ful = full.filter(pred).agg(*aggs).collect()[0]
        rows.append(
            (
                name,
                sel["n"],
                sel["s"],
                int(sel["n"] == ful["n"] and sel["s"] == ful["s"]),
                int(len(files) < len(man)),
            )
        )
    return spark.createDataFrame(
        rows,
        "probe string, n_rows long, key_checksum long, "
        "lossless_ok long, pruned_ok long",
    )


@_register(
    "store_compaction_census",
    "Small-file store maintenance (stores.py:SnapshotStore.maintain "
    "— the production half of the foreachBatch "
    "incremental-store pattern; RocksDB-compaction analogue): two "
    "simulated microbatches append one file each into every bucket "
    "of an 8-bucket orders store, maintain bin-packs each "
    "bucket back to ONE file (distributed row census, file counts "
    "from the scan's listing, partition-pruned rewrite, dynamic "
    "overwrite), and a "
    "replayed compaction is a no-op. Census: bucket/file counters "
    "from the operator's stats (deterministic: 2 coalesce(1) "
    "appends -> 2 files/bucket -> 1), the replay's zero, plus "
    "row-count and an order-key checksum over the store AFTER both "
    "passes — a row lost or duplicated by the rewrite "
    "hash-mismatches. Oracle recomputes the data half from orders "
    "and pins the deterministic file counters.",
    """
    SELECT CAST(8 AS BIGINT) AS buckets_total,
           CAST(8 AS BIGINT) AS buckets_compacted,
           CAST(8 AS BIGINT) AS files_after,
           CAST(0 AS BIGINT) AS replay_compacted,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum((o_orderkey % 97) * (o_orderkey % 8 + 1)) AS BIGINT)
               AS checksum
    FROM orders
    """,
)
def store_compaction_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).withColumn("bucket", (F.col("o_orderkey") % F.lit(8)).cast("long"))
    path = tempfile.mkdtemp(prefix="sparkgraft_store_compaction_") + "/store"
    # two "microbatches": each appends exactly one file per bucket.
    # The batch splitter must be INDEPENDENT of the bucket key —
    # o_orderkey % 2 correlates with % 8 (even keys only hit even
    # buckets), which would leave every bucket single-file. div 8
    # strips the bucket bits first.
    for half in (0, 1):
        (
            orders.where(F.expr("o_orderkey div 8") % 2 == half)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(path)
        )
    maintained = SnapshotStore(spark, path, partition_by="bucket")
    stats = maintained.maintain()
    replay = maintained.maintain()
    store = spark.read.parquet(path)
    return store.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            (F.col("o_orderkey") % F.lit(97))
            * (F.col("o_orderkey") % F.lit(8) + F.lit(1))
        ).cast("long").alias("checksum"),
    ).select(
        F.lit(stats["partitions_total"]).cast("long").alias("buckets_total"),
        F.lit(stats["partitions_rewritten"]).cast("long").alias(
            "buckets_compacted"
        ),
        F.lit(stats["files_after"]).cast("long").alias("files_after"),
        F.lit(replay["partitions_rewritten"]).cast("long").alias(
            "replay_compacted"
        ),
        "n_rows",
        "checksum",
    )


@_register(
    "order_snapshot_diff_census",
    "Change-data capture between two snapshots (operators/"
    "compaction.py:snapshot_diff — the inverse of compact_changelog: "
    "what changelog would rebuild NEW from OLD): old = orders keyed "
    "on o_orderkey; new = orders minus keys %7==0 (deletes), with "
    "price+1 on keys %5==0 (updates, null-safe compare), plus "
    "re-keyed negatives of keys %11==0 (inserts). One full-outer "
    "join hashed on the key with a SHUFFLE_HASH hint (full outer "
    "never broadcasts; unhinted it sort-merges BOTH snapshots — the "
    "r04 rule). Census: per-change row count + a sign-preserving "
    "key checksum (% both engines, dividend-sign semantics) — a "
    "misclassified or dropped key hash-mismatches. Built from two "
    "INDEPENDENT scans (the derived-side self-join rule).",
    """
    WITH old AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
    new AS (
      SELECT k, CASE WHEN k % 5 = 0 THEN p + 1 ELSE p END AS p
      FROM old WHERE k % 7 <> 0
      UNION ALL
      SELECT -k, p FROM old WHERE k % 11 = 0
    ),
    d AS (
      SELECT coalesce(n.k, o.k) AS k,
             CASE WHEN o.k IS NULL THEN 'inserted'
                  WHEN n.k IS NULL THEN 'deleted'
                  WHEN n.p IS DISTINCT FROM o.p THEN 'updated'
                  ELSE 'unchanged' END AS change
      FROM new n FULL OUTER JOIN old o ON n.k = o.k
    )
    SELECT change, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k % 97) AS BIGINT) AS key_checksum
    FROM d GROUP BY change
    """,
)
def order_snapshot_diff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        snapshot_diff,
    )

    def snap(which):
        # independent scan per side (CLAUDE.md derived-side rule)
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("p"),
        )
        if which == "old":
            return o
        kept = o.where(F.col("k") % 7 != 0).withColumn(
            "p",
            F.when(F.col("k") % 5 == 0, F.col("p") + 1).otherwise(
                F.col("p")
            ),
        )
        ins = o.where(F.col("k") % 11 == 0).select(
            (-F.col("k")).alias("k"), "p"
        )
        return kept.unionByName(ins)

    d = snapshot_diff(snap("old"), snap("new"), "k")
    return d.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("k") % F.lit(97)).cast("long").alias("key_checksum"),
    )


@_register(
    "order_constraint_census",
    "Declarative data-quality contract gate (operators/quality.py:"
    "check_constraints — the expectations/dbt-test shape as Spark "
    "aggregates): not_null + range + accepted_values + regex compile "
    "into ONE conditional-sum aggregate over ONE orders scan (a "
    "tenth check costs zero extra passes), unique is one hash-agg "
    "on the key, referential integrity one LEFT ANTI join against "
    "customer's distinct keys. The range check's 100k ceiling is "
    "deliberately VIOLATED by most orders so the violation-counting "
    "path is pinned by data, not just zeros; NULLs violate only "
    "not_null (three-valued convention). Oracle recomputes every "
    "counter with plain SQL (NOT EXISTS for the orphan count — "
    "NOT IN's NULL semantics differ from anti-join).",
    """
    SELECT 'accepted_values' AS check, 'o_orderstatus' AS target,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN NOT (o_orderstatus IN ('F','O','P'))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'not_null', 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'range', 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice < 1 OR o_totalprice > 100000
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'regex', 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority,
                                                 '^[1-5]-')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           CAST(sum(cnt) AS BIGINT),
           CAST(sum(cnt) - count(*) AS BIGINT)
    FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'fk', 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN NOT EXISTS (
                  SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)
                THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o
    """,
)
def order_constraint_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        check_constraints,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    out = check_constraints(
        orders,
        [
            ("not_null", "o_custkey"),
            ("range", "o_totalprice", 1, 100000),
            ("accepted_values", "o_orderstatus", ["F", "O", "P"]),
            ("regex", "o_orderpriority", "^[1-5]-"),
            ("unique", "o_orderkey"),
            ("fk", "o_custkey", "customer", "c_custkey"),
        ],
        dims={"customer": customer},
    )
    # the oracle pins counters; ok is derived — drop it so the hash
    # compares the counters themselves (ok = n_violations == 0 is a
    # pure function of the pinned column)
    return out.drop("ok")


_TTL_CUTOFF = "2024-01-10 00:00:00"


@_register(
    "store_ttl_census",
    "Retention/TTL sweep for a bucket-partitioned store (stores.py:"
    "SnapshotStore.maintain with a ttl and no file target — the batch "
    "analogue of the streaming KTable TTL, in the store-"
    "maintenance family): events land in an 8-bucket temp store, "
    f"rows with ts < {_TTL_CUTOFF} expire. Partition-pruned: the "
    "min-ts census selects only buckets holding expired rows; "
    "emptied buckets' directories are deleted; a replayed sweep is "
    "pinned a no-op. Census: the operator's partition/row counters "
    "(all re-derivable from events in SQL), post-sweep row count + "
    "event-id checksum, and the replay's zero. Timestamps compare "
    "against a TIMESTAMP_NTZ literal (the CLAUDE.md NTZ rule).",
    f"""
    WITH b AS (
      SELECT event_id % 8 AS bucket,
             CASE WHEN ts < TIMESTAMP '{_TTL_CUTOFF}' THEN 1 ELSE 0 END
                 AS exp,
             event_id
      FROM events
    ),
    c AS (SELECT bucket, CAST(sum(exp) AS BIGINT) AS ex,
                 CAST(count(*) AS BIGINT) AS n
          FROM b GROUP BY bucket)
    SELECT CAST(count(*) AS BIGINT) AS partitions_total,
           CAST(sum(CASE WHEN ex > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS partitions_touched,
           CAST(sum(ex) AS BIGINT) AS rows_expired,
           CAST(sum(CASE WHEN ex = n THEN 1 ELSE 0 END) AS BIGINT)
               AS partitions_deleted,
           CAST(0 AS BIGINT) AS replay_touched,
           (SELECT CAST(count(*) AS BIGINT) FROM b WHERE exp = 0)
               AS n_rows_after,
           (SELECT CAST(sum(event_id % 97) AS BIGINT) FROM b
            WHERE exp = 0) AS checksum
    FROM c
    """,
)
def store_ttl_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts"
    ).withColumn("bucket", (F.col("event_id") % F.lit(8)).cast("long"))
    path = tempfile.mkdtemp(prefix="sparkgraft_store_ttl_") + "/store"
    ev.write.mode("overwrite").partitionBy("bucket").parquet(path)
    cut = F.expr(f"TIMESTAMP_NTZ '{_TTL_CUTOFF}'")
    maintained = SnapshotStore(spark, path, partition_by="bucket")
    stats = maintained.maintain(ttl=("ts", cut), target_files=None)
    replay = maintained.maintain(ttl=("ts", cut), target_files=None)
    store = spark.read.parquet(path)
    return store.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_after"),
        F.sum(F.col("event_id") % F.lit(97)).cast("long").alias("checksum"),
    ).select(
        F.lit(stats["partitions_total"]).cast("long").alias(
            "partitions_total"
        ),
        F.lit(stats["partitions_expired"]).cast("long").alias(
            "partitions_touched"
        ),
        F.lit(stats["rows_expired"]).cast("long").alias("rows_expired"),
        F.lit(stats["partitions_deleted"]).cast("long").alias(
            "partitions_deleted"
        ),
        F.lit(replay["partitions_expired"]).cast("long").alias(
            "replay_touched"
        ),
        "n_rows_after",
        "checksum",
    )


@_register(
    "incremental_event_totals_view",
    "Continuously-maintained GROUP BY (a stores.BatchStore of partials — the "
    "lake-side KTable aggregation: per-batch PARTIAL aggregates "
    "keyed (batch_id, group) latest-wins, view re-aggregated across "
    "batches at read; the salted_agg partial/final split applied to "
    "the foreachBatch store family): three event microbatches "
    "(event_id % 3) land count/value-micro-sum/min/max partials per "
    "event_type, batch 1 is REPLAYED (no-op pinned by the final "
    "numbers), then batches <= 1 COLLAPSE into one baseline row per "
    "group (the state-retention fold) — the view must equal the "
    "from-scratch GROUP BY after all of it, and store_batches pins "
    "that only {baseline, batch 2} partitions remain. Value sums "
    "ride exact integer micros (floor(v*1e6+0.5) per row — never a "
    "cross-engine float sum).",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS c,
           CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS v_micro,
           CAST(min(event_id) AS BIGINT) AS mn_id,
           CAST(max(event_id) AS BIGINT) AS mx_id,
           CAST(2 AS BIGINT) AS store_batches
    FROM events
    GROUP BY event_type
    """,
)
def incremental_event_totals_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    partials = [
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(
            F.floor(F.col("value").cast("double") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
        ).cast("long").alias("v_micro"),
        F.min("event_id").cast("long").alias("mn_id"),
        F.max("event_id").cast("long").alias("mx_id"),
    ]
    finals = [
        F.sum("c").cast("long").alias("c"),
        F.sum("v_micro").cast("long").alias("v_micro"),
        F.min("mn_id").cast("long").alias("mn_id"),
        F.max("mx_id").cast("long").alias("mx_id"),
    ]
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix="sparkgraft_aggview_") + "/view"
    # distributive aggregates: the finals re-combine partials into
    # partials of the same aliases, so they are the store's merge
    view = BatchStore(
        spark, path, lambda df: df.groupBy("event_type").agg(*finals)
    )

    def partial(b: int) -> DataFrame:
        return ev.where(F.col("event_id") % 3 == b).groupBy(
            "event_type"
        ).agg(*partials)

    for b in range(3):
        view.upsert(b, partial(b))
    # replay batch 1 (batch-keyed no-op), then fold batches <= 1 into
    # the baseline — the view below must not notice either
    view.upsert(1, partial(1))
    view.collapse(1)
    n_batches = (
        spark.read.parquet(path).select("batch_id").distinct().count()
    )
    return view.read().withColumn(
        "store_batches", F.lit(int(n_batches)).cast("long")
    )


@_register(
    "store_maintenance_census",
    "ONE-CALL store maintenance (stores.py:SnapshotStore.maintain — "
    "the TTL sweep and the small-file compaction fused into ONE "
    "census pass and ONE rewrite per touched partition): events land "
    "in an 8-bucket store as two appends per bucket (fragmented), "
    f"rows with ts < {_TTL_CUTOFF} expire. A bucket holding expired "
    "rows OR exceeding its 1-file target is rewritten ONCE (expiry "
    "and bin-packing in the same dynamic overwrite); fully expired "
    "buckets' directories are deleted; a replayed call selects ZERO "
    "partitions (the family's idempotence pin). Every counter is "
    "re-derived by the oracle from events alone — files-before via "
    "the deterministic (event_id div 8) % 2 append splitter "
    "(independent of the %8 bucket key, the round-10 correlation "
    "rule), survivors via the same NTZ cutoff — plus a post-"
    "maintenance row count and event-id checksum so a lost or "
    "duplicated row hash-mismatches.",
    f"""
    WITH b AS (
      SELECT event_id % 8 AS bucket, (event_id // 8) % 2 AS half,
             CASE WHEN ts < TIMESTAMP '{_TTL_CUTOFF}' THEN 1 ELSE 0 END
                 AS exp,
             event_id
      FROM events
    ),
    c AS (
      SELECT bucket, CAST(count(DISTINCT half) AS BIGINT) AS files,
             CAST(sum(exp) AS BIGINT) AS ex,
             CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY bucket
    ),
    cls AS (
      SELECT *, CASE WHEN ex = n THEN 1 ELSE 0 END AS emptied,
             CASE WHEN ex < n AND (ex > 0 OR files > 1) THEN 1 ELSE 0 END
                 AS rew
      FROM c
    )
    SELECT CAST(count(*) AS BIGINT) AS partitions_total,
           CAST(sum(ex) AS BIGINT) AS rows_expired,
           CAST(sum(CASE WHEN ex > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS partitions_expired,
           CAST(sum(emptied) AS BIGINT) AS partitions_deleted,
           CAST(sum(rew) AS BIGINT) AS partitions_rewritten,
           CAST(sum(rew * files) AS BIGINT) AS files_before,
           CAST(sum(rew) AS BIGINT) AS files_after,
           CAST(sum(CASE WHEN rew = 1 THEN n - ex ELSE 0 END) AS BIGINT)
               AS rows_rewritten,
           CAST(0 AS BIGINT) AS replay_rewritten,
           (SELECT CAST(count(*) AS BIGINT) FROM b WHERE exp = 0)
               AS n_rows_after,
           (SELECT CAST(sum(event_id % 97) AS BIGINT) FROM b
            WHERE exp = 0) AS checksum
    FROM cls
    """,
)
def store_maintenance_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts"
    ).withColumn("bucket", (F.col("event_id") % F.lit(8)).cast("long"))
    path = tempfile.mkdtemp(prefix="sparkgraft_store_maint_") + "/store"
    # two appends per bucket; the splitter strips the bucket bits
    # first (div 8) so every bucket receives both halves
    for half in (0, 1):
        (
            ev.where(F.expr("event_id div 8") % 2 == half)
            .coalesce(1)
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(path)
        )
    cut = F.expr(f"TIMESTAMP_NTZ '{_TTL_CUTOFF}'")
    maintained = SnapshotStore(spark, path, partition_by="bucket")
    stats = maintained.maintain(ttl=("ts", cut))
    replay = maintained.maintain(ttl=("ts", cut))
    store = spark.read.parquet(path)
    return store.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_after"),
        F.sum(F.col("event_id") % F.lit(97)).cast("long").alias("checksum"),
    ).select(
        *[
            F.lit(stats[k]).cast("long").alias(k)
            for k in (
                "partitions_total", "rows_expired", "partitions_expired",
                "partitions_deleted", "partitions_rewritten",
                "files_before", "files_after",
            )
        ],
        F.lit(stats["rows_rewritten"]).cast("long").alias("rows_rewritten"),
        F.lit(replay["partitions_rewritten"]).cast("long").alias(
            "replay_rewritten"
        ),
        "n_rows_after",
        "checksum",
    )


def _duck_psi_terms(n: str = "n_bins") -> str:
    """PSI term SQL text — the identical fixed double-op chain as
    operators/quality.py:_psi_census (charlm ln rule: one ln per
    bin on a deterministic double ratio, micro-rounded to BIGINT;
    probability gap nano-rounded; integer product, integer sum).
    ``n`` is the occupied-domain-size column (n_bins / n_cats)."""
    return f"""
      CAST(floor((
          CAST(cur_cnt + 1 AS DOUBLE) / CAST(cur_total + {n} AS DOUBLE)
          - CAST(ref_cnt + 1 AS DOUBLE) / CAST(ref_total + {n} AS DOUBLE)
        ) * 1000000000.0 + 0.5) AS BIGINT)
      * CAST(floor(ln(
          (CAST(cur_cnt + 1 AS DOUBLE) * CAST(ref_total + {n} AS DOUBLE))
          / (CAST(ref_cnt + 1 AS DOUBLE) * CAST(cur_total + {n} AS DOUBLE))
        ) * 1000000.0 + 0.5) AS BIGINT)"""


@_register(
    "order_price_drift_census",
    "Distribution-DRIFT monitor on the contract store (operators/"
    "quality.py:histogram_monitor_registers + drift_census — the "
    "Population Stability Index the count-based constraint monitor "
    "lacks): three microbatches (o_orderkey % 3) land per-batch "
    "64-bin histogram registers for two watched columns, with batch "
    "2's price DELIBERATELY shifted +131072 (planted drift) while "
    "the customer-key control keeps its distribution. PSI of window "
    "{2} vs reference {0,1} in exact integer form — one ln per "
    "occupied bin on a deterministic double ratio of BIGINT counts, "
    "micro-rounded; gap nano-rounded; psi_femto an exact integer "
    "sum (never a float sum across bins); add-one smoothing over "
    "the occupied-bin union. Batch 1 is re-upserted (replay) before "
    "reading: store_rows pins the latest-wins no-op as data. The "
    "drifted column alarms (psi >> 0.25); the control stays ~0.",
    """
    WITH raw AS (
      SELECT o_orderkey % 3 AS bid,
             CASE WHEN o_orderkey % 3 = 2
                  THEN o_totalprice + 131072.0
                  ELSE o_totalprice END AS price,
             CAST(o_custkey AS DOUBLE) AS cust
      FROM orders
    ),
    binned AS (
      SELECT bid, 'price' AS col_name,
             least(63, greatest(0,
               CAST(floor((price - 0.0) / 8192.0) AS BIGINT))) AS bin
      FROM raw
      UNION ALL
      SELECT bid, 'cust',
             least(63, greatest(0,
               CAST(floor((cust - 0.0) / 256.0) AS BIGINT)))
      FROM raw
    ),
    per_bin AS (
      SELECT col_name, bin,
             CAST(sum(CASE WHEN bid <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS ref_cnt,
             CAST(sum(CASE WHEN bid = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS cur_cnt
      FROM binned GROUP BY col_name, bin
    ),
    tot AS (
      SELECT col_name, CAST(count(*) AS BIGINT) AS n_bins,
             CAST(sum(ref_cnt) AS BIGINT) AS ref_total,
             CAST(sum(cur_cnt) AS BIGINT) AS cur_total
      FROM per_bin GROUP BY col_name
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS store_rows
      FROM (SELECT DISTINCT bid, col_name, bin FROM binned)
    )
    SELECT p.col_name,
           CAST(min(t.n_bins) AS BIGINT) AS n_bins,
           CAST(min(t.ref_total) AS BIGINT) AS ref_total,
           CAST(min(t.cur_total) AS BIGINT) AS cur_total,"""
    f"""
           CAST(sum({_duck_psi_terms()}) AS BIGINT) AS psi_femto,
           CAST(sum({_duck_psi_terms()}) // 1000000000 AS BIGINT)
               AS psi_micro,
           CAST(min(st.store_rows) AS BIGINT) AS store_rows
    FROM per_bin p JOIN tot t USING (col_name) CROSS JOIN st
    GROUP BY p.col_name
    """,
)
def order_price_drift_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        drift_census,
        histogram_monitor_registers,
    )
    from umn_eda_kafka_stream_processing_spark.stores import FLOOR, BatchStore

    specs = {"price": (0.0, 524288.0, 64), "cust": (0.0, 16384.0, 64)}
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 3).cast("long").alias("bid"),
        F.col("o_totalprice").alias("price"),
        F.col("o_custkey").cast("double").alias("cust"),
    ).withColumn(
        "price",
        F.when(
            F.col("bid") == 2, F.col("price") + F.lit(131072.0)
        ).otherwise(F.col("price")),
    )
    path = tempfile.mkdtemp(prefix="sparkgraft_drift_") + "/store"
    store = BatchStore(spark, path, marker=FLOOR)

    def registers(b: int) -> DataFrame:
        return histogram_monitor_registers(
            orders.where(F.col("bid") == b).select("price", "cust"), specs
        )

    for b in range(3):
        store.upsert(b, registers(b))
    # replay batch 1: the batch-keyed upsert must be a no-op —
    # store_rows below pins it (an inflated register would also
    # hash-mismatch every PSI number)
    store.upsert(1, registers(1))
    census = drift_census(spark, path, (0, 1), (2, 2))
    store_rows = spark.read.parquet(path).count()
    return census.withColumn(
        "store_rows", F.lit(int(store_rows)).cast("long")
    )


@_register(
    "category_mix_drift_census",
    "CATEGORICAL drift monitor (operators/quality.py:"
    "category_registers + categorical_drift_census — the "
    "frequency-mix alarm the numeric histogram registers can't "
    "express: event types, langs, domains): three microbatches "
    "(o_orderkey % 3) land per-batch (col, category) count "
    "registers for two watched columns via the stack-melt + ONE "
    "hash-agg, with batch 2's order PRIORITY deliberately shifted "
    "(keys with o_orderkey%5 < 2 relabeled 1-URGENT — a planted "
    "category-mix shift) while order STATUS keeps its mix. PSI of "
    "window {2} vs reference {0,1} over the occupied-category "
    "union with add-one smoothing, in the exact-integer form of "
    "the numeric monitor (ln micro-rounded, gap nano-rounded, "
    "psi_femto an exact BIGINT sum). Batch 1 is re-upserted "
    "(replay) before reading: store_rows pins the latest-wins "
    "no-op as data. The shifted column alarms; the control stays "
    "~0. Oracle recomputes registers and PSI from the same "
    "arithmetic.",
    """
    WITH raw AS (
      SELECT o_orderkey % 3 AS bid,
             CASE WHEN o_orderkey % 3 = 2 AND o_orderkey % 5 < 2
                  THEN '1-URGENT' ELSE o_orderpriority END AS priority,
             o_orderstatus AS status
      FROM orders
    ),
    melted AS (
      SELECT bid, 'priority' AS col_name, priority AS category FROM raw
      UNION ALL
      SELECT bid, 'status', status FROM raw
    ),
    per_cat AS (
      SELECT col_name, category,
             CAST(sum(CASE WHEN bid <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS ref_cnt,
             CAST(sum(CASE WHEN bid = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS cur_cnt
      FROM melted GROUP BY col_name, category
    ),
    tot AS (
      SELECT col_name, CAST(count(*) AS BIGINT) AS n_cats,
             CAST(sum(ref_cnt) AS BIGINT) AS ref_total,
             CAST(sum(cur_cnt) AS BIGINT) AS cur_total
      FROM per_cat GROUP BY col_name
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS store_rows
      FROM (SELECT DISTINCT bid, col_name, category FROM melted)
    )
    SELECT p.col_name,
           CAST(min(t.n_cats) AS BIGINT) AS n_cats,
           CAST(min(t.ref_total) AS BIGINT) AS ref_total,
           CAST(min(t.cur_total) AS BIGINT) AS cur_total,"""
    f"""
           CAST(sum({_duck_psi_terms("n_cats")}) AS BIGINT) AS psi_femto,
           CAST(sum({_duck_psi_terms("n_cats")}) // 1000000000 AS BIGINT)
               AS psi_micro,
           CAST(min(st.store_rows) AS BIGINT) AS store_rows
    FROM per_cat p JOIN tot t USING (col_name) CROSS JOIN st
    GROUP BY p.col_name
    """,
)
def category_mix_drift_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        categorical_drift_census,
        category_registers,
    )
    from umn_eda_kafka_stream_processing_spark.stores import FLOOR, BatchStore

    base = (
        load_table(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") % 3).cast("long").alias("bid"),
            (F.col("o_orderkey") % 5).alias("_m5"),
            "o_orderpriority",
            F.col("o_orderstatus").alias("status"),
        )
        .withColumn(
            "priority",
            F.when(
                (F.col("bid") == 2) & (F.col("_m5") < 2),
                F.lit("1-URGENT"),
            ).otherwise(F.col("o_orderpriority")),
        )
    )
    path = tempfile.mkdtemp(prefix="sparkgraft_catdrift_") + "/store"
    store = BatchStore(spark, path, marker=FLOOR)

    def land(b: int) -> None:
        store.upsert(b, category_registers(
            store,
            base.where(F.col("bid") == b).select("priority", "status"),
            ["priority", "status"],
        ))

    for b in range(3):
        land(b)
    # replay batch 1: the batch-keyed upsert must be a no-op —
    # store_rows pins it as data
    land(1)
    census = categorical_drift_census(spark, path, (0, 1), (2, 2))
    store_rows = spark.read.parquet(path).count()
    return census.withColumn(
        "store_rows", F.lit(int(store_rows)).cast("long")
    )


@_register(
    "monitor_retention_census",
    "RETENTION for monitor stores (stores.py:"
    "BatchStore.expire — round-13 verdict task 6: the drift "
    "monitors' per-batch partitions grew forever; their censuses "
    "read bounded WINDOWS, so beyond the drift window history is "
    "EXPIRED, not collapsed — a fold would corrupt any window "
    "crossing it): four microbatches (o_orderkey % 4) land "
    "categorical registers for priority+status, batches below the "
    "drift window {2,3} are expired (marker-first crash-safe "
    "deletes, floor recorded in the _retention_floor marker "
    "filename), then an expired batch is REPLAYED — the retention "
    "guard must no-op instead of resurrecting the partition. The "
    "PSI census over the RETAINED window rides the same "
    "exact-integer arithmetic as the drift censuses; "
    "batches_expired / floor_batch / sub_floor_rows (post-replay) "
    "/ store_batches pin the expiry, the crash-safety floor, the "
    "no-op replay, and the surviving store as data. Oracle "
    "recomputes the retained-window PSI from orders alone — any "
    "mass lost from (or resurrected into) the retained window "
    "would hash-mismatch every PSI number.",
    """
    WITH raw AS (
      SELECT o_orderkey % 4 AS bid,
             o_orderpriority AS priority,
             o_orderstatus AS status
      FROM orders
      WHERE o_orderkey % 4 IN (2, 3)
    ),
    melted AS (
      SELECT bid, 'priority' AS col_name, priority AS category FROM raw
      UNION ALL
      SELECT bid, 'status', status FROM raw
    ),
    per_cat AS (
      SELECT col_name, category,
             CAST(sum(CASE WHEN bid = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS ref_cnt,
             CAST(sum(CASE WHEN bid = 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS cur_cnt
      FROM melted GROUP BY col_name, category
    ),
    tot AS (
      SELECT col_name, CAST(count(*) AS BIGINT) AS n_cats,
             CAST(sum(ref_cnt) AS BIGINT) AS ref_total,
             CAST(sum(cur_cnt) AS BIGINT) AS cur_total
      FROM per_cat GROUP BY col_name
    )
    SELECT p.col_name,
           CAST(min(t.n_cats) AS BIGINT) AS n_cats,
           CAST(min(t.ref_total) AS BIGINT) AS ref_total,
           CAST(min(t.cur_total) AS BIGINT) AS cur_total,"""
    f"""
           CAST(sum({_duck_psi_terms("n_cats")}) AS BIGINT) AS psi_femto,
           CAST(2 AS BIGINT) AS batches_expired,
           CAST(2 AS BIGINT) AS floor_batch,
           CAST(0 AS BIGINT) AS sub_floor_rows,
           CAST(2 AS BIGINT) AS store_batches
    FROM per_cat p JOIN tot t USING (col_name)
    GROUP BY p.col_name
    """,
)
def monitor_retention_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        categorical_drift_census,
        category_registers,
    )
    from umn_eda_kafka_stream_processing_spark.stores import FLOOR, BatchStore

    base = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).cast("long").alias("bid"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    )
    path = tempfile.mkdtemp(prefix="sparkgraft_retention_") + "/store"
    store = BatchStore(spark, path, marker=FLOOR)

    def land(b: int) -> None:
        if not store.closed(b):
            store.upsert(b, category_registers(
                store,
                base.where(F.col("bid") == b).select("priority", "status"),
                ["priority", "status"],
            ))

    for b in range(4):
        land(b)
    # expire everything below the drift window {2, 3}
    res = store.expire(2)
    # straggler replay of EXPIRED batch 0: the retention guard must
    # no-op — sub_floor_rows below pins the partition stayed gone
    land(0)
    census = categorical_drift_census(spark, path, (2, 2), (3, 3))
    on_disk = spark.read.parquet(path)
    sub_floor = on_disk.filter(F.col("batch_id") < 2).count()
    n_batches = on_disk.select("batch_id").distinct().count()
    return census.select(
        "col_name", "n_cats", "ref_total", "cur_total", "psi_femto",
    ).withColumns({
        "batches_expired": F.lit(int(res["batches_expired"])).cast("long"),
        "floor_batch": F.lit(int(store.mark())).cast("long"),
        "sub_floor_rows": F.lit(int(sub_floor)).cast("long"),
        "store_batches": F.lit(int(n_batches)).cast("long"),
    })


def _kcore_oracle() -> str:
    k, rounds = 8, 6
    ctes = [
        _COSUPPLY_EDGE_CTES.replace("e AS (", "e AS MATERIALIZED ("),
        "e0 AS MATERIALIZED (SELECT a, b FROM e)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
             SELECT node, CAST(count(*) AS BIGINT) AS deg
             FROM (SELECT a AS node FROM e{r - 1}
                   UNION ALL SELECT b FROM e{r - 1}) GROUP BY 1)"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (SELECT a, b FROM e{r - 1}
             WHERE a IN (SELECT node FROM d{r} WHERE deg >= {k})
               AND b IN (SELECT node FROM d{r} WHERE deg >= {k}))"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM
              (SELECT a AS node FROM e{rounds}
               UNION ALL SELECT b FROM e{rounds})) AS n_core_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e{rounds})
               AS n_core_edges,
           CAST(CASE WHEN (SELECT count(*) FROM e{rounds})
                        = (SELECT count(*) FROM e{rounds - 1})
                THEN 1 ELSE 0 END AS BIGINT) AS converged"""
    )


@_register(
    "cosupply_kcore_stats",
    "k-core decomposition (k=8) of the lift-thresholded co-supply "
    "graph by iterative peeling (operators/graph.py:k_core): each "
    "round one degree hash-agg + two endpoint semi-joins over the "
    "checkpointed shrinking edge set; only per-round counts reach "
    "the driver. Peeling is MONOTONE, so count-stability == "
    "set-stability and rounds past the fixpoint are no-ops — which "
    "is exactly why the fixed-6-round SQL unrolling (oracle) equals "
    "the early-stopping Spark loop, converged-or-not. The dense-core "
    "extraction step community mining runs before clique-ish "
    "analysis.",
    _kcore_oracle(),
)
def cosupply_kcore_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.graph import k_core

    core, _rounds, converged = k_core(
        _cosupply_edges(spark, sf_dir), k=8, max_rounds=6
    )
    nodes = (
        core.select(F.col("a").alias("node"))
        .union(core.select(F.col("b").alias("node")))
        .agg(F.countDistinct("node").cast("long").alias("n_core_nodes"))
    )
    edges = core.agg(
        F.count(F.lit(1)).cast("long").alias("n_core_edges")
    )
    return nodes.crossJoin(edges).select(
        "n_core_nodes",
        "n_core_edges",
        F.lit(1 if converged else 0).cast("long").alias("converged"),
    )


def _core_levels_oracle() -> str:
    """Unrolled twin of operators/graph.py:core_numbers (capped
    h-index iteration) over the co-supply graph: h{t}(v) =
    min(h-index of neighbors' h{t-1}, cap), h0 = min(degree, cap).
    Monotone non-increasing, so rounds past the fixpoint are no-ops
    and a fixed unroll equals the early-stopping Spark loop;
    converged = sum-stability of the last two rounds (sum of a
    monotone integer vector is stable iff the vector is)."""
    cap, rounds = 16, 8
    ctes = [
        _COSUPPLY_EDGE_CTES.replace("e AS (", "e AS MATERIALIZED ("),
        """adj AS MATERIALIZED (
      SELECT a AS node, b AS nbr FROM e
      UNION ALL
      SELECT b AS node, a AS nbr FROM e
    )""",
        f"""h0 AS MATERIALIZED (
      SELECT node, CAST(least(count(*), {cap}) AS BIGINT) AS core
      FROM adj GROUP BY node
    )""",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"""h{t} AS MATERIALIZED (
      SELECT node,
             CAST(least(max(least(core, rn)), {cap}) AS BIGINT) AS core
      FROM (SELECT a.node, e.core,
                   row_number() OVER (PARTITION BY a.node
                                      ORDER BY e.core DESC) AS rn
            FROM adj a JOIN h{t - 1} e ON e.node = a.nbr)
      GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    conv AS (SELECT CAST(CASE WHEN (SELECT sum(core) FROM h{rounds})
                                 = (SELECT sum(core) FROM h{rounds - 1})
                         THEN 1 ELSE 0 END AS BIGINT) AS converged)
    SELECT core AS core_level, CAST(count(*) AS BIGINT) AS n_nodes,
           conv.converged
    FROM h{rounds} CROSS JOIN conv
    GROUP BY core, conv.converged"""
    )


@_register(
    "cosupply_core_levels",
    "FULL k-core decomposition of the co-supply graph — every "
    "node's core number, capped at 16 — by the distributed h-index "
    "iteration (operators/graph.py:core_numbers; Montresor et al. "
    "2011): est0 = min(degree, cap), then est(v) = min(h-index of "
    "neighbors' estimates, cap) to fixpoint. Level-by-level peeling "
    "cannot deliver this at scale (max core grows with density — "
    "274 at sf0.1 = 274 sequential peels); the h-index iteration "
    "converges in a handful of rounds and the cap bounds it "
    "data-independently. Per round: one adj x est shuffle_hash "
    "join, one per-NODE window (frame = degree, never corpus-wide), "
    "one hash-agg, est checkpointed; early stop via sum-stability "
    "(monotone integer vector). Output census: nodes per core "
    "level + converged. Oracle: 8 rounds unrolled MATERIALIZED — "
    "monotone no-op rounds make fixed-unroll == early-stop.",
    _core_levels_oracle(),
)
def cosupply_core_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        core_numbers,
    )

    est, _rounds, converged = core_numbers(
        _cosupply_edges(spark, sf_dir), cap=16, max_rounds=8
    )
    return (
        est.groupBy(F.col("core").alias("core_level"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .withColumn(
            "converged",
            F.lit(1 if converged else 0).cast("long"),
        )
    )


def _eigencentrality_oracle() -> str:
    """Unrolled twin of power_iteration over the symmetrized lift
    adjacency (entries 1e9). MATERIALIZED throughout (each round
    references its predecessor repeatedly — the k-core inlining
    lesson)."""
    iters = 6
    ctes = [
        _COSUPPLY_EDGE_CTES.replace("e AS (", "e AS MATERIALIZED ("),
        """adj AS MATERIALIZED (
      SELECT a AS i, b AS j, CAST(1000000000 AS BIGINT) AS g FROM e
      UNION ALL
      SELECT b AS i, a AS j, CAST(1000000000 AS BIGINT) AS g FROM e
    )""",
        """v0 AS (SELECT DISTINCT i AS pos, CAST(125000 AS BIGINT) AS v
           FROM adj)""",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"""w{t} AS MATERIALIZED (
      SELECT adj.i AS pos,
             CAST(sum((adj.g * v.v) // 1000000) AS BIGINT) AS w
      FROM adj JOIN v{t - 1} v ON v.pos = adj.j GROUP BY 1
    )"""
        )
        ctes.append(
            f"u{t} AS (SELECT pos, w // 10000 AS u FROM w{t})"
        )
        ctes.append(
            f"""n{t} AS (SELECT CAST(floor(sqrt(CAST(sum(u * u) AS DOUBLE)))
                    AS BIGINT) AS nrm FROM u{t})"""
        )
        ctes.append(
            f"""v{t} AS MATERIALIZED (
      SELECT pos, (u * 1000000) // greatest(nrm, 1) AS v
      FROM u{t} CROSS JOIN n{t}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT pos AS l_suppkey, CAST(v AS BIGINT) AS cent_micro
    FROM v{iters}"""
    )


@_register(
    "supplier_eigencentrality",
    "Eigenvector centrality (the Perron vector) of the "
    "lift-thresholded co-supply graph: 6 rounds of fixed-point "
    "power iteration (operators/linalg.py:power_iteration — exact "
    "BIGINT matvec + trunc-div normalization with the one "
    "IEEE-correctly-rounded sqrt; identical under any partitioning "
    "or engine, which float centrality cannot claim). The spectral "
    "gap of this adjacency (lambda2/lambda1 ~ 0.48 at sf0.01) puts "
    "6 rounds at ~1e-2 of the limit vector — the deliverable is the "
    "DEFINED fixed-point iterate, not infinite-precision "
    "convergence (the module contract), and the round count is the "
    "wall-time knob: each round is one shuffle join + one agg + one "
    "checkpoint. The node-count vector joins shuffle_hash, NOT "
    "broadcast (a graph-sized vector must never broadcast at 100 TB "
    "— the pagerank rule); norm_shift=10000 keeps sum(u^2) in "
    "BIGINT for degrees up to ~1e4 (overflow audit in the operator "
    "docstring). Oracle: the six rounds unrolled.",
    _eigencentrality_oracle(),
)
def supplier_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.linalg import (
        power_iteration,
    )

    edges = _cosupply_edges(spark, sf_dir)
    adj = (
        edges.select(F.col("a").alias("i"), F.col("b").alias("j"))
        .union(edges.select(F.col("b").alias("i"), F.col("a").alias("j")))
        .withColumn("g", F.lit(10**9).cast("long"))
    )
    v = power_iteration(
        adj, iterations=6, norm_shift=10000, vec_join="shuffle_hash"
    )
    return v.select(
        F.col("pos").alias("l_suppkey"),
        F.col("v_micro").alias("cent_micro"),
    )


_TT_CHANGELOG_CTES = """base AS (
      SELECT o_orderkey AS k,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p,
             CAST(concat('0x', substr(md5('ttb|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS b0,
             CAST(concat('0x', substr(md5('ttu|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS u,
             CAST(concat('0x', substr(md5('ttd|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS d
      FROM orders
    ), v AS (
      SELECT k, p, b0 AS b, 0 AS seq, FALSE AS del_flag FROM base
      UNION ALL
      SELECT k, p + 1, b0 + 1, 1, FALSE FROM base WHERE u = 0
      UNION ALL
      SELECT k, NULL, 3, 2, TRUE FROM base WHERE d = 0
    )"""


def _versioned_orders_changelog(spark: SparkSession, sf_dir: str):
    """Shared fixture for the versioned-store censuses: the orders
    changelog md5-split into 4 batches (initial waves in batches 0-2,
    a +1-price update wave one batch later, tombstones in batch 3).
    `_TT_CHANGELOG_CTES` is its oracle twin — ONE definition on each
    engine, so the two time-travel queries can never diverge.
    Returns a localCheckpointed frame: the caller appends each batch
    slice separately and an un-materialized lineage would re-scan
    orders (3 union branches x md5 columns) once per write job."""
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        sample_key_u32,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        (sample_key_u32("o_orderkey", "ttb") % 3).alias("b0"),
        (sample_key_u32("o_orderkey", "ttu") % 4).alias("u"),
        (sample_key_u32("o_orderkey", "ttd") % 5).alias("d"),
    )
    versions = (
        base.select(
            "k",
            "p",
            F.col("b0").alias("b"),
            F.lit(0).cast("long").alias("seq"),
            F.lit(False).alias("del_flag"),
        )
        .unionByName(
            base.where(F.col("u") == 0).select(
                "k",
                (F.col("p") + F.lit(1)).cast("decimal(18,2)").alias("p"),
                (F.col("b0") + F.lit(1)).alias("b"),
                F.lit(1).cast("long").alias("seq"),
                F.lit(False).alias("del_flag"),
            )
        )
        .unionByName(
            base.where(F.col("d") == 0).select(
                "k",
                F.lit(None).cast("decimal(18,2)").alias("p"),
                F.lit(3).cast("long").alias("b"),
                F.lit(2).cast("long").alias("seq"),
                F.lit(True).alias("del_flag"),
            )
        )
    )
    return materialize(versions, Why.SHARED)


@_register(
    "store_time_travel_census",
    "Point-in-time state reconstruction over the versioned key-value "
    "log (operators/versioned.py — the changelog-replay half of the "
    "reference's KTable: Kafka Streams rebuilds any offset's state "
    "from the changelog topic; here the log is parquet partitioned "
    "by batch_id and the as-of read is partition-pruned). Orders "
    "are ingested as FOUR batches (md5-split initial versions in "
    "batches 0-2, a +1-price update wave one batch later, md5-chosen "
    "tombstones in batch 3, one batch replayed to pin idempotence), "
    "then the store is read as of EVERY batch: latest-wins by "
    "(batch_id, seq) via one max_by hash-agg, tombstoned keys "
    "dropped. Census per as-of batch: visible keys, live keys, "
    "tombstoned keys, live price mass, live key checksum — a stale "
    "version, a replayed duplicate, or a tombstone that leaks back "
    "hash-mismatches. Oracle replays the identical md5 arithmetic "
    "over an asof grid.",
    f"""
    WITH {_TT_CHANGELOG_CTES},
    grid AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(asof_batch)),
    ranked AS (
      SELECT g.asof_batch, v.k, v.p, v.del_flag,
             row_number() OVER (PARTITION BY g.asof_batch, v.k
                                ORDER BY v.b DESC, v.seq DESC) AS rn
      FROM grid g JOIN v ON v.b <= g.asof_batch
    )
    SELECT CAST(asof_batch AS BIGINT) AS asof_batch,
           CAST(count(*) AS BIGINT) AS n_keys_total,
           CAST(sum(CASE WHEN del_flag THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
           CAST(sum(CASE WHEN del_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned,
           CAST(coalesce(sum(CASE WHEN del_flag THEN NULL ELSE p END), 0) AS DECIMAL(38,2)) AS price_sum,
           CAST(coalesce(sum(CASE WHEN del_flag THEN NULL ELSE k % 1000003 END), 0) AS BIGINT) AS key_checksum
    FROM ranked WHERE rn = 1
    GROUP BY asof_batch
    """,
)
def store_time_travel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from functools import reduce

    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        read_versioned_asof,
    )

    versions = _versioned_orders_changelog(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="sparkgraft_time_travel_") + "/store"
    for n in range(4):
        append_versioned(
            versions.where(F.col("b") == n).drop("b"), path, batch_id=n
        )
    # at-least-once replay of batch 1: the dynamic partition
    # overwrite must leave the census byte-identical
    append_versioned(
        versions.where(F.col("b") == 1).drop("b"), path, batch_id=1
    )

    per_asof = []
    for asof in range(4):
        live = read_versioned_asof(
            spark, path, asof, "k", seq_col="seq", tombstone_col="del_flag"
        )
        full = read_versioned_asof(spark, path, asof, "k", seq_col="seq")
        live_agg = live.agg(
            F.count(F.lit(1)).cast("long").alias("n_live"),
            F.coalesce(F.sum("p"), F.lit(0))
            .cast("decimal(38,2)")
            .alias("price_sum"),
            F.coalesce(F.sum(F.col("k") % F.lit(1000003)), F.lit(0))
            .cast("long")
            .alias("key_checksum"),
        )
        full_agg = full.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys_total")
        )
        per_asof.append(
            live_agg.crossJoin(full_agg).select(
                F.lit(asof).cast("long").alias("asof_batch"),
                "n_keys_total",
                "n_live",
                (F.col("n_keys_total") - F.col("n_live"))
                .cast("long")
                .alias("n_tombstoned"),
                "price_sum",
                "key_checksum",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), per_asof)


@_register(
    "price_mad_outlier_census",
    "Per-group robust anomaly screen (operators/ranking.py:"
    "grouped_mad_outliers — Hampel's rule on exact integers): per "
    "order priority, the EXACT type-1 median and MAD of the order "
    "price in cents, and the rows whose deviation crosses 3 "
    "sigma-equivalents (|x-med|*1e6 > 4_447_800*MAD — integer "
    "cross-multiplication, never a float division; 4_447_800 = "
    "3 x 1.4826 x 1e6). Two passes of the fully distributed "
    "per-group histogram (no driver collect, no window frame wider "
    "than a bucket) + two group-key joins back. Census: group size, "
    "median, MAD, outlier count and an outlier key checksum — one "
    "row misflagged on either side hash-mismatches. Oracle: both "
    "medians via plain per-group cumulative windows — different "
    "algorithm, same integers.",
    """
    WITH v AS (SELECT o_orderpriority AS g, o_orderkey AS k,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
               FROM orders),
    dv AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
    r AS (SELECT g, x, c,
                 coalesce(CAST(sum(c) OVER (PARTITION BY g ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nb,
                 CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nt
          FROM dv),
    med AS (SELECT g, min(x) AS med FROM r
            WHERE nb + c >= (nt + 1) // 2 GROUP BY g),
    a AS (SELECT v.g, v.k, v.x, abs(v.x - med.med) AS ad, med.med
          FROM v JOIN med USING (g)),
    dv2 AS (SELECT g, ad, CAST(count(*) AS BIGINT) AS c
            FROM a GROUP BY 1, 2),
    r2 AS (SELECT g, ad, c,
                  coalesce(CAST(sum(c) OVER (PARTITION BY g ORDER BY ad
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      AS BIGINT), 0) AS nb,
                  CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nt
           FROM dv2),
    mad AS (SELECT g, min(ad) AS mad FROM r2
            WHERE nb + c >= (nt + 1) // 2 GROUP BY g),
    fin AS (SELECT a.g, a.k, a.ad, a.med, mad.mad,
                   (a.ad * 1000000 > 4447800 * mad.mad) AS is_out
            FROM a JOIN mad USING (g))
    SELECT g AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(med) AS BIGINT) AS med_cents,
           CAST(max(mad) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           CAST(coalesce(sum(CASE WHEN is_out THEN k % 1000003 END), 0)
               AS BIGINT) AS outlier_checksum
    FROM fin GROUP BY g
    """,
)
def price_mad_outlier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_mad_outliers,
    )

    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100)).cast("long").alias("x"),
    )
    flagged = grouped_mad_outliers(v, "g", "x", threshold_micro=4_447_800)
    return flagged.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max("med").cast("long").alias("med_cents"),
        F.max("mad").cast("long").alias("mad_cents"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.coalesce(
            F.sum(
                F.when(F.col("is_outlier"), F.col("k") % F.lit(1000003))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("outlier_checksum"),
    ).withColumnRenamed("g", "o_orderpriority")


@_register(
    "cosupply_bfs_hops",
    "Multi-source BFS hop distances (operators/graph.py:bfs_hops — "
    "the reachability primitive: contamination blast radius, fraud "
    "neighborhoods) over the lift-thresholded co-supply graph, "
    "symmetrized; seeds = suppliers with key % 10 == 0. Frontier "
    "iteration: each round joins only the CURRENT frontier against "
    "the edge list (shuffle_hash, O(E) total work across the "
    "traversal), per-round frames checkpointed, early stop on "
    "frontier exhaustion. Census: node count + key checksum per hop "
    "0..4 plus a hop=-1 row for in-graph nodes unreached within the "
    "horizon — one node at the wrong hop hash-mismatches. Oracle: a "
    "recursive CTE bounded at 4 hops, min(hop) per node — different "
    "algorithm (walk enumeration), same integers.",
    f"""
    WITH RECURSIVE {_COSUPPLY_EDGE_CTES},
    sym AS (SELECT a AS src, b AS dst FROM e
            UNION ALL SELECT b, a FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    seeds AS (SELECT node FROM nodes WHERE node % 10 = 0),
    walk(node, hop) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT s.dst, walk.hop + 1
      FROM walk JOIN sym s ON s.src = walk.node
      WHERE walk.hop < 4
    ),
    md AS (SELECT node, min(hop) AS hop FROM walk GROUP BY node),
    full_set AS (SELECT n.node, coalesce(md.hop, -1) AS hop
                 FROM nodes n LEFT JOIN md USING (node))
    SELECT CAST(hop AS BIGINT) AS hop,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(node % 1000003) AS BIGINT) AS node_checksum
    FROM full_set GROUP BY hop
    """,
)
def cosupply_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        bfs_hops,
    )

    edges = _cosupply_edges(spark, sf_dir)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    seeds = nodes.where(F.col("node") % 10 == 0)
    d = bfs_hops(sym, seeds, max_hops=4)
    full_set = nodes.join(d.hint("shuffle_hash"), "node", "left").select(
        "node", F.coalesce(F.col("hop"), F.lit(-1)).alias("hop")
    )
    return full_set.groupBy(F.col("hop").cast("long").alias("hop")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("node") % F.lit(1000003))
        .cast("long")
        .alias("node_checksum"),
    )


@_register(
    "partition_bloom_skipping_census",
    "Partition-level bloom skipping index (operators/runtime_filter."
    "py:partition_bloom_index — the point-lookup complement to the "
    "zone map: zonemap_select skips by RANGE on the sort key, the "
    "bloom skips by EQUALITY on a column the layout is NOT organized "
    "by, the Iceberg/Hive bloom-column idea as auditable data). "
    "Orders land in a 16-bucket store; a 65536-bit md5 bloom per "
    "bucket over o_custkey is built in one distinct + one hash-agg; "
    "three point probes (two present, one absent) select buckets "
    "driver-side and read ONLY those partitions. Census per probe: "
    "buckets selected vs buckets truly holding the key (the gap = "
    "false positives, pinned as data), rows found + key checksum, "
    "and a losslessness bit (no false negatives by construction). "
    "Oracle rebuilds the identical index and selection in SQL.",
    """
    WITH base AS (SELECT o_orderkey, o_custkey,
                         o_orderkey % 16 AS bucket FROM orders),
    bkeys AS (SELECT DISTINCT bucket, CAST(o_custkey AS VARCHAR) AS kk
              FROM base),
    bpos AS (SELECT bucket,
               CAST(concat('0x', substr(md5(concat('pbloom', i, '|', kk)),
                    1, 8)) AS BIGINT) % 65536 AS pos
             FROM bkeys CROSS JOIN (SELECT unnest(range(0, 3)) AS i)),
    bwords AS (SELECT bucket, CAST(pos // 32 AS INT) AS w,
                      bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
               FROM bpos GROUP BY 1, 2),
    probes AS (SELECT * FROM (VALUES (1), (19), (-5)) p(ck)),
    ppos AS (SELECT ck,
               CAST(concat('0x', substr(md5(concat('pbloom', i, '|',
                    CAST(ck AS VARCHAR))), 1, 8)) AS BIGINT) % 65536 AS pos
             FROM probes CROSS JOIN (SELECT unnest(range(0, 3)) AS i)),
    pneed AS (SELECT ck, CAST(pos // 32 AS INT) AS w,
                     bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS need
              FROM ppos GROUP BY 1, 2),
    nw AS (SELECT ck, count(*) AS n FROM pneed GROUP BY 1),
    selc AS (SELECT pn.ck, bw.bucket, count(*) AS c
             FROM pneed pn JOIN bwords bw
               ON bw.w = pn.w AND (bw.bits & pn.need) = pn.need
             GROUP BY 1, 2),
    sel AS (SELECT selc.ck, selc.bucket
            FROM selc JOIN nw ON nw.ck = selc.ck AND selc.c = nw.n),
    tp AS (SELECT p.ck, CAST(count(DISTINCT b.bucket) AS BIGINT) AS n_true
           FROM probes p LEFT JOIN base b ON b.o_custkey = p.ck
           GROUP BY 1),
    fr AS (SELECT p.ck, CAST(count(b.o_orderkey) AS BIGINT) AS n_rows,
                  CAST(coalesce(sum(b.o_orderkey % 1000003), 0) AS BIGINT)
                      AS cs
           FROM probes p LEFT JOIN base b ON b.o_custkey = p.ck
           GROUP BY 1),
    sr AS (SELECT s.ck, CAST(count(*) AS BIGINT) AS n_rows_sel
           FROM sel s JOIN base b
             ON b.bucket = s.bucket AND b.o_custkey = s.ck
           GROUP BY 1),
    ns AS (SELECT ck, CAST(count(*) AS BIGINT) AS n_sel FROM sel GROUP BY 1)
    SELECT CAST(p.ck AS BIGINT) AS probe_custkey,
           CAST(coalesce(ns.n_sel, 0) AS BIGINT) AS n_parts_selected,
           tp.n_true AS n_true_parts,
           CAST(coalesce(ns.n_sel, 0) - tp.n_true AS BIGINT) AS n_fp_parts,
           fr.n_rows,
           fr.cs AS key_checksum,
           CAST(CASE WHEN coalesce(sr.n_rows_sel, 0) = fr.n_rows
                THEN 1 ELSE 0 END AS BIGINT) AS lossless_ok
    FROM probes p
    JOIN tp ON tp.ck = p.ck
    JOIN fr ON fr.ck = p.ck
    LEFT JOIN ns ON ns.ck = p.ck
    LEFT JOIN sr ON sr.ck = p.ck
    """,
)
def partition_bloom_skipping_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile
    from functools import reduce

    from umn_eda_kafka_stream_processing_spark.operators.runtime_filter import (
        partition_bloom_index,
        partition_bloom_select_df,
    )

    M, K = 65536, 3
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderkey") % F.lit(16)).cast("long").alias("bucket"),
    )
    root = tempfile.mkdtemp(prefix="sparkgraft_pbloom_")
    path = root + "/store"
    base.write.mode("overwrite").partitionBy("bucket").parquet(path)
    # the index is a STORED table (the production shape): each probe
    # filters it to its <= k needed words — a pushdown-eligible
    # `w IN (...)` over the parquet scan — and only passing partition
    # values reach the driver (partition_bloom_select_df), never the
    # |parts| x m/32 full index (the round-11 scale fix)
    partition_bloom_index(
        base, "bucket", "o_custkey", m_bits=M, k_hashes=K
    ).write.mode("overwrite").parquet(root + "/index")
    idx = spark.read.parquet(root + "/index")
    store = spark.read.parquet(path)
    out = []
    for ck in (1, 19, -5):
        sel = partition_bloom_select_df(
            idx, ck, "bucket", m_bits=M, k_hashes=K
        )
        sel_df = store.filter(
            F.col("bucket").isin(*sel) if sel else F.lit(False)
        ).filter(F.col("o_custkey") == ck)
        sel_agg = sel_df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows_sel")
        )
        full_agg = base.filter(F.col("o_custkey") == ck).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum(F.col("o_orderkey") % F.lit(1000003)), F.lit(0))
            .cast("long")
            .alias("key_checksum"),
            F.countDistinct("bucket").cast("long").alias("n_true_parts"),
        )
        out.append(
            full_agg.crossJoin(sel_agg).select(
                F.lit(ck).cast("long").alias("probe_custkey"),
                F.lit(len(sel)).cast("long").alias("n_parts_selected"),
                "n_true_parts",
                (F.lit(len(sel)) - F.col("n_true_parts"))
                .cast("long")
                .alias("n_fp_parts"),
                "n_rows",
                "key_checksum",
                F.when(F.col("n_rows_sel") == F.col("n_rows"), 1)
                .otherwise(0)
                .cast("long")
                .alias("lossless_ok"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), out)


@_register(
    "orders_profile_census",
    "One-pass column profiler (operators/quality.py:table_profile — "
    "the ANALYZE-TABLE census run before trusting a new feed): per "
    "column of orders, row/NULL counts, EXACT distinct count, and "
    "the mode with its frequency (lexicographic-min tie-break via "
    "the min(struct(-count, value)) argmax — map-side combined, "
    "never a window). One stack melt + TWO hash-aggs total "
    "regardless of column count (vs the k x count(DISTINCT) expand "
    "a naive profile plans). Money rides a decimal cast and the "
    "timestamp an explicit date_format so the string domain is "
    "engine-portable. Oracle: per-column UNION melt + max-count "
    "join — different plan, same integers and strings.",
    """
    WITH m AS (
      SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v
      FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL
      SELECT 'o_totalprice',
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d') FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
    ),
    vc AS (SELECT col_name, v, CAST(count(*) AS BIGINT) AS c
           FROM m GROUP BY 1, 2),
    mx AS (SELECT col_name, max(c) AS mc FROM vc
           WHERE v IS NOT NULL GROUP BY 1),
    md AS (SELECT vc.col_name, min(vc.v) AS mode_value, max(vc.c) AS mode_count
           FROM vc JOIN mx ON mx.col_name = vc.col_name AND vc.c = mx.mc
           WHERE vc.v IS NOT NULL GROUP BY 1)
    SELECT vc.col_name,
           CAST(sum(vc.c) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN vc.v IS NULL THEN vc.c END), 0)
                AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN vc.v IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_distinct,
           max(md.mode_value) AS mode_value,
           CAST(coalesce(max(md.mode_count), 0) AS BIGINT) AS mode_count
    FROM vc LEFT JOIN md ON md.col_name = vc.col_name
    GROUP BY vc.col_name
    """,
)
def orders_profile_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        table_profile,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
    )
    return table_profile(orders)


@_register(
    "price_winsorize_census",
    "Per-group winsorization at exact type-1 p1/p99 (operators/"
    "ranking.py:grouped_winsorize — the outlier CLAMP beside the "
    "MAD outlier FLAG): per order priority, order prices in cents "
    "clamp into [p1, p99]; ONE pass of the distributed per-group "
    "histogram yields BOTH cuts, the |groups|x2 cut frame pivots "
    "and broadcasts onto the rows — the corpus never shuffles. "
    "Census: cuts, clamp counts per side, price mass before/after — "
    "one mis-clamped row hash-mismatches. Oracle: plain per-group "
    "cumulative windows at both ranks.",
    """
    WITH v AS (SELECT o_orderpriority AS g, o_orderkey AS k,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
               FROM orders),
    dv AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
    r AS (SELECT g, x, c,
                 coalesce(CAST(sum(c) OVER (PARTITION BY g ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nb,
                 CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nt
          FROM dv),
    lo AS (SELECT g, min(x) AS lo_cut FROM r
           WHERE nb + c >= (nt + 99) // 100 GROUP BY g),
    hi AS (SELECT g, min(x) AS hi_cut FROM r
           WHERE nb + c >= (99 * nt + 99) // 100 GROUP BY g),
    w AS (SELECT v.g, v.x, lo.lo_cut, hi.hi_cut,
                 greatest(least(v.x, hi.hi_cut), lo.lo_cut) AS wz
          FROM v JOIN lo USING (g) JOIN hi USING (g))
    SELECT g AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(lo_cut) AS BIGINT) AS lo_cut,
           CAST(max(hi_cut) AS BIGINT) AS hi_cut,
           CAST(sum(CASE WHEN wz > x THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lo_clamped,
           CAST(sum(CASE WHEN wz < x THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hi_clamped,
           CAST(sum(x) AS BIGINT) AS sum_before,
           CAST(sum(wz) AS BIGINT) AS sum_after
    FROM w GROUP BY g
    """,
)
def price_winsorize_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_winsorize,
    )

    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100)).cast("long").alias("x"),
    )
    w = grouped_winsorize(v, "g", "x", (1, 100), (99, 100))
    return w.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max("lo_cut").cast("long").alias("lo_cut"),
        F.max("hi_cut").cast("long").alias("hi_cut"),
        F.sum(F.when(F.col("winsorized") > F.col("x"), 1).otherwise(0))
        .cast("long")
        .alias("n_lo_clamped"),
        F.sum(F.when(F.col("winsorized") < F.col("x"), 1).otherwise(0))
        .cast("long")
        .alias("n_hi_clamped"),
        F.sum("x").cast("long").alias("sum_before"),
        F.sum("winsorized").cast("long").alias("sum_after"),
    ).withColumnRenamed("g", "o_orderpriority")


def _sssp_oracle() -> str:
    """Unrolled bounded Bellman-Ford oracle (the eigencentrality
    precedent: iterative fixed point as MATERIALIZED CTE rounds —
    DuckDB inlines plain CTEs, and a round referenced twice would
    otherwise expand exponentially)."""
    rounds = 4
    head = f"""
    WITH {_COSUPPLY_EDGE_CTES},
    sym AS (SELECT a AS src, b AS dst, (a + b) % 97 + 1 AS w FROM e
            UNION ALL SELECT b, a, (a + b) % 97 + 1 FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    r0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM nodes
           WHERE node % 10 = 0)"""
    rounds_sql = []
    for k in range(1, rounds + 1):
        rounds_sql.append(f""",
    c{k} AS (SELECT s.dst AS node, min(r{k - 1}.d + s.w) AS d
             FROM r{k - 1} JOIN sym s ON s.src = r{k - 1}.node
             GROUP BY 1),
    r{k} AS MATERIALIZED (SELECT node, CAST(min(d) AS BIGINT) AS d
          FROM (SELECT * FROM r{k - 1}
                UNION ALL SELECT * FROM c{k}) u GROUP BY 1)""")
    tail = f""",
    fullset AS (SELECT n.node, r.d FROM nodes n
                LEFT JOIN r{rounds} r USING (node))
    SELECT CAST(sum(CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_reached,
           CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unreached,
           CAST(coalesce(sum(d), 0) AS BIGINT) AS total_dist,
           CAST(coalesce(max(d), -1) AS BIGINT) AS max_dist,
           CAST(coalesce(sum((node % 1000003) * (d % 997)), 0) AS BIGINT)
               AS dist_checksum
    FROM fullset"""
    return head + "".join(rounds_sql) + tail


@_register(
    "cosupply_shortest_paths",
    "Bounded multi-source WEIGHTED shortest paths (operators/graph."
    "py:shortest_paths — Bellman-Ford with a delta frontier, "
    "bfs_hops' weighted sibling) over the symmetrized co-supply "
    "graph with synthetic integer weights (src+dst)%97+1; seeds = "
    "suppliers key%10==0, 4 relaxation rounds (the DEFINED iterate, "
    "the eigencentrality contract). Round k relaxes only edges out "
    "of nodes improved in round k-1 — O(edges of improved), never "
    "O(E x rounds); per-round checkpoints; early stop when a round "
    "improves nothing. Census: reached/unreached, total/max "
    "distance, node-distance checksum — one wrong relaxation "
    "hash-mismatches. Oracle: the 4 rounds unrolled as MATERIALIZED "
    "CTEs (full Bellman-Ford — same integers as the delta version "
    "by induction).",
    _sssp_oracle(),
)
def cosupply_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        shortest_paths,
    )

    edges = _cosupply_edges(spark, sf_dir)
    w = (F.col("a") + F.col("b")) % F.lit(97) + F.lit(1)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), w.alias("w")
    ).unionByName(
        edges.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), w.alias("w")
        )
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    seeds = nodes.where(F.col("node") % 10 == 0)
    d = shortest_paths(sym, seeds, rounds=4)
    fullset = nodes.join(d.hint("shuffle_hash"), "node", "left")
    return fullset.agg(
        F.sum(F.when(F.col("d").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_reached"),
        F.sum(F.when(F.col("d").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unreached"),
        F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("total_dist"),
        F.coalesce(F.max("d"), F.lit(-1)).cast("long").alias("max_dist"),
        F.coalesce(
            F.sum((F.col("node") % F.lit(1000003)) * (F.col("d") % F.lit(997))),
            F.lit(0),
        )
        .cast("long")
        .alias("dist_checksum"),
    )


@_register(
    "store_antientropy_census",
    "Anti-entropy replica verification (operators/compaction.py:"
    "partition_checksums — the Cassandra/Dynamo merkle-repair idea "
    "at partition granularity, as auditable data): orders bucketed "
    "%16 form a 'primary'; a 'replica' is the same data with ONE "
    "planted divergence (key 42's price +1 — its bucket is 42%16 = "
    "10). Per-partition digests = row count + order-independent SUM "
    "of 32-bit md5 row hashes (one column-pruned scan + one hash-agg "
    "per side), compared with a |parts|-row join. Census: equal/"
    "divergent bucket counts and the exact divergent bucket id — a "
    "digest that misses the single flipped row hash-mismatches. "
    "Oracle recomputes both digest tables from the same arithmetic.",
    """
    WITH prim AS (SELECT o_orderkey AS k,
                         CAST(CAST(o_totalprice AS DECIMAL(18,2))
                              AS VARCHAR) AS p,
                         o_orderkey % 16 AS bucket
                  FROM orders),
    repl AS (SELECT k,
                    CASE WHEN k = 42
                         THEN CAST(CAST(CAST(p AS DECIMAL(18,2)) + 1
                                   AS DECIMAL(18,2)) AS VARCHAR)
                         ELSE p END AS p,
                    bucket
             FROM prim),
    cp AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(CAST(concat('0x', substr(md5(
                       concat(md5(coalesce(CAST(k AS VARCHAR), '')),
                       md5(coalesce(p, '')))), 1, 8))
                       AS BIGINT)) AS BIGINT) AS checksum
           FROM prim GROUP BY 1),
    cr AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(CAST(concat('0x', substr(md5(
                       concat(md5(coalesce(CAST(k AS VARCHAR), '')),
                       md5(coalesce(p, '')))), 1, 8))
                       AS BIGINT)) AS BIGINT) AS checksum
           FROM repl GROUP BY 1),
    d AS (SELECT cp.bucket,
                 CASE WHEN cp.n_rows = cr.n_rows
                           AND cp.checksum = cr.checksum
                      THEN 1 ELSE 0 END AS eq
          FROM cp JOIN cr USING (bucket))
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(eq) AS BIGINT) AS n_equal,
           CAST(sum(1 - eq) AS BIGINT) AS n_divergent,
           CAST(coalesce(min(CASE WHEN eq = 0 THEN bucket END), -1)
                AS BIGINT) AS first_divergent_bucket
    FROM d
    """,
)
def store_antientropy_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        partition_checksums,
    )

    prim = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("p"),
        (F.col("o_orderkey") % F.lit(16)).alias("bucket"),
    )
    repl = prim.withColumn(
        "p",
        F.when(
            F.col("k") == 42,
            (F.col("p").cast("decimal(18,2)") + F.lit(1))
            .cast("decimal(18,2)")
            .cast("string"),
        ).otherwise(F.col("p")),
    )
    cp = partition_checksums(prim, "bucket", ["k", "p"])
    cr = partition_checksums(repl, "bucket", ["k", "p"])
    d = (
        cp.alias("cp")
        .join(cr.alias("cr"), "bucket")
        .select(
            "bucket",
            F.when(
                (F.col("cp.n_rows") == F.col("cr.n_rows"))
                & (F.col("cp.checksum") == F.col("cr.checksum")),
                1,
            )
            .otherwise(0)
            .alias("eq"),
        )
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("eq").cast("long").alias("n_equal"),
        F.sum(F.lit(1) - F.col("eq")).cast("long").alias("n_divergent"),
        F.coalesce(
            F.min(F.when(F.col("eq") == 0, F.col("bucket"))), F.lit(-1)
        )
        .cast("long")
        .alias("first_divergent_bucket"),
    )


@_register(
    "gdpr_erasure_census",
    "Key-erasure sweep (operators/compaction.py:erase_keys — the "
    "GDPR right-to-be-forgotten pass): a 16-bucket orders store "
    "erases every order of customers with custkey % 97 == 0; the "
    "semi-join census finds touched buckets, the anti-join rewrite "
    "touches ONLY those directories (the erasure set broadcasts — "
    "deletion requests are dim-sized), and a REPLAYED sweep touches "
    "nothing. Census: touched/emptied partitions, rows removed/"
    "kept, replay zeros, and a post-store checksum over survivors — "
    "one row leaked or over-deleted hash-mismatches. Oracle "
    "recomputes every counter from the same arithmetic.",
    """
    WITH base AS (SELECT o_orderkey AS k, o_custkey AS c,
                         o_orderkey % 16 AS bucket FROM orders),
    hit AS (SELECT * FROM base WHERE c % 97 = 0),
    tb AS (SELECT DISTINCT bucket FROM hit),
    kept AS (SELECT * FROM base WHERE c % 97 <> 0)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM tb)
               AS partitions_touched,
           (SELECT CAST(count(*) AS BIGINT) FROM hit) AS rows_removed,
           (SELECT CAST(count(*) AS BIGINT) FROM kept k
             WHERE k.bucket IN (SELECT bucket FROM tb)) AS rows_kept_touched,
           CAST(0 AS BIGINT) AS replay_touched,
           CAST(0 AS BIGINT) AS replay_removed,
           (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_rows_after,
           (SELECT CAST(sum(k.k % 1000003) AS BIGINT) FROM kept k)
               AS survivor_checksum
    """,
)
def gdpr_erasure_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        erase_keys,
    )

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        (F.col("o_orderkey") % F.lit(16)).alias("bucket"),
    )
    path = tempfile.mkdtemp(prefix="sparkgraft_gdpr_") + "/store"
    base.write.mode("overwrite").partitionBy("bucket").parquet(path)
    doomed = base.where(F.col("c") % 97 == 0).select(
        F.col("k").alias("erase_k")
    )
    stats = erase_keys(spark, path, doomed, "k", "bucket")
    replay = erase_keys(spark, path, doomed, "k", "bucket")
    after = spark.read.parquet(path)
    agg = after.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_after"),
        F.sum(F.col("k") % F.lit(1000003))
        .cast("long")
        .alias("survivor_checksum"),
    )
    return agg.select(
        F.lit(stats["partitions_touched"]).cast("long").alias(
            "partitions_touched"
        ),
        F.lit(stats["rows_removed"]).cast("long").alias("rows_removed"),
        F.lit(stats["rows_kept"]).cast("long").alias("rows_kept_touched"),
        F.lit(replay["partitions_touched"]).cast("long").alias(
            "replay_touched"
        ),
        F.lit(replay["rows_removed"]).cast("long").alias("replay_removed"),
        "n_rows_after",
        "survivor_checksum",
    )


@_register(
    "time_travel_diff_census",
    "Point-in-time CDC: what changed between two as-of states of the "
    "versioned store (operators/versioned.py:read_versioned_asof x2 "
    "-> operators/compaction.py:snapshot_diff — the audit question "
    "'what did last night's batches do'). The same md5-split orders "
    "changelog as store_time_travel_census (initial waves batches "
    "0-2, +1-price updates one batch later, tombstones in batch 3); "
    "diffing as-of batch 1 against as-of batch 3 must classify every "
    "key: inserted = initial versions landing in batch 2-3, updated "
    "= the +1 wave arriving after batch 1, deleted = batch-3 "
    "tombstones of keys live at batch 1, unchanged = the rest. ONE "
    "shuffle_hash full-outer join over two partition-pruned "
    "latest-wins reads. Census: per-change row count + key checksum; "
    "oracle recomputes both states and the classification from the "
    "same md5 arithmetic.",
    f"""
    WITH {_TT_CHANGELOG_CTES},
    grid AS (SELECT * FROM (VALUES (1), (3)) AS t(asof_batch)),
    ranked AS (
      SELECT g.asof_batch, v.k, v.p, v.del_flag,
             row_number() OVER (PARTITION BY g.asof_batch, v.k
                                ORDER BY v.b DESC, v.seq DESC) AS rn
      FROM grid g JOIN v ON v.b <= g.asof_batch
    ), live AS (SELECT asof_batch, k, p FROM ranked
                WHERE rn = 1 AND NOT del_flag),
    old AS (SELECT k, p FROM live WHERE asof_batch = 1),
    new AS (SELECT k, p FROM live WHERE asof_batch = 3),
    d AS (
      SELECT coalesce(n.k, o.k) AS k,
             CASE WHEN o.k IS NULL THEN 'inserted'
                  WHEN n.k IS NULL THEN 'deleted'
                  WHEN n.p IS DISTINCT FROM o.p THEN 'updated'
                  ELSE 'unchanged' END AS change
      FROM new n FULL OUTER JOIN old o ON o.k = n.k
    )
    SELECT change,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(k % 1000003) AS BIGINT) AS key_checksum
    FROM d GROUP BY change
    """,
)
def time_travel_diff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        snapshot_diff,
    )
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        read_versioned_asof,
    )

    versions = _versioned_orders_changelog(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="sparkgraft_tt_diff_") + "/store"
    for n in range(4):
        append_versioned(
            versions.where(F.col("b") == n).drop("b"), path, batch_id=n
        )
    old = read_versioned_asof(
        spark, path, 1, "k", seq_col="seq", tombstone_col="del_flag"
    ).select("k", "p")
    new = read_versioned_asof(
        spark, path, 3, "k", seq_col="seq", tombstone_col="del_flag"
    ).select("k", "p")
    d = snapshot_diff(old, new, "k", compare_cols=["p"])
    return d.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("k") % F.lit(1000003)).cast("long").alias("key_checksum"),
    )


@_register(
    "range_shard_census",
    "Deterministic equi-depth range sharding (operators/compaction."
    "py:write_range_sharded — write_sorted's reproducible sibling): "
    "shard bounds are EXACT type-1 quantiles (i/8), not Spark's "
    "repartitionByRange samples, so the physical layout is a pure "
    "function of the data (diffable exports; partition_checksums "
    "verifies replicas byte-for-byte; the unit test pins rewrite "
    "determinism). Shard id = count of bounds strictly below the "
    "value — boundary ties never split across files. Census: per "
    "shard, row count, min/max cents, key checksum; the oracle "
    "recomputes bounds, assignment, and stats from cumulative "
    "windows — one row in the wrong shard hash-mismatches.",
    """
    WITH v AS (SELECT o_orderkey AS k,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT) AS x
               FROM orders),
    dv AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
    r AS (SELECT x, c,
                 coalesce(CAST(sum(c) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nb,
                 CAST(sum(c) OVER () AS BIGINT) AS nt
          FROM dv),
    p AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) t(i)),
    bounds AS (SELECT i, min(x) AS bv FROM r CROSS JOIN p
               WHERE nb + c >= (i * nt + 7) // 8 GROUP BY i),
    sh AS (SELECT v.k, v.x,
                  CAST(coalesce(sum(CASE WHEN bounds.bv < v.x
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS shard
           FROM v LEFT JOIN bounds ON TRUE GROUP BY v.k, v.x)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS min_cents,
           CAST(max(x) AS BIGINT) AS max_cents,
           CAST(sum(k % 1000003) AS BIGINT) AS key_checksum
    FROM sh GROUP BY shard
    """,
)
def range_shard_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        write_range_sharded,
    )

    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
        .cast("long")
        .alias("x"),
    )
    path = tempfile.mkdtemp(prefix="sparkgraft_rangeshard_") + "/export"
    write_range_sharded(v, path, "x", n_shards=8, tiebreak_cols=("k",))
    out = spark.read.parquet(path)
    return out.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("x").cast("long").alias("min_cents"),
        F.max("x").cast("long").alias("max_cents"),
        F.sum(F.col("k") % F.lit(1000003)).cast("long").alias("key_checksum"),
    )


@_register(
    "price_percentile_decile_census",
    "Per-group percentile-rank transform (operators/ranking.py:"
    "grouped_percentile_rank — quantile normalization, the feature "
    "scaling that survives heavy tails): every order gets its "
    "priority-group exact MIDRANK percentile ((2*below+cnt)*1e6 div "
    "2N — the Mann-Whitney tie convention, exact BIGINT both "
    "engines), then rows bucket into deciles. The equalization "
    "property lands as data: decile populations are near-uniform "
    "within each group. One distinct-value hash-agg + the grouped "
    "histogram (no corpus window) + ONE (group,value)-keyed join "
    "back. Census: per (priority, decile) row count + key checksum "
    "— one row ranked into the wrong decile hash-mismatches. "
    "Oracle: plain cumulative windows.",
    """
    WITH v AS (SELECT o_orderpriority AS g, o_orderkey AS k,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT) AS x
               FROM orders),
    dv AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
    r AS (SELECT g, x, c,
                 coalesce(CAST(sum(c) OVER (PARTITION BY g ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS nb,
                 CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nt
          FROM dv),
    p AS (SELECT g, x, ((2 * nb + c) * 1000000) // (2 * nt) AS pct
          FROM r),
    j AS (SELECT v.g, v.k, p.pct // 100000 AS decile
          FROM v JOIN p ON p.g = v.g AND p.x = v.x)
    SELECT g AS o_orderpriority,
           CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(k % 1000003) AS BIGINT) AS key_checksum
    FROM j GROUP BY 1, 2
    """,
)
def price_percentile_decile_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_percentile_rank,
    )

    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100))
        .cast("long")
        .alias("x"),
    )
    ranked = grouped_percentile_rank(v, "g", "x")
    return ranked.groupBy(
        F.col("g").alias("o_orderpriority"),
        F.expr("pct_micro div 100000").cast("long").alias("decile"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("k") % F.lit(1000003)).cast("long").alias("key_checksum"),
    )
