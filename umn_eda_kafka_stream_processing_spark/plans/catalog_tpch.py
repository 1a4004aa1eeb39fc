"""TPC-H completion: the remaining runnable TPC-H query shapes.

catalog.py / catalog_analytics.py already carry Q1/Q3/Q5/Q6/Q10. This
module adds the other query SHAPES the suite exercises — semi-join
(EXISTS, Q4), anti-join + scalar subquery (NOT EXISTS, Q22),
correlated aggregate subqueries (Q15/Q17), outer-join histograms
(Q13), disjunctive multi-column pushdown (Q19), the double-correlated
semi+anti combination (Q21), and the multi-year share/volume reports
(Q7/Q8/Q12/Q14/Q18).

The driver's star schema is a REDUCED TPC-H (TESTDATA.md): there is
no partsupp table, and lineitem lacks shipmode/commitdate/
receiptdate while customer lacks c_phone. Queries that reference
those columns are ADAPTED the same way catalog.py's Q3 is: identical
plan shape and semantics, nearest available column (e.g. Q4/Q21's
"late" predicate becomes l_shipdate > o_orderdate + INTERVAL N DAY;
Q22's phone-prefix country code becomes c_nationkey). The five
partsupp-NAVIGATING queries (Q2/Q9/Q11/Q16/Q20) re-derive the
part<->supplier relation from lineitem — see the section comment
below. Each docstring states its deviation. With Q1/Q3/Q5/Q6/Q10
elsewhere in the catalog, all 22 TPC-H query shapes are covered.

Cross-engine normalization follows catalog.py's rules: money through
DECIMAL(18,2) (associative, order-independent), ratios as
double-divided decimal sums rounded half-up, counts/years cast to
BIGINT, dates rendered as yyyy-MM-dd strings.

Scale notes (100 TB): every dim side (part, supplier, customer,
nation, region) is broadcast; fact-fact correlations (Q4/Q21's
EXISTS over lineitem) are expressed as ONE shuffle on l_orderkey —
aggregate-then-join, never a per-row subquery; Q13's outer join
shuffles on the customer key with map-side partial counts; Q18
semi-joins the fact table against a pre-aggregated key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up
from umn_eda_kafka_stream_processing_spark.plans.catalog import _dec, _money_sum
from umn_eda_kafka_stream_processing_spark.plans.registry import register as _register
from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table


@_register(
    "q4_order_priority",
    "TPC-H Q4 order-priority checking (adapted: no l_commitdate/"
    "l_receiptdate — 'late' is l_shipdate > o_orderdate + 60 days). "
    "EXISTS semi-join: orders in one quarter having at least one late "
    "line, counted per priority. Spark plan: left-semi hash join on "
    "l_orderkey with the lateness predicate as join condition — one "
    "shuffle, no subquery re-scan.",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        lineitem,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@_register(
    "q7_volume_shipping",
    "TPC-H Q7 volume shipping (adapted: nation pair widened to the "
    "ASIA<->EUROPE region pair — the generated data has 25 synthetic "
    "nations, single-nation pairs are near-empty at test SF). Revenue "
    "between supplier-region and customer-region per direction per "
    "ship-year. All dims broadcast; one fact shuffle on the join keys.",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS revenue
    FROM lineitem
      JOIN orders    ON o_orderkey = l_orderkey
      JOIN supplier  ON s_suppkey = l_suppkey
      JOIN customer  ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      AND ((r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
           OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'))
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("date"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # nation ⋈ region pre-resolved driver-side of the fact join; both
    # are tiny dims so the composite stays broadcast.
    nat = nation.join(
        region, nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name", "r_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("supp_nation"),
                F.col("r_name").alias("supp_region"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat["n_nationkey"])
        .select("c_custkey", F.col("n_name").alias("cust_nation"),
                F.col("r_name").alias("cust_region"))
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE"))
            | ((F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA"))
        )
    )
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return joined.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(_money_sum(price * (1 - disc), "revenue"))


@_register(
    "q8_market_share",
    "TPC-H Q8 national market share (adapted: p_type is single-word "
    "'STANDARD', share nation NATION_2 in region ASIA). Share = "
    "conditional decimal sum / total decimal sum per order-year, "
    "double-divided then rounded — order-independent on both engines.",
    """
    SELECT o_year,
           floor(CAST(SUM(CASE WHEN nat = 'NATION_2' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS nat
      FROM lineitem
        JOIN part      ON p_partkey = l_partkey
        JOIN orders    ON o_orderkey = l_orderkey
        JOIN customer  ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN supplier  ON s_suppkey = l_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    ).select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("date"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia_keys = nation.join(
        region,
        (nation["n_regionkey"] == region["r_regionkey"]) & (region["r_name"] == "ASIA"),
    ).select("n_nationkey")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(asia_keys), F.col("c_nationkey") == F.col("n_nationkey"),
              "left_semi")
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("nat"))
    )
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    vol = (price * (1 - disc)).alias("volume")
    share_num = F.sum(
        F.when(F.col("nat") == "NATION_2", vol).otherwise(F.lit(0).cast("decimal(18,2)"))
    ).cast("double")
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(round_half_up(share_num / F.sum(vol).cast("double"), 6).alias("mkt_share"))
    )


@_register(
    "q12_late_lines_by_status",
    "TPC-H Q12 shipping-mode priority classes (adapted: no l_shipmode/"
    "commit/receipt dates — class key is l_linestatus, 'late' is "
    "l_shipdate > o_orderdate + 30 days within ship-year 1996). "
    "Conditional two-way counts per class, orders side joined once.",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_late_lines_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    joined = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
    )


@_register(
    "q13_customer_order_distribution",
    "TPC-H Q13 customer order-count distribution (adapted: the o_comment "
    "NOT LIKE exclusion becomes o_orderpriority <> '5-LOW' — same "
    "ON-clause-filtered LEFT OUTER shape). Two-level aggregation: "
    "orders per customer (outer join keeps 0-order customers), then "
    "histogram of those counts.",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    # outer join keeps customers with zero qualifying orders; the
    # priority filter must sit on the orders side (ON-clause
    # semantics), not post-join where it would turn the join inner.
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "q14_promo_revenue",
    "TPC-H Q14 promotion effect: % of one month's revenue from PROMO "
    "parts (p_type = 'PROMO' — single-word types in this schema). "
    "Part side broadcast; single-row ratio of two decimal sums.",
    """
    SELECT floor(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("date"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    vol = price * (1 - disc)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast("decimal(18,2)"))
    ).cast("double")
    return joined.agg(
        round_half_up(F.lit(100.0) * promo / F.sum(vol).cast("double"), 6)
        .alias("promo_revenue")
    )


@_register(
    "q15_top_supplier",
    "TPC-H Q15 top supplier: quarterly revenue per supplier, keep the "
    "supplier(s) equal to the max — scalar subquery over a derived "
    "view. Equality is on the EXACT decimal sum (pre-rounding) so both "
    "engines pick identical winners; the max is a 1-row broadcast.",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(round(total_rev, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    # |suppliers| rows, joined to their own max. Materialized: the
    # inferred isnotnull(l_suppkey) of the supplier join reaches only
    # one branch, so the two aggregates differ and Spark cannot reuse
    # one exchange — without it lineitem is scanned twice
    revenue = materialize(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(price * (1 - disc)).alias("total_rev")),
        Why.SELF_JOIN,
    )
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.round("total_rev", 2).cast("double").alias("total_revenue"),
        )
    )


@_register(
    "q17_small_qty_revenue",
    "TPC-H Q17 small-quantity-order revenue (adapted: no p_container — "
    "brand filter only). Correlated aggregate subquery: lines with "
    "quantity under 20% of their part's average quantity. The per-part "
    "average joins back aggregate-then-join (one extra shuffle on "
    "partkey, no per-row subquery); quantities are integral doubles so "
    "the avg is order-independent.",
    """
    SELECT floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0 * 100 + 0.5) / 100 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    # correlated avg as aggregate-then-join; computed AFTER the brand
    # semi-join prunes to ~1/25 of parts (the subquery's correlation
    # only ever evaluates at surviving parts).
    per_part = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(per_part), F.col("l_partkey") == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            round_half_up(
                F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 2
            ).alias("avg_yearly")
        )
    )


@_register(
    "q18_large_volume_customers",
    "TPC-H Q18 large-volume customers: orders whose total quantity "
    "exceeds 250 (threshold rescaled to this data's ~4 lines/order), "
    "with customer detail, top-100 by order value. The IN-subquery is "
    "a semi-join against a pre-aggregated orderkey set — the fact "
    "table shuffles once on l_orderkey for both the HAVING aggregate "
    "and the detail sum.",
    """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS totalprice,
           CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("order_qty")).filter(
        F.col("order_qty") > 250
    ).select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    agg = joined.groupBy(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    ).agg(_money_sum(_dec("l_quantity"), "sum_qty"))
    return (
        agg.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round(_dec("o_totalprice"), 2).cast("double").alias("totalprice"),
            "sum_qty",
        )
    )


@_register(
    "q19_brackets_revenue",
    "TPC-H Q19 discounted revenue (adapted: no p_container/l_shipmode "
    "— brackets are brand x size-range x quantity-range). Disjunction "
    "of conjunctions across both join sides: the part-only envelope "
    "(brand IN + size bounds) prunes the broadcast dim, the OR is one "
    "JVM predicate post-join.",
    """
    SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 20 AND 35)
    """,
)
def q19_brackets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # part-only envelope applied before the broadcast: the dim ships
    # only rows any bracket could accept.
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
        & (F.col("p_size") >= 1) & (F.col("p_size") <= 25)
    ).select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    qty = F.col("l_quantity")
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & qty.between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 20)
           & qty.between(10, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 25)
           & qty.between(20, 35))
    )
    joined = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).filter(bracket)
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return joined.agg(_money_sum(price * (1 - disc), "revenue"))


@_register(
    "q21_waiting_suppliers",
    "TPC-H Q21 suppliers who kept orders waiting (adapted: 'late' is "
    "l_shipdate > o_orderdate + 90 days; nation filter widened to "
    "region ASIA). EXISTS(other supplier) + NOT EXISTS(other LATE "
    "supplier) on finished orders. Spark rewrite: per-order distinct "
    "supplier / late-supplier counts in ONE shuffle on l_orderkey, "
    "then filter total > 1 AND late == 1 — provably equivalent to the "
    "correlated pair (the oracle keeps the EXISTS/NOT EXISTS form).",
    """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
    )
    # EXISTS/NOT EXISTS pair as ONE per-order aggregate: an l1 row
    # survives iff its order has >1 distinct supplier (EXISTS other)
    # and exactly 1 distinct LATE supplier (NOT EXISTS other late —
    # l1 itself is late, so "1" means "only mine").
    per_order = lo.groupBy(F.col("l_orderkey").alias("agg_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    # shuffle-hash, not sort-merge: both sides already hash-partition
    # on the order key and the agg side is the smaller build side —
    # no reason to sort either (CLAUDE.md house rule for fact⋈agg).
    cand = (
        lo.filter(F.col("is_late"))
        .join(per_order.hint("shuffle_hash"),
              F.col("l_orderkey") == F.col("agg_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia = nation.join(
        region,
        (nation["n_regionkey"] == region["r_regionkey"]) & (region["r_name"] == "ASIA"),
    ).select("n_nationkey")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"),
              "left_semi")
        .select("s_suppkey", "s_name")
    )
    return (
        cand.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_register(
    "q22_dormant_customers",
    "TPC-H Q22 global sales opportunity (adapted: no c_phone — country "
    "code is c_nationkey; every customer has old orders in this data, "
    "so the anti-join is 'no order since 1999'). Scalar subquery "
    "(above-average balance, exact decimal-sum average) + NOT EXISTS "
    "anti-join, grouped per country. The average broadcasts as one "
    "row; the anti-join shuffles customers once against the pruned "
    "recent-orders key set.",
    """
    SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS totacctbal
    FROM (
      SELECT CAST(c_nationkey AS BIGINT) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_nationkey IN (3, 7, 11, 15, 19, 21, 23)
        AND c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          FROM customer
          WHERE c_acctbal > 0.00 AND c_nationkey IN (3, 7, 11, 15, 19, 21, 23))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= DATE '1999-01-01')
    )
    GROUP BY cntrycode
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = (3, 7, 11, 15, 19, 21, 23)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*codes)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    # exact decimal sum / bigint count, divided as doubles — identical
    # on both engines regardless of partitioning (a plain double avg
    # is summation-order dependent).
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("date")
    ).select("o_custkey")
    kept = (
        cust.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return kept.groupBy(
        F.col("c_nationkey").cast("long").alias("cntrycode")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        _money_sum(_dec("c_acctbal"), "totacctbal"),
    )


# ---------------------------------------------------------------------------
# The five partsupp-dependent shapes (Q2/Q9/Q11/Q16/Q20), adapted.
# The reduced schema has no partsupp table; the part<->supplier
# relation these queries navigate is re-derived from lineitem (who
# actually shipped which part), and ps_supplycost becomes the
# observed unit price l_extendedprice / l_quantity (Q2), the part's
# list price p_retailprice (Q9), or shipped value (Q11/Q20). Shapes —
# correlated min subquery, per-group profit rollup, HAVING vs global
# scalar, NOT IN blacklist, nested IN chains — are preserved exactly.
# ---------------------------------------------------------------------------

@_register(
    "q2_min_cost_supplier",
    "TPC-H Q2 minimum-cost supplier (adapted: no partsupp — the supply "
    "relation is distinct (part, supplier) pairs observed in lineitem, "
    "cost = min observed unit price). Correlated MIN subquery per part "
    "over region-filtered suppliers; deterministic order + limit. "
    "Unit price is an IEEE double division of identical inputs on both "
    "engines, so the MIN-equality join is exact.",
    """
    WITH supply AS (
      SELECT l_partkey AS sp_partkey, l_suppkey AS sp_suppkey,
             min(l_extendedprice / l_quantity) AS sp_cost
      FROM lineitem GROUP BY 1, 2
    ), eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT CAST(round(CAST(s_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS acctbal,
           s_name, n_name, p_partkey,
           floor(sp_cost * 1000000.0 + 0.5) / 1000000.0 AS unit_cost
    FROM part JOIN supply ON p_partkey = sp_partkey
              JOIN eu ON sp_suppkey = s_suppkey
    WHERE p_size <= 10 AND p_type = 'STANDARD'
      AND sp_cost = (SELECT min(s2.sp_cost)
                     FROM supply s2 JOIN eu e2 ON s2.sp_suppkey = e2.s_suppkey
                     WHERE s2.sp_partkey = p_partkey)
    ORDER BY acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    supply = li.groupBy(
        F.col("l_partkey").alias("sp_partkey"),
        F.col("l_suppkey").alias("sp_suppkey"),
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("sp_cost"))
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    eu_keys = nation.join(
        region,
        (nation["n_regionkey"] == region["r_regionkey"])
        & (region["r_name"] == "EUROPE"),
    ).select("n_nationkey", "n_name")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(eu_keys), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # region-filtered supply, joined to its own per-part minimum; no
    # checkpoint: both branches reuse one exchange (ReusedExchange)
    esupply = supply.join(
        F.broadcast(eu), F.col("sp_suppkey") == F.col("s_suppkey")
    )
    min_pp = esupply.groupBy(F.col("sp_partkey").alias("min_partkey")).agg(
        F.min("sp_cost").alias("min_cost")
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey")
    return (
        esupply.join(F.broadcast(part), F.col("sp_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(min_pp),
            (F.col("sp_partkey") == F.col("min_partkey"))
            & (F.col("sp_cost") == F.col("min_cost")),
        )
        .select(
            F.round(F.col("s_acctbal").cast("decimal(18,2)"), 2)
            .cast("double").alias("acctbal"),
            "s_name", "n_name", "p_partkey",
            round_half_up(F.col("sp_cost"), 6).alias("unit_cost"),
        )
        .orderBy(F.col("acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@_register(
    "q9_product_profit",
    "TPC-H Q9 product-type profit (adapted: no ps_supplycost — unit "
    "cost is the part's list price p_retailprice). Profit per supplier "
    "nation per order-year over name-matched parts; exact decimal "
    "revenue-minus-cost so both engines aggregate identically.",
    """
    SELECT nation, o_year,
           CAST(round(SUM(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))
               - CAST(p_retailprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    amount = (
        _dec("l_extendedprice") * (1 - _dec("l_discount"))
        - _dec("p_retailprice") * _dec("l_quantity")
    )
    return joined.groupBy(
        "nation", F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(_money_sum(amount, "sum_profit"))


@_register(
    "q11_important_parts",
    "TPC-H Q11 important stock (adapted: no ps_availqty*ps_supplycost "
    "— part value is total shipped l_extendedprice via suppliers in "
    "one region). HAVING against a global-total scalar subquery: keep "
    "parts holding > 0.1% of total value. Both engines compare an "
    "exact decimal per-part sum (as double) to the double-scaled "
    "global total.",
    """
    WITH per_part AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_val
      FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY 1
    )
    SELECT partkey, CAST(round(sum_val, 2) AS DOUBLE) AS part_value
    FROM per_part
    WHERE CAST(sum_val AS DOUBLE) >
          (SELECT CAST(SUM(sum_val) AS DOUBLE) * 0.001 FROM per_part)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia = nation.join(
        region,
        (nation["n_regionkey"] == region["r_regionkey"]) & (region["r_name"] == "ASIA"),
    ).select("n_nationkey")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey"),
              "left_semi")
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    ).join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    # |parts| rows, read twice (global total + filter) through one
    # reused exchange, so no checkpoint
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(_dec("l_extendedprice")).alias("sum_val")
    )
    total = per_part.agg(
        (F.sum("sum_val").cast("double") * F.lit(0.001)).alias("cut")
    )
    return (
        per_part.join(F.broadcast(total), F.col("sum_val").cast("double") > F.col("cut"))
        .select("partkey", F.round("sum_val", 2).cast("double").alias("part_value"))
    )


@_register(
    "q16_part_supplier_counts",
    "TPC-H Q16 supplier counts per part attribute (adapted: the "
    "part<->supplier relation comes from lineitem; the complaints "
    "NOT-IN blacklist becomes suppliers with s_acctbal < 1000). "
    "Anti-join then COUNT(DISTINCT supplier) per (brand, type, size).",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 1000)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    blacklist = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(blacklist), F.col("l_suppkey") == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@_register(
    "q20_volume_shippers",
    "TPC-H Q20 suppliers with significant volume (adapted: the "
    "partsupp availability test becomes 'shipped > 400 units of "
    "ECONOMY parts in 1996'). Nested IN chain: part-filter IN inside "
    "a grouped-HAVING supplier set IN — each level a semi-join, fact "
    "table shuffled once on the supplier key.",
    """
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
        AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      GROUP BY l_suppkey HAVING SUM(l_quantity) > 400)
    """,
)
def q20_volume_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    heavy = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"),
                "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("shipped"))
        .filter(F.col("shipped") > 400)
        .select("l_suppkey")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "n_name")
    )
