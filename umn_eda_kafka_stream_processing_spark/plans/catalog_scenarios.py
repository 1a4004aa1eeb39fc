"""Scenario-catalog queries over the synthetic star schema.

The reference readme asks workshop attendees to build a catalog of
scenarios beyond the shipped samples (reference: readme.md:150-208 —
most-streamed artists, sold-out alerts, must-see venue, suggested
events, global totals, location rollups). pipelines/scenarios.py
implements them over the Utopia entities; this module registers their
star-schema twins so the driver's DuckDB gate checks them:

| scenario (readme)            | star-schema twin here            |
|------------------------------|----------------------------------|
| top artists across customers | top_event_types_global           |
| customers by top artist      | users_by_top_event_type          |
| global totals                | global_totals                    |
| suggested events by genre    | suggested_events_by_type         |
| must-see venue (customers)   | top_supplier_by_customers        |
| artist-top-streamer alert    | top_streamers_alert_contacts     |
|   + email (BONUS x2)         |   (customer dim = contact book)  |
| popular genre events (BONUS) | popular_suggested_events_by_type |
| popular-event zip alert      | popular_order_nation_alerts      |
|   (BONUS)                    |   (nation = zip block; capacity  |
|                              |    5 per order, popular = >= 5   |
|                              |    lineitems, i.e. <= 10% left)  |
| events occurred (BONUS)      | events_occurred_total            |

(sold-out / near-capacity alerting is already covered by
event_value_branch and order_capacity_confirmation in catalog.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.operators.core import global_topk, grouped_count, grouped_topk
from umn_eda_kafka_stream_processing_spark.pipelines import scenarios
from umn_eda_kafka_stream_processing_spark.plans.registry import register as _register
from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table


@_register(
    "top_event_types_global",
    "Top-3 event types across all users (pipelines/scenarios.py:"
    "top_artists_global; reference readme.md MOST STREAMED ARTISTS goal 2).",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS count,
           CAST(row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS BIGINT) AS rank
    FROM events GROUP BY event_type
    QUALIFY rank <= 3
    """,
)
def top_event_types_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = grouped_count(events, "event_type")
    return global_topk(counts, [("count", False), ("event_type", True)], 3)


@_register(
    "users_by_top_event_type",
    "Group users sharing the same top event type (pipelines/scenarios.py:"
    "customers_by_top_artist; reference readme.md MOST STREAMED ARTISTS bonus).",
    """
    WITH per_user AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
    ), top1 AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn
      FROM per_user
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(user_id) AS BIGINT) AS min_user_id,
           CAST(max(user_id) AS BIGINT) AS max_user_id
    FROM top1 WHERE rn = 1 GROUP BY event_type
    """,
)
def users_by_top_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = grouped_count(events, ["user_id", "event_type"])
    top1 = grouped_topk(
        counts, ["user_id"], [F.col("count").desc(), F.col("event_type").asc()], 1
    )
    return top1.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
    )


@_register(
    "top_streamers_alert_contacts",
    "Per event type, the top-3 users by stream count joined to the customer "
    "dim for the alert contact (pipelines/scenarios.py:"
    "event_artist_top_streamer_alerts; reference readme.md SOLD OUT EVENT "
    "BONUS + DOUBLE BONUS: alert the artist's top streamers WITH the "
    "customer's email — customer.c_name stands in for the contact book).",
    """
    WITH per_user AS (
      SELECT event_type, user_id, count(*) AS n_streams FROM events GROUP BY 1, 2
    ), top3 AS (
      SELECT event_type, user_id, n_streams, rank FROM (
        SELECT event_type, user_id, CAST(n_streams AS BIGINT) AS n_streams,
               CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY n_streams DESC, user_id ASC) AS BIGINT) AS rank
        FROM per_user) WHERE rank <= 3
    )
    SELECT t.event_type, t.user_id, t.n_streams, t.rank, c.c_name AS contact
    FROM top3 t JOIN customer c ON c.c_custkey = t.user_id
    """,
)
def top_streamers_alert_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    counts = grouped_count(events, ["event_type", "user_id"], "n_streams")
    top3 = grouped_topk(
        counts, ["event_type"],
        [F.col("n_streams").desc(), F.col("user_id").asc()], 3,
    ).withColumn("rank", F.col("rank").cast("long"))
    contacts = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_name").alias("contact")
    )
    # contact dim broadcasts; the top-3 side is already tiny per type
    return top3.join(F.broadcast(contacts), "user_id", "inner").select(
        "event_type", "user_id", "n_streams", "rank", "contact"
    )


@_register(
    "popular_suggested_events_by_type",
    "Alert each user about popular events in the user's top event type — "
    "popular = value >= 90% of the type's max value, the star-schema "
    "stand-in for 'within 10% of max capacity' (pipelines/scenarios.py:"
    "suggested_popular_events_by_genre; reference readme.md SUGGESTED "
    "EVENTS - GENRE BONUS, which has no recency cut: any popular event in "
    "the genre alerts).",
    """
    WITH per_user AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
    ), top_type AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn
        FROM per_user) WHERE rn = 1
    ), pop AS (
      SELECT e.event_type, e.event_id FROM events e
      JOIN (SELECT event_type, max(value) AS maxv FROM events GROUP BY 1) m
        ON e.event_type = m.event_type
      WHERE e.value >= 0.9 * m.maxv
    )
    SELECT t.user_id, t.event_type, p.event_id
    FROM top_type t JOIN pop p ON t.event_type = p.event_type
    """,
)
def popular_suggested_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = grouped_count(events, ["user_id", "event_type"])
    top_type = grouped_topk(
        counts, ["user_id"], [F.col("count").desc(), F.col("event_type").asc()], 1
    ).select("user_id", "event_type")
    # independent scans for the popularity side: deriving it from the
    # same `events` plan risks ambiguous self-join references
    maxv = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.max("value").alias("maxv"))
    )
    pop = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(maxv), "event_type", "inner")
        .filter(F.col("value") >= 0.9 * F.col("maxv"))
        .select("event_type", "event_id")
    )
    # type-keyed join: the popular set is per-type small (tail of the
    # value distribution) and broadcasts; the top-type side stays
    # user-cardinality without an extra shuffle
    return top_type.join(F.broadcast(pop), "event_type", "inner").select(
        "user_id", "event_type", "event_id"
    )


@_register(
    "popular_order_nation_alerts",
    "Per buyer nation (the zip block of the star schema): popular orders "
    "(>= 5 lineitems = within 10% of the capacity-5 twin, see "
    "order_capacity_confirmation) and the customers to alert "
    "(pipelines/scenarios.py:popular_event_zip_alerts; reference readme.md "
    "SUGGESTED EVENTS - LOCATION BONUS).",
    """
    WITH pop AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 5
    ), buyers AS (
      SELECT c.c_nationkey FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderkey IN (SELECT l_orderkey FROM pop)
    ), per_nation AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_popular_orders
      FROM buyers GROUP BY c_nationkey
    )
    SELECT p.c_nationkey AS nationkey, p.n_popular_orders,
           CAST(cn.n AS BIGINT) AS n_customers_alerted
    FROM per_nation p
    JOIN (SELECT c_nationkey, count(*) AS n FROM customer GROUP BY 1) cn
      ON cn.c_nationkey = p.c_nationkey
    """,
)
def popular_order_nation_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    pop = (
        lineitem.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 5)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    buyers = (
        orders.select("o_orderkey", "o_custkey")
        .join(pop, "o_orderkey", "leftsemi")
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"), "inner",
        )
    )
    per_nation = buyers.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_popular_orders")
    )
    # independent customer scan for the per-nation contact counts
    cust2 = load_table(spark, sf_dir, "customer")
    cn = cust2.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers_alerted")
    )
    return per_nation.join(F.broadcast(cn), "c_nationkey", "inner").select(
        F.col("c_nationkey").alias("nationkey"),
        "n_popular_orders", "n_customers_alerted",
    )


# as-of for "already occurred": mid-range of the synthetic events table
# (ts spans 2024-01; the driver compares at a fixed dataset, so a fixed
# literal is deterministic at every sf)
_OCCURRED_AS_OF = "2024-01-15 00:00:00"


@_register(
    "events_occurred_total",
    "Total count of events that have already occurred (ts before the fixed "
    "as-of) — one partial+final aggregate with the timestamp predicate "
    "pushed to the parquet scan (pipelines/scenarios.py:events_occurred_total; "
    "reference readme.md GLOBAL TOTALS BONUS).",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_occurred
    FROM events WHERE ts < TIMESTAMP '{_OCCURRED_AS_OF}'
    """,
)
def events_occurred_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # events.ts is TIMESTAMP_NTZ — the NTZ-literal comparison is
    # pushdown-eligible at the parquet scan (PushedFilters)
    return events.filter(
        F.col("ts") < F.lit(_OCCURRED_AS_OF).cast("timestamp_ntz")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_occurred"))


_TOTAL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@_register(
    "global_totals",
    "Record count per table — distributed partial+final count, one row per "
    "entity (pipelines/scenarios.py:global_totals; reference readme.md "
    "GLOBAL TOTALS: the Kafka Streams version must merge per-task totals; "
    "Spark's two-stage aggregate does this natively).",
    "\nUNION ALL\n".join(
        f"SELECT '{t}' AS entity, CAST(count(*) AS BIGINT) AS total FROM {t}"
        for t in _TOTAL_TABLES
    ),
)
def global_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scenarios.global_totals(
        **{t: load_table(spark, sf_dir, t) for t in _TOTAL_TABLES}
    )


@_register(
    "suggested_events_by_type",
    "Suggest to each user the 5 most recent events of the user's most-"
    "frequent event type (pipelines/scenarios.py:suggested_events_by_genre; "
    "reference readme.md SUGGESTED EVENTS - GENRE). Type-keyed join: the "
    "per-type top-5 dim broadcasts; the per-user top-type side stays "
    "fact-sized.",
    """
    WITH per_user AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
    ), top_type AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn
        FROM per_user) WHERE rn = 1
    ), recent AS (
      SELECT event_type, event_id FROM (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id ASC) AS rn
        FROM events) WHERE rn <= 5
    )
    SELECT t.user_id, t.event_type, r.event_id
    FROM top_type t JOIN recent r ON t.event_type = r.event_type
    """,
)
def suggested_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = grouped_count(events, ["user_id", "event_type"])
    top_type = grouped_topk(
        counts, ["user_id"], [F.col("count").desc(), F.col("event_type").asc()], 1
    ).select("user_id", "event_type")
    recent = grouped_topk(
        events.select("event_type", "event_id", "ts"),
        ["event_type"],
        [F.col("ts").desc(), F.col("event_id").asc()],
        5,
    ).select("event_type", "event_id")
    return top_type.join(F.broadcast(recent), "event_type", "inner").select(
        "user_id", "event_type", "event_id"
    )


@_register(
    "top_supplier_by_customers",
    "Suppliers serving the most distinct customers, top-5 "
    "(pipelines/scenarios.py:must_see_venue_by_customers; reference "
    "readme.md MUST SEE VENUE goal 2: venue hosting the most customers).",
    """
    WITH per_supp AS (
      SELECT l.l_suppkey, count(DISTINCT o.o_custkey) AS n_customers
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_suppkey
    )
    SELECT l_suppkey, CAST(n_customers AS BIGINT) AS n_customers,
           CAST(row_number() OVER (ORDER BY n_customers DESC, l_suppkey ASC) AS BIGINT) AS rank
    FROM per_supp QUALIFY rank <= 5
    """,
)
def top_supplier_by_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    per_supp = (
        lineitem.select("l_suppkey", "l_orderkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .groupBy("l_suppkey")
        .agg(F.count_distinct("o_custkey").alias("n_customers"))
    )
    return global_topk(per_supp, [("n_customers", False), ("l_suppkey", True)], 5)
