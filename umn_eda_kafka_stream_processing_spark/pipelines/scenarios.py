"""The reference readme's stream-processing scenario catalog
(reference: readme.md:150-208) as Spark logical plans over the
entity DataFrames — the queries a user of the reference is asked to
build beyond the shipped samples.

Same conventions as pipelines/reference.py: batch form computes final
state; every plan is collect-free and keyed so Catalyst chooses
broadcast vs shuffle; dimension sides are marked broadcast where the
domain guarantees smallness. The streaming twins run these same plans
in update mode (plain counts) or via streaming/stateful.py (top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.operators.core import global_topk, grouped_count, grouped_topk, latest_by_key


def top_artists_global(streams: DataFrame, k: int = 3) -> DataFrame:
    """Top-k streamed artists across all customers
    (reference: readme.md "MOST STREAMED ARTISTS" goal 2).
    Output: (artistid, count, rank)."""
    counts = grouped_count(streams, "artistid")
    return global_topk(counts, [("count", False), ("artistid", True)], k)


def customers_by_top_artist(streams: DataFrame) -> DataFrame:
    """Group customers sharing the same top streamed artist
    (reference: readme.md "MOST STREAMED ARTISTS" bonus).
    Output: (artistid, n_customers, customerids sorted array)."""
    counts = grouped_count(streams, ["customerid", "artistid"])
    top1 = grouped_topk(
        counts, ["customerid"],
        [F.col("count").desc(), F.col("artistid").asc()], 1,
    )
    return top1.groupBy("artistid").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.array_sort(F.collect_list("customerid")).alias("customerids"),
    )


def _capacity_alerts(requested: DataFrame) -> DataFrame:
    """Shared alert projection over a (eventid, capacity, requested)
    frame — one definition of the threshold semantics for the batch
    and streaming twins."""
    status = requested.withColumn(
        "remaining_pct",
        F.greatest(
            F.col("capacity").cast("double") - F.col("requested"), F.lit(0.0)
        )
        / F.col("capacity").cast("double") * 100.0,
    ).withColumn(
        "alert",
        F.when(F.col("requested") >= F.col("capacity"), F.lit("sold-out"))
        .when(F.col("remaining_pct") <= 10.0, F.lit("near-capacity")),
    )
    return status.filter(F.col("alert").isNotNull()).select(
        "eventid", "capacity", "requested", "remaining_pct", "alert"
    )


def sold_out_event_alerts(tickets: DataFrame, events: DataFrame) -> DataFrame:
    """Capacity alerts per event: 'sold-out' when requested >=
    capacity, else 'near-capacity' when remaining <= 10%
    (reference: readme.md "SOLD OUT EVENT": alert within 10% of max
    capacity; alert when sold out).
    Output: (eventid, capacity, requested, remaining_pct, alert)."""
    events_tbl = latest_by_key(events, "id").select(
        F.col("id").alias("eventid"), "capacity"
    )
    requested = grouped_count(tickets, "eventid", "requested").join(
        F.broadcast(events_tbl), "eventid", "inner"
    )
    return _capacity_alerts(requested)


def must_see_venue_by_events(events: DataFrame) -> DataFrame:
    """Venue(s) hosting the most events
    (reference: readme.md "MUST SEE VENUE" goal 1).
    Output: (venueid, n_events, rank)."""
    counts = grouped_count(latest_by_key(events, "id"), "venueid", "n_events")
    return global_topk(counts, [("n_events", False), ("venueid", True)], 1)


def must_see_venue_by_customers(
    tickets: DataFrame, events: DataFrame
) -> DataFrame:
    """Venue(s) hosting the most distinct ticket-holding customers
    (reference: readme.md "MUST SEE VENUE" goal 2).
    Output: (venueid, n_customers, rank)."""
    events_tbl = latest_by_key(events, "id").select(
        F.col("id").alias("eventid"), "venueid"
    )
    per_venue = (
        tickets.select("customerid", "eventid")
        .join(F.broadcast(events_tbl), "eventid", "inner")
        .groupBy("venueid")
        .agg(F.count_distinct("customerid").alias("n_customers"))
    )
    return global_topk(per_venue, [("n_customers", False), ("venueid", True)], 1)


def suggested_events_by_genre(
    streams: DataFrame, artists: DataFrame, events: DataFrame
) -> DataFrame:
    """Suggest to each customer the events in their most-streamed
    genre (reference: readme.md "SUGGESTED EVENTS - GENRE": alert
    customer when an event is created in their most streamed genre).
    Output: (customerid, top_genre, eventid, artistid).

    Scale: the per-customer top-genre table is fact-sized — the final
    suggestion join is genre-keyed (low cardinality), so it shuffles
    on genre with AQE skew splitting; the genre dim join onto events
    broadcasts.
    """
    artists_tbl = latest_by_key(artists, "id").select(
        F.col("id").alias("artistid"), "genre"
    )
    genre_counts = grouped_count(
        streams.join(F.broadcast(artists_tbl), "artistid", "inner"),
        ["customerid", "genre"],
    )
    top_genre = grouped_topk(
        genre_counts, ["customerid"],
        [F.col("count").desc(), F.col("genre").asc()], 1,
    ).select("customerid", F.col("genre").alias("top_genre"))
    event_genre = (
        latest_by_key(events, "id")
        .select(F.col("id").alias("eventid"), "artistid")
        .join(F.broadcast(artists_tbl), "artistid", "inner")
        .select("eventid", "artistid", F.col("genre").alias("top_genre"))
    )
    return top_genre.join(event_genre, "top_genre", "inner").select(
        "customerid", "top_genre", "eventid", "artistid"
    )


def event_artist_top_streamer_alerts(
    events: DataFrame, streams: DataFrame, emails: DataFrame, k: int = 3
) -> DataFrame:
    """Alert the event artist's top-k streamers when an event is
    created, with each customer's email address (reference:
    readme.md "SOLD OUT EVENT" BONUS + DOUBLE BONUS — the alert
    "include[s] the customer's email address in the event").
    Output: (eventid, artistid, customerid, stream_count, rank, email).

    Scale: per-artist top-k is a partitioned window (one shuffle on
    artistid, WindowGroupLimit pre-prunes); the events⋈top-streamers
    join is artist-keyed on both sides; the email KTable joins on
    customerid — fact-sized both sides, AQE picks the strategy. A
    customer with no email row still alerts (left join, NULL email) —
    dropping the alert because a contact row is missing would lose
    the primary signal.
    """
    events_tbl = latest_by_key(events, "id").select(
        F.col("id").alias("eventid"), "artistid"
    )
    counts = grouped_count(streams, ["customerid", "artistid"], "stream_count")
    top_streamers = grouped_topk(
        counts, ["artistid"],
        [F.col("stream_count").desc(), F.col("customerid").asc()], k,
    ).withColumn("rank", F.col("rank").cast("long"))
    email_tbl = latest_by_key(emails, "customerid").select("customerid", "email")
    return (
        events_tbl.join(top_streamers, "artistid", "inner")
        .join(email_tbl, "customerid", "left")
        .select("eventid", "artistid", "customerid", "stream_count", "rank", "email")
    )


def popular_events(tickets: DataFrame, events: DataFrame) -> DataFrame:
    """Event ids currently "popular": within 10% of max
    capacity, sold-out included (reference: readme.md "*popular:
    within 10% max capacity (almost sold out)").
    Output: (eventid)."""
    events_tbl = latest_by_key(events, "id").select(
        F.col("id").alias("eventid"), "capacity"
    )
    requested = grouped_count(tickets, "eventid", "requested").join(
        F.broadcast(events_tbl), "eventid", "inner"
    )
    return _capacity_alerts(requested).select("eventid")


def suggested_popular_events_by_genre(
    streams: DataFrame, artists: DataFrame, events: DataFrame, tickets: DataFrame
) -> DataFrame:
    """Suggested-events-by-genre restricted to popular events
    (reference: readme.md "SUGGESTED EVENTS - GENRE" BONUS: alert
    customer when there is a popular event within their most
    streamed genre).
    Output: (customerid, top_genre, eventid, artistid).

    The popular-id set is an aggregate over events (small — one row
    per near-capacity event), so the restriction is a broadcast
    left-semi join: no extra shuffle on the suggestion side.
    """
    sugg = suggested_events_by_genre(streams, artists, events)
    pop = popular_events(tickets, events)
    return sugg.join(F.broadcast(pop), "eventid", "leftsemi")


def popular_event_zip_alerts(
    tickets: DataFrame, addresses: DataFrame, events: DataFrame,
) -> DataFrame:
    """Alert customers when customers in their zipcode are buying
    tickets to a popular event (reference: readme.md "SUGGESTED
    EVENTS - LOCATION" BONUS).
    Output: (customerid, zip5, eventid) — one alert per customer in
    a zip per popular event bought from that zip.

    Scale shape: the (zip5, eventid) "buying signal" feed is
    deduplicated BEFORE fanning out to the zip's customers, so the
    fan-out join input is |zips with buyers| × |popular events|, not
    |tickets|.
    """
    addr_tbl = latest_by_key(addresses, "customerid").select("customerid", "zip5")
    pop = popular_events(tickets, events)
    buying = (
        tickets.join(F.broadcast(pop), "eventid", "leftsemi")
        .join(addr_tbl, "customerid", "inner")
        .select("zip5", "eventid")
        .distinct()
    )
    return addr_tbl.join(buying, "zip5", "inner").select(
        "customerid", "zip5", "eventid"
    )


def events_occurred_total(events: DataFrame, as_of: str) -> DataFrame:
    """Total count of events that have already occurred — eventdate
    before ``as_of`` (reference: readme.md "GLOBAL TOTALS" BONUS; the
    readme warns the total is split across processing tasks in Kafka
    Streams — in Spark it is one partial+final aggregate).
    Output: one row (n_occurred)."""
    return (
        latest_by_key(events, "id")
        .filter(F.col("eventdate") < F.lit(as_of))
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurred"))
    )


def global_totals(**entity_dfs: DataFrame) -> DataFrame:
    """Running total record count per entity across all partitions
    (reference: readme.md "GLOBAL TOTALS" — the readme warns totals
    are 'split across processing tasks' in Kafka Streams; in Spark a
    global aggregate is just a two-stage partial+final count).
    Output: (entity, total), one row per input DataFrame."""
    parts = [
        df.agg(F.count(F.lit(1)).alias("total")).select(
            F.lit(name).alias("entity"), "total"
        )
        for name, df in sorted(entity_dfs.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def tickets_by_zip(tickets: DataFrame, addresses: DataFrame) -> DataFrame:
    """Ticket count per customer zipcode (reference: readme.md
    "SUGGESTED EVENTS - LOCATION" goal 1: all tickets purchased by
    customers in each zipcode).
    Output: (zip5, n_tickets)."""
    addr_tbl = latest_by_key(addresses, "customerid").select("customerid", "zip5")
    return grouped_count(
        tickets.join(F.broadcast(addr_tbl), "customerid", "inner"),
        "zip5", "n_tickets",
    )


def sold_out_event_alerts_stream(
    tickets_stream: DataFrame, events: DataFrame
) -> DataFrame:
    """Streaming twin of sold_out_event_alerts.

    Streaming-legal operator order: the static capacity dim joins the
    ticket stream BEFORE the aggregation (Structured Streaming
    disallows stream-static joins after a streaming aggregate), then
    one update-mode count per (event, capacity) derives the alert in
    the post-aggregation projection. Each microbatch re-emits the
    updated rows — the alert firing as soon as the threshold crosses.
    """
    events_tbl = latest_by_key(events, "id").select(
        F.col("id").alias("eventid"), "capacity"
    )
    requested = (
        tickets_stream.select("eventid")
        .join(F.broadcast(events_tbl), "eventid", "inner")
        .groupBy("eventid", "capacity")
        .agg(F.count(F.lit(1)).alias("requested"))
    )
    return _capacity_alerts(requested)
