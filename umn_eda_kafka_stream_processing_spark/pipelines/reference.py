"""The reference's topologies, re-expressed Spark-first (batch form).

Each function takes entity DataFrames (schemas.py shapes, including
the (key, event_seq) envelope) and returns the pipeline's output
DataFrame. Inputs that the reference materializes as KTables are
deduped to latest-per-key here (KTable = last-write-wins upsert).

Batch semantics vs. the reference's per-record emission: the
reference wipes state and reprocesses topics on every start
(Streams.java:116 cleanUp()), so a batch recomputation of final state
is the faithful equivalent; the streaming/ package reproduces the
per-record update sequence where needed.

These are *logical plans*: no collect(), no driver-side loops, every
join/agg keyed so Catalyst plans broadcast vs. shuffle per table
statistics. Dimension tables (artists, venues, events, customers,
addresses) are broadcast-eligible at any realistic cardinality; the
fact sides (streams, tickets) scale unbounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.functions.scalar import (
    birth_decade_filter,
    composite_key,
    remaining_percentage,
    stringify_address,
)
from umn_eda_kafka_stream_processing_spark.operators.core import (
    branch,
    grouped_count,
    grouped_topk,
    latest_by_key,
    merge,
)

# Deterministic top-k tie-break for the whole engine: count DESC,
# then name ASC. (The reference's ties are arrival-order-dependent —
# SURVEY.md §2.4 — so a deterministic rule is defined instead.)


def _topk_counts(
    counted: DataFrame, group_cols: list[str], name_col: str
) -> DataFrame:
    order: list[Column] = [F.col("count").desc(), F.col(name_col).asc()]
    return grouped_topk(counted, group_cols, order, 3)


def customer_stream_count(streams: DataFrame) -> DataFrame:
    """Count of listen-events per customer.

    reference: exercises/stateful/CustomerStreamCount.java:14-16 (spec);
    behavior pinned by CustomerStreamCounterTest.java:70-96.
    Output: (customerid, count).
    """
    return grouped_count(streams, "customerid")


def artist_ticket_count(tickets: DataFrame, events: DataFrame) -> DataFrame:
    """Tickets sold per artist: tickets ⋈ events(table) → count by artistid.

    reference: exercises/stateful/ArtistTicketCount.java:9-11 (spec);
    behavior pinned by ArtistTicketsTest.java:60-98.
    Output: (artistid, count).
    """
    events_tbl = latest_by_key(events, "id").select(
        F.col("id").alias("eventid"), "artistid"
    )
    joined = tickets.select("eventid").join(F.broadcast(events_tbl), "eventid", "inner")
    return grouped_count(joined, "artistid")


def target_customer_filter(
    customers: DataFrame, legacy_customers: DataFrame | None = None
) -> DataFrame:
    """Merge legacy+current customer streams, keep those born 1990-1999.

    reference: exercises/stateless/TargetCustomerFilter.java:13-18 (spec);
    boundaries pinned by TargetCustomerFilterTest.java:69-122.
    """
    merged = (
        merge(customers, legacy_customers) if legacy_customers is not None else customers
    )
    return merged.filter(birth_decade_filter("birthdt"))


def address_sort_and_stringify(addresses: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Stringify addresses, rekey by state, split MN / everything else.

    reference: exercises/stateless/AddressSortAndStringify.java:15-20
    (spec); golden strings and the MN branch pinned by
    AddressSortAndStringifyTest.java:67-106.
    Returns (mn_branch, other_branch), each (key=state, value=string).
    """
    stringified = addresses.select(
        F.col("state").alias("key"),
        stringify_address().alias("value"),
    )
    mn, other = branch(
        stringified, F.col("key") == "MN", F.lit(True)
    )
    return mn, other


def top_customer_artists(streams: DataFrame) -> DataFrame:
    """Top-3 most-streamed artists per customer.

    reference: samples/TopCustomerArtists.java:58-90 — groupBy
    customerid, count per artistid in a SortedCounterMap, emit top(3).
    Output: (customerid, artistid, count, rank), rank 1..3.
    """
    counts = grouped_count(streams, ["customerid", "artistid"])
    return _topk_counts(counts, ["customerid"], "artistid")


def top_streaming_artist_by_state(
    streams: DataFrame,
    artists: DataFrame,
    customers: DataFrame,
    addresses: DataFrame,
) -> DataFrame:
    """Stream count per (artist, customer-state), with artist name.

    reference: phase3/TopStreamingArtistByState.java:100-238 —
    streams ⋈ artists(table) ⋈ customers(table) ⋈ addresses(table),
    rekey to composite key "artistid-state", reduce to count.
    Output: (key, artistid, artistname, state, count).

    Scale: three dimension joins — all broadcast-eligible; the fact
    stream shuffles once for the final composite-key aggregation.
    Note the reference needs customers only as a join hop
    (streams.customerid → customer → address); we join addresses
    (keyed by customerid) directly, but keep the customer hop for
    inner-join parity (a stream whose customer is absent drops).
    """
    artists_tbl = latest_by_key(artists, "id").select(
        F.col("id").alias("artistid"), F.col("name").alias("artistname")
    )
    customers_tbl = latest_by_key(customers, "id").select(
        F.col("id").alias("customerid")
    )
    addresses_tbl = latest_by_key(addresses, "customerid").select(
        "customerid", "state"
    )
    enriched = (
        streams.select("customerid", "artistid")
        .join(F.broadcast(artists_tbl), "artistid", "inner")
        .join(F.broadcast(customers_tbl), "customerid", "inner")
        .join(F.broadcast(addresses_tbl), "customerid", "inner")
    )
    counted = grouped_count(enriched, ["artistid", "artistname", "state"])
    return counted.select(
        composite_key("artistid", "state").alias("key"),
        "artistid", "artistname", "state", "count",
    )


def out_of_state_sales(
    tickets: DataFrame,
    events: DataFrame,
    venues: DataFrame,
    addresses: DataFrame,
) -> DataFrame:
    """Per-venue count of tickets bought by out-of-state customers.

    reference: phase3/OutOfStateSales.java:76-161 — venues ⋈ addresses
    (venue state), tickets ⋈ addresses (customer state) ⋈ events ⋈
    venueWithState, count where venueState != customerState.
    Output: (venueid, venuename, count).

    Scale: the theta predicate (state inequality) is applied as a
    post-join filter — never a theta join; all equi-join hops remain
    broadcast-eligible dims against the ticket fact stream.
    """
    venue_addr = latest_by_key(addresses, "id").select(
        F.col("id").alias("addressid"), F.col("state").alias("venue_state")
    )
    venues_tbl = (
        latest_by_key(venues, "id")
        .select(F.col("id").alias("venueid"), F.col("name").alias("venuename"), "addressid")
        .join(F.broadcast(venue_addr), "addressid", "inner")
        .select("venueid", "venuename", "venue_state")
    )
    cust_addr = latest_by_key(addresses, "customerid").select(
        "customerid", F.col("state").alias("customer_state")
    )
    events_tbl = latest_by_key(events, "id").select(
        F.col("id").alias("eventid"), "venueid"
    )
    enriched = (
        tickets.select("customerid", "eventid")
        .join(F.broadcast(cust_addr), "customerid", "inner")
        .join(F.broadcast(events_tbl), "eventid", "inner")
        .join(F.broadcast(venues_tbl), "venueid", "inner")
    )
    out_of_state = enriched.filter(F.col("venue_state") != F.col("customer_state"))
    return grouped_count(out_of_state, ["venueid", "venuename"])


def tickets_with_genre(
    tickets: DataFrame, events: DataFrame, artists: DataFrame, *keep: str
) -> DataFrame:
    """tickets ⋈ EventArtist(table): each ticket's venue and its event's
    artist genre — the enrichment of TopSellingGenreByVenue
    (phase3/TopSellingGenreByVenue.java:60-177), shared by the batch
    form below and the streaming form (pipelines/topologies.py).
    ``keep`` names ticket columns carried beside ``eventid``.
    Output: (eventid, *keep, artistid, venueid, genre)."""
    artists_tbl = latest_by_key(artists, "id").select(
        F.col("id").alias("artistid"), "genre"
    )
    event_artist = (
        latest_by_key(events, "id")
        .select(F.col("id").alias("eventid"), "artistid", "venueid")
        .join(F.broadcast(artists_tbl), "artistid", "inner")
    )
    return tickets.select("eventid", *keep).join(
        F.broadcast(event_artist), "eventid", "inner"
    )


def top_selling_genre_by_venue(
    tickets: DataFrame, events: DataFrame, artists: DataFrame
) -> DataFrame:
    """Top-3 ticket-selling genres per venue.

    reference: phase3/TopSellingGenreByVenue.java:60-177 — events ⋈
    artists → EventArtist table; tickets ⋈ eventArtist; per-venue
    genre counts in a SortedCounterMap, top(3).
    Output: (venueid, genre, count, rank).
    """
    enriched = tickets_with_genre(tickets, events, artists)
    counts = grouped_count(enriched, ["venueid", "genre"])
    return _topk_counts(counts, ["venueid"], "genre")


def tickets_with_capacity(tickets: DataFrame, events: DataFrame) -> DataFrame:
    """tickets rekeyed by eventid ⋈ events(table) — the capacity join of
    PurchaseEventTicket (samples/PurchaseEventTicket.java:42-66), shared
    by the batch form below and the streaming form
    (streaming/stateful.py:event_status_stream).
    Output: (eventid, ticketid, customerid, event_seq, capacity)."""
    events_tbl = latest_by_key(events, "id").select(
        F.col("id").alias("eventid"), "capacity"
    )
    return tickets.select(
        F.col("id").alias("ticketid"), "customerid", "eventid", "event_seq"
    ).join(F.broadcast(events_tbl), "eventid", "inner")


def purchase_event_ticket(tickets: DataFrame, events: DataFrame) -> DataFrame:
    """Ticket purchase confirmation against event capacity.

    reference: samples/PurchaseEventTicket.java:42-158 — tickets
    rekeyed by eventid ⋈ events(table); per-event running decrement
    of remaining capacity (EventStatus aggregate, :195-216); 3-way
    branch:
      * remaining < 0           → REJECTED  (sold out,   :99-115)
      * remaining% <= 20        → CONFIRMED (limited,    :117-139)
      * remaining% > 20         → CONFIRMED (available,  :141-157)
    The ticket taking remaining to exactly 0 is CONFIRMED
    (hasRemainingTickets() is `remaining >= 0` *after* decrement).

    Batch form: cumulative arrival-order count per event gives each
    ticket its `remaining` (= capacity - running_total, a double for
    reference parity), from which status and branch derive. Output:
    one confirmation per ticket —
    (eventid, ticketid, customerid, confirmation_status, branch,
     remaining_tickets, total_requested).

    Scale: single window over (eventid, event_seq) — one shuffle on
    eventid; the events dim joins broadcast. The streaming twin
    (streaming/stateful.py) does the same with per-key state.
    """
    joined = tickets_with_capacity(tickets, events)
    w = Window.partitionBy("eventid").orderBy("event_seq")
    status = (
        joined.withColumn("total_requested", F.row_number().over(w).cast("double"))
        .withColumn(
            "remaining_tickets",
            (F.col("capacity").cast("double") - F.col("total_requested")),
        )
        .withColumn(
            "confirmation_status",
            F.when(F.col("remaining_tickets") < 0, F.lit("REJECTED")).otherwise(
                F.lit("CONFIRMED")
            ),
        )
        .withColumn(
            "remaining_pct",
            remaining_percentage("remaining_tickets", "capacity"),
        )
        .withColumn(
            "branch",
            F.when(F.col("remaining_tickets") < 0, F.lit("sold-out"))
            .when(F.col("remaining_pct") <= 20.0, F.lit("limited"))
            .otherwise(F.lit("available")),
        )
    )
    return status.select(
        "eventid", "ticketid", "customerid", "confirmation_status",
        "branch", "remaining_tickets", "total_requested",
    )
