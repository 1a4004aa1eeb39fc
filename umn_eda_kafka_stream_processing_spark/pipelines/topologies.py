"""Named topology registry: the reference's runnable programs.

Each entry mirrors one reference ``main()`` — its input topics, its
output topic(s) (the ``kafka-workshop-`` prefix rule,
reference: readme.md:115-118, StreamTemplate.java:15-16), and the
engine pipeline that computes it. A user of the reference switches by
running the same-named topology here:

* batch:     ``run_batch(spark, name, tables)`` — tables from any
  source (parquet snapshots, ``read_topic`` Kafka batch reads).
* streaming: wire ``sources/kafka.py:stream_topic`` per input topic,
  apply the same pipeline (plain counts run natively in update mode;
  the stateful twins live in streaming/stateful.py), sink with
  ``write_stream_topic``.

Topology names follow the reference class names.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from umn_eda_kafka_stream_processing_spark.pipelines import reference as ref

# reference: Streams.java:30-55
INPUT_TOPICS = {
    "address": "data-demo-addresses",
    "artist": "data-demo-artists",
    "customer": "data-demo-customers",
    "email": "data-demo-emails",
    "event": "data-demo-events",
    "phone": "data-demo-phones",
    "stream": "data-demo-streams",
    "ticket": "data-demo-tickets",
    "venue": "data-demo-venues",
}


@dataclass(frozen=True)
class Topology:
    name: str                 # reference class name
    inputs: tuple[str, ...]   # entity kinds consumed (INPUT_TOPICS keys)
    outputs: tuple[str, ...]  # kafka-workshop-* sink topics (reference order)
    build: Callable[..., DataFrame | tuple[DataFrame, ...]]
    doc: str


TOPOLOGIES: dict[str, Topology] = {t.name: t for t in (
    Topology(
        "CustomerStreamCount", ("stream",),
        ("kafka-workshop-customer-stream-count",),  # CustomerStreamCount.java:20
        ref.customer_stream_count,
        "Count of listen-events per customer.",
    ),
    Topology(
        "ArtistTicketCount", ("ticket", "event"),
        ("kafka-workshop-artist-ticket-count",),  # ArtistTicketCount.java:15
        ref.artist_ticket_count,
        "Tickets sold per artist via the events table.",
    ),
    Topology(
        "TargetCustomerFilter", ("customer",),
        ("kafka-workshop-target-customers",),  # TargetCustomerFilter.java:25
        ref.target_customer_filter,
        "Merge legacy+current customers, keep the 1990-1999 birth decade.",
    ),
    Topology(
        "AddressSortAndStringify", ("address",),
        # MN branch first, then default (AddressSortAndStringify.java:25-26)
        ("kafka-workshop-priority-addresses", "kafka-workshop-addresses-by-state"),
        ref.address_sort_and_stringify,
        "Stringify addresses keyed by state; MN branch split out.",
    ),
    Topology(
        "TopCustomerArtists", ("stream",),
        ("kafka-workshop-top-10-stream-count",),  # TopCustomerArtists.java:30
        ref.top_customer_artists,
        "Top-3 streamed artists per customer.",
    ),
    Topology(
        "PurchaseEventTicket", ("ticket", "event"),
        ("kafka-workshop-ticket-response",),  # PurchaseEventTicket.java:24
        ref.purchase_event_ticket,
        "Ticket confirmations vs event capacity with 3-way branch.",
    ),
    Topology(
        "TopStreamingArtistByState", ("stream", "artist", "customer", "address"),
        ("kafka-workshop-top-streaming-artist-by-state",),  # TopStreamingArtistByState.java:54
        ref.top_streaming_artist_by_state,
        "Stream counts per (artist, customer-state).",
    ),
    Topology(
        "OutOfStateSales", ("ticket", "event", "venue", "address"),
        ("kafka-workshop-out-of-state-sales-ratio",),  # OutOfStateSales.java:46
        ref.out_of_state_sales,
        "Per-venue out-of-state ticket sale counts.",
    ),
    Topology(
        "TopSellingGenreByVenue", ("ticket", "event", "artist"),
        ("kafka-workshop-top-selling-genre-by-venue",),  # TopSellingGenreByVenue.java:38
        ref.top_selling_genre_by_venue,
        "Top-3 ticket-selling genres per venue.",
    ),
)}


def run_batch(
    name: str, tables: dict[str, DataFrame]
) -> DataFrame | tuple[DataFrame, ...]:
    """Run a named topology over entity DataFrames (keyed by entity
    kind, e.g. {'stream': df, ...}); returns its output DataFrame(s)
    in sink-topic order."""
    topo = TOPOLOGIES[name]
    return topo.build(*[tables[k] for k in topo.inputs])


def run_stream(
    name: str,
    streams: dict[str, DataFrame],
    dims: dict[str, DataFrame] | None = None,
) -> DataFrame | tuple[DataFrame, ...]:
    """Run a named topology in Structured Streaming mode.

    ``streams``: streaming DataFrames for the topology's fact
    entities (from stream_topic / file_stream_source). ``dims``:
    static snapshot DataFrames for the entities the reference
    materializes as KTables — the stream-static join model (the
    faithful equivalent: reference tests always pipe dims before
    facts, SURVEY.md §2.3). Stateless topologies and plain counts
    reuse the batch plans directly (update output mode); the
    window-based constructs (top-k, running capacity) switch to their
    applyInPandasWithState twins from streaming/stateful.py, because
    relational window functions aren't defined on unbounded input.

    Sink the result with streaming/runner.py (update mode) against
    TOPOLOGIES[name].outputs.
    """
    from umn_eda_kafka_stream_processing_spark.streaming.stateful import (
        event_status_stream,
        topk_counter_stream,
    )

    if name == "TopCustomerArtists":
        return topk_counter_stream(
            streams["stream"], "customerid", "artistid", k=3
        )
    if name == "PurchaseEventTicket":
        return event_status_stream(
            ref.tickets_with_capacity(streams["ticket"], dims["event"])
        )
    if name == "TopSellingGenreByVenue":
        enriched = ref.tickets_with_genre(
            streams["ticket"], dims["event"], dims["artist"], "event_seq"
        )
        return topk_counter_stream(enriched, "venueid", "genre", k=3)
    return run_batch(name, {**(dims or {}), **streams})
