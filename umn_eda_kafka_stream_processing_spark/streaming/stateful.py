"""Custom stateful streaming operators.

The reference's stateful topologies keep unwindowed per-key state in
RocksDB stores and emit on every input record (record cache 0,
reference: Streams.java:88). Spark's native streaming aggregations in
``update`` output mode cover the plain counts (A4, A5, A7, A8 in
SURVEY.md §2.4) with no custom code. The three constructs that need
explicit state are implemented here with
``groupBy(...).applyInPandasWithState`` — Arrow-batched, per-key
exclusive state, the Structured Streaming twin of a Kafka Streams
processor with a KeyValueStore:

* ``latest_by_key_stream``  — KTable: last-write-wins per key
  (reference: builder.table(...), samples/PurchaseEventTicket.java:44-51)
* ``event_status_stream``   — running capacity decrement + status
  branch (reference: samples/PurchaseEventTicket.java:68-158)
* ``topk_counter_stream``   — per-key counter map with top-k emission
  (reference: samples/TopCustomerArtists.java:64-90, SortedCounterMap)

Scale notes: state is partitioned by the group key across executors
(RocksDB state store via
``spark.sql.streaming.stateStore.providerClass`` for large state);
each function touches only the keys present in the microbatch. Rows
within a (batch, key) are processed in ``event_seq`` order, matching
Kafka's per-partition arrival order (a key lives in one partition).
"""

from __future__ import annotations

import base64
import json
import pickle
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _state_json(state: GroupState) -> dict[str, Any]:
    """Read this key's state dict (stored as one JSON string). Use
    only for JSON-safe state (strings/ints) — generic row payloads go
    through _state_pickle, which round-trips timestamps/binary/
    decimals that json.dumps would reject or mangle."""
    if state.exists:
        (raw,) = state.get
        return json.loads(raw)
    return {}


def _state_pickle(state: GroupState) -> dict[str, Any]:
    if state.exists:
        (raw,) = state.get
        return pickle.loads(base64.b64decode(raw))
    return {}


def _pickle_state(payload: dict[str, Any]) -> str:
    return base64.b64encode(pickle.dumps(payload)).decode("ascii")


def latest_by_key_stream(
    df: DataFrame,
    key_cols: str | list[str],
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming KTable: emits, per microbatch and key, the current
    last-write-wins row (update-mode changelog).

    Output schema == input schema. State per key: (max seq, latest
    payload, pickled).

    ``ttl_ms`` bounds the otherwise-unbounded keyspace: keys idle
    longer than the TTL are dropped from the store (processing-time
    timeout). The reference's stores grow forever (SURVEY.md §2.8);
    this is the engine's retention knob for 100 TB keyspaces where
    dead keys dominate.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    out_schema = df.schema
    payload_cols = [f.name for f in out_schema.fields]
    state_schema = T.StructType([T.StructField("js", T.StringType())])
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms
        else GroupStateTimeout.NoTimeout
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms and state.hasTimedOut:
            state.remove()
            return
        st = _state_pickle(state)
        best_seq = st.get("seq")
        best_row = st.get("row")
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("event_seq")
            last = pdf.iloc[-1]
            if best_seq is None or int(last["event_seq"]) >= best_seq:
                best_seq = int(last["event_seq"])
                best_row = {c: last[c] for c in payload_cols}
        state.update((_pickle_state({"seq": best_seq, "row": best_row}),))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if best_row is not None:
            yield pd.DataFrame([best_row], columns=payload_cols)

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", timeout
    )


EVENT_STATUS_SCHEMA = T.StructType([
    T.StructField("eventid", T.StringType()),
    T.StructField("ticketid", T.StringType()),
    T.StructField("customerid", T.StringType()),
    T.StructField("confirmation_status", T.StringType()),
    T.StructField("branch", T.StringType()),
    T.StructField("remaining_tickets", T.DoubleType()),
    T.StructField("total_requested", T.DoubleType()),
])


def event_status_stream(tickets_with_capacity: DataFrame) -> DataFrame:
    """Streaming twin of pipelines.reference.purchase_event_ticket.

    Input: ticket stream already joined to the event dim
    (stream-static join), with columns (eventid, ticketid, customerid,
    capacity, event_seq). Per event key, the state carries the running
    total requested; every ticket record emits one confirmation, so
    update-mode output reproduces the reference's per-record emission
    (reference: samples/PurchaseEventTicket.java:68-158; the ticket
    that takes remaining to exactly 0 is CONFIRMED, :206-208;
    remaining is a double for parity, :186).
    """
    state_schema = T.StructType([T.StructField("js", T.StringType())])

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = _state_json(state)
        total = st.get("total", 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("event_seq")
            # Vectorized running decrement: the i-th ticket in seq order
            # takes the running total to state_total + i + 1 — a numpy
            # arange, not an iterrows loop, so a hot-key microbatch of N
            # rows costs O(N) C-side ops instead of N Python row visits.
            n = len(pdf)
            running = total + np.arange(1, n + 1, dtype=np.float64)
            capacity = pdf["capacity"].to_numpy(dtype=np.float64)
            remaining = capacity - running
            with np.errstate(divide="ignore", invalid="ignore"):
                pct = np.where(
                    capacity != 0.0,
                    np.maximum(remaining, 0.0) / capacity * 100.0,
                    0.0,
                )
            sold_out = remaining < 0
            out = pd.DataFrame({
                "eventid": pdf["eventid"].to_numpy(),
                "ticketid": pdf["ticketid"].to_numpy(),
                "customerid": pdf["customerid"].to_numpy(),
                "confirmation_status": np.where(sold_out, "REJECTED", "CONFIRMED"),
                "branch": np.select(
                    [sold_out, pct <= 20.0], ["sold-out", "limited"], "available"
                ),
                "remaining_tickets": remaining,
                "total_requested": running,
            })
            total += n
            yield out
        state.update((json.dumps({"total": total}),))

    return tickets_with_capacity.groupBy("eventid").applyInPandasWithState(
        fn, EVENT_STATUS_SCHEMA, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def topk_counter_stream(
    df: DataFrame,
    group_col: str = "customerid",
    item_col: str = "artistid",
    k: int = 3,
) -> DataFrame:
    """Streaming twin of pipelines.reference.top_customer_artists.

    Per group key the state is a counter map item → count (the
    reference's SortedCounterMap, samples/TopCustomerArtists.java:93-130,
    capped at 1000 entries); each microbatch emits the group's
    current top-k with the engine's deterministic tie-break (count
    DESC, item ASC — the reference's arrival-stable ties are not
    reproducible, SURVEY.md §2.4).

    Output: (group, item, count, rank). Emission is per-microbatch
    per-updated-key, the update-mode analogue of the reference's
    per-record emission.
    """
    out_schema = T.StructType([
        T.StructField(group_col, T.StringType()),
        T.StructField(item_col, T.StringType()),
        T.StructField("count", T.LongType()),
        T.StructField("rank", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("js", T.StringType())])

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = _state_json(state)
        for pdf in pdfs:
            for item in pdf[item_col]:
                item = str(item)
                counts[item] = counts.get(item, 0) + 1
        if len(counts) > 1000:
            keep = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:1000]
            counts = dict(keep)
        state.update((json.dumps(counts),))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        yield pd.DataFrame(
            [
                {group_col: key[0], item_col: item, "count": n, "rank": i + 1}
                for i, (item, n) in enumerate(top)
            ],
            columns=[f.name for f in out_schema.fields],
        )

    return df.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
