"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files (fixed writer settings, no wall-clock
values, no pandas metadata). Inputs are staged before any timing
starts; the program under test only ever sees these files.

* ``stage_replay``  — Kafka-framed topic backlogs (key, JSON value,
  offset, timestamp), one parquet file per micro-batch, plus the
  static dimension snapshots the stream-static joins read.
* ``stage_store``   — dimension changelog and fact batches for the
  advised enrichment store pipeline. Fact keys are Zipf-skewed and the
  exponent rises batch by batch, so the join decision flips from
  broadcast to salted partway through.

The catalog workload generates nothing: it reads the repository's
fixed sf0.01 testdata tables, copied under ``data/sf0.01``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KAFKA_TS0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, fixed for byte identity

# replay sizes: hot keys for the ticket topology, wide keys for the
# stream topologies (the two ways the state layer is used)
REPLAY_BATCHES = {"tickets": 2, "streams": 2}
REPLAY_TICKETS_PER_BATCH = 250
REPLAY_EVENTS = 24
REPLAY_STREAMS_PER_BATCH = 800
REPLAY_CUSTOMERS = 5000
REPLAY_ARTISTS = 200
STATES = ("MN", "WI", "IA", "ND", "SD", "IL", "MI", "OH", "TX", "CA")

# store-pipeline sizes: the dim grows by STORE_DIM_STEP keys per batch
# and the broadcast bar sits between batch 1 and batch 2's dim size
STORE_BATCHES = 4
STORE_DIM_STEP = 1500
STORE_FACTS_PER_BATCH = 20_000
STORE_ZIPF = (0.5, 0.8, 1.1, 1.4)
STORE_MAX_BROADCAST_ROWS = 2 * STORE_DIM_STEP + STORE_DIM_STEP // 2
STORE_UNMATCHED_SHARE = 0.02  # fact keys not (yet) in the dim: dropped by the inner join


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def zipf_ranks(rng: np.random.Generator, n_keys: int, s: float, size: int) -> np.ndarray:
    """``size`` draws of ranks 0..n_keys-1 with P(rank r) ∝ (r+1)^-s."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return rng.choice(n_keys, size=size, p=p / p.sum())


# ---------------------------------------------------------------- replay

KAFKA_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("ms", tz="UTC")),
])


def _kafka_file(topic: str, records: list[tuple[str, dict]], offset0: int) -> pa.Table:
    n = len(records)
    return pa.table({
        "key": pa.array([k.encode() for k, _ in records], pa.binary()),
        "value": pa.array([json.dumps(v).encode() for _, v in records], pa.binary()),
        "topic": pa.array([topic] * n, pa.string()),
        "partition": pa.array([0] * n, pa.int32()),
        "offset": pa.array(range(offset0, offset0 + n), pa.int64()),
        "timestamp": pa.array(
            [KAFKA_TS0_MS + 10 * (offset0 + i) for i in range(n)],
            pa.timestamp("ms", tz="UTC"),
        ),
    }, schema=KAFKA_SCHEMA)


def _entity_table(rows: list[dict], fields: list[tuple[str, pa.DataType]]) -> pa.Table:
    cols = {name: pa.array([r[name] for r in rows], typ) for name, typ in fields}
    cols["key"] = pa.array([r["id"] for r in rows], pa.string())
    cols["event_seq"] = pa.array(range(len(rows)), pa.int64())
    return pa.table(cols)


def stage_replay(root: str, seed: int) -> dict:
    """Write the replay backlogs under ``root``; returns their layout.

    Topics: ``tickets`` (Zipf-hot over REPLAY_EVENTS concerts, some of
    which sell out) and ``streams`` (uniform over REPLAY_CUSTOMERS
    customers, Zipf over artists). Topic t holds ``REPLAY_BATCHES[t]`` files;
    file mtimes are set in batch order so a file source with
    maxFilesPerTrigger=1 replays them as one micro-batch each."""
    rng = np.random.default_rng([seed, 1])

    artists = [{"id": f"a{i}", "name": f"artist-{i}", "genre": f"g{i % 12}"}
               for i in range(REPLAY_ARTISTS)]
    customers = [{"id": f"c{i}", "fname": f"f{i}", "lname": f"l{i}"}
                 for i in range(REPLAY_CUSTOMERS)]
    states = rng.integers(0, len(STATES), REPLAY_CUSTOMERS)
    addresses = [{"id": f"ad{i}", "customerid": f"c{i}", "state": STATES[st]}
                 for i, st in enumerate(states)]
    capacity = rng.integers(8, 40, REPLAY_EVENTS)
    events = [{"id": f"e{i}", "artistid": f"a{i % REPLAY_ARTISTS}",
               "venueid": f"v{i % 7}", "capacity": int(capacity[i]),
               "eventdate": "2024-06-01"} for i in range(REPLAY_EVENTS)]

    dims = {
        "artist": _entity_table(artists, [("id", pa.string()), ("name", pa.string()),
                                          ("genre", pa.string())]),
        "customer": _entity_table(customers, [("id", pa.string()), ("fname", pa.string()),
                                              ("lname", pa.string())]),
        "address": _entity_table(addresses, [("id", pa.string()), ("customerid", pa.string()),
                                             ("state", pa.string())]),
        "event": _entity_table(events, [("id", pa.string()), ("artistid", pa.string()),
                                        ("venueid", pa.string()), ("capacity", pa.int32()),
                                        ("eventdate", pa.string())]),
    }
    layout = {"dims": {}, "topics": {}, "rows": {}}
    for name, table in dims.items():
        path = os.path.join(root, "dims", f"{name}.parquet")
        _write(table, path)
        layout["dims"][name] = path

    n_tickets = REPLAY_BATCHES["tickets"] * REPLAY_TICKETS_PER_BATCH
    ticket_event = zipf_ranks(rng, REPLAY_EVENTS, 1.2, n_tickets)
    ticket_cust = rng.integers(0, REPLAY_CUSTOMERS, n_tickets)
    tickets = [
        (f"t{i}", {"id": f"t{i}", "customerid": f"c{c}", "eventid": f"e{e}",
                   "price": round(20.0 + (i % 50), 2)})
        for i, (e, c) in enumerate(zip(ticket_event, ticket_cust))
    ]
    n_streams = REPLAY_BATCHES["streams"] * REPLAY_STREAMS_PER_BATCH
    stream_cust = rng.integers(0, REPLAY_CUSTOMERS, n_streams)
    stream_artist = zipf_ranks(rng, REPLAY_ARTISTS, 1.0, n_streams)
    streams = [
        (f"s{i}", {"id": f"s{i}", "customerid": f"c{c}", "artistid": f"a{a}",
                   "streamtime": str(300 + i % 200)})
        for i, (c, a) in enumerate(zip(stream_cust, stream_artist))
    ]
    for topic, records in (("tickets", tickets), ("streams", streams)):
        per = len(records) // REPLAY_BATCHES[topic]
        paths = []
        for b in range(REPLAY_BATCHES[topic]):
            chunk = records[b * per:(b + 1) * per]
            path = os.path.join(root, "topics", topic, f"part-{b:05d}.parquet")
            _write(_kafka_file(topic, chunk, b * per), path)
            # mtime order == batch order (the file source sorts by mtime)
            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
            paths.append(path)
        layout["topics"][topic] = os.path.dirname(paths[0])
        layout["rows"][topic] = len(records)
    return layout


# ----------------------------------------------------------------- store


def stage_store(root: str, seed: int) -> dict:
    """Write the dim changelog and fact batches under ``root``.

    Dim batch b adds keys [b*STEP, (b+1)*STEP). Fact batch b draws
    keys Zipf(STORE_ZIPF[b]) over the keys the dim holds as of b
    through one seed-fixed rank→key permutation (so the same keys stay
    hot and the cumulative top-key share climbs), plus a small share
    of keys the dim does not hold yet. ``expected`` carries each
    batch's inner-join row count and revenue in cents."""
    rng = np.random.default_rng([seed, 2])
    layout = {"dim": [], "fact": [], "expected": [], "fact_rows": 0, "input_bytes": 0}
    hot_order = rng.permutation(STORE_DIM_STEP)  # rank → key, within batch 0's keys
    for b in range(STORE_BATCHES):
        lo, hi = b * STORE_DIM_STEP, (b + 1) * STORE_DIM_STEP
        dim = pa.table({
            "k": pa.array(np.arange(lo, hi), pa.int64()),
            "nation": pa.array(rng.integers(0, 25, hi - lo), pa.int32()),
            "name": pa.array([f"d{k}" for k in range(lo, hi)], pa.string()),
        })
        n_keys = hi
        ranks = zipf_ranks(rng, n_keys, STORE_ZIPF[b], STORE_FACTS_PER_BATCH)
        keymap = np.concatenate([hot_order, np.arange(STORE_DIM_STEP, n_keys)])
        keys = keymap[ranks]
        unmatched = rng.random(STORE_FACTS_PER_BATCH) < STORE_UNMATCHED_SHARE
        keys = np.where(unmatched, n_keys + rng.integers(0, STORE_DIM_STEP, keys.size), keys)
        cents = rng.integers(100, 100_000, STORE_FACTS_PER_BATCH)
        fact = pa.table({
            "k": pa.array(keys, pa.int64()),
            "fid": pa.array(np.arange(b * STORE_FACTS_PER_BATCH, (b + 1) * STORE_FACTS_PER_BATCH),
                            pa.int64()),
            "price": pa.array(cents / 100.0, pa.float64()),
        })
        for kind, table in (("dim", dim), ("fact", fact)):
            path = os.path.join(root, kind, f"batch-{b:03d}.parquet")
            _write(table, path)
            layout[kind].append(path)
            layout["input_bytes"] += os.path.getsize(path)
        matched = ~unmatched
        layout["expected"].append({
            "batch_id": b,
            "join_rows": int(matched.sum()),
            "revenue_cents": int(cents[matched].sum()),
        })
        layout["fact_rows"] += STORE_FACTS_PER_BATCH
    return layout
