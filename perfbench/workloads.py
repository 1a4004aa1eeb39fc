"""The benchmark's three workloads and their output checks.

Each workload stages its inputs (``stage``), warms a fresh session
(``warmup``), runs one pass over its whole fixed input (``run_pass``)
and counts failed or mismatching operations. A pass returns its wall
time, its operation times, the input rows it processed and, on traced
passes, per-layer counts.

* ``replay``         — Structured Streaming catch-up of three Utopia
  topologies over Kafka-framed files; an operation is a micro-batch.
* ``store-pipeline`` — the sketch-advised enrichment store pipeline
  driven batch by batch; an operation is a dim/fact batch pair (plus
  one replayed fact batch).
* ``catalog``        — a fixed mix of catalog queries run warm with the
  noop sink; an operation is a query.
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import os
import statistics
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import types as T

import gen
from probe import ProgressListener, SparkProbe, Tracer, list_store
from umn_eda_kafka_stream_processing_spark import schemas
from umn_eda_kafka_stream_processing_spark.pipelines.topologies import run_batch, run_stream
from umn_eda_kafka_stream_processing_spark.plans import REGISTRY
from umn_eda_kafka_stream_processing_spark.sources.kafka import decode_json_topic
from umn_eda_kafka_stream_processing_spark.sources.parquet import TESTDATA_TABLES
from umn_eda_kafka_stream_processing_spark.streaming.advised import (
    make_advised_enrichment_batch_fn,
    make_dim_changelog_batch_fn,
)
from umn_eda_kafka_stream_processing_spark.streaming.runner import (
    file_stream_source,
    start_foreach_batch_sink,
)
from tools.check_oracle import norm_rows

clock = time.perf_counter


class Ctx:
    """What one pass records: spans, Spark counters and stream progress
    on traced passes; nothing but wall times on untraced ones."""

    def __init__(self, spark, traced: bool) -> None:
        self.traced = traced
        self.tracer = Tracer(traced)
        self.probe = SparkProbe(spark) if traced else None
        self.listener = ProgressListener() if traced else None
        self.spark_totals: dict[str, int] = {}
        self.spark_ops: list[dict] = []  # one record per operation, for the artifact

    @contextlib.contextmanager
    def op(self, label: str, into: dict | None = None):
        """Spark counters of the body, added to the pass totals (and to
        ``into``); does nothing on untraced passes."""
        if self.probe is None:
            yield
            return
        first = self.probe.start(label)
        try:
            yield
        finally:
            with self.tracer.span("probe"):
                rec = self.probe.finish(first)
            self.spark_ops.append({"op": label, **rec})
            for k, v in rec.items():
                self.spark_totals[k] = self.spark_totals.get(k, 0) + v
                if into is not None:
                    into[k] = into.get(k, 0) + v


# ----------------------------------------------------------- result checks


def result_hash(cols, rows) -> str:
    """Order-insensitive hash of a result under the catalog's oracle
    comparison rule (``tools/check_oracle.norm_rows``)."""
    payload = json.dumps([sorted(cols), norm_rows(cols, rows)])
    return hashlib.md5(payload.encode()).hexdigest()


def failed_queries(spark_hashes: dict[str, str], oracle_hashes: dict[str, str]) -> set[str]:
    """Catalog queries whose Spark result does not hash-match its oracle."""
    return {q for q, h in spark_hashes.items() if oracle_hashes.get(q) != h}


def failed_topologies(final: dict[str, dict], reference: dict[str, str],
                      cols: dict[str, tuple]) -> set[str]:
    """Topologies whose final per-key stream output differs from the
    batch run over the same backlog."""
    bad = set()
    for name, per_key in final.items():
        rows = [r for key_rows in per_key.values() for r in key_rows]
        if result_hash(cols[name], rows) != reference[name]:
            bad.add(name)
    return bad


def failed_store_ops(expected: list[dict], before: dict, after: dict) -> set[str]:
    """Store-pipeline operations that failed their check: pair ``b``
    when batch b's join rows or revenue differ from the direct join,
    ``replay`` when the replayed batch changed the output or the
    decision log."""
    bad = {f"pair{e['batch_id']}" for e in expected
           if before["out"].get(e["batch_id"]) != (e["join_rows"], e["revenue_cents"])}
    if len(before["decisions"]) != len(expected):
        bad.update(f"pair{e['batch_id']}" for e in expected)
    if after != before:
        bad.add("replay")
    return bad


def tail(values: list[float]) -> float:
    """p90 of the operation times, interpolated between the two order
    statistics around it (``statistics.quantiles``, inclusive method),
    so the tail of a run rests on more than its single slowest
    operation."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


# ------------------------------------------------------------------ replay

KAFKA_RAW = T.StructType([
    T.StructField("key", T.BinaryType()),
    T.StructField("value", T.BinaryType()),
    T.StructField("topic", T.StringType()),
    T.StructField("partition", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("timestamp", T.TimestampType()),
])

# name, topic, entity, output columns, per-key columns of the final state
TOPOLOGIES = (
    ("PurchaseEventTicket", "tickets", "ticket",
     ("eventid", "ticketid", "customerid", "confirmation_status", "branch",
      "remaining_tickets", "total_requested"), ("ticketid",)),
    ("TopCustomerArtists", "streams", "stream",
     ("customerid", "artistid", "count", "rank"), ("customerid",)),
    ("TopStreamingArtistByState", "streams", "stream",
     ("key", "artistid", "artistname", "state", "count"), ("key",)),
)
TOPOLOGY_COLS = {t[0]: t[3] for t in TOPOLOGIES}


class Replay:
    name = "replay"
    pass_s = 10.0  # nominal seconds per pass: --seconds / pass_s passes are measured

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed

    def stage(self) -> None:
        self.layout = gen.stage_replay(os.path.join(self.work, "replay"), self.seed)
        # events each pass reads: tickets once, the stream backlog once per stream topology
        self.rows = sum(self.layout["rows"][t[1]] for t in TOPOLOGIES)

    def warmup(self, spark) -> None:
        """One full pass on its own checkpoints: the first pass after a
        session build runs markedly slower than later ones (JIT,
        codegen, Python workers)."""
        self._replay(spark, self.layout, Ctx(spark, False), "warm")

    def prepare(self, spark, probe: SparkProbe) -> dict:
        return {}

    def run_pass(self, spark, ctx: Ctx, tag: str) -> dict:
        return self._replay(spark, self.layout, ctx, tag)

    def _replay(self, spark, layout: dict, ctx: Ctx, tag: str) -> dict:
        dims = {k: spark.read.parquet(p) for k, p in layout["dims"].items()}
        wall, ops, final, progress = 0.0, [], {}, []
        if ctx.listener is not None:
            spark.streams.addListener(ctx.listener)
        try:
            for name, topic, entity, cols, key_cols in TOPOLOGIES:
                state: dict = {}
                final[name] = state
                with ctx.tracer.span("topology", op=name), ctx.op(name):
                    t0 = clock()
                    drain: dict = {}

                    def sink(batch_df, batch_id, cols=cols, key_cols=key_cols, state=state,
                             drain=drain):
                        # runs on the streaming thread's callback, under the drain span
                        with ctx.tracer.span("sink", op=str(batch_id), parent=drain.get("id")):
                            rows = batch_df.select(*cols).collect()
                        fresh: dict = {}
                        for r in rows:
                            fresh.setdefault(tuple(r[k] for k in key_cols), []).append(tuple(r))
                        state.update(fresh)

                    with ctx.tracer.span("run_stream"):
                        src = file_stream_source(spark, layout["topics"][topic], KAFKA_RAW,
                                                 max_files_per_trigger=1)
                        out = run_stream(name, {entity: decode_json_topic(
                            src, schemas.ENTITY_SCHEMAS[entity])}, dims)
                    ckpt = os.path.join(self.work, "ckpt", f"{tag}-{name}")
                    with ctx.tracer.span("drain") as drain["id"]:
                        q = start_foreach_batch_sink(out, sink, checkpoint_dir=ckpt)
                        try:
                            q.processAllAvailable()
                        finally:
                            with ctx.tracer.span("stop"):
                                q.stop()
                    wall += clock() - t0
                batches = [json.loads(p.json) for p in q.recentProgress]
                batches = [p for p in batches if p["numInputRows"] > 0]
                ops += [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
                if ctx.listener is not None:
                    got = ctx.listener.wait_for(q.id, len(q.recentProgress))
                    progress += [p for p in got if p["numInputRows"] > 0]
        finally:
            if ctx.listener is not None:
                spark.streams.removeListener(ctx.listener)
        res = {"wall": wall, "ops": ops, "rows": self.rows, "final": final, "failed_ops": 0}
        if ctx.traced:
            res["layers"] = _progress_layers(progress)
        return res

    def check(self, spark, passes: list[dict]) -> None:
        """Mark every micro-batch of a topology failed in each pass whose
        final per-key output differs from ``run_batch`` over the backlog."""
        def topic(t):
            return spark.read.schema(KAFKA_RAW).parquet(self.layout["topics"][t])

        tables = {k: spark.read.parquet(p) for k, p in self.layout["dims"].items()}
        tables["ticket"] = decode_json_topic(topic("tickets"), schemas.TICKET)
        tables["stream"] = decode_json_topic(topic("streams"), schemas.STREAM)
        reference = {}
        for name, _, _, cols, _ in TOPOLOGIES:
            rows = [tuple(r) for r in run_batch(name, tables).select(*cols).collect()]
            reference[name] = result_hash(cols, rows)
        topic_of = {t[0]: t[1] for t in TOPOLOGIES}
        for res in passes:
            bad = failed_topologies(res.pop("final"), reference, TOPOLOGY_COLS)
            res["failed_ops"] += sum(gen.REPLAY_BATCHES[topic_of[name]] for name in bad)
            res["failed"] = sorted(bad)


def _progress_layers(progress: list[dict]) -> dict:
    """Per-pass stream and state counts from StreamingQueryProgress."""
    def med(key_fn):
        vals = [key_fn(p) for p in progress]
        return float(np.median(vals)) if vals else 0.0

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    def state(p, key):
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    last_total: dict[str, int] = {}
    for p in progress:
        last_total[p["id"]] = state(p, "numRowsTotal")
    return {
        "sources.input_rows": sum(p["numInputRows"] for p in progress),
        "sources.get_batch_ms": med(lambda p: dur(p, "getBatch", "latestOffset")),
        "stream.trigger_ms": med(lambda p: dur(p, "triggerExecution")),
        "stream.add_batch_ms": med(lambda p: dur(p, "addBatch")),
        "stream.planning_ms": med(lambda p: dur(p, "queryPlanning")),
        "stream.wal_commit_ms": med(lambda p: dur(p, "walCommit")),
        "state.rows_total": sum(last_total.values()),
        "state.rows_updated": sum(state(p, "numRowsUpdated") for p in progress),
        "state.memory_bytes": max((state(p, "memoryUsedBytes") for p in progress), default=0),
        "state.commit_ms": med(lambda p: state(p, "commitTimeMs")),
    }


# ------------------------------------------------------------------- store

DECISION_COLS = ("batch_id", "strategy", "rows_left", "rows_right", "top_cnt_left_ub",
                 "share_left_micro_ub", "est_join_rows")
STRATEGIES = ("broadcast", "shuffle_hash", "salted_shuffle_hash")


def read_store_state(root: str) -> dict:
    """Per-batch (join rows, revenue cents) of the enriched output and
    the decision log rows, read with pyarrow (no Spark job)."""
    out = ds.dataset(os.path.join(root, "out"), format="parquet", partitioning="hive")
    t = out.to_table(columns=["batch_id", "price"])
    cents = pc.cast(pc.floor(pc.add(pc.multiply(t["price"], 100.0), 0.5)), "int64")
    per: dict[int, tuple[int, int]] = {}
    for b, c in zip(t["batch_id"].to_pylist(), cents.to_pylist()):
        n, s = per.get(b, (0, 0))
        per[b] = (n + 1, s + c)
    dec = ds.dataset(os.path.join(root, "decisions"), format="parquet",
                     partitioning="hive").to_table(columns=list(DECISION_COLS))
    rows = sorted(tuple(str(v) for v in r.values()) for r in dec.to_pylist())
    return {"out": per, "decisions": rows}


class StorePipeline:
    name = "store-pipeline"
    pass_s = 12.0

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed

    def stage(self) -> None:
        self.layout = gen.stage_store(os.path.join(self.work, "store-in"), self.seed)
        last = self.layout["fact"][-1]
        self.rows = self.layout["fact_rows"] + gen.STORE_FACTS_PER_BATCH  # + the replayed batch
        self.input_bytes = self.layout["input_bytes"] + os.path.getsize(last)

    def _fns(self, spark, root: str):
        dim_fn = make_dim_changelog_batch_fn(
            spark, dim_snapshot_path=f"{root}/dim", regs_path=f"{root}/rregs", key_cols="k")
        fact_fn = make_advised_enrichment_batch_fn(
            spark, dim_snapshot_path=f"{root}/dim", left_regs_path=f"{root}/lregs",
            right_regs_path=f"{root}/rregs", out_path=f"{root}/out",
            decisions_path=f"{root}/decisions", on="k",
            max_broadcast_rows=gen.STORE_MAX_BROADCAST_ROWS, salt_buckets=8)
        return dim_fn, fact_fn

    def warmup(self, spark) -> None:
        """One full pass into its own store root: the first pass after a
        session build runs markedly slower than later ones (JIT, codegen)."""
        self.run_pass(spark, Ctx(spark, False), "warm")

    def prepare(self, spark, probe: SparkProbe) -> dict:
        return {}

    def run_pass(self, spark, ctx: Ctx, tag: str) -> dict:
        root = os.path.join(self.work, f"store-{tag}")
        dim_fn, fact_fn = self._fns(spark, root)
        read = spark.read.parquet
        ops, calls = [], {"dim_call": [], "fact_call": [], "replay_call": []}
        pair_jobs, written, prev = [], {}, {}

        def call(kind: str, fn, path: str, b: int, into: dict) -> float:
            with ctx.tracer.span(kind, op=str(b)), ctx.op(f"{kind}{b}", into):
                t0 = clock()
                fn(read(path), b)
                dt = clock() - t0
            calls[kind].append(dt)
            if ctx.traced:
                with ctx.tracer.span("listing"):
                    now = list_store(root)
                written.update({p: s for p, s in now.items() if p not in prev})
                prev.clear()
                prev.update(now)
            return dt

        for b in range(gen.STORE_BATCHES):
            counts: dict = {}
            with ctx.tracer.span("pair", op=str(b)):
                ops.append(call("dim_call", dim_fn, self.layout["dim"][b], b, counts)
                           + call("fact_call", fact_fn, self.layout["fact"][b], b, counts))
            pair_jobs.append(counts.get("jobs", 0))
        before = read_store_state(root)
        last = gen.STORE_BATCHES - 1
        ops.append(call("replay_call", fact_fn, self.layout["fact"][last], last, {}))
        after = read_store_state(root)
        bad = failed_store_ops(self.layout["expected"], before, after)
        res = {"wall": sum(ops), "ops": ops, "rows": self.rows, "failed_ops": len(bad),
               "failed": sorted(bad)}
        if ctx.traced:
            strategies = [r[DECISION_COLS.index("strategy")] for r in after["decisions"]]
            live = list_store(root)
            res["layers"] = {
                "store.dim_call_s": float(np.median(calls["dim_call"])),
                "store.fact_call_s": float(np.median(calls["fact_call"])),
                "store.replay_call_s": float(np.median(calls["replay_call"])),
                "store.files_written": len(written),
                "store.bytes_written": sum(written.values()),
                "store.bytes_per_input_byte": sum(written.values()) / self.input_bytes,
                "store.files_live": len(live),
                "store.jobs_per_pair": float(np.median(pair_jobs)),
                **{f"advisor.{s}": strategies.count(s) for s in STRATEGIES},
            }
            res["pair_jobs"] = pair_jobs
            res["decisions"] = strategies
        return res

    def check(self, spark, passes: list[dict]) -> None:
        pass  # every pass checks itself against the staged expectations


# ----------------------------------------------------------------- catalog

# Read-heavy control workload: scan/join/aggregate shapes from the TPC-H
# family, scenario and window catalogs, plus a session-cached corpus
# query (dedup_pipeline_summary) that exercises the caching layer.
CATALOG_MIX = (
    "q1_pricing_summary", "top_event_types_per_user", "out_of_nation_sales",
    "order_capacity_confirmation", "top_supplier_by_customers", "session_event_counts",
    "dedup_pipeline_summary",
)
# the repository's fixed sf0.01 testdata (seed 42), copied into the benchmark
CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class Catalog:
    name = "catalog"
    pass_s = 5.0

    def __init__(self, work: str, seed: int, cache_dir: str) -> None:
        self.work, self.seed, self.cache_dir = work, seed, cache_dir
        self.sf_dir = CATALOG_DIR

    def stage(self) -> None:
        order = np.random.default_rng([self.seed, 3]).permutation(len(CATALOG_MIX))
        self.order = [CATALOG_MIX[i] for i in order]

    def _collect_hashes(self, spark, windows: dict | None = None) -> dict[str, str]:
        """Collect every query's result and hash it; with ``windows``,
        also keep each query's job-id window."""
        jsc = spark.sparkContext._jsc.sc()
        out = {}
        for q in self.order:
            first = jsc.dagScheduler().nextJobId()
            df = REGISTRY[q].spark(spark, self.sf_dir)
            out[q] = result_hash(df.columns, [tuple(r) for r in df.collect()])
            if windows is not None:
                windows[q] = (first, jsc.dagScheduler().nextJobId())
            _release_persisted(spark)
        return out

    def warmup(self, spark) -> None:
        """One pass that collects every result and builds the session
        caches; each query's job-id window is kept so its scanned rows
        can be read afterwards."""
        self.windows: dict = {}
        self.hashes = self._collect_hashes(spark, self.windows)

    def prepare(self, spark, probe: SparkProbe) -> dict:
        """Hash-check the warm-up's results against the DuckDB oracles and
        count the input rows each query scans."""
        input_rows = {q: probe.counters(*w)["input_records"] for q, w in self.windows.items()}
        self.oracle = self._oracle_hashes()
        self.failed = failed_queries(self.hashes, self.oracle)
        self.rows = sum(input_rows.values())
        return {"failed_queries": sorted(self.failed), "input_rows": input_rows}

    def _oracle_hashes(self) -> dict[str, str]:
        """Oracle result hashes on DuckDB, cached by (oracle SQL, table
        bytes): the data is fixed, so a checkout computes each once."""
        import duckdb

        data = hashlib.md5()
        for t in TESTDATA_TABLES:
            with open(os.path.join(self.sf_dir, f"{t}.parquet"), "rb") as f:
                data.update(f.read())
        os.makedirs(self.cache_dir, exist_ok=True)
        out, con = {}, None
        for q in self.order:
            sql = REGISTRY[q].oracle
            key = hashlib.md5((sql + data.hexdigest()).encode()).hexdigest()
            path = os.path.join(self.cache_dir, f"{key}.json")
            if os.path.exists(path):
                with open(path) as f:
                    out[q] = json.load(f)["hash"]
                continue
            if con is None:
                con = duckdb.connect()
                for t in TESTDATA_TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{self.sf_dir}/{t}.parquet')")
            res = con.execute(sql)
            out[q] = result_hash([d[0] for d in res.description], res.fetchall())
            with open(path, "w") as f:
                json.dump({"query": q, "hash": out[q]}, f)
        if con is not None:
            con.close()
        return out

    def run_pass(self, spark, ctx: Ctx, tag: str) -> dict:
        ops, construct, execute = [], {"s": 0.0, "jobs": 0}, {"s": 0.0, "jobs": 0}
        for q in self.order:
            with ctx.tracer.span("query", op=q):
                c: dict = {}
                with ctx.tracer.span("construct"), ctx.op(f"construct:{q}", c):
                    t0 = clock()
                    df = REGISTRY[q].spark(spark, self.sf_dir)
                    t1 = clock()
                e: dict = {}
                with ctx.tracer.span("exec"), ctx.op(f"exec:{q}", e):
                    t2 = clock()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = clock()
            ops.append((t1 - t0) + (t3 - t2))
            construct["s"] += t1 - t0
            execute["s"] += t3 - t2
            construct["jobs"] += c.get("jobs", 0)
            execute["jobs"] += e.get("jobs", 0)
            _release_persisted(spark)
        res = {"wall": sum(ops), "ops": ops, "rows": self.rows, "failed_ops": 0, "failed": []}
        if ctx.traced:
            res["layers"] = {"plans.construct_s": construct["s"],
                             "plans.construct_jobs": construct["jobs"],
                             "exec.s": execute["s"], "exec.jobs": execute["jobs"]}
        return res

    def check(self, spark, passes: list[dict]) -> None:
        """Collect every query once more on the warm session (the
        session-cached reads the passes timed, not the warm-up's cache
        builds) and hash-check it. A query that failed in the warm-up
        or here counts as failed in every pass: each pass ran the same
        plans on the same session."""
        recheck = failed_queries(self._collect_hashes(spark), self.oracle)
        bad = self.failed | recheck
        for res in passes:
            res["failed"] = [q for q in self.order if q in bad]
            res["failed_ops"] = len(res["failed"])
            res["failed_recheck"] = sorted(recheck)


def _release_persisted(spark) -> None:
    """Unpersist what a query materialized before the next one runs,
    outside the timed region (``bench.py`` runs the same sweep inline
    between its runs)."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    if persisted:
        gc.collect()
        for jrdd in persisted.values():
            jrdd.unpersist()
        spark.sparkContext._jvm.System.gc()


def make(name: str, work: str, seed: int, cache_dir: str):
    if name == "replay":
        return Replay(work, seed)
    if name == "store-pipeline":
        return StorePipeline(work, seed)
    if name == "catalog":
        return Catalog(work, seed, cache_dir)
    raise SystemExit(f"unknown workload {name!r}")
