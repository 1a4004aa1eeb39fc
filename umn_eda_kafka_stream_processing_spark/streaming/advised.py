"""Sketch-advised streaming enrichment: the advisor loop IN a pipeline.

`operators/skew.py:decide_join_strategy` prices a join from standing
Count-Min registers (`sketches.cms_register_stats`) with zero planning
jobs; this module is its streaming CONSUMER: a foreachBatch pipeline
that maintains CMS registers for BOTH sides of its enrichment join
and re-decides the join's physical strategy every microbatch —
flipping broadcast → shuffle_hash → salted_shuffle_hash as the
dimension grows or the stream's key distribution skews, with results identical across all strategies
(join_with_strategy's property-tested contract).

Reference scope: the reference enriches streams against dim tables
with a fixed topology (samples/PurchaseEventTicket.java:44-66 joins
are planned once); at 100 TB the build side's size and the stream's
skew DRIFT, and a fixed plan is either a broadcast OOM or a needless
firehose shuffle. Here the plan is data: decisions land in a
replay-safe log store, auditable next to the registers that made
them.

Scale shape per batch:

* register maintenance is one ≤1024-row upsert per side into a
  replay-safe batch-keyed `stores.BatchStore` (`cms_registers`
  payload, `merge_cms` merge);
* the DECISION reads only the two register stores (≤1024·batches
  rows; horizon-collapsible) — never the data;
* the join executes through `join_with_strategy`, and the enriched
  output is one more `BatchStore`, so an at-least-once replay rewrites
  its own partition.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.operators.sketches import (
    cms_register_stats,
    cms_registers,
    merge_cms,
)
from umn_eda_kafka_stream_processing_spark.operators.skew import (
    ADVISOR_MAX_SHARE_MICRO,
    BROADCAST_MAX_ROWS,
    decide_join_strategy,
    join_with_strategy,
    require_left_preserving,
)
from umn_eda_kafka_stream_processing_spark.stores import (
    CMS_HORIZON,
    BatchStore,
    SnapshotStore,
    run_concurrently,
)


def make_dim_changelog_batch_fn(
    spark: SparkSession,
    *,
    dim_snapshot_path: str,
    regs_path: str,
    key_cols: str | Sequence[str],
    collapse_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callable for the DIMENSION changelog: upsert the
    batch into the latest-wins dim snapshot (the GlobalKTable
    materialization, `stores.SnapshotStore`) and
    land the batch's CMS registers for the join key — the build
    side's standing size/skew sketch. Both writes are replay-safe
    (latest-wins keying), so the pair replays to a no-op.

    ``collapse_every=N`` folds register batches at/below
    ``batch_id - 1`` into one base every N batches
    (`BatchStore.collapse` with the CMS sum merge — decision-
    invariant), bounding the advisor's per-batch register read to
    O(1024 + N) rows instead of growing one batch forever. The
    horizon is THIS stream's own batch ids (never another stream's
    clock), and ``batch_id - 1`` keeps the only replayable batch
    (the last — Structured Streaming's replay shape) out of the
    fold; the marker guard no-ops deeper stragglers."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    dim = SnapshotStore(spark, dim_snapshot_path, keys, order="event_seq")
    regs = BatchStore(spark, regs_path, merge_cms, CMS_HORIZON)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        # no localCheckpoint: a microbatch frame comes from the
        # SOURCE, never from the stores this fn writes, so the
        # checkpoint bought nothing but a job per batch (round-12
        # verdict on the census's job floor); the dim upsert still
        # checkpoints internally when a merge reads its own path. A
        # caller feeding frames DERIVED from these stores must
        # checkpoint them itself (the GlobalKTable lineage rule).
        #
        # The two writes touch DISJOINT stores and neither reads the
        # other's path, so they submit as concurrent Spark jobs: each
        # tiny store write is mostly scheduler latency, and
        # overlapping them takes the per-batch wall from the SUM to
        # the MAX of the two.
        run_concurrently(
            lambda: dim.upsert(batch_df, F.lit(int(batch_id))),
            lambda: regs.upsert(
                batch_id, cms_registers(batch_df, keys[0])
            ),
        )
        if collapse_every and batch_id > 0 and batch_id % collapse_every == 0:
            regs.collapse(int(batch_id) - 1)

    return fn


def make_advised_enrichment_batch_fn(
    spark: SparkSession,
    *,
    dim_snapshot_path: str,
    left_regs_path: str,
    right_regs_path: str,
    out_path: str,
    decisions_path: str,
    on: str | Sequence[str],
    how: str = "inner",
    max_broadcast_rows: int = BROADCAST_MAX_ROWS,
    max_share_micro: int = ADVISOR_MAX_SHARE_MICRO,
    salt_buckets: int = 16,
    collapse_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callable for the FACT stream: per microbatch,

    1. land the batch's CMS registers for the probe key (the
       stream's cumulative key distribution — what the salting
       decision prices);
    2. price the ONE-ROW decision from the register state
       (`cms_register_stats` + `decide_join_strategy` over the
       driver-cached fold — zero Spark jobs touch fact or dim data, and the decision
       itself schedules NO job at all: the fact fold rides the
       upsert's own aggregation, the dim rows re-collect only when
       the right store's batch listing changes);
    3. enrich the batch against a FRESH dim snapshot read (the
       GlobalKTable refresh rule: never cache the dim across
       batches) via `join_with_strategy` under the decided shape;
    4. write the enriched batch as batch ``N`` of the `BatchStore`
       at ``out_path`` (a replayed batch rewrites its own partition)
       and the decision row into the replay-safe ``decisions_path``
       log keyed by batch_id.

    ``how`` must be left-preserving (inner/left/semi/anti) — the
    salted branch explodes the right side per salt (salted_join's
    contract) — and is checked here, when the callable is built,
    not on the first batch that happens to salt.

    PRECONDITION: the dim changelog must land its FIRST batch before
    the fact stream processes one — a fact batch against a
    never-written dim store fails its read (the dim's schema cannot
    be fabricated) and the batch FAILS, which is the safe outcome:
    Structured Streaming replays it from the checkpoint, and the
    replay succeeds once the dim lands. Recoverable by design, never
    silent fact loss.

    ``collapse_every=N`` folds the LEFT (fact) register store's
    batches at/below ``batch_id - 1`` every N batches — see
    `make_dim_changelog_batch_fn` (the dim side collapses on its own
    clock there; this side never touches the right store's ids)."""
    require_left_preserving(how)
    keys = [on] if isinstance(on, str) else list(on)
    left = BatchStore(spark, left_regs_path, merge_cms, CMS_HORIZON)
    right = BatchStore(spark, right_regs_path, merge_cms, CMS_HORIZON)
    decisions = BatchStore(spark, decisions_path)
    out = BatchStore(spark, out_path)
    # DRIVER-CACHED register state (the per-batch decision fast path):
    # CMS registers are <= 1024 rows by construction, so the fact
    # side folds its own upserts into a driver dict and the dim side
    # re-collects ONLY when the right store's batch listing changes
    # (one metadata FS listing per batch). The decision then runs in
    # pure Python (cms_register_stats + decide_join_strategy, pinned
    # against the DuckDB oracle SQL) instead of scheduling a
    # multi-stage Spark plan per microbatch; the register STORES stay the recovery/audit source:
    # a fresh driver (restart, failover) rebuilds the fold from one
    # store read, and every downstream census still reads the stores.
    state: dict = {"cum": None, "last_id": None, "last_regs": None,
                   "right_ids": None, "right_rows": None}

    def _store_rows(store: BatchStore):
        regs = store.read()
        if regs is None:
            return []
        return [(r["row"], r["bucket"], r["cnt"]) for r in regs.collect()]

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        # no localCheckpoint — the source-derived microbatch never
        # reads the stores written here (see make_dim_changelog_
        # batch_fn); the frame's lineage is recomputed once for the
        # register upsert and once for the enrichment write, both
        # cheaper than materializing every batch
        b = batch_df
        if state["cum"] is None:
            # first call on this driver: rebuild the fold from the
            # store (empty store -> empty fold)
            state["cum"] = {}
            for r, bk, c in _store_rows(left):
                state["cum"][(r, bk)] = state["cum"].get((r, bk), 0) + c
        regs_frame = None
        if not left.closed(batch_id):
            # ONE aggregation job yields the batch registers for BOTH
            # consumers: the driver fold (decision input) and the
            # store write (replay-safe batch-keyed partition, written
            # from the collected rows as a 1-partition local frame —
            # no second aggregation, no repartition shuffle)
            regs = [
                (r["row"], r["bucket"], r["cnt"])
                for r in cms_registers(b, keys[0]).collect()
            ]
            if state["last_id"] == int(batch_id):
                # replay of the last batch (the Structured Streaming
                # replay shape): replace its contribution, not re-add
                for (r, bk), c in state["last_regs"].items():
                    state["cum"][(r, bk)] -= c
            new = {(r, bk): c for r, bk, c in regs}
            for (r, bk), c in new.items():
                state["cum"][(r, bk)] = state["cum"].get((r, bk), 0) + c
            state["last_id"], state["last_regs"] = int(batch_id), new
            regs_frame = spark.createDataFrame(
                spark.sparkContext.parallelize(regs, 1),
                "row int, bucket long, cnt long",
            )

        def registers() -> None:
            # the register STORE is independent of everything else in
            # the batch (the decision reads the driver fold, never this
            # store), so its write and fold overlap the enrichment;
            # the fold is sum-preserving: the driver cum is unchanged
            if regs_frame is not None:
                left.upsert(batch_id, regs_frame, write_coalesce=None)
            if collapse_every and batch_id > 0 and batch_id % collapse_every == 0:
                left.collapse(int(batch_id) - 1)

        def enrich() -> None:
            right_ids = tuple(right.batch_ids())
            if right_ids != state["right_ids"]:
                state["right_rows"] = _store_rows(right)
                state["right_ids"] = right_ids
            stats = cms_register_stats(
                [(r, bk, c) for (r, bk), c in state["cum"].items() if c],
                state["right_rows"],
            )
            decision = stats | decide_join_strategy(
                stats["rows_left"],
                stats["top_cnt_left_ub"],
                stats["rows_right"],
                max_broadcast_rows=max_broadcast_rows,
                max_share_micro=max_share_micro,
            )
            dim = spark.read.parquet(dim_snapshot_path)
            enriched = join_with_strategy(
                b, dim, keys, decision, how=how, salt_buckets=salt_buckets
            )
            # est stays DECIMAL(38,0) end-to-end: two ~1e12-row
            # registers dot past BIGINT, and this log is a generic
            # consumer that does NOT know the scale (the r11 advisor
            # rule). ONE-partition local frame: a bare createDataFrame
            # slices one row across defaultParallelism empty
            # partitions, and the repartition(1) the store write would
            # then need is a many-task shuffle costing ~3 s of pure
            # scheduling per batch (measured r14). parallelize([row],
            # 1) starts at one partition, so the write needs none.
            log = spark.createDataFrame(
                spark.sparkContext.parallelize(
                    [
                        (
                            decision["strategy"],
                            int(decision["rows_left"]),
                            int(decision["rows_right"]),
                            int(decision["top_cnt_left_ub"]),
                            int(decision["share_left_micro_ub"]),
                            Decimal(decision["est_join_rows"]),
                        )
                    ],
                    1,
                ),
                "strategy string, rows_left long, "
                "rows_right long, top_cnt_left_ub long, "
                "share_left_micro_ub long, est_join_rows decimal(38,0)",
            )
            # the enriched output and the one-row decision log (batch-
            # keyed: a replay — only ever the LAST batch, so the
            # register state it reads is unchanged — rewrites the same
            # partition) touch DISJOINT stores
            run_concurrently(
                lambda: out.upsert(batch_id, enriched, write_coalesce=None),
                lambda: decisions.upsert(batch_id, log, write_coalesce=None),
            )

        # joins both before the batch commits, even when one fails
        run_concurrently(registers, enrich)

    return fn


def read_decisions(spark: SparkSession, decisions_path: str) -> DataFrame:
    """The pipeline's decision log: one row per fact batch with the
    strategy it executed and the sketch scalars that chose it."""
    return BatchStore(spark, decisions_path).scan().select(
        "batch_id",
        "strategy",
        "rows_left",
        "rows_right",
        "top_cnt_left_ub",
        "share_left_micro_ub",
        "est_join_rows",
    )
