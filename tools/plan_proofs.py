"""Generate PLAN_PROOFS.md: physical-plan receipts for the headline
operator families.

For each exhibit query this captures the executed plan (AQE final)
and extracts the evidence lines that matter at 100 TB — scan pruning
(PushedFilters / ReadSchema), broadcast vs shuffle joins, partial
top-k (WindowGroupLimit / TakeOrderedAndProject), exchange counts —
so a reviewer can audit the scale claims without re-running anything.

    python tools/plan_proofs.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import shutil
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from umn_eda_kafka_stream_processing_spark.plans import REGISTRY
from umn_eda_kafka_stream_processing_spark.session import get_spark

# (query, what the excerpt proves)
EXHIBITS = [
    ("q6_forecast_revenue",
     "filters + column pruning reach the parquet scan: the lineitem "
     "scan lists every predicate in PushedFilters and reads only the "
     "4 needed columns of 16"),
    ("events_occurred_total",
     "TIMESTAMP_NTZ literal predicate is pushdown-eligible (DataFilters "
     "on the scan; partial+final count, no shuffle of rows)"),
    ("priority_by_nation_matrix",
     "enrichment joins broadcast the dims — the fact side never "
     "shuffles for a dim join"),
    ("top_parttype_by_supplier",
     "grouped top-k plans as WindowGroupLimit: per-task partial top-k "
     "before the shuffle, not a full per-group sort"),
    ("top_supplier_by_customers",
     "global top-k plans as TakeOrderedAndProject (distributed partial "
     "top-k) — no unpartitioned Window sort of all suppliers"),
    ("minhash_lsh_pairs",
     "near-dup candidates come from an equi-keyed self-join on tiny "
     "(band, slice) keys — linear sketch, no cartesian"),
    ("embedding_srp_lsh_pairs",
     "blockless embedding LSH: band-key equi self-join + "
     "explicit-count repartitions (REPARTITION_BY_NUM) + exact verify "
     "pruned to candidates — no CartesianProduct, no "
     "BroadcastNestedLoopJoin"),
    ("user_activity_similarity_lsh",
     "the time-series similarity SCALE path: the same srp_lsh shape "
     "over 24-dim circadian profiles — equi-keyed band join, "
     "explicit-count repartition, no quadratic scoring"),
    ("simhash_near_pairs",
     "simhash near-pairs bucket on 4 16-bit chunks (pigeonhole for "
     "Hamming<=3): equi-join on (chunk_idx, chunk_val), never "
     "all-pairs"),
    ("dedup_exact_groups",
     "exact dedup is one hash aggregation on md5 — map-side partials, "
     "single exchange"),
    ("ann_pq_topk",
     "PQ search: codebooks and per-query ADC lookup tables ride "
     "BroadcastExchange; the corpus-side passes (encode + ADC) are "
     "broadcast joins + hash-aggs with map-side partials (argmin as "
     "min(struct)); the exact re-rank joins only the shortlist — no "
     "CartesianProduct, no full-vector corpus shuffle"),
    ("ann_ivfpq_topk",
     "IVFADC: the ADC scan joins codes to the per-(query, probed-"
     "bucket) LUTs on the BUCKET key (equi hash join — only probed "
     "buckets are read), LUTs/codebooks/centroids all ride "
     "BroadcastExchange, corpus-sized id joins are ShuffledHashJoin "
     "(never SMJ over vector rows), and the exact re-rank touches "
     "only the shortlist"),
    ("bloom_prejoin_stats",
     "bloom pre-join: the probe-side membership test is a literal-"
     "array bit expression inside the lineitem scan's filter — "
     "pruning happens BEFORE any exchange, and the true-match check "
     "broadcasts the selective build keys (no fact shuffle)"),
    ("semantic_dedup_pairs",
     "semantic dedup pairs only within k-means clusters: the "
     "self-join is an equi-keyed ShuffledHashJoin on the bucket id "
     "(wide array rows — never sort-merge), with the hot-cluster cap "
     "window reusing the same bucket exchange"),
    ("sketch_hll_users_by_type",
     "distinct-count sketch: constant-size registers merge in a "
     "hash-agg; no shuffle of distinct keys"),
    ("char_bigram_quality",
     "LM quality scoring: the trained bigram model rides ONE "
     "BroadcastExchange into the scoring join; training is hash-aggs "
     "with map-side partials over the exploded bigram stream — no "
     "UDF, no shuffle of raw text beyond the doc-id keyed average"),
    ("urgent_purchase_dom_pairs",
     "salted fact x fact join on a 31-value key: ShuffledHashJoin on "
     "(dom, salt) — the hot-key work spreads over salt_buckets "
     "reducers instead of at most 31, and each pair still matches "
     "exactly once (property-tested)"),
    ("q4_order_priority",
     "EXISTS subquery plans as ONE left-semi hash join on l_orderkey "
     "with the correlated lateness predicate as join condition — no "
     "per-row subquery, no second scan of lineitem"),
    ("q21_waiting_suppliers",
     "the EXISTS(other supplier) + NOT EXISTS(other late supplier) "
     "pair is one per-order aggregate re-joined shuffle-hash on the "
     "already-partitioned order key; supplier/nation/region dims "
     "broadcast"),
    ("q22_dormant_customers",
     "scalar AVG subquery broadcasts as one row (the only "
     "BroadcastNestedLoopJoin, 1-row build side); the dormancy NOT "
     "EXISTS is a left-anti hash join against the date-pruned "
     "recent-orders scan"),
    ("doc_length_quantiles_by_lang",
     "per-group exact quantiles with NO driver collect: every Window "
     "is partitioned (by group for the <=1024-row bucket offsets, by "
     "(group, bucket) for the in-bucket prefix), the probs frame "
     "rides BroadcastExchange, and the group-key joins are hash "
     "joins co-partitioned with the distinct-value agg"),
    ("broadcast_advisor_join_census",
     "the join-strategy advisor's two branches land in the plan it "
     "advertises: the small customer dim is a BroadcastHashJoin, the "
     "large lineitem aggregate a pinned ShuffledHashJoin — never an "
     "SMJ from a missing-stats byte estimate"),
    ("token_budget_mixture_stats",
     "budget sampling's rank pre-prune plans as WindowGroupLimit "
     "(per-task top-B before the domain shuffle); the running-sum "
     "window then scans only the pruned prefix — one exchange on the "
     "domain key for both windows"),
    ("token_budget_hist_stats",
     "the LARGE-budget regime: the per-domain cut comes from the "
     "grouped histogram — no row_number, no per-domain total-order "
     "window anywhere (the only domain-partitioned Window orders by "
     "the <=4096-row bucket id; the boundary tie window partitions "
     "by (domain, priority)); admission is a narrow filter"),
    ("benchmark_decontamination_census",
     "decontamination sweep: the benchmark gram set rides ONE "
     "BroadcastExchange into a left join over the exploded corpus "
     "grams, and totals + hits fold in a single map-side-combined "
     "hash-agg — one gram pass, no corpus-vs-corpus join"),
    ("hybrid_rrf_search_topk",
     "RRF fusion is dim-sized work: query terms broadcast into the "
     "postings join, both rankers' top-k windows partition by qid "
     "(never a global sort), and the fused score is one hash-agg "
     "over |queries| x k rows"),
    ("leakage_safe_split_census",
     "cluster-safe split: the checkpoint-built assignment lookups "
     "pin ShuffledHashJoin (stats-free frames never fall to SMJ), "
     "and the split hash itself is a narrow projection — no "
     "corpus-wide sort anywhere"),
]

KEEP = re.compile(
    r"PushedFilters|ReadSchema|DataFilters|PartitionFilters|"
    r"BroadcastHashJoin|BroadcastExchange|SortMergeJoin|ShuffledHashJoin|"
    r"CartesianProduct|BroadcastNestedLoopJoin|WindowGroupLimit|"
    r"TakeOrderedAndProject|Exchange|HashAggregate|photon|Window\b"
)


def _minhash_lazy(spark, sf_dir):
    """minhash_lsh_pairs with stage materialization OFF: the catalog
    query's plan string hides everything behind localCheckpoint scans,
    so the receipt captures the full lazy pipeline instead."""
    from umn_eda_kafka_stream_processing_spark.operators import dedup as dd
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

    return dd.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), materialize=False
    )


def _cc_round_plan(spark, sf_dir):
    """One label-propagation + pointer-jump round of near_dup_clusters
    built from a materialized label table — the plan that repeats
    O(log diameter) times (per-round checkpoints hide it from the
    catalog query's final plan)."""
    from umn_eda_kafka_stream_processing_spark.operators import dedup as dd
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

    pairs = dd.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint()
    a, b = "doc_id_a", "doc_id_b"
    und = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionByName(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )
    labels = (
        und.select(F.col("dst").alias("doc_id"), F.col("src").alias("cluster_id"))
        .unionByName(
            und.select(F.col("src").alias("doc_id"), F.col("src").alias("cluster_id"))
        )
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .localCheckpoint()
    )

    def _propagate():
        msgs = und.join(
            labels.select(
                F.col("doc_id").alias("src"), F.col("cluster_id").alias("nbr_label")
            ),
            "src",
        ).select(F.col("dst").alias("doc_id"), F.col("nbr_label"))
        return labels.unionByName(
            msgs.withColumnRenamed("nbr_label", "cluster_id")
        ).groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))

    jump = _propagate().select(
        F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("_jump")
    )
    return (
        _propagate()
        .join(jump, "cluster_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_jump"), F.col("cluster_id")).alias("cluster_id"),
        )
    )


def _global_table_plan(spark, sf_dir):
    """The microbatch shape of the GlobalKTable analogue
    (streaming/global_table.py): fact batch x broadcast compacted
    dim snapshot. The streaming path runs exactly this join per
    microbatch inside foreachBatch."""
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table
    from umn_eda_kafka_stream_processing_spark.streaming.global_table import (
        global_lookup_join,
    )

    facts = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey"
    )
    return global_lookup_join(facts, dim, "user_id")


def _fk_join_right_batch_plan(spark, sf_dir):
    """The KIP-213 FK-join right-batch fan-out against a BUCKET-
    partitioned left store (streaming/fk_join.py, n_fk_buckets):
    exactly the per-microbatch plan on_right_rows builds — the store's
    bucket-pruned read, broadcast FK semi-join, fk_join_snapshot — over
    a left store written by the same `SnapshotStore` the streaming
    path uses."""
    import tempfile

    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table
    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore
    from umn_eda_kafka_stream_processing_spark.streaming.fk_join import (
        fk_join_snapshot,
    )

    # cleaned up by main() after the plan string is captured (the
    # exhibit's scan must still be listable while it executes)
    root = tempfile.mkdtemp(prefix="fkplan-")
    _TEMP_ROOTS.append(root)
    left = SnapshotStore(
        spark, f"{root}/left", "ticket_id", "_fkb", "event_seq",
        n_buckets=32, bucket_on="event_id",
    )
    left.upsert(
        load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("ticket_id"),
            F.col("o_custkey").alias("event_id"),
            F.lit(1).cast("long").alias("event_seq"),
        )
    )
    rbatch = spark.createDataFrame([(1,), (2,), (3,)], "event_id long")
    touched = rbatch.select("event_id").distinct()
    affected = left.read(near=touched).join(
        F.broadcast(touched), "event_id", "left_semi"
    )
    right_snap = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("event_id"), F.col("c_name").alias("venue")
    )
    return fk_join_snapshot(
        affected, right_snap, "event_id", "event_id", "inner"
    ).drop("_fkb")


# scratch stores the custom exhibits write; removed by main() once
# every plan string is captured (round-6 advice: no leaked mkdtemp)
_TEMP_ROOTS: list[str] = []

# (name, what the excerpt proves, builder) — for plans the registry
# query hides behind stage checkpoints
CUSTOM_EXHIBITS = [
    ("fk_table_join (right-batch fan-out, bucketed left store)",
     "the left-store scan carries the touched FK buckets in "
     "PartitionFilters (bytes scanned O(affected buckets), never "
     "O(left table)), the affected-key prune is a broadcast semi-join, "
     "and the dimension-sized right snapshot broadcasts — the KIP-213 "
     "subscription lookup as one pruned microbatch plan",
     _fk_join_right_batch_plan),
    ("global_table_join (GlobalKTable microbatch shape)",
     "the stream-static dim lookup broadcasts the compacted snapshot "
     "(BroadcastExchange on the dim, BroadcastHashJoin) and the fact "
     "side has NO exchange — the no-co-partitioning guarantee of the "
     "reference's GlobalKTable join, run per microbatch in "
     "foreachBatch",
     _global_table_plan),
    ("minhash_lsh_pairs (lazy, full pipeline)",
     "the whole MinHash+LSH pipeline un-checkpointed: band-key equi "
     "self-join (hash join, never cartesian), inline estimate gate, "
     "explicit-count repartition (REPARTITION_BY_NUM), semi-join "
     "shingle prune before verification",
     _minhash_lazy),
    ("near_dup_clusters (one propagation round)",
     "the per-round connected-components plan: one shuffled min-agg "
     "plus one equi-keyed label self-join — repeated O(log diameter) "
     "times, no cartesian anywhere",
     _cc_round_plan),
]


def _section(spark, sf_dir, name, claim, builder) -> list[str]:
    """One exhibit's PLAN_PROOFS.md section: the builder's executed
    plan (AQE final), filtered to the lines that prove the claim."""
    df = builder(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = []
    for raw in plan.splitlines():
        line = raw.strip()
        if KEEP.search(line):
            # FileScan lines pack DataFilters before the
            # PartitionFilters the bucketed-store exhibits exist
            # to show — give scans enough width to reach them
            width = 420 if "PartitionFilters" in line else 240
            lines.append(line[:width])
    return [f"## {name}", "", f"**Claim:** {claim}.", "", "```",
            *lines[:18], "```", ""]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-proofs")
    out = [
        "# PLAN_PROOFS — physical-plan receipts (generated by "
        "tools/plan_proofs.py)",
        "",
        f"Executed plans (AQE final) at `{sf_dir}`, filtered to the "
        "lines that prove each family's scale claim. Regenerate: "
        "`python tools/plan_proofs.py`.",
        "",
    ]
    exhibits = [
        (name, claim, (lambda s, d, n=name: REGISTRY[n].spark(s, d)))
        for name, claim in EXHIBITS
    ] + CUSTOM_EXHIBITS
    for name, claim, builder in exhibits:
        out.extend(_section(spark, sf_dir, name, claim, builder))
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLAN_PROOFS.md"), "w") as f:
        f.write("\n".join(out))
    for root in _TEMP_ROOTS:
        shutil.rmtree(root, ignore_errors=True)
    print(f"PLAN_PROOFS.md written ({len(exhibits)} exhibits)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
