"""Reciprocal-rank fusion: combine heterogeneous retrieval rankings.

Production retrieval stacks run SEVERAL rankers side by side — BM25
lexical, embedding ANN, boolean coverage, recency — and fuse their
per-query top-k lists. Reciprocal Rank Fusion (Cormack, Clarke &
Büttcher 2009, public literature) is the standard score-free fuser:
``rrf(d) = Σ_lists 1 / (k + rank_list(d))`` — it needs only RANKS,
so incomparable score scales (BM25 micros vs cosine) never have to
be calibrated against each other.

Engine shape / portability:

* inputs are per-query top-k lists — each |queries| × k rows, DIM-
  sized however large the corpus the rankers searched (the expensive
  work already happened inside the rankers, bucket-pruned /
  broadcast there);
* the fusion itself is one union + one hash-agg + one per-query
  top-k window (partitioned by query — never a global sort);
* contributions are EXACT integers: ``1000000 div (k + rank)`` —
  BIGINT division in both engines — so the fused score is an
  order-independent integer SUM (the cross-engine float-sum rule),
  and ties break (score DESC, id ASC) deterministically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

RRF_SCALE = 1_000_000


def rrf_fuse(
    rankings: Sequence[DataFrame],
    rrf_k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Fuse per-query rankings into one top-``topk`` list per query.

    Each input carries (qid, doc_id, rank) with 1-based
    ranks (truncate each to its own top-k BEFORE fusing — RRF is
    defined over the lists as retrieved). Returns (qid,
    fused_rank, doc_id, rrf_micro, n_lists): ``rrf_micro`` the exact
    integer Σ 1000000 div (rrf_k + rank), ``n_lists`` how many input
    lists carried the doc (the agreement signal)."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    contrib = F.expr(
        f"{RRF_SCALE} div ({int(rrf_k)} + rank)"
    ).cast("long")
    parts = [
        r.select(
            F.col("qid"),
            F.col("doc_id"),
            contrib.alias("_c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("qid", "doc_id").agg(
        F.sum("_c").cast("long").alias("rrf_micro"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= int(topk))
        .select("qid", "fused_rank", "doc_id", "rrf_micro", "n_lists")
    )
