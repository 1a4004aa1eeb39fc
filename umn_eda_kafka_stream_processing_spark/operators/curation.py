"""The full curation recipe, end to end: the TRAINING MANIFEST.

Every stage of an LLM-data curation pipeline exists in this engine as
a separate oracle-checked operator — near-dup clustering
(`operators/dedup.py`), benchmark decontamination
(`operators/decontam.py`), leakage-safe splitting and repeat-factor
mixtures (`operators/sampling.py`) — but a 100-TB pipeline ships
their COMPOSITION: the manifest of (document, repeat-count) rows a
training run actually reads (round-12 verdict task 1). This module
is that composition, one call:

    near-dup keepers → decontaminate → cluster-safe split(train)
        → repeat mixture

Ordering rationale (the published recipe order — Lee et al. 2022,
Brown et al. 2020 appendix C):

* dedup FIRST: contamination flags and split hashes are per-document
  — sweeping duplicates first means each surviving text is examined
  once, and the mixture's availability mass is not inflated by
  copies;
* decontaminate SECOND, against the FULL benchmark (never the
  deduped one — the benchmark is an external held-out suite);
* split THIRD, keyed on the near-dup cluster representative
  (leakage guard), keeping only train;
* mixture LAST: repeat factors are computed over exactly the mass a
  training run may legally touch.

Scale shape: the composition adds nothing beyond its stages' own
documented plans — two anti-joins (contaminated ids out, non-train
out is a filter) and one split hash ride between them; every stage
is bucketed/blocked (LSH bands, broadcast benchmark grams, md5
split cuts, histogram-cut admission), no all-pairs joins, no
corpus-sized broadcasts, no driver-side data paths.

Determinism: every stage keys on md5 of stable ids, so the manifest
is a pure function of the input SET — re-ingestion order, partition
count, retries, and engine swaps reproduce it byte-identically
(test-pinned by permuting the input).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def training_manifest(
    docs: DataFrame,
    benchmark: DataFrame,
    targets: Mapping[str, int],
    *,
    val_rate: float = 0.1,
    test_rate: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    size_col: str = "n_chars",
    n: int = 8,
    min_overlap: int = 1,
    return_stages: bool = False,
    pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
    keeper_grams: DataFrame | None = None,
):
    """Compose the curation chain into the training manifest.

    Returns the manifest frame — ``docs``' columns plus
    ``n_repeats >= 1`` for every admitted document — or, with
    ``return_stages=True``, ``(manifest, stages)`` where ``stages``
    maps stage names to the intermediate frames
    (``pairs, clusters, keepers, decontam, clean, train``) for
    censuses that pin per-stage counts. ``docs`` must not already
    carry ``cluster_id`` or ``split`` (cluster_safe_split's
    contract); ``id_col`` must be unique (repeat_mixture_sample's
    contract).

    ``pairs`` / ``clusters`` inject precomputed (MATERIALIZED —
    they are consumed multiple times) near-dup substrates: the pair
    graph is the chain's most expensive stage and is shared with
    the standalone dedup censuses, so callers session-cache it
    (the train-once/serve-many rule) instead of regrowing it here.

    ``bench_grams`` replaces ``benchmark`` (pass None there) with a
    pre-hashed gram frame — the gram store's shape
    (`decontam.benchmark_grams`), so a manifest can sweep against the
    standing gram STORE exactly as the streaming sweep does (the
    store's `read` == the gram set of all suites at once,
    test-pinned)."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        cluster_safe_split,
        repeat_mixture_sample,
    )

    if pairs is None:
        pairs = minhash_lsh_pairs(
            docs, id_col=id_col, text_col=text_col
        ).localCheckpoint()  # feeds clustering AND the census's pins
    if clusters is None:
        clusters = near_dup_clusters(
            pairs, pairs_materialized=True, id_col=id_col
        ).localCheckpoint()  # joined twice (keepers, split)
    # keepers: the component representative (min-label == own id) and
    # every doc outside any near-dup pair
    keepers = (
        docs.join(clusters.hint("shuffle_hash"), id_col, "left")
        .filter(
            F.coalesce(F.col("cluster_id"), F.col(id_col))
            == F.col(id_col)
        )
        .drop("cluster_id")
    )
    # decontaminate against the FULL benchmark (an external suite —
    # never the deduped corpus's view of it). Checkpoint the RESULT:
    # it is the compressed per-doc census (4 skinny columns — the
    # checkpoint-the-compressed-frames rule, never the corpus), and
    # it feeds the anti-join here plus two census pins downstream —
    # unmaterialized, each consumer would regrow the full gram pass
    decontam = decontaminate(
        keepers,
        benchmark,
        bench_grams=bench_grams,
        n=n,
        min_overlap=min_overlap,
        id_col=id_col,
        text_col=text_col,
        docs_grams=keeper_grams,
    ).localCheckpoint()
    flagged = decontam.filter(F.col("contaminated") == 1).select(id_col)
    clean = keepers.join(flagged.hint("shuffle_hash"), id_col, "left_anti")
    split = cluster_safe_split(
        clean, clusters, id_col=id_col,
        val_rate=val_rate, test_rate=test_rate,
    )
    train = split.filter(F.col("split") == "train").drop("split")
    manifest = repeat_mixture_sample(
        train, domain_col, id_col, size_col, targets
    )
    if return_stages:
        return manifest, {
            "pairs": pairs,
            "clusters": clusters,
            "keepers": keepers,
            "decontam": decontam,
            "clean": clean,
            "train": train,
        }
    return manifest


def patch_training_manifest(
    spark,
    docs: DataFrame,
    gram_store_path: str,
    since_batch: int,
    standing_decontam: DataFrame,
    clusters: DataFrame,
    targets: Mapping[str, int],
    *,
    val_rate: float = 0.1,
    test_rate: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    size_col: str = "n_chars",
    n: int = 8,
    min_overlap: int = 1,
    keeper_grams: DataFrame | None = None,
    return_stages: bool = False,
):
    """PATCH a shipped training manifest for LATE-ARRIVING benchmarks
    (round-13 verdict task 2) — the incremental-maintenance half of
    `training_manifest`: when benchmark batches land in the gram
    store AFTER a manifest shipped, produce the manifest the
    from-scratch chain would build against the GROWN benchmark —
    newly-contaminated docs retracted, the mixture re-admitted from
    the freed mass — WITHOUT re-running the pair graph or the full
    gram sweep.

    What the patch pays vs. the full chain:

    * NO pair graph — ``clusters`` is the shipped run's substrate
      (near-dup structure is benchmark-independent);
    * NO full gram sweep — `decontam.resweep_decontaminate` sweeps
      only against the NOVEL grams of store batches >
      ``since_batch`` (partition-pruned read, suite-sized
      anti-join), and `decontam.merge_decontam_censuses` adds the
      delta into ``standing_decontam`` — exactly equal to a
      from-scratch sweep against the grown store (the disjoint-gram
      merge, test-pinned);
    * the split hash rides the cluster representative, so every
      surviving doc keeps its shipped split — the only re-run stages
      are the O(affected) retraction anti-join and the mixture
      admission pass over the (slightly smaller) train mass, whose
      repeat factors legitimately change when mass is freed.

    ``standing_decontam`` is the shipped run's per-doc census over
    its KEEPERS (``stages["decontam"]``); flags only ever ADD as the
    benchmark grows, so the patched flag set is a superset and the
    patched manifest equals `training_manifest` against the grown
    benchmark byte-for-byte (oracle-pinned by the catalog census).

    Returns the patched manifest — or with ``return_stages=True``
    ``(manifest, stages)`` where stages adds ``delta`` (the resweep
    census), ``merged`` (the patched full census) and ``newly`` (ids
    newly contaminated by the late batches — the retraction set)."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        merge_decontam_censuses,
        resweep_decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        cluster_safe_split,
        repeat_mixture_sample,
    )

    # keepers from the shipped cluster substrate: one join, no pair
    # graph — identical to the shipped run's keepers frame
    keepers = (
        docs.join(clusters.hint("shuffle_hash"), id_col, "left")
        .filter(
            F.coalesce(F.col("cluster_id"), F.col(id_col)) == F.col(id_col)
        )
        .drop("cluster_id")
    )
    # delta sweep: keepers vs ONLY the late batches' novel grams.
    # Checkpoint: skinny per-doc census consumed by the merge AND the
    # newly-set (the checkpoint-the-compressed-frames rule)
    delta = resweep_decontaminate(
        spark,
        gram_store_path,
        keepers,
        since_batch,
        n=n,
        min_overlap=min_overlap,
        id_col=id_col,
        text_col=text_col,
        corpus_grams=keeper_grams,
    ).localCheckpoint()
    merged = merge_decontam_censuses(
        standing_decontam, delta, min_overlap=min_overlap, id_col=id_col
    ).localCheckpoint()  # feeds the anti-join + census pins
    newly = (
        merged.filter(F.col("contaminated") == 1)
        .select(id_col)
        .join(
            standing_decontam.filter(F.col("contaminated") == 1)
            .select(id_col)
            .hint("shuffle_hash"),
            id_col,
            "left_anti",
        )
    )
    flagged = merged.filter(F.col("contaminated") == 1).select(id_col)
    clean = keepers.join(flagged.hint("shuffle_hash"), id_col, "left_anti")
    split = cluster_safe_split(
        clean, clusters, id_col=id_col,
        val_rate=val_rate, test_rate=test_rate,
    )
    train = split.filter(F.col("split") == "train").drop("split")
    manifest = repeat_mixture_sample(
        train, domain_col, id_col, size_col, targets
    )
    if return_stages:
        return manifest, {
            "keepers": keepers,
            "delta": delta,
            "merged": merged,
            "newly": newly,
            "clean": clean,
            "train": train,
        }
    return manifest


def extend_clusters(
    old_pairs: DataFrame,
    old_clusters: DataFrame,
    delta_pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Grow a standing cluster table by a delta pair set — the
    affected-subgraph re-clustering step of `extend_training_manifest`
    (see its docstring for the correctness argument), factored out so
    callers can session-cache the grown table. ``delta_pairs`` must be
    materialized (consumed by the affected-set AND the subgraph);
    returns the UNmaterialized grown (id, cluster_id) table — callers
    that consume it more than once checkpoint or cache it."""
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        near_dup_clusters,
    )

    a, b = f"{id_col}_a", f"{id_col}_b"
    # affected old clusters: clusters of any OLD endpoint of a delta
    # pair (batch endpoints are not clustered yet; an old endpoint
    # outside any cluster was previously unpaired and rides into the
    # subgraph through its delta pair alone)
    ends = (
        delta_pairs.select(F.col(a).alias(id_col))
        .unionByName(delta_pairs.select(F.col(b).alias(id_col)))
        .distinct()
    )
    affected = (
        old_clusters.join(F.broadcast(ends), id_col, "left_semi")
        .select("cluster_id")
        .distinct()
    )
    # the affected subgraph: delta pairs + old pairs inside affected
    # clusters (old pairs' endpoints share a cluster, so one side
    # suffices for membership)
    old_aff_pairs = (
        old_pairs.join(
            old_clusters.join(F.broadcast(affected), "cluster_id", "left_semi")
            .select(F.col(id_col).alias(a)),
            a,
            "left_semi",
        )
    )
    sub_edges = delta_pairs.select(a, b).unionByName(
        old_aff_pairs.select(a, b)
    )
    comp_new = near_dup_clusters(sub_edges, id_col=id_col)
    return (
        old_clusters.join(F.broadcast(affected), "cluster_id", "left_anti")
        # the key join puts cluster_id first — restore (id, cluster)
        .select(id_col, "cluster_id")
        .unionByName(comp_new.select(id_col, "cluster_id"))
    )


def extend_training_manifest(
    spark,
    old_docs: DataFrame,
    batch: DataFrame,
    old_pairs: DataFrame,
    old_clusters: DataFrame,
    standing_decontam: DataFrame,
    targets: Mapping[str, int],
    *,
    benchmark: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
    val_rate: float = 0.1,
    test_rate: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    size_col: str = "n_chars",
    n: int = 8,
    min_overlap: int = 1,
    old_sigs: DataFrame | None = None,
    batch_sigs: DataFrame | None = None,
    batch_grams: DataFrame | None = None,
    delta_pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
    return_stages: bool = False,
):
    """EXTEND a shipped training manifest for a GROWING corpus — the
    append-only twin of `patch_training_manifest` (which handles a
    growing BENCHMARK): when a new document batch lands after a
    manifest shipped, produce the manifest the from-scratch chain
    would build over ``old_docs ∪ batch`` WITHOUT re-self-joining the
    history's pair graph or re-sweeping the old corpus.

    What the extension pays vs. the full chain:

    * pair graph: `dedup.minhash_lsh_pairs_delta` — only pairs
      TOUCHING the batch (old×new band join + new×new), exact
      decomposition pairs(old ∪ batch) = old_pairs ∪ delta;
    * clustering: min-label components re-run ONLY on the AFFECTED
      subgraph — the delta pairs plus the old pairs of clusters a
      delta endpoint touches. Every grown component either has no
      delta endpoint (old cluster unchanged, anti-joined through) or
      decomposes into old clusters each touching a delta pair, so
      the subgraph carries all its edges. APPEND-ONLY ids keep the
      min-label representative of any surviving old cluster stable;
      a component formed by a batch BRIDGE between two old clusters
      takes the smaller old representative — exactly what
      from-scratch min-label yields;
    * decontamination: ONE sweep of the batch against the benchmark
      grams; old keepers reuse ``standing_decontam`` rows
      (contamination is per-document, corpus-independent);
    * split/mixture re-run linearly over the grown keeper mass
      (split hashes ride the cluster representative, so docs in
      merged clusters legitimately re-split; the mixture's repeat
      factors re-balance over the grown availability).

    Equality with `training_manifest(old ∪ batch, ...)` is
    byte-for-byte (unit- and oracle-pinned), with the hot-bucket-cap
    caveat documented on `minhash_lsh_pairs_delta`.

    ``standing_decontam`` is the shipped run's census over its
    keepers; ``old_pairs`` / ``old_clusters`` its pair/cluster
    substrates; ``old_sigs`` optionally injects the standing
    signature table so history is never re-hashed. ``batch_grams``
    optionally injects the batch's corpus-side gram table
    (`decontaminate`'s ``docs_grams`` contract, restricted to the
    batch docs) so the batch sweep skips its text explode too.
    ``delta_pairs`` / ``clusters`` inject precomputed (MATERIALIZED —
    both are consumed multiple times) delta-pair and grown-cluster
    substrates — the `training_manifest` ``pairs``/``clusters``
    seams' incremental twins, for callers that session-cache them
    (`extend_clusters` builds the grown table from the delta).

    Returns the extended manifest — or with ``return_stages=True``
    ``(manifest, stages)`` adding ``delta_pairs``, ``clusters`` (the
    grown cluster table), ``batch_decontam`` and ``keepers``."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        minhash_lsh_pairs_delta,
        near_dup_clusters,
    )
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        cluster_safe_split,
        repeat_mixture_sample,
    )

    if delta_pairs is None:
        delta_pairs = minhash_lsh_pairs_delta(
            old_docs, batch, text_col=text_col, id_col=id_col,
            old_sigs=old_sigs, batch_sigs=batch_sigs,
        ).localCheckpoint()  # feeds affected-set, subgraph, census pins
    clusters2 = (
        clusters
        if clusters is not None
        else extend_clusters(
            old_pairs, old_clusters, delta_pairs, id_col=id_col
        ).localCheckpoint()  # joined by keepers AND split AND census
    )
    docs_all = old_docs.unionByName(batch)
    keepers = (
        docs_all.join(clusters2.hint("shuffle_hash"), id_col, "left")
        .filter(
            F.coalesce(F.col("cluster_id"), F.col(id_col)) == F.col(id_col)
        )
        .drop("cluster_id")
    )
    # one sweep of the batch only; old keepers reuse the standing rows
    batch_decontam = decontaminate(
        batch,
        benchmark,
        bench_grams=bench_grams,
        n=n,
        min_overlap=min_overlap,
        id_col=id_col,
        text_col=text_col,
        docs_grams=batch_grams,
    ).localCheckpoint()
    decontam2 = standing_decontam.select(
        id_col, "n_grams", "n_hit_grams", "contaminated"
    ).unionByName(
        batch_decontam.select(id_col, "n_grams", "n_hit_grams", "contaminated")
    )
    flagged = decontam2.filter(F.col("contaminated") == 1).select(id_col)
    clean = keepers.join(flagged.hint("shuffle_hash"), id_col, "left_anti")
    split = cluster_safe_split(
        clean, clusters2, id_col=id_col,
        val_rate=val_rate, test_rate=test_rate,
    )
    train = split.filter(F.col("split") == "train").drop("split")
    manifest = repeat_mixture_sample(
        train, domain_col, id_col, size_col, targets
    )
    if return_stages:
        return manifest, {
            "delta_pairs": delta_pairs,
            "clusters": clusters2,
            "keepers": keepers,
            "batch_decontam": batch_decontam,
            "decontam": decontam2,
            "clean": clean,
            "train": train,
        }
    return manifest
