"""Similarity search over embedding columns (array<float>).

Two tiers:

* cosine_topk      — exact brute-force top-k: query set × corpus
  with a broadcast of the (small) query side; the dot product is a
  JVM ``aggregate(zip_with(...))`` expression — no Python, no UDF.
  At 100 TB this is the correct baseline when |queries| is small:
  the corpus streams through one scan, queries ride along broadcast.
* ivf_topk         — IVF-style pruned search: corpus pre-bucketed by
  a coarse quantizer (any int column — here a cluster/label id, in
  production a KMeans assignment); each query probes only its
  nearest ``n_probe`` centroid buckets. Turns the scan into a
  partition-pruned join keyed on bucket id.

Scores are computed in double precision sequentially over the vector
(deterministic) and rounded, so results are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up


def dot_product(a: str | Column, b: str | Column) -> Column:
    """Σ a_i * b_i in double precision, sequential over the array
    (deterministic): aggregate(zip_with(a, b, *), 0.0, +)."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ac, bc, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: str | Column) -> Column:
    ac = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(ac, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_similarity(a: str | Column, b: str | Column) -> Column:
    return round_half_up(
        dot_product(a, b) / (l2_norm(a) * l2_norm(b)), 6
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast the queries (small side) against the corpus scan, rank
    per query by (similarity DESC, neighbor id ASC — deterministic),
    keep k. Self-matches excluded by default; pass
    ``exclude_self=False`` for query-by-example retrieval where the
    exemplar itself is a legitimate hit (the PRF shape — the
    query id is then a label, not a corpus row to hide).
    Output: (query_id, neighbor_id, sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_norm", l2_norm("q_vec"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("c_norm", l2_norm("c_vec"))
    # norms precomputed per row (not per pair): corpus norms cost one
    # pass over the scan instead of one per query
    pair_cond = (
        F.col("query_id") != F.col("neighbor_id")
        if exclude_self
        else F.lit(True)
    )
    scored = (
        c.join(F.broadcast(q), pair_cond, "inner")
        .withColumn(
            "sim",
            round_half_up(
                dot_product("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-pruned approximate top-k.

    ``corpus`` carries ``bucket`` (coarse assignment);
    ``centroids`` is (bucket, centroid-vector). Each query scores
    all centroids (tiny), keeps its ``n_probe`` nearest buckets, and
    scans only those corpus buckets. The corpus-side join is a hash
    join on the bucket id, so Catalyst prunes everything else.
    Output: (query_id, neighbor_id, sim, rank).
    """
    cent = centroids.select(
        F.col("bucket"), F.col("embedding").alias("cent_vec")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    ).withColumn("q_norm", l2_norm("q_vec"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cent_sim").desc(), F.col("bucket").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cent_sim", cosine_similarity("q_vec", "cent_vec"))
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= n_probe)
        .select("query_id", "q_vec", "q_norm", "bucket")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"),
        F.col("bucket"),
    ).withColumn("c_norm", l2_norm("c_vec"))
    scored = (
        c.join(F.broadcast(probes), "bucket", "inner")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            round_half_up(
                dot_product("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 6
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def kmeans_buckets(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Coarse quantizer for IVF: Lloyd's k-means entirely in
    DataFrame ops (no MLlib dependency; only the k seed vectors
    ever reach the driver).

    Deterministic init: the k rows with smallest ids. Per iteration:
    assign each vector to its max-cosine centroid (broadcast
    centroids, JVM dot products), then recompute centroids as
    positional means (posexplode → avg). Each round materializes via
    localCheckpoint — the standard way to cut exponentially growing
    lineage in iterative Spark jobs.

    Engine-portable determinism: assignment sims AND centroid
    components are rounded half-up to 6 dp each iteration, so an
    independent engine (the DuckDB oracle unrolls the same Lloyd
    steps in SQL) converges to bit-identical buckets — raw
    floating-point avg/dot results differ across engines in the last
    ulp, which would otherwise compound over iterations.

    Returns (assignments (id, bucket), centroids (bucket, vec)).
    Scale: per iteration one broadcast-join pass over the corpus and
    one aggregation keyed by (bucket, pos); centroids stay tiny.
    """
    base = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "nrm", l2_norm(vec_col)
    )
    # k smallest ids via distributed TakeOrderedAndProject — an
    # unpartitioned row_number window would sort the whole corpus
    # through one task
    init = base.orderBy(F.col(id_col).asc()).limit(k).collect()
    cent = (
        df.sparkSession.createDataFrame(
            [(i, row[vec_col]) for i, row in enumerate(init)],
            f"bucket int, cent_vec {df.schema[vec_col].dataType.simpleString()}",
        )
        .withColumn("c_nrm", l2_norm("cent_vec"))
    )
    assign = None
    for _ in range(iters):
        # centroid norms precomputed on the tiny cent side — not
        # re-derived per (row x centroid) pair
        scored = base.crossJoin(F.broadcast(cent)).withColumn(
            "sim",
            round_half_up(
                dot_product(vec_col, "cent_vec") / (F.col("nrm") * F.col("c_nrm")), 6
            ),
        )
        # argmax via min(struct(-sim, bucket)) — identical ordering to
        # a (sim DESC, bucket ASC) row_number window (Double.compare
        # semantics incl. the ±0.0 edge are preserved under negation),
        # but aggregated with map-side partials instead of shuffling
        # every (row x centroid) candidate through a window sort.
        # NULL sim (zero-norm vector or centroid: double div-by-zero
        # is NULL in Spark) must lose, not win: struct-field ordering
        # is nulls-FIRST under min, while the window it replaces (sim
        # DESC = nulls last) and the DuckDB oracle both rank NULL
        # last — coalesce to +inf so the orderings agree.
        # first(vec) is safe: constant within an id group.
        assign = (
            scored.groupBy(id_col)
            .agg(
                F.min(
                    F.struct(
                        F.coalesce(-F.col("sim"), F.lit(float("inf"))).alias(
                            "negsim"
                        ),
                        F.col("bucket"),
                    )
                ).alias("_best"),
                F.first(vec_col).alias(vec_col),
            )
            .select(id_col, vec_col, F.col("_best.bucket").alias("bucket"))
        )
        cent = materialize(
            assign.select("bucket", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("bucket", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("bucket")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: round_half_up(s.m, 6),
                ).alias("cent_vec")
            )
            .withColumn("c_nrm", l2_norm("cent_vec")),
            Why.ROUND,
        )
    return assign.select(id_col, "bucket"), cent.select(
        "bucket", F.col("cent_vec").alias(vec_col)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a<b) pairs with
    cosine >= threshold, blocked on ``block_col`` (near-dups land in
    the same coarse bucket; drop the block for exact quadratic).

    Physical shape: pairs are generated on a lite (id, block)
    projection — a block column has few distinct values, so a join
    carrying vectors would put each whole block on one task — then
    repartitioned by id (uniform) before the vectors are attached
    (broadcast-sized side) and the cosine evaluated. Norms are
    precomputed per row, not per pair.
    Output: (id_a, id_b, sim)."""
    base = df.select(
        F.col(id_col), F.col(vec_col),
        *([F.col(block_col)] if block_col else []),
    ).withColumn("nrm", l2_norm(vec_col))
    lite = base.select(id_col, *([block_col] if block_col else []))
    a = lite.select(*[F.col(c).alias(f"a_{c}") for c in lite.columns])
    b = lite.select(*[F.col(c).alias(f"b_{c}") for c in lite.columns])
    cond = F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    if block_col:
        cond = (F.col(f"a_{block_col}") == F.col(f"b_{block_col}")) & cond
    pairs = a.join(b, cond, "inner").select(
        f"a_{id_col}", f"b_{id_col}"
    ).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(f"a_{id_col}")
    )
    va = base.select(
        F.col(id_col).alias(f"a_{id_col}"),
        F.col(vec_col).alias("a_vec"), F.col("nrm").alias("a_nrm"),
    )
    vb = base.select(
        F.col(id_col).alias(f"b_{id_col}"),
        F.col(vec_col).alias("b_vec"), F.col("nrm").alias("b_nrm"),
    )
    return (
        pairs.join(va, f"a_{id_col}").join(vb, f"b_{id_col}")
        .withColumn(
            "sim",
            round_half_up(
                dot_product("a_vec", "b_vec") / (F.col("a_nrm") * F.col("b_nrm")), 6
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select(
            F.col(f"a_{id_col}").alias(f"{id_col}_a"),
            F.col(f"b_{id_col}").alias(f"{id_col}_b"),
            "sim",
        )
    )


def srp_planes(dim: int, n_bits: int) -> list[list[int]]:
    """Deterministic signed-random-projection hyperplanes: component
    (p, j) is an md5-derived integer in [-1000, 1000]. md5 gives
    well-mixed, engine-independent planes that both the Spark
    expression and a DuckDB oracle can embed as literals."""
    import hashlib

    return [
        [
            int.from_bytes(hashlib.md5(f"srp|{p}|{j}".encode()).digest()[:4], "big")
            % 2001
            - 1000
            for j in range(dim)
        ]
        for p in range(n_bits)
    ]


def srp_band_keys(vec_col: str | Column, planes: list[list[int]], bands: int) -> list[Column]:
    """One integer bucket key per band: the band's sign bits packed
    big-endian. Each bit is sign(v · plane_p) computed by the JVM
    aggregate/zip_with dot product — no Python in the row path."""
    vc = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n_bits = len(planes)
    r = n_bits // bands
    bits = [
        (dot_product(vc, F.array(*[F.lit(float(x)) for x in plane])) >= 0).cast("int")
        for plane in planes
    ]
    return [
        sum(
            (bits[b * r + i] * F.lit(1 << (r - 1 - i)) for i in range(r)),
            start=F.lit(0),
        ).alias(f"bkey_{b}")
        for b in range(bands)
    ]


def srp_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    dim: int = 64,
    n_bits: int = 24,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via signed-random-projection LSH — the
    SCALE path for embedding dedup when no coarse block column exists
    (embedding_near_dup_pairs is quadratic within its block).

    Candidate pairs are vectors agreeing on ALL bits of at least one
    band (cosine-LSH: P[bit match] = 1 - θ/π, so a band of r bits
    collides with p^r — near-parallel vectors collide in some band
    w.h.p., random pairs almost never). Expected candidate volume is
    Σ_band Σ_bucket |bucket|²/2 ≈ n²·bands/2^(r+1): tune n_bits/bands
    so buckets stay small; defaults (4 bands × 6 bits) keep recall
    ≈ (1-(1-p^6)^4) ≈ 0.87 at sim 0.9 with 64 buckets per band.

    Physical shape mirrors minhash_lsh_pairs: band keys are computed
    once per row (JVM dot products), candidates are generated on a
    lite (id, band, key) projection via an equi-join — never a cross
    product — deduped, then vectors re-attached by id for the exact
    cosine verify. Output: (id_a, id_b, sim) with sim >= threshold.
    """
    planes = srp_planes(dim, n_bits)
    base = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "nrm", l2_norm(vec_col)
    )
    sig = base.select(
        id_col, F.posexplode(F.array(*srp_band_keys(vec_col, planes, bands))).alias(
            "band", "bkey"
        )
    )
    # same hazard + remedy as dedup.minhash_lsh_pairs: zero-vector /
    # degenerate embeddings all land in one band bucket and emit B²/2
    # pairs; cap buckets at 10,000 rows before the self-join (window
    # partitions on the join's own shuffle key — no extra exchange).
    # The dedup.lsh_bucket_stats pattern applies for telemetry.
    sig = sig.withColumn(
        "_bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
    ).filter(F.col("_bsz") <= 10_000).drop("_bsz")
    a = sig.select(F.col(id_col).alias(f"a_{id_col}"), "band", "bkey")
    b = sig.select(F.col(id_col).alias(f"b_{id_col}"), "band", "bkey")
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = (
        a.repartition(par, F.col(f"a_{id_col}"))
        .join(b, ["band", "bkey"], "inner")
        .filter(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
        .select(f"a_{id_col}", f"b_{id_col}")
        .distinct()  # a pair may collide in several bands
        .repartition(par, F.col(f"a_{id_col}"))
    )
    va = base.select(
        F.col(id_col).alias(f"a_{id_col}"),
        F.col(vec_col).alias("a_vec"), F.col("nrm").alias("a_nrm"),
    )
    vb = base.select(
        F.col(id_col).alias(f"b_{id_col}"),
        F.col(vec_col).alias("b_vec"), F.col("nrm").alias("b_nrm"),
    )
    return (
        pairs.join(va, f"a_{id_col}").join(vb, f"b_{id_col}")
        .withColumn(
            "sim",
            round_half_up(
                dot_product("a_vec", "b_vec") / (F.col("a_nrm") * F.col("b_nrm")), 6
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select(
            F.col(f"a_{id_col}").alias(f"{id_col}_a"),
            F.col(f"b_{id_col}").alias(f"{id_col}_b"),
            "sim",
        )
    )


def assign_ivf_bucket(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its max-cosine centroid bucket.

    The per-iteration assignment step of ``kmeans_buckets`` exposed
    standalone, for INGEST time: new vectors pick a bucket against
    the frozen quantizer (one broadcast pass, JVM dot products,
    deterministic ties → lowest bucket). Output: input columns +
    ``bucket``.
    """
    cent = centroids.select(
        F.col("bucket").alias("_b"), F.col("embedding").alias("_cv")
    ).withColumn("_cn", l2_norm("_cv"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_sim").desc(), F.col("_b").asc()
    )
    return (
        df.withColumn("_n", l2_norm("embedding"))
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "_sim",
            round_half_up(
                dot_product("embedding", "_cv") / (F.col("_n") * F.col("_cn")), 6
            ),
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .withColumn("bucket", F.col("_b"))
        .drop("_b", "_cv", "_cn", "_n", "_sim", "_rk")
    )


def upsert_ivf_index(
    spark,
    index_path: str,
    embeddings: DataFrame,
    centroids: DataFrame,
) -> None:
    """Maintain a bucket-partitioned parquet IVF index incrementally.

    Each (micro)batch of new/updated vectors is bucket-assigned
    against the frozen quantizer and upserted by ``vec_id`` into the
    index table, which is hive-partitioned by bucket so (a) only
    buckets receiving vectors are rewritten (dynamic partition
    overwrite — operators/compaction.py) and (b) ``ivf_topk`` probe
    reads become PARTITION-PRUNED directory scans, not row filters.
    Streaming: pass this as the foreachBatch body — the ANN index
    stays queryable and fresh without ever rebuilding the corpus.

    NOTE a vector UPDATE can move a key across buckets. The bucket is
    assigned by the quantizer, not hashed from the key, so the
    `stores.SnapshotStore` upsert is move-aware: it also reads every
    partition holding one of the batch's keys (the merge sees and drops
    the stale copy) and deletes the partitions the merge emptied.
    """
    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    assigned = assign_ivf_bucket(
        embeddings, centroids
    )
    SnapshotStore(spark, index_path, "vec_id", "bucket", "upd_seq").upsert(
        assigned
    )


def upsert_ivfpq_index(
    spark,
    index_path: str,
    embeddings: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    n_sub: int = 4,
    dim: int = 64,
) -> None:
    """Maintain the COMPRESSED IVFADC index incrementally: each
    (micro)batch of new/updated vectors is bucket-assigned against the
    frozen coarse quantizer, residual-encoded against the frozen PQ
    codebook, and upserted by id into a bucket-partitioned parquet
    table carrying (id, codes, vector, seq).

    Same maintenance contract as upsert_ivf_index (the same move-aware
    `stores.SnapshotStore` upsert), but the stored representation is
    the ADC-scan one — so `ivfpq_search_index` probes become partition-pruned
    directory scans over ~n_sub ints per row. The raw vector rides in
    the same row for the exact re-rank; at 100 TB you may split it to
    an id-keyed sidecar table so the ADC scan never deserializes
    vector bytes, at the cost of one more join in the re-rank.

    Freezing BOTH quantizers is what makes increments consistent:
    codes encoded in different batches are comparable because they
    reference one codebook. Re-train drift is an offline rebuild
    (standard IVFPQ operations practice), not an upsert.
    """
    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    assigned = assign_ivf_bucket(
        embeddings, centroids
    )
    cent = centroids.select("bucket", F.col("embedding").alias("_cv"))
    res = materialize(
        assigned.select(
            "vec_id",
            "bucket",
            F.col("upd_seq"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_dv"),
        )
        .join(F.broadcast(cent), "bucket")
        .select(
            "vec_id",
            "bucket",
            "upd_seq",
            "_dv",
            F.zip_with("_dv", "_cv", lambda a, b: a - b).alias("resid"),
        ),
        # joined back to itself through pq_encode below
        Why.SELF_JOIN,
    )
    codes = pq_encode(res, codebook, n_sub=n_sub, dim=dim,
                      vec_col="resid")
    rows = codes.join(
        res.select(
            "vec_id", "bucket", "upd_seq", F.col("_dv").alias("embedding")
        ).hint("shuffle_hash"),
        "vec_id",
    )
    SnapshotStore(spark, index_path, "vec_id", "bucket", "upd_seq").upsert(rows)


def ivfpq_search_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_probe: int = 2,
    n_sub: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVFADC search against the persisted incremental index: the
    codes AND the re-rank vectors come from the index table, so a
    freshly-upserted batch is immediately searchable. The bucket
    equi-join in the ADC stage prunes to the probed buckets'
    partitions (hive layout from upsert_ivfpq_index)."""
    index = spark.read.parquet(index_path)
    return ivfpq_search_topk(
        queries,
        index.select("vec_id", "bucket", "codes"),
        centroids,
        codebook,
        index.select("vec_id", "embedding"),
        k=k,
        shortlist=shortlist,
        n_probe=n_probe,
        n_sub=n_sub,
        dim=dim,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------
#
# The third leg of the ANN family (exact scan / IVF bucket pruning /
# SRP-LSH banding): PQ trades accuracy for MEMORY BANDWIDTH. The
# corpus is re-encoded as n_sub small integer codes per vector (here
# 4 codes for a 64-dim float vector — a 64:1 scan-size reduction at
# float64), and query-time search touches only the codes plus a tiny
# per-query lookup table (asymmetric distance computation, ADC).
# At 100 TB the full-vector corpus scan is bandwidth-bound; the PQ
# scan reads ~1.5% of the bytes and needs no shuffle at all — codes
# stream through one narrow pass with the per-query LUTs broadcast.
#
# Engine portability: ALL distances are squared-L2 in integer
# micro-units (floor(d * 1e6 + 0.5) cast to BIGINT). Integer sums are
# exact and order-independent, so the Spark array-lookup ADC pass and
# the DuckDB join+SUM oracle produce bit-identical totals — a float
# ADC sum would depend on engine reduction order. Codebook components
# are rounded half-up to 6 dp per Lloyd iteration (the kmeans_buckets
# convention) so training converges identically in both engines.
#
# Reference scope note: the reference app (Kafka Streams "Utopia",
# src/main/java) has no vector search at all; this family is part of
# the builder-brief LLM-data-ops suite.


def l2sq_micros(a: str | Column, b: str | Column) -> Column:
    """Squared L2 distance in integer micro-units (BIGINT).

    Computed as dot(a,a) - 2*dot(a,b) + dot(b,b) with each dot a
    sequential JVM reduction — the DuckDB twin uses the same formula
    over list_dot_product, so the double result (and hence the
    rounded integer) is bit-identical across engines.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    d = (
        dot_product(a, a)
        - F.lit(2.0) * dot_product(a, b)
        + dot_product(b, b)
    )
    return F.floor(d * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def pq_subvectors(
    df: DataFrame,
    n_sub: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode each vector into ``n_sub`` contiguous subvectors:
    (id, m, sv) with m in [0, n_sub) and sv a double array of
    dim/n_sub components. One narrow projection — no shuffle; the
    n_sub-times row fan-out carries 1/n_sub-length arrays each, so
    total bytes are unchanged."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    return (
        df.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_dv"),
        )
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
            F.col("_dv"),
        )
        .select(
            id_col,
            F.col("m").cast("int").alias("m"),
            F.expr(f"slice(_dv, m * {d_sub} + 1, {d_sub})").alias("sv"),
        )
    )


def pq_codebooks(
    df: DataFrame,
    n_sub: int = 4,
    n_codes: int = 8,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train per-subspace codebooks with Lloyd's k-means, all
    subspaces in ONE DataFrame pass per iteration (rows keyed by
    subspace index m; centroids keyed by (m, code)).

    Deterministic init: for every subspace, codes 0..n_codes-1 are
    the subvectors of the n_codes smallest ids (only those n_codes
    seed rows ever reach the driver — the kmeans_buckets precedent).
    Assignment metric is integer-micro squared L2 (exact ordering,
    code-asc tie-break); codebook components are rounded half-up 6 dp
    per iteration. Returns (m, code, cw) — n_sub * n_codes tiny rows,
    always broadcast by consumers.

    Scale: per iteration one broadcast join over the exploded
    subvectors plus one (m, code, pos)-keyed aggregation; lineage cut
    per round via localCheckpoint.
    """
    sub = pq_subvectors(df, n_sub, dim, "vec_id", vec_col)
    seeds = (
        df.select("vec_id", vec_col).orderBy(F.col("vec_id").asc()).limit(n_codes).collect()
    )
    d_sub = dim // n_sub
    cb_rows = []
    for code, row in enumerate(seeds):
        vec = [float(x) for x in row[vec_col]]
        for m in range(n_sub):
            cb_rows.append((m, code, vec[m * d_sub : (m + 1) * d_sub]))
    spark = df.sparkSession
    cb = spark.createDataFrame(
        cb_rows, "m int, code int, cw array<double>"
    )
    for _ in range(iters):
        scored = sub.join(F.broadcast(cb), "m").withColumn(
            "dmicro", l2sq_micros("sv", "cw")
        )
        # argmin via min(struct(dist, code)) — map-side partial agg,
        # no full-row window shuffle; ordering identical to
        # (dmicro ASC, code ASC) since dmicro is an exact BIGINT.
        # first(sv) is safe: sv is constant within an (id, m) group.
        assign = (
            scored.groupBy("vec_id", "m")
            .agg(
                F.min(F.struct("dmicro", "code")).alias("_best"),
                F.first("sv").alias("sv"),
            )
            .select("vec_id", "m", "sv", F.col("_best.code").alias("code"))
        )
        cb = materialize(
            assign.select("m", "code", F.posexplode("sv").alias("pos", "v"))
            .groupBy("m", "code", "pos")
            .agg(F.avg("v").alias("mean_v"))
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean_v"))),
                    lambda s: round_half_up(s.mean_v, 6),
                ).alias("cw")
            ),
            Why.ROUND,
        )
    return cb


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    n_sub: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus against a trained codebook: (id, codes)
    with codes an n_sub-length int array (codes[m] = nearest codeword
    of subspace m by integer-micro squared L2, code-asc tie-break).

    One broadcast join over the exploded subvectors, then an
    (id)-keyed pivot back to a single row. This is the 64:1
    compressed representation the ADC scan reads instead of the raw
    vectors."""
    sub = pq_subvectors(df, n_sub, dim, "vec_id", vec_col)
    scored = sub.join(F.broadcast(codebook), "m").withColumn(
        "dmicro", l2sq_micros("sv", "cw")
    )
    # argmin via min(struct) — same (dmicro ASC, code ASC) ordering as
    # a row_number window, but with map-side partial aggregation
    best = (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct("dmicro", "code")).alias("_best"))
        .select("vec_id", "m", F.col("_best.code").alias("code"))
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))), lambda s: s.code
        ).alias("codes")
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    n_sub: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k: each query precomputes a lookup
    table LUT[m][code] = micro-L2(query subvector m, codeword), then
    scans the CODES (not the vectors): approx distance = sum of
    n_sub BIGINT table lookups per corpus row.

    Plan shape: the per-query LUTs (|Q| * n_sub * n_codes BIGINTs)
    are grouped into nested arrays and BROADCAST; the corpus codes
    stream through one narrow pass — no shuffle until the final
    per-query top-k window over k-rank survivors. At 100 TB the scan
    reads ~n_sub ints per row instead of the full vector: the
    memory-bandwidth win that makes PQ the right third tier next to
    IVF pruning and exact scan.

    Output: (query_id, neighbor_id, approx_dist_micro, rank) —
    ascending distance, neighbor-id tie-break, self-pairs excluded.
    """
    qsub = pq_subvectors(queries, n_sub, dim).withColumnRenamed(
        "vec_id", "query_id"
    )
    lut_rows = qsub.join(F.broadcast(codebook), "m").withColumn(
        "dmicro", l2sq_micros("sv", "cw")
    )
    # per-subspace LUT keyed by CODE VALUE (map code -> dmicro), not
    # by list position: Lloyd can leave code gaps (a codeword that
    # ends an iteration with no members is dropped by the collect_list
    # rebuild), and a positional lookup would then read the wrong
    # slot — or NULL past the end, and NULL distances sort FIRST in
    # the ascending rank window, silently corrupting the top-k. The
    # value-keyed map matches the DuckDB oracle, which joins on
    # l.code = c.code. The outer level is a map keyed by m (structs
    # holding maps are not orderable, so the previous array_sort
    # shape cannot even be expressed map-valued).
    luts = (
        lut_rows.groupBy("query_id", "m")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("code", "dmicro")))
            ).alias("row_lut")
        )
        .groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("m", "row_lut"))
            ).alias("lut")
        )
    )
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(luts), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_dist_micro",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(n_sub - 1)),
                F.lit(0).cast("long"),
                lambda acc, m: acc
                + F.element_at(
                    F.element_at("lut", m),
                    F.element_at("codes", m + F.lit(1)),
                ),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dist_micro", "rank")
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup-style)
# ---------------------------------------------------------------------------


def semantic_dedup_pairs(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_cap: int | None = 10_000,
    clusters: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Embedding-space near-duplicate pairs, SemDeDup-style
    (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus with
    k-means, then compare pairs ONLY within a cluster; a pair with
    cosine >= tau is a semantic duplicate, and the member CLOSER to
    its cluster centroid is the one to drop (SemDeDup keeps the
    low-centroid-similarity representative — the most "atypical"
    example carries the most marginal information). Ties on rounded
    centroid similarity drop the higher id.

    Output: (bucket, vec_id_a, vec_id_b, sim, drop_id), a < b.

    Scale shape: clustering (kmeans_buckets — broadcast-join Lloyd)
    turns the corpus-wide quadratic into per-cluster quadratics; with
    k sized ~N/target_cluster the pair volume is N * cluster_size.
    ``cluster_cap`` guards the degenerate hot cluster exactly like
    the LSH family's hot_bucket_cap: clusters larger than the cap are
    excluded from pairing (never silently quadratic), and the window
    count reuses the pair join's own bucket exchange. The pair join
    carries full vectors, so it is hinted shuffle_hash — sort-merge
    over wide array rows is the known bimodal-slow shape, and
    broadcast would be wrong since both sides grow with the corpus.

    Engine portability: pair sims and centroid sims are rounded
    half-up 6 dp (cosine_similarity), so the keep/drop comparison is
    bit-identical in the DuckDB oracle, which replays the same Lloyd
    iterations (assignment sims rounded 6 dp, kmeans_buckets
    convention) as unrolled CTEs.

    ``clusters``: optional precomputed (assign, cent) — the
    train-once/serve-many hook (pass a session-cached
    `kmeans_buckets` result; k/iters are then ignored).
    """
    if clusters is not None:
        assign, cent = clusters
    else:
        assign, cent = kmeans_buckets(
            df, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
    cent2 = cent.select("bucket", F.col(vec_col).alias("cent_vec"))
    # per-row norm computed ONCE here — the pair join below must not
    # re-derive norms per candidate pair (3x the per-pair flops)
    mat = (
        df.select(id_col, vec_col)
        .join(assign, id_col)
        .join(F.broadcast(cent2), "bucket")
        .withColumn("csim", cosine_similarity(vec_col, "cent_vec"))
        .withColumn("_nrm", l2_norm(vec_col))
        .drop("cent_vec")
    )
    if cluster_cap is not None:
        wsz = Window.partitionBy("bucket")
        mat = mat.withColumn("_csz", F.count(F.lit(1)).over(wsz)).filter(
            F.col("_csz") <= cluster_cap
        ).drop("_csz")
    mat = materialize(mat, Why.SELF_JOIN)
    a = mat.select(
        "bucket",
        F.col(id_col).alias("vec_id_a"),
        F.col(vec_col).alias("_va"),
        F.col("csim").alias("_csim_a"),
        F.col("_nrm").alias("_na"),
    )
    b = mat.select(
        F.col("bucket").alias("_bucket_b"),
        F.col(id_col).alias("vec_id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("csim").alias("_csim_b"),
        F.col("_nrm").alias("_nb"),
    )
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("bucket") == F.col("_bucket_b"))
            & (F.col("vec_id_a") < F.col("vec_id_b")),
        )
        .drop("_bucket_b")
        .withColumn(
            "sim",
            round_half_up(
                dot_product("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6
            ),
        )
        .filter(F.col("sim") >= F.lit(tau))
    )
    drop_id = (
        F.when(F.col("_csim_a") > F.col("_csim_b"), F.col("vec_id_a"))
        .when(F.col("_csim_b") > F.col("_csim_a"), F.col("vec_id_b"))
        .otherwise(F.greatest("vec_id_a", "vec_id_b"))
    )
    return pairs.select(
        "bucket", "vec_id_a", "vec_id_b", "sim", drop_id.alias("drop_id")
    )


def incremental_semantic_dedup(
    batch_df: DataFrame,
    seen_store_path: str,
    batch_id: int,
    centroids: DataFrame,
    tau: float = 0.9,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Semantic near-dedup of ONE microbatch against all history —
    the embedding-space twin of dedup.py:incremental_simhash_dedup,
    extending SemDeDup (semantic_dedup_pairs) to a continuously
    ingesting corpus:

    1. assign: batch vectors pick a bucket against the FROZEN coarse
       quantizer (assign_ivf_bucket — one broadcast pass; freezing
       the centroids is what makes history comparable: the admitted
       store is bucketed under the same quantizer forever).
    2. in-batch: within-bucket pairwise cosine >= tau; of each
       near-pair the LARGER id is dropped (deterministic keeper =
       min id, the incremental-simhash convention — the batch has no
       stable "closest to centroid" history to apply SemDeDup's
       keep-the-atypical rule to).
    3. history: survivors equi-join the admitted rows of EARLIER
       batches ON THE BUCKET only (partition-local; shuffle_hash —
       wide array rows) and any history row with cosine >= tau kills
       the newcomer. Zero-norm vectors produce NULL cosine, which
       fails ``>= tau`` — never treated as a duplicate.
    4. admit: upsert survivors' (bucket, id, vector).

    The store is a `stores.SnapshotStore` keyed by (bucket, id),
    hive-partitioned BY BUCKET, with ``batch_id`` as its order column,
    advanced once per batch with its read pruned to the batch's
    buckets: per-batch cost is |batch| x |history-in-touched-buckets|,
    never |history|. Replay safety (the SimHash rule): the probe
    ignores rows carrying THIS ``batch_id``, so a replayed batch sees
    the pre-batch history, keeps the same vectors and rewrites the
    same rows. A seen-store in the earlier append layout (no
    ``batch_id`` column) cannot be read here: rebuild it from the
    source stream.

    Wire with streaming/runner.py:start_foreach_batch_sink:
    ``lambda b, bid: sink(incremental_semantic_dedup(b, store, bid,
    frozen_centroids))``. The store path may be any Hadoop URI (file:,
    hdfs://, s3a://).
    """
    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    store = SnapshotStore(
        batch_df.sparkSession, seen_store_path, ["bucket", "vec_id"], "bucket",
        order="batch_id",
    )
    assigned = materialize(
        assign_ivf_bucket(batch_df, centroids)
        .select(
            "vec_id",
            "bucket",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_n", l2_norm("_v")),
        Why.SELF_JOIN,
    )
    # hot-bucket cap, the LSH-family/semantic_dedup_pairs guard: a
    # degenerate batch landing mostly in one bucket would square that
    # bucket's size in the self-join below. Rows of an over-cap bucket
    # are EXCLUDED FROM PAIRING (both in-batch and vs history) but
    # still admitted — the batch operator's convention: capping is
    # never silent row loss, only a skipped comparison.
    pairable = assigned
    if bucket_cap is not None:
        wsz = Window.partitionBy("bucket")
        pairable = (
            assigned.withColumn("_bsz", F.count(F.lit(1)).over(wsz))
            .filter(F.col("_bsz") <= bucket_cap)
            .drop("_bsz")
        )
    a = pairable.select(
        "bucket",
        F.col("vec_id").alias("_ida"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = pairable.select(
        F.col("bucket").alias("_bb"),
        F.col("vec_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    in_batch_losers = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("bucket") == F.col("_bb")) & (F.col("_ida") < F.col("_idb")),
        )
        .withColumn(
            "_sim",
            round_half_up(
                dot_product("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6
            ),
        )
        .filter(F.col("_sim") >= F.lit(tau))
        .select(F.col("_idb").alias("vec_id"))
        .distinct()
    )
    survivors = assigned.join(in_batch_losers, "vec_id", "left_anti")

    def step(seen: DataFrame | None) -> DataFrame:
        if seen is None:
            return survivors
        seen = seen.where(F.col("batch_id") != int(batch_id)).select(
            F.col("bucket").alias("_sb"),
            F.col("vec_id").alias("_sid"),
            F.col("_v").alias("_sv"),
            F.col("_n").alias("_sn"),
        )
        # over-cap-bucket rows skip the history comparison too (they
        # were admitted uncompared in-batch; comparing them here
        # would make the cap's semantics depend on arrival order)
        pair_surv = survivors.join(pairable.select("vec_id"), "vec_id", "left_semi")
        hits = (
            pair_surv.join(
                seen.hint("shuffle_hash"),
                # an id already admitted by an earlier batch is not its
                # own duplicate: a re-sent vector is emitted again
                (F.col("bucket") == F.col("_sb"))
                & (F.col("vec_id") != F.col("_sid")),
            )
            .withColumn(
                "_sim",
                round_half_up(
                    dot_product("_v", "_sv") / (F.col("_n") * F.col("_sn")), 6
                ),
            )
            .filter(F.col("_sim") >= F.lit(tau))
            .select("vec_id")
            .distinct()
        )
        return survivors.join(hits, "vec_id", "left_anti")

    admitted = store.advance(step, int(batch_id), near=assigned)
    return (
        admitted.select("vec_id")
        .join(batch_df, "vec_id")
        .select(*batch_df.columns)
    )


def pq_search_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    # n_sub default matches pq_codebooks/pq_encode/pq_adc_topk — a
    # mismatched n_sub against default-trained codes slices the wrong
    # subvectors and silently corrupts ADC distances when dim happens
    # to divide both values, so the whole PQ family shares one default
    n_sub: int = 4,
    dim: int = 64,
) -> DataFrame:
    """PQ search with exact re-ranking — the production PQ shape
    (IVFPQ / DiskANN all re-rank): the ADC pass over the compressed
    codes selects a ``shortlist`` of candidates per query, then ONLY
    those shortlist vectors are fetched (an id-keyed hash join against
    the corpus — |Q| * shortlist rows, not a scan) and re-ranked by
    exact integer-micro squared L2.

    At 100 TB the cost profile is: one narrow ADC pass over ~n_sub
    ints per row (the 64:1 bandwidth win), plus a point-lookup join
    that touches shortlist vectors per query. Approximation error
    then only costs RECALL of the shortlist, not precision of the
    final ranking — the returned top-k distances are exact.

    Output: (query_id, neighbor_id, dist_micro, rank), ascending
    exact distance, neighbor-id tie-break.
    """
    cand = pq_adc_topk(
        queries, codes, codebook, k=shortlist, n_sub=n_sub, dim=dim,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(cand, queries, corpus, k)


def _exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
) -> DataFrame:
    """Re-rank a (query_id, neighbor_id) shortlist by EXACT
    integer-micro squared L2 over the original vectors: the query
    side broadcasts (tiny), the corpus side is an id-keyed
    shuffle_hash point-lookup join (|Q| * shortlist rows, never a
    scan — and never sort-merge, the bimodally-slow shape for rows
    carrying vector arrays). Shared tail of pq_search_topk and
    ivfpq_search_topk."""
    qv = queries.select(
        F.col("vec_id").alias("query_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_qv"),
    )
    cv = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_cv"),
    )
    exact = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv.hint("shuffle_hash"), "neighbor_id")
        .withColumn("dist_micro", l2sq_micros("_qv", "_cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist_micro", "rank")
    )


# ---------------------------------------------------------------------------
# IVFADC: IVF coarse pruning composed with PQ compressed-domain scan
# ---------------------------------------------------------------------------


def ivf_residuals(
    df: DataFrame,
    assign: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """(id, bucket, resid): each vector minus its coarse centroid.

    Residual encoding is what makes IVF x PQ composable (Jégou et
    al., "Product Quantization for Nearest Neighbor Search", IEEE
    TPAMI 2011, §IV): after subtracting the coarse centroid the
    residuals from all buckets live near the origin, so ONE shared
    PQ codebook quantizes them far more finely than it could the raw
    corpus — the recall win over flat PQ comes from here.

    Engine portability: centroid components are already rounded 6 dp
    (kmeans_buckets), and double subtraction is exact IEEE, so the
    residuals are bit-identical to the DuckDB twin's
    list_transform(range(...), i -> v[i] - cv[i])."""
    cent = centroids.select("bucket", F.col("embedding").alias("_cv"))
    return (
        df.select(
            F.col("vec_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_dv"),
        )
        # shuffle_hash: the vector side is wide-array rows, the known
        # bimodally-slow sort-merge shape; both sides grow with the
        # corpus so broadcast is wrong at scale
        .join(assign.select("vec_id", "bucket").hint("shuffle_hash"), "vec_id")
        .join(F.broadcast(cent), "bucket")
        .select(
            "vec_id",
            "bucket",
            F.zip_with("_dv", "_cv", lambda a, b: a - b).alias("resid"),
        )
    )


def ivfpq_index(
    corpus: DataFrame,
    n_coarse: int = 8,
    coarse_iters: int = 3,
    n_sub: int = 4,
    n_codes: int = 8,
    pq_iters: int = 2,
    dim: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVFADC index: coarse k-means buckets, then a PQ
    codebook trained on the RESIDUALS (vector - coarse centroid),
    then the corpus re-encoded as (id, bucket, codes).

    Returns (codes, centroids, codebook). ``codes`` is the entire
    persistent index state at scale: n_sub small ints + a bucket id
    per vector (the 8-16 B/vector representation); centroids and
    codebook are tiny broadcast tables. Build cost is the
    kmeans_buckets Lloyd chain plus pq_codebooks' per-iteration
    broadcast-join passes — all corpus-parallel, nothing quadratic."""
    _, cent = kmeans_buckets(
        corpus, k=n_coarse, iters=coarse_iters
    )
    # assign against the FINAL (recomputed) centroids, not the Lloyd
    # chain's last in-loop assignment (which was made vs the previous
    # iterate): final centroids are what queries probe AND what the
    # incremental path (upsert_ivfpq_index → assign_ivf_bucket) uses,
    # so batch-built and incrementally-built indexes agree exactly
    # (pinned in tests/test_ivf_maintenance.py)
    assign = assign_ivf_bucket(
        corpus.select("vec_id", "embedding"), cent
    ).select("vec_id", "bucket")
    res = ivf_residuals(corpus, assign, cent)
    cb = pq_codebooks(
        res, n_sub=n_sub, n_codes=n_codes, iters=pq_iters, dim=dim, vec_col="resid",
    )
    codes = pq_encode(res, cb, n_sub=n_sub, dim=dim, vec_col="resid")
    # shuffle_hash: both sides are corpus-sized (codes + bucket ids),
    # so broadcast is wrong at scale and sort-merge pays a pointless
    # double sort on an id key we only need to hash-partition
    return (
        codes.join(res.select("vec_id", "bucket").hint("shuffle_hash"), "vec_id"),
        cent,
        cb,
    )


def ivfpq_search_topk(
    queries: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_probe: int = 2,
    n_sub: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVFADC search — the production 100 TB ANN shape (IVF coarse
    pruning x PQ compressed-domain scan x exact re-rank), replacing
    the flat ADC scan of pq_search_topk:

    1. each query ranks the coarse centroids (tiny broadcast) and
       keeps its ``n_probe`` nearest buckets;
    2. per probed bucket the query forms its RESIDUAL against that
       centroid and precomputes the ADC lookup table
       LUT[m][code] = micro-L2(residual subvector m, codeword) —
       |Q| * n_probe tiny nested maps, broadcast;
    3. the ADC scan reads codes ONLY inside probed buckets (the
       bucket-equality join prunes the rest) and sums n_sub BIGINT
       map lookups per surviving row — so per query the work is
       (n_probe / n_coarse) of the corpus at ~n_sub bytes/row,
       versus pq_adc_topk's full-corpus pass;
    4. the ADC shortlist is re-ranked by exact distance over the
       original vectors (id-keyed point-lookup join), so
       approximation only ever costs shortlist recall, never
       final-ranking precision.

    Each corpus row lives in exactly one bucket, so a (query,
    neighbor) pair appears at most once even under multi-probe.
    LUTs are value-keyed maps (the pq_adc_topk code-gap rule).
    Output: (query_id, neighbor_id, dist_micro, rank)."""
    d_sub = dim // n_sub
    cent = centroids.select("bucket", F.col("embedding").alias("_cv"))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_qv"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cent_sim").desc(), F.col("bucket").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cent_sim", cosine_similarity("_qv", "_cv"))
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= n_probe)
        .select(
            "query_id",
            "bucket",
            F.zip_with("_qv", "_cv", lambda a, b: a - b).alias("_qres"),
        )
    )
    qsub = probes.select(
        "query_id",
        "bucket",
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        "_qres",
    ).select(
        "query_id",
        "bucket",
        F.col("m").cast("int").alias("m"),
        F.expr(f"slice(_qres, m * {d_sub} + 1, {d_sub})").alias("sv"),
    )
    lut_rows = qsub.join(F.broadcast(codebook), "m").withColumn(
        "dmicro", l2sq_micros("sv", "cw")
    )
    luts = (
        lut_rows.groupBy("query_id", "bucket", "m")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("code", "dmicro")))
            ).alias("row_lut")
        )
        .groupBy("query_id", "bucket")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("m", "row_lut"))).alias(
                "lut"
            )
        )
    )
    scored = (
        codes.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(luts), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_dist_micro",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(n_sub - 1)),
                F.lit(0).cast("long"),
                lambda acc, m: acc
                + F.element_at(
                    F.element_at("lut", m),
                    F.element_at("codes", m + F.lit(1)),
                ),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist_micro").asc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(cand, queries, corpus, k)


def tfidf_cosine_postings(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    df_min: int = 2,
    df_max: int = 100,
    tf_cap: int = 100,
    ngram: int = 3,
) -> DataFrame:
    """Unit-normalized integer-micro tf-idf postings — the inverted
    index behind :func:`tfidf_cosine_topk` (term-weighted lexical doc
    similarity; complements MinHash/SimHash/embedding near-dup).

    The TERM unit is a word ``ngram`` (default 3): n-gram width is
    the selectivity knob (the round-8 shingle rule) — on a
    small-vocabulary corpus every unigram is a stopword-class hub
    (the synthetic docs have 31 distinct words, median df ~ 0.8 x
    n_docs, so a df band keeps nothing), while word 3-grams are
    combinatorial (27k terms, max df 25 at sf0.1) and land inside
    the band. ``ngram=1`` gives classic unigram tf-idf for
    natural-vocabulary corpora.

    Exact-integer discipline so two engines agree bit-for-bit:

    * ``tf`` capped at ``tf_cap`` (``least`` — deterministic, and the
      cap bounds every later product);
    * ``idf_milli = least(100000, (n_docs * 1000) div df)`` — integer
      div on both engines, no ln/float divergence; the clamp bounds
      ``w = tf * idf_milli <= 1e7``, so ``w^2 <= 1e14`` and a doc of
      1e4 surviving terms keeps its norm-square < 1e18, inside BIGINT;
    * tokens kept only with ``df_min <= df <= df_max``: df=1 terms
      can never contribute to a pair (zero recall loss), df > df_max
      terms are stopword-class hubs whose postings would emit
      C(df, 2) candidate pairs — the df band is the blowup guard that
      makes the postings self-join linear-ish at corpus scale
      (inverted-index join with frequency banding, the same family as
      the Bayardo/Xiao prefix filter used by prefix_jaccard_pairs);
    * the normalized weight ``u = floor(w * 1e6 / sqrt(double(n2))
      + 0.5)`` — BIGINT->DOUBLE casts round nearest-even identically
      and sqrt/one-division are IEEE-correctly-rounded, so ``u`` is
      bit-portable (round-7 rule), and |u| <= 1e6 keeps every pair
      dot product <= ~1e12, far inside BIGINT.

    Returns (doc_col, token, u).
    """
    t = F.split(F.trim(F.col(text_col)), r"\s+")
    if ngram == 1:
        toks = docs.select(F.col(doc_col), F.explode(t).alias("token")).filter(
            F.length("token") > 0
        )
    else:
        # size >= ngram guard: Spark sequence(1, 0) is DESCENDING
        toks = (
            docs.select(F.col(doc_col), t.alias("_t"))
            .filter(F.size("_t") >= ngram)
            .select(
                doc_col,
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(_t) - {ngram} + 1),"
                        f" i -> concat_ws(' ', slice(_t, i, {ngram})))"
                    )
                ).alias("token"),
            )
        )
    tf = toks.groupBy(doc_col, "token").agg(
        F.least(F.count(F.lit(1)), F.lit(tf_cap)).cast("long").alias("tf")
    )
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df").between(df_min, df_max))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    w = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w",
            F.col("tf")
            * F.least(F.lit(100000).cast("long"), F.expr("(n_docs * 1000) div df")),
        )
        .select(doc_col, "token", "w")
    )
    nrm = w.groupBy(doc_col).agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    return w.join(nrm, doc_col).select(
        doc_col,
        "token",
        F.floor(
            F.col("w").cast("double")
            * F.lit(1000000.0)
            / F.sqrt(F.col("n2").cast("double"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("u"),
    )


def tfidf_cosine_topk(
    docs: DataFrame,
    k: int = 20,
    doc_col: str = "doc_id",
    text_col: str = "text",
    df_min: int = 2,
    df_max: int = 100,
    tf_cap: int = 100,
    ngram: int = 3,
) -> DataFrame:
    """Global top-k most-similar document pairs by df-banded tf-idf
    cosine — the all-pairs inverted-index join: postings self-joined
    on token (each token emits at most C(df_max, 2) pairs — the band
    is the quadratic-blowup cap), pair dot products summed as exact
    BIGINT micros (order-independent), ties broken by (doc_a, doc_b).

    Output: (doc_a, doc_b, cos_micro, rank) with doc_a < doc_b and
    cos_micro = dot div 1e6 (~ cosine * 1e6).

    Scale: two hash-agg passes build the index; the pair join
    shuffles on token where every group is <= df_max rows; the
    pair aggregation shuffles on (doc_a, doc_b) with map-side
    partials. No driver collect, no window over the corpus.
    """
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    # localCheckpoint before the self-join: lazy cache races and an
    # aliased lineage triggers AMBIGUOUS_REFERENCE (CLAUDE.md rule)
    post = materialize(
        tfidf_cosine_postings(
            docs, doc_col, text_col, df_min, df_max, tf_cap, ngram
        ),
        Why.SELF_JOIN,
    )
    a = post.select(
        F.col(doc_col).alias("doc_a"), F.col("token").alias("token"), F.col("u").alias("ua")
    )
    b = post.select(
        F.col(doc_col).alias("doc_b"), F.col("token").alias("token"), F.col("u").alias("ub")
    )
    pairs = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("ua") * F.col("ub")).alias("dot"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("dot div 1000000").cast("long").alias("cos_micro"),
        )
    )
    return global_topk(
        pairs,
        [("cos_micro", False), ("doc_a", True), ("doc_b", True)],
        k,
    )
