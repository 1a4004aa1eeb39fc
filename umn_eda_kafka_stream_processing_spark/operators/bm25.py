"""BM25 keyword search over the document corpus — the retrieval
primitive data-curation stacks run next to embedding ANN (quality
probes, decontamination lookups, targeted corpus slicing: "find the
docs that answer this query" without a model in the loop).

Spark shape: the INDEX is three hash-aggregations over the exploded
token stream — postings (term, doc, tf), doc lengths, and document
frequencies — i.e. a classic distributed inverted index build: one
shuffle keyed by term, map-side combined, uniformly sharded (term
keys behave like the md5 keys of `exact_dedup_groups`). SEARCH
broadcasts the query-term list (tiny), joins it to the postings on
term (at 100 TB: a bucketed-by-term postings table makes this a
partition-pruned lookup — only the queried terms' buckets are read),
and one (query, doc) hash-agg sums the per-term contributions; top-k
ranks inside each query's partition only.

Engine portability (the integer-micros rule): idf(t) =
ln((N - df + 0.5) / (df + 0.5) + 1) (the Lucene BM25 idf — always
positive) is ONE transcendental per DISTINCT term on exact-integer-
±0.5 doubles, micro-rounded half-up to BIGINT. The per-(doc, term)
contribution multiplies that integer by the tf saturation
tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) — a short, fixed-order
chain of IEEE double ops on exact integer inputs — and micro-rounds
AGAIN to BIGINT, so the per-document score is an exact integer SUM
over the (few) query terms: order-independent, hash-equal across
engines. Ranks break ties by doc id on those exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize

K1 = 1.2
B = 0.75


def bm25_index(docs: DataFrame) -> tuple[DataFrame, DataFrame, int, int]:
    """Build the inverted index: returns (postings, doclens, n_docs,
    total_tokens) where postings = (term, id, tf, idf_micro) and
    doclens = (id, dl). Lowercased whitespace tokens; empty docs
    contribute a zero-length row to doclens (they can never match but
    keep n_docs honest). Only the two corpus scalars reach the
    driver."""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda w: F.lower(w),
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    # ONE corpus pass: everything else (doc lengths, document
    # frequencies, the total-token scalar) derives from the
    # checkpointed (id, term, tf) aggregate, not from re-exploding
    tf = materialize(
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")),
        Why.SHARED,
    )
    doclens = docs.select("doc_id").join(
        tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl")),
        "doc_id",
        "left",
    ).select("doc_id", F.coalesce("dl", F.lit(0)).cast("long").alias("dl"))
    n_docs = docs.count()
    total_tokens = int(tf.agg(F.sum("tf")).collect()[0][0] or 0)
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    idf = dfreq.select(
        "term",
        F.floor(
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    postings = tf.join(F.broadcast(idf), "term").select(
        "term", "doc_id", "tf", "idf_micro"
    )
    return postings, doclens, n_docs, total_tokens


def bm25_search(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    total_tokens: int,
    queries: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents per query: ``queries`` = (qid, term) with
    one row per DISTINCT query term (BM25's standard bag-of-terms
    scoring counts each matched term once per occurrence in the
    QUERY; pass repeated rows to weight repeats). Returns (qid, rank,
    id, score_micro) ranked by (score DESC, id ASC).

    Plan: broadcast the query terms into the postings join (term-
    pruned scan at scale), one (qid, doc) hash-agg of exact integer
    contributions, and a per-qid window for the top-k — partitioned
    by qid, never a global sort."""
    # dl/avgdl as (dl * n_docs) / total_tokens: one division, exact
    # integer product inputs — the order the oracle mirrors
    norm = (
        F.lit(1.0)
        - F.lit(B)
        + F.lit(B)
        * (
            (F.col("dl") * F.lit(float(n_docs)))
            / F.lit(float(total_tokens))
        )
    )
    contrib = F.floor(
        F.col("idf_micro")
        * (
            (F.col("tf") * F.lit(K1 + 1.0))
            / (F.col("tf") + F.lit(K1) * norm)
        )
        + F.lit(0.5)
    ).cast("long")
    scored = (
        postings.join(F.broadcast(queries), "term")
        .join(doclens.hint("shuffle_hash"), id_col)
        .groupBy("qid", id_col)
        .agg(F.sum(contrib).cast("long").alias("score_micro"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", id_col, "score_micro")
    )

def upsert_bm25_index(
    batch_df: DataFrame,
    index_dir: str,
    batch_seq: int,
    n_buckets: int = 32,
) -> None:
    """Incrementally maintain the BM25 inverted index under a
    document stream — the search-index member of the incremental
    family (exact/simhash/semantic dedup, IVF/IVFPQ, funnel,
    transitions, retention): each microbatch upserts three
    bucket-partitioned parquet stores under ``index_dir`` so
    `search_bm25_index` serves current results without ever
    rescanning the corpus.

    Stores: ``postings/`` (term, id, tf; bucket = pmod(hash(term)))
    and ``doclens/`` (id, dl; bucket = pmod(hash(id))). IDF is
    deliberately NOT stored: it depends on the GLOBAL (N, df) which
    move every batch, so it is computed at search time from the
    current stores — that is what makes incremental == batch EXACT
    rather than stale-within-epsilon. There is deliberately NO
    separate document-frequency store either: df is a COUNT over the
    postings keys, and a read-modify-add (prior df + batch count)
    merge is not idempotent under foreachBatch's at-least-once
    semantics — a replayed microbatch would re-add counts already in
    the store and permanently inflate idf. Both surviving stores are
    latest-wins keyed upserts, so replaying a batch (same rows, any
    batch_seq) is a no-op, and search counts df from postings
    exactly.

    incremental == batch CONTRACT (pinned by the streaming test):
    searching the incrementally-built index equals bm25_index +
    bm25_search over the full history, for an APPEND-ONLY stream
    (each doc_id arrives in exactly one batch — re-ingesting a
    changed doc would need its OLD terms' postings/df retracted,
    which an upsert store cannot see; the reference stores share
    this contract).

    Per batch: ONE token explode + (id, term, tf) hash-agg; postings
    and doclens upserts touch only the batch's buckets. Bucket
    values are hashes of the stores' own keys, so no key ever moves."""
    postings, doclens = _bm25_stores(
        batch_df.sparkSession, index_dir, n_buckets
    )
    toks = batch_df.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda w: F.lower(w),
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    tf = materialize(
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")),
        Why.SHARED,
    )
    postings.upsert(tf.select("term", "doc_id", "tf"), batch_seq)
    doclens.upsert(
        batch_df.select("doc_id")
        .join(
            tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl")),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("dl", F.lit(0)).cast("long").alias("dl")),
        batch_seq,
    )


def _bm25_stores(spark, index_dir: str, n_buckets: int):
    """The index's two stores: ``postings`` (term, id, tf; bucket =
    pmod(hash(term))) and ``doclens`` (id, dl; bucket = pmod(hash(id)))."""
    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    return (
        SnapshotStore(
            spark, f"{index_dir}/postings", ["term", "doc_id"], "_tb",
            n_buckets=n_buckets, bucket_on="term",
        ),
        SnapshotStore(
            spark, f"{index_dir}/doclens", "doc_id", "_db", n_buckets=n_buckets
        ),
    )


def search_bm25_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    n_buckets: int = 32,
) -> DataFrame:
    """Serve top-k BM25 from the incrementally-maintained index:
    corpus scalars derive from the doclens store (one 2-column agg),
    idf is computed from the CURRENT (N, df) — the same formula and
    rounding as bm25_index, so results equal a from-scratch batch
    index — and df itself is COUNTED from the bucket-pruned postings
    at search time (postings rows are keyed latest-wins, so this is
    exact and replay-safe; a stored df would drift under microbatch
    replays). The postings read is PARTITION-PRUNED to the queried
    terms' hash buckets (the queried-term list is collected once: a
    bounded planning action, queries are human-sized; bucket ids
    come through the engine's own hash, never Python's). The two
    corpus-scalar driver actions per call are the price of serving
    CURRENT stats; hot-path callers issuing many searches against a
    frozen store should batch their queries into one `queries` frame.

    Raises ``ValueError`` on an empty index — an uninitialized store
    (empty batches leave none behind) or n_docs == 0: scoring against
    ln of a negative ratio would otherwise surface as silent NULL
    scores."""
    postings, lengths = _bm25_stores(spark, index_dir, n_buckets)
    doclens = lengths.read()
    if doclens is None:
        raise ValueError(
            f"BM25 index at {index_dir!r} is uninitialized (no documents "
            "ingested yet) — cannot score against n_docs=0"
        )
    doclens = doclens.select("doc_id", "dl")
    stats = doclens.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tt"),
    ).collect()[0]
    n_docs, total_tokens = int(stats["n"]), int(stats["tt"])
    if n_docs == 0:
        raise ValueError(
            f"BM25 index at {index_dir!r} is empty (no documents "
            "ingested yet) — cannot score against n_docs=0"
        )
    pruned = materialize(
        postings.read(near=queries)
        .join(
            F.broadcast(queries.select("term").distinct()), "term", "semi"
        )
        .select("term", "doc_id", "tf"),
        Why.SHARED,
    )
    dfreq = pruned.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    idf = dfreq.select(
        "term",
        F.floor(
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    postings = pruned.join(F.broadcast(idf), "term").select(
        "term", "doc_id", "tf", "idf_micro"
    )
    return bm25_search(
        postings, doclens, n_docs, total_tokens, queries, "doc_id", k
    )


