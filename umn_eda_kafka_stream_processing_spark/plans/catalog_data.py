"""Training-data pipeline queries: dedup, similarity search, text
analysis, multimodal — the operators a 100 TB LLM-data pipeline
needs, over the synthetic ``documents`` and ``embeddings`` tables.

Oracle construction notes:
* All hashing is md5 (bit-identical across engines).
* Shingle/token lists mirror exactly: Spark ``sequence(1, greatest(
  L-2, 1))`` (inclusive) == DuckDB ``range(1, greatest(L-2, 1) + 1)``
  (exclusive end).
* The MinHash and SimHash oracles are generated from the same
  (num_hashes, bands, chunk) parameters as the Spark operators so
  the two can't drift.
* Similarity scores: double-precision sequential reductions rounded
  to 6 dp on both sides; ranks are computed on the *rounded* score
  with an id tie-break, so ordering is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up
from umn_eda_kafka_stream_processing_spark.functions.text import (
    LANG_STOPWORDS,
    fingerprint_md5,
    html_to_text,
    lang_predict,
    punct_count,
    quality_score,
    stopword_count,
    token_count,
)
from umn_eda_kafka_stream_processing_spark.operators import dedup as dd
from umn_eda_kafka_stream_processing_spark.operators import multimodal as mm
from umn_eda_kafka_stream_processing_spark.operators import similarity as sim
from umn_eda_kafka_stream_processing_spark.plans.registry import register as _register
from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table, spread

# DuckDB SQL fragments kept in lockstep with functions/text.py
_DUCK_TOKENS = r"string_split_regex(trim(text), '\s+')"


def _duck_shingles(n: int = 3) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(length(text) - {n - 1}, 1) + 1), "
        f"i -> substr(text, CAST(i AS INT), {n})))"
    )


_DUCK_SHINGLES = _duck_shingles(3)

# packed-codepoint twin of functions/text.py:char_shingles_packed —
# one BIGINT per 3-gram; greatest(ord,0) clamps DuckDB's ord('')=-1
# to Spark's ascii('')=0
_DUCK_SHINGLES_PACKED = (
    "list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1), "
    "i -> greatest(ord(substr(text, CAST(i AS INT), 1)), 0) * 4398046511104 "
    "+ greatest(ord(substr(text, CAST(i + 1 AS INT), 1)), 0) * 2097152 "
    "+ greatest(ord(substr(text, CAST(i + 2 AS INT), 1)), 0)))"
)
_DUCK_PUNCT = (
    "length(text) - length(regexp_replace(text, '[.,!?;:''\"()-]', '', 'g'))"
)


def _duck_stop_count(lang: str) -> str:
    in_list = ", ".join("'" + w + "'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({_DUCK_TOKENS}, t -> t IN ({in_list})))"


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

@_register(
    "benchmark_decontamination_census",
    "Benchmark DECONTAMINATION sweep (operators/decontam.py:"
    "decontaminate — the Brown/Lee token-n-gram overlap rule: a "
    "training doc sharing any 8-token gram with a benchmark doc is "
    "flagged): documents with doc_id % 37 = 0 play the held-out "
    "benchmark; every corpus doc's distinct 8-gram set (pure JVM "
    "split -> windowed transform -> 60-bit md5 prefixes) joins the "
    "BROADCAST benchmark gram set and the per-doc hit counts roll "
    "into one census row — doc/bench totals, contaminated counts "
    "split bench/non-bench (every benchmark doc must self-flag), "
    "total hit grams, and the flagged-id checksum. The corpus never "
    "shuffles (scan -> generate -> broadcast join -> hash-agg); "
    "hash collisions only ever OVER-flag. Oracle regrows the grams "
    "and the sweep from the same md5 text.",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
      FROM toks
    ),
    g0 AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(
                  array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT) AS g
      FROM pos
    ),
    dg AS (SELECT DISTINCT doc_id, g FROM g0),
    bg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 37 = 0),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM dg GROUP BY 1),
    hit AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_hit
            FROM dg JOIN bg USING (g) GROUP BY 1),
    per AS (
      SELECT t.doc_id, t.n_grams, coalesce(h.n_hit, 0) AS n_hit,
             CASE WHEN coalesce(h.n_hit, 0) >= 1 THEN 1 ELSE 0 END AS c,
             CASE WHEN t.doc_id % 37 = 0 THEN 1 ELSE 0 END AS isb
      FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(isb) AS BIGINT) AS n_bench_docs,
           CAST(sum(c) AS BIGINT) AS n_contaminated,
           CAST(sum(c * isb) AS BIGINT) AS n_bench_contaminated,
           CAST(sum(c * (1 - isb)) AS BIGINT) AS n_extra_contaminated,
           CAST(sum(n_hit) AS BIGINT) AS total_hit_grams,
           CAST(sum(CASE WHEN c = 1 THEN doc_id % 1000003 ELSE 0 END)
                AS BIGINT) AS contaminated_id_checksum
    FROM per
    """,
)
def benchmark_decontamination_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # both sides of the sweep ride the session-cached corpus gram
    # table: docs_grams injects the corpus side, and the benchmark
    # suite (a doc_id % 37 slice of the same corpus) filters the
    # same table instead of re-exploding its text (per-doc purity)
    res = decontaminate(
        docs,
        benchmark=None,
        bench_grams=cached_bench_grams(spark, sf_dir, 37),
        n=8,
        docs_grams=cached_corpus_grams(spark, sf_dir),
    ).withColumn("isb", (F.col("doc_id") % 37 == 0).cast("long"))
    return res.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("isb").cast("long").alias("n_bench_docs"),
        F.sum("contaminated").cast("long").alias("n_contaminated"),
        F.sum(F.col("contaminated") * F.col("isb"))
        .cast("long")
        .alias("n_bench_contaminated"),
        F.sum(F.col("contaminated") * (F.lit(1) - F.col("isb")))
        .cast("long")
        .alias("n_extra_contaminated"),
        F.sum("n_hit_grams").cast("long").alias("total_hit_grams"),
        F.sum(
            F.when(
                F.col("contaminated") == 1, F.col("doc_id") % 1000003
            ).otherwise(0)
        )
        .cast("long")
        .alias("contaminated_id_checksum"),
    )


@_register(
    "incremental_decontamination_census",
    "STREAMING half of the decontamination sweep (operators/"
    "decontam.py:benchmark_grams/incremental_decontaminate): "
    "evaluation suites GROW, so the benchmark gram set is a "
    "replay-safe register store — two benchmark batches land "
    "(doc_id % 74 = 0, then = 37; union = the batch census's "
    "% 37 = 0 set), batch 1 is re-upserted (replay) before the "
    "sweep, and the corpus sweeps against the MERGED store (distinct "
    "across batch registers == the from-scratch gram set — set "
    "union is associative). Census = the identical aggregate row as "
    "benchmark_decontamination_census PLUS store_rows pinning the "
    "per-batch register layout and the replay no-op. Oracle regrows "
    "both batches' gram registers and the sweep from the same md5 "
    "text.",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
      FROM toks
    ),
    g0 AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(
                  array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT) AS g
      FROM pos
    ),
    dg AS (SELECT DISTINCT doc_id, g FROM g0),
    bg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 37 = 0),
    regs AS (
      SELECT 0 AS batch_id, g FROM
        (SELECT DISTINCT g FROM dg WHERE doc_id % 74 = 0)
      UNION ALL
      SELECT 1, g FROM
        (SELECT DISTINCT g FROM dg WHERE doc_id % 74 = 37)
    ),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM dg GROUP BY 1),
    hit AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_hit
            FROM dg JOIN bg USING (g) GROUP BY 1),
    per AS (
      SELECT t.doc_id, t.n_grams, coalesce(h.n_hit, 0) AS n_hit,
             CASE WHEN coalesce(h.n_hit, 0) >= 1 THEN 1 ELSE 0 END AS c,
             CASE WHEN t.doc_id % 37 = 0 THEN 1 ELSE 0 END AS isb
      FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(isb) AS BIGINT) AS n_bench_docs,
           CAST(sum(c) AS BIGINT) AS n_contaminated,
           CAST(sum(c * isb) AS BIGINT) AS n_bench_contaminated,
           CAST(sum(c * (1 - isb)) AS BIGINT) AS n_extra_contaminated,
           CAST(sum(n_hit) AS BIGINT) AS total_hit_grams,
           CAST(sum(CASE WHEN c = 1 THEN doc_id % 1000003 ELSE 0 END)
                AS BIGINT) AS contaminated_id_checksum,
           (SELECT CAST(count(*) AS BIGINT) FROM regs) AS store_rows
    FROM per
    """,
)
def incremental_decontamination_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        incremental_decontaminate,
        merge_grams,
    )
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    store = tempfile.mkdtemp(prefix="sparkgraft_decontam_") + "/grams"
    grams = BatchStore(spark, store, merge_grams)
    # both suites are doc_id % 74 slices of the corpus: their gram
    # registers filter the session-cached corpus gram table instead
    # of re-exploding text per upsert (per-doc purity); the sweep
    # injects the same table as its corpus side
    grams.upsert(0, cached_bench_grams(spark, sf_dir, 74, 0))
    grams.upsert(1, cached_bench_grams(spark, sf_dir, 74, 37))
    # replay batch 1: batch-keyed registers — store_rows pins the no-op
    grams.upsert(1, cached_bench_grams(spark, sf_dir, 74, 37))
    res = incremental_decontaminate(
        spark, store, docs, docs_grams=cached_corpus_grams(spark, sf_dir)
    ).withColumn("isb", (F.col("doc_id") % 37 == 0).cast("long"))
    store_rows = spark.read.parquet(store).count()
    return res.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("isb").cast("long").alias("n_bench_docs"),
        F.sum("contaminated").cast("long").alias("n_contaminated"),
        F.sum(F.col("contaminated") * F.col("isb"))
        .cast("long")
        .alias("n_bench_contaminated"),
        F.sum(F.col("contaminated") * (F.lit(1) - F.col("isb")))
        .cast("long")
        .alias("n_extra_contaminated"),
        F.sum("n_hit_grams").cast("long").alias("total_hit_grams"),
        F.sum(
            F.when(
                F.col("contaminated") == 1, F.col("doc_id") % 1000003
            ).otherwise(0)
        )
        .cast("long")
        .alias("contaminated_id_checksum"),
    ).withColumn("store_rows", F.lit(int(store_rows)).cast("long"))


@_register(
    "decontamination_resweep_census",
    "DELTA re-sweep for LATE-ARRIVING benchmarks (operators/"
    "decontam.py:resweep_decontaminate + merge_decontam_censuses — "
    "round-12 verdict task 2): the corpus is swept and admitted "
    "against benchmark batch 0 (doc_id % 74 = 0), THEN batch 1 "
    "(% 74 = 37) lands late. The remedy is no longer a full "
    "re-sweep: the delta sweeps only batch 1's NOVEL grams "
    "(partition-pruned store read, grams already in batch 0 "
    "anti-joined out — both sides benchmark-sized), and because "
    "the delta gram set is disjoint the merge ADDS hit counts "
    "exactly — merged census == from-scratch full sweep column-for-"
    "column (test-pinned). Census: novel-gram count, initial / "
    "newly / merged contaminated counts, merged hit-gram total and "
    "flagged-id checksum. Oracle regrows both gram sets and the "
    "disjoint-delta arithmetic from the same md5 text.",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
      FROM toks
    ),
    g0 AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(
                  array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT) AS g
      FROM pos
    ),
    dg AS (SELECT DISTINCT doc_id, g FROM g0),
    bg0 AS (SELECT DISTINCT g FROM dg WHERE doc_id % 74 = 0),
    bgd AS (
      SELECT g FROM (SELECT DISTINCT g FROM dg WHERE doc_id % 74 = 37)
      WHERE g NOT IN (SELECT g FROM bg0)
    ),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM dg GROUP BY 1),
    h0 AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n0
           FROM dg JOIN bg0 USING (g) GROUP BY 1),
    hd AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS nd
           FROM dg JOIN bgd USING (g) GROUP BY 1),
    per AS (
      SELECT t.doc_id,
             coalesce(h0.n0, 0) AS n0,
             coalesce(hd.nd, 0) AS nd
      FROM tot t
      LEFT JOIN h0 ON h0.doc_id = t.doc_id
      LEFT JOIN hd ON hd.doc_id = t.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM bgd) AS delta_grams,
           CAST(sum(CASE WHEN n0 >= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated_initial,
           CAST(sum(CASE WHEN n0 + nd >= 1 THEN 1 ELSE 0 END)
                - sum(CASE WHEN n0 >= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_newly_contaminated,
           CAST(sum(CASE WHEN n0 + nd >= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated_merged,
           CAST(sum(n0 + nd) AS BIGINT) AS total_hit_grams_merged,
           CAST(sum(CASE WHEN n0 + nd >= 1 THEN doc_id % 1000003
                    ELSE 0 END) AS BIGINT) AS merged_id_checksum
    FROM per
    """,
)
def decontamination_resweep_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        incremental_decontaminate,
        merge_decontam_censuses,
        merge_grams,
        resweep_decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    store = tempfile.mkdtemp(prefix="sparkgraft_resweep_") + "/grams"
    grams = BatchStore(spark, store, merge_grams)
    # suites/corpus all ride the session-cached corpus gram table
    # (register payloads + docs_grams sweep injection): the census
    # pays ZERO text explodes — two benchmark-sized filters plus two
    # broadcast-join sweeps over the standing table
    corpus_grams = cached_corpus_grams(spark, sf_dir)
    grams.upsert(0, cached_bench_grams(spark, sf_dir, 74, 0))
    # the standing sweep runs (and MATERIALIZES — a lazy frame would
    # silently read the grown store below) before the late batch
    standing = incremental_decontaminate(
        spark, store, docs, docs_grams=corpus_grams
    ).localCheckpoint()
    grams.upsert(1, cached_bench_grams(spark, sf_dir, 74, 37))
    delta = resweep_decontaminate(
        spark, store, docs, since_batch=0, corpus_grams=corpus_grams
    )
    merged = merge_decontam_censuses(standing, delta)
    sstore = spark.read.parquet(store)
    delta_grams = (
        sstore.filter(F.col("batch_id") > 0)
        .select("g")
        .distinct()
        .join(
            sstore.filter(F.col("batch_id") <= 0).select("g").distinct(),
            "g",
            "left_anti",
        )
        .count()
    )
    initial = standing.agg(
        F.sum("contaminated").cast("long").alias("n_contaminated_initial")
    )
    mstats = merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("contaminated").cast("long").alias("n_contaminated_merged"),
        F.sum("n_hit_grams").cast("long").alias("total_hit_grams_merged"),
        F.sum(
            F.when(
                F.col("contaminated") == 1, F.col("doc_id") % 1000003
            ).otherwise(0)
        )
        .cast("long")
        .alias("merged_id_checksum"),
    )
    return initial.crossJoin(mstats).select(
        "n_docs",
        F.lit(int(delta_grams)).cast("long").alias("delta_grams"),
        "n_contaminated_initial",
        (F.col("n_contaminated_merged") - F.col("n_contaminated_initial"))
        .cast("long")
        .alias("n_newly_contaminated"),
        "n_contaminated_merged",
        "total_hit_grams_merged",
        "merged_id_checksum",
    )


@_register(
    "dedup_exact_groups",
    "Exact dedup via hash-groupBy on normalized md5 fingerprint; keeper = min "
    "doc_id (operators/dedup.py:exact_dedup_groups).",
    """
    SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@_register(
    "ngram_jaccard_pairs",
    "Near-dup pairs by exact 3-gram Jaccard >= 0.8, blocked on (lang, "
    "|n_chars diff| <= 50) (operators/dedup.py:ngram_jaccard_pairs). The "
    "quadratic correctness baseline; minhash_lsh_pairs is the scale path.",
    f"""
    WITH sets AS (SELECT doc_id, lang, n_chars, {_DUCK_SHINGLES_PACKED} AS sh FROM documents)
    SELECT * FROM (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             floor(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
                   / greatest(CAST(len(a.sh) + len(b.sh)
                              - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE),
                              1.0) * 10000.0 + 0.5) / 10000.0 AS jaccard
      FROM sets a JOIN sets b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND abs(a.n_chars - b.n_chars) <= 50
    ) WHERE jaccard >= 0.8
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def cached_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached MinHash-LSH near-dup pair graph over the
    documents corpus — the shared substrate of the clustering,
    leakage-split, and training-manifest censuses (train-once/
    serve-many: the first call pays the signature+band+verify
    pipeline, hits are parquet scans)."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized

    return materialized(
        spark,
        f"minhash_pairs|{sf_dir}",
        lambda: dd.minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents")
        ),
    )


def cached_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached MinHash signature table over the documents
    corpus (`dedup.minhash_signatures`, default 16 hashes / 8-char
    shingles) — the per-doc half of the pair pipeline, shared by the
    incremental-extension census (its delta band join re-reads the
    OLD corpus's signatures every run; one row per doc, tiny)."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized

    return materialized(
        spark,
        f"minhash_sigs|{sf_dir}",
        lambda: dd.minhash_signatures(
            load_table(spark, sf_dir, "documents")
        ),
    )


def cached_corpus_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached FULL-CORPUS 8-gram table (`decontam.
    corpus_gram_table` — one row per (doc, gram-hash) with the
    per-doc total alongside): the gram explode is every
    decontamination sweep's dominant cost, and FOUR censuses sweep
    the same corpus against different benchmark gram sets (the batch
    census, the incremental-store census, the resweep census's
    standing + delta passes) while the benchmark-side gram sets are
    themselves doc_id-filters of this table. Materialize once,
    inject via ``docs_grams=`` / filter for bench registers.
    Per-doc rows are a pure function of each doc, so any doc_id
    filter of this table equals the gram table of the filtered
    corpus exactly."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        corpus_gram_table,
    )

    return materialized(
        spark,
        f"corpus_grams8|{sf_dir}",
        lambda: corpus_gram_table(
            spread(load_table(spark, sf_dir, "documents"), "doc_id")
        ),
    )


def cached_bench_grams(
    spark: SparkSession, sf_dir: str, modulus: int, residue: int = 0
) -> DataFrame:
    """A benchmark suite's distinct gram set as a one-column frame
    (``g``), derived from `cached_corpus_grams` by a doc_id filter —
    the suites in every decontamination census are corpus slices
    (doc_id % m = r), so their gram sets are exact filters of the
    standing corpus gram table (per-doc purity), never a second
    explode."""
    return (
        cached_corpus_grams(spark, sf_dir)
        .filter(F.col("doc_id") % modulus == residue)
        .select(F.col("_g").alias("g"))
        .distinct()
    )


def cached_bm25_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, int]:
    """Session-cached BM25 inverted index over the documents corpus
    (`operators/bm25.py:bm25_index` with default tokenization):
    (postings, doclens, n_docs, total_tokens). THREE censuses build
    the identical index per run (bm25_search_topk and both
    hybrid-RRF fusions) — the postings build is each one's dominant
    cost (corpus explode + three hash-aggs + two driver scalars).
    Train-once/serve-many: frames parquet-backed, scalars riding
    `cached_scalar` under the same application key (a hit pays zero
    jobs — the scalars are only computed inside the group's single
    build call)."""
    from umn_eda_kafka_stream_processing_spark.caching import (
        cached_scalar,
        materialized_group,
    )
    from umn_eda_kafka_stream_processing_spark.operators.bm25 import (
        bm25_index,
    )

    scalars: dict[str, int] = {}

    def build() -> dict[str, DataFrame]:
        postings, doclens, n_docs, total_tokens = bm25_index(
            spread(load_table(spark, sf_dir, "documents"), "doc_id")
        )
        scalars["n_docs"], scalars["total_tokens"] = n_docs, total_tokens
        return {"postings": postings, "doclens": doclens}

    m = materialized_group(
        spark, f"bm25_index|{sf_dir}", ["postings", "doclens"], build
    )
    n_docs = cached_scalar(
        spark, f"bm25_index|{sf_dir}|n_docs", lambda: scalars["n_docs"]
    )
    total_tokens = cached_scalar(
        spark,
        f"bm25_index|{sf_dir}|total_tokens",
        lambda: scalars["total_tokens"],
    )
    return m["postings"], m["doclens"], int(n_docs), int(total_tokens)


def cached_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached min-label components over `cached_minhash_pairs`
    — the iterative propagation loop runs once per session."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized

    return materialized(
        spark,
        f"near_dup_clusters|{sf_dir}",
        lambda: dd.near_dup_clusters(
            cached_minhash_pairs(spark, sf_dir), pairs_materialized=True
        ),
    )


def _cached_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached rarity-sorted 16-gram shingle arrays over the
    documents corpus — the shared substrate of the prefix Jaccard
    and containment joins (one explode + df agg + per-doc sort-agg,
    paid once per session instead of per query per bench repeat)."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized

    return materialized(
        spark,
        f"rarity_shingles_16|{sf_dir}",
        lambda: dd.rarity_sorted_shingles(
            load_table(spark, sf_dir, "documents"), shingle_n=16
        ),
    )


@_register(
    "prefix_jaccard_pairs",
    "EXACT blockless set-similarity join by prefix filtering "
    "(operators/dedup.py:prefix_jaccard_pairs — the AllPairs/PPJoin "
    "candidate generation): every doc's 16-gram shingles are ordered "
    "by global rarity (df ASC, shingle ASC) and only each doc's "
    "first n - ceil(tau*n) + 1 shingles join; the prefix-filter "
    "lemma guarantees every Jaccard >= 0.7 pair shares a prefix "
    "shingle, so unlike LSH bands or first-char blocks there is "
    "ZERO recall loss, and unlike the banded quadratic baseline no "
    "block^2 join exists — candidates are rare-shingle collisions "
    "plus a lossless size-ratio prune, closed by one exact "
    "array_intersect per candidate. All-BIGINT thresholding "
    "(1e6*inter >= 7e5*union). Shingle width is the selectivity "
    "knob: 8-grams collide massively on this corpus (45M candidates "
    "at sf0.1) while 16-grams give 23k — a shared 16-gram is "
    "EVIDENCE of duplication (the remove_shared_spans width). "
    "Guarded by an exact candidate-count planning scalar that "
    "delegates/raises past the cap. "
    "Oracle: the same ordering/prefix/verify mirrored in SQL.",
    f"""
    WITH d8 AS MATERIALIZED (
      SELECT doc_id, {_duck_shingles(16)} AS sh FROM documents
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, unnest(sh) AS t FROM d8
    ),
    dfreq AS MATERIALIZED (
      SELECT t, CAST(count(*) AS BIGINT) AS dfc FROM tok GROUP BY t
    ),
    arr AS MATERIALIZED (
      SELECT doc_id,
             list(tok.t ORDER BY dfreq.dfc, tok.t) AS arr,
             CAST(count(*) AS BIGINT) AS n
      FROM tok JOIN dfreq USING (t)
      GROUP BY doc_id
    ),
    pre AS MATERIALIZED (
      SELECT doc_id, n,
             unnest(arr[1:CAST(greatest(
               n - ((700000 * n + 999999) // 1000000) + 1, 1) AS INT)])
               AS t
      FROM arr
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      FROM pre a JOIN pre b ON a.t = b.t AND a.doc_id < b.doc_id
       AND 1000000 * b.n >= 700000 * a.n
       AND 1000000 * a.n >= 700000 * b.n
    )
    SELECT ida AS doc_id_a, idb AS doc_id_b, inter, uni,
           CAST((1000000 * inter + uni // 2) // uni AS BIGINT)
               AS jaccard_micro
    FROM (
      SELECT c.ida, c.idb,
             CAST(len(list_filter(x.sh, s -> list_contains(y.sh, s)))
                  AS BIGINT) AS inter,
             CAST(len(x.sh) + len(y.sh)
                  - len(list_filter(x.sh, s -> list_contains(y.sh, s)))
                  AS BIGINT) AS uni
      FROM cand c JOIN d8 x ON x.doc_id = c.ida
                  JOIN d8 y ON y.doc_id = c.idb
    )
    WHERE 1000000 * inter >= 700000 * uni
    """,
)
def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.prefix_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        shingle_n=16,
        threshold_micro=700_000,
        arr=_cached_shingle_arrays(spark, sf_dir),
    )


@_register(
    "shingle_containment_pairs",
    "EXACT set-CONTAINMENT join (operators/dedup.py:"
    "prefix_containment_pairs) — the asymmetric dedup ask Jaccard "
    "misses: a snippet quoted/templated inside a long document has "
    "tiny Jaccard (union dominated by the container) but containment "
    "|x∩y|/|x| ~ 1. The contained side keeps the rarest-first prefix "
    "(n - ceil(tau*n) + 1); the CONTAINER side joins its FULL shingle "
    "stream — containment has no upper size bound, so a container "
    "prefix would lose recall (the containment form of the "
    "prefix-filter lemma). One-directional lossless size prune "
    "(1e6*|y| >= thr*|x|), exact array_intersect verify, all-BIGINT "
    "cross-multiplied threshold, ordered pairs both ways. Guarded by "
    "the sum(df_prefix*df_stream) planning scalar (raise-only: "
    "MinHash estimates Jaccard, not containment — no honest "
    "approximate fallback exists). Oracle: the same ordering/prefix/"
    "stream-join/verify mirrored in SQL.",
    f"""
    WITH d8 AS MATERIALIZED (
      SELECT doc_id, {_duck_shingles(16)} AS sh FROM documents
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, unnest(sh) AS t FROM d8
    ),
    dfreq AS MATERIALIZED (
      SELECT t, CAST(count(*) AS BIGINT) AS dfc FROM tok GROUP BY t
    ),
    arr AS MATERIALIZED (
      SELECT doc_id,
             list(tok.t ORDER BY dfreq.dfc, tok.t) AS arr,
             CAST(count(*) AS BIGINT) AS n
      FROM tok JOIN dfreq USING (t)
      GROUP BY doc_id
    ),
    pre AS MATERIALIZED (
      SELECT doc_id, n,
             unnest(arr[1:CAST(greatest(
               n - ((800000 * n + 999999) // 1000000) + 1, 1) AS INT)])
               AS t
      FROM arr
    ),
    fulltok AS MATERIALIZED (
      SELECT doc_id, n, unnest(arr) AS t FROM arr
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      FROM pre a JOIN fulltok b ON a.t = b.t AND a.doc_id <> b.doc_id
       AND 1000000 * b.n >= 800000 * a.n
    )
    SELECT ida AS contained_id, idb AS container_id, inter,
           n_contained, n_container,
           CAST((1000000 * inter + n_contained // 2) // n_contained
                AS BIGINT) AS containment_micro
    FROM (
      SELECT c.ida, c.idb,
             CAST(len(list_filter(x.sh, s -> list_contains(y.sh, s)))
                  AS BIGINT) AS inter,
             CAST(len(x.sh) AS BIGINT) AS n_contained,
             CAST(len(y.sh) AS BIGINT) AS n_container
      FROM cand c JOIN d8 x ON x.doc_id = c.ida
                  JOIN d8 y ON y.doc_id = c.idb
    )
    WHERE 1000000 * inter >= 800000 * n_contained
    """,
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.prefix_containment_pairs(
        load_table(spark, sf_dir, "documents"),
        shingle_n=16,
        threshold_micro=800_000,
        arr=_cached_shingle_arrays(spark, sf_dir),
    )


def _minhash_parts(
    k: int = 16, r: int = 2, shingle_n: int = 8, gate: float = 0.5
) -> tuple[str, str]:
    """(CTE list, final pair SELECT) for the MinHash+LSH oracle — split
    so near_dup_clusters can reuse the CTEs under WITH RECURSIVE."""
    b = k // r
    mins = ",\n           ".join(
        f"min(substr(md5('{i // 4}|' || s), {8 * (i % 4) + 1}, 8)) AS h{i}"
        for i in range(k)
    )
    est_matches = " + ".join(
        f"(CASE WHEN sga.h{i} = sgb.h{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    bands = ",\n           ".join(
        "md5(" + " || '|' || ".join(f"h{band * r + j}" for j in range(r)) + f") AS band{band}"
        for band in range(b)
    )
    any_band = " OR ".join(f"a.band{i} = b.band{i}" for i in range(b))
    ctes = f"""sets AS (SELECT doc_id, {_duck_shingles(shingle_n)} AS sh FROM documents),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    sigs AS (SELECT doc_id,
           {mins}
      FROM exploded GROUP BY doc_id),
    bands AS (SELECT doc_id,
           {bands}
      FROM sigs),
    cands0 AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND ({any_band})),
    cands AS (SELECT c.doc_id_a, c.doc_id_b
      FROM cands0 c JOIN sigs sga ON sga.doc_id = c.doc_id_a
                    JOIN sigs sgb ON sgb.doc_id = c.doc_id_b
      WHERE ({est_matches}) / {float(k)} >= {gate})"""
    pair_select = """SELECT * FROM (
      SELECT c.doc_id_a, c.doc_id_b,
             floor(CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
                   / greatest(CAST(len(sa.sh) + len(sb.sh)
                              - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE),
                              1.0) * 10000.0 + 0.5) / 10000.0 AS jaccard
      FROM cands c JOIN sets sa ON sa.doc_id = c.doc_id_a
                   JOIN sets sb ON sb.doc_id = c.doc_id_b
    ) WHERE jaccard >= 0.8"""
    return ctes, pair_select


def _minhash_oracle(
    k: int = 16, r: int = 2, shingle_n: int = 8, gate: float = 0.5
) -> str:
    ctes, pair_select = _minhash_parts(k, r, shingle_n, gate)
    return f"WITH {ctes}\n    {pair_select}"


def _near_dup_clusters_oracle() -> str:
    """WITH RECURSIVE twin of operators/dedup.py:near_dup_clusters over
    the minhash_lsh_pairs edge set: (id, label) is in ``walk`` iff
    ``label`` reaches ``id`` along near-dup edges, so min(label) per id
    is the component minimum — exactly the fixpoint the Spark min-label
    propagation converges to."""
    ctes, pair_select = _minhash_parts()
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({pair_select}),
    und AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs),
    walk(id, label) AS (
      SELECT DISTINCT src, src FROM und
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.id
    )
    SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
    FROM walk GROUP BY id
    """


def _leakage_safe_split_oracle(
    val_rate: float = 0.2, test_rate: float = 0.2, salt: str = "split"
) -> str:
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        rate_threshold,
    )

    test_cut = rate_threshold(test_rate)
    val_cut = test_cut + rate_threshold(val_rate)
    ctes, pair_select = _minhash_parts()

    def keyed(src: str, key: str) -> str:
        return (
            f"SELECT doc_id, CASE "
            f"WHEN CAST(concat('0x', substr(md5('{salt}|' || "
            f"CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) < {test_cut} "
            f"THEN 'test' "
            f"WHEN CAST(concat('0x', substr(md5('{salt}|' || "
            f"CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) < {val_cut} "
            f"THEN 'val' ELSE 'train' END AS split FROM {src}"
        )

    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({pair_select}),
    und AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs),
    walk(id, label) AS (
      SELECT DISTINCT src, src FROM und
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.id
    ),
    comp AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
             FROM walk GROUP BY id),
    rep AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rk
            FROM documents d LEFT JOIN comp c USING (doc_id)),
    safe AS ({keyed('rep', 'rk')}),
    naive AS ({keyed('documents', 'doc_id')}),
    cx AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM pairs p
         JOIN naive a ON a.doc_id = p.doc_id_a
         JOIN naive b ON b.doc_id = p.doc_id_b
         WHERE a.split <> b.split) AS naive_cross_pairs,
        (SELECT CAST(count(*) AS BIGINT) FROM pairs p
         JOIN safe a ON a.doc_id = p.doc_id_a
         JOIN safe b ON b.doc_id = p.doc_id_b
         WHERE a.split <> b.split) AS safe_cross_pairs
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM comp) AS n_clustered_docs,
           (SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                 AS BIGINT) FROM safe) AS n_train,
           (SELECT CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
                 AS BIGINT) FROM safe) AS n_val,
           (SELECT CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                 AS BIGINT) FROM safe) AS n_test,
           cx.naive_cross_pairs,
           cx.safe_cross_pairs,
           (SELECT CAST(coalesce(sum(doc_id % 1000003), 0) AS BIGINT)
            FROM safe WHERE split = 'test') AS test_id_checksum
    FROM cx
    """


@_register(
    "leakage_safe_split_census",
    "Cluster-safe train/val/test split (operators/sampling.py:"
    "cluster_safe_split — the LEAKAGE GUARD a per-document split "
    "lacks): hashing each doc's own id routes near-duplicates "
    "independently, so near-dup pairs straddle the train/held-out "
    "boundary and the test set leaks into training through its "
    "copies (Lee et al. 2022 §6.1). Keying the md5 split hash on "
    "the near-dup CLUSTER representative (min-label component id, "
    "coalesced to the own id for singletons) sends whole components "
    "to one split — cross-split near-dup pairs are zero BY "
    "CONSTRUCTION, pinned as data NEXT TO the naive assignment's "
    "nonzero count on the same pair set. One shuffle join on the "
    "doc id; the split hash stays narrow. Oracle: WITH RECURSIVE "
    "component fixpoint + identical md5/cut-point arithmetic.",
    _leakage_safe_split_oracle(),
)
def leakage_safe_split_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    docs = load_table(spark, sf_dir, "documents")
    # session-cached substrates (shared with near_dup_clusters and
    # the training-manifest census — train-once/serve-many)
    pairs = cached_minhash_pairs(spark, sf_dir)
    clusters = cached_near_dup_clusters(spark, sf_dir)
    ids = docs.select("doc_id")
    safe = smp.cluster_safe_split(
        ids, clusters, val_rate=0.2, test_rate=0.2
    ).localCheckpoint()  # joined twice below (pair ends) — no re-derive
    naive = smp.split_assign(
        ids, "doc_id", val_rate=0.2, test_rate=0.2
    ).localCheckpoint()

    def cross_pairs(assign: DataFrame, out: str) -> DataFrame:
        # the assignment frames are localCheckpointed (stats stripped)
        # — pin the hash build or the static planner SMJ-sorts both
        # sides of each lookup join (the r11 checkpoint rule)
        a = assign.select(
            F.col("doc_id").alias("doc_id_a"), F.col("split").alias("_sa")
        ).hint("shuffle_hash")
        b = assign.select(
            F.col("doc_id").alias("doc_id_b"), F.col("split").alias("_sb")
        ).hint("shuffle_hash")
        return (
            pairs.join(a, "doc_id_a")
            .join(b, "doc_id_b")
            .filter(F.col("_sa") != F.col("_sb"))
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    sizes = safe.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("split") == "test", F.col("doc_id") % 1000003
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("test_id_checksum"),
    )
    counts = (
        pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(
            clusters.agg(
                F.count(F.lit(1)).cast("long").alias("n_clustered_docs")
            )
        )
        .crossJoin(cross_pairs(naive, "naive_cross_pairs"))
        .crossJoin(cross_pairs(safe, "safe_cross_pairs"))
    )
    return sizes.crossJoin(counts).select(
        "n_docs",
        "n_pairs",
        "n_clustered_docs",
        "n_train",
        "n_val",
        "n_test",
        "naive_cross_pairs",
        "safe_cross_pairs",
        "test_id_checksum",
    )


@_register(
    "near_dup_clusters",
    "Connected components over the MinHash-LSH near-pair graph: "
    "(doc, cluster_id=min id in component) — the pairs→groups→keeper "
    "step that actually dedups a corpus (operators/dedup.py:"
    "near_dup_clusters, min-label propagation; oracle: WITH RECURSIVE "
    "reachability fixpoint).",
    _near_dup_clusters_oracle(),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached_near_dup_clusters(spark, sf_dir)


@_register(
    "minhash_lsh_pairs",
    "MinHash(16, md5-sliced) over 8-char shingles + banded LSH (8 bands × 2 "
    "rows), verified by exact jaccard >= 0.8 "
    "(operators/dedup.py:minhash_lsh_pairs). Linear-scan scale path for "
    "corpus dedup.",
    _minhash_oracle(16, 2, 8, 0.5),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached_minhash_pairs(spark, sf_dir)


def _lsh_bucket_stats_oracle(k: int = 16, r: int = 2, cap: int = 3) -> str:
    b = k // r
    mins = ",\n           ".join(
        f"min(substr(md5('{i // 4}|' || s), {8 * (i % 4) + 1}, 8)) AS h{i}"
        for i in range(k)
    )
    band_exprs = ",\n           ".join(
        "md5(" + " || '|' || ".join(f"h{band * r + j}" for j in range(r)) + f") AS band{band}"
        for band in range(b)
    )
    melt = "\n      UNION ALL ".join(
        f"SELECT {band} AS band_idx, band{band} AS band_key FROM bands"
        for band in range(b)
    )
    return f"""
    WITH sets AS (SELECT doc_id, {_duck_shingles(8)} AS sh FROM documents),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM sets),
    sigs AS (SELECT doc_id,
           {mins}
      FROM exploded GROUP BY doc_id),
    bands AS (SELECT doc_id,
           {band_exprs}
      FROM sigs),
    melt AS ({melt}),
    buckets AS (SELECT band_idx, band_key, count(*) AS bs
                FROM melt GROUP BY 1, 2)
    SELECT band_idx,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(bs) AS BIGINT) AS max_bucket,
           CAST(sum(bs * (bs - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(sum(CASE WHEN bs > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets,
           CAST(sum(CASE WHEN bs > {cap} THEN bs ELSE 0 END) AS BIGINT) AS hot_docs
    FROM buckets GROUP BY band_idx
    """


@_register(
    "lsh_bucket_stats",
    "LSH band-bucket census (operators/dedup.py:lsh_bucket_stats): per "
    "band, bucket count, max bucket, the exact candidate-pair total "
    "the band join would emit, and the buckets/docs a hot_bucket_cap "
    "of 3 would drop — the telemetry that keeps minhash_lsh_pairs' "
    "hot-bucket guard non-silent and lets a planner budget the join "
    "before running it. Linear melt + two hash-aggs, no self-join.",
    _lsh_bucket_stats_oracle(16, 2, 3),
)
def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.lsh_bucket_stats(docs, hot_bucket_cap=3)


def _simhash_oracle(max_hamming: int = 3) -> str:
    nibs = ",\n           ".join(
        f"instr('0123456789abcdef', substr(th, {i + 1}, 1)) - 1 AS n{i}"
        for i in range(16)
    )
    votes = ",\n           ".join(
        f"SUM(CASE WHEN ((n{i} >> {3 - j}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i * 4 + j}"
        for i in range(16) for j in range(4)
    )
    chunks = ",\n           ".join(
        " + ".join(
            f"(CASE WHEN v{c * 16 + k} > 0 THEN {2 ** (15 - k)} ELSE 0 END)"
            for k in range(16)
        ) + f" AS c{c}"
        for c in range(4)
    )
    any_chunk = " OR ".join(f"a.c{c} = b.c{c}" for c in range(4))
    hamming = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(4))
    return f"""
    WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents),
    hashed AS (SELECT doc_id, substr(md5(tok), 1, 16) AS th FROM toks),
    nibs AS (SELECT doc_id,
           {nibs}
      FROM hashed),
    votes AS (SELECT doc_id,
           {votes}
      FROM nibs GROUP BY doc_id),
    chunks AS (SELECT doc_id,
           {chunks}
      FROM votes)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST({hamming} AS BIGINT) AS hamming
    FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id AND ({any_chunk})
    WHERE {hamming} <= {max_hamming}
    """


@_register(
    "simhash_near_pairs",
    "64-bit SimHash near-dup pairs, Hamming <= 3, candidates by 16-bit chunk "
    "pigeonhole buckets (operators/dedup.py:simhash_near_pairs).",
    _simhash_oracle(3),
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_near_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@_register(
    "doc_fingerprints",
    "Per-document normalized fingerprint (functions/text.py:fingerprint_md5).",
    "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5().alias("fp"))


@_register(
    "token_stats",
    "Token counting + length stats, all JVM-side expressions "
    "(functions/text.py:token_count).",
    f"""
    SELECT doc_id,
           CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_text,
           floor(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                 / greatest(CAST(len({_DUCK_TOKENS}) AS DOUBLE), 1.0)
                 * 10000.0 + 0.5) / 10000.0 AS avg_token_len
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = token_count()
    return docs.select(
        "doc_id",
        ntok.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_text"),
        round_half_up(
            F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("double")
            / F.greatest(ntok.cast("double"), F.lit(1.0)),
            4,
        ).alias("avg_token_len"),
    )


@_register(
    "text_quality",
    "Composite quality score: length credit + informativeness + cleanliness "
    "(functions/text.py:quality_score).",
    f"""
    SELECT doc_id,
           floor((least(CAST(len({_DUCK_TOKENS}) AS DOUBLE) / 100.0, 1.0) * 0.5
                 + (1.0 - CAST({_duck_stop_count('en')} AS DOUBLE)
                          / greatest(CAST(len({_DUCK_TOKENS}) AS DOUBLE), 1.0)) * 0.3
                 + (1.0 - least(CAST({_DUCK_PUNCT} AS DOUBLE)
                                / greatest(CAST(length(text) AS DOUBLE), 1.0) * 5.0,
                                1.0)) * 0.2)
                 * 10000.0 + 0.5) / 10000.0 AS quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", quality_score().alias("quality"))


def _lang_id_oracle() -> str:
    langs = list(LANG_STOPWORDS)
    scores = ",\n           ".join(
        f"{_duck_stop_count(lang)} AS s_{lang}" for lang in langs
    )
    clauses = []
    for i, lang in enumerate(langs):
        later = langs[i + 1:]
        if not later:
            clauses.append(f"ELSE '{lang}'")
        else:
            cond = " AND ".join(f"s_{lang} >= s_{o}" for o in later)
            clauses.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(clauses) + " END"
    return f"""
    WITH scored AS (SELECT doc_id, lang,
           {scores}
      FROM documents)
    SELECT doc_id, lang, {case} AS lang_pred FROM scored
    """


@_register(
    "lang_id",
    "Heuristic stopword-overlap language ID with deterministic argmax "
    "(functions/text.py:lang_predict); returns actual + predicted.",
    _lang_id_oracle(),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", "lang", lang_predict().alias("lang_pred"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_DUCK_DVEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
# e-aliased twin for oracles that join `embeddings e` next to other
# tables carrying their own embedding-free columns
_DUCK_DVEC_E = "list_transform(e.embedding, x -> CAST(x AS DOUBLE))"


@_register(
    "ann_cosine_topk",
    "Exact brute-force cosine top-5 for 10 query vectors against the corpus — "
    "the ANN baseline (operators/similarity.py:cosine_topk); rank on rounded "
    "sim with id tie-break.",
    f"""
    WITH q AS (SELECT vec_id AS query_id, {_DUCK_DVEC} AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, {_DUCK_DVEC} AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             floor(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                   * 1000000.0 + 0.5) / 1000000.0 AS sim
      FROM q JOIN c ON query_id <> neighbor_id),
    ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


@_register(
    "embedding_near_dup_pairs",
    "Embedding-cosine near-dup pairs within label blocks, sim >= 0.45 "
    "(operators/similarity.py:embedding_near_dup_pairs).",
    f"""
    WITH e AS (SELECT vec_id, label, {_DUCK_DVEC} AS v FROM embeddings)
    SELECT * FROM (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             floor(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                   * 1000000.0 + 0.5) / 1000000.0 AS sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE sim >= 0.45
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup_pairs(emb, threshold=0.45)


def _duck_cos(a: str, b: str) -> str:
    """Rounded-6dp cosine in DuckDB SQL — the twin of
    operators/similarity.py:cosine_similarity (floor half-up, same as
    round_half_up on the Spark side)."""
    return (
        f"floor(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))) * 1000000.0 + 0.5) / 1000000.0"
    )


# positional mean of list column v grouped by bucket, components rounded
# half-up 6dp — the twin of the posexplode→avg→round centroid build
_DUCK_CENTROID = (
    "SELECT bucket, list(floor(m * 1000000.0 + 0.5) / 1000000.0 ORDER BY pos) AS cv"
    " FROM (SELECT bucket, pos, avg(val) AS m FROM"
    " (SELECT bucket, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS pos FROM {src})"
    " GROUP BY bucket, pos) GROUP BY bucket"
)

# 2-probe IVF search against centroids {cent} over corpus {corpus}
# (both must expose (bucket, ...) with vectors named cv / v)
_DUCK_IVF_SEARCH = f"""
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    ps AS (SELECT query_id, qv, bucket, {_duck_cos('qv', 'cv')} AS cent_sim
           FROM q CROSS JOIN {{cent}}),
    probe AS (SELECT query_id, qv, bucket FROM
      (SELECT query_id, qv, bucket,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cent_sim DESC, bucket ASC) AS pr
       FROM ps) WHERE pr <= 2),
    scored AS (SELECT p.query_id, c.vec_id AS neighbor_id,
                      {_duck_cos('p.qv', 'c.v')} AS sim
               FROM probe p JOIN {{corpus}} c
                 ON c.bucket = p.bucket AND c.vec_id <> p.query_id),
    ranked AS (SELECT query_id, neighbor_id, sim,
                      CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
"""


@_register(
    "ann_ivf_topk",
    "IVF-pruned ANN: corpus bucketed by label, centroid = per-label mean "
    "vector (components rounded half-up 6dp for engine portability), 2 "
    "probes per query (operators/similarity.py:ivf_topk).",
    f"""
    WITH e AS (SELECT vec_id, label AS bucket, {_DUCK_DVEC} AS v FROM embeddings),
    cent AS ({_DUCK_CENTROID.format(src='e')}),
    {_DUCK_IVF_SEARCH.format(cent='cent', corpus='e')}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.col("label")
    )
    # centroids: per-bucket mean vector via posexplode → positional avg,
    # components rounded half-up 6dp so the DuckDB twin is bit-identical
    pos = emb.select("bucket", F.posexplode("embedding").alias("pos", "v"))
    cent = (
        pos.groupBy("bucket", "pos").agg(F.avg("v").alias("m"))
        .groupBy("bucket")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: round_half_up(s.m, 6),
            ).alias("embedding")
        )
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivf_topk(queries, emb, cent, k=5, n_probe=2)


def _lloyd_ctes(k: int = 8, iters: int = 5) -> list[str]:
    """Unrolled DuckDB twin of operators/similarity.py:kmeans_buckets:
    the same deterministic Lloyd iterations (init = k smallest ids;
    assignment sim and centroid components rounded half-up 6dp)
    expressed as ``iters`` chained CTE stages. Final assignment is
    ``assign{iters}`` (vec_id, v, bucket), final centroids
    ``cent{iters}`` (bucket, cv)."""
    ctes = [
        f"e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings)",
        # init: buckets 0..k-1 over the k smallest vec_ids
        (
            "cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1"
            " AS INT) AS bucket, v AS cv FROM"
            f" (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT {k}))"
        ),
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"score{i} AS (SELECT e.vec_id, e.v, c.bucket,"
            f" {_duck_cos('e.v', 'c.cv')} AS sim FROM e CROSS JOIN cent{i - 1} c)"
        )
        ctes.append(
            f"assign{i} AS (SELECT vec_id, v, bucket FROM"
            f" (SELECT vec_id, v, bucket, row_number() OVER (PARTITION BY vec_id"
            f" ORDER BY sim DESC, bucket ASC) AS rk FROM score{i}) WHERE rk = 1)"
        )
        ctes.append(f"cent{i} AS ({_DUCK_CENTROID.format(src=f'assign{i}')})")
    return ctes


def _ivf_kmeans_oracle(k: int = 8, iters: int = 5) -> str:
    """Lloyd chain (_lloyd_ctes) + the standard 2-probe IVF search."""
    ctes = _lloyd_ctes(k, iters)
    search = _DUCK_IVF_SEARCH.format(cent=f"cent{iters}", corpus=f"assign{iters}")
    return "WITH " + ",\n    ".join(ctes) + ",\n    " + search


@_register(
    "ann_ivf_kmeans_topk",
    "IVF ANN with a learned coarse quantizer: 5 Lloyd iterations of "
    "DataFrame-only k-means (operators/similarity.py:kmeans_buckets; "
    "sims + centroid components rounded half-up 6dp per iteration for "
    "engine-portable convergence) build the buckets+centroids, then "
    "2-probe pruned search. Oracle: the same Lloyd steps unrolled in SQL.",
    _ivf_kmeans_oracle(),
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import materialized_group

    emb = load_table(spark, sf_dir, "embeddings")
    # train-once/serve-many: Lloyd is deterministic per corpus, so the
    # quantizer is a session-cached model (parquet-backed — survives
    # the bench unpersist sweep), not per-query work
    m = materialized_group(
        spark,
        f"kmeans_k8_i5|{sf_dir}",
        ["assign", "cent"],
        lambda: dict(
            zip(["assign", "cent"], sim.kmeans_buckets(emb, k=8, iters=5))
        ),
    )
    corpus = emb.join(m["assign"], "vec_id")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivf_topk(queries, corpus, m["cent"], k=5, n_probe=2)


def _duck_l2sq_micros(a: str, b: str) -> str:
    """Integer-micro squared L2 in DuckDB — the twin of
    operators/similarity.py:l2sq_micros (same dot(a,a) - 2*dot(a,b)
    + dot(b,b) association, floor half-up, BIGINT)."""
    return (
        f"CAST(floor((list_dot_product({a}, {a})"
        f" - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b})) * 1000000.0 + 0.5) AS BIGINT)"
    )


def _pq_oracle(
    n_sub: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    topk: int = 5,
    shortlist: int = 50,
) -> str:
    """Unrolled DuckDB twin of pq_codebooks + pq_encode +
    pq_search_topk (operators/similarity.py): per-subspace Lloyd with
    integer-micro squared-L2 assignment (BIGINT — exact ordering, no
    float ties), codebook components rounded half-up 6dp per
    iteration, the ADC pass as a (m, code)-keyed join + BIGINT SUM
    (integer sums are order-independent, so this join+sum shape
    hash-matches the Spark side's broadcast array-lookup pass), then
    exact re-ranking of the ADC shortlist."""
    d2 = _duck_l2sq_micros
    d_sub = dim // n_sub
    cent = (
        "SELECT m, code, list(floor(mm * 1000000.0 + 0.5) / 1000000.0"
        " ORDER BY pos) AS cw FROM (SELECT m, code, pos, avg(val) AS mm FROM"
        " (SELECT m, code, unnest(sv) AS val, unnest(range(1, len(sv) + 1))"
        " AS pos FROM {src}) GROUP BY m, code, pos) GROUP BY m, code"
    )
    ctes = [
        f"e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings)",
        f"ms AS (SELECT CAST(unnest(range(0, {n_sub})) AS INT) AS m)",
        (
            f"sub AS (SELECT vec_id, m, list_slice(v, m * {d_sub} + 1,"
            f" (m + 1) * {d_sub}) AS sv FROM e CROSS JOIN ms)"
        ),
        # init: per subspace, codes 0..n_codes-1 = subvectors of the
        # n_codes smallest ids
        (
            "cb0 AS (SELECT m, CAST(row_number() OVER (PARTITION BY m"
            " ORDER BY vec_id ASC) - 1 AS INT) AS code, sv AS cw FROM sub"
            f" WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id ASC"
            f" LIMIT {n_codes}))"
        ),
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"pscore{i} AS (SELECT s.vec_id, s.m, s.sv, c.code,"
            f" {d2('s.sv', 'c.cw')} AS dm FROM sub s JOIN cb{i - 1} c ON c.m = s.m)"
        )
        ctes.append(
            f"passign{i} AS (SELECT vec_id, m, sv, code FROM"
            f" (SELECT vec_id, m, sv, code, row_number() OVER (PARTITION BY"
            f" vec_id, m ORDER BY dm ASC, code ASC) AS rk FROM pscore{i})"
            f" WHERE rk = 1)"
        )
        ctes.append(f"cb{i} AS ({cent.format(src=f'passign{i}')})")
    ctes += [
        # encode: fresh assignment against the FINAL codebook
        (
            f"encs AS (SELECT s.vec_id, s.m, c.code, {d2('s.sv', 'c.cw')} AS dm"
            f" FROM sub s JOIN cb{iters} c ON c.m = s.m)"
        ),
        (
            "codes AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code,"
            " row_number() OVER (PARTITION BY vec_id, m ORDER BY dm ASC,"
            " code ASC) AS rk FROM encs) WHERE rk = 1)"
        ),
        "qsub AS (SELECT vec_id AS query_id, m, sv FROM sub WHERE vec_id < 10)",
        (
            f"lut AS (SELECT q.query_id, c.m, c.code, {d2('q.sv', 'c.cw')} AS dm"
            f" FROM qsub q JOIN cb{iters} c ON c.m = q.m)"
        ),
        (
            "adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,"
            " CAST(sum(l.dm) AS BIGINT) AS approx_dist_micro FROM codes c"
            " JOIN lut l ON l.m = c.m AND l.code = c.code"
            " WHERE l.query_id <> c.vec_id GROUP BY l.query_id, c.vec_id)"
        ),
        (
            "adcranked AS (SELECT query_id, neighbor_id, approx_dist_micro,"
            " row_number() OVER (PARTITION BY query_id ORDER BY"
            " approx_dist_micro ASC, neighbor_id ASC) AS arank"
            " FROM adc)"
        ),
        f"short AS (SELECT query_id, neighbor_id FROM adcranked WHERE arank <= {shortlist})",
        "qv AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 10)",
        (
            f"ex AS (SELECT s.query_id, s.neighbor_id,"
            f" {d2('q.qvec', 'c.v')} AS dist_micro FROM short s"
            f" JOIN qv q ON q.query_id = s.query_id"
            f" JOIN e c ON c.vec_id = s.neighbor_id)"
        ),
        (
            "ranked AS (SELECT query_id, neighbor_id, dist_micro,"
            " CAST(row_number() OVER (PARTITION BY query_id ORDER BY"
            " dist_micro ASC, neighbor_id ASC) AS BIGINT) AS rank FROM ex)"
        ),
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT query_id, neighbor_id, dist_micro, rank"
        f" FROM ranked WHERE rank <= {topk}"
    )


def _cluster_quota_oracle(k: int = 8, iters: int = 5, quota: int = 12) -> str:
    """Lloyd chain (_lloyd_ctes) + md5-priority row_number per final
    bucket — the DuckDB twin of uniform_k_per_stratum over the
    k-means assignment."""
    from umn_eda_kafka_stream_processing_spark.plans.catalog_sampling import (
        _duck_key,
    )

    ctes = _lloyd_ctes(k, iters) + [
        (
            "samp AS (SELECT bucket, vec_id, row_number() OVER"
            " (PARTITION BY bucket ORDER BY"
            f" {_duck_key('vec_id', 'cqs')} ASC, vec_id ASC) AS rk"
            f" FROM assign{iters})"
        ),
        (
            f"cand AS (SELECT bucket, CAST(count(*) AS BIGINT) AS"
            f" n_candidates FROM assign{iters} GROUP BY bucket)"
        ),
        (
            "adm AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_sampled,"
            " CAST(sum(vec_id % 1000003) AS BIGINT) AS id_checksum"
            f" FROM samp WHERE rk <= {quota} GROUP BY bucket)"
        ),
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT CAST(c.bucket AS BIGINT) AS bucket, c.n_candidates,"
        " a.n_sampled, a.id_checksum"
        " FROM cand c JOIN adm a ON a.bucket = c.bucket"
    )


@_register(
    "cluster_quota_sample_stats",
    "Semantic-DIVERSITY-balanced sampling (cluster-quota draw): the "
    "session-cached k-means quantizer (operators/similarity.py:"
    "kmeans_buckets, k=8 x 5 Lloyd iterations — the same model "
    "ann_ivf_kmeans_topk serves from, so training is amortized across "
    "queries) partitions the embedding corpus into semantic clusters, "
    "then uniform_k_per_stratum draws an EQUAL 12-vector quota per "
    "cluster by md5 priority. Equal quotas upweight rare clusters "
    "relative to their corpus share — the curation move that keeps "
    "long-tail content in a training mix instead of letting dominant "
    "clusters swamp it (cluster-balanced sampling). The rank<=quota "
    "filter plans as WindowGroupLimit: each task pre-prunes to its "
    "local top-12 per cluster before the per-cluster shuffle, so a "
    "billion-vector cluster moves only 12 rows per map partition. "
    "Census: per cluster, candidate count, admitted count, and an "
    "id-checksum over the admitted set (a wrong draw hash-mismatches). "
    "Oracle: the same Lloyd steps unrolled + the same md5 row_number.",
    _cluster_quota_oracle(),
)
def cluster_quota_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import materialized_group
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        uniform_k_per_stratum,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    m = materialized_group(
        spark,
        f"kmeans_k8_i5|{sf_dir}",
        ["assign", "cent"],
        lambda: dict(
            zip(["assign", "cent"], sim.kmeans_buckets(emb, k=8, iters=5))
        ),
    )
    assign = m["assign"]
    samp = uniform_k_per_stratum(assign, "bucket", "vec_id", k=12, salt="cqs")
    cand = assign.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    adm = samp.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum(F.col("vec_id") % F.lit(1000003)).cast("long").alias("id_checksum"),
    )
    return cand.join(adm, "bucket").select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_candidates",
        "n_sampled",
        "id_checksum",
    )


def _incremental_cluster_quota_oracle(
    k: int = 8, iters: int = 5, quota: int = 12, n_batches: int = 3
) -> str:
    """Lloyd chain + fassign (fresh assignment against the FINAL
    centroids — the ingest-time assign_ivf_bucket view) + the
    greedy-online admission unrolled: admitting while slots remain,
    batch by batch in md5 order, equals rank <= quota under the
    global (batch_id, md5, key) order within each cluster."""
    from umn_eda_kafka_stream_processing_spark.plans.catalog_sampling import (
        _duck_key,
    )

    ctes = _lloyd_ctes(k, iters) + [
        (
            f"fscore AS (SELECT e.vec_id, c.bucket,"
            f" {_duck_cos('e.v', 'c.cv')} AS sim FROM e CROSS JOIN cent{iters} c)"
        ),
        (
            "fassign AS (SELECT vec_id, bucket FROM"
            " (SELECT vec_id, bucket, row_number() OVER (PARTITION BY vec_id"
            " ORDER BY sim DESC, bucket ASC) AS rk FROM fscore) WHERE rk = 1)"
        ),
        (
            "adm AS (SELECT bucket, vec_id, row_number() OVER"
            " (PARTITION BY bucket ORDER BY"
            f" (vec_id % {n_batches}) ASC,"
            f" {_duck_key('vec_id', 'cqs')} ASC, vec_id ASC) AS rk"
            " FROM fassign)"
        ),
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT CAST(bucket AS BIGINT) AS cluster,"
        " CAST(count(*) AS BIGINT) AS n_admitted,"
        " CAST(sum(vec_id % 1000003) AS BIGINT) AS id_checksum,"
        " CAST(1 AS BIGINT) AS replay_ok"
        f" FROM adm WHERE rk <= {quota} GROUP BY bucket"
    )


@_register(
    "incremental_cluster_quota_census",
    "Online cluster-quota admission (operators/sampling.py:"
    "incremental_cluster_quota — the foreachBatch twin of "
    "cluster_quota_sample_stats): the embedding stream arrives as 3 "
    "microbatches (vec_id % 3), each batch assigned against the "
    "FROZEN session-cached quantizer (assign_ivf_bucket — the round-5 "
    "train/serve consistency rule), then admitted greedily while its "
    "cluster's 12 slots remain, md5-priority order within a batch, "
    "earlier batches first; admitted rows upserted latest-wins keyed "
    "(cluster, key). Batch 1 is then REPLAYED: slots consumed are "
    "counted at read excluding the replayed batch_id, so the replay "
    "recomputes the identical set and the upsert is a no-op — "
    "replay_ok pins store-identity before/after as data. Oracle: "
    "Lloyd + fassign + the greedy-online order unrolled (rank <= "
    "quota under (batch_id, md5, key) per cluster).",
    _incremental_cluster_quota_oracle(),
)
def incremental_cluster_quota_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.caching import materialized_group
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        incremental_cluster_quota,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    m = materialized_group(
        spark,
        f"kmeans_k8_i5|{sf_dir}",
        ["assign", "cent"],
        lambda: dict(
            zip(["assign", "cent"], sim.kmeans_buckets(emb, k=8, iters=5))
        ),
    )
    cent = m["cent"]
    store = tempfile.mkdtemp(prefix="sparkgraft_cluster_quota_") + "/store"

    def run_batch(b: int):
        batch = emb.filter(F.col("vec_id") % 3 == b)
        assigned = sim.assign_ivf_bucket(batch, cent).select("vec_id", "bucket")
        incremental_cluster_quota(
            spark, store, assigned, "bucket", "vec_id", quota=12, batch_id=b
        )

    for b in range(3):
        run_batch(b)
    # replay batch 1: the admitted set is <= 8*12 = 96 rows — a
    # bounded collect for the before/after identity check
    def snap():
        return sorted(
            (r["cluster"], r["key"])
            for r in spark.read.parquet(store).select("cluster", "key").collect()
        )

    before = snap()
    run_batch(1)
    replay_ok = int(snap() == before)
    return (
        spark.read.parquet(store)
        .groupBy(F.col("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_admitted"),
            F.sum(F.col("key") % F.lit(1000003)).cast("long").alias("id_checksum"),
        )
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_admitted",
            "id_checksum",
            F.lit(replay_ok).cast("long").alias("replay_ok"),
        )
    )


@_register(
    "ann_pq_topk",
    "Product-quantization ANN with exact re-rank: per-subspace Lloyd "
    "codebooks (8 subspaces x 16 codes, integer-micro squared-L2 "
    "assignment), corpus re-encoded as 8 codes/vector (compressed-domain "
    "scan), ADC shortlist-50 via broadcast per-query lookup tables, then "
    "exact re-ranking of only the shortlist (operators/similarity.py:"
    "pq_codebooks/pq_encode/pq_search_topk). Oracle: the same training + "
    "encode + ADC + re-rank unrolled in SQL; ADC as (m,code)-join + "
    "exact BIGINT sum.",
    _pq_oracle(),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import materialized_group

    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        cb = sim.pq_codebooks(emb, n_sub=8, n_codes=16, iters=2, dim=64)
        return {
            "cb": cb,
            "codes": sim.pq_encode(emb, cb, n_sub=8, dim=64),
        }

    m = materialized_group(
        spark, f"pq_8x16_i2|{sf_dir}", ["cb", "codes"], build
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.pq_search_topk(
        queries, m["codes"], m["cb"], emb, k=5, shortlist=50, n_sub=8,
        dim=64,
    )


def _ivfpq_oracle(
    n_coarse: int = 8,
    coarse_iters: int = 2,
    n_sub: int = 8,
    n_codes: int = 16,
    pq_iters: int = 1,
    dim: int = 64,
    topk: int = 5,
    shortlist: int = 100,
    n_probe: int = 3,
) -> str:
    """Unrolled DuckDB twin of ivfpq_index + ivfpq_search_topk
    (operators/similarity.py): the coarse Lloyd chain (_lloyd_ctes),
    residuals v - cv[bucket] (exact IEEE subtraction on both engines
    since centroid components are rounded 6dp), the per-subspace PQ
    Lloyd chain TRAINED ON RESIDUALS, encode, per-(query, probed
    bucket) residual lookup tables, the bucket-pruned ADC join +
    exact BIGINT sum, then exact re-ranking of the shortlist."""
    d2 = _duck_l2sq_micros
    d_sub = dim // n_sub
    cent = (
        "SELECT m, code, list(floor(mm * 1000000.0 + 0.5) / 1000000.0"
        " ORDER BY pos) AS cw FROM (SELECT m, code, pos, avg(val) AS mm FROM"
        " (SELECT m, code, unnest(sv) AS val, unnest(range(1, len(sv) + 1))"
        " AS pos FROM {src}) GROUP BY m, code, pos) GROUP BY m, code"
    )
    ci = coarse_iters
    ctes = _lloyd_ctes(n_coarse, ci)
    ctes += [
        # final re-assignment against the RECOMPUTED centroids — the
        # engine's ivfpq_index assigns with assign_ivf_bucket(cent),
        # not the Lloyd chain's last in-loop assignment, so batch and
        # incremental index builds agree
        (
            f"fscore AS (SELECT e.vec_id, e.v, c.bucket,"
            f" {_duck_cos('e.v', 'c.cv')} AS sim FROM e CROSS JOIN cent{ci} c)"
        ),
        (
            "fassign AS (SELECT vec_id, v, bucket FROM"
            " (SELECT vec_id, v, bucket, row_number() OVER (PARTITION BY vec_id"
            " ORDER BY sim DESC, bucket ASC) AS rk FROM fscore) WHERE rk = 1)"
        ),
        (
            f"res AS (SELECT a.vec_id, a.bucket, list_transform("
            f"range(1, len(a.v) + 1), i -> a.v[i] - c.cv[i]) AS rv"
            f" FROM fassign a JOIN cent{ci} c ON c.bucket = a.bucket)"
        ),
        f"ms AS (SELECT CAST(unnest(range(0, {n_sub})) AS INT) AS m)",
        (
            f"rsub AS (SELECT vec_id, bucket, m, list_slice(rv,"
            f" m * {d_sub} + 1, (m + 1) * {d_sub}) AS sv FROM res CROSS JOIN ms)"
        ),
        (
            "pcb0 AS (SELECT m, CAST(row_number() OVER (PARTITION BY m"
            " ORDER BY vec_id ASC) - 1 AS INT) AS code, sv AS cw FROM rsub"
            f" WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id ASC"
            f" LIMIT {n_codes}))"
        ),
    ]
    for i in range(1, pq_iters + 1):
        ctes.append(
            f"pqs{i} AS (SELECT s.vec_id, s.m, s.sv, c.code,"
            f" {d2('s.sv', 'c.cw')} AS dm FROM rsub s JOIN pcb{i - 1} c ON c.m = s.m)"
        )
        ctes.append(
            f"pqa{i} AS (SELECT vec_id, m, sv, code FROM"
            f" (SELECT vec_id, m, sv, code, row_number() OVER (PARTITION BY"
            f" vec_id, m ORDER BY dm ASC, code ASC) AS rk FROM pqs{i})"
            f" WHERE rk = 1)"
        )
        ctes.append(f"pcb{i} AS ({cent.format(src=f'pqa{i}')})")
    ctes += [
        (
            f"encs AS (SELECT s.vec_id, s.bucket, s.m, c.code,"
            f" {d2('s.sv', 'c.cw')} AS dm"
            f" FROM rsub s JOIN pcb{pq_iters} c ON c.m = s.m)"
        ),
        (
            "codes AS (SELECT vec_id, bucket, m, code FROM (SELECT vec_id,"
            " bucket, m, code, row_number() OVER (PARTITION BY vec_id, m"
            " ORDER BY dm ASC, code ASC) AS rk FROM encs) WHERE rk = 1)"
        ),
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10)",
        (
            f"ps AS (SELECT query_id, qv, bucket, cv,"
            f" {_duck_cos('qv', 'cv')} AS cent_sim FROM q CROSS JOIN cent{ci})"
        ),
        (
            "probe AS (SELECT query_id, qv, bucket, cv FROM"
            " (SELECT query_id, qv, bucket, cv, row_number() OVER"
            " (PARTITION BY query_id ORDER BY cent_sim DESC, bucket ASC)"
            f" AS pr FROM ps) WHERE pr <= {n_probe})"
        ),
        (
            "qres AS (SELECT query_id, bucket, list_transform("
            "range(1, len(qv) + 1), i -> qv[i] - cv[i]) AS rq FROM probe)"
        ),
        (
            f"qsub AS (SELECT query_id, bucket, m, list_slice(rq,"
            f" m * {d_sub} + 1, (m + 1) * {d_sub}) AS sv"
            f" FROM qres CROSS JOIN ms)"
        ),
        (
            f"lut AS (SELECT s.query_id, s.bucket, c.m, c.code,"
            f" {d2('s.sv', 'c.cw')} AS dm"
            f" FROM qsub s JOIN pcb{pq_iters} c ON c.m = s.m)"
        ),
        (
            "adc AS (SELECT l.query_id, cd.vec_id AS neighbor_id,"
            " CAST(sum(l.dm) AS BIGINT) AS approx_dist_micro FROM codes cd"
            " JOIN lut l ON l.bucket = cd.bucket AND l.m = cd.m"
            " AND l.code = cd.code"
            " WHERE l.query_id <> cd.vec_id GROUP BY l.query_id, cd.vec_id)"
        ),
        (
            "adcranked AS (SELECT query_id, neighbor_id,"
            " row_number() OVER (PARTITION BY query_id ORDER BY"
            " approx_dist_micro ASC, neighbor_id ASC) AS arank FROM adc)"
        ),
        f"short AS (SELECT query_id, neighbor_id FROM adcranked WHERE arank <= {shortlist})",
        "qx AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 10)",
        (
            f"ex AS (SELECT s.query_id, s.neighbor_id,"
            f" {d2('q.qvec', 'c.v')} AS dist_micro FROM short s"
            f" JOIN qx q ON q.query_id = s.query_id"
            f" JOIN e c ON c.vec_id = s.neighbor_id)"
        ),
        (
            "ranked AS (SELECT query_id, neighbor_id, dist_micro,"
            " CAST(row_number() OVER (PARTITION BY query_id ORDER BY"
            " dist_micro ASC, neighbor_id ASC) AS BIGINT) AS rank FROM ex)"
        ),
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT query_id, neighbor_id, dist_micro, rank"
        f" FROM ranked WHERE rank <= {topk}"
    )


@_register(
    "ann_ivfpq_topk",
    "IVFADC ANN — IVF coarse pruning composed with PQ compressed-domain "
    "scan and exact re-rank, the production 100 TB shape (Jégou et al. "
    "2011): 2-iter Lloyd coarse quantizer (8 buckets) + final "
    "re-assignment, PQ codebooks (8 subspaces x 16 codes) trained on "
    "the RESIDUALS v - centroid, 3-probe bucket-pruned ADC via "
    "per-(query, bucket) residual lookup tables, shortlist-100, exact "
    "re-rank (operators/similarity.py:ivfpq_index/ivfpq_search_topk). "
    "Residual encoding lifts recall@5 to 0.92 mean / 0.80 min vs flat "
    "PQ's 0.78 (pinned in tests/test_data_ops.py; extra Lloyd "
    "iterations measured recall-neutral, so the cheapest training "
    "schedule wins). Oracle: coarse Lloyd + residual PQ Lloyd + probe "
    "+ ADC join/sum + re-rank unrolled in SQL.",
    _ivfpq_oracle(),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import materialized_group

    emb = load_table(spark, sf_dir, "embeddings")
    m = materialized_group(
        spark,
        f"ivfpq_8c_8x16|{sf_dir}",
        ["codes", "cent", "cb"],
        lambda: dict(
            zip(
                ["codes", "cent", "cb"],
                sim.ivfpq_index(
                    emb, n_coarse=8, coarse_iters=2, n_sub=8,
                    n_codes=16, pq_iters=1, dim=64,
                ),
            )
        ),
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivfpq_search_topk(
        queries, m["codes"], m["cent"], m["cb"], emb, k=5, shortlist=100,
        n_probe=3, n_sub=8, dim=64,
    )


def _semantic_dedup_oracle(
    k: int = 8, iters: int = 3, tau: float = 0.4, cap: int = 10_000
) -> str:
    """Unrolled DuckDB twin of semantic_dedup_pairs: the Lloyd chain
    (_lloyd_ctes), the cluster-size cap, then within-cluster pairwise
    cosine >= tau with the keep/drop decision on rounded-6dp centroid
    similarity (drop the member CLOSER to its centroid; ties drop the
    higher id)."""
    ctes = _lloyd_ctes(k, iters)
    ctes += [
        (
            "sized AS (SELECT vec_id, v, bucket FROM (SELECT vec_id, v, bucket,"
            f" count(*) OVER (PARTITION BY bucket) AS csz FROM assign{iters})"
            f" WHERE csz <= {cap})"
        ),
        (
            f"csims AS (SELECT s.vec_id, s.bucket, s.v,"
            f" {_duck_cos('s.v', 'c.cv')} AS csim FROM sized s"
            f" JOIN cent{iters} c ON c.bucket = s.bucket)"
        ),
        (
            f"pr AS (SELECT a.bucket, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,"
            f" {_duck_cos('a.v', 'b.v')} AS sim, a.csim AS ca, b.csim AS cb"
            f" FROM csims a JOIN csims b ON a.bucket = b.bucket"
            f" AND a.vec_id < b.vec_id)"
        ),
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT bucket, vec_id_a, vec_id_b, sim,"
        " CASE WHEN ca > cb THEN vec_id_a WHEN cb > ca THEN vec_id_b"
        " ELSE greatest(vec_id_a, vec_id_b) END AS drop_id"
        f" FROM pr WHERE sim >= {tau}"
    )


@_register(
    "semantic_dedup_pairs",
    "SemDeDup-style semantic dedup (arXiv:2303.09540): k-means clusters "
    "bound the pairwise comparison to within-cluster, cosine >= 0.4 pairs "
    "are semantic duplicates, and the member closer to its cluster "
    "centroid is marked to drop (keep the atypical example). Hot-cluster "
    "cap mirrors the LSH family's guard "
    "(operators/similarity.py:semantic_dedup_pairs). Oracle: the same "
    "Lloyd chain unrolled + within-cluster self-join.",
    _semantic_dedup_oracle(),
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import materialized_group

    emb = load_table(spark, sf_dir, "embeddings")
    m = materialized_group(
        spark,
        f"kmeans_k8_i3|{sf_dir}",
        ["assign", "cent"],
        lambda: dict(
            zip(["assign", "cent"], sim.kmeans_buckets(emb, k=8, iters=3))
        ),
    )
    return sim.semantic_dedup_pairs(
        emb, tau=0.4, clusters=(m["assign"], m["cent"])
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@_register(
    "multimodal_features",
    "Arrow-batched mapInPandas feature extraction over binary media columns "
    "(operators/multimodal.py; decode stubbed deterministically — docs text "
    "as UTF-8 bytes). Exercises the Pandas-UDF path end-to-end.",
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1),
                i -> ord(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS byte_sum,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE floor(CAST(list_sum(list_transform(range(1, length(text) + 1),
                     i -> ord(substr(text, CAST(i AS INT), 1)))) AS DOUBLE)
                     / length(text) * 1000000.0 + 0.5) / 1000000.0 END AS byte_mean,
           md5(substr(text, 1, 64)) AS head_md5
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return mm.extract_features(mm.text_as_media(docs))


# The three real-codec media queries below synthesize genuine media
# bytes per doc_id from closed-form integer formulas
# (operators/multimodal.py:synth_media), decode them with REAL parsers
# (stdlib wave; pure-numpy netpbm), and extract features. The DuckDB
# oracles recompute each feature arithmetically from the same formulas
# — so a hash match proves the whole encode→decode→extract path, not
# just the plumbing.


@_register(
    "wav_audio_features",
    "Real WAV round-trip: PCM16 clips synthesized per doc_id (stdlib "
    "wave encode), decoded back (operators/multimodal.py:decode_wav), "
    "per-clip rate/length/duration/RMS/peak features via mapInPandas.",
    """
    WITH d AS (SELECT doc_id, (doc_id % 50) + 10 AS n,
                      8000 * ((doc_id % 3) + 1) AS sr FROM documents),
    s AS (SELECT doc_id, n, sr,
            list_transform(range(0, n),
                           i -> ((doc_id * 31 + i * 7) % 65536) - 32768) AS xs
          FROM d)
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
           floor(sqrt(CAST(list_sum(list_transform(xs, x -> x * x)) AS DOUBLE) / n)
                 * 1000000.0 + 0.5) / 1000000.0 AS rms,
           CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS peak
    FROM s
    """,
)
def wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return mm.audio_features(mm.synth_media(docs, "audio"))


@_register(
    "audio_zcr_stats",
    "Integer-exact waveform analysis over real decoded PCM16 "
    "(multimodal.audio_zcr): strict zero-crossing count and total "
    "energy — both whole integers, so the WAV decode is verified "
    "arithmetically with no float tolerance at all.",
    """
    WITH d AS (SELECT doc_id, (doc_id % 50) + 10 AS n FROM documents),
    s AS (SELECT doc_id, n,
            list_transform(range(0, n),
                           i -> ((doc_id * 31 + i * 7) % 65536) - 32768) AS xs
          FROM d)
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(coalesce(list_sum(list_transform(range(1, n),
                i -> CASE WHEN xs[CAST(i AS INT)] * xs[CAST(i + 1 AS INT)] < 0
                          THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings,
           CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS energy
    FROM s
    """,
)
def audio_zcr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return mm.audio_zcr(mm.synth_media(docs, "audio"))


@_register(
    "image_decode_stats",
    "Real image round-trip: grayscale images synthesized per doc_id, "
    "container rotating by id%3 — PNG (stdlib-zlib codec, cycling row "
    "filters 0-4), netpbm P5, GIF (real LZW, operators/gif.py, "
    "interlaced on odd ids) — decoded back (decode_image sniffs the "
    "container), dimension/pixel stats plus a genuine nearest-neighbor "
    "4x4 resize checksum. The arithmetic oracle is container-blind: a "
    "hash match proves all three lossless decoders reproduce the "
    "formula pixels exactly.",
    """
    WITH d AS (SELECT doc_id, (doc_id % 13) + 3 AS w, (doc_id % 7) + 2 AS h
               FROM documents),
    p AS (SELECT doc_id, w, h,
            list_transform(range(0, w * h),
                i -> (doc_id + (i // w) * 17 + (i % w) * 101) % 256) AS px
          FROM d)
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           floor(CAST(list_sum(px) AS DOUBLE) / (w * h) * 1000000.0 + 0.5)
             / 1000000.0 AS pixel_mean,
           CAST(list_max(px) AS INT) AS pixel_max,
           CAST(list_sum(list_transform(range(0, 16),
                i -> (doc_id + (((i // 4) * h) // 4) * 17
                      + (((i % 4) * w) // 4) * 101) % 256)) AS BIGINT) AS resized4_sum
    FROM p
    """,
)
def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return mm.image_features(mm.synth_media(docs, "image"))


@_register(
    "image_phash_dedup_stats",
    "Perceptual-hash IMAGE near-dup (operators/multimodal.py:"
    "image_dhash + the chunk-banded Hamming join shared with SimHash "
    "text dedup) — multimodal dedup, the capability exact byte hashing "
    "misses: dHash (decode -> nearest-neighbor 9x8 thumb -> 64 "
    "adjacent-column comparison bits) is invariant to brightness "
    "shifts and resolution, so re-encodes/thumbnails collide. "
    "Candidates = pairs sharing any 16-bit chunk (pigeonhole: "
    "hamming<=3 guarantees a shared chunk — zero recall loss), exact "
    "bit_count(xor) verify. Census: image/signature counts, candidate "
    "and verified-pair counts, exact-collision count, pair checksum. "
    "Oracle: the WHOLE chain recomputed arithmetically from the "
    "synthetic pixel formula (resize index map, bit packing, banding, "
    "Hamming) — a hash match proves decode->thumb->hash->join end to "
    "end. The hot-bucket cap (10k) never binds at these SFs (max "
    "bucket 269 at sf0.1, measured), so the capless oracle is exact.",
    """
    WITH d AS (SELECT doc_id, (doc_id % 13) + 3 AS w, (doc_id % 7) + 2 AS h
               FROM documents),
    v AS (SELECT doc_id,
            list_transform(range(0, 64), i ->
              CASE WHEN (doc_id + (((i // 8) * h) // 8) * 17
                         + ((((i % 8) + 1) * w) // 9) * 101) % 256
                      > (doc_id + (((i // 8) * h) // 8) * 17
                         + (((i % 8) * w) // 9) * 101) % 256
                   THEN 1 ELSE 0 END) AS bits
          FROM d),
    s AS (SELECT doc_id,
            CAST(list_sum(list_transform(range(0, 16),
                 j -> bits[j + 1] * (1 << (15 - j)))) AS BIGINT) AS c0,
            CAST(list_sum(list_transform(range(0, 16),
                 j -> bits[j + 17] * (1 << (15 - j)))) AS BIGINT) AS c1,
            CAST(list_sum(list_transform(range(0, 16),
                 j -> bits[j + 33] * (1 << (15 - j)))) AS BIGINT) AS c2,
            CAST(list_sum(list_transform(range(0, 16),
                 j -> bits[j + 49] * (1 << (15 - j)))) AS BIGINT) AS c3
          FROM v),
    m AS (SELECT doc_id, k,
            CASE k WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS ck
          FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS k)),
    cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
             FROM m a JOIN m b ON a.k = b.k AND a.ck = b.ck
                               AND a.doc_id < b.doc_id),
    p AS (SELECT ia, ib,
            bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
            + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3))
              AS hamming
          FROM cand JOIN s sa ON sa.doc_id = ia JOIN s sb ON sb.doc_id = ib),
    dup AS (SELECT * FROM p WHERE hamming <= 3)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_images,
           (SELECT CAST(count(DISTINCT (c0, c1, c2, c3)) AS BIGINT) FROM s)
               AS n_distinct_sig,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
           CAST(count(*) AS BIGINT) AS n_dup_pairs,
           CAST(coalesce(sum(CASE WHEN hamming = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_exact_pairs,
           CAST(coalesce(sum((ia * 31 + ib) % 1000003), 0) AS BIGINT)
               AS pair_checksum
    FROM dup
    """,
)
def image_phash_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        _sig_near_pairs,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    media = mm.synth_media(docs, "image")
    # one decode pass: the signatures feed both the census counts and
    # the banded pair join (materialize before the self-join)
    sigs = mm.image_dhash(media).localCheckpoint()
    # capless-with-guard: the oracle is the exact capless twin
    # (round-11 advice on the audio twin — same hazard here), and a
    # degenerate bucket FAILS LOUD instead of exploding B²/2 pairs
    # (round-12 advice); production callers use image_dhash_pairs
    # with its default cap
    cands = _sig_near_pairs(sigs, "media_id", max_hamming=64,
                            hot_bucket_cap=None, hot_bucket_guard=10_000)
    sig_stats = sigs.agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.countDistinct(F.struct("c0", "c1", "c2", "c3"))
        .cast("long")
        .alias("n_distinct_sig"),
    )
    pair_stats = cands.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
        F.sum(F.when(F.col("hamming") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_pairs"),
        F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("hamming") <= 3,
                    (F.col("media_id_a") * 31 + F.col("media_id_b")) % 1000003,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pair_checksum"),
    )
    return sig_stats.crossJoin(pair_stats)


@_register(
    "jpeg_decode_stats",
    "Real baseline-JPEG round trip (operators/jpeg.py: pure-numpy T.81 "
    "codec — FDCT, quantization, Annex-K Huffman entropy coding). Images "
    "are constant within each 8x8 tile, so with the QUANT_EXACT table the "
    "lossy pipeline is mathematically lossless (DC-only blocks survive "
    "quantize→dequantize exactly) and DuckDB recomputes every decoded "
    "feature arithmetically: a hash match proves the full "
    "encode→Huffman→decode→IDCT→feature chain bit-for-bit.",
    """
    WITH d AS (SELECT doc_id, (doc_id % 9) + 5 AS w, (doc_id % 11) + 6 AS h
               FROM documents),
    p AS (SELECT doc_id, w, h,
            list_transform(range(0, w * h),
                i -> (doc_id * 3 + ((i // w) // 8) * 17
                      + ((i % w) // 8) * 101) % 256) AS px
          FROM d)
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           floor(CAST(list_sum(px) AS DOUBLE) / (w * h) * 1000000.0 + 0.5)
             / 1000000.0 AS pixel_mean,
           CAST(list_max(px) AS INT) AS pixel_max,
           CAST(list_sum(list_transform(range(0, 16),
                i -> (doc_id * 3 + ((((i // 4) * h) // 4) // 8) * 17
                      + ((((i % 4) * w) // 4) // 8) * 101) % 256))
             AS BIGINT) AS resized4_sum
    FROM p
    """,
)
def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return mm.image_features(mm.synth_media(docs, "jpeg"))


@_register(
    "video_frame_sample",
    "Frame-sampling over a concatenated-PGM video container: every 2nd "
    "frame kept, per-frame mean intensity "
    "(operators/multimodal.py:sample_frames — one row fans out per frame).",
    """
    WITH d AS (SELECT doc_id, (doc_id % 4) + 2 AS nf FROM documents),
    f AS (SELECT doc_id, unnest(range(0, nf)) AS fr FROM d)
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(fr AS BIGINT) AS frame_idx,
           floor(CAST(list_sum(list_transform(range(0, 12),
                i -> (doc_id + fr * 7 + (i // 4) * 17 + (i % 4) * 101) % 256))
                AS DOUBLE) / 12 * 1000000.0 + 0.5) / 1000000.0 AS frame_mean
    FROM f WHERE fr % 2 = 0
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return mm.sample_frames(mm.synth_media(docs, "video"), every=2)


@_register(
    "mp4_container_stats",
    "Real ISO-BMFF demux, metadata-only (operators/bmff.py:parse_mp4): "
    "per-id MP4s are muxed with varying chunk layouts (multi-entry "
    "stsc/stco), then box-walked for brand/geometry/duration and the "
    "resolved sample table's byte accounting — no codec decode, the "
    "cheap inventory scan a 100 TB video corpus runs first. The oracle "
    "recomputes every field arithmetically (each 4x3 PGM sample is "
    "exactly 23 bytes: 11 header + 12 raster), so a hash match proves "
    "mux→demux including stsz/stsc/stco resolution.",
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           'isom' AS brand,
           CAST(4 AS INT) AS width,
           CAST(3 AS INT) AS height,
           CAST((doc_id % 4) + 2 AS BIGINT) AS n_samples,
           CAST(((doc_id % 4) + 2) * 40 AS BIGINT) AS duration_ms,
           CAST(((doc_id % 4) + 2) * 23 AS BIGINT) AS total_sample_bytes,
           CAST(23 AS BIGINT) AS max_sample_bytes
    FROM documents
    """,
)
def mp4_container_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return mm.container_stats(mm.synth_media(docs, "mp4"))


@_register(
    "mp4_frame_sample",
    "Demux→byte-range-extract→decode over real MP4 containers "
    "(operators/bmff.py + multimodal.mp4_sample_frames): every 2nd "
    "sample's payload is sliced out of mdat by its resolved "
    "(offset, size) and decoded (netpbm), emitting start_ms from the "
    "stts timeline. Pixel formula matches video_frame_sample, so the "
    "arithmetic oracle proves the byte ranges land exactly on frame "
    "boundaries.",
    """
    WITH d AS (SELECT doc_id, (doc_id % 4) + 2 AS nf FROM documents),
    f AS (SELECT doc_id, unnest(range(0, nf)) AS fr FROM d)
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(fr AS BIGINT) AS frame_idx,
           CAST(fr * 40 AS BIGINT) AS start_ms,
           floor(CAST(list_sum(list_transform(range(0, 12),
                i -> (doc_id + fr * 7 + (i // 4) * 17 + (i % 4) * 101) % 256))
                AS DOUBLE) / 12 * 1000000.0 + 0.5) / 1000000.0 AS frame_mean
    FROM f WHERE fr % 2 = 0
    """,
)
def mp4_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return mm.mp4_sample_frames(mm.synth_media(docs, "mp4"), every=2)


def _bpe_ctes(k: int = 6) -> list[str]:
    """Unrolled-SQL twin of operators/bpe.py:train_bpe — k merge
    rounds as generated CTEs (the Lloyd-unroll precedent from the
    k-means ANN oracle). Merging is the identical two-space-separator
    single replace(), so symbol strings match Spark's byte for byte.
    Final CTEs: words{k} (word, freq, sym) and best1..best{k}."""
    arr = "string_split(trim(sym), '  ')"
    pair_list = (
        f"list_transform(range(1, len({arr})), "
        f"i -> {arr}[CAST(i AS INT)] || ' ' || {arr}[CAST(i + 1 AS INT)])"
    )
    ctes = ["""wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      FROM documents) WHERE length(word) > 0 GROUP BY word)""",
            """words0 AS (SELECT word, freq,
      '  ' || array_to_string(list_transform(range(1, length(word) + 1),
               i -> substr(word, CAST(i AS INT), 1)), '  ') || '  </w>  ' AS sym
      FROM wf)"""]
    for r in range(1, k + 1):
        ctes.append(
            f"""pairs{r} AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
      FROM (SELECT freq, unnest({pair_list}) AS pair FROM words{r - 1})
      GROUP BY pair)"""
        )
        ctes.append(
            f"""best{r} AS (SELECT pair, pair_count FROM pairs{r}
      ORDER BY pair_count DESC, pair ASC LIMIT 1)"""
        )
        ctes.append(
            f"""words{r} AS (SELECT word, freq,
      replace(sym, ' ' || replace(b.pair, ' ', '  ') || ' ',
                   ' ' || replace(b.pair, ' ', '') || ' ') AS sym
      FROM words{r - 1}, best{r} b)"""
        )
    return ctes


def _bpe_oracle(k: int = 6) -> str:
    """Training oracle: the merge-round chain + the rank-ordered
    learned merge table."""
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, pair, pair_count FROM best{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(_bpe_ctes(k)) + "\n    " + union


def _bpe_encode_oracle(k: int = 6) -> str:
    """Encode oracle: the same merge-round chain; words{k}.sym IS the
    rank-ordered replace chain applied to every vocabulary word, so
    per-doc stats are a re-tokenize + join against that segmentation
    (the Spark side's broadcast-vocab join, same shape)."""
    ctes = _bpe_ctes(k)
    ctes += [
        """tk AS (SELECT doc_id, word FROM (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      FROM documents) WHERE length(word) > 0)""",
        f"""seg AS (SELECT word,
      CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS n_tokens
      FROM words{k})""",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + """
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(length(t.word)) AS BIGINT) AS n_chars
    FROM tk t JOIN seg s ON s.word = t.word
    GROUP BY t.doc_id"""
    )


@_register(
    "bpe_train_merges",
    "Distributed BPE tokenizer TRAINING (operators/bpe.py:train_bpe, "
    "Sennrich-style): word-frequency hash-agg (the only corpus-sized "
    "pass), then per round a pair-count agg + deterministic argmax + "
    "canonical merge — done as ONE plain replace() via the two-space "
    "separator trick (exact left-to-right semantics even on repeated-"
    "symbol runs, property-tested vs a pure-Python reference). Oracle "
    "unrolls all 6 rounds in generated SQL (the Lloyd precedent); "
    "replace() scans identically in both engines, so the learned merge "
    "table matches bit for bit.",
    _bpe_oracle(6),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, _words = bpe.train_bpe(docs, k=6)
    return merges


@_register(
    "bpe_encode_stats",
    "Distributed BPE tokenizer APPLICATION (operators/bpe.py:bpe_encode): "
    "the trained merge table (6 rows, rank order) becomes a stacked "
    "replace() chain — one whole-stage-codegen projection over the "
    "distinct-word vocabulary, no shuffle — then the corpus token stream "
    "joins the broadcast vocabulary segmentation for per-doc subword "
    "counts. At 100 TB: vocab is Zipf-small, the corpus pass is one "
    "narrow explode + broadcast join + hash-agg. Oracle: the training "
    "chain's final words CTE IS the encode chain's output, so the twin "
    "re-tokenizes and joins it identically.",
    _bpe_encode_oracle(6),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges, _words = bpe.train_bpe(docs, k=6)
    vocab = bpe.word_freqs(docs)
    seg = bpe.bpe_segment(bpe.bpe_encode(vocab, merges))
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    joined = toks.join(F.broadcast(seg.select("word", "n_tokens")), "word")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.length("word")).cast("long").alias("n_chars"),
    )


@_register(
    "html_extract_stats",
    "Web-corpus boilerplate stripping (functions/text.py:html_to_text): "
    "each doc is wrapped JVM-side into a full HTML page (title, style, "
    "script with < > operators, entity-escaped body, comment), then "
    "extracted back by pure regexp_replace/replace column chains — no "
    "UDF, whole-stage codegen at scan speed. Patterns are the "
    "Java-RE2-compatible subset, so the DuckDB oracle runs the "
    "IDENTICAL construction + extraction; a hash match proves "
    "tag/script/comment stripping, entity decode order (&amp; last) "
    "and whitespace collapse, byte for byte.",
    """
    WITH built AS (SELECT doc_id,
        '<html><head><title>Doc ' || doc_id || '</title>'
        || '<style>body{margin:0}</style>'
        || '<script>var ok = 1 < 2 && 3 > 2;</script></head><body><h1>'
        || lang || '</h1><p>'
        || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
        || '</p><!-- id ' || doc_id || ' --></body></html>' AS html
      FROM documents),
    ex AS (SELECT doc_id,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(replace(
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
              '(?is)<[^>]+>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
            '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '),
            '&amp;', '&'),
          '\\s+', ' ', 'g')) AS t
      FROM built)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(length(t) AS BIGINT) AS n_chars_extracted,
           CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens,
           substr(t, 1, 24) AS head,
           md5(t) AS fp
    FROM ex
    """,
)
def html_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    esc = F.call_function(
        "replace",
        F.call_function(
            "replace",
            F.call_function("replace", F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    built = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
            F.lit("</title><style>body{margin:0}</style>"
                  "<script>var ok = 1 < 2 && 3 > 2;</script></head><body><h1>"),
            F.col("lang"),
            F.lit("</h1><p>"), esc,
            F.lit("</p><!-- id "), F.col("doc_id").cast("string"),
            F.lit(" --></body></html>"),
        ).alias("html"),
    )
    t = html_to_text("html")
    return built.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length(t).cast("long").alias("n_chars_extracted"),
        F.size(F.split(t, " ")).cast("long").alias("n_tokens"),
        F.substring(t, 1, 24).alias("head"),
        F.md5(t).alias("fp"),
    )


@_register(
    "media_decode_health",
    "Corrupt-media quarantine scan (multimodal.decode_health): real "
    "image bytes are deterministically damaged JVM-side — doc_id%5==3 "
    "truncated to 9 bytes (malformed structure -> ValueError), "
    "doc_id%5==1 first byte zeroed (unrecognized magic -> "
    "NotImplementedError) — and the per-row try/except decoder "
    "classifies every item instead of letting one bad file kill the "
    "task (Spark fails the whole job after 4 task retries). The "
    "oracle recomputes the ok/error_class census from the corruption "
    "formula.",
    """
    WITH c AS (SELECT doc_id,
                 CASE WHEN doc_id % 5 = 3 THEN 'trunc'
                      WHEN doc_id % 5 = 1 THEN 'magic'
                      ELSE 'ok' END AS st
               FROM documents)
    SELECT (st = 'ok') AS ok,
           CASE st WHEN 'trunc' THEN 'ValueError'
                   WHEN 'magic' THEN 'NotImplementedError' END AS error_class,
           CAST(count(*) AS BIGINT) AS n
    FROM c GROUP BY 1, 2
    """,
)
def media_decode_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    media = mm.synth_media(docs, "image")
    corrupted = media.withColumn(
        "content",
        F.when(
            F.col("media_id") % 5 == 3, F.expr("substring(content, 1, 9)")
        ).when(
            F.col("media_id") % 5 == 1,
            F.expr("concat(X'00', substring(content, 2, 1073741823))"),
        ).otherwise(F.col("content")),
    )
    return (
        mm.decode_health(corrupted, "image")
        .groupBy("ok", "error_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@_register(
    "lang_id_confusion",
    "Language-ID evaluation matrix: per (actual, predicted) cell count and "
    "mean quality score — the accuracy/quality audit a data pipeline runs "
    "over its heuristic classifiers (functions/text.py:lang_predict + "
    "quality_score).",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_duck_stop_count('en')} AS s_en, {_duck_stop_count('de')} AS s_de,
             {_duck_stop_count('es')} AS s_es, {_duck_stop_count('fr')} AS s_fr,
             {_duck_stop_count('zh')} AS s_zh,
             floor((least(CAST(len({_DUCK_TOKENS}) AS DOUBLE) / 100.0, 1.0) * 0.5
                   + (1.0 - CAST({_duck_stop_count('en')} AS DOUBLE)
                            / greatest(CAST(len({_DUCK_TOKENS}) AS DOUBLE), 1.0)) * 0.3
                   + (1.0 - least(CAST({_DUCK_PUNCT} AS DOUBLE)
                                  / greatest(CAST(length(text) AS DOUBLE), 1.0) * 5.0,
                                  1.0)) * 0.2)
                   * 10000.0 + 0.5) / 10000.0 AS q
      FROM documents
    ), pred AS (
      SELECT lang, q,
             CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                  WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS lang_pred
      FROM scored
    )
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n,
           floor(CAST(sum(CAST(q AS DECIMAL(14,4))) AS DOUBLE) / count(*)
                 * 10000.0 + 0.5) / 10000.0 AS mean_quality
    FROM pred GROUP BY lang, lang_pred
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    scored = docs.select(
        "lang", lang_predict().alias("lang_pred"), quality_score().alias("q")
    )
    # mean via exact decimal SUM / count: float avg is summation-
    # order-dependent across partitions and could diverge from the
    # oracle's sequential average on a rounding boundary
    return scored.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n"),
        round_half_up(
            F.sum(F.col("q").cast("decimal(14,4)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_quality"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics: distributed wordcount, n-gram LM counts, TF-IDF
# ---------------------------------------------------------------------------


@_register(
    "vocab_topk",
    "Global vocabulary top-20: the canonical distributed wordcount — "
    "explode tokens, partial-aggregated count per token, then the "
    "window-free global_topk (TakeOrderedAndProject, no single-task sort).",
    rf"""
    WITH t AS (SELECT unnest({_DUCK_TOKENS}) AS token FROM documents),
    c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
          FROM t WHERE len(token) > 0 GROUP BY token),
    r AS (SELECT token, cnt, CAST(row_number() OVER
            (ORDER BY cnt DESC, token ASC) AS BIGINT) AS rank FROM c)
    SELECT token, cnt, rank FROM r WHERE rank <= 20
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import tokens
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    counted = (
        docs.select(F.explode(tokens()).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return global_topk(counted, [("cnt", False), ("token", True)], 20)


@_register(
    "token_bigram_topk",
    "Top-20 token bigrams (language-model n-gram counts): per-doc "
    "adjacent-token pairs via a JVM transform over the token array — "
    "sequence guarded to size>=2 (Spark sequence(1,0) is DESCENDING).",
    rf"""
    WITH d AS (SELECT {_DUCK_TOKENS} AS t FROM documents),
    b AS (SELECT unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i + 1])) AS bigram
          FROM d WHERE len(t) >= 2),
    c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bigram),
    r AS (SELECT bigram, cnt, CAST(row_number() OVER
            (ORDER BY cnt DESC, bigram ASC) AS BIGINT) AS rank FROM c)
    SELECT bigram, cnt, rank FROM r WHERE rank <= 20
    """,
)
def token_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import tokens
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    bigrams = (
        docs.select(tokens().alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                )
            ).alias("bigram")
        )
    )
    counted = bigrams.groupBy("bigram").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return global_topk(counted, [("cnt", False), ("bigram", True)], 20)


@_register(
    "tfidf_top_terms",
    "Per-document top-3 terms by TF-IDF with an integer-exact IDF "
    "(scaled_idf = n_docs*1e6 div df — integer div on BOTH engines, no "
    "log/float divergence): tf per (doc, token), df via second agg, "
    "shuffle join on token (df table can exceed broadcast size at corpus "
    "scale), per-doc top-3 via grouped_topk.",
    rf"""
    WITH t AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM t WHERE len(token) > 0 GROUP BY doc_id, token),
    dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    s AS (SELECT tf.doc_id, tf.token, tf.tf,
                 CAST(tf.tf * ((n.n_docs * 1000000) // dfq.df) AS BIGINT) AS score
          FROM tf JOIN dfq ON tf.token = dfq.token CROSS JOIN n),
    r AS (SELECT doc_id, token, tf, score,
                 CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, token ASC) AS BIGINT) AS rank FROM s)
    SELECT doc_id, token, tf, score, rank FROM r WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import tokens
    from umn_eda_kafka_stream_processing_spark.operators.core import grouped_topk

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", F.explode(tokens()).alias("token")).filter(
        F.length("token") > 0
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score", F.expr("CAST(tf * ((n_docs * 1000000) div df) AS BIGINT)")
        )
    )
    ranked = grouped_topk(
        scored, "doc_id", [F.col("score").desc(), F.col("token").asc()], 3
    )
    return ranked.select(
        "doc_id", "token", "tf", "score", F.col("rank").cast("long").alias("rank")
    )


def _srp_oracle(
    threshold: float,
    dim: int = 64,
    n_bits: int = 24,
    bands: int = 4,
    *,
    src_cte: str | None = None,
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of operators/similarity.py:srp_lsh_pairs — the same
    md5-derived hyperplanes embedded as literals, band keys packed
    big-endian, any-band candidate join, exact-cosine verify.

    ``src_cte`` (WITH-clause fragment, default: the embeddings table)
    must end by defining a relation ``e(id_col, v)`` with ``v`` a
    DOUBLE list of length ``dim`` — this is how non-embedding vector
    sources (e.g. the circadian user profiles in catalog_windows.py)
    reuse the oracle."""
    planes = sim.srp_planes(dim, n_bits)
    r = n_bits // bands

    def key_expr(b: int) -> str:
        terms = []
        for i in range(r):
            lit = "[" + ", ".join(f"{x}.0" for x in planes[b * r + i]) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lit}) >= 0"
                f" THEN {1 << (r - 1 - i)} ELSE 0 END)"
            )
        return " + ".join(terms)

    keys = ",\n        ".join(key_expr(b) for b in range(bands))
    src = src_cte or f"e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings)"
    return f"""
    WITH {src},
    sig AS (SELECT {id_col}, v, [{keys}] AS ks FROM e),
    lite AS (SELECT {id_col}, unnest(ks) AS bkey,
                    unnest(range(0, {bands})) AS band FROM sig),
    cand AS (SELECT DISTINCT a.{id_col} AS ia, b.{id_col} AS ib
             FROM lite a JOIN lite b
               ON a.band = b.band AND a.bkey = b.bkey AND a.{id_col} < b.{id_col}),
    scored AS (SELECT ia, ib, {_duck_cos('ea.v', 'eb.v')} AS sim
               FROM cand JOIN e ea ON ea.{id_col} = ia
                         JOIN e eb ON eb.{id_col} = ib)
    SELECT ia AS {id_col}_a, ib AS {id_col}_b, sim FROM scored WHERE sim >= {threshold}
    """


@_register(
    "tfidf_cosine_topk",
    "Top-20 most-similar document pairs by df-BANDED tf-idf cosine "
    "over word-TRIGRAM terms (operators/similarity.py:"
    "tfidf_cosine_topk) — term-weighted lexical near-dup completing "
    "the similarity matrix (MinHash=set overlap, SimHash=bit sketch, "
    "embedding=semantic, this=tf-idf). Trigram terms because n-gram "
    "width is the selectivity knob: the synthetic corpus has 31 "
    "distinct words (every unigram a hub, df band keeps nothing) but "
    "27k trigrams with max df 25 at sf0.1. All-pairs inverted-index "
    "join: unit-normalized integer-micro postings (tf capped 100, "
    "idf_milli = least(1e5, n_docs*1000 div df) — integer div, no ln; "
    "u = floor(w*1e6/sqrt(double(norm2))+0.5), bit-portable since "
    "BIGINT->DOUBLE casts and sqrt/one-division are IEEE-identical) "
    "self-joined on term. The df band [2, 100] is the scale contract: "
    "df=1 terms can never pair (zero recall loss) and df>100 hub terms "
    "would emit C(df,2) candidates each — per-term work is bounded at "
    "C(100,2) forever, so the join stays linear-ish at corpus scale. "
    "Pair dots sum exact BIGINT micros (order-independent); global "
    "top-k via TakeOrderedAndProject, never a corpus window.",
    rf"""
    WITH d AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    t AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                 i -> list_aggregate(list_slice(t, i, i + 2),
                                     'string_agg', ' '))) AS token
          FROM d WHERE len(t) >= 3),
    tf AS (SELECT doc_id, token,
                  least(CAST(count(*) AS BIGINT), 100) AS tf
           FROM t GROUP BY doc_id, token),
    dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
            GROUP BY token HAVING count(*) BETWEEN 2 AND 100),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    w AS (SELECT tf.doc_id, tf.token,
                 tf.tf * least(100000, (n.n_docs * 1000) // dfq.df) AS w
          FROM tf JOIN dfq ON tf.token = dfq.token CROSS JOIN n),
    nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w
            GROUP BY doc_id),
    u AS (SELECT w.doc_id, w.token,
                 CAST(floor((CAST(w.w AS DOUBLE) * 1000000.0)
                      / sqrt(CAST(nrm.n2 AS DOUBLE)) + 0.5) AS BIGINT) AS u
          FROM w JOIN nrm ON nrm.doc_id = w.doc_id),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(sum(a.u * b.u) AS BIGINT) AS dot
          FROM u a JOIN u b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
    r AS (SELECT doc_a, doc_b, CAST(dot // 1000000 AS BIGINT) AS cos_micro,
                 CAST(row_number() OVER (ORDER BY dot // 1000000 DESC,
                      doc_a ASC, doc_b ASC) AS BIGINT) AS rank
          FROM p)
    SELECT doc_a, doc_b, cos_micro, rank FROM r WHERE rank <= 20
    """,
)
def tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    return sim.tfidf_cosine_topk(docs, k=20)


@_register(
    "embedding_srp_lsh_pairs",
    "Embedding near-dup via signed-random-projection LSH — the linear "
    "scale path when no block column exists (cosine-LSH banding, "
    "4 bands x 6 bits, md5-derived integer hyperplanes, exact-cosine "
    "verify; operators/similarity.py:srp_lsh_pairs).",
    _srp_oracle(0.45),
)
def embedding_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.srp_lsh_pairs(emb, threshold=0.45)


# ---------------------------------------------------------------------------
# PII / boilerplate scrubbing
# ---------------------------------------------------------------------------

# Deterministic dirty-text construction shared by Spark and DuckDB: the
# synthetic corpus has no PII, so the query plants an email on every
# doc, a URL on every 3rd and a long digit run on every 5th, derived
# from doc_id alone — both engines build the identical string.
_DUCK_DIRTY = (
    "text || ' contact user' || cast(doc_id as varchar) || '@example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' http://site' || cast(doc_id % 7 as varchar)"
    " || '.example/page?id=' || cast(doc_id as varchar) ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' ref ' || cast(doc_id as varchar)"
    " || '9876543210' ELSE '' END"
)


def _pii_oracle() -> str:
    from umn_eda_kafka_stream_processing_spark.functions import scrub as sc

    after_url = f"regexp_replace(dirty, '{sc.URL_RE}', '<URL>', 'g')"
    after_email = f"regexp_replace({after_url}, '{sc.EMAIL_RE}', '<EMAIL>', 'g')"
    return f"""
    WITH d AS (SELECT doc_id, {_DUCK_DIRTY} AS dirty FROM documents)
    SELECT doc_id,
           {sc.duck_count('dirty', sc.URL_RE)} AS n_urls,
           {sc.duck_count(after_url, sc.EMAIL_RE)} AS n_emails,
           {sc.duck_count(after_email, sc.LONGNUM_RE)} AS n_longnums,
           md5({sc.duck_scrub('dirty')}) AS clean_fp
    FROM d
    """


@_register(
    "pii_scrub_stats",
    "PII redaction over deterministically-dirtied text: URL -> email -> "
    "long-digit-run regexp passes, all JVM-side column expressions "
    "(functions/scrub.py) — per-doc category counts + md5 of the "
    "scrubbed text, bit-matched against the RE2 twin.",
    _pii_oracle(),
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions import scrub as sc

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.col("text"), F.lit(" contact user"), did, F.lit("@example.com"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" http://site"), (F.col("doc_id") % 7).cast("string"),
                     F.lit(".example/page?id="), did),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" ref "), did, F.lit("9876543210")),
        ).otherwise(F.lit("")),
    )
    dirtied = docs.select("doc_id", dirty.alias("dirty"))
    counts = sc.redaction_counts("dirty")
    return dirtied.select(
        "doc_id",
        counts["n_urls"].alias("n_urls"),
        counts["n_emails"].alias("n_emails"),
        counts["n_longnums"].alias("n_longnums"),
        F.md5(sc.scrub_text("dirty")).alias("clean_fp"),
    )


# ---------------------------------------------------------------------------
# Curation: chunking, repetition, contamination
# ---------------------------------------------------------------------------

@_register(
    "doc_chunking",
    "Token-window chunking for embedding pipelines: 32-token chunks, "
    "stride 24 (8-token overlap), n_chunks = (n_tok-8+23) div 24 "
    "(floored at 1) — posexplode over a JVM sequence + array slice, "
    "no UDF; one narrow pass.",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ), n AS (
      SELECT doc_id, toks, len(toks) AS n_tok,
             greatest(1, (len(toks) - 8 + 23) // 24) AS n_chunks
      FROM t
    )
    SELECT doc_id, cast(i AS bigint) AS chunk_ix,
           array_to_string(list_slice(toks, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text,
           cast(len(list_slice(toks, i * 24 + 1, i * 24 + 32)) AS bigint) AS chunk_tokens
    FROM n, unnest(range(0, n_chunks)) AS u(i)
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select(
            "doc_id",
            toks.alias("toks"),
            F.greatest(
                F.lit(1),
                F.expr(r"(size(split(trim(text), '\\s+')) - 8 + 23) div 24"),
            ).alias("n_chunks"),
        )
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_ix"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            F.col("chunk_ix").cast("long").alias("chunk_ix"),
            F.array_join(
                F.slice(F.col("toks"), F.col("chunk_ix") * 24 + 1, 32), " "
            ).alias("chunk_text"),
            F.size(F.slice(F.col("toks"), F.col("chunk_ix") * 24 + 1, 32))
            .cast("long")
            .alias("chunk_tokens"),
        )
    )


@_register(
    "doc_repetition_stats",
    "Repetition quality signal: 1 - distinct/total char-3-gram ratio "
    "per doc (high = boilerplate/spam), pure JVM expressions over the "
    "raw (non-distinct) shingle stream.",
    """
    SELECT doc_id,
           cast(greatest(length(text) - 2, 1) AS bigint) AS total_shingles,
           cast(len(list_distinct(list_transform(
                 range(1, greatest(length(text) - 2, 1) + 1),
                 i -> substr(text, CAST(i AS INT), 3)))) AS bigint) AS distinct_shingles,
           floor((1.0 - cast(len(list_distinct(list_transform(
                 range(1, greatest(length(text) - 2, 1) + 1),
                 i -> substr(text, CAST(i AS INT), 3)))) AS double)
                 / cast(greatest(length(text) - 2, 1) AS double))
                 * 1000000.0 + 0.5) / 1000000.0 AS repetition
    FROM documents
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import char_shingles

    docs = load_table(spark, sf_dir, "documents")
    total = F.greatest(F.length("text") - 2, F.lit(1)).cast("long")
    distinct = F.size(char_shingles("text", 3, distinct=True)).cast("long")
    return docs.select(
        "doc_id",
        total.alias("total_shingles"),
        distinct.alias("distinct_shingles"),
        round_half_up(
            F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6
        ).alias("repetition"),
    )


@_register(
    "eval_contamination",
    "Train/eval decontamination: docs with doc_id%20==0 form the eval "
    "set; a train doc is contaminated if it shares >=5 DISTINCTIVE "
    "8-char shingles (document frequency <= 20 — generic shingles are "
    "non-evidence AND the scale hazard: one hot shingle fans the "
    "equi-join out to |train_occurrences|x|eval_occurrences| pairs; "
    "the DF cap bounds that product). md5-keyed join, never all-pairs.",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest({_duck_shingles(8)}) AS sh FROM documents
    ), hashed AS (
      SELECT doc_id, md5(sh) AS h FROM sh
    ), rare AS (
      SELECT doc_id, h FROM hashed
      QUALIFY count(*) OVER (PARTITION BY h) <= 20
    ), hits AS (
      SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
             cast(count(DISTINCT t.h) AS bigint) AS n_shared
      FROM rare t JOIN rare e ON t.h = e.h
      WHERE t.doc_id % 20 != 0 AND e.doc_id % 20 = 0
      GROUP BY t.doc_id, e.doc_id
    )
    SELECT train_doc_id, eval_doc_id, n_shared
    FROM hits WHERE n_shared >= 5
    """,
)
def eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import char_shingles

    docs = load_table(spark, sf_dir, "documents")
    # hash-keyed shingle explode on a lite (id, hash) projection; the
    # equi-join on the md5 key is the blocking structure — candidate
    # cost is |shared shingle occurrences|, not |train|x|eval|
    hashed = (
        spread(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(char_shingles("text", 8)).alias("sh"))
        .select("doc_id", F.md5("sh").alias("h"))
    )
    # document-frequency cap: one hash-agg window keyed on h (the join
    # key), pruning hot generic shingles BEFORE the train x eval join
    from pyspark.sql.window import Window

    # materialized once: train and eval are BOTH filtered views of
    # this projection, so a lazy plan re-runs the shingle explode +
    # md5 + DF-cap window per join side
    hashed = hashed.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("df") <= 20).drop("df").localCheckpoint()
    train = hashed.filter(F.col("doc_id") % 20 != 0).withColumnsRenamed(
        {"doc_id": "train_doc_id"}
    )
    ev = hashed.filter(F.col("doc_id") % 20 == 0).withColumnsRenamed(
        {"doc_id": "eval_doc_id", "h": "h2"}
    )
    return (
        train.join(ev, train["h"] == ev["h2"])
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.countDistinct("h").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )


@_register(
    "curation_funnel",
    "End-to-end pretraining filter funnel per language: each doc is "
    "dropped by the FIRST failing rule (too_short <20 tokens, "
    "low_quality score<0.5, high_repetition >0.8) or kept — CASE "
    "routing like branch(), one narrow pass + one tiny agg; output is "
    "the per-(lang, verdict) doc and token totals the recipe needs.",
    f"""
    WITH scored AS (
      SELECT lang,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
             floor((least(CAST(len({_DUCK_TOKENS}) AS DOUBLE) / 100.0, 1.0) * 0.5
                   + (1.0 - CAST({_duck_stop_count('en')} AS DOUBLE)
                            / greatest(CAST(len({_DUCK_TOKENS}) AS DOUBLE), 1.0)) * 0.3
                   + (1.0 - least(CAST({_DUCK_PUNCT} AS DOUBLE)
                                  / greatest(CAST(length(text) AS DOUBLE), 1.0) * 5.0,
                                  1.0)) * 0.2) * 10000.0 + 0.5) / 10000.0 AS q,
             floor((1.0 - cast(len(list_distinct(list_transform(
                   range(1, greatest(length(text) - 2, 1) + 1),
                   i -> substr(text, CAST(i AS INT), 3)))) AS double)
                   / cast(greatest(length(text) - 2, 1) AS double))
                   * 1000000.0 + 0.5) / 1000000.0 AS rep
      FROM documents
    )
    SELECT lang,
           CASE WHEN n_tokens < 20 THEN 'too_short'
                WHEN q < 0.5 THEN 'low_quality'
                WHEN rep > 0.8 THEN 'high_repetition'
                ELSE 'kept' END AS verdict,
           cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_tokens) AS bigint) AS n_tokens_total
    FROM scored
    GROUP BY 1, 2
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import char_shingles

    docs = load_table(spark, sf_dir, "documents")
    ntok = token_count()
    total_sh = F.greatest(F.length("text") - 2, F.lit(1)).cast("double")
    rep = round_half_up(
        F.lit(1.0)
        - F.size(char_shingles("text", 3)).cast("double") / total_sh,
        6,
    )
    scored = docs.select(
        "lang",
        ntok.alias("n_tokens"),
        quality_score().alias("q"),
        rep.alias("rep"),
    ).withColumn(
        "verdict",
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("q") < 0.5, "low_quality")
        .when(F.col("rep") > 0.8, "high_repetition")
        .otherwise("kept"),
    )
    return scored.groupBy("lang", "verdict").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_total"),
    )


def _dedup_pipeline_oracle() -> str:
    ctes, pair_select = _minhash_parts()
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({pair_select}),
    und AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs),
    walk(id, label) AS (
      SELECT DISTINCT src, src FROM und
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id),
    toks AS (SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok
             FROM documents),
    removed AS (SELECT doc_id FROM comp WHERE doc_id != cluster_id)
    SELECT cast((SELECT count(*) FROM documents) AS bigint) AS n_docs,
           cast((SELECT count(*) FROM pairs) AS bigint) AS n_pairs,
           cast((SELECT count(DISTINCT cluster_id) FROM comp) AS bigint) AS n_clusters,
           cast((SELECT count(*) FROM removed) AS bigint) AS n_removed,
           cast((SELECT sum(n_tok) FROM toks) AS bigint) AS tokens_total,
           cast(coalesce((SELECT sum(n_tok) FROM toks
                          JOIN removed USING (doc_id)), 0) AS bigint) AS tokens_removed
    """


@_register(
    "dedup_pipeline_summary",
    "The whole corpus-dedup pipeline as ONE flagship query: MinHash "
    "signatures -> banded LSH candidates -> jaccard verify -> connected "
    "components -> keeper(=min id) selection -> before/after token "
    "accounting. Every stage is the already-oracle-checked operator; "
    "this query proves they compose (the shape a 100 TB dedup job "
    "actually runs).",
    _dedup_pipeline_oracle(),
)
def dedup_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pair graph and components are the session-cached substrates
    # (identical args: default minhash_lsh_pairs over the corpus +
    # min-label components) — recomputing them here cost ~4 s/run and
    # the corpus localCheckpoint materialized every doc's text for a
    # query that only aggregates counts (round-11: checkpoint
    # compressed frames, never the corpus)
    docs = load_table(spark, sf_dir, "documents")
    pairs = cached_minhash_pairs(spark, sf_dir)
    comp = cached_near_dup_clusters(spark, sf_dir)
    removed = comp.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    toks = docs.select("doc_id", token_count().alias("n_tok"))
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n_pairs = pairs.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    n_comp = comp.groupBy().agg(
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum((F.col("doc_id") != F.col("cluster_id")).cast("long"))
        .cast("long").alias("n_removed"),
    )
    tok_tot = toks.groupBy().agg(F.sum("n_tok").cast("long").alias("tokens_total"))
    tok_rem = toks.join(removed, "doc_id").groupBy().agg(
        F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("tokens_removed")
    )
    return (
        n_docs.crossJoin(n_pairs).crossJoin(n_comp)
        .crossJoin(tok_tot).crossJoin(tok_rem)
    )


@_register(
    "label_centroid_similarity",
    "Embedding analytics: pairwise cosine between per-label centroids. "
    "Centroids via posexplode + decimal sums (order-independent where "
    "double sums drift with partial-agg order), components rounded to "
    "9 dp on both engines; pairwise sums again in decimal; sqrt/divide "
    "are IEEE-identical. 45 label pairs out, all work JVM-side.",
    """
    WITH ex AS (
      SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, unnest(range(1, 65)) t(i)
    ), cent AS (
      SELECT label, pos,
             floor(cast(sum(cast(val AS DECIMAL(27,10))) AS DOUBLE) / count(*)
                   * 1000000000.0 + 0.5) / 1000000000.0 AS c
      FROM ex GROUP BY label, pos
    ), p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(cast(a.c * b.c AS DECIMAL(28,14))) AS spq,
             sum(cast(a.c * a.c AS DECIMAL(28,14))) AS spp,
             sum(cast(b.c * b.c AS DECIMAL(28,14))) AS sqq
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           floor(cast(spq AS DOUBLE)
                 / (sqrt(cast(spp AS DOUBLE)) * sqrt(cast(sqq AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM p
    """,
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    cent = ex.groupBy("label", "pos").agg(
        round_half_up(
            F.sum(F.col("val").cast("decimal(27,10)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("c")
    ).localCheckpoint()  # self-joined below: avoid double lineage compute
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("pos").alias("pos_b"),
        F.col("c").alias("cb"),
    )
    p = (
        a.join(b, (a["pos"] == b["pos_b"]) & (a["label_a"] < b["label_b"]))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum((F.col("ca") * F.col("cb")).cast("decimal(28,14)")).alias("spq"),
            F.sum((F.col("ca") * F.col("ca")).cast("decimal(28,14)")).alias("spp"),
            F.sum((F.col("cb") * F.col("cb")).cast("decimal(28,14)")).alias("sqq"),
        )
    )
    return p.select(
        "label_a", "label_b",
        round_half_up(
            F.col("spq").cast("double")
            / (F.sqrt(F.col("spp").cast("double")) * F.sqrt(F.col("sqq").cast("double"))),
            6,
        ).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# Perplexity-style quality scoring (character-bigram LM)
# ---------------------------------------------------------------------------

_CHARLM_CTES = """bgp AS (
      SELECT doc_id, bg, substr(bg, 1, 1) AS pf FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(length(text) - 1, 0) + 1),
                      i -> substr(text, i, 2))) AS bg
        FROM documents)
    ),
    v AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS vs FROM bgp),
    cb AS (SELECT pf, bg, count(*) AS c FROM bgp GROUP BY pf, bg),
    cp AS (SELECT pf, count(*) AS cp FROM bgp GROUP BY pf),
    model AS (
      SELECT cb.bg,
             CAST(floor(ln((cb.c + 1.0) / (cp.cp + 1.0 * (SELECT vs FROM v)))
                        * 1000000.0 + 0.5) AS BIGINT) AS lpm
      FROM cb JOIN cp ON cp.pf = cb.pf
    ),
    sc AS (
      SELECT d.doc_id, count(*) AS n, CAST(sum(m.lpm) AS BIGINT) AS s
      FROM bgp d JOIN model m ON m.bg = d.bg GROUP BY d.doc_id
    )"""

_CHARLM_ORACLE = (
    "WITH " + _CHARLM_CTES + """
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_bigrams,
           floor(((CAST(s AS DOUBLE) / n) / 1000000.0) * 1000000.0 + 0.5)
             / 1000000.0 AS avg_logp
    FROM sc
"""
)


@_register(
    "char_bigram_quality",
    "Perplexity-style quality scoring (CCNet/Gopher lineage): a "
    "Laplace-smoothed character-bigram LM trained on the corpus (two "
    "hash-aggs + one vocab scalar), every doc scored by its mean "
    "per-bigram log-probability via a broadcast model join "
    "(operators/charlm.py). Per-bigram logp is integer-micro BIGINT so "
    "per-doc sums are exact and order-independent; the single ln() per "
    "DISTINCT bigram is the only transcendental and 6dp rounding "
    "absorbs libm last-ulp skew. Oracle: the same train + score in SQL "
    "with the identical double-op sequence for the final average.",
    _CHARLM_ORACLE,
)
def char_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators import charlm

    docs = load_table(spark, sf_dir, "documents")
    # train-once/score-once: charlm_langid_auc shares this frame
    return charlm.cached_doc_scores(docs, sf_dir)


_GOPHER_CTES = r"""m AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS nw,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                 AS nchar_ns,
             CAST(len(regexp_extract_all(text, '#'))
                  + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE) AS nsym,
             string_split_regex(text, '\n') AS lines,
             string_split_regex(trim(text), '\s+') AS words
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, nw,
             CASE
               WHEN nw < 50 OR nw > 100000 THEN 'word_count'
               WHEN nchar_ns / nw < 3.0 OR nchar_ns / nw > 10.0
                   THEN 'mean_word_length'
               WHEN nsym / nw > 0.1 THEN 'symbol_ratio'
               WHEN CAST(len(list_filter(lines,
                        l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
                    / len(lines) > 0.9 THEN 'bullet_lines'
               WHEN CAST(len(list_filter(lines,
                        l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
                    / len(lines) > 0.3 THEN 'ellipsis_lines'
               WHEN CAST(len(list_filter(words,
                        w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                    / nw < 0.8 THEN 'alpha_words'
               WHEN len(list_intersect(
                        list_transform(words, w -> lower(w)),
                        ['the','be','to','of','and','that','have','with']))
                    < 2 THEN 'stopwords'
               ELSE 'kept' END AS verdict
      FROM m
    )"""


@_register(
    "gopher_quality_flags",
    "The named heuristic quality-rule funnel (Gopher, Rae et al. 2021 "
    "A1.1) real curation stacks run before any model-based scoring: "
    "word-count bounds, mean word length, symbol-to-word ratio, "
    "bullet/ellipsis line fractions, alphabetic-word fraction, "
    "required-stopword presence — each doc dropped by its FIRST "
    "failing rule (CASE routing like curation_funnel), per-(lang, "
    "verdict) doc and token rejection counts out. Pure JVM column "
    "exprs (functions/text.py:gopher_rules) — regex counts + length "
    "arithmetic at full scan speed; output is exact integers, so "
    "cross-engine comparison needs no float care.",
    "WITH " + _GOPHER_CTES + r"""
    SELECT lang, verdict, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(nw AS BIGINT)) AS BIGINT) AS n_tokens_total
    FROM r GROUP BY lang, verdict
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    rules = gopher_rules("text")
    verdict = F.lit("kept")
    for name, fail in reversed(list(rules.items())):
        verdict = F.when(fail, F.lit(name)).otherwise(verdict)
    scored = docs.select(
        "lang",
        token_count().alias("n_tokens"),
        verdict.alias("verdict"),
    )
    return scored.groupBy("lang", "verdict").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens_total"),
    )


@_register(
    "url_canonical_stats",
    "URL/domain canonicalization census — the key web-scale curation "
    "stacks dedup and mix on BEFORE doc-level dedup. Deterministic "
    "messy URLs derived per doc from (lang, doc_id) on BOTH engines "
    "(scheme/host case variants, default ports, utm params, fragments) "
    "are canonicalized (functions/text.py:canonical_url — lowercase "
    "scheme+host, strip :80/:443, fragment, utm_*) and grouped by "
    "registrable domain: raw-distinct vs canonical-distinct shows how "
    "many aliases the canonicalizer collapses. Pure regexp chains, no "
    "group-reference replacements (Java $1 vs RE2 \\1 is not portable).",
    r"""
    WITH t AS (
      -- selectors use DISTINCT integer-division digits of doc_id:
      -- residues of one modulus are CRT-entangled (a mod-4 scheme
      -- variant never varies independently of a mod-10 path), which
      -- would make every alias class a singleton and the census
      -- degenerate
      SELECT doc_id, lang,
             CASE (doc_id // 10) % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                  ELSE '.net' END AS tld
      FROM documents
    ),
    u AS (
      SELECT doc_id,
             concat(
               CASE (doc_id // 7) % 4
                 WHEN 0 THEN 'http://' || 'docs.site-' || lang || tld
                 WHEN 1 THEN 'HTTP://' || upper('docs.site-' || lang || tld)
                             || ':80'
                 WHEN 2 THEN 'https://' || 'docs.site-' || lang || tld
                             || ':443'
                 ELSE 'HTTPS://' || upper('docs.site-' || lang || tld)
               END,
               '/d/', CAST(doc_id % 10 AS VARCHAR),
               CASE (doc_id // 13) % 3
                 WHEN 0 THEN ''
                 WHEN 1 THEN '?utm_source=feed&utm_campaign=spring'
                 ELSE '?id=' || CAST(doc_id % 10 AS VARCHAR)
                      || '&utm_medium=social'
               END,
               CASE WHEN (doc_id // 3) % 2 = 1 THEN '#frag' ELSE '' END
             ) AS raw
      FROM t
    ),
    p AS (
      SELECT doc_id, raw,
             lower(regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1))
                 AS scheme,
             lower(regexp_extract(raw,
                 '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS hostport
      FROM u
    ),
    c AS (
      SELECT doc_id, raw,
             regexp_extract(regexp_replace(hostport, ':[0-9]+$', ''),
                 '([A-Za-z0-9\-]+\.[A-Za-z0-9\-]+)$', 1) AS domain,
             concat(
               CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END,
               CASE WHEN scheme = 'http'
                      THEN regexp_replace(hostport, ':80$', '')
                    WHEN scheme = 'https'
                      THEN regexp_replace(hostport, ':443$', '')
                    ELSE hostport END,
               regexp_extract(regexp_replace(
                   substr(raw, length(scheme) + 3 + length(hostport) + 1),
                   '#.*$', ''), '^([^?]*)', 1),
               CASE WHEN q = '' THEN '' ELSE '?' || q END
             ) AS canonical
      FROM (
        SELECT *,
               regexp_replace(regexp_replace(
                   '&' || regexp_extract(regexp_replace(
                       substr(raw, length(scheme) + 3 + length(hostport) + 1),
                       '#.*$', ''), '\?(.*)$', 1),
                   '&utm_[^&]*', '', 'g'), '^&', '') AS q
        FROM p
      )
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT raw) AS BIGINT) AS n_raw_distinct,
           CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
           CAST(count(DISTINCT raw) - count(DISTINCT canonical) AS BIGINT)
               AS n_collapsed
    FROM c GROUP BY domain
    """,
)
def url_canonical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import (
        canonical_url,
        registrable_domain,
    )

    docs = load_table(spark, sf_dir, "documents")
    def digit(div: int, mod: int):
        # distinct integer-division digits keep the selectors
        # independent (see the oracle's CRT note)
        return F.expr(f"(doc_id div {div}) % {mod}")

    tld = (
        F.when(digit(10, 3) == 0, ".com")
        .when(digit(10, 3) == 1, ".org")
        .otherwise(".net")
    )
    base_host = F.concat(F.lit("docs.site-"), F.col("lang"), tld)
    v = digit(7, 4)
    head = (
        F.when(v == 0, F.concat(F.lit("http://"), base_host))
        .when(v == 1, F.concat(F.lit("HTTP://"), F.upper(base_host), F.lit(":80")))
        .when(v == 2, F.concat(F.lit("https://"), base_host, F.lit(":443")))
        .otherwise(F.concat(F.lit("HTTPS://"), F.upper(base_host)))
    )
    qv = digit(13, 3)
    query = (
        F.when(qv == 0, F.lit(""))
        .when(qv == 1, F.lit("?utm_source=feed&utm_campaign=spring"))
        .otherwise(
            F.concat(
                F.lit("?id="),
                F.pmod("doc_id", F.lit(10)).cast("string"),
                F.lit("&utm_medium=social"),
            )
        )
    )
    raw = F.concat(
        head,
        F.lit("/d/"),
        F.pmod("doc_id", F.lit(10)).cast("string"),
        query,
        F.when(digit(3, 2) == 1, "#frag").otherwise(""),
    )
    urls = docs.select("doc_id", raw.alias("raw")).select(
        "raw",
        registrable_domain("raw").alias("domain"),
        canonical_url("raw").alias("canonical"),
    )
    return urls.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("raw").cast("long").alias("n_raw_distinct"),
        F.countDistinct("canonical").cast("long").alias("n_canonical"),
        (F.countDistinct("raw") - F.countDistinct("canonical"))
        .cast("long")
        .alias("n_collapsed"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training
# ---------------------------------------------------------------------------

def _unigram_dp_ctes(
    tag: str, model_cte: str, maxw: int, plen: int, source: str = "wf"
) -> list:
    """The Viterbi DP + backward walk over the distinct words in
    ``source`` under the piece costs of ``model_cte``, unrolled as
    nested one-level subqueries (one cost/backpointer column per
    level — no expression blowup). Ends at CTE ``w{tag}_{maxw}``
    whose piece0..piece{maxw-1} columns are the segmentation."""
    inf = 10**15

    def K(arg: str) -> str:
        return f"coalesce(element_at(mp, {arg})[1], {inf})"

    ctes = [
        f"""lut{tag} AS (
      SELECT map_from_entries(list({{'k': piece, 'v': cost}})) AS mp
      FROM {model_cte}
    )""",
        f"d{tag}_0 AS (SELECT word, freq, length(word) AS L, mp "
        f"FROM {source}, lut{tag})",
    ]
    for i in range(1, maxw + 1):
        terms = []
        for j in range(1, min(plen, i) + 1):
            prev = "0" if i == j else f"c{i - j}"
            terms.append(f"{prev} + {K(f'substr(word, {i - j + 1}, {j})')}")
        whens = " ".join(
            f"WHEN c{i} = {t} THEN {j + 1}" for j, t in enumerate(terms[:-1])
        )
        bexpr = f"CASE {whens} ELSE {len(terms)} END" if whens else str(len(terms))
        ctes.append(
            f"""d{tag}_{i} AS (SELECT *,
        CASE WHEN L >= {i} THEN least({', '.join(terms)}) END AS c{i},
        CASE WHEN L >= {i} THEN ({bexpr}) END AS b{i}
      FROM d{tag}_{i - 1})"""
        )
    bp_case = " ".join(f"WHEN {i} THEN b{i}" for i in range(1, maxw + 1))
    ctes.append(f"w{tag}_0 AS (SELECT *, L AS p0 FROM d{tag}_{maxw})")
    for k in range(1, maxw + 1):
        pk = k - 1
        ctes.append(
            f"""w{tag}_{k} AS (SELECT *,
        CASE WHEN p{pk} > 0 THEN (CASE p{pk} {bp_case} END) END AS j{pk},
        CASE WHEN p{pk} > 0
             THEN substr(word, p{pk} - j{pk} + 1, j{pk}) END AS piece{pk},
        CASE WHEN p{pk} > 0 THEN p{pk} - j{pk} ELSE 0 END AS p{k}
      FROM w{tag}_{k - 1})"""
        )
    return ctes


# deterministic over-length encode fixture (34 chars = 3 windows at
# the 12-char cap); lowercase letters so lower()/trim() are no-ops
_UNIGRAM_FIXTURE = "supercalifragilisticexpialidocious"


def _unigram_oracle(
    maxw: int = 12, plen: int = 4, k_cand: int = 200,
    v_final: int = 120, rounds: int = 2, mode: str = "train",
) -> str:
    """Generate the fully-unrolled DuckDB twin of
    operators/unigram.py: candidate vocab + integer-micro -ln costs +
    ``rounds`` hard-EM rounds (each = _unigram_dp_ctes + usage agg +
    Laplace re-estimate). mode='train' ranks the final vocab;
    mode='encode' runs one more DP under the FINAL model and reports
    per-lang corpus compression (the tokenizer APPLIED)."""
    ctes = [
        r"""wf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents)
      WHERE length(word) BETWEEN 1 AND """ + str(maxw) + """ GROUP BY word
    )""",
        f"""cand AS (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS freq FROM (
        SELECT w.freq,
               substr(w.word, CAST(g.i AS INT), CAST(g.j AS INT)) AS piece
        FROM wf w
        JOIN (SELECT i.range AS i, j.range AS j
              FROM range(1, {maxw + 1}) i, range(1, {plen + 1}) j) g
          ON g.i + g.j - 1 <= length(w.word)
      ) GROUP BY piece
    )""",
        f"""v0 AS (
      SELECT piece, freq FROM (
        SELECT piece, freq,
               row_number() OVER (ORDER BY freq DESC, piece ASC) AS rn
        FROM cand) WHERE rn <= {k_cand}
      UNION
      SELECT piece, freq FROM cand WHERE length(piece) = 1
    )""",
        """m0 AS (
      SELECT piece,
             -CAST(floor(ln(CAST(freq AS DOUBLE)
                 / (SELECT CAST(sum(freq) AS DOUBLE) FROM v0))
                 * 1000000.0 + 0.5) AS BIGINT) AS cost
      FROM v0
    )""",
    ]
    for r in range(1, rounds + 1):
        ctes += _unigram_dp_ctes(str(r), f"m{r - 1}", maxw, plen)
        pieces = ", ".join(f"piece{k}" for k in range(maxw))
        ctes.append(
            f"""u{r} AS (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS usage FROM (
        SELECT freq, unnest([{pieces}]) AS piece FROM w{r}_{maxw})
      WHERE piece IS NOT NULL GROUP BY piece
    )"""
        )
        ctes.append(
            f"""r{r} AS (
      SELECT v.piece, CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
      FROM v0 v LEFT JOIN u{r} u ON u.piece = v.piece
      WHERE coalesce(u.usage, 0) > 0 OR length(v.piece) = 1
    )"""
        )
        ctes.append(
            f"""m{r} AS (
      SELECT piece, usage,
             -CAST(floor(ln((usage + 1.0)
                 / (SELECT CAST(sum(usage) + count(*) AS DOUBLE) FROM r{r}))
                 * 1000000.0 + 0.5) AS BIGINT) AS cost
      FROM r{r}
    )"""
        )
    if mode == "train":
        return (
            "WITH "
            + ",\n    ".join(ctes)
            + f"""
    SELECT CAST(rn AS BIGINT) AS rank, piece, usage, cost AS cost_micros
    FROM (SELECT piece, usage, cost,
                 row_number() OVER (ORDER BY usage DESC, piece ASC) AS rn
          FROM m{rounds})
    WHERE rn <= {v_final}"""
        )
    # encode word stream: every corpus word PLUS a deterministic
    # over-length fixture (the corpus itself has no word over the cap
    # — max observed length is 8 — so without the fixture the
    # window-fallback path would be dead code in the gate)
    ctes.append(
        r"""wl AS (
      SELECT lang, word FROM (
        SELECT lang,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        FROM documents)
      WHERE length(word) >= 1
      UNION ALL
      SELECT lang, '""" + _UNIGRAM_FIXTURE + r"""' AS word
      FROM documents WHERE doc_id % 50 = 0
    )"""
    )
    # DP input: distinct within-cap words UNION the distinct fixed
    # windows of over-cap words (UNION dedups window strings that
    # coincide with real words — n_pieces depends only on the string)
    ctes.append(
        f"""lwin AS (
      SELECT word, substr(word, (CAST(k AS INT) - 1) * {maxw} + 1, {maxw})
                 AS win
      FROM (SELECT word,
                   unnest(range(1, CAST(ceil(length(word) / {maxw}.0)
                       AS INT) + 1)) AS k
            FROM (SELECT DISTINCT word FROM wl
                  WHERE length(word) > {maxw}))
    )"""
    )
    ctes.append(
        f"""segwords AS (
      SELECT word, CAST(1 AS BIGINT) AS freq FROM (
        SELECT word FROM wl WHERE length(word) <= {maxw}
        UNION
        SELECT win AS word FROM lwin)
    )"""
    )
    ctes += _unigram_dp_ctes("e", f"m{rounds}", maxw, plen, source="segwords")
    pieces_list = ", ".join(f"piece{k}" for k in range(maxw))
    ctes.append(
        f"""np AS (
      SELECT word,
             CAST(len(list_filter([{pieces_list}],
                 x -> x IS NOT NULL)) AS BIGINT) AS n_pieces
      FROM we_{maxw}
    )"""
    )
    ctes.append(
        f"""allnp AS (
      SELECT word, n_pieces FROM np WHERE length(word) <= {maxw}
      UNION ALL
      SELECT l.word, CAST(sum(np.n_pieces) AS BIGINT) AS n_pieces
      FROM lwin l JOIN np ON np.word = l.win GROUP BY l.word
    )"""
    )
    ctes.append(
        """per AS (
      SELECT lang, word, CAST(count(*) AS BIGINT) AS nw
      FROM wl GROUP BY lang, word
    )"""
    )
    ctes.append(
        f"""enc AS (
      SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
             CAST(sum(CASE WHEN length(word) > {maxw} THEN nw ELSE 0 END)
                  AS BIGINT) AS n_words_fallback,
             CAST(sum(nw * allnp.n_pieces) AS BIGINT) AS n_pieces
      FROM per JOIN allnp USING (word) GROUP BY lang
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT lang, n_words, n_words_fallback, n_pieces,
           floor(CAST(n_pieces AS DOUBLE) / n_words * 1000000.0 + 0.5)
             / 1000000.0 AS avg_pieces_per_word
    FROM enc"""
    )


@_register(
    "unigram_train_vocab",
    "Unigram-LM (SentencePiece-style) tokenizer training — the BPE "
    "twin (Kudo 2018), hard-EM variant: substring candidates -> "
    "integer-micro -ln costs -> Viterbi segmentation of the distinct "
    "words (shortest-piece tie-break) -> usage-weighted Laplace "
    "re-estimate, 2 rounds; output = top-120 pieces by usage. Spark "
    "runs the DP as ONE F.aggregate fold per round (a withColumn "
    "recurrence would hit CollapseProject's exponential inlining); "
    "only the vocab-sized model ever reaches the driver (BPE/k-means "
    "precedent). Oracle: the identical recurrence unrolled as nested "
    "one-level subqueries + a map-literal LUT.",
    _unigram_oracle(),
)
def unigram_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import materialized
    from umn_eda_kafka_stream_processing_spark.operators.unigram import train_unigram

    # the trained vocab IS a model artifact: train once per session,
    # serve repeats (bench/gate re-runs) from the parquet cache
    return materialized(
        spark,
        f"unigram_vocab|{sf_dir}",
        lambda: train_unigram(
            spread(load_table(spark, sf_dir, "documents"), "doc_id")
        ),
    )


@_register(
    "unigram_encode_stats",
    "The trained unigram tokenizer APPLIED (the bpe_encode twin): "
    "train on the corpus, then Viterbi-encode every word under the "
    "FINAL model — INCLUDING words over the 12-char DP cap, which "
    "take the char-window fallback (split into fixed 12-char windows, "
    "each window DP'd, counts summed — SentencePiece byte-fallback "
    "spirit; operators/unigram.py:encode_any_words). The corpus has "
    "no over-cap word, so a deterministic 34-char fixture word rides "
    "along on both engines to keep the fallback path live in the "
    "gate. Per-lang compression out: words encoded, fallback-encoded "
    "words, pieces emitted, avg pieces/word.",
    _unigram_oracle(mode="encode"),
)
def unigram_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import cached_scalar
    from umn_eda_kafka_stream_processing_spark.operators.unigram import (
        encode_any_words,
        train_unigram_model,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # the EM-trained model is two driver-side dicts — cached_scalar is
    # the train-once hook for non-DataFrame artifacts
    model, _ = cached_scalar(
        spark,
        f"unigram_model|{sf_dir}",
        lambda: train_unigram_model(docs),
    )
    wl = (
        docs.select(
            "lang",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("word"),
        )
        .filter(F.length("word") >= 1)
        .unionByName(
            docs.filter(F.pmod("doc_id", F.lit(50)) == 0).select(
                "lang", F.lit(_UNIGRAM_FIXTURE).alias("word")
            )
        )
    )
    wdist = (
        wl.select("word").distinct().withColumn("freq", F.lit(1).cast("long"))
    )
    word_np = encode_any_words(wdist, model)
    per = wl.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("long").alias("nw")
    )
    return (
        per.join(word_np, "word")
        .groupBy("lang")
        .agg(
            F.sum("nw").cast("long").alias("n_words"),
            F.sum(F.when(F.length("word") > 12, F.col("nw")).otherwise(0))
            .cast("long")
            .alias("n_words_fallback"),
            F.sum(F.col("nw") * F.col("n_pieces")).cast("long").alias(
                "n_pieces"
            ),
        )
        .select(
            "lang",
            "n_words",
            "n_words_fallback",
            "n_pieces",
            round_half_up(
                F.col("n_pieces").cast("double") / F.col("n_words"), 6
            ).alias("avg_pieces_per_word"),
        )
    )


@_register(
    "line_dedup_stats",
    "C4-style LINE-level corpus dedup (Raffel et al. 2020 run this "
    "before doc filters — the granularity between exact-doc and "
    "overlapping-span dedup): any trimmed line occurring more than "
    "once corpus-wide keeps ONE canonical occurrence (min doc_id, "
    "then min line index — the keeper convention extended to "
    "occurrences; blank lines never dedup) and is cut everywhere "
    "else. Spark emits the REBUILT text (operators/dedup.py:"
    "remove_duplicate_lines — two md5-keyed hash-aggs + per-doc "
    "sorted collect_list, no corpus window); the oracle instead "
    "derives the after-chars arithmetically from kept-line lengths, "
    "so a hash match proves the rebuild. Per-lang census out.",
    r"""
    WITH base AS (
      SELECT doc_id, lang, text, string_split_regex(text, '\n') AS ls
      FROM documents
    ),
    l AS (
      SELECT doc_id, lang, i - 1 AS idx,
             ls[CAST(i AS INT)] AS line,
             md5(trim(ls[CAST(i AS INT)])) AS lk
      FROM (SELECT doc_id, lang, ls, unnest(range(1, len(ls) + 1)) AS i
            FROM base)
    ),
    content AS (SELECT * FROM l WHERE trim(line) <> ''),
    kd AS (
      SELECT lk, min(doc_id) AS kdoc, count(*) AS n
      FROM content GROUP BY lk
    ),
    ki AS (
      SELECT c.lk, k.kdoc, min(c.idx) AS kidx
      FROM content c JOIN kd k ON k.lk = c.lk AND c.doc_id = k.kdoc
      WHERE k.n >= 2 GROUP BY c.lk, k.kdoc
    ),
    fl AS (
      SELECT l.doc_id, l.lang, l.idx, l.line,
             (ki.kdoc IS NOT NULL
              AND NOT (l.doc_id = ki.kdoc AND l.idx = ki.kidx)) AS drp
      FROM l LEFT JOIN ki ON ki.lk = l.lk
    ),
    perdoc AS (
      SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS lines_total,
             CAST(sum(CASE WHEN drp THEN 1 ELSE 0 END) AS BIGINT)
                 AS lines_removed,
             CAST(count(*) - sum(CASE WHEN drp THEN 1 ELSE 0 END) AS BIGINT)
                 AS kept,
             CAST(sum(CASE WHEN drp THEN 0 ELSE length(line) END) AS BIGINT)
                 AS kept_chars
      FROM fl GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lines_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_rewritten,
           CAST(sum(lines_total) AS BIGINT) AS lines_total,
           CAST(sum(lines_removed) AS BIGINT) AS lines_removed,
           CAST(sum(kept_chars + CASE WHEN kept > 0 THEN kept - 1 ELSE 0 END)
               AS BIGINT) AS chars_after
    FROM perdoc GROUP BY lang
    """,
)
def line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    rdl = dd.remove_duplicate_lines(docs.select("doc_id", "text"))
    return (
        rdl.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("lines_removed") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_rewritten"),
            F.sum("lines_total").cast("long").alias("lines_total"),
            F.sum("lines_removed").cast("long").alias("lines_removed"),
            F.sum(F.length("rewritten")).cast("long").alias("chars_after"),
        )
    )


# ---------------------------------------------------------------------------
# Naive-Bayes learned classifier (operators/nb.py). Labels derive from
# the Gopher word_count rule (short = under 50 words — the only
# text-derived labeling that splits this synthetic corpus; the full
# keep/filter funnel is degenerate here because EVERY sf doc fails the
# required-stopword rule, and lang/source are random metadata
# uncorrelated with the token soup). The crafted-corpus learnability
# test lives in tests/test_data_ops.py (planted class vocabulary,
# pinned recall); these queries prove the count/ln/argmax pipeline is
# engine-exact end to end.
_NB_LABEL_SQL = (
    r"SELECT doc_id, CASE WHEN len(string_split_regex(trim(text), '\s+')) < 50 "
    r"THEN 'short' ELSE 'long' END AS label FROM documents"
)
_NB_TRAIN_CTES = r"""
    lab AS ({label_sql}),
    f AS (
      SELECT doc_id,
             lower(unnest(string_split_regex(trim(text), '\s+'))) AS feat
      FROM documents
    ),
    ff AS (SELECT doc_id, feat FROM f WHERE feat <> ''),
    v AS (SELECT CAST(count(DISTINCT feat) AS DOUBLE) AS vs FROM ff),
    cb AS (
      SELECT l.label, ff.feat, CAST(count(*) AS BIGINT) AS c
      FROM ff JOIN lab l USING (doc_id) GROUP BY l.label, ff.feat
    ),
    nl AS (SELECT label, sum(c) AS n FROM cb GROUP BY label),
    mdl AS (
      SELECT cb.label, cb.feat, cb.c,
             CAST(floor(ln((cb.c + 1.0) / (nl.n + v.vs)) * 1000000.0 + 0.5)
                  AS BIGINT) AS logp_micro
      FROM cb JOIN nl USING (label), v
    )
""".replace("{label_sql}", _NB_LABEL_SQL)


@_register(
    "nb_train_model",
    "Multinomial Naive-Bayes TRAINING (the learned classifier of "
    "fastText-shape curation stacks, done as pure counts because SGD is "
    "order-dependent and non-portable): word_count-rule labels "
    "(short/long), lowercased word-unigram features, Laplace-smoothed "
    "ln((c+1)/(n_label+V)) per observed (label, feature) held as "
    "integer-micro BIGINT (the charlm recipe — one ln per DISTINCT "
    "pair, 6dp rounding absorbs libm skew). Spark: one id-keyed join + "
    "one (label, feat) hash-agg + a vocab scalar "
    "(operators/nb.py:nb_train); oracle repeats the counts in SQL.",
    r"""
    WITH """ + _NB_TRAIN_CTES + r"""
    SELECT label, feat, c, logp_micro FROM mdl
    """,
)
def nb_train_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.nb import (
        nb_train,
        word_features,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    labels = docs.select(
        "doc_id",
        F.when(token_count() < 50, F.lit("short"))
        .otherwise(F.lit("long"))
        .alias("label"),
    )
    model, _priors, _v = nb_train(word_features(docs), labels)
    return model


@_register(
    "nb_quality_flags",
    "Multinomial Naive-Bayes SCORING: every doc scored under the "
    "trained model as prior + sum of per-token integer-micro "
    "log-probs (exact, order-independent BIGINT sums — no float "
    "accumulation), OOV tokens at the label's smoothing floor, argmax "
    "via min(struct(-score, label)) with ties to the smaller label. "
    "Spark: feature stream x tiny label list, broadcast model join, "
    "one (doc, label) hash-agg, map-side-combined argmax "
    "(operators/nb.py:nb_score — no window over the corpus); oracle "
    "re-derives the same scores and picks the row_number()=1 label.",
    r"""
    WITH """ + _NB_TRAIN_CTES + r""",
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM lab),
    dl AS (SELECT label, CAST(count(*) AS BIGINT) AS n_docs
           FROM lab GROUP BY label),
    pr AS (
      SELECT dl.label,
             CAST(floor(ln(CAST(dl.n_docs AS DOUBLE) / tot.t) * 1000000.0
                        + 0.5) AS BIGINT) AS prior_micro,
             CAST(floor(ln(1.0 / (coalesce(nl.n, 0) + v.vs)) * 1000000.0
                        + 0.5) AS BIGINT) AS floor_micro
      FROM dl LEFT JOIN nl USING (label), tot, v
    ),
    ts AS (
      SELECT ff.doc_id, p.label,
             sum(coalesce(m.logp_micro, p.floor_micro)) AS s
      FROM ff CROSS JOIN pr p
      LEFT JOIN mdl m ON m.label = p.label AND m.feat = ff.feat
      GROUP BY ff.doc_id, p.label
    ),
    sc AS (
      SELECT g.doc_id, g.label AS plabel,
             g.prior_micro + coalesce(ts.s, 0) AS score
      FROM (SELECT d.doc_id, p.label, p.prior_micro
            FROM documents d CROSS JOIN pr p) g
      LEFT JOIN ts ON ts.doc_id = g.doc_id AND ts.label = g.label
    ),
    bs AS (
      SELECT doc_id, plabel, CAST(score AS BIGINT) AS score_b,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, plabel ASC) AS rn
      FROM sc
    )
    SELECT b.doc_id, l.label, b.plabel AS pred,
           b.score_b AS pred_score_micro,
           CAST(CASE WHEN b.plabel = l.label THEN 1 ELSE 0 END AS BIGINT)
               AS correct
    FROM bs b JOIN lab l USING (doc_id) WHERE b.rn = 1
    """,
)
def nb_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.nb import (
        nb_score,
        nb_train,
        word_features,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    labels = docs.select(
        "doc_id",
        F.when(token_count() < 50, F.lit("short"))
        .otherwise(F.lit("long"))
        .alias("label"),
    )
    feats = word_features(docs)
    model, priors, _v = nb_train(feats, labels)
    preds = nb_score(feats, docs.select("doc_id"), model, priors)
    return preds.join(labels.hint("shuffle_hash"), "doc_id").select(
        "doc_id",
        "label",
        "pred",
        "pred_score_micro",
        (F.col("pred") == F.col("label")).cast("long").alias("correct"),
    )


# DuckDB twin of functions/text.py:registrable_domain — the IN-list is
# generated from the SAME Python tuple, so the two engines cannot
# drift. host must already be lowercased + port-stripped.
def _duck_psl_domain(host: str) -> str:
    from umn_eda_kafka_stream_processing_spark.functions.text import (
        PSL_LITE_SUFFIXES,
    )

    sufs = ", ".join(f"'{s}'" for s in PSL_LITE_SUFFIXES)
    l2 = rf"regexp_extract({host}, '([A-Za-z0-9\-]+\.[A-Za-z0-9\-]+)$', 1)"
    l3 = (
        rf"regexp_extract({host}, "
        rf"'([A-Za-z0-9\-]+\.[A-Za-z0-9\-]+\.[A-Za-z0-9\-]+)$', 1)"
    )
    return f"CASE WHEN {l2} IN ({sufs}) AND {l3} <> '' THEN {l3} ELSE {l2} END"


@_register(
    "domain_census",
    "Registrable-domain census under the PSL-lite rule "
    "(functions/text.py:registrable_domain): hosts spanning gTLDs, "
    "ccSLD suffixes (co.uk / com.au / co.jp), scheme-case variants, "
    "subdomain fan-out, and a planted BARE-suffix host are grouped by "
    "registrable domain — example.co.uk must group apart from co.uk "
    "(the 2-label rule collapses them, which mis-mixes exactly the hot "
    "domains of web corpora). The suffix list is a static literal "
    "broadcast into the expression (the full PSL would ship the same "
    "way); the oracle's IN-list is generated from the SAME Python "
    "tuple so the twins cannot drift. Pure regexp chains + literal "
    "membership, full scan speed.",
    r"""
    WITH h AS (
      SELECT doc_id,
             concat(
               CASE (doc_id // 11) % 3
                 WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'blog.' END,
               'site', CAST((doc_id // 5) % 4 AS VARCHAR),
               CASE (doc_id // 7) % 5
                 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
                 WHEN 2 THEN '.com.au' WHEN 3 THEN '.co.jp'
                 ELSE '.org' END
             ) AS bh
      FROM documents
    ),
    u AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0
                  THEN 'https://co.uk/x'
                  WHEN (doc_id // 3) % 2 = 1
                  THEN 'HTTPS://' || upper(bh) || '/x'
                  ELSE 'https://' || bh || '/x' END AS raw
      FROM h
    ),
    p AS (
      SELECT raw,
             regexp_replace(
                 lower(regexp_extract(raw,
                     '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)),
                 ':[0-9]+$', '') AS host
      FROM u
    ),
    d AS (SELECT raw, host, {PSL_DOMAIN} AS domain FROM p)
    SELECT domain,
           CAST(length(domain) - length(replace(domain, '.', '')) + 1
                AS BIGINT) AS n_labels,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
    FROM d GROUP BY domain
    """.replace("{PSL_DOMAIN}", _duck_psl_domain("host")),
)
def domain_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.functions.text import (
        registrable_domain,
    )

    docs = load_table(spark, sf_dir, "documents")

    def digit(div: int, mod: int):
        return F.expr(f"(doc_id div {div}) % {mod}")

    sub = (
        F.when(digit(11, 3) == 0, F.lit(""))
        .when(digit(11, 3) == 1, F.lit("www."))
        .otherwise(F.lit("blog."))
    )
    suffix = (
        F.when(digit(7, 5) == 0, F.lit(".com"))
        .when(digit(7, 5) == 1, F.lit(".co.uk"))
        .when(digit(7, 5) == 2, F.lit(".com.au"))
        .when(digit(7, 5) == 3, F.lit(".co.jp"))
        .otherwise(F.lit(".org"))
    )
    bh = F.concat(
        sub, F.lit("site"), digit(5, 4).cast("string"), suffix
    )
    raw = (
        F.when(F.pmod("doc_id", F.lit(17)) == 0, F.lit("https://co.uk/x"))
        .when(
            digit(3, 2) == 1,
            F.concat(F.lit("HTTPS://"), F.upper(bh), F.lit("/x")),
        )
        .otherwise(F.concat(F.lit("https://"), bh, F.lit("/x")))
    )
    urls = docs.select(raw.alias("raw")).select(
        "raw",
        F.regexp_replace(
            F.lower(
                F.regexp_extract(
                    "raw", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1
                )
            ),
            ":[0-9]+$",
            "",
        ).alias("host"),
        registrable_domain("raw").alias("domain"),
    )
    return urls.groupBy("domain").agg(
        (
            F.length("domain")
            - F.length(F.regexp_replace("domain", r"\.", ""))
            + F.lit(1)
        )
        .cast("long")
        .alias("n_labels"),
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )


# the deterministic keyword queries for the BM25 gate query (terms
# from the corpus vocabulary; q3 carries an OOV term to pin the
# no-match path — it simply contributes nothing)
_BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "data"), (1, "stream"), (1, "join"),
    (2, "fast"), (2, "hash"), (2, "table"),
    (3, "customer"), (3, "order"), (3, "window"), (3, "zzz"),
)


# shared oracle text: BM25 per-query ranking CTEs (tok .. r) — used
# by bm25_search_topk and the hybrid RRF census; {QVALUES} is the
# (qid, term) literal list
_DUCK_BM25_RANK_CTES = r"""tok AS (
      SELECT doc_id, term FROM (
        SELECT doc_id,
               lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
        FROM documents)
      WHERE term <> ''
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    dl AS (
      SELECT d.doc_id, CAST(coalesce(t.c, 0) AS BIGINT) AS dl
      FROM documents d
      LEFT JOIN (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id) t
        USING (doc_id)
    ),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tok),
    dfq AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tf GROUP BY term
    ),
    idf AS (
      SELECT term,
             CAST(floor(ln((nd.n - df + 0.5) / (df + 0.5) + 1.0)
                 * 1000000.0 + 0.5) AS BIGINT) AS idf_micro
      FROM dfq, nd
    ),
    q(qid, term) AS (VALUES {QVALUES}),
    sc AS (
      SELECT q.qid, tf.doc_id,
             CAST(sum(CAST(floor(i.idf_micro
                 * ((tf.tf * 2.2) / (tf.tf + 1.2
                     * (1.0 - 0.75 + 0.75 * ((dl.dl * nd.n) / tt.t))))
                 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro
      FROM tf
      JOIN q USING (term) JOIN idf i USING (term) JOIN dl USING (doc_id),
           nd, tt
      GROUP BY q.qid, tf.doc_id
    ),
    r AS (
      SELECT qid, doc_id, score_micro,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score_micro DESC, doc_id ASC) AS rn
      FROM sc
    )"""


@_register(
    "bm25_search_topk",
    "BM25 keyword search (Lucene idf variant) — the retrieval "
    "primitive curation stacks run next to embedding ANN for quality "
    "probes / decontamination lookups / corpus slicing: distributed "
    "inverted-index build (three hash-aggs over the token stream), "
    "broadcast query terms, exact integer-micro per-term "
    "contributions (idf is one ln per DISTINCT term; the tf "
    "saturation is a fixed-order double chain, micro-rounded before "
    "the per-doc SUM so scores are order-independent BIGINTs), "
    "per-query top-10 by (score DESC, id ASC). At 100 TB the "
    "postings table buckets by term so query lookups prune to the "
    "queried terms' buckets (operators/bm25.py).",
    "WITH "
    + _DUCK_BM25_RANK_CTES.replace(
        "{QVALUES}",
        ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES),
    )
    + """
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rn AS BIGINT) AS rank,
           doc_id, score_micro
    FROM r WHERE rn <= 10
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.bm25 import (
        bm25_search,
    )

    postings, doclens, n_docs, total_tokens = cached_bm25_index(
        spark, sf_dir
    )
    queries = spark.createDataFrame(
        list(_BM25_QUERIES), "qid long, term string"
    )
    return bm25_search(
        postings, doclens, n_docs, total_tokens, queries, k=10
    )


@_register(
    "hybrid_rrf_search_topk",
    "Hybrid retrieval with Reciprocal Rank Fusion (operators/"
    "fusion.py:rrf_fuse — Cormack/Clarke/Büttcher 2009, the "
    "standard score-free fuser): two rankers answer the same "
    "queries — BM25 (weighted lexical, operators/bm25.py) and "
    "boolean term COVERAGE (distinct query terms matched — a "
    "different ranking function with an incomparable score scale) "
    "— each truncated to its top-10, then fused per query by "
    "Σ 1000000 div (60 + rank): exact BIGINT contributions, "
    "order-independent integer sum, ties (score DESC, id ASC). "
    "n_lists pins the agreement signal. The fusion is dim-sized "
    "work however large the corpus (|queries| × k rows in; one "
    "union + hash-agg + per-query window). Oracle replays both "
    "rankers and the identical integer fusion.",
    "WITH "
    + _DUCK_BM25_RANK_CTES.replace(
        "{QVALUES}",
        ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES),
    )
    + """,
    cov AS (
      SELECT q.qid, t.doc_id,
             CAST(count(DISTINCT t.term) AS BIGINT) AS n_cov
      FROM (SELECT DISTINCT doc_id, term FROM tok) t
      JOIN q USING (term)
      GROUP BY 1, 2
    ),
    covr AS (
      SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY n_cov DESC, doc_id ASC) AS rn
      FROM cov
    ),
    lists AS (
      SELECT qid, doc_id, rn FROM r WHERE rn <= 10
      UNION ALL
      SELECT qid, doc_id, rn FROM covr WHERE rn <= 10
    ),
    fused AS (
      SELECT qid, doc_id,
             CAST(sum(1000000 // (60 + rn)) AS BIGINT) AS rrf_micro,
             CAST(count(*) AS BIGINT) AS n_lists
      FROM lists GROUP BY 1, 2
    ),
    fr AS (
      SELECT qid, doc_id, rrf_micro, n_lists,
             row_number() OVER (PARTITION BY qid
                                ORDER BY rrf_micro DESC, doc_id ASC)
                 AS frn
      FROM fused
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(frn AS BIGINT) AS fused_rank,
           doc_id, rrf_micro, n_lists
    FROM fr WHERE frn <= 10
    """,
)
def hybrid_rrf_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.bm25 import (
        bm25_search,
    )
    from umn_eda_kafka_stream_processing_spark.operators.fusion import (
        rrf_fuse,
    )
    from pyspark.sql.window import Window

    postings, doclens, n_docs, total_tokens = cached_bm25_index(
        spark, sf_dir
    )
    queries = spark.createDataFrame(
        list(_BM25_QUERIES), "qid long, term string"
    )
    bm25 = bm25_search(
        postings, doclens, n_docs, total_tokens, queries, k=10
    )
    cov = (
        postings.join(F.broadcast(queries), "term")
        .groupBy("qid", "doc_id")
        .agg(F.countDistinct("term").cast("long").alias("n_cov"))
    )
    covw = Window.partitionBy("qid").orderBy(
        F.col("n_cov").desc(), F.col("doc_id").asc()
    )
    coverage = (
        cov.withColumn("rank", F.row_number().over(covw).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("qid", "doc_id", "rank")
    )
    return rrf_fuse([bm25, coverage], rrf_k=60, topk=10)


@_register(
    "hybrid_rrf3_search_topk",
    "THREE-ranker hybrid retrieval — the standard lexical+semantic "
    "stack RRF was designed for (round-12 verdict task 4): BM25 "
    "(weighted lexical), boolean term COVERAGE (distinct terms "
    "matched, total-tf tiebreak), and the engine's own exact "
    "embedding ranker (operators/similarity.py:cosine_topk, "
    "exclude_self=False) seeded by PSEUDO-RELEVANCE FEEDBACK: the "
    "query vector is the embedding of the top lexically-AGREED "
    "document (lowest-bm25-rank member of bm25-top50 ∩ "
    "coverage-top50, falling back to the bm25 top-1) — the "
    "query-by-example shape real hybrid stacks run when queries "
    "carry no embedding. Per-ranker lists go 50 deep (the RRF "
    "paper fuses deep lists; top-10 lists from heterogeneous "
    "rankers rarely intersect), fused per query by Σ 1000000 div "
    "(60 + rank) into a top-10 — exact BIGINT contributions, no "
    "score calibration across micros/counts/cosines. n_lists pins "
    "cross-ranker agreement (3 = retrieved by all — present in "
    "output at every SF). Fusion work stays dim-sized; the "
    "semantic list is the exact brute-force baseline (IVF/PQ are "
    "the scale substitutes, same output shape). Oracle replays all "
    "three rankers, the exemplar selection, and the identical "
    "integer fusion.",
    "WITH "
    + _DUCK_BM25_RANK_CTES.replace(
        "{QVALUES}",
        ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES),
    )
    + f""",
    cov AS (
      SELECT q.qid, tok.doc_id,
             CAST(count(DISTINCT tok.term) AS BIGINT) AS n_cov,
             CAST(count(*) AS BIGINT) AS tf_total
      FROM tok JOIN q USING (term)
      GROUP BY 1, 2
    ),
    covr AS (
      SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY n_cov DESC, tf_total DESC, doc_id ASC) AS rn
      FROM cov
    ),
    common AS (
      SELECT r.qid, r.doc_id, r.rn
      FROM r JOIN covr ON covr.qid = r.qid AND covr.doc_id = r.doc_id
      WHERE r.rn <= 50 AND covr.rn <= 50
    ),
    exc AS (
      SELECT c.qid, CAST(min(c.doc_id) AS BIGINT) AS exemplar
      FROM common c
      JOIN (SELECT qid, min(rn) AS mrn FROM common GROUP BY qid) m
        ON m.qid = c.qid AND c.rn = m.mrn
      GROUP BY c.qid
    ),
    ex AS (
      SELECT b1.qid, coalesce(exc.exemplar, b1.doc_id) AS exemplar
      FROM (SELECT qid, doc_id FROM r WHERE rn = 1) b1
      LEFT JOIN exc ON exc.qid = b1.qid
    ),
    qv AS (SELECT ex.qid, {_DUCK_DVEC_E} AS v
           FROM ex JOIN embeddings e ON e.vec_id = ex.exemplar),
    cv AS (SELECT vec_id AS doc_id, {_DUCK_DVEC} AS v FROM embeddings),
    sem0 AS (
      SELECT qv.qid, cv.doc_id,
             floor(list_dot_product(qv.v, cv.v)
                   / (sqrt(list_dot_product(qv.v, qv.v))
                      * sqrt(list_dot_product(cv.v, cv.v)))
                   * 1000000.0 + 0.5) / 1000000.0 AS sim
      FROM qv CROSS JOIN cv
    ),
    semr AS (
      SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, doc_id ASC) AS rn
      FROM sem0
    ),
    lists AS (
      SELECT qid, doc_id, rn FROM r WHERE rn <= 50
      UNION ALL
      SELECT qid, doc_id, rn FROM covr WHERE rn <= 50
      UNION ALL
      SELECT qid, doc_id, rn FROM semr WHERE rn <= 50
    ),
    fused AS (
      SELECT qid, doc_id,
             CAST(sum(1000000 // (60 + rn)) AS BIGINT) AS rrf_micro,
             CAST(count(*) AS BIGINT) AS n_lists
      FROM lists GROUP BY 1, 2
    ),
    fr AS (
      SELECT qid, doc_id, rrf_micro, n_lists,
             row_number() OVER (PARTITION BY qid
                                ORDER BY rrf_micro DESC, doc_id ASC)
                 AS frn
      FROM fused
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(frn AS BIGINT) AS fused_rank,
           doc_id, rrf_micro, n_lists
    FROM fr WHERE frn <= 10
    """,
)
def hybrid_rrf3_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.bm25 import (
        bm25_search,
    )
    from umn_eda_kafka_stream_processing_spark.operators.fusion import (
        rrf_fuse,
    )
    from pyspark.sql.window import Window

    postings, doclens, n_docs, total_tokens = cached_bm25_index(
        spark, sf_dir
    )
    queries = spark.createDataFrame(
        list(_BM25_QUERIES), "qid long, term string"
    )
    bm25 = bm25_search(
        postings, doclens, n_docs, total_tokens, queries, k=50
    ).localCheckpoint()  # feeds the fusion AND the exemplar seed
    cov = (
        postings.join(F.broadcast(queries), "term")
        .groupBy("qid", "doc_id")
        .agg(
            F.countDistinct("term").cast("long").alias("n_cov"),
            F.sum("tf").cast("long").alias("tf_total"),
        )
    )
    covw = Window.partitionBy("qid").orderBy(
        F.col("n_cov").desc(), F.col("tf_total").desc(),
        F.col("doc_id").asc(),
    )
    coverage = (
        cov.withColumn("rank", F.row_number().over(covw).cast("long"))
        .filter(F.col("rank") <= 50)
        .select("qid", "doc_id", "rank")
        .localCheckpoint()  # feeds the fusion AND the exemplar seed
    )
    # PRF exemplar: lowest-bm25-rank doc BOTH lexical rankers agree
    # on (min rank, then min doc_id — min(struct) argmax rule over
    # exact integers), falling back to the bm25 top-1
    # both lists are localCheckpointed (stats stripped) |q|*50-row
    # frames — broadcast or the static planner SMJ-sorts the pair
    common = bm25.select("qid", "doc_id", F.col("rank").alias("rn")).join(
        F.broadcast(coverage.select("qid", "doc_id")), ["qid", "doc_id"]
    )
    exc = common.groupBy("qid").agg(
        F.min(F.struct("rn", "doc_id")).alias("_best")
    ).select("qid", F.col("_best.doc_id").alias("_exc"))
    ex = (
        bm25.filter(F.col("rank") == 1)
        .select("qid", F.col("doc_id").alias("_b1"))
        .join(F.broadcast(exc), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("_exc"), F.col("_b1")).alias("exemplar"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(ex).join(
        emb, emb["vec_id"] == ex["exemplar"]
    ).select(F.col("qid").alias("vec_id"), "embedding")
    semantic = sim.cosine_topk(
        qv, emb, k=50, exclude_self=False
    ).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([bm25, coverage, semantic], rrf_k=60, topk=10)
@_register(
    "temperature_mixture_stats",
    "Temperature-weighted training-mixture construction (the "
    "GPT-3/LLaMA recipe: domain weight ∝ tokens^0.5, alpha < 1 "
    "upweighting small sources) derived from the corpus itself: "
    "per-source token totals -> one pow per DISTINCT source "
    "(micro-rounded BIGINT weight — the charlm transcendental rule) "
    "-> fixed-order double threshold -> exact integer u32 md5 "
    "acceptance, all deterministic and append-stable. Reports the "
    "full plan AND its realized sample per source "
    "(operators/sampling.py:temperature_rate_table / "
    "temperature_mixture_sample).",
    r"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS ntok
      FROM documents
    ),
    agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(ntok) AS BIGINT) AS n_tokens
      FROM d GROUP BY source
    ),
    wts AS (
      SELECT *, CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.5)
                    * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      FROM agg
    ),
    tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS wsum FROM wts),
    rt AS (
      SELECT wts.source, wts.n_docs, wts.n_tokens, wts.w_micro,
             least(CAST(4294967296 AS BIGINT),
                   CAST(floor(((CAST(10000 AS DOUBLE) * wts.w_micro)
                        / (CAST(tot.wsum AS DOUBLE) * wts.n_tokens))
                        * 4294967296.0) AS BIGINT)) AS thr
      FROM wts, tot
    ),
    sm AS (
      SELECT d.source, CAST(count(*) AS BIGINT) AS sampled_docs,
             CAST(sum(d.ntok) AS BIGINT) AS sampled_tokens
      FROM d JOIN rt USING (source)
      WHERE CAST(concat('0x', substr(md5('mix|'
                || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < rt.thr
      GROUP BY d.source
    )
    SELECT r.source, r.n_docs, r.n_tokens, r.w_micro, r.thr,
           CAST(coalesce(s.sampled_docs, 0) AS BIGINT) AS sampled_docs,
           CAST(coalesce(s.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
    FROM rt r LEFT JOIN sm s USING (source)
    """,
)
def temperature_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        temperature_mixture_sample,
        temperature_rate_table,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count().alias("ntok")
    )
    rates = temperature_rate_table(docs, "source", "ntok", 10000)
    sampled = temperature_mixture_sample(
        docs, "source", "doc_id", "ntok", 10000
    )
    sm = sampled.groupBy(F.col("source").alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("sampled_docs"),
        F.sum("ntok").cast("long").alias("sampled_tokens"),
    )
    return (
        rates.withColumnRenamed("domain", "source")
        .join(F.broadcast(sm), F.col("source") == F.col("_s"), "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "w_micro",
            "thr",
            F.coalesce("sampled_docs", F.lit(0))
            .cast("long")
            .alias("sampled_docs"),
            F.coalesce("sampled_tokens", F.lit(0))
            .cast("long")
            .alias("sampled_tokens"),
        )
    )


@_register(
    "charlm_langid_auc",
    "MODEL EVALUATION: exact ROC-AUC of the char-bigram LM quality "
    "score as an English-ness detector (label = lang='en'; the "
    "mixed-language corpus model assigns English bigrams higher "
    "probability, so kept-vs-other ranking is the langid evaluation "
    "real curation stacks run; per-bigram normalization makes this a "
    "deliberately WEAK signal (~0.47 here) — the exact metric is the "
    "deliverable). Computed as Mann-Whitney rank sums "
    "over the two-level histogram rank operator "
    "(operators/ranking.py:binary_auc — distinct-score hash-agg, "
    "bounded bucket-total collect, bucket-partitioned prefix window; "
    "NO corpus-wide window), u2 = 2U kept integer so score ties "
    "contribute exact halves; auc_micro through exact int128 on "
    "both engines (Spark DECIMAL(38,0) div == DuckDB HUGEINT //) — "
    "1e6*u2 wraps BIGINT past ~2e6 rows/class. Oracle: same rank sums from a plain "
    "corpus-wide window — different algorithm, same integers.",
    "WITH " + _CHARLM_CTES + """,
    q AS (
      SELECT doc_id,
             floor(((CAST(s AS DOUBLE) / n) / 1000000.0) * 1000000.0
                   + 0.5) / 1000000.0 AS avg_logp
      FROM sc
    ),
    j AS (
      SELECT q.avg_logp AS sv,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS p
      FROM q JOIN documents d USING (doc_id)
    ),
    gg AS (
      SELECT sv, CAST(sum(p) AS BIGINT) AS pos,
             CAST(count(*) - sum(p) AS BIGINT) AS neg
      FROM j GROUP BY sv
    ),
    rr AS (
      SELECT pos, neg,
             coalesce(CAST(sum(neg) OVER (ORDER BY sv
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS nb
      FROM gg
    ),
    t AS (
      SELECT CAST(coalesce(sum(pos), 0) AS BIGINT) AS n_pos,
             CAST(coalesce(sum(neg), 0) AS BIGINT) AS n_neg,
             CAST(coalesce(sum(pos * (2 * nb + neg)), 0) AS BIGINT) AS u2
      FROM rr
    )
    SELECT n_pos, n_neg, u2,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                ELSE (1000000 * CAST(u2 AS HUGEINT) + CAST(n_pos AS HUGEINT) * n_neg)
                     // (2 * CAST(n_pos AS HUGEINT) * n_neg) END AS BIGINT) AS auc_micro
    FROM t
    """,
)
def charlm_langid_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators import charlm
    from umn_eda_kafka_stream_processing_spark.operators.ranking import binary_auc

    docs = load_table(spark, sf_dir, "documents")
    # train-once/score-once: shares char_bigram_quality's frame
    scores = charlm.cached_doc_scores(docs, sf_dir).select(
        "doc_id", "avg_logp"
    )
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("long").alias("label")
    )
    j = scores.join(labels.hint("shuffle_hash"), "doc_id")
    return binary_auc(j, "avg_logp", "label")


@_register(
    "token_pmi_pairs",
    "Word-association mining: pointwise mutual information over "
    "within-document co-occurrence of the top-50 document-frequency "
    "vocabulary (Latin letter runs; CJK excluded by the documented "
    "[a-z]+ tokenizer). Vocabulary selection is the scale guard — "
    "per-doc pair fan-out is bounded by C(50,2), never the raw "
    "token count squared; global top-50 via global_topk "
    "(TakeOrderedAndProject, no corpus window). pmi = ln(N*c_ab/"
    "(df_a*df_b)) — ONE ln per DISTINCT surviving pair of integer "
    "counts, 6dp-rounded (the char_bigram ln rule: transcendentals "
    "never sum across rows). Pairs need c_ab >= 5. Oracle: same "
    "counts, row_number vocab ranking.",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, t
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
            FROM documents)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
    dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS dfc FROM tok GROUP BY t),
    voc AS (SELECT t, dfc FROM (
              SELECT t, dfc, row_number() OVER (ORDER BY dfc DESC, t ASC)
                     AS rn FROM dfq) WHERE rn <= 50),
    dt AS (SELECT tok.doc_id, tok.t, voc.dfc
           FROM tok JOIN voc ON voc.t = tok.t),
    pr AS (SELECT a.t AS ta, b.t AS tb,
                  min(a.dfc) AS dfa, min(b.dfc) AS dfb,
                  CAST(count(*) AS BIGINT) AS c_ab
           FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
           GROUP BY a.t, b.t)
    SELECT ta, tb, c_ab, dfa, dfb,
           floor(ln(CAST(c_ab AS DOUBLE) * nd / (dfa * dfb))
                 * 1000000.0 + 0.5) / 1000000.0 AS pmi
    FROM pr CROSS JOIN n
    WHERE c_ab >= 5
    """,
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
                )
            ).alias("t"),
        )
        .distinct()
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    dfq = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("dfc")
    )
    voc = global_topk(dfq, [("dfc", False), ("t", True)], 50).drop("rank")
    dt = tok.join(F.broadcast(voc), "t").localCheckpoint()
    a = dt.select(
        F.col("doc_id"), F.col("t").alias("ta"), F.col("dfc").alias("dfa")
    )
    b = dt.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("t").alias("tb"),
        F.col("dfc").alias("dfb"),
    )
    pr = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("ta") < F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(
            F.min("dfa").alias("dfa"),
            F.min("dfb").alias("dfb"),
            F.count(F.lit(1)).cast("long").alias("c_ab"),
        )
    )
    return (
        pr.where(F.col("c_ab") >= 5)
        .crossJoin(F.broadcast(nd))
        .select(
            "ta",
            "tb",
            "c_ab",
            "dfa",
            "dfb",
            (
                F.floor(
                    F.log(
                        F.col("c_ab").cast("double")
                        * F.col("nd")
                        / (F.col("dfa") * F.col("dfb"))
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("pmi"),
        )
    )


_GRAM_CTES = """ex AS MATERIALIZED (
      SELECT vec_id, CAST(t.i AS BIGINT) AS pos,
             CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS m
      FROM embeddings, unnest(range(1, 65)) t(i)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM embeddings),
    g AS MATERIALIZED (
      SELECT a.pos AS i, b.pos AS j,
             CAST(sum(CAST(a.m AS HUGEINT) * b.m)
                  // (nr * 1000) AS BIGINT) AS g
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id CROSS JOIN n
      GROUP BY a.pos, b.pos, nr
    )"""


@_register(
    "embedding_gram_topk",
    "Distributed EXACT gram (uncentered covariance) matrix of the "
    "embedding corpus in integer fixed-point "
    "(operators/linalg.py:gram_micro — element micros, exact "
    "DECIMAL(38,0) pair sums (HUGEINT on the oracle; BIGINT wraps "
    "past ~9e6 rows), one dim^2 hash-agg; no float accumulation, so the "
    "matrix is identical under any partitioning), reporting the "
    "top-20 strongest off-diagonal couplings |g| — the feature-"
    "redundancy census an embedding pipeline runs before whitening/"
    "pruning. Ranking via global_topk (TakeOrderedAndProject, no "
    "corpus window). Oracle: same integer gram, row_number ranking.",
    "WITH " + _GRAM_CTES + """
    SELECT i, j, g,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT i, j, g,
                 row_number() OVER (ORDER BY abs(g) DESC, i ASC, j ASC)
                     AS rn
          FROM g WHERE i < j)
    WHERE rn <= 20
    """,
)
def embedding_gram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk
    from umn_eda_kafka_stream_processing_spark.operators.linalg import gram_micro

    emb = load_table(spark, sf_dir, "embeddings")
    gram, _n = gram_micro(emb)
    off = gram.where(F.col("i") < F.col("j")).withColumn(
        "absg", F.abs("g")
    )
    top = global_topk(
        off, [("absg", False), ("i", True), ("j", True)], 20
    )
    return top.select("i", "j", "g", F.col("rank").cast("long"))


@_register(
    "embedding_int8_quant_census",
    "Scalar INT8 quantization of the embedding corpus (operators/"
    "quantize.py — the 4x-footprint shortlist representation next "
    "to the PQ family): per-dimension affine codes in EXACT "
    "integer-micro space (one micro-rounding of each element, then "
    "pure BIGINT arithmetic — code = (x-lo)*255 div rng, x_hat = "
    "lo + code*rng div 255), per-dimension lo/hi a 64-row broadcast "
    "agg. Census per label: element count, total and max absolute "
    "reconstruction error, code mass, and a position-weighted code "
    "checksum — one element coded off by one on either engine "
    "hash-mismatches. Oracle: identical arithmetic over "
    "unnest-with-position.",
    """
    WITH ex AS (
      SELECT label, i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS x
      FROM embeddings, unnest(range(1, 65)) t(i)
    ), st AS (
      SELECT pos, min(x) AS lo, max(x) AS hi FROM ex GROUP BY pos
    ), q AS (
      SELECT ex.label, ex.pos, ex.x, st.lo,
             greatest(st.hi - st.lo, 1) AS rng,
             ((ex.x - st.lo) * 255) // greatest(st.hi - st.lo, 1) AS code
      FROM ex JOIN st USING (pos)
    ), e AS (
      SELECT label, pos, code,
             abs(x - (lo + (code * rng) // 255)) AS err
      FROM q
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_elems,
           CAST(sum(err) AS BIGINT) AS sum_err_micro,
           CAST(max(err) AS BIGINT) AS max_err_micro,
           CAST(sum(code) AS BIGINT) AS code_mass,
           CAST(sum((pos + 1) * code) AS BIGINT) AS code_checksum
    FROM e GROUP BY label
    """,
)
def embedding_int8_quant_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.quantize import (
        int8_quantize_elements,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "embedding"
    )
    q = int8_quantize_elements(emb, "embedding")
    return q.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_elems"),
        F.sum("err_micro").cast("long").alias("sum_err_micro"),
        F.max("err_micro").cast("long").alias("max_err_micro"),
        F.sum("code").cast("long").alias("code_mass"),
        F.sum((F.col("pos") + F.lit(1)) * F.col("code"))
        .cast("long")
        .alias("code_checksum"),
    )


@_register(
    "audio_fp_dedup_stats",
    "Perceptual AUDIO near-dup (operators/multimodal.py:"
    "audio_fingerprint + the chunk-banded Hamming join shared with "
    "SimHash text dedup and image dHash) — the third modality on the "
    "same signature substrate: decode real PCM16 WAV bytes, 65 "
    "equal time frames (sample i -> frame (i*65) div n), frame "
    "energy = sum |sample|, bit k = energy[k+1] > energy[k] — "
    "gain-invariant, so loudness-normalized re-encodes collide. "
    "Candidates = pairs sharing any 16-bit chunk (pigeonhole: "
    "hamming<=3 guarantees a shared chunk), exact bit_count(xor) "
    "verify. Census: clip/signature/candidate/dup/exact counts + "
    "pair checksum. Oracle: the WHOLE chain recomputed "
    "arithmetically from the synthetic sample formula (frame index "
    "map, energy sums, bit packing, banding, Hamming). Hot-bucket "
    "cap (10k) never binds at these SFs (max bucket 258 at sf0.1, "
    "measured), so the capless oracle is exact.",
    """
    WITH d AS (SELECT doc_id, (doc_id % 50) + 10 AS n FROM documents),
    s0 AS (SELECT doc_id, n, list_transform(range(0, n),
            i -> abs(((doc_id * 31 + i * 7) % 65536) - 32768)) AS amps
           FROM d),
    en AS (SELECT doc_id, f,
            CAST(coalesce(list_sum(list_transform(range(0, n), i ->
                 CASE WHEN (i * 65) // n = f
                      THEN amps[CAST(i + 1 AS INT)] ELSE 0 END)), 0)
                 AS BIGINT) AS eng
           FROM s0 CROSS JOIN (SELECT unnest(range(0, 65)) AS f)),
    v AS (SELECT a.doc_id, a.f AS k,
                 CASE WHEN b.eng > a.eng THEN 1 ELSE 0 END AS bit
          FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
          WHERE a.f < 64),
    s AS (SELECT doc_id,
        CAST(coalesce(sum(CASE WHEN k // 16 = 0
             THEN bit * (1 << (15 - (k % 16))) END), 0) AS BIGINT) AS c0,
        CAST(coalesce(sum(CASE WHEN k // 16 = 1
             THEN bit * (1 << (15 - (k % 16))) END), 0) AS BIGINT) AS c1,
        CAST(coalesce(sum(CASE WHEN k // 16 = 2
             THEN bit * (1 << (15 - (k % 16))) END), 0) AS BIGINT) AS c2,
        CAST(coalesce(sum(CASE WHEN k // 16 = 3
             THEN bit * (1 << (15 - (k % 16))) END), 0) AS BIGINT) AS c3
      FROM v GROUP BY doc_id),
    m AS (SELECT doc_id, k,
            CASE k WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3
            END AS ck
          FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS k)),
    cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
             FROM m a JOIN m b ON a.k = b.k AND a.ck = b.ck
                               AND a.doc_id < b.doc_id),
    p AS (SELECT ia, ib,
            bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1))
            + bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3))
              AS hamming
          FROM cand JOIN s sa ON sa.doc_id = ia
                    JOIN s sb ON sb.doc_id = ib),
    dup AS (SELECT * FROM p WHERE hamming <= 3)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_clips,
           (SELECT CAST(count(DISTINCT (c0, c1, c2, c3)) AS BIGINT) FROM s)
               AS n_distinct_sig,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
           CAST(count(*) AS BIGINT) AS n_dup_pairs,
           CAST(coalesce(sum(CASE WHEN hamming = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_exact_pairs,
           CAST(coalesce(sum((ia * 31 + ib) % 1000003), 0) AS BIGINT)
               AS pair_checksum
    FROM dup
    """,
)
def audio_fp_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        _sig_near_pairs,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    media = mm.synth_media(docs, "audio")
    sigs = mm.audio_fingerprint(media).localCheckpoint()
    # capless-with-guard: the oracle is the exact capless twin, so a
    # bucket ever crossing a cap at larger SF would silently diverge
    # the engines (round-11 advice) — and a degenerate bucket FAILS
    # LOUD instead of exploding B²/2 pairs (round-12 advice);
    # production callers use audio_fp_pairs with its default cap +
    # an lsh_bucket_stats-style census
    cands = _sig_near_pairs(
        sigs, "media_id", max_hamming=64, hot_bucket_cap=None,
        hot_bucket_guard=10_000,
    )
    sig_stats = sigs.agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.countDistinct(F.struct("c0", "c1", "c2", "c3"))
        .cast("long")
        .alias("n_distinct_sig"),
    )
    pair_stats = cands.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
        F.sum(F.when(F.col("hamming") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_pairs"),
        F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("hamming") <= 3,
                    (F.col("media_id_a") * 31 + F.col("media_id_b"))
                    % 1000003,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pair_checksum"),
    )
    return sig_stats.crossJoin(pair_stats)


@_register(
    "jl_distance_preservation_census",
    "Johnson-Lindenstrauss sign projection 64->16 (operators/"
    "quantize.py:jl_project — Rademacher signs from md5(salt|j|i), "
    "so the projection matrix is never stored and both engines "
    "regenerate it bit-for-bit; exact BIGINT coordinates after one "
    "micro-rounding). The JL promise E[||ya-yb||^2] = k*||xa-xb||^2 "
    "is pinned AS DATA: for every (v, v+137) pair, "
    "ratio = d2_proj*1e6 div (16*d2_orig) through DECIMAL(38,0)/"
    "HUGEINT (the int128 exact-division rule), bucketed at 0.2 "
    "steps — distortion counts, min/max per bucket. One projection "
    "hash-agg + two pos/j-keyed pair joins; no floats anywhere.",
    """
    WITH ex AS (
      SELECT vec_id, i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS x
      FROM embeddings, unnest(range(1, 65)) t(i)
    ),
    sgn AS (SELECT j, i AS pos,
              1 - 2 * (CAST(concat('0x',
                   substr(md5(concat('jl|', j, '|', i)), 1, 8)) AS BIGINT)
                   % 2) AS s
            FROM (SELECT unnest(range(0, 16)) AS j),
                 (SELECT unnest(range(0, 64)) AS i)),
    proj AS (SELECT ex.vec_id, sgn.j,
                    CAST(sum(sgn.s * ex.x) AS BIGINT) AS y
             FROM ex JOIN sgn ON sgn.pos = ex.pos GROUP BY 1, 2),
    d2o AS (SELECT a.vec_id AS v,
                   CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
            FROM ex a JOIN ex b
              ON b.vec_id = a.vec_id + 137 AND b.pos = a.pos
            GROUP BY 1),
    d2p AS (SELECT a.vec_id AS v,
                   CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2
            FROM proj a JOIN proj b
              ON b.vec_id = a.vec_id + 137 AND b.j = a.j
            GROUP BY 1),
    r AS (SELECT d2o.v,
                 CAST((CAST(d2p.d2 AS HUGEINT) * 1000000)
                      // (16 * CAST(d2o.d2 AS HUGEINT)) AS BIGINT)
                     AS ratio_micro
          FROM d2o JOIN d2p ON d2p.v = d2o.v
          WHERE d2o.d2 > 0)
    SELECT CAST(ratio_micro // 200000 AS BIGINT) AS ratio_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(ratio_micro) AS BIGINT) AS min_ratio_micro,
           CAST(max(ratio_micro) AS BIGINT) AS max_ratio_micro
    FROM r GROUP BY 1
    """,
)
def jl_distance_preservation_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.quantize import (
        _explode_micro,
        jl_project,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    el = _explode_micro(emb, "embedding").localCheckpoint()
    proj = jl_project(emb, "embedding", "vec_id", out_dim=16).localCheckpoint()
    ea, eb = el.alias("ea"), el.alias("eb")
    d2o = (
        ea.join(
            eb.hint("shuffle_hash"),
            (F.col("eb.vec_id") == F.col("ea.vec_id") + 137)
            & (F.col("eb.pos") == F.col("ea.pos")),
        )
        .groupBy(F.col("ea.vec_id").alias("v"))
        .agg(
            F.sum(
                (F.col("ea.x_micro") - F.col("eb.x_micro"))
                * (F.col("ea.x_micro") - F.col("eb.x_micro"))
            )
            .cast("long")
            .alias("d2")
        )
    )
    pa, pb = proj.alias("pa"), proj.alias("pb")
    d2p = (
        pa.join(
            pb.hint("shuffle_hash"),
            (F.col("pb.vec_id") == F.col("pa.vec_id") + 137)
            & (F.col("pb.j") == F.col("pa.j")),
        )
        .groupBy(F.col("pa.vec_id").alias("v"))
        .agg(
            F.sum(
                (F.col("pa.y_micro") - F.col("pb.y_micro"))
                * (F.col("pa.y_micro") - F.col("pb.y_micro"))
            )
            .cast("long")
            .alias("d2")
        )
    )
    r = (
        d2o.alias("o")
        .join(
            d2p.hint("shuffle_hash").alias("p"),
            F.col("p.v") == F.col("o.v"),
        )
        .where(F.col("o.d2") > 0)
        .select(
            F.expr(
                "CAST((CAST(p.d2 AS DECIMAL(38,0)) * 1000000)"
                " div (16 * CAST(o.d2 AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("ratio_micro")
        )
    )
    return r.groupBy(
        F.expr("ratio_micro div 200000").cast("long").alias("ratio_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("ratio_micro").cast("long").alias("min_ratio_micro"),
        F.max("ratio_micro").cast("long").alias("max_ratio_micro"),
    )
