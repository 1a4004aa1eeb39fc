"""Benchmark decontamination: token n-gram overlap against a test set.

A training corpus that CONTAINS its evaluation benchmarks produces
inflated scores; the standard remedy (Brown et al. 2020 appendix C,
Lee et al. 2022 §6.2 — public literature) is to flag every training
document sharing at least one token n-gram (n ≈ 8-13) with any
benchmark document and drop or audit it. This module is that sweep,
Spark-first.

Scale shape (the corpus is 100 TB, the benchmark is dim-sized):

* each side's distinct token n-grams are generated by pure JVM
  expressions (split → transform over a position sequence → distinct
  — one Generate, no Python);
* grams ride as 60-bit md5 prefixes, not strings — an 8-gram is
  ~50 bytes of text but 8 bytes of hash, so the contamination join
  moves ~6× less; collisions only ever OVER-flag (a hash match
  without a text match), the conservative direction for a
  decontamination sweep, and at 2⁻⁶⁰ per pair they are beyond
  accidental;
* the benchmark gram set BROADCASTS (it is the test set — thousands
  of documents); the corpus pays ONE gram pass and one map-side-
  combined hash-agg: scan → generate (array once: size + explode) →
  broadcast LEFT join carrying a hit mark → per-doc hash-agg folding
  totals and hits together. Pass ``broadcast_benchmark=False`` only
  if the "benchmark" is itself corpus-sized (then the join pins
  shuffle_hash — never a missing-stats SMJ).

Determinism/portability: whitespace tokenization (``functions/
text.py:tokens``), grams joined by single spaces, md5-prefix hashing
— bit-identical in any engine, so a DuckDB oracle reproduces the
exact census. Documents shorter than ``n`` tokens contribute their
whole token sequence as one gram (the ``greatest(..., 1)`` guard —
Spark's ``sequence(1, 0)`` is DESCENDING); empty/whitespace-only
texts yield the empty gram, which matches other empty texts —
pre-filter empties if that is not wanted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.stores import BatchStore


def word_ngram_hashes(text_col: str = "text", n: int = 8) -> Column:
    """Distinct token n-grams of a document as 60-bit md5 prefixes
    (first 15 hex chars → BIGINT — 16 would overflow the SIGNED
    64-bit range in both engines): split on whitespace, slide an
    n-token window joined by single spaces, hash. Pure JVM
    expressions; the ``greatest`` guard handles docs shorter than
    ``n`` (whole doc = one gram)."""
    toks = f"split(trim({text_col}), '\\\\s+')"
    grams = (
        f"transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {n})))"
    )
    return F.expr(
        f"transform(array_distinct({grams}), g -> "
        f"cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))"
    )


def benchmark_grams(bench_batch_df: DataFrame) -> DataFrame:
    """One benchmark batch's distinct gram hashes ``(g)`` — the payload of
    the benchmark gram store (a `stores.BatchStore` with `merge_grams`).
    Evaluation suites GROW — new held-out sets arrive after the corpus
    sweep is already running — so the benchmark side is a batch-keyed
    store, not a static frame; a caller already holding the batch's gram
    hashes (a standing `corpus_gram_table` the batch is a slice of) writes
    their distinct set instead and skips this explode.

    After a collapse the base batch holds the union of the folded suites,
    so `resweep_decontaminate`'s novel-gram window (which prunes on
    batch_id) must only be pointed at batches ABOVE the horizon."""
    return bench_batch_df.select(
        F.explode(word_ngram_hashes()).alias("g")
    ).distinct()


def merge_grams(grams: DataFrame) -> DataFrame:
    """The benchmark gram store's merge: set UNION (one distinct across
    batches) — associative, so the store reads exactly the gram set of all
    benchmark docs at once, and a collapse stops storing grams shared
    across suites once per suite."""
    return grams.select("g").distinct()


def incremental_decontaminate(
    spark,
    store_path: str,
    corpus_batch_df: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_grams: DataFrame | None = None,
) -> DataFrame:
    """Sweep one corpus (micro)batch against the standing benchmark
    gram store — the streaming half of `decontaminate`: same per-doc
    census columns, benchmark side read fresh from the store (so
    eval sets added between batches apply to every later batch).
    Flags only ever ADD as the benchmark grows; docs admitted before
    a benchmark landed need a re-sweep of the affected window —
    `resweep_decontaminate` computes exactly that DELTA (sweep only
    against the late batches' novel grams) so the remedy is no
    longer a full re-sweep. ``docs_grams`` passes through to
    `decontaminate` (the caller-already-paid-the-explode contract)."""
    return decontaminate(
        corpus_batch_df,
        benchmark=None,
        bench_grams=BatchStore(spark, store_path, merge_grams).read(),
        n=n,
        min_overlap=min_overlap,
        id_col=id_col,
        text_col=text_col,
        docs_grams=docs_grams,
    )


def resweep_decontaminate(
    spark,
    store_path: str,
    corpus: DataFrame,
    since_batch: int,
    corpus_grams: DataFrame | None = None,
) -> DataFrame:
    """DELTA re-sweep for LATE-ARRIVING benchmarks (round-12 verdict
    task 2): when benchmark batches land AFTER a corpus window was
    already swept and admitted, the standing census misses their
    grams — and before this operator the only correct remedy was a
    full re-sweep. This sweeps the window against ONLY the novel
    grams of batches > ``since_batch``:

    * the new batches' grams come from a partition-pruned scan of the
      live batches (``batch_id > since_batch`` — exact directories;
      `BatchStore.scan` skips what a crashed collapse left stale);
    * grams already present in batches <= ``since_batch`` are
      anti-joined OUT (both sides benchmark-suite-sized — the
      anti-join never touches the corpus), so the delta gram set is
      DISJOINT from everything the standing sweep counted;
    * disjointness makes the merge EXACT, not just flag-monotone:
      ``merge_decontam_censuses`` ADDS hit counts and the result
      equals a from-scratch full sweep column-for-column
      (test-pinned), because every corpus gram hit is counted by
      exactly one of the two sweeps.

    Returns the same census shape as `decontaminate` computed
    against the delta grams alone — ``contaminated`` here means
    "NEWLY contaminated by the late batches" for docs the standing
    sweep cleared."""
    store = BatchStore(spark, store_path).scan()
    new_grams = (
        store.filter(F.col("batch_id") > int(since_batch))
        .select("g")
        .distinct()
    )
    old_grams = (
        store.filter(F.col("batch_id") <= int(since_batch))
        .select("g")
        .distinct()
    )
    delta_grams = new_grams.join(old_grams, "g", "left_anti")
    return decontaminate(
        corpus,
        benchmark=None,
        bench_grams=delta_grams,
        docs_grams=corpus_grams,  # the re-swept window's gram table,
        # when the caller already paid the explode (patched manifest)
    )


def merge_decontam_censuses(
    standing: DataFrame,
    delta: DataFrame,
) -> DataFrame:
    """Merge a standing `decontaminate` census with a
    `resweep_decontaminate` delta over the SAME corpus window: hit
    counts ADD (the delta's gram set is disjoint from the standing
    sweep's by construction, so no corpus gram is counted twice) and
    the contamination flag is re-derived from the merged count —
    column-for-column equal to a from-scratch sweep against the full
    benchmark store (test-pinned). One |corpus|-row join on the doc
    id; both inputs already paid their gram passes."""
    d = delta.select(
        F.col("doc_id").alias("_rid"),
        F.col("n_hit_grams").alias("_delta_hits"),
    )
    return (
        standing.join(d, standing["doc_id"] == F.col("_rid"), "inner")
        .select(
            standing["doc_id"],
            standing["n_grams"],
            (standing["n_hit_grams"] + F.col("_delta_hits"))
            .cast("long")
            .alias("n_hit_grams"),
        )
        .withColumn(
            "contaminated",
            (F.col("n_hit_grams") >= F.lit(1))
            .cast("long"),
        )
    )


def corpus_gram_table(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The corpus side of a decontamination sweep as a reusable
    table: one row per (doc, gram-hash) with the doc's total gram
    count alongside — exactly the frame `decontaminate` explodes
    internally, exposed so pipelines that sweep the SAME corpus
    repeatedly (the standing sweep, the late-benchmark delta resweep,
    the patched-manifest chain) can materialize the explode once
    (session cache / parquet) and inject it via ``docs_grams``.
    Docs whose text yields zero n-grams have no rows (matching the
    internal explode's semantics). Output: (id_col, n_grams, _g)."""
    return docs.select(
        F.col(id_col), word_ngram_hashes(text_col, n).alias("_gs")
    ).select(
        id_col,
        F.size("_gs").cast("long").alias("n_grams"),
        F.explode("_gs").alias("_g"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame | None,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
    bench_grams: DataFrame | None = None,
    docs_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document contamination census against ``benchmark``:
    (id_col, n_grams, n_hit_grams, contaminated) — ``n_grams`` the
    doc's distinct token-n-gram count, ``n_hit_grams`` how many of
    them appear anywhere in the benchmark, ``contaminated`` 1 iff
    n_hit_grams >= min_overlap. Anti-join the flagged ids out of the
    corpus to decontaminate; keep the census as the audit trail.

    Pass EITHER ``benchmark`` (docs — grams generated here) or
    ``bench_grams`` (a precomputed one-column gram-hash frame — the
    incremental store's read path).

    ``docs_grams`` optionally injects the corpus-side gram table
    (`corpus_gram_table` over the SAME ``docs`` — the caller's
    contract): the gram explode is the sweep's dominant cost, and a
    pipeline sweeping one corpus against several gram sets (standing
    + delta, or per-census repeats) pays it once.

    No false negatives at the gram level by construction (exact hash
    equality); hash collisions only over-flag (conservative).
    """
    if (benchmark is None) == (bench_grams is None):
        raise ValueError(
            "pass exactly one of benchmark= or bench_grams="
        )
    if bench_grams is not None:
        bench_grams = bench_grams.select(
            F.col(bench_grams.columns[0]).alias("_g")
        ).distinct()
    else:
        bench_grams = (
            benchmark.select(
                F.explode(
                    word_ngram_hashes(text_col, n)
                ).alias("_g")
            ).distinct()
        )
    marked = bench_grams.withColumn("_hit", F.lit(1))
    if broadcast_benchmark:
        marked = F.broadcast(marked)
    else:
        marked = marked.hint("shuffle_hash")
    # ONE gram pass over the corpus: the array is generated once and
    # feeds both the per-doc total (size) and the explode; the hit
    # mark rides a LEFT join against the (broadcast) gram set and one
    # per-doc hash-agg folds totals and hits together — no second
    # corpus-sized join on the doc id (round-12 review)
    exploded = (
        docs_grams.select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("_g"),
        )
        if docs_grams is not None
        else corpus_gram_table(docs, n, id_col, text_col)
    )
    return (
        exploded.join(marked, "_g", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("long")
            .alias("n_hit_grams"),
        )
        .withColumn(
            "contaminated",
            (F.col("n_hit_grams") >= F.lit(int(min_overlap)))
            .cast("long"),
        )
    )
