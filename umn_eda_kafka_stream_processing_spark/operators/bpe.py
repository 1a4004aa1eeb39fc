"""Distributed BPE (byte-pair-encoding) vocabulary training as pure
DataFrame operations — the tokenizer-construction step of an LLM data
pipeline, run where the data lives instead of funneling a corpus
through a single-node trainer.

Algorithm (Sennrich et al. 2016, the standard subword BPE):

1. Pre-tokenize: whitespace words, lowercased; count word frequencies.
2. Represent each distinct word as a space-separated symbol string
   ``" h e l l o </w> "`` (sentinel spaces at both ends, ``</w>``
   end-of-word marker).
3. For each of ``k`` rounds: count adjacent symbol pairs weighted by
   word frequency, pick the most frequent (ties broken by pair text
   ascending — fully deterministic), and merge every occurrence in
   every word.

Scale shape: the corpus-sized work is ONE hash-agg (word counts —
Zipf makes the distinct-word table orders of magnitude smaller than
the corpus). Each merge round then runs on that small table: one
explode + hash-agg for pair counts, a 1-row argmax, and a broadcast
of the winning pair into a JVM ``replace`` chain. k rounds = k tiny
shuffles; nothing ever collects to the driver except the k winning
pairs themselves (exactly the k-means pattern in
operators/similarity.py:kmeans_buckets).

Merging is ONE plain ``replace`` call per round — no regex, no
loop — thanks to a TWO-space symbol separator: the pattern
``" a  b "`` (single space at each end, double inside) consumes only
one of the two trailing spaces, so after a match the next candidate
occurrence still has its single-space anchor, and leftmost
non-overlapping ``replace`` semantics reproduce canonical
left-to-right BPE merging exactly — including same-symbol runs, the
case where naive single-space replace pairs the wrong occurrences
(property-tested against a pure-Python canonical reference over
random run-heavy words in tests/test_data_ops.py). ``replace`` scans
the source string identically in Spark and DuckDB, so the generated
oracle (plans/catalog_data.py) is bit-identical by construction.

Reference parity note: the reference app has no tokenizer surface;
this extends the builder-brief text-analysis family
(functions/text.py) from counting tokens to TRAINING the tokenizer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize


def word_freqs(df: DataFrame) -> DataFrame:
    """Distinct lowercased whitespace words with corpus frequencies —
    the single corpus-sized aggregation of BPE training."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def to_symbols(word: str = "word") -> Column:
    """Word → symbol string ``"  h  i  </w>  "`` with TWO-space
    separators and sentinels (see module docstring: the second space
    is what makes single-pass replace merging canonical)."""
    chars = F.expr(
        f"concat_ws('  ', transform(sequence(1, length({word})), "
        f"i -> substring({word}, i, 1)))"
    )
    return F.concat(F.lit("  "), chars, F.lit("  </w>  "))


def _merge_pair(sym: Column, pair: Column) -> Column:
    """Apply one learned merge canonically: replace ' a  b ' with
    ' ab ' — pair text carries a single inner space, the symbol
    strings carry double separators (module docstring)."""
    pat = F.concat(
        F.lit(" "),
        F.call_function("replace", pair, F.lit(" "), F.lit("  ")),
        F.lit(" "),
    )
    rep = F.concat(
        F.lit(" "), F.call_function("replace", pair, F.lit(" "), F.lit("")), F.lit(" ")
    )
    return F.call_function("replace", sym, pat, rep)


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word frequency.

    The single-token guard matters: a fully merged word has one
    symbol, and Spark's ``sequence(1, 0)`` is DESCENDING ``[1, 0]``
    (not empty), so the unguarded transform would index past the
    array (the engine-wide sequence trap — see CLAUDE.md)."""
    pairs = F.expr(
        "CASE WHEN size(split(trim(sym), '  ')) < 2 THEN array() "
        "ELSE transform(sequence(1, size(split(trim(sym), '  ')) - 1), "
        "i -> concat(element_at(split(trim(sym), '  '), i), ' ', "
        "element_at(split(trim(sym), '  '), i + 1))) END"
    )
    return (
        words.select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )


def train_bpe(df: DataFrame, k: int = 6) -> tuple[DataFrame, DataFrame]:
    """Train ``k`` BPE merges over a corpus.

    Returns ``(merges, words)``: ``merges`` = (rank, pair, pair_count)
    — the learned merge table in order — and ``words`` = the distinct
    words with their final symbol strings (the trained segmentation).
    """
    spark = df.sparkSession
    wf = word_freqs(df)
    words = materialize(wf.select("word", "freq", to_symbols("word").alias("sym")), Why.SHARED)
    learned: list[tuple[int, str, int]] = []
    for rank in range(1, k + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], int(best[0]["pair_count"])
        learned.append((rank, pair, cnt))
        # LAZY on purpose: the base word table is checkpointed once
        # (that was the corpus-sized pass); each round then stacks one
        # replace() on a table of distinct words, so recomputing the
        # r-deep chain at round r is far cheaper than r materialization
        # barriers (measured ~2x faster at sf0.01)
        words = words.select(
            "word", "freq", _merge_pair(F.col("sym"), F.lit(pair)).alias("sym")
        )
    merges = spark.createDataFrame(
        learned, "rank long, pair string, pair_count long"
    )
    return merges, words


def bpe_segment(words: DataFrame) -> DataFrame:
    """Final segmentation view: word → token array + token count."""
    return words.select(
        "word",
        "freq",
        F.split(F.trim(F.col("sym")), "  ").alias("tokens"),
        F.size(F.split(F.trim(F.col("sym")), "  ")).cast("long").alias("n_tokens"),
    )


def bpe_encode(words_df: DataFrame, merges: DataFrame) -> DataFrame:
    """ENCODE arbitrary words with a trained merge table — the
    tokenizer-application step that pairs with train_bpe.

    Canonical BPE encoding applies the learned merges in RANK order,
    each left-to-right non-overlapping — which is exactly the
    two-space replace chain from training, so encoding is ``k`` plain
    ``replace()`` calls stacked into one whole-stage-codegen
    projection. Works for words unseen at training time (they simply
    match fewer merges); on the training vocabulary it reproduces
    train_bpe's final segmentation bit for bit (test-pinned).

    ``merges`` is the tiny (rank, pair, ...) table — k rows — and is
    collected to build the literal chain (the kmeans-seed precedent:
    only the k winning pairs ever reach the driver). Scale shape: the
    corpus-sized input streams through ONE narrow projection; no
    join, no shuffle.
    """
    pairs = [r["pair"] for r in merges.orderBy(F.col("rank").asc()).collect()]
    sym = to_symbols()
    for p in pairs:
        sym = _merge_pair(sym, F.lit(p))
    return words_df.withColumn("sym", sym)
