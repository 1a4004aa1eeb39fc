"""Unigram-LM (SentencePiece-style) tokenizer training — the BPE
twin on the tokenizer surface (Kudo 2018, "Subword Regularization",
the algorithm behind SentencePiece's default model), shrunk to the
hard-EM / Viterbi variant so every step stays exact, engine-portable,
and UDF-free.

Algorithm (hard EM over a candidate vocabulary):

1. corpus -> distinct lowercased words with frequencies (the single
   corpus-sized aggregation — `bpe.word_freqs`), capped at
   ``max_word_len`` chars (longer words are dropped from TRAINING;
   encoding them later falls back to single chars like any OOV).
2. candidate vocab: every substring of length 1..``max_piece_len``
   weighted by word frequency; top ``k_cand`` by (freq DESC, piece
   ASC) through the scale-safe global_topk, UNION all single chars
   (coverage guarantee: every word always has at least the
   char-by-char segmentation).
3. initial piece costs: -ln(freq/total) as integer micros (the
   repo's ln rule: ONE transcendental per distinct piece, 6 dp
   micro-rounded, only integer sums downstream).
4. EM round: Viterbi-segment every distinct word under the current
   costs (min total cost; ties broken by the SHORTEST last piece —
   both engines iterate candidate lengths ascending and keep the
   first minimum), count piece usage weighted by word freq, then
   re-estimate costs with Laplace(+1) smoothing over the retained
   set (usage > 0, plus all single chars — coverage again).
5. after ``em_rounds``: the final vocab is the top ``v_final``
   retained pieces by (usage DESC, piece ASC).

Spark shape: the Viterbi DP is a single ``F.aggregate`` fold over
the word's character positions — deliberately NOT a chained
withColumn recurrence, which Catalyst's CollapseProject would inline
into an exponentially duplicated expression tree. The fold carries
(cost array, backpointer array) and evaluates linearly at runtime;
piece costs come from a broadcast-literal map (the model is
vocab-sized — a few hundred entries — and collects to the driver
exactly like BPE's merge list / k-means' centroid seeds). The
corpus-sized work stays in the two hash-aggs (word freqs, piece
usage); everything per-word is O(max_word_len * max_piece_len) map
lookups.

The DuckDB twin (plans/catalog_data.py:unigram oracle) unrolls the
same DP as ``max_word_len`` nested one-level subqueries (each level
adds one cost/backpointer column, so no expression blowup there
either) and the backward walk as another unrolled chain — a
deliberately different formulation of identical semantics.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.operators.bpe import word_freqs

# an impossible piece cost: > any real path cost (12 pieces x ~30e6
# micros) but far from BIGINT overflow even summed 12x
INF_COST = 10**15


def candidate_pieces(words: DataFrame) -> DataFrame:
    """(piece, freq): every substring of length 1..4 of
    every word, weighted by word frequency. One explode + one
    hash-agg with map-side partials."""
    pieces = F.explode(
        F.expr(
            "flatten(transform(sequence(1, length(word)), i -> "
            "transform(sequence(1, least(4, "
            "length(word) - i + 1)), j -> substring(word, i, j))))"
        )
    )
    return (
        words.select(F.col("freq"), pieces.alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("freq"))
    )


def _cost_micros(p: Column) -> Column:
    """-ln(p) as integer micros, floor(x*1e6+0.5) on the raw ln —
    identical arithmetic order to the DuckDB twin (negate AFTER the
    floor)."""
    return -(F.floor(F.log(p) * F.lit(1000000.0) + F.lit(0.5)).cast("long"))


def viterbi_segment(
    words: DataFrame,
    model: dict[str, int],
    max_word_len: int = 12,
    max_piece_len: int = 4,
) -> DataFrame:
    """Append ``pieces`` (array<string>, the min-cost segmentation
    under ``model``) to a (word, freq) frame via one forward fold +
    one backward fold. Ties prefer the shortest candidate piece.
    Words longer than max_word_len must be filtered out upstream."""
    lut = F.create_map(
        *[x for p, c in sorted(model.items()) for x in (F.lit(p), F.lit(c))]
    )

    def K(piece: Column) -> Column:
        return F.coalesce(F.element_at(lut, piece), F.lit(INF_COST))

    def forward(acc: Column, i: Column) -> Column:
        # candidate j: last piece = word[i-j+1 .. i]; acc.cs holds
        # c_0..c_{i-1} 1-indexed (cs[k+1] == c_k)
        cands = []
        for j in range(1, max_piece_len + 1):
            cands.append(
                F.when(
                    F.lit(j) <= i,
                    F.element_at(acc["cs"], i - F.lit(j) + 1)
                    + K(F.col("word").substr(i - F.lit(j) + 1, F.lit(j))),
                ).otherwise(F.lit(INF_COST))
            )
        best = F.least(*cands)
        bp = F.lit(max_piece_len)
        for j in range(max_piece_len - 1, 0, -1):
            bp = F.when(cands[j - 1] == best, F.lit(j)).otherwise(bp)
        return F.struct(
            F.concat(acc["cs"], F.array(best)).alias("cs"),
            F.concat(acc["bs"], F.array(bp)).alias("bs"),
        )

    def backward(acc: Column, _k: Column) -> Column:
        p = acc["p"]
        j = F.element_at(acc["bs"], F.greatest(p, F.lit(1)))
        piece = F.col("word").substr(p - j + 1, j)
        return F.when(p <= 0, acc).otherwise(
            F.struct(
                (p - j).alias("p"),
                acc["bs"].alias("bs"),
                F.concat(F.array(piece), acc["pieces"]).alias("pieces"),
            )
        )

    dp = F.aggregate(
        F.expr("sequence(1, length(word))"),
        F.struct(
            F.array(F.lit(0).cast("long")).alias("cs"),
            F.array().cast("array<int>").alias("bs"),
        ),
        forward,
    )
    seg = F.aggregate(
        F.expr(f"sequence(1, {max_word_len})"),
        F.struct(
            F.length("word").cast("int").alias("p"),
            F.col("_dp")["bs"].alias("bs"),
            F.array().cast("array<string>").alias("pieces"),
        ),
        backward,
        lambda acc: acc["pieces"],
    )
    return (
        words.withColumn("_dp", dp)
        .withColumn("pieces", seg)
        .drop("_dp")
    )


def encode_any_words(
    wdist: DataFrame,
    model: dict[str, int],
    max_word_len: int = 12,
    max_piece_len: int = 4,
) -> DataFrame:
    """(word, freq) -> (word, n_pieces) for words of ANY length —
    the documented fallback ``viterbi_segment`` requires upstream:
    words within the cap run the DP directly; LONGER words split into
    consecutive ``max_word_len``-char windows, each window segmented
    independently, piece counts summed (the SentencePiece
    byte-fallback spirit: coverage holds because every window fits
    the DP bound and the vocab always contains all single chars). A
    window boundary can split an otherwise-optimal piece — the
    documented cost of keeping the DP state bounded.

    Plan: one DP pass over the union of (short distinct words,
    distinct window strings) — window strings that coincide with real
    short words dedup into the same DP row — then a window->word
    rollup for the long side. All corpus-sized work remains the
    distinct-word aggs upstream."""
    short = wdist.filter(F.length("word") <= max_word_len)
    longw = wdist.filter(F.length("word") > max_word_len).select("word")
    wins = longw.select(
        "word",
        F.explode(
            F.expr(
                f"transform(sequence(1, cast(ceil(length(word) / "
                f"{max_word_len}.0) as int)), k -> substring(word, "
                f"(k - 1) * {max_word_len} + 1, {max_word_len}))"
            )
        ).alias("win"),
    )
    dp_words = (
        short.select("word")
        .union(wins.select(F.col("win").alias("word")))
        .distinct()
        .withColumn("freq", F.lit(1).cast("long"))
    )
    seg = viterbi_segment(dp_words, model, max_word_len, max_piece_len).select(
        "word", F.size("pieces").cast("long").alias("n_pieces")
    )
    short_np = short.select("word").join(seg, "word")
    long_np = (
        wins.join(seg.withColumnRenamed("word", "win"), "win")
        .groupBy("word")
        .agg(F.sum("n_pieces").cast("long").alias("n_pieces"))
    )
    return short_np.unionByName(long_np)


def train_unigram_model(
    df: DataFrame,
    k_cand: int = 200,
) -> tuple[dict[str, int], dict[str, int]]:
    """Run the EM loop; returns ({piece: cost_micros}, {piece:
    usage}) for the retained set after the final round — the model a
    caller feeds straight into ``viterbi_segment`` to ENCODE text."""
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    wf = materialize(
        word_freqs(df)
        .filter(F.length("word") <= 12),
        Why.SHARED,
    )
    cand = candidate_pieces(wf)
    vocab = materialize(
        global_topk(cand, [("freq", False), ("piece", True)], k_cand)
        .select("piece", "freq")
        .union(cand.filter(F.length("piece") == 1))
        .distinct(),
        Why.SHARED,
    )
    total0 = vocab.agg(F.sum("freq")).collect()[0][0]
    model_rows = vocab.select(
        "piece",
        _cost_micros(
            F.col("freq").cast("double") / F.lit(float(total0))
        ).alias("cost"),
    ).collect()
    model = {r["piece"]: int(r["cost"]) for r in model_rows}

    usage = None
    for _ in range(2):
        seg = viterbi_segment(wf, model)
        usage = (
            seg.select("freq", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("usage"))
        )
        # retained = used pieces + all single chars (coverage); the
        # +1-smoothed re-estimate keeps unused singles finite
        retained = materialize(
            vocab.select("piece")
            .join(usage, "piece", "left")
            .withColumn("usage", F.coalesce("usage", F.lit(0)).cast("long"))
            .filter((F.col("usage") > 0) | (F.length("piece") == 1)),
            Why.SHARED,
        )
        total = retained.agg(
            (F.sum("usage") + F.count(F.lit(1))).cast("long")
        ).collect()[0][0]
        model_rows = retained.select(
            "piece",
            "usage",
            _cost_micros(
                (F.col("usage") + F.lit(1.0)) / F.lit(float(total))
            ).alias("cost"),
        ).collect()
        model = {r["piece"]: int(r["cost"]) for r in model_rows}
        usage = {r["piece"]: int(r["usage"]) for r in model_rows}
    return model, usage


def train_unigram(
    df: DataFrame,
    k_cand: int = 200,
    v_final: int = 120,
) -> DataFrame:
    """Train the unigram vocab; returns (rank, piece, usage,
    cost_micros) — the top ``v_final`` pieces after 2 rounds of
    hard EM, ranked by (usage DESC, piece ASC)."""
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    spark = df.sparkSession
    model, usage = train_unigram_model(df, k_cand)
    final = spark.createDataFrame(
        [(p, usage[p], model[p]) for p in sorted(model)],
        "piece string, usage long, cost_micros long",
    )
    return global_topk(
        final, [("usage", False), ("piece", True)], v_final
    ).select("rank", "piece", "usage", "cost_micros")


def reference_train_unigram(
    texts: list[str],
    k_cand: int = 200,
    v_final: int = 120,
) -> list[tuple[int, str, int, int]]:
    """Pure-Python reference of the SAME algorithm (differential-test
    twin; math.log in place of Spark's java log — the 6 dp
    micro-rounding absorbs libm skew exactly as the DuckDB oracle
    does). Returns [(rank, piece, usage, cost_micros)]."""
    from collections import Counter

    wf: Counter = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if 1 <= len(w) <= 12:
                wf[w] += 1
    cand: Counter = Counter()
    for w, f in wf.items():
        for i in range(len(w)):
            for j in range(1, min(4, len(w) - i) + 1):
                cand[w[i : i + j]] += f
    top = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[:k_cand]
    vocab = {p for p, _ in top} | {p for p in cand if len(p) == 1}
    total0 = sum(cand[p] for p in vocab)

    def cost_of(p: float) -> int:
        return -int(math.floor(math.log(p) * 1e6 + 0.5))

    model = {p: cost_of(cand[p] / total0) for p in vocab}

    def viterbi(w: str) -> list[str]:
        cs = [0] + [None] * len(w)
        bs = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            best, bj = INF_COST * 13, 0
            for j in range(1, min(4, i) + 1):
                c = cs[i - j] + model.get(w[i - j : i], INF_COST)
                if c < best:
                    best, bj = c, j
            cs[i], bs[i] = best, bj
        pieces, p = [], len(w)
        while p > 0:
            pieces.append(w[p - bs[p] : p])
            p -= bs[p]
        return pieces[::-1]

    usage: dict[str, int] = {}
    for _ in range(2):
        use: Counter = Counter()
        for w, f in wf.items():
            for p in viterbi(w):
                use[p] += f
        retained = {p for p in model if use[p] > 0 or len(p) == 1}
        total = sum(use[p] for p in retained) + len(retained)
        model = {p: cost_of((use[p] + 1.0) / total) for p in retained}
        usage = {p: use[p] for p in retained}
    ranked = sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))[:v_final]
    return [
        (i + 1, p, u, model[p]) for i, (p, u) in enumerate(ranked)
    ]
