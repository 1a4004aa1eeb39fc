"""Deduplication operators for training-data pipelines.

Four tiers, cheapest-first — the standard large-corpus dedup ladder:

1. exact_dedup_groups   — hash-groupBy on a normalized fingerprint.
   One shuffle on the md5 key; at 100 TB the md5 shrinks shuffle
   rows to (16-byte key, id), and near-perfect key uniformity means
   no skew.
2. ngram_jaccard_pairs  — exact set-similarity on char-shingles with
   cheap blocking (language + length-band). Quadratic within a
   block; the CORRECTNESS baseline, for modest blocks only.
3. minhash_lsh_pairs    — MinHash signatures + banded LSH: the scale
   path. Cost is linear in corpus size (k md5-mins per doc), then a
   self-join on tiny band-bucket keys. Candidates are verified with
   the exact jaccard, so output precision is 1.0 — recall is
   1-(1-j^r)^b per pair.
4. simhash64            — 64-bit SimHash from token hashes; near-dups
   differ in few bits. Pairs via bucketing on 4 16-bit chunks
   (Hamming distance <= 3 guarantees >= 1 identical chunk).

All hashing is md5-based (engine-portable, deterministic); no
engine-private hash functions, so every tier is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up
from umn_eda_kafka_stream_processing_spark.functions.text import (
    char_shingles,
    char_shingles_packed,
    fingerprint_md5,
)


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by normalized-content fingerprint; keeper =
    min id. Output: (fp, keeper_<id>, n_copies)."""
    return (
        df.select(fingerprint_md5(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _jaccard(a: str, b: str) -> Column:
    inter = F.size(F.array_intersect(F.col(a), F.col(b))).cast("double")
    union = (
        F.size(F.col(a)).cast("double") + F.size(F.col(b)).cast("double") - inter
    )
    return round_half_up(inter / F.greatest(union, F.lit(1.0)), 4)


def _estimate_block_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...],
    length_col: str | None,
    max_length_diff: int,
) -> int:
    """Exact candidate-join row count for the blocked pair generation
    in ngram_jaccard_pairs: Σ over matching (block, band) key pairs of
    n_a · n_b (band match = |band diff| <= 1, mirroring the explode).

    One groupBy over a (blocks, length) projection — no shingles are
    computed — then a self-join of the tiny per-block size table
    (localCheckpoint'd: deriving both join sides from one lazy plan
    recomputes the lineage per side and risks ambiguous references).
    """
    keys = [F.col(c) for c in block_cols]
    if length_col is not None:
        width = max(max_length_diff, 1)
        keys.append(F.floor(F.col(length_col) / width).alias("_band"))
    sizes = (
        df.select(*block_cols, *([length_col] if length_col else []))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint()
    )
    sa = sizes.select(*[F.col(c).alias(f"a_{c}") for c in sizes.columns])
    sb = sizes.select(*[F.col(c).alias(f"b_{c}") for c in sizes.columns])
    cond = F.lit(True)
    for c in block_cols:
        cond = cond & (F.col(f"a_{c}") == F.col(f"b_{c}"))
    if length_col is not None:
        cond = cond & (F.abs(F.col("a__band") - F.col("b__band")) <= 1)
    row = (
        sa.join(sb, cond, "inner")
        .agg(F.sum(F.col("a__n") * F.col("b__n")).alias("est"))
        .first()
    )
    return int(row["est"] or 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    length_col: str | None = "n_chars",
    max_length_diff: int = 50,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_candidate_pairs: int | None = 100_000_000,
    on_explosion: str = "raise",
    salt_buckets: int = 8,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs with blocking.

    Blocking: equal ``block_cols`` plus |length difference| <=
    ``max_length_diff``. Physical shape (chosen for scale — the naive
    block-equi self-join puts a whole language on ONE task):

    1. Pair generation runs on a *lite* projection (ids + block +
       length + shingle-set size, no arrays). The length predicate is
       turned into an equi key: band = floor(len / max_diff), with the
       right side exploded to {band-1, band, band+1} — any qualifying
       pair has |band diff| <= 1 and matches exactly one exploded row,
       so the join key is (blocks, band): finer-grained than the block
       alone, no duplicates, no distinct needed.
    2. Lossless prune before any set math: jaccard <= min(|A|,|B|) /
       max(|A|,|B|), so pairs whose shingle-set sizes differ by more
       than the threshold ratio can't qualify.
    3. Surviving pairs are repartitioned by id (uniform keys) and only
       then joined back to the shingle arrays (small side — Catalyst
       broadcasts it), computing the intersection once:
       union = |A| + |B| - inter.
    4. For n <= 3 the shingles are packed codepoints (one long per
       shingle, functions/text.py:char_shingles_packed): exact same
       set cardinalities, but the hot array_intersect runs on longs.

    QUADRATIC GUARD: within-block cost is O(block²) — on a 100 TB
    monolingual corpus one block is astronomically large, and this
    correctness baseline must NOT be the path that runs it. Before
    building the pair join, the per-(block, band) sizes are aggregated
    (a tiny table, one row per block) and the exact candidate-join row
    count is computed from them; if it exceeds ``max_candidate_pairs``
    the operator raises (``on_explosion="raise"``) or auto-delegates
    to ``minhash_lsh_pairs`` (``on_explosion="delegate"`` — same
    (id_a, id_b, jaccard) output contract, linear cost, jaccard
    verified exactly over its own 8-gram shingles). The size
    aggregation is a deliberate driver-side planning action — the
    same runtime-statistics move AQE makes — over |blocks| rows, not
    data rows. ``max_candidate_pairs=None`` disables the guard.
    """
    if on_explosion not in ("raise", "delegate"):
        raise ValueError(f"on_explosion must be 'raise' or 'delegate', got {on_explosion!r}")
    if max_candidate_pairs is not None:
        est = _estimate_block_pairs(df, block_cols, length_col, max_length_diff)
        if est > max_candidate_pairs:
            if on_explosion == "delegate":
                return minhash_lsh_pairs(
                    df, text_col=text_col, id_col=id_col, threshold=threshold
                )
            raise ValueError(
                f"ngram_jaccard_pairs: estimated {est:,} candidate pairs exceeds "
                f"max_candidate_pairs={max_candidate_pairs:,}; this operator is the "
                "quadratic correctness baseline — use minhash_lsh_pairs for large "
                "corpora, or pass on_explosion='delegate' to switch automatically"
            )
    shingles = (
        char_shingles_packed(text_col, shingle_n)
        if shingle_n * 21 <= 63
        else char_shingles(text_col, shingle_n)
    )
    # spread the CORPUS before any shingle work: every consumer below
    # (lite sizes on both candidate sides, the two verification
    # shingle projections) computes the per-row shingle HOF, and on a
    # one-file scan all four passes would run on ONE task (r14 PERF:
    # 8-core == 32-core wall, ratio 1.01 — the whole operator was
    # single-threaded). One id-keyed shuffle of (id, text, block,
    # length) rows up front parallelizes every pass; downstream
    # id-keyed exchanges reuse the partitioning where aliases allow.
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par, F.col(id_col))
    sh = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols],
        *([F.col(length_col)] if length_col else []),
        shingles.alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    lite_cols = [id_col, *block_cols, "n_sh"]
    lite = sh.select(*lite_cols, *([length_col] if length_col else []))
    a = lite.select(*[F.col(c).alias(f"a_{c}") for c in lite.columns])
    b = lite.select(*[F.col(c).alias(f"b_{c}") for c in lite.columns])
    cond = F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a_{c}") == F.col(f"b_{c}"))
    # size-ratio prune (lossless, see docstring step 2). The final
    # filter tests the jaccard ROUNDED half-up to 4 dp, so a true
    # J just under `threshold` can still round up and pass — widen
    # the prune bound by half an ulp of that scale to stay lossless.
    prune_bound = threshold - 0.5 * 10 ** -4
    cond = cond & (
        F.least(F.col("a_n_sh"), F.col("b_n_sh"))
        >= F.greatest(F.col("a_n_sh"), F.col("b_n_sh")) * prune_bound
    )
    if length_col:
        # width floor of 1: max_length_diff=0 means equal lengths
        # only — floor(len/0) would be NULL and silently drop ALL
        # pairs; with width 1 the |diff| <= 0 filter below still
        # enforces exact equality
        width = max(max_length_diff, 1)
        band = lambda c: F.floor(F.col(c) / width)  # noqa: E731
        a = a.withColumn("band", band(f"a_{length_col}"))
        b = b.withColumn(
            "band",
            F.explode(
                F.array(
                    band(f"b_{length_col}") - 1,
                    band(f"b_{length_col}"),
                    band(f"b_{length_col}") + 1,
                )
            ),
        )
        cond = cond & (a["band"] == b["band"]) & (
            F.abs(F.col(f"a_{length_col}") - F.col(f"b_{length_col}"))
            <= max_length_diff
        )
    if salt_buckets > 1:
        # SALT the quadratic join: its natural key is (blocks, band) —
        # a handful of skewed values (one dominant language ⇒ one task
        # owns most of the block² work; measured 12-27 s of executor
        # time concentrating on stragglers at sf0.1). a-side keys get
        # a deterministic id-hash salt, b-side replicates to every
        # salt, so each pair still matches exactly once but one
        # block's quadratic work spreads over salt_buckets tasks. The
        # b-side blowup only multiplies the tiny lite rows, never the
        # shingle arrays.
        a = a.withColumn("salt", F.pmod(F.hash(F.col(f"a_{id_col}")), salt_buckets))
        b = b.withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
        )
        cond = cond & (a["salt"] == b["salt"])
    # repartition the probe side by id: explicit partition count keeps
    # AQE from coalescing the tiny lite-row shuffle to ~1 partition,
    # which would serialize the quadratic candidate work that hangs
    # off it (the corpus spread above parallelizes the shingle MAP
    # work; this one pins the JOIN-probe parallelism)
    # NOTE deliberately LAZY end to end (unlike minhash_lsh_pairs'
    # checkpointed verification): this operator's candidate sets are
    # large relative to the corpus (blocked quadratic), so
    # materialization barriers cost more than the pipelined triple
    # evaluation of the shingle HOF they would save — measured 6.9 s
    # lazy vs 12.7 s checkpointed at sf0.1.
    pairs = (
        a.repartition(par, F.col(f"a_{id_col}"))
        .join(b, cond, "inner")
        .select(f"a_{id_col}", f"b_{id_col}", "a_n_sh", "b_n_sh")
        .repartition(par, F.col(f"a_{id_col}"))
    )
    # SHUFFLE_HASH on the shingle-attach: the payload is a per-doc
    # array column, and sort-merge pays a sort over those wide rows
    # that hash join skips entirely — measured bimodal 5-33 s (SMJ,
    # AQE sometimes rescuing it to broadcast) vs stable 2-5 s (SHJ)
    # at sf0.1. At 100 TB the hint stays correct where broadcast
    # wouldn't: sh scales with the corpus, but each id-hashed
    # partition's hash table is corpus/partitions sized.
    sha = sh.select(
        F.col(id_col).alias(f"a_{id_col}"), F.col("sh").alias("a_sh")
    ).hint("shuffle_hash")
    shb = sh.select(
        F.col(id_col).alias(f"b_{id_col}"), F.col("sh").alias("b_sh")
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
    union = (
        F.col("a_n_sh").cast("double") + F.col("b_n_sh").cast("double") - inter
    )
    return (
        pairs.join(sha, f"a_{id_col}").join(shb, f"b_{id_col}")
        .withColumn("jaccard", round_half_up(inter / F.greatest(union, F.lit(1.0)), 4))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col(f"a_{id_col}").alias(f"{id_col}_a"),
            F.col(f"b_{id_col}").alias(f"{id_col}_b"),
            "jaccard",
        )
    )


def rarity_sorted_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
) -> DataFrame:
    """(id, arr, n): each doc's distinct shingles sorted by GLOBAL
    rarity (document frequency ASC, shingle ASC — struct sort is
    lexicographic so ties break deterministically on the shingle
    itself on both engines). The shared substrate of the prefix-
    filtered Jaccard and containment joins — one shingle explode +
    one df hash-agg + one per-key sort-agg (never a corpus window);
    cacheable per (corpus, shingle_n) and passed to either join via
    ``arr=`` (train-once/serve-many)."""
    tok = df.select(
        F.col(id_col),
        F.explode(char_shingles(text_col, shingle_n)).alias("t"),
    )
    dfreq = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("dfc")
    )
    return (
        tok.join(dfreq.hint("shuffle_hash"), "t")
        .groupBy(id_col)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dfc, t))),"
                " s -> s.t)"
            ).alias("arr")
        )
        .select(
            id_col,
            "arr",
            F.size("arr").cast("long").alias("n"),
        )
        .localCheckpoint()
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    threshold_micro: int = 600_000,
    max_candidate_pairs: int | None = 100_000_000,
    on_explosion: str = "raise",
    arr: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity join by prefix filtering (the
    AllPairs/PPJoin candidate generation — Bayardo et al. 2007,
    Xiao et al. 2008; public algorithms): all pairs with n-gram
    Jaccard >= threshold, with NO blocking recall loss (unlike
    first-char blocks or LSH bands) and NO quadratic block join
    (unlike ngram_jaccard_pairs). Returns (id_a, id_b, inter, uni,
    jaccard_micro) — all exact BIGINT; ``threshold_micro`` is the
    Jaccard bound in integer micros (600_000 = 0.6) and the filter
    is the EXACT cross-multiplication 1e6*inter >= thr*union (never
    a rounded float compare).

    Why it's exact: order every doc's shingles by GLOBAL rarity
    (document frequency ASC, shingle ASC — deterministic), and take
    each doc's first p = |x| - ceil(tau*|x|) + 1 shingles as its
    prefix. Two docs with Jaccard >= tau MUST share at least one
    prefix shingle (if all shared shingles hid outside both
    prefixes, the overlap would be < tau*max(|x|,|y|) — the
    standard prefix-filter lemma), so the prefix equi-join generates
    a candidate superset and exact verification closes it. Prefixes
    hold each doc's RAREST shingles, so join fan-out per shingle is
    tiny on real corpora even with zero blocking.

    Scale shape: one shingle explode + one df hash-agg + one
    per-doc array_sort agg (per-key, no corpus window); candidate
    generation joins ONLY the exploded prefixes (a (1-tau) fraction
    of tokens, the rare end) on the shingle key; the lossless size
    filter tau*|x| <= |y| prunes before dedup; verification joins
    the two shingle arrays shuffle_hash (the wide-array rule) and
    computes one array_intersect per surviving pair.

    SHINGLE WIDTH IS THE SELECTIVITY KNOB: prefix filtering's cost
    is sum C(df_prefix, 2), so it needs the rare end of the token
    distribution to actually be rare. On a low-diversity corpus
    8-grams collide massively (45M candidates on the synthetic
    sf0.1 docs — measured) while 16-grams give 23k; pick the width
    at which a shared shingle is EVIDENCE of duplication, the same
    reasoning as the 16-char spans of remove_shared_spans.

    QUADRATIC GUARD (house convention): a shingle duplicated across
    M docs' prefixes emits C(M,2) candidates. The exact candidate
    count sum C(df_prefix, 2) is aggregated first (a driver-side
    planning scalar over |distinct prefix shingles| rows — the AQE
    move); past ``max_candidate_pairs`` the operator raises or
    delegates to minhash_lsh_pairs (``on_explosion='delegate'``,
    approximate but linear)."""
    if on_explosion not in ("raise", "delegate"):
        raise ValueError(
            f"on_explosion must be 'raise' or 'delegate', got {on_explosion!r}"
        )
    if arr is None:
        arr = rarity_sorted_shingles(df, text_col, id_col, shingle_n)
    # prefix length p = n - ceil(tau*n) + 1, exact integer ceil
    pre = arr.select(
        id_col,
        "n",
        F.explode(
            F.expr(
                f"slice(arr, 1, greatest(n - (({threshold_micro} * n "
                f"+ 999999) div 1000000) + 1, 1))"
            )
        ).alias("t"),
    )
    if max_candidate_pairs is not None:
        est = (
            pre.groupBy("t")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .agg(F.coalesce(F.sum(F.expr("c * (c - 1) div 2")), F.lit(0)))
            .collect()[0][0]
        )
        if est > max_candidate_pairs:
            if on_explosion == "delegate":
                # same (id_a, id_b, ..., jaccard_micro) shape; the
                # LSH path's exact-verified 4dp jaccard maps to
                # micros, inter/uni are not computed there (NULL)
                lsh = minhash_lsh_pairs(
                    df,
                    text_col=text_col,
                    id_col=id_col,
                    threshold=threshold_micro / 1e6,
                )
                return lsh.select(
                    f"{id_col}_a",
                    f"{id_col}_b",
                    F.lit(None).cast("long").alias("inter"),
                    F.lit(None).cast("long").alias("uni"),
                    F.floor(F.col("jaccard") * 1_000_000 + F.lit(0.5))
                    .cast("long")
                    .alias("jaccard_micro"),
                )
            raise ValueError(
                f"prefix_jaccard_pairs: {est:,} prefix candidates exceed "
                f"max_candidate_pairs={max_candidate_pairs:,} — a shingle is "
                "duplicated across too many docs' prefixes (mass-identical "
                "docs are exact dedup's upstream job); pass "
                "on_explosion='delegate' for the LSH path"
            )
    a = pre.select(
        F.col(id_col).alias("_ida"), F.col("n").alias("_na"), "t"
    )
    b = pre.select(
        F.col(id_col).alias("_idb"), F.col("n").alias("_nb"), "t"
    )
    cand = (
        a.join(b.hint("shuffle_hash"), "t")
        .where(
            (F.col("_ida") < F.col("_idb"))
            # lossless size bound: J >= tau forces tau*|x| <= |y|
            & (F.lit(1_000_000) * F.col("_nb")
               >= F.lit(threshold_micro) * F.col("_na"))
            & (F.lit(1_000_000) * F.col("_na")
               >= F.lit(threshold_micro) * F.col("_nb"))
        )
        .select("_ida", "_idb")
        .distinct()
    )
    va = arr.select(
        F.col(id_col).alias("_ida"),
        F.col("arr").alias("_aa"),
        F.col("n").alias("_na"),
    ).hint("shuffle_hash")
    vb = arr.select(
        F.col(id_col).alias("_idb"),
        F.col("arr").alias("_ab"),
        F.col("n").alias("_nb"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect("_aa", "_ab")).cast("long")
    return (
        cand.join(va, "_ida")
        .join(vb, "_idb")
        .withColumn("inter", inter)
        .withColumn("uni", F.col("_na") + F.col("_nb") - F.col("inter"))
        .where(
            F.lit(1_000_000) * F.col("inter")
            >= F.lit(threshold_micro) * F.col("uni")
        )
        .select(
            F.col("_ida").alias(f"{id_col}_a"),
            F.col("_idb").alias(f"{id_col}_b"),
            "inter",
            "uni",
            F.expr("(1000000 * inter + uni div 2) div uni")
            .cast("long")
            .alias("jaccard_micro"),
        )
    )


def prefix_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 16,
    threshold_micro: int = 800_000,
    max_candidate_pairs: int | None = 100_000_000,
    arr: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-CONTAINMENT join by prefix filtering — the
    asymmetric sibling of `prefix_jaccard_pairs` and the shape of
    the real dedup ask Jaccard misses: a short document quoted or
    templated inside a long one has tiny Jaccard (the union is
    dominated by the container) but containment |x∩y|/|x| ≈ 1.
    Returns every ORDERED pair (contained x, container y), x != y,
    with containment >= threshold: (contained_id, container_id,
    inter, n_contained, n_container, containment_micro) — all exact
    BIGINT; the filter is the exact cross-multiplication
    1e6*inter >= thr*|x|, never a rounded float compare.

    Exactness: x keeps the same rarest-first prefix of length
    |x| - ceil(tau*|x|) + 1, but joins against the container side's
    FULL shingle stream — containment puts no upper bound on |y|,
    so y cannot take a prefix (the shared shingles may all sit at
    y's common end). If none of x's prefix shingles appear anywhere
    in y, the overlap is confined to x's last ceil(tau*|x|) - 1
    shingles — below the required ceil(tau*|x|) (the containment
    form of the prefix-filter lemma, Bayardo et al. 2007 §3.2). The
    only lossless size prune is one-directional: |y| >= tau*|x|.

    Scale shape: identical corpus passes to the Jaccard join (the
    explode / df hash-agg / per-doc sort are shared work at the
    plan level), candidate generation joins |prefix| x full-stream
    on the shingle key — per-key fan-out is df_prefix(t) *
    df_all(t), kept tiny by rarest-first prefixes; the same
    planning-scalar guard raises past ``max_candidate_pairs``
    (containment has no approximate LSH fallback: MinHash estimates
    Jaccard, not containment, so the guard only raises)."""
    if arr is None:
        arr = rarity_sorted_shingles(df, text_col, id_col, shingle_n)
    pre = arr.select(
        F.col(id_col).alias("_ida"),
        F.col("n").alias("_na"),
        F.explode(
            F.expr(
                f"slice(arr, 1, greatest(n - (({threshold_micro} * n "
                f"+ 999999) div 1000000) + 1, 1))"
            )
        ).alias("t"),
    )
    full = arr.select(
        F.col(id_col).alias("_idb"),
        F.col("n").alias("_nb"),
        F.explode("arr").alias("t"),
    )
    if max_candidate_pairs is not None:
        pc = pre.groupBy("t").agg(
            F.count(F.lit(1)).cast("long").alias("_pc")
        )
        fc = full.groupBy("t").agg(
            F.count(F.lit(1)).cast("long").alias("_fc")
        )
        est = (
            pc.join(fc.hint("shuffle_hash"), "t")
            .agg(F.coalesce(F.sum(F.expr("_pc * _fc")), F.lit(0)))
            .collect()[0][0]
        )
        if est > max_candidate_pairs:
            raise ValueError(
                f"prefix_containment_pairs: {est:,} prefix-x-stream "
                f"candidates exceed max_candidate_pairs="
                f"{max_candidate_pairs:,} — widen shingle_n (a shared "
                "shingle must be EVIDENCE of duplication) or exact-dedup "
                "the mass-identical docs upstream"
            )
    cand = (
        pre.join(full.hint("shuffle_hash"), "t")
        .where(
            (F.col("_ida") != F.col("_idb"))
            # lossless one-directional size bound: inter <= |y| and
            # inter >= tau*|x| force 1e6*|y| >= thr*|x|
            & (
                F.lit(1_000_000) * F.col("_nb")
                >= F.lit(threshold_micro) * F.col("_na")
            )
        )
        .select("_ida", "_idb")
        .distinct()
    )
    va = arr.select(
        F.col(id_col).alias("_ida"),
        F.col("arr").alias("_aa"),
        F.col("n").alias("_na"),
    ).hint("shuffle_hash")
    vb = arr.select(
        F.col(id_col).alias("_idb"),
        F.col("arr").alias("_ab"),
        F.col("n").alias("_nb"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect("_aa", "_ab")).cast("long")
    return (
        cand.join(va, "_ida")
        .join(vb, "_idb")
        .withColumn("inter", inter)
        .where(
            F.lit(1_000_000) * F.col("inter")
            >= F.lit(threshold_micro) * F.col("_na")
        )
        .select(
            F.col("_ida").alias("contained_id"),
            F.col("_idb").alias("container_id"),
            "inter",
            F.col("_na").alias("n_contained"),
            F.col("_nb").alias("n_container"),
            F.expr("(1000000 * inter + _na div 2) div _na")
            .cast("long")
            .alias("containment_micro"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 8,
) -> DataFrame:
    """MinHash signature per document over character ``shingle_n``-grams.

    Hash family: md5 per (seed, shingle), SLICED into four 8-hex-char
    (32-bit) values — h_{4i+j} = min over shingles of
    substr(md5('<i>|' || sh), 8j+1, 8). Lexicographic min over fixed-
    width hex == numeric min over the 32-bit slice, and one md5 feeds
    four hash functions, so signature cost is num_hashes/4 md5 calls
    per shingle. Portable: any engine's md5 agrees bit-for-bit.

    Default shingle_n=8, NOT the 3 used by exact n-gram Jaccard: with
    3-char shingles every same-language document pair shares 30-50% of
    its shingle set (English trigram saturation), so LSH bands collide
    for nearly ALL pairs — measured 9.7M candidates over 5k docs.
    8-char shingles make unrelated docs' Jaccard ≈ 0, keeping LSH
    candidate count linear in true near-dups.

    Output: (id, h0..h{k-1}). One explode + one groupBy(id): linear
    scan cost, shuffle keyed on the (unique) doc id. (A zero-shuffle
    array_min(transform(...)) per-row fold is semantically identical
    but measured ~2x SLOWER here: higher-order functions evaluate
    interpreted per element, while explode + groupBy runs whole-stage
    codegen with map-side partial aggregation — the shuffle it pays
    for is the already-combined one-row-per-doc signature table.)
    """
    n_seeds = (num_hashes + 3) // 4
    # repartition by id so hashing parallelism doesn't depend on the
    # scan's file splits (a small single-file corpus reads as ONE
    # partition and would md5 single-threaded). groupBy(id) below
    # reuses this partitioning, so it adds no extra shuffle — it
    # *moves* the shuffle before the md5 work.
    par = df.sparkSession.sparkContext.defaultParallelism
    exploded = df.select(F.col(id_col), F.col(text_col)).repartition(
        par, F.col(id_col)
    ).select(
        F.col(id_col), F.explode(char_shingles(text_col, shingle_n)).alias("sh")
    ).select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"{i}|"), F.col("sh"))).alias(f"m{i}")
            for i in range(n_seeds)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"m{k // 4}"), 8 * (k % 4) + 1, 8)).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 8,
    threshold: float = 0.8,
    estimate_gate: float = 0.5,
    materialize: bool = True,
    hot_bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → banded
    candidates → signature-estimate gate → exact-jaccard verification
    (precision 1.0 among gated candidates).

    Signatures are materialized once (eager localCheckpoint): the
    banded self-join reads both sides from the stored result instead
    of racing to recompute the explode+md5 lineage per side (lazy
    .cache() does NOT dedupe concurrent first computations). Recall
    at j=0.8 with 16 hashes / 8 bands of 2: 1-(1-0.64)^8 ≈ 0.9997.

    The estimate gate: before paying the exact shingle-set
    intersection, each candidate's sketch similarity (fraction of
    matching minhash values — 16 integer comparisons against the
    already-checkpointed signatures) must reach ``estimate_gate``.
    A single band collision (j ~ 0) passes ~2/16; a true near-dup
    (j >= 0.8) fails 0.5 with P(Binom(16,0.8) < 8) ≈ 1.5e-3 —
    negligible next to the LSH recall itself. This typically cuts the
    verification set by ~100x. The gate is DETERMINISTIC (same md5
    family in any engine), so an oracle computing the same sketches
    reproduces the output bit-for-bit. Set estimate_gate=0.0 to
    verify every banded candidate.

    ``materialize=False`` skips every stage localCheckpoint so the
    WHOLE pipeline stays one inspectable lazy plan — used by
    tools/plan_proofs.py to receipt the join strategy (checkpointed
    stages are invisible in the final executed-plan string);
    production callers keep the default.
    Output: (id_a, id_b, jaccard) for verified pairs."""
    _ckpt = (lambda d: d.localCheckpoint()) if materialize else (lambda d: d)
    sigs = _ckpt(minhash_signatures(df, text_col, id_col, num_hashes, shingle_n))
    par = df.sparkSession.sparkContext.defaultParallelism
    # band melt CARRYING the signature columns: the estimate gate
    # evaluates inline on the band self-join's output, so the gate
    # costs zero extra joins (the alternative — joining the candidate
    # ids back to `sigs` twice — adds two shuffle joins and runs the
    # distinct on the larger pre-gate pair set). The melt shuffle
    # carries bands x signature bytes per doc, comparable to what the
    # two id-keyed sig joins would move anyway.
    bands = num_hashes // rows_per_band
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    melted = sigs.select(
        F.col(id_col), *[F.col(f"h{i}") for i in range(num_hashes)], *band_cols
    ).select(
        F.col(id_col),
        *[F.col(f"h{i}") for i in range(num_hashes)],
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_key")
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, *[f"h{i}" for i in range(num_hashes)], "bk.band_idx", "bk.band_key")
    if hot_bucket_cap is not None:
        # HOT-BUCKET GUARD: one band key shared by B docs yields B²/2
        # candidates in that bucket alone — boilerplate/empty-doc
        # sketches make such degenerate keys a certainty at corpus
        # scale, and a single 1M-doc bucket is 5e11 pairs. Buckets
        # above the cap are dropped BEFORE the self-join; the window
        # count partitions by the same (band_idx, band_key) the join
        # shuffles on, so it reuses that exchange rather than adding
        # one. Recall cost is confined to docs whose every collision
        # is hot — i.e. mass-duplicated content, which exact dedup
        # (dedup_exact_groups, one linear hash-agg) removes upstream
        # for a fraction of the cost; run it first, as
        # dedup_pipeline_summary does. Not a silent cap: pair it with
        # lsh_bucket_stats, which reports the dropped-bucket census.
        from pyspark.sql.window import Window

        melted = melted.withColumn(
            "_bsz",
            F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_key")),
        ).filter(F.col("_bsz") <= hot_bucket_cap).drop("_bsz")
    ma = melted.select(
        F.col(id_col).alias(f"{id_col}_a"), "band_idx", "band_key",
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)],
    )
    mb = melted.select(
        F.col(id_col).alias(f"{id_col}_b"), "band_idx", "band_key",
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)],
    )
    est = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ) / float(num_hashes)
    cands = ma.join(mb, ["band_idx", "band_key"], "inner").filter(
        F.col(f"{id_col}_a") < F.col(f"{id_col}_b")
    )
    if estimate_gate > 0.0:
        cands = cands.filter(est >= estimate_gate)
    cands = cands.select(f"{id_col}_a", f"{id_col}_b").distinct()
    # materialize the (tiny) gated candidate set: it feeds BOTH the
    # id-prune below and the verification join, and a lazy plan would
    # re-run the banded self-join for each. The explicit-count
    # repartition sits ON the checkpoint boundary so the stored
    # partitioning — which the exact-jaccard verification join reads —
    # is the full-parallelism spread, not whatever AQE coalesced the
    # last gate shuffle down to (~1 partition for a small candidate
    # set, serializing every array_intersect)
    cands = _ckpt(cands.repartition(par, F.col(f"{id_col}_a")))
    # exact shingle sets ONLY for docs that appear in a candidate
    # pair: the broadcast semi join prunes the corpus BEFORE the
    # per-row shingle HOF, so verification cost scales with the
    # candidate count, not the corpus — at 100 TB the difference
    # between re-shingling every document and re-shingling the ~1e-4
    # that LSH surfaced
    cand_ids = (
        cands.select(F.col(f"{id_col}_a").alias(id_col))
        .unionByName(cands.select(F.col(f"{id_col}_b").alias(id_col)))
        .distinct()
    )
    # materialized once: BOTH sides of the verification join read this
    # shingle projection — without the checkpoint each side re-runs
    # the per-row shingle HOF over the candidate docs (the projection
    # is already pruned to candidates, so it's small by construction)
    sh = _ckpt(
        df.join(F.broadcast(cand_ids), id_col, "left_semi")
        .select(F.col(id_col), char_shingles(text_col, shingle_n).alias("sh"))
    )
    a = sh.select(F.col(id_col).alias(f"{id_col}_a"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col(id_col).alias(f"{id_col}_b"), F.col("sh").alias("b_sh"))
    verified = (
        cands.join(a, f"{id_col}_a").join(b, f"{id_col}_b")
        .withColumn("jaccard", _jaccard("a_sh", "b_sh"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(f"{id_col}_a", f"{id_col}_b", "jaccard")


def minhash_lsh_pairs_delta(
    old_docs: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 8,
    threshold: float = 0.8,
    estimate_gate: float = 0.5,
    old_sigs: DataFrame | None = None,
    batch_sigs: DataFrame | None = None,
    hot_bucket_cap: int | None = 10_000,
) -> DataFrame:
    """DELTA near-dup pairs for an APPEND-ONLY corpus: exactly the
    `minhash_lsh_pairs` pairs of ``old_docs ∪ batch`` that TOUCH the
    batch (old×new and new×new) — the incremental-ingest half of the
    pair graph, so a growing corpus never re-self-joins its history.

    Decomposition correctness: signatures are per-document (identical
    whichever run computes them), band collision / estimate gate /
    exact-jaccard verification are all PAIRWISE predicates — so
    pairs(old ∪ batch) = pairs(old) ∪ delta EXACTLY, and a standing
    pair store plus this delta reproduces the from-scratch graph
    (unit- and oracle-pinned via `extend_training_manifest`). The one
    non-pairwise knob is ``hot_bucket_cap``: a band bucket can cross
    the cap only once the batch lands, in which case the from-scratch
    run also drops the bucket's OLD pairs — run the incremental chain
    capless (or monitor `lsh_bucket_stats` and re-baseline when a
    bucket crosses) if byte-equality with from-scratch matters.

    APPEND-ONLY CONTRACT: every ``batch`` id must exceed every
    ``old_docs`` id. This is what keeps min-label cluster
    representatives stable under growth (a merged component's min is
    always an OLD doc's id — `extend_training_manifest` relies on it)
    and makes "pair touches the batch" equal to "larger endpoint is a
    batch id".

    ``old_sigs`` injects the standing signature table (the shipped
    run's `minhash_signatures`, session-cacheable) so history is not
    re-hashed; omitted, old signatures are recomputed (still no old
    self-join). ``batch_sigs`` likewise injects the batch's own
    signatures when the caller already has them (must be
    materialized — both melts read it). Plan shape: melt(all) ⋈ melt(batch) on
    (band_idx, band_key) — the candidate join's right side is
    batch-sized, verification shingles only candidate docs.
    Output: (id_a, id_b, jaccard), id_a < id_b."""
    spark = batch.sparkSession
    par = spark.sparkContext.defaultParallelism
    sigs_new = (
        batch_sigs
        if batch_sigs is not None
        else minhash_signatures(
            batch, text_col, id_col, num_hashes, shingle_n
        ).localCheckpoint()  # read by the all-side AND new-side melts
    )
    sigs_old = (
        old_sigs
        if old_sigs is not None
        else minhash_signatures(old_docs, text_col, id_col, num_hashes, shingle_n)
    )
    bands = num_hashes // rows_per_band

    def melt(sigs: DataFrame) -> DataFrame:
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias(f"band{b}")
            for b in range(bands)
        ]
        return sigs.select(
            F.col(id_col), *[F.col(f"h{i}") for i in range(num_hashes)],
            *band_cols,
        ).select(
            F.col(id_col),
            *[F.col(f"h{i}") for i in range(num_hashes)],
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"band{b}").alias("band_key"),
                    )
                    for b in range(bands)
                ])
            ).alias("bk"),
        ).select(
            id_col, *[f"h{i}" for i in range(num_hashes)],
            "bk.band_idx", "bk.band_key",
        )

    melt_all = melt(sigs_old.unionByName(sigs_new))
    if hot_bucket_cap is not None:
        # same hazard, same remedy as minhash_lsh_pairs — sized on the
        # GROWN bucket (the cap's at-scale semantics)
        from pyspark.sql.window import Window

        melt_all = melt_all.withColumn(
            "_bsz",
            F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_key")),
        ).filter(F.col("_bsz") <= hot_bucket_cap).drop("_bsz")
    ma = melt_all.select(
        F.col(id_col).alias(f"{id_col}_a"), "band_idx", "band_key",
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)],
    )
    mb = melt(sigs_new).select(
        F.col(id_col).alias(f"{id_col}_b"), "band_idx", "band_key",
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)],
    )
    est = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ) / float(num_hashes)
    # a < b keeps old×new (old ids are smaller by contract) and
    # orients new×new; new×old duplicates are excluded by it too
    cands = ma.join(mb, ["band_idx", "band_key"], "inner").filter(
        F.col(f"{id_col}_a") < F.col(f"{id_col}_b")
    )
    if estimate_gate > 0.0:
        cands = cands.filter(est >= estimate_gate)
    cands = (
        cands.select(f"{id_col}_a", f"{id_col}_b")
        .distinct()
        .repartition(par, F.col(f"{id_col}_a"))
        .localCheckpoint()  # feeds the id-prune AND the verify join
    )
    docs_all = old_docs.select(id_col, text_col).unionByName(
        batch.select(id_col, text_col)
    )
    cand_ids = (
        cands.select(F.col(f"{id_col}_a").alias(id_col))
        .unionByName(cands.select(F.col(f"{id_col}_b").alias(id_col)))
        .distinct()
    )
    sh = (
        docs_all.join(F.broadcast(cand_ids), id_col, "left_semi")
        .select(F.col(id_col), char_shingles(text_col, shingle_n).alias("sh"))
        .localCheckpoint()  # both verify sides read this projection
    )
    a = sh.select(F.col(id_col).alias(f"{id_col}_a"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col(id_col).alias(f"{id_col}_b"), F.col("sh").alias("b_sh"))
    verified = (
        cands.join(a, f"{id_col}_a").join(b, f"{id_col}_b")
        .withColumn("jaccard", _jaccard("a_sh", "b_sh"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(f"{id_col}_a", f"{id_col}_b", "jaccard")


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 8,
    hot_bucket_cap: int = 10_000,
) -> DataFrame:
    """Band-bucket census: the telemetry twin of ``minhash_lsh_pairs``'
    ``hot_bucket_cap`` — the cap must never be silent, so this is the
    report a pipeline runs alongside (or before) the capped join.

    Per band: number of distinct buckets, the largest bucket, the
    exact candidate-pair count Σ B·(B-1)/2 the band join would emit,
    and how many buckets/docs the cap would drop. A planner reads
    this to budget the join or tune the cap; at 100 TB it is one
    linear melt + two hash-aggs, no self-join.

    Output: (band_idx, n_buckets, max_bucket, candidate_pairs,
    hot_buckets, hot_docs), one row per band.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    bands = num_hashes // rows_per_band
    melted = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("band_key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("bk.band_idx", "bk.band_key")
    buckets = melted.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("bs")
    )
    hot = F.col("bs") > hot_bucket_cap
    return buckets.groupBy("band_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("bs").cast("long").alias("max_bucket"),
        F.sum(F.col("bs") * (F.col("bs") - 1) / 2).cast("long").alias("candidate_pairs"),
        F.sum(F.when(hot, 1).otherwise(0)).cast("long").alias("hot_buckets"),
        F.sum(F.when(hot, F.col("bs")).otherwise(0)).cast("long").alias("hot_docs"),
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document from whitespace tokens.

    Token hash = first 16 hex chars of md5(token) (64 bits). Each
    bit votes +1/-1 weighted by token occurrence; simhash bit = 1 if
    the vote sum > 0. Built from 16 hex-nibble columns so the whole
    computation stays in JVM integer arithmetic (nibble value =
    position in '0123456789abcdef').

    Output: (id, simhash (long), plus 4 16-bit chunk columns c0..c3
    for Hamming-bucket joins).
    """
    # repartition by id: decouple token-hash parallelism from file
    # splits (see minhash_signatures); the groupBy(id) vote
    # aggregation reuses the partitioning.
    toks = df.select(F.col(id_col), F.col(text_col)).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    hashed = toks.withColumn("th", F.substring(F.md5(F.col("tok")), 1, 16))
    # nibble value columns n0..n15 (0..15 each)
    for i in range(16):
        hashed = hashed.withColumn(
            f"n{i}",
            (F.instr(F.lit("0123456789abcdef"), F.substring("th", i + 1, 1)) - 1)
            .cast("int"),
        )
    # per-bit votes: bit j of nibble i (j=3 is MSB of the nibble)
    vote_aggs = []
    for i in range(16):
        for j in range(4):
            bit = F.shiftright(F.col(f"n{i}"), 3 - j).bitwiseAND(F.lit(1))
            vote_aggs.append(
                F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{i * 4 + j}")
            )
    votes = hashed.groupBy(id_col).agg(*vote_aggs)
    # assemble the 64-bit simhash (bit 0 = MSB) and 4 16-bit chunks
    sim = F.lit(0).cast("long")
    for k in range(64):
        sim = sim + F.when(F.col(f"v{k}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(2 ** (63 - k) if k > 0 else -(2 ** 63)).cast("long")
    out = votes.withColumn("simhash", sim)
    for c in range(4):
        chunk = F.lit(0).cast("long")
        for k in range(16):
            bit_idx = c * 16 + k
            chunk = chunk + F.when(
                F.col(f"v{bit_idx}") > 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long")) * F.lit(2 ** (15 - k)).cast("long")
        out = out.withColumn(f"c{c}", chunk)
    return out.select(id_col, "simhash", "c0", "c1", "c2", "c3")


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hot_bucket_cap: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dup pairs: bucket on each of the 4 16-bit chunks
    (pigeonhole: Hamming <= 3 over 64 bits ⇒ at least one chunk
    equal), then verify the exact Hamming distance as the sum of
    per-chunk popcounts of XOR (chunk arithmetic only — portable,
    no signed-64 assembly).
    Output: (id_a, id_b, hamming)."""
    if max_hamming > 3:
        raise ValueError(
            "4-chunk pigeonhole candidates guarantee recall only for "
            f"max_hamming <= 3 (got {max_hamming}); pairs farther apart "
            "may share no 16-bit chunk and would be silently missed"
        )
    # materialize once: both sides of the chunk self-join read the
    # stored signatures instead of re-running the token explode +
    # 64-way vote aggregation per side (see minhash_lsh_pairs)
    sigs = simhash64(df, text_col, id_col).localCheckpoint()
    return _sig_near_pairs(sigs, id_col, max_hamming, hot_bucket_cap)


def _sig_near_pairs(
    sigs: DataFrame,
    id_col: str,
    max_hamming: int,
    hot_bucket_cap: int | None = 10_000,
    hot_bucket_guard: int | None = None,
) -> DataFrame:
    """Candidate+verify tail over pre-built simhash signatures —
    shared by the batch pair-finder and the incremental dedup.

    ``hot_bucket_cap``: same hazard and remedy as
    ``minhash_lsh_pairs`` — a 16-bit chunk value shared by B docs
    (template/boilerplate corpora cluster HARD in simhash space)
    yields B²/2 candidates from one bucket; buckets above the cap are
    dropped before the self-join. Mass-identical docs are exact
    dedup's job upstream.

    ``hot_bucket_guard`` (only with ``hot_bucket_cap=None``): the
    capless-with-guard shape for callers whose oracle is the exact
    capless twin — instead of silently dropping hot buckets (which
    would diverge from a capless oracle) OR silently exploding
    B²/2 pairs, a bucket above the guard FAILS LOUD via a runtime
    assert riding the same window count the cap path pays (an
    ``assert_true`` inside a filter — a plain dropped column would
    be pruned away by the optimizer)."""
    if hot_bucket_cap is not None and hot_bucket_guard is not None:
        raise ValueError(
            "_sig_near_pairs: hot_bucket_cap and hot_bucket_guard are "
            "mutually exclusive (cap silently DROPS hot buckets, guard "
            "FAILS LOUD on them) — pass exactly one, or cap=None for "
            "the guarded capless shape"
        )
    chunk_cols = [f"c{c}" for c in range(4)]
    melted = sigs.select(
        F.col(id_col), *chunk_cols,
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk_idx"), F.col(f"c{c}").alias("chunk_key"))
                for c in range(4)
            ])
        ).alias("ck"),
    ).select(id_col, *chunk_cols, "ck.chunk_idx", "ck.chunk_key")
    if hot_bucket_cap is not None:
        from pyspark.sql.window import Window

        melted = melted.withColumn(
            "_bsz",
            F.count(F.lit(1)).over(Window.partitionBy("chunk_idx", "chunk_key")),
        ).filter(F.col("_bsz") <= hot_bucket_cap).drop("_bsz")
    elif hot_bucket_guard is not None:
        from pyspark.sql.window import Window

        melted = (
            melted.withColumn(
                "_bsz",
                F.count(F.lit(1)).over(
                    Window.partitionBy("chunk_idx", "chunk_key")
                ),
            )
            .filter(
                F.assert_true(
                    F.col("_bsz") <= F.lit(int(hot_bucket_guard)),
                    F.concat(
                        F.lit(
                            "_sig_near_pairs: capless signature bucket "
                            "exceeds guard "
                        ),
                        F.lit(str(int(hot_bucket_guard))),
                        F.lit(" (chunk_idx="),
                        F.col("chunk_idx").cast("string"),
                        F.lit(", size="),
                        F.col("_bsz").cast("string"),
                        F.lit(") — B²/2 pair blowup; dedup the "
                              "mass-identical docs upstream"),
                    ),
                ).isNull()
            )
            .drop("_bsz")
        )
    a = melted.select(
        F.col(id_col).alias(f"{id_col}_a"),
        *[F.col(c).alias(f"a_{c}") for c in chunk_cols],
        "chunk_idx", "chunk_key",
    )
    b = melted.select(
        F.col(id_col).alias(f"{id_col}_b"),
        *[F.col(c).alias(f"b_{c}") for c in chunk_cols],
        "chunk_idx", "chunk_key",
    )
    cands = (
        a.join(b, ["chunk_idx", "chunk_key"], "inner")
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(
            f"{id_col}_a", f"{id_col}_b",
            *[f"a_{c}" for c in chunk_cols], *[f"b_{c}" for c in chunk_cols],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")))
        for c in chunk_cols
    ).cast("long")
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(f"{id_col}_a", f"{id_col}_b", "hamming")
    )


def exact_dedup_stream(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    event_time_col: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST document per
    normalized-content fingerprint across all microbatches — the
    incremental twin of exact_dedup_groups for a continuously
    ingesting corpus.

    Spark's streaming dropDuplicates keeps per-key state; with an
    ``event_time_col`` + watermark the fingerprint state is bounded
    (duplicates arriving later than the delay pass through — the
    standard trade at 100 TB/day ingest); without one, state grows
    with the distinct-document count (exact forever, like the
    reference's unbounded stores).
    """
    fp = df.withColumn("fp", fingerprint_md5(text_col))
    if event_time_col is not None:
        fp = fp.withWatermark(event_time_col, watermark_delay)
        # dedup on the fingerprint ALONE with state expiring at the
        # watermark — dropDuplicates([fp, time]) would wrongly treat
        # same content at different times as distinct
        return fp.dropDuplicatesWithinWatermark(["fp"]).drop("fp")
    return fp.dropDuplicates(["fp"]).drop("fp")


def incremental_simhash_dedup(
    batch_df: DataFrame,
    seen_store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dedup ONE microbatch against all history: the incremental
    corpus near-dedup a continuously-ingesting 100 TB pipeline runs
    (exact_dedup_stream only removes byte-identical repeats; this
    removes hamming<=3 SimHash neighbors seen in ANY earlier batch).

    Multi-key LSH state doesn't fit a single streaming dropDuplicates
    key (a doc owns 4 chunk buckets; a doc is a dup if ANY matches),
    so state lives in a durable bucket store instead — the
    foreachBatch-with-external-state pattern:

    1. in-batch: simhash_near_pairs over the batch; of every near-pair
       the larger id is dropped (deterministic keeper = min id).
    2. history: left-anti join the survivors' (chunk_idx, chunk_val)
       keys against the store — any hit means a neighbor candidate
       was already admitted, so the doc is dropped. The 16-bit-chunk
       pigeonhole guarantees recall for hamming<=3, same as the batch
       operator; precision is the bucket's (collisions drop a
       non-neighbor — the conservative direction for training data).
    3. admit: append the survivors' bucket keys to the store.

    The store is hash-partitioned parquet keyed by (chunk_idx,
    chunk_val) — at scale, a Delta/Iceberg table with the same layout;
    the anti-join stays an equi-join on the bucket key either way.
    Wire with streaming/runner.py:start_foreach_batch_sink:
    ``lambda b, _id: sink(incremental_simhash_dedup(b, store))``.
    Exactly-once admission requires an idempotent downstream sink
    (foreachBatch is at-least-once on replay).
    """
    import os

    spark = batch_df.sparkSession
    sigs = simhash64(batch_df, text_col, id_col).localCheckpoint()
    # 1. in-batch near-pairs: drop the larger id of each pair
    pairs = _sig_near_pairs(sigs, id_col, max_hamming)
    losers = pairs.select(F.col(f"{id_col}_b").alias(id_col)).distinct()
    survivors = sigs.join(losers, id_col, "left_anti")
    # 2. the survivors' bucket keys vs the history store
    keys = survivors.select(
        id_col,
        F.posexplode(F.array("c0", "c1", "c2", "c3")).alias("chunk_idx", "chunk_val"),
    )
    if os.path.isdir(seen_store_path) and any(
        f.endswith(".parquet") for f in os.listdir(seen_store_path)
    ):
        seen = spark.read.parquet(seen_store_path)
        hit = keys.join(seen, ["chunk_idx", "chunk_val"], "left_semi").select(
            id_col
        ).distinct()
        survivors = survivors.join(hit, id_col, "left_anti")
    # materialize the surviving signatures BEFORE the store append:
    # their lineage reads the store, and lazily re-scanning a path
    # while appending to it would race the file listing
    survivors = survivors.localCheckpoint()
    # 3. admit the fresh docs' buckets
    survivors.select(
        F.posexplode(F.array("c0", "c1", "c2", "c3")).alias("chunk_idx", "chunk_val")
    ).distinct().write.mode("append").parquet(seen_store_path)
    return survivors.select(id_col).join(batch_df, id_col).select(*batch_df.columns)


def near_dup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    pairs_materialized: bool = False,
    driver_max_edges: int | None = 200_000,
) -> DataFrame:
    """Connected components over near-dup pairs: the final step of a
    corpus dedup pipeline — pair lists don't dedup anything until they
    become clusters with one keeper each (cluster_id = min id in the
    component, which IS the keeper under this engine's min-id rule).

    Min-label propagation WITH POINTER JUMPING, DataFrame-only (the
    same driver-loop shape as kmeans_buckets): every node starts
    labeled with itself; each round every node takes the min of its
    own and its neighbors' labels, then path-halves by replacing its
    label with its label's label (one self-join of the node-sized
    label table). Plain propagation needs diameter rounds — a
    pathological chain component at corpus scale is thousands of
    shuffles; halving makes it O(log diameter) total. Each round is
    one shuffle keyed on the (uniform) node id plus the label-table
    self-join, and labels are localCheckpoint'd so lineage stays
    flat. Only the per-round change COUNT reaches the driver.

    Input: (id_a, id_b[, ...]) pairs. Output: (id, cluster_id) for
    every id that appears in at least one pair (singletons are not
    emitted — they are their own keeper by definition).

    ``pairs_materialized=True`` promises the input is already
    localCheckpoint-ed (pipeline callers that checkpoint pairs for
    their own reuse) — skips a redundant re-materialization job.

    SMALL-GRAPH ESCAPE: near-dup pair graphs are SPARSE by
    construction (LSH hot-bucket caps bound bucket fan-out; exact
    dedup removes mass-duplicates upstream), and the incremental
    chains run this on AFFECTED SUBGRAPHS of a few hundred edges —
    where every distributed round is ~10 multi-task stages of pure
    scheduling (r14 PERF: manifest_extend_census ran FASTER on 8
    cores than 32). When the (already-materialized) edge count is
    <= ``driver_max_edges``, the components are computed with one
    collect + union-find-by-min (exactly min-label semantics, the
    same test/oracle pins) and returned as a 1-slice frame — the
    same sketch-sized driver-decision pattern as the zero-job join
    advisor. The count is a metadata read of the checkpointed edge
    RDD, and 200k edges x 2 longs is well under driver headroom; at
    100 TB an out-of-cap graph falls through to the distributed
    loop unchanged. ``driver_max_edges=None`` disables the escape.
    """
    a, b = f"{id_col}_a", f"{id_col}_b"
    edges = pairs.select(a, b)
    if not pairs_materialized:
        edges = edges.localCheckpoint()
    if driver_max_edges is not None and edges.count() <= driver_max_edges:
        parent: dict = {}

        def _find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for row in edges.collect():
            va, vb = row[0], row[1]
            if va not in parent:
                parent[va] = va
            if vb not in parent:
                parent[vb] = vb
            ra, rb = _find(va), _find(vb)
            if ra != rb:
                # union by min label: the smaller root stays root, so
                # every root IS its component's min id at all times
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = sorted((v, _find(v)) for v in parent)
        spark = pairs.sparkSession
        id_type = edges.schema[0].dataType
        schema = StructType(
            [
                StructField(id_col, id_type, True),
                StructField("cluster_id", id_type, True),
            ]
        )
        return spark.createDataFrame(
            spark.sparkContext.parallelize(out, 1), schema
        )
    und = edges.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).unionByName(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
    # init already IS round 1's propagation: label(v) = min(v, direct
    # neighbors) in one aggregation — same one-shuffle cost as the
    # identity init, one fewer driver-synchronized round overall
    labels = (
        und.select(F.col("dst").alias(id_col), F.col("src").alias("cluster_id"))
        .unionByName(
            und.select(
                F.col("src").alias(id_col), F.col("src").alias("cluster_id")
            )
        )
        .groupBy(id_col)
        .agg(F.min("cluster_id").alias("cluster_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        def _propagate() -> DataFrame:
            msgs = und.join(
                labels.select(
                    F.col(id_col).alias("src"),
                    F.col("cluster_id").alias("nbr_label"),
                ),
                "src",
            ).select(F.col("dst").alias(id_col), F.col("nbr_label"))
            return labels.unionByName(
                msgs.withColumnRenamed("nbr_label", "cluster_id")
            ).groupBy(id_col).agg(F.min("cluster_id").alias("cluster_id"))

        # pointer jump: label <- label(label). Every cluster_id IS a
        # node id (labels are minima over node ids), so the lookup is
        # a left join of the one-row-per-node label table against
        # itself. ONE materialization per round: the jump's build side
        # is an independently constructed propagate plan (fresh
        # expression ids — a direct self-reference of the lazy agg
        # breaks Catalyst), and recomputing the tiny label-table agg
        # once more inside the same job is cheaper than a second
        # checkpoint barrier per round.
        jump = _propagate().select(
            F.col(id_col).alias("cluster_id"),
            F.col("cluster_id").alias("_jump"),
        )
        new_labels = (
            _propagate()
            .join(jump, "cluster_id", "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("_jump"), F.col("cluster_id")).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), id_col)
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def _span_windows(
    df: DataFrame, id_col: str, text_col: str, span_len: int
) -> DataFrame:
    """Every overlapping ``span_len``-char window with its 1-based
    start position: (id, pos, span). Short documents produce no rows."""
    return df.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(
            F.expr(
                f"sequence(1, greatest(length({text_col}) - {span_len - 1}, 1))"
            )
        ).alias("pos"),
    ).select(
        id_col,
        "pos",
        F.col(text_col).substr(F.col("pos"), F.lit(span_len)).alias("span"),
    ).filter(F.length("span") == span_len)


def remove_shared_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 16,
    min_run_len: int | None = None,
) -> DataFrame:
    """Exact-substring dedup ACTION (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'): emit CLEANED text
    with duplicated character runs removed, not just a report.

    Semantics — per overlapping ``span_len``-char span VALUE shared by
    >= 2 distinct documents, the doc with the MIN id (this engine's
    keeper convention, `exact_dedup_groups`) keeps its occurrences;
    every other doc removes all characters covered by its occurrences
    of that span. Overlapping/adjacent removable occurrences within a
    doc union into maximal runs, so the cut is per character, and the
    surviving characters concatenate in order. A doc that is keeper
    for every span it shares (or shares nothing) passes through
    unchanged.

    ``min_run_len`` (Lee et al. cut only duplicated runs of >= ~50
    tokens; fixed ``span_len``-char windows alone over-cut
    boilerplate-adjacent text) keeps a merged run UNLESS it spans at
    least that many characters: runs are unioned first, then filtered,
    then cut — so two barely-overlapping short occurrences that merge
    past the threshold ARE removed, and an isolated ``span_len``-char
    hit below it is NOT. Default (None -> ``span_len``) cuts every
    merged run, the round-6 behavior, since every run covers >= one
    full span.

    Plan shape (all JVM column exprs, no window over the corpus, no
    per-row Python):

    1. one span-keyed hash-agg -> (span, keeper=min id, n_docs) with
       map-side partials;
    2. one shuffle join (windows x removable spans) keyed on span;
    3. one doc-keyed agg collecting each doc's removable START
       POSITIONS into a sorted int array (bounded by the doc's own
       length — the same order of memory as the text itself);
    4. one `F.aggregate` fold merges the sorted starts into maximal
       runs (start, end) — adjacent/overlapping intervals union —
       then `F.filter` drops runs under ``min_run_len``, and a second
       fold over the surviving (disjoint, sorted) runs rebuilds the
       kept text with a moving cursor. Both folds are per-doc array
       exprs inside whole-stage codegen.

    At 100 TB, run steps 1-2 on md5(span) instead of the raw span
    (16-byte shuffle keys instead of raw text x span_len; equality is
    all the pipeline needs, exactly like `repeated_span_topk`'s
    documented scale path).

    Output: (id, text, rewritten, chars_removed, runs_merged,
    runs_cut) — runs_merged counts a doc's maximal removable runs
    before the threshold, runs_cut after (equal when min_run_len is
    the default).
    """
    if min_run_len is None:
        min_run_len = span_len
    w = _span_windows(docs, id_col, text_col, span_len)
    stats = (
        w.groupBy("span")
        .agg(
            F.min(id_col).alias("_keeper"),
            F.countDistinct(id_col).alias("_nd"),
        )
        .filter(F.col("_nd") >= 2)
        .select("span", "_keeper")
    )
    rem = (
        w.join(stats, "span")
        .filter(F.col(id_col) != F.col("_keeper"))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_poss"))
    )
    return _rewrite_from_positions(
        docs, rem, id_col, text_col, span_len, min_run_len
    )


def _rewrite_from_positions(
    docs: DataFrame,
    rem: DataFrame,
    id_col: str,
    text_col: str,
    span_len: int,
    min_run_len: int,
) -> DataFrame:
    """Shared rebuild of `remove_shared_spans` / the incremental span
    dedup: given ``rem`` = (id, _poss sorted removable-start array),
    merge starts into maximal runs, drop runs under ``min_run_len``,
    cut the survivors, and emit (id, text, rewritten, chars_removed,
    runs_merged, runs_cut)."""
    # fold 1: sorted starts -> maximal merged runs [(s, e)], 1-based
    # inclusive. A start p covers [p, p+span_len-1]; it extends the
    # open run when p <= e+1 (overlap or adjacency — identical union
    # semantics to the round-6 moving-cursor fold).
    empty_runs = F.array().cast("array<struct<s:int,e:int>>")
    run_struct = lambda s, e: F.struct(  # noqa: E731
        s.cast("int").alias("s"), e.cast("int").alias("e")
    )
    merged = F.aggregate(
        "_poss",
        F.struct(
            empty_runs.alias("r"),
            F.lit(-1).alias("s"),
            F.lit(-1).alias("e"),
        ),
        lambda acc, p: F.when(
            acc["s"] < 0,
            F.struct(
                acc["r"].alias("r"),
                p.cast("int").alias("s"),
                (p + F.lit(span_len - 1)).cast("int").alias("e"),
            ),
        )
        .when(
            p <= acc["e"] + 1,
            F.struct(
                acc["r"].alias("r"),
                acc["s"].alias("s"),
                F.greatest(acc["e"], (p + F.lit(span_len - 1)).cast("int"))
                .alias("e"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(
                    acc["r"], F.array(run_struct(acc["s"], acc["e"]))
                ).alias("r"),
                p.cast("int").alias("s"),
                (p + F.lit(span_len - 1)).cast("int").alias("e"),
            )
        ),
        lambda acc: F.when(acc["s"] < 0, acc["r"]).otherwise(
            F.concat(acc["r"], F.array(run_struct(acc["s"], acc["e"])))
        ),
    )
    kept_runs = F.filter(
        F.col("_runs"), lambda r: r["e"] - r["s"] + 1 >= F.lit(min_run_len)
    )
    # fold 2: cut the surviving runs (disjoint + sorted, so the cursor
    # only moves forward and substr lengths are never negative)
    rebuilt = F.aggregate(
        "_cut",
        F.struct(F.lit("").alias("t"), F.lit(1).alias("c")),
        lambda acc, r: F.struct(
            F.concat(
                acc["t"],
                F.col(text_col).substr(acc["c"], r["s"] - acc["c"]),
            ).alias("t"),
            (r["e"] + 1).alias("c"),
        ),
        lambda acc: F.concat(
            acc["t"],
            F.col(text_col).substr(acc["c"], F.length(text_col)),
        ),
    )
    return (
        docs.select(id_col, text_col)
        .join(rem, id_col, "left")
        .withColumn("_runs", F.when(F.col("_poss").isNotNull(), merged))
        .withColumn("_cut", kept_runs)
        .select(
            id_col,
            text_col,
            F.when(F.col("_poss").isNull(), F.col(text_col))
            .otherwise(rebuilt)
            .alias("rewritten"),
            F.coalesce(F.size("_runs"), F.lit(0))
            .cast("long")
            .alias("runs_merged"),
            F.coalesce(F.size("_cut"), F.lit(0))
            .cast("long")
            .alias("runs_cut"),
        )
        .withColumn(
            "chars_removed",
            (F.length(text_col) - F.length("rewritten")).cast("long"),
        )
        .select(
            id_col, text_col, "rewritten", "chars_removed",
            "runs_merged", "runs_cut",
        )
    )


def incremental_span_dedup(
    batch_df: DataFrame,
    span_store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 16,
    min_run_len: int | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Exact-substring dedup for a CONTINUOUSLY-INGESTING corpus —
    the incremental twin of `remove_shared_spans`, completing the
    incremental family (exact docs `exact_dedup_stream`, simhash
    `incremental_simhash_dedup`, semantic `similarity.py`): each new
    document is span-checked against every span ever ADMITTED, its
    duplicated runs are cut BEFORE admission, and then its ORIGINAL
    spans are admitted so later arrivals dedup against it.

    Semantics per batch (matches the batch operator when docs arrive
    in ascending ``id_col`` order across batches — the
    incremental==batch contract the test pins):

    * an occurrence of span value v in doc d is removable iff
      min(store keeper of v, min batch id holding v) < d — i.e. some
      EARLIER distinct doc (prior batch or same batch) carries v;
    * removable starts merge into maximal runs, runs under
      ``min_run_len`` are spared, survivors are cut
      (`_rewrite_from_positions`, identical to the batch fold);
    * admission records md5(span) -> MIN doc id ever seen, from the
      ORIGINAL text (batch semantics: a cut doc's spans still make it
      the keeper for docs after it).

    The store is md5(span)-keyed parquet, hash-bucket-partitioned
    like the incremental semantic-dedup store; a key's bucket never
    moves, so `compaction.upsert_snapshot` (touched-partition
    pruned dynamic overwrite) maintains it — with ``_ord = -keeper``
    as the order column, so the compaction's latest-wins becomes
    MIN-keeper-wins. The lookup is one shuffle-hash join on the
    16-byte hash; at 100 TB both sides shard uniformly (same shape as
    `exact_dedup_groups`). Wire with
    streaming/runner.py:start_foreach_batch_sink:
    ``lambda b, _id: sink(incremental_span_dedup(b, store))``;
    re-admission on at-least-once replay is idempotent (min of an
    already-present keeper).

    Output: the batch docs with (id, text, rewritten, chars_removed,
    runs_merged, runs_cut) — `remove_shared_spans`' schema.
    """
    from pyspark.sql.utils import AnalysisException

    from umn_eda_kafka_stream_processing_spark.operators.compaction import (
        upsert_snapshot,
    )

    if min_run_len is None:
        min_run_len = span_len
    spark = batch_df.sparkSession
    w = (
        _span_windows(batch_df, id_col, text_col, span_len)
        .withColumn("h", F.md5("span"))
        .drop("span")
        .localCheckpoint()
    )
    bstats = w.groupBy("h").agg(F.min(id_col).alias("_bmin"))
    try:
        store = spark.read.parquet(span_store_path).select("h", "keeper")
    except AnalysisException:
        store = None
    if store is None:
        hit = bstats.select("h", F.col("_bmin").alias("_kc"))
    else:
        hit = bstats.join(store.hint("shuffle_hash"), "h", "left").select(
            "h",
            F.least(
                F.coalesce("keeper", F.col("_bmin")), F.col("_bmin")
            ).alias("_kc"),
        )
    rem = (
        w.join(hit.hint("shuffle_hash"), "h")
        .filter(F.col("_kc") < F.col(id_col))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_poss"))
    )
    # materialize the rewrite before admission mutates the store its
    # lineage (via `hit`) reads
    out = _rewrite_from_positions(
        batch_df.select(id_col, text_col), rem, id_col, text_col,
        span_len, min_run_len,
    ).localCheckpoint()
    admit = (
        w.groupBy("h")
        .agg(F.min(id_col).cast("long").alias("keeper"))
        .withColumn("_bkt", F.pmod(F.hash("h"), F.lit(n_buckets)))
        .withColumn("_ord", -F.col("keeper"))
    )
    upsert_snapshot(
        spark, span_store_path, admit, "h",
        order_col="_ord", partition_cols=["_bkt"],
    )
    return out


def remove_duplicate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style LINE-level dedup across the corpus (Raffel et al.
    2020 §2.2 run line dedup before doc filters; the granularity
    between exact-doc and overlapping-span dedup): every line whose
    normalized form (trimmed) appears more than once in the corpus is
    removed EVERYWHERE except its single canonical occurrence — the
    (min doc_id, then min line index) one, extending this engine's
    keeper convention to occurrences. Blank lines are never deduped
    (they are formatting, not content).

    Plan: two hash-aggs on the md5 line key (keeper doc, then keeper
    index within that doc — both map-side partial), one join back to
    the exploded lines, and a per-doc rebuild via sorted
    collect_list + concat_ws. No corpus-wide window, no Python.
    At 100 TB this is the same shape as exact_dedup_groups: 16-byte
    shuffle keys, near-uniform distribution.

    Output: (id, text, rewritten, lines_total, lines_removed).
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("idx", "line"),
    ).withColumn("lk", F.md5(F.trim(F.col("line"))))
    content = lines.filter(F.trim(F.col("line")) != "")
    keeper_doc = content.groupBy("lk").agg(
        F.min(id_col).alias("_kd"),
        F.count(F.lit(1)).alias("_n"),
    )
    # canonical occurrence: min index WITHIN the keeper doc
    keeper_idx = (
        content.join(keeper_doc, "lk")
        .filter((F.col(id_col) == F.col("_kd")) & (F.col("_n") >= 2))
        .groupBy("lk", "_kd")
        .agg(F.min("idx").alias("_ki"))
    )
    flagged = lines.join(keeper_idx, ["lk"], "left")
    return (
        flagged.withColumn(
            "_drop",
            F.col("_kd").isNotNull()
            & ~((F.col(id_col) == F.col("_kd")) & (F.col("idx") == F.col("_ki"))),
        )
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("_drop"), F.struct("idx", "line")
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias("rewritten"),
            F.count(F.lit(1)).cast("long").alias("lines_total"),
            F.sum(F.when(F.col("_drop"), 1).otherwise(0))
            .cast("long")
            .alias("lines_removed"),
        )
        .join(docs.select(id_col, text_col), id_col)
        .select(id_col, text_col, "rewritten", "lines_total", "lines_removed")
    )
