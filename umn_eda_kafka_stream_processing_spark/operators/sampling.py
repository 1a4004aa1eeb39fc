"""Deterministic sampling operators for training-data curation.

A 100 TB corpus is never trained on whole: pipelines carve it with
uniform samples (smoke sets), per-stratum rates (language balancing),
fixed-size per-stratum draws (eval sets), and domain-weighted
mixtures (the training recipe). Every operator here is DETERMINISTIC
and ENGINE-PORTABLE: the sampling key is the first 8 hex chars of
md5(salt|key) read as a 32-bit integer, and every rate is applied as
an exact integer threshold ``u32 < floor(rate * 2^32)`` — no doubles,
no RNG state, so reruns/retries/different engines select the SAME
rows (the DuckDB oracles prove it bit-for-bit).

Scale notes:
* bernoulli/stratified are NARROW ops — a filter over the scan, no
  shuffle; at 100 TB they cost one pass and prune immediately.
* fixed k-per-stratum uses a ranking window WITHIN each stratum;
  Catalyst plans the ``row_number <= k`` filter as WindowGroupLimit
  (per-partition partial top-k), so a hot stratum never materializes
  more than k rows per task before the final per-stratum merge.
* the mixture sampler aggregates once to per-domain counts (tiny),
  broadcasts the rate table back, then filters — one narrow pass plus
  one broadcast join; no fact-side shuffle.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize

# 2^32 — the sampling-key space. Thresholds are exact integers in
# [0, 2^32]; rate 1.0 maps to 2^32 which every u32 is strictly below.
KEY_SPACE = 1 << 32


def sample_key_u32(key: Column | str, salt: str = "smp") -> Column:
    """First 32 bits of md5('<salt>|' || key) as a non-negative long.

    Portable: any engine's md5 agrees bit-for-bit; DuckDB twin is
    ``cast(concat('0x', substr(md5('<salt>|' || key), 1, 8)) as bigint)``.
    """
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt + "|"), c.cast("string"))), 1, 8), 16, 10)
        .cast("long")
    )


def rate_threshold(rate: float) -> int:
    """Exact integer threshold for a sampling rate in [0, 1]."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return int(rate * KEY_SPACE)


def bernoulli_sample(df: DataFrame, key_col: str, rate: float) -> DataFrame:
    """Uniform deterministic sample: keep rows with u32(key) < rate·2^32.

    Narrow (no shuffle). Unlike ``df.sample()`` the selection is a pure
    function of the row key, so retries, speculative tasks, and other
    engines reproduce it exactly.
    """
    return df.filter(sample_key_u32(key_col) < F.lit(rate_threshold(rate)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: Mapping[str, float],
) -> DataFrame:
    """Per-stratum bernoulli rates (e.g. language balancing); strata
    missing from ``rates`` keep no rows.

    The rate lookup is a literal CASE expression — evaluated JVM-side
    inside the same narrow filter as the hash, so the whole operator
    stays in one WholeStageCodegen pass over the scan.
    """
    thr: Column = F.lit(0)
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == stratum, F.lit(rate_threshold(rate))).otherwise(thr)
    return df.filter(sample_key_u32(key_col) < thr)


def uniform_k_per_stratum(
    df: DataFrame,
    strata_col: str | Sequence[str],
    key_col: str,
    k: int,
    salt: str = "smp",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, drawn uniformly.

    Ordering by (hash, key) inside each stratum is a uniform permutation
    with a deterministic tie-break, so the first k rows are a uniform
    without-replacement draw. The ``row_number <= k`` filter plans as
    WindowGroupLimit: each task pre-prunes to its local top-k before
    the per-stratum shuffle, so a billion-row stratum moves only
    k rows per map partition.
    """
    from pyspark.sql.window import Window

    keys = [strata_col] if isinstance(strata_col, str) else list(strata_col)
    w = Window.partitionBy(*keys).orderBy(
        sample_key_u32(key_col, salt).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("draw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("draw_rank") <= k)
    )


def weighted_sample_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    strata_cols: str | Sequence[str] = (),
    salt: str = "wrs",
) -> DataFrame:
    """Weighted random sampling WITHOUT replacement — the A-Res /
    exponential-race scheme (Efraimidis & Spirakis 2006, a public
    algorithm): each row draws a deterministic u in (0,1) from
    md5(salt|key) and competes with priority -ln(u)/w ascending; the
    k smallest priorities per stratum are distributed exactly like k
    sequential weighted draws without replacement. This is the
    data-mixing primitive `uniform_k_per_stratum` lacks: heavier
    rows (token counts, quality weights) are proportionally likelier
    to be drawn, and inclusion is a pure function of the key — the
    split_assign re-ingestion stability property.

    Portability: u = (u32 + 0.5) / 2^32 is an exact dyadic double
    (never 0 or 1); priority_micro = floor((-ln(u)) / w * 1e6 + 0.5)
    is ONE ln per row on that exact input, 6dp micro-rounded and
    only ever COMPARED (the charlm ln rule — transcendentals are
    safe to rank, never to sum raw); ties break on the key.
    ``weight_col`` must be a POSITIVE integral column — exact on
    both engines, and the fixed double-op order (-ln, /w, *1e6) is
    what the oracle mirrors.

    Plan: the row_number <= k filter plans as WindowGroupLimit —
    each task pre-prunes to its local top-k before the per-stratum
    shuffle (the uniform_k_per_stratum shape), so a billion-row
    stratum moves only k rows per map partition.
    """
    from pyspark.sql.window import Window

    keys = (
        [strata_cols] if isinstance(strata_cols, str) else list(strata_cols)
    )
    u = (
        sample_key_u32(key_col, salt).cast("double") + F.lit(0.5)
    ) / F.lit(float(KEY_SPACE))
    prio = F.floor(
        (-F.log(u))
        / F.col(weight_col).cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    scored = df.withColumn("priority_micro", prio)
    if not keys:
        # a global draw must never plan an unpartitioned Window (one
        # task sorts the corpus — explain_audit fails it); global_topk
        # is TakeOrderedAndProject
        from umn_eda_kafka_stream_processing_spark.operators.core import (
            global_topk,
        )

        out = global_topk(
            scored, [("priority_micro", True), (key_col, True)], k
        )
        return out.withColumnRenamed("rank", "draw_rank")
    w = Window.partitionBy(*keys).orderBy(
        F.col("priority_micro").asc(), F.col(key_col).asc()
    )
    return (
        scored.withColumn("draw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("draw_rank") <= k)
    )


def domain_mixture_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    weights: Mapping[str, int],
    target_total: int,
) -> DataFrame:
    """Sample toward a weighted domain mixture (the training recipe).

    Domain d with integer weight w_d gets a target of
    ``target_total * w_d / sum(w)`` rows; its bernoulli threshold is
    the EXACT integer ``(target * w_d * 2^32) div (sum_w * count_d)``,
    capped at 2^32 (domains smaller than their target keep everything
    — deterministic "epoch oversampling" is the caller's next step).
    Domains absent from ``weights`` get weight 0 (dropped).

    Plan shape: one hash-agg to per-domain counts (|domains| rows), a
    broadcast join of that tiny rate table back onto the fact, then
    the same narrow hash filter as bernoulli_sample — the fact side
    never shuffles.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    wsum = sum(weights.values())
    wmap = F.create_map(
        *[x for d, wt in sorted(weights.items()) for x in (F.lit(d), F.lit(int(wt)))]
    )
    counts = (
        df.groupBy(F.col(domain_col).alias("_dom"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_w", F.coalesce(wmap[F.col("_dom")], F.lit(0)).cast("long"))
        .withColumn(
            "_thr",
            F.least(
                F.lit(KEY_SPACE).cast("long"),
                F.expr(f"({target_total} * _w * {KEY_SPACE}) div ({wsum} * _cnt)"),
            ),
        )
        .select("_dom", "_thr")
    )
    return (
        df.join(F.broadcast(counts), df[domain_col] == counts["_dom"], "inner")
        .filter(sample_key_u32(key_col) < F.col("_thr"))
        .drop("_dom", "_thr")
    )


def temperature_rate_table(
    df: DataFrame,
    domain_col: str,
    size_col: Column | str,
    target_total: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-weighted mixture RATES derived from the corpus
    itself (the GPT-3/LLaMA recipe: domain weight ∝ tokens^alpha,
    alpha < 1 upweights small domains): returns one row per domain —
    (domain, n_docs, n_tokens, w_micro, thr) — where thr is the
    doc-level u32 acceptance threshold that lands the domain at its
    share of ``target_total`` tokens in expectation.

    Portability: pow(n_tokens, alpha) is ONE transcendental per
    DISTINCT domain on an exact-integer double, micro-rounded to
    BIGINT (the charlm ln rule, extended to pow); the threshold is
    computed in a fixed double-op order — (target * w) / (W_double *
    n) * 2^32, floored — identical on both engines, and the
    selection itself is the exact integer u32-threshold compare. A
    domain whose fair share exceeds its size keeps everything
    (thr = 2^32 — epoch oversampling is the caller's next step).

    Plan: one hash-agg to per-domain totals (|domains| rows), one
    one-row crossJoin for the weight sum — nothing corpus-sized
    moves."""
    size = F.col(size_col) if isinstance(size_col, str) else size_col
    agg = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(size).cast("long").alias("n_tokens"),
    )
    wts = agg.withColumn(
        "w_micro",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    total = wts.agg(F.sum("w_micro").cast("long").alias("_W"))
    return (
        wts.crossJoin(F.broadcast(total))
        .withColumn(
            "thr",
            F.least(
                F.lit(KEY_SPACE).cast("long"),
                F.floor(
                    (F.lit(float(target_total)) * F.col("w_micro"))
                    / (F.col("_W").cast("double") * F.col("n_tokens"))
                    * F.lit(float(KEY_SPACE))
                ).cast("long"),
            ),
        )
        .select("domain", "n_docs", "n_tokens", "w_micro", "thr")
    )


def temperature_mixture_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    size_col: Column | str,
    target_total: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Apply `temperature_rate_table`: broadcast the tiny rate table
    onto the fact and keep rows whose u32 sampling key clears their
    domain's threshold — the same narrow one-pass filter as
    `bernoulli_sample`; the fact side never shuffles."""
    rates = temperature_rate_table(
        df, domain_col, size_col, target_total, alpha
    )
    # rates derives from df, so its key must carry a reserved alias:
    # an unqualified F.col("domain") is AMBIGUOUS_REFERENCE whenever
    # the caller's domain_col is itself named "domain" (the CLAUDE.md
    # derived-side join trap).
    return (
        df.join(
            F.broadcast(
                rates.select(F.col("domain").alias("_mix_domain"), "thr")
            ),
            df[domain_col] == F.col("_mix_domain"),
        )
        .filter(sample_key_u32(key_col, "mix") < F.col("thr"))
        .drop("_mix_domain", "thr")
    )


def repeat_mixture_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    size_col: str,
    targets: Mapping[str, int],
) -> DataFrame:
    """UPSAMPLING mixture with repeat factors — the other half of
    `token_budget_mixture_sample`: when a domain's target EXCEEDS its
    available mass, the curation recipe repeats the domain for
    multiple epochs (the published LLaMA/Gopher mixture tables show
    small high-quality sources repeated 2-3×; public literature).
    Per domain d with available token mass A_d and target T_d:

    * every doc gets ``full_epochs = T_d div A_d`` base repeats;
    * the remainder ``T_d mod A_d`` is filled by the SAME A-Res
      token-mass admission as the budget sampler — the shortest
      md5-priority prefix whose mass reaches the remainder gets one
      extra repeat (`_histogram_budget_admit`: the distributed
      histogram cut, no per-domain total-order window).

    Realized mass = full_epochs·A_d + (remainder within one doc), so
    it lands within ONE DOC of T_d. ``T_d < A_d`` degrades to pure
    downsampling (repeats ∈ {0, 1}); ``T_d = 0`` drops the domain.
    Deterministic md5 priorities: retries/engines repeat the same
    docs. Returns the targeted domains' (positive-size) rows with an
    ``n_repeats`` column, FILTERED to n_repeats >= 1 — the training
    manifest; expand with `epoch_shuffle` per epoch downstream.

    Plan: one |domains|-sized plan frame (avail/full/remainder)
    broadcast back; admission is the shared histogram tail; the flag
    rides one renamed-key join — the corpus shuffles once on the
    admission key and once on the flag join, never sorts globally.
    CONTRACT: ``key_col`` must be unique across the whole frame (the
    usual doc-id), or the flag join cross-marks rows.
    """
    if not targets:
        raise ValueError("targets must be non-empty")
    spark = df.sparkSession
    ttab = spark.createDataFrame(
        [(d, int(t)) for d, t in sorted(targets.items())],
        ["_rep_domain", "target_tokens"],
    )
    base = (
        df.where(F.col(size_col) > 0)
        .join(
            F.broadcast(ttab),
            F.col(domain_col) == F.col("_rep_domain"),
            "inner",
        )
        .drop("_rep_domain")
    )
    # ALL planning/admission inputs ride ONE checkpointed skinny
    # projection (domain, key, size, target): the plan aggregate, the
    # priority table, and the histogram tail's ~4 consumers each
    # inlined the caller's full `df` lineage before — for the manifest
    # chains that lineage is keepers→split (two corpus shuffles per
    # evaluation), and the repeated-subtree plan took longer to
    # ANALYZE than to run (1.4 s construct at sf0.1). Skinny int-ish
    # columns only: the checkpoint-the-compressed-frames rule — the
    # document payload crosses exactly one join, at the end, attached
    # by key (guide §2.3/§8: shuffle the proxy, move payloads once).
    sk0 = materialize(
        base.select(
            domain_col, key_col, size_col, "target_tokens"
        ),
        Why.SHARED,
    )
    plan = (
        sk0.groupBy(domain_col)
        .agg(
            F.sum(F.col(size_col).cast("long")).alias("avail_tokens"),
            F.min("target_tokens").alias("_t"),
        )
        .select(
            domain_col,
            F.expr("_t div avail_tokens").cast("long").alias("full_epochs"),
            (F.col("_t") % F.col("avail_tokens"))
            .cast("long")
            .alias("domain_budget"),
        )
    )
    u = (
        sample_key_u32(key_col, "rep").cast("double") + F.lit(0.5)
    ) / F.lit(float(KEY_SPACE))
    prio = F.floor(
        (-F.log(u))
        / F.col(size_col).cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    skinny = sk0.join(F.broadcast(plan), domain_col).withColumn(
        "priority_micro", prio
    )
    admitted = _histogram_budget_admit(
        skinny.select(
            domain_col, key_col, size_col, "priority_micro", "domain_budget"
        ),
        domain_col, key_col, size_col, "domain_budget",
    )
    adm = admitted.select(
        F.col(key_col).alias("_adm_key"), F.lit(1).alias("_adm")
    )
    out_cols = [c for c in df.columns]
    # the single full-width pass: flags and epochs attach by key/domain
    # (priority is admission-internal — never recomputed here)
    return (
        base.join(F.broadcast(plan), domain_col)
        .join(
            adm.hint("shuffle_hash"),
            F.col(key_col) == F.col("_adm_key"),
            "left",
        )
        .withColumn(
            "n_repeats",
            (F.col("full_epochs") + F.coalesce(F.col("_adm"), F.lit(0)))
            .cast("long"),
        )
        .filter(F.col("n_repeats") >= 1)
        .select(*out_cols, "n_repeats")
    )


def _budget_table(
    spark, weights: Mapping, total_budget: int, min_budget: int = 0
) -> tuple[DataFrame, int]:
    """Per-domain exact integer budgets B_d = total·w_d div Σw as a
    tiny broadcast-able rate TABLE (_bud_domain, domain_budget) —
    not an N-branch F.when chain, which is a codegen/analysis hazard
    at thousands of domains (round-10 verdict #6; the
    temperature_mixture_sample broadcast-join shape, reserved-alias
    rule). Returns (table, max_budget)."""
    if not weights:
        raise ValueError("weights must be non-empty")
    wsum = sum(weights.values())
    rows = [
        (d, max((total_budget * int(wt)) // wsum, min_budget))
        for d, wt in sorted(weights.items())
    ]
    tbl = spark.createDataFrame(rows, ["_bud_domain", "domain_budget"])
    return tbl, max(b for _, b in rows)


def token_budget_mixture_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    size_col: str,
    weights: Mapping[str, int],
    total_budget: int,
    window_budget_max: int = 1_000_000,
) -> DataFrame:
    """Token-BUDGET-constrained mixture sampling — the real curation
    ask behind `temperature_mixture_sample`'s rates: "give me exactly
    ~B tokens per domain at these weights", a budget rather than a
    rate (and the weighted twin of `sample_k_per_source`, which caps
    DOCS per stratum where this caps token MASS).

    Domain d with integer weight w_d gets the exact integer budget
    ``B_d = total_budget * w_d div sum(w)``. Within each domain, docs
    are ordered by the A-Res priority of `weighted_sample_k` (weight
    = ``size_col``, so inclusion probability is token-mass
    proportional and the prefix of the order is distributed like
    sequential weighted draws without replacement), and the sample is
    the shortest prefix whose running token sum reaches the budget:
    a doc is kept iff the running total BEFORE it is < B_d. Realized
    tokens therefore land within ONE DOC of B_d (>= B_d when the
    domain has the mass, overshooting by less than the crossing doc;
    a domain smaller than its budget keeps everything). Zero-weight
    and absent domains drop entirely. Deterministic: priority is a
    pure md5 function of the key — re-ingestion, retries, and engine
    swaps select the same docs.

    Plan shape — TWO regimes, picked by the largest per-domain budget
    (``window_budget_max``, the documented small-budget threshold):

    * **Window path** (max B_d <= window_budget_max): because
      ``size_col`` must be a POSITIVE integral column, at most B_d
      docs can fit a B_d budget — so a ``row_number() <= B_d`` filter
      FIRST is a lossless pre-prune that plans as WindowGroupLimit
      (each task keeps its local top-B_d before the domain shuffle);
      the running-sum window then scans only the pruned prefix. Adds
      ``draw_rank`` and ``cum_tokens`` columns.
    * **Histogram path** (max B_d above the threshold): the window
      path's surviving prefix can hold up to B_d rows, and at a
      realistic 1e9-token budget that is ~1e9 rows sorted and
      prefix-summed through ONE per-domain window reducer (the
      round-10 scale gap). Instead, each domain's CUT PRIORITY is
      found distributively via the grouped two-level histogram
      (`ranking._grouped_with_below`, weight = token mass over
      priority_micro — per-group aggregates joined back, every
      window frame bounded by a bucket, no per-domain total order
      anywhere): a priority value with below + mass <= B_d is
      fully admitted (narrow filter), below >= B_d fully dropped,
      and only the single CROSSING priority value per domain — a
      handful of md5-tied rows — pays a tiny per-(domain, priority)
      tie-rank window. Identical kept set (property-tested against
      the same Python replica on both paths).

    Budgets ride a broadcast rate table (`_budget_table`), never an
    N-branch CASE chain — safe at thousands of domains.
    """
    if total_budget < 0:
        raise ValueError(f"total_budget must be >= 0, got {total_budget}")
    btab, max_budget = _budget_table(
        df.sparkSession, weights, total_budget
    )
    u = (
        sample_key_u32(key_col, "bud").cast("double") + F.lit(0.5)
    ) / F.lit(float(KEY_SPACE))
    prio = F.floor(
        (-F.log(u))
        / F.col(size_col).cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    base = (
        # non-positive/NULL sizes are undefined mass: a 0 weight makes
        # the priority NULL, which sorts FIRST in the asc window and
        # would win every draw (the round-5 NULL-argmax trap) — drop
        # them at the row filter, the weighted_quantiles rule
        df.where(F.col(size_col) > 0)
        # inner join: absent domains drop (weight-0 semantics); the
        # rate table needs the reserved alias (derived-side rule)
        .join(
            F.broadcast(btab),
            F.col(domain_col) == F.col("_bud_domain"),
            "inner",
        )
        .drop("_bud_domain")
        .withColumn("priority_micro", prio)
    )
    if max_budget <= window_budget_max:
        w = Window.partitionBy(domain_col).orderBy(
            F.col("priority_micro").asc(), F.col(key_col).asc()
        )
        ranked = (
            base.withColumn("draw_rank", F.row_number().over(w).cast("long"))
            # lossless WindowGroupLimit pre-prune: sizes are >= 1, so
            # no budget-B prefix can hold more than B docs (global cap
            # keeps the literal independent of the domain column)
            .filter(F.col("draw_rank") <= F.lit(max_budget))
        )
        cum = ranked.withColumn(
            "cum_tokens",
            F.sum(F.col(size_col).cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        return cum.filter(
            (F.col("cum_tokens") - F.col(size_col)) < F.col("domain_budget")
        )
    # histogram path: distributed per-domain cut priority
    return _histogram_budget_admit(
        base, domain_col, key_col, size_col, "domain_budget"
    )


def _histogram_budget_admit(
    base: DataFrame,
    domain_col: str,
    key_col: str,
    size_col: str,
    budget_col: str,
) -> DataFrame:
    """The distributed large-budget admission tail shared by
    `token_budget_mixture_sample` and `incremental_budget_admission`:
    admit each domain's A-Res prefix (priority_micro asc, key asc)
    while the running mass BEFORE a row stays under ``budget_col``
    (a per-row column — the incremental caller passes the REMAINING
    budget after consumed mass). ``budget_col`` must be constant
    within a domain. No per-domain total-order window: the cut comes
    from the grouped histogram; only the crossing priority value per
    domain pays a tiny tie window."""
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        _grouped_with_below,
    )

    dv = base.groupBy(domain_col, "priority_micro").agg(
        F.sum(F.col(size_col).cast("long")).alias("_mass")
    )
    # dv is CORPUS-sized (md5 priorities are effectively unique), so
    # every joined-back aggregate pins shuffle_hash — the static
    # planner would SMJ-sort both corpus-sized sides otherwise
    bel = _grouped_with_below(
        dv, [domain_col], "priority_micro", "_mass", 4096,
        join_hint="shuffle_hash",
    )
    j = base.join(
        bel.hint("shuffle_hash"), [domain_col, "priority_micro"]
    )
    full = (F.col("below") + F.col("_mass")) <= F.col(budget_col)
    dead = F.col("below") >= F.col(budget_col)
    kept_full = j.filter(full)
    # the crossing priority: below < B < below + mass — at most ONE
    # priority value per domain (below is monotone in priority, mass
    # positive), so this frame holds only that value's md5 ties
    wb = Window.partitionBy(domain_col, "priority_micro").orderBy(
        F.col(key_col).asc()
    )
    boundary = (
        j.filter(~full & ~dead)
        .withColumn(
            "_tcum",
            F.sum(F.col(size_col).cast("long")).over(
                wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(
            (F.col("below") + F.col("_tcum") - F.col(size_col))
            < F.col(budget_col)
        )
        .drop("_tcum")
    )
    return kept_full.unionByName(boundary).drop("below", "_mass")


def _with_consumed(
    frame: DataFrame,
    prior: DataFrame | None,
    batch_id: int,
    store_col: str,
    col: str,
    mass: Column,
) -> DataFrame:
    """``frame`` with ``_consumed``: the ``mass`` the admitted store rows
    of OTHER batches hold per ``col`` value (0 without any). Store
    columns are canonical (domain/cluster, key, batch_id), independent of
    the caller's column names; excluding THIS batch_id is what makes a
    replay see the pre-batch state."""
    if prior is None:
        return frame.withColumn("_consumed", F.lit(0).cast("long"))
    consumed = (
        prior.filter(F.col("batch_id") != int(batch_id))
        .groupBy(F.col(store_col).alias(col))
        .agg(mass.cast("long").alias("_consumed"))
    )
    return frame.join(F.broadcast(consumed), col, "left").withColumn(
        "_consumed", F.coalesce(F.col("_consumed"), F.lit(0))
    )


def incremental_budget_admission(
    spark,
    store_path: str,
    batch_df: DataFrame,
    domain_col: str,
    key_col: str,
    size_col: str,
    budgets: Mapping[str, int],
    batch_id: int,
    window_budget_max: int = 1_000_000,
) -> DataFrame:
    """Online token-budget admission — the foreachBatch twin of
    `token_budget_mixture_sample`: a continuously-arriving corpus is
    admitted per domain until that domain's token budget fills, with
    the admitted set persisted in a parquet store.

    Semantics are GREEDY-ONLINE, documented as such: within a batch,
    docs compete in the same A-Res token-mass priority order as the
    batch operator; ACROSS batches, earlier batches fill the budget
    first (a global priority order over not-yet-seen docs is impossible
    online). Each domain admits while tokens-consumed-so-far is under
    its budget, so realized mass lands within one doc of B_d once the
    stream has supplied enough mass.

    Replay safety (the incremental-family contract): consumed totals
    are computed from the store EXCLUDING rows carrying THIS
    batch_id — a replayed batch therefore sees exactly the pre-batch
    state, recomputes the identical admitted set, and its latest-wins
    upsert (keyed by (domain, key)) rewrites identical rows — a
    no-op. Consumption is never stored as a counter (the
    read-modify-add trap); it is COUNTED at read from admitted rows.

    Both admission regimes of the batch operator apply, picked by
    the largest REMAINING budget: consumed mass folds into a
    per-domain ``_remaining = max(budget - consumed, 0)`` column, so
    the window path admits on ``cum_before < remaining`` and the
    large-budget path reuses `_histogram_budget_admit` — a backfill
    microbatch with billions of rows never funnels a domain through
    one window reducer.

    Returns the batch's admitted frame (domain, key, size, batch_id).
    """
    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    if not budgets:
        raise ValueError("budgets must be non-empty")
    store = SnapshotStore(spark, store_path, ["domain", "key"], order="event_seq")
    # budgets ride a broadcast rate table, never an N-branch CASE
    # chain (codegen hazard at thousands of domains — round-10 #6);
    # the inner join drops unknown domains, same as the old -1 gate
    btab = spark.createDataFrame(
        [(d, int(b)) for d, b in sorted(budgets.items())],
        ["_bud_domain", "_budget"],
    )
    max_budget = max(int(b) for b in budgets.values())
    u = (
        sample_key_u32(key_col, "bud").cast("double") + F.lit(0.5)
    ) / F.lit(float(KEY_SPACE))
    prio = F.floor(
        (-F.log(u))
        / F.col(size_col).cast("double")
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    base = (
        batch_df.where(F.col(size_col) > 0)
        .join(
            F.broadcast(btab),
            F.col(domain_col) == F.col("_bud_domain"),
            "inner",
        )
        .drop("_bud_domain")
        .withColumn("priority_micro", prio)
    )

    def step(prior: DataFrame | None) -> DataFrame:
        cand = _with_consumed(
            base, prior, batch_id, "domain", domain_col, F.sum("size")
        )
        # fold consumed mass into a per-domain remaining budget:
        # "consumed + cum_before < budget" == "cum_before < remaining"
        cand = cand.withColumn(
            "_remaining",
            F.greatest(
                (F.col("_budget") - F.col("_consumed")).cast("long"),
                F.lit(0).cast("long"),
            ),
        )
        if max_budget <= window_budget_max:
            w = Window.partitionBy(domain_col).orderBy(
                F.col("priority_micro").asc(), F.col(key_col).asc()
            )
            ranked = (
                cand.withColumn("_rk", F.row_number().over(w).cast("long"))
                # lossless WindowGroupLimit pre-prune (sizes >= 1, and
                # remaining <= budget <= max_budget)
                .filter(F.col("_rk") <= F.lit(max(max_budget, 1)))
            )
            kept = ranked.withColumn(
                "_cum",
                F.sum(F.col(size_col).cast("long")).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            ).filter(
                (F.col("_cum") - F.col(size_col)) < F.col("_remaining")
            )
        else:
            kept = _histogram_budget_admit(
                cand, domain_col, key_col, size_col, "_remaining"
            )
        return kept.select(
            F.col(domain_col).alias("domain"),
            F.col(key_col).alias("key"),
            F.col(size_col).cast("long").alias("size"),
            F.lit(int(batch_id)).alias("batch_id"),
        )

    # the whole store: a domain's consumed total spans all its keys
    return store.advance(step, F.lit(0))


def incremental_cluster_quota(
    spark,
    store_path: str,
    batch_df: DataFrame,
    cluster_col: str,
    key_col: str,
    quota: int,
    batch_id: int,
) -> DataFrame:
    """Online cluster-quota admission — the foreachBatch twin of the
    cluster-quota diversity draw (`uniform_k_per_stratum` over a
    k-means assignment): a continuously-arriving vector/doc stream
    keeps at most ``quota`` rows per semantic cluster, the admitted
    set persisted in a parquet store. Callers assign ``cluster_col``
    first (ingest-time `assign_ivf_bucket` against the FROZEN
    quantizer — the round-5 train/serve consistency rule).

    Semantics are GREEDY-ONLINE, documented as such: within a batch,
    rows compete in the same (md5 key, key) priority order as the
    batch draw; across batches, earlier batches claim slots first.
    Equivalently: admit rank <= quota under the global order
    (batch_id, md5, key) within each cluster — which is what the
    census oracle unrolls in SQL.

    Replay safety (the incremental-family contract): slots consumed
    are COUNTED at read from store rows EXCLUDING this batch_id
    (never a stored counter — the read-modify-add trap), so a
    replayed batch sees the pre-batch state, recomputes the identical
    admitted set, and its latest-wins upsert keyed (cluster, key) is
    a no-op.

    Scale: the per-cluster rank is row_number <= quota — plans as
    WindowGroupLimit, each task pre-prunes to its local top-quota per
    cluster; consumed counts are one hash-agg over the store.

    Returns the batch's admitted frame (cluster, key, batch_id).
    """
    from umn_eda_kafka_stream_processing_spark.stores import SnapshotStore

    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    store = SnapshotStore(spark, store_path, ["cluster", "key"], order="event_seq")
    w = Window.partitionBy(cluster_col).orderBy(
        sample_key_u32(key_col, "cqs").asc(), F.col(key_col).asc()
    )
    ranked = batch_df.withColumn(
        "_rk", F.row_number().over(w).cast("long")
    ).filter(F.col("_rk") <= quota)

    def step(prior: DataFrame | None) -> DataFrame:
        kept = _with_consumed(
            ranked, prior, batch_id, "cluster", cluster_col, F.count(F.lit(1))
        ).filter(
            F.col("_rk")
            <= F.greatest(
                F.lit(quota).cast("long") - F.col("_consumed"), F.lit(0).cast("long")
            )
        )
        return kept.select(
            F.col(cluster_col).cast("long").alias("cluster"),
            F.col(key_col).alias("key"),
            F.lit(int(batch_id)).alias("batch_id"),
        )

    # the whole store: a cluster's consumed count spans all its keys
    return store.advance(step, F.lit(0))


def split_assign(
    df: DataFrame,
    key_col: str,
    val_rate: float = 0.01,
    test_rate: float = 0.01,
) -> DataFrame:
    """Deterministic train/val/test assignment — adds a ``split``
    column, drops nothing.

    The assignment is a pure function of the row key (same u32
    sampling-key trick as bernoulli_sample, exact integer cut
    points), which is what held-out splits REQUIRE at corpus scale:
    re-ingestion, retries, engine swaps, and incremental appends all
    route a given document to the same split forever, so the test
    set can never leak into training through nondeterminism. Narrow
    op — one hash per row inside the scan's codegen stage, no
    shuffle.

    Cut points: u32 < test·2^32 → test; < (test+val)·2^32 → val;
    else train.
    """
    if val_rate < 0 or test_rate < 0 or val_rate + test_rate > 1:
        raise ValueError(
            f"invalid split rates: val={val_rate} test={test_rate}"
        )
    u = sample_key_u32(key_col, "split")
    test_cut = rate_threshold(test_rate)
    val_cut = test_cut + rate_threshold(val_rate)
    return df.withColumn(
        "split",
        F.when(u < F.lit(test_cut), "test")
        .when(u < F.lit(val_cut), "val")
        .otherwise("train"),
    )


def cluster_safe_split(
    df: DataFrame,
    clusters: DataFrame,
    val_rate: float = 0.01,
    test_rate: float = 0.01,
) -> DataFrame:
    """`split_assign` keyed by the near-dup CLUSTER representative —
    the leakage guard a per-document split lacks: hashing each doc's
    own id routes near-duplicates independently, so ~2·p·(1−p) of
    every near-dup pair STRADDLES the train/held-out boundary and
    the test set leaks into training through its duplicates (the
    classic contamination-by-near-dup bug; Lee et al. 2022 §6.1).
    Keying the hash on ``coalesce(cluster_id, own id)`` sends every
    member of a component — and every doc with no near-dup, exactly
    as `split_assign` would — to the SAME split, making cross-split
    near-dup pairs zero BY CONSTRUCTION (the census pins it).

    ``clusters`` is `near_dup_clusters` output (doc_id, cluster_id)
    — only docs appearing in >= 1 near-dup pair; everything else
    keys on itself via the left join's NULL. One shuffle join on the
    id (shuffle_hash pinned — the cluster frame is checkpoint-built
    and stats-free, an unhinted plan falls to SMJ); the split hash
    itself stays narrow. ``df`` must not already carry
    ``cluster_id`` or ``split``.
    """
    keyed = df.join(
        clusters.select(F.col("doc_id"), "cluster_id").hint("shuffle_hash"),
        "doc_id",
        "left",
    ).withColumn(
        "_skey", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    return split_assign(
        keyed, "_skey", val_rate=val_rate, test_rate=test_rate
    ).drop("_skey", "cluster_id")


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    n_batches: int,
    epoch: int = 0,
) -> DataFrame:
    """Deterministic epoch shuffle for training-data pipelines: adds
    ``batch_id`` (which global batch this row lands in) and
    ``pos_in_batch`` (its position inside the batch).

    The ordering key is md5('shuf-e<epoch>|' || key) — a pure
    function of (epoch, row key), so every epoch is a DIFFERENT but
    fully reproducible permutation: retries, engine swaps, and
    resumed jobs see the same order, and no epoch correlates with
    another or with ingestion order. This is the distributed form of
    "shuffle the dataset each epoch": a global sort by random key
    would serialize at the sink, whereas batch_id = hash % n_batches
    shards the sort into n_batches independent partition-local
    sorts (the window partitions by batch_id — one shuffle, frames
    sort in parallel). At 100 TB n_batches is large (corpus/batch
    budget), so per-frame row counts stay bounded.
    """
    if n_batches <= 0:
        raise ValueError(f"n_batches must be positive, got {n_batches}")
    u = sample_key_u32(key_col, f"shuf-e{epoch}")
    out = df.withColumn("batch_id", (u % F.lit(n_batches)).cast("long"))
    w = Window.partitionBy("batch_id").orderBy(u.asc(), F.col(key_col).asc())
    return out.withColumn(
        "pos_in_batch", F.row_number().over(w).cast("long")
    )
