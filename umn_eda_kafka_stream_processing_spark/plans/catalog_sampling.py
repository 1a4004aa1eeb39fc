"""Deterministic-sampling catalog queries (training-data curation).

Every query is a pure function of md5, so the DuckDB oracles match
bit-for-bit: the sampling key is ``cast('0x' || substr(md5(...),1,8)
as bigint)`` in DuckDB == ``conv(substr(md5(...),1,8),16,10)`` in
Spark, and every rate is an exact integer threshold (no doubles).

These prove the curation path end-to-end: smoke sample -> language
rebalance -> per-source eval draw -> weighted training mixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.caching import Why, materialize
from umn_eda_kafka_stream_processing_spark.operators import sampling as smp
from umn_eda_kafka_stream_processing_spark.plans.registry import register as _register
from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

# DuckDB twin of operators/sampling.py:sample_key_u32
def _duck_key(expr: str, salt: str = "smp") -> str:
    return (
        f"cast(concat('0x', substr(md5(concat('{salt}|', cast({expr} as varchar))), 1, 8)) "
        "as bigint)"
    )


_LANG_RATES = {"en": 0.10, "de": 0.50, "es": 0.40, "fr": 0.50, "zh": 0.40}
_MIX_WEIGHTS = {f"src{i}": (3 if i % 4 == 0 else 1) for i in range(20)}
_MIX_TARGET = 240


@_register(
    "sample_bernoulli_docs",
    "Deterministic 10% uniform document sample via md5-keyed integer "
    "threshold (operators/sampling.py:bernoulli_sample) — narrow filter, "
    "no shuffle, reproducible across engines/retries.",
    f"""
    SELECT doc_id, lang, source, {_duck_key('doc_id')} AS sample_key
    FROM documents
    WHERE {_duck_key('doc_id')} < {smp.rate_threshold(0.10)}
    """,
)
def sample_bernoulli_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return smp.bernoulli_sample(docs, "doc_id", 0.10).select(
        "doc_id", "lang", "source", smp.sample_key_u32("doc_id").alias("sample_key")
    )


@_register(
    "sample_stratified_by_lang",
    "Language-rebalancing stratified sample: per-lang bernoulli rates "
    "applied as literal CASE thresholds inside one narrow codegen filter "
    "(operators/sampling.py:stratified_sample). Output is the per-lang "
    "kept-count, proving the stratum rates bind.",
    f"""
    SELECT lang, cast(count(*) AS bigint) AS kept,
           cast(min(doc_id) AS bigint) AS min_doc_id,
           cast(max(doc_id) AS bigint) AS max_doc_id
    FROM documents
    WHERE {_duck_key('doc_id')} < CASE lang
      {' '.join(f"WHEN '{lang}' THEN {smp.rate_threshold(r)}" for lang, r in sorted(_LANG_RATES.items()))}
      ELSE 0 END
    GROUP BY lang
    """,
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = smp.stratified_sample(docs, "lang", "doc_id", _LANG_RATES)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@_register(
    "sample_k_per_source",
    "Deterministic 5-doc-per-source eval draw: rank by (md5 key, doc_id) "
    "within each source, keep rank<=5 — plans as WindowGroupLimit so each "
    "task pre-prunes to its local top-5 (operators/sampling.py:"
    "uniform_k_per_stratum).",
    f"""
    SELECT source, doc_id, cast(draw_rank AS bigint) AS draw_rank FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_duck_key('doc_id')}, doc_id
             ) AS draw_rank
      FROM documents
    ) WHERE draw_rank <= 5
    """,
)
def sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return smp.uniform_k_per_stratum(docs, "source", "doc_id", k=5).select(
        "source", "doc_id", "draw_rank"
    )


@_register(
    "sample_domain_mixture",
    "Domain-weighted training mixture: per-source counts -> exact integer "
    "thresholds (target*w*2^32 div (wsum*cnt), capped) broadcast back onto "
    "the narrow hash filter (operators/sampling.py:domain_mixture_sample). "
    "Weighted sources get ~3x the rows of unit-weight sources.",
    f"""
    WITH cnt AS (
      SELECT source AS dom, count(*) AS n FROM documents GROUP BY source
    ), thr AS (
      SELECT dom,
             least(
               {smp.KEY_SPACE},
               ({_MIX_TARGET} * CASE WHEN cast(substr(dom, 4) AS bigint) % 4 = 0
                                     THEN 3 ELSE 1 END * {smp.KEY_SPACE})
               // ({sum(_MIX_WEIGHTS.values())} * n)
             ) AS t
      FROM cnt
    )
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN thr ON d.source = thr.dom
    WHERE {_duck_key('d.doc_id')} < thr.t
    """,
)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return smp.domain_mixture_sample(
        docs, "source", "doc_id", _MIX_WEIGHTS, _MIX_TARGET
    ).select("doc_id", "source", "lang")


@_register(
    "split_assignment_stats",
    "Deterministic train/val/test split (operators/sampling.py:"
    "split_assign — md5-keyed integer cut points, so appends/retries/"
    "engines route every doc to the same split forever; narrow, no "
    "shuffle). Output: per (lang, split) doc and char totals proving "
    "the cuts bind identically across engines.",
    f"""
    WITH assigned AS (
      SELECT lang, n_chars,
             CASE WHEN {_duck_key('doc_id', 'split')} < {smp.rate_threshold(0.05)}
                    THEN 'test'
                  WHEN {_duck_key('doc_id', 'split')} < {smp.rate_threshold(0.05) + smp.rate_threshold(0.10)}
                    THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    )
    SELECT lang, split, cast(count(*) AS bigint) AS n_docs,
           cast(sum(n_chars) AS bigint) AS n_chars_total
    FROM assigned GROUP BY lang, split
    """,
)
def split_assignment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assigned = smp.split_assign(docs, "doc_id", val_rate=0.10, test_rate=0.05)
    return assigned.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )


@_register(
    "epoch_shuffle_assignment",
    "Deterministic epoch shuffle (operators/sampling.py:epoch_shuffle): "
    "batch = md5-key % 32, position = rank of the md5 key inside the "
    "batch — a reproducible per-epoch permutation computed as ONE "
    "shuffle on batch_id with parallel partition-local sorts, never a "
    "global sort. Output proves both the batch routing and the exact "
    "in-batch order on both engines.",
    f"""
    WITH keyed AS (
      SELECT doc_id, {_duck_key('doc_id', 'shuf-e1')} AS k FROM documents
    )
    SELECT doc_id, CAST(k % 32 AS BIGINT) AS batch_id,
           CAST(row_number() OVER (PARTITION BY k % 32
                                   ORDER BY k, doc_id) AS BIGINT)
               AS pos_in_batch
    FROM keyed
    """,
)
def epoch_shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return smp.epoch_shuffle(docs, "doc_id", n_batches=32, epoch=1)

_BUDGET_TOTAL = 120_000
_BUDGET_WSUM = sum(_MIX_WEIGHTS.values())


@_register(
    "token_budget_mixture_stats",
    "Token-BUDGET-constrained mixture (operators/sampling.py:"
    "token_budget_mixture_sample) — the curation ask behind "
    "temperature rates stated as a budget: each source gets "
    f"B_d = {_BUDGET_TOTAL}·w_d div {_BUDGET_WSUM} chars, docs order "
    "by the A-Res token-mass priority (md5-deterministic), and the "
    "sample is the shortest prefix whose running char sum reaches "
    "B_d — kept iff the running total BEFORE the doc is under "
    "budget, so realized mass lands within one doc of B_d (a source "
    "smaller than its budget keeps everything — at sf0.01 the "
    "weight-3 sources hit that regime while weight-1 sources cap, "
    "exercising both). Plan: a lossless row_number<=B WindowGroup"
    "Limit pre-prune (sizes are >=1) then the running-sum window on "
    "the pruned prefix; one shuffle on source. Census: per-source "
    "budget, kept docs, realized chars — the oracle re-derives the "
    "identical prefix in SQL, so a single mis-kept doc hash-"
    "mismatches.",
    f"""
    WITH pr AS (
      SELECT source, doc_id, n_chars,
             CAST(floor(
               (-ln((CAST({_duck_key('doc_id', 'bud')} AS DOUBLE) + 0.5)
                    / 4294967296.0))
               / CAST(n_chars AS DOUBLE) * 1000000.0 + 0.5
             ) AS BIGINT) AS prio,
             ({_BUDGET_TOTAL} * CASE WHEN cast(substr(source, 4) AS bigint) % 4 = 0
                                     THEN 3 ELSE 1 END) // {_BUDGET_WSUM}
                 AS budget
      FROM documents WHERE n_chars > 0
    ), rk AS (
      SELECT source, n_chars, budget,
             sum(n_chars) OVER (
               PARTITION BY source ORDER BY prio, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM pr
    )
    SELECT source, CAST(budget AS BIGINT) AS budget,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_realized
    FROM rk WHERE cum - n_chars < budget
    GROUP BY source, budget
    """,
)
def token_budget_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = smp.token_budget_mixture_sample(
        docs, "source", "doc_id", "n_chars", _MIX_WEIGHTS, _BUDGET_TOTAL
    )
    return kept.groupBy("source", F.col("domain_budget").alias("budget")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_realized"),
    )


_HIST_BUDGET_TOTAL = 200_000  # uniform weights over 20 sources -> B_d = 10_000


@_register(
    "token_budget_hist_stats",
    "Token-budget mixture on the DISTRIBUTED HISTOGRAM-CUT path "
    "(operators/sampling.py:token_budget_mixture_sample with "
    "window_budget_max=0 — the large-budget regime): each source's "
    "cut priority comes from the grouped two-level histogram "
    "(ranking._grouped_with_below, weight = char mass over "
    "priority_micro), fully-admitted priorities pass a narrow "
    "filter, and only the single crossing priority per source pays "
    "a tiny tie window — NO per-domain total-order window anywhere "
    "(the round-10 single-reducer ceiling, removed). Kept set is "
    "IDENTICAL to the window path; the oracle re-derives the same "
    "prefix with a plain SQL running-sum window — one mis-kept doc "
    "hash-mismatches. Census: per-source budget, kept docs, "
    "realized chars.",
    f"""
    WITH pr AS (
      SELECT source, doc_id, n_chars,
             CAST(floor(
               (-ln((CAST({_duck_key('doc_id', 'bud')} AS DOUBLE) + 0.5)
                    / 4294967296.0))
               / CAST(n_chars AS DOUBLE) * 1000000.0 + 0.5
             ) AS BIGINT) AS prio,
             {_HIST_BUDGET_TOTAL // 20} AS budget
      FROM documents WHERE n_chars > 0
    ), rk AS (
      SELECT source, n_chars, budget,
             sum(n_chars) OVER (
               PARTITION BY source ORDER BY prio, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM pr
    )
    SELECT source, CAST(budget AS BIGINT) AS budget,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_realized
    FROM rk WHERE cum - n_chars < budget
    GROUP BY source, budget
    """,
)
def token_budget_hist_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = smp.token_budget_mixture_sample(
        docs,
        "source",
        "doc_id",
        "n_chars",
        {f"src{i}": 1 for i in range(20)},
        _HIST_BUDGET_TOTAL,
        window_budget_max=0,  # force the histogram-cut regime
    )
    return kept.groupBy("source", F.col("domain_budget").alias("budget")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_realized"),
    )


_REPEAT_TARGETS = {"src1": 1_000_000, "src2": 3_000, "src3": 0}


@_register(
    "repeat_mixture_census",
    "UPSAMPLING mixture with repeat factors (operators/sampling.py:"
    "repeat_mixture_sample — the published-recipe case the budget "
    "sampler can't express: a domain's target EXCEEDS its available "
    "mass, so docs repeat for multiple epochs): src1 targets 1M "
    "chars (>> avail at every SF -> every doc repeats full_epochs = "
    "target div avail times, remainder filled by the A-Res "
    "histogram-cut prefix with ONE extra repeat), src2 targets 3k "
    "(< avail -> pure downsample, repeats in {0,1}), src3 targets 0 "
    "(drops entirely — no output row). Census per source: docs "
    "emitted, repeat sum/min/max, realized char mass (lands within "
    "one doc of the target). Oracle re-derives avail/full/remainder "
    "and the same md5 A-Res prefix via a plain running-sum window.",
    f"""
    WITH t(source, target) AS (VALUES
      ('src1', CAST(1000000 AS BIGINT)),
      ('src2', CAST(3000 AS BIGINT)),
      ('src3', CAST(0 AS BIGINT))),
    d AS (
      SELECT doc_id, source, n_chars FROM documents
      JOIN t USING (source) WHERE n_chars > 0
    ),
    a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
          FROM d GROUP BY 1),
    p AS (
      SELECT t.source,
             CAST(t.target // a.avail AS BIGINT) AS fep,
             CAST(t.target % a.avail AS BIGINT) AS rem
      FROM t JOIN a USING (source)
    ),
    pr AS (
      SELECT d.source, d.doc_id, d.n_chars, p.fep, p.rem,
             CAST(floor(
               (-ln((CAST({_duck_key('doc_id', 'rep')} AS DOUBLE) + 0.5)
                    / 4294967296.0))
               / CAST(d.n_chars AS DOUBLE) * 1000000.0 + 0.5
             ) AS BIGINT) AS prio
      FROM d JOIN p USING (source)
    ),
    rk AS (
      SELECT *, sum(n_chars) OVER (
               PARTITION BY source ORDER BY prio, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM pr
    ),
    rep AS (
      SELECT source, doc_id, n_chars,
             fep + (CASE WHEN cum - n_chars < rem THEN 1 ELSE 0 END)
                 AS n_repeats
      FROM rk
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_out,
           CAST(sum(n_repeats) AS BIGINT) AS sum_repeats,
           CAST(min(n_repeats) AS BIGINT) AS min_repeats,
           CAST(max(n_repeats) AS BIGINT) AS max_repeats,
           CAST(sum(n_repeats * n_chars) AS BIGINT) AS realized_tokens
    FROM rep WHERE n_repeats >= 1
    GROUP BY source
    """,
)
def repeat_mixture_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = smp.repeat_mixture_sample(
        docs, "source", "doc_id", "n_chars", _REPEAT_TARGETS
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_out"),
        F.sum("n_repeats").cast("long").alias("sum_repeats"),
        F.min("n_repeats").cast("long").alias("min_repeats"),
        F.max("n_repeats").cast("long").alias("max_repeats"),
        F.sum(F.col("n_repeats") * F.col("n_chars").cast("long"))
        .cast("long")
        .alias("realized_tokens"),
    )


@_register(
    "weighted_doc_sample",
    "Weighted random sampling WITHOUT replacement, 20 docs per lang "
    "weighted by n_chars (operators/sampling.py:weighted_sample_k — "
    "the A-Res exponential-race scheme): deterministic u from "
    "md5(key), priority = floor((-ln(u))/w * 1e6 + 0.5) ranked "
    "ascending per stratum, WindowGroupLimit pre-prune. One ln per "
    "row on an exact dyadic input, 6dp micro-rounded and only "
    "COMPARED (the charlm ln rule); inclusion is a pure function of "
    "the key, so the draw is stable under re-ingestion. Oracle: the "
    "identical double-op chain in SQL.",
    f"""
    SELECT lang, CAST(rn AS BIGINT) AS draw_rank, doc_id, n_chars,
           priority_micro
    FROM (
      SELECT lang, doc_id, n_chars, priority_micro,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY priority_micro ASC, doc_id ASC
             ) AS rn
      FROM (
        SELECT lang, doc_id, n_chars,
               CAST(floor(
                 (-ln((CAST({_duck_key('doc_id', 'wrs')} AS DOUBLE) + 0.5)
                      / 4294967296.0))
                 / CAST(n_chars AS DOUBLE) * 1000000.0 + 0.5
               ) AS BIGINT) AS priority_micro
        FROM documents WHERE n_chars > 0
      )
    ) WHERE rn <= 20
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars") > 0
    )
    out = smp.weighted_sample_k(
        docs, "doc_id", "n_chars", k=20, strata_cols="lang"
    )
    return out.select(
        "lang", "draw_rank", "doc_id", "n_chars", "priority_micro"
    )


@_register(
    "split_length_bias_auc",
    "SPLIT-BALANCE AUDIT: per-language exact ROC-AUC of document "
    "length as a predictor of holdout membership (label = "
    "split != 'train' from the md5 split_assign cuts) — the leakage "
    "diagnostic a curation stack runs after splitting: auc ~ 0.5 "
    "per language proves the deterministic split is length-UNBIASED "
    "(a content-correlated split key would show up here as a "
    "departure; the exact integer metric is the deliverable). "
    "Computed by operators/ranking.py:grouped_binary_auc — "
    "Mann-Whitney rank sums per group over the fully distributed "
    "grouped histogram (no driver collect, every window partitioned, "
    "u2 kept 2U integer, auc through exact int128). Oracle: the "
    "same rank sums from plain per-group windows — different "
    "algorithm, same integers.",
    f"""
    WITH lab AS (
      SELECT lang, n_chars,
             CASE WHEN {_duck_key('doc_id', 'split')}
                  < {smp.rate_threshold(0.05) + smp.rate_threshold(0.10)}
                  THEN 1 ELSE 0 END AS p
      FROM documents
    ),
    gg AS (
      SELECT lang, n_chars AS sv, CAST(sum(p) AS BIGINT) AS pos,
             CAST(count(*) - sum(p) AS BIGINT) AS neg
      FROM lab GROUP BY 1, 2
    ),
    rr AS (
      SELECT lang, pos, neg,
             coalesce(CAST(sum(neg) OVER (PARTITION BY lang ORDER BY sv
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS nb
      FROM gg
    ),
    t AS (
      SELECT lang, CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg,
             CAST(coalesce(sum(pos * (2 * nb + neg)), 0) AS BIGINT) AS u2
      FROM rr GROUP BY lang
    )
    SELECT lang, n_pos, n_neg, u2,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                ELSE (1000000 * CAST(u2 AS HUGEINT)
                      + CAST(n_pos AS HUGEINT) * n_neg)
                     // (2 * CAST(n_pos AS HUGEINT) * n_neg)
                END AS BIGINT) AS auc_micro
    FROM t
    """,
)
def split_length_bias_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.ranking import (
        grouped_binary_auc,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = smp.split_assign(
        docs, "doc_id", val_rate=0.10, test_rate=0.05
    ).select(
        "lang",
        "n_chars",
        (F.col("split") != "train").cast("long").alias("holdout"),
    )
    return grouped_binary_auc(labeled, "lang", "n_chars", "holdout")


# ---------------------------------------------------------------------------
# The full curation recipe — the training manifest
# ---------------------------------------------------------------------------

_MANIFEST_TARGETS = {
    f"src{i}": (500_000 if i % 5 == 0 else 3_000) for i in range(20)
}


def _manifest_ctes(bench_pred: str = "doc_id % 37 = 0") -> str:
    """Shared WITH-RECURSIVE body recomputing the whole curation
    chain of operators/curation.py:training_manifest in SQL: minhash
    pairs → components → keepers → gram sweep (benchmark =
    ``bench_pred`` rows of the FULL corpus, default the
    doc_id % 37 = 0 suite) → md5 split on the cluster
    representative (train only) → repeat-factor mixture ending in a
    MATERIALIZED ``manifest`` CTE — the manifest-census, epoch and
    patch oracles build their final SELECTs on it."""
    from umn_eda_kafka_stream_processing_spark.plans.catalog_data import (
        _minhash_parts,
    )

    ctes, pair_select = _minhash_parts()
    test_cut = smp.rate_threshold(0.1)
    val_cut = test_cut + smp.rate_threshold(0.1)
    u = _duck_key("rk", "split")
    prio_key = _duck_key("doc_id", "rep")
    targets = ",\n      ".join(
        f"('{s}', CAST({t} AS BIGINT))"
        for s, t in sorted(_MANIFEST_TARGETS.items())
    )
    return rf"""
    WITH RECURSIVE {ctes},
    pairs AS MATERIALIZED ({pair_select}),
    und AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs),
    walk(id, label) AS (
      SELECT DISTINCT src, src FROM und
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.id
    ),
    comp AS MATERIALIZED (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
             FROM walk GROUP BY id),
    keep AS MATERIALIZED (
      SELECT d.doc_id, d.source, d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
      WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id
    ),
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    posn AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 7, 1))) AS i
      FROM toks
    ),
    g0 AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(
                  array_to_string(t[i:i+7], ' ')), 1, 15)) AS BIGINT) AS g
      FROM posn
    ),
    dg AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM g0),
    bg AS (SELECT DISTINCT g FROM dg WHERE {bench_pred}),
    hit AS MATERIALIZED (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_hit
            FROM dg JOIN bg USING (g) GROUP BY 1),
    clean AS MATERIALIZED (
      SELECT k.doc_id, k.source, k.n_chars
      FROM keep k LEFT JOIN hit h USING (doc_id)
      WHERE coalesce(h.n_hit, 0) < 1
    ),
    spl AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN {u} < {test_cut} THEN 'test'
                  WHEN {u} < {val_cut} THEN 'val'
                  ELSE 'train' END AS split
      FROM (SELECT cl.*, coalesce(cm.cluster_id, cl.doc_id) AS rk
            FROM clean cl LEFT JOIN comp cm USING (doc_id))
    ),
    train AS MATERIALIZED (SELECT doc_id, source, n_chars FROM spl
              WHERE split = 'train'),
    t(source, target) AS (VALUES
      {targets}),
    d2 AS (SELECT tr.doc_id, tr.source, tr.n_chars
           FROM train tr JOIN t USING (source) WHERE tr.n_chars > 0),
    a AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
          FROM d2 GROUP BY 1),
    p AS (
      SELECT t.source,
             CAST(t.target // a.avail AS BIGINT) AS fep,
             CAST(t.target % a.avail AS BIGINT) AS rem
      FROM t JOIN a USING (source)
    ),
    pr AS (
      SELECT d2.source, d2.doc_id, d2.n_chars, p.fep, p.rem,
             CAST(floor(
               (-ln((CAST({prio_key} AS DOUBLE) + 0.5) / 4294967296.0))
               / CAST(d2.n_chars AS DOUBLE) * 1000000.0 + 0.5
             ) AS BIGINT) AS prio
      FROM d2 JOIN p USING (source)
    ),
    rk2 AS (
      SELECT *, sum(n_chars) OVER (
               PARTITION BY source ORDER BY prio, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM pr
    ),
    manifest AS MATERIALIZED (
      SELECT source, doc_id, n_chars,
             fep + (CASE WHEN cum - n_chars < rem THEN 1 ELSE 0 END)
                 AS n_repeats
      FROM rk2
      WHERE fep + (CASE WHEN cum - n_chars < rem THEN 1 ELSE 0 END) >= 1
    )"""


def _training_manifest_oracle() -> str:
    """Manifest-census twin: the shared chain CTEs plus the global
    pins (zero pairs among admitted docs, zero contaminated admits,
    stage counts, the manifest id-checksum)."""
    return _manifest_ctes() + """,
    gstats AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM keep) AS n_keepers,
        (SELECT CAST(count(*) AS BIGINT) FROM keep k
         JOIN hit h USING (doc_id) WHERE h.n_hit >= 1)
            AS n_contaminated_dropped,
        (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train,
        (SELECT CAST(count(*) AS BIGINT) FROM pairs p
         JOIN manifest a2 ON a2.doc_id = p.doc_id_a
         JOIN manifest b2 ON b2.doc_id = p.doc_id_b)
            AS pairs_among_admitted,
        (SELECT CAST(count(*) AS BIGINT) FROM manifest m
         JOIN hit h ON h.doc_id = m.doc_id AND h.n_hit >= 1)
            AS contaminated_admits,
        (SELECT CAST(coalesce(sum((doc_id % 1000003) * n_repeats), 0)
                AS BIGINT) FROM manifest) AS manifest_id_checksum
    )
    SELECT m.source,
           CAST(count(*) AS BIGINT) AS n_docs_out,
           CAST(sum(m.n_repeats) AS BIGINT) AS sum_repeats,
           CAST(sum(m.n_repeats * m.n_chars) AS BIGINT)
               AS realized_tokens,
           g.n_input_docs, g.n_keepers, g.n_contaminated_dropped,
           g.n_train, g.pairs_among_admitted, g.contaminated_admits,
           g.manifest_id_checksum
    FROM manifest m, gstats g
    GROUP BY m.source, g.n_input_docs, g.n_keepers,
             g.n_contaminated_dropped, g.n_train,
             g.pairs_among_admitted, g.contaminated_admits,
             g.manifest_id_checksum
    """


@_register(
    "training_manifest_census",
    "The FULL curation recipe end-to-end — the training MANIFEST a "
    "100-TB pipeline actually ships (operators/curation.py:"
    "training_manifest, round-12 verdict task 1): near-dup keepers "
    "(MinHash-LSH pairs → min-label components → representative per "
    "cluster) → benchmark decontamination (docs sharing any 8-gram "
    "with the doc_id % 37 = 0 held-out suite DROPPED) → "
    "leakage-safe split keyed on the cluster representative (train "
    "only) → repeat-factor mixture (src0/5/10/15 target 500k chars "
    "— upsampled with full epochs + A-Res remainder prefix; the "
    "rest target 3k — downsampled). Census pins per-source doc/"
    "repeat/token mass AND the global invariants: ZERO near-dup "
    "pairs among admitted docs, ZERO contaminated admits, stage "
    "counts, and the manifest id-checksum. The manifest is a pure "
    "function of the input SET (md5 keys everywhere) — permuting "
    "input order reproduces it byte-identically (test-pinned). "
    "Oracle recomputes the entire chain: WITH RECURSIVE components, "
    "gram sweep, md5 split cuts, and the running-sum mixture "
    "window.",
    _training_manifest_oracle(),
)
def training_manifest_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.operators.curation import (
        training_manifest,
    )

    from umn_eda_kafka_stream_processing_spark.plans.catalog_data import (
        cached_bench_grams,
        cached_minhash_pairs,
        cached_near_dup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    manifest, stages = training_manifest(
        docs, None, _MANIFEST_TARGETS,
        val_rate=0.1, test_rate=0.1, return_stages=True,
        pairs=cached_minhash_pairs(spark, sf_dir),
        clusters=cached_near_dup_clusters(spark, sf_dir),
        # the % 37 suite is a corpus slice: its gram set filters the
        # session-cached corpus gram table instead of re-exploding
        # the suite's text every run (per-doc purity)
        bench_grams=cached_bench_grams(spark, sf_dir, 37),
        keeper_grams=cached_manifest_keeper_grams(spark, sf_dir),
    )
    manifest = materialize(manifest, Why.SHARED)
    per_source = manifest.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_out"),
        F.sum("n_repeats").cast("long").alias("sum_repeats"),
        F.sum(F.col("n_repeats") * F.col("n_chars"))
        .cast("long")
        .alias("realized_tokens"),
    )
    ids = manifest.select("doc_id")
    pairs = stages["pairs"]
    pin_pairs = (
        pairs.join(
            ids.select(F.col("doc_id").alias("doc_id_a")).hint(
                "shuffle_hash"
            ),
            "doc_id_a",
        )
        .join(
            ids.select(F.col("doc_id").alias("doc_id_b")).hint(
                "shuffle_hash"
            ),
            "doc_id_b",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pairs_among_admitted"))
    )
    flagged = stages["decontam"].filter(F.col("contaminated") == 1)
    pin_contam = (
        manifest.join(
            flagged.select("doc_id").hint("shuffle_hash"), "doc_id"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("contaminated_admits"))
    )
    glob = (
        docs.agg(F.count(F.lit(1)).cast("long").alias("n_input_docs"))
        .crossJoin(
            stages["keepers"].agg(
                F.count(F.lit(1)).cast("long").alias("n_keepers")
            )
        )
        .crossJoin(
            stages["decontam"].agg(
                F.sum("contaminated")
                .cast("long")
                .alias("n_contaminated_dropped")
            )
        )
        .crossJoin(
            stages["train"].agg(
                F.count(F.lit(1)).cast("long").alias("n_train")
            )
        )
        .crossJoin(pin_pairs)
        .crossJoin(pin_contam)
        .crossJoin(
            manifest.agg(
                F.coalesce(
                    F.sum((F.col("doc_id") % 1000003) * F.col("n_repeats")),
                    F.lit(0),
                )
                .cast("long")
                .alias("manifest_id_checksum")
            )
        )
    )
    return per_source.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_docs_out",
        "sum_repeats",
        "realized_tokens",
        "n_input_docs",
        "n_keepers",
        "n_contaminated_dropped",
        "n_train",
        "pairs_among_admitted",
        "contaminated_admits",
        "manifest_id_checksum",
    )


def cached_manifest_keeper_grams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-cached corpus-side gram table of the manifest chain's
    KEEPERS (`decontam.corpus_gram_table` — one row per (doc, gram),
    n_grams alongside): the gram explode is every sweep's dominant
    cost and THREE censuses sweep the same keepers (the standing
    manifest sweep, the patch chain's delta resweep, the standing
    census builder) — materialize once, inject via docs_grams."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized
    from umn_eda_kafka_stream_processing_spark.plans.catalog_data import (
        cached_corpus_grams,
        cached_near_dup_clusters,
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        clusters = cached_near_dup_clusters(spark, sf_dir)
        keeper_ids = (
            docs.select("doc_id")
            .join(clusters.hint("shuffle_hash"), "doc_id", "left")
            .filter(
                F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                == F.col("doc_id")
            )
            .select("doc_id")
        )
        # per-doc purity: the keepers' gram table is a doc_id
        # restriction of the session-cached CORPUS gram table — a
        # semi-join on the id instead of a second text explode
        return cached_corpus_grams(spark, sf_dir).join(
            keeper_ids, "doc_id", "semi"
        )

    return materialized(spark, f"manifest_keeper_grams|{sf_dir}", build)


def cached_manifest_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached STANDING decontamination census — the per-doc
    (doc_id, n_grams, n_hit_grams, contaminated) frame of the
    manifest chain's keepers vs the initial doc_id % 37 = 0 suite:
    the 'as shipped' audit trail `patch_training_manifest` merges the
    late-suite delta into. Train-once/serve-many: the first call pays
    the keeper join + full gram sweep, hits are parquet scans
    (identical to sweeping the gram store's batch 0 —
    the gram store's `read` == the suite's gram set, test-pinned)."""
    from umn_eda_kafka_stream_processing_spark.caching import materialized
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.plans.catalog_data import (
        cached_bench_grams,
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        # both sides ride standing gram tables: the corpus side is
        # the keeper gram cache, the % 37 suite's gram set a filter
        # of the corpus gram cache — zero text explodes in this build
        return decontaminate(
            docs,  # ids/columns unused beyond the injected gram table
            benchmark=None,
            bench_grams=cached_bench_grams(spark, sf_dir, 37),
            docs_grams=cached_manifest_keeper_grams(spark, sf_dir),
        )

    return materialized(spark, f"manifest_decontam37|{sf_dir}", build)


def _manifest_patch_oracle() -> str:
    """Patch-census twin: the shared chain CTEs against the GROWN
    benchmark (initial %37 suite UNION the late %41 suite) — the
    from-scratch manifest the patch must reproduce — plus the
    retraction stats: newly-contaminated keepers (zero %37 hits,
    >= 1 novel-gram hits) and how many of them sat in the shipped
    train split."""
    test_cut = smp.rate_threshold(0.1)
    val_cut = test_cut + smp.rate_threshold(0.1)
    u = _duck_key("rk", "split")
    return _manifest_ctes(
        bench_pred="doc_id % 37 = 0 OR doc_id % 41 = 0"
    ) + f""",
    bg37x AS (SELECT DISTINCT g FROM dg WHERE doc_id % 37 = 0),
    bgdx AS MATERIALIZED (
      -- novel grams of the late suite (anti-join, not EXCEPT: DuckDB
      -- rejects set-ops on CTEs inside a WITH RECURSIVE block)
      SELECT nn.g
      FROM (SELECT DISTINCT g FROM dg WHERE doc_id % 41 = 0) nn
      WHERE NOT EXISTS (SELECT 1 FROM bg37x b WHERE b.g = nn.g)),
    hit37x AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS nh
               FROM dg JOIN bg37x USING (g) GROUP BY 1),
    hitdx AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS nh
              FROM dg JOIN bgdx USING (g) GROUP BY 1),
    newlyx AS MATERIALIZED (
      SELECT k.doc_id FROM keep k
      LEFT JOIN hit37x h USING (doc_id)
      LEFT JOIN hitdx hd USING (doc_id)
      WHERE coalesce(h.nh, 0) < 1 AND coalesce(hd.nh, 0) >= 1),
    retrx AS (
      SELECT CASE WHEN {u} < {test_cut} THEN 'test'
                  WHEN {u} < {val_cut} THEN 'val'
                  ELSE 'train' END AS split
      FROM (SELECT nn.doc_id, coalesce(cm.cluster_id, nn.doc_id) AS rk
            FROM newlyx nn LEFT JOIN comp cm USING (doc_id))),
    gstats AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM newlyx)
            AS n_newly_contaminated,
        (SELECT CAST(count(*) AS BIGINT) FROM retrx WHERE split = 'train')
            AS n_retracted_train,
        (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train_patched,
        (SELECT CAST(coalesce(sum((doc_id % 1000003) * n_repeats), 0)
                AS BIGINT) FROM manifest) AS patched_id_checksum
    )
    SELECT m.source,
           CAST(count(*) AS BIGINT) AS n_docs_out,
           CAST(sum(m.n_repeats) AS BIGINT) AS sum_repeats,
           CAST(sum(m.n_repeats * m.n_chars) AS BIGINT)
               AS realized_tokens,
           g.n_newly_contaminated, g.n_retracted_train,
           g.n_train_patched, g.patched_id_checksum
    FROM manifest m, gstats g
    GROUP BY m.source, g.n_newly_contaminated, g.n_retracted_train,
             g.n_train_patched, g.patched_id_checksum
    """


@_register(
    "manifest_patch_census",
    "INCREMENTAL manifest maintenance for LATE benchmarks (operators/"
    "curation.py:patch_training_manifest — round-13 verdict task 2): "
    "a manifest ships against the initial doc_id % 37 = 0 suite "
    "(standing per-doc census session-cached as the audit trail), "
    "then the doc_id % 41 = 0 suite lands LATE in the gram store "
    "(batch 1). The patch resweeps keepers against ONLY the late "
    "batch's novel grams (partition-pruned read, suite-sized "
    "anti-join — decontam.resweep_decontaminate), ADDS the delta "
    "into the standing census (merge_decontam_censuses: disjoint "
    "grams, exact), retracts newly-contaminated docs and re-admits "
    "the freed mass through the mixture — NO pair graph, NO full "
    "gram re-sweep. The oracle recomputes the FROM-SCRATCH manifest "
    "against the grown benchmark: the hash compare IS the "
    "patched == from-scratch pin (also unit-test-pinned). Retraction "
    "counts ride as data: newly-contaminated keepers, how many sat "
    "in the shipped train split, patched train size and manifest "
    "id-checksum.",
    _manifest_patch_oracle(),
)
def manifest_patch_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from umn_eda_kafka_stream_processing_spark.operators.curation import (
        patch_training_manifest,
    )
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        merge_grams,
    )
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        cluster_safe_split,
    )
    from umn_eda_kafka_stream_processing_spark.plans.catalog_data import (
        cached_bench_grams,
        cached_near_dup_clusters,
    )
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    docs = load_table(spark, sf_dir, "documents")
    store = tempfile.mkdtemp(prefix="sparkgraft_patch_") + "/grams"
    # both suites are corpus slices: their gram registers filter the
    # session-cached corpus gram table instead of re-exploding suite
    # text on every run
    grams = BatchStore(spark, store, merge_grams)
    grams.upsert(0, cached_bench_grams(spark, sf_dir, 37))
    # the late suite lands AFTER the manifest shipped
    grams.upsert(1, cached_bench_grams(spark, sf_dir, 41))
    clusters = cached_near_dup_clusters(spark, sf_dir)
    patched, pst = patch_training_manifest(
        spark, docs, store, 0,
        cached_manifest_decontam(spark, sf_dir),
        clusters, _MANIFEST_TARGETS,
        keeper_grams=cached_manifest_keeper_grams(spark, sf_dir),
        return_stages=True,
    )
    patched = materialize(patched, Why.SHARED)
    newly = materialize(pst["newly"], Why.SHARED)
    per_source = patched.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_out"),
        F.sum("n_repeats").cast("long").alias("sum_repeats"),
        F.sum(F.col("n_repeats") * F.col("n_chars"))
        .cast("long")
        .alias("realized_tokens"),
    )
    glob = (
        newly.agg(
            F.count(F.lit(1)).cast("long").alias("n_newly_contaminated")
        )
        .crossJoin(
            cluster_safe_split(
                newly, clusters, val_rate=0.1, test_rate=0.1
            )
            .filter(F.col("split") == "train")
            .agg(F.count(F.lit(1)).cast("long").alias("n_retracted_train"))
        )
        .crossJoin(
            pst["train"].agg(
                F.count(F.lit(1)).cast("long").alias("n_train_patched")
            )
        )
        .crossJoin(
            patched.agg(
                F.coalesce(
                    F.sum((F.col("doc_id") % 1000003) * F.col("n_repeats")),
                    F.lit(0),
                )
                .cast("long")
                .alias("patched_id_checksum")
            )
        )
    )
    return per_source.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_docs_out",
        "sum_repeats",
        "realized_tokens",
        "n_newly_contaminated",
        "n_retracted_train",
        "n_train_patched",
        "patched_id_checksum",
    )


def _manifest_extend_oracle() -> str:
    """Extension-census twin: the shared chain CTEs over the FULL
    (grown) corpus — the from-scratch manifest the incremental
    extension must reproduce — plus the growth stats: the append
    boundary t = (max doc_id * 9) div 10, the delta pair count (a
    pair touches the batch iff its LARGER endpoint is >= t — ids are
    append-only), and how many grown components SPAN the boundary
    (the cluster-merge path's visibility pin)."""
    return _manifest_ctes() + """,
    tmax AS (SELECT CAST((max(doc_id) * 9) // 10 AS BIGINT) AS t
             FROM documents),
    gstats AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM documents, tmax
         WHERE doc_id >= t) AS n_new_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM pairs, tmax
         WHERE doc_id_b >= t) AS n_delta_pairs,
        (SELECT CAST(count(*) AS BIGINT) FROM (
           SELECT c.cluster_id FROM comp c, tmax
           GROUP BY c.cluster_id, tmax.t
           HAVING sum(CASE WHEN c.doc_id < tmax.t THEN 1 ELSE 0 END) > 0
              AND sum(CASE WHEN c.doc_id >= tmax.t THEN 1 ELSE 0 END) > 0
         )) AS n_spanning_clusters,
        (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train_extended,
        (SELECT CAST(coalesce(sum((doc_id % 1000003) * n_repeats), 0)
                AS BIGINT) FROM manifest) AS extended_id_checksum
    )
    SELECT m.source,
           CAST(count(*) AS BIGINT) AS n_docs_out,
           CAST(sum(m.n_repeats) AS BIGINT) AS sum_repeats,
           CAST(sum(m.n_repeats * m.n_chars) AS BIGINT)
               AS realized_tokens,
           g.n_new_docs, g.n_delta_pairs, g.n_spanning_clusters,
           g.n_train_extended, g.extended_id_checksum
    FROM manifest m, gstats g
    GROUP BY m.source, g.n_new_docs, g.n_delta_pairs,
             g.n_spanning_clusters, g.n_train_extended,
             g.extended_id_checksum
    """


@_register(
    "manifest_extend_census",
    "INCREMENTAL manifest maintenance for a GROWING corpus "
    "(operators/curation.py:extend_training_manifest — the "
    "append-only twin of the benchmark patch): the corpus splits at "
    "t = (max doc_id * 9) div 10 into the shipped corpus and a late "
    "doc batch. The extension grows the pair graph with "
    "dedup.minhash_lsh_pairs over the batch with the shipped corpus "
    "as history (old x new band join + new x new "
    "— NO old self-join; pairwise predicates make pairs(old ∪ new) "
    "= old ∪ delta exactly), re-runs min-label components ONLY on "
    "the affected subgraph (delta pairs + old pairs of clusters a "
    "delta endpoint touches — append-only ids keep surviving "
    "representatives stable), sweeps ONLY the batch against the "
    "benchmark (contamination is per-doc), and re-splits/re-mixes "
    "linearly. The oracle recomputes the FROM-SCRATCH manifest over "
    "the grown corpus: the hash compare IS the extended == "
    "from-scratch pin (also unit-test-pinned, including a forced "
    "cluster merge). Growth stats ride as data: new docs, delta "
    "pairs, boundary-spanning clusters, extended train size and "
    "manifest id-checksum.",
    _manifest_extend_oracle(),
)
def manifest_extend_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import (
        cached_scalar,
        materialized,
    )
    from umn_eda_kafka_stream_processing_spark.operators.curation import (
        extend_training_manifest,
    )
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        near_dup_clusters,
    )
    from umn_eda_kafka_stream_processing_spark.plans.catalog_data import (
        cached_bench_grams,
        cached_corpus_grams,
        cached_minhash_pairs,
        cached_minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = cached_scalar(
        spark,
        f"extend_t|{sf_dir}",
        lambda: (docs.agg(F.max("doc_id")).collect()[0][0] * 9) // 10,
    )
    old = docs.filter(F.col("doc_id") < t)
    batch = docs.filter(F.col("doc_id") >= t)
    full_pairs = cached_minhash_pairs(spark, sf_dir)
    # the shipped run's substrates: pairs restrict by the boundary
    # (pairwise predicates), clusters/census rebuild once per session
    old_pairs = full_pairs.filter(F.col("doc_id_b") < t)
    old_clusters = materialized(
        spark,
        f"extend_old_clusters|{sf_dir}",
        lambda: near_dup_clusters(old_pairs),
    )

    def build_standing() -> DataFrame:
        keeper_ids = (
            old.select("doc_id")
            .join(old_clusters.hint("shuffle_hash"), "doc_id", "left")
            .filter(
                F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                == F.col("doc_id")
            )
            .select("doc_id")
        )
        # both sweep sides filter the session-cached corpus gram
        # table (per-doc purity): the old keepers' grams are a
        # boundary filter + keeper semi-join, the % 37 suite a
        # doc_id filter — no text explode in this build
        return decontaminate(
            old,  # unused beyond the injected gram table
            benchmark=None,
            bench_grams=cached_bench_grams(spark, sf_dir, 37),
            docs_grams=cached_corpus_grams(spark, sf_dir)
            .filter(F.col("doc_id") < t)
            .join(keeper_ids, "doc_id", "semi"),
        )

    standing = materialized(
        spark, f"extend_old_decontam|{sf_dir}", build_standing
    )
    # the extension's own substrates — the delta pair graph and the
    # grown cluster table — are session-cached like the from-scratch
    # chain's pairs/clusters (training_manifest_census): pure
    # functions of (corpus, t), consumed by the chain AND the census
    # pins, and the delta band-join + subgraph re-clustering were
    # ~4.5 s of the census's 9.5 s warm wall recomputed per run
    from umn_eda_kafka_stream_processing_spark.operators.curation import (
        extend_clusters,
    )
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    delta_pairs = materialized(
        spark,
        f"extend_delta_pairs|{sf_dir}",
        lambda: minhash_lsh_pairs(
            batch,
            history=old,
            sigs=cached_minhash_signatures(spark, sf_dir).filter(
                F.col("doc_id") >= t
            ),
            history_sigs=cached_minhash_signatures(spark, sf_dir).filter(
                F.col("doc_id") < t
            ),
        ),
    )
    clusters2 = materialized(
        spark,
        f"extend_clusters|{sf_dir}",
        lambda: extend_clusters(old_pairs, old_clusters, delta_pairs),
    )
    ext, st = extend_training_manifest(
        spark, old, batch, old_pairs, old_clusters, standing,
        _MANIFEST_TARGETS,
        bench_grams=cached_bench_grams(spark, sf_dir, 37),
        # batch sweep rides the session-cached corpus gram table too
        # (per-doc purity: the batch's grams are a doc_id slice of it)
        batch_grams=cached_corpus_grams(spark, sf_dir).filter(
            F.col("doc_id") >= t
        ),
        delta_pairs=delta_pairs,
        clusters=clusters2,
        return_stages=True,
    )
    ext = materialize(ext, Why.SHARED)
    per_source = ext.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_out"),
        F.sum("n_repeats").cast("long").alias("sum_repeats"),
        F.sum(F.col("n_repeats") * F.col("n_chars"))
        .cast("long")
        .alias("realized_tokens"),
    )
    spanning = (
        st["clusters"]
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .filter((F.col("_mn") < t) & (F.col("_mx") >= t))
        .agg(F.count(F.lit(1)).cast("long").alias("n_spanning_clusters"))
    )
    glob = (
        batch.agg(F.count(F.lit(1)).cast("long").alias("n_new_docs"))
        .crossJoin(
            st["delta_pairs"].agg(
                F.count(F.lit(1)).cast("long").alias("n_delta_pairs")
            )
        )
        .crossJoin(spanning)
        .crossJoin(
            st["train"].agg(
                F.count(F.lit(1)).cast("long").alias("n_train_extended")
            )
        )
        .crossJoin(
            ext.agg(
                F.coalesce(
                    F.sum((F.col("doc_id") % 1000003) * F.col("n_repeats")),
                    F.lit(0),
                )
                .cast("long")
                .alias("extended_id_checksum")
            )
        )
    )
    return per_source.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_docs_out",
        "sum_repeats",
        "realized_tokens",
        "n_new_docs",
        "n_delta_pairs",
        "n_spanning_clusters",
        "n_train_extended",
        "extended_id_checksum",
    )


def _manifest_epoch_oracle() -> str:
    """Epoch-expansion twin: the shared chain CTEs, each manifest row
    expanded to its n_repeats instances, keyed (doc_id '#' rep_idx),
    then the identical epoch_shuffle md5 arithmetic (u = md5 of
    'shuf-e1|key', batch = u % 16, pos = row_number by (u, key))."""
    ukey = _duck_key("rep_key", "shuf-e1")
    return _manifest_ctes() + f""",
    expd AS (
      SELECT m.doc_id, m.n_chars,
             unnest(generate_series(1, m.n_repeats)) AS rep_idx
      FROM manifest m
    ),
    keyed AS (
      SELECT doc_id, n_chars,
             concat(CAST(doc_id AS VARCHAR), '#',
                    CAST(rep_idx AS VARCHAR)) AS rep_key
      FROM expd
    ),
    uu AS (SELECT *, {ukey} AS u FROM keyed),
    asg AS (
      SELECT doc_id, n_chars,
             CAST(u % 16 AS BIGINT) AS batch_id,
             row_number() OVER (PARTITION BY u % 16
                                ORDER BY u, rep_key) AS pos
      FROM uu
    )
    SELECT batch_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(sum(pos * (doc_id % 1000003)) AS BIGINT) AS pos_checksum
    FROM asg GROUP BY batch_id
    """


@_register(
    "manifest_epoch_batches_census",
    "The manifest BECOMES training batches (the consumption step the "
    "repeat mixture's docstring promises): each manifest row expands "
    "to its n_repeats instances (mass-bounded — Σ n_repeats·chars ≈ "
    "the mixture targets however large the corpus), every instance "
    "gets its own shuffle identity (doc_id '#' rep_idx — copies of a "
    "doc land in DIFFERENT batches, the point of shuffling repeats), "
    "and operators/sampling.py:epoch_shuffle assigns a reproducible "
    "epoch-1 permutation: batch = md5-key % 16, position = rank "
    "inside the batch — one shuffle, 16 parallel partition-local "
    "sorts, never a global sort. The manifest itself is the "
    "session-cached train-once artifact (operators/curation.py:"
    "training_manifest — the census that PINS its construction is "
    "training_manifest_census). Census per batch: rows, distinct "
    "docs, char mass, exact position checksum. Oracle recomputes "
    "the full chain + expansion + identical md5 shuffle.",
    _manifest_epoch_oracle(),
)
def manifest_epoch_batches_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from umn_eda_kafka_stream_processing_spark.caching import materialized
    from umn_eda_kafka_stream_processing_spark.operators.curation import (
        training_manifest,
    )
    from umn_eda_kafka_stream_processing_spark.plans.catalog_data import (
        cached_minhash_pairs,
        cached_near_dup_clusters,
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return training_manifest(
            docs,
            docs.filter(F.col("doc_id") % 37 == 0),
            _MANIFEST_TARGETS,
            val_rate=0.1,
            test_rate=0.1,
            pairs=cached_minhash_pairs(spark, sf_dir),
            clusters=cached_near_dup_clusters(spark, sf_dir),
        ).select("doc_id", "source", "n_chars", "n_repeats")

    manifest = materialized(spark, f"training_manifest|{sf_dir}", build)
    expanded = manifest.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr("sequence(1, n_repeats)")).alias("rep_idx"),
    ).withColumn(
        "rep_key",
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("#"),
            F.col("rep_idx").cast("string"),
        ),
    )
    shuf = smp.epoch_shuffle(expanded, "rep_key", n_batches=16, epoch=1)
    return shuf.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum(F.col("pos_in_batch") * (F.col("doc_id") % 1000003))
        .cast("long")
        .alias("pos_checksum"),
    )
