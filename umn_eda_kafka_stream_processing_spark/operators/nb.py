"""Multinomial Naive Bayes document classifier — the learned
classifier real curation stacks run alongside heuristic rules
(fastText-style quality / language-ID models in the CCNet / RefinedWeb
lineage). The reference app has no learned component; this extends the
engine's quality surface (`functions/text.py:gopher_rules`,
`operators/charlm.py`) with trainable supervised scoring while staying
inside the repo's portability rules.

Why Naive Bayes and not SGD: logistic-regression-style training is
order-dependent (per-batch updates) and therefore neither
deterministic under shuffle nor expressible as an oracle SQL twin.
Multinomial NB is PURE COUNTS — train is one hash-aggregation of
(label, feature) counts plus per-label totals, so it is exactly
reproducible on any engine, trivially parallel, and a single pass at
100 TB (map-side combined; the model is |vocab| x |labels| rows and
always broadcasts).

The API is feature-agnostic: callers pass an exploded (doc, feature)
multiset — word unigrams for quality classification (the bag-of-words
classic), `charlm.char_bigrams` for language-ID over non-spacing
scripts, shingles for near-dup triage. Extraction stays a pure column
expression upstream; NB only counts.

Engine portability (the integer-micros rule): every smoothed
log-probability ln((c + alpha) / (n_label + alpha * V)) is computed
once per DISTINCT (label, feature) on exact integer-ratio doubles,
rounded half-up to 6 dp, and held as a BIGINT micro. Per-document
scores are then integer SUMS — exact and order-independent — so
Spark's broadcast-join scoring pass hash-equals a DuckDB join+SUM with
zero ordering care. The per-doc argmax is
``min(struct(-score, label))`` on those exact integers (ties break to
the lexicographically smallest label on both engines); scores are
never-NULL BIGINTs, but the negation is still coalesced per the
min-struct rule (CLAUDE.md) so a future nullable score path cannot
silently win the min.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MICRO = 1000000.0


def _micro(col: Column) -> Column:
    """floor(x * 1e6 + 0.5) as BIGINT — the repo's half-up micro."""
    return F.floor(col * F.lit(_MICRO) + F.lit(0.5)).cast("long")


def nb_train(
    feats: DataFrame,
    labels: DataFrame,
) -> tuple[DataFrame, DataFrame, int]:
    """Train multinomial NB with Laplace smoothing.

    ``feats``  — exploded (id, feature) MULTISET (repeats count);
    ``labels`` — (id, label), one row per training doc.

    Returns ``(model, priors, vocab_size)``:

    * model:  (label, feat, c, logp_micro) — one row per OBSERVED
      (label, feature); logp = ln((c + 1) / (n_label + V)).
    * priors: (label, n_docs, n_tokens, prior_micro, floor_micro) —
      prior = ln(n_docs_label / n_docs_total); floor is the label's
      unseen-feature log-prob ln(1 / (n_label + V)), the
      value OOV features take at scoring time.
    * vocab_size: V, the corpus-wide distinct feature count.

    Plan: one shuffle join tags features with labels (id-keyed), one
    hash-agg for (label, feat) counts, a tiny distinct for V — all
    map-side combined; nothing collects but two scalars. Per-label
    totals derive from the model rows (an agg over |model|, not a
    second corpus pass).
    """
    # shuffle-hash, not sort-merge: sorting the exploded feature
    # stream buys nothing, and the labels side is corpus-sized (one
    # row per doc) so broadcast is wrong at scale
    tagged = feats.join(labels.hint("shuffle_hash"), "doc_id")
    vocab = feats.select("feat").distinct().count()
    cb = tagged.groupBy("label", "feat").agg(
        F.count(F.lit(1)).alias("c")
    )
    # nl is one row per label — always broadcast (Spark has no stats
    # for it and would otherwise plan a sort-merge join)
    nl = cb.groupBy("label").agg(F.sum("c").alias("_n"))
    model = cb.join(F.broadcast(nl), "label").select(
        "label",
        "feat",
        F.col("c").cast("long").alias("c"),
        _micro(
            F.log(
                (F.col("c") + F.lit(1.0))
                / (F.col("_n") + F.lit(float(vocab)))
            )
        ).alias("logp_micro"),
    )
    total = labels.count()
    dl = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_docs"))
    priors = dl.join(F.broadcast(nl), "label", "left").select(
        "label",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_tokens"),
        _micro(
            F.log(F.col("n_docs").cast("double") / F.lit(float(total)))
        ).alias("prior_micro"),
        _micro(
            F.log(
                F.lit(1.0)
                / (F.coalesce(F.col("_n"), F.lit(0)) + F.lit(float(vocab)))
            )
        ).alias("floor_micro"),
    )
    return model, priors, vocab


def nb_score(
    feats: DataFrame,
    doc_ids: DataFrame,
    model: DataFrame,
    priors: DataFrame,
) -> DataFrame:
    """Score documents under a trained NB model: (id, pred,
    pred_score_micro) — argmax_label [prior + sum_feats logp], ties
    to the smallest label. ``doc_ids`` enumerates the docs to score
    so feature-less documents still receive the bare-prior argmax.

    Plan: the feature stream crosses the TINY label list (a broadcast
    nested-loop over <= dozens of labels — the per-label expansion is
    the k-way score fan-out, not a data explosion), left-joins the
    broadcast model on (label, feat) with the label's floor for OOV,
    and one hash-agg keyed by (doc, label) sums the integer micros;
    the doc x label grid left-joins those sums so prior-only docs
    survive. The only shuffles are the two (doc, ...)-keyed aggs.
    """
    labels = priors.select("label", "prior_micro", "floor_micro")
    tok_sums = (
        feats.crossJoin(F.broadcast(labels.select("label", "floor_micro")))
        .join(
            F.broadcast(model.select("label", "feat", "logp_micro")),
            ["label", "feat"],
            "left",
        )
        .groupBy("doc_id", "label")
        .agg(F.sum(F.coalesce("logp_micro", "floor_micro")).alias("_ts"))
    )
    grid = (
        doc_ids.select("doc_id")
        .crossJoin(F.broadcast(labels.select("label", "prior_micro")))
        .join(tok_sums.hint("shuffle_hash"), ["doc_id", "label"], "left")
        .select(
            "doc_id",
            "label",
            (F.col("prior_micro") + F.coalesce(F.col("_ts"), F.lit(0)))
            .cast("long")
            .alias("score_micro"),
        )
    )
    return (
        grid.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    F.coalesce(-F.col("score_micro"), F.lit(2**62)).alias(
                        "ns"
                    ),
                    F.col("label").alias("lb"),
                )
            ).alias("_b")
        )
        .select(
            "doc_id",
            F.col("_b.lb").alias("pred"),
            (-F.col("_b.ns")).cast("long").alias("pred_score_micro"),
        )
    )


def word_features(docs: DataFrame) -> DataFrame:
    """Lowercased whitespace word unigrams as an exploded (id, feat)
    multiset — the bag-of-words feature stream for quality
    classification. Pure column exprs; the empty-string remnant of
    blank docs is dropped (split('') == ['']), so feature-less docs
    simply produce no rows (nb_score's grid keeps them alive)."""
    return (
        docs.select(
            F.col("doc_id"),
            F.explode(
                F.transform(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda w: F.lower(w),
                )
            ).alias("feat"),
        )
        .filter(F.col("feat") != "")
    )
