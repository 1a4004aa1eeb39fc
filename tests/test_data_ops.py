"""Unit tests for the training-data pipeline operators: dedup,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.functions.text import lang_predict, quality_score
from umn_eda_kafka_stream_processing_spark.operators import bmff
from umn_eda_kafka_stream_processing_spark.operators import dedup as dd
from umn_eda_kafka_stream_processing_spark.operators import gif as gifc
from umn_eda_kafka_stream_processing_spark.operators import jpeg as jpegc
from umn_eda_kafka_stream_processing_spark.operators import multimodal as mm
from umn_eda_kafka_stream_processing_spark.operators import similarity as sim


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", 43),
        (2, "The quick brown fox jumps over the lazy dog  ", "en", 45),  # case/ws dup of 1
        (3, "the quick brown fox jumps over the lazy cat", "en", 43),    # near-dup of 1
        (4, "der hund ist nicht ein kleiner vogel und das ist gut", "de", 52),
        (5, "completely different text about spark engines and shuffles", "en", 58),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars int")


def test_exact_dedup_groups(spark, docs):
    got = {r["fp"]: (r["keeper_doc_id"], r["n_copies"])
           for r in dd.exact_dedup_groups(docs).collect()}
    sizes = sorted(v[1] for v in got.values())
    assert sizes == [1, 1, 1, 2]  # docs 1+2 collapse
    dup_group = [v for v in got.values() if v[1] == 2][0]
    assert dup_group[0] == 1  # keeper = min doc_id


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.7)
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
    assert (1, 3) in got
    assert all(a < b for a, b in got)


def test_ngram_jaccard_quadratic_guard_raises(spark, docs):
    # 4 en docs in one (lang, band) neighborhood → est >= 16 pairs;
    # a cap of 5 must trip before any shingle work is planned
    with pytest.raises(ValueError, match="candidate pairs exceeds"):
        dd.ngram_jaccard_pairs(docs, max_candidate_pairs=5)


def test_ngram_jaccard_quadratic_guard_delegates(spark, docs):
    out = dd.ngram_jaccard_pairs(
        docs, threshold=0.7, max_candidate_pairs=5, on_explosion="delegate"
    )
    # delegated to minhash_lsh_pairs: same output contract, and the
    # case/whitespace dup pair (1,2) — jaccard 1.0 at any shingle
    # width — must survive the swap
    assert set(out.columns) == {"doc_id_a", "doc_id_b", "jaccard"}
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in out.collect()}
    assert (1, 2) in got
    assert all(a < b for a, b in got)


def test_ngram_jaccard_guard_not_tripped_when_under_cap(spark, docs):
    got = {(r["doc_id_a"], r["doc_id_b"])
           for r in dd.ngram_jaccard_pairs(
               docs, threshold=0.7, max_candidate_pairs=10_000).collect()}
    assert (1, 3) in got


def test_prefix_jaccard_matches_bruteforce(spark):
    """Prefix filtering is EXACT: on a randomized corpus of
    mutated base strings, the operator's pair set must equal the
    brute-force all-pairs Jaccard at the same integer threshold —
    no blocking/banding recall loss anywhere."""
    import random

    rng = random.Random(31)
    base = [
        "".join(rng.choice("abcdefgh ") for _ in range(60))
        for _ in range(6)
    ]
    rows = []
    for i in range(40):
        t = list(rng.choice(base))
        for _ in range(rng.randrange(0, 10)):  # 0-9 point mutations
            t[rng.randrange(len(t))] = rng.choice("abcdefgh ")
        rows.append((i, "".join(t)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id_a"], r["doc_id_b"]): (
            r["inter"], r["uni"], r["jaccard_micro"]
        )
        for r in dd.prefix_jaccard_pairs(
            df, shingle_n=8, threshold_micro=600_000
        ).collect()
    }

    def sh8(s):
        return {s[i : i + 8] for i in range(max(len(s) - 7, 1))}

    want = {}
    for i, ta in rows:
        for j, tb in rows:
            if i >= j:
                continue
            a, b = sh8(ta), sh8(tb)
            inter, uni = len(a & b), len(a | b)
            if 1_000_000 * inter >= 600_000 * uni:
                want[(i, j)] = (
                    inter, uni, (1_000_000 * inter + uni // 2) // uni
                )
    assert want and got == want


def test_prefix_containment_matches_bruteforce(spark):
    """The containment join is EXACT and ASYMMETRIC: on a corpus of
    short snippets embedded into longer documents (the quote/
    boilerplate shape — tiny Jaccard, high containment), the pair
    set must equal brute-force all-ordered-pairs containment at the
    same integer threshold."""
    import random

    rng = random.Random(47)
    snippets = [
        "".join(rng.choice("abcdefgh ") for _ in range(30))
        for _ in range(5)
    ]
    rows = []
    for i in range(12):  # the short, possibly-contained docs
        t = list(rng.choice(snippets))
        for _ in range(rng.randrange(0, 3)):
            t[rng.randrange(len(t))] = rng.choice("abcdefgh ")
        rows.append((i, "".join(t)))
    for i in range(12, 24):  # long docs embedding a snippet
        pad1 = "".join(rng.choice("qrstuv ") for _ in range(40))
        pad2 = "".join(rng.choice("qrstuv ") for _ in range(40))
        rows.append((i, pad1 + rng.choice(snippets) + pad2))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["contained_id"], r["container_id"]): (
            r["inter"], r["n_contained"], r["containment_micro"]
        )
        for r in dd.prefix_containment_pairs(
            df, shingle_n=8, threshold_micro=800_000
        ).collect()
    }

    def sh8(s):
        return {s[i : i + 8] for i in range(max(len(s) - 7, 1))}

    want = {}
    for i, ta in rows:
        for j, tb in rows:
            if i == j:
                continue
            a, b = sh8(ta), sh8(tb)
            inter, na = len(a & b), len(a)
            if 1_000_000 * inter >= 800_000 * na:
                want[(i, j)] = (
                    inter, na, (1_000_000 * inter + na // 2) // na
                )
    assert want and got == want
    # the scenario exercised real asymmetry: at least one surviving
    # pair has Jaccard BELOW the containment threshold (a snippet
    # inside a long doc — exactly what the Jaccard join misses)
    texts = dict(rows)
    asym = [
        (i, j)
        for (i, j) in want
        if 1_000_000 * len(sh8(texts[i]) & sh8(texts[j]))
        < 800_000 * len(sh8(texts[i]) | sh8(texts[j]))
    ]
    assert asym


def test_prefix_containment_guard_raises(spark):
    rows = [(i, "aaaa bbbb cccc dddd eeee") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="candidates exceed"):
        dd.prefix_containment_pairs(df, shingle_n=8, max_candidate_pairs=20)


def test_prefix_jaccard_guard_raises_and_delegates(spark):
    # 10 identical docs: every prefix shingle collides across all
    # of them -> candidate count >= C(10,2) = 45 trips a cap of 20
    rows = [(i, "aaaa bbbb cccc dddd eeee") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="prefix candidates exceed"):
        dd.prefix_jaccard_pairs(df, max_candidate_pairs=20)
    out = dd.prefix_jaccard_pairs(
        df, max_candidate_pairs=20, on_explosion="delegate"
    )
    assert set(out.columns) == {
        "doc_id_a", "doc_id_b", "inter", "uni", "jaccard_micro"
    }
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in out.collect()}
    assert (0, 1) in got  # identical docs survive the LSH path


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.7)
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
    assert (1, 3) in got  # high-jaccard pair survives LSH + verification


def test_lsh_hot_bucket_cap_drops_mass_dups_keeps_near_dups(spark):
    # 12 byte-identical docs share EVERY band key -> every one of
    # their buckets exceeds cap=10 -> zero pairs among them (mass
    # duplication is exact dedup's job, run upstream for a fraction
    # of the cost). The near-dup pair elsewhere shares small buckets
    # and must survive the cap.
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 3
    near_a = "the quick brown fox jumps over the lazy dog again and again ok"
    near_b = "the quick brown fox jumps over the lazy dog again and again ok!"
    rows = [(i, boiler) for i in range(12)]
    rows += [(100, near_a), (101, near_b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dd.minhash_lsh_pairs(df, threshold=0.7, hot_bucket_cap=10)
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}
    # uncapped baseline still finds the boilerplate clique
    full = dd.minhash_lsh_pairs(df, threshold=0.7, hot_bucket_cap=None)
    assert {(r["doc_id_a"], r["doc_id_b"]) for r in full.collect()} > got


def test_sig_near_pairs_capless_guard_fails_loud(spark):
    # capless-with-guard (round-12 advice): a degenerate signature
    # bucket above the guard must RAISE, never silently explode
    # B²/2 pairs — and never silently drop (the capless-oracle rule)
    import pytest
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        _sig_near_pairs,
    )

    rows = [(i, 7, 7, 7, 7) for i in range(6)]  # one 6-doc bucket ×4
    sigs = spark.createDataFrame(
        rows, "media_id long, c0 long, c1 long, c2 long, c3 long"
    )
    ok = _sig_near_pairs(
        sigs, "media_id", max_hamming=64,
        hot_bucket_cap=None, hot_bucket_guard=6,
    )
    assert ok.count() == 15  # guard not exceeded: exact capless pairs
    bad = _sig_near_pairs(
        sigs, "media_id", max_hamming=64,
        hot_bucket_cap=None, hot_bucket_guard=5,
    )
    with pytest.raises(Exception, match="exceeds guard"):
        bad.count()
    # cap and guard are mutually exclusive (round-13 advice): passing
    # both used to silently take cap semantics and ignore the guard
    with pytest.raises(ValueError, match="mutually exclusive"):
        _sig_near_pairs(
            sigs, "media_id", max_hamming=64,
            hot_bucket_cap=100, hot_bucket_guard=5,
        )


def test_lsh_bucket_stats_census(spark):
    rows = [(i, "identical boilerplate text repeated here") for i in range(5)]
    rows += [(10, "something else entirely unrelated first"),
             (11, "another unrelated document second kind")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r["band_idx"]: r for r in
             dd.lsh_bucket_stats(df, hot_bucket_cap=3).collect()}
    assert len(stats) == 8  # 16 hashes / 2 rows per band
    for r in stats.values():
        # the 5-dup clique is one bucket of 5 per band: 10 pairs,
        # flagged hot at cap 3; the two singles add 1-2 buckets
        assert r["max_bucket"] == 5
        assert r["candidate_pairs"] >= 10
        assert r["hot_buckets"] == 1 and r["hot_docs"] == 5


def test_simhash_identical_text_hamming_zero(spark):
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, "unrelated words entirely different")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["hamming"]
             for r in dd.simhash_near_pairs(df, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def test_lang_predict_and_tiebreak(spark):
    rows = [
        (1, "the cat and the dog of the house"),          # en stopwords
        (2, "der hund und die katze ist nicht da"),       # de stopwords
        (3, "xyzzy plugh quux"),                          # no stopwords → tie → 'en'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in df.select("doc_id", lang_predict().alias("p")).collect()}
    assert got == {1: "en", 2: "de", 3: "en"}


def _ref_bpe(texts, k):
    """Pure-Python canonical Sennrich BPE: the ground truth the
    distributed trainer (operators/bpe.py) must reproduce exactly."""
    from collections import Counter
    wf = Counter()
    for t in texts:
        for w in t.lower().split():
            wf[w] += 1
    words = {w: tuple(list(w) + ["</w>"]) for w in wf}
    merges = []
    for rank in range(1, k + 1):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        merges.append((rank, f"{a} {b}", cnt))

        def merge(syms):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return tuple(out)

        words = {w: merge(s) for w, s in words.items()}
    return merges, words


def test_bpe_train_matches_canonical_reference(spark):
    from umn_eda_kafka_stream_processing_spark.operators import bpe
    # run-heavy words ('aaa', 'aaaaa') are the case where naive
    # single-space replace merges the WRONG occurrences — the
    # two-space separator trick must stay canonical there
    texts = [
        "low lower lowest low low",
        "new newer newest new news",
        "aaa aaaa aa a aaaaa",
        "the the the them then",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string")
    merges, words = bpe.train_bpe(df, k=8)
    got = [(r["rank"], r["pair"], r["pair_count"])
           for r in merges.orderBy("rank").collect()]
    want, ref_words = _ref_bpe(texts, 8)
    assert got == want
    gw = {r["word"]: tuple(r["tokens"]) for r in bpe.bpe_segment(words).collect()}
    assert gw == {w: s for w, s in ref_words.items()}


def test_bpe_merge_pair_canonical_on_runs(spark):
    from umn_eda_kafka_stream_processing_spark.operators import bpe
    import random
    rng = random.Random(7)
    rows = []
    for i in range(60):
        rows.append((i, "".join(rng.choice("ab") for _ in range(rng.randint(1, 14)))))
    df = spark.createDataFrame(rows, "id long, word string")
    for a, b in (("a", "a"), ("a", "b"), ("b", "b")):
        out = {
            r["word"]: r["sym"]
            for r in df.select(
                "word",
                bpe._merge_pair(bpe.to_symbols("word"), F.lit(f"{a} {b}")).alias("sym"),
            ).collect()
        }
        for w, sym in out.items():
            syms, want, i = list(w) + ["</w>"], [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    want.append(a + b)
                    i += 2
                else:
                    want.append(syms[i])
                    i += 1
            assert sym.strip().split("  ") == want, (w, a, b, sym, want)


def test_bpe_random_corpora_match_reference(spark):
    # canonicality must hold on arbitrary corpora, not just the
    # fixture: small alphabets maximize pair collisions and ties
    from umn_eda_kafka_stream_processing_spark.operators import bpe
    import random
    rng = random.Random(42)
    for trial in range(4):
        alpha = "abc" if trial % 2 else "ab"
        texts = [
            " ".join(
                "".join(rng.choice(alpha) for _ in range(rng.randint(1, 9)))
                for _ in range(rng.randint(3, 10))
            )
            for _ in range(6)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "id long, text string")
        merges, words = bpe.train_bpe(df, k=5)
        got = [(r["rank"], r["pair"], r["pair_count"])
               for r in merges.orderBy("rank").collect()]
        want, ref_words = _ref_bpe(texts, 5)
        assert got == want, (trial, texts, got, want)
        gw = {r["word"]: tuple(r["tokens"])
              for r in bpe.bpe_segment(words).collect()}
        assert gw == dict(ref_words), trial


def test_html_to_text_extraction(spark):
    from umn_eda_kafka_stream_processing_spark.functions.text import html_to_text
    cases = [
        # script content with < > operators must vanish entirely
        ('<script>if (a < b && c > d) { x("</p>"); }</script>hi', "hi"),
        ('<style media="all">p > a { color: red }</style>ok', "ok"),
        ("<!-- secret -->visible<!-- more\nlines -->", "visible"),
        ("<div class='x'><p>a</p><br/><p>b</p></div>", "a b"),
        # &amp;lt; decodes to the LITERAL '&lt;', never double-decodes
        ("&amp;lt;tag&amp;gt; &lt;b&gt; &quot;q&quot; &nbsp;", '&lt;tag&gt; <b> "q"'),
        ("  lots   of\n\t spaces  ", "lots of spaces"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "id long, html string")
    got = {r["id"]: r["t"] for r in
           df.select("id", html_to_text("html").alias("t")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_quality_score_bounded(spark, docs):
    vals = [r["q"] for r in docs.select(quality_score().alias("q")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_tfidf_cosine_topk_matches_bruteforce(spark):
    """df-banded trigram tf-idf cosine (operators/similarity.py:
    tfidf_cosine_topk): every emitted pair's cos_micro equals a python
    replica of the exact integer pipeline (tf cap, idf_milli clamp,
    BIGINT norm, IEEE one-division micro weights), over a small-vocab
    corpus where trigrams genuinely collide plus a planted near-dup."""
    import math
    import random
    from collections import Counter

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rng = random.Random(42)
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randrange(6, 30))))
        for d in range(25)
    ]
    docs.append((100, docs[0][1] + " beta"))  # near-dup of doc 0
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["cos_micro"]
        for r in sim.tfidf_cosine_topk(df, k=10**6).collect()
    }

    n_docs = len(docs)
    tf = {}
    for d, text in docs:
        toks = text.strip().split()
        grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        tf[d] = {g: min(c, 100) for g, c in Counter(grams).items()}
    dfq = Counter(g for ws in tf.values() for g in ws)
    band = {g for g, c in dfq.items() if 2 <= c <= 100}
    u = {}
    for d, ws in tf.items():
        w = {
            g: c * min(100000, (n_docs * 1000) // dfq[g])
            for g, c in ws.items()
            if g in band
        }
        n2 = sum(x * x for x in w.values())
        if n2:
            u[d] = {
                g: math.floor(x * 1000000.0 / math.sqrt(float(n2)) + 0.5)
                for g, x in w.items()
            }
    expect = {}
    ids = sorted(u)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = u[a].keys() & u[b].keys()
            if shared:
                dot = sum(u[a][g] * u[b][g] for g in shared)
                expect[(a, b)] = dot // 1000000
    assert got == expect
    # the planted near-dup is the top pair
    top = max(got.items(), key=lambda kv: kv[1])
    assert top[0] == (0, 100)


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # closest to 0
        (2, [0.0, 1.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0], 1),
        (4, [0.1, 0.0, 0.9], 1),   # closest to 3
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_exact(spark, vectors):
    out = sim.cosine_topk(vectors.filter(F.col("vec_id") == 0), vectors, k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (4, 2)]


def test_ivf_topk_prunes_to_probed_buckets(spark, vectors):
    corpus = vectors.withColumn("bucket", F.col("label"))
    centroids = spark.createDataFrame(
        [(0, [0.63, 0.37, 0.0]), (1, [0.05, 0.0, 0.95])],
        "bucket int, embedding array<float>",
    )
    out = sim.ivf_topk(
        vectors.filter(F.col("vec_id") == 0), corpus, centroids, k=3, n_probe=1
    )
    got = {r["neighbor_id"] for r in out.collect()}
    assert got == {1, 2}  # only bucket 0 probed; bucket-1 vectors pruned


def test_embedding_near_dup_pairs(spark, vectors):
    out = sim.embedding_near_dup_pairs(vectors, threshold=0.9, block_col="label")
    got = {(r["vec_id_a"], r["vec_id_b"]) for r in out.collect()}
    assert got == {(0, 1), (3, 4)}


def test_multimodal_features_deterministic(spark):
    df = spark.createDataFrame([(7, "abc")], "doc_id long, text string")
    row = mm.extract_features(mm.text_as_media(df)).collect()[0]
    assert row["media_id"] == 7
    assert row["n_bytes"] == 3
    assert row["byte_sum"] == ord("a") + ord("b") + ord("c")
    import hashlib
    assert row["head_md5"] == hashlib.md5(b"abc").hexdigest()


def test_kmeans_buckets_converges_and_ivf_works(spark, vectors):
    assign, cent = sim.kmeans_buckets(vectors, k=2, iters=3)
    got = {r["vec_id"]: r["bucket"] for r in assign.collect()}
    # vectors 0,1 (x-axis-ish) should share a bucket; 3,4 (z-axis-ish) share
    assert got[0] == got[1] and got[3] == got[4] and got[0] != got[3]
    assert cent.count() == 2
    # the kmeans buckets drive ivf_topk end-to-end
    corpus = vectors.join(assign, "vec_id")
    out = sim.ivf_topk(
        vectors.filter(F.col("vec_id") == 0), corpus, cent, k=2, n_probe=1
    )
    assert {r["neighbor_id"] for r in out.collect()} <= {1, 2, 3, 4}


def test_cosine_topk_pandas_matches_jvm(spark, vectors):
    jvm = sim.cosine_topk(vectors.filter(F.col("vec_id") < 2), vectors, k=3)
    pdu = sim.cosine_topk_pandas(vectors.filter(F.col("vec_id") < 2), vectors, k=3)
    as_set = lambda df: {(r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
                         for r in df.collect()}
    assert as_set(jvm) == as_set(pdu)


def test_cosine_topk_pandas_query_cap_enforced(spark, vectors):
    """The driver-side collect contract is enforced, not just
    documented: a query set above max_queries refuses loudly before
    anything is collected."""
    with pytest.raises(ValueError, match="exceeds max_queries"):
        sim.cosine_topk_pandas(vectors, vectors, k=2, max_queries=3)


def test_ivf_kmeans_recall_pinned_vs_exact(spark):
    """The learned-quantizer ANN (ann_ivf_kmeans_topk) is graded
    against the exact brute-force oracle: with deterministic Lloyd
    (init = k smallest ids, sims rounded half-up 6dp) recall@5 over
    the 10 sf0.001 query vectors is exactly 0.84 mean — pin >= 0.8
    mean and >= 0.4 per-query so any quantizer regression trips."""
    import umn_eda_kafka_stream_processing_spark.plans.catalog  # noqa: F401 — registry
    from umn_eda_kafka_stream_processing_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    exact, approx = {}, {}
    for r in REGISTRY["ann_cosine_topk"].spark(spark, sf).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in REGISTRY["ann_ivf_kmeans_topk"].spark(spark, sf).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = {
        q: len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    }
    assert len(recalls) == 10
    assert min(recalls.values()) >= 0.4, recalls
    assert sum(recalls.values()) / len(recalls) >= 0.8, recalls


def test_kmeans_assignment_deterministic(spark):
    """Two independent kmeans_buckets runs produce identical
    assignments and centroids — required for the unrolled SQL oracle
    of ann_ivf_kmeans_topk to stay valid."""
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a1, c1 = sim.kmeans_buckets(emb, k=8, iters=5)
    a2, c2 = sim.kmeans_buckets(emb, k=8, iters=5)
    assign1 = {r["vec_id"]: r["bucket"] for r in a1.collect()}
    assign2 = {r["vec_id"]: r["bucket"] for r in a2.collect()}
    assert assign1 == assign2
    cent1 = {r["bucket"]: r["embedding"] for r in c1.collect()}
    cent2 = {r["bucket"]: r["embedding"] for r in c2.collect()}
    assert cent1 == cent2


# --- real media codecs (no external libs) -------------------------------


def test_wav_roundtrip_exact():
    import numpy as np
    samples = np.array([0, 1000, -32768, 32767, -1], dtype=np.int16)
    blob = mm.encode_wav_pcm16(samples, 16000)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    d = mm.decode_wav(blob)
    assert d["sample_rate"] == 16000
    assert d["n_channels"] == 1
    assert d["n_samples"] == 5
    assert list(d["samples"][:, 0]) == list(samples)


def test_audio_zcr_integer_exact(spark):
    # [1,-1,0,-2,3]: strict sign flips at (1,-1) and (-2,3) only —
    # zeros break a crossing; energy = 1+1+0+4+9
    blob = mm.encode_wav_pcm16(np.array([1, -1, 0, -2, 3]), 8000)
    media = spark.createDataFrame(
        [(1, bytearray(blob))], "media_id long, content binary")
    row = mm.audio_zcr(media).collect()[0]
    assert row["n_samples"] == 5
    assert row["zero_crossings"] == 2
    assert row["energy"] == 15


def test_netpbm_roundtrip_and_comments():
    import numpy as np
    px = np.arange(12, dtype=np.uint8).reshape(3, 4)
    blob = mm.encode_pgm(px)
    assert (mm.decode_netpbm(blob) == px).all()
    # spec allows comments between header tokens
    commented = b"P5\n# a comment\n4 3\n# another\n255\n" + px.tobytes()
    assert (mm.decode_netpbm(commented) == px).all()
    # P6 color: (h, w, 3)
    rgb = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    p6 = b"P6\n4 2\n255\n" + rgb.tobytes()
    assert (mm.decode_netpbm(p6) == rgb).all()


def test_netpbm_rejects_unknown_magic_and_trailing():
    import numpy as np
    import pytest as pt
    with pt.raises(NotImplementedError):
        mm.decode_netpbm(b"\x89PNG\r\n\x1a\n")
    px = np.zeros((2, 2), dtype=np.uint8)
    with pt.raises(ValueError):
        mm.decode_netpbm(mm.encode_pgm(px) + b"garbage")


def test_resize_nearest_index_math():
    import numpy as np
    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    out = mm.resize_nearest(px, 4, 4)
    # output (r, c) = input (r*6//4, c*8//4)
    want = px[np.ix_((np.arange(4) * 6) // 4, (np.arange(4) * 8) // 4)]
    assert (out == want).all()
    # identity resize
    assert (mm.resize_nearest(px, 8, 6) == px).all()


def test_pgm_frame_container_walk():
    import numpy as np
    frames = [np.full((3, 4), f * 10, dtype=np.uint8) for f in range(5)]
    blob = b"".join(mm.encode_pgm(f) for f in frames)
    got = list(mm.iter_pgm_frames(blob))
    assert len(got) == 5
    assert all((g == f).all() for g, f in zip(got, frames))


def test_image_dhash_invariance_and_near_pairs(spark):
    """dHash (operators/multimodal.py:image_dhash): invariant to a
    global brightness shift and to nearest-neighbor upscaling (the
    re-encode/thumbnail case exact byte hashing misses), and
    image_phash_pairs surfaces a planted near-dup at hamming 0 via
    the banded join."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.integers(0, 200, size=(16, 20), dtype=np.int64)
    variants = {
        0: base,  # original
        1: np.clip(base + 40, 0, 255),  # brightness shift
        2: base[np.repeat(np.arange(16), 2), :][:, np.repeat(np.arange(20), 2)],
        3: rng.integers(0, 256, size=(12, 14), dtype=np.int64),  # unrelated
    }
    rows = [
        (int(mid), bytearray(mm.encode_pgm(px.astype(np.uint8))))
        for mid, px in variants.items()
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    sigs = {r["media_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
            for r in mm.image_dhash(media).collect()}
    # strict-> comparison survives +40 everywhere except where clip
    # saturates; none of base's compared neighbors reach the clip zone
    assert sigs[0] == sigs[1]
    assert sigs[0] == sigs[2]  # 2x nearest upscale maps to same thumb
    assert sigs[0] != sigs[3]

    pairs = {
        (r["media_id_a"], r["media_id_b"]): r["hamming"]
        for r in mm.image_phash_pairs(media, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0 and pairs[(1, 2)] == 0
    assert (0, 3) not in pairs and (1, 3) not in pairs

    # python replica of the bit packing on the base image
    thumb = mm.resize_nearest(base, 9, 8)
    bits = (thumb[:, 1:] > thumb[:, :-1]).astype(int).flatten()
    expect = tuple(
        int("".join(map(str, bits[k * 16 : (k + 1) * 16])), 2) for k in range(4)
    )
    assert sigs[0] == expect


def test_media_feature_operators_end_to_end(spark):
    """synth → real encode → real decode → features, on Spark."""
    ids = spark.createDataFrame([(3,), (17,)], "doc_id long")

    audio = {r["media_id"]: r for r in
             mm.audio_features(mm.synth_media(ids, "audio")).collect()}
    assert audio[3]["n_samples"] == 3 % 50 + 10
    assert audio[3]["sample_rate"] == 8000 * (3 % 3 + 1)
    assert audio[17]["peak"] <= 32768

    img = {r["media_id"]: r for r in
           mm.image_features(mm.synth_media(ids, "image")).collect()}
    assert (img[17]["width"], img[17]["height"]) == (17 % 13 + 3, 17 % 7 + 2)
    assert 0 <= img[3]["pixel_mean"] <= 255

    vid = mm.sample_frames(mm.synth_media(ids, "video"), every=2).collect()
    by_id = {}
    for r in vid:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    # doc 3: 3%4+2 = 5 frames -> sampled 0,2,4; doc 17: 17%4+2 = 3 -> 0,2
    assert sorted(by_id[3]) == [0, 2, 4]
    assert sorted(by_id[17]) == [0, 2]


def test_srp_lsh_pairs_finds_near_duplicates(spark):
    """Near-parallel vectors share every sign bit, so they collide in
    every band and survive the exact-cosine verify; orthogonal vectors
    never pass the threshold. Output pairs are (a < b) and unique."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),     # orthogonal
        (3, [0.0, 0.0, 1.0]),
        (4, [0.0, 0.005, 0.999]), # near-dup of 3
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sim.srp_lsh_pairs(df, threshold=0.9, dim=3, n_bits=8, bands=4).collect()
    pairs = {(r["vec_id_a"], r["vec_id_b"]) for r in got}
    assert (0, 1) in pairs and (3, 4) in pairs
    assert all(a < b for a, b in pairs)
    assert len(got) == len(pairs)  # multi-band collisions deduped
    sims = {(r["vec_id_a"], r["vec_id_b"]): r["sim"] for r in got}
    assert all(s >= 0.9 for s in sims.values())


def test_srp_band_keys_pack_sign_bits(spark):
    """Band key = big-endian packed sign bits of the band's planes."""
    df = spark.createDataFrame([(0, [1.0, 1.0])], "vec_id long, embedding array<float>")
    planes = [[1, 1], [-1, -1], [1, -1], [-1, 1]]  # dots: 2, -2, 0, 0
    keys = [r for r in df.select(
        *sim.srp_band_keys("embedding", planes, bands=2)).collect()][0]
    # band 0 bits: (2>=0)=1, (-2>=0)=0 -> 0b10 = 2
    # band 1 bits: (0>=0)=1, (0>=0)=1  -> 0b11 = 3
    assert (keys["bkey_0"], keys["bkey_1"]) == (2, 3)


def test_near_dup_clusters_components(spark):
    """Min-label propagation resolves chains (transitive near-dups),
    cliques, and isolated pairs to min-id components."""
    pairs = spark.createDataFrame(
        # chain 1-2-3 (1,3 not directly paired), clique 10-11-12, pair 20-21
        [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        "doc_id_a long, doc_id_b long",
    )
    got = sorted(
        (r["doc_id"], r["cluster_id"]) for r in dd.near_dup_clusters(pairs).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10),
                   (20, 20), (21, 20)]


def test_near_dup_clusters_long_chain_converges(spark):
    """A 12-node path needs multiple propagation rounds; the driver
    loop iterates to the fixpoint (all nodes -> label 0)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_id_a long, doc_id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dd.near_dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


def test_near_dup_clusters_driver_path_equals_distributed(spark):
    """The driver union-find escape (edge count <= driver_max_edges)
    and the distributed min-label loop (driver_max_edges=None) give
    the same (doc_id, cluster_id) set on a random sparse graph with
    chains, cliques, stars and isolated pairs — so the distributed
    path stays covered even though every small test graph takes the
    escape."""
    import random

    rng = random.Random(7)
    edges = {(i, i + 1) for i in range(0, 14)}  # a 15-node chain
    edges |= {(a, b) for a in range(30, 35) for b in range(a + 1, 35)}
    edges |= {(50, 50 + i) for i in range(1, 8)}  # a star
    nodes = list(range(100, 160))
    for _ in range(45):
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        sorted(edges), "doc_id_a long, doc_id_b long"
    )

    def clusters(**kw):
        return {
            (r["doc_id"], r["cluster_id"])
            for r in dd.near_dup_clusters(pairs, **kw).collect()
        }

    driver = clusters()
    assert driver == clusters(driver_max_edges=None)
    assert len({c for _, c in driver}) > 3


def test_bernoulli_sample_deterministic_and_unbiased(spark):
    """Same input -> identical selection on rerun; kept fraction within
    a loose binomial band of the rate; selection is a pure function of
    the key (membership stable under row reordering)."""
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    a = {r["k"] for r in smp.bernoulli_sample(df, "k", 0.25).collect()}
    b = {r["k"] for r in smp.bernoulli_sample(df.orderBy(F.desc("k")), "k", 0.25).collect()}
    assert a == b
    assert 0.20 < len(a) / 4000 < 0.30
    # rate monotonicity: a 10% sample is a subset of the 25% sample
    c = {r["k"] for r in smp.bernoulli_sample(df, "k", 0.10).collect()}
    assert c <= a


def test_stratified_sample_rates_bind_per_stratum(spark):
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    df = spark.createDataFrame(
        [(i, "hot" if i % 2 else "cold") for i in range(2000)], "k long, s string"
    )
    got = smp.stratified_sample(df, "s", "k", {"hot": 0.5, "cold": 0.0}).collect()
    assert all(r["s"] == "hot" for r in got)  # default_rate=0 drops unknown/cold
    assert 0.4 < len(got) / 1000 < 0.6


def test_uniform_k_per_stratum_exact_counts(spark):
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(300)], "k long, g string"
    )
    got = smp.uniform_k_per_stratum(df, "g", "k", k=7).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append(r["draw_rank"])
    assert set(by_g) == {"g0", "g1", "g2"}
    assert all(sorted(v) == list(range(1, 8)) for v in by_g.values())
    # small stratum: returns all of it, ranks still 1..n
    tiny = spark.createDataFrame([(1, "g"), (2, "g")], "k long, g string")
    assert sorted(
        r["draw_rank"] for r in smp.uniform_k_per_stratum(tiny, "g", "k", k=7).collect()
    ) == [1, 2]


def test_cluster_quota_draw_equal_quotas_and_exact_set(spark):
    """Cluster-quota diversity sampling (the cluster_quota_sample_stats
    composition): equal per-cluster quotas on a SKEWED assignment —
    the dominant cluster yields exactly k rows, tiny clusters all of
    theirs — and the admitted set is exactly the python md5-priority
    replica (a uniform without-replacement draw, not arbitrary)."""
    import hashlib

    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    # one giant cluster (900 ids), two small (5 and 12)
    rows = [(i, 0) for i in range(900)]
    rows += [(1000 + i, 1) for i in range(5)]
    rows += [(2000 + i, 2) for i in range(12)]
    assign = spark.createDataFrame(rows, "vec_id long, bucket int")
    got = smp.uniform_k_per_stratum(
        assign, "bucket", "vec_id", k=8, salt="cqs"
    ).collect()
    by_b = {}
    for r in got:
        by_b.setdefault(r["bucket"], set()).add(r["vec_id"])
    assert {b: len(v) for b, v in by_b.items()} == {0: 8, 1: 5, 2: 8}

    def key(v):
        return int(hashlib.md5(f"cqs|{v}".encode()).hexdigest()[:8], 16)

    for b in (0, 1, 2):
        ids = [v for v, bb in rows if bb == b]
        expect = set(sorted(ids, key=lambda v: (key(v), v))[:8])
        assert by_b[b] == expect, b


def test_incremental_cluster_quota_greedy_and_replay(spark, tmp_path):
    """Online cluster-quota admission (operators/sampling.py:
    incremental_cluster_quota): single batch == the batch draw;
    across batches greedy-online (earlier batches claim slots first,
    equal to rank<=quota under (batch_id, md5, key)); replaying a
    middle batch leaves the store byte-identical."""
    import hashlib

    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    def key(v):
        return int(hashlib.md5(f"cqs|{v}".encode()).hexdigest()[:8], 16)

    rows = [(v, v % 4) for v in range(120)]
    batches = {b: [(v, c) for v, c in rows if v % 3 == b] for b in range(3)}
    store = str(tmp_path / "cq_store")
    quota = 7

    def run(b):
        df = spark.createDataFrame(batches[b], "vec_id long, bucket int")
        return smp.incremental_cluster_quota(
            spark, store, df, "bucket", "vec_id", quota=quota, batch_id=b
        )

    # single batch == the batch draw over that batch
    got0 = {(r["cluster"], r["key"]) for r in run(0).collect()}
    expect0 = set()
    for c in range(4):
        ids = [v for v, cc in batches[0] if cc == c]
        expect0 |= {(c, v) for v in sorted(ids, key=lambda v: (key(v), v))[:quota]}
    assert got0 == expect0

    run(1)
    run(2)

    def snap():
        return sorted(
            (r["cluster"], r["key"], r["batch_id"])
            for r in spark.read.parquet(store).collect()
        )

    # python replica of greedy-online: global (batch, md5, key) order
    expect = set()
    for c in range(4):
        ordered = sorted(
            ((v, b) for b, bat in batches.items() for v, cc in bat if cc == c),
            key=lambda vb: (vb[1], key(vb[0]), vb[0]),
        )
        expect |= {(c, v, b) for v, b in ordered[:quota]}
    assert {(c, v, b) for c, v, b in snap()} == expect

    before = snap()
    run(1)  # replay: must recompute the identical set -> upsert no-op
    assert snap() == before


def test_domain_mixture_sample_weights_and_cap(spark):
    """3x-weighted domain keeps ~3x the rows of a unit domain; a domain
    smaller than its target hits the 2^32 cap and keeps everything."""
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    rows = [(i, "big_a") for i in range(3000)]
    rows += [(10000 + i, "big_b") for i in range(3000)]
    rows += [(20000 + i, "tiny") for i in range(10)]
    df = spark.createDataFrame(rows, "k long, dom string")
    got = smp.domain_mixture_sample(
        df, "dom", "k", {"big_a": 3, "big_b": 1, "tiny": 1}, target_total=500
    ).collect()
    n = {}
    for r in got:
        n[r["dom"]] = n.get(r["dom"], 0) + 1
    assert n["tiny"] == 10  # cap: rate clamps at 1.0
    assert 2.0 < n["big_a"] / n["big_b"] < 4.5  # ~3x weighting
    # unknown domains (weight 0) are dropped entirely
    df2 = df.withColumn("dom", F.lit("unlisted"))
    assert smp.domain_mixture_sample(df2, "dom", "k", {"big_a": 1}, 10).count() == 0


def test_temperature_mixture_sample_domain_named_domain(spark):
    """Regression: the rate table derives from df and exposes a
    'domain' column — a caller whose domain_col is literally 'domain'
    must not trip AMBIGUOUS_REFERENCE (the derived-side join trap);
    the join key carries a reserved alias instead."""
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    rows = [(i, "a") for i in range(2000)] + [
        (10000 + i, "b") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k long, domain string")
    got = smp.temperature_mixture_sample(
        df, "domain", "k", F.lit(1), target_total=600, alpha=0.5
    ).collect()
    assert got and set(df.columns) == set(got[0].asDict())
    n = {}
    for r in got:
        n[r["domain"]] = n.get(r["domain"], 0) + 1
    # alpha=0.5 temperature: the small domain is up-weighted relative
    # to its size share (sqrt weighting), both domains survive
    assert n.get("b", 0) > 0 and n.get("a", 0) > 0


def test_weighted_sample_k_matches_python_reference(spark):
    """A-Res weighted sampling: the engine's (priority, rank) per
    stratum must exactly equal a Python replica of the identical
    md5 -> u32 -> floor((-ln u)/w * 1e6 + .5) chain; and across many
    salts, a weight-10 item must be drawn roughly 10x as often as a
    weight-1 item (the without-replacement inclusion property)."""
    import hashlib
    import math

    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    rows = [(i, "g", (i % 7) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, g string, w long")

    def py_prio(key, wgt, salt="wrs"):
        u32 = int(hashlib.md5(f"{salt}|{key}".encode()).hexdigest()[:8], 16)
        u = (u32 + 0.5) / 4294967296.0
        return math.floor((-math.log(u)) / float(wgt) * 1000000.0 + 0.5)

    got = [
        (r["k"], r["priority_micro"], r["draw_rank"])
        for r in smp.weighted_sample_k(
            df, "k", "w", k=10, strata_cols="g"
        ).collect()
    ]
    ref = sorted((py_prio(k, w_), k) for k, _, w_ in rows)[:10]
    want = [(k, p, i + 1) for i, (p, k) in enumerate(ref)]
    assert sorted(got) == sorted(want)
    # proportional inclusion: weight 10 vs weight 1, 40 salts
    heavy_hits = light_hits = 0
    rows2 = [(i, 10 if i < 25 else 1) for i in range(50)]
    df2 = spark.createDataFrame(rows2, "k long, w long")
    for s in range(12):
        drawn = {
            r["k"]
            for r in smp.weighted_sample_k(
                df2, "k", "w", k=10, strata_cols=(), salt=f"s{s}"
            ).collect()
        }
        heavy_hits += sum(1 for k in drawn if k < 25)
        light_hits += sum(1 for k in drawn if k >= 25)
    assert heavy_hits > 3 * light_hits  # ~10x expected; 3x is a safe floor


def _py_budget_prio(key, wgt, salt="bud"):
    import hashlib
    import math

    u32 = int(hashlib.md5(f"{salt}|{key}".encode()).hexdigest()[:8], 16)
    u = (u32 + 0.5) / 4294967296.0
    return math.floor((-math.log(u)) / float(wgt) * 1000000.0 + 0.5)


def _py_budget_keep(rows, dom, budget):
    """Greedy prefix of (priority, key) order until the budget fills."""
    order = sorted(
        (_py_budget_prio(k, sz), k, sz)
        for k, d, sz in rows
        if d == dom and sz > 0
    )
    cum = 0
    kept = []
    for _, k, sz in order:
        if cum >= budget:
            break
        kept.append(k)
        cum += sz
    return set(kept), cum


@pytest.mark.parametrize("window_budget_max", [1_000_000, 0])
def test_token_budget_mixture_matches_python_reference(
    spark, window_budget_max
):
    """Budget-constrained mixture: per-domain kept set must equal the
    Python replica (A-Res priority order, shortest prefix whose
    running mass reaches the budget); realized tokens land within one
    doc of the budget; zero-weight domains drop; a domain smaller
    than its budget keeps everything; non-positive sizes drop.
    Parametrized over BOTH plan regimes: the small-budget window path
    and the distributed histogram-cut path (window_budget_max=0
    forces it) must keep the identical set."""
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    rows = (
        [(i, "a", (i % 9) + 1) for i in range(60)]          # big domain
        + [(100 + i, "b", 5) for i in range(4)]             # small domain
        + [(200 + i, "c", (i % 5) + 1) for i in range(30)]  # zero weight
        + [(300, "a", 0), (301, "b", -3)]                   # dropped rows
    )
    df = spark.createDataFrame(rows, "k long, dom string, sz long")
    weights = {"a": 2, "b": 1}
    total = 90  # B_a = 60, B_b = 30 (> domain b's total mass of 20)

    want = {
        dom: _py_budget_keep(rows, dom, b)
        for dom, b in (("a", 60), ("b", 30))
    }
    got = smp.token_budget_mixture_sample(
        df, "dom", "k", "sz", weights, total,
        window_budget_max=window_budget_max,
    ).collect()
    by_dom: dict = {}
    for r in got:
        ks, tok = by_dom.setdefault(r["dom"], (set(), 0))
        by_dom[r["dom"]] = (ks | {r["k"]}, tok + r["sz"])
    assert set(by_dom) == {"a", "b"}  # zero-weight c dropped
    assert by_dom["a"] == want["a"] and by_dom["b"] == want["b"]
    # within one doc of budget: a's realized mass reaches 60 and
    # overshoots by less than its last (crossing) doc
    toks_a = by_dom["a"][1]
    assert toks_a >= 60 and toks_a - 60 < 9
    # b is smaller than its budget: keeps its whole positive mass
    assert by_dom["b"][1] == 20 and by_dom["b"][0] == {100, 101, 102, 103}


def test_repeat_mixture_matches_python_reference(spark):
    """Upsampling with repeat factors: per-doc n_repeats equals the
    Python replica (full epochs = target div avail; remainder filled
    by the A-Res prefix, salt 'rep'); realized mass lands within one
    doc of the target; an exact-multiple target has a zero remainder
    (uniform repeats); target < avail degrades to {0,1} downsampling;
    target 0 drops the domain; non-positive sizes drop."""
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    rows = (
        [(i, "up", (i % 7) + 2) for i in range(20)]    # avail 100
        + [(100 + i, "ex", 10) for i in range(5)]      # avail 50
        + [(200 + i, "dn", (i % 4) + 1) for i in range(12)]
        + [(300, "z", 8)]                               # zero target
        + [(400, "up", 0), (401, "dn", -2)]             # dropped rows
    )
    df = spark.createDataFrame(rows, "k long, dom string, sz long")
    avail = {"up": sum(sz for _, d, sz in rows if d == "up" and sz > 0),
             "ex": 50,
             "dn": sum(sz for _, d, sz in rows if d == "dn" and sz > 0)}
    targets = {"up": 3 * avail["up"] + 17, "ex": 150, "dn": 9, "z": 0}

    def replica(dom):
        t, a = targets[dom], avail[dom]
        full, rem = t // a, t % a
        order = sorted(
            (_py_budget_prio(k, sz, salt="rep"), k, sz)
            for k, d, sz in rows if d == dom and sz > 0
        )
        reps, cum = {}, 0
        for _, k, sz in order:
            reps[k] = full + (1 if cum < rem else 0)
            cum += sz
        return {k: r for k, r in reps.items() if r >= 1}

    want = {}
    for dom in ("up", "ex", "dn"):
        for k, r in replica(dom).items():
            want[k] = r
    got = {
        r["k"]: r["n_repeats"]
        for r in smp.repeat_mixture_sample(
            df, "dom", "k", "sz", targets
        ).collect()
    }
    assert got == want
    # exact multiple: uniform repeats, zero remainder
    assert {got[100 + i] for i in range(5)} == {3}
    # upsample realized mass within one doc of the target
    realized = sum(
        got[k] * sz for k, d, sz in rows if d == "up" and sz > 0
    )
    assert targets["up"] <= realized < targets["up"] + 8
    # downsample: repeats are exactly 1 on the kept prefix
    assert all(v == 1 for k, v in got.items() if 200 <= k < 300)
    # zero-target domain and non-positive sizes never appear
    assert 300 not in got and 400 not in got and 401 not in got


def test_token_budget_histogram_path_large_domain(spark):
    """The round-10 scale gap, exercised: >1e5 candidate docs funnel
    through ONE domain with a large budget — the histogram path must
    (a) keep exactly the Python replica's prefix, (b) plan NO
    per-domain total-order window (the cut comes from the bounded
    grouped histogram; only the crossing priority pays a tie window),
    while the window path on the same inputs ranks through
    row_number. Also pins the boundary tie-break: engineered
    priority ties at the crossing value split by key."""
    import re

    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    n = 120_000
    rows = [(i, "big", (i % 9) + 1) for i in range(n)]
    df = spark.createDataFrame(rows, "k long, dom string, sz long")
    weights = {"big": 1}
    total = 200_000  # B = 200k of ~600k total mass: a real cut

    out = smp.token_budget_mixture_sample(
        df, "dom", "k", "sz", weights, total, window_budget_max=0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # histogram path: no rank window at all, and no window partitioned
    # by the domain alone that orders by priority (the single-reducer
    # shape the path exists to remove) — the bounded histogram offset
    # window partitions by dom but orders by its bucket id
    assert "row_number" not in plan
    assert not re.search(
        r"windowspecdefinition\(dom#\d+, priority_micro#\d+L? ASC", plan
    ), "per-domain total-order window leaked into the histogram path"
    got = {(r["k"], r["sz"]) for r in out.collect()}
    want_keys, want_mass = _py_budget_keep(rows, "big", total)
    assert {k for k, _ in got} == want_keys
    assert sum(sz for _, sz in got) == want_mass
    # window path agrees (the two regimes are interchangeable)
    got_w = {
        r["k"]
        for r in smp.token_budget_mixture_sample(
            df, "dom", "k", "sz", weights, total
        ).collect()
    }
    assert got_w == want_keys


def test_budget_samplers_thousand_domain_weights(spark):
    """The budget table is a broadcast join, not an N-branch CASE
    chain: a 1,000-domain weights dict must analyze and run (the
    chain was a codegen/analysis hazard at this width), and the kept
    sets still match the Python replica for the domains present."""
    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    weights = {f"d{i:04d}": (i % 5) + 1 for i in range(1000)}
    wsum = sum(weights.values())
    total = 30 * wsum  # B_d = 30 * w_d exactly
    rows = [
        (100 * j + i, f"d{j:04d}", (i % 7) + 1)
        for j in (0, 371, 999)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "k long, dom string, sz long")
    got = smp.token_budget_mixture_sample(
        df, "dom", "k", "sz", weights, total
    ).collect()
    by_dom: dict = {}
    for r in got:
        by_dom.setdefault(r["dom"], set()).add(r["k"])
    for j in (0, 371, 999):
        dom = f"d{j:04d}"
        b = (total * weights[dom]) // wsum
        want_keys, _ = _py_budget_keep(rows, dom, b)
        assert by_dom.get(dom, set()) == want_keys, dom
    # the incremental twin takes the same width of budgets dict
    budgets = {d: 30 * w for d, w in weights.items()}
    import tempfile

    store = tempfile.mkdtemp(prefix="sparkgraft_budget1k_") + "/store"
    adm = smp.incremental_budget_admission(
        spark, store, df, "dom", "k", "sz", budgets, batch_id=0
    ).collect()
    by_dom2: dict = {}
    for r in adm:
        by_dom2.setdefault(r["domain"], set()).add(r["key"])
    for j in (0, 371, 999):
        dom = f"d{j:04d}"
        want_keys, _ = _py_budget_keep(rows, dom, budgets[dom])
        assert by_dom2.get(dom, set()) == want_keys, dom


@pytest.mark.parametrize("window_budget_max", [1_000_000, 0])
def test_incremental_budget_admission_greedy_online_replay_safe(
    spark, tmp_path, window_budget_max
):
    """Online budget admission: per-batch admitted sets equal the
    greedy-online Python replica (within-batch A-Res order, earlier
    batches fill first), realized mass stays within one doc of each
    budget, unknown domains drop, and a replayed batch is a no-op.
    Parametrized over both admission regimes — the window path and
    the histogram remaining-budget path (window_budget_max=0) must
    admit the identical sets."""
    import hashlib
    import math

    from umn_eda_kafka_stream_processing_spark.operators import sampling as smp

    budgets = {"a": 20, "b": 8}
    batches = [
        [(1, "a", 6), (2, "a", 9), (3, "b", 5), (4, "c", 7)],
        [(5, "a", 7), (6, "a", 4), (7, "b", 5), (8, "b", 2)],
        [(9, "a", 9), (10, "b", 9), (11, "a", 1)],
    ]
    store = str(tmp_path / "admission")

    def py_prio(key, wgt):
        u32 = int(hashlib.md5(f"bud|{key}".encode()).hexdigest()[:8], 16)
        u = (u32 + 0.5) / 4294967296.0
        return math.floor((-math.log(u)) / float(wgt) * 1000000.0 + 0.5)

    consumed = {d: 0 for d in budgets}
    want: dict = {}
    for bid, rows in enumerate(batches):
        for d in budgets:
            order = sorted(
                (py_prio(k, sz), k, sz)
                for k, dd, sz in rows
                if dd == d and sz > 0
            )
            cum = 0
            for _, k, sz in order:
                if consumed[d] + cum >= budgets[d]:
                    break
                want[(d, k)] = (sz, bid)
                cum += sz
            consumed[d] += cum
        got_batch = smp.incremental_budget_admission(
            spark,
            store,
            spark.createDataFrame(rows, "k long, dom string, sz long"),
            "dom",
            "k",
            "sz",
            budgets,
            bid,
            window_budget_max=window_budget_max,
        ).collect()
        for r in got_batch:
            assert want[(r["domain"], r["key"])] == (r["size"], bid)

    got = {
        (r["domain"], r["key"]): (r["size"], r["batch_id"])
        for r in spark.read.parquet(store).collect()
    }
    assert got == want
    # budgets respected within one doc
    for d, b in budgets.items():
        mass = sum(sz for (dd, _), (sz, _) in got.items() if dd == d)
        max_doc = max(sz for _, dd, sz in sum(batches, []) if dd == d)
        assert mass < b + max_doc
    assert not any(dd == "c" for dd, _ in got)  # unknown domain dropped
    # replay batch 1: consumed excludes its own rows -> identical set
    smp.incremental_budget_admission(
        spark,
        store,
        spark.createDataFrame(batches[1], "k long, dom string, sz long"),
        "dom",
        "k",
        "sz",
        budgets,
        1,
        window_budget_max=window_budget_max,
    )
    got2 = {
        (r["domain"], r["key"]): (r["size"], r["batch_id"])
        for r in spark.read.parquet(store).collect()
    }
    assert got2 == want


def test_histogram_drift_monitor_psi(spark, tmp_path):
    """Distribution half of the contract monitor: per-batch histogram
    registers land replay-safely; drift_census computes the exact
    integer-form PSI of a current window vs a reference window —
    pinned against a Python replica of the identical double-op
    chain; a planted shifted batch alarms while an identically
    distributed control column stays ~0; a replayed batch is a
    byte-identical no-op."""
    import math

    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        drift_census,
        histogram_monitor_registers,
    )
    from umn_eda_kafka_stream_processing_spark.stores import FLOOR, BatchStore

    store = str(tmp_path / "hist")
    monitor = BatchStore(spark, store, marker=FLOOR)
    specs = {"v": (0.0, 64.0, 16), "ctl": (0.0, 64.0, 16)}
    batches = {
        0: [(float(i % 40), float(i % 32)) for i in range(300)],
        1: [(float((i * 7) % 40), float(i % 32)) for i in range(300)],
        # planted drift: v shifts +20; ctl keeps the same distribution
        2: [(float(i % 40 + 20), float(i % 32)) for i in range(300)],
    }
    for bid, rows in batches.items():
        monitor.upsert(bid, histogram_monitor_registers(
            spark.createDataFrame(rows, "v double, ctl double"), specs
        ))
    got = {
        r["col_name"]: r
        for r in drift_census(spark, store, (0, 1), (2, 2)).collect()
    }

    # Python replica (same bin arithmetic, same fixed double ops)
    def psi(col_idx, lo, hi, bins):
        def bin_of(v):
            return min(bins - 1, max(0, math.floor((v - lo) / ((hi - lo) / bins))))

        ref: dict = {}
        cur: dict = {}
        for bid, rows in batches.items():
            tgt = ref if bid <= 1 else cur
            for row in rows:
                b = bin_of(row[col_idx])
                tgt[b] = tgt.get(b, 0) + 1
        all_bins = sorted(set(ref) | set(cur))
        nb = len(all_bins)
        rt, ct = sum(ref.values()), sum(cur.values())
        femto = 0
        for b in all_bins:
            rc, cc = ref.get(b, 0), cur.get(b, 0)
            p = float(rc + 1) / float(rt + nb)
            q = float(cc + 1) / float(ct + nb)
            ratio = (float(cc + 1) * float(rt + nb)) / (
                float(rc + 1) * float(ct + nb)
            )
            lr = math.floor(math.log(ratio) * 1e6 + 0.5)
            dq = math.floor((q - p) * 1e9 + 0.5)
            femto += dq * lr
        return nb, rt, ct, femto

    for col, idx in (("v", 0), ("ctl", 1)):
        nb, rt, ct, femto = psi(idx, *specs[col])
        r = got[col]
        assert (r["n_bins"], r["ref_total"], r["cur_total"]) == (nb, rt, ct)
        assert r["psi_femto"] == femto, col
        assert r["psi_femto"] >= 0
    # the planted shift alarms; the control does not (bands: 0.1/0.25)
    assert got["v"]["psi_micro"] > 250_000
    assert got["ctl"]["psi_micro"] < 100_000
    # replay batch 1: batch-keyed registers -> identical store
    before = sorted(
        map(tuple, spark.read.parquet(store).collect())
    )
    monitor.upsert(1, histogram_monitor_registers(
        spark.createDataFrame(batches[1], "v double, ctl double"), specs
    ))
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before


def test_incremental_decontaminate_equals_batch(spark, tmp_path):
    """The benchmark gram store grows per batch (replay-safe
    batch-keyed registers); sweeping a corpus batch against the
    merged store equals the from-scratch batch sweep against the
    union benchmark — and an eval set added later catches docs the
    earlier store missed."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        benchmark_grams,
        decontaminate,
        incremental_decontaminate,
        merge_grams,
        word_ngram_hashes,
    )
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    bench0 = spark.createDataFrame(
        [(100, " ".join(f"b{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    bench1 = spark.createDataFrame(
        [(101, " ".join(f"c{i}" for i in range(10)))],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, " ".join(f"b{i}" for i in range(9))),   # hits bench0
            (2, " ".join(f"c{i}" for i in range(9))),   # hits bench1 only
            (3, " ".join(f"z{i}" for i in range(9))),   # clean
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "benchgrams")
    grams = BatchStore(spark, store, merge_grams)
    grams.upsert(0, benchmark_grams(bench0))

    def sweep():
        return {
            r["doc_id"]: r["contaminated"]
            for r in incremental_decontaminate(
                spark, store, corpus
            ).collect()
        }

    assert sweep() == {1: 1, 2: 0, 3: 0}
    # a later eval set lands: doc 2 now flags; replay of batch 1 is
    # a no-op (store row count pinned)
    grams.upsert(1, benchmark_grams(bench1))
    n_rows = spark.read.parquet(store).count()
    grams.upsert(1, benchmark_grams(bench1))
    assert spark.read.parquet(store).count() == n_rows
    assert sweep() == {1: 1, 2: 1, 3: 0}

    # merged store == from-scratch union gram set, and the sweep ==
    # the batch operator against the union benchmark
    union_bench = bench0.unionByName(bench1)
    want_grams = {
        g
        for row in union_bench.select(
            word_ngram_hashes("text")
        ).collect()
        for g in row[0]
    }
    got_grams = {r["g"] for r in grams.read().collect()}
    assert got_grams == want_grams
    batch = {
        r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
        for r in decontaminate(corpus, union_bench).collect()
    }
    incr = {
        r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
        for r in incremental_decontaminate(spark, store, corpus).collect()
    }
    assert incr == batch


def test_decontam_gram_injection_equals_default(spark, tmp_path):
    """r14 optimization seams: (a) a gram store written from the
    cached corpus gram table's filter holds the IDENTICAL rows as one
    written from the `benchmark_grams` text explode (the per-doc
    purity contract the catalog's cached register payloads rely on),
    and (b) `incremental_decontaminate(docs_grams=...)` returns the
    identical census when injected with `corpus_gram_table` over the
    same corpus."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        benchmark_grams,
        corpus_gram_table,
        incremental_decontaminate,
        merge_grams,
    )
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [
            (1, " ".join(f"b{i}" for i in range(9))),
            (2, " ".join(f"c{i}" for i in range(9))),
            (3, " ".join(f"z{i}" for i in range(9))),
            (4, " ".join(f"b{i}" for i in range(12))),  # the "suite"
        ],
        "doc_id long, text string",
    )
    grams = corpus_gram_table(corpus)
    bench = corpus.filter(F.col("doc_id") == 4)

    s_default = str(tmp_path / "default")
    s_injected = str(tmp_path / "injected")
    BatchStore(spark, s_default, merge_grams).upsert(0, benchmark_grams(bench))
    BatchStore(spark, s_injected, merge_grams).upsert(
        0,
        grams.filter(F.col("doc_id") == 4)
        .select(F.col("_g").alias("g"))
        .distinct(),
    )
    want = sorted(
        (r["batch_id"], r["g"])
        for r in spark.read.parquet(s_default).collect()
    )
    got = sorted(
        (r["batch_id"], r["g"])
        for r in spark.read.parquet(s_injected).collect()
    )
    assert got == want and want  # identical, non-empty

    def census(**kw):
        return sorted(
            tuple(r) for r in incremental_decontaminate(
                spark, s_default, corpus, **kw
            ).collect()
        )

    assert census(docs_grams=grams) == census()


def test_resweep_decontaminate_delta_equals_full(spark, tmp_path):
    """Late-arriving benchmark remedy (round-12 verdict task 2): a
    corpus swept against the batch-0 store, then a LATE benchmark
    batch lands — the delta re-sweep (novel grams of batches >
    since only) merged with the standing census equals a
    from-scratch full sweep COLUMN-FOR-COLUMN, including hit
    counts: the delta gram set is anti-joined disjoint, so a gram
    shared by both benchmark batches is never double counted."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
        incremental_decontaminate,
        benchmark_grams,
        merge_decontam_censuses,
        merge_grams,
        resweep_decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    # bench1 SHARES grams with bench0 (b-prefix overlap) — the
    # double-count trap the anti-join must defuse
    bench0 = spark.createDataFrame(
        [(100, " ".join(f"b{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    bench1 = spark.createDataFrame(
        [
            (101, " ".join(f"b{i}" for i in range(10))),  # subset of b0
            (102, " ".join(f"c{i}" for i in range(10))),  # novel grams
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, " ".join(f"b{i}" for i in range(9))),   # hits both
            (2, " ".join(f"c{i}" for i in range(9))),   # hits bench1 only
            (3, " ".join(f"z{i}" for i in range(9))),   # clean
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "benchgrams")
    grams = BatchStore(spark, store, merge_grams)
    grams.upsert(0, benchmark_grams(bench0))
    standing = incremental_decontaminate(spark, store, corpus)
    standing_rows = {r["doc_id"]: r["contaminated"]
                     for r in standing.collect()}
    assert standing_rows == {1: 1, 2: 0, 3: 0}
    standing = standing.localCheckpoint()  # frozen BEFORE the store grows
    # the late batch lands after the corpus was admitted
    grams.upsert(1, benchmark_grams(bench1))
    delta = resweep_decontaminate(spark, store, corpus, since_batch=0)
    merged = {
        r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
        for r in merge_decontam_censuses(standing, delta).collect()
    }
    full = {
        r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
        for r in decontaminate(
            corpus, bench0.unionByName(bench1)
        ).collect()
    }
    assert merged == full
    # and doc 1's shared-gram hits were counted exactly once: its
    # delta contribution is zero (every gram it hits was in batch 0)
    assert {r["doc_id"]: r["n_hit_grams"] for r in delta.collect()}[1] == 0


def test_training_manifest_permutation_invariant(spark):
    """The composed curation chain (round-12 verdict task 1): the
    manifest is a pure function of the input SET — permuting row
    order and partitioning reproduces it byte-identically — and its
    invariants hold: no admitted doc is contaminated, no near-dup
    pair survives among admitted docs, every n_repeats >= 1."""
    from umn_eda_kafka_stream_processing_spark.operators.curation import (
        training_manifest,
    )
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.sources.parquet import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    targets = {f"src{i}": (50_000 if i % 5 == 0 else 3_000)
               for i in range(20)}

    def manifest_rows(frame):
        m = training_manifest(frame, bench, targets)
        return sorted(
            (r["doc_id"], r["source"], r["n_chars"], r["n_repeats"])
            for r in m.select(
                "doc_id", "source", "n_chars", "n_repeats"
            ).collect()
        )

    base = manifest_rows(docs)
    assert base and all(r[3] >= 1 for r in base)
    # permute: reverse-ish order + different partitioning — a pure
    # set function must not notice
    permuted = docs.orderBy(F.md5(F.col("doc_id").cast("string"))
                            ).repartition(7)
    assert manifest_rows(permuted) == base
    # invariants as data: zero contaminated admits, zero surviving
    # near-dup pairs among the admitted ids
    ids = {r[0] for r in base}
    flagged = {
        r["doc_id"]
        for r in decontaminate(docs, bench).filter(
            F.col("contaminated") == 1
        ).collect()
    }
    assert not (ids & flagged)
    pair_rows = minhash_lsh_pairs(docs).collect()
    assert pair_rows  # the fixture really has near-dup pairs
    assert not [
        (r["doc_id_a"], r["doc_id_b"])
        for r in pair_rows
        if r["doc_id_a"] in ids and r["doc_id_b"] in ids
    ]


def test_patch_training_manifest_equals_from_scratch(spark, tmp_path):
    """Incremental manifest maintenance (round-13 verdict task 2): a
    manifest shipped against the initial benchmark suites, patched
    after LATE suites land in the gram store, equals the from-scratch
    `training_manifest` against the grown benchmark byte-for-byte —
    without re-running the pair graph or the full gram sweep. Also
    pins: flags only ADD (newly == grown-flagged minus standing-
    flagged), and the patch re-admits freed mass (repeat factors can
    RISE for surviving docs when a heavy doc is retracted)."""
    from umn_eda_kafka_stream_processing_spark.operators.curation import (
        patch_training_manifest,
        training_manifest,
    )
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        benchmark_grams,
        merge_grams,
    )
    from umn_eda_kafka_stream_processing_spark.sources.parquet import (
        load_table,
    )
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    suite0 = docs.filter(F.col("doc_id") % 37 == 0)
    late = docs.filter(F.col("doc_id") % 41 == 0)
    targets = {f"src{i}": (50_000 if i % 5 == 0 else 3_000)
               for i in range(20)}
    store = str(tmp_path / "grams")
    grams = BatchStore(spark, store, merge_grams)
    grams.upsert(0, benchmark_grams(suite0))

    def rows(m):
        return sorted(
            (r["doc_id"], r["source"], r["n_chars"], r["n_repeats"])
            for r in m.select(
                "doc_id", "source", "n_chars", "n_repeats"
            ).collect()
        )

    shipped, st0 = training_manifest(
        docs, None, targets, return_stages=True,
        bench_grams=grams.read(),
    )
    shipped_rows = rows(shipped)
    # the late suite lands AFTER the manifest shipped
    grams.upsert(1, benchmark_grams(late))
    patched, pst = patch_training_manifest(
        spark, docs, store, 0, st0["decontam"], st0["clusters"],
        targets, return_stages=True,
    )
    scratch = training_manifest(
        docs, None, targets,
        pairs=st0["pairs"], clusters=st0["clusters"],
        bench_grams=grams.read(),
    )
    patched_rows = rows(patched)
    assert patched_rows == rows(scratch)  # the equality pin
    assert patched_rows != shipped_rows  # the late suite really bit
    # retraction set: exactly the shipped-manifest docs that the late
    # suite newly flagged
    newly = {r["doc_id"] for r in pst["newly"].collect()}
    assert newly  # fixture really has newly-contaminated keepers
    shipped_ids = {r[0] for r in shipped_rows}
    patched_ids = {r[0] for r in patched_rows}
    assert shipped_ids - patched_ids <= newly
    assert not (patched_ids & newly)


def test_extend_training_manifest_equals_from_scratch(spark):
    """Append-only corpus growth (the growing-corpus twin of the
    benchmark patch): a manifest shipped over the old corpus,
    EXTENDED when a new doc batch lands, equals the from-scratch
    `training_manifest` over the grown corpus byte-for-byte — with
    the pair graph grown by `minhash_lsh_pairs_delta` (no old
    self-join), clustering re-run only on the affected subgraph, and
    one batch-only decontamination sweep. The split threshold is
    chosen from the fixture's own pair list so at least one pair
    SPANS old/new (the cluster-merge path really executes)."""
    from umn_eda_kafka_stream_processing_spark.operators.curation import (
        extend_training_manifest,
        training_manifest,
    )
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
    )
    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )
    from umn_eda_kafka_stream_processing_spark.sources.parquet import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    targets = {f"src{i}": (50_000 if i % 5 == 0 else 3_000)
               for i in range(20)}
    full_pairs = minhash_lsh_pairs(docs).localCheckpoint()
    pair_rows = full_pairs.collect()
    assert pair_rows
    # split right below some pair's larger endpoint: that pair spans
    T = max(r["doc_id_b"] for r in pair_rows)
    old = docs.filter(F.col("doc_id") < T)
    batch = docs.filter(F.col("doc_id") >= T)
    assert batch.count() >= 1
    # the shipped run's substrates over the OLD corpus (pairs derive
    # by restriction — pairwise predicates — clusters/census rebuilt)
    old_pairs = full_pairs.filter(F.col("doc_id_b") < T).localCheckpoint()
    old_clusters = near_dup_clusters(
        old_pairs, pairs_materialized=True
    ).localCheckpoint()
    old_keepers = (
        old.join(old_clusters, "doc_id", "left")
        .filter(
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            == F.col("doc_id")
        )
        .drop("cluster_id")
    )
    standing = decontaminate(old_keepers, bench).localCheckpoint()

    def rows(m):
        return sorted(
            (r["doc_id"], r["source"], r["n_chars"], r["n_repeats"])
            for r in m.select(
                "doc_id", "source", "n_chars", "n_repeats"
            ).collect()
        )

    ext, st = extend_training_manifest(
        spark, old, batch, old_pairs, old_clusters, standing, targets,
        benchmark=bench, return_stages=True,
    )
    scratch = training_manifest(docs, bench, targets, pairs=full_pairs)
    assert rows(ext) == rows(scratch)
    # the grown cluster table equals from-scratch components too
    want_clusters = sorted(
        map(tuple, near_dup_clusters(
            full_pairs, pairs_materialized=True
        ).collect())
    )
    assert sorted(map(tuple, st["clusters"].collect())) == want_clusters
    # the chosen T really made a spanning pair: some grown cluster
    # holds docs on both sides of the boundary
    spans = (
        st["clusters"]
        .groupBy("cluster_id")
        .agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        )
        .filter((F.col("mn") < T) & (F.col("mx") >= T))
        .count()
    )
    assert spans >= 1


def test_cluster_safe_split_no_cross_split_pairs(spark):
    """Every member of a near-dup component lands in the SAME split;
    docs outside any component split exactly as split_assign would;
    determinism holds across calls; the naive per-doc assignment
    demonstrably splits at least one component on the same fixture."""
    from umn_eda_kafka_stream_processing_spark.operators.sampling import (
        cluster_safe_split,
        split_assign,
    )

    ids = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    # components: {0..9}, {100..104}, {200, 201} — rest singletons
    comps = [list(range(10)), list(range(100, 105)), [200, 201]]
    clusters = spark.createDataFrame(
        [(d, min(c)) for c in comps for d in c],
        "doc_id long, cluster_id long",
    )
    safe = {
        r["doc_id"]: r["split"]
        for r in cluster_safe_split(
            ids, clusters, val_rate=0.3, test_rate=0.3
        ).collect()
    }
    for c in comps:
        assert len({safe[d] for d in c}) == 1, c
    # singletons match plain split_assign exactly
    naive = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            ids, "doc_id", val_rate=0.3, test_rate=0.3
        ).collect()
    }
    clustered = {d for c in comps for d in c}
    for d in set(safe) - clustered:
        assert safe[d] == naive[d], d
    # and the naive assignment DOES split some component (the bug
    # this operator exists to prevent)
    assert any(len({naive[d] for d in c}) > 1 for c in comps)
    # deterministic: a second call reproduces the assignment
    again = {
        r["doc_id"]: r["split"]
        for r in cluster_safe_split(
            ids, clusters, val_rate=0.3, test_rate=0.3
        ).collect()
    }
    assert again == safe


def test_rrf_fuse_bruteforce(spark):
    """Fused scores equal the Python Σ 1000000 // (k + rank); docs in
    both lists outrank single-list docs with comparable ranks; ties
    break by doc id; topk truncates per query independently."""
    from umn_eda_kafka_stream_processing_spark.operators.fusion import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1)],
        "qid long, doc_id long, rank long",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (2, 21, 1), (2, 20, 2)],
        "qid long, doc_id long, rank long",
    )
    got = {
        (r["qid"], r["doc_id"]): (r["fused_rank"], r["rrf_micro"], r["n_lists"])
        for r in rrf_fuse([a, b], rrf_k=60, topk=3).collect()
    }

    def c(rank):
        return 1_000_000 // (60 + rank)

    # doc 11 (ranks 2+1) beats doc 10 (rank 1 in one list only)
    assert got[(1, 11)] == (1, c(2) + c(1), 2)
    assert got[(1, 10)] == (2, c(1), 1)
    assert got[(1, 13)][1] == c(2)
    # q1 truncated to topk=3: doc 12 (score c(3) < doc 13's c(2))
    # falls off the fused list
    assert len([k for k in got if k[0] == 1]) == 3
    assert (1, 13) in got and (1, 12) not in got
    assert got[(2, 20)] == (1, c(1) + c(2), 2)
    assert got[(2, 21)] == (2, c(1), 1)


def test_decontaminate_bruteforce(spark):
    """Per-doc contamination counts equal a Python replica of the
    token-8-gram overlap; short docs gram as their whole token
    sequence; min_overlap raises the bar; the benchmark side always
    self-flags; the non-broadcast path returns identical rows."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        decontaminate,
    )

    bench_text = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, bench_text),                                  # the benchmark doc
        (2, "x0 " + " ".join(f"b{i}" for i in range(8)) + " x1"),  # 1 shared gram window
        (3, " ".join(f"c{i}" for i in range(20))),        # clean
        (4, "short doc"),                                 # < 8 tokens
        (5, bench_text + " tail"),                        # superset: many hits
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter("doc_id = 1")

    def grams(text, n=8):
        t = text.split()
        if len(t) <= n:
            return {" ".join(t)}
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    bench_grams = grams(bench_text)
    want = {}
    for did, text in rows:
        g = grams(text)
        want[did] = (len(g), len(g & bench_grams))

    got = {
        r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
        for r in decontaminate(docs, bench).collect()
    }
    for did, (ng, nh) in want.items():
        assert got[did] == (ng, nh, 1 if nh >= 1 else 0), did
    assert got[1][2] == 1          # benchmark self-flags
    assert got[3] == (13, 0, 0)    # clean doc untouched
    assert got[4][0] == 1          # short doc = one whole-text gram

    # min_overlap=2 clears the single-window doc but not the superset
    strict = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(docs, bench, min_overlap=2).collect()
    }
    assert strict[2] == 0 and strict[5] == 1

    # shuffle-hash path (corpus-sized "benchmark") — identical rows
    alt = {
        r["doc_id"]: (r["n_grams"], r["n_hit_grams"], r["contaminated"])
        for r in decontaminate(
            docs, bench, broadcast_benchmark=False
        ).collect()
    }
    assert alt == got


def test_category_drift_monitor_psi(spark, tmp_path):
    """Categorical half of the contract monitor: per-batch
    (col, category) registers land replay-safely; the census computes
    the exact integer-form PSI over the occupied-category union —
    pinned against a Python replica; a planted category-mix shift
    alarms while an unshifted control column stays ~0; a replayed
    batch is a byte-identical no-op; NULL is its own category; a
    non-categorical column fails LOUD on max_categories."""
    import math

    import pytest

    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        categorical_drift_census,
        category_registers,
    )
    from umn_eda_kafka_stream_processing_spark.stores import FLOOR, BatchStore

    def land(monitor, rows, bid, **kw):
        monitor.upsert(bid, category_registers(
            monitor,
            spark.createDataFrame(rows, "cat string, ctl string"),
            ["cat", "ctl"],
            **kw,
        ))

    cats = ["alpha", "beta", "gamma", "delta", None]
    batches = {
        0: [(cats[i % 5], cats[i % 3]) for i in range(300)],
        1: [(cats[(i * 7) % 5], cats[i % 3]) for i in range(300)],
        # planted mix shift: 60% of batch 2 collapses to 'alpha';
        # ctl keeps its mix
        2: [
            ("alpha" if i % 5 < 3 else cats[i % 5], cats[i % 3])
            for i in range(300)
        ],
    }
    store = str(tmp_path / "cats")
    monitor = BatchStore(spark, store, marker=FLOOR)
    for bid, rows in batches.items():
        land(monitor, rows, bid)
    got = {
        r["col_name"]: r
        for r in categorical_drift_census(
            spark, store, (0, 1), (2, 2)
        ).collect()
    }

    def psi(col_idx):
        ref: dict = {}
        cur: dict = {}
        for bid, rows in batches.items():
            tgt = ref if bid <= 1 else cur
            for row in rows:
                c = row[col_idx]
                tgt[c] = tgt.get(c, 0) + 1
        union = set(ref) | set(cur)
        nc = len(union)
        rt, ct = sum(ref.values()), sum(cur.values())
        femto = 0
        for c in union:
            rc, cc = ref.get(c, 0), cur.get(c, 0)
            ratio = (float(cc + 1) * float(rt + nc)) / (
                float(rc + 1) * float(ct + nc)
            )
            lr = math.floor(math.log(ratio) * 1e6 + 0.5)
            dq = math.floor(
                (float(cc + 1) / float(ct + nc)
                 - float(rc + 1) / float(rt + nc)) * 1e9 + 0.5
            )
            femto += dq * lr
        return nc, rt, ct, femto

    for col, idx in (("cat", 0), ("ctl", 1)):
        nc, rt, ct, femto = psi(idx)
        r = got[col]
        assert (r["n_cats"], r["ref_total"], r["cur_total"]) == (nc, rt, ct)
        assert r["psi_femto"] == femto, col
        assert r["psi_femto"] >= 0
    assert got["cat"]["psi_micro"] > 250_000
    assert got["ctl"]["psi_micro"] < 100_000

    # replay batch 1: batch-keyed registers -> identical store
    # (register keys are unique, so the SET pins byte-identity; a
    # plain sort trips over the NULL category)
    before = set(map(tuple, spark.read.parquet(store).collect()))
    land(monitor, batches[1], 1)
    after = set(map(tuple, spark.read.parquet(store).collect()))
    assert after == before and len(after) == len(before)

    # a high-cardinality column must raise, not grow the store
    wide = [(str(i), "x") for i in range(50)]
    with pytest.raises(ValueError, match="max_categories"):
        land(BatchStore(spark, str(tmp_path / "wide"), marker=FLOOR),
             wide, 0, max_categories=10)
    # ... and the guard is CUMULATIVE: a column drifting a few new
    # categories per batch trips it once the store union crosses the
    # bound, even though each batch alone stays under it
    drift = BatchStore(spark, str(tmp_path / "drift"), marker=FLOOR)
    for b, n_new in ((0, 6), (1, 4)):  # cumulative 6, then 10 (<= bound)
        land(drift, [(f"v{b}_{i}", "x") for i in range(n_new)], b,
             max_categories=10)
    with pytest.raises(ValueError, match="max_categories"):
        land(drift, [(f"v2_{i}", "x") for i in range(6)], 2,
             max_categories=10)


def test_pack_sequences_next_fit_semantics(spark):
    """Bins fill greedily in id order within a shard; a doc larger than
    capacity owns its bin; bin sums never exceed capacity otherwise."""
    from umn_eda_kafka_stream_processing_spark.operators.packing import pack_sequences

    rows = [(0, 60), (4, 60), (8, 30), (12, 200), (16, 10)]  # one shard (shards=4 -> all id%4==0)
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {r["id"]: r["bin"] for r in
           pack_sequences(df, "doc_id", "n_tokens", capacity=128, shards=4).collect()}
    # 60+60 fits (120<=128); +30 would overflow -> new bin; 200 overflows alone
    # -> next bin by itself; 10 can't join the 200-bin (200+10>128) -> new bin
    assert got == {0: 0, 4: 0, 8: 1, 12: 2, 16: 3}


def test_pack_sequences_shards_partition_independently(spark):
    from umn_eda_kafka_stream_processing_spark.operators.packing import (
        pack_sequences,
        pack_stats,
    )

    df = spark.createDataFrame(
        [(i, 50) for i in range(40)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, "doc_id", "n_tokens", capacity=128, shards=4)
    stats = pack_stats(packed, 128).collect()
    # 10 docs x 50 tok per shard -> bins of 2 (100<=128<150): 5 bins/shard
    assert len(stats) == 20
    assert all(r["n_docs"] == 2 and r["bin_tokens"] == 100 and r["waste"] == 28
               for r in stats)
    # determinism across reruns
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, pack_sequences(
        df.orderBy(F.desc("doc_id")), "doc_id", "n_tokens", 128, 4).collect()))
    assert a == b


def test_scrub_text_redaction_order_and_tokens(spark):
    """URL pass runs first (address in a query string is URL, not
    email); email before digit runs; short digit runs survive."""
    from umn_eda_kafka_stream_processing_spark.functions import scrub as sc

    rows = [
        (1, "see https://x.y/a?e=bob@x.com now"),       # email inside URL
        (2, "mail a.b+c@ex-am.ple.org card 12345678901"),
        (3, "only 12345678 short digits"),               # 8 digits: kept
        (4, "two mails a@b.cc c@d.ee and http://u.v"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["id"]: r for r in df.select(
        "id", sc.scrub_text("t").alias("clean"),
        *[v.alias(k) for k, v in sc.redaction_counts("t").items()]).collect()}
    assert got[1]["clean"] == "see <URL> now"
    assert (got[1]["n_urls"], got[1]["n_emails"]) == (1, 0)
    assert got[2]["clean"] == "mail <EMAIL> card <NUM>"
    assert got[3]["clean"] == "only 12345678 short digits"
    assert got[3]["n_longnums"] == 0
    assert got[4]["clean"] == "two mails <EMAIL> <EMAIL> and <URL>"
    assert got[4]["n_emails"] == 2


def test_kmv_sketch_accuracy_and_exact_underfill(spark):
    """KMV: groups with < k distinct report exactly; a 5000-distinct
    group estimates within ~3x the 1/sqrt(k-2) std error."""
    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk

    rows = [(i, "big") for i in range(5000)] + [(i, "small") for i in range(40)]
    df = spark.createDataFrame(rows, "uid long, g string")
    got = {r["g"]: r for r in sk.kmv_distinct_per_group(df, "g", "uid", k=256).collect()}
    assert got["small"]["n_kept"] == 40
    assert got["small"]["kmv_est"] == 40.0  # underfilled sketch is exact
    assert got["big"]["n_kept"] == 256
    assert 0.8 < got["big"]["kmv_est"] / 5000 < 1.2


def test_hll_sketch_accuracy_and_register_state(spark):
    """HLL m=256 raw estimator: ~6.5% std error at good load; register
    sum is an exact integer; duplicates don't move the estimate."""
    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk

    df = spark.createDataFrame([(i, "g") for i in range(6000)], "uid long, g string")
    r = sk.hll_sketch_per_group(df, "g", "uid").collect()[0]
    assert 0.8 < r["hll_est"] / 6000 < 1.2
    assert r["n_empty"] == 0  # 6000 keys saturate 256 buckets
    dup = spark.createDataFrame(
        [(i % 6000, "g") for i in range(18000)], "uid long, g string"
    )
    r2 = sk.hll_sketch_per_group(dup, "g", "uid").collect()[0]
    assert r2["s_scaled"] == r["s_scaled"]  # max() registers: dup-invariant
    assert r2["hll_est"] == r["hll_est"]


def test_doc_chunking_windows_and_overlap(spark, tmp_path):
    """32-token chunks with stride 24: chunk i covers tokens
    [24i+1, 24i+32]; short docs yield one whole-doc chunk; adjacent
    chunks overlap by 8 tokens."""
    from umn_eda_kafka_stream_processing_spark.plans.registry import REGISTRY

    sf = str(tmp_path)
    text_long = " ".join(f"w{i}" for i in range(40))  # 40 tokens -> 2 chunks
    spark.createDataFrame(
        [(1, text_long, "en", "s", len(text_long)), (2, "a b c", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(sf + "/documents.parquet")
    got = {(r["doc_id"], r["chunk_ix"]): r for r in
           REGISTRY["doc_chunking"].spark(spark, sf).collect()}
    assert set(got) == {(1, 0), (1, 1), (2, 0)}
    assert got[(1, 0)]["chunk_tokens"] == 32
    assert got[(1, 0)]["chunk_text"].split()[:2] == ["w0", "w1"]
    # second chunk starts at token 25 (0-based 24): 8-token overlap
    assert got[(1, 1)]["chunk_text"].split()[0] == "w24"
    assert got[(1, 1)]["chunk_tokens"] == 16
    assert got[(2, 0)]["chunk_text"] == "a b c"


def test_repetition_ratio_flags_boilerplate(spark, tmp_path):
    from umn_eda_kafka_stream_processing_spark.plans.registry import REGISTRY

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "ab" * 50, "en", "s", 100),      # 2 distinct 3-grams / 98
         (2, "the quick brown fox jumps", "en", "s", 25)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(sf + "/documents.parquet")
    got = {r["doc_id"]: r for r in
           REGISTRY["doc_repetition_stats"].spark(spark, sf).collect()}
    assert got[1]["distinct_shingles"] == 2
    assert got[1]["repetition"] > 0.97
    assert got[2]["repetition"] == 0.0  # all 3-grams unique


def test_check_constraints_exact_violation_counts(spark):
    """Every check kind counts its violations exactly; NULLs violate
    only not_null (three-valued convention); unique counts duplicate
    ROWS; fk counts orphans incl. NULL keys; unknown kinds raise."""
    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        check_constraints,
    )

    df = spark.createDataFrame(
        [
            (1, 10, "A", "ok-1"),
            (1, 200, "A", "ok-2"),      # dup id; out-of-range v
            (2, None, "B", "bad"),      # null v (not a range violation)
            (3, -5, "C", None),         # out-of-range v; bad status; null s
            (None, 50, "A", "ok-3"),    # null id
        ],
        "id long, v long, status string, s string",
    )
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    out = {
        (r["check"], r["target"]): (r["n_rows"], r["n_violations"], r["ok"])
        for r in check_constraints(
            df,
            [
                ("not_null", "v"),
                ("range", "v", 0, 100),
                ("accepted_values", "status", ["A", "B"]),
                ("regex", "s", "^ok-"),
                ("unique", "id"),
                ("fk", "id", "dim", "k"),
            ],
            dims={"dim": dim},
        ).collect()
    }
    assert out[("not_null", "v")] == (5, 1, 0)
    assert out[("range", "v")] == (5, 2, 0)          # 200 and -5; NULL passes
    assert out[("accepted_values", "status")] == (5, 1, 0)  # C
    assert out[("regex", "s")] == (5, 1, 0)          # "bad"; NULL passes
    assert out[("unique", "id")] == (5, 1, 0)        # one duplicate row
    # orphans: id=3 (no match) + id NULL (never matches) = 2... plus
    # the duplicated id=1 rows both match
    assert out[("fk", "id")] == (5, 2, 0)
    # an all-green check reports ok=1
    green = check_constraints(df, [("range", "v", -1000, 1000)]).collect()[0]
    assert (green["n_violations"], green["ok"]) == (0, 1)
    try:
        check_constraints(df, [("nope", "v")])
    except ValueError as e:
        assert "nope" in str(e)
    else:
        raise AssertionError("unknown kind must raise")
    try:
        check_constraints(df, [("fk", "id", "missing", "k")])
    except ValueError as e:
        assert "missing" in str(e)
    else:
        raise AssertionError("unknown dim must raise")
    # empty contract: a clear error, not IndexError at rows[0]
    try:
        check_constraints(df, [])
    except ValueError as e:
        assert "non-empty" in str(e)
    else:
        raise AssertionError("empty checks must raise")


def test_constraint_monitor_store_replay_safe(spark, tmp_path):
    """Per-batch constraint censuses accumulate one row per (batch,
    check); a replayed batch rewrites identical rows (no-op)."""
    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        check_constraints,
    )
    from umn_eda_kafka_stream_processing_spark.stores import FLOOR, BatchStore

    monitor = BatchStore(spark, str(tmp_path / "monitor"), marker=FLOOR)
    checks = [("not_null", "v"), ("range", "v", 0, 100)]
    b0 = spark.createDataFrame([(1, 10), (2, None)], "id long, v long")
    b1 = spark.createDataFrame([(3, 500)], "id long, v long")
    monitor.upsert(0, check_constraints(b0, checks))
    monitor.upsert(1, check_constraints(b1, checks))
    want = {
        (0, "not_null", "v"): (2, 1, 0),
        (0, "range", "v"): (2, 0, 1),
        (1, "not_null", "v"): (1, 0, 1),
        (1, "range", "v"): (1, 1, 0),
    }
    hist = monitor.scan()
    # batch_id is a partition column (int32 by inference); the store's
    # scan contract is a LONG history frame (round-13 advice)
    assert dict(hist.dtypes)["batch_id"] == "bigint"
    got = {
        (r["batch_id"], r["check"], r["target"]):
            (r["n_rows"], r["n_violations"], r["ok"])
        for r in hist.collect()
    }
    assert got == want
    monitor.upsert(1, check_constraints(b1, checks))  # replay
    got2 = {
        (r["batch_id"], r["check"], r["target"]):
            (r["n_rows"], r["n_violations"], r["ok"])
        for r in monitor.scan().collect()
    }
    assert got2 == want


def test_monitor_store_retention(spark, tmp_path, monkeypatch):
    """Retention for monitor stores (round-13 verdict task 6): expire
    drops partitions below the floor, window censuses over RETAINED
    batches are unchanged, expired batches read zero rows, a
    straggler replay of an expired batch no-ops instead of
    resurrecting the partition, and a crash mid-delete self-heals
    (readers exclude, next expire sweeps)."""
    import pytest

    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        categorical_drift_census,
        category_registers,
    )
    from umn_eda_kafka_stream_processing_spark.stores import FLOOR, BatchStore

    store = str(tmp_path / "catmon")
    monitor = BatchStore(spark, store, marker=FLOOR)
    batches = {
        0: [("a",), ("a",), ("b",)],
        1: [("a",), ("b",), ("b",)],
        2: [("b",), ("b",), ("b",)],
        3: [("a",), ("c",), ("c",)],
        4: [("c",), ("c",), ("a",)],
    }

    def land(bid):
        if not monitor.closed(bid):
            monitor.upsert(bid, category_registers(
                monitor,
                spark.createDataFrame(batches[bid], "lang string"),
                ["lang"],
            ))

    def census(ref, cur):
        return {
            r["col_name"]: (r["psi_femto"], r["ref_total"], r["cur_total"])
            for r in categorical_drift_census(
                spark, store, ref, cur).collect()
        }

    for bid in range(4):
        land(bid)
    want = census((2, 2), (3, 3))
    # expire batches 0 and 1 (outside the drift window)
    res = monitor.expire(2)
    assert res == {"batches_expired": 2}
    assert monitor.mark() == 2
    assert spark.read.parquet(store).filter("batch_id < 2").count() == 0
    assert census((2, 2), (3, 3)) == want  # retained-window census unchanged
    # straggler replay of expired batch 0: no-op, partition stays gone
    land(0)
    assert spark.read.parquet(store).filter("batch_id < 2").count() == 0
    # crash mid-delete: the next expire's floor marker lands, then the
    # deletes fail — the stale sub-floor directory stays on disk,
    # readers exclude it, and the next expire sweeps it
    land(4)
    want = census((3, 3), (4, 4))

    def crash(self, batch_ids):
        raise RuntimeError("injected crash before the deletes")

    monkeypatch.setattr(BatchStore, "delete_batches", crash)
    with pytest.raises(RuntimeError, match="injected"):
        monitor.expire(3)
    monkeypatch.undo()
    assert monitor.mark() == 3
    assert spark.read.parquet(store).filter("batch_id = 2").count() > 0
    assert census((3, 3), (4, 4)) == want
    assert monitor.expire(3) == {"batches_expired": 1}
    assert monitor.batch_ids() == [3, 4]
    # monotone: a smaller keep_from never re-lowers the floor
    assert monitor.expire(0) == {"batches_expired": 0}
    assert monitor.mark() == 3


def test_cms_overestimates_never_under(spark):
    """Count-Min guarantee: est >= exact for EVERY key (collisions only
    add); with 1024 registers over 300 keys the error stays small; and
    registers merge additively (sketch of union == sum of sketches)."""
    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk

    rows = [(f"k{i % 300}",) for i in range(6000)]
    df = spark.createDataFrame(rows, "k string")
    regs = sk.cms_registers(df, "k")
    keys = df.distinct()
    est = {r["k"]: r["cms_est"] for r in sk.cms_estimate(regs, keys, "k").collect()}
    exact = {r["k"]: r["cnt"] for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert all(est[k] >= exact[k] for k in exact)
    assert sum(est[k] - exact[k] for k in exact) / len(exact) < 40  # ~2N/w per row
    # mergeability: registers of two halves sum to the full registers
    h1 = sk.cms_registers(spark.createDataFrame(rows[:3000], "k string"), "k")
    h2 = sk.cms_registers(spark.createDataFrame(rows[3000:], "k string"), "k")
    merged = {(r["row"], r["bucket"]): r["cnt"]
              for r in h1.unionByName(h2).groupBy("row", "bucket")
              .agg(F.sum("cnt").alias("cnt")).collect()}
    full = {(r["row"], r["bucket"]): r["cnt"] for r in regs.collect()}
    assert merged == full


def test_incremental_cms_registers_replay_safe(spark, tmp_path):
    """CMS register store maintained batch-by-batch equals the
    from-scratch sketch over the concatenated batches, and REPLAYING
    a batch changes nothing (the per-batch key shape — read-modify-add
    would double-count under at-least-once)."""
    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk
    from umn_eda_kafka_stream_processing_spark.stores import CMS_HORIZON, BatchStore

    batches = [
        [(f"k{i % 7}",) for i in range(200)],
        [(f"k{i % 11}",) for i in range(150)],
        [(f"k{i % 5}",) for i in range(100)],
    ]
    store = BatchStore(spark, str(tmp_path / "cms_store"), sk.merge_cms, CMS_HORIZON)
    for bid, rows in enumerate(batches):
        store.upsert(bid, sk.cms_registers(spark.createDataFrame(rows, "k string"), "k"))
    full = spark.createDataFrame(sum(batches, []), "k string")
    want = {(r["row"], r["bucket"]): r["cnt"]
            for r in sk.cms_registers(full, "k").collect()}
    got = {(r["row"], r["bucket"]): r["cnt"] for r in store.read().collect()}
    assert got == want
    # replay batch 1: identical rows upsert to a no-op
    store.upsert(1, sk.cms_registers(spark.createDataFrame(batches[1], "k string"), "k"))
    got2 = {(r["row"], r["bucket"]): r["cnt"] for r in store.read().collect()}
    assert got2 == want


def test_upsert_batch_partition_guards_reserved_columns(spark, tmp_path):
    """The batch-keyed upsert adds batch_id/event_seq itself — a
    payload frame already carrying either must fail loud, not write
    a store with duplicate column names."""
    import pytest

    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    store = BatchStore(spark, str(tmp_path / "s"))
    ok = spark.createDataFrame([(1, 2)], "k long, v long")
    assert store.upsert(0, ok)
    got = spark.read.parquet(str(tmp_path / "s"))
    assert {r["k"] for r in got.collect()} == {1}
    assert set(got.columns) == {"batch_id", "k", "v", "event_seq"}
    bad = spark.createDataFrame([(1, 2)], "batch_id long, v long")
    with pytest.raises(ValueError, match="reserved"):
        store.upsert(1, bad)


def test_cms_collapse_horizon_absent_store(spark, tmp_path):
    """No store / never-collapsed store -> horizon None (the guard's
    zero-cost normal path)."""
    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk
    from umn_eda_kafka_stream_processing_spark.stores import CMS_HORIZON, BatchStore

    assert BatchStore(spark, str(tmp_path / "nope"), sk.merge_cms, CMS_HORIZON).mark() is None
    store = BatchStore(spark, str(tmp_path / "cms"), sk.merge_cms, CMS_HORIZON)
    store.upsert(0, sk.cms_registers(spark.createDataFrame([("a",)], "k string"), "k"))
    assert store.mark() is None
    assert not store.closed(0)


def test_collapse_cms_registers(spark, tmp_path):
    """Horizon collapse of a CMS register store (round-12 verdict
    task): batches <= the horizon fold into ONE base batch whose
    counts are the summed history — the store's `read` is
    bit-identical before/after (CMS merge IS the register sum), the
    folded batch ids are gone, the marker carries the horizon, a
    straggler replay at/below the horizon NO-OPS, and the batch
    above the horizon is untouched. Gap rule: a horizon between
    ingested ids clamps down to a real batch."""
    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk
    from umn_eda_kafka_stream_processing_spark.stores import CMS_HORIZON, BatchStore

    batches = {
        0: [(f"k{i % 7}",) for i in range(200)],
        1: [(f"k{i % 11}",) for i in range(150)],
        3: [(f"k{i % 5}",) for i in range(100)],  # gap at 2
        4: [(f"k{i % 3}",) for i in range(80)],
    }
    path = str(tmp_path / "cms_store")
    store = BatchStore(spark, path, sk.merge_cms, CMS_HORIZON)

    def regs(bid):
        return sk.cms_registers(spark.createDataFrame(batches[bid], "k string"), "k")

    def read():
        return {(r["row"], r["bucket"]): r["cnt"] for r in store.read().collect()}

    for bid in sorted(batches):
        store.upsert(bid, regs(bid))
    before = read()
    # horizon 2 lands in the gap: clamps to batch 1 (never a phantom)
    res = store.collapse(2)
    assert res["batches_folded"] == 1
    assert store.mark() == 1
    assert (tmp_path / "cms_store" / "_cms_collapse_horizon_1").exists()
    ids = sorted({r["batch_id"] for r in
                  spark.read.parquet(path).select("batch_id").collect()})
    assert ids == [1, 3, 4]  # 0 folded into base 1; 3 and 4 untouched
    assert read() == before  # merged registers identical -> decision too
    # straggler replay of folded batch 0 (and of base 1): both no-op
    for bid in (0, 1):
        assert not store.upsert(bid, regs(bid))
        assert read() == before
    # second collapse, deeper horizon: folds {1, 3} into base 4
    res2 = store.collapse(4)
    assert res2["batches_folded"] == 2
    assert store.mark() == 4
    assert read() == before
    # idempotent: same horizon again no-ops
    assert store.collapse(4) == {"batches_folded": 0, "rows": 0}


def test_collapse_cms_registers_crash_recovery(spark, tmp_path, monkeypatch):
    """A collapse that crashed BETWEEN its marker write and its
    directory deletes (round-13 advice) leaves folded sums in the base
    AND the original batch directories on disk. Readers must exclude
    the stale sub-horizon directories (no double count), and the next
    collapse must sweep them instead of re-folding them into a
    permanent double count."""
    import pytest

    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk
    from umn_eda_kafka_stream_processing_spark.stores import CMS_HORIZON, BatchStore

    batches = {
        0: [(f"k{i % 7}",) for i in range(200)],
        1: [(f"k{i % 11}",) for i in range(150)],
        2: [(f"k{i % 5}",) for i in range(100)],
    }
    path = str(tmp_path / "cms_store")
    store = BatchStore(spark, path, sk.merge_cms, CMS_HORIZON)
    for bid, rows in sorted(batches.items()):
        store.upsert(bid, sk.cms_registers(spark.createDataFrame(rows, "k string"), "k"))

    def read():
        return {(r["row"], r["bucket"]): r["cnt"] for r in store.read().collect()}

    want = read()

    def crash(self, batch_ids):
        raise RuntimeError("injected crash before the deletes")

    monkeypatch.setattr(BatchStore, "delete_batches", crash)
    with pytest.raises(RuntimeError, match="injected"):
        store.collapse(1)  # folds 0 into base 1, then dies
    monkeypatch.undo()
    assert store.mark() == 1
    assert store.batch_ids() == [0, 1, 2]  # the stale directory is on disk
    # 1) readers ignore the stale sub-horizon directory
    assert read() == want
    # 2) the next collapse sweeps it and still reads identically
    res2 = store.collapse(2)  # folds 1 into base 2
    assert res2["batches_folded"] == 1
    assert store.batch_ids() == [2]  # stale 0 swept, 1 folded, base 2 remains
    assert read() == want


def test_incremental_hll_registers_replay_safe(spark, tmp_path):
    """HLL register store maintained batch-by-batch equals the
    from-scratch sketch over the concatenated batches EXACTLY (HLL
    merge is register-wise max — union semantics, not approximation),
    and replaying a batch changes nothing."""
    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    batches = [
        [("a", f"u{i % 40}") for i in range(120)]
        + [("b", f"u{i}") for i in range(30)],
        [("a", f"u{i % 90}") for i in range(100)],
        [("b", f"v{i}") for i in range(50)],
    ]
    path = str(tmp_path / "hll_store")
    store = BatchStore(spark, path, sk.merge_hll)

    def regs(bid):
        return sk.hll_registers(
            spark.createDataFrame(batches[bid], "g string, u string"), "g", "u"
        )

    def read():
        return {(r["g"], r["bucket"]): r["r"] for r in store.read().collect()}

    for bid in range(len(batches)):
        store.upsert(bid, regs(bid))
    full = spark.createDataFrame(sum(batches, []), "g string, u string")
    want = {(r["g"], r["bucket"]): r["r"]
            for r in sk.hll_registers(full, "g", "u").collect()}
    assert read() == want
    # the estimator over merged registers == the batch sketch
    want_est = {r["g"]: (r["s_scaled"], r["hll_est"])
                for r in sk.hll_sketch_per_group(full, "g", "u").collect()}
    got_est = {
        r["g"]: (r["s_scaled"], r["hll_est"])
        for r in sk.hll_estimate_from_registers(store.read(), "g").collect()
    }
    assert got_est == want_est
    # replay batch 1: identical rows upsert to a no-op
    store.upsert(1, regs(1))
    assert read() == want
    # horizon collapse (round-13 verdict task 3): fold batches <= 1
    # into base 1 by register-wise MAX — read identical before/after,
    # folded partition gone, replay at/below the horizon NO-OPS (a
    # base-batch replay would shrink the folded maxes)
    res = store.collapse(1)
    assert res["batches_folded"] == 1
    ids = sorted({r["batch_id"] for r in
                  spark.read.parquet(path).select("batch_id").collect()})
    assert ids == [1, 2]
    assert read() == want
    for bid in (0, 1):
        assert not store.upsert(bid, regs(bid))
        assert read() == want
    # idempotent
    assert store.collapse(1) == {"batches_folded": 0, "rows": 0}


def test_collapse_benchmark_grams(spark, tmp_path):
    """Gram-store horizon collapse (round-13 verdict task 3): set
    union — folding batches <= the horizon into one DISTINCT base
    keeps the merged gram set identical, dedupes cross-suite shared
    grams, and the marker no-ops straggler replays (a base-batch
    replay would drop every other folded suite's grams)."""
    from umn_eda_kafka_stream_processing_spark.operators.decontam import (
        benchmark_grams,
        merge_grams,
    )
    from umn_eda_kafka_stream_processing_spark.stores import BatchStore

    path = str(tmp_path / "grams")
    store = BatchStore(spark, path, merge_grams)
    suites = {
        0: [("shared boilerplate question answer pair one two three four",)],
        1: [("shared boilerplate question answer pair one two three four",),
            ("a wholly different benchmark sentence with eight plus words",)],
        2: [("late suite sentence number three with extra padding words here",)],
    }

    def grams(bid):
        return benchmark_grams(spark.createDataFrame(suites[bid], "text string"))

    def read():
        return {r["g"] for r in store.read().collect()}

    for bid in sorted(suites):
        store.upsert(bid, grams(bid))
    want = read()
    stored_before = spark.read.parquet(path).count()
    res = store.collapse(1)
    assert res["batches_folded"] == 1
    # the duplicate suite-0/suite-1 shared grams stored twice are now
    # stored once: the fold physically shrank the store
    assert spark.read.parquet(path).count() < stored_before
    assert read() == want
    # straggler replays of folded batch 0 and base batch 1: both no-op
    for bid in (0, 1):
        assert not store.upsert(bid, grams(bid))
        assert read() == want


def test_histogram_quantile_within_one_bin_of_exact(spark):
    """Histogram quantile estimates land within one bin width of the
    exact interpolated percentile; registers stay <= bins per group."""
    from umn_eda_kafka_stream_processing_spark.operators import sketches as sk

    rows = [(float(i % 997), "g") for i in range(10000)]
    df = spark.createDataFrame(rows, "v double, g string")
    regs = sk.histogram_registers(df, "g", "v", 0.0, 1000.0, 256)
    assert regs.count() <= 256
    width = 1000.0 / 256
    packed = regs.groupBy("g").agg(
        F.sum("cnt").alias("n"),
        F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("arr"),
    )
    got = packed.select(
        *[sk.histogram_quantile(F.col("arr"), F.col("n"), p, 0.0, width).alias(f"p{i}")
          for i, p in enumerate([0.5, 0.95, 0.99])]
    ).collect()[0]
    exact = df.select(
        *[F.percentile("v", F.lit(p)).alias(f"p{i}")
          for i, p in enumerate([0.5, 0.95, 0.99])]
    ).collect()[0]
    for i in range(3):
        assert abs(got[f"p{i}"] - exact[f"p{i}"]) <= width


def test_split_assign_is_stable_exclusive_and_bounded(spark):
    """Train/val/test split: every row gets exactly one split; the
    assignment of a key is a pure function of the key (append-stable
    — computing over a subset yields identical labels); rates bind
    within binomial slack."""
    from umn_eda_kafka_stream_processing_spark.operators.sampling import split_assign

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    full = split_assign(df, "doc_id", val_rate=0.2, test_rate=0.1)
    counts = {r["split"]: r["n"] for r in
              full.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 4000
    # exact-threshold rates: binomial(4000, p) stays well within ±4σ
    assert abs(counts["test"] - 400) < 80 and abs(counts["val"] - 800) < 110
    # append-stability: the first 1000 keys get the same labels when
    # assigned alone as within the full corpus
    sub = split_assign(
        df.filter(F.col("doc_id") < 1000), "doc_id", val_rate=0.2, test_rate=0.1
    )
    full_first = {r["doc_id"]: r["split"]
                  for r in full.filter(F.col("doc_id") < 1000).collect()}
    assert {r["doc_id"]: r["split"] for r in sub.collect()} == full_first
    import pytest

    with pytest.raises(ValueError):
        split_assign(df, "doc_id", val_rate=0.7, test_rate=0.4)


class TestPngCodec:
    """Real PNG decode (stdlib zlib): filters 0-4, gray + RGB, CRC
    verification, unsupported-feature guards."""

    def test_roundtrip_each_filter_gray_and_rgb(self):
        rng = np.random.default_rng(7)
        gray = rng.integers(0, 256, (9, 11), dtype=np.uint8)
        rgb = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
        # cycle mode applies filter r % 5 per row: 9+ rows cover all
        # five filter types in one image, for both color types
        for px in (gray, rgb):
            assert (mm.decode_png(mm.encode_png(px)) == px).all()
            assert (mm.decode_png(mm.encode_png(px, "none")) == px).all()

    def test_decode_handbuilt_png(self):
        # chunk-level construction independent of encode_png: 2x2
        # grayscale, one unfiltered row + one Up-filtered row
        import struct
        import zlib

        def chunk(ctype, data):
            return (struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", zlib.crc32(ctype + data)))

        raster = b"\x00\x0a\x14" + b"\x02\x05\x0a"  # row1 = row0 + (5,10)
        blob = (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raster))
                + chunk(b"IEND", b""))
        assert (mm.decode_png(blob) == np.array([[10, 20], [15, 30]])).all()

    def test_crc_mismatch_raises(self):
        blob = bytearray(mm.encode_png(np.zeros((3, 3), np.uint8)))
        blob[-5] ^= 0xFF  # flip a bit inside IEND's CRC
        with pytest.raises(ValueError, match="CRC"):
            mm.decode_png(bytes(blob))

    def test_unsupported_features_raise(self):
        import struct
        import zlib

        def chunk(ctype, data):
            return (struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", zlib.crc32(ctype + data)))

        for depth, color, interlace in ((16, 0, 0), (8, 3, 0), (8, 0, 1)):
            blob = (b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", struct.pack(
                        ">IIBBBBB", 1, 1, depth, color, 0, 0, interlace))
                    + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
                    + chunk(b"IEND", b""))
            with pytest.raises(NotImplementedError):
                mm.decode_png(blob)
        with pytest.raises(NotImplementedError, match="not a PNG"):
            mm.decode_png(b"JFIF....")

    def test_decode_image_dispatch(self):
        px = np.arange(12, dtype=np.uint8).reshape(3, 4)
        assert (mm.decode_image(mm.encode_png(px)) == px).all()
        assert (mm.decode_image(mm.encode_pgm(px)) == px).all()

    def test_synth_media_mixes_containers(self, spark):
        ids = spark.range(0, 9).select(F.col("id").alias("doc_id"))
        rows = mm.synth_media(ids, "image").orderBy("media_id").collect()
        for r in rows:
            head = bytes(r["content"])[:8]
            m = r["media_id"] % 3
            if m == 0:
                assert head == b"\x89PNG\r\n\x1a\n" and r["mime"] == "image/png"
            elif m == 1:
                assert head[:2] == b"P5"
            else:
                assert head[:4] == b"GIF8" and r["mime"] == "image/gif"
            # every container decodes to the same formula pixels
            mid = r["media_id"]
            h, w = mid % 7 + 2, mid % 13 + 3
            rr, cc = np.ogrid[:h, :w]
            want = (mid + 17 * rr + 101 * cc) % 256
            assert np.array_equal(mm.decode_image(bytes(r["content"])), want)


class TestGifCodec:
    """GIF codec (operators/gif.py): real LZW, interlace, block walk."""

    def test_roundtrip_random_and_compressible(self):
        rng = np.random.default_rng(5)
        for px in (
            rng.integers(0, 256, (9, 13)).astype(np.uint8),
            np.tile(np.arange(16, dtype=np.uint8), (40, 30)),  # deep dict
            rng.integers(0, 256, (120, 120)).astype(np.uint8),  # 4095 reset
            np.zeros((1, 1), np.uint8),
        ):
            for inter in (False, True):
                blob = gifc.encode_gif(px, interlace=inter)
                assert np.array_equal(gifc.decode_gif_gray(blob), px)

    def test_extension_blocks_skipped(self):
        px = np.arange(12, dtype=np.uint8).reshape(3, 4)
        blob = bytearray(gifc.encode_gif(px))
        # inject a graphic-control extension right before the image
        # descriptor (0x2C): label 0xF9, one 4-byte sub-block, term
        at = blob.index(0x2C, 13 + 768)
        ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        assert np.array_equal(
            gifc.decode_gif_gray(bytes(blob[:at]) + ext + bytes(blob[at:])), px)

    def test_malformed_raise(self):
        px = np.zeros((4, 4), np.uint8)
        blob = gifc.encode_gif(px)
        with pytest.raises(NotImplementedError, match="not a GIF"):
            gifc.decode_gif(b"NOTGIF..")
        with pytest.raises(ValueError):
            gifc.decode_gif(blob[:-30])  # truncated LZW stream
        # grayscale palette maps identity through the luminance view
        d = gifc.decode_gif(blob)
        assert d["palette"].shape == (256, 3)


class TestJpegCodec:
    """Baseline JPEG (operators/jpeg.py): pure-numpy T.81 encode+decode
    — exactness on tile-constant images, lossy tolerance elsewhere,
    spec-anchor checks, unsupported-feature guards."""

    def test_tile_constant_exact_roundtrip(self):
        # constant 8x8 tiles → DC-only blocks → QUANT_EXACT round trip
        # is mathematically lossless for ANY dims (incl. edge padding)
        rng = np.random.default_rng(11)
        for h, w in ((8, 8), (5, 3), (17, 23), (16, 9), (1, 1)):
            tiles = rng.integers(0, 256, ((h + 7) // 8, (w + 7) // 8))
            px = np.repeat(np.repeat(tiles, 8, 0), 8, 1)[:h, :w].astype(np.uint8)
            blob = jpegc.encode_jpeg(px, quant_luma=jpegc.QUANT_EXACT)
            assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
            assert np.array_equal(jpegc.decode_jpeg(blob), px)

    def test_tile_constant_exactness_property(self):
        # hypothesis sweep of the lossless-JPEG invariant the oracle
        # relies on: ANY dims + ANY tile values round-trip exactly
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=30, deadline=None)
        @given(h=st.integers(1, 40), w=st.integers(1, 40), seed=st.integers(0, 2**31))
        def run(h, w, seed):
            rng = np.random.default_rng(seed)
            tiles = rng.integers(0, 256, ((h + 7) // 8, (w + 7) // 8))
            px = np.repeat(np.repeat(tiles, 8, 0), 8, 1)[:h, :w].astype(np.uint8)
            blob = jpegc.encode_jpeg(px, quant_luma=jpegc.QUANT_EXACT)
            assert np.array_equal(jpegc.decode_jpeg(blob), px)

        run()

    def test_lossy_roundtrip_tolerance_gray_and_color(self):
        r, c = np.mgrid[0:24, 0:40]
        gray = ((r * 3 + c * 2) % 200).astype(np.uint8)
        out = jpegc.decode_jpeg(jpegc.encode_jpeg(gray, quality=90))
        assert out.shape == gray.shape
        assert np.abs(out.astype(int) - gray).max() <= 3
        rgb = np.stack([gray, 255 - gray, gray // 2], axis=-1)
        out3 = jpegc.decode_jpeg(jpegc.encode_jpeg(rgb, quality=90))
        assert out3.shape == rgb.shape
        assert np.abs(out3.astype(int) - rgb.astype(int)).mean() < 4

    def test_huffman_canonical_codes_match_spec(self):
        # T.81 Annex K.3.1: DC luma category 0 → '00', 1 → '010',
        # 2 → '011', ..., 11 → '111111110'
        tab = jpegc._build_huffman(jpegc._DC_LUMA_BITS, jpegc._DC_LUMA_VALS)
        assert tab[0] == (0b00, 2)
        assert tab[1] == (0b010, 3)
        assert tab[5] == (0b110, 3)
        assert tab[11] == (0b111111110, 9)
        # K.3.2: AC luma EOB → '1010', ZRL (0xF0) → '11111111001'
        ac = jpegc._build_huffman(jpegc._AC_LUMA_BITS, jpegc._AC_LUMA_VALS)
        assert ac[0x00] == (0b1010, 4)
        assert ac[0xF0] == (0b11111111001, 11)

    def test_magnitude_extend_inverse(self):
        for v in (-255, -128, -1, 0, 1, 5, 127, 255, 1023):
            s, bits = jpegc._magnitude(v)
            assert jpegc._extend(bits, s) == v

    def test_byte_stuffing_roundtrip(self):
        # a value pattern that reliably produces 0xFF bytes in the
        # entropy stream exercises the stuff/de-stuff path; exactness
        # still holds because tiles are constant
        px = np.full((8, 32), 255, np.uint8)
        px[:, 8:16] = 0
        blob = jpegc.encode_jpeg(px, quant_luma=jpegc.QUANT_EXACT)
        assert np.array_equal(jpegc.decode_jpeg(blob), px)

    def test_unsupported_features_raise(self):
        blob = bytearray(jpegc.encode_jpeg(np.zeros((8, 8), np.uint8)))
        sof = blob.find(b"\xff\xc0")
        prog = bytearray(blob)
        prog[sof + 1] = 0xC2  # rewrite SOF0 → SOF2 (progressive)
        with pytest.raises(NotImplementedError, match="SOF"):
            jpegc.decode_jpeg(bytes(prog))
        with pytest.raises(NotImplementedError, match="not a JPEG"):
            jpegc.decode_jpeg(b"\x89PNG\r\n\x1a\n")
        # DRI segment inserted before SOS → restart-interval guard
        sos = blob.find(b"\xff\xda")
        dri = blob[:sos] + b"\xff\xdd\x00\x04\x00\x04" + blob[sos:]
        with pytest.raises(NotImplementedError, match="DRI"):
            jpegc.decode_jpeg(bytes(dri))

    def test_decode_image_dispatch_and_synth(self, spark):
        px = np.repeat(np.repeat([[7, 200], [90, 13]], 8, 0), 8, 1).astype(np.uint8)
        blob = jpegc.encode_jpeg(px, quant_luma=jpegc.QUANT_EXACT)
        assert np.array_equal(mm.decode_image(blob), px)
        ids = spark.range(0, 4).select(F.col("id").alias("doc_id"))
        rows = mm.synth_media(ids, "jpeg").orderBy("media_id").collect()
        for r in rows:
            content = bytes(r["content"])
            assert content[:2] == b"\xff\xd8" and r["mime"] == "image/jpeg"
            mid = r["media_id"]
            h, w = mid % 11 + 6, mid % 9 + 5
            rr, cc = np.ogrid[:h, :w]
            want = (mid * 3 + 17 * (rr // 8) + 101 * (cc // 8)) % 256
            assert np.array_equal(jpegc.decode_jpeg(content), want)


class TestDecodeHealth:
    """Per-row corrupt-media quarantine (multimodal.decode_health):
    classified errors, never task death."""

    def test_classifies_corruption_modes(self, spark):
        px = np.arange(12, dtype=np.uint8).reshape(3, 4)
        rows = [
            (1, bytearray(mm.encode_png(px))),                    # ok
            (2, bytearray(mm.encode_png(px)[:9])),                # truncated
            (3, bytearray(b"\x00" + mm.encode_pgm(px)[1:])),      # bad magic
            (4, bytearray(b"")),                                  # empty
        ]
        media = spark.createDataFrame(rows, "media_id long, content binary")
        got = {r["media_id"]: r for r in mm.decode_health(media, "image").collect()}
        assert got[1]["ok"] and got[1]["error_class"] is None
        assert not got[2]["ok"] and got[2]["error_class"] == "ValueError"
        assert not got[3]["ok"] and got[3]["error_class"] == "NotImplementedError"
        assert not got[4]["ok"]

    def test_audio_and_mp4_kinds(self, spark):
        wav = mm.encode_wav_pcm16(np.array([1, 2, 3]), 8000)
        mp4 = bmff.encode_mp4([mm.encode_pgm(np.zeros((3, 4), np.uint8))], 4, 3)
        media = spark.createDataFrame(
            [(1, bytearray(wav)), (2, bytearray(wav[:10]))],
            "media_id long, content binary")
        got = {r["media_id"]: r["ok"] for r in mm.decode_health(media, "audio").collect()}
        assert got == {1: True, 2: False}
        media2 = spark.createDataFrame(
            [(1, bytearray(mp4)), (2, bytearray(mp4[:20]))],
            "media_id long, content binary")
        got2 = {r["media_id"]: r["ok"] for r in mm.decode_health(media2, "mp4").collect()}
        assert got2 == {1: True, 2: False}

    def test_unknown_kind_rejected(self, spark):
        media = spark.createDataFrame([(1, bytearray(b""))],
                                      "media_id long, content binary")
        with pytest.raises(ValueError, match="kind"):
            mm.decode_health(media, "hologram")

    def test_fuzz_decoders_raise_cleanly(self):
        # decoders walk UNTRUSTED bytes at corpus scale: any mutation
        # of valid media must raise a normal exception (which
        # decode_health classifies) — never hang, loop, or segfault
        from hypothesis import given, settings, strategies as st
        from umn_eda_kafka_stream_processing_spark.operators import jpeg as jc

        px = np.arange(48, dtype=np.uint8).reshape(6, 8)
        corpus = [
            ("image", mm.encode_png(px)),
            ("image", mm.encode_pgm(px)),
            ("image", jc.encode_jpeg(px)),
            ("audio", mm.encode_wav_pcm16(np.arange(20) - 10, 8000)),
            ("mp4", bmff.encode_mp4([mm.encode_pgm(px)] * 3, 8, 6)),
        ]
        from umn_eda_kafka_stream_processing_spark.operators import bmff as bm

        decoders = {"image": mm.decode_image, "audio": mm.decode_wav,
                    "mp4": bm.parse_mp4}

        @settings(max_examples=120, deadline=None)
        @given(pick=st.integers(0, len(corpus) - 1), data=st.data())
        def run(pick, data):
            kind, blob = corpus[pick]
            mode = data.draw(st.sampled_from(["trunc", "flip", "insert"]))
            if mode == "trunc":
                cut = data.draw(st.integers(0, len(blob) - 1))
                mutated = blob[:cut]
            elif mode == "flip":
                i = data.draw(st.integers(0, len(blob) - 1))
                b = data.draw(st.integers(1, 255))
                mutated = blob[:i] + bytes([blob[i] ^ b]) + blob[i + 1:]
            else:
                i = data.draw(st.integers(0, len(blob)))
                ins = data.draw(st.binary(min_size=1, max_size=8))
                mutated = blob[:i] + ins + blob[i:]
            try:
                decoders[kind](mutated)
            except Exception:
                pass  # classified failure is the contract; crashes/hangs are not

        run()


class TestBmff:
    """ISO-BMFF (MP4) container codec (operators/bmff.py): box walk,
    sample-table resolution, byte-range extraction."""

    @staticmethod
    def _frames(n, w=4, h=3):
        r, c = np.ogrid[:h, :w]
        return [mm.encode_pgm((9 + 7 * f + 17 * r + 101 * c) % 256)
                for f in range(n)]

    def test_mux_demux_roundtrip_single_chunk(self):
        frames = self._frames(5)
        blob = bmff.encode_mp4(frames, width=4, height=3, sample_durations=40)
        m = bmff.parse_mp4(blob)
        assert (m["brand"], m["handler"], m["sample_format"]) == (
            "isom", "vide", "pgm ")
        assert (m["width"], m["height"]) == (4, 3)
        assert m["n_samples"] == 5 and m["duration_ms"] == 200
        for i, s in enumerate(m["samples"]):
            assert bmff.extract_sample(blob, s) == frames[i]
            assert s[2] == i * 40 and s[3] == 40

    def test_multi_chunk_and_variable_durations(self):
        # chunks of 2,2,1 → multi-entry stsc/stco; durations 40,40,
        # 20,20,100 → 3-entry stts; resolution must still land every
        # byte range on a frame boundary with the right timeline
        frames = self._frames(5)
        blob = bmff.encode_mp4(frames, 4, 3,
                               sample_durations=[40, 40, 20, 20, 100],
                               samples_per_chunk=2)
        m = bmff.parse_mp4(blob)
        assert m["duration_ms"] == 220
        starts = [s[2] for s in m["samples"]]
        assert starts == [0, 40, 80, 100, 120]
        for i, s in enumerate(m["samples"]):
            assert bmff.extract_sample(blob, s) == frames[i]

    def test_largesize_and_size_zero_boxes(self):
        import struct
        blob = bmff.encode_mp4(self._frames(2), 4, 3)
        # rewrite ftyp as a 64-bit largesize box; moov (last box) as
        # size-0 (extends to EOF) — both spec-legal encodings
        (sz,) = struct.unpack(">I", blob[:4])
        ftyp = (struct.pack(">I", 1) + blob[4:8]
                + struct.pack(">Q", sz + 8) + blob[8:sz])
        rest = blob[sz:]
        moov_off = rest.rfind(b"moov") - 4
        rest = rest[:moov_off] + struct.pack(">I", 0) + rest[moov_off + 4:]
        m = bmff.parse_mp4(ftyp + rest)
        assert m["n_samples"] == 2
        # offsets shifted by the 8 extra largesize bytes: re-slice
        shifted = ftyp + rest
        for i, s in enumerate(m["samples"]):
            off, size, _t, _d = s
            assert shifted[off + 8:off + 8 + size] == self._frames(2)[i]

    def test_malformed_inputs_raise(self):
        with pytest.raises(ValueError, match="no ftyp"):
            bmff.parse_mp4(b"\x00" * 16)
        blob = bmff.encode_mp4(self._frames(1), 4, 3)
        with pytest.raises(ValueError, match="moov"):
            bmff.parse_mp4(blob[:blob.rfind(b"moov") - 4])
        with pytest.raises(ValueError):
            bmff.encode_mp4([], 4, 3)

    def test_spark_container_stats_and_frame_sample(self, spark):
        ids = spark.range(0, 6).select(F.col("id").alias("doc_id"))
        media = mm.synth_media(ids, "mp4")
        stats = {r["media_id"]: r for r in mm.container_stats(media).collect()}
        for mid, r in stats.items():
            nf = mid % 4 + 2
            assert r["n_samples"] == nf and r["duration_ms"] == nf * 40
            assert r["total_sample_bytes"] == nf * 23
            assert (r["width"], r["height"]) == (4, 3)
        rows = mm.mp4_sample_frames(media, every=2).collect()
        for r in rows:
            assert r["frame_idx"] % 2 == 0
            assert r["start_ms"] == r["frame_idx"] * 40
            mid, f = r["media_id"], r["frame_idx"]
            want = np.mean([(mid + 7 * f + 17 * rr + 101 * cc) % 256
                            for rr in range(3) for cc in range(4)])
            assert abs(r["frame_mean"] - want) < 1e-6


def test_epoch_shuffle_is_deterministic_and_epoch_varying(spark):
    """epoch_shuffle: (batch_id, pos_in_batch) is a pure function of
    (epoch, key) — identical across invocations, a real permutation
    within each epoch, and a DIFFERENT permutation per epoch."""
    from umn_eda_kafka_stream_processing_spark.operators.sampling import epoch_shuffle

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: (r["batch_id"], r["pos_in_batch"])
         for r in epoch_shuffle(df, "doc_id", 8, epoch=0).collect()}
    b = {r["doc_id"]: (r["batch_id"], r["pos_in_batch"])
         for r in epoch_shuffle(df, "doc_id", 8, epoch=0).collect()}
    assert a == b  # reproducible
    # bijective within the epoch: every (batch, pos) slot unique, and
    # positions within a batch are 1..n contiguous
    assert len(set(a.values())) == 1000
    from collections import defaultdict
    by_batch = defaultdict(list)
    for batch, pos in a.values():
        assert 0 <= batch < 8
        by_batch[batch].append(pos)
    for batch, positions in by_batch.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # different epoch -> different permutation (overwhelmingly)
    c = {r["doc_id"]: (r["batch_id"], r["pos_in_batch"])
         for r in epoch_shuffle(df, "doc_id", 8, epoch=1).collect()}
    assert c != a
    # and decorrelated from ingestion order: the first 10 doc_ids do
    # not all land in the same batch
    assert len({a[i][0] for i in range(10)}) > 1

    import pytest as _pytest
    with _pytest.raises(ValueError):
        epoch_shuffle(df, "doc_id", 0)


# --- product quantization + semantic dedup ------------------------------


@pytest.fixture()
def pq_vectors(spark):
    """ids 4-7 duplicate ids 0-3 exactly: the 4 seed subvectors cover
    every distinct subvector, so PQ quantization error is zero."""
    base = [
        [1.0, 0.0, 0.0, 8.0],
        [0.0, 2.0, 0.0, 4.0],
        [0.0, 0.0, 3.0, 2.0],
        [4.0, 0.0, 0.0, 1.0],
    ]
    rows = [(i, v, 0) for i, v in enumerate(base)]
    rows += [(i + 4, v, 0) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_pq_exact_when_codebook_covers(spark, pq_vectors):
    """With a codebook that covers every distinct subvector, ADC
    distance to an exact duplicate is 0 and it ranks first."""
    cb = sim.pq_codebooks(pq_vectors, n_sub=2, n_codes=4, iters=2, dim=4)
    assert cb.count() == 8  # 2 subspaces x 4 codes
    codes = sim.pq_encode(pq_vectors, cb, n_sub=2, dim=4)
    out = sim.pq_adc_topk(
        pq_vectors.filter(F.col("vec_id") == 0), codes, cb, k=1, n_sub=2, dim=4
    )
    got = [(r["neighbor_id"], r["approx_dist_micro"], r["rank"]) for r in out.collect()]
    assert got == [(4, 0, 1)]


def test_pq_search_equals_brute_force_when_shortlist_covers(spark):
    """With shortlist >= |corpus| the ADC stage prunes nothing, so
    pq_search_topk must return EXACTLY the brute-force integer-micro
    L2 top-k — re-ranking is exact by construction."""
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    cb = sim.pq_codebooks(emb, n_sub=8, n_codes=16, iters=2, dim=64)
    codes = sim.pq_encode(emb, cb, n_sub=8, dim=64)
    q = emb.filter(F.col("vec_id") < 10)
    approx = sim.pq_search_topk(
        q, codes, cb, emb, k=5, shortlist=n, n_sub=8, dim=64
    )
    # brute force on the same integer-micro metric
    qv = q.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("_qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("_cv"))
    scored = (
        cv.join(F.broadcast(qv), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dist_micro", sim.l2sq_micros(
            F.transform("_qv", lambda x: x.cast("double")),
            F.transform("_cv", lambda x: x.cast("double"))))
    )
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(
        F.col("dist_micro").asc(), F.col("neighbor_id").asc())
    exact = (scored.withColumn("rank", F.row_number().over(w).cast("long"))
             .filter(F.col("rank") <= 5)
             .select("query_id", "neighbor_id", "dist_micro", "rank"))
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(approx) == as_set(exact)


def test_pq_search_recall_pinned_vs_exact(spark):
    """Shortlist-50 PQ over the 500-vector sf0.01 corpus: recall@5 vs
    exact L2 is deterministic (integer distances, fixed seeds) —
    measured mean 0.78 / min 0.6; pin >= 0.7 / >= 0.5 so a quantizer
    regression trips while legitimate parameter tweaks don't."""
    import umn_eda_kafka_stream_processing_spark.plans.catalog  # noqa: F401
    from umn_eda_kafka_stream_processing_spark.plans.registry import REGISTRY
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("_cv"))
    scored = (
        cv.join(F.broadcast(qv), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dist_micro", sim.l2sq_micros(
            F.transform("_qv", lambda x: x.cast("double")),
            F.transform("_cv", lambda x: x.cast("double"))))
    )
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(
        F.col("dist_micro").asc(), F.col("neighbor_id").asc())
    exact = {}
    for r in (scored.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= 5).collect()):
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in REGISTRY["ann_pq_topk"].spark(spark, sf).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = {q: len(exact[q] & approx.get(q, set())) / len(exact[q])
               for q in exact}
    assert len(recalls) == 10
    assert min(recalls.values()) >= 0.5, recalls
    assert sum(recalls.values()) / len(recalls) >= 0.7, recalls


def test_ivfpq_recall_pinned_vs_exact_beats_flat_pq(spark):
    """IVFADC (residual-encoded PQ inside 3 probed coarse buckets,
    shortlist 100) over the 500-vector sf0.01 corpus: recall@5 vs
    exact L2 is deterministic — measured mean 0.92 / min 0.80, i.e.
    residual encoding lifts the flat-PQ 0.78 mean. Pin mean >= 0.85 /
    min >= 0.7 so a quantizer or probe regression trips while
    legitimate tweaks don't."""
    import umn_eda_kafka_stream_processing_spark.plans.catalog  # noqa: F401
    from umn_eda_kafka_stream_processing_spark.plans.registry import REGISTRY
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("_cv"))
    scored = (
        cv.join(F.broadcast(qv), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dist_micro", sim.l2sq_micros(
            F.transform("_qv", lambda x: x.cast("double")),
            F.transform("_cv", lambda x: x.cast("double"))))
    )
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(
        F.col("dist_micro").asc(), F.col("neighbor_id").asc())
    exact = {}
    for r in (scored.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= 5).collect()):
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in REGISTRY["ann_ivfpq_topk"].spark(spark, sf).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = {q: len(exact[q] & approx.get(q, set())) / len(exact[q])
               for q in exact}
    assert len(recalls) == 10
    assert min(recalls.values()) >= 0.7, recalls
    assert sum(recalls.values()) / len(recalls) >= 0.85, recalls


def test_ivfpq_search_equals_brute_force_when_unpruned(spark):
    """With n_probe = n_coarse (no bucket pruned) and shortlist >=
    |corpus| (no ADC pruning), ivfpq_search_topk must return EXACTLY
    the brute-force integer-micro L2 top-k — probes cover everything
    and re-ranking is exact by construction."""
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    codes, cent, cb = sim.ivfpq_index(
        emb, n_coarse=4, coarse_iters=2, n_sub=8, n_codes=16, pq_iters=1, dim=64
    )
    q = emb.filter(F.col("vec_id") < 10)
    approx = sim.ivfpq_search_topk(
        q, codes, cent, cb, emb, k=5, shortlist=n, n_probe=4, n_sub=8, dim=64
    )
    qv = q.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("_qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("_cv"))
    scored = (
        cv.join(F.broadcast(qv), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dist_micro", sim.l2sq_micros(
            F.transform("_qv", lambda x: x.cast("double")),
            F.transform("_cv", lambda x: x.cast("double"))))
    )
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(
        F.col("dist_micro").asc(), F.col("neighbor_id").asc())
    exact = (scored.withColumn("rank", F.row_number().over(w).cast("long"))
             .filter(F.col("rank") <= 5)
             .select("query_id", "neighbor_id", "dist_micro", "rank"))
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(approx) == as_set(exact)


def test_pq_codebooks_deterministic(spark):
    """Two independent trainings produce identical codebooks — the
    unrolled SQL oracle of ann_pq_topk depends on it."""
    from umn_eda_kafka_stream_processing_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    c1 = {(r["m"], r["code"]): r["cw"]
          for r in sim.pq_codebooks(emb, n_sub=8, n_codes=16, iters=2, dim=64).collect()}
    c2 = {(r["m"], r["code"]): r["cw"]
          for r in sim.pq_codebooks(emb, n_sub=8, n_codes=16, iters=2, dim=64).collect()}
    assert c1 == c2


def test_semantic_dedup_pairs_small(spark, vectors):
    """k=2 clusters separate the x-ish and z-ish vectors; tau=0.9
    keeps only the true near-dup pairs; the drop choice is the member
    with the HIGHER rounded centroid similarity (SemDeDup keeps the
    atypical example)."""
    out = sim.semantic_dedup_pairs(vectors, k=2, iters=3, tau=0.9)
    rows = out.collect()
    assert {(r["vec_id_a"], r["vec_id_b"]) for r in rows} == {(0, 1), (3, 4)}
    # recompute centroid sims with the operator's own building blocks
    assign, cent = sim.kmeans_buckets(vectors, k=2, iters=3)
    csim = {
        r["vec_id"]: r["csim"]
        for r in vectors.join(assign, "vec_id")
        .join(cent.select("bucket", F.col("embedding").alias("cent_vec")), "bucket")
        .withColumn("csim", sim.cosine_similarity("embedding", "cent_vec"))
        .collect()
    }
    for r in rows:
        a, b = r["vec_id_a"], r["vec_id_b"]
        assert r["drop_id"] in (a, b)
        if csim[a] > csim[b]:
            assert r["drop_id"] == a
        elif csim[b] > csim[a]:
            assert r["drop_id"] == b
        else:
            assert r["drop_id"] == max(a, b)


def test_semantic_dedup_cluster_cap(spark, vectors):
    """cluster_cap excludes oversized clusters from pairing entirely
    (the hot-cluster guard is never silently quadratic)."""
    out = sim.semantic_dedup_pairs(vectors, k=2, iters=3, tau=0.0, cluster_cap=1)
    assert out.count() == 0


def test_bpe_encode_matches_training_segmentation(spark):
    """Encoding the training vocabulary with the learned merge table
    reproduces train_bpe's own final segmentation bit for bit — the
    rank-ordered replace chain IS the training merge sequence."""
    from umn_eda_kafka_stream_processing_spark.operators import bpe

    texts = ["low lower lowest low low", "new newer newest new news",
             "aaa aaaa aa a aaaaa"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string")
    merges, words = bpe.train_bpe(df, k=8)
    trained = {r["word"]: r["sym"] for r in words.collect()}
    encoded = {r["word"]: r["sym"]
               for r in bpe.bpe_encode(bpe.word_freqs(df), merges).collect()}
    assert encoded == trained


def test_bpe_encode_unseen_words_canonical(spark):
    """Unseen words encode by the canonical greedy rank-order merge
    application — checked against a pure-Python reference."""
    from umn_eda_kafka_stream_processing_spark.operators import bpe

    train = spark.createDataFrame(
        [(0, "low lower lowest low low new newer newest new")],
        "id long, text string")
    merges, _ = bpe.train_bpe(train, k=6)
    ranked = [r["pair"] for r in merges.orderBy("rank").collect()]
    unseen = ["lowly", "newlow", "wow", "l", "zzz"]
    udf_df = spark.createDataFrame([(w,) for w in unseen], "word string")
    got = {r["word"]: r["sym"].strip().split("  ")
           for r in bpe.bpe_encode(udf_df, merges).collect()}

    def ref_encode(word):
        syms = list(word) + ["</w>"]
        for pair in ranked:
            a, b = pair.split(" ")
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    assert got == {w: ref_encode(w) for w in unseen}


# --- bloom-filter pre-join ----------------------------------------------


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """Every build key passes the probe predicate (bloom guarantee);
    false positives on 4096 bits / k=3 over 20 keys are near zero —
    deterministic (md5), so pin the measured count exactly via a
    brute recount rather than a probabilistic bound."""
    from umn_eda_kafka_stream_processing_spark.operators import runtime_filter as rf

    df = spark.createDataFrame([(i,) for i in range(200)], "k long")
    words = rf.bloom_build(df.filter(F.col("k") < 20), "k")
    got = {r["k"]: r["hit"] for r in df.withColumn(
        "hit", rf.bloom_might_contain("k", words)).collect()}
    assert all(got[k] for k in range(20))        # no false negatives
    fps = [k for k in range(20, 200) if got[k]]
    assert len(fps) <= 2, fps                    # 180 probes, m=4096, k=3


def test_bloom_build_validates_word_size(spark):
    from umn_eda_kafka_stream_processing_spark.operators import runtime_filter as rf

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="not a multiple"):
        rf.bloom_build(df, "k", m_bits=100)


def test_bloom_prejoin_census_is_consistent(spark):
    """The census columns must be mutually consistent and the bloom
    must admit every true match: pass >= true, fp = pass - true."""
    import umn_eda_kafka_stream_processing_spark.plans.catalog  # noqa: F401
    from umn_eda_kafka_stream_processing_spark.plans.registry import REGISTRY

    r = REGISTRY["bloom_prejoin_stats"].spark(
        spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_pass_bloom"] >= r["n_true_match"]
    assert r["n_false_pos"] == r["n_pass_bloom"] - r["n_true_match"]
    assert r["n_probe_rows"] >= r["n_pass_bloom"]
    assert r["n_true_match"] > 0


def test_char_bigram_model_matches_brute_force(spark):
    """Model probabilities and doc scores vs a pure-Python reference
    on a tiny corpus — counts, smoothing, integer-micro rounding, and
    the per-doc average all line up."""
    import math

    from umn_eda_kafka_stream_processing_spark.operators import charlm

    docs = spark.createDataFrame(
        [(1, "abab"), (2, "abba"), (3, "x")],  # doc 3: too short, no bigrams
        "doc_id long, text string",
    )
    model, vocab = charlm.char_bigram_model(docs)
    texts = {1: "abab", 2: "abba"}
    ref_bgs = [t[i:i + 2] for t in texts.values() for i in range(len(t) - 1)]
    # vocab = distinct SECOND chars of bigrams
    assert vocab == len({b[1] for b in ref_bgs})
    from collections import Counter
    cb, cp = Counter(ref_bgs), Counter(b[0] for b in ref_bgs)
    ref_model = {
        b: math.floor(
            math.log((c + 1.0) / (cp[b[0]] + 1.0 * vocab)) * 1e6 + 0.5
        )
        for b, c in cb.items()
    }
    got = {r["bg"]: r["logp_micro"] for r in model.collect()}
    assert got == ref_model

    scored = charlm.doc_avg_logprob(docs, model)
    got_docs = {r["doc_id"]: (r["n_bigrams"], r["avg_logp"]) for r in scored.collect()}
    for d, t in texts.items():
        bgs = [t[i:i + 2] for i in range(len(t) - 1)]
        s = sum(ref_model[b] for b in bgs)
        want = math.floor(((s / len(bgs)) / 1e6) * 1e6 + 0.5) / 1e6
        assert got_docs[d] == (len(bgs), want)
    assert 3 not in got_docs  # sub-2-char doc has no score


def test_char_bigram_heldout_floor_scoring(spark):
    """Held-out text with unseen bigrams: the left-join floor path
    scores every bigram (no silent drops) and unseen ones take the
    provided floor."""
    from umn_eda_kafka_stream_processing_spark.operators import charlm

    train = spark.createDataFrame([(1, "abab")], "doc_id long, text string")
    model, _ = charlm.char_bigram_model(train)
    floor_m = min(r["logp_micro"] for r in model.collect()) - 1_000_000
    held = spark.createDataFrame([(9, "abzq")], "doc_id long, text string")
    out = charlm.doc_avg_logprob(held, model, floor_logp_micro=floor_m).collect()
    assert len(out) == 1
    # "abzq" -> ab (seen), bz, zq (unseen): all 3 scored
    assert out[0]["n_bigrams"] == 3
    # unseen bigrams pull the average below the model's own floor range
    seen = {r["bg"]: r["logp_micro"] for r in model.collect()}
    expected_sum = seen["ab"] + 2 * floor_m
    import math
    want = math.floor(((expected_sum / 3) / 1e6) * 1e6 + 0.5) / 1e6
    assert out[0]["avg_logp"] == want


def test_repeated_span_topk_brute_force(spark):
    """Top shared spans vs a pure-Python reference on a tiny corpus —
    window extraction, distinct-doc counting, and the
    (n_docs, n_occ, span) ordering all line up."""
    import umn_eda_kafka_stream_processing_spark.plans.catalog_analytics  # noqa: F401
    from collections import Counter

    from umn_eda_kafka_stream_processing_spark.plans.registry import REGISTRY

    # build a corpus inline via a temp view? REGISTRY functions read
    # parquet — drive the operator body directly instead
    from umn_eda_kafka_stream_processing_spark.operators.core import global_topk

    texts = {
        1: "the quick brown fox jumps over it",
        2: "xx the quick brown fox sleeps today",
        3: "completely unrelated content here!!",
        4: "zz the quick brown fox sleeps again",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    w = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 15, 1)),"
                " i -> substring(text, i, 16))"
            )
        ).alias("span"),
    ).filter(F.length("span") == 16)
    stats = (
        w.groupBy("span")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    got = [
        (r["span"], r["n_docs"], r["n_occ"], r["rank"])
        for r in global_topk(
            stats, [("n_docs", False), ("n_occ", False), ("span", True)], 5
        ).collect()
    ]

    occ = Counter()
    docs_per = {}
    for d, t in texts.items():
        for i in range(len(t) - 15):
            s = t[i:i + 16]
            occ[s] += 1
            docs_per.setdefault(s, set()).add(d)
    shared = [
        (s, len(docs_per[s]), occ[s])
        for s in occ if len(docs_per[s]) >= 2
    ]
    shared.sort(key=lambda t: (-t[1], -t[2], t[0]))
    want = [(s, nd, no, i + 1) for i, (s, nd, no) in enumerate(shared[:5])]
    assert got == want
    assert any(nd == 3 for _, nd, _, _ in got)  # "the quick brown " in 3 docs


def test_incremental_semantic_dedup_single_batch_matches_brute_force(spark, tmp_path):
    """Randomized differential: one batch, empty history, no cap —
    survivors must equal the brute-force fixpoint of 'drop the larger
    id of any within-bucket pair with rounded cosine >= tau' computed
    in pure Python with the same bucket assignment and rounding."""
    import math
    import random

    from umn_eda_kafka_stream_processing_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    rng = random.Random(7)
    cents = {0: [1.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0], 2: [0.0, 0.0, 1.0]}
    centroids = spark.createDataFrame(
        [(b, v) for b, v in cents.items()], "bucket int, embedding array<double>"
    ).localCheckpoint()

    def rhu6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return rhu6(num / (math.sqrt(sum(x * x for x in a))
                           * math.sqrt(sum(x * x for x in b))))

    for trial in range(2):
        vecs = {
            i: [rng.uniform(0.0, 1.0) for _ in range(3)] for i in range(1, 25)
        }
        tau = 0.97
        # reference: bucket = argmax rounded cosine (tie -> lowest bucket)
        bucket = {}
        for i, v in vecs.items():
            sims = [(-(cos(v, c)), b) for b, c in cents.items()]
            bucket[i] = min(sims)[1]
        # in-batch losers: larger id of any same-bucket pair >= tau
        losers = set()
        ids = sorted(vecs)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if bucket[a] == bucket[b] and cos(vecs[a], vecs[b]) >= tau:
                    losers.add(b)
        want = sorted(set(ids) - losers)

        store = str(tmp_path / f"store_{trial}")
        batch = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()],
            "vec_id long, embedding array<double>",
        )
        got = sorted(
            r["vec_id"]
            for r in incremental_semantic_dedup(
                batch, store, centroids, tau=tau, bucket_cap=None
            ).collect()
        )
        assert got == want, (trial, got, want)


def test_remove_shared_spans_matches_brute_force_randomized(spark):
    """The span-removal rewrite (exact-substring dedup ACTION) vs a
    character-level brute force on randomized corpora with planted
    shared sentences: keeper-doc preservation, interval union of
    overlapping removable occurrences, multi-occurrence spans within
    one doc, full-doc removal of exact copies, and short/empty docs
    all line up exactly."""
    import random

    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        remove_shared_spans,
    )

    L = 16

    def brute(texts):
        occ = {}
        for d, t in texts.items():
            for i in range(len(t) - L + 1):
                occ.setdefault(t[i:i + L], set()).add(d)
        out = {}
        for d, t in texts.items():
            keep = [True] * len(t)
            for i in range(len(t) - L + 1):
                ds = occ[t[i:i + L]]
                if len(ds) >= 2 and d != min(ds):
                    for j in range(i, i + L):
                        keep[j] = False
            out[d] = "".join(c for c, k in zip(t, keep) if k)
        return out

    rng = random.Random(0xC0FFEE)
    shared_sentences = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "sphinx of black quartz judge my vow",
    ]
    for trial in range(5):
        texts = {}
        for d in range(1, 21):
            parts = []
            for _ in range(rng.randint(0, 4)):
                if rng.random() < 0.6:
                    parts.append(rng.choice(shared_sentences))
                else:
                    parts.append(
                        "".join(
                            rng.choice("abcdefgh ij")
                            for _ in range(rng.randint(0, 40))
                        )
                    )
            texts[d] = " ".join(parts)
        # planted exact copy + short/empty docs every trial
        texts[21] = texts[1]
        texts[22] = "tiny"
        texts[23] = ""
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["rewritten"], r["chars_removed"])
            for r in remove_shared_spans(docs).collect()
        }
        want = brute(texts)
        for d, t in texts.items():
            assert got[d][0] == want[d], (trial, d, got[d][0], want[d])
            assert got[d][1] == len(t) - len(want[d])


def test_remove_shared_spans_min_run_len_matches_brute_force(spark):
    """The variable-length knob (Lee et al. cut only duplicated runs
    >= ~50 tokens): merged removable runs under min_run_len are
    SPARED, runs at/over it are cut, and two barely-overlapping short
    occurrences that union past the threshold are removed. Verified
    vs a character-level brute force across span_len x min_run_len
    grids, including min_run_len == span_len (must equal the default
    behavior) and run-count columns."""
    import random

    from umn_eda_kafka_stream_processing_spark.operators.dedup import (
        remove_shared_spans,
    )

    def brute(texts, L, mrl):
        occ = {}
        for d, t in texts.items():
            for i in range(len(t) - L + 1):
                occ.setdefault(t[i:i + L], set()).add(d)
        out = {}
        for d, t in texts.items():
            rm = [False] * len(t)
            for i in range(len(t) - L + 1):
                ds = occ[t[i:i + L]]
                if len(ds) >= 2 and d != min(ds):
                    for j in range(i, i + L):
                        rm[j] = True
            runs, i = [], 0
            while i < len(t):
                if rm[i]:
                    j = i
                    while j < len(t) and rm[j]:
                        j += 1
                    runs.append((i, j))
                    i = j
                else:
                    i += 1
            kept = [r for r in runs if r[1] - r[0] >= mrl]
            parts, cur = [], 0
            for s, e in kept:
                parts.append(t[cur:s])
                cur = e
            parts.append(t[cur:])
            out[d] = ("".join(parts), len(runs), len(kept))
        return out

    rng = random.Random(0xBEEF)
    long_shared = "".join(rng.choice("abcd") for _ in range(60))
    short_shared = "".join(rng.choice("abcd") for _ in range(18))
    texts = {}
    for d in range(1, 25):
        t = "".join(rng.choice("abcd") for _ in range(rng.randint(0, 120)))
        if d % 3 == 0:
            t = t[:20] + long_shared + t[20:]
        if d % 4 == 0:
            t = short_shared + t
        texts[d] = t
    texts[25] = texts[3]  # exact copy: one full-length run
    texts[26] = ""
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    for L, mrl in [(8, 8), (8, 25), (16, 16), (16, 40), (16, 1000)]:
        got = {
            r["doc_id"]: (r["rewritten"], r["runs_merged"], r["runs_cut"])
            for r in remove_shared_spans(
                docs, span_len=L, min_run_len=mrl
            ).collect()
        }
        want = brute(texts, L, mrl)
        assert got == want, (L, mrl)
        if mrl == L:  # threshold == span_len must equal the default
            dflt = {
                r["doc_id"]: (r["rewritten"], r["runs_merged"], r["runs_cut"])
                for r in remove_shared_spans(docs, span_len=L).collect()
            }
            assert dflt == got, L


def test_gopher_quality_flags_every_rule_cross_engine(spark, tmp_path):
    """Crafted docs drive each Gopher rule branch (the synthetic corpus
    only ever fails word_count/stopwords), and the SPARK funnel must
    agree with the DUCKDB oracle SQL row-for-row on the same parquet —
    regex-count, line-split, and list-intersect semantics line up on
    every branch, not just the two the sf-corpus exercises."""
    import duckdb

    from umn_eda_kafka_stream_processing_spark.plans.registry import REGISTRY

    base = ("the be to of and that have with word " * 8).strip()  # 72 words, passes
    docs = [
        # each doc is crafted so every EARLIER rule passes and exactly
        # the intended rule fires first
        (1, base, "en"),                                    # kept
        (2, "too short", "en"),                             # word_count
        (3, " ".join(["ab"] * 60) + " the be", "en"),       # mean_word_length
        (4, base + " " + " ".join(["####"] * 9), "en"),     # symbol_ratio
        (5, "\n".join(["- wonderful things here"] * 20), "en"),   # bullet_lines
        (6, "\n".join(["pleasant words flowing …"] * 18), "en"),  # ellipsis_lines
        (7, ("the be to of and that have with " + "1234 " * 50).strip(), "en"),  # alpha_words
        (8, " ".join(["apple banana cherry dates"] * 15), "en"),   # stopwords
        (9, base + " …", "en"),  # single-line unicode-ellipsis end → ellipsis_lines
    ]
    sdf = spark.createDataFrame(
        [(i, t, l, "crafted", len(t)) for i, t, l in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "documents.parquet")
    sdf.coalesce(1).write.mode("overwrite").parquet(path)

    got = sorted(
        tuple(r)
        for r in REGISTRY["gopher_quality_flags"]
        .spark(spark, str(tmp_path))
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(
        REGISTRY["gopher_quality_flags"].oracle
    ).fetchall())
    assert got == want, (got, want)
    verdicts = {v for _, v, _, _ in got}
    for expect in ("kept", "word_count", "mean_word_length", "symbol_ratio",
                   "bullet_lines", "ellipsis_lines", "alpha_words",
                   "stopwords"):
        assert expect in verdicts, (expect, got)


def test_canonical_url_edge_cases(spark):
    """canonical_url / registrable_domain edge semantics: default-port
    strip is scheme-aware, non-default ports survive, utm params strip
    wherever they sit in the query (no group-reference replacements),
    the '?' drops when the query empties, fragments always drop, and
    non-URL input degrades to itself."""
    from umn_eda_kafka_stream_processing_spark.functions.text import (
        canonical_url,
        registrable_domain,
    )

    cases = [
        ("HTTP://Ex.COM:80/a?b=1#f", "http://ex.com/a?b=1", "ex.com"),
        ("https://ex.com:443/a", "https://ex.com/a", "ex.com"),
        ("http://ex.com:443/a", "http://ex.com:443/a", "ex.com"),  # not http's default
        ("https://ex.com:8080/a", "https://ex.com:8080/a", "ex.com"),
        ("http://a.b.Ex.org/p?utm_a=1&id=2&utm_b=3&z=4", "http://a.b.ex.org/p?id=2&z=4", "ex.org"),
        ("http://ex.com/p?utm_only=x", "http://ex.com/p", "ex.com"),
        ("http://ex.com/p?", "http://ex.com/p", "ex.com"),
        ("http://ex.com#frag", "http://ex.com", "ex.com"),
        ("not a url at all", "not a url at all", ""),
        ("http://EX.com", "http://ex.com", "ex.com"),
        # PSL-lite: ccSLD suffixes take three labels, the bare suffix
        # degrades to itself, deep subdomains still yield the
        # registration, and lookalike non-suffix hosts stay 2-label
        ("https://Example.CO.UK/p", "https://example.co.uk/p", "example.co.uk"),
        ("https://a.b.example.co.uk:443/p", "https://a.b.example.co.uk/p", "example.co.uk"),
        ("http://shop.com.au:8080/", "http://shop.com.au:8080/", "shop.com.au"),
        ("https://www.x.co.jp", "https://www.x.co.jp", "x.co.jp"),
        ("https://co.uk/path", "https://co.uk/path", "co.uk"),
        ("https://foo.co.zz/p", "https://foo.co.zz/p", "co.zz"),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    got = [
        (r["c"], r["d"])
        for r in df.select(
            canonical_url("url").alias("c"), registrable_domain("url").alias("d")
        ).collect()
    ]
    for (raw, want_c, want_d), (gc, gd) in zip(cases, got):
        assert gc == want_c, (raw, gc, want_c)
        assert gd == want_d, (raw, gd, want_d)


def test_unigram_viterbi_segmentation_and_tiebreak(spark):
    """Viterbi DP under HAND-SPECIFIED costs (no ln anywhere): picks
    the min-cost segmentation, prefers the SHORTEST piece on exact
    ties, and falls back to single chars for OOV spans."""
    from umn_eda_kafka_stream_processing_spark.operators.unigram import (
        viterbi_segment,
    )

    model = {"ab": 10, "a": 30, "b": 30, "c": 100, "abc": 200, "bc": 15,
             "x": 500}
    words = spark.createDataFrame(
        [("abc", 1), ("ababc", 1), ("axc", 1), ("b", 1)],
        "word string, freq long",
    )
    got = {
        r["word"]: r["pieces"]
        for r in viterbi_segment(words, model).collect()
    }
    # abc: ab+c=110 vs a+bc=45 vs abc=200 vs a+b+c=160 -> a,bc
    assert got["abc"] == ["a", "bc"]
    # ababc: ab+a+bc=55 vs ab+ab+c=120 vs a+b+a+bc=105 ... -> ab,a,bc
    assert got["ababc"] == ["ab", "a", "bc"]
    # 'ax'/'xc'/'axc' are OOV (INF): the expensive-but-finite single
    # 'x' routes around them (the trainer always seeds ALL singles,
    # so this is the real coverage invariant)
    assert got["axc"] == ["a", "x", "c"]
    assert got["b"] == ["b"]
    # exact tie: craft costs where 'a'+'b' == 'ab' -> shortest piece
    # (the single) must win the backpointer
    tie = {"ab": 60, "a": 30, "b": 30}
    tw = spark.createDataFrame([("ab", 1)], "word string, freq long")
    assert viterbi_segment(tw, tie).collect()[0]["pieces"] == ["a", "b"]


def test_unigram_train_matches_python_reference_randomized(spark):
    """train_unigram vs the pure-Python reference implementation on
    randomized corpora: candidate selection, both EM rounds, the
    Laplace re-estimate, and final (usage DESC, piece ASC) ranking
    are value-identical (including ln micro-rounding)."""
    import random

    from umn_eda_kafka_stream_processing_spark.operators.unigram import (
        reference_train_unigram,
        train_unigram,
    )

    rng = random.Random(0x5EED)
    stems = ["walk", "talk", "jump", "think", "interna", "un", "re"]
    sufs = ["ing", "ed", "s", "er", "ation", ""]
    for trial in range(3):
        texts = []
        for _ in range(30):
            n = rng.randint(3, 10)
            texts.append(
                " ".join(
                    rng.choice(stems) + rng.choice(sufs) for _ in range(n)
                )
            )
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r["rank"], r["piece"], r["usage"], r["cost_micros"])
            for r in train_unigram(df, k_cand=60, v_final=40).collect()
        ]
        want = reference_train_unigram(texts, k_cand=60, v_final=40)
        assert got == want, (trial, got[:5], want[:5])


def test_nb_learns_planted_class_vocabulary(spark):
    """Learnability exhibit for the NB classifier (the synthetic sf
    corpus has NO text-label correlation — uniform token soup — so
    the catalog queries only prove engine-exactness; this test proves
    the operator actually LEARNS): two classes with planted
    discriminative vocabulary plus shared filler, trained on half the
    docs, scored on the held-out half. Pins per-class recall, the
    OOV-floor path (held-out docs carry unseen words), the
    feature-less-doc bare-prior path, and the deterministic
    min-label tie-break."""
    import random

    from umn_eda_kafka_stream_processing_spark.operators.nb import (
        nb_score,
        nb_train,
        word_features,
    )

    rng = random.Random(0xB0B)
    shared = ["alpha", "beta", "gamma", "delta", "epsilon"]
    spammy = ["win", "free", "prize", "click", "offer"]
    hammy = ["meeting", "report", "quarterly", "agenda", "minutes"]
    rows = []
    for d in range(200):
        cls = "spam" if d % 2 == 0 else "ham"
        own = spammy if cls == "spam" else hammy
        words = [
            rng.choice(own if rng.random() < 0.6 else shared)
            for _ in range(rng.randint(8, 30))
        ]
        # held-out docs sprinkle OOV words (never in training)
        if d >= 100 and rng.random() < 0.5:
            words.append(f"novel{d}")
        rows.append((d, " ".join(words), cls))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label string")
    train = docs.filter("doc_id < 100")
    test = docs.filter("doc_id >= 100")
    model, priors, vocab = nb_train(
        word_features(train), train.select("doc_id", "label")
    )
    assert vocab == len(set(shared + spammy + hammy))
    preds = nb_score(word_features(test), test.select("doc_id"), model, priors)
    joined = {r["doc_id"]: r for r in preds.join(test, "doc_id").collect()}
    by_cls = {"spam": [0, 0], "ham": [0, 0]}
    for r in joined.values():
        by_cls[r["label"]][0] += 1
        if r["pred"] == r["label"]:
            by_cls[r["label"]][1] += 1
    for cls, (n, hit) in by_cls.items():
        assert n >= 40
        assert hit / n >= 0.9, (cls, hit, n)

    # feature-less doc: bare priors decide; equal priors (100 docs
    # each) tie on score -> min(label) wins deterministically ('ham')
    blank = spark.createDataFrame([(999, "   ")], "doc_id long, text string")
    p = nb_score(
        word_features(blank), blank.select("doc_id"), model, priors
    ).collect()[0]
    assert p["pred"] == "ham"


def test_unigram_encode_any_words_window_fallback(spark):
    """encode_any_words: within-cap words match viterbi_segment
    exactly; over-cap words split into fixed max_word_len windows
    whose piece counts SUM (each window independently DP'd, so a
    piece can be severed at a window boundary — pinned here), and a
    window string that coincides with a real short word dedups into
    the same DP row without affecting either count."""
    from umn_eda_kafka_stream_processing_spark.operators.unigram import (
        encode_any_words,
        viterbi_segment,
    )

    model = {"ab": 10, "a": 30, "b": 30, "c": 100, "bc": 15, "x": 500}
    # cap=4: 'abab' fits; 'ababab' (6) -> windows 'abab'+'ab' -> 2+1
    # pieces; 'abcab' (5) -> 'abca'+'b': window 1 = a,bc,a (3) + 1
    # = 4 pieces, though the unwindowed DP would find ab,c,ab (3) —
    # the boundary severs nothing here but 'abcab' shows summing;
    # 'xxxxx' (5) -> 'xxxx'+'x' = 5 single chars
    words = spark.createDataFrame(
        [("abab", 1), ("ababab", 1), ("abcab", 1), ("xxxxx", 1), ("ab", 1)],
        "word string, freq long",
    )
    got = {
        r["word"]: r["n_pieces"]
        for r in encode_any_words(
            words, model, max_word_len=4, max_piece_len=2
        ).collect()
    }
    assert got == {"abab": 2, "ababab": 3, "abcab": 4, "xxxxx": 5, "ab": 1}
    # cross-check the short rows against the raw DP
    seg = {
        r["word"]: len(r["pieces"])
        for r in viterbi_segment(
            words.filter("length(word) <= 4"), model, 4, 2
        ).collect()
    }
    assert seg == {"abab": 2, "ab": 1}


def test_search_bm25_empty_index_raises(spark, tmp_path):
    """Searching an index with zero ingested documents must raise a
    descriptive error — n_docs=0 would otherwise put ln() over a
    negative ratio and surface as silent NULL scores (r08 advice)."""
    from umn_eda_kafka_stream_processing_spark.operators.bm25 import (
        search_bm25_index,
        upsert_bm25_index,
    )

    idx = str(tmp_path / "empty_idx")
    empty = spark.createDataFrame([], "doc_id long, text string")
    upsert_bm25_index(empty, idx, batch_seq=0, n_buckets=4)
    queries = spark.createDataFrame([(1, "spark")], "qid long, term string")
    with pytest.raises(ValueError, match="empty"):
        search_bm25_index(spark, idx, queries, n_buckets=4)


def test_bm25_matches_python_reference(spark):
    """BM25 (Lucene idf, k1=1.2 b=0.75) vs a direct Python
    implementation on a hand-made corpus: integer-micro scores equal
    exactly (the contribution rounding is pinned, not approximated),
    ranks break ties by doc id, OOV query terms contribute nothing,
    and an empty doc never matches but still counts toward N/avgdl."""
    import math

    from umn_eda_kafka_stream_processing_spark.operators.bm25 import (
        bm25_index,
        bm25_search,
    )

    corpus = {
        1: "spark spark stream join fast",
        2: "stream table join",
        3: "fast fast fast hash",
        4: "",
        5: "spark hash table stream stream",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    qrows = [(1, "spark"), (1, "stream"), (2, "fast"), (2, "nope")]
    queries = spark.createDataFrame(qrows, "qid long, term string")
    postings, doclens, n, t = bm25_index(docs)
    got = {
        (r["qid"], r["doc_id"]): (r["rank"], r["score_micro"])
        for r in bm25_search(
            postings, doclens, n, t, queries, k=10
        ).collect()
    }

    tf = {
        (d, w): txt.split().count(w)
        for d, txt in corpus.items()
        for w in set(txt.split())
    }
    dl = {d: len(txt.split()) for d, txt in corpus.items()}
    N, T = len(corpus), sum(dl.values())
    df = {}
    for (d, w) in tf:
        df[w] = df.get(w, 0) + 1
    idf = {
        w: int(math.floor(
            math.log((N - c + 0.5) / (c + 0.5) + 1.0) * 1e6 + 0.5))
        for w, c in df.items()
    }
    want = {}
    for qid, terms in {1: ["spark", "stream"], 2: ["fast", "nope"]}.items():
        scores = {}
        for d in corpus:
            s = 0
            for w in terms:
                if (d, w) in tf:
                    f = tf[(d, w)]
                    norm = 1.0 - 0.75 + 0.75 * ((dl[d] * float(N)) / T)
                    s += int(math.floor(
                        idf[w] * ((f * 2.2) / (f + 1.2 * norm)) + 0.5))
            if s:
                scores[d] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for i, (d, s) in enumerate(ranked):
            want[(qid, d)] = (i + 1, s)
    assert got == want


def test_pagerank_fixed_matches_python_reference(spark):
    """Fixed-point PageRank vs a direct Python implementation of the
    same integer recurrence on a hand-made graph: exact BIGINT
    equality per node per iteration count, hub outranks spokes, and
    rank mass stays within the documented div-truncation leak."""
    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        SCALE,
        pagerank_fixed,
    )

    # star a<->{b,c,d} plus a pendant pair d<->e (symmetrized)
    und = [("a", "b"), ("a", "c"), ("a", "d"), ("d", "e")]
    sym = und + [(y, x) for x, y in und]
    edges = spark.createDataFrame(sym, "src string, dst string")

    def ref(iters):
        from collections import defaultdict
        out = defaultdict(int)
        for s, _ in sym:
            out[s] += 1
        nodes = sorted(out)
        n = len(nodes)
        base = 15 * SCALE // (100 * n)
        r = {v: SCALE // n for v in nodes}
        for _ in range(iters):
            acc = defaultdict(int)
            for s, d in sym:
                acc[d] += r[s] // out[s]
            r = {v: base + (85 * acc[v]) // 100 for v in nodes}
        return r

    for iters in (1, 5):
        got = {
            r["node"]: r["rank_picos"]
            for r in pagerank_fixed(edges, iterations=iters).collect()
        }
        assert got == ref(iters), iters
    # structure: the hub holds the most rank; total mass within the
    # truncation leak of SCALE (<= iters * n * max_outdeg picos)
    assert got["a"] == max(got.values())
    assert SCALE - sum(got.values()) < 5 * 5 * 3 * 100


def test_pagerank_directed_dangling_matches_python_reference(spark):
    """Directed PageRank with dangling-mass redistribution vs a
    direct Python implementation of the same integer recurrence:
    sinks (no out-edges) donate their mass uniformly each round, so
    a pure-sink graph neither loses mass to the void nor freezes."""
    from umn_eda_kafka_stream_processing_spark.operators.graph import (
        SCALE,
        pagerank_directed,
    )

    # a -> {b, c}; b -> c; c and e are sinks; e only reachable from d
    dir_edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "e")]
    edges = spark.createDataFrame(dir_edges, "src string, dst string")

    def ref(iters):
        from collections import defaultdict
        out = defaultdict(int)
        for s, _ in dir_edges:
            out[s] += 1
        nodes = sorted({x for e in dir_edges for x in e})
        n = len(nodes)
        base = 15 * SCALE // (100 * n)
        r = {v: SCALE // n for v in nodes}
        for _ in range(iters):
            dt = sum(r[v] for v in nodes if out[v] == 0)
            acc = defaultdict(int)
            for s, d in dir_edges:
                acc[d] += r[s] // out[s]
            r = {
                v: base + (85 * (acc[v] + dt // n)) // 100
                for v in nodes
            }
        return r

    for iters in (1, 4):
        got = {
            r["node"]: r["rank_picos"]
            for r in pagerank_directed(edges, iterations=iters).collect()
        }
        assert got == ref(iters), iters
    # the double-fed sink c outranks everything; redistribution keeps
    # total mass near SCALE (no sink black-hole)
    assert got["c"] == max(got.values())
    assert SCALE - sum(got.values()) < 4 * 5 * 2 * 100 + 5 * 100


def test_int8_quantize_exactness_and_pack(spark):
    from umn_eda_kafka_stream_processing_spark.operators.quantize import (
        int8_apply,
        int8_pack,
        int8_quantize_elements,
        int8_stats,
        _explode_micro,
    )

    df = spark.createDataFrame(
        [
            (1, [0.0, -1.0, 0.5]),
            (2, [1.0, 1.0, 0.5]),   # dim 2 is CONSTANT -> code 0, err 0
            (3, [0.25, 0.0, 0.5]),
        ],
        "vid long, v array<float>",
    )
    q = int8_quantize_elements(df, "v").collect()
    got = {(r["vid"], r["pos"]): (r["code"], r["err_micro"]) for r in q}

    def expect(x, lo, hi):
        xm, lom, him = round(x * 1e6), round(lo * 1e6), round(hi * 1e6)
        rng = max(him - lom, 1)
        code = (xm - lom) * 255 // rng
        return code, abs(xm - (lom + code * rng // 255))

    cols = {0: (0.0, 1.0), 1: (-1.0, 1.0), 2: (0.5, 0.5)}
    vals = {1: [0.0, -1.0, 0.5], 2: [1.0, 1.0, 0.5], 3: [0.25, 0.0, 0.5]}
    for vid, vec in vals.items():
        for pos, x in enumerate(vec):
            assert got[(vid, pos)] == expect(x, *cols[pos]), (vid, pos)
    # lossless endpoints: min and max of every dim reconstruct exactly
    assert got[(1, 1)] == (0, 0) and got[(2, 1)] == (255, 0)
    assert got[(2, 2)][0] == 0 and got[(2, 2)][1] == 0  # constant dim

    packed = {
        r["vid"]: r["codes"]
        for r in int8_pack(
            int8_quantize_elements(df, "v"), "vid"
        ).collect()
    }
    assert packed[1] == [got[(1, p)][0] for p in range(3)]

    # frozen-quantizer serve path: out-of-range element clamps
    serve = spark.createDataFrame([(9, [2.0, 0.0, 0.5])], "vid long, v array<float>")
    stats = int8_stats(_explode_micro(df, "v"))
    s = int8_apply(_explode_micro(serve, "v"), stats).collect()
    srow = {r["pos"]: r for r in s}
    assert srow[0]["code"] == 255  # clamped to hi
    assert srow[0]["err_micro"] == abs(2_000_000 - 1_000_000)


def test_audio_fingerprint_invariance_and_pairs(spark):
    import numpy as np

    from umn_eda_kafka_stream_processing_spark.operators.multimodal import (
        audio_fp_pairs,
        audio_fingerprint,
        encode_wav_pcm16,
    )

    rng = np.random.RandomState(11)
    base = rng.randint(-4000, 4000, size=200)

    def wav(samples, rate=8000):
        return encode_wav_pcm16(np.asarray(samples, dtype=np.int64), rate)

    rows = [
        (1, wav(base)),
        (2, wav(base * 2)),          # gain x2: identical fingerprint
        (3, wav(base, rate=16000)),  # rate change alone: identical
        (4, wav(rng.randint(-4000, 4000, size=173))),  # unrelated
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    sigs = {
        r["media_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
        for r in audio_fingerprint(media).collect()
    }
    assert sigs[1] == sigs[2] == sigs[3]
    assert sigs[4] != sigs[1]

    # python replica of the bit packing for clip 1
    frames = (np.arange(200) * 65) // 200
    eng = np.zeros(65, dtype=np.int64)
    np.add.at(eng, frames, np.abs(base.astype(np.int64)))
    bits = (eng[1:] > eng[:-1]).astype(int)
    expect = tuple(
        int("".join(map(str, bits[k * 16 : (k + 1) * 16])), 2)
        for k in range(4)
    )
    assert sigs[1] == expect

    pairs = audio_fp_pairs(media).collect()
    got = {(r["media_id_a"], r["media_id_b"]): r["hamming"] for r in pairs}
    assert got[(1, 2)] == 0 and got[(1, 3)] == 0 and got[(2, 3)] == 0
    assert (1, 4) not in got or got[(1, 4)] > 3


def test_partition_bloom_select_df_matches_collected(spark, tmp_path):
    """The distributed selection path (needed-words filter + per-
    partition all-words agg, O(|passing parts|) rows to the driver)
    selects EXACTLY the partitions the collected-index path does, for
    present and absent keys alike; the word filter reaches the stored
    index's parquet scan as a pushed ``In(w, ...)`` and the frame
    surviving it is bounded by |parts| × k_hashes rows."""
    import random

    from umn_eda_kafka_stream_processing_spark.operators import (
        runtime_filter as rf,
    )

    rng = random.Random(7)
    rows = [(rng.randrange(8), rng.randrange(3000)) for _ in range(1500)]
    df = spark.createDataFrame(rows, "part long, key long")
    idx_path = str(tmp_path / "pbloom_idx")
    rf.partition_bloom_index(
        df, "part", "key", m_bits=4096, k_hashes=3
    ).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    idx_rows = idx.collect()

    probes = sorted({k for _, k in rows[:40]}) + [99_999, 88_888, -1]
    for k in probes:
        collected = rf.partition_bloom_select(
            idx_rows, k, "part", m_bits=4096
        )
        distributed = rf.partition_bloom_select_df(
            idx, k, "part", m_bits=4096
        )
        assert collected == distributed, k

    # scale shape: the probe's word filter is pushed to the scan and
    # the pre-aggregation frame is O(|parts| * k), never |parts| * m/32
    need = rf.bloom_needed_words(rows[0][1], m_bits=4096)
    filtered = idx.filter(F.col("w").isin(*[int(w) for w in need]))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(w" in plan.replace(" ", "")[
        plan.replace(" ", "").find("PushedFilters"):]
    assert filtered.count() <= 8 * len(need)


def test_partition_bloom_index_no_false_negatives(spark):
    """A partition holding the key is ALWAYS selected (bloom
    guarantee); the python probe positions match the Spark-built
    index bit-for-bit; an absent value selects only FP partitions."""
    import random

    from umn_eda_kafka_stream_processing_spark.operators import (
        runtime_filter as rf,
    )

    rng = random.Random(42)
    rows = [(rng.randrange(8), rng.randrange(10_000)) for _ in range(2000)]
    df = spark.createDataFrame(rows, "part long, key long")
    idx = rf.partition_bloom_index(
        df, "part", "key", m_bits=4096, k_hashes=3
    ).collect()

    truth = {}
    for p, k in rows:
        truth.setdefault(k, set()).add(p)
    # every present key: selection is a SUPERSET of true partitions
    for k in list(truth)[:200]:
        sel = set(rf.partition_bloom_select(idx, k, "part", m_bits=4096))
        assert truth[k] <= sel, k
    # absent keys: selections are pure FP, usually empty at this load
    fp = [
        len(rf.partition_bloom_select(idx, k, "part", m_bits=4096))
        for k in range(20_000, 20_100)
    ]
    assert sum(fp) < 100 * 8 * 0.2  # way below "select everything"


def test_table_profile_bruteforce(spark):
    from umn_eda_kafka_stream_processing_spark.operators.quality import (
        table_profile,
    )

    df = spark.createDataFrame(
        [
            ("a", 1), ("a", 2), ("b", None), ("b", 2), (None, 2),
            ("a", None), ("c", 3),
        ],
        "s string, x int",
    )
    got = {r["col_name"]: r.asDict() for r in table_profile(df).collect()}
    assert got["s"]["n_rows"] == 7 and got["s"]["n_null"] == 1
    assert got["s"]["n_distinct"] == 3
    assert got["s"]["mode_value"] == "a" and got["s"]["mode_count"] == 3
    assert got["x"]["n_null"] == 2 and got["x"]["n_distinct"] == 3
    assert got["x"]["mode_value"] == "2" and got["x"]["mode_count"] == 3

    # tie-break: equal counts -> lexicographic-min value
    df2 = spark.createDataFrame([("z",), ("y",)], "t string")
    got2 = table_profile(df2).collect()[0]
    assert got2["mode_value"] == "y" and got2["mode_count"] == 1

    # all-NULL column: a row still comes back (mode NULL, count 0)
    df3 = spark.createDataFrame([(None,), (None,)], "z string")
    got3 = table_profile(df3).collect()[0]
    assert (got3["n_rows"], got3["n_null"], got3["n_distinct"]) == (2, 2, 0)
    assert got3["mode_value"] is None and got3["mode_count"] == 0

    import pytest

    with pytest.raises(ValueError):
        table_profile(df, cols=[])


def test_jl_project_python_replica_and_concentration(spark):
    import hashlib

    import numpy as np

    from umn_eda_kafka_stream_processing_spark.operators.quantize import (
        jl_project,
    )

    rng = np.random.RandomState(5)
    vecs = {i: rng.uniform(-0.3, 0.3, 8).astype("float32") for i in range(6)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vid long, v array<float>",
    )
    got = {
        (r["vid"], r["j"]): r["y_micro"]
        for r in jl_project(df, "v", "vid", out_dim=4).collect()
    }

    def sign(j, i):
        h = int(hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[:8], 16)
        return 1 - 2 * (h % 2)

    for vid, v in vecs.items():
        xm = [round(float(x) * 1e6) for x in v]
        for j in range(4):
            exp = sum(sign(j, i) * xm[i] for i in range(8))
            assert got[(vid, j)] == exp, (vid, j)

    # concentration on a larger draw: mean ratio within 25% of 1
    big = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.uniform(-0.3, 0.3, 32)])
            for i in range(200)
        ],
        "vid long, v array<float>",
    )
    proj = jl_project(big, "v", "vid", out_dim=16).collect()
    ys = {}
    for r in proj:
        ys.setdefault(r["vid"], {})[r["j"]] = r["y_micro"]
    rows = {r["vid"]: r["v"] for r in big.collect()}
    ratios = []
    for a in range(100):
        b = a + 100
        d2o = sum(
            (round(x * 1e6) - round(y * 1e6)) ** 2
            for x, y in zip(rows[a], rows[b])
        )
        d2p = sum((ys[a][j] - ys[b][j]) ** 2 for j in range(16))
        ratios.append(d2p / (16 * d2o))
    mean = sum(ratios) / len(ratios)
    assert 0.75 < mean < 1.25, mean


def test_incremental_int8_index_matches_batch(spark, tmp_path):
    """Frozen-quantizer INT8 ingest: stats trained on batch 0, later
    batches encode under the frozen stats into the versioned code
    store — the final as-of read equals the batch encode of the full
    corpus under the same stats (train-once/serve-many, the IVF
    index contract), and out-of-range drift clamps."""
    import numpy as np

    from umn_eda_kafka_stream_processing_spark.operators.quantize import (
        _explode_micro,
        int8_apply,
        int8_pack,
        int8_stats,
    )
    from umn_eda_kafka_stream_processing_spark.operators.versioned import (
        append_versioned,
        read_versioned_asof,
    )

    rng = np.random.RandomState(2)

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.uniform(-1, 1, 6)]) for i in ids],
            "vid long, v array<float>",
        )

    b0, b1 = vecs(range(0, 30)), vecs(range(30, 50))
    stats = int8_stats(_explode_micro(b0, "v")).localCheckpoint()
    path = str(tmp_path / "int8idx")
    for n, b in enumerate((b0, b1)):
        codes = int8_pack(
            int8_apply(_explode_micro(b, "v"), stats), "vid"
        ).withColumn("seq", F.lit(0).cast("long"))
        append_versioned(codes, path, batch_id=n)

    got = {
        r["vid"]: r["codes"]
        for r in read_versioned_asof(
            spark, path, 1, "vid", seq_col="seq"
        ).collect()
    }
    full = b0.unionByName(b1)
    expect = {
        r["vid"]: r["codes"]
        for r in int8_pack(
            int8_apply(_explode_micro(full, "v"), stats), "vid"
        ).collect()
    }
    assert got == expect and len(got) == 50


def test_incremental_bloom_index_equals_batch(spark, tmp_path):
    from umn_eda_kafka_stream_processing_spark.operators import (
        runtime_filter as rf,
    )

    rows = [(i % 4, i * 13 % 500) for i in range(600)]
    df = spark.createDataFrame(rows, "part long, key long")
    path = str(tmp_path / "bloomstore")
    b0 = df.filter(F.col("key") % 2 == 0)
    b1 = df.filter(F.col("key") % 2 == 1)
    rf.upsert_bloom_registers(b0, path, 0, "part", "key")
    rf.upsert_bloom_registers(b1, path, 1, "part", "key")
    # replay batch 1: byte-identical partition, merged view unchanged
    rf.upsert_bloom_registers(b1, path, 1, "part", "key")

    merged = {
        (r["part"], r["w"]): r["bits"]
        for r in rf.read_bloom_index(spark, path, "part").collect()
    }
    batch = {
        (r["part"], r["w"]): r["bits"]
        for r in rf.partition_bloom_index(df, "part", "key").collect()
    }
    assert merged == batch

    # selection through the merged view = selection through the
    # from-scratch index, for present and absent keys alike
    idx = [
        {"part": p, "w": w, "bits": b} for (p, w), b in merged.items()
    ]
    truth = {}
    for p, k in rows:
        truth.setdefault(k, set()).add(p)
    for k in list(truth)[:50] + [9999]:
        sel = set(rf.partition_bloom_select(idx, k, "part"))
        assert truth.get(k, set()) <= sel
