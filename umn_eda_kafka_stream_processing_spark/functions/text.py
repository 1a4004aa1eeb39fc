"""Text-analysis function library for large-scale training-data
pipelines: tokenization, quality scoring, language-ID, and document
fingerprinting.

All of these are Catalyst column expressions (JVM-side, codegen'd,
whole-stage) — no Python in the hot path, so they run at full scan
speed over 100 TB of documents. Each has an exact DuckDB-SQL twin in
plans/catalog.py; hashing is built on md5 (bit-identical across
engines), never engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from umn_eda_kafka_stream_processing_spark.functions.scalar import round_half_up

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language identifier. Order matters: it is the deterministic
# tie-break (first language with the max score wins).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "is", "in", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "y", "que", "los", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "人"],
}


def tokens(text: str = "text") -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(F.col(text)), r"\s+")


def token_count() -> Column:
    return F.size(tokens()).cast("long")


def stopword_count(lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang``."""
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens(), lambda t: t.isin(words))).cast("long")


def lang_scores() -> dict[str, Column]:
    return {lang: stopword_count(lang) for lang in LANG_STOPWORDS}


def lang_predict() -> Column:
    """Heuristic language-ID: argmax stopword overlap, ties broken by
    LANG_STOPWORDS declaration order (lang_i wins if its score >= all
    later langs' scores)."""
    scores = lang_scores()
    langs = list(scores)
    expr: Column = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        lang = langs[i]
        cond = None
        for later in langs[i + 1:]:
            c = scores[lang] >= scores[later]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def punct_count() -> Column:
    """Count of common punctuation chars (explicit class — regex
    character-class semantics differ across engines)."""
    stripped = F.regexp_replace(F.col("text"), r"[.,!?;:'\"()-]", "")
    return (F.length(F.col("text")) - F.length(stripped)).cast("long")


# HTML extraction regexes: the Java∩RE2-compatible subset (inline
# (?is) flags, non-greedy .*?, no backreferences/lookaround), so the
# DuckDB oracle runs the IDENTICAL patterns (plans/catalog_data.py).
HTML_STRIP_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),  # executable content
    (r"(?is)<style[^>]*>.*?</style>", " "),    # styling content
    (r"(?s)<!--.*?-->", " "),                  # comments
    (r"(?is)<[^>]+>", " "),                    # remaining tags
)
# Entity decode: fixed literal set, & LAST so '&amp;lt;' correctly
# yields the literal '&lt;' instead of double-decoding to '<'.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def html_to_text(html: str = "html") -> Column:
    """Boilerplate HTML → text extraction as pure column expressions —
    the first pass of any web-corpus pipeline (strip script/style/
    comments/tags, decode the common entities, collapse whitespace).

    Deliberately JVM-side regexp_replace chains, NOT a Python UDF:
    this runs over every crawled page, so it must stay inside
    whole-stage codegen at full scan speed. A trafilatura-class
    extractor (DOM scoring, main-content detection) would slot in as
    a mapInPandas stage downstream of this cheap pre-filter."""
    out = F.col(html)
    for pat, repl in HTML_STRIP_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    # literal entity replacement via nested replace() calls (exactly
    # mirrored in the DuckDB twin)
    for ent, ch in HTML_ENTITIES:
        out = F.call_function("replace", out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def fingerprint_md5() -> Column:
    """Normalized-content fingerprint: md5(lower(trim(text))).

    The exact-dedup key: identical modulo case/outer whitespace."""
    return F.md5(F.lower(F.trim(F.col("text"))))


def char_shingles(text: str = "text", n: int = 3, distinct: bool = True) -> Column:
    """Distinct character n-gram shingle set of a document.

    Basis for n-gram Jaccard similarity and MinHash signatures.
    Pure JVM expression: transform over a position sequence.
    """
    inner = (
        f"transform(sequence(1, greatest(length({text}) - {n - 1}, 1)), "
        f"i -> substring({text}, i, {n}))"
    )
    return F.expr(f"array_distinct({inner})" if distinct else inner)


def char_shingles_packed(text: str = "text", n: int = 3) -> Column:
    """Distinct character n-gram shingles packed into ONE long each:
    codepoint(c1)*2^(21(n-1)) + ... + codepoint(cn). Bijective for
    n <= 3 (21 bits per codepoint), so set operations over packed
    longs count exactly the same elements as over the string shingles
    — but array_intersect on fixed-width longs avoids per-element
    string hashing and shrinks the per-row array payload ~2x, which
    dominates pair-verification cost.

    Portability: Spark ``ascii`` == DuckDB ``ord``/``unicode`` (both
    return the full codepoint); the empty-substring edge differs
    (Spark 0, DuckDB -1) so both sides clamp with greatest(x, 0).
    """
    if n * 21 > 63:
        raise ValueError("packed shingles support n <= 3 only")
    terms = " + ".join(
        f"greatest(ascii(substring({text}, i + {j}, 1)), 0) * {2 ** (21 * (n - 1 - j))}"
        for j in range(n)
    )
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text}) - {n - 1}, 1)), "
        f"i -> {terms}))"
    )


def quality_score() -> Column:
    """Composite document quality in [0,1]:
    0.5 * min(n_tokens/100, 1)           (length credit)
    + 0.3 * (1 - stop_ratio)             (informativeness)
    + 0.2 * (1 - min(punct_ratio*5, 1))  (cleanliness)
    Deterministic and portable (least/greatest + double arithmetic).
    """
    ntok = token_count().cast("double")
    stop_en = stopword_count("en").cast("double")
    stop_ratio = stop_en / F.greatest(ntok, F.lit(1.0))
    punct_ratio = punct_count().cast("double") / F.greatest(
        F.length(F.col("text")).cast("double"), F.lit(1.0)
    )
    return round_half_up(
        F.least(ntok / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - stop_ratio) * 0.3
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.2,
        4,
    )


# The Gopher document-quality rule set (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", appendix A1.1) — the named heuristic
# filter real curation stacks run BEFORE model-based scoring. The
# required-stopword list is the paper's.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(text: str = "text") -> dict[str, Column]:
    """Ordered {rule_name: fail_condition} for the Gopher quality
    rules, each a pure JVM column expression (regex counts + length
    arithmetic — codegen'd, full scan speed, no Python):

    word_count        n_words outside [50, 100000]
    mean_word_length  mean chars/word outside [3, 10]
    symbol_ratio      ('#' + '...') occurrences / n_words > 0.1
    bullet_lines      > 90% of lines start with a bullet
    ellipsis_lines    > 30% of lines end with an ellipsis
    alpha_words       < 80% of words contain an alphabetic char
    stopwords         < 2 distinct required stopwords present

    Ratio thresholds compare exact IEEE double quotients of integer
    counts — deterministic and engine-portable (no summed floats).
    Iteration order IS the funnel order (dicts preserve insertion
    order); compose with a first-failing-rule CASE like
    ``curation_funnel``.
    """
    words = tokens(text)
    nw = F.size(words).cast("double")  # >= 1: split('') == ['']
    lines = F.split(F.col(text), r"\n")
    nl = F.size(lines).cast("double")
    mean_wl = (
        F.length(F.regexp_replace(F.col(text), r"\s+", "")).cast("double") / nw
    )
    nsym = (
        F.regexp_count(F.col(text), F.lit("#"))
        + F.regexp_count(F.col(text), F.lit(r"\.\.\."))
    ).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))).cast("double")
        / nl
    )
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
        ).cast("double")
        / nl
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / nw
    )
    n_req_stop = F.size(
        F.array_intersect(
            F.transform(words, lambda w: F.lower(w)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    return {
        "word_count": (nw < 50) | (nw > 100000),
        "mean_word_length": (mean_wl < 3.0) | (mean_wl > 10.0),
        "symbol_ratio": (nsym / nw) > 0.1,
        "bullet_lines": bullet_frac > 0.9,
        "ellipsis_lines": ellipsis_frac > 0.3,
        "alpha_words": alpha_frac < 0.8,
        "stopwords": n_req_stop < 2,
    }


def _url_scheme(u: Column) -> Column:
    return F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))


def _url_hostport(u: Column) -> Column:
    return F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )


def canonical_url(url: str = "url") -> Column:
    """Canonical form of an absolute http(s) URL — the key web-scale
    curation stacks dedup and mix on BEFORE doc-level dedup:

    * scheme and host:port lowercased,
    * default port stripped (:80 for http, :443 for https),
    * fragment stripped,
    * ``utm_*`` tracking params stripped (and the '?' dropped when
      the query empties),
    * path and the surviving query kept byte-for-byte.

    Pure regexp_extract/regexp_replace + substr chains — Java∩RE2
    portable (no group references in replacements: DuckDB spells them
    ``\\1`` where Java says ``$1``, so the twins avoid them entirely),
    codegen'd, full scan speed. A non-URL input degrades to itself
    minus fragment (extracts return '').
    """
    u = F.col(url)
    scheme = _url_scheme(u)
    hostport = _url_hostport(u)
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    # everything after scheme://hostport (1-based char arithmetic;
    # lower() preserves length)
    rest = u.substr(
        F.length(scheme) + F.lit(3) + F.length(hostport) + F.lit(1),
        F.length(u),
    )
    nofrag = F.regexp_replace(rest, "#.*$", "")
    path = F.regexp_extract(nofrag, r"^([^?]*)", 1)
    query = F.regexp_extract(nofrag, r"\?(.*)$", 1)
    # sentinel '&' prefix makes every param uniformly '&'-delimited,
    # so utm params strip without replacement group references
    q = F.regexp_replace(F.concat(F.lit("&"), query), "&utm_[^&]*", "")
    q = F.regexp_replace(q, "^&", "")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    # no scheme -> not an absolute URL; the substr arithmetic above
    # would eat leading chars, so degrade to input-minus-fragment
    return F.when(scheme == "", F.regexp_replace(u, "#.*$", "")).otherwise(
        canonical
    )


# PSL-lite: the ~50 highest-traffic multi-label public suffixes
# (country-code second-level domains) from the public-suffix list —
# the hosts where a 2-label rule returns the SUFFIX (co.uk) instead
# of the registration (example.co.uk), which are exactly the hot
# domains of web corpora. A static literal subset keeps the function
# dependency-free and oracle-twin-able; anything not listed falls
# back to the 2-label rule. The full PSL (~9k rules incl. wildcards
# and exceptions) would ship the same way at scale: a broadcast
# lookup, not a library.
PSL_LITE_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk",
    "plc.uk", "sch.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "gr.jp", "lg.jp",
    "co.nz", "org.nz", "net.nz", "govt.nz", "ac.nz",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "org.tw", "net.tw",
    "co.in", "net.in", "org.in", "ac.in", "gov.in",
    "co.kr", "or.kr", "ac.kr", "go.kr",
    "co.za", "org.za", "net.za", "gov.za",
    "com.mx", "org.mx",
    "com.ar", "com.sg", "com.hk", "com.my", "com.tr", "com.ua",
    "com.vn", "com.ph", "com.pk", "com.eg", "com.sa", "com.co",
    "com.pe", "co.il", "co.id", "co.th",
)


def registrable_domain(url: str = "url") -> Column:
    """Registrable domain of the URL's lowercased, port-stripped host
    under a PSL-lite rule: when the last TWO labels form a known
    multi-label public suffix (``PSL_LITE_SUFFIXES`` — co.uk,
    com.au, co.jp, ...), take the last THREE labels; otherwise the
    last two (the gTLD rule). Pure regexp + literal array membership
    — codegen'd, exactly twinned in DuckDB. A host that IS a bare
    listed suffix (no third label) degrades to the suffix itself,
    and a non-URL input yields ''."""
    host = F.regexp_replace(_url_hostport(F.col(url)), ":[0-9]+$", "")
    last2 = F.regexp_extract(host, r"([A-Za-z0-9\-]+\.[A-Za-z0-9\-]+)$", 1)
    last3 = F.regexp_extract(
        host, r"([A-Za-z0-9\-]+\.[A-Za-z0-9\-]+\.[A-Za-z0-9\-]+)$", 1
    )
    return F.when(
        last2.isin(*PSL_LITE_SUFFIXES) & (last3 != ""), last3
    ).otherwise(last2)
