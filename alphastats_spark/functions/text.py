"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs. Hashing uses md5 so every operator
has an exact DuckDB oracle (Spark ``xxhash64`` is engine-specific).

Operators: tokenization, token counting, document stats, quality scoring,
n-gram language ID, and content fingerprinting (full-document and shingle
minimum — the building block for MinHash in :mod:`.dedup`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic, cross-engine-expressible marker profiles for language ID.
# A real pipeline would ship trained character-n-gram profiles; the scoring
# machinery (per-language marker counts → argmax) is the same.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is ", " that "],
    "es": [" el ", " la ", " que ", " de ", " los "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "fr": [" le ", " la ", " les ", " et ", " est "],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "that"]

_WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty strings filtered (JVM-side)."""
    return F.filter(F.split(F.trim(text), _WS), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: maximal runs of word chars or of
    punctuation — the cheap regex approximation of a BPE tokenizer's count.
    (RE2-compatible pattern, no lookarounds, so the DuckDB oracle matches.)"""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]+"), F.lit(0)))


def md5_long(col: Column, salt: str | None = None, hex_digits: int = 8) -> Column:
    """THE canonical engine-portable hash key: first ``hex_digits`` hex
    digits of ``md5(salt ":" value)`` as a BIGINT. Every hash-keyed
    operator (bucketing, splits, shards, quotas, token hashing, feature
    hashing) derives from this ONE expression, and every DuckDB oracle
    mirrors it verbatim (``CAST(CONCAT('0x', substr(md5(...), 1, H)) AS
    BIGINT)``) — widen or re-salt here and in the oracles in lockstep or
    the engines silently diverge."""
    s = col.cast("string")
    if salt is not None:
        s = F.concat(F.lit(salt + ":"), s)
    return F.conv(F.substring(F.md5(s), 1, hex_digits), 16, 10).cast("bigint")


def hash_key60(col: Column) -> Column:
    """THE canonical 60-bit join-key hash: :func:`md5_long` at 15 hex
    digits. Used wherever a shingle/gram column becomes a shuffle or join
    key (the all-pairs dedup operators, the LSH verify joins, the
    cross-source overlap matrix) — 8-byte keys instead of raw gram
    strings, with the birthday bound at ~2^30 distinct values (the
    default 8-digit key collides from ~65k). Every DuckDB oracle mirrors
    it as ``CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS BIGINT)``
    (``registry.shared._SHINGLE_HASH_CTE``); widen here and in the oracles
    in lockstep or the engines silently diverge — which is why this is ONE
    helper and not a per-site ``hex_digits=15`` literal."""
    return md5_long(col, hex_digits=15)


def normalize(text: Column) -> Column:
    """Canonical form for dedup: lowercase, strip non-alphanumerics,
    collapse whitespace."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(stripped, _WS, " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the normalized text."""
    return F.md5(normalize(text))


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    digits = n - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return F.when(n > 0, digits / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return F.when(F.size(toks) > 0, stop / F.size(toks)).otherwise(F.lit(0.0))


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic heuristic quality score in [0, 1].

    Rewards mid-range document length, plausible mean token length and some
    stopword mass; penalizes punctuation/digit noise — the standard cheap
    pre-filter shape for pretraining corpora (C4/Gopher-style rules).
    """
    n_tok = token_count(text).cast("double")
    length_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    atl = avg_token_len(text)
    token_len_score = F.when((atl >= 3) & (atl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_score = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    noise = punct_ratio(text) + digit_ratio(text)
    noise_score = F.greatest(F.lit(1.0) - 2 * noise, F.lit(0.0))
    return (
        0.3 * length_score + 0.2 * token_len_score + 0.2 * stop_score + 0.3 * noise_score
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Occurrence count of each language's marker n-grams (padded text)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        score = F.lit(0).cast("long")
        for m in markers:
            occurrences = (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit("")))) / len(m)
            score = score + occurrences.cast("long")
        out[lang] = score
    return out


def lang_id(text: Column) -> Column:
    """Argmax language over marker scores; 'unknown' when all zero.

    Ties break by language-code order (deterministic, matches the SQL
    oracle's CASE chain).
    """
    scores = lang_scores(text)
    best_score = F.greatest(*scores.values())
    result = F.lit("unknown")
    for lang in sorted(LANG_MARKERS, reverse=True):
        result = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(result)
    return F.when(best_score > 0, result).otherwise(F.lit("unknown"))


# ---------------------------------------------------------------------------
# corpus-level statistics (TF-IDF, n-gram counts) and PII redaction

# RE2-compatible patterns (no lookarounds/backrefs) so Spark's Java regex
# and DuckDB produce identical replacements for the oracle.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails / URLs / phone-number-shaped spans with typed tokens —
    the standard pre-training scrub pass. Pure ``regexp_replace`` chain:
    JVM-side, codegen-friendly, trivially pushed into the scan projection."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


# Markup-stripping pipeline, applied in order. All patterns are
# RE2-compatible (no lookarounds, `(?s)` dotall only) so Spark's Java regex
# and DuckDB's RE2 produce identical results for the oracle. Entity
# unescapes run AFTER tag removal, with `&amp;` last so `&amp;lt;` decodes
# to the literal `&lt;` (single unescape, the lossless order).
MARKUP_BLOCK_PATTERNS: list[str] = [
    r"(?s)<script[^>]*>.*?</script>",
    r"(?s)<style[^>]*>.*?</style>",
    r"(?s)<!--.*?-->",
]
MARKUP_TAG_PATTERN = r"</?[A-Za-z][^>]*>"
MARKUP_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def strip_markup(text: Column) -> Column:
    """HTML/markup removal — the extraction step between a raw web crawl and
    every text operator in this module.

    script/style/comment blocks are deleted wholesale (their content is
    code, not prose), remaining tags become spaces (so ``a<br>b`` stays two
    tokens), the common entities are unescaped, and whitespace collapses.
    A pure ``regexp_replace``/``replace`` chain: JVM-side, codegen-friendly,
    no shuffle — the same per-row shape as :func:`redact_pii`.
    """
    out = text
    for pattern in MARKUP_BLOCK_PATTERNS:
        out = F.regexp_replace(out, pattern, " ")
    out = F.regexp_replace(out, MARKUP_TAG_PATTERN, " ")
    for entity, char in MARKUP_ENTITIES:
        out = F.replace(out, F.lit(entity), F.lit(char))
    return F.trim(F.regexp_replace(out, _WS, " "))


def term_frequencies(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Long (doc, term, tf) table over normalized whitespace tokens.

    One explode + one groupBy (map-side combinable) — the canonical corpus
    statistics shape; everything downstream (TF-IDF, doc frequency) hangs
    off this one shuffle keyed by (doc, term).
    """
    toks = F.explode(tokens(normalize(F.col(text_col)))).alias("term")
    return (
        df.select(F.col(id_col), toks)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tf_idf_topk(
    df: DataFrame, k: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF.

    idf = ln((1 + N) / (1 + df)) + 1 (sklearn's smooth_idf, never
    negative/zero); score = tf · idf. Plan shape: the (doc, term) tf table
    shuffles once; doc frequency is a second map-combinable groupBy over it;
    N is a one-scalar metadata job re-injected as a literal (constant-folds,
    like the trailing-window max-date); ranking is a window partitioned BY
    DOCUMENT — parallel across docs, no global sort. Ties break by term for
    determinism.
    """
    from alphastats_spark.operators import ordered as _ordered

    # the tf table feeds doc_freq AND the scored join: persist the reduced
    # (doc, term) table so the tokenize+explode+groupBy runs once (the
    # same shared-branch pattern as lsh_verified_pairs' shingle table)
    tf = _ordered.persist_tracked(term_frequencies(df, id_col, text_col))
    n_docs = df.select(F.countDistinct(F.col(id_col))).first()[0]
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # No broadcast hint: doc_freq is vocabulary-sized, which grows with the
    # corpus (web-scale text has 1e8-1e9 distinct tokens — past the 8 GB
    # broadcast cap). AQE broadcasts from the measured runtime size when it
    # actually fits; past that the join falls back to a shuffle on term.
    scored = tf.join(doc_freq, "term").withColumn(
        "tf_idf",
        F.col("tf")
        * (F.log((F.lit(1.0 + n_docs)) / (F.lit(1.0) + F.col("df"))) + 1.0),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tf_idf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", F.col("tf_idf"), "rank")
    )


#: Document-frequency cap for the TF-IDF similarity self-join: a term in
#: D documents contributes D² join rows, and at corpus scale one
#: boilerplate token makes D ~ |corpus|. High-df terms are also exactly
#: the ones IDF down-weights toward zero, so dropping them from the JOIN
#: (never from the norms) loses almost no cosine mass while bounding the
#: hot-posting cost at ANY corpus size — the same safe-by-default posture
#: as dedup.CONTAINMENT_MAX_SHINGLE_DF. ``None`` = the exact join.
TFIDF_PAIRS_MAX_TERM_DF = 1000


def tfidf_similarity_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_term_df: int | None = TFIDF_PAIRS_MAX_TERM_DF,
) -> DataFrame:
    """All-pairs TF-IDF cosine similarity over the corpus — the weighted
    text-similarity join (template/near-topic detection, soft clustering)
    that n-gram Jaccard misses when overlap is concentrated in RARE terms:
    cosine weights every co-occurring term by tf·idf, so two documents
    sharing distinctive vocabulary score high even at low set overlap.

    Sparse inverted-index formulation (the Bayardo et al. 2007 WWW
    "all-pairs" shape, re-expressed relationally): each document is the
    implicit sparse vector of its ``tf · idf`` weights (idf =
    ``ln((1+N)/(1+df)) + 1``, the same smoothed form as
    :func:`tf_idf_topk`), L2-normalized; the dot product of every
    co-occurring pair is ONE equi-join of the posting table with itself
    on term + a sum — never a doc×doc cross join. Output:
    ``(id_a, id_b, cosine)`` with ``id_a < id_b`` and rounded cosine ≥
    ``threshold``.

    Plan shape at 100 TB: one (doc, term) tf shuffle; doc frequency is a
    second map-combinable groupBy over it, joined back WITHOUT a broadcast
    hint — the table is vocabulary-sized (unbounded in the corpus), so AQE
    decides broadcast-vs-shuffle from its measured runtime size instead of
    a forced hint that would hard-fail past the 8 GB broadcast cap;
    N is a one-scalar metadata job injected as a literal; norms
    ride a doc-keyed groupBy of the SAME weight table. The self-join
    carries terms as 60-bit hashed keys (8-byte shuffle keys, mirrored
    bit-exactly by the DuckDB oracle — see
    :func:`~alphastats_spark.functions.text.hash_key60`), drops df = 1
    postings (a term in one document can never pair), and caps term df
    at ``max_term_df`` (see :data:`TFIDF_PAIRS_MAX_TERM_DF`); norms stay
    UNCAPPED on both sides, exactly like the containment join's sizes,
    so the cosine denominator is exact and the cap only thins the
    numerator's cheapest mass. Prefix filtering (the classic all-pairs
    candidate bound) would thin it further at equal output — noted as
    the next lever if the posting join ever dominates a profile.
    """
    from alphastats_spark.operators import ordered as _ordered

    # tf feeds doc_freq and the weight projection; w feeds the norms and
    # BOTH posting join sides. Un-persisted, the corpus was re-tokenized
    # for every consumer (~6 scans per call); the two persisted reduced
    # tables make it exactly one (the lsh shingle-table pattern).
    tf = _ordered.persist_tracked(term_frequencies(df, id_col, text_col))
    n_docs = df.select(F.countDistinct(F.col(id_col))).first()[0]
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Hint-free for the same reason as tf_idf_topk: doc_freq is
    # vocabulary-sized (unbounded in the corpus), so a forced broadcast is
    # a hard failure at scale; AQE upgrades to broadcast when it fits.
    w = _ordered.persist_tracked(
        tf.join(doc_freq, "term").select(
            F.col(id_col),
            "term",
            "df",
            (
                F.col("tf")
                * (F.log(F.lit(1.0 + n_docs) / (F.lit(1.0) + F.col("df"))) + 1.0)
            ).alias("w"),
        )
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    join_side = w.where(F.col("df") >= 2)
    if max_term_df is not None:
        join_side = join_side.where(F.col("df") <= int(max_term_df))
    posting = join_side.select(
        F.col(id_col), hash_key60(F.col("term")).alias("__t"), "w"
    )
    a = posting.select(
        F.col(id_col).alias("id_a"), "__t", F.col("w").alias("wa")
    )
    b = posting.select(
        F.col(id_col).alias("id_b"), "__t", F.col("w").alias("wb")
    )
    dot = (
        a.join(b, "__t")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dot.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cosine", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 7))
        .where(F.col("cosine") >= float(threshold))
        .select("id_a", "id_b", "cosine")
    )


#: Okapi BM25 defaults (Robertson & Zaragoza 2009, "The Probabilistic
#: Relevance Framework: BM25 and Beyond" — the standard Lucene/Elastic
#: values): ``k1`` bounds term-frequency saturation, ``b`` the
#: document-length normalization strength.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k lexical retrieval over the corpus — the
    sparse-retrieval complement of the ANN stack (RAG pipelines run BM25
    and dense retrieval side by side). Score per document:

    ``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` over the
    DISTINCT query terms, with the positive (Lucene-style) idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))``. Output ``(id_col, bm25,
    rank)``, score rounded to 7 decimals, ties broken by id ascending.

    Plan shape at 100 TB — the :func:`~alphastats_spark.functions.
    pipeline.classifier_score` zero-shuffle map shape, NOT a posting
    join: the query's terms are a handful of literals, so per-document
    (dl, per-term tf) is a pure array-expression projection over the
    scan (``size``/``filter`` on the token array — no explode, no
    (doc, term) shuffle); one tiny global aggregate over that projection
    yields N, avgdl and each term's document frequency, re-injected as
    literals (the same metadata-job-to-literal move as
    :func:`tf_idf_topk`'s N); scoring is then a second pure map whose
    per-term idf coefficients are plan literals, and the top-k cut is a
    ``TakeOrderedAndProject`` — no global sort, nothing corpus-sized
    ever shuffles. The query itself is tokenized through the SAME
    normalize/tokens pipeline as the corpus via a one-row Spark job, so
    query and corpus can never disagree on tokenization.
    """
    import math
    from functools import reduce

    spark = df.sparkSession
    qtoks = spark.range(1).select(
        tokens(normalize(F.lit(query))).alias("t")
    ).first()["t"]
    qterms = sorted(set(qtoks))
    if not qterms:
        raise ValueError(
            f"BM25 query {query!r} normalizes to zero terms — nothing to "
            "retrieve on"
        )

    # NOT `lambda t, q=q: ...`: PySpark dispatches higher-order-function
    # lambdas on ARITY, so a 2-parameter lambda receives (element, index)
    # and the default-arg capture would silently compare tokens against
    # the array index — a proper closure keeps the lambda unary
    def _is_term(q: str):
        return lambda t: t == F.lit(q)

    per_doc = df.select(
        F.col(id_col),
        tokens(normalize(F.col(text_col))).alias("__toks"),
    ).select(
        F.col(id_col),
        F.size("__toks").alias("__dl"),
        *[
            F.size(F.filter(F.col("__toks"), _is_term(q))).alias(f"__tf{i}")
            for i, q in enumerate(qterms)
        ],
    )

    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__dl").alias("total"),
        *[
            F.count(F.when(F.col(f"__tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(qterms))
        ],
    ).first()
    n_docs = int(stats["n"])
    if n_docs == 0:
        raise ValueError("BM25 over an empty corpus")
    avgdl = float(stats["total"] or 0) / n_docs
    idfs = [
        math.log(
            1.0
            + (n_docs - int(stats[f"df{i}"]) + 0.5)
            / (int(stats[f"df{i}"]) + 0.5)
        )
        for i in range(len(qterms))
    ]

    # left-associated sum in sorted-term order — the DuckDB oracle writes
    # the same explicit chain, so the float summation order is identical
    norm_len = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.lit(avgdl)
    )
    contribs = [
        F.lit(idfs[i])
        * (F.col(f"__tf{i}") * F.lit(k1 + 1.0))
        / (F.col(f"__tf{i}") + norm_len)
        for i in range(len(qterms))
    ]
    score = reduce(lambda a_, b_: a_ + b_, contribs)
    matched = reduce(
        lambda a_, b_: a_ | b_,
        [F.col(f"__tf{i}") > 0 for i in range(len(qterms))],
    )
    top = (
        per_doc.where(matched)
        .select(F.col(id_col), F.round(score, 7).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    # the rank window runs over the ALREADY-CUT ≤k rows, never the corpus
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select(id_col, "bm25", "rank")


def top_terms_per_source(
    df: DataFrame,
    k: int = 10,
    source_col: str = "source",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Per-source vocabulary heavy hitters: the ``k`` most frequent
    normalized tokens in each source, ``(source, term, n_occurrences,
    rank)`` — the corpus-profiling pass that surfaces boilerplate and
    template contamination per provenance slice before dedup parameters
    are tuned.

    Plan shape: one projected explode (only ``source`` and the token
    array survive the scan — column pruning reaches the parquet reader),
    one map-side-combined groupBy on (source, term), then a row_number
    window partitioned BY SOURCE over the already-aggregated
    |sources| × |vocab| table — parallel across sources, no global sort,
    and nothing larger than the term-count table ever shuffles. Ties
    break by term ascending so the cut is deterministic across engines.
    """
    from pyspark.sql import Window

    toks = F.explode(tokens(normalize(F.col(text_col)))).alias("term")
    counts = (
        df.select(F.col(source_col), toks)
        .groupBy(source_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )
    w = Window.partitionBy(source_col).orderBy(
        F.desc("n_occurrences"), F.asc("term")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide word n-gram counts (contamination / memorization scans).

    explode(n-grams) → groupBy(ngram) — one shuffle with map-side partial
    counts; ``min_count`` prunes the heavy tail before it leaves the
    aggregation.

    The token array is projected into its OWN select before the gram
    transform: the transform lambda closes over the token expression, and
    interpreted higher-order functions re-evaluate a non-trivial
    closed-over subexpression once PER ELEMENT — inlining
    ``tokens(normalize(text))`` here re-ran the whole
    normalize+tokenize chain per gram, O(len²) per document (the 25×
    trap documented at ``dedup._grams_over``; this site measured 16.6 s
    → ~1 s at the sf0.1 profile).
    """
    toks = F.col("__toks")
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] in Spark
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(tokens(normalize(F.col(text_col))).alias("__toks"))
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stats bundle in one projection (single codegen stage)."""
    t = F.col(text_col)
    return df.select(
        "*",
        char_count(t).alias("n_chars_computed"),
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_subword_tokens"),
        F.round(avg_token_len(t), 7).alias("avg_token_len"),
        F.round(punct_ratio(t), 7).alias("punct_ratio"),
        F.round(digit_ratio(t), 7).alias("digit_ratio"),
        F.round(stopword_ratio(t), 7).alias("stopword_ratio"),
        F.round(quality_score(t), 7).alias("quality_score"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def hash_embed(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize_l2: bool = True,
) -> DataFrame:
    """Feature-hashing text embedder: token counts folded into a dense
    ``dim``-bucket vector (the hashing trick) — the in-engine bridge from a
    text corpus to every embedding operator (ANN, SemDedup, near-dup).

    Buckets are md5-derived (engine-portable, like
    :func:`alphastats_spark.functions.pipeline.hash_bucket`), so a DuckDB
    oracle reproduces the vector exactly. Plan: one explode + one
    map-side-combinable groupBy(doc, bucket) + one groupBy(doc) that
    assembles the dense array from a map — two shuffles total, both keyed
    by doc id, and the second reuses the first's partitioning. Output:
    ``(id_col, embedding array<double>)``, L2-normalized by default
    (all-empty docs get the zero vector).

    The bucket→count MAP and the dense array are each materialized in
    their own projection before anything references them: interpreted HOF
    lambdas re-evaluate captured subexpressions per reference, so building
    ``map_from_entries`` inside the per-element ``transform`` lambda (and
    deriving the L2 norm from the un-materialized dense expression) paid
    the map/array construction O(dim) times per row. Projection
    boundaries make each capture a bound column instead (measured at
    sf0.1/dim=64: 2.1 s → 1.3 s, identical vectors).
    """
    toks = tokens(normalize(F.col(text_col)))
    bucket = (md5_long(F.col("__tok")) % dim).cast("int")
    counts = (
        df.select(F.col(id_col), F.explode_outer(toks).alias("__tok"))
        .select(id_col, F.when(F.col("__tok").isNotNull(), bucket).alias("__b"))
        .groupBy(id_col, "__b")
        .agg(F.count("__b").alias("__c"))
    )
    # empty docs survive as a single null-bucket row (explode_outer); the
    # conditional struct turns it into a null element that collect_list
    # skips, leaving an empty map -> the zero vector
    entries = F.collect_list(
        F.when(F.col("__b").isNotNull(), F.struct("__b", "__c"))
    )
    mapped = counts.groupBy(id_col).agg(F.map_from_entries(entries).alias("__m"))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i),
            F.lit(0).cast("long"),
        ).cast("double"),
    )
    out = mapped.select(id_col, dense.alias("embedding"))
    if not normalize_l2:
        return out
    base = out.select(
        id_col,
        "embedding",
        F.sqrt(
            F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x)
        ).alias("__n"),
    )
    unit = F.when(
        F.col("__n") > 0,
        F.transform(F.col("embedding"), lambda x: x / F.col("__n")),
    ).otherwise(F.col("embedding"))
    return base.select(id_col, unit.alias("embedding"))


URL_PATTERN = r"https?://[^\s]+"
DOMAIN_PATTERN = r"https?://([^/\s]+)"


def extract_urls(text: Column) -> Column:
    """All http(s) URLs in a text column (``array<string>``, RE2-compatible
    pattern shared with the DuckDB oracle)."""
    return F.regexp_extract_all(text, F.lit(URL_PATTERN), 0)


def url_domain(url: Column) -> Column:
    """The host part of a URL (empty string when the pattern misses)."""
    return F.regexp_extract(url, DOMAIN_PATTERN, 1)


#: Tracking query parameters stripped by :func:`canonical_url` — the
#: standard CommonCrawl/RefinedWeb hygiene set: UTM campaign tags plus
#: the big ad-network click ids. Anchored ``name=`` (or bare ``name``)
#: matches only, so e.g. ``id=utm`` survives.
TRACKING_PARAM_PATTERN = r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid)(=.*)?$"

#: A whole URL (post fragment-strip) must match this for
#: :func:`canonical_url` to emit anything: scheme://host, then an
#: optional /path-or-?query with no whitespace, to END of string. The
#: anchored ``rest`` extractor below returns '' BOTH for a bare host
#: (valid) and when its tail can't match (e.g. whitespace inside the
#: path) — without this guard the latter silently truncates to
#: scheme://host and distinct malformed URLs collide as "duplicates".
URL_CANONICAL_FULL_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?\s]+([/?][^\s]*)?$"


def canonical_url(url: Column) -> Column:
    """RFC-3986-flavored URL canonicalization for URL-level dedup (the
    RefinedWeb/CCNet first dedup stage: two crawls of the same page
    usually differ only in case, tracking junk, or a fragment).

    Deterministic rewrite chain, each step a JVM regexp/HOF expression
    (no UDF) with an exact DuckDB mirror:

    1. strip the ``#fragment``;
    2. lowercase the scheme and host (the path/query keep their case —
       paths are case-sensitive per the RFC);
    3. drop a default port (``:80`` for http, ``:443`` for https) and a
       leading ``www.``;
    4. drop tracking query params (:data:`TRACKING_PARAM_PATTERN`),
       keeping the survivors' relative order (no re-sorting — param
       order is not ours to change); a query emptied by the strip loses
       its ``?``;
    5. strip ONE trailing slash from a non-root path (``/a/b/`` ≡
       ``/a/b``; a bare host keeps no slash, host + ``/`` collapses to
       the bare host).

    Returns NULL for NULL input and for strings that don't parse as
    ``scheme://host[/?]rest`` IN FULL (:data:`URL_CANONICAL_FULL_PATTERN`
    — scheme/host alone parsing is not enough: a URL with whitespace in
    its path would otherwise truncate to the bare host and collide with
    every other malformed URL on that host) — a row without a
    canonicalizable URL can't collide with anything (callers treat null
    as unique).
    """
    u = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?\s]+)", 1))
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?\s]+([/?][^\s]*)?$", 1)
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, ":443$", "")).otherwise(host)
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~p.rlike(TRACKING_PARAM_PATTERN),
    )
    query = F.array_join(kept, "&")
    path = F.regexp_replace(path, r"(.)/$", "$1")  # /a/b/ -> /a/b, "/" -> ""
    path = F.when(path == "/", F.lit("")).otherwise(path)
    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    return F.when(
        url.isNull()
        | (scheme == "")
        | (host == "")
        | ~u.rlike(URL_CANONICAL_FULL_PATTERN),
        F.lit(None).cast("string"),
    ).otherwise(out)


def domain_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-domain link profile of a corpus: ``(domain, n_urls, n_docs)`` —
    the first pass of URL-based curation (domain allow/deny lists, spam-run
    detection, per-site dedup budgets all start from this table).

    Plan: regexp extraction inside the scan projection, one explode, one
    map-side-combinable groupBy with a two-level distinct for ``n_docs``.
    """
    urls = df.select(
        F.col(id_col), F.explode(extract_urls(F.col(text_col))).alias("__url")
    )
    return (
        urls.select(F.col(id_col), url_domain(F.col("__url")).alias("domain"))
        .where(F.col("domain") != "")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
        )
    )


def corpus_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Unigram distribution divergence between two corpus slices —
    the drift / mixture diagnostic a training-data pipeline runs before
    blending sources or after a scrape refresh (did the new crawl's
    token distribution move?). Returns ONE row:

    ``(kl_ab, kl_ba, js_divergence, vocab_union, tokens_a, tokens_b)``

    with add-``alpha`` (Jelinek-style Laplace) smoothing over the UNION
    vocabulary: ``p(t) = (c_a(t) + α) / (T_a + α·V)`` and symmetrically
    for q, so every union term has positive mass on both sides and the
    KLs are finite. ``js = ½·KL(P‖M) + ½·KL(Q‖M)`` with ``M = (P+Q)/2``
    — symmetric and bounded by ln 2. Values rounded to 7 decimals; the
    count columns are exact bigints.

    Plan shape at 100 TB: two map-side-combinable token-count
    aggregations (one per slice), one vocabulary-sized full-outer join
    on term, the (T_a, T_b, V) totals crossed in as a one-row aggregate
    (never a vocabulary broadcast, which TF-IDF once forced), and a
    single global aggregate. Nothing corpus-sized shuffles twice, no
    collect, no driver-side vocabulary. Cross-engine float determinism:
    each term's contribution is an exact-int-derived double and the
    final sums tolerate any accumulation order at 7dp (per-term terms
    are ~1/V, double round-off accumulates ~V·2⁻⁵³ ≪ 1e-7).
    """

    def _counts(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                F.explode(tokens(normalize(F.col(text_col)))).alias("term")
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(f"c_{side}"))
        )

    j = (
        _counts(df_a, "a")
        .join(_counts(df_b, "b"), on="term", how="full_outer")
        .select(
            F.coalesce(F.col("c_a"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("c_b"), F.lit(0)).alias("cb"),
        )
    )
    tot = j.agg(
        F.sum("ca").alias("ta"),
        F.sum("cb").alias("tb"),
        F.count(F.lit(1)).alias("v"),
    )
    a = F.lit(float(alpha))
    p = (F.col("ca") + a) / (F.col("ta") + a * F.col("v"))
    q = (F.col("cb") + a) / (F.col("tb") + a * F.col("v"))
    m = (p + q) / F.lit(2.0)
    return (
        j.crossJoin(tot)  # 1-row totals frame — not a data cross join
        .agg(
            F.round(F.sum(p * F.log(p / q)), 7).alias("kl_ab"),
            F.round(F.sum(q * F.log(q / p)), 7).alias("kl_ba"),
            F.round(
                F.lit(0.5) * F.sum(p * F.log(p / m))
                + F.lit(0.5) * F.sum(q * F.log(q / m)),
                7,
            ).alias("js_divergence"),
            F.max("v").alias("vocab_union"),
            F.max("ta").alias("tokens_a"),
            F.max("tb").alias("tokens_b"),
        )
    )
