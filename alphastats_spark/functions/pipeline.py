"""Training-data pipeline operators: sampling, chunking, packing, repetition.

These are the corpus-preparation steps an LLM data pipeline runs between raw
ingestion and tokenized shards — domain mixing (stratified sampling),
context-window chunking, greedy sequence packing, and Gopher-style
repetition quality signals (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", §A1.1 repetition
filters).

Every operator is pure DataFrame algebra (JVM-side, codegen-friendly):

* sampling is a deterministic md5 hash-bucket filter — reproducible across
  runs/engines and embarrassingly parallel (no shuffle at all; the filter
  pushes to the scan);
* chunking is an ``explode`` over per-row chunk indices — no shuffle;
* packing is the two-phase distributed prefix sum from
  ``operators/ordered.py`` keyed by document id — one bucket shuffle;
* repetition signals are explode + two map-side-combinable groupBys on
  (doc, gram).

None of this exists in the reference (a single-frame stats library); the
operators target the ``documents`` table of the synthetic corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alphastats_spark.functions import text
from alphastats_spark.operators import ordered


# ---------------------------------------------------------------------------
# deterministic hash sampling (domain mixing)


def _md5_key(col: Column, salt: str | None = None, hex_digits: int = 8) -> Column:
    """Alias of the canonical
    :func:`alphastats_spark.functions.text.md5_long` hash key (see there
    for the oracle-lockstep contract)."""
    return text.md5_long(col, salt, hex_digits)


def hash_bucket(col: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from the md5 of a value.

    md5 → first 8 hex digits → integer → mod. Chosen over xxhash64/crc32
    because md5 of a UTF-8 string is engine-portable bit-for-bit (the DuckDB
    oracle computes the identical bucket), and over ``rand(seed)`` because a
    content-keyed bucket is reproducible under repartitioning, retries and
    incremental reruns — the property a production sampling step actually
    needs. The filter is a scan-level predicate: no shuffle, no state.
    """
    return _md5_key(col) % n_buckets


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: int = 0,
    n_buckets: int = 100,
) -> DataFrame:
    """Per-stratum deterministic sampling — the domain-mixing primitive.

    ``rates`` maps stratum value → keep-rate in buckets-of-``n_buckets``
    (e.g. ``{"web": 30, "books": 100}`` keeps ~30% of web and all books).
    A row is kept iff ``hash_bucket(id) < rate[stratum]``; unlisted strata
    fall back to ``default_rate``. Exact, reproducible sample membership —
    re-running over a grown corpus keeps every previously-kept row.
    """
    mapping = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    rate = F.coalesce(mapping[F.col(strata_col)], F.lit(default_rate))
    return df.where(hash_bucket(F.col(id_col), n_buckets) < rate)


# ---------------------------------------------------------------------------
# context-window chunking


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-token-budget chunks.

    Output: one row per (doc, chunk) with ``chunk_id`` (0-based),
    ``n_chunk_tokens`` and the whitespace-rejoined ``chunk_text``. Documents
    with zero tokens produce zero chunks. The plan is a single projection +
    ``explode`` — per-row work only, no shuffle, so it scales linearly and
    pipelines into the parquet scan.
    """
    toks = text.tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(float(chunk_tokens))).cast("int")
    # F.sequence(1, 0) yields a DESCENDING [1, 0] rather than an empty
    # array, so empty docs must be filtered before the sequence is built.
    out = (
        df.select(F.col(id_col), toks.alias("__toks"), n.alias("__n"), n_chunks.alias("__nc"))
        .where(F.col("__n") > 0)
        .select(
            id_col,
            "__toks",
            "__n",
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_id"),
        )
    )
    start = F.col("chunk_id") * chunk_tokens
    return out.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.least(F.lit(chunk_tokens).cast("bigint"), (F.col("__n") - start).cast("bigint")).alias(
            "n_chunk_tokens"
        ),
        F.array_join(F.slice(F.col("__toks"), start + 1, chunk_tokens), " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# greedy sequence packing


def pack_documents(
    df: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 4096,
) -> DataFrame:
    """Assign each document to a training pack (concat-then-split packing).

    Documents are laid end-to-end in ``id_col`` order and split every
    ``budget`` tokens: ``pack_id = floor(exclusive_prefix_tokens / budget)``
    and ``pack_offset`` is the document's start position within its pack.
    This is the zero-padding-waste packing used for pretraining shards
    (documents may straddle a boundary; the tokenizer's EOD separates them).

    The prefix sum is the two-phase decomposition from
    ``operators/ordered.py`` — ids bucketed ``bucket_width`` apart, within-
    bucket window + tiny offset broadcast — NOT a global ``Window.orderBy``
    (which would funnel 100 TB through one task).
    """
    # token_count(NULL text) is NULL under Spark 4 — coalesce to 0 so a null
    # document contributes nothing to the prefix sum instead of nulling out
    # every downstream pack assignment (and so the SQL oracle, which
    # COALESCEs its window sum, agrees row-for-row).
    base = df.select(
        F.col(id_col),
        F.coalesce(text.token_count(F.col(text_col)), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    base = base.withColumn(ordered.ORDER_COL, F.col(id_col)).withColumn(
        ordered.BUCKET_COL, F.floor(F.col(id_col) / F.lit(bucket_width)).cast("long")
    )
    base = ordered.add_prefix_columns(base, sums={"__cum": F.col("n_tokens")})
    base = base.withColumn("__excl", (F.col("__cum") - F.col("n_tokens")).cast("bigint"))
    # integer `div`, not floor(double /): a float64 quotient of a bigint
    # prefix sum can misassign a boundary document once cumulative tokens
    # pass 2^53 (real at 100 TB corpus scale) for non-power-of-two budgets.
    budget = int(budget)
    return ordered.drop_order(
        base.select(
            ordered.ORDER_COL,
            ordered.BUCKET_COL,
            id_col,
            "n_tokens",
            F.expr(f"__excl div {budget}").cast("bigint").alias("pack_id"),
            (F.col("__excl") % F.lit(budget)).cast("bigint").alias("pack_offset"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs an eval set)


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams from a token array; empty when fewer than ``n`` tokens
    (guarding F.sequence's descending [1, 0] behaviour).

    ``toks`` MUST be an already-projected column, never the inline
    ``tokens(normalize(text))`` tree: the transform lambda closes over
    ``toks`` and interpreted higher-order functions re-evaluate a
    non-trivial closed-over subexpression once PER ELEMENT — the 25× trap
    documented at ``dedup._grams_over`` (re-measured here in round 8:
    projecting the token array first took source_overlap_matrix's gram
    explode from ~60 s to ~8 s at the 50k-doc probe scale). Use
    :func:`_exploded_grams` instead of calling this directly."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def _exploded_grams(
    df: DataFrame, keys: dict[str, Column], n: int, text_col: str
) -> DataFrame:
    """One row per (keys..., gram): tokenize in its OWN projection, then
    explode — the only safe way to drive :func:`_word_ngrams` (see its
    docstring for the per-element re-evaluation trap). ``keys`` maps
    output column name → source expression."""
    toks = text.tokens(text.normalize(F.col(text_col)))
    projected = df.select(
        *[c.alias(name) for name, c in keys.items()], toks.alias("__toks")
    )
    return projected.select(
        *[F.col(name) for name in keys],
        F.explode(_word_ngrams(F.col("__toks"), n)).alias("gram"),
    )


def eval_ngrams(
    eval_df: DataFrame, n: int = 5, text_col: str = "text"
) -> DataFrame:
    """The distinct normalized word n-grams of a benchmark/eval corpus —
    the blocklist side of decontamination. Eval sets are tiny relative to
    the training corpus, so downstream joins broadcast this frame."""
    return _exploded_grams(eval_df, {}, n, text_col).distinct()


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    threshold: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = False,
) -> DataFrame:
    """Per-document benchmark-contamination signals (GPT-3/PaLM-style
    n-gram decontamination: a training document that shares long word
    n-grams with an eval set leaks the benchmark into pretraining).

    Output per document: ``n_ngrams`` (distinct n-grams), ``n_contaminated``
    (of those, how many appear in the eval set), ``contamination_frac``, and
    ``flagged`` (frac > ``threshold``, 0-gram docs never flagged).

    Plan shape: docs explode to distinct (doc, gram) once; the eval-set gram
    list is DISTINCT'd and **broadcast** (eval sets are KBs–MBs against a
    100 TB corpus), so contamination is a map-side hash probe — no shuffle
    of the corpus beyond the per-doc distinct; both groupBys are map-side
    combinable and keyed by the same ``id_col``.

    ``hashed=True`` is the LARGE-eval-set configuration: the broadcast
    carries 8-byte ``xxhash64`` digests instead of raw gram strings (a
    4–10x smaller table — the difference between an eval suite that fits
    in executor memory and one that doesn't), and the hash-prefiltered
    candidates — a sliver of the corpus — are then verified against the
    raw eval grams with an ordinary shuffle semi-join, so 64-bit
    collisions cannot flag a clean document and the output is bit-equal
    to the exact path.
    """
    doc_grams = _exploded_grams(df, {id_col: F.col(id_col)}, n, text_col).distinct()
    totals = doc_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ngrams"))
    ev = eval_ngrams(eval_df, n, text_col)
    if hashed:
        ev_h = ev.select(F.xxhash64("gram").alias("__gh")).distinct()
        cand = doc_grams.withColumn("__gh", F.xxhash64("gram")).join(
            F.broadcast(ev_h), "__gh", "semi"
        )
        hit_grams = cand.join(ev, "gram", "semi").drop("__gh")
    else:
        hit_grams = doc_grams.join(F.broadcast(ev), "gram", "semi")
    hits = (
        hit_grams.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    frac = F.col("n_contaminated") / F.col("n_ngrams")
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).cast("bigint").alias("n_ngrams"),
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias("n_contaminated"),
            F.round(F.coalesce(frac, F.lit(0.0)), 7).alias("contamination_frac"),
            (F.coalesce(frac, F.lit(0.0)) > F.lit(float(threshold))).alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style rule filter (keep/drop with reason codes)


def quality_filter(
    df: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rule-based document filter (Gopher §A1.1 / C4-style hard rules).

    Unlike :func:`alphastats_spark.functions.text.quality_score` (a soft
    score for ranking), this is the hard keep/drop gate a pipeline applies
    first, with machine-readable reason codes: ``failed_rules`` is a
    comma-joined, fixed-order list from {min_tokens, max_tokens, word_len,
    alpha_frac, stopwords}; ``keep`` is true iff it is empty.

    Single projection over the scan — per-row expressions only, no shuffle,
    no UDFs; at 100 TB this pipelines into the parquet scan and the
    ``keep`` predicate pushes into downstream reads of the output.
    """
    t = F.col(text_col)
    toks = text.tokens(t)
    n = F.coalesce(F.size(toks), F.lit(0))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    mean_len = F.when(n > 0, total_len / n).otherwise(F.lit(0.0))
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    stop = F.coalesce(
        F.size(F.filter(text.tokens(F.lower(t)), lambda x: x.isin(text.STOPWORDS))),
        F.lit(0),
    )

    rules = [
        ("min_tokens", n < min_tokens),
        ("max_tokens", n > max_tokens),
        ("word_len", (mean_len < min_mean_word_len) | (mean_len > max_mean_word_len)),
        ("alpha_frac", alpha_frac < min_alpha_word_frac),
        ("stopwords", stop < min_stopwords),
    ]
    failed = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        F.round(mean_len, 7).alias("mean_word_len"),
        F.round(alpha_frac, 7).alias("alpha_word_frac"),
        stop.cast("bigint").alias("n_stopwords"),
        failed.alias("failed_rules"),
        (failed == "").alias("keep"),
    )


# ---------------------------------------------------------------------------
# per-source corpus rollup (domain-mix accounting)


def source_stats(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus accounting: document count, token mass, token
    distribution (mean + exact interpolated median), and language breadth.

    This is the table a domain-mixing run reads before choosing
    :func:`stratified_sample` rates. One groupBy over ~10²–10⁴ sources —
    partial aggregation makes the shuffle carry one row per (partition,
    source); the exact median is per-group (tiny groups of scalars, never a
    global sort).
    """
    n_tok = F.coalesce(text.token_count(F.col(text_col)), F.lit(0)).cast("bigint")
    return (
        df.select(F.col(strata_col), F.col(lang_col), n_tok.alias("__n"))
        .groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("total_tokens"),
            F.round(F.avg("__n"), 7).alias("avg_tokens"),
            F.round(F.median("__n"), 7).alias("median_tokens"),
            F.countDistinct(lang_col).alias("n_langs"),
        )
    )


# ---------------------------------------------------------------------------
# repetition quality signals (Gopher §A1.1)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition signals for quality filtering.

    * ``top_token_frac`` — occurrences of the most frequent token / total
      tokens (Gopher's "fraction of characters in the most common word",
      token-count flavoured);
    * ``dup_bigram_frac`` — fraction of bigram occurrences whose bigram
      appears more than once (duplicate n-gram fraction, n=2);
    * ``top_bigram_frac`` — occurrences of the most frequent bigram / total
      bigrams.

    High values mean degenerate, repetitive text (boilerplate, keyword
    stuffing, decoding loops). Shape: explode → groupBy(doc, gram) →
    groupBy(doc), both aggregates map-side combinable; grams never leave
    their doc's partition group, so skew is bounded by document length.
    """
    toks = text.tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__n"))

    # explode_outer + null-filter on the GENERATED column: a plain explode
    # of a bare projected array triggers InferFiltersFromGenerate, whose
    # pushed-down size() filter re-inlines the whole tokenize chain and
    # evaluates it a second time per row (see winnow_fingerprints for the
    # pathological form of the same trap). Tokens are never null, so the
    # result set is unchanged.
    uni = (
        base.select(id_col, F.explode_outer("__toks").alias("__g"))
        .where(F.col("__g").isNotNull())
        .groupBy(id_col, "__g")
        .count()
        .groupBy(id_col)
        .agg(
            F.sum("count").alias("__tot"),
            F.max("count").alias("__top"),
        )
        .select(
            id_col,
            F.round(F.col("__top") / F.col("__tot"), 7).alias("top_token_frac"),
        )
    )

    # As with chunking, F.sequence(1, 0) descends instead of emitting an
    # empty array — docs with < 2 tokens are handled by the left join below.
    bigrams = F.transform(
        F.sequence(F.lit(1), F.col("__n") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("__toks"), i), F.element_at(F.col("__toks"), i + 1)
        ),
    )
    bi = (
        base.where(F.col("__n") >= 2)
        .select(id_col, F.explode(bigrams).alias("__g"))
        .groupBy(id_col, "__g")
        .count()
        .groupBy(id_col)
        .agg(
            F.sum("count").alias("__tot"),
            F.max("count").alias("__top"),
            F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(F.lit(0))).alias("__dup"),
        )
        .select(
            id_col,
            F.round(F.col("__dup") / F.col("__tot"), 7).alias("dup_bigram_frac"),
            F.round(F.col("__top") / F.col("__tot"), 7).alias("top_bigram_frac"),
        )
    )

    return (
        base.select(id_col)
        .join(uni, id_col, "left")
        .join(bi, id_col, "left")
        .select(
            id_col,
            F.coalesce("top_token_frac", F.lit(0.0)).alias("top_token_frac"),
            F.coalesce("dup_bigram_frac", F.lit(0.0)).alias("dup_bigram_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# corpus-self-trained bigram LM scoring (perplexity-style quality signal)


def lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
) -> DataFrame:
    """Mean bigram log-likelihood of each document under an add-α smoothed
    bigram model trained on the corpus itself (the CCNet/KenLM-style
    quality signal: documents whose token transitions are improbable under
    the corpus LM are noise / wrong-language / garbled candidates, and the
    too-probable tail is boilerplate — both tails get filtered).

    ``P(cur|prev) = (c(prev cur) + α) / (c(prev) + α·V)`` with corpus-wide
    occurrence counts and ``V`` the corpus vocabulary size. Output one row
    per input document: ``n_bigrams`` and ``avg_logprob`` (0.0 for
    documents with fewer than two tokens).

    Plan shape at 100 TB: two map-side-combinable count tables (bigram and
    unigram — the shuffle carries one row per gram per map partition), the
    1-row vocabulary count broadcast, and the per-document bigram stream
    hash-joined to the counts on their natural keys. No driver
    materialization, no UDFs, no global sort.
    """
    toks = text.tokens(text.normalize(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__toks"))

    # explode_outer + null-filter: see repetition_stats — avoids the
    # inferred size() filter re-evaluating the tokenize chain per row
    uni = (
        base.select(F.explode_outer("__toks").alias("__tok"))
        .where(F.col("__tok").isNotNull())
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("__v"))

    pair_structs = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - 1),
            lambda i: F.struct(
                F.element_at("__toks", i).alias("prev"),
                F.element_at("__toks", i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pairs = base.select(F.col(id_col), F.explode(pair_structs).alias("__bg")).select(
        F.col(id_col),
        F.col("__bg.prev").alias("__prev"),
        F.concat_ws(" ", "__bg.prev", "__bg.cur").alias("__gram"),
    )

    big = pairs.groupBy("__gram").agg(F.count(F.lit(1)).alias("__c2"))

    scored = (
        pairs.join(big, "__gram")
        .join(uni.withColumnRenamed("__tok", "__prev"), "__prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.log(
                (F.col("__c2") + F.lit(float(alpha)))
                / (F.col("__c1") + F.lit(float(alpha)) * F.col("__v"))
            ).alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.avg("__lp").alias("__avg")
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.round(F.coalesce("__avg", F.lit(0.0)), 7).alias("avg_logprob"),
        )
    )


def _bag_ngrams(toks: Column, n: int) -> Column:
    """NON-distinct word n-grams over an already-projected token array —
    the classifier feature bag (fastText counts repeats; contrast
    dedup._grams_over, whose shingle sets are deliberately distinct)."""
    if n == 1:
        return toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


#: classifier_score switches from the in-plan weight-array path to the
#: explode + broadcast-join path above this many buckets: a plan-literal
#: array ships once per task closure and evaluates as one element_at —
#: unbeatable small — but a multi-megabyte literal bloats every plan
#: copy, while a broadcast hash join is built for exactly that size.
CLASSIFIER_PLAN_WEIGHTS_MAX = 4096


def classifier_score(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_ngrams: int = 1,
) -> DataFrame:
    """fastText-style linear text classifier (Joulin et al. 2016, "Bag of
    Tricks for Efficient Text Classification"): hashed bag-of-n-gram
    features, mean-pooled, dotted with a trained weight vector, sigmoid —
    the SUPERVISED quality signal real curation stacks run alongside the
    unsupervised :func:`~alphastats_spark.functions.text.quality_score`
    and :func:`lm_score` (e.g. a "looks like reference text" classifier
    scoring a crawl).

    Degenerate-linear fastText: with scalar per-bucket weights the mean
    of feature embeddings followed by the linear layer collapses to
    ``score = σ(mean_f(w[h(f)]) + bias)``. Features are the token bag
    plus (``word_ngrams`` ≥ 2) non-distinct word n-grams up to that
    order; ``h`` is the engine-portable md5 bucket (``md5_long(f) %
    len(weights)``, mirrored exactly by the DuckDB oracle). Documents
    with no features score ``σ(bias)`` — the model's empty-input prior,
    not null. Output: ``(id_col, n_features, score)``, score rounded 7dp.

    Plan shape at 100 TB — two paths, switched on ``len(weights)``:

    * ``≤`` :data:`CLASSIFIER_PLAN_WEIGHTS_MAX`: the weight vector rides
      the plan as an array literal and each document scores in ONE
      per-row ``aggregate`` over its projected feature array — zero
      shuffles, zero joins; the scorer is a pure map over the corpus
      scan, which is the shape you want when scoring 100 TB with a
      distilled few-k-bucket model.
    * larger models: explode features → broadcast-join the weight table
      on bucket → one map-side-combinable groupBy(id). One shuffle keyed
      by doc id; the weight table broadcasts (it is model-sized, not
      corpus-sized).

    Both paths produce identical values (pinned in pytest).
    """
    if word_ngrams < 1:
        raise ValueError(f"word_ngrams must be >= 1, got {word_ngrams}")
    n_buckets = len(weights)
    if n_buckets < 1:
        raise ValueError("weights must be a non-empty per-bucket vector")
    toks = text.tokens(text.normalize(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    feats = F.concat(
        *[_bag_ngrams(F.col("__toks"), n) for n in range(1, word_ngrams + 1)]
    )
    # normalize(null) -> null tokens array: concat propagates the null,
    # so coalesce to the empty bag (score = sigmoid(bias), like any
    # featureless doc) instead of dropping the document
    base = base.select(
        F.col(id_col),
        F.coalesce(feats, F.array().cast("array<string>")).alias("__f"),
    )
    bucket_of = lambda c: (text.md5_long(c) % n_buckets).cast("int")  # noqa: E731
    sig = lambda z: F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 7)  # noqa: E731

    if n_buckets <= CLASSIFIER_PLAN_WEIGHTS_MAX:
        from alphastats_spark.functions.similarity import lit_double_array

        warr = lit_double_array(weights)
        total = F.aggregate(
            F.col("__f"),
            F.lit(0.0),
            lambda acc, f: acc + F.element_at(warr, bucket_of(f) + 1),
        )
        mean = F.when(F.size("__f") > 0, total / F.size("__f")).otherwise(F.lit(0.0))
        return base.select(
            F.col(id_col),
            F.size("__f").cast("bigint").alias("n_features"),
            sig(mean + F.lit(float(bias))).alias("score"),
        )

    wdf = df.sparkSession.createDataFrame(
        [(b, float(w)) for b, w in enumerate(weights)], "__b int, __w double"
    )
    # explode_outer + null-filter: see repetition_stats — avoids the
    # inferred size() filter re-evaluating the feature-bag chain per row
    exploded = (
        base.select(F.col(id_col), F.explode_outer("__f").alias("__feat"))
        .where(F.col("__feat").isNotNull())
        .select(F.col(id_col), bucket_of(F.col("__feat")).alias("__b"))
    )
    per_doc = (
        exploded.join(F.broadcast(wdf), "__b")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_features"), F.avg("__w").alias("__m"))
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_features", F.lit(0)).cast("bigint").alias("n_features"),
            sig(F.coalesce("__m", F.lit(0.0)) + F.lit(float(bias))).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# token-budget domain mixing (DoReMi/Pile-style)


def mix_sample(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Deterministic token-budget domain mixing: allocate ``token_budget``
    across sources proportionally to ``weights``, convert each source's
    allocation into a keep-rate against its ACTUAL token mass, and decide
    membership with the content-keyed md5 bucket (:func:`hash_bucket`) —
    reproducible across runs, engines, and corpus growth.

    Sources absent from ``weights`` get weight 0 (dropped). A source whose
    allocation exceeds its mass is kept whole — the budget is NOT
    redistributed; the emitted ``keep_rate`` column makes any shortfall
    visible (join :func:`source_stats` on the output for achieved-mix
    accounting).

    Plan shape: one map-side-combinable groupBy for per-source token mass
    (10²–10⁴ rows), rates broadcast-joined back, then a scan-level hash
    predicate — the corpus itself never shuffles.
    """
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    share = F.create_map(
        *[F.lit(x) for k, w in weights.items() for x in (k, w / total_w)]
    )
    n_tok = F.coalesce(text.token_count(F.col(text_col)), F.lit(0)).cast("bigint")
    masses = (
        df.select(F.col(strata_col), n_tok.alias("__n"))
        .groupBy(strata_col)
        .agg(F.sum("__n").alias("__mass"))
    )
    # coalesce AFTER the division: a zero-token-mass source divides by 0
    # (null under non-ANSI), and least() SKIPS nulls — without the guard a
    # weight-0 source with empty docs would keep rate 1.0, admitting a
    # deliberately-excluded source wholesale
    rates = masses.select(
        F.col(strata_col),
        F.least(
            F.lit(1.0),
            F.coalesce(
                F.lit(float(token_budget))
                * F.coalesce(share[F.col(strata_col)], F.lit(0.0))
                / F.nullif(F.col("__mass"), F.lit(0)),
                F.lit(0.0),
            ),
        ).alias("keep_rate"),
    )
    out = df.join(F.broadcast(rates), strata_col, "left")
    return out.where(
        hash_bucket(F.col(id_col), n_buckets) < F.col("keep_rate") * n_buckets
    )


def topk_by_quality(
    df: DataFrame,
    k: int = 25,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep the k highest-quality documents per stratum (FineWeb-style
    per-domain curation).

    Rank = ``row_number`` over (stratum, quality DESC, id ASC) — the id
    tiebreak makes selection deterministic under equal scores, and the
    quality score is rounded to 7 decimals BEFORE ordering so the oracle's
    independently-computed doubles order identically. One rank window
    partitioned by stratum: per-partition state is O(1) (running counter),
    work is bounded by per-stratum cardinality. For pathologically hot
    strata (one domain = half the corpus) the two-phase shape — per-Spark-
    partition top-k with ``slice(sort_array(collect_list(...)), 1, k)``
    then a merge — bounds the shuffle at k rows per partition; at the gate
    scale the plain window IS the right plan.

    Output: ``(strata_col, rank int, id_col, quality double)``.
    """
    from pyspark.sql import Window

    q = F.round(text.quality_score(F.col(text_col)), 7)
    w = Window.partitionBy(strata_col).orderBy(
        F.desc("quality"), F.asc(id_col)
    )
    return (
        df.select(F.col(strata_col), F.col(id_col), q.alias("quality"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(strata_col, "rank", id_col, "quality")
    )


def length_quantiles(
    df: DataFrame,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    strata_col: str = "source",
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """Per-stratum token-length distribution summary — the corpus-shape
    profile a mixing/curation decision reads (context-window fit, truncation
    rates, outlier spotting).

    ``exact=True`` uses sort-based linear-interpolation percentiles (parity
    with DuckDB ``quantile_cont``); at 100 TB pass ``exact=False`` for the
    KLL-sketch ``approx_percentile`` — bounded memory, mergeable partial
    state, one map-side-combinable pass either way.
    """
    from alphastats_spark import expressions as X

    n = text.token_count(F.col(text_col))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("__n"), 7).alias("mean_tokens"),
        F.max("__n").alias("max_tokens"),
    ]
    for q in quantiles:
        aggs.append(
            F.round(
                X.percentile(F.col("__n").cast("double"), q, exact=exact), 7
            ).alias(f"p{int(q * 100)}_tokens")
        )
    return (
        df.select(F.col(strata_col), n.cast("long").alias("__n"))
        .groupBy(strata_col)
        .agg(*aggs)
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023)


def dsir_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 0.5,
    top_n: int | None = None,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much more likely its hashed-unigram bag is
    under the TARGET domain's distribution than under the raw corpus
    distribution, then keep the highest-weight documents — the standard
    recipe for skewing a web-scale crawl toward a quality domain without
    training a classifier.

    ``target`` is a boolean Column marking target-domain rows (e.g.
    ``F.col("lang") == "en"``). Tokens hash into ``n_buckets`` md5 buckets
    (:func:`hash_bucket` — engine-portable, so the oracle reproduces the
    features exactly); both distributions are add-``alpha`` smoothed over
    the fixed bucket vocabulary; a document's ``log_weight`` is the mean
    per-token ``log P_target(b) − log P_raw(b)`` (0.0 for empty docs).

    ``top_n`` additionally emits ``selected``: the ``top_n`` documents by
    (rounded) weight, descending, doc-id ascending. The selection threshold
    comes from a bounded ``orderBy().limit(top_n)`` collect (a distributed
    TakeOrdered, like the IVF training sample — top_n rows reach the
    driver, never the corpus), so the filter is a broadcast-free scan
    predicate rather than a global rank window.

    Plan shape at 100 TB: explode to the token stream, ONE map-side-
    combinable groupBy to per-(doc, bucket) counts — the tokenizer runs
    exactly once; both distributions AND the per-doc weights derive from
    that persisted reduced table (round 14: the un-persisted token stream
    used to feed the bucket counts and the per-doc join separately, so
    the corpus was tokenized twice — and twice more through the ``top_n``
    re-read) — then ≤``n_buckets`` rows of log-ratio table broadcast-
    joined back, one per-doc groupBy. The per-doc mean over tokens is
    taken as Σ(count·diff)/Σcount over the (doc, bucket) counts — the
    grouped form of the same mean. No global window, no driver
    materialization beyond the ``top_n`` rows.
    """
    from alphastats_spark.operators import ordered as _ordered

    toks = text.tokens(text.normalize(F.col(text_col)))
    base = df.select(F.col(id_col), target.alias("__t"), toks.alias("__toks"))
    # explode_outer + null-filter: see repetition_stats — avoids the
    # inferred size() filter re-evaluating the tokenize chain per row
    stream = (
        base.select(id_col, "__t", F.explode_outer("__toks").alias("__tok"))
        .where(F.col("__tok").isNotNull())
        .select(id_col, "__t", hash_bucket(F.col("__tok"), n_buckets).alias("__bk"))
    )
    bk_counts = _ordered.persist_tracked(
        stream.groupBy(id_col, "__t", "__bk").agg(F.count(F.lit(1)).alias("__c"))
    )

    counts = bk_counts.groupBy("__bk").agg(
        F.sum(F.when(F.col("__t"), F.col("__c")).otherwise(F.lit(0))).alias("__ct"),
        F.sum("__c").alias("__cr"),
    )
    tot = counts.agg(
        F.sum("__ct").cast("double").alias("__nt"),
        F.sum("__cr").cast("double").alias("__nr"),
    )
    a = float(alpha)
    b = float(n_buckets)
    lp = counts.crossJoin(F.broadcast(tot)).select(
        "__bk",
        (
            F.log((F.col("__ct") + a) / (F.col("__nt") + a * b))
            - F.log((F.col("__cr") + a) / (F.col("__nr") + a * b))
        ).alias("__diff"),
    )
    perdoc = bk_counts.join(F.broadcast(lp), "__bk").groupBy(id_col).agg(
        (
            F.sum(F.col("__diff") * F.col("__c")) / F.sum(F.col("__c"))
        ).alias("__w")
    )
    out = (
        base.select(
            id_col,
            F.col("__t").alias("is_target"),
            F.when(F.col("__toks").isNull(), F.lit(0))
            .otherwise(F.size("__toks"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .join(perdoc, id_col, "left")
        .select(
            id_col,
            "is_target",
            "n_tokens",
            F.round(F.coalesce("__w", F.lit(0.0)), 7).alias("log_weight"),
        )
    )
    if top_n is not None:
        # the threshold TakeOrdered and the returned frame both read `out`;
        # persist it (doc-sized, 4 narrow columns) so the whole weighting
        # pipeline is not recomputed for the second consumer
        out = _ordered.persist_tracked(out)
        top = (
            out.orderBy(F.desc("log_weight"), F.asc(id_col))
            .limit(top_n)
            .select("log_weight", id_col)
            .collect()
        )
        if top:
            thr_w, thr_id = top[-1][0], top[-1][1]
            sel = (F.col("log_weight") > F.lit(thr_w)) | (
                (F.col("log_weight") == F.lit(thr_w)) & (F.col(id_col) <= F.lit(thr_id))
            )
        else:
            sel = F.lit(False)
        out = out.withColumn("selected", sel)
    return out


# ---------------------------------------------------------------------------
# hierarchical corpus profile (ROLLUP)


def corpus_rollup(
    df: DataFrame,
    strata: tuple[str, str] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Hierarchical corpus profile: doc/token counts at (source, lang),
    per-source subtotal, and grand-total grain in one result (the
    achieved-mix accounting a data-mixing run is judged against).

    Scale shape: the naive ``df.rollup(...)`` plans an Expand that
    duplicates EVERY corpus row once per grouping set before aggregating
    (3× the scan volume here). Instead the corpus reduces through one
    map-side-combinable fine-grained groupBy (≤ |sources|×|langs| rows) and
    the ROLLUP runs on that tiny aggregate — sums re-combine associatively,
    and the ratio column is derived at the end. ``grouping_id`` keeps the
    three grains distinguishable even if a stratum value were null.
    """
    a, b = strata
    n_tok = F.coalesce(text.token_count(F.col(text_col)), F.lit(0)).cast("bigint")
    base = (
        df.select(F.col(a), F.col(b), n_tok.alias("__n"))
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("__docs"), F.sum("__n").alias("__toks"))
    )
    out = base.rollup(a, b).agg(
        F.grouping_id().cast("int").alias("grouping_id"),
        F.sum("__docs").cast("bigint").alias("n_docs"),
        F.sum("__toks").cast("bigint").alias("total_tokens"),
    )
    return out.select(
        a,
        b,
        "grouping_id",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / F.col("n_docs"), 7).alias("avg_tokens"),
    )


# ---------------------------------------------------------------------------
# RAG-ingest index build: chunk → hashed features → hyperplane shard


def chunk_shards(
    df: DataFrame,
    chunk_tokens: int = 32,
    n_buckets: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end retrieval-ingest composition: split documents into
    fixed-budget chunks, featurize each chunk as a hashed bag-of-words
    vector, and assign it a sign-bit hyperplane shard — the partition key
    a sharded vector index ingests by, so co-retrievable chunks land in
    the same shard file.

    Composes :func:`chunk_documents` + :func:`hash_bucket` features +
    the seeded literal hyperplanes of :mod:`.similarity`. The sign of
    ``Σ count(b) · plane[b]`` is invariant under the ℓ2 normalization the
    dense embedder would apply, so the sparse count vector feeds the
    hyperplanes directly — no dense materialization, no normalization
    pass. Plan: projection + explode (chunking), one map-side-combinable
    groupBy per (chunk, bucket), one per-chunk aggregate of ``n_planes``
    dot-product partial sums; never a shuffle wider than the chunk key.

    Output: ``(id, chunk_id, n_chunk_tokens, shard)``.
    """
    from alphastats_spark.functions import similarity

    chunks = chunk_documents(df, chunk_tokens, id_col, text_col)
    tok = chunks.select(
        id_col,
        "chunk_id",
        "n_chunk_tokens",
        F.explode(text.tokens(F.col("chunk_text"))).alias("__tok"),
    )
    feat = tok.select(
        id_col,
        "chunk_id",
        "n_chunk_tokens",
        hash_bucket(F.col("__tok"), n_buckets).cast("int").alias("__bk"),
    )
    counts = feat.groupBy(id_col, "chunk_id", "n_chunk_tokens", "__bk").agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    planes = similarity.hyperplanes(n_buckets, n_planes, seed)
    dots = [
        F.sum(
            F.col("__c") * F.get(similarity.lit_double_array(p), F.col("__bk"))
        ).alias(f"__d{t}")
        for t, p in enumerate(planes)
    ]
    agg = counts.groupBy(id_col, "chunk_id", "n_chunk_tokens").agg(*dots)
    shard = None
    for t in range(n_planes):
        bit = F.when(F.col(f"__d{t}") >= 0, F.lit(1 << t)).otherwise(F.lit(0))
        shard = bit if shard is None else shard + bit
    return agg.select(
        id_col, "chunk_id", "n_chunk_tokens", shard.cast("int").alias("shard")
    )


def lm_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
    cuts: tuple[float, float] = (1 / 3, 2 / 3),
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document under the
    corpus bigram LM (:func:`lm_score`), then label the corpus-relative
    terciles ``head`` (most probable — fluent but boilerplate-leaning),
    ``middle`` and ``tail`` (least probable — noise/garbled candidates).
    CCNet trains on ``head+middle`` and drops ``tail``; emitting the label
    instead of filtering keeps that policy choice with the caller.

    Thresholds are exact interpolated quantiles of the score distribution
    — one 1-row aggregate broadcast back, never a sort of the corpus.
    Higher logprob = more probable = head; a doc exactly AT a threshold
    falls to the lower bucket (strict ``>``), deterministically.

    Output: ``(id, n_bigrams, avg_logprob, bucket)``.
    """
    from alphastats_spark import expressions as X

    scored = lm_score(df, id_col, text_col, alpha)
    # lm_score's 0.0 no-bigram sentinel sits ABOVE every real
    # log-probability ((c2+a)/(c1+aV) < 1 always) — left in, a garbled
    # 1-token doc would land in 'head' (the CCNet KEEP bucket) and shift
    # the terciles corpus-wide; unscoreable docs are 'tail' by definition
    # and excluded from the threshold computation
    qs = scored.where(F.col("n_bigrams") > 0).agg(
        X.percentile(F.col("avg_logprob"), cuts[0], exact=True).alias("__q1"),
        X.percentile(F.col("avg_logprob"), cuts[1], exact=True).alias("__q2"),
    )
    lp = F.col("avg_logprob")
    bucket = (
        F.when(F.col("n_bigrams") == 0, F.lit("tail"))
        .when(lp > F.col("__q2"), F.lit("head"))
        .when(lp > F.col("__q1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.crossJoin(F.broadcast(qs)).select(
        id_col, "n_bigrams", "avg_logprob", bucket.alias("bucket")
    )


def weighted_sample(
    df: DataFrame,
    weight: Column,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): each row draws priority ``ln(u) / w`` with ``u`` a
    content-keyed uniform from the md5 of its id, and the ``n`` highest
    priorities win — equivalent to sequential weighted draws, but
    expressed as one projection plus a distributed TakeOrdered, with no
    sequential state and no RNG (reruns, retries and engine changes all
    select the same rows; corpus growth only perturbs selection near the
    cut, unlike rate-based schemes that reshuffle everything).

    Rows with non-positive weight never qualify (filtered, not -inf-keyed:
    DuckDB float division by zero yields NULL, not IEEE ±inf, so the
    oracle could not mirror the sentinel). Output: the selected rows with
    their ``weight`` and rounded ``priority``.
    """
    u = (_md5_key(F.col(id_col)).cast("double") + 0.5) / F.lit(4294967296.0)
    w = weight.cast("double")
    out = (
        df.withColumn("__w", w)
        .where(F.col("__w") > 0)
        .withColumn("priority", F.round(F.log(u) / F.col("__w"), 7))
    )
    return (
        out.orderBy(F.desc("priority"), F.asc(id_col))
        .limit(n)
        .drop("__w")
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic content-keyed train/val/test split.

    Each row draws a uniform ``u`` from the md5 of ``salt:id`` and lands in
    the first split whose cumulative weight exceeds it — one stateless
    projection (no shuffle, no RNG), so membership is stable across reruns,
    engines and corpus growth (a new document never moves an existing one),
    and changing ``salt`` redraws the whole assignment. This is the split
    discipline a training corpus needs: eval contamination via re-splitting
    is structurally impossible.

    ``weights`` must sum to 1 (e.g. ``{"train": .98, "val": .01,
    "test": .01}``, the default).
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {sum(weights.values())}")
    names = list(weights)
    u = _md5_key(F.col(id_col), salt).cast("double") / F.lit(4294967296.0)
    case = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = u < F.lit(cum)
        case = F.when(cond, F.lit(name)) if case is None else case.when(cond, F.lit(name))
    split = case.otherwise(F.lit(names[-1])) if case is not None else F.lit(names[-1])
    return df.withColumn("split", split)


def shard_corpus(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Tokenizer-ready shard assignment: ``shard`` = md5-keyed pseudo-random
    bucket in ``[0, n_shards)`` plus the 48-bit ``shard_key`` that orders
    rows WITHIN a shard — together a deterministic global shuffle of the
    corpus (the de-correlation step before sequence packing, so no shard is
    dominated by one source or crawl segment).

    Deliberately NO position column: a per-shard ``row_number`` window
    funnels each shard through one task at scale. Writers materialize the
    order instead — ``df.repartition(n_shards, "shard")
    .sortWithinPartitions("shard_key").write...`` keeps both assignment and
    order fully parallel at any corpus size.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = _md5_key(F.col(id_col), salt, hex_digits=12)
    return df.withColumn("shard_key", key).withColumn(
        "shard", F.pmod(F.col("shard_key"), F.lit(n_shards)).cast("int")
    )


#: Max over-cap groups the cap_per_group probe list may hold and still be
#: force-broadcast (≈ tens of MB of keys at web-domain lengths). Past this
#: the hint is dropped and AQE decides from the runtime size.
OVER_CAP_BROADCAST_LIMIT = 500_000


def cap_per_group(
    df: DataFrame,
    cap: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap",
    order_by: Column | None = None,
) -> DataFrame:
    """Per-group document quota: keep at most ``cap`` rows per
    ``group_col`` (the Common-Crawl-style per-domain cap that stops a few
    giant domains from dominating a training mix).

    Which rows survive is deterministic — each row draws a 32-bit md5 key
    from ``salt:id`` and the ``cap`` smallest keys per group win (ties
    broken by id) — so the kept set is stable across runs, engines and
    executor counts, and a re-crawl only displaces rows whose keys lose.

    Skew-aware two-phase plan (the naive single-window version funnels
    EVERY group through a rank shuffle):

    1. one map-side-combinable ``groupBy(group).count()`` finds the
       over-cap groups — at corpus scale that list is tiny (domains whose
       row count exceeds ``cap``), so it broadcasts;
    2. rows of at-or-under-cap groups pass through via a broadcast
       anti-probe — **no shuffle at all** for the long tail, which is
       most of a web corpus;
    3. only over-cap groups' rows transit the ``row_number`` rank
       shuffle, partitioned by group.

    A single pathological group still ranks inside one task — the exact
    price of an exact quota. When an approximate quota is acceptable,
    pre-thin such groups with ``hash_bucket(id) < cap*fudge/count`` before
    ranking; the deterministic key makes the two passes consistent.

    ``order_by`` turns the quota into best-k-per-group curation: survivors
    are the ``cap`` rows per group with the SMALLEST values of that
    expression (pass the negation for top-k, e.g. ``-F.col("quality")``
    keeps the highest-quality documents per domain) instead of the
    default unbiased md5 draw; ties still break by id. Rows whose order
    expression is NULL sort LAST (``asc_nulls_last``) — an unscored row
    must never win a quota slot over a scored one, which Spark's
    nulls-first ascending default would otherwise let it do.

    Rows with a NULL group key pass through uncapped (null never matches
    an equi-join probe) — ``coalesce`` the key to a sentinel first if the
    ungrouped remainder should be quota'd as one group.

    NOT fully lazy: sizing the over-cap list runs one eager job at call
    time (the broadcast hint is a plan-time decision, so it cannot wait
    for an action). On the common path the bounded list is collected and
    inlined as a local relation — the full upstream lineage runs ONCE at
    call time and the returned plan's two probes never re-pay it; nothing
    stays persisted (an unscoped caller leaves the pass-cache registry
    untouched). Only past ``OVER_CAP_BROADCAST_LIMIT`` does the probe
    stay a lazy subtree (AQE picks the join strategy), and there the
    aggregate lineage IS recomputed per probe.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    over = counts.where(F.col("__n") > cap).select(group_col)
    # Broadcasting the over-cap list unconditionally is only safe when the
    # list is actually small — a tiny cap over a high-cardinality group
    # column (cap=1 per URL, say) makes "over cap" most groups, and a
    # forced broadcast of millions of keys exhausts driver/executor
    # memory. One bounded collect sizes AND materializes the list (the
    # one deliberately EAGER step in this operator — see docstring): at
    # or under the limit the keys become a driver-local relation — the
    # same rows a forced broadcast would ship anyway — so the probes cost
    # zero recomputation of the upstream lineage; past the limit the hint
    # is dropped and AQE picks the join strategy from the runtime size.
    over_rows = over.limit(OVER_CAP_BROADCAST_LIMIT + 1).collect()
    if len(over_rows) <= OVER_CAP_BROADCAST_LIMIT:
        local = df.sparkSession.createDataFrame(over_rows, over.schema)
        probe = F.broadcast(local)
    else:
        probe = over
    small = df.join(probe, group_col, "left_anti")
    key = order_by if order_by is not None else _md5_key(F.col(id_col), salt)
    ranked = (
        df.join(probe, group_col, "semi")
        .withColumn("__k", key)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(group_col).orderBy(
                    # NULL order keys lose: an unscored row must not beat a
                    # scored one under best-k curation (Spark's asc default
                    # is nulls-FIRST, which would hand nulls the quota)
                    F.col("__k").asc_nulls_last(),
                    F.col(id_col),
                )
            ),
        )
        .where(F.col("__rn") <= cap)
        .drop("__k", "__rn")
    )
    return small.unionByName(ranked)


def group_split(
    df: DataFrame,
    group_col: str = "source",
    weights: dict[str, float] | None = None,
    salt: str = "gsplit",
) -> DataFrame:
    """Leakage-safe train/val/test split: the split is drawn from the md5
    of the GROUP key, so every row of a group (domain, cluster, dedup
    lineage root) lands in the same split — near-duplicates that share a
    group can never straddle the train/eval boundary, which is the leakage
    mode a row-keyed split (``hash_split``) cannot prevent.

    Same stateless one-projection plan as ``hash_split`` (no shuffle, no
    RNG, stable under corpus growth); group-level proportions follow
    ``weights`` in expectation, row-level proportions only to the extent
    group sizes are balanced — the price of the no-leakage guarantee.
    """
    return hash_split(df, weights, id_col=group_col, salt=salt)


def curate_corpus(
    df: DataFrame,
    bench_df: DataFrame,
    rules: list[dict] | None = None,
    quality_kwargs: dict | None = None,
    url_col: str | None = None,
    fuzzy_threshold: float = 0.5,
    decontam_threshold: float = 0.5,
    mix_weights: dict[str, float] | None = None,
    token_budget: int | None = None,
    split_weights: dict[str, float] | None = None,
    split_group_col: str = "source",
    pack_budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
    stage_times: dict | None = None,
) -> DataFrame:
    """The end-to-end curation pipeline as ONE lazy plan: constraints →
    quality filter → URL dedup → exact dedup → fuzzy near-dup dedup →
    fuzzy benchmark decontamination → token-budget domain mixing →
    leakage-safe group split → sequence packing — the actual product the
    per-stage operators exist for, composed with full per-document
    lineage.

    Output is one row per INPUT document:
    ``(id_col, kept, stage, split, pack_id, pack_offset)`` where a
    dropped document carries the FIRST stage that rejected it (one of
    ``constraints, quality, url_dup, exact_dup, near_dup, contaminated,
    mix_out``) with NULL split and ``-1`` pack sentinels (nullable ints
    coerce to float NaN in arrow interchange — same convention as
    :func:`~alphastats_spark.functions.dedup.deduplicate`), and a
    surviving document carries ``stage='packed'``, its
    :func:`group_split` split and its :func:`pack_documents` pack
    assignment.

    Stage semantics are EXACTLY the standalone operators' (each stage
    delegates to them): ``rules`` are row-expressible constraint dicts
    (:func:`~alphastats_spark.functions.checks.row_violation`; default
    ``not_null(id) + non_empty(text)``; ``unique`` raises — exact dedup
    is the dedup stage's job), the URL stage only runs when ``url_col``
    is given, the mix stage only when ``mix_weights + token_budget``
    are. Null-text rows reaching the exact stage keep themselves (a
    null can't be a copy of anything — url_dedup's posture), though the
    default rules drop them at ``constraints`` first.

    Scale shape: every inter-stage join is an equi-join on ``id_col``;
    the document payload is projected ONCE into a pass-cached base frame,
    and each stage's verdict — an id+flag frame, the narrowest possible
    stage boundary — is an EAGER ``localCheckpoint``. The checkpoint is
    load-bearing, not an optimization: a persist caches DATA but every
    downstream action still re-analyzes the full logical tree, and eight
    stacked stages of LSH/window plans make Catalyst's optimizer time
    blow up super-linearly (measured: the un-truncated composition took
    >10 min at sf0.001 vs ~2 min truncated). It also costs nothing
    semantically — ``deduplicate``'s connected-components loop already
    runs eager actions, so the composition was never lazy end-to-end. At
    cluster scale the verdict checkpoints are where a run writes
    parquet + ``spark.checkpoint()`` (reliable storage) between stages.
    Callers should still wrap full materialization in
    ``ordered.pass_cache_scope()`` to release the base cache and the
    dedup stages' internal caches — the stage checkpoints register there
    too (``ordered.local_checkpoint_tracked``), so their blocks are
    reclaimed with the scope instead of waiting on driver GC.

    ``stage_times`` (optional dict out-param) is the scale-probe hook
    (same pattern as ``duplicate_clusters(stats=)``): each gating stage's
    wall seconds — everything between the previous stage's eager verdict
    checkpoint and this one's, so eager sub-actions inside a stage's
    construction (``deduplicate``'s clustering, the
    decontamination band builds) are attributed to THEIR stage, not
    smeared into the caller's final action. The final split+pack stage is
    lazy (materializes with the caller's action), so it has no entry;
    time the caller's action for it. ``None`` (the default) adds no
    clock calls.
    """
    from alphastats_spark.functions import checks as checks_mod
    from alphastats_spark.functions import dedup as dedup_mod
    from alphastats_spark.functions.text import normalize

    if rules is None:
        rules = [
            checks_mod.not_null(id_col),
            checks_mod.non_empty(text_col),
        ]
    for r in rules:
        if r.get("kind") == "unique":
            raise ValueError(
                "unique is not row-expressible; exact duplicates are the "
                "exact_dup stage's job"
            )

    cols = list(dict.fromkeys(
        [id_col, text_col, strata_col, split_group_col]
        + ([url_col] if url_col else [])
    ))
    base = ordered.persist_tracked(df.select(*cols))

    drops: list[DataFrame] = []
    alive = base.select(id_col)

    if stage_times is not None:
        import time as _time

        _stage_t0 = [_time.perf_counter()]

    def advance(verdict: DataFrame, stage: str) -> DataFrame:
        """Split (id, keep) into a drop record + the next survivor set.

        The eager tracked localCheckpoint truncates the stage's plan tree
        (see the docstring) — both consumers below read the checkpointed
        RDD, never the stage's lineage."""
        verdict = ordered.local_checkpoint_tracked(verdict, eager=True)
        if stage_times is not None:
            now = _time.perf_counter()
            stage_times[stage] = round(now - _stage_t0[0], 2)
            _stage_t0[0] = now
        drops.append(
            verdict.where(~F.col("__keep"))
            .select(F.col(id_col), F.lit(stage).alias("stage"))
        )
        return verdict.where(F.col("__keep")).select(id_col)

    def docs() -> DataFrame:
        return base.join(alive, on=id_col, how="inner")

    # 1. constraints — row-expressible rule gate
    bad = None
    for r in rules:
        v = checks_mod.row_violation(r)
        bad = v if bad is None else (bad | v)
    alive = advance(
        base.select(F.col(id_col), (~F.coalesce(bad, F.lit(False))).alias("__keep")),
        "constraints",
    )

    # 2. quality — Gopher-style hard rules
    qf = quality_filter(docs(), id_col=id_col, text_col=text_col,
                        **(quality_kwargs or {}))
    alive = advance(qf.select(id_col, F.col("keep").alias("__keep")), "quality")

    # 3. URL dedup — cheapest dedup first (no content hashing)
    if url_col is not None:
        ud = dedup_mod.url_dedup(docs(), url_col=url_col, id_col=id_col)
        alive = advance(
            ud.select(id_col, (~F.col("is_dup")).alias("__keep")), "url_dup"
        )

    # 4. exact dedup — keep the min-id representative per fingerprint;
    # null fingerprints (null text) match no group and keep themselves
    ex = dedup_mod.exact_duplicates(docs(), id_col=id_col, text_col=text_col)
    fp = docs().select(
        F.col(id_col), F.md5(normalize(F.col(text_col))).alias("fingerprint")
    )
    alive = advance(
        fp.join(ex, on="fingerprint", how="left").select(
            F.col(id_col),
            F.coalesce(
                F.col(id_col) == F.col("representative"), F.lit(True)
            ).alias("__keep"),
        ),
        "exact_dup",
    )

    # 5. fuzzy near-dup dedup — MinHash/LSH lineage, drop non-representatives
    dl = dedup_mod.deduplicate(
        docs(), id_col=id_col, text_col=text_col,
        threshold=fuzzy_threshold, lineage=True,
    )
    alive = advance(
        dl.select(id_col, (F.col("reason") != "near_dup_dropped").alias("__keep")),
        "near_dup",
    )

    # 6. fuzzy benchmark decontamination — drop leaked training docs
    dc = dedup_mod.decontaminate_fuzzy(
        docs(), bench_df, id_col=id_col, text_col=text_col,
        threshold=decontam_threshold, lineage=True,
    )
    alive = advance(
        dc.select(id_col, (F.col("reason") == "clean").alias("__keep")),
        "contaminated",
    )

    # 7. token-budget domain mixing — membership of the mixed sample
    if mix_weights is not None and token_budget is not None:
        kept_ids = mix_sample(
            docs(), mix_weights, token_budget,
            strata_col=strata_col, id_col=id_col, text_col=text_col,
        ).select(F.col(id_col), F.lit(True).alias("__in"))
        alive = advance(
            alive.join(kept_ids, on=id_col, how="left").select(
                F.col(id_col), F.coalesce(F.col("__in"), F.lit(False)).alias("__keep")
            ),
            "mix_out",
        )

    # 8. survivors: leakage-safe split + concat-then-split packing
    final = docs()
    split = group_split(
        final, group_col=split_group_col, weights=split_weights
    ).select(id_col, "split")
    pack = pack_documents(
        final, budget=pack_budget, id_col=id_col, text_col=text_col
    ).select(id_col, "pack_id", "pack_offset")
    kept = (
        split.join(pack, on=id_col, how="inner")
        .select(
            F.col(id_col),
            F.lit(True).alias("kept"),
            F.lit("packed").alias("stage"),
            F.col("split"),
            F.col("pack_id").cast("bigint").alias("pack_id"),
            F.col("pack_offset").cast("bigint").alias("pack_offset"),
        )
    )

    dropped = drops[0]
    for d in drops[1:]:
        dropped = dropped.unionByName(d)
    dropped = dropped.select(
        F.col(id_col),
        F.lit(False).alias("kept"),
        F.col("stage"),
        F.lit(None).cast("string").alias("split"),
        F.lit(-1).cast("bigint").alias("pack_id"),
        F.lit(-1).cast("bigint").alias("pack_offset"),
    )
    return kept.unionByName(dropped)


def percentile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    out_col: str = "pct_rank",
) -> DataFrame:
    """Per-group percentile normalization of a score column — the
    calibration step before cross-domain thresholding: raw quality/LM
    scores are not comparable across domains (a mediocre arXiv paper
    outscores an excellent forum post), so curation cuts are taken on the
    WITHIN-group percentile instead.

    ``out_col`` = ``percent_rank() OVER (PARTITION BY group ORDER BY
    value, id)`` — the deterministic SQL definition ((rank-1)/(n-1), 0 for
    singleton groups), ties broken by id so the rank is reproducible and
    engine-portable. One rank shuffle partitioned by group — parallel
    across domains; a single pathological mega-group serializes only its
    own rows (pre-thin with :func:`cap_per_group` when that matters).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(value_col), F.col(id_col))
    return df.withColumn(out_col, F.percent_rank().over(w))


def source_overlap_matrix(
    df: DataFrame,
    n: int = 3,
    group_col: str = "source",
    text_col: str = "text",
    max_gram_df: int | None = 1000,
) -> DataFrame:
    """Pairwise cross-source n-gram overlap — the corpus-audit matrix that
    surfaces mirror sites, cross-posted content and eval leakage BETWEEN
    ingest sources before any of them is trusted as "independent" data.

    Output per unordered source pair (a < b): ``n_common`` distinct grams
    shared, each side's distinct gram count, and the Jaccard overlap.

    Plan shape: one explode to distinct (source, gram) — grouped per
    SOURCE, not per document, so the frame is bounded by vocabulary ×
    sources — then a gram self-join that meets only inside a gram's
    source list, and one groupBy on the (a, b) pair. ``max_gram_df``
    drops grams present in more than that many SOURCES before the
    self-join (df here is per-source incidence, bounded by |sources|) —
    ubiquitous boilerplate grams contribute pairs quadratically in their
    incidence while carrying no signal about any specific pair; None
    disables the guard when exact counts over all grams are required.
    """
    # Hash each gram to a 60-bit BIGINT BEFORE the distinct: the distinct,
    # the incidence groupBy, and the gram self-join — every exchange of
    # this operator (the second-heaviest SCALE_r07 probe, exponent 0.80)
    # — then shuffle 8-byte ints instead of raw gram strings. 15 hex
    # digits keeps the birthday bound at ~2^30 distinct grams; the DuckDB
    # oracle mirrors the hash verbatim, so a collision (which would merge
    # two grams' incidence) stays bit-identical across engines.
    sg = (
        _exploded_grams(df, {"__src": F.col(group_col)}, n, text_col)
        .select(F.col("__src"), text.hash_key60(F.col("gram")).alias("gram"))
        .distinct()
    )
    sg = ordered.persist_tracked(sg)
    if max_gram_df is not None:
        dfreq = sg.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
        sg = sg.join(
            F.broadcast(dfreq.where(F.col("__df") > max_gram_df).select("gram")),
            "gram", "left_anti",
        )
    # sizes AFTER the cap, so (n_common, n_grams_*, jaccard) is a
    # consistent triple over the same (informative) gram universe
    sizes = sg.groupBy("__src").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.select(F.col("__src").alias("src_a"), "gram")
    b = sg.select(F.col("__src").alias("src_b"), "gram")
    common = (
        a.join(b, "gram")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz = F.broadcast(sizes)
    return (
        common.join(sz.select(F.col("__src").alias("src_a"), F.col("n_grams").alias("n_grams_a")), "src_a")
        .join(sz.select(F.col("__src").alias("src_b"), F.col("n_grams").alias("n_grams_b")), "src_b")
        .select(
            "src_a", "src_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_grams_a").cast("bigint").alias("n_grams_a"),
            F.col("n_grams_b").cast("bigint").alias("n_grams_b"),
            F.round(
                F.col("n_common")
                / (F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_common")),
                7,
            ).alias("jaccard"),
        )
    )
