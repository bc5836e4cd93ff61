"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design
------------
* **Exact**: hash-groupBy on the normalized-text md5 — one shuffle, map-side
  combine; at 100 TB this is the canonical "group by content hash" dedup.
* **MinHash + LSH**: shingle → K min-hashes (one explode + one groupBy) →
  band keys → self-join *within bands only*. The band groupBy bounds the
  join: candidate pairs are generated per-band bucket instead of the O(n²)
  cross join. Skewed buckets (boilerplate shingles) are the classic hazard —
  the band key includes the full band signature so only true band-collisions
  meet.
* **SimHash**: per-token 32-bit hashes aggregated into a per-document
  signature with one groupBy (32 conditional sums — still one shuffle);
  near-dups = signatures at small Hamming distance found by exact match on
  rotated halves (here: exact signature match, the degenerate distance-0
  case, plus the Hamming-distance UDF-free comparator for candidate pairs).
* **n-gram Jaccard**: explode distinct shingles, self-join on shingle,
  count(common)/union — the exact similarity pass usually run only on LSH
  candidates; exposed standalone for verification.
* **Embedding cosine**: broadcast-able brute-force pass for verification;
  the scale path buckets by random-hyperplane signs first (see
  :mod:`.similarity`).

All hashes are md5-derived so each operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alphastats_spark.functions.text import normalize

#: Default MinHash family size and band shape (b = MINHASH_K /
#: ROWS_PER_BAND bands of ROWS_PER_BAND rows). A pair of Jaccard s
#: collides in a band of r rows with probability s^r and in >=1 of
#: b bands with 1-(1-s^r)^b, so r sets the false-positive decay and b
#: buys the recall back. Every LSH entry point threads an explicit
#: (k, rows_per_band) override; these module constants are only the
#: defaults the DuckDB oracle mirrors also derive from.
#:
#: Sizing (measured — SCALE_r12.json:banding_ab, synthetic 2M/5M-doc
#: corpora, threshold 0.5): the earlier family (k=8, r=2, b=4)
#: produced 6.0M post-guard candidates at 2M docs and 27.4M at 5M while
#: verified pairs stayed linear — the excess was ALL false positives
#: (r=2 collides an s≈0.3 boilerplate pair per band with s²≈0.09), and
#: the verify join, the pipeline's dominant shuffle, paid for them.
#: (24, 3, 8) cut candidates 3.6× (1.72M / 7.7M) while RAISING recall
#: vs the cross-family verified union (0.9829/0.9824 vs 0.9754/0.9757 at
#: 2M/5M — b=8's extra bands out-buy r=3's steeper per-band decay at
#: J >= 0.5); the also-tested (16, 4, 4) lost 7-9 recall points. The
#: remaining super-linear growth was the CAP's to fix, not the
#: family's — see :data:`MAX_BAND_BUCKET`. Per-shingle hashing cost is
#: ONE md5 regardless of k — see :data:`SIG_FAMILY`.
MINHASH_K = 24
ROWS_PER_BAND = 3
SIMHASH_BITS = 32

#: Modulus of the affine (universal-hash) MinHash family: the Mersenne
#: prime 2^31 - 1. Chosen so ``a * h + b`` never overflows a signed
#: 64-bit integer on EITHER engine — ``a, b, h < p`` bounds the product
#: at (p-1)^2 ≈ 4.6e18 < 2^63-1 ≈ 9.2e18 — which matters because Spark
#: (non-ANSI) silently wraps a long overflow while DuckDB raises, so any
#: family that relied on wraparound could never have an exact oracle.
#: Same prime Spark MLlib's MinHashLSH uses (mllib MinHashLSH.HASH_PRIME).
MINHASH_PRIME = 2_147_483_647

#: The MinHash signature hash family, recorded as ``sig_family`` in
#: every dedup index's ``<path>/meta``. Readers refuse an index whose
#: meta names any other family (or none): a family mismatch yields ZERO
#: band collisions, i.e. every near-duplicate silently admitted.
#:
#: One 60-bit md5 per shingle reduced mod :data:`MINHASH_PRIME`, then
#: ``mh_j = (a_j*h + b_j) % p`` per hash function — k plain integer ops
#: instead of k full digests per shingle occurrence. At 100 TB the
#: signature aggregate's per-row cost is the dominant scan-side work of
#: the dedup pipeline. The min-wise property is the standard
#: universal-hashing MinHash construction (Broder 1997; same shape as
#: Spark MLlib's MinHashLSH). DuckDB oracles mirror the exact 64-bit
#: arithmetic, so cross-engine parity is by construction.
SIG_FAMILY = "affine31"


#: The affine family's ``(a_j, b_j)`` coefficient table, FROZEN as a
#: source literal. These values were originally drawn once from
#: ``random.Random(0x5EED_1DEA).randrange`` (CPython 3.11), but Python
#: only guarantees cross-version reproducibility for ``Random.random()``,
#: not ``randrange`` — and stored affine31 dedup indexes bake these
#: coefficients into their on-disk band signatures, so a runtime whose
#: derivation drifted would hash every new batch into empty buckets
#: (zero band collisions ⇒ every near-duplicate silently admitted).
#: Freezing the table makes the family independent of any RNG forever;
#: :func:`_affine_checksum` additionally stamps a digest of the first-k
#: pairs into every index's meta so a reader on divergent source fails
#: loudly instead. All ``a ∈ [1, p)``, ``b ∈ [0, p)`` — the bound the
#: overflow-safety argument at :data:`MINHASH_PRIME` relies on.
_AFFINE_TABLE: tuple = (
    (727858806, 232035372), (1345411284, 1579678356),
    (1106180182, 1552929674), (570449278, 2006954593),
    (1859978919, 472525410), (1386342675, 157576154),
    (1831321186, 1109725494), (443086535, 1894110165),
    (159010004, 1994067923), (487521974, 277702078),
    (1726454370, 91094345), (1507791528, 1211854824),
    (2146014444, 1801769214), (1304469292, 2098659709),
    (469072641, 1290718507), (1974345214, 960446610),
    (1262316843, 1761650505), (719081888, 873411781),
    (1255106413, 2030261922), (295547951, 90785937),
    (1658419793, 1082856215), (1130340001, 123709883),
    (931518581, 1908646141), (2030727395, 115791238),
    (223698941, 547071444), (1988531086, 1715503839),
    (952230741, 299035579), (89631817, 979809142),
    (337127788, 1671611408), (819034108, 1596331093),
    (421475249, 830274653), (399782168, 1316118609),
    (473095027, 834960605), (1310325786, 504040614),
    (1869714985, 1492593693), (821630699, 1041158981),
    (158193676, 386918089), (326414831, 808967017),
    (905647686, 277674460), (1469885354, 1836012622),
    (562590474, 1238119590), (1907938347, 381219181),
    (1877698631, 1018120013), (1136986158, 454904078),
    (556973127, 542547647), (722375336, 590873023),
    (1319505562, 1437312321), (1104286079, 264113026),
    (1862544311, 457549094), (1952596572, 108128678),
    (691151609, 66859824), (899601820, 404810406),
    (252789203, 1813372327), (615068602, 1310413426),
    (417105521, 925122437), (213292725, 1181132282),
    (430287875, 579010410), (234245109, 1377096882),
    (1501679725, 775745013), (567421100, 799971636),
    (1408256349, 653340122), (780541812, 1857253462),
    (1255585642, 651914583), (104539677, 1539026434),
)


def _affine_coeffs(k: int) -> tuple:
    """The first ``k`` frozen ``(a_j, b_j)`` pairs of the affine family
    (:data:`_AFFINE_TABLE`) — one source for the Spark expressions AND
    the DuckDB oracle SQL (``registry.shared._mh_sql`` embeds these same
    values as literals). Prefix-stable: coefficients for k=8 are the first 8 of
    the k=24 table, so growing k never re-keys existing hashes."""
    if k > len(_AFFINE_TABLE):
        raise ValueError(
            f"affine MinHash family is frozen at {len(_AFFINE_TABLE)} "
            f"hash functions; got k={k}. Extend _AFFINE_TABLE (append "
            "only — existing indexes bake the current prefix into their "
            "band signatures)."
        )
    return _AFFINE_TABLE[:k]


def _affine_checksum(k: int) -> str:
    """Digest of the first-k coefficient pairs, stamped into every
    affine31 index's ``<path>/meta`` by :func:`write_dedup_index` and
    FAILFAST-validated by :func:`_resolve_index_params` at read time —
    a runtime whose coefficient table diverged from the one the index
    was built with raises instead of silently hashing every batch into
    empty buckets."""
    import hashlib

    payload = ",".join(f"{a}:{b}" for a, b in _affine_coeffs(k))
    return hashlib.md5(payload.encode()).hexdigest()[:16]


#: Session-scoped memo of reusable Column TREES for the build-hot dedup
#: pipelines. A PySpark Column is an immutable, name-bound expression
#: tree, so one tree serves every frame carrying those column names — but
#: BUILDING it costs one py4j round-trip per node, and the shingle /
#: signature / band builders construct hundreds of nodes per call
#: (measured ~1.1 s of pure driver time per lsh_verified_pairs plan
#: build; the bench pays it on every run). Keyed by the py4j gateway so
#: a fresh JVM can never be served another gateway's object refs; within
#: one JVM, expression objects outlive any SparkContext stop/start.
_COLUMN_MEMO: dict = {}


def _memo_col(key: tuple, build):
    from pyspark import SparkContext

    k = (id(SparkContext._gateway), key)
    c = _COLUMN_MEMO.get(k)
    if c is None:
        c = _COLUMN_MEMO[k] = build()
    return c


def _grams_over(toks: Column, n: int) -> Column:
    """Distinct n-gram shingle array over an ALREADY-PROJECTED token array
    column. Higher-order array functions run interpreted, and an
    interpreted lambda re-evaluates any non-trivial subexpression it
    closes over once per element — so ``toks`` must be a bound column, not
    the nested split(normalize(text)) tree (measured 25×: 10.9s → 0.4s for
    a 5k-doc explode when the tokenization is projected first)."""
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] in Spark
    grams = F.when(F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (JVM-side).

    Column-in/Column-out convenience (streaming micro-batches, ad-hoc
    exprs). Batch pipelines go through :func:`_exploded_shingles`, which
    projects the token array first — see :func:`_grams_over` for why."""
    return _grams_over(F.split(normalize(text), r" "), n)


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group documents by content fingerprint; representative = min id."""
    return (
        df.select(F.col(id_col), F.md5(normalize(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("representative"), F.count(F.lit(1)).alias("copies"))
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level deduplication — the cheap first dedup stage of a crawl
    pipeline (RefinedWeb/CCNet run it BEFORE any content hashing: two
    fetches of one page share a canonical URL long before they share a
    fingerprint).

    URLs canonicalize via :func:`alphastats_spark.functions.text.
    canonical_url` (case/port/www/tracking-param/fragment/trailing-slash
    normalization); the keeper per canonical URL is the MIN id. Output is
    the per-row lineage — ``(id_col, canonical_url, kept_id, is_dup)`` —
    one row per input row, so survivors are ``WHERE NOT is_dup`` and the
    drop set is auditable, the same lineage posture as
    :func:`deduplicate`. Rows whose URL is NULL or unparseable get a
    NULL ``canonical_url`` and keep themselves (a non-URL can't collide).

    Plan: one projection + one min window, a single hash shuffle, no
    join. The window partitions on ``coalesce(canonical_url,
    concat('\\0', id))`` — NOT on the raw canonical — so each
    null-canonical row gets a private singleton key and the nulls spread
    uniformly across the shuffle. Partitioning on the raw column would
    be correct (the keep-self projection ignores the window for nulls)
    but funnels EVERY null into the window's single NULL hash partition:
    on a mixed-source corpus where most rows have no URL, that one
    sort-window task is a straggler/spill bomb. The ``'\\0'`` prefix
    can't collide with a real canonical (those start with a scheme
    letter). Pinned by ``tests/test_sources_plans.py::
    test_url_dedup_null_key_spread``.
    """
    from pyspark.sql import Window

    from alphastats_spark.functions.text import canonical_url

    canon = canonical_url(F.col(url_col))
    base = df.select(F.col(id_col), canon.alias("canonical_url"))
    key = F.coalesce(
        F.col("canonical_url"),
        F.concat(F.lit("\0"), F.col(id_col).cast("string")),
    )
    kept = F.min(id_col).over(Window.partitionBy(key))
    return base.select(
        F.col(id_col),
        "canonical_url",
        kept.alias("kept_id"),
        (kept != F.col(id_col)).alias("is_dup"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_copies: int = 1,
    sep_pattern: str = r"\r?\n",
    join_sep: str = "\n",
) -> DataFrame:
    """Corpus-wide duplicate-paragraph removal — the CCNet/Dolma hygiene
    stage that strips boilerplate (nav bars, cookie banners, license
    footers) finer than whole-document dedup can: a paragraph whose
    normalized form occurs more than ``max_copies`` times ACROSS THE
    CORPUS is removed from every document containing it.

    Output is one row per input document:
    ``(id_col, text_clean, n_paragraphs, n_dropped)`` — paragraphs are
    the ``sep_pattern`` splits of ``text_col`` with whitespace-only
    segments discarded, survivors are rejoined with ``join_sep`` in
    original order. A document whose every paragraph is boilerplate
    comes back with ``text_clean=''``; a document with NULL text (or no
    non-whitespace paragraph at all) keeps ``text_clean=NULL`` with
    ``0/0`` counts. Occurrences are counted per ROW of the exploded
    paragraph table (a document repeating its own footer contributes
    each repeat), matching CCNet's occurrence semantics. Paragraphs that
    normalize to the empty string (punctuation-only separators) share
    one hash and are dropped together once frequent — the desired
    outcome for ``***``-style rules.

    Scale shape: explode → one map-side-combinable ``groupBy(hash)``
    count whose FILTERED output (hashes with count > max_copies) is the
    join side — tiny in practice, so AQE broadcasts it and the big
    exploded side never reshuffles for the join — then one
    ``groupBy(id)`` to reassemble. Deliberately NOT a count window over
    ``hash`` partitions: a 100M-copy cookie banner would serialize its
    entire partition into one window task, while the aggregate's
    map-side combine absorbs it.
    """
    paras = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep_pattern)).alias(
                "__pos", "__para"
            ),
        )
        .where(F.trim(F.col("__para")) != F.lit(""))
        .select(
            id_col, "__pos", "__para",
            F.md5(normalize(F.col("__para"))).alias("__h"),
        )
    )
    hot = (
        paras.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__copies"))
        .where(F.col("__copies") > max_copies)
        .select("__h", F.lit(True).alias("__hot"))
    )
    flagged = paras.join(hot, on="__h", how="left")
    rebuilt = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
        F.count(F.col("__hot")).cast("bigint").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__hot").isNull(),
                            F.struct(F.col("__pos"), F.col("__para")),
                        )
                    )
                ),
                lambda s: s["__para"],
            ),
            join_sep,
        ).alias("text_clean"),
    )
    # documents that contributed no non-whitespace paragraph (NULL or
    # blank text) vanish from the explode — backfill with NULL/0/0
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("text_clean"),
            F.coalesce(F.col("n_paragraphs"), F.lit(0)).cast("bigint").alias(
                "n_paragraphs"
            ),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("bigint").alias(
                "n_dropped"
            ),
        )
    )


def recommend_banding(
    spark,
    thresholds: list[float],
    k_budget: int = MINHASH_K,
    min_hit_prob: float = 0.95,
) -> DataFrame:
    """Threshold → banding-family advisor: for each Jaccard threshold,
    the steepest (k, rows_per_band, n_bands) family within ``k_budget``
    min-hashes that still catches clear duplicates — the README's
    selection table as a queryable function.

    Selection rule: a pair of Jaccard s hits ≥1 band with
    ``1-(1-s^r)^b``. Anchoring recall AT the threshold is wrong (pairs
    at exactly t are the borderline the verify stage adjudicates
    either way); the family must reliably catch pairs safely above it,
    so the anchor is the midpoint ``s* = (1+t)/2`` between the threshold
    and an exact copy. Among r = 1..k_budget with b = k_budget // r ≥ 1,
    pick the LARGEST r whose hit probability at s* is ≥
    ``min_hit_prob`` — larger r means steeper false-positive decay
    (per-band collision s^r), so the largest admissible r minimizes
    candidate volume at equal catch confidence.

    A threshold with NO qualifying family is omitted from the output:
    r = 1 (hit probability ``1-(1-s*)^k_budget``) is the easiest family
    to satisfy, but at small budgets even it can miss ``min_hit_prob``
    (e.g. budget 4, t → 0: 1-(0.5)^4 = 0.9375 < 0.95). Callers sizing
    tiny families should check every requested threshold came back and
    either lower ``min_hit_prob`` or raise ``k_budget`` for the missing
    ones — silently banding with an under-powered family is a recall
    hole, not a default this advisor will pick.

    Output: one row per threshold —
    ``(threshold, k, rows_per_band, n_bands, hit_prob)`` with
    ``k = r * b`` (≤ budget; trailing hashes beyond r*b are unused) and
    ``hit_prob`` the rounded probability at s*. The probability is
    rounded to 7dp BEFORE the ≥ comparison so the pick cannot flip on
    cross-engine float noise. Measured validation of the rule: at
    t = 0.5 / budget 24 it returns (24, 3, 8) — the family the 2M/5M
    A/B measured at 3.6× fewer candidates and higher recall than
    the old (8, 2, 4) default (SCALE_r12.json:banding_ab).
    """
    from pyspark.sql import Window

    t_df = spark.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    cand = t_df.select(
        "threshold",
        F.explode(F.sequence(F.lit(1), F.lit(int(k_budget)))).alias("r"),
    ).select(
        "threshold",
        "r",
        (F.lit(int(k_budget)) / F.col("r")).cast("int").alias("b"),
    )
    s_mid = (F.lit(1.0) + F.col("threshold")) / F.lit(2.0)
    hit = F.round(
        F.lit(1.0)
        - F.pow(F.lit(1.0) - F.pow(s_mid, F.col("r")), F.col("b")), 7
    )
    eligible = cand.where(F.col("b") >= 1).withColumn("hit_prob", hit).where(
        F.col("hit_prob") >= F.lit(float(min_hit_prob))
    )
    w = Window.partitionBy("threshold").orderBy(F.col("r").desc())
    return (
        eligible.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "threshold",
            (F.col("r") * F.col("b")).cast("int").alias("k"),
            F.col("r").cast("int").alias("rows_per_band"),
            F.col("b").cast("int").alias("n_bands"),
            "hit_prob",
        )
    )


def minhash_base_hash(col: Column) -> Column:
    """The ONE per-shingle base hash feeding the affine transforms: the
    canonical 60-bit md5 key
    (:func:`~alphastats_spark.functions.text.hash_key60`) reduced mod
    :data:`MINHASH_PRIME`. Oracle mirror:
    ``CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS BIGINT) % 2147483647``."""
    from alphastats_spark.functions.text import hash_key60

    return hash_key60(col) % F.lit(MINHASH_PRIME)


def minhash_signature_cols(
    k: int = MINHASH_K,
    src: str = "shingle",
    prehashed: bool = False,
) -> list:
    """K min-hash aggregate expressions over an exploded shingle column:
    ``mh_j = min((a_j*h + b_j) % p)`` over the document's shingles, with
    ``h`` the one-md5 base hash — see :data:`SIG_FAMILY` for the
    cost/portability reasoning. Prefer :func:`_sigs_over_shingles`, which
    projects ``h`` once below the aggregate so the single-digest
    guarantee is structural rather than left to codegen subexpression
    elimination; ``prehashed=True`` says ``src`` already holds the
    reduced base hash.
    """
    col = F.col(src)

    def build() -> list:
        h = col if prehashed else minhash_base_hash(col)
        p = F.lit(MINHASH_PRIME)
        return [
            F.min((F.lit(a) * h + F.lit(b)) % p).alias(f"mh{j}")
            for j, (a, b) in enumerate(_affine_coeffs(k))
        ]

    # k Column trees of ~8 nodes each per call — memoized: the trees are
    # pure functions of the key
    return _memo_col(("sigcols", k, src, prehashed), build)


def _sigs_over_shingles(
    sh: DataFrame,
    id_col: str,
    k: int,
    extra_aggs: tuple = (),
    base60_col: str | None = None,
) -> DataFrame:
    """``sh.groupBy(id).agg(*signature cols, *extra_aggs)`` with the
    base hash projected ONCE below the aggregate — the structural
    guarantee that each (id, shingle) row pays exactly one md5 however
    large k is (inlining the digest into each of the k min() inputs
    would leave de-duplication to codegen subexpression elimination,
    which aggregate inputs don't reliably get). ``extra_aggs`` ride the
    same shuffle (row counts etc.).

    ``base60_col``: name of a column that ALREADY holds the canonical
    60-bit key (:func:`~alphastats_spark.functions.text.hash_key60` of
    the shingle) — the base hash is then the cached key mod p, and this
    function performs no hashing at all. This is how
    :func:`lsh_verified_pairs` shares ONE md5 per shingle row between
    the signature branch and the verify joins."""
    if base60_col is not None:
        hashed = sh.select(
            F.col(id_col),
            _memo_col(
                ("sig_modp", base60_col),
                lambda: (F.col(base60_col) % F.lit(MINHASH_PRIME)).alias("__h"),
            ),
        )
    else:
        hashed = sh.select(
            F.col(id_col),
            _memo_col(
                ("sig_base",),
                lambda: minhash_base_hash(F.col("shingle")).alias("__h"),
            ),
        )
    return hashed.groupBy(id_col).agg(
        *minhash_signature_cols(k, src="__h", prehashed=True),
        *extra_aggs,
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_id: str | None = None
) -> DataFrame:
    """The (id, shingle) long table every shingle pipeline starts from.

    Two deliberate physical choices:

    * the token array is projected in its OWN select below the explode
      (:func:`_grams_over` explains the 25× interpreted-lambda trap this
      avoids; Catalyst keeps the projection because the array is
      referenced more than once);
    * a small parquet corpus arrives as one or two scan partitions, which
      would serialize the whole corpus's shingling onto one core
      (measured: 13s single-task vs <1s across 32) — repartition by id up
      to the session's parallelism first. At cluster scale the scan
      already carries enough partitions and the guard is a no-op; the
      id-hash partitioning is reused by the per-doc signature/size
      aggregates, so it adds no extra shuffle.
    """
    name = out_id or id_col
    base = df.select(
        _memo_col(("expl_id", id_col, name), lambda: F.col(id_col).alias(name)),
        _memo_col(
            ("expl_toks", text_col),
            lambda: F.split(normalize(F.col(text_col)), r" ").alias("__toks"),
        ),
    )
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        base = base.repartition(target, F.col(name))
    return base.select(
        F.col(name),
        _memo_col(
            ("expl_grams", n),
            lambda: F.explode(_grams_over(F.col("__toks"), n)).alias("shingle"),
        ),
    )


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """:func:`_exploded_shingles` with each shingle hashed to a 60-bit
    BIGINT (15 hex digits of md5) before anything shuffles.

    The all-pairs operators (`ngram_jaccard_pairs`, `containment_pairs`)
    shuffle the shingle column three times — the dfreq groupBy and both
    sides of the self-join, the dominant exchanges of the heaviest
    SCALE_r07 probes — so carrying an 8-byte int instead of a raw
    ~20-40-byte gram string cuts the shuffle width of those stages
    several-fold. 15 hex digits (not the canonical 8 of
    :func:`~alphastats_spark.functions.text.md5_long`) because the join
    key universe is the corpus VOCABULARY: the birthday bound sits at
    ~2^30 distinct shingles vs ~65k for 32 bits. Per-doc sizes count
    ROWS, not distinct hashes, so they stay exact under any collision;
    the DuckDB oracles mirror the hash verbatim
    (``registry.shared._SHINGLE_HASH_CTE``), so cross-engine parity holds by construction
    rather than by collision luck. NOT used by the index/admit paths —
    the materialized band/shingle tables keep raw shingles as their
    stored format.
    """
    from alphastats_spark.functions.text import hash_key60

    return _exploded_shingles(df, id_col, text_col, n).select(
        F.col(id_col),
        _memo_col(
            ("h60_shingle_self",),
            lambda: hash_key60(F.col("shingle")).alias("shingle"),
        ),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
) -> DataFrame:
    """Per-document K min-hashes via explode + groupBy.

    Measured note: the shuffle-free alternative (``array_min`` over
    ``transform`` on the shingle array) is ~10× SLOWER despite avoiding the
    shuffle — higher-order array functions run interpreted outside
    whole-stage codegen and re-evaluate the shingle pipeline per hash
    column, while explode + hash-aggregate stays fully codegen'd. The
    shuffle carries (id, shingle) pairs with map-side combine and is the
    faster plan at every scale tested.
    """
    exploded = _exploded_shingles(df, id_col, text_col)
    return _sigs_over_shingles(exploded, id_col, k)


def _band_table(
    sigs: DataFrame, id_col: str, k: int, rows_per_band: int,
    extra: tuple = (),
) -> DataFrame:
    """Explode a signature frame into (id, band, band-signature) rows —
    the LSH bucketing shared by the self-join and cross-corpus paths.
    ``extra`` columns of ``sigs`` are carried through (the verified path
    rides its per-doc shingle count here — 8 bytes/row on a table that is
    ``n_bands`` rows per doc, vs a whole extra corpus-sized join later).

    ``k`` must divide evenly into ``rows_per_band``-row bands: silently
    ignoring leftover hashes would make two callers with the same ``k``
    but different ``rows_per_band`` disagree on which hashes are live —
    and a stored index admits against exactly the bands written."""
    if rows_per_band < 1 or k % rows_per_band:
        raise ValueError(
            f"k={k} must be a positive multiple of rows_per_band="
            f"{rows_per_band} (bands would drop {k % rows_per_band} "
            "trailing min-hashes silently)"
        )
    n_bands = k // rows_per_band

    def build_explode() -> Column:
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs")

    return sigs.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        # ~6 nodes per band × n_bands per call — memoized (pure function
        # of the banding geometry; mh column names are fixed)
        _memo_col(("band_explode", k, rows_per_band), build_explode),
    ).select(
        id_col, *extra,
        F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
    )


#: Max documents per (band, signature) bucket before the bucket is dropped
#: from LSH candidate generation. A bucket of D documents contributes D²
#: candidate pairs, and boilerplate-heavy corpora produce mega-buckets —
#: MinHash's min over a doc's shingles lands on a globally-common shingle
#: for a large fraction of documents at once, so D grows WITH the corpus
#: and the band self-join goes quadratic (measured: a deep scale probe
#: at 500k synthetic docs with a 25-word hot vocabulary head spilled
#: >79 GB and died on disk before this guard existed; at 50k the same
#: blow-up hid inside a tolerable 64 s). 200 is far above any honest
#: near-dup cluster at the tested scales while bounding the per-bucket
#: cost to ~2·10⁴ pairs at ANY corpus size — the same safe-by-default
#: posture as CONTAINMENT_MAX_SHINGLE_DF. Recall cost: a pair is lost
#: only if EVERY band it collides in is over the cap; true near-dups
#: collide in multiple independent bands. The DuckDB oracles mirror the
#: cap structurally, so cross-engine parity holds at any scale factor.
#:
#: Sizing (measured): an instrumented deep probe showed
#: post-guard candidates growing at exponent ~1.48/decade under the old
#: cap of 1000 — sub-cap buckets FILLING with corpus size is the one
#: super-linear count in the whole pipeline — while verified pairs grew
#: exactly linearly, i.e. the excess candidates were all false
#: positives. A/B at 2M synthetic docs: cap 1000 → 16.77M candidates /
#: 427,452 verified / 291 s; cap 200 → 6.42M / 427,226 (−0.053%) /
#: 166 s; cap 100 → 5.19M / 427,147 (−0.071%) / 147 s.
#:
#: Re-sized to 25 with the (24, 3, 8) banding family
#: (SCALE_r12.json:cap_sweep, 2M + 5M probe corpora): sub-cap buckets
#: FILLING with corpus size is the one super-linear count in the whole
#: pipeline, and the cap — not the banding family — is what flattens it.
#: Measured 2M→5M post-guard candidate exponents: cap 200 → 1.64,
#: cap 100 → 1.48, cap 50 → 1.24, cap 25 → 1.03 (0.99M → 2.54M
#: candidates), at a verified-pair cost of 114 in 1.07M (−0.011%) vs
#: cap 200 and recall 0.9824 vs the cross-family union — still above the
#: old (8, 2, 4)/cap-200 default's 0.9757. The tighter cap is safe
#: BECAUSE b=8: a true pair is lost only when EVERY band it collides in
#: is over-cap, and honest near-dup clusters collide in several of the 8
#: independent bands. Caveat unchanged in kind: a corpus whose honest
#: near-identical clusters exceed ~25 members (mirror farms, mass
#: templates) should raise the knob per call — and run exact dedup
#: FIRST (as curate_corpus does), since an exact-copy cluster of D > cap
#: members shares ALL its band buckets and would be dropped whole.
MAX_BAND_BUCKET = 25


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    rows_per_band: int = ROWS_PER_BAND,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate near-duplicate pairs: documents agreeing on any full band.

    Join happens per (band index, band signature) bucket — never a global
    cross join. Output: (id_a, id_b, n_bands) with id_a < id_b.

    ``max_band_bucket`` (default :data:`MAX_BAND_BUCKET`) drops
    boilerplate (band, sig) buckets larger than the cap before the
    self-join, bounding per-bucket work at ANY corpus size; ``None`` is
    the exact, unguarded join — under it a mega bucket's quadratic work
    lands on the self-join's own shuffle, where AQE's skew-join split
    spreads it (the guarded plan has no join-side shuffle to split: the
    guard's window exchange IS the join partitioning).

    Registers ONE persisted frame (the guard-filtered band table, shared
    by both self-join sides — the mega-bucket guard itself is a window
    filter fused into the band-table pass) in the pass-cache registry —
    long-lived sessions calling this repeatedly should wrap each call in
    ``ordered.pass_cache_scope`` (or call
    ``ordered.release_pass_caches`` after materializing), the same
    contract as :func:`lsh_verified_pairs`.
    """
    sigs = minhash_signatures(df, id_col, text_col, k)
    return _candidates_from_sigs(sigs, id_col, k, rows_per_band, max_band_bucket)



def _drop_hot_buckets(
    bands: DataFrame, cap: int | None, count_over: DataFrame | None = None
) -> DataFrame:
    """The anti-join form of the mega-bucket guard, for paths where the
    rows being filtered and the rows being COUNTED are different frames
    (the admit paths count the corpus side restricted to probed buckets
    while filtering it, so the hot list is bounded by O(batch) probed
    buckets — never the whole corpus). Threshold semantics (strictly
    greater than ``cap``, counted as rows per (band, sig)) are shared
    with the window-fused guard inside :func:`_candidates_from_sigs` and
    with the DuckDB ``corpus_hot`` CTE mirrors. Rows of ``bands`` whose
    (band, sig) bucket holds more than ``cap`` rows IN ``count_over``
    (defaults to ``bands`` itself) are dropped via a broadcast anti-join;
    ``cap=None`` is the exact, unguarded join."""
    if cap is None:
        return bands
    src = count_over if count_over is not None else bands
    hot = (
        src.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") > cap)
        .select("band", "sig")
    )
    return bands.join(F.broadcast(hot), ["band", "sig"], "left_anti")


def _candidates_from_sigs(
    sigs: DataFrame,
    id_col: str,
    k: int,
    rows_per_band: int,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
    size_col: str | None = None,
    size_ratio: float | None = None,
) -> DataFrame:
    """``size_col``/``size_ratio`` (the verified path): ``sigs`` carries a
    per-doc set-size column, the self-join condition additionally requires
    ``min(size)/max(size) >= size_ratio`` — the exact Jaccard size bound,
    applied INSIDE the join so pairs no threshold could admit never reach
    the groupBy — and the output carries ``size_a``/``size_b`` so the
    caller never joins a corpus-sized size table."""
    from pyspark.sql import Window

    from alphastats_spark.operators import ordered

    bands = _band_table(
        sigs, id_col, k, rows_per_band,
        extra=(size_col,) if size_col else (),
    )
    # mega-bucket guard, fused into the band-table pass (a separate pass —
    # persist, then a SECOND groupBy traversal + collect/broadcast
    # anti-join — cost ~2 s of fixed latency on the sf0.1 dedup headline
    # and force-broadcast an unbounded over-cap list). A window
    # count over (band, sig) rides the SAME hash partitioning the self-join
    # below needs, so the guard is one filter inside the shuffle the join
    # pays anyway: no second traversal, no driver collect, no broadcast —
    # and an over-cap list too large to broadcast cannot arise here.
    # Threshold semantics identical to _drop_hot_buckets (strictly greater
    # than cap drops the bucket); the DuckDB corpus_hot CTEs mirror it.
    if max_band_bucket is not None:
        w = Window.partitionBy("band", "sig")
        bands = (
            bands.withColumn("__bn", F.count(F.lit(1)).over(w))
            .where(F.col("__bn") <= int(max_band_bucket))
            .drop("__bn")
        )
    # the (guarded) band table feeds both self-join sides, and each would
    # re-execute the signature groupBy from scratch — persist into the
    # pass-cache registry (released by the callers' scopes, same
    # discipline as the shingle table); the cached plan keeps the window's
    # hashpartitioning(band, sig), which is exactly the join key, so the
    # self-join probes the cache with no further exchange
    bands = ordered.persist_tracked(bands)
    left = bands.alias("l")
    right = bands.alias("r")

    def build_cond() -> Column:
        cond = (
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        )
        if size_col is not None and size_ratio:
            la, rb = F.col(f"l.{size_col}"), F.col(f"r.{size_col}")
            # softened by the downstream rounding margin: the final filter
            # admits pairs via round(jaccard, 7) >= t, i.e. true J down to
            # t - 5e-8, while this bound works on the UNROUNDED ratio — a
            # bare >= t prefilter could drop a pair whose J sits in
            # [t - 5e-8, t) (reachable only at >~2e7 distinct shingles per
            # doc, plus the fp-rounding corner when min == t * max
            # exactly). Backing the bound off by 1e-7 makes the prefilter
            # a strict superset of every pair the rounded threshold can
            # admit, so "lossless by construction" holds exactly.
            cond = cond & (
                F.least(la, rb)
                >= F.lit(float(size_ratio) - 1e-7) * F.greatest(la, rb)
            )
        return cond

    def build_keys() -> list:
        keys = [
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        ]
        if size_col is not None:
            # sizes are functions of the ids — adding them to the grouping
            # keys carries them through without a second aggregate or join
            keys += [
                F.col(f"l.{size_col}").alias("size_a"),
                F.col(f"r.{size_col}").alias("size_b"),
            ]
        return keys

    ratio_key = float(size_ratio) if size_ratio else None
    cond = _memo_col(("cand_cond", id_col, size_col, ratio_key), build_cond)
    keys = _memo_col(("cand_keys", id_col, size_col), build_keys)
    return (
        left.join(right, cond)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def _token_hash(tok: Column) -> Column:
    """Deterministic 32-bit token hash — the canonical
    :func:`alphastats_spark.functions.text.md5_long` key (md5 keeps the
    DuckDB oracle exact; xxhash64 would be faster but engine-specific)."""
    from alphastats_spark.functions.text import md5_long

    return md5_long(tok)


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """Per-document SimHash signature in one explode + one groupBy.

    Token explode is codegen'd (no interpreted lambda), but the same
    small-scan parallelism guard as :func:`_exploded_shingles` applies."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(id_col))
    exploded = df.select(
        F.col(id_col),
        F.explode(F.split(normalize(F.col(text_col)), r" ")).alias("tok"),
    ).select(F.col(id_col), _token_hash(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum((F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = exploded.groupBy(id_col).agg(*bit_sums)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — UDF-free via bin() + char counting."""
    x = a.bitwiseXOR(b)
    return F.length(F.regexp_replace(F.bin(x), "0", "")).cast("int")


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """EXACT near-duplicate pairs within ``max_hamming`` SimHash bits,
    without ever forming the all-pairs product — the banded pigeonhole of
    Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling"
    (WWW 2007): split the ``bits``-bit signature into
    ``n_bands = max_hamming + 1`` disjoint bit-bands; two signatures that
    differ in ≤ ``max_hamming`` bits can touch at most ``max_hamming``
    bands, so they MUST agree exactly on at least one band. The per-band
    equi-join therefore generates a candidate SUPERSET and the exact
    ``bit_count`` filter makes the output identical to a full pairwise
    scan — an exactness guarantee, unlike MinHash-LSH's probabilistic
    recall.

    Plan: one band explode (rows × n_bands) → equi-join per
    (band, band-value) bucket → distinct → popcount filter. At corpus
    scale the bucket sizes are the usual LSH skew surface — AQE skew-join
    splitting applies, and wider bands (larger ``n_bands`` than the
    pigeonhole minimum trades candidate volume for more joins).

    Output: ``(id_a, id_b, hamming)`` with ``id_a < id_b`` and
    ``hamming ≤ max_hamming``.
    """
    if n_bands is None:
        # smallest divisor of `bits` that still satisfies the pigeonhole
        # (n_bands > max_hamming): fewest joins with even band widths
        n_bands = next(
            b for b in range(max_hamming + 1, bits + 1) if bits % b == 0
        )
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} must exceed max_hamming={max_hamming} for the pigeonhole guarantee"
        )
    if bits % n_bands:
        raise ValueError(f"bits={bits} not divisible into n_bands={n_bands} bands")
    width = bits // n_bands
    mask = (1 << width) - 1

    from alphastats_spark.operators import ordered

    # the tokenize/explode/groupBy signature computation feeds BOTH sides
    # of the self-join — persist it once (same pattern as lsh_verified_pairs)
    sigs = ordered.persist_tracked(simhash(df, id_col, text_col, bits))
    bands = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        hamming_distance(F.col("__sa"), F.col("__sb")).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Jaccard rounded to 7dp BEFORE thresholding so the cutoff cannot flip on
    cross-engine float noise.

    ``max_shingle_df`` is the skew guard for the self-join: a shingle
    appearing in D documents produces D² join rows, and boilerplate
    shingles (headers, licenses) make D huge at corpus scale. Capping the
    shingle document frequency drops those hot join keys from the *common*
    count only — pair similarity becomes a slight underestimate, which is
    the standard trade at 100 TB. Default ``None`` = exact (oracle parity).

    Shingles shuffle as 60-bit hashes, not raw gram strings — see
    :func:`_hashed_shingles` for the width/collision reasoning.
    """
    from alphastats_spark.operators import ordered

    sh = ordered.persist_tracked(_hashed_shingles(df, id_col, text_col, n))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        sh = (
            sh.join(dfreq.where(F.col("__df") <= max_shingle_df), "shingle")
            .drop("__df")
        )
    left = sh.alias("l")
    right = sh.alias("r")
    common = (
        left.join(
            right,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("size_b"))
    # plain joins, not forced broadcasts: `sizes` has one row per doc, so
    # force-shipping it grows with the corpus; AQE still broadcasts it
    # when it is actually small
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")), 7
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_novelty(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus — the
    fraction of a document's DISTINCT word n-grams absent from the
    reference's n-gram vocabulary. The curation signal between exact
    decontamination and fuzzy dedup: score candidate shards against the
    corpus you already hold (novelty ~0 ⇒ redundant re-crawl; ~1 ⇒
    genuinely new material), or against a benchmark suite as a soft
    contamination meter where the hard `decontaminate_fuzzy` drop is too
    blunt.

    Output is one row per ``df`` document: ``(id_col, n_grams, n_unseen,
    novelty)`` with ``novelty = n_unseen / n_grams`` over distinct
    grams (``_grams_over`` dedups within doc), NULL for documents with
    no gram at all (< n tokens, empty or NULL text; their counts are
    0/0).

    Scale shape: both sides ride :func:`_hashed_shingles` (8-byte gram
    hashes, not raw strings, across every shuffle); the reference
    vocabulary is a distinct aggregate already partitioned by gram hash,
    so the left join reuses that exchange (AQE broadcasts it when the
    reference is small), and the per-doc rollup is one
    map-side-combinable groupBy. No driver-side state — the reference
    can be 100 TB.

    Collision bias (one-sided): membership is tested on the 60-bit gram
    hashes, so a genuinely novel gram that collides with ANY
    reference-vocabulary hash is silently counted as seen — ``n_unseen``
    (and therefore ``novelty``) is a slight UNDERestimate, never an
    over-estimate. The effect is negligible while the reference's
    distinct-gram vocabulary stays well under the ~2^30 birthday bound of
    the 60-bit space (per-probe-gram false-seen probability ≈ |ref
    vocabulary| / 2^60: one-in-a-million at a trillion-gram reference);
    approaching 2^30 distinct reference grams, widen the hash rather
    than trust small novelty scores.
    """
    left = _hashed_shingles(df, id_col, text_col, n)
    seen = (
        _hashed_shingles(ref_df, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    per = (
        left.join(seen, on="shingle", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count(F.when(F.col("__seen").isNull(), F.lit(1)))
            .cast("bigint")
            .alias("n_unseen"),
        )
    )
    return (
        df.select(id_col)
        .join(per, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_unseen"), F.lit(0)).cast("bigint").alias("n_unseen"),
            F.when(
                F.col("n_grams") > 0, F.col("n_unseen") / F.col("n_grams")
            ).alias("novelty"),
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
) -> DataFrame:
    """Brute-force cosine near-duplicate pairs (verification-scale).

    Math runs in double precision element-wise so the DuckDB oracle matches
    bit-for-bit after rounding. The 100 TB path pre-buckets by
    random-hyperplane signs (see similarity.lsh_buckets) before this
    pairwise pass.
    """
    vecs = _prepared_vectors(df, id_col, vec_col)
    return _pairwise_cosine(vecs, id_col, threshold)


def _prepared_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, double vector, norm) — the shared base of every embedding
    operator. Small-scan guard (same as ``ivf_index`` / the shingle
    pipelines): a small parquet corpus arrives as one scan partition, and
    everything computed OVER the prepared vectors — hyperplane bucket
    signs, centroid argmins, pairwise dots — is interpreted per-element
    expression work that would serialize on one core (measured: the
    12-table bucket projection of ``embedding_near_dup_pairs_lsh`` took
    3-4 s single-task vs ~0.3 s spread at sf0.1). The exchange moves only
    the prepared rows — a no-op at cluster scale, where the scan already
    carries enough partitions."""
    out = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        F.sqrt(
            F.aggregate(
                F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        ).alias("norm"),
    )
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        out = out.repartition(target, F.col(id_col))
    return out


def _pairwise_cosine(
    vecs: DataFrame, id_col: str, threshold: float, join_extra: list[str] | None = None
) -> DataFrame:
    """All-pairs cosine over ``vecs``; equi-join keys in ``join_extra`` (if
    any) turn the quadratic nested-loop compare into a per-bucket hash join.

    The per-pair dot is the zip_with/aggregate HOF fold on purpose: a flat
    unrolled ``try_element_at`` sum is bit-identical but measured 2.7×
    SLOWER inside a join stage's whole-stage codegen (the method outgrows
    the JIT — see the note above ``similarity._dot``), so the flat dot is
    not used here."""
    a = vecs.alias("a")
    b = vecs.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for key in join_extra or []:
        cond = cond & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, cond)
        .withColumn(
            "cosine",
            F.round(
                F.when(
                    F.col("a.norm") * F.col("b.norm") != 0,
                    dot / (F.col("a.norm") * F.col("b.norm")),
                ).otherwise(F.lit(0.0)),
                7,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cosine",
        )
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """The 100 TB path for embedding near-dup detection.

    Random-hyperplane LSH: each of ``n_tables`` independent plane sets maps
    every vector to a sign-bit bucket; candidate pairs are generated by a
    *equi-join on the (table, bucket) id* (hash join — the shuffle key is
    the bucket, so the quadratic compare runs only within buckets of
    expected size n/2^planes). Candidates are deduped before the exact
    cosine filter, so output pairs are exact-scored; only recall is
    approximate (a pair at cosine θ collides per table with
    P = (1 − arccos(θ)/π)^planes, missed by all tables with (1−P)^tables).

    Plan shape (decide with small rows, attach the payload once): all ``n_tables`` bucket ids are computed in ONE
    projection and exploded to (id, table, bucket) rows, so ONE id-only
    self-join on (table, bucket) replaces ``n_tables`` separate joins
    that each carried both vectors; the distinct (id_a, id_b) candidates
    then re-attach vectors via two id equi-joins and each pair pays the
    interpreted 64-dim dot exactly ONCE (before, a pair colliding in m
    of the tables was scored m times and deduped after). Measured at
    sf0.1 (12 tables): 18.2 s → 5.1 s, identical rows.

    Registers two persisted frames (the prepared vectors and the exploded
    bucket table) in the pass-cache registry per call and does NOT
    auto-release them — the caches must outlive the caller's eventual
    action. Direct library callers in long-lived sessions must release
    them after fully materializing, via ``ordered.pass_cache_scope()``
    or ``ordered.release_pass_caches`` — the same obligation
    :func:`lsh_verified_pairs` documents.
    """
    from alphastats_spark.functions import similarity
    from alphastats_spark.operators import ordered

    if dim is None:
        dim = similarity.infer_dim(df, vec_col)
    # vecs feeds the bucket table AND both attach sides of the candidate
    # scoring; light feeds both sides of the bucket self-join. Un-persisted,
    # the embedding scan + double-cast + norm fold ran once per consumer
    # (3×) and the n_tables × n_planes interpreted hyperplane dots ran on
    # both join sides (2×) — the shared-branch persist pattern of
    # lsh_verified_pairs' shingle table makes each run exactly once.
    vecs = ordered.persist_tracked(_prepared_vectors(df, id_col, vec_col))

    # bucket_expr by column NAME → each table's bucket renders as ONE SQL
    # string (the SQL-text-twins rule: one py4j parse per table instead of
    # two eager lambda round-trips per plane — n_tables × n_planes of
    # driver time before any job runs)
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                similarity.bucket_expr(
                    "v", similarity.hyperplanes(dim, n_planes, seed + t)
                ).alias("b"),
            )
            for t in range(n_tables)
        ]
    )
    light = ordered.persist_tracked(
        vecs.select(
            F.col(id_col).alias("__id"), F.explode(buckets).alias("tb")
        ).select("__id", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    )
    a = light.select(F.col("__id").alias("id_a"), "t", "b")
    b = light.select(F.col("__id").alias("id_b"), "t", "b")
    cands = (
        a.join(b, ["t", "b"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    aside = vecs.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    bside = vecs.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cands.join(aside, "id_a")
        .join(bside, "id_b")
        .withColumn(
            "cosine",
            F.round(
                F.when(
                    F.col("na") * F.col("nb") != 0, dot / (F.col("na") * F.col("nb"))
                ).otherwise(F.lit(0.0)),
                7,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semdedup_drop_list(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication drop list (SemDedup, Abbas et al. 2023).

    Cluster embeddings with a coarse k-means quantizer (the shared
    ``similarity.ivf_centroids`` — a pure seeded function, so the oracle can
    re-derive identical centroids), then inside each cluster drop every
    vector that has a LOWER-id neighbour at cosine ≥ ``threshold``; the
    min-id vector of each ε-neighbourhood survives as the representative
    (the paper keeps a random member; min-id is the deterministic twin).

    Output: ``(vec_id, max_cosine)`` — the dropped vectors and their
    highest similarity to a lower-id same-cluster neighbour.

    Scale shape: the pairwise compare is an equi-join on the cluster id, so
    cost is Σ |cluster|² not n² — the quantizer's k caps cluster sizes (at
    100 TB: k ~ √n clusters, re-trained on a bounded sample). One shuffle
    by cluster id + one groupBy on the dropped id.
    """
    from alphastats_spark.functions import similarity

    vecs = _prepared_vectors(df, id_col, vec_col).withColumn(
        "ivf_list", similarity._centroid_id_expr("v", centroids)
    )
    pairs = _pairwise_cosine(vecs, id_col, threshold, join_extra=["ivf_list"])
    return pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.max("cosine").alias("max_cosine")
    )


# Pair graphs with at most this many pairs are clustered on the driver
# (see duplicate_clusters). Measured on a 4-core VM, local[3], graphs of
# 4-node chains: the driver path takes about half the time of min-label
# propagation at 10k-100k pairs, breaks even near 300k-400k and loses at
# 1M (11.5 s vs 8.7 s), and its Python heap grows ~0.5 KB per pair. The
# bound sits well below the crossover and adds ~55 MB to the driver.
DRIVER_CLUSTER_MAX_PAIRS = 100_000


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 30,
    stats: dict | None = None,
    assume_distinct_pairs: bool = False,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id).

    Candidate pairs (from LSH bands, SimHash or embedding buckets) define a
    graph; each component is one duplicate cluster and ``cluster_id`` (the
    component's min id) picks the canonical representative.

    The pair frame's two id columns are checkpointed once, as one eager
    tracked ``localCheckpoint``, so the upstream pipeline (the LSH verify
    tail) runs once whichever path follows. One bounded
    ``limit(N + 1).collect()`` on the checkpoint then picks the path, with
    N = :data:`DRIVER_CLUSTER_MAX_PAIRS`:

    * **At most N pairs: union-find on the driver.** Roots are min ids, and
      a component's minimum id is exactly the fixpoint of min-label
      propagation, so the labels equal the distributed path's. They come
      back as a local frame under a broadcast hint: a frame built from a
      Python list carries no size statistic, so a join against it would
      otherwise start as a sort-merge join. This path releases its
      checkpoint before returning. Pair frames holding a null id take the
      distributed path, whose null handling the union-find does not copy.
    * **More than N pairs: distributed min-label propagation** over the
      symmetrized checkpoint. Every node repeatedly adopts the smallest
      label among itself and its neighbors; each round is one shuffle
      (edges ⋈ labels, groupBy) and the loop stops at fixpoint, so rounds
      = graph diameter. Round 1 is one groupBy over the edge set (labels
      start as the identity map). Labels are persisted per round and
      re-rooted by ``localCheckpoint`` every few rounds so plans stay
      bounded; a graph that needs more than ``max_iters`` rounds raises.

    ``assume_distinct_pairs=True`` skips the edge-set ``distinct()`` (a
    full shuffle); pass it when the pair frame is known duplicate-free
    with ``a != b`` (every pipeline ending in a ``groupBy(id_a, id_b)``
    qualifies). Both paths stay correct under duplicate edges either way;
    the distinct only bounds data volume and the ``n_edges`` count.

    ``stats`` (optional dict out-param) is the scale-probe hook: it is
    filled with ``n_edges`` (directed, after symmetrization/distinct),
    ``n_nodes`` and ``iterations`` (label-propagation rounds actually run;
    0 on the driver path).

    The checkpoint's blocks are non-replicated and its lineage is gone, so
    losing an executor while the distributed path runs is unrecoverable;
    rerun the job. The distributed path's checkpoints and its returned
    labels are registered for release by ``release_pass_caches`` /
    ``pass_cache_scope``.
    """
    from pyspark.sql import types as T

    from alphastats_spark.operators import ordered as _ordered

    # An eager checkpoint of the two id columns, not a persist: it runs the
    # upstream pipeline once for the size probe and both paths, and it cuts
    # the lineage, so the propagation loop, which nests the edge plan in
    # every round's labels plan, plans over a scan node instead of the
    # whole verify pipeline.
    mark = _ordered.pass_cache_mark()
    ck = _ordered.local_checkpoint_tracked(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")), eager=True
    )
    edges = ck.unionByName(ck.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    head = ck.limit(DRIVER_CLUSTER_MAX_PAIRS + 1).collect()
    small = len(head) <= DRIVER_CLUSTER_MAX_PAIRS
    if small and all(a is not None and b is not None for a, b in head):
        labels = _min_id_components(head)
        if stats is not None:
            directed = [(a, b) for a, b in head] + [(b, a) for a, b in head]
            stats["n_edges"] = len(directed if assume_distinct_pairs else set(directed))
            stats["n_nodes"] = len(labels)
            stats["iterations"] = 0
        id_type = edges.schema["src"].dataType
        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("cluster_id", id_type)]
        )
        local = pairs.sparkSession.createDataFrame(list(labels.items()), schema)
        _ordered.release_own_pass_caches(mark)
        return F.broadcast(local)

    if not assume_distinct_pairs:
        # every round joins the edge set: shuffle the distinct once
        edges = _ordered.persist_tracked(edges.distinct())
    # Round 1 fused: labels₀ is the identity map, so the first round is
    # min(self, min-over-neighbors), one groupBy over the edge set. The
    # node set is exactly groupBy(src) because symmetrization makes every
    # node a src. The __chg flag keeps the same meaning (some neighbor beat
    # the own label), so a self-loop-only graph converges here.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("nmin")).alias("cluster_id"),
            (F.col("nmin") < F.col("src")).alias("__chg"),
        )
        .persist()
    )
    if stats is not None:
        stats["n_edges"] = edges.count()
        stats["n_nodes"] = labels.count()

    iters_run = 1
    changed = labels.where(F.col("__chg")).limit(1).count()
    for it in range(1, max_iters):
        if changed == 0:
            break
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        # the convergence flag rides the SAME update join (a label changes
        # iff some neighbor's label beats it), so each iteration costs one
        # update pass plus one cheap cached scan — not a second
        # old-vs-new join/shuffle per round
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                F.col("id"),
                F.least(F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
                F.coalesce(F.col("nmin") < F.col("cluster_id"), F.lit(False)).alias("__chg"),
            )
        )
        if it % 5 == 4:  # re-root lineage so plans stay bounded
            new_labels = _ordered.local_checkpoint_tracked(new_labels, eager=False)
        new_labels = new_labels.persist()
        changed = new_labels.where(F.col("__chg")).limit(1).count()
        labels.unpersist()
        labels = new_labels
        iters_run = it + 1
    if changed != 0:
        # exiting with changes pending means labels are NOT a fixpoint:
        # one duplicate cluster would surface under several cluster_ids
        # and deduplicate() would keep multiple "representatives" of the
        # same cluster — silent under-deduplication. A near-dup graph
        # needing >max_iters hops means a pathological chain; fail loudly.
        labels.unpersist()
        raise RuntimeError(
            f"duplicate_clusters did not converge within max_iters={max_iters} "
            "label-propagation rounds (graph diameter exceeds it); raise "
            "max_iters or pre-split the pathological component"
        )

    if stats is not None:
        stats["iterations"] = iters_run
    # the returned frame stays cached (callers branch over it); register it
    # so release_pass_caches / pass_cache_scope can free it — a bare
    # persist() here leaked one labels frame per deduplicate() call
    _ordered.track_pass_cache(labels)
    return labels.select("id", "cluster_id")


def _min_id_components(pairs) -> dict:
    """Union-find over ``(a, b)`` pairs, always linking the larger root
    under the smaller: maps every node to its component's minimum id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    rows_per_band: int = ROWS_PER_BAND,
    threshold: float = 0.5,
    n: int = 3,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """The canonical MinHash-LSH dedup pipeline: band candidates → exact
    n-gram Jaccard verification *restricted to candidate pairs*.

    This is the 100 TB shape: the exact similarity join runs on the
    LSH-bounded candidate set (|candidates| ≪ n²) instead of every pair
    sharing a shingle, and candidates are first thinned by the EXACT
    size-ratio bound (J ≥ t ⟹ min(|A|,|B|)/max ≥ t — see the inline
    comment) so the per-shingle join never pays for pairs no threshold
    could admit. Output matches ``ngram_jaccard_pairs`` on the
    candidate subset: (id_a, id_b, jaccard) with jaccard ≥ threshold.
    ``max_band_bucket`` threads to the band self-join's mega-bucket guard
    (see :data:`MAX_BAND_BUCKET` for the measured sizing; ``None`` = the
    exact, unguarded join).

    The exploded shingle table feeds FIVE branches (signatures, both join
    sides, both size lookups); it is persisted into the shared pass-cache
    registry so the interpreted shingle construction executes once, not
    per branch (``ordered.persist_tracked`` — callers that fully
    materialize release it via ``release_pass_caches``).

    The persisted table carries ``(id, hash_key60(shingle))`` — 16-byte
    rows — instead of the raw gram strings. The signature base hash is
    the cached key mod p and the verify joins use the cached key
    directly, so each shingle row pays exactly ONE md5 for the WHOLE
    pipeline (instead of one per branch), and the cache itself is
    several-fold smaller than one of raw strings.
    """
    from alphastats_spark.operators import ordered

    from alphastats_spark.functions.text import hash_key60

    sh = ordered.persist_tracked(
        _exploded_shingles(df, id_col, text_col, n).select(
            F.col(id_col),
            _memo_col(
                ("h60_shingle",),
                lambda: hash_key60(F.col("shingle")).alias("__h60"),
            ),
        )
    )
    # the per-doc set size rides the SAME aggregate that builds the
    # minhash signature (one shuffle) and then the band table itself
    # (8 bytes on a rows-per-doc = n_bands table), so the verify stage
    # never joins — let alone force-broadcasts — a corpus-sized size
    # table. The EXACT size-ratio prefilter (|A∩B| ≤ min(|A|,|B|) gives
    # J ≤ min/max, so J ≥ t implies min/max ≥ t) is fused into the band
    # self-join's condition inside _candidates_from_sigs: pairs no
    # threshold could admit never reach the candidate groupBy, and the
    # per-shingle explode join below — the dominant shuffle of the whole
    # pipeline, volume Σ doc-size over surviving candidates — pays only
    # for survivors. Lossless by construction — the bound is backed off
    # by the round(·, 7) admission margin (see _candidates_from_sigs), so
    # the prefilter passes a strict superset of every pair the final
    # rounded threshold can admit; the DuckDB oracles need no mirror
    # because the output set is unchanged.
    sigs = _sigs_over_shingles(
        sh, id_col, k,
        extra_aggs=(F.count(F.lit(1)).alias("__nsh"),),
        base60_col="__h60",
    )
    # persisted: the explode join consumes the id pairs and the jaccard
    # projection re-joins the sizes — without the persist that second
    # consumer would re-run the band self-join
    cands = ordered.persist_tracked(
        _candidates_from_sigs(
            sigs, id_col, k, rows_per_band, max_band_bucket,
            size_col="__nsh", size_ratio=threshold,
        ).select("id_a", "id_b", "size_a", "size_b")
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("__h60").alias("shingle")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("__h60").alias("shingle")
    )
    common = (
        cands.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(cands, ["id_a", "id_b"])
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")),
                7,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def deduplicate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    lineage: bool = False,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
    k: int = MINHASH_K,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """End-to-end corpus deduplication: keep one representative per
    near-duplicate cluster.

    The composed 100 TB pipeline — MinHash-LSH band candidates → exact
    Jaccard verification restricted to candidates
    (:func:`lsh_verified_pairs`) → connected-component clustering
    (:func:`duplicate_clusters`) → drop every non-representative member
    via a LEFT ANTI join (representative = min id per cluster). Output is
    the input frame minus dropped rows — schema unchanged, no payload
    columns ever shuffled except by the anti-join key. ``max_band_bucket``
    threads to the candidate guard (default :data:`MAX_BAND_BUCKET`) —
    raise it per call for corpora whose honest near-identical clusters
    exceed that cap (mirror farms, mass templates; see the
    :data:`MAX_BAND_BUCKET` caveat about running exact dedup first),
    ``None`` for the exact unguarded join. ``k``/
    ``rows_per_band`` thread to the MinHash banding family (see
    :data:`MINHASH_K`/:data:`ROWS_PER_BAND` for the collision-probability
    trade and the README's threshold → (k, r, b) table).

    ``lineage=True`` instead returns the decision audit a production dedup
    run needs — one row per INPUT document:
    ``(id_col, kept_id, cluster_id, reason)`` where ``kept_id`` is the
    surviving representative whose cluster absorbed the doc (itself when it
    survives), ``cluster_id`` is ``-1`` for docs in no near-dup cluster
    (a sentinel rather than null: nullable ints coerce to float NaN in
    arrow/pandas interchange, poisoning downstream equality checks), and
    ``reason`` is ``unique`` / ``representative`` / ``near_dup_dropped``.
    Survivors = rows with reason != 'near_dup_dropped', so the lineage is a
    strict superset of the default output's information.
    """
    pairs = lsh_verified_pairs(
        df, id_col, text_col, k=k, rows_per_band=rows_per_band,
        threshold=threshold, max_band_bucket=max_band_bucket,
    )
    clusters = duplicate_clusters(pairs, assume_distinct_pairs=True)
    if not lineage:
        drop = clusters.where(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
        return df.join(drop, on=id_col, how="left_anti")
    cl = clusters.select(F.col("id").alias(id_col), "cluster_id")
    return (
        df.select(id_col)
        .join(cl, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("kept_id"),
            F.coalesce(F.col("cluster_id"), F.lit(-1).cast("long")).alias("cluster_id"),
            F.when(F.col("cluster_id").isNull(), F.lit("unique"))
            .when(F.col("cluster_id") == F.col(id_col), F.lit("representative"))
            .otherwise(F.lit("near_dup_dropped"))
            .alias("reason"),
        )
    )


def substring_dedup(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring deduplication at token k-gram granularity.

    The Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better") ExactSubstr operation, re-expressed for Spark: instead of a
    monolithic suffix array, duplicated spans are found by hashing every
    token ``k``-gram and removing each token covered by a k-gram that occurs
    more than once in the corpus (within- OR cross-document — a verbatim
    self-repeat is boilerplate too). Suffix arrays find variable-length
    repeats ≥ k; the k-gram formulation finds exactly the same *covered
    positions* for repeats of length ≥ k, because any such repeat is a chain
    of duplicated k-grams — the removal sets coincide.

    Plan shape (the 100 TB argument):

    1. one projection builds the token array per document (no shuffle);
    2. ``explode`` of k-gram start positions → groupBy(gram) count —
       map-side combinable, one shuffle keyed by gram;
    3. start positions of duplicated grams rejoin the gram stream on the
       gram key (shuffled hash join — the duplicated-gram table is
       corpus-sized, never collected or broadcast);
    4. per-token coverage = running max of the duplicate-start flag over a
       bounded ``ROWS BETWEEN k-1 PRECEDING`` window partitioned by
       document — state is O(k), partitions are documents, no skew beyond
       document length;
    5. surviving tokens reassemble with one groupBy(doc).

    Every hash is the gram text itself (no seeded hash), so the DuckDB
    oracle replicates the computation exactly.

    Output: one row per input document —
    ``(id_col, n_tokens, n_removed, deduped_text)`` where ``deduped_text``
    is the whitespace-rejoined surviving tokens ('' when everything was
    removed or the document was empty/null).
    """
    from pyspark.sql import Window

    from alphastats_spark.functions import text as _text
    from alphastats_spark.operators import ordered

    # parallelize + reuse: the tokenization feeds three branches (grams,
    # token positions, final doc join) and the interpreted k-gram
    # transform feeds two (duplicate counts, duplicate starts) — persist
    # both into the pass-cache registry so each computes once, and spread
    # a small single-partition scan across the session's cores first
    # (same rationale as _exploded_shingles)
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(id_col))
    toks = _text.tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = ordered.persist_tracked(
        df.select(F.col(id_col), toks.alias("__t"), F.size(toks).alias("__n"))
    )

    grams = ordered.persist_tracked(
        base.where(F.col("__n") >= k)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("__n") - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, k)),
                )
            ).alias("__p0", "gram"),
        )
        .select(id_col, (F.col("__p0") + 1).alias("p"), "gram")
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("gram")
    )
    dup_starts = grams.join(dup_grams, on="gram").select(id_col, "p")

    tok_pos = base.select(
        id_col, F.posexplode(F.col("__t")).alias("__p0", "tok")
    ).select(id_col, (F.col("__p0") + 1).alias("pos"), "tok")
    flagged = tok_pos.join(
        dup_starts.withColumnRenamed("p", "pos").withColumn("__f", F.lit(1)),
        on=[id_col, "pos"],
        how="left",
    )
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(k - 1), 0)
    kept = (
        flagged.withColumn("__cov", F.max("__f").over(w))
        .where(F.col("__cov").isNull())
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("deduped_text"),
        )
    )
    return (
        base.select(id_col, "__n")
        .join(kept, on=id_col, how="left")
        .select(
            id_col,
            F.col("__n").cast("bigint").alias("n_tokens"),
            (F.col("__n") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("deduped_text"), F.lit("")).alias("deduped_text"),
        )
    )


# ---------------------------------------------------------------------------
# incremental (cross-corpus) dedup: new ingest batch vs existing corpus


def incremental_near_dups(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    rows_per_band: int = ROWS_PER_BAND,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Verified near-duplicate matches of a NEW ingest batch against an
    EXISTING corpus: ``(new_id, match_id, jaccard ≥ threshold)``.

    The incremental-ingestion shape a production corpus actually runs —
    a self-join dedup of corpus+batch re-pays the corpus×corpus work on
    every ingest, while this compares batch×corpus only. Plan: both sides
    reduce to MinHash band tables (same seeded hash family, so a
    batch/corpus pair collides exactly when the self-join would have
    found it); the batch side is broadcast — the corpus band table never
    reshuffles, and at 100 TB it would be a precomputed bucketed table so
    ingest cost is O(batch) + one broadcast probe per band. Candidates
    then verify with exact shingle Jaccard restricted to candidate pairs,
    as in :func:`lsh_verified_pairs`.
    """
    from alphastats_spark.operators import ordered

    from alphastats_spark.functions.text import hash_key60

    # one exploded shingle table per side feeds signatures, sizes and the
    # verify joins (see lsh_verified_pairs); both persisted tables carry
    # the 60-bit key instead of the raw gram string, so each shingle row
    # pays ONE md5 for the whole admit (signatures + verify join + sizes)
    sh_n = ordered.persist_tracked(
        _exploded_shingles(new_df, id_col, text_col, n, out_id="new_id")
        .select(F.col("new_id"), hash_key60(F.col("shingle")).alias("__h60"))
    )
    sh_o = ordered.persist_tracked(
        _exploded_shingles(corpus_df, id_col, text_col, n, out_id="match_id")
        .select(F.col("match_id"), hash_key60(F.col("shingle")).alias("__h60"))
    )
    # both band tables are consumed more than once downstream (bn: the
    # band probe + the broadcast candidate join; bo: the mega-bucket
    # guard + the candidate join) — on this frame-to-frame path there is
    # no parquet scan whose pruning a persist could break, so persist both
    # rather than re-running the signature groupBys per consumer
    bn = ordered.persist_tracked(_band_table(
        _sigs_over_shingles(sh_n, "new_id", k, base60_col="__h60"),
        "new_id", k, rows_per_band
    ))
    bo = ordered.persist_tracked(_band_table(
        _sigs_over_shingles(sh_o, "match_id", k, base60_col="__h60"),
        "match_id", k, rows_per_band
    ))
    return _verified_matches(bn, bo, sh_n, sh_o, threshold, sh_o_hashed_col="__h60")


def _verified_matches(
    bn: DataFrame,
    bo: DataFrame,
    sh_n: DataFrame,
    sh_o: DataFrame,
    threshold: float,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
    sh_o_hashed_col: str | None = None,
) -> DataFrame:
    """Band-collision candidates verified by exact shingle Jaccard —
    shared by the frame-to-frame incremental path and the materialized
    dedup-index path. ``bn``/``sh_n`` key by ``new_id``, ``bo``/``sh_o``
    by ``match_id``; the batch side broadcasts.

    The verify join carries shingles as 60-bit hashes (see
    :func:`_hashed_shingles` for the width/collision reasoning). ``sh_n``
    always carries them in ``__h60`` (the batch side is hashed once and
    shared with its signature branch — see :func:`lsh_verified_pairs`).
    ``sh_o_hashed_col`` names the corpus side's hashed column when it has
    one; without it (the stored index's raw shingle table) the hashing is
    a scan-side projection, so the index format is unchanged.

    The candidates come from :func:`_band_candidates`. The verify side is
    not O(batch) on a stored index: the raw shingle table is hashed and
    sized for every corpus document, although only candidates are ever
    verified (:func:`admit_against_index` avoids this for small inputs).
    """
    from alphastats_spark.functions.text import hash_key60

    cands = _band_candidates(bn, bo, max_band_bucket)
    hn = sh_n.select("new_id", F.col("__h60").alias("shingle"))
    ho = sh_o.select(
        "match_id",
        (F.col(sh_o_hashed_col) if sh_o_hashed_col
         else hash_key60(F.col("shingle"))).alias("shingle"),
    )
    common = (
        cands.join(hn, "new_id")
        .join(ho, ["match_id", "shingle"])
        .groupBy("new_id", "match_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sh_n.groupBy("new_id").agg(F.count(F.lit(1)).alias("size_a"))
    sb = sh_o.groupBy("match_id").agg(F.count(F.lit(1)).alias("size_b"))
    return (
        common.join(F.broadcast(sa), "new_id")
        .join(sb, "match_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")), 7
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "match_id", "jaccard")
    )


def _band_candidates(
    bn: DataFrame, bo: DataFrame, max_band_bucket: int | None = MAX_BAND_BUCKET
) -> DataFrame:
    """Distinct ``(new_id, match_id)`` pairs whose documents share a full
    (band, sig) bucket, with the batch band table ``bn`` broadcast.

    ``max_band_bucket`` is the corpus-side twin of the self-join's
    mega-bucket guard: a boilerplate (band, sig) bucket holding D corpus
    documents hands EVERY batch doc that probes it D candidate pairs, and
    D grows with the corpus — the admit-time quadratic. Corpus bucket
    sizes are counted only over the buckets the batch probes (a semi-join
    against the broadcast batch band table), so the hot list and the
    candidate join stay O(batch).

    The SCAN of a stored band table is not O(batch), though. Its
    ``band`` partitioning prunes nothing for a non-empty batch: every
    document has one row in every band, so the batch probes all
    ``k / rows_per_band`` band values. Dynamic partition pruning appears
    in the plan only when the batch side carries a selective predicate
    (a filtered batch; an unfiltered parquet batch plans
    ``PartitionFilters: [isnotnull(band)]``), and even then it keeps every
    band directory. The guard and the candidate join each read the stored
    table through their own scan rather than a persisted copy, so the
    runtime band filter survives where it appears (pinned by
    ``tests/test_sources_plans.py::test_admit_against_index_band_dpp``).
    """
    # no distinct: a semi-join ignores duplicate build keys, and this
    # broadcast is never larger than bn's own, so a shuffle would buy nothing
    probe = bn.select("band", "sig")
    bo_probed = bo.join(F.broadcast(probe), ["band", "sig"], "semi")
    bo_probed = _drop_hot_buckets(bo_probed, max_band_bucket)
    return (
        F.broadcast(bn)
        .join(bo_probed, ["band", "sig"])
        .select("new_id", "match_id")
        .distinct()
    )


def incremental_admit(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Admission audit for an ingest batch: one row per NEW document —
    ``(id, n_matches, best_match_id, best_jaccard, admitted)`` where the
    best match is the existing-corpus doc with the highest verified
    Jaccard (ties → lower id; ``-1``/``0.0`` sentinels when no match —
    not null, which would coerce to NaN through arrow interchange) and
    ``admitted`` means no near-duplicate already exists in the corpus.
    The ranking window partitions by new-doc id — parallel across the
    batch, never a global sort.

    SCALE NOTE — small-corpus convenience form only: every call
    re-tokenizes and re-hashes ``corpus_df`` from scratch (measured
    exponent 1.16 over corpus size, SCALE_r06.json), so repeated ingest
    against a growing corpus is quadratic in total. The production shape
    is :func:`write_dedup_index` once + :func:`admit_against_index` per
    batch — identical output contract, only the batch tokenized per call,
    corpus never re-tokenized."""
    matches = incremental_near_dups(
        new_df, corpus_df, id_col, text_col, threshold=threshold
    )
    return _admit_rank(new_df, matches, id_col)


def _admit_rank(new_df: DataFrame, matches: DataFrame, id_col: str) -> DataFrame:
    """Fold verified ``(new_id, match_id, jaccard)`` matches into the
    per-new-document admission row (shared by the frame-to-frame and
    materialized-index admission paths).

    Best match = highest jaccard, ties to the LOWEST match id, via a
    row_number window partitioned by new-doc id (parallel across the
    batch). A plain ``(jaccard, -id)`` struct-max would be one shuffle
    cheaper but ``-id`` implicitly casts non-numeric ids to double —
    a string id like ``web-00042`` would become a null best_match_id
    with n_matches > 0, silently corrupting the audit."""
    from pyspark.sql import Window

    id_type = dict(matches.dtypes).get("match_id", "bigint")
    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("match_id").asc()
    )
    best = (
        matches.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_matches",
            F.count(F.lit(1)).over(Window.partitionBy("new_id")).cast("bigint"),
        )
        .where(F.col("__rn") == 1)
        .select("new_id", "n_matches", "match_id", "jaccard")
    )
    return (
        new_df.select(F.col(id_col))
        .join(best.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(*_admission_cols(id_col, id_type))
    )


def _admission_cols(id_col: str, match_type) -> list:
    """The admission row over ``(id_col, n_matches, match_id, jaccard)``,
    where the last three are null for a document without a match."""
    return [
        F.col(id_col),
        F.coalesce("n_matches", F.lit(0).cast("bigint")).alias("n_matches"),
        F.coalesce(F.col("match_id"), F.lit(-1).cast(match_type)).alias("best_match_id"),
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("best_jaccard"),
        (F.col("n_matches").isNull()).alias("admitted"),
    ]


def benchmark_leakage(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = MINHASH_K,
    rows_per_band: int = ROWS_PER_BAND,
    n: int = 3,
) -> DataFrame:
    """Fuzzy benchmark-contamination audit: one row per BENCHMARK document
    — ``(id, n_train_matches, max_jaccard, leaked)`` — where a benchmark
    doc is ``leaked`` when any training document near-duplicates it
    (verified shingle Jaccard ≥ ``threshold`` over MinHash/LSH
    candidates).

    This is the transpose of :func:`incremental_admit`: admission audits
    the incoming batch, leakage audits the EVALUATION set — the report an
    eval-integrity review actually reads ("which MMLU items does the
    training corpus contain, and how exactly?"). Exact-n-gram
    decontamination (``pipeline.decontaminate``) catches verbatim
    inclusion; this catches the paraphrased/reformatted copies exact
    matching misses.

    Plan shape: the benchmark side is the SMALL side, so it plays the
    broadcast batch role of :func:`incremental_near_dups` — the training
    corpus reduces to its band table once, never reshuffles against the
    benchmark, and the corpus-side mega-bucket guard drops boilerplate
    buckets (counted only over probed buckets, O(|bench|)). The fold to
    per-benchmark rows is a count/max aggregation over verified matches —
    map-side combinable, no window needed since only the extremes
    survive.
    """
    matches = incremental_near_dups(
        bench_df, train_df, id_col, text_col,
        k=k, rows_per_band=rows_per_band, threshold=threshold, n=n,
    )
    per = matches.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        bench_df.select(F.col(id_col))
        .join(per.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_train_matches", F.lit(0).cast("bigint")).alias(
                "n_train_matches"
            ),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            F.col("n_train_matches").isNotNull().alias("leaked"),
        )
    )


def decontaminate_fuzzy(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = MINHASH_K,
    rows_per_band: int = ROWS_PER_BAND,
    n: int = 3,
    lineage: bool = False,
) -> DataFrame:
    """Fuzzy benchmark decontamination that ACTS on the leakage audit:
    drop every training document that near-duplicates a benchmark
    document (verified shingle Jaccard ≥ ``threshold`` over MinHash/LSH
    candidates).

    :func:`benchmark_leakage` reports per BENCHMARK doc ("which eval items
    leaked?"); this is the enforcement composition over the TRAINING side
    ("remove the offending train docs before the run"). Exact-n-gram
    decontamination (``pipeline.decontaminate``) catches verbatim
    inclusion; this catches the paraphrased/reformatted copies.

    Default output is ``train_df`` minus the leaked rows — schema
    unchanged, removal via one LEFT ANTI join on ``id_col`` (payload
    columns shuffle only by the anti-join key). ``lineage=True`` instead
    returns the decision audit, one row per TRAINING document:
    ``(id_col, bench_id, jaccard, reason)`` where ``bench_id`` is the
    worst-offending benchmark doc (highest Jaccard, ties to the lowest
    bench id — the same best-match contract as :func:`incremental_admit`),
    ``-1`` sentinel / ``0.0`` for clean docs (nullable ints coerce to
    float NaN in arrow interchange), and ``reason`` is ``clean`` /
    ``leaked_dropped``. Survivors = rows with reason = 'clean', so the
    lineage is a strict superset of the default output's information.

    Plan shape: identical to :func:`benchmark_leakage` — the benchmark is
    the SMALL side and plays the broadcast batch role of
    :func:`incremental_near_dups`, so the training corpus reduces to its
    band table once and never reshuffles against the benchmark; at 100 TB
    the corpus side would be a precomputed :func:`write_dedup_index`. The
    lineage fold is a row_number window partitioned by TRAIN id —
    parallel across the corpus, never a global sort.
    """
    from pyspark.sql import Window

    matches = incremental_near_dups(
        bench_df, train_df, id_col, text_col,
        k=k, rows_per_band=rows_per_band, threshold=threshold, n=n,
    )
    # matches: (new_id = bench doc, match_id = train doc, jaccard)
    if not lineage:
        drop = matches.select(F.col("match_id").alias(id_col)).distinct()
        return train_df.join(drop, on=id_col, how="left_anti")
    bench_id_type = dict(matches.dtypes).get("new_id", "bigint")
    w = Window.partitionBy("match_id").orderBy(
        F.col("jaccard").desc(), F.col("new_id").asc()
    )
    best = (
        matches.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("match_id").alias(id_col),
            F.col("new_id").alias("bench_id"),
            "jaccard",
        )
    )
    return (
        train_df.select(F.col(id_col))
        .join(best, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("bench_id"), F.lit(-1).cast(bench_id_type)).alias(
                "bench_id"
            ),
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
            F.when(F.col("bench_id").isNull(), F.lit("clean"))
            .otherwise(F.lit("leaked_dropped"))
            .alias("reason"),
        )
    )


def write_dedup_index(
    corpus_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    rows_per_band: int = ROWS_PER_BAND,
    n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus side of the incremental dedup as a stored
    index: ``<path>/bands`` (the MinHash band table, parquet PARTITIONED
    BY band) and ``<path>/shingles`` (the exploded (id, shingle) table
    the exact-Jaccard verification joins against). Ingest batches then
    admit via :func:`admit_against_index` without ever re-tokenizing or
    re-hashing the corpus — the production shape where the corpus is
    billions of documents and ingest cost must be O(batch).

    ``<path>/meta`` records the hash parameters (k, rows_per_band, n,
    ``sig_family="affine31"``, sig_coeffs) the index was built with: an
    admit pass hashed with DIFFERENT parameters produces zero band
    collisions and silently admits every near-duplicate, so the readers
    (:func:`admit_against_index`,
    :func:`alphastats_spark.streaming.streaming_index_candidates`) load
    these as defaults and fail loudly on an explicit mismatch. An index
    whose meta records another signature family (or none) must be
    rebuilt with ``mode="overwrite"``; appending to it raises. Written as
    a single-row JSON file, so the index stays portable to any
    Hadoop-compatible filesystem (no driver-local ``open()``)."""
    from alphastats_spark.operators import ordered

    # an APPEND into an existing index must hash with the index's own
    # parameters: band rows hashed with different (k, rows_per_band, n)
    # or a different signature family never collide with the stored
    # corpus's rows, so every near-dup of the original corpus would be
    # silently admitted; and because meta is rewritten below, the
    # mismatch would also be invisible to the readers' FAILFAST checks.
    # Raise at write time instead.
    existing = None
    if mode == "append":
        existing = read_index_meta(corpus_df.sparkSession, path)
        if existing is not None:
            _resolve_index_params(existing, k, rows_per_band, n)
        else:
            # a band table with NO meta is a pre-metadata (legacy) index:
            # its rows may be hashed with ANY parameters, and stamping
            # fresh meta from this call's arguments below would fabricate
            # a parameter record for them — defeating the very mismatch
            # FAILFAST the meta exists for. Appending into nothing (a
            # fresh path) is a plain create and stays allowed.
            from alphastats_spark.sources.maintenance import _hadoop_fs

            fs, jbands = _hadoop_fs(corpus_df.sparkSession, f"{path}/bands")
            if fs.exists(jbands):
                raise ValueError(
                    f"dedup index at {path} has band data but no meta "
                    f"parameter record — appending would stamp meta from "
                    f"this call's (k={k}, rows_per_band={rows_per_band}, "
                    f"n={n}) over rows possibly hashed with different "
                    f"parameters, silently admitting near-duplicates of "
                    f"the stored corpus. Rebuild the index with "
                    f"mode='overwrite'."
                )

    # fully materializing (everything lands on disk), so the shared
    # shingle cache is scoped and released before returning — a long-lived
    # session building one index per tenant must not accumulate persisted
    # shingle frames in the pass-cache registry
    with ordered.pass_cache_scope():
        sh = ordered.persist_tracked(
            _exploded_shingles(corpus_df, id_col, text_col, n, out_id="match_id")
        )
        bands = _band_table(
            _sigs_over_shingles(sh, "match_id", k),
            "match_id", k, rows_per_band,
        )
        # cluster by band before the partitioned write (same rationale as
        # similarity.write_ivf_index): unclustered, every upstream hash
        # partition opens a writer per band it touches — N_tasks × n_bands
        # tiny files per write, each paying open/commit overhead at write
        # AND at every future admit's scan planning. Clustered, a band's
        # rows land in one task → one right-sized file per band per write;
        # at scale ``spark.sql.files.maxRecordsPerFile`` or
        # :func:`compact_dedup_index` splits bands that outgrow one file.
        if mode == "append":
            # Each append batch commits into PRIVATE staging directories
            # and renames the committed files into place
            # (sources.maintenance.promote_staged_parquet): mode("append")
            # writers share <table>/_temporary, so independent ingest
            # batches could never overlap — staged, they run safely from a
            # driver thread pool (guide §2.6; the compaction-cycle gate
            # queries do exactly that). Same stored layout, same files.
            import uuid as _uuid

            from alphastats_spark.sources.maintenance import (
                promote_staged_parquet,
            )

            tag = _uuid.uuid4().hex[:8]
            bands_tmp = f"{path}/bands__append_tmp_{tag}"
            sh_tmp = f"{path}/shingles__append_tmp_{tag}"
            bands.repartition(F.col("band")).write.partitionBy("band").mode(
                "overwrite"
            ).parquet(bands_tmp)
            sh.write.mode("overwrite").parquet(sh_tmp)
            spark = corpus_df.sparkSession
            promote_staged_parquet(spark, bands_tmp, f"{path}/bands")
            promote_staged_parquet(spark, sh_tmp, f"{path}/shingles")
        else:
            bands.repartition(F.col("band")).write.partitionBy("band").mode(
                mode
            ).parquet(f"{path}/bands")
            sh.write.mode(mode).parquet(f"{path}/shingles")
        # meta is ALWAYS overwrite, even when the band/shingle data mode is
        # "append": appending a second meta row would leave the reader to
        # guess which parameter set is live — and if a rebuild appended
        # different parameters, resolving the stale row silently admits
        # every near-duplicate (the reader also fails loudly on multi-row
        # meta, so a pre-fix index raises instead of guessing)
        # sig_coeffs: digest of the affine coefficient prefix this index's
        # band signatures bake in — readers FAILFAST-validate it so a
        # runtime with a divergent coefficient table raises instead of
        # hashing into empty buckets (older affine31 indexes predate the
        # stamp and carry none)
        # one-row metadata is driver work, not a distributed job: the
        # Hadoop FileSystem client writes the single JSON line directly
        # (portable to HDFS/s3a/local like every other index file), where
        # even the JVM-literal one-task Spark write paid ~0.2 s of job
        # scheduling per call — 3 writes per compaction cycle.
        # Layout (meta/part-00000.json, one object per line) is exactly
        # what the previous Spark json writer produced, so old and new
        # indexes stay mutually readable.
        payload = {
            "k": int(k),
            "rows_per_band": int(rows_per_band),
            "n": int(n),
            "version": 2,
            "sig_family": SIG_FAMILY,
            "sig_coeffs": _affine_checksum(int(k)),
        }
        # An append whose parameters already match the stored record (the
        # ONLY legal append — mismatches raised above) rewrites nothing:
        # the delete+rename meta swap is what concurrent appenders would
        # race on, so skipping it makes overlapped appends meta-safe, and
        # it sheds driver I/O either way. Appends into an index whose meta
        # PREDATES a field (old version / missing sig_coeffs) still
        # rewrite — that upgrade path needs its appends serialized.
        if not (
            mode == "append"
            and existing is not None
            and all(getattr(existing, f, None) == payload[f] for f in _META_FIELDS)
        ):
            _write_index_meta_fs(corpus_df.sparkSession, path, payload)


_META_FIELDS = ("k", "rows_per_band", "n", "version", "sig_family", "sig_coeffs")


def _write_index_meta_fs(spark, path: str, payload: dict) -> None:
    """Publish the single-row ``<path>/meta`` parameter record through the
    Hadoop FileSystem client — driver-side metadata I/O, no Spark job.
    Byte layout matches the previous one-task Spark JSON writer
    (``meta/part-00000.json``, one object per line), so indexes written
    before and after this change read identically. The new row lands
    under a dot-prefixed temp name (invisible to readers, which skip
    dot/underscore files exactly like Spark's scan planner) and is
    renamed into place after the old data files are removed."""
    import json as _json

    from alphastats_spark.sources.maintenance import _hadoop_fs

    jvm = spark._jvm
    fs, jdir = _hadoop_fs(spark, f"{path}/meta")
    fs.mkdirs(jdir)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}/meta/.part-00000.json.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(
            (_json.dumps(payload, separators=(",", ":")) + "\n").encode("utf-8")
        ))
    finally:
        out.close()
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if st.isDirectory() or name.startswith("_") or name.startswith("."):
            continue
        fs.delete(st.getPath(), False)
    fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(f"{path}/meta/part-00000.json"))


class _IndexMeta:
    """Attribute-access view of the meta row (the shape a Spark ``Row``
    gave callers; fields missing from older meta read as absent, so
    ``getattr(meta, "sig_coeffs", None)`` keeps working)."""

    def __init__(self, row: dict):
        for f in _META_FIELDS:
            if f in row:
                setattr(self, f, row[f])


def read_index_meta(spark, path: str):
    """The ``(k, rows_per_band, n, sig_family, sig_coeffs)`` parameters
    stored by :func:`write_dedup_index`, or None for a PRE-METADATA index
    (no ``<path>/meta`` directory). Fields missing from an older meta row
    are absent from the result; :func:`_resolve_index_params` refuses a
    row whose ``sig_family`` is not ``"affine31"`` (absent included) and
    asks for a rebuild. Only the missing-path case maps to None: any other read failure
    (transient filesystem error, permission denial, corrupt JSON)
    re-raises — treating it as "no metadata" would silently fall back to
    default hash parameters, i.e. zero band collisions and every
    near-duplicate admitted.

    Read through the Hadoop FileSystem client (same portability as the
    index data; no Spark job for one row of metadata). Every data file
    under ``meta/`` is parsed line-by-line with strict JSON — a
    truncated/corrupt line raises (the FAILFAST posture the previous
    Spark JSON reader enforced), and multi-row meta raises as ambiguous."""
    import json as _json

    from alphastats_spark.sources.maintenance import _hadoop_fs

    jvm = spark._jvm
    fs, jdir = _hadoop_fs(spark, f"{path}/meta")
    if not fs.exists(jdir):
        return None
    rows: list[dict] = []
    for st in sorted(fs.listStatus(jdir), key=lambda s: s.getPath().getName()):
        name = st.getPath().getName()
        if st.isDirectory() or name.startswith("_") or name.startswith("."):
            continue
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(st.getPath()), "UTF-8")
        )
        try:
            while True:
                line = reader.readLine()
                if line is None:
                    break
                if not line.strip():
                    continue
                parsed = _json.loads(line)  # corrupt/truncated line raises
                if not isinstance(parsed, dict):
                    raise ValueError(
                        f"dedup index meta at {path}/meta holds a non-object "
                        f"JSON line; rebuild the index"
                    )
                rows.append(parsed)
        finally:
            reader.close()
    if not rows or rows[0].get("k") is None:
        raise ValueError(
            f"dedup index meta at {path}/meta is empty or corrupt; rebuild the "
            "index (falling back to default hash parameters would silently "
            "admit every near-duplicate)"
        )
    if len(rows) > 1:
        raise ValueError(
            f"dedup index meta at {path}/meta holds {len(rows)} rows — the "
            "index was appended to by a writer with its own meta (or a "
            "pre-fix append-mode build); which hash parameters are live is "
            "ambiguous, and resolving a stale row silently admits every "
            "near-duplicate. Rewrite <path>/meta with the single live "
            "parameter row (or rebuild the index)."
        )
    return _IndexMeta(rows[0])


def compact_dedup_index(
    spark,
    path: str,
    max_files: int = 4,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Periodic maintenance for an appended dedup index: each
    ``write_dedup_index(mode="append")`` batch adds one small parquet
    file per touched ``band=`` directory and to the flat shingle table,
    so at ingest cadence the index hits the classic small-files failure.
    Rewrites only what exceeds ``max_files`` — the band table per
    partition directory, the shingle table as a whole — each into
    ``ceil(bytes/target_bytes)`` files. ``<path>/meta`` (the hash
    parameters the admit path FAILFAST-validates against) is never
    touched. Value-preserving: pinned by the driver-gated
    ``dedup_index_compacted`` query, whose oracle never sees the index.
    Returns ``{"bands": stats, "shingles": stats}`` (see
    :func:`~alphastats_spark.sources.maintenance.compact_partitioned_parquet`).
    """
    from concurrent.futures import ThreadPoolExecutor

    from alphastats_spark.sources.maintenance import compact_partitioned_parquet

    # the two tables live in disjoint directories and share no commit
    # namespace (dynamic-overwrite is a per-write option, not session
    # conf), so their rewrites overlap from a driver thread pool — the
    # shingle write back-fills executors idled by the band table's
    # per-directory tail (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        bands_f = pool.submit(
            compact_partitioned_parquet,
            spark, f"{path}/bands", "band",
            max_files=max_files, target_bytes=target_bytes,
        )
        shingles_f = pool.submit(
            compact_partitioned_parquet,
            spark, f"{path}/shingles", None,
            max_files=max_files, target_bytes=target_bytes,
        )
        return {"bands": bands_f.result(), "shingles": shingles_f.result()}


def _resolve_index_params(meta, k, rows_per_band, n, allow_defaults=False):
    """Fill None parameters from index metadata and return
    ``(k, rows_per_band, n)``; raise on an explicit value that
    contradicts what the index was built with — a silent mismatch yields
    zero band collisions, i.e. every near-duplicate admitted.

    The index must record ``sig_family="affine31"`` (:data:`SIG_FAMILY`).
    A PRE-METADATA index (``meta is None``), or a meta row naming another
    family or none, raises: its band signatures were hashed by a family
    this runtime cannot reproduce, so it must be rebuilt with
    :func:`write_dedup_index`.

    A meta row carrying a ``sig_coeffs`` stamp is validated against this
    runtime's frozen coefficient table (:func:`_affine_checksum`);
    divergence raises. ``allow_defaults=True`` is the one deliberate
    exception to the meta requirement — the no-``index_path`` streaming
    form, whose documented contract is lockstep with the CURRENT module
    defaults: the caller opted out of metadata entirely, not inherited a
    stale index.
    """
    if meta is None and not allow_defaults:
        raise ValueError(
            "dedup index has no <path>/meta parameter record, so the hash "
            "parameters its bands were built with are unknown — hashing "
            "with different ones yields zero band collisions (every "
            "near-duplicate admitted). Rebuild the index with "
            "write_dedup_index(mode='overwrite'), which records them."
        )
    if meta is not None:
        family = getattr(meta, "sig_family", None)
        if family != SIG_FAMILY:
            raise ValueError(
                f"dedup index meta records MinHash signature family "
                f"{family!r}, but only {SIG_FAMILY!r} is supported — "
                "banding a batch with a different family yields zero "
                "collisions (every near-duplicate admitted). Rebuild the "
                "index with write_dedup_index(mode='overwrite')."
            )
    resolved = []
    for name, given, default in (
        ("k", k, MINHASH_K),
        ("rows_per_band", rows_per_band, ROWS_PER_BAND),
        ("n", n, 3)
    ):
        stored = getattr(meta, name, None) if meta is not None else None
        if given is None:
            resolved.append(int(stored) if stored is not None else default)
        else:
            if stored is not None and int(given) != int(stored):
                raise ValueError(
                    f"{name}={given} does not match the index (built with "
                    f"{name}={int(stored)}); a mismatched hash yields zero "
                    "band collisions and admits every near-duplicate"
                )
            resolved.append(int(given))
    stored_coeffs = getattr(meta, "sig_coeffs", None)
    if stored_coeffs is not None:
        # the index's band signatures bake the coefficient prefix in;
        # a runtime whose _AFFINE_TABLE diverged (edited, truncated,
        # reordered) would hash every batch into empty buckets — fail
        # loudly instead. Older meta has no stamp (null) and is valid by
        # construction: the table is frozen source.
        current = _affine_checksum(int(resolved[0]))
        if stored_coeffs != current:
            raise ValueError(
                f"dedup index records affine coefficient checksum "
                f"{stored_coeffs!r} but this runtime's frozen table "
                f"yields {current!r} for k={resolved[0]} — the "
                "coefficient source diverged from the one the index "
                "was built with, so banding would yield zero "
                "collisions (every near-duplicate admitted). Use a "
                "runtime with the original _AFFINE_TABLE or rebuild "
                "the index."
            )
    return tuple(resolved)


# Admission batches whose band candidates with their batch ids, and the
# shingle rows that verify them, each number at most this many are verified
# and ranked on the driver (see admit_against_index). Timed with each path
# forced (local[3] on a 4-core VM, 10k-document index, batches with 10%
# planted copies; best warm run, one cold run at 100k; Python driver peak
# RSS):
#
#   batch docs   shingle rows   driver path s   distributed s   driver RSS MB
#        1,000         42k            3.3             9.2              152
#        2,000         84k            4.3             8.3              159
#        3,000        125k            5.3            10.5              166
#        5,000        208k            7.8            14.4              181
#       10,000        411k           16.4            23.2              216
#      100,000  ~4M (est.)          127.9           118.7              706
#
# The paths cross between 0.4M and 4M rows. The bound sits at half the
# largest measured win and adds ~35 MB to the driver.
DRIVER_ADMIT_MAX_ROWS = 200_000


def admit_against_index(
    new_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    rows_per_band: int | None = None,
    threshold: float = 0.5,
    n: int | None = None,
) -> DataFrame:
    """:func:`incremental_admit` against a MATERIALIZED corpus index
    (:func:`write_dedup_index`): same output contract, but only the new
    batch is tokenized/hashed — the corpus band and shingle tables come
    off parquet. The batch band table broadcasts, so the stored band table
    never reshuffles; its scan still reads every band partition (see
    :func:`_band_candidates`).

    The path is chosen by size, like a broadcast join. The band candidates
    are collected, bounded by N = :data:`DRIVER_ADMIT_MAX_ROWS` rows, and
    so are every batch id and the shingles of the candidate documents on
    both sides. If both fit, the candidates are
    verified and ranked on the driver (:func:`_admit_on_driver`): only the
    candidate corpus documents' shingles are hashed, and the result is a
    materialized local frame (no further job when collected) whose values,
    types and nullability equal the distributed path's. This path releases
    its own pass caches before returning. Otherwise the distributed
    verify + rank plan is returned lazily, and it hashes and sizes the
    whole stored shingle table.

    ``k``/``rows_per_band``/``n`` default to the parameters stored in
    the index's ``meta`` table (stored meta ALWAYS wins over module
    defaults, so an index built under older defaults keeps admitting
    correctly after a default flip); passing explicit values that
    contradict the index raises (zero band collisions ⇒ every near-dup
    admitted). An index with no meta, or whose meta records a signature
    family other than ``"affine31"``, raises and must be rebuilt (see
    :func:`_resolve_index_params`)."""
    from pyspark.sql import types as T

    from alphastats_spark.operators import ordered

    from alphastats_spark.functions.text import hash_key60

    spark = new_df.sparkSession
    k, rows_per_band, n = _resolve_index_params(
        read_index_meta(spark, index_path), k, rows_per_band, n
    )
    bo = spark.read.parquet(f"{index_path}/bands")
    # both tables are written from one frame, so the shingle table's schema
    # is known and its read skips the schema-inference job
    sh_o = spark.read.schema(
        T.StructType([bo.schema["match_id"], T.StructField("shingle", T.StringType())])
    ).parquet(f"{index_path}/shingles")
    # batch side persists the 60-bit key: one md5 per batch shingle for
    # signatures + verify join + sizes. The STORED corpus side stays raw —
    # the index format is unchanged and its hashing remains a scan-side
    # projection.
    mark = ordered.pass_cache_mark()
    sh_n = ordered.persist_tracked(
        _exploded_shingles(new_df, id_col, text_col, n, out_id="new_id")
        .select(F.col("new_id"), hash_key60(F.col("shingle")).alias("__h60"))
    )
    # persisted: the band probe and the broadcast candidate join both read
    # it, and the signature aggregate should run once
    bn = ordered.persist_tracked(_band_table(
        _sigs_over_shingles(sh_n, "new_id", k, base60_col="__h60"),
        "new_id", k, rows_per_band,
    ))
    local = _admit_on_driver(new_df, id_col, _band_candidates(bn, bo), sh_n, sh_o, threshold)
    if local is not None:
        ordered.release_own_pass_caches(mark)
        return local
    matches = _verified_matches(bn, bo, sh_n, sh_o, threshold)
    return _admit_rank(new_df, matches, id_col)


def _admit_on_driver(
    new_df: DataFrame,
    id_col: str,
    cands: DataFrame,
    sh_n: DataFrame,
    sh_o: DataFrame,
    threshold: float,
) -> DataFrame | None:
    """The small-input half of :func:`admit_against_index`: verify and
    rank the band candidates on the driver, or return None when the
    candidates, or the rows needed to verify them, exceed
    :data:`DRIVER_ADMIT_MAX_ROWS`.

    Two bounded collects through Arrow. The first is every batch id
    left-joined to its candidate match ids. It is the query that scans the
    stored band table, and the join to the batch is what lets a selective
    batch predicate reach that scan as a dynamic partition filter (the
    predicate is inferred onto the candidate side). The second is a tagged
    union of the candidate batch documents' hashed shingles (tag 1) and
    the candidate corpus documents' shingles (tag 2), semi-joined to the
    candidate ids before they are hashed. The values are the SQL path's:
    ``common`` is the multiset intersection (the verify join pairs every
    equal hash), sizes are row counts, a null id never matches, and
    ``jaccard`` is Spark's own ``round(c / s, 7)``, folded over a local
    relation rather than computed with Python's rounding."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from alphastats_spark.functions.text import hash_key60

    cap = DRIVER_ADMIT_MAX_ROWS
    spark = new_df.sparkSession
    id_type = new_df.schema[id_col].dataType
    match_type = cands.schema["match_id"].dataType

    def local(columns, schema: T.StructType) -> DataFrame:
        # built through Arrow, so it plans as a LocalRelation
        return spark.createDataFrame(pa.table(
            [pa.array(c, to_arrow_type(f.dataType)) for c, f in zip(columns, schema)],
            names=schema.names,
        ), schema)

    found = (
        new_df.select(F.col(id_col).alias("new_id"))
        .join(F.broadcast(cands.where(F.col("match_id").isNotNull())), "new_id", "left")
        .limit(cap + 1)
        .toArrow()
    )
    if found.num_rows > cap:
        return None
    found_rows = list(zip(found["new_id"].to_pylist(), found["match_id"].to_pylist()))
    # a batch row comes back once per candidate of its id (once, with a
    # null match, without one), so the rows holding its id's first
    # candidate are exactly the batch rows
    first: dict = {}
    for a, b in found_rows:
        first.setdefault(a, b)
    batch_ids = [a for a, b in found_rows if b == first[a]]
    pairs = list(dict.fromkeys((a, b) for a, b in found_rows if b is not None))

    def ids(values, name: str, dtype) -> DataFrame:
        # one broadcast semi-join filters by any number of ids (an isin
        # list costs a JVM call per value)
        return F.broadcast(local([list(set(values))], T.StructType([T.StructField(name, dtype)])))

    grams: tuple = ({}, {})  # per side: doc id -> {hash: rows}
    if pairs:
        rows = (
            sh_n.join(ids((a for a, _ in pairs), "new_id", id_type), "new_id", "semi")
            .select(F.lit(1).alias("tag"), "new_id",
                    F.lit(None).cast(match_type).alias("match_id"), F.col("__h60").alias("h"))
            .unionAll(
                sh_o.join(ids((b for _, b in pairs), "match_id", match_type), "match_id", "semi")
                .select(F.lit(2), F.lit(None).cast(id_type), "match_id",
                        hash_key60(F.col("shingle")))
            )
            .limit(cap + 1)
            .toArrow()
        )
        if rows.num_rows > cap:
            return None
        cols = (rows[c].to_pylist() for c in ("tag", "new_id", "match_id", "h"))
        for tag, a, b, h in zip(*cols):
            counts = grams[tag - 1].setdefault(a if tag == 1 else b, {})
            counts[h] = counts.get(h, 0) + 1
    verified = []
    for a, b in pairs:
        ga, gb = grams[0][a], grams[1].get(b, {})
        common = sum(c * gb.get(h, 0) for h, c in ga.items())
        if common:
            verified.append((a, b, common, sum(ga.values()), sum(gb.values())))

    best: dict = {}  # new id -> [n_matches, best match id, its jaccard]
    if verified:
        scored = (
            local(
                [range(len(verified)), *list(zip(*verified))[2:]],
                T.StructType([T.StructField(c, T.LongType())
                              for c in ("i", "common", "size_a", "size_b")]),
            )
            .select(
                "i",
                F.round(
                    F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")), 7
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
            .collect()
        )
        for i, jac in scored:
            a, b = verified[i][:2]
            cur = best.get(a)
            if cur is None:
                best[a] = [1, b, jac]
            else:
                cur[0] += 1
                # highest jaccard, ties to the lowest match id
                if jac > cur[2] or (jac == cur[2] and b < cur[1]):
                    cur[1:] = [b, jac]

    got = [best.get(a) for a in batch_ids]
    return local(
        [batch_ids, *([g and g[j] for g in got] for j in range(3))],
        T.StructType([
            new_df.schema[id_col],
            T.StructField("n_matches", T.LongType()),
            T.StructField("match_id", match_type),
            T.StructField("jaccard", T.DoubleType()),
        ]),
    ).select(*_admission_cols(id_col, match_type))


#: Default document-frequency cap for the containment self-join. A shingle
#: shared by D documents contributes D² join rows; at corpus scale a single
#: boilerplate trigram (license header, nav bar) makes D ~ 1% of the corpus
#: and the join quadratic. 1000 is far above any honest co-occurrence at
#: the tested scales (sf0.01 max df ≈ 60) while bounding the hot-key cost
#: to 10⁶ rows per shingle at ANY corpus size — the safe-by-default 100 TB
#: configuration. Pass ``max_shingle_df=None`` for the exact uncapped join.
CONTAINMENT_MAX_SHINGLE_DF = 1000


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = CONTAINMENT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Asymmetric shingle containment ``|A∩B| / |A|``: document A is
    (mostly) contained in document B. Catches the duplication Jaccard
    structurally misses — a short document quoted whole inside a long one
    has tiny Jaccard (union is large) but containment ≈ 1, which is why
    production pipelines (e.g. the Pile's and RefinedWeb's doc-in-doc
    passes) threshold containment, not similarity, for wrapper/quote dups.

    Output: ``(contained_id, container_id, containment ≥ threshold)``,
    both directions of every co-shingled pair considered. Same plan shape
    and skew guard as :func:`ngram_jaccard_pairs` — the pair generation is
    one shingle equi-join computed ONCE (a < b), then both direction rows
    derive from the same common-count table, so containment costs no more
    than Jaccard. Rounded before thresholding for cross-engine stability.

    Unlike the Jaccard variant, the skew cap DEFAULTS ON
    (``max_shingle_df=CONTAINMENT_MAX_SHINGLE_DF``): containment is the
    one pass whose semantics *invite* boilerplate-heavy corpora (wrapper
    detection), so the unguarded self-join is the unsafe default. Capping
    drops hot shingles from the *common* count only (per-document sizes
    stay exact), so capped containment is a slight underestimate — and
    exactly equal to the uncapped result whenever no shingle's document
    frequency exceeds the cap (pinned by
    ``tests/test_functions.py::test_containment_cap_noop_below_df``).

    .. warning:: BEHAVIOR CHANGE: the default was once ``max_shingle_df=
       None`` (uncapped). Default callers on corpora where
       boilerplate shingles exceed df 1000 now get capped — i.e.
       underestimated — containment, and a pair of documents composed
       mostly of hot shingles can drop below ``threshold``. Pass
       ``max_shingle_df=None`` explicitly to restore the exact (but
       skew-unsafe) behavior.

    Shingles shuffle as 60-bit hashes, not raw gram strings — see
    :func:`_hashed_shingles` for the width/collision reasoning.
    """
    from alphastats_spark.operators import ordered

    sh = ordered.persist_tracked(_hashed_shingles(df, id_col, text_col, n))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(dfreq.where(F.col("__df") <= max_shingle_df), "shingle").drop("__df")
    left = sh.alias("l")
    right = sh.alias("r")
    common = (
        left.join(
            right,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("size_b"))
    # plain joins (AQE broadcasts when small) — sizes is corpus-sized
    scored = common.join(sa, "id_a").join(sb, "id_b")
    fwd = scored.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        F.round(F.col("common") / F.col("size_a"), 7).alias("containment"),
    )
    rev = scored.select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        F.round(F.col("common") / F.col("size_b"), 7).alias("containment"),
    )
    return fwd.unionByName(rev).where(F.col("containment") >= threshold)


def _deletion_variants(s: Column, max_distance: int) -> Column:
    """All strings reachable from ``s`` by deleting up to ``max_distance``
    characters (the string itself included), distinct, as array<string>.

    Built by ``max_distance`` rounds of single-deletion expansion over the
    previous round's variants — |variants| is O(len^d), so this is meant
    for short keys (titles, names, codes) at d <= 2."""
    variants = F.array(s)
    for _ in range(max_distance):
        one_del = F.flatten(
            F.transform(
                variants,
                lambda v: F.when(
                    F.length(v) > 0,
                    F.transform(
                        F.sequence(F.lit(1), F.length(v)),
                        lambda i: F.concat(
                            F.substring(v, F.lit(1), i - 1),
                            v.substr(i + 1, F.length(v)),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        )
        variants = F.array_distinct(F.concat(variants, one_del))
    return variants


def edit_distance_join(
    df: DataFrame,
    max_distance: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT edit-distance self-join: all pairs with Levenshtein distance
    <= ``max_distance``, without the O(n²) cross join — the fuzzy-match
    primitive for near-identical titles/names/URLs in a training corpus.

    Deletion-neighborhood blocking (FastSS — Bocek et al. 2007, "Fast
    Similarity Search in Big Data and On-line Dictionaries"; popularized
    as SymSpell): if lev(a, b) <= d then deleting the <= d mismatched
    alignment positions from each side yields a COMMON string, so the
    <=d-deletion neighborhoods intersect — candidate generation is a plain
    equi-join on deletion variants, with zero false negatives. A shared
    variant only bounds the distance by 2d, so candidates are verified
    with the exact JVM ``levenshtein`` before anything is emitted.

    Scale shape: one projection explodes each key into its <= O(len^d)
    variants (distinct per key), one equi-join on the variant string, one
    distinct on the surviving id pair, one vectorized levenshtein filter —
    no window, no driver loop, no cartesian anywhere. Variant-bucket fan-out
    is structurally bounded: a variant is a near-full-length string, so a
    hot bucket means a genuinely repetitive key family — exactly the rows
    the join is meant to find. Keys are carried through the variant table
    (right for short keys; for long ``text_col`` values pre-project a
    truncated or normalized join key instead — edit distance on multi-KB
    strings is the wrong tool).

    Output: ``id_a < id_b``, both key strings, and the exact ``distance``
    (int). ``max_distance`` is intended for d in {1, 2}.
    """
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    from alphastats_spark.operators import ordered

    base = df.select(F.col(id_col), F.col(text_col))
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        base = base.repartition(target, F.col(id_col))
    vart = ordered.persist_tracked(
        base.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(_deletion_variants(F.col(text_col), max_distance)).alias("__v"),
        )
    )
    a = vart.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"), "__v"
    )
    b = vart.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"), "__v"
    )
    pairs = (
        a.join(b, "__v")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "text_a", "text_b")
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        "text_a",
        "text_b",
        F.levenshtein("text_a", "text_b").cast("int").alias("distance"),
    ).where(F.col("distance") <= max_distance)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS scheme): hash every POSITIONAL token k-gram,
    slide a window over ``window`` consecutive hashes, and keep each
    window's minimum. The guarantee: any shared run of
    ``k + window − 1`` tokens between two documents contributes at
    least one shared fingerprint, at roughly ``2/(window+1)`` of the
    full k-gram posting volume — the local, position-robust middle
    ground between exact-substring dedup (every k-gram) and MinHash
    (global, order-blind). Join the output on ``fingerprint`` (the
    :func:`paragraph_duplicates` equi-join shape, df-capped) to get
    candidate plagiarism/boilerplate pairs.

    Output: DISTINCT ``(id_col, fingerprint)`` rows, fingerprint = the
    canonical 60-bit md5 key (:func:`~alphastats_spark.functions.text.
    hash_key60`) so the DuckDB oracle mirrors it verbatim. Documents
    shorter than ``k`` tokens yield no rows; documents with fewer than
    ``window`` k-grams yield the single global-minimum fingerprint
    (the standard short-document degeneration).

    Plan shape at 100 TB: three stateless array projections over the
    scan (tokens → gram hashes → window minima, each bound in its OWN
    select — interpreted HOF lambdas re-evaluate closed-over
    subexpressions per element, see :func:`_grams_over`) and one
    explode; no shuffle at all until the caller aggregates or joins the
    fingerprint column.

    Two physical guards (profiled: without them this operator took >27
    MINUTES at sf0.1, against ~1 s with them):

    * the explode is ``explode_outer`` + an ``IS NOT NULL`` filter on
      the GENERATED column, not a plain ``explode`` of the projected
      array: for a bare-attribute child, ``InferFiltersFromGenerate``
      injects ``size(__f) > 0`` under the Generate and predicate
      pushdown then substitutes the WHOLE winnow expression chain into
      that filter through every projection — the full tokenize → gram →
      window pipeline re-evaluated per row inside an interpreted
      filter, with the nested lambdas re-running ``normalize`` per
      element (the :func:`_grams_over` trap, squared). An outer
      generate infers no filter, and the null-filter sits above the
      Generate where nothing can substitute into it; fingerprints are
      md5-derived and never legitimately null, so only the empty/short
      documents the inner explode dropped anyway are removed.
    * the small-scan spread guard of :func:`_exploded_shingles`: a small
      parquet corpus arrives as one partition and would serialize the
      whole interpreted gram-hash compute onto one core.
    """
    from alphastats_spark.functions.text import hash_key60, tokens

    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(id_col))
    toksed = df.select(
        F.col(id_col), tokens(normalize(F.col(text_col))).alias("__toks")
    )
    grams = toksed.select(
        F.col(id_col),
        F.when(
            F.size("__toks") >= k,
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - (k - 1)),
                lambda i: hash_key60(
                    F.concat_ws(" ", F.slice(F.col("__toks"), i, k))
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>")).alias("__g"),
    )
    wins = grams.select(
        F.col(id_col),
        F.when(
            F.size("__g") > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.lit(1), F.size("__g") - (window - 1)),
                    ),
                    lambda j: F.array_min(F.slice(F.col("__g"), j, window)),
                )
            ),
        ).otherwise(F.array().cast("array<bigint>")).alias("__f"),
    )
    return wins.select(
        F.col(id_col), F.explode_outer("__f").alias("fingerprint")
    ).where(F.col("fingerprint").isNotNull())
