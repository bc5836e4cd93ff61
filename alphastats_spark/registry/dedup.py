"""Dedup family: exact, fuzzy, MinHash-LSH, SimHash, streaming and
index-backed deduplication, each against an independent DuckDB oracle."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from alphastats_spark.functions import dedup
from alphastats_spark.registry.shared import (
    ROUND,
    _NORM_SQL,
    _NULLS_DOCS_CTE,
    _SHINGLE_CTE,
    _SHINGLE_HASH_CTE,
    _band_values_sql,
    _collect_in_scratch,
    _docs,
    _docs_nulled,
    _gate_stream,
    _mh_sql,
)
from alphastats_spark.streaming import (
    streaming_dedup_candidates,
    streaming_exact_dedup,
    streaming_index_candidates,
    streaming_url_dedup,
)


def _url_feed_expr():
    """The deterministic injected-URL column shared by the batch and
    streaming URL-dedup gates (see the doc_url_dedup comment block)."""
    s, p, k = F.col("doc_id") % 5, F.col("doc_id") % 25, F.col("doc_id") % 3
    v = F.col("doc_id") % 4
    return (
        F.when(F.col("doc_id") % 10 == 9, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 20 == 7,
              F.lit("https://mal.example/a b?x=1"))
        .when(v == 0, F.concat(
            F.lit("https://site"), s, F.lit(".example/p/"), p))
        .when(v == 1, F.concat(
            F.lit("HTTPS://WWW.Site"), s, F.lit(".Example:443/p/"), p,
            F.lit("#frag")))
        .when(v == 2, F.concat(
            F.lit("https://site"), s, F.lit(".example/p/"), p,
            F.lit("/?utm_source=x&gclid=1")))
        .otherwise(F.concat(
            F.lit("https://site"), s, F.lit(".example:443/p/"), p,
            F.lit("?id="), k, F.lit("&utm_campaign=z")))
    )


#: Independent DuckDB re-implementation of text.canonical_url over the
#: injected feed above: WITH urls (the feed) → c0 (fragment strip) →
#: parts (scheme/host/rest extraction) → hosts (www + default-port) →
#: pq (path split + tracking-param filter) → canon (full-pattern guard +
#: reassembly). Shared by the batch and streaming URL-dedup oracles,
#: which append their own final SELECT over `canon`.
_URL_CANON_SQL = r"""
WITH urls AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 = 9 THEN NULL
         WHEN doc_id % 20 = 7 THEN 'https://mal.example/a b?x=1'
         WHEN doc_id % 4 = 0 THEN
           'https://site' || (doc_id % 5) || '.example/p/' || (doc_id % 25)
         WHEN doc_id % 4 = 1 THEN
           'HTTPS://WWW.Site' || (doc_id % 5) || '.Example:443/p/'
             || (doc_id % 25) || '#frag'
         WHEN doc_id % 4 = 2 THEN
           'https://site' || (doc_id % 5) || '.example/p/' || (doc_id % 25)
             || '/?utm_source=x&gclid=1'
         ELSE
           'https://site' || (doc_id % 5) || '.example:443/p/'
             || (doc_id % 25) || '?id=' || (doc_id % 3) || '&utm_campaign=z'
    END AS url
  FROM documents),
c0 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM urls),
parts AS (
  SELECT doc_id, url, u,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?\s]+)', 1)) AS host0,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?\s]+([/?][^\s]*)?$', 1) AS rest
  FROM c0),
hosts AS (
  SELECT *, CASE WHEN scheme = 'http'
                   THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':80$', '')
                 WHEN scheme = 'https'
                   THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':443$', '')
                 ELSE regexp_replace(host0, '^www\.', '') END AS host
  FROM parts),
pq AS (
  SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS path0,
         -- COALESCE: duckdb's array_to_string returns NULL on an empty
         -- list where Spark's array_join returns '' (tracking-only query)
         COALESCE(array_to_string(list_filter(
             string_split(regexp_extract(rest, '^[^?]*\?(.*)$', 1), '&'),
             x -> NOT regexp_matches(
                 x, '^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid)(=.*)?$')),
           '&'), '') AS q
  FROM hosts),
canon AS (
  SELECT doc_id,
    -- full-pattern guard mirrors text.URL_CANONICAL_FULL_PATTERN: a URL
    -- whose tail the anchored rest regex can't match (whitespace in the
    -- path) must go NULL, not truncate to scheme://host
    CASE WHEN url IS NULL OR scheme = '' OR host = ''
           OR NOT regexp_matches(
               u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?\s]+([/?][^\s]*)?$')
         THEN NULL
         ELSE scheme || '://' || host
              || (CASE WHEN regexp_replace(path0, '(.)/$', '\1') = '/'
                       THEN '' ELSE regexp_replace(path0, '(.)/$', '\1') END)
              || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
    END AS canonical_url
  FROM pq)
"""


def _simhash_cte() -> str:
    """Shared CTE chain ending in ``sigs(doc_id, simhash)`` — used by the
    signature gate and the banded near-dup pair gate."""
    sums = ", ".join(
        f"SUM(((h >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(dedup.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END"
        for i in range(dedup.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || SUBSTR(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
),
bits AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, ({sig}) AS simhash FROM bits)"""


def _simhash_sql() -> str:
    return _simhash_cte() + "\nSELECT doc_id, simhash FROM sigs"


def register(add) -> None:
    """Register the dedup queries through ``add(name, query, oracle)``."""
    # URL-level dedup (text.canonical_url + dedup.url_dedup): deterministic
    # injected URLs exercise every canonicalization rule — doc_id%4 picks a
    # variant (plain / CASE+www+:443+fragment / trailing-slash+tracking-only
    # query / :443+kept-param+tracking), doc_id%10==9 injects NULLs (keep-
    # self path), doc_id%20==7 injects one shared MALFORMED URL (whitespace
    # in the path — the full-pattern guard must NULL it so the rows keep
    # themselves; a canonicalizer that truncated instead would collide them
    # all at 'https://mal.example'). Variants 0-2 of one (site, page) collapse to
    # one canonical; variant 3 keeps its ?id= param. The oracle re-implements
    # the whole rewrite chain independently in DuckDB SQL (regexp_extract /
    # list_filter / window MIN), so string-exact canonical parity is hashed.
    # The feed expr and the oracle's urls→canon CTE chain are shared with
    # the streaming twin below (_url_feed_expr / _URL_CANON_SQL).
    def _url_dedup(spark, sf_dir):
        d = _docs(spark, sf_dir)
        return dedup.url_dedup(d.select("doc_id", _url_feed_expr().alias("url")))

    add("doc_url_dedup", _url_dedup, _URL_CANON_SQL + r"""
SELECT doc_id, canonical_url,
       CASE WHEN canonical_url IS NULL THEN doc_id
            ELSE MIN(doc_id) OVER (PARTITION BY canonical_url) END AS kept_id,
       (CASE WHEN canonical_url IS NULL THEN doc_id
             ELSE MIN(doc_id) OVER (PARTITION BY canonical_url) END) <> doc_id
         AS is_dup
FROM canon""")

    # Streaming twin (streaming.streaming_url_dedup): the SAME injected URL
    # feed arrives in TWO micro-batches (maxFilesPerTrigger=1 over
    # mtime-ordered files, ids < 250 first) so canonical groups straddle the
    # batch boundary and the cross-batch state path (reject against a
    # canonical owned by an EARLIER batch) is the one driver-checked;
    # null/malformed canonicals transit the stateless keep-self branch.
    # Because the earlier batch holds the smaller ids and within-batch ties
    # go to min id, first-seen == min(doc_id) per canonical — the same
    # window the batch oracle uses. The scaffold pins one non-empty
    # micro-batch per slice; the query checks that at least one canonical
    # group actually straddles the boundary.
    def _url_dedup_streaming(spark, sf_dir):
        feed = _docs(spark, sf_dir).select("doc_id", _url_feed_expr().alias("url"))
        tbl, _ = _gate_stream(
            spark,
            [feed.where(F.col("doc_id") < 250), feed.where(F.col("doc_id") >= 250)],
            "doc_id bigint, url string",
            lambda stream, _: streaming_url_dedup(stream),
            "as_surl_",
        )
        tbl = tbl.select("doc_id", "canonical_url", "first_id", "admitted")
        # a row with id >= 250 rejected against an owner from batch 0
        straddle = tbl.where(
            ~F.col("admitted") & (F.col("doc_id") >= 250) & (F.col("first_id") < 250)
        )
        if straddle.limit(1).count() == 0:
            raise AssertionError("no canonical group straddled the micro-batch boundary")
        return tbl

    add("doc_url_dedup_streaming", _url_dedup_streaming, _URL_CANON_SQL + r"""
SELECT doc_id, canonical_url,
       CASE WHEN canonical_url IS NULL THEN doc_id
            ELSE MIN(doc_id) OVER (PARTITION BY canonical_url) END AS first_id,
       (canonical_url IS NULL
        OR doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url)) AS admitted
FROM canon""")

    # ---- deduplication ----------------------------------------------------
    _exact_sql = f"""SELECT md5({_NORM_SQL}) AS fingerprint,
       MIN(doc_id) AS representative, COUNT(*) AS copies
FROM documents GROUP BY 1"""

    add("dedup_exact",
        lambda spark, sf_dir: dedup.exact_duplicates(_docs(spark, sf_dir)),
        _exact_sql)

    # adversarial null sweep, dedup family: null texts hash to a null
    # fingerprint (one group — both engines group nulls together), empty
    # texts to md5('') — both boundaries driver-checked
    add("dedup_exact_nulls",
        lambda spark, sf_dir: dedup.exact_duplicates(_docs_nulled(spark, sf_dir)),
        f"WITH {_NULLS_DOCS_CTE}\n{_exact_sql}")

    # Corpus-wide duplicate-paragraph removal (dedup.paragraph_dedup): the
    # synthetic docs are single-line, so multi-paragraph texts are injected
    # deterministically — doc_id%10==9 NULL text (backfill path), %20==7
    # two corpus-hot footer lines ONLY (all-dropped ⇒ text_clean=''),
    # otherwise text + a hot 'footer k' (k = id%7, ~60 copies each at
    # sf0.01 > max_copies=2 ⇒ dropped) + a singleton 'unique line id'
    # (kept). The oracle re-derives the whole explode→count→filter→
    # reassemble chain independently in DuckDB (positional unnest +
    # string_agg ORDER BY pos).
    def _para_dedup(spark, sf_dir):
        d = _docs(spark, sf_dir)
        multi = d.select(
            "doc_id",
            F.when(F.col("doc_id") % 10 == 9, F.lit(None).cast("string"))
            .when(
                F.col("doc_id") % 20 == 7,
                F.lit("shared footer alpha\nshared footer beta"),
            )
            .otherwise(
                F.concat_ws(
                    "\n",
                    F.col("text"),
                    F.concat(
                        F.lit("footer "),
                        (F.col("doc_id") % 7).cast("string"),
                    ),
                    F.concat(
                        F.lit("unique line "), F.col("doc_id").cast("string")
                    ),
                )
            )
            .alias("text"),
        )
        return dedup.paragraph_dedup(multi, max_copies=2)

    _para_norm = (
        r"trim(regexp_replace(regexp_replace(lower(para), '[^a-z0-9\s]',"
        r" ' ', 'g'), '\s+', ' ', 'g'))"
    )
    # Winnowing fingerprints (dedup.winnow_fingerprints; Schleimer,
    # Wilkerson & Aiken, SIGMOD 2003): positional k-gram 60-bit md5
    # hashes, per-window minima, distinct per doc. Three stateless
    # array projections + one explode — zero shuffle; the oracle
    # mirrors the hash verbatim and the same window/short-doc
    # degeneration (fewer than `window` grams -> the single global
    # minimum; fewer than k tokens -> no rows).
    _win_k, _win_w = 4, 3
    add("doc_winnow_fingerprints",
        lambda spark, sf_dir: dedup.winnow_fingerprints(
            _docs(spark, sf_dir), k=_win_k, window=_win_w),
        f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
tk AS (
  SELECT doc_id,
         list_filter(string_split(nt, ' '), t -> t <> '') AS toks
  FROM norm
),
g AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= {_win_k} THEN list_transform(
      range(1, len(toks) - {_win_k} + 2),
      i -> CAST(CONCAT('0x', substr(md5(
             array_to_string(toks[i:i+{_win_k - 1}], ' ')), 1, 15))
           AS BIGINT))
    ELSE [] END AS gh
  FROM tk
),
w AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(gh) - {_win_w - 1}, 1) + 1),
    j -> list_min(gh[j:j+{_win_w - 1}]))) AS fps
  FROM g WHERE len(gh) > 0
)
SELECT doc_id, unnest(fps) AS fingerprint FROM w""")

    add("doc_paragraph_dedup", _para_dedup, rf"""
WITH inj AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 = 9 THEN NULL
         WHEN doc_id % 20 = 7 THEN
           'shared footer alpha' || chr(10) || 'shared footer beta'
         ELSE text || chr(10) || 'footer ' || (doc_id % 7)
              || chr(10) || 'unique line ' || doc_id
    END AS text
  FROM documents),
lists AS (SELECT doc_id, string_split_regex(text, '\r?\n') AS l FROM inj),
p AS (
  SELECT doc_id, pos, l[pos] AS para
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS pos
        FROM lists)
  WHERE trim(l[pos]) <> ''),
h AS (SELECT doc_id, pos, para, md5({_para_norm}) AS hh FROM p),
hot AS (SELECT hh FROM h GROUP BY hh HAVING COUNT(*) > 2),
fl AS (SELECT h.*, hh IN (SELECT hh FROM hot) AS is_hot FROM h),
reb AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
    CAST(COUNT(*) FILTER (is_hot) AS BIGINT) AS n_dropped,
    COALESCE(string_agg(CASE WHEN NOT is_hot THEN para END, chr(10)
                        ORDER BY pos), '') AS text_clean
  FROM fl GROUP BY doc_id)
SELECT d.doc_id, reb.text_clean,
  COALESCE(reb.n_paragraphs, 0) AS n_paragraphs,
  COALESCE(reb.n_dropped, 0) AS n_dropped
FROM documents d LEFT JOIN reb USING (doc_id)""")

    # N-gram novelty vs a reference corpus (dedup.ngram_novelty): ref =
    # the doc_id%3==0 slice, every doc scored against it — ref members
    # exercise the novelty≈0 path (their grams are in the vocabulary by
    # construction), the rest the mixed path. Oracle re-derives the
    # distinct-gram vocabulary + left-join rollup over the shared
    # 60-bit shingle-hash CTE.
    add("doc_ngram_novelty",
        lambda spark, sf_dir: dedup.ngram_novelty(
            _docs(spark, sf_dir),
            _docs(spark, sf_dir).where(F.col("doc_id") % 3 == 0),
        ),
        _SHINGLE_HASH_CTE + """,
refv AS (SELECT DISTINCT shingle FROM shh WHERE doc_id % 3 = 0),
per AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(*) FILTER (r.shingle IS NULL) AS BIGINT) AS n_unseen
  FROM shh s LEFT JOIN refv r ON s.shingle = r.shingle
  GROUP BY s.doc_id)
SELECT d.doc_id,
  COALESCE(per.n_grams, 0) AS n_grams,
  COALESCE(per.n_unseen, 0) AS n_unseen,
  CASE WHEN per.n_grams > 0 THEN per.n_unseen * 1.0 / per.n_grams END
    AS novelty
FROM documents d LEFT JOIN per USING (doc_id)""")

    mh_sql = _mh_sql()
    add("dedup_minhash_signatures",
        lambda spark, sf_dir: dedup.minhash_signatures(_docs(spark, sf_dir)),
        _SHINGLE_CTE + f"SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id")

    band_rows = _band_values_sql()
    add("dedup_lsh_candidates",
        lambda spark, sf_dir: dedup.lsh_candidate_pairs(_docs(spark, sf_dir)),
        _SHINGLE_CTE + f""",
sig AS (SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {band_rows}) AS b(band, sig)
),
bover AS (SELECT band, sig FROM bands GROUP BY band, sig
          HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap AS (SELECT b.* FROM bands b ANTI JOIN bover o
         ON b.band = o.band AND b.sig = o.sig)
SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_bands
FROM bcap l JOIN bcap r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
GROUP BY 1, 2""")

    # Streaming LSH dedup: same band semantics as dedup_lsh_candidates but
    # through Structured Streaming band-signature state — distinct pairs
    # must match the batch bands exactly, so it gets the full oracle.
    def _stream_dedup(spark, sf_dir):
        # Bucketed signature state, sized from the staged feed (data-derived
        # like _stream_parts, not a box constant): this gate stream replays
        # the WHOLE corpus in one availableNow trigger, the exact shape the
        # bucketed layout is for — per-(band,sig) groups cost ~0.2 ms of
        # per-group Arrow/Python machinery per trigger (7.5 s over the 38k
        # signature groups at sf0.1) while the bucketed write volume is the
        # same because every signature is written exactly once either way.
        # ~1 bucket per KiB of feed keeps dozens of signatures per bucket at
        # any feed size; the pair multiset is layout-invariant (pinned by
        # tests/test_streaming.py::test_streaming_dedup_bucketed_state_parity).
        tbl, _ = _gate_stream(
            spark, [_docs(spark, sf_dir)], "doc_id bigint, text string",
            lambda stream, feed_bytes: streaming_dedup_candidates(
                stream, max_ids_per_sig=1_000_000,
                state_buckets=max(64, min(65_536, feed_bytes >> 10)),
            ),
            "as_stream_dedup_",
        )
        return tbl.select("id_a", "id_b").distinct()

    add("dedup_streaming_candidates", _stream_dedup, _SHINGLE_CTE + f""",
sig AS (SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {band_rows}) AS b(band, sig)
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id""")

    # LSH candidates → exact Jaccard verification restricted to candidates
    # (the 100 TB pipeline shape; the all-pairs exact join below is the
    # verification-scale baseline)
    add("dedup_lsh_verified",
        lambda spark, sf_dir: dedup.lsh_verified_pairs(
            _docs(spark, sf_dir), threshold=0.5
        ),
        _SHINGLE_HASH_CTE + f""",
sig AS (SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {band_rows}) AS b(band, sig)
),
bover AS (SELECT band, sig FROM bands GROUP BY band, sig
          HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap AS (SELECT b.* FROM bands b ANTI JOIN bover o
         ON b.band = o.band AND b.sig = o.sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bcap l JOIN bcap r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS cnt
  FROM cand c
  JOIN shh a ON a.doc_id = c.id_a
  JOIN shh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5""")

    # Banding-family advisor: the threshold -> (k, r, b) selection
    # rule as a Spark plan (sequence explode + row_number window) vs an
    # independent DuckDB formulation (generate_series + QUALIFY-style
    # CTE). Cross-engine float noise is excluded by both sides rounding
    # the hit probability to 7dp BEFORE the eligibility compare.
    add("dedup_banding_recommend",
        lambda spark, sf_dir: dedup.recommend_banding(
            spark, [0.3, 0.5, 0.7, 0.9], k_budget=24, min_hit_prob=0.95
        ),
        f"""
WITH th(threshold) AS (VALUES (0.3), (0.5), (0.7), (0.9)),
cand AS (
  -- 24 // r, NOT CAST(24 / r AS INT): DuckDB float-division + cast
  -- ROUNDS (24/5 -> 5) while Spark's (lit(24)/r).cast('int') truncates —
  -- integer floor division mirrors the truncation exactly for r >= 1
  SELECT th.threshold, r.r, CAST(24 // r.r AS INT) AS b
  FROM th, generate_series(1, 24) AS r(r)
),
scored AS (
  SELECT threshold, r, b,
         ROUND(1.0 - POW(1.0 - POW((1.0 + threshold) / 2.0, r), b), {ROUND})
           AS hit_prob
  FROM cand WHERE b >= 1
),
best AS (
  SELECT threshold, r, b, hit_prob,
         ROW_NUMBER() OVER (PARTITION BY threshold ORDER BY r DESC) AS rn
  FROM scored WHERE hit_prob >= 0.95
)
SELECT threshold, CAST(r * b AS INT) AS k, CAST(r AS INT) AS rows_per_band,
       CAST(b AS INT) AS n_bands, hit_prob
FROM best WHERE rn = 1""")

    # The parameterized banding family: lsh_verified_pairs at a
    # NON-default (k=12, rows_per_band=3, b=4) against an oracle whose
    # hash-family SQL is generated from the same parameters — driver-gates
    # the (k, r) plumbing end-to-end (signature aggregate width, band
    # grouping stride, guard, size-ratio prefilter, verify join), not just
    # pytest-checks it. A family mismatch anywhere yields different band
    # collisions and a value-hash mismatch.
    add("dedup_lsh_params",
        lambda spark, sf_dir: dedup.lsh_verified_pairs(
            _docs(spark, sf_dir), k=12, rows_per_band=3, threshold=0.5
        ),
        _SHINGLE_HASH_CTE + f""",
sig AS (SELECT doc_id, {_mh_sql(12)} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {_band_values_sql(12, 3)}) AS b(band, sig)
),
bover AS (SELECT band, sig FROM bands GROUP BY band, sig
          HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap AS (SELECT b.* FROM bands b ANTI JOIN bover o
         ON b.band = o.band AND b.sig = o.sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bcap l JOIN bcap r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS cnt
  FROM cand c
  JOIN shh a ON a.doc_id = c.id_a
  JOIN shh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5""")

    # Asymmetric doc-in-doc containment |A∩B|/|A| at 0.8 — the wrapper/
    # quote duplication Jaccard misses when sizes differ; both directions
    # derived from one a<b shingle equi-join.
    # The oracle mirrors the production default max_shingle_df cap
    # structurally (dfreq CTE + capped join input), so parity holds at any
    # sf — not just where no shingle happens to exceed the cap. Sizes stay
    # uncapped on both sides, exactly as in containment_pairs.
    add("dedup_containment",
        lambda spark, sf_dir: dedup.containment_pairs(
            _docs(spark, sf_dir), threshold=0.8),
        _SHINGLE_HASH_CTE + f""",
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM shh GROUP BY shingle),
shc AS (
  SELECT shh.doc_id, shh.shingle FROM shh
  JOIN dfreq ON shh.shingle = dfreq.shingle
  WHERE dfreq.df <= {dedup.CONTAINMENT_MAX_SHINGLE_DF}
),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b, c, sa.n_sh AS size_a, sb.n_sh AS size_b
  FROM common
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
),
dirs AS (
  SELECT id_a AS contained_id, id_b AS container_id,
         ROUND(c * 1.0 / size_a, {ROUND}) AS containment FROM scored
  UNION ALL
  SELECT id_b, id_a, ROUND(c * 1.0 / size_b, {ROUND}) FROM scored
)
SELECT contained_id, container_id, containment
FROM dirs WHERE containment >= 0.8""")

    add("dedup_ngram_jaccard",
        lambda spark, sf_dir: dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5),
        _SHINGLE_HASH_CTE + f""",
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(c * 1.0 / (sa.n_sh + sb.n_sh - c), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(c * 1.0 / (sa.n_sh + sb.n_sh - c), {ROUND}) >= 0.5""")

    add("dedup_simhash",
        lambda spark, sf_dir: dedup.simhash(_docs(spark, sf_dir)),
        _simhash_sql())

    # Banded SimHash near-dup pairs (Manku-Jain-Das Sarma, WWW 2007): the
    # pigeonhole band join is EXACT for hamming <= max_hamming, so the
    # oracle can verify it against the straightforward all-pairs scan —
    # a full value check that the candidate-superset + popcount-filter
    # plan loses nothing (functions/dedup.py:simhash_near_dups).
    add("dedup_simhash_pairs",
        lambda spark, sf_dir: dedup.simhash_near_dups(
            _docs(spark, sf_dir), max_hamming=3
        ),
        _simhash_cte() + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")

    # Connected components over the exact-Jaccard pair graph vs a
    # recursive-CTE transitive closure in DuckDB. The gate's pair graphs
    # fall under dedup.DRIVER_CLUSTER_MAX_PAIRS, so this checks the driver
    # union-find; tests pin the distributed path to the same labels.
    add("dedup_clusters",
        lambda spark, sf_dir: dedup.duplicate_clusters(
            dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5),
            assume_distinct_pairs=True,
        ),
        _SHINGLE_HASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + f""",
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE ROUND(c * 1.0 / (sa.n_sh + sb.n_sh - c), {ROUND}) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src""")

    # Composed end-to-end dedup: LSH candidates → verified pairs → CC
    # clusters → per-document LINEAGE (kept_id, cluster_id, reason) — the
    # audit shape a production dedup run needs; survivors are the rows with
    # reason != 'near_dup_dropped'. The oracle rebuilds the identical
    # pipeline (deterministic md5 minhash → recursive-CTE closure) and
    # value-hashes the full lineage, not just the surviving ids.
    add("dedup_corpus",
        lambda spark, sf_dir: dedup.deduplicate(
            _docs(spark, sf_dir), threshold=0.5, lineage=True
        ),
        _SHINGLE_HASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + f""",
sig AS (SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {band_rows}) AS b(band, sig)
),
bover AS (SELECT band, sig FROM bands GROUP BY band, sig
          HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap AS (SELECT b.* FROM bands b ANTI JOIN bover o
         ON b.band = o.band AND b.sig = o.sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bcap l JOIN bcap r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS cnt
  FROM cand c
  JOIN shh a ON a.doc_id = c.id_a
  JOIN shh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
vpairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION SELECT id_b, id_a FROM vpairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
cls AS (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS kept_id,
       COALESCE(c.cluster_id, -1) AS cluster_id,
       CASE WHEN c.cluster_id IS NULL THEN 'unique'
            WHEN c.cluster_id = d.doc_id THEN 'representative'
            ELSE 'near_dup_dropped' END AS reason
FROM documents d LEFT JOIN cls c ON d.doc_id = c.id""")

    # Exact substring dedup (Lee et al. 2021 ExactSubstr at token-k-gram
    # granularity): every token covered by a k-gram occurring >1 time in
    # the corpus is removed. The gram IS the hash (raw text key), so the
    # oracle replicates the full pipeline — gram counts, duplicate-start
    # join, the bounded k-1-preceding coverage window, and the surviving
    # text reassembly — with zero approximation. At sf0.001 this already
    # fires for real: 45/500 docs lose 2697 tokens.
    _ssd_k = 8
    add("doc_substring_dedup",
        lambda spark, sf_dir: dedup.substring_dedup(_docs(spark, sf_dir), k=_ssd_k),
        f"""
WITH base AS (SELECT doc_id,
                     list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                                 t -> t <> '') AS t
              FROM documents),
sized AS (SELECT doc_id, t, len(t) AS n FROM base),
gs AS (
  SELECT doc_id, unnest(generate_series(1, n - {_ssd_k} + 1)) AS p, t
  FROM sized WHERE n >= {_ssd_k}
),
grams AS (SELECT doc_id, p,
                 array_to_string(list_slice(t, p, p + {_ssd_k} - 1), ' ') AS gram
          FROM gs),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1),
starts AS (SELECT doc_id, p FROM grams WHERE gram IN (SELECT gram FROM dup)),
tp AS (SELECT doc_id, unnest(generate_series(1, n)) AS pos, t
       FROM sized WHERE n >= 1),
tok AS (SELECT doc_id, pos, t[pos] AS tok FROM tp),
fl AS (
  SELECT tok.doc_id, tok.pos, tok.tok,
         CASE WHEN s.p IS NOT NULL THEN 1 END AS f
  FROM tok LEFT JOIN starts s ON s.doc_id = tok.doc_id AND s.p = tok.pos
),
cov AS (
  SELECT doc_id, pos, tok,
         MAX(f) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {_ssd_k - 1} PRECEDING AND CURRENT ROW) AS c
  FROM fl
),
kept AS (SELECT doc_id, COUNT(*) AS nk, string_agg(tok, ' ' ORDER BY pos) AS dt
         FROM cov WHERE c IS NULL GROUP BY doc_id)
SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_tokens,
       CAST(s.n - COALESCE(k.nk, 0) AS BIGINT) AS n_removed,
       COALESCE(k.dt, '') AS deduped_text
FROM sized s LEFT JOIN kept k USING (doc_id)""")

    # Incremental ingest dedup: the doc_id%5==0 slice plays the NEW batch,
    # the rest the EXISTING corpus. Admission audit per new doc — match
    # count, best verified match, admitted flag. 14 of the corpus's 25
    # verified near-dup pairs straddle this split at sf0.01, so both the
    # rejected and admitted paths are driver-checked. The batch band table
    # broadcasts; the corpus side never reshuffles beyond its band groupBy.
    _inc_mh = _mh_sql()
    _inc_bands = _band_values_sql()
    _inc_cte = f"""
WITH t AS (SELECT doc_id, (doc_id % 5 = 0) AS is_new,
                  string_split({_NORM_SQL}, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, is_new, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM t
),
sig AS (SELECT doc_id, is_new, {_inc_mh} FROM sh GROUP BY doc_id, is_new),
bands AS (SELECT doc_id, is_new, b.band, b.sig
          FROM sig, LATERAL (VALUES {_inc_bands}) AS b(band, sig)),
corpus_hot AS (SELECT band, sig FROM bands WHERE NOT is_new
               GROUP BY band, sig
               HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
cand AS (SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS match_id
         FROM bands l
         JOIN (SELECT b.* FROM bands b ANTI JOIN corpus_hot h
               ON b.band = h.band AND b.sig = h.sig) r
           ON l.band = r.band AND l.sig = r.sig
         WHERE l.is_new AND NOT r.is_new)"""

    # the candidates' verified Jaccard pairs, shared by the three audits
    _inc_ver = _inc_cte + f""",
shh AS (SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
        FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT c.new_id, c.match_id, COUNT(*) AS cnt
           FROM cand c
           JOIN shh a ON a.doc_id = c.new_id
           JOIN shh b ON b.doc_id = c.match_id AND b.shingle = a.shingle
           GROUP BY 1, 2),
ver AS (SELECT new_id, match_id,
               ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) AS jaccard
        FROM common
        JOIN sizes sa ON new_id = sa.doc_id
        JOIN sizes sb ON match_id = sb.doc_id
        WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5),
"""
    _inc_admit_sql = _inc_ver + """sel AS (SELECT new_id, match_id, jaccard,
               ROW_NUMBER() OVER (PARTITION BY new_id
                                  ORDER BY jaccard DESC, match_id) AS rk,
               COUNT(*) OVER (PARTITION BY new_id) AS nm
        FROM ver)
SELECT n.doc_id,
       CAST(COALESCE(s.nm, 0) AS BIGINT) AS n_matches,
       CAST(COALESCE(s.match_id, -1) AS BIGINT) AS best_match_id,
       COALESCE(s.jaccard, 0.0) AS best_jaccard,
       (s.new_id IS NULL) AS admitted
FROM (SELECT doc_id FROM t WHERE is_new) n
LEFT JOIN (SELECT * FROM sel WHERE rk = 1) s ON n.doc_id = s.new_id"""

    add("dedup_incremental_admit",
        lambda spark, sf_dir: dedup.incremental_admit(
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0),
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0),
            threshold=0.5),
        _inc_admit_sql)

    # Fuzzy benchmark decontamination audit — the TRANSPOSE of the admit
    # query: the doc_id%5==0 slice plays the BENCHMARK (the small,
    # broadcast side), the rest the training corpus, and the report is
    # per-benchmark-doc leakage (n matching train docs, worst Jaccard).
    # Same straddling near-dup pairs, so both leaked and clean rows are
    # driver-checked; the oracle folds the shared MinHash CTE the other
    # way (GROUP BY the benchmark id).
    add("doc_benchmark_leakage",
        lambda spark, sf_dir: dedup.benchmark_leakage(
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0),
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0),
            threshold=0.5),
        _inc_ver + """per AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_train_matches,
               MAX(jaccard) AS max_jaccard
        FROM ver GROUP BY 1)
SELECT b.doc_id,
       CAST(COALESCE(p.n_train_matches, 0) AS BIGINT) AS n_train_matches,
       COALESCE(p.max_jaccard, 0.0) AS max_jaccard,
       p.new_id IS NOT NULL AS leaked
FROM (SELECT doc_id FROM t WHERE is_new) b
LEFT JOIN per p ON b.doc_id = p.new_id""")

    # Acting on the leakage audit: fuzzy decontamination of the TRAINING
    # side. Same split/threshold as the audit above, but the lineage is
    # per-TRAIN-doc — worst-offending benchmark doc (max jaccard, ties to
    # lowest bench id), -1/0.0 sentinels for clean docs, reason
    # clean/leaked_dropped. The oracle folds the shared MinHash CTE by the
    # TRAIN id with an independent ROW_NUMBER best-match formulation; the
    # straddling near-dup pairs exercise both reasons at sf0.01.
    add("doc_decontaminate_fuzzy",
        lambda spark, sf_dir: dedup.decontaminate_fuzzy(
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0),
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0),
            threshold=0.5, lineage=True),
        _inc_ver + """sel AS (SELECT match_id, new_id, jaccard,
               ROW_NUMBER() OVER (PARTITION BY match_id
                                  ORDER BY jaccard DESC, new_id) AS rk
        FROM ver)
SELECT tr.doc_id,
       CAST(COALESCE(s.new_id, -1) AS BIGINT) AS bench_id,
       COALESCE(s.jaccard, 0.0) AS jaccard,
       CASE WHEN s.match_id IS NULL THEN 'clean'
            ELSE 'leaked_dropped' END AS reason
FROM (SELECT doc_id FROM t WHERE NOT is_new) tr
LEFT JOIN (SELECT * FROM sel WHERE rk = 1) s ON tr.doc_id = s.match_id""")

    def _index_admit(spark, sf_dir):
        def run(d):
            dedup.write_dedup_index(_docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0), d)
            return dedup.admit_against_index(
                _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0), d, threshold=0.5)

        return _collect_in_scratch(spark, "as_dedup_idx_", run)

    # The same admission audit against a MATERIALIZED corpus index
    # (dedup.write_dedup_index: band table partitioned by band + stored
    # shingle table) — the ingest-time shape where the corpus is never
    # re-tokenized. Same oracle as the frame-to-frame path: the parquet
    # round-trip of the index must not change a bit.
    add("dedup_index_admit", _index_admit, _inc_admit_sql)

    def _index_admit_compacted(spark, sf_dir):
        def run(d):
            corpus = _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0)
            # same corpus as dedup_index_admit, built as one base write
            # plus two append batches — the ingest shape compaction serves.
            # The two appends are independent ingest batches: staged
            # commits (write_dedup_index append mode promotes from private
            # staging dirs, and the identical meta rewrite is skipped) make
            # them safe to overlap from a driver thread pool
            dedup.write_dedup_index(corpus.where(F.col("doc_id") % 3 == 0), d)
            with ThreadPoolExecutor(max_workers=2) as pool:
                list(pool.map(
                    lambda m: dedup.write_dedup_index(
                        corpus.where(F.col("doc_id") % 3 == m), d, mode="append"
                    ),
                    (1, 2),
                ))
            stats = dedup.compact_dedup_index(spark, d, max_files=1)
            if not (
                stats["bands"]["files_after"] < stats["bands"]["files_before"]
                and stats["shingles"]["files_after"] < stats["shingles"]["files_before"]
            ):
                raise AssertionError(
                    f"compaction was a no-op on a 3-write index: {stats}"
                )
            return dedup.admit_against_index(
                _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0), d, threshold=0.5)

        return _collect_in_scratch(spark, "as_dedup_cmp_", run)

    # Index COMPACTION (dedup.compact_dedup_index): the same admission
    # audit, but the corpus index is built as base + two appends and then
    # compacted (band dirs + flat shingle table rewritten to byte-sized
    # files, meta untouched) before the batch admits. Same oracle as the
    # other two admission paths — it derives admission from the raw
    # documents table, so a green hash proves the compaction rewrite
    # changed nothing the admit join can see; the in-query file-count
    # assertion fails the gate if the compactor silently no-ops.
    add("dedup_index_compacted", _index_admit_compacted, _inc_admit_sql)

    def _stream_index_cands(spark, sf_dir):
        def run(idx):
            dedup.write_dedup_index(_docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0), idx)
            bands = spark.read.parquet(f"{idx}/bands")
            tbl, _ = _gate_stream(
                spark, [_docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0)],
                "doc_id bigint, text string",
                lambda stream, _: streaming_index_candidates(stream, bands, index_path=idx),
                "as_stream_new_",
            )
            return tbl.select("new_id", "match_id").distinct()

        return _collect_in_scratch(spark, "as_didx_", run)

    # Streaming ingest against the materialized index: arriving documents
    # band per row (no stream-side shuffle) and stream-static-join the
    # stored band table — GENUINE Structured Streaming (file source →
    # memory sink, availableNow), stateless, candidates identical to the
    # batch band collision set (the shared `cand` CTE).
    add("dedup_streaming_index_candidates", _stream_index_cands,
        _inc_cte + "\nSELECT new_id, match_id FROM cand")

    # Exact edit-distance self-join via deletion neighborhoods (FastSS):
    # candidates from an equi-join on single-deletion variants, verified
    # with the exact JVM levenshtein — no cross join anywhere. Run on
    # customer names (dense distance-1 families: ids differing in one
    # digit); the oracle is the brute-force O(n²) levenshtein pass that is
    # feasible at the 1.5k-row gate scale and NOT at corpus scale — which
    # is the point of the blocking.
    def _fuzzy(spark, sf_dir):
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        return dedup.edit_distance_join(
            cust, max_distance=1, id_col="c_custkey", text_col="c_name"
        ).select("id_a", "id_b", "distance")

    add("cust_fuzzy_names", _fuzzy, """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS distance
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1""")

    # Stateful streaming exact dedup: docs arrive in TWO micro-batches
    # (maxFilesPerTrigger=1 over mtime-ordered files, ids < 250 first);
    # doc_id%10>=8 rows collapse onto 3 boilerplate texts, so duplicate
    # groups straddle the batch boundary and the cross-batch state path
    # (reject against a fingerprint owned by an EARLIER batch) is the one
    # driver-checked. Because the earlier batch holds the smaller ids, the
    # owner is min(doc_id) per fingerprint — a plain window in SQL.
    def _stream_exact(spark, sf_dir):
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 >= 8,
                F.concat(F.lit("boiler text "), (F.col("doc_id") % 3).cast("string")),
            ).otherwise(F.col("text")).alias("text"),
        )
        tbl, _ = _gate_stream(
            spark, [docs.where(F.col("doc_id") < 250), docs.where(F.col("doc_id") >= 250)],
            "doc_id bigint, text string",
            lambda stream, _: streaming_exact_dedup(stream),
            "as_sdex_",
        )
        return tbl.select("doc_id", "first_id", "admitted")

    add("dedup_streaming_exact", _stream_exact, f"""
WITH inj AS (SELECT doc_id,
  CASE WHEN doc_id % 10 >= 8
       THEN 'boiler text ' || CAST(doc_id % 3 AS VARCHAR)
       ELSE text END AS text
  FROM documents),
h AS (SELECT doc_id, md5({_NORM_SQL}) AS k FROM inj)
SELECT doc_id,
       CAST(MIN(doc_id) OVER (PARTITION BY k) AS BIGINT) AS first_id,
       (doc_id = MIN(doc_id) OVER (PARTITION BY k)) AS admitted
FROM h""")
