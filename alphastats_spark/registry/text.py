"""Text and corpus family: document analysis, corpus statistics and the
training-data pipeline, each against an independent DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alphastats_spark.functions import checks, dedup, pipeline, similarity, text
from alphastats_spark.operators import ordered
from alphastats_spark.registry.shared import (
    ROUND,
    _LTOKS_SQL,
    _NORM_SQL,
    _NULLS_DOCS_CTE,
    _TOKS_SQL,
    _ann_inputs,
    _band_values_sql,
    _collect_in_scratch,
    _docs,
    _docs_nulled,
    _embs,
    _mh_sql,
    _plane_sql,
    _round_df,
    _stop_list,
)
from alphastats_spark.sources import readers


def _lang_id_sql() -> str:
    score_exprs = []
    for lang, markers in text.LANG_MARKERS.items():
        terms = " + ".join(
            f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS BIGINT)"
            for m in markers
        )
        score_exprs.append(f"({terms}) AS s_{lang}")
    langs_sorted = sorted(text.LANG_MARKERS)
    case = " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs_sorted)
    return f"""
WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
scores AS (SELECT doc_id, {', '.join(score_exprs)} FROM padded),
best_s AS (SELECT *, GREATEST({', '.join('s_' + lang for lang in langs_sorted)}) AS best FROM scores)
SELECT doc_id, CASE WHEN best > 0 THEN (CASE {case} END) ELSE 'unknown' END AS lang_pred
FROM best_s"""


def register(add) -> None:
    """Register the text and corpus queries through ``add(name, query, oracle)``."""
    # ---- text analysis ----------------------------------------------------
    add("doc_token_counts",
        lambda spark, sf_dir: _docs(spark, sf_dir).select(
            "doc_id",
            text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            text.bpe_ish_token_count(F.col("text")).cast("bigint").alias("n_subword_tokens"),
        ),
        f"""SELECT doc_id,
       len({_TOKS_SQL}) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]+')) AS n_subword_tokens
FROM documents""")

    def _text_stats(docs: DataFrame) -> DataFrame:
        return docs.select(
            "doc_id",
            F.round(text.punct_ratio(F.col("text")), ROUND).alias("punct_ratio"),
            F.round(text.digit_ratio(F.col("text")), ROUND).alias("digit_ratio"),
            F.round(text.stopword_ratio(F.col("text")), ROUND).alias("stopword_ratio"),
            F.round(text.avg_token_len(F.col("text")), ROUND).alias("avg_token_len"),
        )

    _text_stats_sql = f"""SELECT doc_id,
  ROUND(CASE WHEN length(text) > 0 THEN
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
    ELSE 0 END, {ROUND}) AS punct_ratio,
  ROUND(CASE WHEN length(text) > 0 THEN
    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
    ELSE 0 END, {ROUND}) AS digit_ratio,
  ROUND(CASE WHEN len({_LTOKS_SQL}) > 0 THEN
    len(list_filter({_LTOKS_SQL}, t -> t IN ({_stop_list()}))) * 1.0 / len({_LTOKS_SQL})
    ELSE 0 END, {ROUND}) AS stopword_ratio,
  ROUND(CASE WHEN len({_TOKS_SQL}) > 0 THEN
    list_sum(list_transform({_TOKS_SQL}, t -> length(t))) * 1.0 / len({_TOKS_SQL})
    ELSE 0 END, {ROUND}) AS avg_token_len
FROM documents"""

    add("doc_text_stats",
        lambda spark, sf_dir: _text_stats(_docs(spark, sf_dir)),
        _text_stats_sql)

    # adversarial null sweep, text family: same operator over the
    # deterministic null/empty injection (see _docs_nulled) — the null path
    # (ratios all 0.0) is driver-checked, not latent
    add("doc_text_stats_nulls",
        lambda spark, sf_dir: _text_stats(_docs_nulled(spark, sf_dir)),
        f"WITH {_NULLS_DOCS_CTE}\n{_text_stats_sql}")

    _quality_cte = f"""
parts AS (
  SELECT doc_id, source,
    len({_TOKS_SQL}) * 1.0 AS n_tok,
    CASE WHEN len({_TOKS_SQL}) > 0 THEN
      list_sum(list_transform({_TOKS_SQL}, t -> length(t))) * 1.0 / len({_TOKS_SQL})
      ELSE 0 END AS atl,
    CASE WHEN len({_LTOKS_SQL}) > 0 THEN
      len(list_filter({_LTOKS_SQL}, t -> t IN ({_stop_list()}))) * 1.0 / len({_LTOKS_SQL})
      ELSE 0 END AS stop_ratio,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
      ELSE 0 END
    + CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
      ELSE 0 END AS noise
  FROM documents
),
scored AS (
  SELECT doc_id, source, ROUND(
      0.3 * LEAST(n_tok / 50.0, 1.0)
    + 0.2 * (CASE WHEN atl >= 3 AND atl <= 10 THEN 1.0 ELSE 0.5 END)
    + 0.2 * LEAST(stop_ratio * 5, 1.0)
    + 0.3 * GREATEST(1.0 - 2 * noise, 0.0), {ROUND}) AS quality_score
  FROM parts
)"""

    add("doc_quality",
        lambda spark, sf_dir: _docs(spark, sf_dir).select(
            "doc_id",
            F.round(text.quality_score(F.col("text")), ROUND).alias("quality_score"),
        ),
        f"WITH {_quality_cte}\nSELECT doc_id, quality_score FROM scored")

    # Per-source top-k curation (FineWeb-style "best K docs per domain"):
    # rank window partitioned by source over the 7dp-rounded quality score
    # with a doc_id tiebreak, so both engines order identical doubles
    # deterministically.
    add("doc_topk_quality",
        lambda spark, sf_dir: pipeline.topk_by_quality(_docs(spark, sf_dir), k=10),
        f"""WITH {_quality_cte}
SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, quality_score AS quality
FROM (
  SELECT source, doc_id, quality_score,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id) AS rank
  FROM scored
)
WHERE rank <= 10""")

    # Markup stripping over a DETERMINISTIC html injection (the corpus has
    # no markup, so — like the PII and null injections — the operator would
    # be vacuous on raw documents): doc_id%3==0 wraps the text in
    # div/b tags plus a script block whose content must vanish wholesale;
    # doc_id%3==1 prepends escaped entities (unescaped AFTER tag removal,
    # so `&lt;p&gt;` survives as literal `<p>` content) and appends an html
    # comment; doc_id%3==2 is passthrough. Both engines run the identical
    # injection + RE2-compatible pattern chain.
    _mk0_pre = '<div class="c"><b>'
    _mk0_post = '</b><script type="text/javascript">var x = 1 < 2;</script></div>'
    _mk1_pre = "&lt;p&gt; &amp;amp; &nbsp;"
    _mk1_post = " <!-- note -->"

    def _docs_marked(spark, sf_dir):
        d = _docs(spark, sf_dir)
        m = F.col("doc_id") % 3
        marked = (
            F.when(m == 0, F.concat(F.lit(_mk0_pre), F.col("text"), F.lit(_mk0_post)))
            .when(m == 1, F.concat(F.lit(_mk1_pre), F.col("text"), F.lit(_mk1_post)))
            .otherwise(F.col("text"))
        )
        return d.select("doc_id", marked.alias("text"))

    add("doc_strip_markup",
        lambda spark, sf_dir: _docs_marked(spark, sf_dir).select(
            "doc_id", text.strip_markup(F.col("text")).alias("clean_text")
        ),
        f"""
WITH marked AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN '{_mk0_pre.replace("'", "''")}' || text || '{_mk0_post.replace("'", "''")}'
           WHEN 1 THEN '{_mk1_pre}' || text || '{_mk1_post}'
           ELSE text END AS text
  FROM documents
),
noblock AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
           '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
           '(?s)<!--.*?-->', ' ', 'g') AS t
  FROM marked
),
notag AS (SELECT doc_id, regexp_replace(t, '</?[A-Za-z][^>]*>', ' ', 'g') AS t
          FROM noblock),
unesc AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(t,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&nbsp;', ' '), '&amp;', '&') AS t
  FROM notag
)
SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text
FROM unesc""")

    add("doc_lang_id",
        lambda spark, sf_dir: _docs(spark, sf_dir).select(
            "doc_id", text.lang_id(F.col("text")).alias("lang_pred")
        ),
        _lang_id_sql())

    add("doc_fingerprint",
        lambda spark, sf_dir: _docs(spark, sf_dir).select(
            "doc_id", text.fingerprint(F.col("text")).alias("fingerprint")
        ),
        f"SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents")

    # ---- corpus statistics & scrubbing ------------------------------------
    add("doc_tfidf_topk",
        lambda spark, sf_dir: _round_df(text.tf_idf_topk(_docs(spark, sf_dir), k=5)),
        f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS dfv FROM tf GROUP BY 1),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (LN((1.0 + nn.n) / (1.0 + dfreq.dfv)) + 1.0) AS tf_idf
  FROM tf JOIN dfreq USING (term), nn
)
SELECT doc_id, term, tf, ROUND(tf_idf, {ROUND}) AS tf_idf, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY tf_idf DESC, term) AS INTEGER) AS rank
  FROM scored
) t WHERE rank <= 5""")

    # Okapi BM25 top-k lexical retrieval (text.bm25_topk, Robertson &
    # Zaragoza 2009): Spark scores via the zero-shuffle map shape
    # (per-doc array-expression term counts, stats re-injected as
    # literals, TakeOrderedAndProject cut); the oracle re-derives N,
    # avgdl, per-term document frequency and the positive idf from the
    # relational tf table, with the score written as the SAME
    # left-associated sum over the sorted query terms so the float
    # summation order matches. Query "spark window merge" tokenizes to
    # itself under normalize(), so both engines score identical terms.
    _bm25_q = ["merge", "spark", "window"]  # sorted, as bm25_topk sorts
    _bm25_contrib = " + ".join(
        f"(idf.i{i} * (q.tf{i} * {text.BM25_K1 + 1.0!r}) / "
        f"(q.tf{i} + {text.BM25_K1!r} * ({1.0 - text.BM25_B!r} + "
        f"{text.BM25_B!r} * q.dl / st.avgdl)))"
        for i in range(len(_bm25_q))
    )
    # CTE chain shared verbatim by doc_bm25_topk and doc_hybrid_rrf so
    # the fused oracle's lexical leg is byte-identical to the gated one.
    _bm25_ctes = f"""norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
st AS (
  SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(tf), 0) FROM tf) AS DOUBLE)
           / (SELECT COUNT(DISTINCT doc_id) FROM documents) AS avgdl
),
dfreq AS (
  SELECT {', '.join(f"(SELECT COUNT(*) FROM tf WHERE term = '{t}') AS d{i}"
                    for i, t in enumerate(_bm25_q))}
),
idf AS (
  SELECT {', '.join(f"LN(1.0 + (st.n - dfreq.d{i} + 0.5) / (dfreq.d{i} + 0.5)) AS i{i}"
                    for i in range(len(_bm25_q)))}
  FROM st, dfreq
),
q AS (
  SELECT tf.doc_id, CAST(dl.dl AS DOUBLE) AS dl,
         {', '.join(f"CAST(SUM(CASE WHEN term = '{t}' THEN tf ELSE 0 END) AS DOUBLE) AS tf{i}"
                    for i, t in enumerate(_bm25_q))}
  FROM tf JOIN dl USING (doc_id)
  WHERE term IN ({', '.join(f"'{t}'" for t in _bm25_q)})
  GROUP BY 1, 2
),
bm AS (
  SELECT doc_id, bm25, CAST(ROW_NUMBER() OVER (
      ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
  FROM (
    SELECT q.doc_id, ROUND({_bm25_contrib}, {ROUND}) AS bm25
    FROM q, st, idf
  ) s
  ORDER BY bm25 DESC, doc_id LIMIT 20
)"""

    add("doc_bm25_topk",
        lambda spark, sf_dir: text.bm25_topk(
            _docs(spark, sf_dir), "spark window merge", k=20),
        f"""
WITH {_bm25_ctes}
SELECT doc_id, bm25, rank FROM bm ORDER BY bm25 DESC, doc_id""")

    # Hybrid lexical+dense retrieval fused with reciprocal-rank fusion
    # (similarity.rrf_fuse / hybrid_topk; Cormack, Clarke & Buettcher,
    # SIGIR 2009): BM25 top-20 over documents and brute-force cosine
    # top-20 over embeddings (shared 0..N id space), fused as
    # 1/(60+rank) contributions. Both engines build the fused score as
    # the SAME left-associated COALESCE chain over a full-outer join —
    # never a SUM whose float order is engine-defined — so the doubles
    # match bit-for-bit before the shared 7dp round.
    def _hybrid_query(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec, _ = _ann_inputs(emb)
        return similarity.hybrid_topk(
            _docs(spark, sf_dir), emb, "spark window merge", qvec,
            k=10, depth=20)

    add("doc_hybrid_rrf", _hybrid_query, f"""
WITH {_bm25_ctes},
dq AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    ROUND(list_dot_product(embedding::DOUBLE[], qe)
      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       * sqrt(list_dot_product(qe, qe))), {ROUND}) AS cosine
  FROM embeddings, dq
),
dn AS (
  SELECT vec_id, rank FROM (
    SELECT vec_id, CAST(ROW_NUMBER() OVER (
        ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
    FROM scored
  ) t WHERE rank <= 20
),
fused AS (
  SELECT COALESCE(bm.doc_id, dn.vec_id) AS id,
         ROUND(COALESCE(1.0 / (60 + bm.rank), 0.0)
             + COALESCE(1.0 / (60 + dn.rank), 0.0), {ROUND}) AS rrf
  FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.vec_id
)
SELECT id, rrf, CAST(ROW_NUMBER() OVER (
    ORDER BY rrf DESC, id) AS INTEGER) AS rank
FROM (SELECT * FROM fused ORDER BY rrf DESC, id LIMIT 10) f
ORDER BY rrf DESC, id""")

    # All-pairs TF-IDF cosine similarity (text.tfidf_similarity_pairs,
    # Bayardo et al. 2007 all-pairs shape): sparse inverted-index
    # self-join on 60-bit hashed terms, smoothed idf shared with
    # doc_tfidf_topk, norms UNCAPPED while the join drops df=1 and
    # df>cap postings — the oracle mirrors the guard structurally
    # (dfreq bounds on the join CTE only), so parity holds at any sf.
    add("doc_tfidf_pairs",
        lambda spark, sf_dir: text.tfidf_similarity_pairs(
            _docs(spark, sf_dir), threshold=0.5),
        f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS dfv FROM tf GROUP BY 1),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term, dfreq.dfv,
         tf.tf * (LN((1.0 + nn.n) / (1.0 + dfreq.dfv)) + 1.0) AS w
  FROM tf JOIN dfreq USING (term), nn
),
norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY 1),
posting AS (
  SELECT doc_id, CAST(CONCAT('0x', substr(md5(term), 1, 15)) AS BIGINT) AS t, w
  FROM w WHERE dfv BETWEEN 2 AND {text.TFIDF_PAIRS_MAX_TERM_DF}
),
dot AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
  FROM posting a JOIN posting b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), {ROUND}) AS cosine
FROM dot
JOIN norms na ON id_a = na.doc_id
JOIN norms nb ON id_b = nb.doc_id
WHERE ROUND(dot / (na.nrm * nb.nrm), {ROUND}) >= 0.5""")

    # Per-source vocabulary heavy hitters: top-10 normalized tokens per
    # provenance slice (boilerplate/template profiling ahead of dedup
    # tuning). Spark ranks with a row_number window over the aggregated
    # (source, term) table; ties break term-ascending in both engines so
    # the cut is deterministic.
    add("corpus_top_terms_per_source",
        lambda spark, sf_dir: text.top_terms_per_source(
            _docs(spark, sf_dir), k=10),
        f"""
WITH tok AS (SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS term
             FROM documents),
c AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM tok WHERE term <> '' GROUP BY 1, 2)
SELECT source, term, n_occurrences, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY n_occurrences DESC, term) AS INTEGER) AS rank
  FROM c
) t WHERE rank <= 10""")

    # Unigram-distribution divergence between two corpus slices
    # (text.corpus_divergence): add-0.5 smoothed KL both ways + the
    # bounded symmetric JS over the union vocabulary — the drift /
    # mixture diagnostic run before blending sources. Slices: the
    # first ten synthetic sources vs the other ten. Both engines
    # compute per-term contributions from exact integer counts; the
    # final sums tolerate any accumulation order at 7dp (terms are
    # ~1/V, round-off accumulates ~V*2^-53).
    _div_srcs = ", ".join(f"'src{i}'" for i in range(10))

    def _divergence_query(spark, sf_dir):
        d = _docs(spark, sf_dir)
        in_a = F.col("source").isin([f"src{i}" for i in range(10)])
        return text.corpus_divergence(d.where(in_a), d.where(~in_a))

    add("corpus_js_divergence", _divergence_query, f"""
WITH ca AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents WHERE source IN ({_div_srcs})
  ) t WHERE term <> '' GROUP BY 1
),
cb AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents WHERE source NOT IN ({_div_srcs})
  ) t WHERE term <> '' GROUP BY 1
),
j AS (
  SELECT COALESCE(ca.c, 0) AS cca, COALESCE(cb.c, 0) AS ccb
  FROM ca FULL OUTER JOIN cb USING (term)
),
tot AS (
  SELECT CAST(SUM(cca) AS BIGINT) AS ta, CAST(SUM(ccb) AS BIGINT) AS tb,
         COUNT(*) AS v
  FROM j
),
s AS (
  SELECT (cca + 0.5) / (ta + 0.5 * v) AS p,
         (ccb + 0.5) / (tb + 0.5 * v) AS q
  FROM j, tot
)
SELECT ROUND(SUM(p * LN(p / q)), {ROUND}) AS kl_ab,
       ROUND(SUM(q * LN(q / p)), {ROUND}) AS kl_ba,
       ROUND(0.5 * SUM(p * LN(p / ((p + q) / 2.0)))
           + 0.5 * SUM(q * LN(q / ((p + q) / 2.0))), {ROUND}) AS js_divergence,
       (SELECT v FROM tot) AS vocab_union,
       (SELECT ta FROM tot) AS tokens_a,
       (SELECT tb FROM tot) AS tokens_b
FROM s""")

    add("corpus_ngram_counts",
        lambda spark, sf_dir: text.ngram_counts(_docs(spark, sf_dir), n=2, min_count=2),
        f"""
WITH norm AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
g AS (
  SELECT unnest(list_transform(
      range(1, greatest(len(toks) - 1, 0) + 1),
      i -> array_to_string(toks[i:i+1], ' '))) AS ngram
  FROM norm
)
SELECT ngram, COUNT(*) AS n_occurrences FROM g
GROUP BY 1 HAVING COUNT(*) >= 2""")

    def _redact(spark: SparkSession, sf_dir: str) -> DataFrame:
        # inject deterministic PII spans so the scrub patterns actually fire
        injected = F.concat_ws(
            "",
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via https://ex.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" or call +1 555-010-7788 now"),
        )
        return _docs(spark, sf_dir).select(
            "doc_id", text.redact_pii(injected).alias("redacted")
        )

    add("doc_redact_pii", _redact, r"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(
    text || ' contact user' || doc_id || '@example.com via https://ex.org/d/'
         || doc_id || ' or call +1 555-010-7788 now',
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    'https?://[^\s]+', '<URL>', 'g'),
    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
FROM documents""")

    # Per-domain link profile over deterministically injected URLs (the
    # synthetic corpus carries none — same injection idiom as
    # doc_redact_pii, so extraction demonstrably fires): 7 site domains ×
    # 3 cdn domains, one of each per third doc.
    def _domains(spark, sf_dir):
        d = _docs(spark, sf_dir)
        injected = d.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.coalesce(F.col("text"), F.lit("")),
                    F.lit(" see https://site"), F.col("doc_id") % 7,
                    F.lit(".example/p/"), F.col("doc_id"),
                    F.lit(" and http://cdn"), F.col("doc_id") % 3,
                    F.lit(".example/asset"),
                ),
            ).otherwise(F.col("text")).alias("text"),
        )
        return text.domain_stats(injected)

    add("doc_url_domains", _domains, r"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           COALESCE(text, '') || ' see https://site' || (doc_id % 7)
             || '.example/p/' || doc_id
             || ' and http://cdn' || (doc_id % 3) || '.example/asset'
         ELSE text END AS text
  FROM documents),
u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
      FROM inj),
d AS (SELECT doc_id, regexp_extract(url, 'https?://([^/\s]+)', 1) AS domain FROM u)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM d WHERE domain <> '' GROUP BY 1""")

    # ---- training-data pipeline (sampling / chunking / packing / quality) -
    # Gopher-style repetition quality signals (pipeline.repetition_stats).
    add("doc_repetition",
        lambda spark, sf_dir: pipeline.repetition_stats(_docs(spark, sf_dir)),
        f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
uni AS (
  SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), {ROUND}) AS top_token_frac
  FROM (SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY doc_id, g)
  GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c), {ROUND}) AS dup_bigram_frac,
         ROUND(MAX(c) * 1.0 / SUM(c), {ROUND}) AS top_bigram_frac
  FROM (SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1])) AS g
              FROM t WHERE len(toks) >= 2)
        GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(top_token_frac, 0.0) AS top_token_frac,
       COALESCE(dup_bigram_frac, 0.0) AS dup_bigram_frac,
       COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac
FROM t LEFT JOIN uni USING (doc_id) LEFT JOIN bg USING (doc_id)""")

    # Deterministic per-source sampling (domain mixing). The rate table is
    # shared between the Spark map literal and the oracle's CASE: src0
    # keeps 100%, src19 keeps 5%. md5-bucket membership is engine-portable.
    _MIX_RATES = {f"src{i}": 100 - 5 * i for i in range(20)}

    def _stratified(spark, sf_dir):
        kept = pipeline.stratified_sample(_docs(spark, sf_dir), _MIX_RATES)
        return kept.select(
            "doc_id", "source",
            pipeline.hash_bucket(F.col("doc_id")).alias("sample_bucket"),
        )

    _rate_case = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in _MIX_RATES.items()
    ) + " ELSE 0 END"
    add("corpus_sample_stratified", _stratified, f"""
WITH b AS (
  SELECT doc_id, source,
         CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
           AS sample_bucket
  FROM documents
)
SELECT doc_id, source, sample_bucket FROM b
WHERE sample_bucket < {_rate_case}""")

    # Context-window chunking: 32-token chunks, explode-only plan.
    add("doc_chunks",
        lambda spark, sf_dir: pipeline.chunk_documents(_docs(spark, sf_dir), chunk_tokens=32),
        f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, toks, n,
             unnest(generate_series(0, CAST(ceil(n / 32.0) AS BIGINT) - 1)) AS chunk_id
      FROM n)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(LEAST(32, n - chunk_id * 32) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 32), ' ')
         AS chunk_text
FROM c""")

    # Corpus sink/source roundtrip: documents written as source-partitioned
    # JSONL (the LLM-corpus interchange format) through writers/readers with
    # an explicit schema, read back (source resolves from directory names)
    # and profiled per source. JSON string escaping is lossless, so the
    # profile is exact vs the parquet originals.
    def _corpus_profile(back: DataFrame, key: str) -> DataFrame:
        return back.groupBy(key).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("sum_len"),
            F.sum("doc_id").alias("sum_ids"),
        )

    def _jsonl_roundtrip(spark, sf_dir):
        def run(d):
            readers.write_corpus(_docs(spark, sf_dir), d, format="jsonl", mode="overwrite",
                                 partition_by=["source"])
            return _corpus_profile(readers.read_corpus(
                spark, d, format="jsonl",
                schema="doc_id bigint, text string, lang string, n_chars bigint, source string",
            ), "source")

        return _collect_in_scratch(spark, "as_jsonl_rt_", run)

    add("docs_jsonl_roundtrip", _jsonl_roundtrip, """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY source""")

    # RAG-ingest composition: chunk → hashed bag-of-words → sign-bit
    # hyperplane shard per chunk (the vector-index partition key). The
    # oracle slices chunk tokens straight from the document token list
    # (identical to re-splitting the rejoined chunk_text) and reuses the
    # literal 6dp hyperplanes; sign of Σ count·plane[bucket] needs no
    # normalization, so the whole composition stays exact.
    def _chunk_shards_sql() -> str:
        planes = similarity.hyperplanes(64, 6, 42)
        d_cols = ", ".join(
            f"SUM(c * list_extract({_plane_sql(p)}, bk + 1)) AS d{t}"
            for t, p in enumerate(planes)
        )
        shard = " + ".join(
            f"(CASE WHEN d{t} >= 0 THEN {1 << t} ELSE 0 END)" for t in range(6)
        )
        return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) > 0),
ch AS (SELECT doc_id, toks, n,
              unnest(generate_series(0, CAST(ceil(n / 32.0) AS BIGINT) - 1)) AS chunk_id
       FROM n),
tok AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(LEAST(32, n - chunk_id * 32) AS BIGINT) AS n_chunk_tokens,
               unnest(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 32)) AS tok
        FROM ch),
b AS (SELECT doc_id, chunk_id, n_chunk_tokens,
             CAST(CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64
                  AS INTEGER) AS bk
      FROM tok),
c2 AS (SELECT doc_id, chunk_id, n_chunk_tokens, bk,
              CAST(COUNT(*) AS DOUBLE) AS c
       FROM b GROUP BY 1, 2, 3, 4),
d AS (SELECT doc_id, chunk_id, n_chunk_tokens, {d_cols}
      FROM c2 GROUP BY 1, 2, 3)
SELECT doc_id, chunk_id, n_chunk_tokens,
       CAST({shard} AS INTEGER) AS shard
FROM d"""

    add("doc_chunk_shards",
        lambda spark, sf_dir: pipeline.chunk_shards(_docs(spark, sf_dir)),
        _chunk_shards_sql())

    # Greedy concat-then-split packing into 512-token shards. The Spark
    # side runs the two-phase distributed prefix sum (no global window);
    # the oracle is the plain single-node window cumsum, CAST to BIGINT so
    # DuckDB's HUGEINT window SUM cannot skew the driver's type-aware hash.
    add("corpus_pack_greedy",
        lambda spark, sf_dir: pipeline.pack_documents(_docs(spark, sf_dir), budget=512),
        f"""
WITH t AS (SELECT doc_id, CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS excl
      FROM t)
SELECT doc_id, n_tokens,
       CAST(excl // 512 AS BIGINT) AS pack_id,
       CAST(excl % 512 AS BIGINT) AS pack_offset
FROM c""")

    # Benchmark decontamination: training docs sharing word 3-grams with an
    # eval set (deterministically carved out as doc_id % 40 == 7, ~13 docs).
    # The eval-gram list is broadcast; the corpus never shuffles beyond its
    # own per-doc distinct. n=3 on the synthetic small-vocab corpus gives a
    # non-vacuous split (some overlap, not everything contaminated).
    def _decontam(spark, sf_dir):
        docs = _docs(spark, sf_dir)
        eval_df = docs.where(F.col("doc_id") % 40 == 7)
        return pipeline.decontaminate(docs, eval_df, n=3, threshold=0.05)

    _decontam_sql = f"""
WITH t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM t WHERE len(toks) >= 3)
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 40 = 7),
tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM g GROUP BY doc_id),
hit AS (SELECT g.doc_id, COUNT(*) AS n_contaminated
        FROM g JOIN ev USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(hit.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       ROUND(COALESCE(hit.n_contaminated * 1.0 / tot.n_ngrams, 0.0), {ROUND})
         AS contamination_frac,
       COALESCE(hit.n_contaminated * 1.0 / tot.n_ngrams, 0.0) > 0.05 AS flagged
FROM documents d
LEFT JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN hit ON d.doc_id = hit.doc_id"""

    add("doc_decontaminate", _decontam, _decontam_sql)

    # The hash-compacted broadcast variant: 8-byte xxhash64 digests
    # broadcast instead of raw gram strings, candidates re-verified
    # against the raw eval grams — output bit-equal to the exact path,
    # so the SAME oracle gates both configurations.
    def _decontam_hashed(spark, sf_dir):
        docs = _docs(spark, sf_dir)
        eval_df = docs.where(F.col("doc_id") % 40 == 7)
        return pipeline.decontaminate(
            docs, eval_df, n=3, threshold=0.05, hashed=True
        )

    add("doc_decontaminate_hashed", _decontam_hashed, _decontam_sql)

    # Hard rule gate (Gopher-style) with reason codes. Thresholds are
    # corpus-relative so three of the five rules genuinely fire at sf0.01
    # (tokens 10-99, mean word length 3.7-5.3, stopwords 0-14):
    # min_tokens=30, word_len >= 4.0, stopwords >= 2.
    _qf_sql = f"""
WITH t AS (
  SELECT doc_id,
         COALESCE(len({_TOKS_SQL}), 0) AS n,
         {_TOKS_SQL} AS toks,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')
           AS ltoks
  FROM documents
),
m AS (
  SELECT doc_id, n,
    CASE WHEN n > 0
         THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / n
         ELSE 0.0 END AS mean_len,
    CASE WHEN n > 0
         THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / n
         ELSE 0.0 END AS alpha_frac,
    COALESCE(len(list_filter(ltoks, x -> x IN ({_stop_list()}))), 0) AS stop
  FROM t
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_tokens,
  ROUND(mean_len, {ROUND}) AS mean_word_len,
  ROUND(alpha_frac, {ROUND}) AS alpha_word_frac,
  CAST(stop AS BIGINT) AS n_stopwords,
  concat_ws(',',
    CASE WHEN n < 30 THEN 'min_tokens' END,
    CASE WHEN n > 100000 THEN 'max_tokens' END,
    CASE WHEN mean_len < 4.0 OR mean_len > 10.0 THEN 'word_len' END,
    CASE WHEN alpha_frac < 0.8 THEN 'alpha_frac' END,
    CASE WHEN stop < 2 THEN 'stopwords' END) AS failed_rules,
  (concat_ws(',',
    CASE WHEN n < 30 THEN 'min_tokens' END,
    CASE WHEN n > 100000 THEN 'max_tokens' END,
    CASE WHEN mean_len < 4.0 OR mean_len > 10.0 THEN 'word_len' END,
    CASE WHEN alpha_frac < 0.8 THEN 'alpha_frac' END,
    CASE WHEN stop < 2 THEN 'stopwords' END) = '') AS keep
FROM m"""

    add("doc_quality_filter",
        lambda spark, sf_dir: pipeline.quality_filter(
            _docs(spark, sf_dir), min_tokens=30, min_mean_word_len=4.0),
        _qf_sql)

    # adversarial null sweep, pipeline family: null/empty texts take the
    # all-rules-fail path (n=0, ratios 0.0, keep=false) in both engines
    add("doc_quality_filter_nulls",
        lambda spark, sf_dir: pipeline.quality_filter(
            _docs_nulled(spark, sf_dir), min_tokens=30, min_mean_word_len=4.0),
        "WITH " + _NULLS_DOCS_CTE + ",\n" + _qf_sql.lstrip().removeprefix("WITH "))

    # Per-source rollup: the accounting table a domain-mixing run reads
    # before setting stratified_sample rates.
    add("corpus_source_stats",
        lambda spark, sf_dir: pipeline.source_stats(_docs(spark, sf_dir)),
        f"""
WITH t AS (SELECT source, lang,
                  CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT) AS n
           FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       ROUND(AVG(n), {ROUND}) AS avg_tokens,
       ROUND(median(n), {ROUND}) AS median_tokens,
       COUNT(DISTINCT lang) AS n_langs
FROM t GROUP BY source""")

    # Feature-hashing text embedder (the hashing trick): md5 buckets →
    # dense L2-normalized vector — the in-engine documents→embeddings
    # bridge. The gate unpivots the nonzero buckets (one row per (doc,
    # bucket)) so the vector is value-hashed element by element.
    def _hash_embed(spark, sf_dir):
        emb = text.hash_embed(_docs(spark, sf_dir), dim=64)
        return (
            emb.select("doc_id", F.posexplode("embedding").alias("bucket", "w"))
            .where(F.col("w") > 0)
            .select("doc_id", "bucket", F.round("w", ROUND).alias("weight"))
        )

    add("doc_hash_embed", _hash_embed, f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
b AS (SELECT doc_id,
             CAST(CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64
                  AS INTEGER) AS bucket
      FROM tok),
c AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
n AS (SELECT doc_id, SQRT(SUM(c * c)) AS nrm FROM c GROUP BY 1)
SELECT c.doc_id, c.bucket, ROUND(c.c / n.nrm, {ROUND}) AS weight
FROM c JOIN n USING (doc_id)""")

    # Per-source token-length distribution profile: exact interpolated
    # percentiles (parity with quantile_cont; the exact=False KLL path is
    # the 100 TB variant).
    add("corpus_length_quantiles",
        lambda spark, sf_dir: pipeline.length_quantiles(_docs(spark, sf_dir)),
        f"""
WITH t AS (SELECT source,
                  CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT) AS n
           FROM documents)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(n), {ROUND}) AS mean_tokens,
       MAX(n) AS max_tokens,
       ROUND(quantile_cont(n, 0.25), {ROUND}) AS p25_tokens,
       ROUND(quantile_cont(n, 0.5), {ROUND}) AS p50_tokens,
       ROUND(quantile_cont(n, 0.75), {ROUND}) AS p75_tokens,
       ROUND(quantile_cont(n, 0.95), {ROUND}) AS p95_tokens
FROM t GROUP BY source""")

    # Corpus-self-trained bigram LM score (CCNet/KenLM-style): add-0.1
    # smoothed P(cur|prev) from corpus-wide counts; per-doc mean log-prob.
    # Both engines train the identical "model" (two count tables + the
    # vocab size), so the approximation-free check covers tokenization,
    # the count joins, and the smoothing arithmetic end to end.
    add("doc_lm_score",
        lambda spark, sf_dir: pipeline.lm_score(_docs(spark, sf_dir), alpha=0.1),
        f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
           FROM documents),
uni AS (SELECT tok, COUNT(*) AS c1
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
pairs AS (
  SELECT doc_id, toks[i] AS prev, toks[i] || ' ' || toks[i + 1] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 2)
),
big AS (SELECT gram, COUNT(*) AS c2 FROM pairs GROUP BY 1),
sc AS (
  SELECT p.doc_id, ln((b.c2 + 0.1) / (u.c1 + 0.1 * v.v)) AS lp
  FROM pairs p JOIN big b USING (gram) JOIN uni u ON p.prev = u.tok, v
),
agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, AVG(lp) AS a FROM sc GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       ROUND(COALESCE(agg.a, 0.0), {ROUND}) AS avg_logprob
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""")

    # fastText-style linear quality classifier (pipeline.classifier_score,
    # Joulin et al. 2016): hashed unigram+bigram bag → mean-pooled seeded
    # per-bucket weights → sigmoid. The weights are EXACT multiples of
    # 2^-10 (dyadic rationals), so the per-document feature sum is exact
    # in double arithmetic on both engines REGARDLESS of summation order —
    # the usual AVG-oracle float-order hazard is designed out, not rounded
    # away; the only cross-engine float op left is one exp(). Runs on the
    # null-injected corpus: featureless documents must score the model's
    # empty-input prior sigmoid(bias), pinning the null/empty path.
    _clf_w = [((b * 2654435761) % 1024) / 1024.0 - 0.5 for b in range(256)]
    add("doc_classifier_score",
        lambda spark, sf_dir: pipeline.classifier_score(
            _docs_nulled(spark, sf_dir), _clf_w, bias=-0.25, word_ngrams=2),
        f"""
WITH {_NULLS_DOCS_CTE},
t AS (SELECT doc_id,
             list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
      FROM documents),
f AS (
  SELECT doc_id, unnest(toks) AS f FROM t
  UNION ALL
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(toks) - 1, 0) + 1),
           i -> array_to_string(toks[i:i+1], ' '))) AS f
  FROM t
),
w AS (SELECT doc_id,
             (((CAST(CONCAT('0x', substr(md5(f), 1, 8)) AS BIGINT) % 256)
               * 2654435761) % 1024) / 1024.0 - 0.5 AS w
      FROM f),
s AS (SELECT doc_id, COUNT(*) AS n_features, SUM(w) / COUNT(*) AS m
      FROM w GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(s.n_features, 0) AS BIGINT) AS n_features,
       ROUND(1.0 / (1.0 + EXP(-(COALESCE(s.m, 0.0) - 0.25))), {ROUND}) AS score
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""")

    # Deterministic weighted sampling without replacement (Efraimidis-
    # Spirakis exponential keys): token-mass-weighted top-100, md5-keyed
    # uniforms so both engines draw the identical "random" sample.
    def _wsample(spark, sf_dir):
        d = _docs(spark, sf_dir).select(
            "doc_id",
            F.coalesce(text.token_count(F.col("text")), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )
        return pipeline.weighted_sample(d, weight=F.col("n_tokens"), n=100)

    add("corpus_weighted_sample", _wsample, f"""
WITH t AS (SELECT doc_id,
                  CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT) AS n_tokens
           FROM documents),
p AS (SELECT doc_id, n_tokens,
             ROUND(ln((CAST(CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
                   / CAST(n_tokens AS DOUBLE), {ROUND}) AS priority
      FROM t WHERE n_tokens > 0)
SELECT doc_id, n_tokens, priority
FROM p ORDER BY priority DESC, doc_id LIMIT 100""")

    # Deterministic content-keyed train/val/test split: md5-uniforms against
    # cumulative thresholds. The Python-computed cumulative floats are
    # injected into BOTH engines (0.98 + 0.01 is not the literal 0.99 in
    # binary), and u = bigint/2^52-free power-of-two division is exact, so
    # the assignment is bit-identical.
    _SPLIT_C1 = 0.98
    _SPLIT_C2 = 0.98 + 0.01

    def _hash_split(spark, sf_dir):
        d = pipeline.hash_split(_docs(spark, sf_dir))
        return d.groupBy("source", "split").agg(
            F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_ids")
        )

    add("corpus_hash_split", _hash_split, f"""
WITH u AS (SELECT doc_id, source,
  CAST(CAST(CONCAT('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM documents),
s AS (SELECT source, doc_id,
  CASE WHEN u < {_SPLIT_C1!r} THEN 'train'
       WHEN u < {_SPLIT_C2!r} THEN 'val'
       ELSE 'test' END AS split FROM u)
SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM s GROUP BY source, split""")

    # Tokenizer-ready sharding: md5-keyed pseudo-random shard + within-shard
    # sort key (global-shuffle de-correlation before sequence packing),
    # profiled per shard — no per-shard row_number funnel anywhere.
    def _shards(spark, sf_dir):
        d = pipeline.shard_corpus(_docs(spark, sf_dir), n_shards=8)
        return d.groupBy("shard").agg(
            F.count("*").alias("n_docs"),
            F.sum("shard_key").alias("sum_keys"),
            F.min("shard_key").alias("min_key"),
        )

    add("corpus_shards", _shards, """
WITH k AS (SELECT CAST(CONCAT('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) AS key
           FROM documents)
SELECT CAST(key % 8 AS INTEGER) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(key) AS BIGINT) AS sum_keys, CAST(MIN(key) AS BIGINT) AS min_key
FROM k GROUP BY key % 8""")

    # CCNet-style perplexity bucketing: corpus-relative head/middle/tail
    # terciles of the bigram-LM score. Quantiles are computed over the
    # 7dp-ROUNDED scores both sides, so the tercile thresholds — and the
    # strict-> boundary rule — replicate exactly.
    add("doc_lm_buckets",
        lambda spark, sf_dir: pipeline.lm_buckets(_docs(spark, sf_dir), alpha=0.1),
        f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
           FROM documents),
uni AS (SELECT tok, COUNT(*) AS c1
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
pairs AS (
  SELECT doc_id, toks[i] AS prev, toks[i] || ' ' || toks[i + 1] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 2)
),
big AS (SELECT gram, COUNT(*) AS c2 FROM pairs GROUP BY 1),
sc AS (
  SELECT p.doc_id, ln((b.c2 + 0.1) / (u.c1 + 0.1 * v.v)) AS lp
  FROM pairs p JOIN big b USING (gram) JOIN uni u ON p.prev = u.tok, v
),
agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, AVG(lp) AS a FROM sc GROUP BY 1),
scores AS (
  SELECT d.doc_id,
         CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         ROUND(COALESCE(agg.a, 0.0), {ROUND}) AS avg_logprob
  FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
q AS (SELECT quantile_cont(avg_logprob, 1.0/3) AS q1,
             quantile_cont(avg_logprob, 2.0/3) AS q2
      FROM scores WHERE n_bigrams > 0)
SELECT doc_id, n_bigrams, avg_logprob,
       CASE WHEN n_bigrams = 0 THEN 'tail'
            WHEN avg_logprob > q2 THEN 'head'
            WHEN avg_logprob > q1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scores, q""")

    # Token-budget domain mixing: src1 over-weighted so its allocation
    # exceeds its mass (rate caps at 1 — kept whole), src0/src2 land at
    # fractional rates, the other 17 sources get weight 0 (dropped) — all
    # three regimes of the rate formula are driver-checked.
    add("corpus_mix_sample",
        lambda spark, sf_dir: pipeline.mix_sample(
            _docs(spark, sf_dir),
            weights={"src0": 1.0, "src1": 8.0, "src2": 1.0},
            token_budget=2000,
        ).select("doc_id", "source", F.round("keep_rate", ROUND).alias("keep_rate")),
        f"""
WITH m AS (
  SELECT source, SUM(len({_TOKS_SQL})) AS mass FROM documents GROUP BY 1
),
r AS (
  SELECT source,
         LEAST(1.0, 2000.0 * (CASE source WHEN 'src0' THEN 0.1
                                          WHEN 'src1' THEN 0.8
                                          WHEN 'src2' THEN 0.1
                                          ELSE 0.0 END) / mass) AS keep_rate
  FROM m
)
SELECT d.doc_id, d.source, ROUND(r.keep_rate, {ROUND}) AS keep_rate
FROM documents d JOIN r USING (source)
WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 10000 < r.keep_rate * 10000""")

    # DSIR importance resampling (Xie et al. 2023): hashed-unigram
    # importance weights toward the English-language target slice, top-100
    # selection. Features are md5 hash buckets (engine-portable), both
    # distributions add-α smoothed over the fixed 4096-bucket vocabulary,
    # so the oracle reproduces weight AND selection exactly (the Spark
    # side's bounded TakeOrdered threshold equals rank-≤-n under the
    # unique-doc-id total order).
    add("doc_dsir_select",
        lambda spark, sf_dir: pipeline.dsir_weights(
            _docs(spark, sf_dir), target=F.col("lang") == "en",
            n_buckets=4096, alpha=0.5, top_n=100),
        f"""
WITH t AS (SELECT doc_id, (lang = 'en') AS is_target,
                  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
           FROM documents),
tok AS (SELECT doc_id, is_target, unnest(toks) AS tok FROM t),
bk AS (SELECT doc_id, is_target,
              CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS b
       FROM tok),
c AS (SELECT b, COUNT(*) FILTER (WHERE is_target) AS ct, COUNT(*) AS cr
      FROM bk GROUP BY 1),
tt AS (SELECT CAST(SUM(ct) AS DOUBLE) AS nt, CAST(SUM(cr) AS DOUBLE) AS nr FROM c),
lp AS (SELECT b, ln((ct + 0.5) / (nt + 0.5 * 4096))
                 - ln((cr + 0.5) / (nr + 0.5 * 4096)) AS diff
       FROM c, tt),
sc AS (SELECT bk.doc_id, AVG(diff) AS w FROM bk JOIN lp USING (b) GROUP BY 1),
base AS (
  SELECT t.doc_id, t.is_target,
         CAST(COALESCE(len(t.toks), 0) AS BIGINT) AS n_tokens,
         ROUND(COALESCE(sc.w, 0.0), {ROUND}) AS log_weight
  FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id)
SELECT doc_id, is_target, n_tokens, log_weight,
       (ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id)) <= 100 AS selected
FROM base""")

    # Hierarchical (source, lang) / source / grand-total profile in one
    # ROLLUP result. The Spark side pre-aggregates to the tiny
    # (source × lang) grain before rolling up, so no Expand ever touches
    # corpus rows; the oracle rolls up the raw table directly — identical
    # values by associativity of the sums.
    add("corpus_rollup_stats",
        lambda spark, sf_dir: pipeline.corpus_rollup(_docs(spark, sf_dir)),
        f"""
SELECT source, lang,
       CAST(GROUPING(source, lang) AS INTEGER) AS grouping_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(len({_TOKS_SQL}), 0)) AS BIGINT) AS total_tokens,
       ROUND(SUM(COALESCE(len({_TOKS_SQL}), 0)) * 1.0 / COUNT(*), {ROUND})
         AS avg_tokens
FROM documents GROUP BY ROLLUP (source, lang)""")

    # Declarative data-quality gate (Deequ-style): six rule kinds in ONE
    # aggregation pass, unpivoted to a per-rule report frame. Runs over
    # the null-injected corpus so the violating branches of not_null /
    # non_empty fire alongside genuine in_range (n_chars caps at 553) and
    # in_set (zh ∉ allowed) violations — and unique/matches pass — so both
    # report outcomes are driver-checked. Oracle = independent UNION ALL
    # of per-rule filtered counts.
    def _constraint_report(spark, sf_dir):
        return checks.check_constraints(_docs_nulled(spark, sf_dir), [
            checks.not_null("text"),
            checks.unique("doc_id"),
            checks.non_empty("text"),
            checks.in_range("n_chars", lo=1, hi=500),
            checks.in_set("lang", ["en", "de", "fr", "es"]),
            checks.matches("source", "src[0-9]+"),
        ])

    add("corpus_constraint_report", _constraint_report, f"""
WITH {_NULLS_DOCS_CTE},
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents),
v AS (
  SELECT 'not_null(text)' AS rule, 'text' AS "column",
         CAST(COUNT(*) FILTER (WHERE text IS NULL) AS BIGINT) AS violations
  FROM documents
  UNION ALL
  SELECT 'unique(doc_id)', 'doc_id',
         CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'non_empty(text)', 'text',
         CAST(COUNT(*) FILTER (WHERE text IS NULL OR trim(text) = '')
              AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'in_range(n_chars)', 'n_chars',
         CAST(COUNT(*) FILTER (WHERE n_chars IS NOT NULL
                                 AND (n_chars < 1 OR n_chars > 500))
              AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'in_set(lang)', 'lang',
         CAST(COUNT(*) FILTER (WHERE lang IS NOT NULL
                                 AND lang NOT IN ('en', 'de', 'fr', 'es'))
              AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'matches(source)', 'source',
         CAST(COUNT(*) FILTER (WHERE source IS NOT NULL
                                 AND NOT regexp_full_match(source, 'src[0-9]+'))
              AS BIGINT)
  FROM documents
)
SELECT rule, "column", violations, n.n_rows, violations = 0 AS passed
FROM v, n""")

    # Per-source quota (Common-Crawl-style per-domain cap): deterministic
    # md5-keyed survivors, skew-aware two-phase plan (under-cap groups never
    # shuffle; only over-cap groups rank). cap=10 against the 25-docs-per-
    # source gate corpus, so every group exercises the rank branch; the
    # pass-through branch is pinned by pytest on a skewed synthetic frame.
    add("corpus_cap_per_source",
        lambda spark, sf_dir: pipeline.cap_per_group(
            _docs(spark, sf_dir), cap=10, group_col="source"
        ).select("doc_id", "source"),
        """
WITH k AS (SELECT doc_id, source,
  CAST(CONCAT('0x', substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))
       AS BIGINT) AS key
  FROM documents),
r AS (SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
      FROM k)
SELECT doc_id, source FROM r WHERE rn <= 10""")

    # The same quota machinery as best-k curation: order_by=-n_chars keeps
    # the 3 LONGEST documents per source (ties by id) instead of the
    # unbiased md5 draw — the other half of cap_per_group's contract.
    add("corpus_top_docs_per_source",
        lambda spark, sf_dir: pipeline.cap_per_group(
            _docs(spark, sf_dir), cap=3, group_col="source",
            order_by=-F.col("n_chars"),
        ).select("doc_id", "source", "n_chars"),
        """
WITH r AS (SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM r WHERE rn <= 3""")

    # Cross-source trigram overlap matrix: the corpus-audit surface for
    # mirror sites / cross-posted content between ingest sources. The
    # default gram-incidence cap (1000 SOURCES) is inert at the 20-source
    # gate corpus, so the oracle needs no cap CTE; the capped path is
    # pinned by pytest on a synthetic ubiquitous gram.
    add("corpus_overlap_matrix",
        lambda spark, sf_dir: pipeline.source_overlap_matrix(
            _docs(spark, sf_dir), n=3
        ),
        f"""
WITH t AS (SELECT source, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
g AS (
  -- grams hashed to 60-bit BIGINTs before the DISTINCT, mirroring
  -- source_overlap_matrix's shuffle-width hashing bit-for-bit
  SELECT DISTINCT source,
         CAST(CONCAT('0x', substr(md5(
             array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15))
           AS BIGINT) AS gram
  FROM (SELECT source, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM t WHERE len(toks) >= 3)
),
sz AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
c AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2)
SELECT src_a, src_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(za.n_grams AS BIGINT) AS n_grams_a,
       CAST(zb.n_grams AS BIGINT) AS n_grams_b,
       ROUND(n_common * 1.0 / (za.n_grams + zb.n_grams - n_common), {ROUND})
         AS jaccard
FROM c
JOIN sz za ON c.src_a = za.source
JOIN sz zb ON c.src_b = zb.source""")

    # Per-group percentile calibration: percent_rank of n_chars within
    # source (deterministic (rank-1)/(n-1) with id tie-break) — the
    # within-domain normalization a cross-domain quality cut needs.
    add("doc_score_percentiles",
        lambda spark, sf_dir: pipeline.percentile_normalize(
            _docs(spark, sf_dir), "n_chars"
        ).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round("pct_rank", ROUND).alias("pct_rank"),
        ),
        f"""
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id), {ROUND})
         AS pct_rank
FROM documents""")

    # Leakage-safe grouped split: the md5 uniform is drawn from the SOURCE
    # key, so a source's documents can never straddle train/eval. Cumulative
    # thresholds are Python-computed and injected into both engines
    # (hash_split discipline — 0.6 + 0.2 is not the literal 0.8 in binary).
    _GS_C1 = 0.6
    _GS_C2 = 0.6 + 0.2

    add("corpus_group_split",
        lambda spark, sf_dir: pipeline.group_split(
            _docs(spark, sf_dir), group_col="source",
            weights={"train": 0.6, "val": 0.2, "test": 0.2},
        ).groupBy("split").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("doc_id").alias("sum_ids"),
        ),
        f"""
WITH u AS (SELECT doc_id, source,
  CAST(CAST(CONCAT('0x', substr(md5('gsplit:' || source), 1, 8))
            AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM documents)
SELECT CASE WHEN u < {_GS_C1!r} THEN 'train'
            WHEN u < {_GS_C2!r} THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM u GROUP BY 1""")

    # ORC sink/source roundtrip (the third columnar interchange format
    # after parquet and the text formats): self-describing schema, so the
    # read needs no explicit schema — profiled per lang against the parquet
    # originals, which the lossless roundtrip must reproduce exactly.
    def _orc_roundtrip(spark, sf_dir):
        def run(d):
            readers.write_corpus(_docs(spark, sf_dir), d, format="orc", mode="overwrite")
            return _corpus_profile(readers.read_corpus(spark, d, format="orc"), "lang")

        return _collect_in_scratch(spark, "as_orc_rt_", run)

    add("docs_orc_roundtrip", _orc_roundtrip, """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY lang""")

    # ---- end-to-end curation composition ------------------------------------
    # pipeline.curate_corpus: constraints → quality → URL dedup → exact dedup
    # → fuzzy near-dup dedup → fuzzy decontamination → domain mixing → group
    # split → packing, as ONE call with per-document lineage. Every stage is
    # already gated in isolation; this gates the COMPOSITION — the stage
    # ordering, first-drop attribution, survivor threading and the final
    # split/pack assignment — against an independent staged CTE chain in
    # DuckDB (each sN = survivors of stage N, drops = sN ANTI sN+1). The
    # injected feed makes every stage fire at sf0.01: %13 nulls/empties
    # (constraints), corpus-relative quality thresholds, %7/%40 URL
    # collisions, %25==6 verbatim copies of one quality-passing text A
    # (exact), %25==13 near-variants of A (fuzzy), bench = the UNMODIFIED
    # %40==7 slice so surviving %40==7 docs leak at jaccard 1.0
    # (decontamination), and src0/1/2-only mix weights (mix_out).
    _A_TEXT = (
        "the quick brown fox jumps over the lazy sleeping dog while many "
        "other animals watch quietly from their hidden places in the deep "
        "green forest during those long warm summer afternoons and evenings "
        "near the river"
    )
    _CUR_C1 = 0.6
    _CUR_C2 = 0.6 + 0.2
    mh_sql = _mh_sql()
    band_rows = _band_values_sql()

    def _curation(spark, sf_dir):
        docs = _docs(spark, sf_dir)
        txt = (
            F.when(F.col("doc_id") % 13 == 4, F.lit(None).cast("string"))
            .when(F.col("doc_id") % 13 == 9, F.lit(""))
            .when(F.col("doc_id") % 25 == 6, F.lit(_A_TEXT))
            .when(F.col("doc_id") % 25 == 13,
                  F.lit(_A_TEXT + " unique extension marker seven"))
            .otherwise(F.col("text"))
        )
        url = (
            F.when(F.col("doc_id") % 10 == 9, F.lit(None).cast("string"))
            .otherwise(F.concat(
                F.lit("https://site"), F.col("doc_id") % 7,
                F.lit(".example/p/"), F.col("doc_id") % 40))
        )
        feed = docs.select("doc_id", txt.alias("text"), "source", url.alias("url"))
        bench = docs.where(F.col("doc_id") % 40 == 7).select("doc_id", "text")
        with ordered.pass_cache_scope():
            out = pipeline.curate_corpus(
                feed, bench, url_col="url",
                quality_kwargs={"min_tokens": 30, "min_mean_word_len": 4.0},
                mix_weights={"src0": 1.0, "src1": 8.0, "src2": 1.0},
                token_budget=2000,
                split_weights={"train": 0.6, "val": 0.2, "test": 0.2},
                pack_budget=512,
            )
            rows = out.collect()
            schema = out.schema
        return spark.createDataFrame(rows, schema)

    add("corpus_curation_pipeline", _curation, f"""
WITH RECURSIVE
feed AS MATERIALIZED (
  SELECT doc_id, source,
    CASE WHEN doc_id % 13 = 4 THEN NULL
         WHEN doc_id % 13 = 9 THEN ''
         WHEN doc_id % 25 = 6 THEN '{_A_TEXT}'
         WHEN doc_id % 25 = 13 THEN '{_A_TEXT} unique extension marker seven'
         ELSE text END AS text,
    CASE WHEN doc_id % 10 = 9 THEN NULL
         ELSE 'https://site' || (doc_id % 7) || '.example/p/' || (doc_id % 40)
    END AS url
  FROM documents),
-- stage 1: constraints (not_null(doc_id) + non_empty(text))
s1 AS MATERIALIZED (SELECT * FROM feed
       WHERE doc_id IS NOT NULL AND text IS NOT NULL AND trim(text) <> ''),
-- stage 2: quality (thresholds 30 / 4.0, same rules as doc_quality_filter)
qm AS MATERIALIZED (
  SELECT doc_id,
         COALESCE(len({_TOKS_SQL}), 0) AS n,
         {_TOKS_SQL} AS toks,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')
           AS ltoks
  FROM s1),
qk AS MATERIALIZED (
  SELECT doc_id FROM (
    SELECT doc_id, n,
      CASE WHEN n > 0
           THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / n
           ELSE 0.0 END AS mean_len,
      CASE WHEN n > 0
           THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / n
           ELSE 0.0 END AS alpha_frac,
      COALESCE(len(list_filter(ltoks, x -> x IN ({_stop_list()}))), 0) AS stop
    FROM qm)
  WHERE n >= 30 AND n <= 100000 AND mean_len >= 4.0 AND mean_len <= 10.0
    AND alpha_frac >= 0.8 AND stop >= 2),
s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN qk USING (doc_id)),
-- stage 3: URL dedup (feed URLs are canonicalization-neutral: lowercase,
-- no www/port/tracking/fragment/trailing-slash, so canonical = url; null
-- URLs keep themselves)
uk AS MATERIALIZED (SELECT doc_id FROM s2
       QUALIFY url IS NULL OR doc_id = MIN(doc_id) OVER (PARTITION BY url)),
s3 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN uk USING (doc_id)),
-- stage 4: exact dedup (min-id representative per normalized-md5 group)
ek AS MATERIALIZED (SELECT doc_id FROM (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM s3)
       QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
s4 AS MATERIALIZED (SELECT s3.* FROM s3 JOIN ek USING (doc_id)),
-- stage 5: fuzzy near-dup dedup (the dedup_corpus chain over s4)
t5 AS MATERIALIZED (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM s4),
sh5 AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM t5),
sig5 AS MATERIALIZED (SELECT doc_id, {mh_sql} FROM sh5 GROUP BY doc_id),
bands5 AS MATERIALIZED (SELECT doc_id, b.band, b.sig
           FROM sig5, LATERAL (VALUES {band_rows}) AS b(band, sig)),
bover5 AS MATERIALIZED (SELECT band, sig FROM bands5 GROUP BY band, sig
           HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap5 AS MATERIALIZED (SELECT b.* FROM bands5 b ANTI JOIN bover5 o
          ON b.band = o.band AND b.sig = o.sig),
cand5 AS MATERIALIZED (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM bcap5 l JOIN bcap5 r
            ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
shh5 AS MATERIALIZED (SELECT doc_id,
                CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
         FROM sh5),
sizes5 AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM sh5 GROUP BY doc_id),
common5 AS MATERIALIZED (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
            FROM cand5 c
            JOIN shh5 a ON a.doc_id = c.id_a
            JOIN shh5 b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY 1, 2),
vpairs5 AS MATERIALIZED (SELECT id_a, id_b FROM common5
            JOIN sizes5 sa ON id_a = sa.doc_id
            JOIN sizes5 sb ON id_b = sb.doc_id
            WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5),
edges5 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM vpairs5
           UNION SELECT id_b, id_a FROM vpairs5),
reach5 AS (SELECT src, dst FROM edges5
           UNION
           SELECT r.src, e.dst FROM reach5 r JOIN edges5 e ON r.dst = e.src),
cls5 AS MATERIALIZED (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id
         FROM reach5 GROUP BY src),
s5 AS MATERIALIZED (SELECT s4.* FROM s4 LEFT JOIN cls5 ON s4.doc_id = cls5.id
       WHERE cls5.id IS NULL OR cls5.cluster_id = s4.doc_id),
-- stage 6: fuzzy decontamination vs the UNMODIFIED %40==7 bench slice
bt AS MATERIALIZED (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
       FROM documents WHERE doc_id % 40 = 7),
bsh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM bt),
tt AS MATERIALIZED (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM s5),
tsh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM tt),
bsig AS MATERIALIZED (SELECT doc_id, {mh_sql} FROM bsh GROUP BY doc_id),
tsig AS MATERIALIZED (SELECT doc_id, {mh_sql} FROM tsh GROUP BY doc_id),
bbands AS MATERIALIZED (SELECT doc_id, b.band, b.sig
           FROM bsig, LATERAL (VALUES {band_rows}) AS b(band, sig)),
tbands AS MATERIALIZED (SELECT doc_id, b.band, b.sig
           FROM tsig, LATERAL (VALUES {band_rows}) AS b(band, sig)),
thot AS MATERIALIZED (SELECT band, sig FROM tbands GROUP BY band, sig
         HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
cand6 AS MATERIALIZED (SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS match_id
          FROM bbands l
          JOIN (SELECT b.* FROM tbands b ANTI JOIN thot h
                ON b.band = h.band AND b.sig = h.sig) r
            ON l.band = r.band AND l.sig = r.sig),
bshh AS MATERIALIZED (SELECT doc_id,
                CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
         FROM bsh),
tshh AS MATERIALIZED (SELECT doc_id,
                CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
         FROM tsh),
bsizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM bsh GROUP BY doc_id),
tsizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM tsh GROUP BY doc_id),
common6 AS MATERIALIZED (SELECT c.new_id, c.match_id, COUNT(*) AS cnt
            FROM cand6 c
            JOIN bshh a ON a.doc_id = c.new_id
            JOIN tshh b ON b.doc_id = c.match_id AND b.shingle = a.shingle
            GROUP BY 1, 2),
leak6 AS MATERIALIZED (SELECT DISTINCT match_id FROM common6
          JOIN bsizes sa ON new_id = sa.doc_id
          JOIN tsizes sb ON match_id = sb.doc_id
          WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5),
s6 AS MATERIALIZED (SELECT s5.* FROM s5 ANTI JOIN leak6 l ON s5.doc_id = l.match_id),
-- stage 7: token-budget mixing (weights src0/src1/src2 = 0.1/0.8/0.1,
-- budget 2000; masses over the SURVIVOR frame, mirroring mix_sample's
-- input-frame contract)
mm AS MATERIALIZED (SELECT source, SUM(len({_TOKS_SQL})) AS mass FROM s6 GROUP BY 1),
mr AS MATERIALIZED (SELECT source,
              LEAST(1.0, 2000.0 * (CASE source WHEN 'src0' THEN 0.1
                                               WHEN 'src1' THEN 0.8
                                               WHEN 'src2' THEN 0.1
                                               ELSE 0.0 END) / mass) AS keep_rate
       FROM mm),
s7 AS MATERIALIZED (SELECT s6.* FROM s6 JOIN mr USING (source)
       WHERE CAST(CONCAT('0x', substr(md5(CAST(s6.doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 < mr.keep_rate * 10000),
-- stage 8: survivors -> leakage-safe group split + 512-token packing
gs AS MATERIALIZED (SELECT doc_id,
  CASE WHEN CAST(CAST(CONCAT('0x', substr(md5('gsplit:' || source), 1, 8))
                 AS BIGINT) AS DOUBLE) / 4294967296.0 < {_CUR_C1!r} THEN 'train'
       WHEN CAST(CAST(CONCAT('0x', substr(md5('gsplit:' || source), 1, 8))
                 AS BIGINT) AS DOUBLE) / 4294967296.0 < {_CUR_C2!r} THEN 'val'
       ELSE 'test' END AS split
  FROM s7),
pk AS MATERIALIZED (SELECT doc_id,
              CAST(COALESCE(SUM(CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT))
                     OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS excl
       FROM s7),
-- assembly: first-drop attribution per stage + the survivors' assignment
dropped AS MATERIALIZED (
  SELECT f.doc_id, 'constraints' AS stage FROM feed f
    ANTI JOIN s1 ON f.doc_id = s1.doc_id
  UNION ALL SELECT s1.doc_id, 'quality' FROM s1
    ANTI JOIN s2 ON s1.doc_id = s2.doc_id
  UNION ALL SELECT s2.doc_id, 'url_dup' FROM s2
    ANTI JOIN s3 ON s2.doc_id = s3.doc_id
  UNION ALL SELECT s3.doc_id, 'exact_dup' FROM s3
    ANTI JOIN s4 ON s3.doc_id = s4.doc_id
  UNION ALL SELECT s4.doc_id, 'near_dup' FROM s4
    ANTI JOIN s5 ON s4.doc_id = s5.doc_id
  UNION ALL SELECT s5.doc_id, 'contaminated' FROM s5
    ANTI JOIN s6 ON s5.doc_id = s6.doc_id
  UNION ALL SELECT s6.doc_id, 'mix_out' FROM s6
    ANTI JOIN s7 ON s6.doc_id = s7.doc_id)
SELECT doc_id, FALSE AS kept, stage,
       CAST(NULL AS VARCHAR) AS split,
       CAST(-1 AS BIGINT) AS pack_id, CAST(-1 AS BIGINT) AS pack_offset
FROM dropped
UNION ALL
SELECT gs.doc_id, TRUE AS kept, 'packed' AS stage, gs.split,
       CAST(pk.excl // 512 AS BIGINT) AS pack_id,
       CAST(pk.excl % 512 AS BIGINT) AS pack_offset
FROM gs JOIN pk ON gs.doc_id = pk.doc_id""")
