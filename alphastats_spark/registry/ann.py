"""ANN and embedding family: similarity search, vector indexes and
embedding dedup, each checked exactly against a DuckDB oracle."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from alphastats_spark.functions import dedup, similarity
from alphastats_spark.registry.shared import (
    ROUND,
    _EMB_DIM,
    _ann_inputs,
    _collect_in_scratch,
    _embs,
    _oracle_embeddings,
    _plane_sql,
    _round_df,
)

# -- seeded-LSH oracle generation --------------------------------------------
# The random-hyperplane LSH operators (functions/similarity.py:57-72,
# functions/dedup.py:284-320) draw their planes from a seeded numpy RNG on
# the driver and ship them as literal arrays, so the SAME constants can be
# embedded in the DuckDB oracle — the approximate index is then checked
# exactly (identical candidate sets by construction, not by luck).


def _bucket_sql(vec: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket id — SQL twin of similarity.bucket_expr."""
    terms = [
        f"(CASE WHEN list_dot_product({vec}, {_plane_sql(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _emb_lsh_pairs_sql(threshold: float, n_planes: int, n_tables: int,
                       seed: int = 42) -> str:
    """Oracle for dedup.embedding_near_dup_pairs_lsh: a pair is a candidate
    when ANY table's bucket ids match (≡ Spark's union of per-table joins +
    dropDuplicates), then exact-cosine filtered at ``threshold``."""
    buckets = []
    for t in range(n_tables):
        planes = similarity.hyperplanes(_EMB_DIM, n_planes, seed + t)
        buckets.append(f"{_bucket_sql('e', planes)} AS b{t}")
    any_match = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    cos = "ROUND(list_dot_product(a.e, c.e) / (a.norm * c.norm), 7)"
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
b AS (
  SELECT vec_id, e, norm, {", ".join(buckets)} FROM v
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b, {cos} AS cosine
FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({any_match})
WHERE {cos} >= {threshold}"""


def _ann_lsh_sql(
    k: int, n_planes: int, seed: int = 42, n_tables: int = 1, radius: int = 1
) -> str:
    """Oracle for similarity.lsh_topk (multi-table, multiprobe).

    The query's per-table bucket and its Hamming-``radius`` probe set are computed
    HERE in Python with the exact arithmetic of similarity.query_bucket
    (the query vector is read from the gate-scale parquet, same floats
    Spark collects), so they embed as integer literals; each row's bucket
    is recomputed in SQL from the same literal planes."""
    _, _, qvec = _oracle_embeddings()
    conds = []
    for t in range(n_tables):
        planes = similarity.hyperplanes(len(qvec), n_planes, seed + t)
        qb = similarity.query_bucket(qvec, planes)
        cands = similarity.probe_set(qb, n_planes, radius)
        conds.append(
            f"{_bucket_sql('embedding::DOUBLE[]', planes)} "
            f"IN ({', '.join(str(c) for c in cands)})"
        )
    where = "\n     OR ".join(conds)
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    ROUND(list_dot_product(embedding::DOUBLE[], qe)
      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       * sqrt(list_dot_product(qe, qe))), 7) AS cosine
  FROM embeddings, q
  WHERE {where}
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT {k}"""


def _nearest_centroid_sql(cents: list[list[float]], dim: int) -> tuple[list[str], str]:
    """The per-row squared distances ``d0..dN`` to each centroid and their
    first-occurrence argmin ``CASE`` — the twin of
    similarity._centroid_id_expr, shared by the IVF and SemDedup oracles."""
    d_cols = []
    for i, c in enumerate(cents):
        lit = _plane_sql(c)
        d_cols.append(
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"j -> (e[j] - ({lit})[j]) * (e[j] - ({lit})[j]))) AS d{i}"
        )
    cases = []
    for i in range(len(cents) - 1, 0, -1):
        prev = ", ".join(f"d{j}" for j in range(i))
        prev_min = f"LEAST({prev})" if i > 1 else "d0"
        cases.append(f"WHEN d{i} < {prev_min} THEN {i}")
    return d_cols, "CASE " + " ".join(cases) + " ELSE 0 END"


def _ivf_oracle_sql(k: int = 20, n_centroids: int = 16, nprobe: int = 4,
                    seed: int = 42, sample_rows: int = 10_000,
                    train_mod: tuple[int, int] | None = None) -> str:
    """Oracle for similarity.ivf_topk.

    The coarse quantizer is deterministic end-to-end: the training sample is
    the first ``sample_rows`` vectors by vec_id (similarity.ivf_centroids
    samples the same way via TakeOrderedAndProject) and k-means is the pure
    seeded similarity.kmeans_train, so re-training here from the parquet via
    pyarrow yields bit-identical centroids. The SQL then replicates the
    per-row argmin assignment (elementwise (a−b)² fold, first-occurrence
    tie-break — the twin of similarity._centroid_id_expr) and the numpy
    probe order.
    """
    ids, vecs, qvec = _oracle_embeddings()
    if train_mod is not None:
        # centroids trained on a SUBSET (the index-append query builds the
        # quantizer before the appended batch exists): keep ids where
        # id % m != r, mirroring the Spark side's ivf_centroids input
        m, r = train_mod
        keep = np.nonzero(ids % m != r)[0]
        order = keep[np.argsort(ids[keep], kind="stable")][:sample_rows]
    else:
        order = np.argsort(ids, kind="stable")[:sample_rows]
    cents = similarity.kmeans_train([vecs[i] for i in order], n_centroids, 5, seed)
    probes = similarity.ivf_probes(qvec, cents, nprobe)
    d_cols, argmin = _nearest_centroid_sql(cents, len(qvec))
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id, e, norm, {", ".join(d_cols)} FROM v),
a AS (SELECT vec_id, e, norm, {argmin} AS ivf_list FROM d)
SELECT vec_id,
  ROUND(list_dot_product(e, qe) / (norm * sqrt(list_dot_product(qe, qe))), 7) AS cosine
FROM a, q
WHERE ivf_list IN ({", ".join(str(p) for p in probes)})
ORDER BY cosine DESC, vec_id LIMIT {k}"""


def _ivfpq_oracle_sql(k: int = 20, n_centroids: int = 16, nprobe: int = 8,
                      m: int = 4, n_codes: int = 16, seed: int = 42,
                      sample_rows: int = 10_000, refine: int = 0) -> str:
    """Oracle for similarity.ivfpq_topk (pure-ADC path).

    Everything non-SQL is a pure seeded function shared with the Spark
    path: the coarse centroids (kmeans_train on the first ``sample_rows``
    vectors by vec_id), the per-subspace codebooks (pq_train, same sample),
    the probe list (ivf_probes) and the query's ADC lookup table
    (pq_adc_lut). The SQL replicates the coarse argmin and each subspace's
    argmin code with ``list_position(ds, list_min(ds)) - 1`` — the exact
    twin of similarity._argmin_expr's flat first-occurrence form — and the
    left-associated ``m``-term LUT sum, so the approximate index is
    value-hashed exactly."""
    ids, vecs, qvec = _oracle_embeddings()
    order = np.argsort(ids, kind="stable")[:sample_rows]
    sample = [vecs[i] for i in order]
    cents = similarity.kmeans_train(sample, n_centroids, 5, seed)
    books = similarity.pq_train(sample, m, n_codes, 5, seed)
    probes = similarity.ivf_probes(qvec, cents, nprobe)
    lut = similarity.pq_adc_lut(qvec, books)
    dim = len(qvec)
    sub = dim // m

    def _dist(off: int, width: int, lit: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {width + 1}), "
            f"j -> (e[{off} + j] - ({lit})[j]) * (e[{off} + j] - ({lit})[j])))"
        )

    g_list = "[" + ", ".join(_dist(0, dim, _plane_sql(c)) for c in cents) + "]"
    code_cols = []
    for s_i in range(m):
        ds = "[" + ", ".join(
            _dist(s_i * sub, sub, _plane_sql(c)) for c in books[s_i]
        ) + "]"
        code_cols.append(
            f"(list_position({ds}, list_min({ds})) - 1) AS c{s_i}"
        )
    score = " + ".join(
        f"list_extract({_plane_sql(lut[s_i])}, c{s_i} + 1)" for s_i in range(m)
    )
    base = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
g AS (SELECT vec_id, e, {g_list} AS gd FROM v),
a AS (SELECT vec_id, e, (list_position(gd, list_min(gd)) - 1) AS ivf_list FROM g),
p AS (SELECT vec_id, e FROM a
      WHERE ivf_list IN ({", ".join(str(x) for x in probes)})),
cd AS (SELECT vec_id, {", ".join(code_cols)} FROM p)"""
    if not refine:
        return base + f"""
SELECT vec_id, ROUND({score}, {ROUND}) AS adc_dist
FROM cd ORDER BY adc_dist, vec_id LIMIT {k}"""
    # two-stage: the rounded-ADC shortlist (same deterministic
    # (adc_dist, vec_id) order as similarity.ivfpq_topk's refine branch)
    # re-ranked by exact cosine — the same list_dot_product/sqrt pairing
    # the ann_cosine_topk gate already pins against Spark's
    # cosine_similarity
    return base + f""",
adc AS (SELECT vec_id, ROUND({score}, {ROUND}) AS adc_dist
        FROM cd ORDER BY adc_dist, vec_id LIMIT {refine}),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
SELECT s.vec_id,
  ROUND(list_dot_product(v.e, qe)
    / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(qe, qe))),
    {ROUND}) AS cosine
FROM adc s JOIN v ON v.vec_id = s.vec_id, q
ORDER BY cosine DESC, s.vec_id LIMIT {k}"""


def _knn_join_sql(
    k: int, n_planes: int, seed: int = 42, n_tables: int = 2, multiprobe: int = 0
) -> str:
    """Oracle for similarity.knn_join: per-vector top-k within shared LSH
    buckets. Each table's sign-bit bucket is recomputed in SQL from the
    SAME literal hyperplanes the Spark plan ships; a pair is a candidate
    when the buckets agree in ANY table (``multiprobe=1``: differ by at
    most one sign bit — ``bit_count(xor(...)) <= 1`` mirrors the Spark
    side's exploded single-bit-flip probe set); DISTINCT collapses
    multi-table hits (identical rounded cosine by construction)."""
    cap = similarity.KNN_JOIN_MAX_BUCKET
    bucket_cols = []
    join_conds = []
    hot_ctes = []
    for t in range(n_tables):
        planes = similarity.hyperplanes(_EMB_DIM, n_planes, seed + t)
        bucket_cols.append(f"{_bucket_sql('e', planes)} AS b{t}")
        # mirror of the Spark side's per-table mega-bucket guard: a pair
        # is a table-t candidate only when BOTH home buckets are under
        # the cap (the guard fires before the multiprobe explode, so a
        # hot-bucket row contributes neither probes nor candidates)
        hot_ctes.append(
            f"hot{t} AS (SELECT b{t} AS hb FROM b GROUP BY 1 "
            f"HAVING COUNT(*) > {cap})"
        )
        cool = (f"a.b{t} NOT IN (SELECT hb FROM hot{t}) "
                f"AND c.b{t} NOT IN (SELECT hb FROM hot{t})")
        if multiprobe:
            join_conds.append(f"(bit_count(xor(a.b{t}, c.b{t})) <= 1 AND {cool})")
        else:
            join_conds.append(f"(a.b{t} = c.b{t} AND {cool})")
    any_table = " OR ".join(join_conds)
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
b AS (SELECT vec_id, e, nrm, {', '.join(bucket_cols)} FROM v),
{', '.join(hot_ctes)},
pairs AS (
  SELECT DISTINCT a.vec_id AS qid, c.vec_id AS nid,
         ROUND(list_dot_product(a.e, c.e) / (a.nrm * c.nrm), {ROUND}) AS cosine
  FROM b a JOIN b c ON ({any_table}) AND a.vec_id <> c.vec_id
)
SELECT qid AS vec_id, nid AS neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY cosine DESC, nid) AS INTEGER) AS rank
  FROM pairs
) t WHERE rank <= {k}"""


def _semdedup_oracle_sql(threshold: float = 0.5, n_centroids: int = 16,
                         seed: int = 42, sample_rows: int = 10_000) -> str:
    """Oracle for dedup.semdedup_drop_list.

    Re-derives the k-means centroids exactly like ``_ivf_oracle_sql`` (pure
    seeded training on the id-ordered sample), replicates the per-row
    argmin cluster assignment, then mirrors the Spark plan's within-cluster
    lower-id-neighbour compare: cosine is ROUNDed to 7dp BEFORE the
    threshold on both engines so the cutoff cannot flip on the last bit.
    """
    ids, vecs, qvec = _oracle_embeddings()
    order = np.argsort(ids, kind="stable")[:sample_rows]
    cents = similarity.kmeans_train([vecs[i] for i in order], n_centroids, 5, seed)
    d_cols, argmin = _nearest_centroid_sql(cents, len(qvec))
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
d AS (SELECT vec_id, e, norm, {", ".join(d_cols)} FROM v),
a AS (SELECT vec_id, e, norm, {argmin} AS ivf_list FROM d),
p AS (
  SELECT y.vec_id AS vec_id,
         ROUND(list_dot_product(x.e, y.e) / (x.norm * y.norm), 7) AS cosine
  FROM a x JOIN a y ON x.ivf_list = y.ivf_list AND x.vec_id < y.vec_id
)
SELECT vec_id, MAX(cosine) AS max_cosine
FROM p WHERE cosine >= {threshold} GROUP BY vec_id"""


def register(add) -> None:
    """Register the ANN and embedding queries through ``add(name, query, oracle)``."""
    # Embedding near-dups run the LSH-bucketed pipeline as the GATE query —
    # the 100 TB shape (per-bucket equi-joins, no all-pairs join anywhere).
    # The O(n²) brute-force variant (dedup.embedding_near_dup_pairs) is
    # demoted to pytest, where it serves as the recall ground truth.
    #
    # The oracle replicates the candidate generation EXACTLY: the seeded
    # hyperplanes are literal double arrays in the SQL (same constants Spark
    # ships via F.lit), and a pair qualifies when ANY of the n_tables bucket
    # ids match — identical to Spark's union-of-tables + dropDuplicates. The
    # check is therefore exact even though pair *recall* vs brute force is
    # probabilistic.
    #
    # Calibration for threshold=0.4: p_plane = 1 − arccos(0.4)/π ≈ 0.631,
    # so 3 planes collide per table with 0.631³ ≈ 0.251 and 12 tables give
    # expected recall 1 − (1 − 0.251)¹² ≈ 0.97 (tests assert ≥ 0.9 measured
    # against the exact pairs). Tighter thresholds admit more planes per
    # table — at a production near-dup threshold of 0.9 the same 0.97
    # recall needs only ~16-vector buckets per 2²⁰ vectors.
    add("emb_near_dups",
        lambda spark, sf_dir: dedup.embedding_near_dup_pairs_lsh(
            _embs(spark, sf_dir), threshold=0.4, n_planes=3, n_tables=12
        ),
        _emb_lsh_pairs_sql(threshold=0.4, n_planes=3, n_tables=12))

    # Second parameterization: more planes per table at a higher threshold —
    # exercises the planes/tables trade-off through the same exact oracle.
    add("emb_near_dups_lsh",
        lambda spark, sf_dir: dedup.embedding_near_dup_pairs_lsh(
            _embs(spark, sf_dir), threshold=0.45, n_planes=4, n_tables=12
        ),
        _emb_lsh_pairs_sql(threshold=0.45, n_planes=4, n_tables=12))

    # ---- similarity search -------------------------------------------------
    def _ann_query(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec, _ = _ann_inputs(emb)
        return similarity.cosine_topk(emb, qvec, k=20)

    add("ann_cosine_topk", _ann_query, f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    ROUND(list_dot_product(embedding::DOUBLE[], qe)
      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       * sqrt(list_dot_product(qe, qe))), {ROUND}) AS cosine
  FROM embeddings, q
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 20""")

    # MMR diverse reranking (similarity.mmr_rerank; Carbonell &
    # Goldstein 1998) over the brute-force top-20: the oracle UNROLLS
    # the same greedy — one CTE per pick, each an argmax of
    # ROUND(λ·rel − (1−λ)·GREATEST(rounded pairwise cosines), 7) with
    # id-asc ties, the exact arithmetic (left-to-right dot folds,
    # norm-product denominator, the Python double 1−0.7 spelled out)
    # the driver-side greedy performs.
    _mmr_lam, _mmr_k = 0.7, 5
    _mmr_cos = (
        "ROUND(list_dot_product(c.emb, p.emb)"
        " / (sqrt(list_dot_product(c.emb, c.emb))"
        f" * sqrt(list_dot_product(p.emb, p.emb))), {ROUND})"
    )
    _mmr_steps = []
    for _i in range(1, _mmr_k + 1):
        if _i == 1:
            _expr = f"ROUND({_mmr_lam!r} * c.rel, {ROUND})"
            _where = ""
        else:
            _sims = ", ".join(
                f"(SELECT {_mmr_cos} FROM p{_j} p)" for _j in range(1, _i)
            )
            _expr = (
                f"ROUND({_mmr_lam!r} * c.rel - {1.0 - _mmr_lam!r}"
                f" * GREATEST({_sims}), {ROUND})"
            )
            _where = "WHERE c.id NOT IN (" + " UNION ALL ".join(
                f"SELECT id FROM p{_j}" for _j in range(1, _i)
            ) + ")"
        _mmr_steps.append(
            f"p{_i} AS (SELECT c.id, c.rel, c.emb, {_expr} AS mmr\n"
            f"  FROM cand c {_where} ORDER BY mmr DESC, c.id LIMIT 1)"
        )
    _mmr_union = "\n  UNION ALL ".join(
        f"SELECT id, mmr, {_i} AS rank FROM p{_i}"
        for _i in range(1, _mmr_k + 1)
    )

    def _mmr_query(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec, _ = _ann_inputs(emb)
        cand = similarity.cosine_topk(emb, qvec, k=20).join(
            emb.select("vec_id", "embedding"), "vec_id"
        )
        return similarity.mmr_rerank(
            cand, k=_mmr_k, lam=_mmr_lam,
            id_col="vec_id", rel_col="cosine")

    add("ann_mmr_rerank", _mmr_query, f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    ROUND(list_dot_product(embedding::DOUBLE[], qe)
      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       * sqrt(list_dot_product(qe, qe))), {ROUND}) AS cosine
  FROM embeddings, q
),
cand AS (
  SELECT s.vec_id AS id, s.cosine AS rel, e.embedding::DOUBLE[] AS emb
  FROM (SELECT vec_id, cosine FROM scored
        ORDER BY cosine DESC, vec_id LIMIT 20) s
  JOIN embeddings e USING (vec_id)
),
{",".join(_mmr_steps)}
SELECT id AS vec_id, mmr, CAST(rank AS INTEGER) AS rank FROM (
  {_mmr_union}
) ORDER BY rank""")

    # Per-label prototype vectors in long form: posexplode + one map-side-
    # combinable groupBy(label, pos) — the exchange carries |labels|·dim
    # rows regardless of corpus size. avg over FLOAT sums in double on both
    # engines, so 7dp rounding holds.
    def _centroids(spark, sf_dir):
        return _round_df(
            similarity.group_centroids(
                _embs(spark, sf_dir), key_col="label", vec_col="embedding"
            )
        )

    add("emb_label_centroids", _centroids, f"""
SELECT label, CAST(pos AS INTEGER) - 1 AS pos, ROUND(AVG(v), {ROUND}) AS c,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
GROUP BY label, pos""")

    def _ann_lsh(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec, _ = _ann_inputs(emb)
        return similarity.lsh_topk(emb, qvec, k=20, n_tables=4, multiprobe=2)

    # Value-hashed: the oracle recomputes the query's per-table sign-bit
    # buckets, the Hamming-radius-2 multiprobe sets (similarity.probe_set —
    # shared with the Spark path), and each row's bucket from the SAME
    # literal hyperplanes, so the approximate index is checked exactly.
    # Radius 2 × 4 tables: measured recall@20 vs exact = 1.00 at sf0.01
    # (radius 1 × 8 tables was 0.75), pinned in tests/test_functions.py.
    # Parameters are corpus-relative: 6 planes fits the gate corpus; at
    # 10^9+ vectors use 16-20 planes so radius 2 still probes < 0.5%.
    add("ann_lsh_topk", _ann_lsh,
        _ann_lsh_sql(k=20, n_planes=6, seed=42, n_tables=4, radius=2))

    def _ann_ivf(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec, _ = _ann_inputs(emb)
        cents = similarity.ivf_centroids(emb, n_centroids=16, seed=42)
        return similarity.ivf_topk(emb, qvec, cents, k=20, nprobe=8)

    # Value-hashed: centroid training is a pure seeded function of the
    # id-ordered sample, so the oracle re-derives identical centroids and
    # probe lists (see _ivf_oracle_sql). nprobe=8 of 16 lists: measured
    # recall@20 = 0.85 at sf0.01 (nprobe=4 was 0.50).
    add("ann_ivf_topk", _ann_ivf, _ivf_oracle_sql(k=20, n_centroids=16, nprobe=8))

    def _indexed_ivf(prefix, base_of, build_index):
        """ivf_topk over the index ``build_index(spark, emb, base, cents, d)``
        writes to a scratch directory ``d``; the quantizer trains on
        ``base = base_of(emb)``."""
        def q(spark, sf_dir):
            emb = _embs(spark, sf_dir)
            base = base_of(emb)
            qvec, _ = _ann_inputs(emb)
            cents = similarity.ivf_centroids(base, n_centroids=16, seed=42)

            def run(d):
                build_index(spark, emb, base, cents, d)
                return similarity.ivf_topk(
                    spark.read.parquet(d), qvec, cents, k=20, nprobe=8, indexed=True)

            return _collect_in_scratch(spark, prefix, run)

        return q

    def _base80(emb):
        return emb.where(F.col("vec_id") % 5 != 0)

    # The production retrieval shape: index materialized once, parquet
    # PARTITIONED BY ivf_list, per-query probes prune to nprobe of the 16
    # partition directories at the scan (similarity.write_ivf_index;
    # pruning pinned in tests/test_sources_plans.py). Same oracle as the
    # in-memory path — the partitioned round-trip must not change a bit.
    add("ann_ivf_partitioned",
        _indexed_ivf("as_ivf_idx_", lambda emb: emb,
                     lambda spark, emb, base, cents, d:
                     similarity.write_ivf_index(emb, cents, d)),
        _ivf_oracle_sql(k=20, n_centroids=16, nprobe=8))

    def _write_and_append(spark, emb, base, cents, d):
        similarity.write_ivf_index(base, cents, d)
        similarity.append_to_ivf_index(emb.where(F.col("vec_id") % 5 == 0), cents, d)

    # Index MAINTENANCE: quantizer trained on the 80% base corpus, index
    # written partitioned, then the held-out 20% batch parquet-APPENDS into
    # the partition dirs without retrain or rewrite (the daily-crawl ingest
    # shape). The probe then runs over the union; the oracle re-trains the
    # same subset-derived centroids (train_mod) and scans all vectors, so
    # the appended index must agree bit-for-bit with a from-scratch build.
    add("ann_ivf_append", _indexed_ivf("as_ivf_app_", _base80, _write_and_append),
        _ivf_oracle_sql(k=20, n_centroids=16, nprobe=8, train_mod=(5, 0)))

    def _write_append_compact(spark, emb, base, cents, d):
        similarity.write_ivf_index(base, cents, d)
        # five independent ingest batches: append_to_ivf_index commits
        # each through a private staging dir, so they overlap from a
        # driver thread pool — 2-3 in flight fills the scheduling gaps
        # without fighting for executors
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(
                lambda m: similarity.append_to_ivf_index(
                    emb.where(F.col("vec_id") % 25 == 5 * m), cents, d
                ),
                range(5),
            ))
        stats = similarity.compact_ivf_index(spark, d, max_files=2)
        if not stats["files_after"] < stats["files_before"]:
            raise AssertionError(f"compaction was a no-op on a 6-write index: {stats}")

    # Index COMPACTION (similarity.compact_ivf_index): the appended index
    # above, after five more per-batch appends, rewritten into byte-sized
    # files per ivf_list directory. The oracle never sees the index — it
    # re-derives the same top-k from the raw vectors — so a green hash IS
    # the value-preservation proof; the in-query file-count assertion
    # makes a silently no-op compactor fail the gate rather than
    # trivially pass it. File-count + pruning pins live in
    # tests/test_sources_plans.py::test_compact_ivf_index.
    add("ann_ivf_compacted", _indexed_ivf("as_ivf_cmp_", _base80, _write_append_compact),
        _ivf_oracle_sql(k=20, n_centroids=16, nprobe=8, train_mod=(5, 0)))

    def _ann_ivfpq(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec, sample = _ann_inputs(emb, sample_rows=10_000)
        cents = similarity.kmeans_train(sample, 16, 5, 42)
        books = similarity.pq_train(sample, m=4, n_codes=16, n_iters=5, seed=42)
        return similarity.ivfpq_topk(emb, qvec, cents, books, k=20, nprobe=8)

    # IVF-PQ (Jégou et al. 2011): coarse-quantizer pruning + byte codes
    # scored via the query's ADC lookup table — m table lookups per
    # candidate instead of a dim-wide dot product, and a 64× smaller index
    # (4 bytes vs 256 for a 64-d float32 vector). Value-hashed: centroids,
    # codebooks, probe list and LUT are pure seeded functions shared with
    # the oracle generator; recall of the ADC ranking and of the
    # refine-reranked two-stage variant are pinned in pytest.
    add("ann_ivfpq_topk", _ann_ivfpq,
        _ivfpq_oracle_sql(k=20, n_centroids=16, nprobe=8, m=4, n_codes=16))

    def _ann_ivfpq_refine(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec, sample = _ann_inputs(emb, sample_rows=10_000)
        cents = similarity.kmeans_train(sample, 16, 5, 42)
        books = similarity.pq_train(sample, m=4, n_codes=16, n_iters=5, seed=42)
        return similarity.ivfpq_topk(
            emb, qvec, cents, books, k=20, nprobe=8, refine=100
        )

    # The two-stage production shape (Jégou et al. 2011 §IV): cheap ADC
    # over the probed lists shortlists `refine` candidates, exact cosine
    # re-ranks the shortlist — millions scored by m table lookups, exact
    # math only over hundreds. Value-hashed end to end: the oracle
    # rebuilds the identical shortlist (rounded-ADC order, vec_id
    # tiebreak) and the identical cosine re-rank.
    add("ann_ivfpq_refine", _ann_ivfpq_refine,
        _ivfpq_oracle_sql(k=20, n_centroids=16, nprobe=8, m=4, n_codes=16,
                          refine=100))

    # SemDedup: k-means-cluster-bucketed semantic near-dup removal. Same
    # seeded quantizer as ann_ivf_topk, so the oracle re-derives identical
    # centroids and assignment (see _semdedup_oracle_sql). Threshold 0.35
    # is corpus-relative: within-cluster max cosine at sf0.01 is 0.48, and
    # 0.35 drops 72 of 2000 vectors — a non-vacuous gate. (Pairs straddling
    # a cluster boundary are invisible by design — SemDedup's documented
    # recall trade; the LSH path emb_near_dups_lsh covers that regime.)
    def _semdedup(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        cents = similarity.ivf_centroids(emb, n_centroids=16, seed=42)
        return dedup.semdedup_drop_list(emb, cents, threshold=0.35)

    add("emb_semdedup", _semdedup,
        _semdedup_oracle_sql(threshold=0.35, n_centroids=16, seed=42))

    # Approximate kNN self-join: every vector's top-5 cosine neighbours
    # among radius-1 bucket-mates in either of 2 independent LSH tables.
    # Parameters are corpus-relative, calibrated on the 500-vector gate
    # corpus: 3 planes × 2 tables × multiprobe-1 → recall@5 = 0.89 vs
    # exact (pinned in tests/test_functions.py) — BEATING 8 tables at
    # radius 0 (0.87) with a quarter of the shuffles; 6 planes × 2 tables
    # radius 0 measured 0.08 (weakly-clustered vectors need coarse
    # buckets). At 10^9+ vectors use 16-20 planes so each table's buckets
    # stay bounded; recall then comes from tables × probe radius, exactly
    # as in ann_lsh_topk.
    add("ann_knn_join",
        lambda spark, sf_dir: similarity.knn_join(
            _embs(spark, sf_dir), k=5, n_planes=3, seed=42, n_tables=2,
            multiprobe=1),
        _knn_join_sql(k=5, n_planes=3, seed=42, n_tables=2, multiprobe=1))

    # Symmetric per-vector int8 quantization: bit-reproducible codes
    # (floor(x + 0.5) is the same IEEE-double expression in both engines),
    # audited per vector by code-sum/energy and the max reconstruction
    # error (<= scale/2 by construction).
    add("emb_quantize_int8",
        lambda spark, sf_dir: similarity.quantize_embeddings(
            _embs(spark, sf_dir)
        ).select(
            "vec_id",
            F.round("scale", ROUND).alias("scale"),
            "n_dims",
            F.aggregate("q", F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x).alias("sum_q"),
            F.aggregate("q", F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x.cast("bigint") * x).alias("sum_q2"),
            F.round("max_abs_err", ROUND).alias("max_abs_err"),
        ),
        f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v),
qq AS (SELECT vec_id, v, scale,
       CASE WHEN scale > 0
            THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
            ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q FROM s)
SELECT vec_id, ROUND(scale, {ROUND}) AS scale, CAST(len(q) AS INTEGER) AS n_dims,
  CAST(list_sum(q) AS BIGINT) AS sum_q,
  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sum_q2,
  ROUND(CASE WHEN scale > 0 THEN
    list_max(list_transform(list_zip(q, v), z -> abs(z[1] * scale - z[2])))
    ELSE 0.0 END, {ROUND}) AS max_abs_err
FROM qq""")
