"""Similarity search over embedding columns.

* ``cosine_topk`` — brute-force cosine top-k: the correctness baseline.
  One scan, one narrow sort on the (rounded) similarity — Catalyst plans a
  TakeOrderedAndProject, so no full global sort materializes.
* ``lsh_buckets`` / ``lsh_topk`` — random-hyperplane LSH: each vector maps
  to a sign-bit bucket; queries probe only their own bucket (plus
  multi-probe neighbors at Hamming distance 1). This is the 100 TB path:
  the candidate set per query is |bucket| ≈ n / 2^planes instead of n.

Hyperplanes are generated from a seeded ``numpy`` RNG on the driver and
shipped as literal arrays — deterministic across runs and engines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def lit_double_array(values) -> Column:
    """Literal ``array<double>`` built as ONE parsed SQL expression.

    ``F.array(*[F.lit(x) for x in values])`` pays one py4j round-trip per
    element (~0.7 ms each): a 16-centroid × 64-dim IVF quantizer costs
    ~1k round-trips ≈ 0.7 s of pure driver latency *per expression
    build*, serialized ahead of any Spark job. A single ``F.expr`` ships
    the whole array in one round-trip and parses JVM-side (measured 57×
    faster for 16×64). Value-exact: ``repr(float)`` emits the shortest
    digits that round-trip to the same IEEE-754 double, and Spark's SQL
    parser reads a ``...D`` literal back to identical bits (pinned in
    tests/test_functions.py). Non-finite values can't be spelled as SQL
    double literals, so any nan/inf falls back to the per-element path.
    """
    sql = _double_array_sql(values)
    if sql is None:
        return F.array(*[F.lit(float(x)) for x in values])
    return F.expr(sql)


def _double_array_sql(values) -> str | None:
    """SQL text of a literal ``array<double>`` (see :func:`lit_double_array`
    for the value-exactness argument), or None when a non-finite value
    can't be spelled as a SQL literal and the caller must fall back to the
    per-element Column path."""
    vals = [float(x) for x in values]
    if not vals or not all(map(math.isfinite, vals)):
        return None
    return "array(" + ",".join(repr(v) + "D" for v in vals) + ")"


def _quote(name: str) -> str:
    """Backtick-quote a column name for embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


# --- SQL-text twins of the vector expression builders ----------------------
#
# The Column-DSL builders below pay one py4j round-trip per zip_with/
# aggregate LAMBDA (~13 ms each — _create_lambda ships the function to the
# JVM eagerly): a 16-centroid argmin is 32 lambdas ≈ 0.8 s and a 4×16 PQ
# encoder 128 ≈ 2.1 s of pure DRIVER latency per query build, serialized
# ahead of any Spark job. Rendering the whole expression as ONE SQL string
# parses JVM-side in a single round-trip (measured 0.003 s for either) and
# yields the SAME expression tree — pinned bit-identical in
# tests/test_functions.py::test_sql_text_builders_identical and by every
# ANN oracle query. Each builder takes the source as a COLUMN NAME; call
# sites that hold an arbitrary Column keep the legacy DSL path.

def _as_double_sql(vec_sql: str) -> str:
    return f"transform({vec_sql},xd->CAST(xd AS DOUBLE))"


def _dot_sql(vec_sql: str, arr_sql: str) -> str:
    return (
        f"aggregate(zip_with({vec_sql},{arr_sql},(x,y)->x*y),"
        "0.0D,(acc,x)->acc+x)"
    )


def _sqdist_sql(vec_sql: str, arr_sql: str) -> str:
    return (
        f"aggregate(zip_with({vec_sql},{arr_sql},(x,y)->(x-y)*(x-y)),"
        "0.0D,(acc,x)->acc+x)"
    )


def _argmin_sql(dists: list[str]) -> str:
    ds = "array(" + ",".join(dists) + ")"
    return f"CAST((array_position({ds},array_min({ds})) - 1) AS INT)"


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


# NOTE on the per-pair dot: a flat unrolled
# ``try_element_at(a,1)*try_element_at(b,1) + ...`` sum IS bit-identical
# to the zip_with/aggregate fold and measured 2.1× FASTER over a
# persisted columnar scan (scripts/bench_dot_flat.py in git commit
# 7e2302d) — but 2.7× SLOWER when the same expression sits in the
# projection of a bucket self-JOIN (49.1 s vs 18.0 s over the
# knn_join's 2M-pair volume): the join stage's
# whole-stage-codegen method grows past what the JIT compiles, and a
# 64-term expression evaluated in interpreted generated code loses to the
# single interpreted HOF loop. Chunked partial sums stay JIT-friendly but
# change the addition order (1.18M/2M pre-round mismatches — not
# bit-identical, dead). So every pair-scoring site keeps the HOF fold;
# the real lever is scoring each DISTINCT pair once (see knn_join).


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def _safe_cos(dot: Column, den: Column) -> Column:
    """Cosine with the zero-vector convention: similarity to (or of) a
    zero-norm vector is 0.0, not a division error (ANSI mode) or NaN. A
    scrubbed/empty document hashing to the zero embedding must not abort a
    corpus-scale kNN job."""
    return F.when(den != 0, dot / den).otherwise(F.lit(0.0))


def infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row — a driver job, so
    callers that know ``dim`` should pass it. Raises a clear error on an
    empty frame or a null first vector instead of a bare ``TypeError``."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer embedding dim from '{vec_col}': empty input or "
            "null first vector; pass dim= explicitly"
        )
    return len(row[0])


def cosine_similarity(vec: Column, query: list[float]) -> Column:
    """Cosine similarity against a literal query vector (JVM-side)."""
    q = lit_double_array(query)
    v = _as_double(vec)
    qnorm = sum(x * x for x in query) ** 0.5
    return _safe_cos(_dot(v, q), _norm(v) * F.lit(qnorm))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine similarity (rounded before ordering so
    ranking is deterministic across engines; ties break on id)."""
    scored = df.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), query), 7).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def hyperplanes(dim: int, n_planes: int = 6, seed: int = 42) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def bucket_expr(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id for a vector column given literal hyperplanes.

    Pass the COLUMN NAME (str) where possible: the expression then renders
    as one SQL string — one py4j round-trip instead of two eager lambda
    round-trips per plane (see the SQL-text twins note above)."""
    if isinstance(vec, str):
        sqls = [_double_array_sql(p) for p in planes]
        if all(s is not None for s in sqls):
            v = _as_double_sql(_quote(vec))
            terms = [
                f"(CASE WHEN {_dot_sql(v, s)} >= 0 THEN CAST({2 ** i} AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END)"
                for i, s in enumerate(sqls)
            ]
            return F.expr(
                "(" + " + ".join(["CAST(0 AS BIGINT)"] + terms) + ")"
            )
        vec = F.col(vec)
    v = _as_double(vec)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = lit_double_array(p)
        bit = F.when(_dot(v, plane) >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return bucket


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Attach the LSH bucket id; downstream joins group by it."""
    if dim is None:
        dim = infer_dim(df, vec_col)
    planes = hyperplanes(dim, n_planes, seed)
    return df.withColumn("lsh_bucket", bucket_expr(vec_col, planes))


def query_bucket(query: list[float], planes: list[list[float]]) -> int:
    """Driver-side sign-bit bucket of a literal query vector (same
    left-to-right double accumulation as the SQL/Spark dot products)."""
    b = 0
    for i, p in enumerate(planes):
        if sum(a * x for a, x in zip(query, p)) >= 0:
            b |= 1 << i
    return b


def probe_set(qbucket: int, n_planes: int, radius: int) -> list[int]:
    """Multiprobe bucket set: the query's bucket plus every bucket within
    Hamming distance ``radius`` (0 ≤ radius ≤ 2). Shared by ``lsh_topk``
    and the DuckDB oracle generator so probe sets cannot diverge.

    Probed fraction of the bucket space is (1 + C(p,1) + C(p,2)) / 2^p —
    pick ``n_planes`` so that stays small at the target corpus size
    (6 planes/radius 2 probes 22/64 buckets: right for a small corpus;
    at 10^9+ vectors use 16-20 planes where radius 2 probes < 0.5%)."""
    cands = {qbucket}
    if radius >= 1:
        cands |= {qbucket ^ (1 << i) for i in range(n_planes)}
    if radius >= 2:
        cands |= {
            qbucket ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        }
    return sorted(cands)


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    multiprobe: bool | int = True,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors that share a bucket with the
    query in ANY of ``n_tables`` independent plane sets, plus every bucket
    within Hamming distance ``multiprobe`` per table (bool → radius 1).

    Multi-table and multiprobe radius are the two standard recall levers
    for sign-bit LSH: a neighbor at angle θ lands in the query's bucket of
    one table with p = (1 − θ/π)^planes, is seen by ≥1 of T tables with
    1 − (1 − p)^T, and radius-r probing relaxes each table to "≤ r sign
    bits may disagree" (measured on the sf0.01 embeddings: radius 1 × 8
    tables → recall@20 0.75; radius 2 × 4 tables → 1.00).
    The plan stays a single scan — per-table membership predicates are
    OR-ed, no join, no shuffle; at 100 TB the bucket ids would be
    precomputed/partitioned columns and the OR becomes partition pruning.
    """
    radius = int(multiprobe) if not isinstance(multiprobe, bool) else (1 if multiprobe else 0)
    cond = None
    for t in range(n_tables):
        planes = hyperplanes(len(query), n_planes, seed + t)
        qbucket = query_bucket(query, planes)
        candidates = probe_set(qbucket, n_planes, radius)
        member = bucket_expr(vec_col, planes).isin(candidates)
        cond = member if cond is None else cond | member

    scored = df.where(cond).select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), query), 7).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


#: Target expected LSH bucket size for auto-sized knn_join planes:
#: n_planes = ⌈log₂(n / TARGET)⌉ keeps E[|bucket|] ≈ TARGET regardless of
#: corpus size, so candidate volume Σ|b|² ≈ n·TARGET stays LINEAR in n.
KNN_JOIN_TARGET_BUCKET = 32

#: Mega-bucket guard for the knn self-join — the same safe-by-default
#: posture as ``dedup.MAX_BAND_BUCKET``. Hyperplane buckets are not
#: uniform (sign patterns concentrate in dense regions), and on a
#: duplicate-heavy corpus every copy of a vector lands in ONE bucket in
#: EVERY table, so the bucket self-join is quadratic in the duplicate
#: count with no upper bound; a bucket 32× the target is a hub/duplicate
#: pathology, not a neighborhood (measured at the shipped auto planes:
#: max honest bucket was 409 at 500k vectors — well under
#: this cap — while Σ|b|² grew at exponent ~1.2/decade from skew plus the
#: ⌈log₂⌉ plane-count quantization, both bounded; the cap bounds the
#: unbounded third term). Dropping a hot bucket costs those vectors that
#: table's candidates only — other tables still probe them. The gate
#: oracles mirror the cap structurally (a HAVING-count hot CTE), so
#: cross-engine parity holds at any scale factor.
KNN_JOIN_MAX_BUCKET = 32 * KNN_JOIN_TARGET_BUCKET


def knn_join_planes(n_rows: int, target_bucket: int = KNN_JOIN_TARGET_BUCKET) -> int:
    """Corpus-relative plane count: smallest ``p`` with ``n / 2**p ≤
    target_bucket`` (floored at 3 so tiny corpora still bucket at all).
    5k vectors → 8 planes, 50k → 11, 10⁹ → 25 — expected bucket size
    stays ~``target_bucket`` and the self-join candidate count stays
    ~``n·target_bucket`` at every scale, the linearity the fixed default
    (6 planes ⇒ n²/64 candidates, measured exponent 1.29 in
    SCALE_r06.json) could not deliver."""
    import math as _math

    return max(3, _math.ceil(_math.log2(max(n_rows, 2) / target_bucket)))


def knn_join(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    seed: int = 42,
    n_tables: int = 2,
    dim: int | None = None,
    multiprobe: int = 0,
    max_bucket: int | None = KNN_JOIN_MAX_BUCKET,
) -> DataFrame:
    """Approximate k-nearest-neighbour SELF-join: for every vector, its
    top-``k`` cosine neighbours among vectors sharing an LSH bucket in any
    of ``n_tables`` independent hyperplane sets.

    This is the all-items retrieval primitive (semantic clustering, hard-
    negative mining, near-dup graph construction) — the per-query
    :func:`lsh_topk` answers one probe; this answers all n at once.

    Plan shape (the 100 TB path): per table, an equi-join of the corpus's
    (id, bucket) projection with itself ON THE BUCKET ID — a
    hash-partitioned shuffle of id pairs whose candidate count is
    Σ|bucket|² ≈ n²/2^planes, not n², and whose shuffled rows carry NO
    vector payload; tables union; duplicate undirected candidates collapse
    with one dropDuplicates; vectors attach to the deduped pairs via two
    id equi-joins and each pair is scored exactly once, then mirrored
    (the candidate relation is symmetric — see the inline note); ranking
    is a window PARTITIONED BY query id (parallel across vectors, no
    global sort). Recall scales with ``n_tables`` exactly as in
    :func:`lsh_topk`.

    ``n_planes=None`` (the default) auto-sizes from the corpus via
    :func:`knn_join_planes`: one bare, column-pruned counting job — no
    persist, so a default call leaves NOTHING resident in the pass-cache
    registry and unscoped long-lived-session callers accumulate no
    entries (callers with expensive upstream lineage should persist
    upstream themselves before calling). Plane count ∝ log₂(n) is the
    difference between linear and quadratic candidate volume at scale.
    Pass an explicit ``n_planes`` to pin buckets (the oracle-gated
    queries do, for cross-engine determinism).
    NOTE (behavior change): the old fixed default was ``n_planes=6``;
    default results differ from releases with that default because
    bucket boundaries move with the corpus-sized plane count.

    ``multiprobe=1`` additionally probes every bucket at Hamming distance 1
    per table: the query side EXPLODES to its bucket plus ``n_planes``
    single-bit flips and equi-joins the unexploded side — the standard
    recall lever when adding whole tables (another shuffle each) is more
    expensive than ×(planes+1) candidate rows within one.

    ``max_bucket`` (default :data:`KNN_JOIN_MAX_BUCKET`) drops buckets
    larger than the cap per table BEFORE the self-join — the quadratic
    backstop for duplicate-heavy/hub corpora, applied to HOME buckets
    (so under ``multiprobe`` a hot-bucket row contributes neither probes
    nor candidates for that table). The guard is a window count riding
    the same ``__b`` hash partitioning the join needs — no extra
    traversal, no collect, no broadcast; ``None`` is the exact unguarded
    join.
    """
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe must be 0 or 1")
    if dim is None:
        dim = infer_dim(df, vec_col)

    norm = _norm(_as_double(F.col(vec_col)))
    base = df.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
        norm.alias("__nrm"),
    )
    if n_planes is None:
        # one bare counting job — column-pruned to nothing by Catalyst, so
        # it never materializes the vectors. Deliberately NOT persisted:
        # a single count runs the lineage once either way, a persist would
        # force full-width materialization of every vector, and releasing
        # it before the joins (required so a default call leaves nothing
        # in the pass-cache registry — the long-lived-session leak
        # pattern) would waste the cache anyway.
        n_planes = knn_join_planes(base.count())

    from pyspark.sql import Window

    # Candidate generation carries IDS ONLY (guide §2.3 / §8: decide with
    # small rows, attach the payload once). The old shape carried both
    # 64-dim vectors through every bucket exchange and scored EVERY
    # directed collision — a pair colliding in both tables (and its
    # mirror image) paid the interpreted 64-dim dot up to 4×. The
    # candidate set is symmetric by construction — ``home(n) ∈ probes(q)
    # ⟺ hamming(home(q), home(n)) ≤ multiprobe ⟺ home(q) ∈ probes(n)``,
    # and the mega-bucket guard tests HOME buckets on both sides — so
    # generating only ``qid < nid``, deduping across tables, scoring each
    # undirected pair ONCE and mirroring the scored row reproduces the
    # directed output exactly (the dot is a left fold over elementwise
    # products, commutative per term → bit-identical both directions).
    # Measured at sf0.1 (2k vectors, 2M directed collisions): 51.2 s →
    # 8.9 s, identical rows.
    cand_tables = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + t)
        # vectors and norms are dropped BEFORE the bucket exchange: the
        # guard window + self-join shuffle (id, bucket) pairs, not
        # payloads — Catalyst also prunes the norm compute off this branch
        light = base.select(
            F.col("__id"), bucket_expr("__v", planes).alias("__b")
        )
        if max_bucket is not None:
            # mega-bucket guard fused into the table's own partitioning
            # (same shape as dedup._candidates_from_sigs): the window's
            # exchange on __b IS the self-join's key, so the guard costs
            # no extra shuffle on either side
            wb = Window.partitionBy("__b")
            light = (
                light.withColumn("__bn", F.count(F.lit(1)).over(wb))
                .where(F.col("__bn") <= int(max_bucket))
                .drop("__bn")
            )
        if multiprobe:
            probe_buckets = F.array(
                F.col("__b"),
                *[
                    F.col("__b").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)
                ],
            )
            left = light.select(
                F.explode(probe_buckets).alias("__b"),
                F.col("__id").alias("qid"),
            )
        else:
            left = light.select(F.col("__b"), F.col("__id").alias("qid"))
        right = light.select(F.col("__b"), F.col("__id").alias("nid"))
        cand_tables.append(
            left.join(right, "__b")
            .where(F.col("qid") < F.col("nid"))
            .select("qid", "nid")
        )

    cands = cand_tables[0]
    for c in cand_tables[1:]:
        cands = cands.unionByName(c)
    cands = cands.dropDuplicates(["qid", "nid"])

    # attach both payloads to the deduped undirected pair — the only
    # place vectors meet the candidate stream — and score once
    qside = base.select(
        F.col("__id").alias("qid"), F.col("__v").alias("qv"),
        F.col("__nrm").alias("qn"),
    )
    nside = base.select(
        F.col("__id").alias("nid"), F.col("__v").alias("nv"),
        F.col("__nrm").alias("nn"),
    )
    scored = (
        cands.join(qside, "qid")
        .join(nside, "nid")
        .select(
            "qid",
            "nid",
            F.round(
                _safe_cos(_dot(F.col("qv"), F.col("nv")), F.col("qn") * F.col("nn")), 7
            ).alias("cosine"),
        )
    )
    mirrored = scored.unionByName(
        scored.select(
            F.col("nid").alias("qid"), F.col("qid").alias("nid"), "cosine"
        )
    )

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        mirrored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("nid").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: coarse k-means quantizer + probe-limited search


def kmeans_train(sample, n_centroids: int = 16, n_iters: int = 5, seed: int = 42) -> list[list[float]]:
    """Lloyd's k-means on an in-memory (n, dim) float64 array — a pure,
    seeded function of its input, shared by the Spark sampling path and the
    oracle's pyarrow path so both derive bit-identical centroids."""
    import numpy as np

    sample = np.asarray(sample, dtype="float64")
    rng = np.random.default_rng(seed)
    cents = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)]
    for _ in range(n_iters):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.round(6).tolist()


def ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 5,
    sample_rows: int = 10_000,
    seed: int = 42,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Train the coarse quantizer: Lloyd's k-means on a bounded driver-side
    sample (seeded → deterministic). The sample is the first ``sample_rows``
    rows by ``id_col`` — a TakeOrderedAndProject, so it is deterministic
    regardless of partition layout AND scalable (distributed top-n, never a
    full sort). At 100 TB the sample stays bounded — the full data never
    reaches the driver; training cost is O(sample).
    """
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(sample_rows).collect()
    return kmeans_train([r[1] for r in rows], n_centroids, n_iters, seed)


def _sqdist(vec: Column, cent: list[float]) -> Column:
    """Σ (vec[j] − cent[j])² via one zip_with + aggregate fold. The
    tempting flat ``element_at`` expansion is ~6× SLOWER here: every term
    re-evaluates the ``vec`` argument (a cast over the whole array), so a
    16-dim distance allocates 32 fresh arrays per row, while zip_with
    binds its array arguments once and iterates (measured 12s → 37s on the
    IVF-PQ query when flattened, reverted)."""
    c = lit_double_array(cent)
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)), F.lit(0.0), lambda acc, x: acc + x
    )


def _centroid_id_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """argmin over squared distances to literal centroids (JVM-side).

    Distances evaluate ONCE each: the argmin is
    ``array_position(ds, array_min(ds))`` (:func:`_argmin_expr`) — the
    when/least chain this replaces duplicated every distance subtree
    through the chained comparisons, O(centroids²) interpreted
    re-evaluation per row (measured 6.8s → 1.7s for 16 centroids over a
    2k×64-d corpus). First-occurrence tie-break is preserved
    (strict-less chain ≡ array_position of the min).

    Pass the COLUMN NAME (str) where possible — the whole argmin renders
    as one SQL string (0.8 s → 3 ms of driver build time for 16×64,
    identical tree; see the SQL-text twins note)."""
    if isinstance(vec, str):
        sqls = [_double_array_sql(c) for c in centroids]
        if all(s is not None for s in sqls):
            v = _as_double_sql(_quote(vec))
            return F.expr(_argmin_sql([_sqdist_sql(v, s) for s in sqls]))
        vec = F.col(vec)
    # _as_double(vec) is re-evaluated per centroid reference; binding it
    # once via element_at(transform(array(e), ...), 1) measured SLOWER
    # (+72% here, +45% in pq_encode_expr; 500k x 64-d rows, local[32])
    v = _as_double(vec)
    return _argmin_expr([_sqdist(v, c) for c in centroids])


def ivf_probes(query: list[float], centroids: list[list[float]], nprobe: int) -> list[int]:
    """The ``nprobe`` inverted-list ids nearest the query — a pure function
    shared with the oracle generator so probe sets match exactly."""
    import numpy as np

    q = np.asarray(query, dtype="float64")
    cents = np.asarray(centroids, dtype="float64")
    order = ((cents - q[None, :]) ** 2).sum(axis=1).argsort()
    return [int(i) for i in order[:nprobe]]


def ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (the inverted list id).
    Persist/bucket the output by ``ivf_list`` so probes prune partitions.

    Small-scan guard (same as the dedup shingle pipelines): a small
    parquet corpus arrives as one partition and would serialize the
    per-vector distance arithmetic onto one core; repartition up to the
    session parallelism first — a no-op at cluster scale."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if id_col in df.columns and df.rdd.getNumPartitions() < target:
        df = df.repartition(target, F.col(id_col))
    return df.withColumn("ivf_list", _centroid_id_expr(vec_col, centroids))


def write_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Materialize the IVF index as parquet PARTITIONED BY the inverted
    list id — the production "index once, probe per query" shape: a
    reader filtering ``ivf_list IN (probes)`` prunes to ``nprobe`` of the
    ``n_centroids`` partition directories at the scan, so each query
    reads ~nprobe/n_centroids of the index bytes regardless of corpus
    size (pruning pinned by tests/test_sources_plans.py).

    The frame is re-clustered by ``ivf_list`` before the write: without
    it every one of the N upstream hash partitions opens a writer per
    list it touches — N × n_lists small files per write (512 at the
    bench's 32×16, each paying open/commit overhead twice: once writing,
    once at every future scan's planning). Clustered, a list's rows land
    in one task → one right-sized file per list per write; at scale the
    per-file row cap (``spark.sql.files.maxRecordsPerFile``) or
    :func:`compact_ivf_index` handles lists that outgrow one file."""
    ivf_index(df, centroids, vec_col).repartition(F.col("ivf_list")).write.partitionBy(
        "ivf_list"
    ).mode(mode).parquet(path)


def append_to_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Index MAINTENANCE without retrain: assign a new vector batch to the
    EXISTING coarse quantizer and parquet-append into the partition
    directories — ingest cost is O(batch), the stored corpus is never
    rewritten, and readers see the union immediately (partition pruning
    unchanged). This is how a production IVF index absorbs a daily crawl;
    re-clustering is a periodic offline rebuild, not an ingest step. Pass
    the SAME centroids the index was built with — assignment against a
    different quantizer splits a list across directories and silently
    halves recall. Clustered by list before the write for the same
    one-file-per-list-per-batch layout as :func:`write_ivf_index`.

    The batch is committed into a private staging directory
    (``<path>__append_tmp_<uuid>``) and its files renamed into the
    partition directories (:func:`~alphastats_spark.sources.maintenance.
    promote_staged_parquet`) rather than ``mode("append")``, whose
    writers all share ``<path>/_temporary`` — so INDEPENDENT append
    batches can run concurrently from a driver thread pool, which is how
    the compaction-cycle gate queries overlap their ingest batches
    (guide §2.6). Stored layout is unchanged: same files, same partition
    directories, only the commit path differs."""
    import uuid as _uuid

    from alphastats_spark.sources.maintenance import promote_staged_parquet

    staging = path.rstrip("/") + f"__append_tmp_{_uuid.uuid4().hex[:8]}"
    ivf_index(df, centroids, vec_col).repartition(F.col("ivf_list")).write.partitionBy(
        "ivf_list"
    ).mode("overwrite").parquet(staging)
    promote_staged_parquet(df.sparkSession, staging, path)


def compact_ivf_index(
    spark,
    path: str,
    max_files: int = 4,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Periodic maintenance for an appended IVF index: every
    :func:`append_to_ivf_index` batch adds one small parquet file per
    touched ``ivf_list=`` directory, and at ingest cadence the index
    degrades into the classic small-files failure (scan planning lists
    more files than it reads). Rewrites only the directories holding more
    than ``max_files`` files, into ``ceil(bytes/target_bytes)`` files
    each — value-preserving (pinned by the driver-gated
    ``ann_ivf_compacted`` query) and pruning-preserving (the directories
    keep their ``ivf_list=`` names, pinned in
    tests/test_sources_plans.py). Returns the file-count stats dict of
    :func:`~alphastats_spark.sources.maintenance.compact_partitioned_parquet`.
    """
    from alphastats_spark.sources.maintenance import compact_partitioned_parquet

    return compact_partitioned_parquet(
        spark, path, "ivf_list", max_files=max_files, target_bytes=target_bytes
    )


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    indexed: bool = False,
) -> DataFrame:
    """Approximate top-k: score only vectors in the ``nprobe`` inverted
    lists nearest the query. Pass ``indexed=True`` when ``df`` already has
    ``ivf_list`` (the production shape: index once, probe per query)."""
    probe = ivf_probes(query, centroids, nprobe)

    base = df if indexed else ivf_index(df, centroids, vec_col)
    scored = base.where(F.col("ivf_list").isin(probe)).select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), query), 7).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)

# ---------------------------------------------------------------------------
# Product quantization (PQ): byte codes + asymmetric-distance (ADC) scan


def pq_train(
    sample, m: int = 4, n_codes: int = 16, n_iters: int = 5, seed: int = 42
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (Jégou et al. 2011): split the
    ``dim`` dimensions into ``m`` contiguous subspaces and run the pure
    seeded :func:`kmeans_train` in each (distinct seed per subspace so the
    inits differ). Pure function of the sample — shared by the Spark path
    and the DuckDB oracle generator so both derive bit-identical codebooks.

    Why PQ is the 100 TB shape: a 64-d float32 embedding is 256 bytes; its
    ``m``-byte PQ code is 4 — a 64× compression, which is the difference
    between an index that must be re-scanned from object storage and one
    that is RAM-resident across the cluster. Scoring a candidate is ``m``
    table lookups instead of ``dim`` multiply-adds.
    """
    import numpy as np

    s = np.asarray(sample, dtype="float64")
    dim = s.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    return [
        kmeans_train(s[:, i * sub : (i + 1) * sub], n_codes, n_iters, seed + 1000 + i)
        for i in range(m)
    ]


def _argmin_expr(dists: list[Column]) -> Column:
    """First-occurrence argmin over a list of distance columns, built FLAT
    (``array_position(ds, array_min(ds))``) rather than as a chained
    ``when``/``least`` fold — a 64-deep nested fold over aggregate
    subexpressions overflows Catalyst's canonicalization recursion, while
    the flat array form stays shallow at any codebook size. SQL twin:
    ``list_position(ds, list_min(ds)) - 1``."""
    ds = F.array(*dists)
    return (F.array_position(ds, F.array_min(ds)) - 1).cast("int")


def pq_encode_expr(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """PQ code as ``array<int>`` (one entry per subspace) — a JVM-side
    argmin over squared distances to the literal codebook centroids, the
    per-subspace twin of :func:`_centroid_id_expr`. First-occurrence
    tie-break, replicated exactly by the oracle's ``list_position`` form.

    Pass the COLUMN NAME (str) where possible — one SQL parse instead of
    2×m×n_codes eager lambda round-trips (2.1 s → 3 ms for a 4×16 book;
    see the SQL-text twins note)."""
    sub = len(codebooks[0][0])
    if isinstance(vec, str):
        sqls = [[_double_array_sql(c) for c in cb] for cb in codebooks]
        if all(s is not None for cb in sqls for s in cb):
            v = _as_double_sql(_quote(vec))
            parts = []
            for s_i, cb in enumerate(sqls):
                sv = f"slice({v},{s_i * sub + 1},{sub})"
                parts.append(_argmin_sql([_sqdist_sql(sv, s) for s in cb]))
            return F.expr("array(" + ",".join(parts) + ")")
        vec = F.col(vec)
    # not let-bound on purpose: see the note in _centroid_id_expr
    v = _as_double(vec)
    parts = []
    for s_i, cb in enumerate(codebooks):
        sv = F.slice(v, s_i * sub + 1, sub)
        dists = [_sqdist(sv, c) for c in cb]
        parts.append(_argmin_expr(dists))
    return F.array(*parts)


def normalize_expr(vec: Column) -> Column:
    """L2-normalize an embedding column (JVM-side). PQ quantizes L2
    distance; cosine retrieval over unnormalized vectors becomes L2
    retrieval over unit vectors, so normalize before indexing — the
    standard production shape for cosine ANN."""
    v = _as_double(vec)
    nrm = _norm(v)
    # zero vectors (hash_embed emits them for empty docs) stay zero
    # instead of dividing by 0 — all-null arrays under non-ANSI, a
    # DIVIDE_BY_ZERO job abort under ANSI
    return F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(
        F.transform(v, lambda x: x * 0.0)
    )


def pq_adc_lut(query: list[float], codebooks: list[list[list[float]]]) -> list[list[float]]:
    """ADC lookup table: ``lut[s][c]`` = squared L2 distance between the
    query's subvector ``s`` and codebook centroid ``c``. Pure numpy —
    shared with the oracle generator, so the literal doubles Spark ships
    via ``F.lit`` and the SQL ships via ``repr`` are the same bits."""
    import numpy as np

    q = np.asarray(query, dtype="float64")
    sub = len(codebooks[0][0])
    lut = []
    for s_i, cb in enumerate(codebooks):
        qs = q[s_i * sub : (s_i + 1) * sub]
        lut.append([float(((qs - np.asarray(c, dtype="float64")) ** 2).sum()) for c in cb])
    return lut


def ivfpq_topk(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine: int = 0,
    indexed: bool = False,
) -> DataFrame:
    """IVF-PQ approximate top-k: prune to the ``nprobe`` nearest inverted
    lists (coarse quantizer), then rank candidates by the PQ asymmetric
    distance — ``m`` lookups into the query's broadcast-literal LUT instead
    of a ``dim``-wide dot product. ``refine > 0`` re-ranks the top
    ``refine`` ADC shortlist with exact cosine (the standard two-stage
    production shape: cheap ADC over millions, exact math over hundreds).

    Plan shape: one scan, a scan-level ``ivf_list`` membership predicate
    (partition pruning when the index is written partitioned by list), the
    code/LUT arithmetic entirely inside whole-stage codegen, and a
    TakeOrderedAndProject for the top-k — no shuffle, no UDF, no driver
    loop. At 100 TB the codes are a precomputed 4-byte column, so the scan
    reads ~1.6 % of the raw embedding bytes.
    """
    probe = ivf_probes(query, centroids, nprobe)
    base = df if indexed else ivf_index(df, centroids, vec_col)
    lut = pq_adc_lut(query, codebooks)

    cand = base.where(F.col("ivf_list").isin(probe)).withColumn(
        "__code", pq_encode_expr(vec_col, codebooks)
    )
    score = None
    for s_i, row in enumerate(lut):
        lut_arr = lit_double_array(row)
        term = F.get(lut_arr, F.element_at("__code", s_i + 1))
        score = term if score is None else score + term
    scored = cand.select(
        F.col(id_col),
        F.col(vec_col),
        F.round(score, 7).alias("adc_dist"),
    )
    if refine:
        shortlist = scored.orderBy(F.col("adc_dist").asc(), F.col(id_col)).limit(refine)
        rer = shortlist.select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), query), 7).alias("cosine"),
        )
        return rer.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)
    return (
        scored.select(id_col, "adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def group_centroids(
    df: DataFrame,
    key_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroids in long form ``(key, pos, c, n_vecs)``
    — the class-conditional mean / prototype-vector primitive (seed
    centroids for IVF/SemDedup partitions, nearest-prototype classification,
    per-source drift monitoring).

    Shape chosen for scale: ``posexplode`` then one map-side-combinable
    ``groupBy(key, pos)`` — dimension rows combine within every partition
    before the single shuffle, so the exchange carries ~|keys|·dim rows
    regardless of corpus size. No per-group array re-assembly (a
    ``collect_list`` would funnel each group through one task and lose the
    combine); downstream consumers that need array form pivot the bounded
    result on the driver.
    """
    ex = df.select(
        F.col(key_col), F.posexplode(F.col(vec_col)).alias("pos", "__v")
    )
    return ex.groupBy(key_col, "pos").agg(
        F.avg("__v").alias("c"), F.count("__v").cast("long").alias("n_vecs")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v| / 127``,
    ``q_i = floor(v_i / scale + 0.5)`` — the 4x (float32) / 8x (float64)
    index-compression step before an embedding corpus is shipped to an ANN
    index or a GPU trainer. Zero vectors quantize to zeros with scale 0.

    One stateless projection (no shuffle; column pruning reaches the
    scan): ``max|v|`` is projected into its OWN select first — an
    interpreted higher-order lambda re-evaluates closed-over
    subexpressions per element, so binding the scale before the
    per-element transform keeps the pass O(dim), not O(dim²) (see
    :func:`alphastats_spark.functions.dedup._grams_over`).

    ``floor(x + 0.5)`` is used instead of ``round`` because its
    half-up-toward-+inf tie rule is the same IEEE-double expression in
    every engine — the quantized codes are bit-reproducible, so a rebuilt
    index is byte-identical to the shipped one.

    Output: ``(id, q int8[] as array<int>, scale, n_dims)`` plus the
    reconstruction-error bound ``max_abs_err = max|q_i*scale - v_i|``
    (<= scale/2 by construction — kept as a per-vector audit column).
    A NULL vector propagates as all-null outputs (no row is dropped), so
    upstream null-handling policy stays with the caller.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col),
        v.alias("__v"),
        (F.array_max(F.transform(v, F.abs)) / F.lit(127.0)).alias("scale"),
    )
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
        ),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
    qd = base.select(F.col(id_col), F.col("__v"), F.col("scale"), q.alias("q"))
    err = (
        F.when(F.col("__v").isNull(), F.lit(None).cast("double"))
        .when(
            F.col("scale") > 0,
            F.array_max(
                F.zip_with(
                    "q", "__v", lambda a, b: F.abs(a.cast("double") * F.col("scale") - b)
                )
            ),
        )
        .otherwise(F.lit(0.0))
    )
    return qd.select(
        F.col(id_col),
        F.col("q"),
        F.col("scale"),
        F.size("q").alias("n_dims"),
        err.alias("max_abs_err"),
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    c: int = 60,
    id_cols: str | list[str] = "id",
    out_id_col: str = "id",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval lists (Cormack,
    Clarke & Buettcher, SIGIR 2009): ``rrf(d) = Σ_lists 1/(c + rank_d)``
    over the lists that contain document ``d``. The standard way a RAG
    stack combines BM25 (:func:`~alphastats_spark.functions.text.
    bm25_topk`) with dense retrieval (:func:`cosine_topk` / the IVF
    stack) — rank-based, so no per-retriever score calibration needed.

    Each input frame must carry an id column (``id_cols``: one name for
    all, or one per frame) and an integer 1-based ``rank`` column.
    Output ``(out_id_col, rrf, rank)``, score rounded to 7 decimals,
    ties broken by id ascending.

    Determinism across engines: the fused score is built as a
    LEFT-ASSOCIATED chain of per-list contributions over an N-way
    full-outer join (NOT a union + SUM, whose float accumulation order
    Spark does not define) — an oracle that writes the same explicit
    ``COALESCE(...) + COALESCE(...)`` chain reproduces the doubles
    bit-for-bit.

    Plan shape at 100 TB: the inputs are top-k lists — a few hundred
    rows each regardless of corpus size — so the N-way join and the
    final TakeOrderedAndProject never touch anything corpus-sized; the
    heavy lifting stays in the upstream retrievers, which are scale-
    audited on their own (bm25's zero-shuffle map, IVF's partition-
    pruned probes).
    """
    from functools import reduce

    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked frame")
    if isinstance(id_cols, str):
        id_cols = [id_cols] * len(ranked)
    if len(id_cols) != len(ranked):
        raise ValueError(
            f"id_cols has {len(id_cols)} names for {len(ranked)} frames"
        )
    parts = [
        df.select(
            F.col(ic).alias(out_id_col),
            (F.lit(1.0) / (F.lit(c) + F.col("rank").cast("double"))).alias(
                f"__c{i}"
            ),
        )
        for i, (df, ic) in enumerate(zip(ranked, id_cols))
    ]
    joined = reduce(
        lambda a, b: a.join(b, on=out_id_col, how="full_outer"), parts
    )
    score = reduce(
        lambda acc, i: acc + F.coalesce(F.col(f"__c{i}"), F.lit(0.0)),
        range(1, len(parts)),
        F.coalesce(F.col("__c0"), F.lit(0.0)),
    )
    top = (
        joined.select(F.col(out_id_col), F.round(score, 7).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc(out_id_col))
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("rrf"), F.asc(out_id_col))
    # the rank window runs over the ALREADY-CUT <=k rows, never the inputs
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select(out_id_col, "rrf", "rank")


def hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    depth: int = 20,
    c: int = 60,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+dense retrieval: BM25 top-``depth`` over ``docs``
    and brute-force cosine top-``depth`` over ``embeddings`` (ids must
    share a key space), fused with :func:`rrf_fuse` to the final top-k.
    ``depth`` is the per-retriever candidate depth — the usual RAG shape
    retrieves deeper than it returns (depth > k) so a document ranked
    just outside one retriever's top-k can still win on the fused score.

    Swap :func:`cosine_topk` for :func:`ivf_topk` / :func:`ivfpq_topk`
    at index-backed scale by calling :func:`rrf_fuse` directly on their
    outputs; this convenience wrapper keeps the oracle-checkable
    brute-force baseline.
    """
    from alphastats_spark.functions.text import bm25_topk
    from pyspark.sql import Window

    bm = bm25_topk(
        docs, query_text, k=depth, id_col=doc_id_col, text_col=text_col
    )
    dn = cosine_topk(
        embeddings, query_vec, k=depth, id_col=vec_id_col, vec_col=vec_col
    )
    w = Window.orderBy(F.desc("cosine"), F.asc(vec_id_col))
    dn = dn.withColumn("rank", F.row_number().over(w).cast("int"))
    return rrf_fuse(
        [bm, dn], k=k, c=c, id_cols=[doc_id_col, vec_id_col], out_id_col="id"
    )


MMR_MAX_CANDIDATES = 4096


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
    max_candidates: int = MMR_MAX_CANDIDATES,
) -> DataFrame:
    """Maximal-marginal-relevance diverse reranking (Carbonell &
    Goldstein, SIGIR 1998): greedily pick the candidate maximizing
    ``λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s)`` — the standard
    final-stage diversity cut a RAG retriever applies after
    :func:`cosine_topk` / :func:`rrf_fuse`, so the k returned passages
    aren't k near-copies of the best one. Input: a frame of
    ``(id, rel, embedding)`` candidates. Output ``(id_col, mmr, rank)``
    where ``mmr`` is the (7dp-rounded) selection score at pick time and
    ``rank`` is selection order.

    The greedy argmax is inherently sequential, so this runs on the
    DRIVER over a collected candidate list, hard-bounded at
    ``max_candidates`` (raises beyond it — never a silent cut). That is
    the honest 100-TB shape: candidate GENERATION is the distributed
    part (top-depth from the ANN/BM25 stack — bounded regardless of
    corpus size); reranking is O(depth·k·dim) scalar math on ≤4096
    rows, exactly where production retrieval systems put it. Nothing
    corpus-sized is ever collected.

    Cross-engine determinism (the DuckDB oracle unrolls the same
    greedy): dot products and norms accumulate LEFT-TO-RIGHT in plain
    Python floats (the order ``list_dot_product`` and Spark's
    ``aggregate`` fold use); each pairwise cosine is rounded
    half-away-from-zero to 7 decimals BEFORE the max, and each step
    score before the argmax, via exact decimal rounding (Python
    ``decimal`` == Spark's BigDecimal HALF_UP); ties break id-asc.
    Zero-norm vectors take similarity 0.0 (the :func:`_safe_cos`
    convention)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q7 = Decimal("1e-7")

    def _r7(x: float) -> float:
        return float(Decimal(x).quantize(q7, rounding=ROUND_HALF_UP))

    def _dotseq(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rows = (
        candidates.select(
            F.col(id_col), F.col(rel_col).cast("double").alias("__rel"),
            _as_double(F.col(vec_col)).alias("__v"),
        )
        .limit(max_candidates + 1)
        .collect()
    )
    if len(rows) > max_candidates:
        raise ValueError(
            f"mmr_rerank got more than max_candidates={max_candidates} "
            "rows — rerank a bounded top-depth candidate list, not a "
            "corpus (raise max_candidates only with driver memory to "
            "match)"
        )
    pool = {}
    for r in rows:
        vec = [float(x) for x in r["__v"]]
        pool[r[id_col]] = (float(r["__rel"]), vec, math.sqrt(_dotseq(vec, vec)))

    picked = []  # (id, score, rank)
    sel = []  # (vec, norm)
    while len(picked) < k and pool:
        best_id, best_score = None, None
        for cid in sorted(pool):
            rel, vec, nrm = pool[cid]
            if sel:
                maxsim = max(
                    _r7(
                        _dotseq(vec, sv) / (nrm * sn)
                        if nrm * sn != 0
                        else 0.0
                    )
                    for sv, sn in sel
                )
                score = _r7(lam * rel - (1.0 - lam) * maxsim)
            else:
                score = _r7(lam * rel)
            if best_score is None or score > best_score:
                best_id, best_score = cid, score
        rel, vec, nrm = pool.pop(best_id)
        sel.append((vec, nrm))
        picked.append((best_id, best_score, len(picked) + 1))

    spark = candidates.sparkSession
    id_field = candidates.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, mmr double, rank int"
    )
    return spark.createDataFrame(picked, out_schema)
