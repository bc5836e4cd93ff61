"""Empirical scale probe for the EXTENSION operator families.

scripts/scale_run.py validates the returns/report path one decade above
the bench scale; this does the same for the training-data pipeline and
event-analytics families, whose 100 TB arguments (bucketed candidate
generation, per-user folds, gram-keyed joins) are otherwise plan-level
claims:

1. Synthesizes corpora at 1x and 10x the sf0.1 shape — documents
   (5k -> 50k docs; replicas of a seeded vocabulary stream with ~8% of
   docs near-duplicated and ~4% sharing a verbatim 12-token span) and
   events (100k -> 1M rows over 150 -> 1500 users).
2. Times, at both scales: exact dedup, the composed MinHash-LSH
   ``deduplicate`` (lineage), ``substring_dedup``, the bigram
   ``lm_score``, the event ``funnel`` and ``cohort_retention`` — plus the
   round-5 additions (DSIR weights, incremental admission, df-capped
   containment, session journeys, robust anomalies, the bucketized
   interval join, weighted sampling) and an ANN pair (IVF-PQ probe,
   LSH kNN self-join with corpus-relative planes) over hash-derived
   64-d embeddings.
3. Prints one JSON line with per-operator wall seconds and the scaling
   exponent log10(t10/t1) — sub-linear (< 1.0) on a fixed-core box is the
   claim; ~1.0 means compute-bound scaling with the data, still linear.

Usage:  python scripts/scale_ext.py [workdir]   (default /tmp/as_scale_ext)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the "
    "line sort window small filter join group order shard block page cache"
).split()


def load_stamp() -> dict:
    """1-minute load average + contended flag, captured at call time —
    the same self-describing stamp bench.py emits. The committed
    SCALE_r11 extensions block was contention-poisoned (ivfpq_topk
    measured SLOWER at 1x than 10x under load_avg ≈ 4-11) and nothing in
    the artifact said so; every timed block now carries its own stamp so
    exponent claims can be rejected at read time instead of trusted."""
    try:
        la = round(os.getloadavg()[0], 2)
    except OSError:
        la = None
    return {"load_avg": la, "contended": bool(la is not None and la > 2.0)}


def synth_docs(spark, n_docs: int):
    from pyspark.sql import functions as F

    n_vocab = len(VOCAB)
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = spark.range(0, n_docs, 1, 32)
    # 20-60 tokens per doc. Token mixture (round 8): 75% from the 25-word
    # hot head, 25% from a RARE tail whose size grows with the corpus
    # (n_docs/2, floored at 1k) — the Heaps-law property real text has and
    # the old fixed-25-word stream lacked. With only hot tokens the
    # 3-gram universe saturates at 25^3, so every gram goes hot, the
    # df-cap guards drop nearly everything at 100x, and the shingle
    # self-join probes measure a degenerate (easier) corpus as scale
    # grows; a growing tail keeps per-source vocabulary — and therefore
    # dfreq/self-join key cardinality — expanding with n, which is the
    # regime the 100 TB claims are actually about.
    rare_n = max(n_docs // 2, 1_000)

    def tok_stream(key, length):
        return F.transform(
            F.sequence(F.lit(1), length),
            lambda i: F.when(
                F.pmod(F.hash(key, i, F.lit(13)), F.lit(4)) == 0,
                F.concat(
                    F.lit("w"),
                    F.pmod(F.hash(key, i, F.lit(29)), F.lit(rare_n)).cast("string"),
                ),
            ).otherwise(
                F.element_at(vocab, F.pmod(F.hash(key, i), F.lit(n_vocab)) + 1)
            ),
        )

    n_tok = (F.pmod(F.hash("id"), F.lit(41)) + 20).cast("int")
    toks = tok_stream(F.col("id"), n_tok)
    # ~4% of docs share one of 5 verbatim 12-token spans (substring-dedup prey)
    span_id = F.pmod(F.hash(F.col("id") * 3 + 1), F.lit(25))
    span = F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda i: F.element_at(vocab, F.pmod(F.hash(span_id % 5, i), F.lit(n_vocab)) + 1),
    )
    toks = F.when(span_id < 5, F.concat(span, toks)).otherwise(toks)
    # ~8% near-duplicates: doc copies doc-(id%hub) text (same token stream,
    # same hot/rare mixture so the copies carry rare grams too)
    dup = F.pmod(F.hash(F.col("id") * 5 + 2), F.lit(25)) < 2
    hub = (F.col("id") - F.pmod(F.col("id"), F.lit(50))).cast("long")
    toks_hub = tok_stream(hub, F.lit(30))
    text = F.array_join(F.when(dup, toks_hub).otherwise(toks), " ")
    return base.select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.concat(F.lit("src"), F.pmod(F.hash(F.col("id") + 9), F.lit(20))).alias("source"),
    )


def synth_events(spark, n_events: int, n_users: int):
    from pyspark.sql import functions as F

    types = F.array(*[F.lit(t) for t in ["signup", "view", "click", "purchase", "error"]])
    return spark.range(0, n_events, 1, 32).select(
        F.col("id").alias("event_id"),
        F.pmod(F.hash("id"), F.lit(n_users)).cast("long").alias("user_id"),
        (F.pmod(F.hash(F.col("id") * 3 + 7), F.lit(30 * 86_400)).cast("long")
         * 1_000_000).alias("us"),
        F.element_at(types, F.pmod(F.hash(F.col("id") + 11), F.lit(5)) + 1).alias(
            "event_type"
        ),
        (F.pmod(F.hash(F.col("id") * 13 + 1), F.lit(10_000)) / 100.0).alias("value"),
    )


def synth_embs(spark, n_vecs: int, dim: int = 64):
    from pyspark.sql import functions as F

    # hash-derived floats in [-0.5, 0.5): deterministic, no RNG
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.hash(F.col("id"), i), F.lit(10_000)) / 10_000.0 - 0.5),
    )
    return spark.range(0, n_vecs, 1, 32).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )


def run_suite(spark, docs, ev) -> dict[str, float]:
    from alphastats_spark.functions import dedup, events, pipeline

    docs = docs.persist()
    ev = ev.persist()
    docs.count(), ev.count()  # materialize inputs outside the timings

    from alphastats_spark.operators import ordered

    out: dict[str, float] = {}

    def t(name, fn):
        # each probe runs inside its own pass-cache scope so persisted
        # intermediates (shingle/variant tables) are freed before the next
        # probe — without this the caches accumulate across the suite and
        # the later big-shuffle probes measure heap pressure, not the
        # operator (knn_join 10x varied 32-91s run to run before this)
        t0 = time.time()
        with ordered.pass_cache_scope():
            fn()
        out[name] = round(time.time() - t0, 2)

    t("exact_dedup", lambda: dedup.exact_duplicates(docs).count())
    t("lsh_deduplicate", lambda: dedup.deduplicate(docs, lineage=True)
        .groupBy("reason").count().collect())
    t("substring_dedup", lambda: dedup.substring_dedup(docs, k=8)
        .agg({"n_removed": "sum"}).collect())
    t("lm_score", lambda: pipeline.lm_score(docs).agg({"avg_logprob": "avg"}).collect())
    t("funnel", lambda: events.funnel(ev, ["signup", "click", "purchase"]).collect())
    t("retention", lambda: events.cohort_retention(ev, bucket_us=86_400_000_000).count())
    # round 9: multi-touch attribution — the heaviest of the three models
    # (collect_list + posexplode per conversion); claim is ~1.0 (one
    # user-partitioned window pass, linear in the participating events)
    t("attribution", lambda: events.attribute_conversions(
        ev, conversion_type="purchase", touch_types=("click", "view"),
        window_us=86_400_000_000, model="position",
    ).groupBy("touch_type").agg({"credit": "sum"}).collect())

    # round-5 additions: importance weighting, cross-corpus admission,
    # containment (df-capped — the skew guard IS the 100 TB configuration),
    # session journeys, robust anomalies, the bucketized range join and
    # weighted sampling
    from pyspark.sql import functions as F

    t("dsir", lambda: pipeline.dsir_weights(docs, target=F.col("source") == "src0")
        .agg({"log_weight": "avg"}).collect())
    # admission probes the MATERIALIZED-index path (write once, admit
    # O(batch)) — the production shape; the frame-to-frame
    # incremental_admit re-tokenizes the corpus per call (measured
    # exponent 1.16 in SCALE_r06) and is documented as small-corpus-only
    import shutil
    import tempfile

    idx_dir = tempfile.mkdtemp(prefix="as_scale_idx_")
    try:
        t("index_build", lambda: dedup.write_dedup_index(
            docs.where("doc_id % 10 != 0"), idx_dir))
        t("index_admit", lambda: dedup.admit_against_index(
            docs.where("doc_id % 10 = 0"), idx_dir)
            .groupBy("admitted").count().collect())
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    t("containment_capped", lambda: dedup.containment_pairs(
        docs, threshold=0.8, max_shingle_df=200).count())
    t("session_paths", lambda: events.session_paths(ev, k=5).collect())
    t("value_anomalies", lambda: events.value_anomalies(ev, z=3.0).count())
    t("interval_join", lambda: __import__(
        "alphastats_spark.operators.joins", fromlist=["joins"]).interval_join(
        ev.select("user_id", "us", "event_id"),
        ev.groupBy("user_id").agg(F.min("us").alias("s"))
          .withColumn("e", F.col("s") + F.lit(7_200_000_000)),
        on="user_id", point_col="us", start_col="s", end_col="e").count())
    t("weighted_sample", lambda: pipeline.weighted_sample(
        docs.withColumn("__w", F.length("text").cast("double")),
        weight=F.col("__w"), n=100).collect())

    # round-7 additions: the skew-aware per-group quota (20 sources, all
    # over-cap at both scales so the rank branch is the one timed) and the
    # FastSS edit-distance join over customer-name-shaped keys (zero-padded
    # ids: every key has O(digits × 9) distance-1 partners, so the pair
    # count grows linearly with n — the blocking, not the data, is probed)
    t("cap_per_group", lambda: pipeline.cap_per_group(
        docs, cap=50, group_col="source").count())
    t("percentile_normalize", lambda: pipeline.percentile_normalize(
        docs.withColumn("__len", F.length("text")), "__len")
        .agg(F.avg("pct_rank")).collect())
    t("source_overlap_matrix", lambda: pipeline.source_overlap_matrix(
        docs, n=3).count())
    keys = docs.select(
        "doc_id",
        F.concat(F.lit("Item#"), F.lpad(F.col("doc_id").cast("string"), 9, "0")
                 ).alias("text"))
    t("edit_distance_join", lambda: dedup.edit_distance_join(
        keys, max_distance=1).count())

    # round-14 additions: BM25 lexical retrieval (zero-shuffle per-doc
    # map + one tiny stats aggregate — claim ~1.0, scan-bound) and the
    # corpus drift diagnostic (two token-count aggs + one vocabulary-
    # sized full-outer join; vocabulary grows with Heaps-law tail, so
    # the claim is ~linear in tokens, never a broadcast)
    from alphastats_spark.functions import text as textmod

    t("bm25_topk", lambda: textmod.bm25_topk(
        docs, "spark window merge", k=20).collect())
    t("corpus_divergence", lambda: textmod.corpus_divergence(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")).collect())
    docs.unpersist(), ev.unpersist()
    return out


def run_ann_suite(spark, embs) -> dict[str, float]:
    from pyspark.sql import functions as F

    from alphastats_spark.functions import similarity

    from alphastats_spark.operators import ordered

    embs = embs.persist()
    embs.count()
    out: dict[str, float] = {}

    def t(name, fn):
        t0 = time.time()
        with ordered.pass_cache_scope():
            fn()
        out[name] = round(time.time() - t0, 2)

    rows = embs.orderBy("vec_id").limit(10_000).collect()
    sample = [r[1] for r in rows]
    q = [float(x) for x in sample[0]]
    cents = similarity.kmeans_train(sample, 16, 5, 42)
    books = similarity.pq_train(sample, m=4, n_codes=16, seed=42)
    t("ivfpq_topk", lambda: similarity.ivfpq_topk(
        embs, q, cents, books, k=20, nprobe=8).collect())
    # n_planes=None → knn_join auto-sizes planes ∝ log₂(corpus) (5k → 8,
    # 50k → 11), keeping E[bucket] ≈ 32 and candidate volume linear — this
    # probes the SHIPPED default, not a hand-tuned parameterization
    t("knn_join", lambda: similarity.knn_join(
        embs, k=5, seed=42, n_tables=2, multiprobe=1).count())
    # round 7: int8 quantization — a stateless projection, expected ~1.0
    # (compute-bound linear); probed to pin that it never shuffles
    t("quantize_int8", lambda: similarity.quantize_embeddings(embs)
        .agg(F.sum("n_dims"), F.max("max_abs_err")).collect())
    embs.unpersist()
    return out


def run_deep_suite(spark, docs, embs) -> dict[str, float]:
    """The FOUR heaviest probes (per SCALE_r07 exponents: containment
    0.92, overlap matrix 0.80, lsh_deduplicate 0.44, knn_join 0.74) at a
    second decade — 100x the 1x shape. One decade of measurement can hide
    a super-linear term behind fixed overheads; the 10x→100x exponent
    either confirms the linearity claim where it matters or exposes the
    crack two orders of magnitude before production would."""
    from alphastats_spark.functions import dedup, pipeline, similarity
    from alphastats_spark.operators import ordered

    docs = docs.persist()
    embs = embs.persist()
    docs.count(), embs.count()
    out: dict[str, float] = {}

    def t(name, fn):
        t0 = time.time()
        with ordered.pass_cache_scope():
            fn()
        out[name] = round(time.time() - t0, 2)
        print(f"  deep {name}: {out[name]}s", flush=True)

    t("lsh_deduplicate", lambda: dedup.deduplicate(docs, lineage=True)
        .groupBy("reason").count().collect())
    t("containment_capped", lambda: dedup.containment_pairs(
        docs, threshold=0.8, max_shingle_df=200).count())
    t("source_overlap_matrix", lambda: pipeline.source_overlap_matrix(
        docs, n=3).count())
    t("knn_join", lambda: similarity.knn_join(
        embs, k=5, seed=42, n_tables=2, multiprobe=1).count())
    docs.unpersist(), embs.unpersist()
    return out


DEEP_PROBES = ("lsh_deduplicate", "containment_capped",
               "source_overlap_matrix", "knn_join")


def run_deep3_suite(spark, docs) -> dict[str, float]:
    """THIRD deep point for the two probes whose 10x→100x exponent was
    0.57 in round 8 — higher than their first decade (0.18 / 0.39). Both
    carry a structural cap (MAX_BAND_BUCKET / max_shingle_df) that argues
    the curve flattens rather than trends up; one more point measures
    that directly, and would also expose a hot-bucket-set blowup (the
    number of over-cap buckets itself growing super-linearly) two orders
    of magnitude before production would.

    Sized at 2M docs, not a full 5M decade: the 5M LSH probe died twice
    on SPILL_OUT_OF_MEMORY / "No space left on device" — the composed
    ``deduplicate`` pipeline's shuffle+spill footprint is ~linear in
    docs and at 5M it exceeds this box's ~80 GB of free disk (a
    single-machine ceiling, not an operator property: on a cluster the
    same volume spreads over per-executor disks). The exponent is
    therefore computed over log(n_ratio), so it remains a per-decade
    slope comparable to the earlier decades."""
    from alphastats_spark.functions import dedup
    from alphastats_spark.operators import ordered

    docs = docs.persist()
    docs.count()
    out: dict[str, float] = {}

    def t(name, fn):
        t0 = time.time()
        with ordered.pass_cache_scope():
            fn()
        out[name] = round(time.time() - t0, 2)
        print(f"  deep3 {name}: {out[name]}s", flush=True)

    t("lsh_deduplicate", lambda: dedup.deduplicate(docs, lineage=True)
        .groupBy("reason").count().collect())
    t("containment_capped", lambda: dedup.containment_pairs(
        docs, threshold=0.8, max_shingle_df=200).count())
    docs.unpersist()
    return out


DEEP3_PROBES = ("lsh_deduplicate", "containment_capped")


#: Banding families for the --band-ab probe: the shipped pre-r12 default
#: (k=8, r=2, b=4) against the two candidates the r11 verdict prescribed.
#: r sets the per-band false-positive decay (a pair of Jaccard s collides
#: with s^r), b = k/r buys recall back (hit >= 1 band: 1-(1-s^r)^b).
BAND_AB_CONFIGS = ((8, 2), (24, 3), (16, 4))


def run_band_ab(spark, sizes=(2_000_000, 5_000_000)) -> list[dict]:
    """A/B the MinHash banding families on the deep probe corpora —
    the r11 verdict's weak item: with (k=8, r=2) the sub-cap band
    buckets fill as the corpus grows and post-guard candidates went
    super-linear (exponent ~1.65 across 2M→5M) while verified pairs
    stayed exactly linear, i.e. the excess was ALL false positives and
    the verify join (the pipeline's dominant shuffle) paid for them.

    Per (size, family): candidate count after the fused guard+size-ratio
    prefilter, verified-pair count, and the candidate-generation /
    verify-join walls. Recall is RELATIVE to the union of every family's
    verified pairs at that size — each family's verification is exact
    (J >= t on true shingle sets), so each verified set is a subset of
    the truth and the union is the tightest available lower bound on it.
    The per-size shingle table is computed once and shared across
    families (persisted), so family walls exclude tokenization and are
    directly comparable; each family pays its OWN signature aggregate
    through the shipped ``_sigs_over_shingles`` path (r13: one md5 per
    shingle + k affine transforms — the honest per-family hashing cost
    under the current hash family; the r12 table was measured on the
    legacy k-md5s family).
    """
    from pyspark.sql import functions as F

    from alphastats_spark.functions import dedup
    from alphastats_spark.functions.text import hash_key60
    from alphastats_spark.operators import ordered

    results = []
    for n_docs in sizes:
        docs = synth_docs(spark, n_docs).persist()
        docs.count()
        point: dict = {"n_docs": n_docs, **load_stamp(), "families": {}}
        with ordered.pass_cache_scope():
            sh = ordered.persist_tracked(
                dedup._exploded_shingles(docs, "doc_id", "text", 3)
            )
            point["n_shingle_rows"] = sh.count()
            a = sh.select(
                F.col("doc_id").alias("id_a"),
                hash_key60(F.col("shingle")).alias("shingle"),
            )
            b = sh.select(
                F.col("doc_id").alias("id_b"),
                hash_key60(F.col("shingle")).alias("shingle"),
            )
            verified_frames = {}
            for k, r in BAND_AB_CONFIGS:
                fam = f"k{k}_r{r}_b{k // r}"
                row: dict = {"k": k, "rows_per_band": r, "n_bands": k // r,
                             **load_stamp()}
                t0 = time.time()
                sigs_sz = dedup._sigs_over_shingles(
                    sh, "doc_id", k,
                    extra_aggs=(F.count(F.lit(1)).alias("__nsh"),),
                )
                cands = ordered.persist_tracked(
                    dedup._candidates_from_sigs(
                        sigs_sz, "doc_id", k, r,
                        dedup.MAX_BAND_BUCKET,
                        size_col="__nsh", size_ratio=0.5,
                    ).select("id_a", "id_b", "size_a", "size_b")
                )
                row["n_candidates"] = cands.count()
                row["t_candidates"] = round(time.time() - t0, 2)
                t0 = time.time()
                common = (
                    cands.select("id_a", "id_b")
                    .join(a, "id_a")
                    .join(b, ["id_b", "shingle"])
                    .groupBy("id_a", "id_b")
                    .agg(F.count(F.lit(1)).alias("common"))
                )
                ver = ordered.persist_tracked(
                    common.join(cands, ["id_a", "id_b"])
                    .where(
                        F.round(
                            F.col("common")
                            / (F.col("size_a") + F.col("size_b")
                               - F.col("common")),
                            7,
                        )
                        >= 0.5
                    )
                    .select("id_a", "id_b")
                )
                row["n_verified"] = ver.count()
                row["t_verify"] = round(time.time() - t0, 2)
                verified_frames[fam] = ver
                point["families"][fam] = row
                print(f"  band_ab[{n_docs}] {fam}: {row}", flush=True)
            union = verified_frames[next(iter(verified_frames))]
            for fam, ver in list(verified_frames.items())[1:]:
                union = union.unionByName(ver)
            n_union = union.distinct().count()
            point["n_verified_union"] = n_union
            for fam, row in point["families"].items():
                row["recall_vs_union"] = round(
                    row["n_verified"] / n_union, 5
                ) if n_union else None
        docs.unpersist()
        print(f"  band_ab[{n_docs}] union={n_union}", flush=True)
        results.append(point)
    return results


def run_cap_sweep(
    spark, k: int = 24, r: int = 3,
    caps=(200, 100, 50, 25),
    sizes=(2_000_000, 5_000_000),
) -> list[dict]:
    """MAX_BAND_BUCKET sweep for one banding family — the r12 follow-up
    to the family A/B: every family's post-guard candidate count grows at
    exponent ~1.4-1.65 across 2M→5M because SUB-CAP buckets keep filling
    as the corpus grows (a bucket of D docs contributes ~D²/2 pairs and D
    grows with n until the cap truncates it), so the CAP — not the
    family — is the knob that flattens the curve. Per (size, cap):
    post-guard candidates, verified pairs, and walls; plus one band-
    bucket-size histogram per size (pair volume by bucket-size decile)
    so the chosen cap is justified by the measured distribution rather
    than picked. Verified counts are monotone in the cap, so recall cost
    of cap c is verified(c)/verified(max cap) — stitch against the
    family A/B's union for the absolute number.
    """
    from pyspark.sql import functions as F

    from alphastats_spark.functions import dedup
    from alphastats_spark.functions.text import hash_key60
    from alphastats_spark.operators import ordered

    results = []
    for n_docs in sizes:
        docs = synth_docs(spark, n_docs).persist()
        docs.count()
        point: dict = {"n_docs": n_docs, "k": k, "rows_per_band": r,
                       **load_stamp(), "caps": {}}
        with ordered.pass_cache_scope():
            sh = ordered.persist_tracked(
                dedup._exploded_shingles(docs, "doc_id", "text", 3)
            )
            sh.count()
            a = sh.select(
                F.col("doc_id").alias("id_a"),
                hash_key60(F.col("shingle")).alias("shingle"),
            )
            b = sh.select(
                F.col("doc_id").alias("id_b"),
                hash_key60(F.col("shingle")).alias("shingle"),
            )
            # through _sigs_over_shingles so the measured plan is the
            # SHIPPED one-md5-per-shingle shape (inlining the base hash
            # into each of the k min() inputs can cost up to k× the
            # shipped signature-stage hashing — aggregate inputs don't
            # reliably get subexpression elimination)
            sigs_sz = ordered.persist_tracked(
                dedup._sigs_over_shingles(
                    sh, "doc_id", k,
                    extra_aggs=(F.count(F.lit(1)).alias("__nsh"),),
                )
            )
            sigs_sz.count()
            # bucket-size histogram: pair volume D*(D-1)/2 by bucket size,
            # log2-binned — the evidence for where the cap should sit
            bt = dedup._band_table(sigs_sz, "doc_id", k, r)
            hist = (
                bt.groupBy("band", "sig")
                .agg(F.count(F.lit(1)).alias("D"))
                .select(
                    F.floor(F.log2("D")).cast("int").alias("size_bin"),
                    F.col("D"),
                )
                .groupBy("size_bin")
                .agg(
                    F.count(F.lit(1)).alias("n_buckets"),
                    F.sum(F.col("D") * (F.col("D") - 1) / 2).cast("bigint")
                    .alias("pair_volume"),
                )
                .orderBy("size_bin")
                .collect()
            )
            point["bucket_histogram"] = [
                {"min_size": int(2 ** row["size_bin"]),
                 "n_buckets": int(row["n_buckets"]),
                 "pair_volume": int(row["pair_volume"])}
                for row in hist
            ]
            for cap in caps:
                row: dict = {**load_stamp()}
                t0 = time.time()
                cands = ordered.persist_tracked(
                    dedup._candidates_from_sigs(
                        sigs_sz, "doc_id", k, r, cap,
                        size_col="__nsh", size_ratio=0.5,
                    ).select("id_a", "id_b", "size_a", "size_b")
                )
                row["n_candidates"] = cands.count()
                row["t_candidates"] = round(time.time() - t0, 2)
                t0 = time.time()
                common = (
                    cands.select("id_a", "id_b")
                    .join(a, "id_a")
                    .join(b, ["id_b", "shingle"])
                    .groupBy("id_a", "id_b")
                    .agg(F.count(F.lit(1)).alias("common"))
                )
                ver = (
                    common.join(cands, ["id_a", "id_b"])
                    .where(
                        F.round(
                            F.col("common")
                            / (F.col("size_a") + F.col("size_b")
                               - F.col("common")), 7,
                        ) >= 0.5
                    )
                )
                row["n_verified"] = ver.count()
                row["t_verify"] = round(time.time() - t0, 2)
                point["caps"][str(cap)] = row
                print(f"  cap_sweep[{n_docs}] cap={cap}: {row}", flush=True)
        docs.unpersist()
        results.append(point)
    return results


def run_tfidf_pairs_probe(
    spark,
    sizes=(500_000, 1_000_000),
    caps=(250, 1000, 4000),
) -> dict:
    """Scale probe for ``text.tfidf_similarity_pairs`` (r13 verdict item
    2): every other all-pairs operator earned a measured candidate-growth
    exponent before being trusted at scale; the TF-IDF inverted-index
    join shipped with its ``max_term_df`` cap argued from first
    principles only. At each corpus size and each cap this measures the
    thresholded pair count and the end-to-end wall, plus — from ONE
    vocabulary aggregate per size — the per-cap posting-table size and
    the theoretical pre-threshold join volume ``Σ df·(df−1)/2`` (the
    quantity the cap exists to bound: a term in D docs contributes D²
    join rows, and the synthetic corpus's 25-token hot head sits at
    df ≈ 0.75·n, which NO sane cap admits). Exponents are
    doubling-normalized across the two sizes per cap.
    """
    from pyspark.sql import functions as F

    from alphastats_spark.functions import text as textmod

    pts = []
    for n_docs in sizes:
        docs = synth_docs(spark, n_docs).persist()
        docs.count()
        point: dict = {"n_docs": n_docs, **load_stamp(), "caps": {}}
        # one vocabulary pass: df histogram → per-cap posting rows and
        # theoretical join volume (cheap relative to the join itself)
        dfreq = (
            textmod.term_frequencies(docs)
            .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        )
        agg = dfreq.agg(
            F.count(F.lit(1)).alias("vocab"),
            F.max("df").alias("max_df"),
            *[
                F.sum(
                    F.when(F.col("df").between(2, c), F.col("df"))
                ).alias(f"post{c}")
                for c in caps
            ],
            *[
                F.sum(
                    F.when(
                        F.col("df").between(2, c),
                        F.col("df") * (F.col("df") - 1) / 2,
                    )
                ).cast("bigint").alias(f"vol{c}")
                for c in caps
            ],
        ).first()
        point["vocab"] = int(agg["vocab"])
        point["max_df"] = int(agg["max_df"])
        for cap in caps:
            t0 = time.time()
            n_pairs = textmod.tfidf_similarity_pairs(
                docs, threshold=0.5, max_term_df=cap
            ).count()
            point["caps"][str(cap)] = {
                "wall_s": round(time.time() - t0, 1),
                "pairs": int(n_pairs),
                "posting_rows": int(agg[f"post{cap}"] or 0),
                "join_volume": int(agg[f"vol{cap}"] or 0),
            }
            print(
                f"  tfidf_pairs[{n_docs}] cap={cap}: {n_pairs} pairs in "
                f"{point['caps'][str(cap)]['wall_s']}s "
                f"(postings {point['caps'][str(cap)]['posting_rows']}, "
                f"join volume {point['caps'][str(cap)]['join_volume']})",
                flush=True,
            )
        docs.unpersist()
        pts.append(point)

    def expn(va, vb):
        if not va or not vb:
            return None
        return round(
            math.log(vb / va) / math.log(pts[1]["n_docs"] / pts[0]["n_docs"]), 2
        )

    return {
        "points": pts,
        "exponents": {
            str(c): {
                k: expn(pts[0]["caps"][str(c)][k], pts[1]["caps"][str(c)][k])
                for k in ("wall_s", "pairs", "posting_rows", "join_volume")
            }
            for c in caps
        },
    }


def run_curation_probe(spark, sizes=(500_000, 1_000_000)) -> dict:
    """Composition-scale probe for ``pipeline.curate_corpus`` (r11 verdict
    item 5): the 9-stage pipeline is gated at sf0.01 and swept at sf0.1
    but its eager per-stage verdict checkpoints and pass-cache discipline
    had never been measured at probe scale. Runs the full composition at
    two corpus sizes with per-stage wall attribution (the
    ``stage_times`` out-param — each gating stage's wall is everything
    since the previous stage's checkpoint), per-stage outcome counts from
    the lineage output, free-disk snapshots, and a wall exponent across
    the two points.

    The benchmark side is a FIXED ~500-doc slice of the corpus re-keyed
    to fresh ids — fixed because real benchmark suites don't grow with
    the training corpus, and a bench side proportional to n made the
    decontamination stage look quadratic (measured exp 1.78 on the first
    cut of this probe) when its production shape is linear-in-corpus
    against a constant broadcast side. Exact and near matches exist by
    construction. The mix stage gets a token budget of ~10 tokens/doc
    (~25% of the corpus's ~40 tokens/doc), so it also genuinely drops
    documents.
    """
    import shutil as _sh
    import tempfile

    from pyspark.sql import functions as F

    from alphastats_spark.functions import pipeline
    from alphastats_spark.operators import ordered

    pts = []
    for n_docs in sizes:
        docs = synth_docs(spark, n_docs).persist()
        docs.count()
        bench = docs.where(
            (F.col("doc_id") % 997 == 3) & (F.col("doc_id") < 500 * 997)
        ).select(
            (F.col("doc_id") + 10_000_000_000).alias("doc_id"),
            "text", "source",
        )
        point: dict = {"n_docs": n_docs, **load_stamp()}
        point["disk_free_gb_start"] = round(
            _sh.disk_usage(tempfile.gettempdir()).free / 1e9, 1
        )
        st: dict = {}
        t0 = time.time()
        with ordered.pass_cache_scope():
            res = pipeline.curate_corpus(
                docs, bench,
                mix_weights={f"src{i}": 1.0 for i in range(20)},
                token_budget=10 * n_docs,
                stage_times=st,
            )
            point["stage_counts"] = {
                r["stage"]: r["cnt"]
                for r in res.groupBy("stage")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
        point["t_total"] = round(time.time() - t0, 2)
        # the final split+pack stage is lazy — its wall is the total
        # minus the checkpointed gating stages
        point["stage_walls"] = st
        point["t_split_pack_residual"] = round(
            point["t_total"] - sum(st.values()), 2
        )
        point["disk_free_gb_end"] = round(
            _sh.disk_usage(tempfile.gettempdir()).free / 1e9, 1
        )
        docs.unpersist()
        print(f"  curation[{n_docs}]: {point}", flush=True)
        pts.append(point)
    expn = None
    if len(pts) == 2 and pts[0]["t_total"] and pts[1]["t_total"]:
        expn = round(
            math.log(pts[1]["t_total"] / pts[0]["t_total"])
            / math.log(pts[1]["n_docs"] / pts[0]["n_docs"]), 2
        )
    return {
        "points": pts,
        "wall_exponent": expn,
        "stage_wall_exponents": {
            k: round(
                math.log(max(pts[1]["stage_walls"][k], 1e-3)
                         / max(pts[0]["stage_walls"][k], 1e-3))
                / math.log(pts[1]["n_docs"] / pts[0]["n_docs"]), 2
            )
            for k in pts[0].get("stage_walls", {})
            if len(pts) == 2 and k in pts[1].get("stage_walls", {})
        },
    }


def run_deep3_instrumented(spark, n_docs: int) -> dict:
    """Per-stage row counts + wall seconds for the composed LSH dedup
    pipeline at one corpus size — the diagnostic the r9 verdict asked for:
    the 500k→2M wall-clock exponent was 1.62, and nothing separated "this
    box's ~80 GB disk ceiling" from "an algorithmic blowup". If every
    stage's ROW COUNT grows ~linearly in docs while only the WALL TIME
    bends, the super-linear term is the machine (spill thrash), not the
    algorithm; a super-linear candidate/verified-pair or band-row count
    would instead localize a guard gap to its stage.

    Stages mirror ``dedup.deduplicate(lineage=True)`` exactly, computed
    through the library's own building blocks so the counts describe the
    shipped plan: shingle explode → band table (pre-guard) → over-cap
    buckets → guarded candidate self-join → Jaccard verify → clustering
    (label-propagation rounds via the ``duplicate_clusters`` stats
    out-param; 0 when the pair graph is small enough for the driver
    union-find) → the lineage fold. Free temp-dir disk is snapshotted
    after each stage — the direct evidence for/against the disk ceiling.
    """
    import shutil as _sh
    import tempfile

    from pyspark.sql import functions as F

    from alphastats_spark.functions import dedup
    from alphastats_spark.functions.text import hash_key60
    from alphastats_spark.operators import ordered

    out: dict = {"n_docs": n_docs, **load_stamp()}
    docs = synth_docs(spark, n_docs).persist()
    try:
        docs.count()
        out["disk_free_gb_start"] = round(
            _sh.disk_usage(tempfile.gettempdir()).free / 1e9, 1
        )
        _deep3_stages_body(spark, docs, out)
    except Exception as e:  # noqa: BLE001 — a disk-bound 5M point must
        # still return its partial per-stage trace (the free-disk
        # snapshots ARE the disk-attribution evidence)
        out["error"] = f"{type(e).__name__}: {e}"[:500]
        out["disk_free_gb_at_error"] = round(
            _sh.disk_usage(tempfile.gettempdir()).free / 1e9, 1
        )
    finally:
        docs.unpersist()
    return out


def _deep3_stages_body(spark, docs, out: dict) -> None:
    import shutil as _sh
    import tempfile

    from pyspark.sql import functions as F

    from alphastats_spark.functions import dedup
    from alphastats_spark.functions.text import hash_key60
    from alphastats_spark.operators import ordered

    n_docs = out["n_docs"]

    def stage(name, fn):
        t0 = time.time()
        v = fn()
        out[f"t_{name}"] = round(time.time() - t0, 2)
        out[f"n_{name}"] = int(v)
        out[f"disk_free_gb_after_{name}"] = round(
            _sh.disk_usage(tempfile.gettempdir()).free / 1e9, 1
        )
        print(
            f"  deep3i[{n_docs}] {name}: {v} rows in {out['t_' + name]}s "
            f"(free disk {out['disk_free_gb_after_' + name]}g)",
            flush=True,
        )
        return v

    with ordered.pass_cache_scope():
        sh = ordered.persist_tracked(
            dedup._exploded_shingles(docs, "doc_id", "text", 3)
        )
        stage("shingle_rows", sh.count)
        # shipped one-md5-per-shingle plan shape (see cap-sweep comment)
        sigs = dedup._sigs_over_shingles(sh, "doc_id", dedup.MINHASH_K)
        # diagnostic-only pre-guard view of the band table: how many band
        # rows exist and how many sit in over-cap (boilerplate) buckets
        bands_raw = ordered.persist_tracked(
            dedup._band_table(sigs, "doc_id", dedup.MINHASH_K, dedup.ROWS_PER_BAND)
        )
        stage("band_rows", bands_raw.count)
        hot = (
            bands_raw.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .where(F.col("__bn") > dedup.MAX_BAND_BUCKET)
        )
        stage("hot_buckets", hot.count)
        stage(
            "band_rows_dropped",
            lambda: bands_raw.join(
                hot.select("band", "sig"), ["band", "sig"], "semi"
            ).count(),
        )
        # the SHIPPED guarded self-join (window-fused guard + persisted
        # band table probed on its own partitioning)
        cands = ordered.persist_tracked(
            dedup._candidates_from_sigs(
                sigs, "doc_id", dedup.MINHASH_K, dedup.ROWS_PER_BAND
            ).select("id_a", "id_b")
        )
        stage("candidate_pairs", cands.count)
        # Jaccard verify restricted to candidates — the lsh_verified_pairs
        # join shape over the already-persisted shingle table: sizes ride
        # the signature aggregate and the band self-join fuses the exact
        # size-ratio prefilter (r11 shape — no corpus-sized size joins)
        a = sh.select(
            F.col("doc_id").alias("id_a"),
            hash_key60(F.col("shingle")).alias("shingle"),
        )
        b = sh.select(
            F.col("doc_id").alias("id_b"),
            hash_key60(F.col("shingle")).alias("shingle"),
        )
        sigs_sz = dedup._sigs_over_shingles(
            sh, "doc_id", dedup.MINHASH_K,
            extra_aggs=(F.count(F.lit(1)).alias("__nsh"),),
        )
        cands_sz = ordered.persist_tracked(
            dedup._candidates_from_sigs(
                sigs_sz, "doc_id", dedup.MINHASH_K, dedup.ROWS_PER_BAND,
                size_col="__nsh", size_ratio=0.5,
            ).select("id_a", "id_b", "size_a", "size_b")
        )
        stage("sized_candidates", cands_sz.count)
        common = (
            cands_sz.select("id_a", "id_b")
            .join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
        ver = ordered.persist_tracked(
            common.join(cands_sz, ["id_a", "id_b"])
            .withColumn(
                "jaccard",
                F.round(
                    F.col("common")
                    / (F.col("size_a") + F.col("size_b") - F.col("common")),
                    7,
                ),
            )
            .where(F.col("jaccard") >= 0.5)
            .select("id_a", "id_b")
        )
        stage("verified_pairs", ver.count)
        cstats: dict = {}
        t0 = time.time()
        clusters = dedup.duplicate_clusters(ver, stats=cstats)
        n_members = clusters.count()
        out["t_clusters"] = round(time.time() - t0, 2)
        out["n_cluster_members"] = int(n_members)
        out["n_edges"] = int(cstats["n_edges"])
        out["cluster_iterations"] = int(cstats["iterations"])
        out["disk_free_gb_after_clusters"] = round(
            _sh.disk_usage(tempfile.gettempdir()).free / 1e9, 1
        )
        print(
            f"  deep3i[{n_docs}] clusters: {n_members} members, "
            f"{cstats['iterations']} iterations in {out['t_clusters']}s",
            flush=True,
        )
        # the lineage fold deduplicate(lineage=True) ends with
        stage(
            "lineage_rows",
            lambda: docs.select("doc_id")
            .join(
                clusters.select(F.col("id").alias("doc_id"), "cluster_id"),
                "doc_id",
                "left",
            )
            .count(),
        )


def main() -> None:
    from alphastats_spark.session import build_session

    # captured BEFORE the Spark session exists: the one stamp that can
    # only reflect EXTERNAL contention. The per-block stamps taken mid-run
    # additionally carry the probe's own decaying 1-minute load (a block
    # that follows a heavy block reads high even on an idle box), so
    # exponent accept/reject calls should key off this pre-session stamp
    # and treat the per-block ones as ordering context.
    pre_stamp = load_stamp()

    deep = "--deep" in sys.argv
    deep3 = "--deep3" in sys.argv  # implies --deep (needs the 100x point)
    stages = "--deep3-stages" in sys.argv  # standalone diagnostic mode
    deep4 = "--deep4" in sys.argv  # adds the 5M-doc fourth point (r10
    # verdict item 5); implies the stages diagnostic
    band_ab = "--band-ab" in sys.argv  # r12: banding-family A/B at 2M/5M
    cap_sweep = "--cap-sweep" in sys.argv  # r12: MAX_BAND_BUCKET sweep
    curation = "--curation" in sys.argv  # r12: curate_corpus probe 500k/1M
    tfidf_pairs = "--tfidf-pairs" in sys.argv  # r14: pairs join cap sweep
    stages = stages or deep4
    deep3 = deep3 or stages or band_ab or curation or cap_sweep or tfidf_pairs
    deep = deep or deep3

    # 16g driver heap: the 10x shingle/band self-joins spill-OOM local-mode's
    # 1g default (single-JVM driver hosts all 32 executor threads), exactly
    # as the sf0.1 registry sweep did in check_oracle.py; the 100x deep
    # probes get 48g for the same reason one decade up, the 1000x third
    # decade 80g (the box holds 128g)
    spark = build_session(
        master="local[32]", cores=32,
        extra_conf={"spark.ui.enabled": "false",
                    "spark.driver.memory": "80g" if deep3
                    else ("48g" if deep else "16g"),
                    # big heaps GC rarely, so the ContextCleaner (which
                    # only reclaims shuffle files whose RDDs have been
                    # collected) can sit on tens of GB of dead shuffle
                    # data — on a disk-bounded box, force the sweep
                    "spark.cleaner.periodicGC.interval":
                        "2min" if deep else "30min"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    if band_ab:
        print(json.dumps({"banding_ab": run_band_ab(spark),
                          "stamp_presession": pre_stamp}))
        return

    if cap_sweep:
        print(json.dumps({"cap_sweep": run_cap_sweep(spark),
                          "stamp_presession": pre_stamp}))
        return

    if tfidf_pairs:
        print(json.dumps({"tfidf_pairs": run_tfidf_pairs_probe(spark),
                          "stamp_presession": pre_stamp}))
        return

    if curation:
        print(json.dumps({"curation": run_curation_probe(spark),
                          "stamp_presession": pre_stamp}))
        return

    if stages:
        # standalone diagnostic: per-stage counts/walls at three (four
        # with --deep4) corpus sizes; one doubling-normalized exponent per
        # count and per wall so "where does 1.62 come from" has a
        # stage-level answer. The 5M point runs LAST and returns a partial
        # per-stage free-disk trace instead of dying if the box's disk is
        # the ceiling (run_deep3_instrumented catches in-process failures).
        sizes = (500_000, 1_000_000, 2_000_000) + (
            (5_000_000,) if deep4 else ()
        )
        pts = [run_deep3_instrumented(spark, n) for n in sizes]

        def expn(k, a, b):
            va, vb = a.get(k), b.get(k)
            if not va or not vb:
                return None
            return round(
                math.log(vb / va) / math.log(b["n_docs"] / a["n_docs"]), 2
            )

        keys = [k for k in pts[0]
                if (k.startswith(("n_", "t_")) and k != "n_docs")
                or k == "cluster_iterations"]
        result = {
            "stamp_presession": pre_stamp,
            "deep3_stages": pts,
            "deep3_stage_exponents": {
                k: [expn(k, pts[i], pts[i + 1]) for i in range(len(pts) - 1)]
                for k in keys
            },
        }
        print(json.dumps(result))
        return

    # per-suite progress lines so a mid-run crash can't lose earlier suites
    stamp_1x = load_stamp()
    r1 = run_suite(spark, synth_docs(spark, 5_000), synth_events(spark, 100_000, 150))
    print("1x:", json.dumps(r1), flush=True)
    stamp_10x = load_stamp()
    r10 = run_suite(spark, synth_docs(spark, 50_000), synth_events(spark, 1_000_000, 1_500))
    print("10x:", json.dumps(r10), flush=True)
    a1 = run_ann_suite(spark, synth_embs(spark, 5_000))
    print("ann 1x:", json.dumps(a1), flush=True)
    a10 = run_ann_suite(spark, synth_embs(spark, 50_000))
    print("ann 10x:", json.dumps(a10), flush=True)
    r1.update(a1)
    r10.update(a10)
    exponents = {
        k: round(math.log10(max(r10[k], 1e-3) / max(r1[k], 1e-3)), 2) for k in r1
    }
    result = {"t_1x": r1, "t_10x": r10, "exponent": exponents,
              "stamp_presession": pre_stamp,
              "stamp_1x": stamp_1x, "stamp_10x": stamp_10x}
    if deep:
        result["stamp_100x"] = load_stamp()
        r100 = run_deep_suite(
            spark, synth_docs(spark, 500_000), synth_embs(spark, 500_000)
        )
        print("100x:", json.dumps(r100), flush=True)
        result["t_100x"] = r100
        result["exponent_10x_100x"] = {
            k: round(math.log10(max(r100[k], 1e-3) / max(r10[k], 1e-3)), 2)
            for k in DEEP_PROBES
        }
        if deep3:
            n3 = 2_000_000  # 5M exceeds the box's free disk; see docstring
            result["stamp_deep3"] = load_stamp()
            r1000 = run_deep3_suite(spark, synth_docs(spark, n3))
            print("deep3:", json.dumps(r1000), flush=True)
            result["t_deep3"] = r1000
            result["deep3_n_docs"] = n3
            result["exponent_100x_deep3"] = {
                k: round(
                    math.log(max(r1000[k], 1e-3) / max(r100[k], 1e-3))
                    / math.log(n3 / 500_000), 2)
                for k in DEEP3_PROBES
            }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
