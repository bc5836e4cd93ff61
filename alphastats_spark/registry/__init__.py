"""Driver-contract query registry: Spark queries and their DuckDB oracle SQL.

Each family module registers named queries over the driver's synthetic
tables through ``add(name, query, oracle)``, where ``query(spark, sf_dir)``
returns a DataFrame and ``oracle`` is ANSI SQL that DuckDB runs on the same
parquet. :func:`build_registry` collects the families in one order and
front-loads the gate window.
"""

from __future__ import annotations

from alphastats_spark.registry import (
    ann,
    dedup,
    events,
    financial,
    media,
    report,
    streaming,
    text,
)

# The driver's correctness gate evaluates the FIRST 50 registered queries,
# so this window decides which queries it checks. Its slots go, in order,
# to (a) queries that failed the gate and were repaired, (b) queries whose
# registration or oracle changed, (c) queries whose implementation changed
# since their last green gate row, and (d) the queries whose newest green
# gate row is oldest.
_GATE_WINDOW = [
    "doc_bm25_topk", "doc_hybrid_rrf", "corpus_js_divergence",
    "ann_mmr_rerank", "doc_winnow_fingerprints",
    "doc_tfidf_topk", "doc_tfidf_pairs",
    "dedup_index_admit", "dedup_streaming_index_candidates",
    "all_time", "avg_down_month", "avg_up_month", "best_day", "best_year",
    "conditional_drawdown_at_risk", "corpus_cap_per_source",
    "corpus_mix_sample", "corpus_top_docs_per_source",
    "corpus_top_terms_per_source", "doc_fingerprint", "doc_lang_id",
    "doc_lm_score", "event_attribution_decay", "event_attribution_linear",
    "event_attribution_position", "event_session_streaming",
    "event_transition_matrix", "expected_daily", "expected_shortfall",
    "expected_yearly", "gain_to_pain_ratio_monthly", "geometric_mean",
    "r2", "ror", "smart_sortino_sqrt2", "sortino_sqrt2", "win_days",
    "win_year", "worst_day", "worst_month",
    "ann_cosine_topk", "ann_ivf_topk", "ann_ivfpq_topk", "ann_lsh_topk",
    "emb_label_centroids", "emb_near_dups_lsh", "emb_semdedup",
    "streaming_drawdowns_keyed", "event_funnel_streaming",
    "event_attribution_streaming",
]


def build_registry():
    """Return the ``(queries, oracles)`` dicts of the driver contract."""
    q: dict = {}
    o: dict = {}

    def add(name, query_fn, oracle: str | None):
        q[name] = query_fn
        if oracle is not None:
            o[name] = oracle

    for family in (financial, report, streaming, text, dedup, ann, media, events):
        family.register(add)
    financial.register_aliases(add, o)

    order = [n for n in _GATE_WINDOW if n in q]
    order += [n for n in q if n not in _GATE_WINDOW]
    return {n: q[n] for n in order}, {n: o[n] for n in order if n in o}
