"""Structured Streaming surface: rolling metrics and stateful drawdowns.

The reference is batch-only (SURVEY §2.7) — this module is part of the
beyond-reference scale surface: the same metric formulas
(``alphastats_spark.expressions``) applied to event-time windows of a
returns stream, plus a stateful cumulative-drawdown operator built on
``applyInPandasWithState``.
"""

from alphastats_spark.streaming.metrics import (
    STREAM_METRICS,
    rolling_metrics,
    session_metrics,
    streaming_attribution,
    streaming_dedup_candidates,
    streaming_drawdowns,
    streaming_exact_dedup,
    streaming_funnel_levels,
    streaming_index_candidates,
    streaming_url_dedup,
)

__all__ = [
    "STREAM_METRICS",
    "rolling_metrics",
    "session_metrics",
    "streaming_attribution",
    "streaming_dedup_candidates",
    "streaming_drawdowns",
    "streaming_exact_dedup",
    "streaming_funnel_levels",
    "streaming_index_candidates",
    "streaming_url_dedup",
]
