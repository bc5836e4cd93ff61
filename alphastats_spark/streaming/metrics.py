"""Streaming metrics over returns streams.

Two operators:

* ``rolling_metrics`` — event-time windowed aggregation of the core metric
  set. Each metric is the formula the batch API evaluates
  (``alphastats_spark.expressions``), inlined as one aggregate Column, so
  batch and streaming results agree by construction; the set is
  restricted to metrics whose
  aggregation state is bounded (sums/counts/moments — no exact percentiles,
  which would buffer every row in the state store).
* ``streaming_drawdowns`` — per-key cumulative wealth / peak / drawdown via
  ``applyInPandasWithState``: state is four scalars per asset column
  (Σlog|1+r|, negative-factor count, zero-factor count, running peak), the
  streaming mirror of the log-space decomposition in
  ``operators.ordered.add_drawdown_columns``. Rows are processed in
  event-time order *within* each micro-batch; cross-batch order is the
  stream's delivery order (use a watermark + ordered source for strict
  correctness, as with any stateful cumulative operator).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable
from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from alphastats_spark import _utils
from alphastats_spark import expressions as X
from alphastats_spark.exceptions import NoTemporalColumnError

#: sentinel: "resolve to functions.dedup.MAX_BAND_BUCKET at call time" —
#: distinct from None, which explicitly DISABLES the mega-bucket guard
_USE_MODULE_DEFAULT = -1

#: Upper bound on the over-cap (band, sig) list collected to the driver at
#: stream setup by :func:`streaming_index_candidates` — the streaming twin
#: of ``pipeline.OVER_CAP_BROADCAST_LIMIT``. Exceeding it fails loudly
#: instead of silently broadcasting an unbounded list per micro-batch.
HOT_LIST_COLLECT_LIMIT = 500_000

# Streaming-safe subset: constant-size aggregation state per window.
STREAM_METRICS: dict[str, Callable[[Column], Column]] = {
    name: partial(X.column, name)
    for name in (
        "comp", "sharpe", "sortino", "volatility", "win_rate", "avg_return",
        "profit_factor", "omega", "exposure", "value_at_risk", "n_obs",
    )
}


def rolling_metrics(
    df: DataFrame,
    window: str,
    slide: str | None = None,
    temporal: str | None = None,
    cols: list[str] | None = None,
    watermark: str | None = None,
    metrics: dict[str, Callable[[Column], Column]] | None = None,
    start_time: str | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Windowed metric aggregation; works identically on batch and
    streaming frames (the batch path is how semantics are tested).

    Output: one row per event-time window (× key when ``key_cols`` is
    given — the multi-asset long-frame shape) with ``{col}_{metric}``
    columns. With a ``watermark`` on a streaming frame, append-mode sinks
    emit each window once it is closed.
    """
    temporal = temporal or _utils.get_temporal_column_name(df)
    if temporal is None:
        raise NoTemporalColumnError
    key_cols = key_cols or []
    cols = cols or [c for c in _utils.numeric_column_names(df) if c not in key_cols]
    metrics = metrics or STREAM_METRICS

    ts = F.col(temporal).cast("timestamp")
    df = df.withColumn("__ts", ts)
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("__ts", watermark)

    # Windows align to the Unix epoch by default; ``start_time`` shifts the
    # grid (e.g. align 5-day windows to a Monday series start).
    win = F.window(F.col("__ts"), window, slide or window, start_time)
    aggs = [
        fn(F.col(c)).alias(f"{c}_{name}") for c in cols for name, fn in metrics.items()
    ]
    out = df.groupBy(win.alias("__win"), *[F.col(k) for k in key_cols]).agg(*aggs)
    return out.select(
        F.col("__win.start").alias("window_start"),
        F.col("__win.end").alias("window_end"),
        *[F.col(k) for k in key_cols],
        *[F.col(f"{c}_{name}") for c in cols for name in metrics],
    )


def streaming_drawdowns(
    df: DataFrame,
    key_col: str | None = None,
    temporal: str | None = None,
    cols: list[str] | None = None,
) -> DataFrame:
    """Per-row cumulative drawdown over a stream (reference ``to_drawdowns``
    semantics, ``alphastats/stats.py:388-416``, as an unbounded stream op).

    Groups by ``key_col`` (or a single global key); each micro-batch is
    sorted by event time and folded into four scalars of state per column,
    so state size is O(assets), never O(rows).
    """
    temporal = temporal or _utils.get_temporal_column_name(df)
    if temporal is None:
        raise NoTemporalColumnError
    cols = cols or [c for c in _utils.numeric_column_names(df) if c != key_col]

    key_expr = (
        F.col(key_col).cast("string").alias(key_col)
        if key_col
        else F.lit("__all__").alias("__key")
    )
    group_col = key_col or "__key"
    temporal_type = dict(df.dtypes)[temporal]

    out_fields = [T.StructField(group_col, T.StringType())]
    out_fields.append(
        T.StructField(
            temporal,
            T.DateType() if temporal_type == "date" else T.TimestampType(),
        )
    )
    for c in cols:
        out_fields.append(T.StructField(c, T.DoubleType()))
        out_fields.append(T.StructField(f"{c}_dd", T.DoubleType()))
    output_schema = T.StructType(out_fields)

    state_fields = []
    for c in cols:
        state_fields += [
            T.StructField(f"{c}_ls", T.DoubleType()),
            T.StructField(f"{c}_neg", T.LongType()),
            T.StructField(f"{c}_zero", T.LongType()),
            T.StructField(f"{c}_peak", T.DoubleType()),
        ]
    state_schema = T.StructType(state_fields)

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import numpy as np

        if state.exists:
            st = list(state.get)
        else:
            st = [0.0, 0, 0, -math.inf] * len(cols)

        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(temporal, kind="mergesort").reset_index(drop=True)

        out = {group_col: [key[0]] * len(batch), temporal: batch[temporal]}
        for i, c in enumerate(cols):
            # Vectorized log-space fold: cumsum + maximum.accumulate over the
            # whole Arrow batch (the per-row Python loop was the one
            # Python-per-row hot spot left in the streaming path). Null rows
            # contribute nothing to any prefix and emit NaN drawdowns —
            # identical semantics to the batch operator's null-skipping
            # prefix sums (operators/ordered.py add_drawdown_columns).
            ls, neg, zero, peak = st[4 * i : 4 * i + 4]
            vals = batch[c].to_numpy(dtype="float64", na_value=np.nan)
            isnan = np.isnan(vals)
            factor = 1.0 + vals
            is_zero = ~isnan & (factor == 0.0)
            is_neg = ~isnan & (factor < 0.0)
            safe = np.where(isnan | is_zero, 1.0, factor)
            ls_cum = ls + np.cumsum(np.log(np.abs(safe)))
            neg_cum = neg + np.cumsum(is_neg.astype(np.int64))
            zero_cum = zero + np.cumsum(is_zero.astype(np.int64))
            sign = np.where(neg_cum % 2 == 1, -1.0, 1.0)
            wealth = np.where(zero_cum > 0, 0.0, np.exp(ls_cum) * sign)
            # null rows must not advance the running peak
            peak_cum = np.maximum.accumulate(
                np.concatenate(([peak], np.where(isnan, -np.inf, wealth)))
            )[1:]
            with np.errstate(divide="ignore", invalid="ignore"):
                ratio = np.where(peak_cum != 0.0, wealth / peak_cum - 1.0, np.nan)
            dds = np.where(isnan, np.nan, np.minimum(ratio, 0.0))
            if len(vals):
                st[4 * i : 4 * i + 4] = [
                    float(ls_cum[-1]),
                    int(neg_cum[-1]),
                    int(zero_cum[-1]),
                    float(peak_cum[-1]),
                ]
            out[c] = batch[c]
            out[f"{c}_dd"] = pd.Series(dds, dtype="float64")

        state.update(tuple(st))
        yield pd.DataFrame(out)

    prepared = df.select(key_expr, F.col(temporal), *[F.col(c) for c in cols])
    return prepared.groupBy(group_col).applyInPandasWithState(
        fold,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_metrics(
    df: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    temporal: str = "ts",
    watermark: str | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Gap-based session aggregation via native ``F.session_window`` —
    identical code path for batch frames and streams (append mode closes a
    session once the watermark passes its end).

    Boundary semantics: an event extends the session only if it arrives
    strictly *within* ``gap`` of the previous one — an event at exactly the
    gap starts a new session (Spark session-window contract).
    """
    ts = F.col(temporal).cast("timestamp")
    df = df.withColumn("__ts", ts)
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("__ts", watermark)
    if aggs is None:
        aggs = [
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_timestamp(F.max("__ts")) - F.unix_timestamp(F.min("__ts"))).alias(
                "duration_s"
            ),
        ]
    out = df.groupBy(F.col(key_col), F.session_window(F.col("__ts"), gap).alias("__sw")).agg(
        *aggs
    )
    return out.select(
        F.col(key_col),
        F.col("__sw.start").alias("session_start"),
        *[F.col(c) for c in out.columns if c not in (key_col, "__sw")],
    )


def _stream_banded(
    df: DataFrame, id_col: str, text_col: str, k: int, rows_per_band: int,
    n: int = 3,
) -> DataFrame:
    """Per-row MinHash band rows ``(__id, band, sig)`` for a document
    stream — ``array_min`` over the shingle array, no shuffle, identical
    band values to the batch group-min (shingles are already distinct).
    The shingle array is PROJECTED before the per-hash transforms: an
    interpreted lambda re-evaluates any non-trivial closed-over
    subexpression per element, so nesting ``shingles(text)`` inside each
    of the k transforms would re-run the whole tokenization k×|shingles|
    times per row (same trap as functions/dedup._grams_over). For the
    same reason the base md5 runs in its OWN projected transform (one
    digest per shingle) and the k per-hash transforms do plain integer
    arithmetic over the hashed array — the streaming twin of the batch
    ``dedup._sigs_over_shingles`` structure."""
    from alphastats_spark.functions import dedup as _dedup

    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long"):
        # a string/uuid id would cast to null and silently join nothing —
        # fail loudly instead of admitting every near-duplicate
        raise TypeError(
            f"{id_col} must be an integral type to band against a stored "
            f"long-keyed index, got {id_type}"
        )
    # Spread the banding compute across the session's cores BEFORE the
    # per-row projections — the streaming twin of _exploded_shingles's
    # small-scan guard. A single-file micro-batch arrives as ONE source
    # partition, and the interpreted per-row signature arithmetic
    # (~k passes over the shingle array) then serializes on one core:
    # measured 21 s single-task vs <1 s spread for a 5k-doc batch at
    # sf0.1. The exchange moves only the micro-batch's (id, text) rows —
    # orders of magnitude cheaper than the compute it parallelizes — and
    # hash-partitioning by id is deterministic (no rand key, safe under
    # task retry). Candidate-pair SETS are partition-order independent,
    # so downstream state-fold results are unchanged.
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    # Token array projected in its OWN select before the gram transform —
    # the _grams_over closure trap: the gram lambda's slice() closes over
    # its token argument, and an interpreted lambda re-evaluates a
    # closed-over EXPRESSION per element, so the inline shingles(text)
    # form re-ran the whole lower/regexp/split chain once per gram
    # position per row. Worse, the size(__sh) > 0 filter pushed to the
    # scan carried the same gram transform and paid the chain again per
    # element INSIDE the filter. The filter is therefore re-stated on the
    # token count — ``size(__toks) >= n ⟺ size(__sh) > 0`` exactly
    # (n or more tokens ⇒ the gram sequence is non-empty, and concat_ws
    # never yields null) — which pushes down as ONE chain evaluation with
    # no lambda. Measured on the sf0.1 5k-doc micro-batch: the banding
    # projection fell from ~650 CPU-seconds to ~8 (24 s → 0.9 s wall on
    # 32 cores, identical rows).
    from alphastats_spark.functions.text import normalize as _text_normalize

    base = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.split(_text_normalize(F.col(text_col)), r" ").alias("__toks"),
    # null ids (null in source, or un-castable despite the integral-TYPE
    # check) would crash int() in the stateful fold and poison the stream
    ).where(F.col("__id").isNotNull() & (F.size("__toks") >= n))
    base = base.select(
        F.col("__id"), _dedup._grams_over(F.col("__toks"), n).alias("__sh")
    )

    # one base digest per shingle, projected once; each mh(j) is then
    # k-cheap integer arithmetic over the SAME hashed array
    base = base.select(
        "__id",
        F.transform(F.col("__sh"), _dedup.minhash_base_hash).alias("__sh"),
    )
    coeffs = _dedup._affine_coeffs(k)
    p = F.lit(_dedup.MINHASH_PRIME)

    def mh(j: int) -> Column:
        a, b_ = coeffs[j]
        return F.array_min(
            F.transform(F.col("__sh"), lambda h: (F.lit(a) * h + F.lit(b_)) % p)
        )

    n_bands = k // rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[mh(b * rows_per_band + r) for r in range(rows_per_band)]).alias(
                "sig"
            ),
        )
        for b in range(n_bands)
    ]
    return base.select("__id", F.explode(F.array(*band_structs)).alias("b")).select(
        "__id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
    )


def streaming_index_candidates(
    stream_df: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
    k: int | None = None,
    rows_per_band: int | None = None,
    n: int | None = None,
    text_col: str = "text",
    index_path: str | None = None,
    max_band_bucket: int | None = _USE_MODULE_DEFAULT,
) -> DataFrame:
    """Streaming ingest admission, stage 1: candidate matches of a
    document STREAM against a MATERIALIZED corpus dedup index
    (``functions.dedup.write_dedup_index`` — pass its ``<path>/bands``
    table, keyed by ``match_id``).

    ``max_band_bucket`` (default ``dedup.MAX_BAND_BUCKET``; pass ``None``
    for the exact, unguarded candidates) is the streaming twin of the
    batch admit path's mega-bucket guard: a boilerplate (band, sig)
    bucket holding D stored documents emits D candidate rows for EVERY
    stream document that probes it, and D grows with the corpus. Stored
    bucket sizes are computed ONCE at stream setup (a batch aggregation
    over the index — the same one-time cost class as reading the index
    meta) and the over-cap bucket list — at most corpus/cap entries, so
    small by construction — is collected and anti-joined against the tiny
    broadcast micro-batch band table, never against the stored side;
    per-micro-batch cost is unchanged and the stored side still streams
    through the join unshuffled (pinned). The DuckDB oracle mirrors the
    cap via the shared ``corpus_hot`` CTE.

    Stream-static equi-join on (band, sig): stateless on the stream side
    (each arriving document is banded per row, no shuffle), and the
    static index side is a parquet table the planner re-reads per
    micro-batch — at scale a bucketed/partitioned-by-band layout, so the
    corpus is never re-hashed and never streams. This is the
    ingest-pipeline front door: candidates feed exact verification (a
    ``foreachBatch`` calling the batch Jaccard verifier) or a quarantine
    sink.

    Output per micro-batch: ``(new_id, match_id, band)`` — one row per
    colliding band; distinct downstream.

    Stream bands MUST be hashed with the index's build parameters or no
    collision ever fires (every near-dup silently admitted): pass
    ``index_path`` to load ``k``/``rows_per_band``/``n`` (the shingle
    width) from the stored meta (stored values win over module defaults,
    so an index built under older defaults keeps colliding correctly
    after a default flip; explicit mismatches fail loudly). An index
    whose meta is missing or records a signature family other than
    ``"affine31"`` raises and must be rebuilt with ``write_dedup_index``.
    Without ``index_path``, ``None`` falls back to the library-wide
    defaults ``dedup.MINHASH_K``/``dedup.ROWS_PER_BAND``/3 that
    ``write_dedup_index`` also uses, so the two stay in lockstep when a
    global constant changes.

    .. warning:: That no-``index_path`` fallback means a bands frame
       from an index built with a different ``k`` or ``rows_per_band``
       never collides with the stream's banding: zero candidates, every
       near-duplicate admitted, no error. The call therefore emits a
       ``UserWarning`` pointing at ``index_path`` (which resolves the
       stored parameters and is the safe form for any materialized
       index).
    """
    import warnings

    from alphastats_spark.functions import dedup

    if index_path is None:
        warnings.warn(
            "streaming_index_candidates called with index_bands but no "
            "index_path: the stream is banded with CURRENT module "
            f"defaults (k={k if k is not None else dedup.MINHASH_K}, "
            f"rows_per_band={rows_per_band if rows_per_band is not None else dedup.ROWS_PER_BAND}). "
            "If the bands frame comes from an index built with a "
            "different k or rows_per_band, NO candidate ever fires and "
            "every near-duplicate is silently admitted. Pass index_path "
            "to resolve the stored parameters instead.",
            UserWarning,
            stacklevel=2,
        )
    meta = (
        dedup.read_index_meta(stream_df.sparkSession, index_path)
        if index_path is not None
        else None
    )
    k, rows_per_band, n = dedup._resolve_index_params(
        meta, k, rows_per_band, n, allow_defaults=index_path is None
    )
    if max_band_bucket == _USE_MODULE_DEFAULT:
        max_band_bucket = dedup.MAX_BAND_BUCKET
    banded = _stream_banded(stream_df, id_col, text_col, k, rows_per_band, n)
    idx = index_bands.select(
        F.col("match_id").cast("long").alias("match_id"), "band", "sig"
    )
    if max_band_bucket is not None:
        # one-time setup aggregation over the stored index (NOT per
        # micro-batch — leaving the groupBy in the streaming plan would
        # re-count the whole corpus every trigger): collect the over-cap
        # bucket list and anti-join it against the broadcast STREAM side,
        # so the stored side's plan is untouched. The list is at most
        # index_rows / cap entries; HOT_LIST_COLLECT_LIMIT bounds the
        # driver collect the same way pipeline.OVER_CAP_BROADCAST_LIMIT
        # gates cap_per_group — a tiny user cap over a huge index could
        # otherwise collect millions of rows. The list is FROZEN at
        # stream setup: buckets that cross the cap through later index
        # appends are not guarded until the stream restarts, so restart
        # (or compact + restart) on the same maintenance cadence as
        # sources.maintenance.compact_dedup_index.
        hot_rows = (
            idx.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .where(F.col("__bn") > int(max_band_bucket))
            .select("band", "sig")
            .limit(HOT_LIST_COLLECT_LIMIT + 1)
            .collect()
        )
        if len(hot_rows) > HOT_LIST_COLLECT_LIMIT:
            raise ValueError(
                f"streaming_index_candidates: over-cap bucket list exceeds "
                f"HOT_LIST_COLLECT_LIMIT ({HOT_LIST_COLLECT_LIMIT}) — "
                f"max_band_bucket={max_band_bucket} is too small for this "
                f"index (the guard would broadcast millions of rows); raise "
                f"the cap or compact/rebuild the index"
            )
        if hot_rows:
            hot = stream_df.sparkSession.createDataFrame(
                hot_rows, idx.select("band", "sig").schema
            )
            banded = banded.join(F.broadcast(hot), ["band", "sig"], "left_anti")
    # broadcast the MICRO-BATCH band table (bounded by trigger size), never
    # the stored index: the corpus side must stream through the join probe
    # side with no exchange — at 100 TB broadcasting (or reshuffling) the
    # index per micro-batch is the scale killer. Pinned by
    # tests/test_sources_plans.py::test_streaming_index_join_stored_side_unshuffled.
    return F.broadcast(banded).join(idx, ["band", "sig"]).select(
        F.col("__id").alias("new_id"), "match_id", "band"
    )


def streaming_dedup_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    rows_per_band: int | None = None,
    max_ids_per_sig: int = 32,
    state_buckets: int | None = None,
) -> DataFrame:
    """Cross-batch near-duplicate candidates over a document stream.

    MinHash band signatures are computed PER ROW (``array_min`` over the
    shingle array — no shuffle, which matters because a streaming query
    admits only one stateful operator and this op spends it on the band
    state). Each (band, signature) key keeps the ids seen so far in group
    state; a new arrival emits one candidate pair per stored id. State per
    key is capped at ``max_ids_per_sig`` ids — hot boilerplate signatures
    stop emitting rather than growing state unboundedly (the same skew
    trade as the batch hot-shingle cap).

    Output: (id_a, id_b, band) with id_a < id_b; pairs can repeat across
    bands/batches — dedupe downstream (e.g. in the sink or a batch pass).
    ``k``/``rows_per_band`` default to the batch module's banding family
    (``dedup.MINHASH_K``/``dedup.ROWS_PER_BAND``) so a stream and the
    batch pass it backstops agree on which pairs can collide.

    ``state_buckets`` — state-layout knob, value-neutral (the candidate
    pair multiset is identical either way; per-signature logic is the
    same code run per sub-group):

    * ``None`` (default): one state group per (band, signature) value.
      State writes per trigger are O(signatures in the batch) — the
      right layout for production ingest where each micro-batch is tiny
      against the accumulated corpus.
    * ``int``: signatures are hashed into ``state_buckets`` groups
      (deterministic ``xxhash64 % buckets``, stable across restarts —
      NEVER change the count on an existing checkpoint: it would split
      each signature's history across two groups) and each group's state
      holds a signature → ids map. This collapses the per-group
      ``applyInPandasWithState`` constant (~0.2 ms of Arrow/Python
      machinery per group PER TRIGGER; measured 7.5 s over the 38k
      signature groups of a 5k-doc batch at sf0.1) into
      ``state_buckets`` groups. The trade: a trigger rewrites the FULL
      state value of every touched bucket, so writes are O(corpus
      signatures ∩ touched buckets) — use it when trigger batches are
      comparable to the accumulated corpus (bounded ``availableNow``
      replays/backfills, the gate shape) or when per-trigger signature
      cardinality is huge; keep the default for small-batch-vs-huge-
      corpus ingest.
    """
    from alphastats_spark.functions import dedup as _dedup

    if k is None:
        k = _dedup.MINHASH_K
    if rows_per_band is None:
        rows_per_band = _dedup.ROWS_PER_BAND
    banded = _stream_banded(df, id_col, text_col, k, rows_per_band).select(
        F.concat_ws("#", F.col("band").cast("string"), F.col("sig")).alias("__key"),
        F.col("band").alias("__band"),
        F.col("__id"),
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("band", T.IntegerType()),
        ]
    )

    def _advance(stored: list, ids, band: int, pairs: list) -> None:
        """Admit one signature group's batch ids against its stored ids —
        THE semantics of this operator, shared verbatim by both state
        layouts (bucketing must be value-neutral)."""
        for nid in sorted({int(x) for x in ids}):
            if nid in stored:
                continue
            # At the cap this signature is hot boilerplate: stop BOTH
            # storage and pair emission (emitting against a frozen stored
            # set would otherwise keep producing O(cap) pairs per arrival
            # forever — unbounded output for a skewed key).
            if len(stored) >= max_ids_per_sig:
                break
            for sid in stored:
                pairs.append((min(sid, nid), max(sid, nid), band))
            stored.append(nid)

    if state_buckets is None:
        state_schema = T.StructType(
            [T.StructField("ids", T.ArrayType(T.LongType()))]
        )

        def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
            stored: list[int] = list(state.get[0]) if state.exists else []
            # ~1 group per (band, sig) signature value ⇒ group count scales
            # with the corpus, so per-group constant costs dominate this
            # operator's wall. Skip the pd.concat for the common
            # single-chunk group and pull plain numpy arrays instead of
            # pandas indexing.
            chunks = [c for c in pdfs if len(c)]
            if not chunks:
                return
            if len(chunks) == 1:
                ids = chunks[0]["__id"].values
                band = int(chunks[0]["__band"].values[0])
            else:
                batch = pd.concat(chunks, ignore_index=True)
                ids = batch["__id"].values
                band = int(batch["__band"].values[0])
            pairs: list = []
            _advance(stored, ids, band, pairs)
            state.update(([int(x) for x in stored],))
            if pairs:
                yield pd.DataFrame(pairs, columns=["id_a", "id_b", "band"])

        return banded.groupBy("__key").applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    if int(state_buckets) < 1:
        raise ValueError(f"state_buckets must be >= 1, got {state_buckets}")
    # bucketed layout: state holds the bucket's signature → ids map as
    # three parallel arrays (keys, flat ids, offsets) — applyInPandasWithState
    # state rows are flat Arrow structs, so the dict is flattened on
    # update and rebuilt on read
    state_schema = T.StructType(
        [
            T.StructField("keys", T.ArrayType(T.StringType())),
            T.StructField("offs", T.ArrayType(T.IntegerType())),
            T.StructField("flat", T.ArrayType(T.LongType())),
        ]
    )
    bucketed = banded.withColumn(
        "__bkt", F.pmod(F.xxhash64(F.col("__key")), F.lit(int(state_buckets)))
    )

    def fold_bucketed(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        batch = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        if state.exists:
            keys, offs, flat = state.get
            stored = {
                kk: [int(x) for x in flat[offs[i]:offs[i + 1]]]
                for i, kk in enumerate(keys)
            }
        else:
            stored = {}
        pairs: list = []
        for kk, sub in batch.groupby("__key", sort=False):
            st = stored.get(kk)
            if st is None:
                st = stored[kk] = []
            _advance(st, sub["__id"].values, int(sub["__band"].values[0]), pairs)
        keys_out = list(stored)
        offs_out = [0]
        flat_out: list[int] = []
        for kk in keys_out:
            flat_out.extend(stored[kk])
            offs_out.append(len(flat_out))
        state.update((keys_out, offs_out, flat_out))
        if pairs:
            yield pd.DataFrame(pairs, columns=["id_a", "id_b", "band"])

    return bucketed.groupBy("__bkt").applyInPandasWithState(
        fold_bucketed,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_funnel_levels(
    df: DataFrame,
    steps: list[str],
    max_gap_s: int = 86_400,
    user_col: str = "user_id",
    us_col: str = "us",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user funnel progression over an event stream — the stateful
    mirror of :func:`alphastats_spark.functions.events.funnel`.

    State per user is TWO scalars — (level, last conversion instant) —
    regardless of history length: the O(1)-state shape that makes a
    billion-user funnel feasible where the batch fold would re-collect
    every user's history per run. Each micro-batch sorts its rows by
    (us, type) and advances the step machine from the stored frontier,
    emitting the user's current level; the latest emission per user is the
    funnel position.

    Exactness contract: identical to the batch chained-min semantics when
    events arrive in order across batches (single-batch `availableNow`, or
    a time-partitioned feed). A late event BEHIND the stored frontier
    cannot rewind state — the standard stateful-streaming trade, same as
    ``streaming_drawdowns``.
    """
    gap_us = int(max_gap_s) * 1_000_000

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("lvl", T.IntegerType()),
            T.StructField("t", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("lvl", T.IntegerType()), T.StructField("t", T.LongType())]
    )
    n_steps = len(steps)

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        lvl, t = (state.get if state.exists else (0, 0))
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([us_col, type_col], kind="mergesort")
        for us, et in zip(batch[us_col].astype("int64"), batch[type_col]):
            if lvl >= n_steps:
                break
            if et != steps[lvl]:
                continue
            if lvl > 0 and not (us > t and us - t <= gap_us):
                continue
            lvl += 1
            t = int(us)
        state.update((int(lvl), int(t)))
        yield pd.DataFrame({"user_id": [key[0]], "lvl": [lvl], "t": [t]})

    return (
        df.select(
            F.col(user_col).cast("long").alias(user_col),
            F.col(us_col).cast("long").alias(us_col),
            F.col(type_col),
        )
        # a null user/timestamp (null in source, or un-castable to long)
        # would make the Arrow batch's astype('int64') raise and POISON
        # the stream: the micro-batch fails, replays and fails forever.
        # Malformed events carry no funnel position - drop them here.
        .where(F.col(user_col).isNotNull() & F.col(us_col).isNotNull())
        .groupBy(user_col)
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_attribution(
    df: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    window_us: int = 7 * 24 * 3600 * 1_000_000,
    user_col: str = "user_id",
    us_col: str = "us",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch conversion attribution over an event stream — the
    stateful mirror of :func:`alphastats_spark.functions.events.
    attribute_conversions` (``model="last_touch"``).

    State per user is ONE touch struct — ``(t_us, t_id, t_type)`` —
    regardless of history length: the O(1)-state shape that makes
    billion-user attribution feasible where the batch window pass would
    re-shuffle every user's full history per run. Each micro-batch sorts
    its rows by ``(us, touch-before-conversion, event_id)`` — the exact
    tie order of the batch window (`events.py` attribute_conversions:
    a simultaneous touch counts for the conversion, ties break by event
    id) — advances the stored last-touch frontier through the touches,
    and emits one attribution row per conversion:
    ``(event_id, user_id, us, touch_event_id, touch_type, gap_us,
    attributed)`` with the batch operator's ``-1`` / ``"none"``
    sentinels for unattributed conversions.

    Exactness contract: identical to the batch last-touch semantics when
    events arrive in order across micro-batches (a time-partitioned
    feed) — a touch in batch N attributes a conversion in batch N+1
    because the frontier persists in the state store. A late touch
    BEHIND the stored frontier cannot rewind state — the standard
    stateful-streaming trade, same as ``streaming_funnel_levels``.

    Rows with a type outside ``{conversion_type} ∪ touch_types`` are
    dropped at the source (a pushable ``IN`` predicate, like the batch
    pass), so non-participating traffic never reaches the state store.
    """
    if conversion_type in touch_types:
        raise ValueError(
            f"conversion_type {conversion_type!r} must not appear in "
            f"touch_types {tuple(touch_types)!r}"
        )
    participating = [conversion_type, *touch_types]
    touch_set = set(touch_types)
    win = int(window_us)

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(user_col, T.LongType()),
            T.StructField(us_col, T.LongType()),
            T.StructField("touch_event_id", T.LongType()),
            T.StructField("touch_type", T.StringType()),
            T.StructField("gap_us", T.LongType()),
            T.StructField("attributed", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("t_us", T.LongType()),
            T.StructField("t_id", T.LongType()),
            T.StructField("t_type", T.StringType()),
        ]
    )

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import numpy as np

        init_us, init_id, init_type = (
            state.get if state.exists else (-1, -1, "none")
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        # touches sort BEFORE conversions at the same instant (__conv:
        # False < True), later touches win, id breaks exact ties — the
        # batch window's (us asc, is_touch desc, id asc) order
        batch["__conv"] = batch[type_col] == conversion_type
        batch = batch.sort_values(
            [us_col, "__conv", id_col], kind="mergesort"
        )
        # Vectorized last-touch frontier (guide §4.2 — this was the one
        # per-row interpreted loop left in the streaming folds): in the
        # sorted order, a conversion's frontier is the LAST touch row
        # before it, which maximum.accumulate over touch positions finds
        # for every row at once (-1 = no batch touch yet ⇒ the carried-in
        # state frontier applies). Row values are identical to the old
        # loop's: same sort, same frontier rule, same sentinels.
        us_a = batch[us_col].to_numpy(dtype="int64")
        id_a = batch[id_col].to_numpy(dtype="int64")
        types = batch[type_col].to_numpy()
        conv = batch["__conv"].to_numpy(dtype=bool)
        pos = np.arange(len(us_a))
        last_touch = np.maximum.accumulate(np.where(conv, -1, pos))
        touch_any = bool((~conv).any())
        if touch_any:
            j = int(pos[~conv][-1])
            state.update((int(us_a[j]), int(id_a[j]), str(types[j])))
        else:
            state.update((int(init_us), int(init_id), str(init_type)))
        if not conv.any():
            return
        lt = last_touch[conv]
        in_batch = lt >= 0
        src = np.maximum(lt, 0)
        fr_us = np.where(in_batch, us_a[src], init_us)
        fr_id = np.where(in_batch, id_a[src], init_id)
        fr_type = np.where(in_batch, types[src], init_type)
        c_us = us_a[conv]
        ok = (fr_us >= 0) & (c_us - fr_us <= win)
        yield pd.DataFrame(
            {
                id_col: id_a[conv],
                user_col: int(key[0]),
                us_col: c_us,
                "touch_event_id": np.where(ok, fr_id, -1),
                "touch_type": np.where(ok, fr_type, "none"),
                "gap_us": np.where(ok, c_us - fr_us, -1),
                "attributed": ok,
            }
        )

    return (
        df.where(F.col(type_col).isin(participating))
        .select(
            F.col(user_col).cast("long").alias(user_col),
            F.col(us_col).cast("long").alias(us_col),
            F.col(type_col),
            F.col(id_col).cast("long").alias(id_col),
        )
        # a null user/timestamp/id (null in source, or un-castable to
        # long) would make the Arrow batch's astype('int64') raise and
        # POISON the stream (fail -> replay -> fail forever); a
        # keyless/timeless event can neither hold nor receive credit -
        # drop it here, as the other stateful folds do
        .where(
            F.col(user_col).isNotNull()
            & F.col(us_col).isNotNull()
            & F.col(id_col).isNotNull()
        )
        .groupBy(user_col)
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """First-seen-canonical-URL admission over a document stream — the
    ingest-time twin of the batch :func:`~alphastats_spark.functions.
    dedup.url_dedup` (crawl-frontier dedup: a page fetched in ANY earlier
    micro-batch rejects every later fetch whose URL canonicalizes to the
    same string, long before content hashing).

    URLs canonicalize via :func:`~alphastats_spark.functions.text.
    canonical_url`. Rows whose URL is NULL or unparseable (NULL
    canonical) are admitted unconditionally and NEVER enter the state
    store — a non-URL can't collide, and a synthetic per-row key would
    grow state with entries no later row can ever hit. They route around
    the stateful fold entirely (a stateless union branch), the streaming
    mirror of the batch operator's null-safe window key.

    State (``applyInPandasWithState`` keyed by the canonical string) is
    ONE long per distinct canonical URL — the owning id — the same
    irreducible shape as :func:`streaming_exact_dedup`; at crawl scale
    point the session at the RocksDB state backend. Within a micro-batch
    ties go to the smallest id (deterministic under replay); across
    batches the first batch to present a canonical owns it forever.

    Output per row: ``(id, canonical_url, first_id, admitted)`` with
    ``first_id == id`` for admitted rows.
    """
    from alphastats_spark.functions.text import canonical_url

    base = df.select(
        F.col(id_col).cast("long").alias(id_col),
        canonical_url(F.col(url_col)).alias("canonical_url"),
    ).where(F.col(id_col).isNotNull())

    keep_self = base.where(F.col("canonical_url").isNull()).select(
        F.col(id_col),
        F.col("canonical_url"),
        F.col(id_col).alias("first_id"),
        F.lit(True).alias("admitted"),
    )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("canonical_url", T.StringType()),
            T.StructField("first_id", T.LongType()),
            T.StructField("admitted", T.BooleanType()),
        ]
    )
    state_schema = T.StructType([T.StructField("first_id", T.LongType())])

    def fold(key_, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import numpy as np

        # One group per DISTINCT canonical URL ⇒ group count scales with
        # the crawl, so per-group constant cost IS this operator's wall
        # (guide §4.2). The sorted frame was only ever used to pick the
        # min id and flag one winner; argmin over the raw numpy array
        # does both without pd.concat / sort_values / astype copies.
        # Output row ORDER differs from the old sorted form, but the row
        # MULTISET is identical: first_id is the same min, and exactly
        # one row — one with id == first — is admitted either way.
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        ids = (
            chunks[0][id_col].values
            if len(chunks) == 1
            else np.concatenate([c[id_col].values for c in chunks])
        )
        admitted = np.zeros(len(ids), dtype=bool)
        if state.exists:
            first = int(state.get[0])
        else:
            j = int(ids.argmin())
            first = int(ids[j])
            admitted[j] = True
            state.update((first,))
        yield pd.DataFrame(
            {
                id_col: ids,
                "canonical_url": key_[0],
                "first_id": first,
                "admitted": admitted,
            }
        )

    stateful = (
        base.where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return stateful.unionByName(keep_self)


def streaming_exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First-seen admission over an unbounded document stream: every
    arriving document is admitted iff its content fingerprint has never
    been seen in ANY earlier micro-batch — exact streaming dedup, the
    ingest-time twin of the batch :func:`~alphastats_spark.functions.dedup.
    exact_duplicates`.

    State (``applyInPandasWithState`` keyed by the md5 of the normalized
    text) is ONE long per distinct content — the canonical owner id — so
    the state store grows with distinct documents, not rows; that is the
    irreducible memory of exact streaming dedup and exactly what RocksDB
    state backends are for at corpus scale. Within a micro-batch, ties go
    to the smallest id (deterministic under replay); across batches the
    first batch to present a fingerprint owns it forever.

    Output per row: ``(id, first_id, admitted)`` where ``first_id`` is the
    owning document (itself when admitted).
    """
    from alphastats_spark.functions.text import normalize

    key = F.coalesce(F.md5(normalize(F.col(text_col))), F.lit("__null__"))

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("first_id", T.LongType()),
            T.StructField("admitted", T.BooleanType()),
        ]
    )
    state_schema = T.StructType([T.StructField("first_id", T.LongType())])

    def fold(key_, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import numpy as np

        # One group per DISTINCT content fingerprint ⇒ group count scales
        # with the corpus, so per-group constant cost IS this operator's
        # wall (guide §4.2). argmin over the raw numpy id array replaces
        # pd.concat + mergesort + astype — the sorted order only ever
        # selected the min id and flagged one winner, and the output row
        # MULTISET is unchanged (first_id is the same min; exactly one
        # row, one whose id == first, is admitted either way).
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        ids = (
            chunks[0][id_col].values
            if len(chunks) == 1
            else np.concatenate([c[id_col].values for c in chunks])
        )
        admitted = np.zeros(len(ids), dtype=bool)
        if state.exists:
            first = int(state.get[0])
        else:
            j = int(ids.argmin())
            first = int(ids[j])
            admitted[j] = True
            state.update((first,))
        yield pd.DataFrame({id_col: ids, "first_id": first, "admitted": admitted})

    return (
        df.select(key.alias("__fp"), F.col(id_col).cast("long"))
        # a null id would make the fold's astype('int64') raise and poison
        # the stream (fail -> replay -> fail); an id-less document cannot
        # be admitted or owned - drop it here
        .where(F.col(id_col).isNotNull())
        .groupBy("__fp")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
