"""Distributed order-dependent primitives (prefix sums/max, ffill, lag).

Why this module exists
----------------------
The reference relies on Polars preserving insertion order for every
cumulative op (``cum_prod``/``cum_max`` in ``alphastats/stats.py:412-416``,
streak loops at ``stats.py:1249-1261``). Spark preserves no row order, and
the naive translation — ``Window.orderBy(ts)`` with no ``partitionBy`` —
funnels the entire dataset through ONE task: correct on 60k rows, dead on
100 TB.

Instead, every cumulative operation here is the classic two-phase
partial-aggregate + offset-broadcast decomposition:

1. bucket rows by a *coarse, order-aligned* key (calendar month for temporal
   data — derived from the row itself, so no pre-scan job is needed);
2. compute the within-bucket prefix via ``Window.partitionBy(bucket)
   .orderBy(order)`` — parallel across buckets;
3. aggregate one row per bucket (map-side combinable ``groupBy``), compute
   exclusive running totals over that tiny table, and broadcast-join the
   offsets back.

Cost: one shuffle by bucket (reused by every subsequent window/groupBy on the
same key — Spark recognizes the co-partitioning) plus a tiny aggregate. The
cumulative product needed for drawdowns is decomposed into log-space prefix
sums with explicit sign/zero tracking, so it is exact for any return > −1 and
still correct (sign-flip / collapse-to-zero) beyond that.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ORDER_COL = "__as_order"
BUCKET_COL = "__as_bucket"

_TEMPORAL_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)

# Every prefix pass persists its windowed frame (see add_prefix_columns for
# why ReuseExchange cannot provide the single-execution guarantee). The
# registry lets fully-materializing callers release those caches when done —
# without it a long-lived session accumulates cache entries (and, under
# memory pressure, their disk-spilled blocks) per pass. Lazily-returning
# APIs intentionally do NOT auto-release: the cache must outlive the
# caller's eventual action, and repeated identical queries legitimately
# re-hit it via plan canonicalization.
# Entries are (token, owner thread ident, cache); a cache is a DataFrame
# or a _CheckpointHandle shim — release only ever calls .unpersist().
# Driver thread pools register concurrently (report passes, index
# appends), so every read and write holds _PASS_LOCK, and entries are
# identified by their token, drawn from a counter that never repeats —
# not by list position (shifted by concurrent releases) or id() (reused
# once a released cache is garbage collected).
_PASS_CACHES: list = []
_PASS_LOCK = threading.Lock()
_next_token = 0


class _Mark(int):
    """A registry mark: as an int, the number of live pass caches when it
    was taken; ``token`` is the token the next registration receives."""

    def __new__(cls, live: int, token: int):
        mark = super().__new__(cls, live)
        mark.token = token
        return mark


def track_pass_cache(cache) -> None:
    """Register an already-persisted frame (or any object with
    ``unpersist()``) for release by :func:`release_pass_caches` and
    :func:`pass_cache_scope`."""
    global _next_token
    with _PASS_LOCK:
        _PASS_CACHES.append((_next_token, threading.get_ident(), cache))
        _next_token += 1


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist a frame into the pass-cache registry.

    For operators whose plan fans out over a shared subframe (the dedup
    pipelines' exploded shingle table, a report enrichment frame): without
    a persist each join/aggregate branch re-executes the subframe's whole
    lineage — the dedup verify stage re-ran the interpreted shingle
    explode four times before this. Registering here (instead of a bare
    ``persist()``) lets fully-materializing callers release every cache a
    query created with one :func:`release_pass_caches` call."""
    df = df.persist()
    track_pass_cache(df)
    return df


def pass_cache_mark() -> _Mark:
    """Registry mark; pass to :func:`release_pass_caches` to release only
    the caches registered after this point (scoped cleanup). Compared as
    an int it is the number of live pass caches."""
    with _PASS_LOCK:
        return _Mark(len(_PASS_CACHES), _next_token)


def _release(drop) -> None:
    """Unregister every entry ``drop(token, owner)`` selects, atomically,
    then unpersist them outside the lock (unpersist is a JVM call)."""
    with _PASS_LOCK:
        gone = [e for e in _PASS_CACHES if drop(e[0], e[1])]
        _PASS_CACHES[:] = [e for e in _PASS_CACHES if not drop(e[0], e[1])]
    for _token, _owner, cache in gone:
        cache.unpersist()


def release_pass_caches(from_mark: int = 0) -> None:
    """Unpersist pass caches registered since ``from_mark`` (a
    :func:`pass_cache_mark`; the default 0 releases every one), whichever
    thread registered them. Only call once every query derived from them
    has been fully materialized: a cache another thread registers after
    the mark is released too."""
    start = getattr(from_mark, "token", from_mark)
    _release(lambda token, _owner: token >= start)


def release_own_pass_caches(from_mark: _Mark) -> None:
    """Unpersist the pass caches THE CALLING THREAD registered since
    ``from_mark``; entries other threads registered meanwhile stay live."""
    me = threading.get_ident()
    start = from_mark.token
    _release(lambda token, owner: owner == me and token >= start)


@contextmanager
def pass_cache_scope():
    """Scope pass-caches to a fully-materializing block::

        with ordered.pass_cache_scope():
            result = dedup.lsh_verified_pairs(docs).collect()

    On exit, every cache THIS THREAD registered inside the block is
    unpersisted. The thread filter makes overlapped scopes safe: driver
    thread pools running independent fully-materializing operations
    concurrently (e.g. parallel index appends, guide §2.6) would
    otherwise release each other's still-live caches on first exit —
    correct (a released persist recomputes) but a silent performance
    trap. Entries registered by OTHER threads during the block are left
    for their own scope (or a cross-thread ``release_pass_caches``).

    This is the release obligation for DIRECT library callers:
    dedup/similarity pipelines persist shared intermediates
    (shingle/band tables) into the registry and intentionally do NOT
    auto-release (the cache must outlive the caller's eventual action),
    so a long-lived session issuing many such queries without a scope
    accumulates caches unboundedly. Only wrap blocks that fully
    materialize their result inside the block — a DataFrame returned out
    of the scope loses its caches' benefit (it stays CORRECT; the
    lineage simply recomputes)."""
    mark = pass_cache_mark()
    try:
        yield
    finally:
        release_own_pass_caches(mark)


class _CheckpointHandle:
    """Release shim registered in ``_PASS_CACHES`` for a localCheckpointed
    frame: ``DataFrame.unpersist()`` does NOT free localCheckpoint blocks
    (they belong to the materialized RDD behind the plan's LogicalRDD
    node, not to the SQL cache manager — verified empirically: storage
    survives an unpersist and is reclaimed only when the RDD is GC'd), so
    the registry releases them through the LogicalRDD's own RDD handle.
    Best-effort: the py4j plan-shape poke must never break a release
    sweep, and a frame whose blocks were already GC'd just no-ops."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False):
        try:
            self._df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
        except Exception:  # noqa: BLE001 — release is best-effort by contract
            pass


def local_checkpoint_tracked(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` registered for explicit release.

    localCheckpoint truncates lineage (the reason to use it: iterative
    plans that would otherwise nest unboundedly) but its blocks are
    non-replicated AND invisible to ``unpersist()`` — in a long-lived
    session they linger until driver GC collects the RDD. Registering a
    :class:`_CheckpointHandle` in the pass-cache registry makes
    ``release_pass_caches`` / ``pass_cache_scope`` free them like any
    other pass cache. Release only after every frame derived from the
    checkpoint is fully materialized: the lineage is GONE, so a released
    checkpoint fails loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) instead
    of silently recomputing the way a released persist does."""
    ck = df.localCheckpoint(eager=eager)
    track_pass_cache(_CheckpointHandle(ck))
    return ck


def with_order(df: DataFrame, temporal_name: str | None) -> DataFrame:
    """Attach ``__as_order`` / ``__as_bucket`` columns.

    With a temporal column the bucket is the calendar month — computed from
    the row itself (no extra scan) and monotone in the order key, which is
    what phase 2/3 require. Without one (the reference's keyless Series
    case), fall back to ``monotonically_increasing_id`` whose high bits are
    the partition id: ordering by it reproduces input order, and using the
    partition id as the bucket keeps the prefix computation parallel.
    """
    if temporal_name is not None:
        ts = F.col(temporal_name)
        return df.withColumn(ORDER_COL, ts).withColumn(
            BUCKET_COL, (F.year(ts) * 12 + F.month(ts)).cast("long")
        )
    mono = F.monotonically_increasing_id()
    return df.withColumn(ORDER_COL, mono).withColumn(
        BUCKET_COL, F.shiftrightunsigned(F.col(ORDER_COL), 33)
    )


def drop_order(df: DataFrame) -> DataFrame:
    return df.drop(ORDER_COL, BUCKET_COL)


def _q(name: str) -> str:
    """Backtick-quote an identifier for SQL-string expressions."""
    return "`" + name.replace("`", "``") + "`"


# SQL window fragments for the two-phase pass. String expressions cost ONE
# py4j round-trip per selectExpr/expr call instead of one per Column-API
# node: measured ~0.45s of pure driver time per add_drawdown_columns call
# (and ~0.25s per ingest lag pass) at bench scale before this, ~0.1s after
# — on a 6-pass report that driver time was serialized ahead of every
# Spark job and dominated the critical path.
_W_CUM = (
    f"OVER (PARTITION BY {_q(BUCKET_COL)} ORDER BY {_q(ORDER_COL)} "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)
_W_PLAIN = f"OVER (PARTITION BY {_q(BUCKET_COL)} ORDER BY {_q(ORDER_COL)})"
# The unpartitioned bucket-offset windows run over the per-bucket aggregate
# table only — one row per bucket (months of data / input partitions), so a
# global window there is a few-KB single task, not a scale hazard.
_WB_EXCL = (
    f"OVER (ORDER BY {_q(BUCKET_COL)} "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
)
_WB_LAG = f"OVER (ORDER BY {_q(BUCKET_COL)})"


def add_ordered_columns(
    df: DataFrame,
    sums: dict[str, Column | str] | None = None,
    maxes: dict[str, Column | str] | None = None,
    lags: dict[str, str] | None = None,
    ffills: dict[str, Column | str] | None = None,
) -> DataFrame:
    """ONE two-phase ordered pass computing any mix of running sums,
    running maxes, lag(1)s and forward-fills.

    Every kind shares the same (bucket, order) sort, so all the within-
    bucket window expressions evaluate in a single windowed select over one
    shuffle, the bucket boundary values come from ONE per-bucket aggregate,
    and one broadcast join carries them across boundaries. Callers that
    need several kinds (the report's full-mode enrichment needs all four)
    previously chained one pass per kind — 4-5 persists, bucket aggregates
    and joins where this does one of each.

    Dict values may be ``Column`` objects (caller-facing API) or SQL
    expression strings (the machinery's internal fast path — see the
    ``_W_*`` constants for why). Per-kind semantics (identical to the
    former dedicated passes):

    * ``sums``/``maxes`` map output → source *expression*; null inputs are
      skipped (prefix over non-nulls so far, null before the first
      non-null) — Polars ``cum_sum``/``cum_max`` null semantics.
    * ``lags`` map output → source column *name*; the first row of a bucket
      takes the previous bucket's last-row value.
    * ``ffills`` map output → source expression; last non-null so far.

    Order-key contract: rows with a NULL order/bucket sort FIRST (one null
    bucket preceding every real bucket — the same nulls-first rule Polars'
    sort applies before its cumulative ops), so a null-dated row
    contributes to every later prefix; filter such rows upstream when that
    is not wanted. ORDER_COL values should be UNIQUE within a bucket:
    the bucket-boundary extraction is ``max_by(running, order)``, so rows
    tied at a bucket's maximum order key make the carried boundary — and
    therefore every later bucket's offset — depend on which tie row wins
    (duplicate timestamps make cumulative semantics order-dependent in any
    engine; the financial frames this serves have calendar-unique dates).

    Bucket totals come FROM the windowed frame: the within-bucket running
    aggregate at a bucket's LAST row IS the bucket total (window
    aggregates skip nulls, so this holds with nulls too; an all-null
    bucket yields null either way). The windowed frame is persist()ed —
    no count() job; the offsets branch materializes the cache as a side
    effect of its broadcast job and the main branch then reads it — so
    the upstream lineage executes ONCE per pass. Catalyst's ReuseExchange
    can NOT be relied on here: column pruning gives the offsets branch a
    narrower projection under its Exchange than the main branch keeps, so
    the two never canonicalize equal and each branch would re-execute the
    full input plan (fatal for chained passes, and for the keyless
    monotonically_increasing_id order, where re-execution has nothing
    pinning row ids). Pinned by tests/test_sources_plans.py.
    """
    sums = sums or {}
    maxes = maxes or {}
    lags = lags or {}
    ffills = ffills or {}

    # Dict values may be SQL-expression STRINGS (the machinery's own fast
    # path — one py4j round-trip per selectExpr instead of one per Column
    # node) or Column objects (the caller-facing API). Column values are
    # staged under a temp name in the same projection so the windowed
    # select below can reference them by SQL identifier; evaluation still
    # happens against the pre-window frame either way.
    staged: list[Column] = []

    def sql_of(out: str, val, kind: str) -> str:
        if isinstance(val, str):
            return val
        tmp = f"__st_{kind}_{out}"
        staged.append(val.alias(tmp))
        return _q(tmp)

    sums_sql = {out: sql_of(out, v, "s") for out, v in sums.items()}
    maxes_sql = {out: sql_of(out, v, "m") for out, v in maxes.items()}
    ffills_sql = {out: sql_of(out, v, "f") for out, v in ffills.items()}
    # lags map output → source column NAME
    lags_sql = {out: _q(src) for out, src in lags.items()}
    if staged:
        df = df.select("*", *staged)

    within = []
    for out, e in sums_sql.items():
        within.append(f"sum({e}) {_W_CUM} AS {_q(out + '__in')}")
    for out, e in maxes_sql.items():
        within.append(f"max({e}) {_W_CUM} AS {_q(out + '__in')}")
    for out, e in lags_sql.items():
        within.append(f"lag({e}) {_W_PLAIN} AS {_q(out + '__in')}")
    for out, e in ffills_sql.items():
        within.append(f"last({e}, true) {_W_CUM} AS {_q(out + '__in')}")
    if lags:
        # bucket-first marker for the lag boundary fill; rides the same sort
        within.append(f"row_number() {_W_PLAIN} AS __as_rn")
    df = persist_tracked(df.selectExpr("*", *within))

    o = _q(ORDER_COL)
    aggs = [F.expr(f"max_by({_q(out + '__in')}, {o})").alias(out) for out in sums]
    aggs += [F.expr(f"max({_q(out + '__in')})").alias(out) for out in maxes]
    # lag boundary = previous bucket's last SOURCE value
    aggs += [F.expr(f"max_by({e}, {o})").alias(out) for out, e in lags_sql.items()]
    aggs += [F.expr(f"max_by({_q(out + '__in')}, {o})").alias(out) for out in ffills]
    bucket_totals = df.groupBy(BUCKET_COL).agg(*aggs)

    offset_cols = [f"sum({_q(out)}) {_WB_EXCL} AS {_q(out + '__prev')}" for out in sums]
    offset_cols += [f"max({_q(out)}) {_WB_EXCL} AS {_q(out + '__prev')}" for out in maxes]
    offset_cols += [f"lag({_q(out)}) {_WB_LAG} AS {_q(out + '__prev')}" for out in lags]
    offset_cols += [
        f"last({_q(out)}, true) {_WB_EXCL} AS {_q(out + '__prev')}" for out in ffills
    ]
    offsets = bucket_totals.selectExpr(BUCKET_COL, *offset_cols)

    df = df.join(F.broadcast(offsets), on=BUCKET_COL, how="left")

    final = []
    for out in sums:
        a, p = _q(out + "__in"), _q(out + "__prev")
        final.append(f"coalesce({a} + {p}, {a}, {p}) AS {_q(out)}")
    for out in maxes:
        a, p = _q(out + "__in"), _q(out + "__prev")
        final.append(f"greatest({a}, {p}) AS {_q(out)}")
    for out in lags:
        a, p = _q(out + "__in"), _q(out + "__prev")
        final.append(f"CASE WHEN __as_rn = 1 THEN {p} ELSE {a} END AS {_q(out)}")
    for out in ffills:
        a, p = _q(out + "__in"), _q(out + "__prev")
        final.append(f"coalesce({a}, {p}) AS {_q(out)}")
    # drop EXACTLY the helpers this pass generated (out+"__in"/"__prev",
    # the staged __st_ columns and the lag marker) — a suffix heuristic
    # would silently delete caller columns that merely END in "__in"
    all_outs = [*sums, *maxes, *lags, *ffills]
    helpers = {f"{o}__in" for o in all_outs} | {f"{o}__prev" for o in all_outs}
    helpers.add("__as_rn")
    keep = [
        _q(c)
        for c in df.columns
        if c not in helpers and not c.startswith("__st_")
    ]
    return df.selectExpr(*keep, *final)


def add_prefix_columns(
    df: DataFrame,
    sums: dict[str, Column] | None = None,
    maxes: dict[str, Column] | None = None,
) -> DataFrame:
    """Running-total / running-max columns over the global row order (see
    :func:`add_ordered_columns` for the pass machinery and null semantics)."""
    return add_ordered_columns(df, sums=sums, maxes=maxes)


def add_ffill_columns(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """Forward-fill (last non-null so far) per global row order."""
    return add_ordered_columns(df, ffills=cols)


def add_lag_columns(df: DataFrame, cols: dict[str, str]) -> DataFrame:
    """lag(1) per global row order; ``cols`` maps output name → source
    column *name*."""
    return add_ordered_columns(df, lags=cols)


def _drawdown_fused(
    df: DataFrame,
    cols: dict[str, str],
    extra_sums: dict,
    extra_lags: dict,
) -> DataFrame:
    """ONE-machinery-pass drawdown enrichment for the plain (no peak
    position) case — see :func:`add_drawdown_columns`.

    The two-pass decomposition (prefix sums, then a SECOND two-phase pass
    for the running peak over wealth) paid a second persist, bucket
    aggregate and broadcast join per call. This fuses the peak into the
    FIRST pass, bit-exactly, using monotonicity instead of re-scaling:

    true wealth is ``w_j = sign_j · exp(L_b + a_j)`` where ``a_j`` is the
    in-bucket running log-sum, ``L_b`` the bucket's exclusive offset, and
    ``sign_j`` flips with the TOTAL negative-factor parity (bucket offset
    ``N_b`` + in-bucket count). Within a bucket, partition the non-null,
    non-collapsed rows by IN-BUCKET parity and track running max/min of
    ``a_j`` per class (4 extra window expressions riding the SAME sort —
    no second exchange). Because IEEE ``+L`` and a correctly-rounded
    ``exp`` are both weakly monotone, ``max_j exp(L + a_j) ==
    exp(L + max_j a_j)`` as DOUBLES, so the running peak is exactly
    ``greatest(exp(L+maxPos), 0-if-collapsed-row-seen, -exp(L+minNeg))``
    with the pos/neg classes chosen by ``N_b``'s parity — the same
    doubles the legacy second pass maxes over, hence bit-identical
    drawdowns (pinned by tests/test_operators.py over sign-flip /
    collapse-to-zero / null / all-null-bucket series). The equal-value
    POSITION tie-break of ``with_peak_pos`` (ties on the exp VALUE, which
    collides for distinct log-sums at ulp distance) is not recoverable
    from in-bucket quantities, so that variant keeps the legacy two-pass
    shape.

    Cross-bucket, the per-bucket true peak is computed on the tiny bucket
    table from the same four totals (suppressed entirely when a PRIOR
    bucket collapsed the product to zero), and its exclusive running max
    joins back with the sums offsets in ONE broadcast join."""
    o, b = _q(ORDER_COL), _q(BUCKET_COL)

    # ---- stage the extra Column values (same contract as the machinery)
    staged: list[Column] = []

    def sql_of(out: str, val, kind: str) -> str:
        if isinstance(val, str):
            return val
        tmp = f"__st_{kind}_{out}"
        staged.append(val.alias(tmp))
        return _q(tmp)

    xsums_sql = {out: sql_of(out, v, "s") for out, v in extra_sums.items()}
    xlags_sql = {out: _q(src) for out, src in extra_lags.items()}
    if staged:
        df = df.select("*", *staged)

    # ---- ONE windowed select: drawdown prefix sums, the four per-parity
    # log-extrema, the collapse/non-null markers, and the extras
    win1 = []
    for out, src in cols.items():
        factor = f"(CAST({_q(src)} AS double) + 1)"
        ls = f"CASE WHEN {factor} = 0 THEN 0.0D ELSE ln(abs({factor})) END"
        neg = f"CAST(({factor} < 0) AS bigint)"
        zero = f"CAST(({factor} = 0) AS bigint)"
        win1.append(f"sum({ls}) {_W_CUM} AS {_q(out + '__ls__in')}")
        win1.append(f"sum({neg}) {_W_CUM} AS {_q(out + '__neg__in')}")
        win1.append(f"sum({zero}) {_W_CUM} AS {_q(out + '__zero__in')}")
    for out, e in xsums_sql.items():
        win1.append(f"sum({e}) {_W_CUM} AS {_q(out + '__in')}")
    for out, e in xlags_sql.items():
        win1.append(f"lag({e}) {_W_PLAIN} AS {_q(out + '__in')}")
    if extra_lags:
        win1.append(f"row_number() {_W_PLAIN} AS __as_rn")
    df = df.selectExpr("*", *win1)

    # second windowed select over the FIRST one's outputs — same window
    # spec, so the planner adds no exchange and no sort (plan-pinned)
    win2 = []
    for out, src in cols.items():
        nn = f"{_q(src)} IS NOT NULL"
        live = f"{nn} AND {_q(out + '__zero__in')} = 0"
        even = f"({_q(out + '__neg__in')} % 2) = 0"
        a = _q(out + "__ls__in")
        win2.append(
            f"max(CASE WHEN {live} AND {even} THEN {a} END) {_W_CUM} "
            f"AS {_q(out + '__mxe')}"
        )
        win2.append(
            f"min(CASE WHEN {live} AND {even} THEN {a} END) {_W_CUM} "
            f"AS {_q(out + '__mne')}"
        )
        win2.append(
            f"max(CASE WHEN {live} AND NOT ({even}) THEN {a} END) {_W_CUM} "
            f"AS {_q(out + '__mxo')}"
        )
        win2.append(
            f"min(CASE WHEN {live} AND NOT ({even}) THEN {a} END) {_W_CUM} "
            f"AS {_q(out + '__mno')}"
        )
        # a collapsed (wealth = 0) row seen so far / any non-null row seen
        win2.append(
            f"max(CASE WHEN {nn} AND {_q(out + '__zero__in')} > 0 THEN 1 END) "
            f"{_W_CUM} AS {_q(out + '__zc')}"
        )
        win2.append(
            f"max(CASE WHEN {nn} THEN 1 END) {_W_CUM} AS {_q(out + '__na')}"
        )
    df = persist_tracked(df.selectExpr("*", *win2))

    # ---- ONE bucket aggregate (sums totals + peak-class totals + extras)
    aggs = []
    for out in cols:
        for part in ("ls", "neg", "zero"):
            aggs.append(
                F.expr(f"max_by({_q(out + '__' + part + '__in')}, {o})").alias(
                    f"{out}__{part}t"
                )
            )
        aggs.append(F.expr(f"max({_q(out + '__mxe')})").alias(f"{out}__mxet"))
        aggs.append(F.expr(f"min({_q(out + '__mne')})").alias(f"{out}__mnet"))
        aggs.append(F.expr(f"max({_q(out + '__mxo')})").alias(f"{out}__mxot"))
        aggs.append(F.expr(f"min({_q(out + '__mno')})").alias(f"{out}__mnot"))
        aggs.append(F.expr(f"max({_q(out + '__zc')})").alias(f"{out}__zct"))
        aggs.append(F.expr(f"max({_q(out + '__na')})").alias(f"{out}__nat"))
    for out in xsums_sql:
        aggs.append(F.expr(f"max_by({_q(out + '__in')}, {o})").alias(f"{out}__t"))
    for out, e in xlags_sql.items():
        aggs.append(F.expr(f"max_by({e}, {o})").alias(f"{out}__b"))
    totals = df.groupBy(BUCKET_COL).agg(*aggs)

    # offsets + per-bucket true peak + its exclusive running max: three
    # chained selects on the one-row-per-bucket table, zero extra jobs
    off1 = ["*"]
    for out in cols:
        for part in ("ls", "neg", "zero"):
            off1.append(
                f"sum({_q(out + '__' + part + 't')}) {_WB_EXCL} "
                f"AS {_q(out + '__' + part + '__off')}"
            )
    for out in xsums_sql:
        off1.append(f"sum({_q(out + '__t')}) {_WB_EXCL} AS {_q(out + '__off')}")
    for out in xlags_sql:
        off1.append(f"lag({_q(out + '__b')}) {_WB_LAG} AS {_q(out + '__off')}")
    totals = totals.selectExpr(*off1)

    def _c_parts(out: str) -> tuple[str, str, str]:
        return (
            f"coalesce({_q(out + '__ls__off')}, 0.0D)",
            f"coalesce({_q(out + '__neg__off')}, 0L)",
            f"coalesce({_q(out + '__zero__off')}, 0L)",
        )

    def _peak_sql(out: str, mxe: str, mne: str, mxo: str, mno: str,
                  zc: str, na: str) -> str:
        """Exact running/bucket peak from the four per-parity log extrema.

        With the bucket sign parity N: the positive-wealth class is the
        in-bucket-even rows when N is even, the odd rows otherwise; its
        peak candidate is exp(L + max a); the negative class contributes
        -exp(L + min a); a collapsed row contributes 0.0. greatest()
        skips null candidates, and a prior-bucket collapse (Z > 0) zeroes
        every non-null row instead."""
        L, N, Z = _c_parts(out)
        pos = f"CASE WHEN ({N} % 2) = 0 THEN {mxe} ELSE {mxo} END"
        neg = f"CASE WHEN ({N} % 2) = 0 THEN {mno} ELSE {mne} END"
        return (
            f"CASE WHEN {Z} > 0 THEN "
            f"(CASE WHEN {na} IS NULL THEN CAST(NULL AS double) ELSE 0.0D END) "
            f"ELSE greatest("
            f"CASE WHEN ({pos}) IS NOT NULL THEN exp({L} + ({pos})) END, "
            f"CASE WHEN {zc} IS NOT NULL THEN 0.0D END, "
            f"CASE WHEN ({neg}) IS NOT NULL THEN -exp({L} + ({neg})) END) END"
        )

    tb_cols = [
        _peak_sql(
            out, _q(out + "__mxet"), _q(out + "__mnet"), _q(out + "__mxot"),
            _q(out + "__mnot"), _q(out + "__zct"), _q(out + "__nat"),
        ) + f" AS {_q(out + '__tb')}"
        for out in cols
    ]
    totals = totals.selectExpr("*", *tb_cols)

    keep_off = [b]
    for out in cols:
        for part in ("ls", "neg", "zero"):
            keep_off.append(_q(out + "__" + part + "__off"))
    keep_off += [_q(out + "__off") for out in xsums_sql]
    keep_off += [_q(out + "__off") for out in xlags_sql]
    offsets = totals.selectExpr(
        *keep_off,
        *[f"max({_q(out + '__tb')}) {_WB_EXCL} AS {_q(out + '__pko')}" for out in cols],
    )

    df = df.join(F.broadcast(offsets), on=BUCKET_COL, how="left")

    # ---- final wealth, peak and extra outputs
    d_cols = []
    for out, src in cols.items():
        L, N, Z = _c_parts(out)
        sign = (
            f"CASE WHEN (({N} + {_q(out + '__neg__in')}) % 2) = 1 "
            "THEN -1.0D ELSE 1.0D END"
        )
        d_cols.append(
            f"CASE WHEN {_q(src)} IS NULL THEN CAST(NULL AS double) "
            f"WHEN ({Z} + {_q(out + '__zero__in')}) > 0 THEN 0.0D "
            f"ELSE exp({L} + {_q(out + '__ls__in')}) * ({sign}) END "
            f"AS {_q(out + '__w')}"
        )
        m_in = _peak_sql(
            out, _q(out + "__mxe"), _q(out + "__mne"), _q(out + "__mxo"),
            _q(out + "__mno"), _q(out + "__zc"), _q(out + "__na"),
        )
        d_cols.append(f"greatest({m_in}, {_q(out + '__pko')}) AS {_q(out + '__peak')}")
    for out in xsums_sql:
        a, p = _q(out + "__in"), _q(out + "__off")
        d_cols.append(f"coalesce({a} + {p}, {a}, {p}) AS {_q(out)}")
    for out in xlags_sql:
        a, p = _q(out + "__in"), _q(out + "__off")
        d_cols.append(f"CASE WHEN __as_rn = 1 THEN {p} ELSE {a} END AS {_q(out)}")
    df = df.selectExpr("*", *d_cols)

    # ---- the drawdown projection — BYTE-IDENTICAL expressions to the
    # legacy two-pass path (only the peak's derivation differs)
    dd_cols = []
    for out in cols:
        w, p = _q(out + "__w"), _q(out + "__peak")
        ratio = (
            f"(CASE WHEN {w} IS NULL OR ({p}) IS NULL THEN NULL "
            f"WHEN ({p}) != 0 THEN {w} / ({p}) "
            f"WHEN isnan({w}) OR {w} = 0 THEN double('NaN') "
            f"WHEN {w} > 0 THEN double('Infinity') "
            f"ELSE double('-Infinity') END - 1)"
        )
        dd_cols.append(
            f"CASE WHEN {w} IS NULL THEN CAST(NULL AS double) "
            f"WHEN isnan({ratio}) THEN double('NaN') "
            f"ELSE least({ratio}, 0.0D) END AS {_q(out)}"
        )
    helper = set()
    for out in cols:
        for part in ("ls", "neg", "zero"):
            helper.add(f"{out}__{part}__in")
            helper.add(f"{out}__{part}__off")
        for suffix in (
            "__mxe", "__mne", "__mxo", "__mno", "__zc", "__na",
            "__pko", "__w", "__peak",
        ):
            helper.add(f"{out}{suffix}")
    for out in list(xsums_sql) + list(xlags_sql):
        helper.add(f"{out}__in")
        helper.add(f"{out}__off")
    helper.add("__as_rn")
    keep = [
        _q(c) for c in df.columns if c not in helper and not c.startswith("__st_")
    ]
    return df.selectExpr(*keep, *dd_cols)


def add_drawdown_columns(
    df: DataFrame,
    cols: dict[str, str],
    with_peak_pos: bool = False,
    extra_sums: dict[str, Column] | None = None,
    extra_maxes: dict[str, Column] | None = None,
    extra_lags: dict[str, str] | None = None,
) -> DataFrame:
    """Add per-row drawdown columns (reference ``_drawdowns``, ``stats.py:412-416``).

    drawdown = cumprod(1+r)/cummax(cumprod(1+r)) − 1, clipped ≤ 0.

    Spark-first decomposition: cumprod(1+r) = sign · exp(Σ log|1+r|), with the
    sign and collapse-to-zero tracked by two extra prefix sums, so the whole
    chain is prefix-sums + one prefix-max — fully parallel across buckets.
    ``cols`` maps output drawdown column name → source returns column name.

    Null returns produce null drawdowns and are skipped by the running
    product/max, exactly like Polars' null-skipping cumulative ops.

    ``with_peak_pos=True`` additionally emits ``{out}__pos`` — a struct of
    (peak position, nulls-so-far) computed in the SAME prefix passes (the
    running max tracks ``struct(wealth, order)``; Spark's struct ordering
    breaks equal-wealth ties to the LATER position, so a wealth path that
    exactly retraces its old peak starts a new position there; the null
    counter splits runs separated by a null-return row, because the
    reference ends an episode at any row whose drawdown is not ``< 0`` —
    ``value is not None and value < 0``, ``stats.py:1585`` — and a null row
    never advances the running peak). That column is a ready-made
    drawdown-episode id: rows with dd<0 share one ``__pos`` per episode,
    letting episode stats skip their own island prefix pass entirely.

    ``extra_sums``/``extra_lags`` ride the FIRST prefix pass and
    ``extra_maxes`` the second (peak) pass — callers needing sibling
    ordered columns (the report's row index, streak-break maxes and lag
    columns) fuse them here instead of chaining dedicated passes; an
    ``extra_maxes`` expression may reference any ``extra_sums`` output,
    which exists by the time the second pass selects it.

    Without ``extra_maxes`` or ``with_peak_pos`` the whole enrichment
    runs as ONE fused machinery pass (:func:`_drawdown_fused` — one
    persist, one bucket aggregate, one broadcast join; the peak windows
    share the sums pass's sort, bit-exactly via log-extrema
    monotonicity). ``extra_maxes`` expressions may reference arbitrary
    offset-adjusted sum outputs, and ``with_peak_pos``'s equal-VALUE
    position tie-break needs comparisons on the final exp'd doubles —
    neither is recoverable from in-bucket quantities, so those cases
    keep the legacy two-pass shape below.
    """
    if not extra_maxes and not with_peak_pos:
        return _drawdown_fused(
            df, cols, dict(extra_sums or {}), dict(extra_lags or {})
        )
    sums: dict = dict(extra_sums or {})
    for out, src in cols.items():
        factor = f"(CAST({_q(src)} AS double) + 1)"
        sums[f"{out}__ls"] = (
            f"CASE WHEN {factor} = 0 THEN 0.0D ELSE ln(abs({factor})) END"
        )
        sums[f"{out}__neg"] = f"CAST(({factor} < 0) AS bigint)"
        sums[f"{out}__zero"] = f"CAST(({factor} = 0) AS bigint)"
        if with_peak_pos:
            sums[f"{out}__nn"] = f"CAST(({_q(src)} IS NULL) AS bigint)"
    df = add_ordered_columns(df, sums=sums, lags=extra_lags)

    wealth_cols = []
    for out, src in cols.items():
        sign = f"CASE WHEN ({_q(out + '__neg')} % 2) = 1 THEN -1.0D ELSE 1.0D END"
        wealth_cols.append(
            f"CASE WHEN {_q(src)} IS NULL THEN CAST(NULL AS double) "
            f"WHEN {_q(out + '__zero')} > 0 THEN 0.0D "
            f"ELSE exp({_q(out + '__ls')}) * ({sign}) END AS {_q(out + '__w')}"
        )
    df = df.selectExpr("*", *wealth_cols)

    if with_peak_pos:
        # null wealth → −inf in the struct so a null row can never become
        # the peak (the plain-max path gets this from max's null-skipping)
        maxes2: dict = {
            f"{out}__pk": (
                f"named_struct('v', coalesce({_q(out + '__w')}, double('-Infinity')), "
                f"'p', {_q(ORDER_COL)})"
            )
            for out in cols
        }
        maxes2.update(extra_maxes or {})
        df = add_ordered_columns(df, maxes=maxes2)
        peak = {out: f"{_q(out + '__pk')}.v" for out in cols}
    else:
        maxes2 = {f"{out}__peak": _q(f"{out}__w") for out in cols}
        maxes2.update(extra_maxes or {})
        df = add_ordered_columns(df, maxes=maxes2)
        peak = {out: _q(f"{out}__peak") for out in cols}

    dd_cols = []
    for out in cols:
        w, p = _q(out + "__w"), peak[out]
        # fdiv (IEEE ±inf / NaN on zero denominators) then −1, as a string
        ratio = (
            f"(CASE WHEN {w} IS NULL OR ({p}) IS NULL THEN NULL "
            f"WHEN ({p}) != 0 THEN {w} / ({p}) "
            f"WHEN isnan({w}) OR {w} = 0 THEN double('NaN') "
            f"WHEN {w} > 0 THEN double('Infinity') "
            f"ELSE double('-Infinity') END - 1)"
        )
        dd_cols.append(
            f"CASE WHEN {w} IS NULL THEN CAST(NULL AS double) "
            f"WHEN isnan({ratio}) THEN double('NaN') "
            f"ELSE least({ratio}, 0.0D) END AS {_q(out)}"
        )
        if with_peak_pos:
            dd_cols.append(
                f"named_struct('p', {_q(out + '__pk')}.p, "
                f"'n', coalesce({_q(out + '__nn')}, 0L)) AS {_q(out + '__pos')}"
            )
    # drop EXACTLY the helpers generated for the requested outputs — a
    # substring heuristic would silently delete caller columns whose
    # names happen to contain "__ls"/"__neg"/... fragments
    helper = {
        f"{out}{suffix}"
        for out in cols
        for suffix in ("__ls", "__neg", "__zero", "__w", "__peak", "__pk", "__nn")
    }
    return df.selectExpr(*[_q(c) for c in df.columns if c not in helper], *dd_cols)


def add_row_index(df: DataFrame, out: str = "__as_idx") -> DataFrame:
    """1-based global row position via prefix count — parallel, not a
    single-partition ``row_number``."""
    return add_prefix_columns(df, sums={out: F.lit(1).cast("long")})
