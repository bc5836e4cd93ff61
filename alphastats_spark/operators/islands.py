"""Gaps-and-islands rewrites of the reference's eager Python loops.

The reference computes streaks (``stats.py:1249-1289``) and drawdown
episodes (``stats.py:1570-1642``) by collecting every row to the driver and
looping in Python — the two **[EAGER]** hot spots flagged in SURVEY §2.3.
Both are rewritten here as distributed window/groupBy plans:

* ``longest_streaks`` needs no groupBy at all: with a global row index and a
  running max over break positions, the current streak length is
  ``idx − last_break_idx`` — two prefix passes (shared bucket shuffle) and
  one aggregate, for ALL columns at once.
* ``drawdown_episode_stats`` reads the episode id straight off the drawdown
  machinery (the running peak's position, tracked in the same prefix-max
  pass via ``struct(wealth, order)``), unpivots the N asset columns into a
  long (asset, episode) frame, and computes per-episode extents with ONE
  ``groupBy`` for all columns — instead of N driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alphastats_spark.operators import ordered


def longest_streaks(df: DataFrame, cols: list[str], winning: bool) -> dict[str, int]:
    """Longest run of r>0 (wins) or r<0 (losses); nulls and zeros break runs
    (reference ``_consecutive_count``, ``stats.py:1249-1261``).

    Each prefix pass persists its own windowed frame (single-execution —
    see ``ordered.add_prefix_columns``); since this function fully
    materializes its result, those caches are released before returning —
    only this thread's: a concurrent call's caches may still be in use.
    """
    with ordered.pass_cache_scope():
        df = ordered.add_row_index(df, "__idx")

        brk_exprs = {}
        for c in cols:
            pred = (F.col(c) > 0) if winning else (F.col(c) < 0)
            # null predicate falls through to otherwise(1): null breaks the
            # run, matching the reference's `current = 0` on None.
            brk_exprs[c] = F.when(pred, F.lit(0)).otherwise(F.lit(1))

        df = ordered.add_prefix_columns(
            df,
            maxes={
                f"__lastbrk_{c}": F.when(brk_exprs[c] == 1, F.col("__idx")) for c in cols
            },
        )
        aggs = []
        for c in cols:
            streak = F.when(
                brk_exprs[c] == 0, F.col("__idx") - F.coalesce(F.col(f"__lastbrk_{c}"), F.lit(0))
            ).otherwise(F.lit(0))
            aggs.append(F.coalesce(F.max(streak), F.lit(0)).alias(c))
        row = df.agg(*aggs).first()
        return {c: int(row[c]) for c in cols}


def drawdown_episode_stats(
    df: DataFrame,
    cols: list[str],
    temporal_name: str | None,
    dd_cols: dict[str, str] | None = None,
    pos_cols: dict[str, str] | None = None,
) -> dict[str, dict[str, float]]:
    """Per-column drawdown-episode aggregates in one distributed pass.

    Returns {column: {"longest_days": int, "avg_days": float, "avg_dd": float}}
    mirroring ``_drawdown_period_lengths`` / ``avg_drawdown`` (reference
    ``stats.py:1570-1642``): episode length is calendar days (end−start+1)
    when a temporal column exists, else the episode row count.

    ``dd_cols`` maps source column → an ALREADY COMPUTED drawdown column on
    ``df`` (e.g. the report frame carries them) — passing it skips the
    whole drawdown prefix machinery; ``pos_cols`` additionally maps source
    column → a peak-position column (``add_drawdown_columns`` with
    ``with_peak_pos=True``), which already IS the episode id.

    The episode id comes for free from the drawdown machinery itself: the
    running peak's ORDER_COL position is constant within an episode and
    changes exactly when a new peak is set (equal-wealth retraces break to
    the later position), and the struct's null counter splits two dd<0 runs
    separated by a null-return row — together the same boundary as the
    reference's ``value is not None and value < 0`` run definition
    (``stats.py:1585``), which the legacy island-sum fallback below also
    implements (null dd falls through to the run-breaking branch). No
    separate gaps-and-islands prefix pass is needed, and no caller-side
    persist either: each prefix pass persists its own windowed frame so
    both its branches read one materialization (see
    ``ordered.add_prefix_columns`` for why ReuseExchange cannot be relied
    on).
    Fully materializes its result, so the pass caches this thread creates
    here are released before returning (a concurrent call's are left to
    it; a caller that passed precomputed
    ``dd_cols``/``pos_cols`` created its caches outside this scope — those
    are untouched).
    """
    with ordered.pass_cache_scope():
        return _episode_stats(df, cols, temporal_name, dd_cols, pos_cols)


def _episode_stats(
    df: DataFrame,
    cols: list[str],
    temporal_name: str | None,
    dd_cols: dict[str, str] | None,
    pos_cols: dict[str, str] | None,
) -> dict[str, dict[str, float]]:
    if dd_cols is None:
        df = ordered.add_drawdown_columns(
            df, {f"__dd_{c}": c for c in cols}, with_peak_pos=True
        )
        dd_cols = {c: f"__dd_{c}" for c in cols}
        pos_cols = {c: f"__dd_{c}__pos" for c in cols}
    elif pos_cols is None:
        # externally supplied drawdowns without peak positions: derive the
        # episode id with one island prefix pass (the legacy shape)
        df = ordered.add_prefix_columns(
            df,
            sums={
                f"__isl_{c}": F.when(F.col(dd_cols[c]) < 0, F.lit(0)).otherwise(F.lit(1))
                for c in cols
            },
        )
        pos_cols = {c: f"__isl_{c}" for c in cols}

    # Unpivot the per-asset (dd, island) pairs into a long frame so a single
    # groupBy covers every column.
    is_date = False
    if temporal_name is not None:
        dtype = dict(df.dtypes).get(temporal_name)
        is_date = dtype == "date"
        pos = F.col(temporal_name)
    else:
        pos = F.col(ordered.ORDER_COL)

    # Single-scan unpivot via stack() — a union of N per-column selects would
    # recompute the whole drawdown plan N times.
    df = df.withColumn("__pos", pos)
    def _lit(c: str) -> str:
        # asset names land in single-quoted SQL literals — escape so a
        # name like O'Brien cannot break (or inject into) the stack() expr
        return c.replace("\\", "\\\\").replace("'", "\\'")

    stack_args = ", ".join(
        f"'{_lit(c)}', `{pos_cols[c]}`, cast(`{dd_cols[c]}` as double)" for c in cols
    )
    long_df = df.selectExpr(
        "__pos", f"stack({len(cols)}, {stack_args}) as (__asset, __island, __dd)"
    ).where(F.col("__dd") < 0)

    if temporal_name is None:
        length = F.count(F.lit(1)).cast("long")
    else:
        # calendar datediff for BOTH date and timestamp temporals — the
        # same rule as the keyed mirror (keyed.py episode_stats_keyed), so
        # wide-frame and long-frame drawdown-day metrics agree on
        # identical series (elapsed-time floor(Δts/86400) undercounted a
        # 23:00→01:00 episode as 1 day where the keyed path said 2)
        length = (F.datediff(F.max("__pos"), F.min("__pos")) + 1).cast("long")

    episodes = long_df.groupBy("__asset", "__island").agg(
        F.min("__dd").alias("__min_dd"), length.alias("__len")
    )
    rows = (
        episodes.groupBy("__asset")
        .agg(
            F.max("__len").alias("longest_days"),
            F.avg("__len").alias("avg_days"),
            F.avg("__min_dd").alias("avg_dd"),
        )
        .collect()
    )
    out = {c: {"longest_days": 0, "avg_days": 0.0, "avg_dd": 0.0} for c in cols}
    for r in rows:
        out[r["__asset"]] = {
            "longest_days": int(r["longest_days"]),
            "avg_days": float(r["avg_days"]),
            "avg_dd": float(r["avg_dd"]),
        }
    return out
