"""Keyed (per-group) variants of the distributed order-dependent primitives.

The long frame — ``(key, timestamp, value)`` — is THE shape multi-asset
data arrives in at scale: millions of assets × years of observations,
far past what a wide frame's per-column expressions can express (a wide
plan grows O(assets) expression nodes; a keyed long plan is O(1) —
the same ~35 expressions regardless of asset count).

Same two-phase decomposition as :mod:`.ordered`, with the key columns
joined into every partition:

1. bucket rows by (key, calendar-month) — derived per row, no pre-scan;
2. within-(key, bucket) prefix via ``Window.partitionBy(keys, bucket)``;
3. one aggregate row per (key, bucket) (map-side combinable), per-key
   exclusive running totals over that table (``Window.partitionBy(keys)
   .orderBy(bucket)`` — parallel across keys), joined back on
   (keys, bucket).

The offsets table is keys × months rows. Unlike the keyless case it is
NOT always broadcastable (a million keys × 84 months is 84M rows), so the
join carries no broadcast hint — it is co-partitioned with the data on
the (keys, bucket) join key and AQE broadcasts it when it is small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from alphastats_spark.expressions import NAN, fdiv
from alphastats_spark.operators import ordered as ordered_mod
from alphastats_spark.operators.ordered import BUCKET_COL, ORDER_COL


def with_order_keyed(df: DataFrame, temporal_name: str) -> DataFrame:
    """Attach ORDER/BUCKET columns for a keyed long frame (temporal required:
    keyed frames are inherently unordered across partitions). The KEYS play
    no part here — they enter at the window partitioning of every keyed
    pass — so this is the plain temporal bucketing."""
    ts = F.col(temporal_name)
    return df.withColumn(ORDER_COL, ts).withColumn(
        BUCKET_COL, (F.year(ts) * 12 + F.month(ts)).cast("long")
    )


def add_prefix_columns_keyed(
    df: DataFrame,
    key_cols: list[str],
    sums: dict[str, Column] | None = None,
    maxes: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-key running-total / running-max columns (null-skipping, like the
    keyless :func:`ordered.add_prefix_columns`)."""
    sums = sums or {}
    maxes = maxes or {}
    w = (
        Window.partitionBy(*key_cols, BUCKET_COL)
        .orderBy(ORDER_COL)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within_cols = [F.sum(col).over(w).alias(f"{out}__in") for out, col in sums.items()]
    within_cols += [F.max(col).over(w).alias(f"{out}__in") for out, col in maxes.items()]
    # persisted for the same single-execution reason as the keyless
    # ordered.add_prefix_columns: the offsets branch below re-consumes this
    # frame, and column pruning defeats ReuseExchange between the branches
    df = ordered_mod.persist_tracked(df.select("*", *within_cols))

    aggs = [F.sum(col).alias(out) for out, col in sums.items()]
    aggs += [F.max(col).alias(out) for out, col in maxes.items()]
    bucket_totals = df.groupBy(*key_cols, BUCKET_COL).agg(*aggs)

    wb = (
        Window.partitionBy(*key_cols)
        .orderBy(BUCKET_COL)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset_cols = [F.sum(out).over(wb).alias(f"{out}__prev") for out in sums]
    offset_cols += [F.max(out).over(wb).alias(f"{out}__prev") for out in maxes]
    offsets = bucket_totals.select(*key_cols, BUCKET_COL, *offset_cols)

    df = df.join(offsets, on=[*key_cols, BUCKET_COL], how="left")

    final = []
    for out in sums:
        a, p = F.col(f"{out}__in"), F.col(f"{out}__prev")
        final.append(F.coalesce(a + p, a, p).alias(out))
    for out in maxes:
        final.append(F.greatest(F.col(f"{out}__in"), F.col(f"{out}__prev")).alias(out))
    keep = [c for c in df.columns if not (c.endswith("__in") or c.endswith("__prev"))]
    return df.select(*keep, *final)


def add_drawdown_columns_keyed(
    df: DataFrame, key_cols: list[str], cols: dict[str, str], with_peak_pos: bool = False
) -> DataFrame:
    """Per-key drawdown series — the keyed mirror of
    :func:`ordered.add_drawdown_columns` (log-space prefix sums with
    sign/zero tracking, then a prefix max).

    ``with_peak_pos=True`` emits ``{out}__pos`` — a struct of (per-key
    running-peak ORDER_COL position, per-key nulls-so-far), from the same
    prefix passes (``struct(wealth, order)`` running max; equal-wealth ties
    break to the later position; the null counter splits episodes at null
    rows, matching the reference's ``value is not None and value < 0``
    episode boundary, ``stats.py:1585``) — a ready-made per-key
    drawdown-episode id."""
    sums: dict[str, Column] = {}
    for out, src in cols.items():
        factor = F.col(src).cast("double") + 1
        sums[f"{out}__ls"] = F.when(factor == 0, F.lit(0.0)).otherwise(F.log(F.abs(factor)))
        sums[f"{out}__neg"] = (factor < 0).cast("long")
        sums[f"{out}__zero"] = (factor == 0).cast("long")
        if with_peak_pos:
            sums[f"{out}__nn"] = F.col(src).isNull().cast("long")
    df = add_prefix_columns_keyed(df, key_cols, sums=sums)

    wealth_cols = []
    for out, src in cols.items():
        sign = F.when(F.col(f"{out}__neg") % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
        wealth = (
            F.when(F.col(src).isNull(), F.lit(None).cast("double"))
            .when(F.col(f"{out}__zero") > 0, F.lit(0.0))
            .otherwise(F.exp(F.col(f"{out}__ls")) * sign)
        )
        wealth_cols.append(wealth.alias(f"{out}__w"))
    df = df.select("*", *wealth_cols)

    if with_peak_pos:
        df = add_prefix_columns_keyed(
            df,
            key_cols,
            maxes={
                f"{out}__pk": F.struct(
                    F.coalesce(F.col(f"{out}__w"), F.lit(float("-inf"))).alias("v"),
                    F.col(ORDER_COL).alias("p"),
                )
                for out in cols
            },
        )
        peak = {out: F.col(f"{out}__pk").getField("v") for out in cols}
    else:
        df = add_prefix_columns_keyed(
            df, key_cols, maxes={f"{out}__peak": F.col(f"{out}__w") for out in cols}
        )
        peak = {out: F.col(f"{out}__peak") for out in cols}

    dd_cols = []
    for out in cols:
        ratio = fdiv(F.col(f"{out}__w"), peak[out]) - 1
        dd = (
            F.when(F.col(f"{out}__w").isNull(), F.lit(None).cast("double"))
            .when(F.isnan(ratio), NAN())
            .otherwise(F.least(ratio, F.lit(0.0)))
        )
        dd_cols.append(dd.alias(out))
        if with_peak_pos:
            dd_cols.append(
                F.struct(
                    F.col(f"{out}__pk").getField("p").alias("p"),
                    F.coalesce(F.col(f"{out}__nn"), F.lit(0)).alias("n"),
                ).alias(f"{out}__pos")
            )
    helper = [
        c
        for c in df.columns
        if "__ls" in c
        or "__neg" in c
        or "__zero" in c
        or c.endswith("__w")
        or c.endswith("__peak")
        or c.endswith("__pk")
        or c.endswith("__nn")
    ]
    return df.select(*[c for c in df.columns if c not in helper], *dd_cols)


def episode_stats_keyed(
    df: DataFrame,
    key_cols: list[str],
    dd_col: str,
    length_mode: str = "rows",
    temporal_name: str | None = None,
    pos_col: str | None = None,
) -> DataFrame:
    """Per-key drawdown-episode aggregates over a keyed long frame carrying
    an already-computed drawdown column.

    Returns one row per key: ``longest_days``, ``avg_days``, ``avg_dd``.
    ``length_mode="rows"`` counts episode rows (the report's convention);
    ``"days"`` measures calendar extent (requires ``temporal_name``).
    ``pos_col`` names a peak-position column
    (:func:`add_drawdown_columns_keyed` with ``with_peak_pos=True``) that
    already IS the per-key episode id — when given, no extra island prefix
    pass is needed.
    """
    if pos_col is not None:
        df = df.withColumn("__isl", F.col(pos_col))
    else:
        df = add_prefix_columns_keyed(
            df,
            key_cols,
            sums={"__isl": F.when(F.col(dd_col) < 0, F.lit(0)).otherwise(F.lit(1))},
        )
    in_dd = df.where(F.col(dd_col) < 0)
    if length_mode == "rows":
        length = F.count(F.lit(1)).cast("long")
    else:
        if temporal_name is None:
            raise ValueError("length_mode='days' requires temporal_name")
        length = (F.datediff(F.max(temporal_name), F.min(temporal_name)) + 1).cast("long")
    episodes = in_dd.groupBy(*key_cols, "__isl").agg(
        F.min(dd_col).alias("__min_dd"), length.alias("__len")
    )
    return episodes.groupBy(*key_cols).agg(
        F.max("__len").alias("longest_days"),
        F.avg("__len").alias("avg_days"),
        F.avg("__min_dd").alias("avg_dd"),
    )
