"""Long-frame (keyed) metrics: the million-asset scale path.

The wide returns frame (one column per asset) mirrors the reference's data
model and is right for a handful of strategies — but its plan grows one
expression set per column, which caps out in the hundreds (codegen size,
driver planning time). The long frame ``(key, date, r)`` is the shape a
100 TB store actually uses, and its plan is O(1) in the number of assets:
ONE aggregation of ~35 primitive leaves grouped by key, ONE keyed drawdown
enrichment (:mod:`operators.keyed`), ONE episodes pass — whether there are
two assets or two million.

``metrics_by_key`` computes the full scalar metric surface per key from
three joined branches — main aggregation, CVaR threshold join, episodes —
over one persisted keyed enrichment (a traced ``perfbench`` tearsheet run
at seed 1 counts 22 Spark jobs for the call):

* single-pass metrics: the formula table the wide API uses
  (:mod:`expressions`), projected flat — one grouped aggregation of the
  primitive leaves, one select of the formulas — so results match
  ``stats.*`` per asset;
* drawdown metrics ride the keyed prefix machinery;
* CVaR's conditional mean uses a per-key threshold JOINED back (the
  literal-injection trick is per-frame, not per-key) — co-partitioned on
  the key, AQE-broadcast when small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from alphastats_spark import expressions as X
from alphastats_spark._utils import (
    BENCHMARK_RETURNS_COLNAME,
    get_temporal_column_name,
    prepare_benchmark,
)
from alphastats_spark.exceptions import NoTemporalColumnError
from alphastats_spark.operators import joins, keyed


# metrics_by_key's single-pass columns, in output order
_KEY_METRICS = (
    "n_obs", "comp", "cagr", "sharpe", "sortino", "volatility", "exposure", "omega",
    "expected_return", "best", "worst", "skew", "kurtosis", "avg_return", "avg_win",
    "avg_loss", "win_rate", "payoff_ratio", "profit_factor", "gain_to_pain_ratio",
    "common_sense_ratio", "tail_ratio", "outlier_win_ratio", "outlier_loss_ratio",
    "kelly_criterion", "risk_of_ruin", "value_at_risk", "max_drawdown", "ulcer_index",
    "recovery_factor",
)


def metrics_by_key(
    df: DataFrame,
    key_col: str = "asset",
    value_col: str = "r",
    temporal: str | None = None,
    rf: float = 0.0,
    periods: int = 252,
) -> DataFrame:
    """Per-key scalar metrics over a long ``(key, date, value)`` frame.

    Output: one row per key with the scalar metric surface (comp, cagr,
    sharpe, sortino, volatility, win/loss stats, tail ratios, VaR/CVaR,
    drawdown metrics, episode stats). Semantics per key are identical to
    running the wide-frame ``stats.*`` functions on that key's series.
    """
    temporal = temporal or get_temporal_column_name(df)
    if temporal is None:
        raise NoTemporalColumnError
    c = F.col(value_col)
    keys = [key_col]
    base = df.select(key_col, temporal, value_col)
    base = keyed.with_order_keyed(base, temporal)
    # peak positions ride along in the same prefix pass: the episode stats
    # below then need no island pass of their own
    base = keyed.add_drawdown_columns_keyed(
        base, keys, {"__dd": value_col}, with_peak_pos=True
    )
    # Persisted so the three consumers below (main aggs, CVaR join, episode
    # stats) compute the keyed drawdown enrichment once. The result is
    # returned lazily, so the cache must OUTLIVE this function — it fills on
    # the caller's first action and is evicted LRU (MEMORY_AND_DISK) or via
    # spark.catalog.clearCache(). An unpersist here would drop it before any
    # action ever ran. The cached projection is narrow: (key, date, value,
    # __dd) only.
    base.persist()

    spec = X.Spec(v=c, dd="__dd", rf=rf, periods=periods)
    main = X.project(base, {name: (name, spec) for name in _KEY_METRICS}, keys)

    # CVaR: per-key parametric VaR threshold joined back (no per-key literal
    # injection possible), then the conditional mean below it per key.
    thresholds = X.project(base, {"__var_t": ("value_at_risk", spec)}, keys)
    # An undefined threshold (one row) is NaN, as in stats.cvar.
    t = F.first("__var_t")
    cvar = (
        base.join(thresholds, key_col)
        .groupBy(key_col)
        .agg(
            F.when(t.isNull() | F.isnan(t), X.NAN()).otherwise(
                F.coalesce(F.mean(X.when_pl(c < F.col("__var_t"), c, None)), t)
            ).alias("cvar")
        )
    )

    episodes = keyed.episode_stats_keyed(
        base, keys, "__dd", length_mode="days", temporal_name=temporal,
        pos_col="__dd__pos",
    )
    # a key that never draws down has no episode row; its stats are 0, as
    # the wide API's
    return main.join(cvar, key_col, "left").join(episodes, key_col, "left").select(
        key_col,
        *_KEY_METRICS,
        "cvar",
        F.coalesce("longest_days", F.lit(0)).alias("longest_drawdown_days"),
        F.coalesce("avg_days", F.lit(0.0)).alias("avg_drawdown_days"),
        F.coalesce("avg_dd", F.lit(0.0)).alias("avg_drawdown"),
    )


def smart_ratios_by_key(
    df: DataFrame,
    key_col: str = "asset",
    value_col: str = "r",
    temporal: str | None = None,
    rf: float | None = None,
    periods: int = 252,
) -> DataFrame:
    """Per-key sharpe/sortino plus their autocorrelation-penalized "smart"
    variants — the penalty formula is projected IN-PLAN, so a million keys
    never round-trip the driver (the wide-frame path evaluates the same
    formula per column on the driver — fine for dozens of columns, not for
    millions of keys).

    Pairing matches the reference: at each non-null row the "previous"
    value is the previous non-null value within the key (ffill-shift), via
    a per-key window — parallel across keys, no global funnel.
    """
    temporal = temporal or get_temporal_column_name(df)
    if temporal is None:
        raise NoTemporalColumnError
    c = F.col(value_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(temporal)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.when(c.isNotNull(), F.last(c, ignorenulls=True).over(w))
    enriched = df.select(key_col, temporal, value_col).withColumn("__prev", prev)
    spec = X.Spec(v=c, prev="__prev", rf=rf, periods=periods)
    names = (
        "n_obs", "autocorr", "autocorr_penalty", "sharpe", "sortino", "smart_sharpe",
        "smart_sortino", "smart_adjusted_sortino",
    )
    return X.project(enriched, {name: (name, spec) for name in names}, [key_col])


def with_benchmark(
    df: DataFrame,
    benchmark: DataFrame,
    key_col: str = "asset",
    temporal: str | None = None,
) -> DataFrame:
    """Attach the (single-series) benchmark to every key's rows by backward
    as-of match on the temporal column.

    Scalable shape: the as-of resolution runs on the DISTINCT DATES of the
    long frame (cardinality = calendar grain, independent of key count)
    against the benchmark series via the keyless distributed as-of join,
    and the resolved (date → benchmark) table — tiny by construction —
    broadcast-equi-joins back onto the long frame. No range join, no
    per-key scan of the benchmark.
    """
    temporal = temporal or get_temporal_column_name(df)
    if temporal is None:
        raise NoTemporalColumnError
    bench = prepare_benchmark(benchmark)
    b_temporal = get_temporal_column_name(bench)
    if b_temporal is None:
        raise NoTemporalColumnError
    dates = df.select(F.col(temporal)).distinct()
    resolved = joins.asof_join(dates, bench, temporal, b_temporal)
    return df.join(F.broadcast(resolved), on=temporal, how="left")


def benchmark_metrics_by_key(
    df: DataFrame,
    benchmark: DataFrame,
    key_col: str = "asset",
    value_col: str = "r",
    temporal: str | None = None,
    rf: float = 0.0,
    periods: int = 252,
) -> DataFrame:
    """Per-key benchmark-relative metrics (CAPM alpha/beta, information
    ratio, correlation, R², Treynor) in ONE grouped aggregation over the
    benchmark-attached long frame."""
    joined = with_benchmark(df, benchmark, key_col, temporal)
    spec = X.Spec(
        v=value_col, b=BENCHMARK_RETURNS_COLNAME, rf=rf, periods=periods, annualize=False
    )
    names = ("alpha", "beta", "information_ratio", "correlation", "r_squared", "treynor_ratio")
    return X.project(joined, {name: (name, spec) for name in names}, [key_col])


def correlation_matrix(
    df: DataFrame,
    key_col: str = "asset",
    temporal: str | None = None,
    value_col: str = "r",
) -> DataFrame:
    """Pairwise Pearson correlation across every asset in the long frame —
    the cross-sectional extension of the reference's single-benchmark
    ``correlation`` (/root/reference/alphastats/stats.py: benchmark-relative
    metrics take exactly one benchmark; a portfolio engine needs the full
    matrix).

    Upper triangle only (``key_a < key_b``; the diagonal is 1 by
    definition). Plan: self-equi-join on the date key — co-partitioned by
    date, so each date's K rows meet locally — then one map-side-combinable
    groupBy on the unordered pair. Correlation pairs only align where BOTH
    assets observe the date (inner join = pairwise-complete observations,
    the standard estimator). At K assets the join emits ~K²/2 rows per
    date; for K in the tens of thousands move to a block-matrix scheme
    (bucket keys into B blocks, join block pairs) — for portfolio-scale K
    (hundreds) this single join IS the right plan.

    Output: ``(asset_a, asset_b, corr double, n_obs bigint)``; ``corr`` is
    null when fewer than 2 paired observations exist.
    """
    if temporal is None:
        temporal = get_temporal_column_name(df)
        if temporal is None:
            raise NoTemporalColumnError()
    left = df.select(
        F.col(key_col).alias("__ka"), F.col(temporal).alias("__d"),
        F.col(value_col).alias("__ra"),
    ).where(F.col("__ra").isNotNull())
    right = df.select(
        F.col(key_col).alias("__kb"), F.col(temporal).alias("__d"),
        F.col(value_col).alias("__rb"),
    ).where(F.col("__rb").isNotNull())
    pairs = left.join(right, on="__d").where(F.col("__ka") < F.col("__kb"))
    return pairs.groupBy(
        F.col("__ka").alias("asset_a"), F.col("__kb").alias("asset_b")
    ).agg(
        F.corr("__ra", "__rb").alias("corr"),
        F.count(F.lit(1)).alias("n_obs"),
    )
