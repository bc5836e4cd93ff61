"""Portfolio statistics over PySpark DataFrames.

Spark-native re-expression of the reference metric library
(``alphastats/stats.py``, 1817 LoC). Semantics are the reference's — the
same ~80 QuantStats-compatible metrics, column-wise over every numeric
column, NaN→null on ingest, Polars null-skipping aggregation — but the
execution strategy is Catalyst's:

* every scalar metric is a formula of
  :mod:`alphastats_spark.expressions`: one ``df.agg`` of its primitive
  leaves, then one select of the formula over them (one job, whole-stage
  codegen, map-side partial aggregation); the few that need a value the
  Spark pass cannot give (PSR's normal CDF, the autocorrelation penalty's
  second pass) evaluate the same formula over the collected leaves;
* order-dependent metrics (drawdowns, streaks, episodes) ride the
  distributed prefix machinery in :mod:`alphastats_spark.operators.ordered`
  instead of the reference's driver loops;
* benchmark metrics join via a distributed as-of join
  (:mod:`alphastats_spark.operators.joins`).

Input containers: a ``pyspark.sql.DataFrame`` (→ 1-row DataFrame out, lazy),
or series-likes (``pandas.Series``, numpy 1-D, plain sequences → Python
scalar out), mirroring the reference's Series/DataFrame overloads.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alphastats_spark import expressions as X
from alphastats_spark._utils import (
    BENCHMARK_RETURNS_COLNAME,
    get_temporal_column_name,
    numeric_column_names,
    prepare_benchmark,
    to_returns_df,
)
from alphastats_spark.exceptions import NoTemporalColumnError
from alphastats_spark.operators import islands, joins, ordered

__all__ = [
    "comp", "cagr", "max_drawdown", "sharpe", "sortino",
    "probabilistic_sharpe_ratio", "psr", "volatility", "to_drawdowns",
    "greeks", "calmar", "information_ratio", "cpc_index", "exposure",
    "omega", "expected_return", "geometric_mean", "best", "worst", "skew",
    "kurtosis", "avg_return", "avg_win", "avg_loss", "win_rate",
    "payoff_ratio", "profit_factor", "gain_to_pain_ratio",
    "gain_to_pain_ratio_1m", "gain_to_pain_ratio_monthly",
    "common_sense_ratio", "tail_ratio", "outlier_win_ratio",
    "outlier_loss_ratio", "kelly_criterion", "risk_of_ruin", "ror",
    "value_at_risk", "var", "conditional_value_at_risk", "cvar",
    "expected_shortfall", "conditional_drawdown_at_risk", "cdar", "consecutive_wins", "consecutive_losses",
    "autocorr_penalty", "smart_sharpe", "smart_sortino", "adjusted_sortino",
    "sortino_sqrt2", "smart_adjusted_sortino", "smart_sortino_sqrt2",
    "correlation", "r_squared", "r2", "treynor_ratio", "recovery_factor",
    "ulcer_index", "serenity_index", "longest_drawdown_days",
    "avg_drawdown_days", "avg_drawdown", "risk_free_rate", "mtd",
    "three_month", "six_month", "ytd", "one_year", "three_year",
    "five_year", "ten_year", "all_time", "expected_daily",
    "expected_monthly", "expected_yearly", "best_day", "worst_day",
    "best_month", "worst_month", "best_year", "worst_year", "avg_up_month",
    "avg_down_month", "win_days", "win_month", "win_quarter", "win_year",
]


# ---------------------------------------------------------------------------
# result helpers


def _project(df: DataFrame, name: str, scalar_mode: bool, cols: list[str] | None = None,
             **params):
    """Formula ``name`` per column: one flat aggregation of its leaves."""
    cols = cols or numeric_column_names(df)
    res = X.project(df, {c: (name, X.Spec(v=c, **params)) for c in cols})
    return _first_scalar(res, cols[0]) if scalar_mode else res


def _metric(returns, name: str, **params):
    df, scalar_mode = to_returns_df(returns)
    return _project(df, name, scalar_mode, **params)


def _leaf_values(df: DataFrame, names, specs: dict[str, X.Spec]) -> dict[str, dict]:
    """One aggregation job collecting, per column, the leaves the formulas
    ``names`` read under that column's spec."""
    aggs = {
        (c, leaf): agg for c, spec in specs.items() for leaf, agg in X.leaves(names, spec).items()
    }
    out: dict[str, dict] = {c: {} for c in specs}
    for (c, leaf), v in X.collect(df, aggs).items():
        out[c][leaf] = v
    return out


def _first_scalar(res: DataFrame, col: str):
    row = res.first()
    return None if row is None else row[col]


def _scalar_map(res: DataFrame, cols: list[str]) -> dict[str, Any]:
    row = res.first()
    return {c: (None if row is None else row[c]) for c in cols}


def _one_row_df(values: dict[str, Any], types: dict[str, str] | None = None) -> DataFrame:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    fields = ", ".join(
        f"`{name}` {(types or {}).get(name, 'double')}" for name in values
    )
    return spark.createDataFrame([tuple(values[name] for name in values)], fields)


def _nan_if_none(v: Any) -> float:
    return math.nan if v is None else float(v)


# ---------------------------------------------------------------------------
# stateless aggregate metrics (reference stats.py §2.2)


def comp(returns):
    """Total compounded return ∏(1+r)−1 (reference ``stats.py:29-50``)."""
    return _metric(returns, "comp")


def cagr(returns, rf: float | None = None, compound: bool = True, periods: int = 252):
    """Compound Annual Growth Rate (reference ``stats.py:53-89``).

    Requires a temporal column (same contract as the reference, which raises
    ``NoTemporalColumnError`` even though only the row count enters the math).
    """
    df, scalar_mode = to_returns_df(returns)
    if get_temporal_column_name(df) is None:
        raise NoTemporalColumnError
    return _project(df, "cagr", scalar_mode, rf=rf, compound=compound, periods=periods)


def sharpe(returns, rf: float | None = None, periods: int = 252, annualize: bool = True):
    """Sharpe ratio (reference ``stats.py:142-175``)."""
    return _metric(returns, "sharpe", rf=rf, periods=periods, annualize=annualize)


def sortino(returns, rf: float | None = None, periods: int = 252, annualize: bool = True):
    """Sortino ratio (reference ``stats.py:196-232``)."""
    return _metric(returns, "sortino", rf=rf, periods=periods, annualize=annualize)


def volatility(returns, periods: int = 252, annualize: bool = True):
    """Annualized sample standard deviation (reference ``stats.py:349-377``)."""
    return _metric(returns, "volatility", periods=periods, annualize=annualize)


def cpc_index(returns):
    """Profit factor × payoff ratio × win rate (reference ``stats.py:590-632``)."""
    return _metric(returns, "cpc_index")


def exposure(returns):
    """Time in market (reference ``stats.py:643-668``)."""
    return _metric(returns, "exposure")


def omega(returns, threshold: float = 0.0):
    """Omega ratio (reference ``stats.py:679-711``)."""
    return _metric(returns, "omega", threshold=threshold)


def skew(returns):
    """Bias-corrected skewness (reference ``stats.py:859-869``)."""
    return _metric(returns, "skew")


def kurtosis(returns):
    """Bias-corrected excess kurtosis (reference ``stats.py:880-891``)."""
    return _metric(returns, "kurtosis")


def payoff_ratio(returns):
    """avg win / |avg loss| (reference ``stats.py:994-1000``)."""
    return _metric(returns, "payoff_ratio")


def profit_factor(returns):
    """Σ wins / |Σ losses| (reference ``stats.py:1011-1017``)."""
    return _metric(returns, "profit_factor")


def gain_to_pain_ratio(returns, rf: float = 0.0):
    """Σ(r−rf) / |Σ negative| (reference ``stats.py:1028-1035``)."""
    return _metric(returns, "gain_to_pain_ratio", rf=rf)


def gain_to_pain_ratio_1m(returns, rf: float = 0.0):
    """Gain/pain on summed monthly returns (reference ``stats.py:1038-1048``)."""
    df, scalar_mode = to_returns_df(returns)
    monthly, _ = _simple_returns(df, "month", compounded=False)
    return _project(monthly, "gain_to_pain_ratio", scalar_mode, rf=rf)


gain_to_pain_ratio_monthly = gain_to_pain_ratio_1m


def common_sense_ratio(returns, exact: bool = True):
    """Profit factor × tail ratio (reference ``stats.py:1059-1071``).

    ``exact=False`` switches the embedded percentiles to approx_percentile
    (bounded-memory sketch) for extreme scale; default is the reference's
    exact linear interpolation.
    """
    return _metric(returns, "common_sense_ratio", exact=exact)


def tail_ratio(returns, cutoff: float = 0.95, exact: bool = True):
    """|q_cutoff| / |q_{1−cutoff}| (reference ``stats.py:1082-1092``).

    ``exact=False`` uses approx_percentile (mergeable KLL sketch) instead of
    the exact sort-based percentile — required at 100 TB scale.
    """
    return _metric(returns, "tail_ratio", cutoff=cutoff, exact=exact)


def outlier_win_ratio(returns, quantile: float = 0.99, exact: bool = True):
    """q99 / mean(r≥0) (reference ``stats.py:1105-1114``)."""
    return _metric(returns, "outlier_win_ratio", q_win=quantile, exact=exact)


def outlier_loss_ratio(returns, quantile: float = 0.01, exact: bool = True):
    """q01 / mean(r<0) (reference ``stats.py:1127-1136``)."""
    return _metric(returns, "outlier_loss_ratio", q_loss=quantile, exact=exact)


def kelly_criterion(returns):
    """Kelly allocation fraction (reference ``stats.py:1147-1158``)."""
    return _metric(returns, "kelly_criterion")


def risk_of_ruin(returns):
    """((1−p)/(1+p))^n (reference ``stats.py:1169-1178``)."""
    return _metric(returns, "risk_of_ruin")


ror = risk_of_ruin


def value_at_risk(returns, sigma: float = 1.0, confidence: float = 0.95):
    """Variance-covariance VaR (reference ``stats.py:1194-1205``)."""
    return _metric(returns, "value_at_risk", var_z=X.z_score(sigma, confidence))


var = value_at_risk


def conditional_value_at_risk(returns, sigma: float = 1.0, confidence: float = 0.95):
    """CVaR / expected shortfall (reference ``stats.py:1223-1246``).

    Two-stage aggregation: stage 1 computes the parametric VaR per column
    (tiny agg), stage 2 takes the conditional mean below it with the VaR
    injected as a literal — the distributed equivalent of the reference's
    aggregate-inside-filter Polars expression.
    """
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    vars_ = _scalar_map(
        _project(df, "value_at_risk", False, cols, var_z=X.z_score(sigma, confidence)), cols
    )
    aggs = []
    for c in cols:
        v = vars_[c]
        if v is None or (isinstance(v, float) and math.isnan(v)):
            aggs.append(F.lit(float("nan")).alias(c))
        else:
            cond_mean = F.mean(X.when_pl(F.col(c) < F.lit(v), F.col(c), None))
            aggs.append(F.coalesce(cond_mean, F.lit(v)).alias(c))
    res = df.agg(*aggs)
    return _first_scalar(res, cols[0]) if scalar_mode else res


cvar = conditional_value_at_risk
expected_shortfall = conditional_value_at_risk


def recovery_factor(returns, rf: float = 0.0):
    """|Σr − rf| / |max drawdown| (reference ``stats.py:1514-1522``)."""
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    df = ordered.with_order(df, _temporal_or_none(df))
    df = ordered.add_drawdown_columns(df, {f"__dd_{c}": c for c in cols})
    return _drawdown_metric(df, cols, "recovery_factor", scalar_mode, rf=rf)


def ulcer_index(returns):
    """sqrt(Σ dd² / (n−1)) (reference ``stats.py:1533-1538``)."""
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    df = ordered.with_order(df, _temporal_or_none(df))
    df = ordered.add_drawdown_columns(df, {f"__dd_{c}": c for c in cols})
    return _drawdown_metric(df, cols, "ulcer_index", scalar_mode)


def _drawdown_metric(df, cols, name, scalar_mode, **params):
    res = X.project(df, {c: (name, X.Spec(v=c, dd=f"__dd_{c}", **params)) for c in cols})
    return _first_scalar(res, cols[0]) if scalar_mode else res


def serenity_index(returns, rf: float = 0.0):
    """(Σr − rf) / (ulcer × pitfall) (reference ``stats.py:1549-1567``).

    pitfall = −CVaR(drawdowns)/σ(r); the drawdown CVaR uses the same
    two-stage literal-injection pattern as :func:`conditional_value_at_risk`.
    """
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    df = ordered.with_order(df, _temporal_or_none(df))
    df = ordered.add_drawdown_columns(df, {f"__dd_{c}": c for c in cols})
    specs = {c: X.Spec(v=c, dd=f"__dd_{c}", rf=rf) for c in cols}
    stage1 = _leaf_values(df, ["drawdown_var", "serenity_index"], specs)

    aggs = []
    for c in cols:
        ddv = X.evaluate("drawdown_var", stage1[c], specs[c])
        if ddv is None or math.isnan(ddv):
            aggs.append(F.lit(float("nan")).alias(c))
            continue
        dd = F.col(f"__dd_{c}")
        cond_mean = F.coalesce(F.mean(X.when_pl(dd < F.lit(ddv), dd, None)), F.lit(ddv))
        aggs.append(cond_mean.alias(c))
    dd_cvars = _scalar_map(df.agg(*aggs), cols)

    out = {
        c: _nan_if_none(
            X.evaluate("serenity_index", {**stage1[c], "ddcvar": dd_cvars[c]}, specs[c])
        )
        for c in cols
    }
    if scalar_mode:
        return out[cols[0]]
    return _one_row_df(out)


def conditional_drawdown_at_risk(returns, confidence: float = 0.95):
    """CDaR: expected drawdown in the worst ``1 − confidence`` tail of the
    drawdown distribution (Chekhlov, Uryasev & Zabarankin 2005).

    Extension beyond the reference surface (no counterpart in the
    reference's ``stats.py``): where :func:`serenity_index` thresholds the
    drawdown series with a PARAMETRIC Cornish-ish VaR, CDaR uses the exact
    empirical quantile — stage 1 computes ``percentile(dd, 1 − confidence)``
    per column (tiny agg), stage 2 takes the conditional mean at or below it
    with the threshold injected as a literal, the same two-stage shape as
    :func:`conditional_value_at_risk`. Both stages ride the persisted
    drawdown prefix pass, so the series is computed once.
    """
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    df = ordered.with_order(df, _temporal_or_none(df))
    df = ordered.add_drawdown_columns(df, {f"__dd_{c}": c for c in cols})
    qs = _scalar_map(
        df.agg(
            *[
                F.percentile(F.col(f"__dd_{c}"), F.lit(1.0 - confidence)).alias(c)
                for c in cols
            ]
        ),
        cols,
    )
    aggs = []
    for c in cols:
        q = qs[c]
        if q is None or (isinstance(q, float) and math.isnan(q)):
            aggs.append(F.lit(float("nan")).alias(c))
        else:
            dd = F.col(f"__dd_{c}")
            cond_mean = F.mean(X.when_pl(dd <= F.lit(q), dd, None))
            aggs.append(F.coalesce(cond_mean, F.lit(q)).alias(c))
    res = df.agg(*aggs)
    return _first_scalar(res, cols[0]) if scalar_mode else res


cdar = conditional_drawdown_at_risk


# ---------------------------------------------------------------------------
# order-dependent metrics


def _temporal_or_none(df: DataFrame) -> str | None:
    return get_temporal_column_name(df)


def max_drawdown(returns):
    """Minimum of the drawdown series (reference ``stats.py:100-121``)."""
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    df = ordered.with_order(df, _temporal_or_none(df))
    df = ordered.add_drawdown_columns(df, {f"__dd_{c}": c for c in cols})
    return _drawdown_metric(df, cols, "max_drawdown", scalar_mode)


def to_drawdowns(returns):
    """Per-row drawdown series (reference ``stats.py:388-416``).

    Output preserves the input schema (numeric columns replaced by their
    drawdowns) and is sorted by the temporal column when one exists. For
    series-like input, returns the ordered list of drawdown values.
    """
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    temporal = _temporal_or_none(df)
    original_cols = list(df.columns)
    df = ordered.with_order(df, temporal)
    df = ordered.add_drawdown_columns(df, {f"__dd_{c}": c for c in cols})
    df = df.orderBy(ordered.ORDER_COL)
    out = df.select(
        *[
            F.col(f"__dd_{c}").alias(c) if c in cols else F.col(c)
            for c in original_cols
        ]
    )
    if scalar_mode:
        return [r[cols[0]] for r in out.select(cols[0]).collect()]
    return out


def calmar(returns, periods: int = 252):
    """CAGR / |max drawdown| (reference ``stats.py:474-506``)."""
    df, scalar_mode = to_returns_df(returns)
    if get_temporal_column_name(df) is None:
        raise NoTemporalColumnError
    cols = numeric_column_names(df)
    df = ordered.with_order(df, _temporal_or_none(df))
    df = ordered.add_drawdown_columns(df, {f"__dd_{c}": c for c in cols})
    return _drawdown_metric(df, cols, "calmar", scalar_mode, periods=periods)


def consecutive_wins(returns, aggregate: str | None = None, compounded: bool = True):
    """Longest positive-return streak (reference ``stats.py:1264-1275``),
    as a distributed gaps-and-islands plan (no driver loop)."""
    return _streaks(returns, aggregate, compounded, winning=True)


def consecutive_losses(returns, aggregate: str | None = None, compounded: bool = True):
    """Longest negative-return streak (reference ``stats.py:1278-1289``)."""
    return _streaks(returns, aggregate, compounded, winning=False)


def _streaks(returns, aggregate: str | None, compounded: bool, winning: bool):
    df, scalar_mode = to_returns_df(returns)
    base, order_cols = _simple_returns(
        df, aggregate, compounded, keep_temporal=True, keep_order=True
    )
    cols = numeric_column_names(base)
    base = _with_order_for(base, order_cols)
    values = islands.longest_streaks(base, cols, winning=winning)
    if scalar_mode:
        return values[cols[0]]
    return _one_row_df(values, {c: "bigint" for c in cols})


def longest_drawdown_days(returns):
    """Longest drawdown episode length (reference ``stats.py:1600-1608``)."""
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    temporal = _temporal_or_none(df)
    df = ordered.with_order(df, temporal)
    stats_ = islands.drawdown_episode_stats(df, cols, temporal)
    values = {c: stats_[c]["longest_days"] for c in cols}
    if scalar_mode:
        return values[cols[0]]
    return _one_row_df(values, {c: "bigint" for c in cols})


def avg_drawdown_days(returns):
    """Mean drawdown episode length (reference ``stats.py:1611-1620``)."""
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    temporal = _temporal_or_none(df)
    df = ordered.with_order(df, temporal)
    stats_ = islands.drawdown_episode_stats(df, cols, temporal)
    values = {c: stats_[c]["avg_days"] for c in cols}
    if scalar_mode:
        return values[cols[0]]
    return _one_row_df(values)


def avg_drawdown(returns):
    """Mean of per-episode minimum drawdown (reference ``stats.py:1623-1642``)."""
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    temporal = _temporal_or_none(df)
    df = ordered.with_order(df, temporal)
    stats_ = islands.drawdown_episode_stats(df, cols, temporal)
    values = {c: stats_[c]["avg_dd"] for c in cols}
    if scalar_mode:
        return values[cols[0]]
    return _one_row_df(values)


# ---------------------------------------------------------------------------
# autocorrelation penalty & smart ratios


def _autocorr_leaves(df: DataFrame, cols: list[str]) -> dict[str, dict]:
    """Lag-1 autocorrelation and non-null count per column, in ONE pass.

    Matches the reference's pairing-after-dropping-nulls
    (``stats.py:1292-1312``): the 'previous' value at a non-null row is the
    previous *non-null* value (forward-fill shifted by one), so pairs skip
    over gaps exactly like pairing ``vals[:-1]`` with ``vals[1:]``.
    """
    df = ordered.add_ffill_columns(df, {f"__ff_{c}": F.col(c) for c in cols})
    df = ordered.add_lag_columns(df, {f"__prev_{c}": f"__ff_{c}" for c in cols})
    specs = {
        c: X.Spec(v=c, prev=F.when(F.col(c).isNotNull(), F.col(f"__prev_{c}")))
        for c in cols
    }
    return _leaf_values(df, ["autocorr_penalty"], specs)


def autocorr_penalty(returns):
    """QuantStats autocorrelation penalty (reference ``stats.py:1292-1331``).

    The Σ over lags is evaluated with closed-form geometric sums on the
    driver (O(1)) instead of the reference's O(n) Python loop.
    """
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    df = ordered.with_order(df, _temporal_or_none(df))
    coefs = _autocorr_leaves(df, cols)
    values = {c: _nan_if_none(X.evaluate("autocorr_penalty", coefs[c])) for c in cols}
    if scalar_mode:
        return values[cols[0]]
    return _one_row_df(values)


def smart_sharpe(returns, rf: float | None = None, periods: int = 252, annualize: bool = True):
    """Sharpe / autocorr penalty (reference ``stats.py:1334-1346``)."""
    return _smart(returns, "smart_sharpe", "sharpe", rf, periods, annualize)


def smart_sortino(returns, rf: float | None = None, periods: int = 252, annualize: bool = True):
    """Sortino / autocorr penalty (reference ``stats.py:1349-1361``)."""
    return _smart(returns, "smart_sortino", "sortino", rf, periods, annualize)


def _smart(returns, name, base, rf, periods, annualize):
    """Formula ``name`` over the ``base`` ratio's leaves (one pass over the
    frame) and the autocorrelation leaves (one pass over the lagged frame)."""
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    odf = ordered.with_order(df, _temporal_or_none(df))
    coefs = _autocorr_leaves(odf, cols)
    specs = {c: X.Spec(v=c, rf=rf, periods=periods, annualize=annualize) for c in cols}
    leaves = _leaf_values(df, [base], specs)
    values = {
        c: _nan_if_none(X.evaluate(name, {**leaves[c], **coefs[c]}, specs[c])) for c in cols
    }
    if scalar_mode:
        return values[cols[0]]
    return _one_row_df(values)


def adjusted_sortino(returns, rf=None, periods: int = 252, annualize: bool = True, smart: bool = False):
    """Sortino / √2 (reference ``stats.py:1364-1379``)."""
    if smart:
        return _smart(returns, "smart_adjusted_sortino", "sortino", rf, periods, annualize)
    return _metric(returns, "adjusted_sortino", rf=rf, periods=periods, annualize=annualize)


sortino_sqrt2 = adjusted_sortino


def smart_adjusted_sortino(returns, rf=None, periods: int = 252, annualize: bool = True):
    """Smart adjusted sortino (reference ``stats.py:1385-1392``)."""
    return adjusted_sortino(returns, rf=rf, periods=periods, annualize=annualize, smart=True)


smart_sortino_sqrt2 = smart_adjusted_sortino


def probabilistic_sharpe_ratio(returns, rf: float = 0.0, periods: int = 252,
                               annualize: bool = False, smart: bool = False):
    """Probabilistic Sharpe Ratio (reference ``stats.py:255-323``).

    One Spark pass aggregates the leaves of SR, skew, kurtosis and n for
    every column; the Φ(·) step is driver-side scalar math like the
    reference's ``statistics.NormalDist``. NaN where the Sharpe ratio's
    standard error is undefined (one row, a non-positive radicand).
    """
    del periods  # the per-period Sharpe ratio does not annualize
    df, scalar_mode = to_returns_df(returns)
    cols = numeric_column_names(df)
    leaves = _leaf_values(df, ["probabilistic_sharpe_ratio"], {c: X.Spec(v=c) for c in cols})
    if smart:
        odf = ordered.with_order(df, _temporal_or_none(df))
        for c, coef in _autocorr_leaves(odf, cols).items():
            leaves[c].update(coef)
    spec = X.Spec(rf=rf, annualize=annualize, smart=smart)
    values = {
        c: _nan_if_none(X.evaluate("probabilistic_sharpe_ratio", leaves[c], spec))
        for c in cols
    }
    if scalar_mode:
        return values[cols[0]]
    return _one_row_df(values)


def psr(returns, rf: float = 0.0, periods: int = 252, annualize: bool = False, smart: bool = False):
    """Alias for probabilistic_sharpe_ratio (reference ``stats.py:326-336``)."""
    return probabilistic_sharpe_ratio(returns, rf=rf, periods=periods, annualize=annualize, smart=smart)


# ---------------------------------------------------------------------------
# benchmark-relative metrics


def _joined_with_benchmark(returns, benchmark) -> tuple[DataFrame, bool, list[str]]:
    df, scalar_mode = to_returns_df(returns)
    bench_df, _ = to_returns_df(benchmark)
    bench_df = prepare_benchmark(bench_df)

    returns_temporal = get_temporal_column_name(df)
    bench_temporal = get_temporal_column_name(bench_df)

    if returns_temporal is not None and bench_temporal is not None:
        joined = joins.asof_join(df, bench_df, returns_temporal, bench_temporal)
    else:
        if bench_temporal is not None:
            bench_df = bench_df.select(BENCHMARK_RETURNS_COLNAME)
        joined = joins.positional_join(df, bench_df)
    strategy_cols = [
        c for c in numeric_column_names(joined) if c != BENCHMARK_RETURNS_COLNAME
    ]
    return joined, scalar_mode, strategy_cols


def greeks(returns, benchmark, periods: int = 252):
    """CAPM alpha & beta per asset as struct columns (reference ``stats.py:419-471``)."""
    joined, _, cols = _joined_with_benchmark(returns, benchmark)
    specs = [X.Spec(v=c, b=BENCHMARK_RETURNS_COLNAME, periods=periods) for c in cols]
    flat = X.project(joined, {
        f"__{name}{i}": (name, spec)
        for i, spec in enumerate(specs)
        for name in ("alpha", "beta")
    })
    return flat.select(*[
        F.struct(F.col(f"__alpha{i}").alias("alpha"), F.col(f"__beta{i}").alias("beta")).alias(c)
        for i, c in enumerate(cols)
    ])


def _bench_metric(returns, benchmark, name, **params):
    joined, scalar_mode, cols = _joined_with_benchmark(returns, benchmark)
    return _project(joined, name, scalar_mode, cols, b=BENCHMARK_RETURNS_COLNAME, **params)


def information_ratio(returns, benchmark, periods: int = 252, annualize: bool = False):
    """mean(active) / std(active) (reference ``stats.py:527-579``)."""
    return _bench_metric(
        returns, benchmark, "information_ratio", periods=periods, annualize=annualize
    )


def correlation(returns, benchmark):
    """Pearson correlation vs benchmark (reference ``stats.py:1429-1443``)."""
    return _bench_metric(returns, benchmark, "correlation")


def r_squared(returns, benchmark):
    """Squared correlation (reference ``stats.py:1456-1464``)."""
    return _bench_metric(returns, benchmark, "r_squared")


r2 = r_squared


def treynor_ratio(returns, benchmark, rf: float = 0.0):
    """(comp − rf) / beta (reference ``stats.py:1486-1503``)."""
    return _bench_metric(returns, benchmark, "treynor_ratio", rf=rf)


# ---------------------------------------------------------------------------
# calendar aggregation & trailing windows (reference stats.py §2.5)

_GROUP_ORDER_COL = "__g_ord"


def _simple_returns(
    df: DataFrame,
    aggregate: str | None,
    compounded: bool,
    keep_temporal: bool = False,
    keep_order: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Calendar re-bucketing (reference ``_simple_returns``, ``stats.py:736-774``).

    Rows are re-aggregated per (year, week|month|quarter) with compounded or
    summed returns. The output contains ONLY the numeric return columns
    (matching the reference's trailing ``.select(return_col_names)``) unless
    ``keep_order=True``, which additionally emits ``__g_ord`` — the group's
    first timestamp, i.e. first-appearance order for a date-sorted input
    (replacing Polars ``maintain_order=True``; min-of-temporal rather than
    the (year, sub) tuple so ISO weeks 52/53 spanning a year boundary keep
    their first-appearance position). Order-dependent consumers (streaks)
    use it to re-establish row order.
    """
    cols = numeric_column_names(df)
    if aggregate is None or "day" in aggregate.lower():
        temporal = get_temporal_column_name(df) if keep_temporal else None
        keep = ([temporal] if temporal else []) + cols
        return df.select(*keep), ([temporal] if temporal else [])

    temporal = get_temporal_column_name(df)
    if temporal is None:
        raise NoTemporalColumnError
    ts = F.col(temporal)
    key = aggregate.lower()

    if "week" in key or key in {"w", "eow"}:
        groups = [F.year(ts).alias("__g_year"), F.weekofyear(ts).alias("__g_sub")]
    elif "month" in key or key in {"m", "me", "eom"}:
        groups = [F.year(ts).alias("__g_year"), F.month(ts).alias("__g_sub")]
    elif "quarter" in key or key in {"q", "qe", "eoq"}:
        groups = [F.year(ts).alias("__g_year"), F.quarter(ts).alias("__g_sub")]
    elif key in {"y", "ye", "eoy", "year", "yearly", "annual"}:
        groups = [F.year(ts).alias("__g_year"), F.lit(0).alias("__g_sub")]
    else:
        return df.select(*cols), []

    per_col = [
        (X.column("comp", c) if compounded else F.sum(F.col(c))).alias(c) for c in cols
    ]
    out = df.groupBy(*groups).agg(
        F.min(ts).alias(_GROUP_ORDER_COL), *per_col
    )
    if keep_order:
        return out.select(_GROUP_ORDER_COL, *cols), [_GROUP_ORDER_COL]
    return out.select(*cols), []


def _with_order_for(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Attach ORDER/BUCKET columns for a (possibly calendar-aggregated) frame."""
    temporal = order_cols[0] if order_cols else None
    return ordered.with_order(df, temporal)


def _aggregate_metric(returns, aggregate, compounded, name):
    df, scalar_mode = to_returns_df(returns)
    base, _ = _simple_returns(df, aggregate, compounded)
    return _project(base, name, scalar_mode)


def expected_return(returns, aggregate: str | None = None, compounded: bool = True):
    """Geometric mean return (reference ``stats.py:799-807``)."""
    return _aggregate_metric(returns, aggregate, compounded, "expected_return")


geometric_mean = expected_return


def best(returns, aggregate: str | None = None, compounded: bool = True):
    """Best period return (reference ``stats.py:823-829``)."""
    return _aggregate_metric(returns, aggregate, compounded, "best")


def worst(returns, aggregate: str | None = None, compounded: bool = True):
    """Worst period return (reference ``stats.py:842-848``)."""
    return _aggregate_metric(returns, aggregate, compounded, "worst")


def avg_return(returns, aggregate: str | None = None, compounded: bool = True):
    """Mean of non-zero returns (reference ``stats.py:906-914``)."""
    return _aggregate_metric(returns, aggregate, compounded, "avg_return")


def avg_win(returns, aggregate: str | None = None, compounded: bool = True):
    """Mean positive return (reference ``stats.py:927-935``)."""
    return _aggregate_metric(returns, aggregate, compounded, "avg_win")


def avg_loss(returns, aggregate: str | None = None, compounded: bool = True):
    """Mean negative return (reference ``stats.py:950-958``)."""
    return _aggregate_metric(returns, aggregate, compounded, "avg_loss")


def win_rate(returns, aggregate: str | None = None, compounded: bool = True):
    """Positive / non-zero ratio (reference ``stats.py:973-983``)."""
    return _aggregate_metric(returns, aggregate, compounded, "win_rate")


def _date_filtered(df: DataFrame, period: str, span: int | None = None) -> DataFrame:
    """Trailing-window WHERE (reference ``_date_filtered_returns``,
    ``stats.py:1650-1672``). The max date is collected once (parquet
    min/max statistics make this a metadata-cheap job) and re-injected as a
    literal so the filter is pushdown/partition-prunable."""
    temporal = get_temporal_column_name(df)
    if temporal is None:
        raise NoTemporalColumnError
    max_ts = df.agg(F.max(temporal)).first()[0]
    if max_ts is None:
        return df
    ts = F.col(temporal)
    if period == "mtd":
        return df.where((F.year(ts) == max_ts.year) & (F.month(ts) == max_ts.month))
    if period == "ytd":
        return df.where(F.year(ts) == max_ts.year)
    if period == "months":
        if span is None:
            raise ValueError("months period requires a month count")
        return df.where(ts >= F.add_months(F.lit(max_ts), -span))
    if period == "years":
        if span is None:
            raise ValueError("years period requires a year count")
        return df.where(ts >= F.add_months(F.lit(max_ts), -12 * span))
    return df


def _period_comp(returns, period: str, span: int | None = None):
    df, scalar_mode = to_returns_df(returns)
    filtered = _date_filtered(df, period, span)
    return _project(filtered, "comp", scalar_mode)


def _period_cagr(returns, period: str, span: int | None = None, periods: int = 252):
    df, scalar_mode = to_returns_df(returns)
    filtered = _date_filtered(df, period, span)
    return _project(filtered, "cagr", scalar_mode, periods=periods)


def mtd(returns):
    """Month-to-date compounded return (reference ``stats.py:1696-1698``)."""
    return _period_comp(returns, "mtd")


def three_month(returns):
    """Trailing 3-month compounded return (reference ``stats.py:1701-1703``)."""
    return _period_comp(returns, "months", 3)


def six_month(returns):
    """Trailing 6-month compounded return (reference ``stats.py:1706-1708``)."""
    return _period_comp(returns, "months", 6)


def ytd(returns):
    """Year-to-date compounded return (reference ``stats.py:1711-1713``)."""
    return _period_comp(returns, "ytd")


def one_year(returns):
    """Trailing 1-year compounded return (reference ``stats.py:1716-1718``)."""
    return _period_comp(returns, "years", 1)


def three_year(returns, periods: int = 252):
    """Trailing 3-year annualized return (reference ``stats.py:1721-1723``)."""
    return _period_cagr(returns, "years", 3, periods)


def five_year(returns, periods: int = 252):
    """Trailing 5-year annualized return (reference ``stats.py:1726-1728``)."""
    return _period_cagr(returns, "years", 5, periods)


def ten_year(returns, periods: int = 252):
    """Trailing 10-year annualized return (reference ``stats.py:1731-1733``)."""
    return _period_cagr(returns, "years", 10, periods)


def all_time(returns, periods: int = 252):
    """All-time annualized return (reference ``stats.py:1736-1738``)."""
    return _period_cagr(returns, "all", periods=periods)


def risk_free_rate(rf: float, periods: int = 252) -> float:
    """Annual → per-period rf (reference ``stats.py:1645-1647``)."""
    return (1 + rf) ** (1 / periods) - 1


def expected_daily(returns):
    """Expected daily return (reference ``stats.py:1741-1743``)."""
    return expected_return(returns, aggregate="day")


def expected_monthly(returns):
    """Expected monthly return (reference ``stats.py:1746-1750``)."""
    return expected_return(returns, aggregate="month")


def expected_yearly(returns):
    """Expected yearly return (reference ``stats.py:1753-1757``)."""
    return expected_return(returns, aggregate="year")


def best_day(returns):
    """Best daily return (reference ``stats.py:1760-1762``)."""
    return best(returns, aggregate="day")


def worst_day(returns):
    """Worst daily return (reference ``stats.py:1765-1767``)."""
    return worst(returns, aggregate="day")


def best_month(returns):
    """Best monthly return (reference ``stats.py:1770-1772``)."""
    return best(returns, aggregate="month")


def worst_month(returns):
    """Worst monthly return (reference ``stats.py:1775-1777``)."""
    return worst(returns, aggregate="month")


def best_year(returns):
    """Best yearly return (reference ``stats.py:1780-1782``)."""
    return best(returns, aggregate="year")


def worst_year(returns):
    """Worst yearly return (reference ``stats.py:1785-1787``)."""
    return worst(returns, aggregate="year")


def avg_up_month(returns):
    """Average positive monthly return (reference ``stats.py:1790-1792``)."""
    return avg_win(returns, aggregate="month")


def avg_down_month(returns):
    """Average negative monthly return (reference ``stats.py:1795-1797``)."""
    return avg_loss(returns, aggregate="month")


def win_days(returns):
    """Daily win rate (reference ``stats.py:1800-1802``)."""
    return win_rate(returns, aggregate="day")


def win_month(returns):
    """Monthly win rate (reference ``stats.py:1805-1807``)."""
    return win_rate(returns, aggregate="month")


def win_quarter(returns):
    """Quarterly win rate (reference ``stats.py:1810-1812``)."""
    return win_rate(returns, aggregate="quarter")


def win_year(returns):
    """Yearly win rate (reference ``stats.py:1815-1817``)."""
    return win_rate(returns, aggregate="year")
