"""Financial family: alphastats' portfolio metrics against DuckDB oracles.

Scalar aggregates, order-dependent drawdown and streak metrics, calendar
and trailing windows, benchmark-relative ratios, rolling windows, the
keyed long-frame metrics and the source-layer round trips of the returns
series. Every query reads the shared returns (and benchmark) series, so
each one exercises the real ingest path (parquet scan → groupBy → ordered
lag → metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alphastats_spark import expressions as X
from alphastats_spark import stats
from alphastats_spark.long_frame import (
    benchmark_metrics_by_key,
    correlation_matrix,
    metrics_by_key,
    smart_ratios_by_key,
)
from alphastats_spark.operators.rolling import rolling_greeks, trailing_metrics
from alphastats_spark.registry.shared import (
    BENCH_CTE,
    DD_CTE,
    RETURNS_CTE,
    ROUND,
    _bench_query,
    _collect_in_scratch,
    _fdiv_sql,
    _metric_query,
    _phi_sql,
    _psr_x_sql,
    _round_df,
    _scalar_sql,
    _Z95,
    load_benchmark,
    load_long_frame,
    load_returns,
)
from alphastats_spark.sources import readers


def register(add) -> None:
    """Register the financial queries through ``add(name, query, oracle)``."""
    # ---- stateless aggregates ------------------------------------------
    add("comp", _metric_query(stats.comp),
        _scalar_sql("EXP(SUM(LN(1 + r))) - 1"))
    add("cagr", _metric_query(stats.cagr),
        _scalar_sql("POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1"))
    add("cagr_simple", _metric_query(lambda r: stats.cagr(r, compound=False)),
        _scalar_sql("POW(SUM(r) + 1, 252.0 / COUNT(r)) - 1"))
    add("sharpe", _metric_query(stats.sharpe),
        _scalar_sql("AVG(r) / STDDEV_SAMP(r) * SQRT(252)"))
    add("sharpe_rf", _metric_query(lambda r: stats.sharpe(r, rf=0.0001)),
        _scalar_sql("AVG(r - 0.0001) / STDDEV_SAMP(r - 0.0001) * SQRT(252)"))
    add("sortino", _metric_query(stats.sortino),
        _scalar_sql("AVG(r) / SQRT(AVG(POW(LEAST(r, 0), 2))) * SQRT(252)"))
    add("adjusted_sortino", _metric_query(stats.adjusted_sortino),
        _scalar_sql("AVG(r) / SQRT(AVG(POW(LEAST(r, 0), 2))) * SQRT(252) / SQRT(2)"))
    add("volatility", _metric_query(stats.volatility),
        _scalar_sql("STDDEV_SAMP(r) * SQRT(252)"))
    add("exposure", _metric_query(stats.exposure),
        _scalar_sql("SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(r)"))
    add("omega", _metric_query(stats.omega),
        _scalar_sql("SUM(GREATEST(r, 0)) / SUM(GREATEST(-r, 0))"))
    add("cpc_index", _metric_query(stats.cpc_index), _scalar_sql(
        "(SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)))"
        " * ((SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END))"
        "    / (ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) / SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END)))"
        " * (SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0 / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END))"
    ))
    add("expected_return", _metric_query(stats.expected_return),
        _scalar_sql("POW(EXP(SUM(LN(1 + r))), 1.0 / COUNT(r)) - 1"))
    add("best", _metric_query(stats.best), _scalar_sql("MAX(r)"))
    add("worst", _metric_query(stats.worst), _scalar_sql("MIN(r)"))
    add("skew", _metric_query(stats.skew), _scalar_sql("SKEWNESS(r)"))
    add("kurtosis", _metric_query(stats.kurtosis), _scalar_sql("KURTOSIS(r)"))
    add("avg_return", _metric_query(stats.avg_return),
        _scalar_sql("AVG(CASE WHEN r <> 0 THEN r END)"))
    add("avg_win", _metric_query(stats.avg_win),
        _scalar_sql("AVG(CASE WHEN r > 0 THEN r END)"))
    add("avg_loss", _metric_query(stats.avg_loss),
        _scalar_sql("AVG(CASE WHEN r < 0 THEN r END)"))
    add("win_rate", _metric_query(stats.win_rate), _scalar_sql(
        "SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0 / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END)"
    ))
    add("payoff_ratio", _metric_query(stats.payoff_ratio), _scalar_sql(
        "AVG(CASE WHEN r > 0 THEN r END) / ABS(AVG(CASE WHEN r < 0 THEN r END))"
    ))
    add("profit_factor", _metric_query(stats.profit_factor), _scalar_sql(
        "SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END))"
    ))
    add("gain_to_pain_ratio", _metric_query(stats.gain_to_pain_ratio), _scalar_sql(
        "SUM(r) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END))"
    ))
    add("gain_to_pain_ratio_1m", _metric_query(stats.gain_to_pain_ratio_1m), RETURNS_CTE + f"""
, monthly AS (
    SELECT SUM(r) AS mr FROM rets GROUP BY YEAR(d), MONTH(d)
)
SELECT ROUND({_fdiv_sql("SUM(mr)", "ABS(SUM(CASE WHEN mr < 0 THEN mr ELSE 0 END))")}, 7) AS value FROM monthly
""")
    add("tail_ratio", _metric_query(stats.tail_ratio), _scalar_sql(
        "ABS(QUANTILE_CONT(r, 0.95)) / ABS(QUANTILE_CONT(r, 0.05))"
    ))
    add("common_sense_ratio", _metric_query(stats.common_sense_ratio), _scalar_sql(
        "(SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)))"
        " * (ABS(QUANTILE_CONT(r, 0.95)) / ABS(QUANTILE_CONT(r, 0.05)))"
    ))
    add("outlier_win_ratio", _metric_query(stats.outlier_win_ratio), _scalar_sql(
        "QUANTILE_CONT(r, 0.99) / AVG(CASE WHEN r >= 0 THEN r END)"
    ))
    add("outlier_loss_ratio", _metric_query(stats.outlier_loss_ratio), _scalar_sql(
        "QUANTILE_CONT(r, 0.01) / AVG(CASE WHEN r < 0 THEN r END)"
    ))
    add("kelly_criterion", _metric_query(stats.kelly_criterion), _scalar_sql(
        "((AVG(CASE WHEN r > 0 THEN r END) / ABS(AVG(CASE WHEN r < 0 THEN r END)))"
        " * (SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0 / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END))"
        " - (1 - SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0 / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END)))"
        " / (AVG(CASE WHEN r > 0 THEN r END) / ABS(AVG(CASE WHEN r < 0 THEN r END)))"
    ))
    add("risk_of_ruin", _metric_query(stats.risk_of_ruin), _scalar_sql(
        "POW((1 - SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0 / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END))"
        " / (1 + SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0 / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END)), COUNT(r))"
    ))
    add("value_at_risk", _metric_query(stats.value_at_risk),
        _scalar_sql(f"AVG(r) + ({_Z95!r}) * STDDEV_SAMP(r)"))
    add("cvar", _metric_query(stats.conditional_value_at_risk), RETURNS_CTE + f"""
, v AS (SELECT AVG(r) + ({_Z95!r}) * STDDEV_SAMP(r) AS var_v FROM rets)
SELECT ROUND(COALESCE(
    (SELECT AVG(r) FROM rets, v WHERE r < var_v),
    (SELECT var_v FROM v)), {ROUND}) AS value
""")

    # ---- order-dependent -------------------------------------------------
    add("max_drawdown", _metric_query(stats.max_drawdown),
        RETURNS_CTE + DD_CTE + f"\nSELECT ROUND(MIN(dd), {ROUND}) AS value FROM dds")
    # date emitted as ISO string on both sides — pandas converts DuckDB DATE
    # to Timestamp but Spark DATE to datetime.date, which would hash-mismatch
    add("to_drawdowns", lambda spark, sf_dir: _round_df(
        stats.to_drawdowns(load_returns(spark, sf_dir)).select(
            F.col("d").cast("string").alias("d"), F.col("r").alias("drawdown"))
        ),
        RETURNS_CTE + DD_CTE
        + f"\nSELECT CAST(d AS VARCHAR) AS d, ROUND(dd, {ROUND}) AS drawdown FROM dds")
    add("calmar", _metric_query(stats.calmar), RETURNS_CTE + DD_CTE + f"""
SELECT ROUND(
  (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets)
  / ABS((SELECT MIN(dd) FROM dds)), {ROUND}) AS value
""")
    add("ulcer_index", _metric_query(stats.ulcer_index), RETURNS_CTE + DD_CTE + f"""
SELECT ROUND(SQRT(SUM(dd * dd) / (COUNT(dd) - 1)), {ROUND}) AS value FROM dds
""")
    add("recovery_factor", _metric_query(stats.recovery_factor), RETURNS_CTE + DD_CTE + f"""
SELECT ROUND(ABS((SELECT SUM(r) FROM rets)) / ABS((SELECT MIN(dd) FROM dds)), {ROUND}) AS value
""")
    add("serenity_index", _metric_query(stats.serenity_index), RETURNS_CTE + DD_CTE + f"""
, p AS (
  SELECT AVG(dd) + ({_Z95!r}) * STDDEV_SAMP(dd) AS dd_var,
         SQRT(SUM(dd * dd) / (COUNT(dd) - 1)) AS ulcer
  FROM dds
),
cv AS (
  SELECT COALESCE((SELECT AVG(dd) FROM dds, p WHERE dd < p.dd_var),
                  (SELECT dd_var FROM p)) AS dd_cvar
)
SELECT ROUND(
  (SELECT SUM(r) FROM rets)
  / ((SELECT ulcer FROM p) * (-(SELECT dd_cvar FROM cv) / (SELECT STDDEV_SAMP(r) FROM rets))),
  {ROUND}) AS value
""")
    # CDaR (extension): empirical-quantile threshold over the drawdown
    # series — quantile_cont and Spark's exact `percentile` share linear
    # order-statistic interpolation, so the two sides agree to 7dp.
    add("cdar", _metric_query(stats.conditional_drawdown_at_risk),
        RETURNS_CTE + DD_CTE + f"""
, q AS (SELECT quantile_cont(dd, 0.05) AS qv FROM dds)
SELECT ROUND(COALESCE(
    (SELECT AVG(dd) FROM dds, q WHERE dd <= qv),
    (SELECT qv FROM q)), {ROUND}) AS value
""")
    add("consecutive_wins",
        lambda spark, sf_dir: stats.consecutive_wins(load_returns(spark, sf_dir))
        .select(F.col("r").cast("bigint").alias("value")),
        RETURNS_CTE + """
, f AS (SELECT d, CASE WHEN r > 0 THEN 0 ELSE 1 END AS brk FROM rets),
i AS (SELECT d, brk, SUM(brk) OVER (ORDER BY d) AS isl FROM f),
runs AS (SELECT isl, COUNT(*) AS cnt FROM i WHERE brk = 0 GROUP BY isl)
SELECT COALESCE(MAX(cnt), 0) AS value FROM runs
""")
    add("consecutive_losses",
        lambda spark, sf_dir: stats.consecutive_losses(load_returns(spark, sf_dir))
        .select(F.col("r").cast("bigint").alias("value")),
        RETURNS_CTE + """
, f AS (SELECT d, CASE WHEN r < 0 THEN 0 ELSE 1 END AS brk FROM rets),
i AS (SELECT d, brk, SUM(brk) OVER (ORDER BY d) AS isl FROM f),
runs AS (SELECT isl, COUNT(*) AS cnt FROM i WHERE brk = 0 GROUP BY isl)
SELECT COALESCE(MAX(cnt), 0) AS value FROM runs
""")
    episodes_cte = RETURNS_CTE + DD_CTE + """
, f AS (SELECT d, dd, CASE WHEN dd < 0 THEN 0 ELSE 1 END AS brk FROM dds),
i AS (SELECT d, dd, brk, SUM(brk) OVER (ORDER BY d) AS isl FROM f),
eps AS (
  SELECT isl, MIN(dd) AS min_dd, DATEDIFF('day', MIN(d), MAX(d)) + 1 AS len
  FROM i WHERE brk = 0 GROUP BY isl
)
"""
    add("longest_drawdown_days",
        lambda spark, sf_dir: stats.longest_drawdown_days(load_returns(spark, sf_dir))
        .select(F.col("r").cast("bigint").alias("value")),
        episodes_cte + "SELECT COALESCE(MAX(len), 0) AS value FROM eps")
    add("avg_drawdown_days",
        lambda spark, sf_dir: _round_df(
            stats.avg_drawdown_days(load_returns(spark, sf_dir)).select(F.col("r").alias("value"))
        ),
        episodes_cte + f"SELECT ROUND(COALESCE(AVG(len), 0), {ROUND}) AS value FROM eps")
    add("avg_drawdown",
        lambda spark, sf_dir: _round_df(
            stats.avg_drawdown(load_returns(spark, sf_dir)).select(F.col("r").alias("value"))
        ),
        episodes_cte + f"SELECT ROUND(COALESCE(AVG(min_dd), 0), {ROUND}) AS value FROM eps")

    # ---- calendar & trailing windows -------------------------------------
    add("monthly_returns",
        lambda spark, sf_dir: _round_df(
            stats._simple_returns(
                load_returns(spark, sf_dir), "month", True, keep_order=True
            )[0]
            # __g_ord = min(d) within the (year, month) group, so its
            # year/month ARE the group keys
            .select(F.year("__g_ord").cast("bigint").alias("y"),
                    F.month("__g_ord").cast("bigint").alias("m"),
                    F.col("r").alias("monthly_return"))
        ),
        RETURNS_CTE + f"""
SELECT YEAR(d) AS y, MONTH(d) AS m,
       ROUND(EXP(SUM(LN(1 + r))) - 1, {ROUND}) AS monthly_return
FROM rets GROUP BY YEAR(d), MONTH(d)
""")
    add("best_month", _metric_query(stats.best_month), RETURNS_CTE + f"""
, monthly AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS mr FROM rets GROUP BY YEAR(d), MONTH(d))
SELECT ROUND(MAX(mr), {ROUND}) AS value FROM monthly
""")
    add("worst_year", _metric_query(stats.worst_year), RETURNS_CTE + f"""
, yearly AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS yr FROM rets GROUP BY YEAR(d))
SELECT ROUND(MIN(yr), {ROUND}) AS value FROM yearly
""")
    add("expected_monthly", _metric_query(stats.expected_monthly), RETURNS_CTE + f"""
, monthly AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS mr FROM rets GROUP BY YEAR(d), MONTH(d))
SELECT ROUND(POW(EXP(SUM(LN(1 + mr))), 1.0 / COUNT(mr)) - 1, {ROUND}) AS value FROM monthly
""")
    add("win_month", _metric_query(stats.win_month), RETURNS_CTE + f"""
, monthly AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS mr FROM rets GROUP BY YEAR(d), MONTH(d))
SELECT ROUND(SUM(CASE WHEN mr > 0 THEN 1 ELSE 0 END) * 1.0
           / SUM(CASE WHEN mr <> 0 THEN 1 ELSE 0 END), {ROUND}) AS value FROM monthly
""")
    add("win_quarter", _metric_query(stats.win_quarter), RETURNS_CTE + f"""
, qtr AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS qr FROM rets GROUP BY YEAR(d), QUARTER(d))
SELECT ROUND(SUM(CASE WHEN qr > 0 THEN 1 ELSE 0 END) * 1.0
           / SUM(CASE WHEN qr <> 0 THEN 1 ELSE 0 END), {ROUND}) AS value FROM qtr
""")
    # Weekly calendar path (reference stats.py:749-761, aliases "w"/"eow"):
    # group key emitted as the group's first date (first-appearance order).
    add("weekly_returns",
        lambda spark, sf_dir: _round_df(
            stats._simple_returns(
                load_returns(spark, sf_dir), "week", True, keep_order=True
            )[0]
            .select(
                F.col("__g_ord").cast("string").alias("ws"),
                F.col("r").alias("weekly_return"),
            )
        ),
        RETURNS_CTE + f"""
SELECT CAST(MIN(d) AS VARCHAR) AS ws,
       ROUND(EXP(SUM(LN(1 + r))) - 1, {ROUND}) AS weekly_return
FROM rets GROUP BY YEAR(d), WEEKOFYEAR(d)
""")

    # Merged gate queries: one multi-column row exercising every calendar /
    # trailing wrapper individually (each column is its own stats.* call),
    # so all wrappers fit inside the driver's correctness window without
    # burning one query slot per scalar. best_day≡best, worst_day≡worst,
    # win_days≡win_rate and expected_daily≡expected_return are exact
    # duplicates of already-gated queries and are not re-registered.
    def _merged_scalars(parts):
        def q(spark: SparkSession, sf_dir: str) -> DataFrame:
            rets = load_returns(spark, sf_dir)
            out = None
            for name, fn in parts.items():
                one = fn(rets).select(F.col("r").alias(name))
                out = one if out is None else out.crossJoin(one)
            return _round_df(out)

        return q

    add("calendar_summary",
        _merged_scalars({
            "expected_yearly": stats.expected_yearly,
            "best_year": stats.best_year,
            "worst_month": stats.worst_month,
            "avg_up_month": stats.avg_up_month,
            "avg_down_month": stats.avg_down_month,
            "win_year": stats.win_year,
        }),
        RETURNS_CTE + f""",
monthly AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS mr FROM rets GROUP BY YEAR(d), MONTH(d)),
yearly AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS yr FROM rets GROUP BY YEAR(d))
SELECT
  ROUND((SELECT POW(EXP(SUM(LN(1 + yr))), 1.0 / COUNT(yr)) - 1 FROM yearly), {ROUND}) AS expected_yearly,
  ROUND((SELECT MAX(yr) FROM yearly), {ROUND}) AS best_year,
  ROUND((SELECT MIN(mr) FROM monthly), {ROUND}) AS worst_month,
  ROUND((SELECT AVG(CASE WHEN mr > 0 THEN mr END) FROM monthly), {ROUND}) AS avg_up_month,
  ROUND((SELECT AVG(CASE WHEN mr < 0 THEN mr END) FROM monthly), {ROUND}) AS avg_down_month,
  ROUND((SELECT SUM(CASE WHEN yr > 0 THEN 1 ELSE 0 END) * 1.0
              / SUM(CASE WHEN yr <> 0 THEN 1 ELSE 0 END) FROM yearly), {ROUND}) AS win_year
""")

    add("trailing_windows",
        _merged_scalars({
            "mtd": stats.mtd,
            "ytd": stats.ytd,
            "three_month": stats.three_month,
            "six_month": stats.six_month,
            "one_year": stats.one_year,
            "three_year": stats.three_year,
            "five_year": stats.five_year,
            "ten_year": stats.ten_year,
            "all_time": stats.all_time,
        }),
        RETURNS_CTE + f""",
mx AS (SELECT MAX(d) AS md FROM rets)
SELECT
  ROUND((SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx
         WHERE YEAR(d) = YEAR(md) AND MONTH(d) = MONTH(md)), {ROUND}) AS mtd,
  ROUND((SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx
         WHERE YEAR(d) = YEAR(md)), {ROUND}) AS ytd,
  ROUND((SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx
         WHERE d >= md - INTERVAL 3 MONTH), {ROUND}) AS three_month,
  ROUND((SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx
         WHERE d >= md - INTERVAL 6 MONTH), {ROUND}) AS six_month,
  ROUND((SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx
         WHERE d >= md - INTERVAL 12 MONTH), {ROUND}) AS one_year,
  ROUND((SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets, mx
         WHERE d >= md - INTERVAL 36 MONTH), {ROUND}) AS three_year,
  ROUND((SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets, mx
         WHERE d >= md - INTERVAL 60 MONTH), {ROUND}) AS five_year,
  ROUND((SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets, mx
         WHERE d >= md - INTERVAL 120 MONTH), {ROUND}) AS ten_year,
  ROUND((SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets), {ROUND}) AS all_time
""")

    # ---- benchmark-relative ----------------------------------------------
    asof_cte = RETURNS_CTE + BENCH_CTE + """
, joined AS (
    SELECT rets.d AS d, rets.r AS r, bres.b AS b
    FROM rets ASOF LEFT JOIN bres ON rets.d >= bres.d
)
"""
    add("greeks",
        lambda spark, sf_dir: _round_df(
            stats.greeks(load_returns(spark, sf_dir), load_benchmark(spark, sf_dir))
            .select(F.col("r.alpha").alias("alpha"), F.col("r.beta").alias("beta"))
        ),
        asof_cte + f"""
SELECT ROUND((AVG(r) - (COVAR_SAMP(r, b) / VAR_SAMP(b)) * AVG(b)) * 252, {ROUND}) AS alpha,
       ROUND(COVAR_SAMP(r, b) / VAR_SAMP(b), {ROUND}) AS beta
FROM joined
""")
    add("information_ratio", _bench_query(stats.information_ratio),
        asof_cte + f"SELECT ROUND(AVG(r - b) / STDDEV_SAMP(r - b), {ROUND}) AS value FROM joined")
    add("correlation", _bench_query(stats.correlation),
        asof_cte + f"SELECT ROUND(CORR(r, b), {ROUND}) AS value FROM joined")
    add("r_squared", _bench_query(stats.r_squared),
        asof_cte + f"SELECT ROUND(POW(CORR(r, b), 2), {ROUND}) AS value FROM joined")
    add("treynor_ratio", _bench_query(stats.treynor_ratio), asof_cte + f"""
SELECT ROUND((EXP(SUM(LN(1 + r))) - 1) / (COVAR_SAMP(r, b) / VAR_SAMP(b)), {ROUND}) AS value
FROM joined
""")

    # Per-row trailing rolling metrics (overlap-replication window, no
    # global funnel) vs DuckDB's RANGE-interval window.
    def _trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = trailing_metrics(
            load_returns(spark, sf_dir),
            days=30,
            metrics={
                "mean": lambda c, w: F.avg(c).over(w),
                "volatility": lambda c, w: F.when(
                    F.count(c).over(w) >= 2,
                    F.stddev_samp(c).over(w) * F.lit(252.0**0.5),
                ),
                "n_obs": lambda c, w: F.count(c).over(w).cast("long"),
            },
        )
        # drop n<2 rows: a null float crosses DuckDB's pandas fetch as NaN,
        # which the value-hash comparison can't distinguish from a real NaN
        return _round_df(
            out.where(F.col("r_n_obs") >= 2).select(
                F.col("d").cast("string").alias("d"),
                F.col("r_mean"),
                F.col("r_volatility"),
                F.col("r_n_obs"),
            )
        )

    # Keyed trailing windows over the 2-asset long frame: per-key
    # overlap-replication buckets vs DuckDB's per-key RANGE window.
    def _trailing_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
        long_df = load_long_frame(spark, sf_dir)
        out = trailing_metrics(
            long_df,
            days=30,
            key_cols=["asset"],
            metrics={
                "mean": lambda c, w: F.avg(c).over(w),
                "n_obs": lambda c, w: F.count(c).over(w).cast("long"),
            },
        )
        return _round_df(
            out.select(
                "asset",
                F.col("d").cast("string").alias("d"),
                F.col("r_mean"),
                F.col("r_n_obs"),
            )
        )

    add("rolling_trailing_30d_keyed", _trailing_keyed, f"""{RETURNS_CTE}{BENCH_CTE},
long_f AS (
  SELECT 'a' AS asset, d, r FROM rets
  UNION ALL SELECT 'b' AS asset, d, b AS r FROM bres
)
SELECT asset, CAST(d AS VARCHAR) AS d,
  ROUND(AVG(r) OVER w, {ROUND}) AS r_mean,
  COUNT(r) OVER w AS r_n_obs
FROM long_f
WINDOW w AS (PARTITION BY asset ORDER BY d
             RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW)""")

    add("rolling_trailing_30d", _trailing, f"""{RETURNS_CTE}
SELECT CAST(d AS VARCHAR) AS d,
  ROUND(AVG(r) OVER w, {ROUND}) AS r_mean,
  ROUND(STDDEV_SAMP(r) OVER w * SQRT(252), {ROUND}) AS r_volatility,
  COUNT(r) OVER w AS r_n_obs
FROM rets
WINDOW w AS (ORDER BY d RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW)
QUALIFY COUNT(r) OVER w >= 2""")

    # Per-row trailing 30-day CAPM beta/alpha vs the benchmark — the
    # rolling complement of the aggregate greeks, through the same
    # overlap-replication machinery (two-column covariance inside the
    # per-bucket range window). Var-0 windows are null both sides.
    def _rolling_greeks(spark, sf_dir):
        joined = (
            load_returns(spark, sf_dir)
            .join(load_benchmark(spark, sf_dir), "d", "inner")
        )
        out = rolling_greeks(joined, days=30, benchmark_col="b")
        return _round_df(
            out.where(F.col("r_n_obs") >= 2).select(
                F.col("d").cast("string").alias("d"),
                "r_beta", "r_alpha", "r_n_obs",
            )
        )

    add("rolling_greeks_30d", _rolling_greeks, f"""{RETURNS_CTE}{BENCH_CTE},
j AS (SELECT rets.d, rets.r, bres.b FROM rets JOIN bres USING (d))
SELECT CAST(d AS VARCHAR) AS d,
  ROUND(CASE WHEN VAR_SAMP(b) OVER w > 0
             THEN COVAR_SAMP(r, b) OVER w / VAR_SAMP(b) OVER w END, {ROUND})
    AS r_beta,
  ROUND(CASE WHEN VAR_SAMP(b) OVER w > 0
             THEN (AVG(r) OVER w
                   - COVAR_SAMP(r, b) OVER w / VAR_SAMP(b) OVER w * AVG(b) OVER w)
                  * 252 END, {ROUND}) AS r_alpha,
  COUNT(r) OVER w AS r_n_obs
FROM j
WINDOW w AS (ORDER BY d RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW)
QUALIFY COUNT(r) OVER w >= 2""")

    # Keyed (multi-asset) rolling greeks: two strategies (r and its exact
    # -2x mirror) share the benchmark; windows partition by (asset, bucket)
    # so added assets widen parallelism instead of deepening any window —
    # the scale shape for per-asset rolling CAPM over a long frame.
    def _rolling_greeks_keyed(spark, sf_dir):
        rets = load_returns(spark, sf_dir)
        two = rets.select(F.lit("a").alias("asset"), "d", "r").unionByName(
            rets.select(
                F.lit("c").alias("asset"), "d", (F.col("r") * -2).alias("r")
            )
        )
        joined = two.join(load_benchmark(spark, sf_dir), "d", "inner")
        out = rolling_greeks(joined, days=30, benchmark_col="b", key_cols=["asset"])
        return _round_df(
            out.where(F.col("r_n_obs") >= 2).select(
                "asset", F.col("d").cast("string").alias("d"),
                "r_beta", "r_corr", "r_n_obs",
            )
        )

    add("rolling_greeks_30d_keyed", _rolling_greeks_keyed, f"""{RETURNS_CTE}{BENCH_CTE},
two AS (SELECT 'a' AS asset, d, r FROM rets
        UNION ALL SELECT 'c' AS asset, d, -2 * r AS r FROM rets),
j AS (SELECT two.asset, two.d, two.r, bres.b FROM two JOIN bres USING (d))
SELECT asset, CAST(d AS VARCHAR) AS d,
  ROUND(CASE WHEN VAR_SAMP(b) OVER w > 0
             THEN COVAR_SAMP(r, b) OVER w / VAR_SAMP(b) OVER w END, {ROUND})
    AS r_beta,
  ROUND(CASE WHEN VAR_SAMP(b) OVER w > 0 AND VAR_SAMP(r) OVER w > 0
             THEN COVAR_SAMP(r, b) OVER w
                  / (STDDEV_SAMP(r) OVER w * STDDEV_SAMP(b) OVER w) END, {ROUND})
    AS r_corr,
  COUNT(r) OVER w AS r_n_obs
FROM j
WINDOW w AS (PARTITION BY asset ORDER BY d
             RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW)
QUALIFY COUNT(r) OVER w >= 2""")

    # Rolling correlation vs the benchmark — same machinery/window; the
    # oracle replicates covar_samp/(std·std) expression-for-expression
    # (NOT the CORR aggregate, whose population-moment arithmetic could
    # differ in the last ulp).
    def _rolling_corr(spark, sf_dir):
        joined = (
            load_returns(spark, sf_dir)
            .join(load_benchmark(spark, sf_dir), "d", "inner")
        )
        out = rolling_greeks(joined, days=30, benchmark_col="b")
        return _round_df(
            out.where(F.col("r_n_obs") >= 2).select(
                F.col("d").cast("string").alias("d"), "r_corr", "r_n_obs"
            )
        )

    add("rolling_corr_30d", _rolling_corr, f"""{RETURNS_CTE}{BENCH_CTE},
j AS (SELECT rets.d, rets.r, bres.b FROM rets JOIN bres USING (d))
SELECT CAST(d AS VARCHAR) AS d,
  ROUND(CASE WHEN VAR_SAMP(b) OVER w > 0 AND VAR_SAMP(r) OVER w > 0
             THEN COVAR_SAMP(r, b) OVER w
                  / (STDDEV_SAMP(r) OVER w * STDDEV_SAMP(b) OVER w) END, {ROUND})
    AS r_corr,
  COUNT(r) OVER w AS r_n_obs
FROM j
WINDOW w AS (ORDER BY d RANGE BETWEEN INTERVAL 29 DAYS PRECEDING AND CURRENT ROW)
QUALIFY COUNT(r) OVER w >= 2""")

    # Multi-asset broadcast: the reference's core structural idiom — one
    # metric call fans out over every numeric column in a single agg pass.
    def _multi_asset(spark: SparkSession, sf_dir: str) -> DataFrame:
        wide = (
            load_returns(spark, sf_dir)
            .join(load_benchmark(spark, sf_dir), "d", "inner")
            .select("d", F.col("r").alias("asset_a"), F.col("b").alias("asset_b"))
        )
        return _round_df(stats.sharpe(wide))

    add("multi_asset_sharpe", _multi_asset, f"""{RETURNS_CTE}{BENCH_CTE},
wide AS (
    SELECT rets.d, rets.r AS asset_a, bres.b AS asset_b
    FROM rets JOIN bres ON rets.d = bres.d
)
SELECT
  ROUND(AVG(asset_a) / STDDEV_SAMP(asset_a) * SQRT(252), {ROUND}) AS asset_a,
  ROUND(AVG(asset_b) / STDDEV_SAMP(asset_b) * SQRT(252), {ROUND}) AS asset_b
FROM wide""")

    # Long-frame (keyed) metrics — the million-asset path: one agg grouped
    # by key, keyed drawdown prefix machinery, plan size O(1) in key count.
    def _multi_long(spark: SparkSession, sf_dir: str) -> DataFrame:
        long_df = load_long_frame(spark, sf_dir)
        out = metrics_by_key(long_df)
        return _round_df(
            out.select(
                "asset", "comp", "cagr", "sharpe", "sortino", "volatility",
                "win_rate", "max_drawdown", "ulcer_index", "cvar",
                "longest_drawdown_days", "avg_drawdown",
            )
        )

    # Cross-asset correlation matrix over a genuinely multi-key long frame:
    # five assets = daily revenue returns per o_orderpriority, keyed lag
    # windows partitioned by asset. Upper triangle (10 pairs), pairwise-
    # complete observations via the date equi-join.
    def _corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        daily = orders.groupBy(
            F.col("o_orderpriority").alias("asset"),
            F.to_date("o_orderdate").alias("d"),
        ).agg(F.sum("o_totalprice").alias("rev"))
        w = Window.partitionBy("asset").orderBy("d")
        rets = (
            daily.withColumn("r", F.col("rev") / F.lag("rev").over(w) - 1)
            .where(F.col("r").isNotNull())
            .select("asset", "d", "r")
        )
        return _round_df(correlation_matrix(rets))

    add("asset_correlation_matrix", _corr_matrix, f"""
WITH kdaily AS (
  SELECT o_orderpriority AS asset, CAST(o_orderdate AS DATE) AS d,
         SUM(o_totalprice) AS rev
  FROM orders GROUP BY 1, 2
),
krets0 AS (
  SELECT asset, d,
         rev / LAG(rev) OVER (PARTITION BY asset ORDER BY d) - 1 AS r
  FROM kdaily
),
krets AS (SELECT asset, d, r FROM krets0 WHERE r IS NOT NULL)
SELECT a.asset AS asset_a, b.asset AS asset_b,
       ROUND(corr(a.r, b.r), {ROUND}) AS corr, COUNT(*) AS n_obs
FROM krets a JOIN krets b ON a.d = b.d AND a.asset < b.asset
GROUP BY 1, 2""")

    add("multi_asset_metrics_long", _multi_long, RETURNS_CTE + BENCH_CTE + f""",
long_f AS (
  SELECT 'a' AS asset, d, r FROM rets
  UNION ALL SELECT 'b' AS asset, d, b AS r FROM bres
),
kwealth AS (
  SELECT asset, d, r, EXP(SUM(LN(1 + r)) OVER (PARTITION BY asset ORDER BY d)) AS w
  FROM long_f
),
kdd AS (
  SELECT asset, d, r,
         LEAST(w / MAX(w) OVER (PARTITION BY asset ORDER BY d) - 1, 0) AS dd
  FROM kwealth
),
vart AS (
  SELECT asset, AVG(r) + ({_Z95!r}) * STDDEV_SAMP(r) AS var_t
  FROM long_f GROUP BY asset
),
cv AS (
  SELECT l.asset,
         COALESCE(AVG(CASE WHEN l.r < v.var_t THEN l.r END), MIN(v.var_t)) AS cvar
  FROM long_f l JOIN vart v USING (asset) GROUP BY l.asset
),
eps1 AS (
  SELECT asset, d, dd, CASE WHEN dd < 0 THEN 0 ELSE 1 END AS brk,
         SUM(CASE WHEN dd < 0 THEN 0 ELSE 1 END)
           OVER (PARTITION BY asset ORDER BY d) AS isl
  FROM kdd
),
eps AS (
  SELECT asset, isl, MIN(dd) AS mdd,
         DATEDIFF('day', MIN(d), MAX(d)) + 1 AS len
  FROM eps1 WHERE brk = 0 GROUP BY asset, isl
),
epsagg AS (
  SELECT asset, MAX(len) AS ldd, AVG(mdd) AS avg_dd FROM eps GROUP BY asset
),
kmain AS (
  SELECT asset,
    EXP(SUM(LN(1 + r))) - 1 AS comp,
    POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 AS cagr,
    AVG(r) / STDDEV_SAMP(r) * SQRT(252) AS sharpe,
    AVG(r) / SQRT(AVG(POW(LEAST(r, 0), 2))) * SQRT(252) AS sortino,
    STDDEV_SAMP(r) * SQRT(252) AS volatility,
    SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0
      / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END) AS win_rate
  FROM long_f GROUP BY asset
),
ddagg AS (
  SELECT asset, MIN(dd) AS max_drawdown,
         SQRT(SUM(dd * dd) / (COUNT(dd) - 1)) AS ulcer_index
  FROM kdd GROUP BY asset
)
SELECT m.asset,
  ROUND(comp, {ROUND}) AS comp, ROUND(cagr, {ROUND}) AS cagr,
  ROUND(sharpe, {ROUND}) AS sharpe, ROUND(sortino, {ROUND}) AS sortino,
  ROUND(volatility, {ROUND}) AS volatility, ROUND(win_rate, {ROUND}) AS win_rate,
  ROUND(max_drawdown, {ROUND}) AS max_drawdown,
  ROUND(ulcer_index, {ROUND}) AS ulcer_index,
  ROUND(cvar, {ROUND}) AS cvar,
  ldd AS longest_drawdown_days,
  ROUND(avg_dd, {ROUND}) AS avg_drawdown
FROM kmain m
JOIN ddagg USING (asset) JOIN cv USING (asset) JOIN epsagg USING (asset)""")

    # Keyed smart ratios: the autocorrelation penalty as IN-PLAN Column
    # math (closed-form geometric sums) vs DuckDB's explicit per-key
    # lag-power summation — strongest check the closed form can get.
    def _multi_smart(spark: SparkSession, sf_dir: str) -> DataFrame:
        long_df = load_long_frame(spark, sf_dir)
        return _round_df(smart_ratios_by_key(long_df))

    add("multi_asset_smart_long", _multi_smart, RETURNS_CTE + BENCH_CTE + f""",
long_f AS (
  SELECT 'a' AS asset, d, r FROM rets
  UNION ALL SELECT 'b' AS asset, d, b AS r FROM bres
),
kpairs AS (
  SELECT asset, r AS a, LEAD(r) OVER (PARTITION BY asset ORDER BY d) AS b
  FROM long_f
),
kacoef AS (
  SELECT asset, ABS(CORR(a, b)) AS coef FROM kpairs WHERE b IS NOT NULL GROUP BY asset
),
knn AS (SELECT asset, COUNT(*) AS n FROM long_f GROUP BY asset),
kxs AS (
  SELECT asset, ROW_NUMBER() OVER (PARTITION BY asset ORDER BY d) AS x FROM long_f
),
kpenalty AS (
  SELECT kxs.asset,
         SQRT(1 + 2 * SUM((knn.n - kxs.x) * POWER(kacoef.coef, kxs.x) / knn.n)) AS p
  FROM kxs JOIN knn USING (asset) JOIN kacoef USING (asset)
  WHERE kxs.x <= knn.n - 1 GROUP BY kxs.asset
),
kratios AS (
  SELECT asset, COUNT(r) AS n_obs,
         AVG(r) / STDDEV_SAMP(r) * SQRT(252) AS sharpe,
         AVG(r) / SQRT(AVG(POW(LEAST(r, 0), 2))) * SQRT(252) AS sortino
  FROM long_f GROUP BY asset
)
SELECT k.asset, n_obs,
  ROUND(c.coef, {ROUND}) AS autocorr,
  ROUND(p.p, {ROUND}) AS autocorr_penalty,
  ROUND(sharpe, {ROUND}) AS sharpe,
  ROUND(sortino, {ROUND}) AS sortino,
  ROUND(sharpe / p.p, {ROUND}) AS smart_sharpe,
  ROUND(sortino / p.p, {ROUND}) AS smart_sortino,
  ROUND(sortino / p.p / SQRT(2), {ROUND}) AS smart_adjusted_sortino
FROM kratios k JOIN kpenalty p USING (asset) JOIN kacoef c USING (asset)""")

    # Keyed benchmark-relative metrics: every key as-of joined to ONE
    # benchmark series via the distinct-dates resolution (cardinality =
    # calendar grain, independent of key count).
    def _multi_greeks(spark: SparkSession, sf_dir: str) -> DataFrame:
        long_df = load_long_frame(spark, sf_dir)
        return _round_df(
            benchmark_metrics_by_key(long_df, load_benchmark(spark, sf_dir))
        )

    add("multi_asset_greeks_long", _multi_greeks, RETURNS_CTE + BENCH_CTE + f""",
long_f AS (
  SELECT 'a' AS asset, d, r FROM rets
  UNION ALL SELECT 'b' AS asset, d, b AS r FROM bres
),
kjoined AS (
  SELECT l.asset, l.d, l.r, b.b
  FROM long_f l ASOF LEFT JOIN bres b ON l.d >= b.d
)
SELECT asset,
  ROUND((AVG(r) - (COVAR_SAMP(r, b) / VAR_SAMP(b)) * AVG(b)) * 252, {ROUND}) AS alpha,
  ROUND(COVAR_SAMP(r, b) / VAR_SAMP(b), {ROUND}) AS beta,
  ROUND(AVG(r - b) / STDDEV_SAMP(r - b), {ROUND}) AS information_ratio,
  ROUND(CORR(r, b), {ROUND}) AS correlation,
  ROUND(POW(CORR(r, b), 2), {ROUND}) AS r_squared,
  ROUND((EXP(SUM(LN(1 + r))) - 1) / (COVAR_SAMP(r, b) / VAR_SAMP(b)), {ROUND}) AS treynor_ratio
FROM kjoined GROUP BY asset""")

    # Autocorr penalty: DuckDB evaluates the reference's O(n) lag-power sum
    # term-by-term via generate_series; the Spark side uses the closed-form
    # geometric sums (the expressions.autocorr_penalty formula) — same value.
    _PENALTY_CTE = """,
pairs AS (SELECT r AS a, LEAD(r) OVER (ORDER BY d) AS b FROM rets),
acoef AS (SELECT ABS(CORR(a, b)) AS coef FROM pairs WHERE b IS NOT NULL),
nn AS (SELECT COUNT(*) AS n FROM rets),
xs AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS x FROM rets),
penalty AS (
    SELECT SQRT(1 + 2 * SUM((nn.n - xs.x) * POWER(acoef.coef, xs.x) / nn.n)) AS p
    FROM acoef, nn, xs WHERE xs.x <= nn.n - 1
)
"""
    add("autocorr_penalty",
        lambda spark, sf_dir: _round_df(
            stats.autocorr_penalty(load_returns(spark, sf_dir)).select(F.col("r").alias("value"))
        ),
        f"{RETURNS_CTE}{_PENALTY_CTE}\nSELECT ROUND(p, {ROUND}) AS value FROM penalty")
    # PSR: DuckDB lacks a normal CDF, so the oracle evaluates Φ from the
    # exact erf Maclaurin series (_phi_sql) — value-hashed, not rows-only.
    add("psr",
        lambda spark, sf_dir: _round_df(
            stats.probabilistic_sharpe_ratio(load_returns(spark, sf_dir))
            .select(F.col("r").alias("value"))
        ),
        f"""{RETURNS_CTE},
pin AS (SELECT AVG(r)/STDDEV_SAMP(r) AS sr, SKEWNESS(r) AS sk,
               KURTOSIS(r) AS ku, COUNT(r) AS n FROM rets),
px AS (SELECT {_psr_x_sql()} AS x FROM pin)
SELECT ROUND({_phi_sql("x")}, {ROUND}) AS value FROM px""")
    add("smart_sharpe",
        lambda spark, sf_dir: _round_df(
            stats.smart_sharpe(load_returns(spark, sf_dir)).select(F.col("r").alias("value"))
        ),
        f"{RETURNS_CTE}{_PENALTY_CTE}\nSELECT ROUND("
        f"(SELECT AVG(r) / STDDEV_SAMP(r) * SQRT(252) FROM rets) / p, {ROUND}) AS value "
        "FROM penalty")
    add("smart_sortino",
        lambda spark, sf_dir: _round_df(
            stats.smart_sortino(load_returns(spark, sf_dir)).select(F.col("r").alias("value"))
        ),
        f"{RETURNS_CTE}{_PENALTY_CTE}\nSELECT ROUND("
        f"(SELECT AVG(r) / SQRT(AVG(POW(LEAST(r, 0), 2))) * SQRT(252) FROM rets) / p, "
        f"{ROUND}) AS value FROM penalty")
    add("smart_adjusted_sortino",
        lambda spark, sf_dir: _round_df(
            stats.smart_adjusted_sortino(load_returns(spark, sf_dir))
            .select(F.col("r").alias("value"))
        ),
        f"{RETURNS_CTE}{_PENALTY_CTE}\nSELECT ROUND("
        f"(SELECT AVG(r) / SQRT(AVG(POW(LEAST(r, 0), 2))) * SQRT(252) FROM rets) / p "
        f"/ SQRT(2), {ROUND}) AS value FROM penalty")

    # Source-layer roundtrip: returns written to CSV and read back through
    # readers.read_returns (explicit schema — the no-inference-at-scale
    # contract), then aggregated. Spark's CSV writer emits shortest-
    # roundtrip doubles, so the values are bit-identical to the parquet
    # path and the oracle needs no tolerance.
    def _summary(back: DataFrame) -> DataFrame:
        return back.agg(
            F.count("r").alias("n"),
            F.round(F.sum("r"), ROUND).alias("sum_r"),
            F.round(X.column("sharpe", "r"), ROUND).alias("sharpe"),
        )

    def _csv_roundtrip(spark, sf_dir):
        def run(d):
            load_returns(spark, sf_dir).write.option("header", "true").csv(d, mode="overwrite")
            return _summary(readers.read_returns(
                spark, d, format="csv", schema="d date, r double", header="true"))

        return _collect_in_scratch(spark, "as_csv_rt_", run)

    add("returns_csv_roundtrip", _csv_roundtrip, f"""{RETURNS_CTE}
SELECT CAST(COUNT(r) AS BIGINT) AS n,
       ROUND(SUM(r), {ROUND}) AS sum_r,
       ROUND(AVG(r) / STDDEV_SAMP(r) * SQRT(252), {ROUND}) AS sharpe
FROM rets""")

    # Partitioned sink + pruned read: returns written year-partitioned
    # through writers.write_returns, read back with a partition filter —
    # the scan must touch only the 1995 directory (pruning pinned by a plan
    # test). The oracle filters the same year from the raw series.
    def _partitioned_sink(spark, sf_dir):
        def run(d):
            readers.write_returns(load_returns(spark, sf_dir), d, mode="overwrite")
            return _summary(readers.read_returns(spark, d).where(F.col("__year") == 1995))

        return _collect_in_scratch(spark, "as_part_sink_", run)

    add("returns_partitioned_sink", _partitioned_sink, f"""{RETURNS_CTE}
SELECT CAST(COUNT(r) AS BIGINT) AS n,
       ROUND(SUM(r), {ROUND}) AS sum_r,
       ROUND(AVG(r) / STDDEV_SAMP(r) * SQRT(252), {ROUND}) AS sharpe
FROM rets WHERE EXTRACT(year FROM d) = 1995""")


def register_aliases(add, o: dict) -> None:
    """Registry entries for the public wrapper/alias symbols of metrics
    registered above — one gated query per public API name, so the
    registry is a complete 1:1 of the reference surface. Runs after every
    family, because the aliases reuse base oracles from ``o``. Three groups:

    * pure aliases (``expected_shortfall = conditional_value_at_risk`` at
      stats.py:332 etc.): the Spark side calls the ALIAS symbol — so the
      binding itself is exercised — and the oracle is the base query's
      SQL verbatim (looked up from ``o`` at registration time);
    * ``aggregate="day"`` wrappers (best_day/worst_day/win_days/
      expected_daily): day-bucketing is the identity on the daily returns
      frame (stats._simple_returns short-circuits it), so these also
      reuse the base oracle while calling the wrapper;
    * calendar/trailing wrappers with their own semantics (best_year,
      worst_month, avg_up/down_month, expected_yearly, win_year, and the
      nine mtd…all_time singles): bespoke one-value oracles mirroring the
      fragments the combined ``trailing_windows``/``calendar_summary``
      queries already gate.
    """
    for alias, fn, base in [
        ("expected_shortfall", stats.expected_shortfall, "cvar"),
        ("conditional_drawdown_at_risk", stats.conditional_drawdown_at_risk, "cdar"),
        ("ror", stats.ror, "risk_of_ruin"),
        ("probabilistic_sharpe_ratio", stats.probabilistic_sharpe_ratio, "psr"),
        ("geometric_mean", stats.geometric_mean, "expected_return"),
        ("sortino_sqrt2", stats.sortino_sqrt2, "adjusted_sortino"),
        ("smart_sortino_sqrt2", stats.smart_sortino_sqrt2, "smart_adjusted_sortino"),
        ("gain_to_pain_ratio_monthly", stats.gain_to_pain_ratio_monthly,
         "gain_to_pain_ratio_1m"),
        ("best_day", stats.best_day, "best"),
        ("worst_day", stats.worst_day, "worst"),
        ("win_days", stats.win_days, "win_rate"),
        ("expected_daily", stats.expected_daily, "expected_return"),
    ]:
        add(alias, _metric_query(fn), o[base])
    add("r2", _bench_query(stats.r2), o["r_squared"])

    monthly_cte = RETURNS_CTE + (
        ", grp AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS gr FROM rets "
        "GROUP BY YEAR(d), MONTH(d))"
    )
    yearly_cte = RETURNS_CTE + (
        ", grp AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS gr FROM rets GROUP BY YEAR(d))"
    )
    add("worst_month", _metric_query(stats.worst_month),
        monthly_cte + f"\nSELECT ROUND(MIN(gr), {ROUND}) AS value FROM grp")
    add("avg_up_month", _metric_query(stats.avg_up_month),
        monthly_cte + f"\nSELECT ROUND(AVG(CASE WHEN gr > 0 THEN gr END), {ROUND}) AS value FROM grp")
    add("avg_down_month", _metric_query(stats.avg_down_month),
        monthly_cte + f"\nSELECT ROUND(AVG(CASE WHEN gr < 0 THEN gr END), {ROUND}) AS value FROM grp")
    add("best_year", _metric_query(stats.best_year),
        yearly_cte + f"\nSELECT ROUND(MAX(gr), {ROUND}) AS value FROM grp")
    add("expected_yearly", _metric_query(stats.expected_yearly),
        yearly_cte
        + f"\nSELECT ROUND(POW(EXP(SUM(LN(1 + gr))), 1.0 / COUNT(gr)) - 1, {ROUND}) AS value FROM grp")
    add("win_year", _metric_query(stats.win_year),
        yearly_cte
        + f"\nSELECT ROUND(SUM(CASE WHEN gr > 0 THEN 1 ELSE 0 END) * 1.0"
          f" / SUM(CASE WHEN gr <> 0 THEN 1 ELSE 0 END), {ROUND}) AS value FROM grp")

    # the nine trailing/period singles — same fragments the combined
    # trailing_windows query gates, one value each
    mx = RETURNS_CTE + ", mx AS (SELECT MAX(d) AS md FROM rets)"

    def _one(where: str, annualized: bool) -> str:
        agg = (
            "POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1"
            if annualized
            else "EXP(SUM(LN(1 + r))) - 1"
        )
        return (
            mx
            + f"\nSELECT ROUND((SELECT {agg} FROM rets, mx {where}), {ROUND}) AS value"
        )

    add("mtd", _metric_query(stats.mtd),
        _one("WHERE YEAR(d) = YEAR(md) AND MONTH(d) = MONTH(md)", False))
    add("ytd", _metric_query(stats.ytd), _one("WHERE YEAR(d) = YEAR(md)", False))
    add("three_month", _metric_query(stats.three_month),
        _one("WHERE d >= md - INTERVAL 3 MONTH", False))
    add("six_month", _metric_query(stats.six_month),
        _one("WHERE d >= md - INTERVAL 6 MONTH", False))
    add("one_year", _metric_query(stats.one_year),
        _one("WHERE d >= md - INTERVAL 12 MONTH", False))
    add("three_year", _metric_query(stats.three_year),
        _one("WHERE d >= md - INTERVAL 36 MONTH", True))
    add("five_year", _metric_query(stats.five_year),
        _one("WHERE d >= md - INTERVAL 60 MONTH", True))
    add("ten_year", _metric_query(stats.ten_year),
        _one("WHERE d >= md - INTERVAL 120 MONTH", True))
    add("all_time", _metric_query(stats.all_time), _one("", True))
