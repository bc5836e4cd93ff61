"""Report family: ``reports.metrics`` tables against DuckDB oracles.

The numeric table is value-hashed cell by cell; the formatted string
tables (basic, and full with a benchmark column) are value-hashed through a
DuckDB replica of the report's string formatter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from alphastats_spark.registry.shared import (
    BENCH_CTE,
    DD_CTE,
    RETURNS_CTE,
    ROUND,
    _fdiv_sql,
    _phi_sql,
    _psr_x_sql,
    _round_df,
    _Z95,
    load_benchmark,
    load_returns,
)
from alphastats_spark.reports import metrics


def _fmt_sql(x: str) -> str:
    """Replicate the report's string-cell formatter (reports._format_value,
    reference ``alphastats/reports.py:539-553``) in DuckDB SQL:
    ``str(round(v, 2))`` with non-finite → ``'-'`` and ±0 → ``'0'``.

    ``printf('%.2f', x)`` correctly rounds the EXACT binary double (fmt's
    Dragon4), matching Python's ``round(x, 2)`` — unlike DuckDB ``ROUND``,
    which rounds the shortest decimal repr (``ROUND(2.675, 2) = 2.68`` vs
    Python ``2.67``; verified empirically). The trailing-zero strip turns
    printf's fixed 2 decimals into Python's shortest float repr
    (``'12.00'`` → ``'12.0'``, ``'0.10'`` → ``'0.1'``)."""
    return (
        f"CASE WHEN ({x}) IS NULL OR isnan({x}) OR isinf({x}) THEN '-' "
        f"WHEN printf('%.2f', {x}) IN ('0.00', '-0.00') THEN '0' "
        f"ELSE regexp_replace(printf('%.2f', {x}), '0$', '') END"
    )


def _fmt_int_sql(x: str) -> str:
    """Integer report cell → ``str(int(v))`` (no decimal point)."""
    return (
        f"CASE WHEN ({x}) IS NULL THEN '-' "
        f"ELSE CAST(CAST({x} AS BIGINT) AS VARCHAR) END"
    )


def _report_col_ctes(t: str, col: str) -> str:
    """Per-column CTE block for the full-report oracle: drawdowns, episode
    islands, calendar buckets, streak islands and the ~45 scalar aggregates
    the report renders for column ``col`` of the joined frame ``jf``.
    Every scalar is aliased ``{t}_*`` so two column blocks cross-join
    safely into one 1-row frame. Computes the same values as
    reports._column_leaves with the expressions formulas,
    reports._calendar_agg and islands.drawdown_episode_stats."""
    z95 = repr(_Z95)
    return f""",
w_{t} AS (SELECT d, {col} AS r, EXP(SUM(LN(1 + {col})) OVER (ORDER BY d)) AS w FROM jf),
dds_{t} AS MATERIALIZED (SELECT d, r, LEAST(w / MAX(w) OVER (ORDER BY d) - 1, 0) AS dd FROM w_{t}),
epi_{t} AS (
  SELECT dd, brk, SUM(brk) OVER (ORDER BY d) AS isl
  FROM (SELECT d, dd, CASE WHEN dd < 0 THEN 0 ELSE 1 END AS brk FROM dds_{t})
),
eps_{t} AS (
  SELECT isl, MIN(dd) AS min_dd, COUNT(*) AS len
  FROM epi_{t} WHERE brk = 0 GROUP BY isl
),
mon_{t} AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS cmp, SUM(r) AS sm
            FROM dds_{t} GROUP BY YEAR(d), MONTH(d)),
qtr_{t} AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS cmp
            FROM dds_{t} GROUP BY YEAR(d), QUARTER(d)),
yr_{t} AS (SELECT EXP(SUM(LN(1 + r))) - 1 AS cmp FROM dds_{t} GROUP BY YEAR(d)),
lb_{t} AS (
  SELECT r, idx,
    MAX(CASE WHEN r > 0 THEN NULL ELSE idx END)
      OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS lbw,
    MAX(CASE WHEN r < 0 THEN NULL ELSE idx END)
      OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS lbl
  FROM (SELECT r, ROW_NUMBER() OVER (ORDER BY d) AS idx FROM dds_{t})
),
pen_{t} AS (
  SELECT SQRT(1 + 2 * SUM((n0.n - xs.x) * POWER(ac.coef, xs.x) / n0.n)) AS p
  FROM (SELECT ABS(CORR(a, b2)) AS coef
        FROM (SELECT r AS a, LEAD(r) OVER (ORDER BY d) AS b2 FROM dds_{t})
        WHERE b2 IS NOT NULL) ac,
       (SELECT COUNT(*) AS n FROM dds_{t}) n0,
       (SELECT ROW_NUMBER() OVER (ORDER BY d) AS x FROM dds_{t}) xs
  WHERE xs.x <= n0.n - 1
),
sc_{t} AS MATERIALIZED (
  SELECT
    (SELECT COUNT(r) FROM dds_{t}) AS {t}_n,
    (SELECT SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(r) FROM dds_{t}) AS {t}_tim,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM dds_{t}) AS {t}_cum,
    (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM dds_{t}) AS {t}_cagr,
    (SELECT AVG(r) / STDDEV_SAMP(r) * SQRT(252) FROM dds_{t}) AS {t}_sharpe,
    (SELECT AVG(r) / STDDEV_SAMP(r) FROM dds_{t}) AS {t}_sr0,
    (SELECT SKEWNESS(r) FROM dds_{t}) AS {t}_skv,
    (SELECT KURTOSIS(r) FROM dds_{t}) AS {t}_kuv,
    (SELECT AVG(r) / SQRT(AVG(POW(LEAST(r, 0), 2))) * SQRT(252) FROM dds_{t}) AS {t}_sortino,
    (SELECT SUM(GREATEST(r, 0)) / SUM(GREATEST(-r, 0)) FROM dds_{t}) AS {t}_omega,
    (SELECT MIN(dd) FROM dds_{t}) AS {t}_maxdd,
    (SELECT COALESCE(MAX(len), 0) FROM eps_{t}) AS {t}_ldd,
    (SELECT COALESCE(AVG(min_dd), 0) FROM eps_{t}) AS {t}_avg_dd,
    (SELECT COALESCE(AVG(len), 0) FROM eps_{t}) AS {t}_avg_dd_days,
    (SELECT SUM(r) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) FROM dds_{t}) AS {t}_g2p,
    (SELECT (CASE WHEN (ABS(SUM(CASE WHEN sm < 0 THEN sm ELSE 0 END))) = 0 THEN (CASE WHEN (SUM(sm)) > 0 THEN 'infinity'::DOUBLE WHEN (SUM(sm)) < 0 THEN '-infinity'::DOUBLE ELSE 'nan'::DOUBLE END) ELSE (SUM(sm)) / (ABS(SUM(CASE WHEN sm < 0 THEN sm ELSE 0 END))) END) FROM mon_{t}) AS {t}_g2p1m,
    (SELECT AVG(CASE WHEN r > 0 THEN r END) / ABS(AVG(CASE WHEN r < 0 THEN r END))
       FROM dds_{t}) AS {t}_payoff,
    (SELECT SUM(CASE WHEN r >= 0 THEN r ELSE 0 END)
          / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) FROM dds_{t}) AS {t}_pf,
    (SELECT ABS(QUANTILE_CONT(r, 0.95)) / ABS(QUANTILE_CONT(r, 0.05)) FROM dds_{t}) AS {t}_tail,
    (SELECT (SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)))
          * (ABS(QUANTILE_CONT(r, 0.95)) / ABS(QUANTILE_CONT(r, 0.05)))
       FROM dds_{t}) AS {t}_csr,
    (SELECT (SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)))
          * ((SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END))
             / (ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) / SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END)))
          * (SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0 / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END))
       FROM dds_{t}) AS {t}_cpc,
    (SELECT QUANTILE_CONT(r, 0.99) / AVG(CASE WHEN r >= 0 THEN r END) FROM dds_{t}) AS {t}_outw,
    (SELECT QUANTILE_CONT(r, 0.01) / AVG(CASE WHEN r < 0 THEN r END) FROM dds_{t}) AS {t}_outl,
    (SELECT STDDEV_SAMP(r) * SQRT(252) FROM dds_{t}) AS {t}_vol,
    (SELECT POW(EXP(SUM(LN(1 + r))), 1.0 / COUNT(r)) - 1 FROM dds_{t}) AS {t}_geo,
    (SELECT AVG(r) FROM dds_{t}) AS {t}_meanv,
    (SELECT MAX(r) FROM dds_{t}) AS {t}_best,
    (SELECT MIN(r) FROM dds_{t}) AS {t}_worst,
    (SELECT SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0
          / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END) FROM dds_{t}) AS {t}_winrate,
    (SELECT AVG(r) + ({z95}) * STDDEV_SAMP(r) FROM dds_{t}) AS {t}_var,
    (SELECT AVG(dd) + ({z95}) * STDDEV_SAMP(dd) FROM dds_{t}) AS {t}_ddvar,
    (SELECT STDDEV_SAMP(r) FROM dds_{t}) AS {t}_rstd,
    (SELECT SUM(r) FROM dds_{t}) AS {t}_rsum,
    (SELECT ABS(SUM(r)) FROM dds_{t}) / ABS((SELECT MIN(dd) FROM dds_{t})) AS {t}_recov,
    (SELECT SQRT(SUM(dd * dd) / (COUNT(dd) - 1)) FROM dds_{t}) AS {t}_ulcer,
    (SELECT COALESCE(MAX(CASE WHEN r > 0 THEN idx - COALESCE(lbw, 0) ELSE 0 END), 0)
       FROM lb_{t}) AS {t}_cwin,
    (SELECT COALESCE(MAX(CASE WHEN r < 0 THEN idx - COALESCE(lbl, 0) ELSE 0 END), 0)
       FROM lb_{t}) AS {t}_closs,
    (SELECT p FROM pen_{t}) AS {t}_pen,
    (SELECT POW(EXP(SUM(LN(1 + cmp))), 1.0 / COUNT(cmp)) - 1 FROM mon_{t}) AS {t}_mon_geo,
    (SELECT POW(EXP(SUM(LN(1 + cmp))), 1.0 / COUNT(cmp)) - 1 FROM yr_{t}) AS {t}_yr_geo,
    (SELECT MAX(cmp) FROM mon_{t}) AS {t}_mon_best,
    (SELECT MIN(cmp) FROM mon_{t}) AS {t}_mon_worst,
    (SELECT MAX(cmp) FROM yr_{t}) AS {t}_yr_best,
    (SELECT MIN(cmp) FROM yr_{t}) AS {t}_yr_worst,
    (SELECT AVG(CASE WHEN cmp > 0 THEN cmp END) FROM mon_{t}) AS {t}_mon_avg_win,
    (SELECT AVG(CASE WHEN cmp < 0 THEN cmp END) FROM mon_{t}) AS {t}_mon_avg_loss,
    (SELECT SUM(CASE WHEN cmp > 0 THEN 1 ELSE 0 END) * 1.0
          / SUM(CASE WHEN cmp <> 0 THEN 1 ELSE 0 END) FROM mon_{t}) AS {t}_mon_winrate,
    (SELECT SUM(CASE WHEN cmp > 0 THEN 1 ELSE 0 END) * 1.0
          / SUM(CASE WHEN cmp <> 0 THEN 1 ELSE 0 END) FROM qtr_{t}) AS {t}_qtr_winrate,
    (SELECT SUM(CASE WHEN cmp > 0 THEN 1 ELSE 0 END) * 1.0
          / SUM(CASE WHEN cmp <> 0 THEN 1 ELSE 0 END) FROM yr_{t}) AS {t}_yr_winrate,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM dds_{t}, mxx
      WHERE YEAR(d) = YEAR(md) AND MONTH(d) = MONTH(md)) AS {t}_w_mtd,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM dds_{t}, mxx
      WHERE d >= md - INTERVAL 3 MONTH) AS {t}_w_3m,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM dds_{t}, mxx
      WHERE d >= md - INTERVAL 6 MONTH) AS {t}_w_6m,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM dds_{t}, mxx
      WHERE YEAR(d) = YEAR(md)) AS {t}_w_ytd,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM dds_{t}, mxx
      WHERE d >= md - INTERVAL 12 MONTH) AS {t}_w_1y,
    (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM dds_{t}, mxx
      WHERE d >= md - INTERVAL 36 MONTH) AS {t}_w_3y,
    (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM dds_{t}, mxx
      WHERE d >= md - INTERVAL 60 MONTH) AS {t}_w_5y,
    (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM dds_{t}, mxx
      WHERE d >= md - INTERVAL 120 MONTH) AS {t}_w_10y
),
sc2_{t} AS MATERIALIZED (
  SELECT sc_{t}.*,
    COALESCE((SELECT AVG(dd) FROM dds_{t} WHERE dd < sc_{t}.{t}_ddvar),
             sc_{t}.{t}_ddvar) AS {t}_ddcvar,
    COALESCE((SELECT AVG(r) FROM dds_{t} WHERE r < sc_{t}.{t}_var),
             sc_{t}.{t}_var) AS {t}_cvar
  FROM sc_{t}
)"""


def _report_full_bench_sql() -> str:
    """Full-mode report with benchmark column, formatted-string oracle.

    Replicates reports.metrics(mode="full", benchmark=...) cell-for-cell:
    inner date equi-join + fill-0 (reports._prepare_frame), per-column
    scalar blocks for Benchmark and Strategy, benchmark-relative rows
    computed on the joined frame, and every cell rendered through the
    report's exact string formatter (_fmt_sql). Column order matches the
    Spark table: Metric, Benchmark, Strategy (benchmark first,
    reference ``alphastats/reports.py:120-135``)."""

    def F_(x: str) -> str:  # noqa: N802 — local shorthand
        return _fmt_sql(x)

    psr = {
        t: F_(_phi_sql(_psr_x_sql(f"{t}_sr0", f"{t}_skv", f"{t}_kuv", f"{t}_n")))
        for t in ("b", "s")
    }

    # (label, benchmark_cell_sql, strategy_cell_sql); None benchmark cell
    # means a bench_row → literal '-' (reference reports.py:227-234).
    def both(fmt: str) -> tuple[str, str]:
        return fmt.format(t="b"), fmt.format(t="s")

    rows: list[tuple[str, str | None, str]] = []
    rows.append(("Start Period", "CAST(mnd AS VARCHAR)", "CAST(mnd AS VARCHAR)"))
    rows.append(("End Period", "CAST(mxd AS VARCHAR)", "CAST(mxd AS VARCHAR)"))
    rows.append(("Risk-Free Rate", "'0'", "'0'"))
    rows.append(("Time in Market", *both(F_("{t}_tim"))))
    rows.append(("Cumulative Return", *both(F_("{t}_cum"))))
    rows.append(("CAGR﹪", *both(F_("{t}_cagr"))))
    rows.append(("Sharpe", *both(F_("{t}_sharpe"))))
    rows.append(("Prob. Sharpe Ratio", psr["b"], psr["s"]))
    rows.append(("Smart Sharpe", *both(F_("{t}_sharpe / {t}_pen"))))
    rows.append(("Sortino", *both(F_("{t}_sortino"))))
    rows.append(("Smart Sortino", *both(F_("{t}_sortino / {t}_pen"))))
    rows.append(("Sortino/√2", *both(F_("{t}_sortino / SQRT(2)"))))
    rows.append(("Smart Sortino/√2", *both(F_("{t}_sortino / {t}_pen / SQRT(2)"))))
    rows.append(("Omega", *both(F_("{t}_omega"))))
    rows.append(("Max Drawdown", *both(F_("{t}_maxdd"))))
    rows.append(("Longest DD Days", _fmt_int_sql("b_ldd"), _fmt_int_sql("s_ldd")))
    rows.append(("Volatility (ann.)", *both(F_("{t}_vol"))))
    rows.append(("R^2", None, F_("POW(corrb, 2)")))
    rows.append(("Information Ratio", None, F_("ir")))
    rows.append(("Calmar", *both(F_(
        "(POW({t}_cum + 1, 252.0 / {t}_n) - 1) / ABS({t}_maxdd)"))))
    rows.append(("Skew", *both(F_("{t}_skv"))))
    rows.append(("Kurtosis", *both(F_("{t}_kuv"))))
    rows.append(("Expected Daily", *both(F_("{t}_geo"))))
    rows.append(("Expected Monthly", *both(F_("{t}_mon_geo"))))
    rows.append(("Expected Yearly", *both(F_("{t}_yr_geo"))))
    rows.append(("Kelly Criterion", *both(F_(
        "({t}_payoff * {t}_winrate - (1 - {t}_winrate)) / {t}_payoff"))))
    rows.append(("Risk of Ruin", *both(F_(
        "POW((1 - {t}_winrate) / (1 + {t}_winrate), {t}_n)"))))
    rows.append(("Daily Value-at-Risk", *both(F_("{t}_var"))))
    rows.append(("Expected Shortfall (cVaR)", *both(F_("{t}_cvar"))))
    rows.append(("Max Consecutive Wins", _fmt_int_sql("b_cwin"), _fmt_int_sql("s_cwin")))
    rows.append(("Max Consecutive Losses", _fmt_int_sql("b_closs"), _fmt_int_sql("s_closs")))
    rows.append(("Gain/Pain Ratio", *both(F_("{t}_g2p"))))
    rows.append(("Gain/Pain (1M)", *both(F_("{t}_g2p1m"))))
    rows.append(("Payoff Ratio", *both(F_("{t}_payoff"))))
    rows.append(("Profit Factor", *both(F_("{t}_pf"))))
    rows.append(("Common Sense Ratio", *both(F_("{t}_csr"))))
    rows.append(("CPC Index", *both(F_("{t}_cpc"))))
    rows.append(("Tail Ratio", *both(F_("{t}_tail"))))
    rows.append(("Outlier Win Ratio", *both(F_("{t}_outw"))))
    rows.append(("Outlier Loss Ratio", *both(F_("{t}_outl"))))
    rows.append(("MTD", *both(F_("{t}_w_mtd"))))
    rows.append(("3M", *both(F_("{t}_w_3m"))))
    rows.append(("6M", *both(F_("{t}_w_6m"))))
    rows.append(("YTD", *both(F_("{t}_w_ytd"))))
    rows.append(("1Y", *both(F_("{t}_w_1y"))))
    rows.append(("3Y (ann.)", *both(F_("{t}_w_3y"))))
    rows.append(("5Y (ann.)", *both(F_("{t}_w_5y"))))
    rows.append(("10Y (ann.)", *both(F_("{t}_w_10y"))))
    rows.append(("All-time (ann.)", *both(F_("{t}_cagr"))))
    rows.append(("Best Day", *both(F_("{t}_best"))))
    rows.append(("Worst Day", *both(F_("{t}_worst"))))
    rows.append(("Best Month", *both(F_("{t}_mon_best"))))
    rows.append(("Worst Month", *both(F_("{t}_mon_worst"))))
    rows.append(("Best Year", *both(F_("{t}_yr_best"))))
    rows.append(("Worst Year", *both(F_("{t}_yr_worst"))))
    rows.append(("Avg. Drawdown", *both(F_("{t}_avg_dd"))))
    rows.append(("Avg. Drawdown Days", *both(F_("{t}_avg_dd_days"))))
    rows.append(("Recovery Factor", *both(F_("{t}_recov"))))
    rows.append(("Ulcer Index", *both(F_("{t}_ulcer"))))
    rows.append(("Serenity Index", *both(F_(
        "{t}_rsum / ({t}_ulcer * (-{t}_ddcvar / {t}_rstd))"))))
    rows.append(("Avg. Up Month", *both(F_("{t}_mon_avg_win"))))
    rows.append(("Avg. Down Month", *both(F_("{t}_mon_avg_loss"))))
    rows.append(("Win Days", *both(F_("{t}_winrate"))))
    rows.append(("Win Month", *both(F_("{t}_mon_winrate"))))
    rows.append(("Win Quarter", *both(F_("{t}_qtr_winrate"))))
    rows.append(("Win Year", *both(F_("{t}_yr_winrate"))))
    rows.append(("Beta", None, F_("beta")))
    rows.append(("Alpha", None, F_("(s_meanv - beta * b_meanv) * 252")))
    rows.append(("Correlation", None, F_("corrb")))
    rows.append(("Treynor Ratio", None, F_("s_cum / beta")))

    selects = []
    for i, (label, bcell, scell) in enumerate(rows):
        b_sql = "'-'" if bcell is None else bcell
        label_sql = label.replace("'", "''")
        head = "SELECT " if i == 0 else "UNION ALL SELECT "
        alias = " AS Metric, " if i == 0 else ", "
        alias2 = " AS Benchmark, " if i == 0 else ", "
        alias3 = " AS Strategy" if i == 0 else ""
        selects.append(
            f"  {head}'{label_sql}'{alias}{b_sql}{alias2}{scell}{alias3} FROM z"
        )
    body = "\n".join(selects)

    return RETURNS_CTE + BENCH_CTE + """,
jf AS (
  SELECT rets.d AS d, COALESCE(bres.b, 0) AS cb, COALESCE(rets.r, 0) AS cs
  FROM rets JOIN bres ON rets.d = bres.d
),
mxx AS (SELECT MAX(d) AS md FROM jf)""" + _report_col_ctes("b", "cb") + _report_col_ctes("s", "cs") + """,
br AS (
  SELECT CORR(cs, cb) AS corrb,
         COVAR_SAMP(cs, cb) / VAR_SAMP(cb) AS beta,
         AVG(cs - cb) / STDDEV_SAMP(cs - cb) AS ir
  FROM jf
),
dr AS (SELECT MIN(d) AS mnd, MAX(d) AS mxd FROM jf),
z AS MATERIALIZED (SELECT * FROM sc2_b, sc2_s, br, dr)
SELECT Metric, Benchmark, Strategy FROM (
""" + body + "\n) t"


def register(add) -> None:
    """Register the report queries through ``add(name, query, oracle)``."""
    # Numeric report: the pre-formatting scalar table, value-hash checked
    # cell by cell (the string reports above get a separate formatted-string
    # oracle — 2-decimal formatting destroys numeric comparability). The PSR
    # row is included: the oracle evaluates Φ via _phi_sql.
    def _report_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = metrics(load_returns(spark, sf_dir), display=False, mode="basic", numeric=True)
        return _round_df(out)

    report_eps_cte = """,
repf AS (SELECT d, dd, CASE WHEN dd < 0 THEN 0 ELSE 1 END AS brk FROM dds),
repi AS (SELECT d, dd, brk, SUM(brk) OVER (ORDER BY d) AS isl FROM repf),
repeps AS (
  SELECT isl, MIN(dd) AS min_dd, COUNT(*) AS len
  FROM repi WHERE brk = 0 GROUP BY isl
)
"""
    report_sc_cte = RETURNS_CTE + DD_CTE + report_eps_cte + f""",
mx AS (SELECT MAX(d) AS md FROM rets),
monthly AS (SELECT SUM(r) AS mr FROM rets GROUP BY YEAR(d), MONTH(d)),
sc AS (
  SELECT
    (SELECT SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(r) FROM rets) AS tim,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets) AS cum,
    (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets) AS cagr_v,
    (SELECT AVG(r) / STDDEV_SAMP(r) * SQRT(252) FROM rets) AS sharpe_v,
    (SELECT AVG(r) / SQRT(AVG(POW(LEAST(r, 0), 2))) * SQRT(252) FROM rets) AS sortino_v,
    (SELECT SUM(GREATEST(r, 0)) / SUM(GREATEST(-r, 0)) FROM rets) AS omega_v,
    (SELECT MIN(dd) FROM dds) AS maxdd,
    (SELECT COALESCE(MAX(len), 0) FROM repeps) AS ldd,
    (SELECT SUM(r) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) FROM rets) AS g2p,
    (SELECT {_fdiv_sql("SUM(mr)", "ABS(SUM(CASE WHEN mr < 0 THEN mr ELSE 0 END))")} FROM monthly) AS g2p1m,
    (SELECT AVG(CASE WHEN r > 0 THEN r END) / ABS(AVG(CASE WHEN r < 0 THEN r END)) FROM rets) AS payoff,
    (SELECT SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) FROM rets) AS pf,
    (SELECT ABS(QUANTILE_CONT(r, 0.95)) / ABS(QUANTILE_CONT(r, 0.05)) FROM rets) AS tail,
    (SELECT (SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)))
          * (ABS(QUANTILE_CONT(r, 0.95)) / ABS(QUANTILE_CONT(r, 0.05))) FROM rets) AS csr,
    (SELECT (SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)))
          * ((SUM(CASE WHEN r >= 0 THEN r ELSE 0 END) / SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END))
             / (ABS(SUM(CASE WHEN r < 0 THEN r ELSE 0 END)) / SUM(CASE WHEN r < 0 THEN 1 ELSE 0 END)))
          * (SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) * 1.0 / SUM(CASE WHEN r <> 0 THEN 1 ELSE 0 END))
     FROM rets) AS cpc,
    (SELECT QUANTILE_CONT(r, 0.99) / AVG(CASE WHEN r >= 0 THEN r END) FROM rets) AS outw,
    (SELECT QUANTILE_CONT(r, 0.01) / AVG(CASE WHEN r < 0 THEN r END) FROM rets) AS outl,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx
      WHERE YEAR(d) = YEAR(md) AND MONTH(d) = MONTH(md)) AS w_mtd,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx WHERE d >= md - INTERVAL 3 MONTH) AS w_3m,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx WHERE d >= md - INTERVAL 6 MONTH) AS w_6m,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx WHERE YEAR(d) = YEAR(md)) AS w_ytd,
    (SELECT EXP(SUM(LN(1 + r))) - 1 FROM rets, mx WHERE d >= md - INTERVAL 12 MONTH) AS w_1y,
    (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets, mx
      WHERE d >= md - INTERVAL 36 MONTH) AS w_3y,
    (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets, mx
      WHERE d >= md - INTERVAL 60 MONTH) AS w_5y,
    (SELECT POW(EXP(SUM(LN(1 + r))), 252.0 / COUNT(r)) - 1 FROM rets, mx
      WHERE d >= md - INTERVAL 120 MONTH) AS w_10y,
    (SELECT COALESCE(AVG(min_dd), 0) FROM repeps) AS avg_dd,
    (SELECT COALESCE(AVG(len), 0) FROM repeps) AS avg_dd_days,
    (SELECT ABS(SUM(r)) FROM rets) / ABS((SELECT MIN(dd) FROM dds)) AS recov,
    (SELECT SQRT(SUM(dd * dd) / (COUNT(dd) - 1)) FROM dds) AS ulcer,
    (SELECT AVG(dd) + ({_Z95!r}) * STDDEV_SAMP(dd) FROM dds) AS ddvar,
    (SELECT STDDEV_SAMP(r) FROM rets) AS rstd,
    (SELECT SUM(r) FROM rets) AS rsum,
    (SELECT AVG(r) / STDDEV_SAMP(r) FROM rets) AS sr0,
    (SELECT SKEWNESS(r) FROM rets) AS skv,
    (SELECT KURTOSIS(r) FROM rets) AS kuv,
    (SELECT COUNT(r) FROM rets) AS nv
),
sc2 AS (
  SELECT sc.*,
    COALESCE((SELECT AVG(dd) FROM dds WHERE dd < sc.ddvar), sc.ddvar) AS ddcvar
  FROM sc
)"""

    add("report_numeric", _report_numeric, report_sc_cte + f"""
SELECT Metric, ROUND(Strategy, {ROUND}) AS Strategy FROM (
  SELECT 'Risk-Free Rate' AS Metric, 0.0 AS Strategy, 1 AS ord FROM sc2
  UNION ALL SELECT 'Time in Market', tim, 2 FROM sc2
  UNION ALL SELECT 'Cumulative Return', cum, 3 FROM sc2
  UNION ALL SELECT 'CAGR﹪', cagr_v, 4 FROM sc2
  UNION ALL SELECT 'Sharpe', sharpe_v, 5 FROM sc2
  UNION ALL SELECT 'Sortino', sortino_v, 6 FROM sc2
  UNION ALL SELECT 'Sortino/√2', sortino_v / SQRT(2), 7 FROM sc2
  UNION ALL SELECT 'Omega', omega_v, 8 FROM sc2
  UNION ALL SELECT 'Max Drawdown', maxdd, 9 FROM sc2
  UNION ALL SELECT 'Longest DD Days', ldd, 10 FROM sc2
  UNION ALL SELECT 'Gain/Pain Ratio', g2p, 11 FROM sc2
  UNION ALL SELECT 'Gain/Pain (1M)', g2p1m, 12 FROM sc2
  UNION ALL SELECT 'Payoff Ratio', payoff, 13 FROM sc2
  UNION ALL SELECT 'Profit Factor', pf, 14 FROM sc2
  UNION ALL SELECT 'Common Sense Ratio', csr, 15 FROM sc2
  UNION ALL SELECT 'CPC Index', cpc, 16 FROM sc2
  UNION ALL SELECT 'Tail Ratio', tail, 17 FROM sc2
  UNION ALL SELECT 'Outlier Win Ratio', outw, 18 FROM sc2
  UNION ALL SELECT 'Outlier Loss Ratio', outl, 19 FROM sc2
  UNION ALL SELECT 'MTD', w_mtd, 20 FROM sc2
  UNION ALL SELECT '3M', w_3m, 21 FROM sc2
  UNION ALL SELECT '6M', w_6m, 22 FROM sc2
  UNION ALL SELECT 'YTD', w_ytd, 23 FROM sc2
  UNION ALL SELECT '1Y', w_1y, 24 FROM sc2
  UNION ALL SELECT '3Y (ann.)', w_3y, 25 FROM sc2
  UNION ALL SELECT '5Y (ann.)', w_5y, 26 FROM sc2
  UNION ALL SELECT '10Y (ann.)', w_10y, 27 FROM sc2
  UNION ALL SELECT 'All-time (ann.)', cagr_v, 28 FROM sc2
  UNION ALL SELECT 'Avg. Drawdown', avg_dd, 29 FROM sc2
  UNION ALL SELECT 'Avg. Drawdown Days', avg_dd_days, 30 FROM sc2
  UNION ALL SELECT 'Recovery Factor', recov, 31 FROM sc2
  UNION ALL SELECT 'Ulcer Index', ulcer, 32 FROM sc2
  UNION ALL SELECT 'Serenity Index', rsum / (ulcer * (-ddcvar / rstd)), 33 FROM sc2
  UNION ALL SELECT 'Prob. Sharpe Ratio',
    {_phi_sql(_psr_x_sql("sr0", "skv", "kuv", "nv"))}, 34 FROM sc2
) t ORDER BY ord""")

    # Formatted string report (the reference's user-facing contract,
    # ``alphastats/reports.py:539-553``): every numeric cell is rendered by
    # the SAME ``str(round(v, 2))`` semantics in DuckDB (_fmt_sql), so the
    # legacy string table is value-hashed — not rows-only — including the
    # ISO date rows and the integer Longest-DD-Days cell.
    add("report_basic",
        lambda spark, sf_dir: metrics(
            load_returns(spark, sf_dir), display=False, mode="basic"
        ),
        report_sc_cte + f""",
dr AS (SELECT MIN(d) AS mnd, MAX(d) AS mxd FROM rets)
SELECT Metric, Strategy FROM (
  SELECT 'Start Period' AS Metric, CAST(mnd AS VARCHAR) AS Strategy FROM dr
  UNION ALL SELECT 'End Period', CAST(mxd AS VARCHAR) FROM dr
  UNION ALL SELECT 'Risk-Free Rate', '0' FROM sc2
  UNION ALL SELECT 'Time in Market', {_fmt_sql("tim")} FROM sc2
  UNION ALL SELECT 'Cumulative Return', {_fmt_sql("cum")} FROM sc2
  UNION ALL SELECT 'CAGR﹪', {_fmt_sql("cagr_v")} FROM sc2
  UNION ALL SELECT 'Sharpe', {_fmt_sql("sharpe_v")} FROM sc2
  UNION ALL SELECT 'Prob. Sharpe Ratio',
    {_fmt_sql(_phi_sql(_psr_x_sql("sr0", "skv", "kuv", "nv")))} FROM sc2
  UNION ALL SELECT 'Sortino', {_fmt_sql("sortino_v")} FROM sc2
  UNION ALL SELECT 'Sortino/√2', {_fmt_sql("sortino_v / SQRT(2)")} FROM sc2
  UNION ALL SELECT 'Omega', {_fmt_sql("omega_v")} FROM sc2
  UNION ALL SELECT 'Max Drawdown', {_fmt_sql("maxdd")} FROM sc2
  UNION ALL SELECT 'Longest DD Days', {_fmt_int_sql("ldd")} FROM sc2
  UNION ALL SELECT 'Gain/Pain Ratio', {_fmt_sql("g2p")} FROM sc2
  UNION ALL SELECT 'Gain/Pain (1M)', {_fmt_sql("g2p1m")} FROM sc2
  UNION ALL SELECT 'Payoff Ratio', {_fmt_sql("payoff")} FROM sc2
  UNION ALL SELECT 'Profit Factor', {_fmt_sql("pf")} FROM sc2
  UNION ALL SELECT 'Common Sense Ratio', {_fmt_sql("csr")} FROM sc2
  UNION ALL SELECT 'CPC Index', {_fmt_sql("cpc")} FROM sc2
  UNION ALL SELECT 'Tail Ratio', {_fmt_sql("tail")} FROM sc2
  UNION ALL SELECT 'Outlier Win Ratio', {_fmt_sql("outw")} FROM sc2
  UNION ALL SELECT 'Outlier Loss Ratio', {_fmt_sql("outl")} FROM sc2
  UNION ALL SELECT 'MTD', {_fmt_sql("w_mtd")} FROM sc2
  UNION ALL SELECT '3M', {_fmt_sql("w_3m")} FROM sc2
  UNION ALL SELECT '6M', {_fmt_sql("w_6m")} FROM sc2
  UNION ALL SELECT 'YTD', {_fmt_sql("w_ytd")} FROM sc2
  UNION ALL SELECT '1Y', {_fmt_sql("w_1y")} FROM sc2
  UNION ALL SELECT '3Y (ann.)', {_fmt_sql("w_3y")} FROM sc2
  UNION ALL SELECT '5Y (ann.)', {_fmt_sql("w_5y")} FROM sc2
  UNION ALL SELECT '10Y (ann.)', {_fmt_sql("w_10y")} FROM sc2
  UNION ALL SELECT 'All-time (ann.)', {_fmt_sql("cagr_v")} FROM sc2
  UNION ALL SELECT 'Avg. Drawdown', {_fmt_sql("avg_dd")} FROM sc2
  UNION ALL SELECT 'Avg. Drawdown Days', {_fmt_sql("avg_dd_days")} FROM sc2
  UNION ALL SELECT 'Recovery Factor', {_fmt_sql("recov")} FROM sc2
  UNION ALL SELECT 'Ulcer Index', {_fmt_sql("ulcer")} FROM sc2
  UNION ALL SELECT 'Serenity Index',
    {_fmt_sql("rsum / (ulcer * (-ddcvar / rstd))")} FROM sc2
) t""")

    add("report_full_bench",
        lambda spark, sf_dir: metrics(
            load_returns(spark, sf_dir),
            benchmark=load_benchmark(spark, sf_dir),
            display=False,
            mode="full",
        ),
        _report_full_bench_sql())
