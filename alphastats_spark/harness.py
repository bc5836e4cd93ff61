"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Each SURVEY §2 operator gets a named query over the driver's synthetic
tables and an equivalent ANSI-SQL oracle that DuckDB runs on the same
parquet. The shared input is a deterministic daily returns series derived
from ``orders`` (daily revenue pct-change) — and a benchmark series from
``lineitem`` — so every metric exercises the real ingest path
(parquet scan → groupBy → ordered lag → metric).

Both sides round results to 7 decimals: Spark and DuckDB aggregate floats in
different orders, so unrounded values differ at ~1e-12 relative; the
driver's value-hash comparison needs bit-identical output.
"""

from __future__ import annotations

import contextlib
import math
import os
import threading
from statistics import NormalDist

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from alphastats_spark import expressions as X
from alphastats_spark import stats
from alphastats_spark.operators import islands, joins, ordered

ROUND = 7


def _fdiv_sql(n: str, d: str) -> str:
    """Spark/Polars float-division semantics in DuckDB SQL.

    DuckDB 1.0 has no IEEE division (x/0.0 → NULL); the engine's
    ``expressions.fdiv`` gives x/0 → ±inf, 0/0 → NaN (the reference's
    Polars behavior). Needed wherever a denominator is STRUCTURALLY
    reachable as exactly 0 — e.g. gain/pain on monthly sums when the
    window contains no negative month (first observed at sf0.1: the 10×
    corpus has all-positive months, Spark answered inf, the naive oracle
    NULL)."""
    return (
        f"(CASE WHEN ({d}) = 0 THEN (CASE WHEN ({n}) > 0 THEN 'infinity'::DOUBLE"
        f" WHEN ({n}) < 0 THEN '-infinity'::DOUBLE ELSE 'nan'::DOUBLE END)"
        f" ELSE ({n}) / ({d}) END)"
    )


# ---------------------------------------------------------------------------
# shared input derivation

RETURNS_CTE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d, SUM(o_totalprice) AS rev
    FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
rets0 AS (
    SELECT d, rev / LAG(rev) OVER (ORDER BY d) - 1 AS r FROM daily
),
rets AS (SELECT d, r FROM rets0 WHERE r IS NOT NULL)
"""

BENCH_CTE = """,
bdaily AS (
    SELECT CAST(l_shipdate AS DATE) AS d, SUM(l_extendedprice * (1 - l_discount)) AS rev
    FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
),
bres0 AS (
    SELECT d, rev / LAG(rev) OVER (ORDER BY d) - 1 AS b FROM bdaily
),
bres AS (SELECT d, b FROM bres0 WHERE b IS NOT NULL)
"""

# drawdown series in log space — mirrors operators.ordered.add_drawdown_columns
DD_CTE = """,
wealth AS (
    SELECT d, r, EXP(SUM(LN(1 + r)) OVER (ORDER BY d)) AS w FROM rets
),
dds AS (
    SELECT d, r, LEAST(w / MAX(w) OVER (ORDER BY d) - 1, 0) AS dd FROM wealth
)
"""


def _daily_pct_change(daily: DataFrame, out: str) -> DataFrame:
    """pct-change over a per-DAY aggregate via one plain global-order lag.

    The window input here is the post-aggregate table, whose cardinality is
    the number of distinct calendar days — bounded by time span, NOT by
    input bytes (a century of daily data is ~36.5k rows), so the
    single-task sort is a few-KB no-op at ANY corpus scale while the heavy
    reduction (groupBy day) stays fully distributed. The general two-phase
    prefix machinery (``operators.ordered``) remains the right shape for
    UNBOUNDED series (tick data, per-row frames); using it on this
    day-bounded table cost 3 extra jobs per ingest (persist + bucket
    aggregate + broadcast join) and ~1.0 s of every financial bench query
    (guide §8: do the ordered work on the small reduced table). Values are
    identical by construction — pinned in tests/test_operators.py."""
    from pyspark.sql import Window

    w = Window.orderBy("d")
    return (
        daily.withColumn(out, F.col("rev") / F.lag("rev").over(w) - 1)
        .where(F.col(out).isNotNull())
        .select("d", out)
    )


def load_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → daily revenue → pct-change returns (temporal col ``d``)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    return _daily_pct_change(daily, "r")


def load_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    return _daily_pct_change(daily, "b")


def _round_df(df: DataFrame) -> DataFrame:
    """Round every double column to ROUND decimals (hash stability)."""
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            cols.append(F.round(F.col(f.name), ROUND).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _metric_query(fn):
    """Wrap a stats metric: (spark, sf_dir) → 1-row DF aliased ``value``."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        res = fn(load_returns(spark, sf_dir))
        return _round_df(res.select(F.col("r").alias("value")))

    return q


def _bench_query(fn):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        res = fn(load_returns(spark, sf_dir), load_benchmark(spark, sf_dir))
        return _round_df(res.select(F.col("r").alias("value")))

    return q


def _scalar_sql(expr: str, extra_cte: str = "") -> str:
    return f"{RETURNS_CTE}{extra_cte}\nSELECT ROUND(({expr}), {ROUND}) AS value FROM rets"


_Z95 = NormalDist().inv_cdf(0.05)  # -1.6448536269514722


def _phi_sql(x: str) -> str:
    """Standard normal CDF Φ(x) as a pure-SQL DuckDB scalar expression.

    DuckDB 1.0 has no erf/normal-CDF builtin, so Φ is evaluated from the
    exact Maclaurin series of erf — Φ(x) = ½ + sign(x)/√π · Σₙ (−1)ⁿ
    z^(2n+1)/(n!(2n+1)) with z = |x|/√2 — summed over 80 terms via
    ``generate_series`` with factorials through ``lgamma`` (no memorized
    rational-approximation coefficients to transcribe wrongly). Measured
    max |Φ_sql − NormalDist().cdf| < 7e-10 on |x| < 5.7, i.e. exact at the
    driver's 7-decimal rounding; |x| ≥ 5.7 clamps to 0/1, where the true
    tail < 6e-9 rounds to the same value. The GREATEST(…, 1e-300) floor
    keeps LN defined at x = 0 (series sum is then 0 → Φ = 0.5)."""
    return (
        f"(CASE WHEN ({x}) >= 5.7 THEN 1.0 WHEN ({x}) <= -5.7 THEN 0.0 ELSE "
        f"0.5 + SIGN({x}) / SQRT(PI()) * (SELECT SUM((1 - 2*(t.i % 2)) * "
        f"EXP((2*t.i+1)*LN(GREATEST(ABS({x})/SQRT(2), 1e-300)) "
        f"- LGAMMA(t.i + 1.0) - LN(2*t.i + 1.0))) "
        f"FROM generate_series(0, 79) AS t(i)) END)"
    )


def _psr_x_sql(sr: str = "sr", sk: str = "sk", ku: str = "ku", n: str = "n") -> str:
    """PSR test statistic (reference ``alphastats/stats.py:255-323``):
    (SR − SR*)/σ_SR with SR* = 0, σ_SR = √((1 + ½SR² − γ₃SR + ((γ₄−3)/4)SR²)/(n−1)).
    γ₄ here is the bias-corrected *excess* kurtosis (DuckDB KURTOSIS ==
    the expressions kurtosis formula), and the reference subtracts 3 from it
    again — mirrored verbatim."""
    return (
        f"({sr}) / SQRT((1 + 0.5*({sr})*({sr}) - ({sk})*({sr}) "
        f"+ ((({ku}) - 3)/4.0)*({sr})*({sr})) / (({n}) - 1))"
    )


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


def build_registry():
    """Return (queries, oracles) dicts for the driver contract."""
    q: dict = {}
    o: dict = {}

    def add(name, query_fn, oracle: str | None):
        q[name] = query_fn
        if oracle is not None:
            o[name] = oracle

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
        from alphastats_spark.operators.rolling import trailing_metrics

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
        from alphastats_spark.operators.rolling import trailing_metrics

        long_df = (
            load_returns(spark, sf_dir).select(F.lit("a").alias("asset"), "d", "r")
            .unionByName(
                load_benchmark(spark, sf_dir).select(
                    F.lit("b").alias("asset"), "d", F.col("b").alias("r")
                )
            )
        )
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
        from alphastats_spark.operators.rolling import rolling_greeks

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
        from alphastats_spark.operators.rolling import rolling_greeks

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
        from alphastats_spark.operators.rolling import rolling_greeks

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
        from alphastats_spark.long_frame import metrics_by_key

        long_df = (
            load_returns(spark, sf_dir).select(F.lit("a").alias("asset"), "d", "r")
            .unionByName(
                load_benchmark(spark, sf_dir).select(
                    F.lit("b").alias("asset"), "d", F.col("b").alias("r")
                )
            )
        )
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
        from pyspark.sql import Window

        from alphastats_spark.long_frame import correlation_matrix

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
        from alphastats_spark.long_frame import smart_ratios_by_key

        long_df = (
            load_returns(spark, sf_dir).select(F.lit("a").alias("asset"), "d", "r")
            .unionByName(
                load_benchmark(spark, sf_dir).select(
                    F.lit("b").alias("asset"), "d", F.col("b").alias("r")
                )
            )
        )
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
        from alphastats_spark.long_frame import benchmark_metrics_by_key

        long_df = (
            load_returns(spark, sf_dir).select(F.lit("a").alias("asset"), "d", "r")
            .unionByName(
                load_benchmark(spark, sf_dir).select(
                    F.lit("b").alias("asset"), "d", F.col("b").alias("r")
                )
            )
        )
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
    # Numeric report: the pre-formatting scalar table, value-hash checked
    # cell by cell (the string reports above get a separate formatted-string
    # oracle — 2-decimal formatting destroys numeric comparability). The PSR
    # row is included: the oracle evaluates Φ via _phi_sql.
    def _report_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
        from alphastats_spark.reports import metrics

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
    def _fmt(x: str) -> str:
        return _fmt_sql(x)

    add("report_basic",
        lambda spark, sf_dir: __import__("alphastats_spark.reports", fromlist=["metrics"]).metrics(
            load_returns(spark, sf_dir), display=False, mode="basic"
        ),
        report_sc_cte + f""",
dr AS (SELECT MIN(d) AS mnd, MAX(d) AS mxd FROM rets)
SELECT Metric, Strategy FROM (
  SELECT 'Start Period' AS Metric, CAST(mnd AS VARCHAR) AS Strategy FROM dr
  UNION ALL SELECT 'End Period', CAST(mxd AS VARCHAR) FROM dr
  UNION ALL SELECT 'Risk-Free Rate', '0' FROM sc2
  UNION ALL SELECT 'Time in Market', {_fmt("tim")} FROM sc2
  UNION ALL SELECT 'Cumulative Return', {_fmt("cum")} FROM sc2
  UNION ALL SELECT 'CAGR﹪', {_fmt("cagr_v")} FROM sc2
  UNION ALL SELECT 'Sharpe', {_fmt("sharpe_v")} FROM sc2
  UNION ALL SELECT 'Prob. Sharpe Ratio',
    {_fmt(_phi_sql(_psr_x_sql("sr0", "skv", "kuv", "nv")))} FROM sc2
  UNION ALL SELECT 'Sortino', {_fmt("sortino_v")} FROM sc2
  UNION ALL SELECT 'Sortino/√2', {_fmt("sortino_v / SQRT(2)")} FROM sc2
  UNION ALL SELECT 'Omega', {_fmt("omega_v")} FROM sc2
  UNION ALL SELECT 'Max Drawdown', {_fmt("maxdd")} FROM sc2
  UNION ALL SELECT 'Longest DD Days', {_fmt_int_sql("ldd")} FROM sc2
  UNION ALL SELECT 'Gain/Pain Ratio', {_fmt("g2p")} FROM sc2
  UNION ALL SELECT 'Gain/Pain (1M)', {_fmt("g2p1m")} FROM sc2
  UNION ALL SELECT 'Payoff Ratio', {_fmt("payoff")} FROM sc2
  UNION ALL SELECT 'Profit Factor', {_fmt("pf")} FROM sc2
  UNION ALL SELECT 'Common Sense Ratio', {_fmt("csr")} FROM sc2
  UNION ALL SELECT 'CPC Index', {_fmt("cpc")} FROM sc2
  UNION ALL SELECT 'Tail Ratio', {_fmt("tail")} FROM sc2
  UNION ALL SELECT 'Outlier Win Ratio', {_fmt("outw")} FROM sc2
  UNION ALL SELECT 'Outlier Loss Ratio', {_fmt("outl")} FROM sc2
  UNION ALL SELECT 'MTD', {_fmt("w_mtd")} FROM sc2
  UNION ALL SELECT '3M', {_fmt("w_3m")} FROM sc2
  UNION ALL SELECT '6M', {_fmt("w_6m")} FROM sc2
  UNION ALL SELECT 'YTD', {_fmt("w_ytd")} FROM sc2
  UNION ALL SELECT '1Y', {_fmt("w_1y")} FROM sc2
  UNION ALL SELECT '3Y (ann.)', {_fmt("w_3y")} FROM sc2
  UNION ALL SELECT '5Y (ann.)', {_fmt("w_5y")} FROM sc2
  UNION ALL SELECT '10Y (ann.)', {_fmt("w_10y")} FROM sc2
  UNION ALL SELECT 'All-time (ann.)', {_fmt("cagr_v")} FROM sc2
  UNION ALL SELECT 'Avg. Drawdown', {_fmt("avg_dd")} FROM sc2
  UNION ALL SELECT 'Avg. Drawdown Days', {_fmt("avg_dd_days")} FROM sc2
  UNION ALL SELECT 'Recovery Factor', {_fmt("recov")} FROM sc2
  UNION ALL SELECT 'Ulcer Index', {_fmt("ulcer")} FROM sc2
  UNION ALL SELECT 'Serenity Index',
    {_fmt("rsum / (ulcer * (-ddcvar / rstd))")} FROM sc2
) t""")

    add("report_full_bench",
        lambda spark, sf_dir: __import__("alphastats_spark.reports", fromlist=["metrics"]).metrics(
            load_returns(spark, sf_dir),
            benchmark=load_benchmark(spark, sf_dir),
            display=False,
            mode="full",
        ),
        _report_full_bench_sql())

    _add_streaming(add)
    _add_extensions(add)
    _add_alias_registrations(add, o)

    # Registration-order policy: the driver's correctness gate evaluates the
    # FIRST 50 registered queries each round. Each round's window is
    # priority-ordered: (a) repaired failures, (b) queries registered or
    # whose oracle changed this round, (c) queries whose implementation
    # changed since their last green row, (d) the stalest remaining green
    # rows. History: r1 scalar/order/monthly 50/50; r2 42/50; r3 47/50
    # (3 events ts-type failures, repaired r4); r4 50/50. Round 5
    # front-loads (b) the 6 new/changed-oracle queries (JPEG, streaming
    # sessions, the three *_nulls injections, and dedup_corpus whose output
    # became the lineage schema), (c) 21 queries over machinery revised
    # this round — the episode-id null-boundary fix (episode stats, the
    # three reports, the keyed long frame) and the prefix-pass persist
    # rework (drawdown/streak/lag/as-of families), and (d) the ENTIRE
    # 23-name backlog whose only green row is r1/r2-era (18 r1 scalar
    # compositions + 5 r2 text queries) — after this window no registered
    # query's newest green row predates r3. (b)+(c)+(d) = 50 exactly.
    front = [n for n in _ROUND14_WINDOW if n in q]
    rest = [n for n in q if n not in _ROUND14_WINDOW]
    q = {n: q[n] for n in front + rest}
    o = {n: o[n] for n in front + rest if n in o}
    return q, o


_ROUND14_WINDOW = [
    # Round 14 window (50 slots). Priority (a) repaired fails: none — r13
    # was 50/50. Priority (b): the five queries REGISTERED this round —
    # doc_bm25_topk (Okapi BM25 lexical retrieval, zero-shuffle map
    # shape), doc_hybrid_rrf (reciprocal-rank fusion of the BM25 and
    # dense-cosine top-k lists), corpus_js_divergence (smoothed KL/JS
    # drift diagnostic between two corpus slices), ann_mmr_rerank
    # (MMR diversity cut over the brute-force top-20), and
    # doc_winnow_fingerprints (MOSS winnowing local fingerprints).
    # Priority (c) implementation changed since last green: the two
    # TF-IDF queries (the forced vocabulary-sized doc_freq broadcast
    # became hint-free / AQE-decided — the r13 verdict's one weak item),
    # and two representatives of the dedup index machinery whose meta
    # write/read path gained the frozen-coefficient checksum stamp
    # (dedup_index_admit exercises write+read, the streaming twin
    # exercises the stream-side resolve; values are pinned unchanged —
    # the frozen table equals the old derivation byte-for-byte).
    "doc_bm25_topk", "doc_hybrid_rrf", "corpus_js_divergence",
    "ann_mmr_rerank", "doc_winnow_fingerprints",
    "doc_tfidf_topk", "doc_tfidf_pairs",
    "dedup_index_admit", "dedup_streaming_index_candidates",
    # Priority (d): the ENTIRE 31-name r9-stale pool (the r13 verdict
    # item 3's exact list) — after this window no registered query's
    # newest driver green predates r10.
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
    # Priority (e): 14 rotation slots over the oldest (r10-stale) pool —
    # heavyweights and machinery diversity first: the ANN/embedding
    # stack, the stateful streaming trio, then dedup/corpus fills. The
    # remaining 32 r10-stale names front the r15 rotation.
    "ann_cosine_topk", "ann_ivf_topk", "ann_ivfpq_topk", "ann_lsh_topk",
    "emb_label_centroids", "emb_near_dups_lsh", "emb_semdedup",
    "streaming_drawdowns_keyed", "event_funnel_streaming",
    "event_attribution_streaming",
]


_ROUND13_WINDOW = [
    # Round 13 window (50 slots). Priority (a) repaired fails: none — r12
    # was 50/50. Priority (b)+(c): every query whose Spark machinery OR
    # oracle changed with the r13 MinHash family flip (md5-per-seed →
    # one-md5 affine31 universal hashing) — the signature values, band
    # signatures and (where candidates differ) verified sets all change,
    # so the whole family must re-prove cross-engine parity in the
    # driver's gate, not just the replica sweep. dedup_banding_recommend
    # re-gates for its oracle's integer-floor-division fix;
    # doc_classifier_score and doc_tfidf_pairs are the two queries
    # REGISTERED this round (the fastText-style supervised quality
    # scorer; the all-pairs TF-IDF cosine join).
    "doc_classifier_score", "doc_tfidf_pairs",
    "dedup_minhash_signatures", "dedup_lsh_candidates",
    "dedup_streaming_candidates", "dedup_lsh_verified", "dedup_lsh_params",
    "dedup_banding_recommend", "dedup_corpus", "corpus_curation_pipeline",
    "dedup_incremental_admit", "doc_benchmark_leakage",
    "doc_decontaminate_fuzzy", "dedup_index_admit", "dedup_index_compacted",
    "dedup_streaming_index_candidates",
    # Priority (d): the ENTIRE 20-name r8-stale pool (the r12 verdict
    # item 2's exact list) — after this window no registered query's
    # newest driver green predates r9.
    "avg_return", "calmar", "cvar", "expected_return", "five_year",
    "gain_to_pain_ratio", "kurtosis", "mtd", "one_year", "profit_factor",
    "recovery_factor", "serenity_index", "six_month", "skew", "ten_year",
    "three_month", "three_year", "ulcer_index", "win_rate", "ytd",
    # Priority (e): 14 rotation slots over the r9-stale pool (4 of that
    # pool — lsh_candidates/lsh_verified/dedup_corpus/benchmark_leakage —
    # already re-gate above as family picks). Heavyweights first: the
    # three report string-parity queries, the as-of-join metric family,
    # drawdown machinery, the real-JPEG decode path, then dedup/event
    # fills. The remaining r9-stale names front the r14 rotation.
    "report_basic", "report_full_bench", "report_numeric", "greeks",
    "information_ratio", "max_drawdown", "to_drawdowns",
    "probabilistic_sharpe_ratio", "media_decode_jpeg",
    "multi_asset_metrics_long", "dedup_clusters", "dedup_exact_nulls",
    "doc_substring_dedup", "event_retention",
]


_ROUND12_WINDOW = [
    # Round 12 window (50 slots). Priority (a) repaired fails: none — r11
    # was 50/50. Priority (b): the two queries REGISTERED this round —
    # dedup_lsh_params (the parameterized banding family at a non-default
    # (k=12, rows_per_band=3) against a parameter-mirrored oracle, the
    # r11 verdict item 6) and dedup_banding_recommend (the threshold →
    # family advisor vs an independent DuckDB formulation). win_rate
    # (an (e) scalar fill, r8-green) yields its slot to stay at 50.
    "dedup_lsh_params", "dedup_banding_recommend",
    # Priority (c): machinery revised this round — the banding
    # parameterization rewired every LSH entry point (module-constant
    # defaults, _band_table divisibility validation, streaming default
    # resolution, parameterized oracle SQL generators), so the index /
    # admit / streaming-index / compaction family re-gates now. All are
    # also r8-stale, so they double as rotation picks.
    "dedup_ngram_jaccard", "dedup_containment", "dedup_incremental_admit",
    "dedup_index_admit", "dedup_index_compacted",
    "dedup_streaming_index_candidates", "ann_knn_join", "ann_ivf_compacted",
    # Priority (d): ALL 23 queries whose newest driver-green row is r7
    # (the r11 verdict item 2's exact list) — after this window no
    # registered query's newest green predates r8.
    "best_month", "calendar_summary", "consecutive_losses",
    "corpus_ngram_counts", "correlation", "cust_fuzzy_names", "doc_chunks",
    "doc_redact_pii", "doc_score_percentiles", "doc_tfidf_topk",
    "docs_orc_roundtrip", "expected_monthly", "monthly_returns",
    "multi_asset_greeks_long", "multi_asset_sharpe",
    "smart_adjusted_sortino", "smart_sharpe", "trailing_windows",
    "treynor_ratio", "weekly_returns", "win_month", "win_quarter",
    "worst_year",
    # Priority (e): 18 rotation slots over the remaining r8-stale pool —
    # decontamination/attribution/media/overlap first (r11 verdict's
    # named picks), then pipeline/event/scalar fills. The 19 left out
    # (calendar scalars and composition singles) front the r13 rotation.
    "corpus_overlap_matrix", "doc_decontaminate", "doc_decontaminate_hashed",
    "event_attribution", "event_attribution_first", "media_frames_real",
    "corpus_pack_greedy", "corpus_source_stats", "doc_quality_filter",
    "event_hourly_counts", "r_squared",
    "sharpe", "sortino", "volatility", "cagr", "comp", "tail_ratio",
]


_ROUND11_WINDOW = [
    # Round 11 window (50 slots). Priority (a) repaired fails: none — r10
    # was 50/50. Priority (b): the two queries REGISTERED this round —
    # the end-to-end curation composition (pipeline.curate_corpus, per-doc
    # lineage vs an independent staged MATERIALIZED-CTE chain) and the
    # streaming URL-dedup twin (first-seen canonical admission over a
    # boundary-straddling two-batch feed) — plus doc_url_dedup, whose
    # operator (null-safe window key) AND oracle (full-pattern guard +
    # malformed-URL feed branch) both changed this round.
    # ... and the two ops registered mid-round — corpus-wide duplicate-
    # paragraph removal (paragraph_dedup, injected multi-paragraph feed)
    # and n-gram novelty vs a reference corpus (ngram_novelty) — each
    # taking a priority-(b) slot and displacing one (e) rotation slot
    # (doc_chunks, doc_tfidf_topk → front the r12 rotation instead).
    "corpus_curation_pipeline", "doc_url_dedup_streaming", "doc_url_dedup",
    "doc_paragraph_dedup", "doc_ngram_novelty",
    # Priority (c): machinery REVISED this round — checks._violation_expr
    # now delegates to the extracted row_violation predicate (the curation
    # stage-1 gate), transited by the constraint-report gate.
    "corpus_constraint_report",
    # Priority (d): ALL 26 queries whose newest driver-green row is r6
    # (r10 verdict item 2's exact list).
    "asset_correlation_matrix", "cdar", "corpus_length_quantiles",
    "corpus_shards", "doc_chunk_shards", "doc_dsir_select",
    "doc_hash_embed", "doc_lm_buckets", "doc_url_domains",
    "docs_jsonl_roundtrip", "event_gap_profile", "event_hourly_uniques",
    "event_interval_join", "event_top_paths", "event_value_anomalies",
    "media_decode_real", "multi_asset_smart_long", "psr",
    "returns_csv_roundtrip", "returns_partitioned_sink", "rolling_corr_30d",
    "rolling_greeks_30d", "rolling_greeks_30d_keyed", "rolling_metrics_30d",
    "rolling_trailing_30d", "rolling_trailing_30d_keyed",
    # Priority (e): 20 rotation slots over the 41 r7-stale queries,
    # machinery-churn first (r10 verdict: ann index family, simhash,
    # streaming dedup, media_resize_real), then the similarity /
    # events-streaming / pipeline-split families; corpus_group_split is
    # also transited by the new curation composition. The 21 left out
    # (scalar compositions, calendar aggregates, roundtrips, fuzzy names)
    # front the r12 rotation.
    "ann_ivf_append", "ann_ivf_partitioned", "ann_ivfpq_refine",
    "dedup_simhash", "dedup_simhash_pairs",
    "dedup_streaming_candidates", "dedup_streaming_exact",
    "media_resize_real",
    "emb_near_dups", "emb_quantize_int8",
    "event_funnel", "event_funnel_times", "event_sessionization",
    "event_session_windows", "event_hourly_streaming",
    "corpus_group_split", "corpus_sample_stratified",
    "doc_repetition",
]


_ROUND10_WINDOW = [
    # Round 10 window (50 slots). Priority (a) repaired fails: none — r9
    # was 50/50. Priority (b): the two queries REGISTERED this round —
    # fuzzy training-side decontamination (dedup.decontaminate_fuzzy,
    # lineage mode: per-train-doc worst bench match + clean/leaked_dropped
    # reason, independent ROW_NUMBER oracle), last-touch attribution
    # through genuine stateful streaming (streaming_attribution: TWO
    # time-split micro-batches so touch→conversion pairs straddle the
    # boundary; in-query assertions pin the 2-batch feed and the
    # cross-batch state hit; batch last_touch oracle), and URL-level
    # dedup (text.canonical_url + dedup.url_dedup — injected URL variants
    # exercise every canonicalization rule; the oracle re-implements the
    # rewrite chain independently in DuckDB). Its slot comes from
    # doc_dsir_select, whose r10 sweep rows at both scale factors stand
    # in (driver green r6 — within the rotation constraint).
    "doc_decontaminate_fuzzy", "event_attribution_streaming",
    "doc_url_dedup",
    # Priority (c): machinery REVISED this round — _violation_expr now
    # coalesces the zero-row SUM (empty tables report 0 violations /
    # passed=true), transited by the constraint-report gate.
    "corpus_constraint_report",
    # Priority (d): ALL 31 queries whose newest driver-green row is r5
    # (r9 verdict item 5) — machinery families first (streak islands,
    # autocorrelation penalty, drawdown-island durations, text
    # stats/quality/markup/token machinery incl. the null-injected
    # variants), then the single-pass scalar-agg compositions. After
    # these, no registered query's newest green predates r6.
    "consecutive_wins", "autocorr_penalty", "smart_sortino",
    "adjusted_sortino", "longest_drawdown_days", "avg_drawdown_days",
    "avg_drawdown", "doc_text_stats", "doc_text_stats_nulls",
    "doc_quality", "doc_quality_filter_nulls", "doc_strip_markup",
    "doc_token_counts", "doc_topk_quality",
    "sharpe_rf", "value_at_risk", "cagr_simple", "best", "worst",
    "avg_win", "avg_loss", "payoff_ratio", "omega", "exposure",
    "cpc_index", "common_sense_ratio", "gain_to_pain_ratio_1m",
    "outlier_win_ratio", "outlier_loss_ratio", "kelly_criterion",
    "risk_of_ruin",
    # Priority (e): 15 rotation slots over the 41 r6-stale queries,
    # machinery-first (r9 verdict: r6 greens whose machinery changed
    # since): the stateful streaming family (hot-list collect gating,
    # r9), the dedup signature/guard machinery (hashed shingle keys r8,
    # fused mega-bucket guard r9), the ANN/similarity family (knn sizing
    # cache + PQ paths r8), and pipeline sampling/rollup (cap/bounded
    # list + split machinery r9). The 26 left out (quantiles/shards/
    # roundtrips/rolling windows re-verified by the committed two-scale
    # sweeps) front the r11 rotation.
    "streaming_drawdowns", "streaming_drawdowns_keyed",
    "event_funnel_streaming",
    "dedup_exact", "dedup_minhash_signatures", "emb_semdedup",
    "emb_near_dups_lsh",
    "ann_cosine_topk", "ann_ivf_topk", "ann_ivfpq_topk", "ann_lsh_topk",
    "emb_label_centroids",
    "corpus_hash_split", "corpus_weighted_sample", "corpus_rollup_stats",
]


_ROUND9_WINDOW = [
    # Round 9 window (50 slots). Priority (a) repaired fails: none — r8
    # was 50/50. Priority (b): the one query REGISTERED this round —
    # linear multi-touch attribution (events.attribute_conversions
    # model="linear": collect_list over the same trailing RANGE frame,
    # exploded to per-touch credit rows; oracle is the independent
    # touches⋈conversions DuckDB formulation) and its position-based
    # (U-shaped 40/20/40) sibling, which ranks by ROW_NUMBER in the
    # oracle vs posexplode position in Spark.
    "event_attribution_linear", "event_attribution_position",
    "event_attribution_decay",
    # ... and the four operators NEW this round: the Markov transition
    # matrix over gap sessions (rn-self-join oracle), per-source
    # vocabulary heavy hitters, the one-pass declarative constraint
    # checker (over the null-injected corpus so violating branches fire),
    # and the MinHash benchmark-leakage transpose of the admit audit.
    "event_transition_matrix", "corpus_top_terms_per_source",
    "corpus_constraint_report", "doc_benchmark_leakage",
    # Priority (c): queries over machinery REVISED this round — the LSH
    # band self-join's mega-bucket guard is now a window count FUSED into
    # the band-table pass (one shuffle that doubles as the join
    # partitioning; no second count traversal, no broadcast anti-join),
    # transited by the whole lsh_candidate_pairs family; and
    # cap_per_group now materializes its bounded over-cap list as an
    # inline local relation (lineage runs once, nothing persists past
    # the call).
    "dedup_lsh_candidates", "dedup_lsh_verified", "dedup_corpus",
    "dedup_clusters", "corpus_cap_per_source", "corpus_top_docs_per_source",
    # Priority (d): ALL 20 public-API alias/wrapper singles without a
    # current driver row (r8 verdict item 1) — the 19 registered in r8
    # that its window couldn't fit, plus expected_daily whose only green
    # row is r1 (deduped out in r6, re-registered r8). After these, every
    # registered query has a driver-green row.
    "expected_shortfall", "conditional_drawdown_at_risk", "ror",
    "probabilistic_sharpe_ratio", "geometric_mean", "sortino_sqrt2",
    "smart_sortino_sqrt2", "gain_to_pain_ratio_monthly", "best_day",
    "worst_day", "win_days", "r2", "worst_month", "avg_up_month",
    "avg_down_month", "best_year", "expected_yearly", "win_year",
    "all_time", "expected_daily",
    # Priority (e): 23 rotation slots over the 48 queries whose newest
    # driver row is r5, machinery families first (per the r8 verdict):
    # the as-of/benchmark joins, the report generator, media codecs,
    # stateful streaming sessions, the keyed long frame, dedup nulls /
    # substring machinery, and the heavier text/curation operators. The
    # 25 left out (pure scalar-agg compositions like omega, payoff_ratio,
    # kelly_criterion — all single-pass _agg_result transits re-verified
    # by this round's committed two-scale replica sweeps) front the r10
    # rotation.
    "greeks", "information_ratio", "to_drawdowns", "max_drawdown",
    "report_basic", "report_numeric", "report_full_bench",
    "media_decode_jpeg", "event_session_streaming",
    "multi_asset_metrics_long", "dedup_exact_nulls", "doc_substring_dedup",
    # (doc_quality / doc_strip_markup / doc_text_stats / doc_token_counts
    # were in this tranche before the four new round-9 registrations took
    # their slots at priority (b); they front the r10 rotation with the
    # other 25 r5-stale scalar compositions.)
    "event_retention", "corpus_mix_sample", "doc_fingerprint",
    "doc_lang_id", "doc_lm_score",
]


_ROUND8_WINDOW = [
    # Round 8 window (50 slots). Priority (a) repaired fails: none — r7 was
    # 50/50. Priority (b): the four queries over genuinely NEW machinery —
    # parquet small-file compaction of the appended IVF / dedup indexes
    # (sources/maintenance.py, in-query no-op guards) and last-/first-touch
    # conversion attribution (events.attribute_conversions, one
    # user-partitioned window pass, never a touches×conversions join).
    "ann_ivf_compacted", "dedup_index_compacted",
    "event_attribution", "event_attribution_first",
    # Priority (c): queries over machinery REVISED this round — the
    # all-pairs shingle/gram operators now shuffle 60-bit hashes with
    # oracle-mirrored hashing AND every _word_ngrams consumer moved to the
    # projected-token-array _exploded_grams (the 25× interpreted-lambda
    # fix); cap_per_group gained asc_nulls_last ordering and the gated
    # over-cap broadcast; knn_join releases its sizing cache;
    # admit_against_index transits the new single-row-meta FAILFAST
    # reader; the LSH verify joins (lsh_verified_pairs/_verified_matches —
    # dedup_lsh_verified, dedup_corpus, both admit paths) hash their
    # shingle join keys too; streaming_index_candidates gained the
    # setup-time mega-bucket guard its oracle's corpus_hot CTE mirrors.
    "corpus_overlap_matrix", "dedup_containment", "dedup_ngram_jaccard",
    "dedup_clusters", "doc_decontaminate", "doc_decontaminate_hashed",
    "ann_knn_join", "corpus_cap_per_source", "corpus_top_docs_per_source",
    "dedup_index_admit", "dedup_lsh_verified", "dedup_corpus",
    "dedup_incremental_admit", "dedup_streaming_index_candidates",
    # Priority (d): the ENTIRE 24-name set whose newest driver-green row
    # is still r4 (r7 verdict item 1) — the 18 single-pass scalar-agg
    # singles plus the 6 displaced when r7's registrations took priority
    # slots. After this window no registered query's newest green predates
    # r5.
    "comp", "cagr", "sharpe", "sortino", "volatility", "skew", "kurtosis",
    "avg_return", "win_rate", "profit_factor", "gain_to_pain_ratio",
    "tail_ratio", "cvar", "recovery_factor", "ulcer_index",
    "serenity_index", "calmar", "expected_return",
    "doc_quality_filter", "corpus_source_stats", "corpus_pack_greedy",
    "r_squared", "event_hourly_counts", "media_frames_real",
    # Priority (e): 8 of the 28 public-API alias/wrapper registrations
    # new this round (verdict item 8 — registry now 1:1 with the public
    # surface): trailing singles with bespoke oracle semantics. The 20
    # remaining (13 pure oracle-copy aliases like expected_shortfall≡cvar
    # and r2≡r_squared, plus all_time, worst_month, best_year,
    # expected_yearly, win_year, avg_up_month, avg_down_month) are
    # sweep-green in SWEEP_r08 at both sf0.01 and sf0.1 and front the r9
    # window.
    "mtd", "ytd", "three_month", "six_month", "one_year", "three_year",
    "five_year", "ten_year",
]


def _add_alias_registrations(add, o: dict) -> None:
    """Registry entries for the public wrapper/alias symbols that were
    previously deduped out as "≡ base" — one gated query per public API
    name, so the registry is a complete 1:1 of the reference surface
    (round-8 verdict item). Three groups:

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


_ROUND7_WINDOW = [
    # Round 7 window (50 slots). Priority (a) repaired fails: none — r6 was
    # 50/50. Priority (b): first the 11 queries REGISTERED this round
    # (per-source cap + best-k order_by variant, percentile calibration,
    # cross-source overlap matrix, grouped split, deletion-neighborhood
    # edit-distance join, int8 quantization, ORC roundtrip, hashed
    # decontamination, stateful streaming exact dedup, IVF index append),
    # then the 5 round-6 registrations whose only green evidence is the
    # replica sweep (never driver-gated — VERDICT r6 "Next round" #1 and
    # ADVICE r6 both demand they front this window).
    "corpus_cap_per_source", "corpus_top_docs_per_source",
    "doc_score_percentiles", "corpus_overlap_matrix",
    "corpus_group_split", "cust_fuzzy_names",
    "emb_quantize_int8", "docs_orc_roundtrip", "doc_decontaminate_hashed",
    "dedup_streaming_exact",
    "ann_ivf_append",
    "dedup_simhash_pairs", "ann_ivfpq_refine", "ann_ivf_partitioned",
    "dedup_index_admit", "dedup_streaming_index_candidates",
    # Priority (c): queries over machinery REVISED this round —
    # containment_pairs' skew cap now defaults on (oracle gained the
    # mirrored dfreq cap CTE), the funnel pre-filters to step types,
    # knn_join grew plane auto-sizing around its bucketing, simhash
    # pipelines persist signatures before the self-join, and
    # _stream_banded gained the integral-id guard the streaming
    # candidates path now transits.
    "dedup_containment", "event_funnel", "event_funnel_times",
    "ann_knn_join", "dedup_simhash", "dedup_streaming_candidates",
    # Priority (d): the ENTIRE 17-name set whose newest driver-green row
    # is still r3 — after this window no registered query's newest green
    # predates r4.
    "monthly_returns", "weekly_returns", "calendar_summary",
    "trailing_windows", "best_month", "worst_year", "expected_monthly",
    "win_month", "win_quarter", "multi_asset_sharpe",
    "doc_tfidf_topk", "corpus_ngram_counts", "doc_redact_pii",
    "emb_near_dups", "doc_repetition", "corpus_sample_stratified",
    "doc_chunks",
    # Priority (e): 11 rotation slots over the 35 remaining r4 greens,
    # fronting every non-scalar-agg machinery family (islands, as-of/
    # ffill, keyed long frame, autocorr penalty, media codecs, event
    # analytics, pipeline curation). The 18 r4 scalar-agg greens left out
    # (comp, cagr, sharpe, sortino, volatility, expected_return, skew,
    # kurtosis, avg_return, win_rate, profit_factor, gain_to_pain_ratio,
    # calmar, recovery_factor, tail_ratio, cvar, ulcer_index,
    # serenity_index) are single-pass compositions over the same
    # _agg_result machinery — re-verified by this round's committed
    # replica sweep; they front the r8 rotation alongside the 6 names
    # displaced when this round's 11 new registrations took priority (b)
    # slots: doc_quality_filter, corpus_source_stats, corpus_pack_greedy,
    # r_squared (shares the as-of machinery correlation and treynor_ratio
    # keep in-window), event_hourly_counts and media_frames_real.
    # doc_decontaminate stays: its machinery CHANGED this round (hashed
    # broadcast variant; exact path's probe became an explicit semi-join).
    "consecutive_losses", "correlation", "treynor_ratio",
    "multi_asset_greeks_long", "smart_sharpe", "smart_adjusted_sortino",
    "media_resize_real",
    "event_sessionization", "event_session_windows",
    "event_hourly_streaming",
    "doc_decontaminate",
]


_ROUND6_WINDOW = [
    # Round 6 window (50 slots). Priority (a) repaired fails: none — r5 was
    # 50/50. Priority (b): the ENTIRE 29-name set that has never been inside
    # any driver gate window (registered late in r4/r5, so far verified only
    # by scripts/check_oracle.py replica sweeps). Converting those replica
    # greens into driver CORRECTNESS rows is the whole remaining correctness
    # debt (VERDICT r5 "Next round" #1).
    "cdar", "rolling_greeks_30d", "rolling_greeks_30d_keyed",
    "rolling_corr_30d", "asset_correlation_matrix",
    "doc_url_domains", "dedup_containment", "emb_label_centroids",
    "ann_ivfpq_topk",
    "event_hourly_uniques", "event_gap_profile", "event_top_paths",
    "event_interval_join", "event_value_anomalies", "event_funnel_times",
    "event_funnel_streaming",
    "returns_csv_roundtrip", "docs_jsonl_roundtrip",
    "returns_partitioned_sink",
    "doc_chunk_shards", "doc_hash_embed", "corpus_length_quantiles",
    "corpus_weighted_sample", "corpus_hash_split", "corpus_shards",
    "doc_lm_buckets", "doc_dsir_select", "corpus_rollup_stats",
    "dedup_incremental_admit",
    # Priority (c)+(d): 21 rotation slots over the 39 queries whose newest
    # driver-green is r3, fronting those whose machinery changed since r3 —
    # codecs grew PNG/JPEG in r4/r5 (media_*), the streaming harness runner
    # changed in r5 (streaming_*, rolling_metrics_30d), rolling.py grew the
    # keyed greeks/corr paths (rolling_trailing_*), similarity.py grew
    # PQ/centroid code (ann_* trio), dedup.py grew lineage/incremental/
    # substring machinery in r5 (the signature→band→verify→cluster chain +
    # semdedup/LSH near-dup), psr and multi_asset_smart_long sit on the
    # r5-fused autocorr/ordered passes. The 18 r3-greens left out
    # (calendar/trailing wrappers, text suite re-checks, stratified sample,
    # multi_asset_sharpe, doc_chunks, emb_near_dups) are compositions over
    # machinery unchanged
    # since r3 AND re-verified by this round's committed replica sweep
    # (SWEEP_r06.json); they rotate next round.
    "media_decode_real", "dedup_streaming_candidates",
    "streaming_drawdowns", "streaming_drawdowns_keyed",
    "rolling_trailing_30d", "rolling_trailing_30d_keyed",
    "rolling_metrics_30d",
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
    "psr", "multi_asset_smart_long",
    "dedup_exact", "dedup_minhash_signatures", "dedup_lsh_candidates",
    "dedup_lsh_verified", "dedup_clusters", "dedup_ngram_jaccard",
    "dedup_simhash", "emb_near_dups_lsh", "emb_semdedup",
]


_ROUND5_WINDOW = [
    # (b) new registrations / changed oracles. To stay at exactly 50, the
    # two LM/mixing additions displace `correlation` and `r_squared` from
    # the (c) as-of rechecks: both are r4-green, share their ffill/as-of
    # machinery with the in-window `greeks`/`information_ratio`/
    # `treynor_ratio`, and r_squared is definitionally correlation².
    "media_decode_jpeg", "event_session_streaming", "dedup_corpus",
    "doc_text_stats_nulls", "dedup_exact_nulls", "doc_quality_filter_nulls",
    "doc_lm_score", "corpus_mix_sample",
    # ... and the exact-substring dedup (Lee et al. ExactSubstr), which
    # displaces `smart_adjusted_sortino` from the (c) rechecks: it is
    # definitionally smart_sortino/sqrt(2) and smart_sortino stays
    # in-window, so the autocorr-penalty machinery remains fully covered.
    "doc_substring_dedup",
    # ... and the two event-analytics registrations. event_funnel displaces
    # `calmar` (cagr over |max_drawdown|; both constituents in-window) and
    # event_retention displaces `treynor_ratio` (the as-of/ffill machinery
    # stays covered by in-window greeks + information_ratio).
    "event_funnel", "event_retention",
    # ... and the curation pair: doc_strip_markup (html-injection
    # extraction pass) displaces `consecutive_losses` (sign-flipped mirror
    # of in-window consecutive_wins, same islands machinery) and
    # doc_topk_quality (per-source rank curation) displaces `smart_sharpe`
    # (penalty machinery covered by in-window autocorr_penalty +
    # smart_sortino).
    "doc_strip_markup", "doc_topk_quality",
    # (c) episode null-boundary fix (peak-pos id now splits at null rows)
    "longest_drawdown_days", "avg_drawdown_days", "avg_drawdown",
    "multi_asset_metrics_long",
    "report_numeric", "report_basic", "report_full_bench",
    # (c) prefix-pass persist rework (single-execution now pinned by cache,
    # not by the ReuseExchange assumption): drawdown, streak, lag/autocorr
    # and as-of-join families
    "to_drawdowns", "max_drawdown",
    "consecutive_wins",
    "autocorr_penalty", "smart_sortino",
    "greeks", "information_ratio",
    # (d) the stale backlog: 18 names green only in r1 ...
    "adjusted_sortino", "avg_loss", "avg_win", "best", "cagr_simple",
    "common_sense_ratio", "cpc_index", "exposure", "gain_to_pain_ratio_1m",
    "kelly_criterion", "omega", "outlier_loss_ratio", "outlier_win_ratio",
    "payoff_ratio", "risk_of_ruin", "sharpe_rf", "value_at_risk", "worst",
    # (d) ... and 5 green only in r2
    "doc_token_counts", "doc_text_stats", "doc_quality", "doc_lang_id",
    "doc_fingerprint",
]


_ROUND4_WINDOW = [
    # (a) r3 fails — events ts physical-type change, reader now adaptive
    "event_sessionization", "event_session_windows", "event_hourly_counts",
    # (b) new round-4 registrations
    "doc_decontaminate", "corpus_source_stats", "ann_knn_join",
    "doc_quality_filter", "media_resize_real", "media_frames_real",
    "event_hourly_streaming",
    # (c) impl changed after its last green row: corpus_pack_greedy
    # (null-text coalesce + integer-div), the three report queries
    # (metrics() pass orchestration restructured: concurrent
    # meta/enrichment/episodes), and every query over the round-4-revised
    # prefix machinery's ffill/lag paths (bucket totals now derived from
    # the windowed frame for ReuseExchange) — the as-of-join family and
    # the autocorrelation family
    "corpus_pack_greedy", "report_numeric", "report_basic",
    "report_full_bench",
    "greeks", "information_ratio", "correlation", "r_squared",
    "treynor_ratio", "multi_asset_greeks_long",
    "autocorr_penalty", "smart_sharpe", "smart_sortino",
    "smart_adjusted_sortino",
    # keyed episode fusion (peak-pos island ids in the long-frame path)
    "multi_asset_metrics_long",
    # (d) the r1-only block — stalest green rows in the registry. 25 of
    # 43 names; every displaced name is a pure COMPOSITION whose machinery
    # is fully exercised by remaining in-window names (cagr_simple~cagr,
    # sharpe_rf~sharpe, adjusted_sortino~sortino,
    # gain_to_pain_ratio_1m~gain_to_pain_ratio, best/worst~max/min aggs,
    # avg_win/avg_loss/payoff_ratio~avg_return+win_rate, omega/cpc_index/
    # risk_of_ruin~profit_factor+win_rate composes,
    # outlier_loss_ratio~outlier_win_ratio,
    # common_sense_ratio~profit_factor×tail_ratio)
    "comp", "cagr", "sharpe", "sortino",
    "volatility",
    "expected_return", "skew", "kurtosis", "avg_return",
    "win_rate", "profit_factor",
    "gain_to_pain_ratio", "tail_ratio",
    "cvar",
    "max_drawdown", "to_drawdowns", "calmar", "ulcer_index",
    "recovery_factor", "serenity_index", "consecutive_wins",
    "consecutive_losses", "longest_drawdown_days", "avg_drawdown_days",
    "avg_drawdown",
]


_ROUND3_WINDOW = [
    # (a) never reached by any round's window
    "dedup_corpus", "rolling_trailing_30d_keyed",
    # (b) r2 hash fail, oracle typing fixed (epoch_us + BIGINT cast)
    "event_sessionization",
    # (c) newly value-hashed (ex rows-only) or oracle/impl changed
    "psr", "report_numeric", "report_basic", "report_full_bench",
    "media_decode_features", "emb_near_dups", "emb_near_dups_lsh",
    "ann_lsh_topk", "ann_ivf_topk",
    # long-frame trio: metrics_by_key persist fix landed after their r2 rows
    "multi_asset_metrics_long", "multi_asset_smart_long",
    "multi_asset_greeks_long",
    # r1-green but rewritten in r2 (_simple_returns + group-key extraction)
    "monthly_returns", "best_month", "worst_year", "expected_monthly",
    "win_month", "win_quarter",
    # regression re-checks: streaming surface
    "streaming_drawdowns", "streaming_drawdowns_keyed", "rolling_metrics_30d",
    "dedup_streaming_candidates", "event_session_windows",
    "event_hourly_counts",
    # regression re-checks: dedup + similarity
    "dedup_exact", "dedup_minhash_signatures", "dedup_lsh_candidates",
    "dedup_lsh_verified", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_clusters", "ann_cosine_topk", "media_decode_real",
    # new round-3 pipeline operators (registered this round — front-loaded
    # so they get driver rows immediately, not parked past the window like
    # dedup_corpus was in r2; displaces five unchanged-since-r2-green text
    # re-checks: doc_token_counts/doc_text_stats/doc_quality/doc_lang_id/
    # doc_fingerprint)
    "doc_repetition", "corpus_sample_stratified", "doc_chunks",
    "corpus_pack_greedy", "emb_semdedup",
    # regression re-checks: text suite
    "doc_tfidf_topk", "corpus_ngram_counts", "doc_redact_pii",
    # regression re-checks: calendar/trailing/rolling/benchmark paths
    "calendar_summary", "weekly_returns", "trailing_windows", "greeks",
    "rolling_trailing_30d", "multi_asset_sharpe",
]


_ROUND2_WINDOW = [
    # calendar & trailing (merged wrappers + weekly path)
    "calendar_summary", "weekly_returns", "trailing_windows",
    # benchmark-relative (as-of join path)
    "greeks", "information_ratio", "correlation", "r_squared", "treynor_ratio",
    # rolling / multi-asset (wide broadcast + keyed long-frame paths)
    "rolling_trailing_30d", "multi_asset_sharpe", "multi_asset_metrics_long",
    "multi_asset_smart_long", "multi_asset_greeks_long",
    # autocorrelation & smart ratios
    "autocorr_penalty", "psr", "smart_sharpe", "smart_sortino",
    "smart_adjusted_sortino",
    # reports (numeric = value-hashed; string tables rows-only)
    "report_numeric", "report_basic", "report_full_bench",
    # streaming
    "streaming_drawdowns", "streaming_drawdowns_keyed", "rolling_metrics_30d",
    # text analysis & corpus statistics
    "doc_token_counts", "doc_text_stats", "doc_quality", "doc_lang_id",
    "doc_fingerprint", "doc_tfidf_topk", "corpus_ngram_counts",
    "doc_redact_pii",
    # deduplication
    "dedup_exact", "dedup_minhash_signatures", "dedup_lsh_candidates",
    "dedup_streaming_candidates", "dedup_lsh_verified", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_clusters", "emb_near_dups", "emb_near_dups_lsh",
    # similarity search
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
    # multimodal plumbing (fake kernel rows-only; real kernel value-hashed)
    "media_decode_features", "media_decode_real",
    # event operators
    "event_sessionization", "event_session_windows", "event_hourly_counts",
]


# ---------------------------------------------------------------------------
# streaming surface (batch-checkable semantics)


def _await_stream(sq, src: str) -> None:
    """Block until an ``availableNow`` gate stream finishes. Raises on
    timeout instead of letting the caller read a partially populated
    memory-sink table (a confusing hash mismatch), and removes the parquet
    staging dir either way."""
    import shutil

    try:
        if not sq.awaitTermination(600):
            sq.stop()
            raise TimeoutError("streaming gate query did not terminate within 600s")
    finally:
        shutil.rmtree(src, ignore_errors=True)


# Held for the whole of a _stream_parts scope: the setting it scopes is
# session-global, so without the lock one thread's stream would plan with
# the other's partition count and the later exit would restore a value
# that is not the original. Re-entrant so a nested scope cannot deadlock.
_STREAM_PARTS_LOCK = threading.RLock()


@contextlib.contextmanager
def _stream_parts(spark: SparkSession, src: str):
    """Scope ``spark.sql.shuffle.partitions`` — which fixes a streaming
    query's STATE partition count at plan time — to the staged feed's size
    for the duration of one gate stream.

    Unlike batch shuffles (where AQE coalesces empty post-shuffle
    partitions away), every state partition of a stateful streaming
    operator pays a fixed per-micro-batch cost that exists even when the
    partition carries no rows: a state-store lifecycle (open, delta read,
    commit) plus one Arrow/Python worker round for the
    ``applyInPandasWithState`` folds. A partition count inherited from the
    session's batch setting (2-3× cluster cores) is therefore pure
    overhead for the gate's bounded feeds — measured on the
    ``dedup_streaming_exact`` stream at sf0.1: 32 state partitions ≈ 7.0 s
    median vs 8 ≈ 3.5 s, identical output multisets.

    The count is derived from the data, not the box: ≥ 64 KiB of staged
    feed per partition (thousands of rows per store per trigger), floor 2
    so the cross-partition code path stays exercised, capped at the
    session's ``defaultParallelism`` so any production-sized feed gets
    the session's full parallelism back and a cluster deployment's own
    conf wins. ``SPARK_GRAFT_STREAM_PARTITIONS`` overrides the derivation
    for experiments. State-store semantics are per-key and the gate
    oracles are order-insensitive, so the count changes wall-clock only.

    Mutates the session-global ``spark.sql.shuffle.partitions`` for the
    scope's duration, under a module lock: concurrent scopes on a shared
    session run one after another.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if env is not None:
        try:
            n = int(env)
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_STREAM_PARTITIONS must be an integer >= 1, "
                f"got {env!r}"
            ) from None
        if n < 1:
            raise ValueError(
                f"SPARK_GRAFT_STREAM_PARTITIONS must be >= 1, got {n} — "
                "a non-positive shuffle-partition count is an invalid "
                "Spark conf"
            )
    else:
        byts = 0
        for root, _dirs, files in os.walk(src):
            for f in files:
                byts += os.path.getsize(os.path.join(root, f))
        n = max(2, min(
            spark.sparkContext.defaultParallelism,
            (byts + (64 << 10) - 1) // (64 << 10),
        ))
    with _STREAM_PARTS_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def _add_streaming(add) -> None:
    """Streaming operators exposed through the correctness gate.

    ``streaming_drawdowns`` genuinely runs through Structured Streaming
    (file source → applyInPandasWithState → memory sink) and its per-row
    output is SQL-expressible, so it gets a full DuckDB oracle — the
    strongest check a stateful streaming op can have. ``rolling_metrics``
    shares one code path between batch and streaming; the gate runs the
    batch plan (identical expressions) against a bucketed-window oracle.
    """

    def _stream_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile
        import uuid

        from alphastats_spark.streaming import streaming_drawdowns

        src = tempfile.mkdtemp(prefix="as_stream_dd_")
        load_returns(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema("d date, r double").parquet(src)
        name = f"stream_dd_{uuid.uuid4().hex[:8]}"
        with _stream_parts(spark, src):
            sq = (
                streaming_drawdowns(stream, temporal="d")
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(sq, src)
        return _round_df(
            spark.table(name).select(
                F.col("d").cast("string").alias("d"), F.col("r_dd").alias("dd")
            )
        )

    add(
        "streaming_drawdowns",
        _stream_dd,
        f"{RETURNS_CTE}{DD_CTE}\nSELECT CAST(d AS VARCHAR) AS d, ROUND(dd, {ROUND}) AS dd FROM dds",
    )

    # Keyed variant — the 100 TB shape: state and work partition across
    # asset keys, so no single state group funnels the whole stream. The
    # keyless query above matches the reference's single-series semantics
    # and is documented small-scale-only.
    def _stream_dd_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile
        import uuid

        from alphastats_spark.streaming import streaming_drawdowns

        long_df = (
            load_returns(spark, sf_dir).select(F.lit("a").alias("asset"), "d", "r")
            .unionByName(
                load_benchmark(spark, sf_dir).select(
                    F.lit("b").alias("asset"), "d", F.col("b").alias("r")
                )
            )
        )
        src = tempfile.mkdtemp(prefix="as_stream_ddk_")
        long_df.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema("asset string, d date, r double").parquet(src)
        name = f"stream_ddk_{uuid.uuid4().hex[:8]}"
        with _stream_parts(spark, src):
            sq = (
                streaming_drawdowns(stream, key_col="asset", temporal="d")
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(sq, src)
        return _round_df(
            spark.table(name).select(
                "asset", F.col("d").cast("string").alias("d"), F.col("r_dd").alias("dd")
            )
        )

    add(
        "streaming_drawdowns_keyed",
        _stream_dd_keyed,
        f"""{RETURNS_CTE}{BENCH_CTE},
long_f AS (
  SELECT 'a' AS asset, d, r FROM rets
  UNION ALL
  SELECT 'b' AS asset, d, b AS r FROM bres
),
kwealth AS (
  SELECT asset, d, r,
         EXP(SUM(LN(1 + r)) OVER (PARTITION BY asset ORDER BY d)) AS w
  FROM long_f
),
kdds AS (
  SELECT asset, d,
         LEAST(w / MAX(w) OVER (PARTITION BY asset ORDER BY d) - 1, 0) AS dd
  FROM kwealth
)
SELECT asset, CAST(d AS VARCHAR) AS d, ROUND(dd, {ROUND}) AS dd FROM kdds""",
    )

    def _rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
        from alphastats_spark.streaming import rolling_metrics

        out = rolling_metrics(
            load_returns(spark, sf_dir),
            "30 days",
            metrics={
                "comp": lambda c: X.column("comp", c),
                "volatility": lambda c: X.column("volatility", c),
                "n_obs": lambda c: F.count(c).cast("long"),
            },
        )
        return _round_df(
            out.select(
                F.col("window_start").cast("date").cast("string").alias("ws"),
                F.col("r_comp").alias("comp"),
                F.col("r_volatility").alias("volatility"),
                F.col("r_n_obs").alias("n_obs"),
            )
        )

    add(
        "rolling_metrics_30d",
        _rolling,
        f"""{RETURNS_CTE}
SELECT CAST(ws_d AS VARCHAR) AS ws, comp, volatility, n_obs FROM (
SELECT
  DATE '1970-01-01'
    + CAST(FLOOR(DATE_DIFF('day', DATE '1970-01-01', d) / 30) * 30 AS INTEGER) AS ws_d,
  ROUND(EXP(SUM(LN(1 + r))) - 1, {ROUND}) AS comp,
  ROUND(STDDEV_SAMP(r) * SQRT(252), {ROUND}) AS volatility,
  COUNT(r) AS n_obs
FROM rets GROUP BY 1) t""",
    )


# ---------------------------------------------------------------------------
# training-data pipeline extensions (documents / embeddings / events)

_NORM_SQL = (
    r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),"
    r" '\s+', ' ', 'g'))"
)
_TOKS_SQL = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"
_LTOKS_SQL = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')"
_SHINGLE_CTE = f"""
WITH t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM t
)
"""

#: Mirrors dedup._hashed_shingles: shingles as 60-bit BIGINTs (15 hex
#: digits of md5) — the all-pairs operators shuffle hashes, not raw gram
#: strings, and the oracle must hash IDENTICALLY so a collision (which
#: merges two shingles' join keys) stays bit-identical across engines.
_SHINGLE_HASH_CTE = _SHINGLE_CTE + """,
shh AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
  FROM sh
)"""


def _mh_sql(k: int | None = None) -> str:
    """The k min-hash aggregate columns, mirroring
    ``dedup.minhash_signature_cols`` — parameterized so every MinHash
    oracle derives its hash family from the SAME ``(k, rows_per_band)``
    the Spark side runs with (a hard-coded mirror silently diverges the
    day the module defaults move).

    Affine family (r13): the base hash is the canonical 60-bit md5 key
    reduced mod the Mersenne prime 2^31-1 (``dedup.MINHASH_PRIME``),
    then ``mh_j = MIN((a_j*h + b_j) % p)`` with the ``(a_j, b_j)``
    literals imported from ``dedup._affine_coeffs`` — one source for
    both engines. All operands < p keep every product below 2^63, so
    DuckDB's checked BIGINT arithmetic and Spark's wrapping long
    arithmetic compute identical values by construction."""
    from alphastats_spark.functions import dedup

    k = dedup.MINHASH_K if k is None else k
    p = dedup.MINHASH_PRIME
    base = f"(CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % {p})"
    return ", ".join(
        f"MIN(({a} * {base} + {b}) % {p}) AS mh{j}"
        for j, (a, b) in enumerate(dedup._affine_coeffs(k))
    )


def _band_values_sql(k: int | None = None, rows_per_band: int | None = None) -> str:
    """The LATERAL (VALUES ...) band rows mirroring ``dedup._band_table``:
    band b's signature is the '|'-joined min-hashes
    mh[b*r] .. mh[b*r + r - 1]."""
    from alphastats_spark.functions import dedup

    k = dedup.MINHASH_K if k is None else k
    r = dedup.ROWS_PER_BAND if rows_per_band is None else rows_per_band
    return ", ".join(
        "({b}, {sig})".format(
            b=b, sig=" || '|' || ".join(f"mh{b * r + i}" for i in range(r))
        )
        for b in range(k // r)
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_nulled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with DETERMINISTIC null/empty text injection
    (doc_id % 13 == 4 → NULL, % 13 == 9 → '').

    The sf corpora contain no null or empty texts, so without injection the
    extension operators' null paths are never driver-checked — the round-3
    pack_documents null-text divergence stayed latent for two rounds for
    exactly this reason. One ``*_nulls`` gate query per extension family
    (text / dedup / pipeline) runs its operator over this frame against an
    oracle with the same SQL injection.
    """
    d = _docs(spark, sf_dir)
    return d.withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 4, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 13 == 9, F.lit(""))
        .otherwise(F.col("text")),
    )


# DuckDB mirror of _docs_nulled: a CTE that SHADOWS the registered
# ``documents`` view, so an existing oracle body can be reused verbatim by
# prefixing this (the base view is reached schema-qualified to avoid any
# self-reference ambiguity).
_NULLS_DOCS_CTE = """documents AS (
  SELECT * REPLACE (CASE WHEN doc_id % 13 = 4 THEN NULL
                         WHEN doc_id % 13 = 9 THEN ''
                         ELSE text END AS text)
  FROM main.documents
)"""


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# -- seeded-LSH oracle generation --------------------------------------------
# The random-hyperplane LSH operators (functions/similarity.py:57-72,
# functions/dedup.py:284-320) draw their planes from a seeded numpy RNG on
# the driver and ship them as literal arrays, so the SAME constants can be
# embedded in the DuckDB oracle — the approximate index is then checked
# exactly (identical candidate sets by construction, not by luck).

_EMB_DIM = 64  # embedding dim of the testdata family (TESTDATA.md, all SFs)


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in p) + "]"


def _bucket_sql(vec: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket id — SQL twin of similarity.bucket_expr."""
    terms = [
        f"(CASE WHEN list_dot_product({vec}, {_plane_sql(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _emb_lsh_pairs_sql(threshold: float, n_planes: int, n_tables: int,
                       seed: int = 42) -> str:
    """Oracle for dedup.embedding_near_dup_pairs_lsh: a pair is a candidate
    when ANY table's bucket ids match (≡ Spark's union of per-table joins +
    dropDuplicates), then exact-cosine filtered at ``threshold``."""
    from alphastats_spark.functions import similarity

    buckets = []
    for t in range(n_tables):
        planes = similarity.hyperplanes(_EMB_DIM, n_planes, seed + t)
        buckets.append(f"{_bucket_sql('e', planes)} AS b{t}")
    any_match = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    cos = "ROUND(list_dot_product(a.e, c.e) / (a.norm * c.norm), 7)"
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
b AS (
  SELECT vec_id, e, norm, {", ".join(buckets)} FROM v
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b, {cos} AS cosine
FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({any_match})
WHERE {cos} >= {threshold}"""


def _ann_lsh_sql(
    k: int, n_planes: int, seed: int = 42, n_tables: int = 1, radius: int = 1
) -> str:
    """Oracle for similarity.lsh_topk (multi-table, multiprobe).

    The query's per-table bucket and its Hamming-``radius`` probe set are computed
    HERE in Python with the exact arithmetic of similarity.query_bucket
    (the query vector is read from the gate-scale parquet, same floats
    Spark collects), so they embed as integer literals; each row's bucket
    is recomputed in SQL from the same literal planes. Gate contract fixes
    sf0.01; SPARK_GRAFT_ORACLE_SF_DIR overrides for local replicas."""
    import os

    import pyarrow.parquet as pq

    from alphastats_spark.functions import similarity

    path = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    tbl = pq.read_table(f"{path}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_pylist()
    qvec = [float(x) for x in tbl.column("embedding")[ids.index(0)].as_py()]

    conds = []
    for t in range(n_tables):
        planes = similarity.hyperplanes(len(qvec), n_planes, seed + t)
        qb = similarity.query_bucket(qvec, planes)
        cands = similarity.probe_set(qb, n_planes, radius)
        conds.append(
            f"{_bucket_sql('embedding::DOUBLE[]', planes)} "
            f"IN ({', '.join(str(c) for c in cands)})"
        )
    where = "\n     OR ".join(conds)
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    ROUND(list_dot_product(embedding::DOUBLE[], qe)
      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       * sqrt(list_dot_product(qe, qe))), 7) AS cosine
  FROM embeddings, q
  WHERE {where}
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT {k}"""


def _ivf_oracle_sql(k: int = 20, n_centroids: int = 16, nprobe: int = 4,
                    seed: int = 42, sample_rows: int = 10_000,
                    train_mod: tuple[int, int] | None = None) -> str:
    """Oracle for similarity.ivf_topk.

    The coarse quantizer is deterministic end-to-end: the training sample is
    the first ``sample_rows`` vectors by vec_id (similarity.ivf_centroids
    samples the same way via TakeOrderedAndProject) and k-means is the pure
    seeded similarity.kmeans_train, so re-training here from the parquet via
    pyarrow yields bit-identical centroids. The SQL then replicates the
    per-row argmin assignment (elementwise (a−b)² fold, first-occurrence
    tie-break — the twin of similarity._centroid_id_expr) and the numpy
    probe order. The gate contract fixes the correctness scale at sf0.01;
    SPARK_GRAFT_ORACLE_SF_DIR overrides for local replicas at other scales.
    """
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from alphastats_spark.functions import similarity

    path = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = pq.read_table(f"{path}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = t.column("embedding").to_pylist()
    if train_mod is not None:
        # centroids trained on a SUBSET (the index-append query builds the
        # quantizer before the appended batch exists): keep ids where
        # id % m != r, mirroring the Spark side's ivf_centroids input
        m, r = train_mod
        keep = np.nonzero(ids % m != r)[0]
        order = keep[np.argsort(ids[keep], kind="stable")][:sample_rows]
    else:
        order = np.argsort(ids, kind="stable")[:sample_rows]
    cents = similarity.kmeans_train([vecs[i] for i in order], n_centroids, 5, seed)
    qvec = [float(x) for x in vecs[int(np.nonzero(ids == 0)[0][0])]]
    probes = similarity.ivf_probes(qvec, cents, nprobe)
    dim = len(qvec)

    d_cols = []
    for i, c in enumerate(cents):
        lit = _plane_sql(c)
        d_cols.append(
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"j -> (e[j] - ({lit})[j]) * (e[j] - ({lit})[j]))) AS d{i}"
        )
    cases = []
    for i in range(len(cents) - 1, 0, -1):
        prev = ", ".join(f"d{j}" for j in range(i))
        prev_min = f"LEAST({prev})" if i > 1 else "d0"
        cases.append(f"WHEN d{i} < {prev_min} THEN {i}")
    argmin = "CASE " + " ".join(cases) + " ELSE 0 END"
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id, e, norm, {", ".join(d_cols)} FROM v),
a AS (SELECT vec_id, e, norm, {argmin} AS ivf_list FROM d)
SELECT vec_id,
  ROUND(list_dot_product(e, qe) / (norm * sqrt(list_dot_product(qe, qe))), 7) AS cosine
FROM a, q
WHERE ivf_list IN ({", ".join(str(p) for p in probes)})
ORDER BY cosine DESC, vec_id LIMIT {k}"""


def _ivfpq_oracle_sql(k: int = 20, n_centroids: int = 16, nprobe: int = 8,
                      m: int = 4, n_codes: int = 16, seed: int = 42,
                      sample_rows: int = 10_000, refine: int = 0) -> str:
    """Oracle for similarity.ivfpq_topk (pure-ADC path).

    Everything non-SQL is a pure seeded function shared with the Spark
    path: the coarse centroids (kmeans_train on the first ``sample_rows``
    vectors by vec_id), the per-subspace codebooks (pq_train, same sample),
    the probe list (ivf_probes) and the query's ADC lookup table
    (pq_adc_lut). The SQL replicates the coarse argmin and each subspace's
    argmin code with ``list_position(ds, list_min(ds)) - 1`` — the exact
    twin of similarity._argmin_expr's flat first-occurrence form — and the
    left-associated ``m``-term LUT sum, so the approximate index is
    value-hashed exactly."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from alphastats_spark.functions import similarity

    path = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = pq.read_table(f"{path}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = t.column("embedding").to_pylist()
    order = np.argsort(ids, kind="stable")[:sample_rows]
    sample = [vecs[i] for i in order]
    cents = similarity.kmeans_train(sample, n_centroids, 5, seed)
    books = similarity.pq_train(sample, m, n_codes, 5, seed)
    qvec = [float(x) for x in vecs[int(np.nonzero(ids == 0)[0][0])]]
    probes = similarity.ivf_probes(qvec, cents, nprobe)
    lut = similarity.pq_adc_lut(qvec, books)
    dim = len(qvec)
    sub = dim // m

    def _dist(off: int, width: int, lit: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {width + 1}), "
            f"j -> (e[{off} + j] - ({lit})[j]) * (e[{off} + j] - ({lit})[j])))"
        )

    g_list = "[" + ", ".join(_dist(0, dim, _plane_sql(c)) for c in cents) + "]"
    code_cols = []
    for s_i in range(m):
        ds = "[" + ", ".join(
            _dist(s_i * sub, sub, _plane_sql(c)) for c in books[s_i]
        ) + "]"
        code_cols.append(
            f"(list_position({ds}, list_min({ds})) - 1) AS c{s_i}"
        )
    score = " + ".join(
        f"list_extract({_plane_sql(lut[s_i])}, c{s_i} + 1)" for s_i in range(m)
    )
    base = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
g AS (SELECT vec_id, e, {g_list} AS gd FROM v),
a AS (SELECT vec_id, e, (list_position(gd, list_min(gd)) - 1) AS ivf_list FROM g),
p AS (SELECT vec_id, e FROM a
      WHERE ivf_list IN ({", ".join(str(x) for x in probes)})),
cd AS (SELECT vec_id, {", ".join(code_cols)} FROM p)"""
    if not refine:
        return base + f"""
SELECT vec_id, ROUND({score}, {ROUND}) AS adc_dist
FROM cd ORDER BY adc_dist, vec_id LIMIT {k}"""
    # two-stage: the rounded-ADC shortlist (same deterministic
    # (adc_dist, vec_id) order as similarity.ivfpq_topk's refine branch)
    # re-ranked by exact cosine — the same list_dot_product/sqrt pairing
    # the ann_cosine_topk gate already pins against Spark's
    # cosine_similarity
    return base + f""",
adc AS (SELECT vec_id, ROUND({score}, {ROUND}) AS adc_dist
        FROM cd ORDER BY adc_dist, vec_id LIMIT {refine}),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
SELECT s.vec_id,
  ROUND(list_dot_product(v.e, qe)
    / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(qe, qe))),
    {ROUND}) AS cosine
FROM adc s JOIN v ON v.vec_id = s.vec_id, q
ORDER BY cosine DESC, s.vec_id LIMIT {k}"""


def _knn_join_sql(
    k: int, n_planes: int, seed: int = 42, n_tables: int = 2, multiprobe: int = 0
) -> str:
    """Oracle for similarity.knn_join: per-vector top-k within shared LSH
    buckets. Each table's sign-bit bucket is recomputed in SQL from the
    SAME literal hyperplanes the Spark plan ships; a pair is a candidate
    when the buckets agree in ANY table (``multiprobe=1``: differ by at
    most one sign bit — ``bit_count(xor(...)) <= 1`` mirrors the Spark
    side's exploded single-bit-flip probe set); DISTINCT collapses
    multi-table hits (identical rounded cosine by construction)."""
    from alphastats_spark.functions import similarity

    cap = similarity.KNN_JOIN_MAX_BUCKET
    bucket_cols = []
    join_conds = []
    hot_ctes = []
    for t in range(n_tables):
        planes = similarity.hyperplanes(_EMB_DIM, n_planes, seed + t)
        bucket_cols.append(f"{_bucket_sql('e', planes)} AS b{t}")
        # mirror of the Spark side's per-table mega-bucket guard: a pair
        # is a table-t candidate only when BOTH home buckets are under
        # the cap (the guard fires before the multiprobe explode, so a
        # hot-bucket row contributes neither probes nor candidates)
        hot_ctes.append(
            f"hot{t} AS (SELECT b{t} AS hb FROM b GROUP BY 1 "
            f"HAVING COUNT(*) > {cap})"
        )
        cool = (f"a.b{t} NOT IN (SELECT hb FROM hot{t}) "
                f"AND c.b{t} NOT IN (SELECT hb FROM hot{t})")
        if multiprobe:
            join_conds.append(f"(bit_count(xor(a.b{t}, c.b{t})) <= 1 AND {cool})")
        else:
            join_conds.append(f"(a.b{t} = c.b{t} AND {cool})")
    any_table = " OR ".join(join_conds)
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
b AS (SELECT vec_id, e, nrm, {', '.join(bucket_cols)} FROM v),
{', '.join(hot_ctes)},
pairs AS (
  SELECT DISTINCT a.vec_id AS qid, c.vec_id AS nid,
         ROUND(list_dot_product(a.e, c.e) / (a.nrm * c.nrm), {ROUND}) AS cosine
  FROM b a JOIN b c ON ({any_table}) AND a.vec_id <> c.vec_id
)
SELECT qid AS vec_id, nid AS neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY cosine DESC, nid) AS INTEGER) AS rank
  FROM pairs
) t WHERE rank <= {k}"""


def _semdedup_oracle_sql(threshold: float = 0.5, n_centroids: int = 16,
                         seed: int = 42, sample_rows: int = 10_000) -> str:
    """Oracle for dedup.semdedup_drop_list.

    Re-derives the k-means centroids exactly like ``_ivf_oracle_sql`` (pure
    seeded training on the id-ordered sample), replicates the per-row
    argmin cluster assignment, then mirrors the Spark plan's within-cluster
    lower-id-neighbour compare: cosine is ROUNDed to 7dp BEFORE the
    threshold on both engines so the cutoff cannot flip on the last bit.
    """
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from alphastats_spark.functions import similarity

    path = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = pq.read_table(f"{path}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = t.column("embedding").to_pylist()
    order = np.argsort(ids, kind="stable")[:sample_rows]
    cents = similarity.kmeans_train([vecs[i] for i in order], n_centroids, 5, seed)
    dim = len(vecs[0])

    d_cols = []
    for i, c in enumerate(cents):
        lit = _plane_sql(c)
        d_cols.append(
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"j -> (e[j] - ({lit})[j]) * (e[j] - ({lit})[j]))) AS d{i}"
        )
    cases = []
    for i in range(len(cents) - 1, 0, -1):
        prev = ", ".join(f"d{j}" for j in range(i))
        prev_min = f"LEAST({prev})" if i > 1 else "d0"
        cases.append(f"WHEN d{i} < {prev_min} THEN {i}")
    argmin = "CASE " + " ".join(cases) + " ELSE 0 END"
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
d AS (SELECT vec_id, e, norm, {", ".join(d_cols)} FROM v),
a AS (SELECT vec_id, e, norm, {argmin} AS ivf_list FROM d),
p AS (
  SELECT y.vec_id AS vec_id,
         ROUND(list_dot_product(x.e, y.e) / (x.norm * y.norm), 7) AS cosine
  FROM a x JOIN a y ON x.ivf_list = y.ivf_list AND x.vec_id < y.vec_id
)
SELECT vec_id, MAX(cosine) AS max_cosine
FROM p WHERE cosine >= {threshold} GROUP BY vec_id"""


def _url_feed_expr():
    """The deterministic injected-URL column shared by the batch and
    streaming URL-dedup gates (see the doc_url_dedup comment block)."""
    s, p, k = F.col("doc_id") % 5, F.col("doc_id") % 25, F.col("doc_id") % 3
    v = F.col("doc_id") % 4
    return (
        F.when(F.col("doc_id") % 10 == 9, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 20 == 7,
              F.lit("https://mal.example/a b?x=1"))
        .when(v == 0, F.concat(
            F.lit("https://site"), s, F.lit(".example/p/"), p))
        .when(v == 1, F.concat(
            F.lit("HTTPS://WWW.Site"), s, F.lit(".Example:443/p/"), p,
            F.lit("#frag")))
        .when(v == 2, F.concat(
            F.lit("https://site"), s, F.lit(".example/p/"), p,
            F.lit("/?utm_source=x&gclid=1")))
        .otherwise(F.concat(
            F.lit("https://site"), s, F.lit(".example:443/p/"), p,
            F.lit("?id="), k, F.lit("&utm_campaign=z")))
    )


#: Independent DuckDB re-implementation of text.canonical_url over the
#: injected feed above: WITH urls (the feed) → c0 (fragment strip) →
#: parts (scheme/host/rest extraction) → hosts (www + default-port) →
#: pq (path split + tracking-param filter) → canon (full-pattern guard +
#: reassembly). Shared by the batch and streaming URL-dedup oracles,
#: which append their own final SELECT over `canon`.
_URL_CANON_SQL = r"""
WITH urls AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 = 9 THEN NULL
         WHEN doc_id % 20 = 7 THEN 'https://mal.example/a b?x=1'
         WHEN doc_id % 4 = 0 THEN
           'https://site' || (doc_id % 5) || '.example/p/' || (doc_id % 25)
         WHEN doc_id % 4 = 1 THEN
           'HTTPS://WWW.Site' || (doc_id % 5) || '.Example:443/p/'
             || (doc_id % 25) || '#frag'
         WHEN doc_id % 4 = 2 THEN
           'https://site' || (doc_id % 5) || '.example/p/' || (doc_id % 25)
             || '/?utm_source=x&gclid=1'
         ELSE
           'https://site' || (doc_id % 5) || '.example:443/p/'
             || (doc_id % 25) || '?id=' || (doc_id % 3) || '&utm_campaign=z'
    END AS url
  FROM documents),
c0 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM urls),
parts AS (
  SELECT doc_id, url, u,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?\s]+)', 1)) AS host0,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?\s]+([/?][^\s]*)?$', 1) AS rest
  FROM c0),
hosts AS (
  SELECT *, CASE WHEN scheme = 'http'
                   THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':80$', '')
                 WHEN scheme = 'https'
                   THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':443$', '')
                 ELSE regexp_replace(host0, '^www\.', '') END AS host
  FROM parts),
pq AS (
  SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS path0,
         -- COALESCE: duckdb's array_to_string returns NULL on an empty
         -- list where Spark's array_join returns '' (tracking-only query)
         COALESCE(array_to_string(list_filter(
             string_split(regexp_extract(rest, '^[^?]*\?(.*)$', 1), '&'),
             x -> NOT regexp_matches(
                 x, '^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid)(=.*)?$')),
           '&'), '') AS q
  FROM hosts),
canon AS (
  SELECT doc_id,
    -- full-pattern guard mirrors text.URL_CANONICAL_FULL_PATTERN: a URL
    -- whose tail the anchored rest regex can't match (whitespace in the
    -- path) must go NULL, not truncate to scheme://host
    CASE WHEN url IS NULL OR scheme = '' OR host = ''
           OR NOT regexp_matches(
               u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?\s]+([/?][^\s]*)?$')
         THEN NULL
         ELSE scheme || '://' || host
              || (CASE WHEN regexp_replace(path0, '(.)/$', '\1') = '/'
                       THEN '' ELSE regexp_replace(path0, '(.)/$', '\1') END)
              || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
    END AS canonical_url
  FROM pq)
"""


def _add_extensions(add) -> None:
    from alphastats_spark.functions import dedup, multimodal, similarity, text

    # ---- text analysis ----------------------------------------------------
    add("doc_token_counts",
        lambda spark, sf_dir: _docs(spark, sf_dir).select(
            "doc_id",
            text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            text.bpe_ish_token_count(F.col("text")).cast("bigint").alias("n_subword_tokens"),
        ),
        f"""SELECT doc_id,
       len({_TOKS_SQL}) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]+')) AS n_subword_tokens
FROM documents""")

    def _text_stats(docs: DataFrame) -> DataFrame:
        return docs.select(
            "doc_id",
            F.round(text.punct_ratio(F.col("text")), ROUND).alias("punct_ratio"),
            F.round(text.digit_ratio(F.col("text")), ROUND).alias("digit_ratio"),
            F.round(text.stopword_ratio(F.col("text")), ROUND).alias("stopword_ratio"),
            F.round(text.avg_token_len(F.col("text")), ROUND).alias("avg_token_len"),
        )

    _text_stats_sql = f"""SELECT doc_id,
  ROUND(CASE WHEN length(text) > 0 THEN
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
    ELSE 0 END, {ROUND}) AS punct_ratio,
  ROUND(CASE WHEN length(text) > 0 THEN
    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
    ELSE 0 END, {ROUND}) AS digit_ratio,
  ROUND(CASE WHEN len({_LTOKS_SQL}) > 0 THEN
    len(list_filter({_LTOKS_SQL}, t -> t IN ({_stop_list()}))) * 1.0 / len({_LTOKS_SQL})
    ELSE 0 END, {ROUND}) AS stopword_ratio,
  ROUND(CASE WHEN len({_TOKS_SQL}) > 0 THEN
    list_sum(list_transform({_TOKS_SQL}, t -> length(t))) * 1.0 / len({_TOKS_SQL})
    ELSE 0 END, {ROUND}) AS avg_token_len
FROM documents"""

    add("doc_text_stats",
        lambda spark, sf_dir: _text_stats(_docs(spark, sf_dir)),
        _text_stats_sql)

    # adversarial null sweep, text family: same operator over the
    # deterministic null/empty injection (see _docs_nulled) — the null path
    # (ratios all 0.0) is driver-checked, not latent
    add("doc_text_stats_nulls",
        lambda spark, sf_dir: _text_stats(_docs_nulled(spark, sf_dir)),
        f"WITH {_NULLS_DOCS_CTE}\n{_text_stats_sql}")

    _quality_cte = f"""
parts AS (
  SELECT doc_id, source,
    len({_TOKS_SQL}) * 1.0 AS n_tok,
    CASE WHEN len({_TOKS_SQL}) > 0 THEN
      list_sum(list_transform({_TOKS_SQL}, t -> length(t))) * 1.0 / len({_TOKS_SQL})
      ELSE 0 END AS atl,
    CASE WHEN len({_LTOKS_SQL}) > 0 THEN
      len(list_filter({_LTOKS_SQL}, t -> t IN ({_stop_list()}))) * 1.0 / len({_LTOKS_SQL})
      ELSE 0 END AS stop_ratio,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
      ELSE 0 END
    + CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
      ELSE 0 END AS noise
  FROM documents
),
scored AS (
  SELECT doc_id, source, ROUND(
      0.3 * LEAST(n_tok / 50.0, 1.0)
    + 0.2 * (CASE WHEN atl >= 3 AND atl <= 10 THEN 1.0 ELSE 0.5 END)
    + 0.2 * LEAST(stop_ratio * 5, 1.0)
    + 0.3 * GREATEST(1.0 - 2 * noise, 0.0), {ROUND}) AS quality_score
  FROM parts
)"""

    add("doc_quality",
        lambda spark, sf_dir: _docs(spark, sf_dir).select(
            "doc_id",
            F.round(text.quality_score(F.col("text")), ROUND).alias("quality_score"),
        ),
        f"WITH {_quality_cte}\nSELECT doc_id, quality_score FROM scored")

    # Per-source top-k curation (FineWeb-style "best K docs per domain"):
    # rank window partitioned by source over the 7dp-rounded quality score
    # with a doc_id tiebreak, so both engines order identical doubles
    # deterministically.
    add("doc_topk_quality",
        lambda spark, sf_dir: pipeline.topk_by_quality(_docs(spark, sf_dir), k=10),
        f"""WITH {_quality_cte}
SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, quality_score AS quality
FROM (
  SELECT source, doc_id, quality_score,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality_score DESC, doc_id) AS rank
  FROM scored
)
WHERE rank <= 10""")

    # Markup stripping over a DETERMINISTIC html injection (the corpus has
    # no markup, so — like the PII and null injections — the operator would
    # be vacuous on raw documents): doc_id%3==0 wraps the text in
    # div/b tags plus a script block whose content must vanish wholesale;
    # doc_id%3==1 prepends escaped entities (unescaped AFTER tag removal,
    # so `&lt;p&gt;` survives as literal `<p>` content) and appends an html
    # comment; doc_id%3==2 is passthrough. Both engines run the identical
    # injection + RE2-compatible pattern chain.
    _mk0_pre = '<div class="c"><b>'
    _mk0_post = '</b><script type="text/javascript">var x = 1 < 2;</script></div>'
    _mk1_pre = "&lt;p&gt; &amp;amp; &nbsp;"
    _mk1_post = " <!-- note -->"

    def _docs_marked(spark, sf_dir):
        d = _docs(spark, sf_dir)
        m = F.col("doc_id") % 3
        marked = (
            F.when(m == 0, F.concat(F.lit(_mk0_pre), F.col("text"), F.lit(_mk0_post)))
            .when(m == 1, F.concat(F.lit(_mk1_pre), F.col("text"), F.lit(_mk1_post)))
            .otherwise(F.col("text"))
        )
        return d.select("doc_id", marked.alias("text"))

    add("doc_strip_markup",
        lambda spark, sf_dir: _docs_marked(spark, sf_dir).select(
            "doc_id", text.strip_markup(F.col("text")).alias("clean_text")
        ),
        f"""
WITH marked AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN '{_mk0_pre.replace("'", "''")}' || text || '{_mk0_post.replace("'", "''")}'
           WHEN 1 THEN '{_mk1_pre}' || text || '{_mk1_post}'
           ELSE text END AS text
  FROM documents
),
noblock AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
           '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
           '(?s)<!--.*?-->', ' ', 'g') AS t
  FROM marked
),
notag AS (SELECT doc_id, regexp_replace(t, '</?[A-Za-z][^>]*>', ' ', 'g') AS t
          FROM noblock),
unesc AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(t,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&nbsp;', ' '), '&amp;', '&') AS t
  FROM notag
)
SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text
FROM unesc""")

    add("doc_lang_id",
        lambda spark, sf_dir: _docs(spark, sf_dir).select(
            "doc_id", text.lang_id(F.col("text")).alias("lang_pred")
        ),
        _lang_id_sql())

    add("doc_fingerprint",
        lambda spark, sf_dir: _docs(spark, sf_dir).select(
            "doc_id", text.fingerprint(F.col("text")).alias("fingerprint")
        ),
        f"SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents")

    # ---- corpus statistics & scrubbing ------------------------------------
    add("doc_tfidf_topk",
        lambda spark, sf_dir: _round_df(text.tf_idf_topk(_docs(spark, sf_dir), k=5)),
        f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS dfv FROM tf GROUP BY 1),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (LN((1.0 + nn.n) / (1.0 + dfreq.dfv)) + 1.0) AS tf_idf
  FROM tf JOIN dfreq USING (term), nn
)
SELECT doc_id, term, tf, ROUND(tf_idf, {ROUND}) AS tf_idf, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY tf_idf DESC, term) AS INTEGER) AS rank
  FROM scored
) t WHERE rank <= 5""")

    # Okapi BM25 top-k lexical retrieval (text.bm25_topk, Robertson &
    # Zaragoza 2009): Spark scores via the zero-shuffle map shape
    # (per-doc array-expression term counts, stats re-injected as
    # literals, TakeOrderedAndProject cut); the oracle re-derives N,
    # avgdl, per-term document frequency and the positive idf from the
    # relational tf table, with the score written as the SAME
    # left-associated sum over the sorted query terms so the float
    # summation order matches. Query "spark window merge" tokenizes to
    # itself under normalize(), so both engines score identical terms.
    _bm25_q = ["merge", "spark", "window"]  # sorted, as bm25_topk sorts
    _bm25_contrib = " + ".join(
        f"(idf.i{i} * (q.tf{i} * {text.BM25_K1 + 1.0!r}) / "
        f"(q.tf{i} + {text.BM25_K1!r} * ({1.0 - text.BM25_B!r} + "
        f"{text.BM25_B!r} * q.dl / st.avgdl)))"
        for i in range(len(_bm25_q))
    )
    # CTE chain shared verbatim by doc_bm25_topk and doc_hybrid_rrf so
    # the fused oracle's lexical leg is byte-identical to the gated one.
    _bm25_ctes = f"""norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
st AS (
  SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(tf), 0) FROM tf) AS DOUBLE)
           / (SELECT COUNT(DISTINCT doc_id) FROM documents) AS avgdl
),
dfreq AS (
  SELECT {', '.join(f"(SELECT COUNT(*) FROM tf WHERE term = '{t}') AS d{i}"
                    for i, t in enumerate(_bm25_q))}
),
idf AS (
  SELECT {', '.join(f"LN(1.0 + (st.n - dfreq.d{i} + 0.5) / (dfreq.d{i} + 0.5)) AS i{i}"
                    for i in range(len(_bm25_q)))}
  FROM st, dfreq
),
q AS (
  SELECT tf.doc_id, CAST(dl.dl AS DOUBLE) AS dl,
         {', '.join(f"CAST(SUM(CASE WHEN term = '{t}' THEN tf ELSE 0 END) AS DOUBLE) AS tf{i}"
                    for i, t in enumerate(_bm25_q))}
  FROM tf JOIN dl USING (doc_id)
  WHERE term IN ({', '.join(f"'{t}'" for t in _bm25_q)})
  GROUP BY 1, 2
),
bm AS (
  SELECT doc_id, bm25, CAST(ROW_NUMBER() OVER (
      ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
  FROM (
    SELECT q.doc_id, ROUND({_bm25_contrib}, {ROUND}) AS bm25
    FROM q, st, idf
  ) s
  ORDER BY bm25 DESC, doc_id LIMIT 20
)"""

    add("doc_bm25_topk",
        lambda spark, sf_dir: text.bm25_topk(
            _docs(spark, sf_dir), "spark window merge", k=20),
        f"""
WITH {_bm25_ctes}
SELECT doc_id, bm25, rank FROM bm ORDER BY bm25 DESC, doc_id""")

    # Hybrid lexical+dense retrieval fused with reciprocal-rank fusion
    # (similarity.rrf_fuse / hybrid_topk; Cormack, Clarke & Buettcher,
    # SIGIR 2009): BM25 top-20 over documents and brute-force cosine
    # top-20 over embeddings (shared 0..N id space), fused as
    # 1/(60+rank) contributions. Both engines build the fused score as
    # the SAME left-associated COALESCE chain over a full-outer join —
    # never a SUM whose float order is engine-defined — so the doubles
    # match bit-for-bit before the shared 7dp round.
    def _hybrid_query(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return similarity.hybrid_topk(
            _docs(spark, sf_dir), emb, "spark window merge", qvec,
            k=10, depth=20)

    add("doc_hybrid_rrf", _hybrid_query, f"""
WITH {_bm25_ctes},
dq AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    ROUND(list_dot_product(embedding::DOUBLE[], qe)
      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       * sqrt(list_dot_product(qe, qe))), {ROUND}) AS cosine
  FROM embeddings, dq
),
dn AS (
  SELECT vec_id, rank FROM (
    SELECT vec_id, CAST(ROW_NUMBER() OVER (
        ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
    FROM scored
  ) t WHERE rank <= 20
),
fused AS (
  SELECT COALESCE(bm.doc_id, dn.vec_id) AS id,
         ROUND(COALESCE(1.0 / (60 + bm.rank), 0.0)
             + COALESCE(1.0 / (60 + dn.rank), 0.0), {ROUND}) AS rrf
  FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.vec_id
)
SELECT id, rrf, CAST(ROW_NUMBER() OVER (
    ORDER BY rrf DESC, id) AS INTEGER) AS rank
FROM (SELECT * FROM fused ORDER BY rrf DESC, id LIMIT 10) f
ORDER BY rrf DESC, id""")

    # All-pairs TF-IDF cosine similarity (text.tfidf_similarity_pairs,
    # Bayardo et al. 2007 all-pairs shape): sparse inverted-index
    # self-join on 60-bit hashed terms, smoothed idf shared with
    # doc_tfidf_topk, norms UNCAPPED while the join drops df=1 and
    # df>cap postings — the oracle mirrors the guard structurally
    # (dfreq bounds on the join CTE only), so parity holds at any sf.
    add("doc_tfidf_pairs",
        lambda spark, sf_dir: text.tfidf_similarity_pairs(
            _docs(spark, sf_dir), threshold=0.5),
        f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
toks AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term FROM norm),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS dfv FROM tf GROUP BY 1),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term, dfreq.dfv,
         tf.tf * (LN((1.0 + nn.n) / (1.0 + dfreq.dfv)) + 1.0) AS w
  FROM tf JOIN dfreq USING (term), nn
),
norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY 1),
posting AS (
  SELECT doc_id, CAST(CONCAT('0x', substr(md5(term), 1, 15)) AS BIGINT) AS t, w
  FROM w WHERE dfv BETWEEN 2 AND {text.TFIDF_PAIRS_MAX_TERM_DF}
),
dot AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
  FROM posting a JOIN posting b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), {ROUND}) AS cosine
FROM dot
JOIN norms na ON id_a = na.doc_id
JOIN norms nb ON id_b = nb.doc_id
WHERE ROUND(dot / (na.nrm * nb.nrm), {ROUND}) >= 0.5""")

    # Per-source vocabulary heavy hitters: top-10 normalized tokens per
    # provenance slice (boilerplate/template profiling ahead of dedup
    # tuning). Spark ranks with a row_number window over the aggregated
    # (source, term) table; ties break term-ascending in both engines so
    # the cut is deterministic.
    add("corpus_top_terms_per_source",
        lambda spark, sf_dir: text.top_terms_per_source(
            _docs(spark, sf_dir), k=10),
        f"""
WITH tok AS (SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS term
             FROM documents),
c AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM tok WHERE term <> '' GROUP BY 1, 2)
SELECT source, term, n_occurrences, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY n_occurrences DESC, term) AS INTEGER) AS rank
  FROM c
) t WHERE rank <= 10""")

    # Unigram-distribution divergence between two corpus slices
    # (text.corpus_divergence): add-0.5 smoothed KL both ways + the
    # bounded symmetric JS over the union vocabulary — the drift /
    # mixture diagnostic run before blending sources. Slices: the
    # first ten synthetic sources vs the other ten. Both engines
    # compute per-term contributions from exact integer counts; the
    # final sums tolerate any accumulation order at 7dp (terms are
    # ~1/V, round-off accumulates ~V*2^-53).
    _div_srcs = ", ".join(f"'src{i}'" for i in range(10))

    def _divergence_query(spark, sf_dir):
        d = _docs(spark, sf_dir)
        in_a = F.col("source").isin([f"src{i}" for i in range(10)])
        return text.corpus_divergence(d.where(in_a), d.where(~in_a))

    add("corpus_js_divergence", _divergence_query, f"""
WITH ca AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents WHERE source IN ({_div_srcs})
  ) t WHERE term <> '' GROUP BY 1
),
cb AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
    FROM documents WHERE source NOT IN ({_div_srcs})
  ) t WHERE term <> '' GROUP BY 1
),
j AS (
  SELECT COALESCE(ca.c, 0) AS cca, COALESCE(cb.c, 0) AS ccb
  FROM ca FULL OUTER JOIN cb USING (term)
),
tot AS (
  SELECT CAST(SUM(cca) AS BIGINT) AS ta, CAST(SUM(ccb) AS BIGINT) AS tb,
         COUNT(*) AS v
  FROM j
),
s AS (
  SELECT (cca + 0.5) / (ta + 0.5 * v) AS p,
         (ccb + 0.5) / (tb + 0.5 * v) AS q
  FROM j, tot
)
SELECT ROUND(SUM(p * LN(p / q)), {ROUND}) AS kl_ab,
       ROUND(SUM(q * LN(q / p)), {ROUND}) AS kl_ba,
       ROUND(0.5 * SUM(p * LN(p / ((p + q) / 2.0)))
           + 0.5 * SUM(q * LN(q / ((p + q) / 2.0))), {ROUND}) AS js_divergence,
       (SELECT v FROM tot) AS vocab_union,
       (SELECT ta FROM tot) AS tokens_a,
       (SELECT tb FROM tot) AS tokens_b
FROM s""")

    add("corpus_ngram_counts",
        lambda spark, sf_dir: text.ngram_counts(_docs(spark, sf_dir), n=2, min_count=2),
        f"""
WITH norm AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
g AS (
  SELECT unnest(list_transform(
      range(1, greatest(len(toks) - 1, 0) + 1),
      i -> array_to_string(toks[i:i+1], ' '))) AS ngram
  FROM norm
)
SELECT ngram, COUNT(*) AS n_occurrences FROM g
GROUP BY 1 HAVING COUNT(*) >= 2""")

    def _redact(spark: SparkSession, sf_dir: str) -> DataFrame:
        # inject deterministic PII spans so the scrub patterns actually fire
        injected = F.concat_ws(
            "",
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via https://ex.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" or call +1 555-010-7788 now"),
        )
        return _docs(spark, sf_dir).select(
            "doc_id", text.redact_pii(injected).alias("redacted")
        )

    add("doc_redact_pii", _redact, r"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(
    text || ' contact user' || doc_id || '@example.com via https://ex.org/d/'
         || doc_id || ' or call +1 555-010-7788 now',
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    'https?://[^\s]+', '<URL>', 'g'),
    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
FROM documents""")

    # Per-domain link profile over deterministically injected URLs (the
    # synthetic corpus carries none — same injection idiom as
    # doc_redact_pii, so extraction demonstrably fires): 7 site domains ×
    # 3 cdn domains, one of each per third doc.
    def _domains(spark, sf_dir):
        d = _docs(spark, sf_dir)
        injected = d.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.coalesce(F.col("text"), F.lit("")),
                    F.lit(" see https://site"), F.col("doc_id") % 7,
                    F.lit(".example/p/"), F.col("doc_id"),
                    F.lit(" and http://cdn"), F.col("doc_id") % 3,
                    F.lit(".example/asset"),
                ),
            ).otherwise(F.col("text")).alias("text"),
        )
        return text.domain_stats(injected)

    add("doc_url_domains", _domains, r"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           COALESCE(text, '') || ' see https://site' || (doc_id % 7)
             || '.example/p/' || doc_id
             || ' and http://cdn' || (doc_id % 3) || '.example/asset'
         ELSE text END AS text
  FROM documents),
u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
      FROM inj),
d AS (SELECT doc_id, regexp_extract(url, 'https?://([^/\s]+)', 1) AS domain FROM u)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM d WHERE domain <> '' GROUP BY 1""")

    # URL-level dedup (text.canonical_url + dedup.url_dedup): deterministic
    # injected URLs exercise every canonicalization rule — doc_id%4 picks a
    # variant (plain / CASE+www+:443+fragment / trailing-slash+tracking-only
    # query / :443+kept-param+tracking), doc_id%10==9 injects NULLs (keep-
    # self path), doc_id%20==7 injects one shared MALFORMED URL (whitespace
    # in the path — the full-pattern guard must NULL it so the rows keep
    # themselves; under the pre-r11 truncation bug they'd all collide at
    # 'https://mal.example'). Variants 0-2 of one (site, page) collapse to
    # one canonical; variant 3 keeps its ?id= param. The oracle re-implements
    # the whole rewrite chain independently in DuckDB SQL (regexp_extract /
    # list_filter / window MIN), so string-exact canonical parity is hashed.
    # The feed expr and the oracle's urls→canon CTE chain are shared with
    # the streaming twin below (_url_feed_expr / _URL_CANON_SQL).
    def _url_dedup(spark, sf_dir):
        d = _docs(spark, sf_dir)
        return dedup.url_dedup(d.select("doc_id", _url_feed_expr().alias("url")))

    add("doc_url_dedup", _url_dedup, _URL_CANON_SQL + r"""
SELECT doc_id, canonical_url,
       CASE WHEN canonical_url IS NULL THEN doc_id
            ELSE MIN(doc_id) OVER (PARTITION BY canonical_url) END AS kept_id,
       (CASE WHEN canonical_url IS NULL THEN doc_id
             ELSE MIN(doc_id) OVER (PARTITION BY canonical_url) END) <> doc_id
         AS is_dup
FROM canon""")

    # Streaming twin (streaming.streaming_url_dedup): the SAME injected URL
    # feed arrives in TWO micro-batches (maxFilesPerTrigger=1 over
    # mtime-ordered files, ids < 250 first) so canonical groups straddle the
    # batch boundary and the cross-batch state path (reject against a
    # canonical owned by an EARLIER batch) is the one driver-checked;
    # null/malformed canonicals transit the stateless keep-self branch.
    # Because the earlier batch holds the smaller ids and within-batch ties
    # go to min id, first-seen == min(doc_id) per canonical — the same
    # window the batch oracle uses. In-query assertions pin the 2-batch
    # feed and that at least one canonical group actually straddles it.
    def _url_dedup_streaming(spark, sf_dir):
        import glob
        import os
        import shutil
        import tempfile
        import uuid

        from alphastats_spark.streaming import streaming_url_dedup

        src = tempfile.mkdtemp(prefix="as_surl_")
        feed = _docs(spark, sf_dir).select(
            "doc_id", _url_feed_expr().alias("url")
        )
        try:
            for i, pred in enumerate(
                [F.col("doc_id") < 250, F.col("doc_id") >= 250]
            ):
                stage = f"{src}_stage{i}"
                feed.where(pred).coalesce(1).write.mode("overwrite").parquet(stage)
                part = glob.glob(f"{stage}/part-*.parquet")[0]
                dst = f"{src}/batch-{i:03d}.parquet"
                shutil.move(part, dst)
                os.utime(dst, (1_600_000_000 + 1000 * i,) * 2)
                shutil.rmtree(stage, ignore_errors=True)
            stream = (
                spark.readStream.schema("doc_id bigint, url string")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            name = f"surl_{uuid.uuid4().hex[:8]}"
            with _stream_parts(spark, src):
                sq = (
                    streaming_url_dedup(stream)
                    .writeStream.format("memory")
                    .queryName(name)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                _await_stream(sq, src)
            assert len(sq.recentProgress) >= 2, "feed must span 2 micro-batches"
            rows = spark.table(name).select(
                "doc_id", "canonical_url", "first_id", "admitted"
            ).collect()
            # at least one canonical group straddles the boundary: a row
            # with id >= 250 rejected against an owner from batch 0
            assert any(
                (not r["admitted"]) and r["doc_id"] >= 250 and r["first_id"] < 250
                for r in rows
            ), "no canonical group straddled the micro-batch boundary"
        finally:
            shutil.rmtree(src, ignore_errors=True)
        return spark.createDataFrame(
            rows,
            "doc_id bigint, canonical_url string, first_id bigint, admitted boolean",
        )

    add("doc_url_dedup_streaming", _url_dedup_streaming, _URL_CANON_SQL + r"""
SELECT doc_id, canonical_url,
       CASE WHEN canonical_url IS NULL THEN doc_id
            ELSE MIN(doc_id) OVER (PARTITION BY canonical_url) END AS first_id,
       (canonical_url IS NULL
        OR doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url)) AS admitted
FROM canon""")

    # ---- deduplication ----------------------------------------------------
    _exact_sql = f"""SELECT md5({_NORM_SQL}) AS fingerprint,
       MIN(doc_id) AS representative, COUNT(*) AS copies
FROM documents GROUP BY 1"""

    add("dedup_exact",
        lambda spark, sf_dir: dedup.exact_duplicates(_docs(spark, sf_dir)),
        _exact_sql)

    # adversarial null sweep, dedup family: null texts hash to a null
    # fingerprint (one group — both engines group nulls together), empty
    # texts to md5('') — both boundaries driver-checked
    add("dedup_exact_nulls",
        lambda spark, sf_dir: dedup.exact_duplicates(_docs_nulled(spark, sf_dir)),
        f"WITH {_NULLS_DOCS_CTE}\n{_exact_sql}")

    # Corpus-wide duplicate-paragraph removal (dedup.paragraph_dedup): the
    # synthetic docs are single-line, so multi-paragraph texts are injected
    # deterministically — doc_id%10==9 NULL text (backfill path), %20==7
    # two corpus-hot footer lines ONLY (all-dropped ⇒ text_clean=''),
    # otherwise text + a hot 'footer k' (k = id%7, ~60 copies each at
    # sf0.01 > max_copies=2 ⇒ dropped) + a singleton 'unique line id'
    # (kept). The oracle re-derives the whole explode→count→filter→
    # reassemble chain independently in DuckDB (positional unnest +
    # string_agg ORDER BY pos).
    def _para_dedup(spark, sf_dir):
        d = _docs(spark, sf_dir)
        multi = d.select(
            "doc_id",
            F.when(F.col("doc_id") % 10 == 9, F.lit(None).cast("string"))
            .when(
                F.col("doc_id") % 20 == 7,
                F.lit("shared footer alpha\nshared footer beta"),
            )
            .otherwise(
                F.concat_ws(
                    "\n",
                    F.col("text"),
                    F.concat(
                        F.lit("footer "),
                        (F.col("doc_id") % 7).cast("string"),
                    ),
                    F.concat(
                        F.lit("unique line "), F.col("doc_id").cast("string")
                    ),
                )
            )
            .alias("text"),
        )
        return dedup.paragraph_dedup(multi, max_copies=2)

    _para_norm = (
        r"trim(regexp_replace(regexp_replace(lower(para), '[^a-z0-9\s]',"
        r" ' ', 'g'), '\s+', ' ', 'g'))"
    )
    # Winnowing fingerprints (dedup.winnow_fingerprints; Schleimer,
    # Wilkerson & Aiken, SIGMOD 2003): positional k-gram 60-bit md5
    # hashes, per-window minima, distinct per doc. Three stateless
    # array projections + one explode — zero shuffle; the oracle
    # mirrors the hash verbatim and the same window/short-doc
    # degeneration (fewer than `window` grams -> the single global
    # minimum; fewer than k tokens -> no rows).
    _win_k, _win_w = 4, 3
    add("doc_winnow_fingerprints",
        lambda spark, sf_dir: dedup.winnow_fingerprints(
            _docs(spark, sf_dir), k=_win_k, window=_win_w),
        f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
tk AS (
  SELECT doc_id,
         list_filter(string_split(nt, ' '), t -> t <> '') AS toks
  FROM norm
),
g AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= {_win_k} THEN list_transform(
      range(1, len(toks) - {_win_k} + 2),
      i -> CAST(CONCAT('0x', substr(md5(
             array_to_string(toks[i:i+{_win_k - 1}], ' ')), 1, 15))
           AS BIGINT))
    ELSE [] END AS gh
  FROM tk
),
w AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(gh) - {_win_w - 1}, 1) + 1),
    j -> list_min(gh[j:j+{_win_w - 1}]))) AS fps
  FROM g WHERE len(gh) > 0
)
SELECT doc_id, unnest(fps) AS fingerprint FROM w""")

    add("doc_paragraph_dedup", _para_dedup, rf"""
WITH inj AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 = 9 THEN NULL
         WHEN doc_id % 20 = 7 THEN
           'shared footer alpha' || chr(10) || 'shared footer beta'
         ELSE text || chr(10) || 'footer ' || (doc_id % 7)
              || chr(10) || 'unique line ' || doc_id
    END AS text
  FROM documents),
lists AS (SELECT doc_id, string_split_regex(text, '\r?\n') AS l FROM inj),
p AS (
  SELECT doc_id, pos, l[pos] AS para
  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS pos
        FROM lists)
  WHERE trim(l[pos]) <> ''),
h AS (SELECT doc_id, pos, para, md5({_para_norm}) AS hh FROM p),
hot AS (SELECT hh FROM h GROUP BY hh HAVING COUNT(*) > 2),
fl AS (SELECT h.*, hh IN (SELECT hh FROM hot) AS is_hot FROM h),
reb AS (
  SELECT doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
    CAST(COUNT(*) FILTER (is_hot) AS BIGINT) AS n_dropped,
    COALESCE(string_agg(CASE WHEN NOT is_hot THEN para END, chr(10)
                        ORDER BY pos), '') AS text_clean
  FROM fl GROUP BY doc_id)
SELECT d.doc_id, reb.text_clean,
  COALESCE(reb.n_paragraphs, 0) AS n_paragraphs,
  COALESCE(reb.n_dropped, 0) AS n_dropped
FROM documents d LEFT JOIN reb USING (doc_id)""")

    # N-gram novelty vs a reference corpus (dedup.ngram_novelty): ref =
    # the doc_id%3==0 slice, every doc scored against it — ref members
    # exercise the novelty≈0 path (their grams are in the vocabulary by
    # construction), the rest the mixed path. Oracle re-derives the
    # distinct-gram vocabulary + left-join rollup over the shared
    # 60-bit shingle-hash CTE.
    add("doc_ngram_novelty",
        lambda spark, sf_dir: dedup.ngram_novelty(
            _docs(spark, sf_dir),
            _docs(spark, sf_dir).where(F.col("doc_id") % 3 == 0),
        ),
        _SHINGLE_HASH_CTE + """,
refv AS (SELECT DISTINCT shingle FROM shh WHERE doc_id % 3 = 0),
per AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(*) FILTER (r.shingle IS NULL) AS BIGINT) AS n_unseen
  FROM shh s LEFT JOIN refv r ON s.shingle = r.shingle
  GROUP BY s.doc_id)
SELECT d.doc_id,
  COALESCE(per.n_grams, 0) AS n_grams,
  COALESCE(per.n_unseen, 0) AS n_unseen,
  CASE WHEN per.n_grams > 0 THEN per.n_unseen * 1.0 / per.n_grams END
    AS novelty
FROM documents d LEFT JOIN per USING (doc_id)""")

    mh_sql = _mh_sql()
    add("dedup_minhash_signatures",
        lambda spark, sf_dir: dedup.minhash_signatures(_docs(spark, sf_dir)),
        _SHINGLE_CTE + f"SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id")

    band_rows = _band_values_sql()
    add("dedup_lsh_candidates",
        lambda spark, sf_dir: dedup.lsh_candidate_pairs(_docs(spark, sf_dir)),
        _SHINGLE_CTE + f""",
sig AS (SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {band_rows}) AS b(band, sig)
),
bover AS (SELECT band, sig FROM bands GROUP BY band, sig
          HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap AS (SELECT b.* FROM bands b ANTI JOIN bover o
         ON b.band = o.band AND b.sig = o.sig)
SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_bands
FROM bcap l JOIN bcap r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
GROUP BY 1, 2""")

    # Streaming LSH dedup: same band semantics as dedup_lsh_candidates but
    # through Structured Streaming band-signature state — distinct pairs
    # must match the batch bands exactly, so it gets the full oracle.
    def _stream_dedup(spark, sf_dir):
        import tempfile
        import uuid

        from alphastats_spark.streaming import streaming_dedup_candidates

        src = tempfile.mkdtemp(prefix="as_stream_dedup_")
        _docs(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
        # Bucketed signature state, sized from the staged feed (data-derived
        # like _stream_parts, not a box constant): this gate stream replays
        # the WHOLE corpus in one availableNow trigger, the exact shape the
        # bucketed layout is for — per-(band,sig) groups cost ~0.2 ms of
        # per-group Arrow/Python machinery per trigger (7.5 s over the 38k
        # signature groups at sf0.1) while the bucketed write volume is the
        # same because every signature is written exactly once either way.
        # ~1 bucket per KiB of feed keeps dozens of signatures per bucket at
        # any feed size; the pair multiset is layout-invariant (pinned by
        # tests/test_streaming.py::test_streaming_dedup_bucketed_state_parity).
        byts = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(src)
            for f in files
        )
        buckets = max(64, min(65_536, byts >> 10))
        with _stream_parts(spark, src):
            sq = (
                streaming_dedup_candidates(
                    stream, max_ids_per_sig=1_000_000, state_buckets=buckets
                )
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(sq, src)
        return spark.table(name).select("id_a", "id_b").distinct()

    add("dedup_streaming_candidates", _stream_dedup, _SHINGLE_CTE + f""",
sig AS (SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {band_rows}) AS b(band, sig)
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM bands l JOIN bands r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id""")

    # LSH candidates → exact Jaccard verification restricted to candidates
    # (the 100 TB pipeline shape; the all-pairs exact join below is the
    # verification-scale baseline)
    add("dedup_lsh_verified",
        lambda spark, sf_dir: dedup.lsh_verified_pairs(
            _docs(spark, sf_dir), threshold=0.5
        ),
        _SHINGLE_HASH_CTE + f""",
sig AS (SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {band_rows}) AS b(band, sig)
),
bover AS (SELECT band, sig FROM bands GROUP BY band, sig
          HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap AS (SELECT b.* FROM bands b ANTI JOIN bover o
         ON b.band = o.band AND b.sig = o.sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bcap l JOIN bcap r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS cnt
  FROM cand c
  JOIN shh a ON a.doc_id = c.id_a
  JOIN shh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5""")

    # Banding-family advisor (r12): the threshold -> (k, r, b) selection
    # rule as a Spark plan (sequence explode + row_number window) vs an
    # independent DuckDB formulation (generate_series + QUALIFY-style
    # CTE). Cross-engine float noise is excluded by both sides rounding
    # the hit probability to 7dp BEFORE the eligibility compare.
    add("dedup_banding_recommend",
        lambda spark, sf_dir: dedup.recommend_banding(
            spark, [0.3, 0.5, 0.7, 0.9], k_budget=24, min_hit_prob=0.95
        ),
        f"""
WITH th(threshold) AS (VALUES (0.3), (0.5), (0.7), (0.9)),
cand AS (
  -- 24 // r, NOT CAST(24 / r AS INT): DuckDB float-division + cast
  -- ROUNDS (24/5 -> 5) while Spark's (lit(24)/r).cast('int') truncates —
  -- integer floor division mirrors the truncation exactly for r >= 1
  SELECT th.threshold, r.r, CAST(24 // r.r AS INT) AS b
  FROM th, generate_series(1, 24) AS r(r)
),
scored AS (
  SELECT threshold, r, b,
         ROUND(1.0 - POW(1.0 - POW((1.0 + threshold) / 2.0, r), b), {ROUND})
           AS hit_prob
  FROM cand WHERE b >= 1
),
best AS (
  SELECT threshold, r, b, hit_prob,
         ROW_NUMBER() OVER (PARTITION BY threshold ORDER BY r DESC) AS rn
  FROM scored WHERE hit_prob >= 0.95
)
SELECT threshold, CAST(r * b AS INT) AS k, CAST(r AS INT) AS rows_per_band,
       CAST(b AS INT) AS n_bands, hit_prob
FROM best WHERE rn = 1""")

    # The parameterized banding family (r12): lsh_verified_pairs at a
    # NON-default (k=12, rows_per_band=3, b=4) against an oracle whose
    # hash-family SQL is generated from the same parameters — driver-gates
    # the (k, r) plumbing end-to-end (signature aggregate width, band
    # grouping stride, guard, size-ratio prefilter, verify join), not just
    # pytest-checks it. A family mismatch anywhere yields different band
    # collisions and a value-hash mismatch.
    add("dedup_lsh_params",
        lambda spark, sf_dir: dedup.lsh_verified_pairs(
            _docs(spark, sf_dir), k=12, rows_per_band=3, threshold=0.5
        ),
        _SHINGLE_HASH_CTE + f""",
sig AS (SELECT doc_id, {_mh_sql(12)} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {_band_values_sql(12, 3)}) AS b(band, sig)
),
bover AS (SELECT band, sig FROM bands GROUP BY band, sig
          HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap AS (SELECT b.* FROM bands b ANTI JOIN bover o
         ON b.band = o.band AND b.sig = o.sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bcap l JOIN bcap r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS cnt
  FROM cand c
  JOIN shh a ON a.doc_id = c.id_a
  JOIN shh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5""")

    # Asymmetric doc-in-doc containment |A∩B|/|A| at 0.8 — the wrapper/
    # quote duplication Jaccard misses when sizes differ; both directions
    # derived from one a<b shingle equi-join.
    # The oracle mirrors the production default max_shingle_df cap
    # structurally (dfreq CTE + capped join input), so parity holds at any
    # sf — not just where no shingle happens to exceed the cap. Sizes stay
    # uncapped on both sides, exactly as in containment_pairs.
    add("dedup_containment",
        lambda spark, sf_dir: dedup.containment_pairs(
            _docs(spark, sf_dir), threshold=0.8),
        _SHINGLE_HASH_CTE + f""",
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM shh GROUP BY shingle),
shc AS (
  SELECT shh.doc_id, shh.shingle FROM shh
  JOIN dfreq ON shh.shingle = dfreq.shingle
  WHERE dfreq.df <= {dedup.CONTAINMENT_MAX_SHINGLE_DF}
),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b, c, sa.n_sh AS size_a, sb.n_sh AS size_b
  FROM common
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
),
dirs AS (
  SELECT id_a AS contained_id, id_b AS container_id,
         ROUND(c * 1.0 / size_a, {ROUND}) AS containment FROM scored
  UNION ALL
  SELECT id_b, id_a, ROUND(c * 1.0 / size_b, {ROUND}) FROM scored
)
SELECT contained_id, container_id, containment
FROM dirs WHERE containment >= 0.8""")

    add("dedup_ngram_jaccard",
        lambda spark, sf_dir: dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5),
        _SHINGLE_HASH_CTE + f""",
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(c * 1.0 / (sa.n_sh + sb.n_sh - c), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(c * 1.0 / (sa.n_sh + sb.n_sh - c), {ROUND}) >= 0.5""")

    add("dedup_simhash",
        lambda spark, sf_dir: dedup.simhash(_docs(spark, sf_dir)),
        _simhash_sql())

    # Banded SimHash near-dup pairs (Manku-Jain-Das Sarma, WWW 2007): the
    # pigeonhole band join is EXACT for hamming <= max_hamming, so the
    # oracle can verify it against the straightforward all-pairs scan —
    # a full value check that the candidate-superset + popcount-filter
    # plan loses nothing (functions/dedup.py:simhash_near_dups).
    add("dedup_simhash_pairs",
        lambda spark, sf_dir: dedup.simhash_near_dups(
            _docs(spark, sf_dir), max_hamming=3
        ),
        _simhash_cte() + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")

    # Connected components over the exact-Jaccard pair graph vs a
    # recursive-CTE transitive closure in DuckDB. The gate's pair graphs
    # fall under dedup.DRIVER_CLUSTER_MAX_PAIRS, so this checks the driver
    # union-find; tests pin the distributed path to the same labels.
    add("dedup_clusters",
        lambda spark, sf_dir: dedup.duplicate_clusters(
            dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5),
            assume_distinct_pairs=True,
        ),
        _SHINGLE_HASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + f""",
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE ROUND(c * 1.0 / (sa.n_sh + sb.n_sh - c), {ROUND}) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src""")

    # Composed end-to-end dedup: LSH candidates → verified pairs → CC
    # clusters → per-document LINEAGE (kept_id, cluster_id, reason) — the
    # audit shape a production dedup run needs; survivors are the rows with
    # reason != 'near_dup_dropped'. The oracle rebuilds the identical
    # pipeline (deterministic md5 minhash → recursive-CTE closure) and
    # value-hashes the full lineage, not just the surviving ids.
    add("dedup_corpus",
        lambda spark, sf_dir: dedup.deduplicate(
            _docs(spark, sf_dir), threshold=0.5, lineage=True
        ),
        _SHINGLE_HASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + f""",
sig AS (SELECT doc_id, {mh_sql} FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, b.band, b.sig
  FROM sig, LATERAL (VALUES {band_rows}) AS b(band, sig)
),
bover AS (SELECT band, sig FROM bands GROUP BY band, sig
          HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap AS (SELECT b.* FROM bands b ANTI JOIN bover o
         ON b.band = o.band AND b.sig = o.sig),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bcap l JOIN bcap r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS cnt
  FROM cand c
  JOIN shh a ON a.doc_id = c.id_a
  JOIN shh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
vpairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM vpairs
  UNION SELECT id_b, id_a FROM vpairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
cls AS (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id FROM reach GROUP BY src)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS kept_id,
       COALESCE(c.cluster_id, -1) AS cluster_id,
       CASE WHEN c.cluster_id IS NULL THEN 'unique'
            WHEN c.cluster_id = d.doc_id THEN 'representative'
            ELSE 'near_dup_dropped' END AS reason
FROM documents d LEFT JOIN cls c ON d.doc_id = c.id""")

    # Exact substring dedup (Lee et al. 2021 ExactSubstr at token-k-gram
    # granularity): every token covered by a k-gram occurring >1 time in
    # the corpus is removed. The gram IS the hash (raw text key), so the
    # oracle replicates the full pipeline — gram counts, duplicate-start
    # join, the bounded k-1-preceding coverage window, and the surviving
    # text reassembly — with zero approximation. At sf0.001 this already
    # fires for real: 45/500 docs lose 2697 tokens.
    _ssd_k = 8
    add("doc_substring_dedup",
        lambda spark, sf_dir: dedup.substring_dedup(_docs(spark, sf_dir), k=_ssd_k),
        f"""
WITH base AS (SELECT doc_id,
                     list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                                 t -> t <> '') AS t
              FROM documents),
sized AS (SELECT doc_id, t, len(t) AS n FROM base),
gs AS (
  SELECT doc_id, unnest(generate_series(1, n - {_ssd_k} + 1)) AS p, t
  FROM sized WHERE n >= {_ssd_k}
),
grams AS (SELECT doc_id, p,
                 array_to_string(list_slice(t, p, p + {_ssd_k} - 1), ' ') AS gram
          FROM gs),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1),
starts AS (SELECT doc_id, p FROM grams WHERE gram IN (SELECT gram FROM dup)),
tp AS (SELECT doc_id, unnest(generate_series(1, n)) AS pos, t
       FROM sized WHERE n >= 1),
tok AS (SELECT doc_id, pos, t[pos] AS tok FROM tp),
fl AS (
  SELECT tok.doc_id, tok.pos, tok.tok,
         CASE WHEN s.p IS NOT NULL THEN 1 END AS f
  FROM tok LEFT JOIN starts s ON s.doc_id = tok.doc_id AND s.p = tok.pos
),
cov AS (
  SELECT doc_id, pos, tok,
         MAX(f) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {_ssd_k - 1} PRECEDING AND CURRENT ROW) AS c
  FROM fl
),
kept AS (SELECT doc_id, COUNT(*) AS nk, string_agg(tok, ' ' ORDER BY pos) AS dt
         FROM cov WHERE c IS NULL GROUP BY doc_id)
SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_tokens,
       CAST(s.n - COALESCE(k.nk, 0) AS BIGINT) AS n_removed,
       COALESCE(k.dt, '') AS deduped_text
FROM sized s LEFT JOIN kept k USING (doc_id)""")

    # Embedding near-dups run the LSH-bucketed pipeline as the GATE query —
    # the 100 TB shape (per-bucket equi-joins, no all-pairs join anywhere).
    # The O(n²) brute-force variant (dedup.embedding_near_dup_pairs) is
    # demoted to pytest, where it serves as the recall ground truth.
    #
    # The oracle replicates the candidate generation EXACTLY: the seeded
    # hyperplanes are literal double arrays in the SQL (same constants Spark
    # ships via F.lit), and a pair qualifies when ANY of the n_tables bucket
    # ids match — identical to Spark's union-of-tables + dropDuplicates. The
    # check is therefore exact even though pair *recall* vs brute force is
    # probabilistic.
    #
    # Calibration for threshold=0.4: p_plane = 1 − arccos(0.4)/π ≈ 0.631,
    # so 3 planes collide per table with 0.631³ ≈ 0.251 and 12 tables give
    # expected recall 1 − (1 − 0.251)¹² ≈ 0.97 (tests assert ≥ 0.9 measured
    # against the exact pairs). Tighter thresholds admit more planes per
    # table — at a production near-dup threshold of 0.9 the same 0.97
    # recall needs only ~16-vector buckets per 2²⁰ vectors.
    add("emb_near_dups",
        lambda spark, sf_dir: dedup.embedding_near_dup_pairs_lsh(
            _embs(spark, sf_dir), threshold=0.4, n_planes=3, n_tables=12
        ),
        _emb_lsh_pairs_sql(threshold=0.4, n_planes=3, n_tables=12))

    # Second parameterization: more planes per table at a higher threshold —
    # exercises the planes/tables trade-off through the same exact oracle.
    add("emb_near_dups_lsh",
        lambda spark, sf_dir: dedup.embedding_near_dup_pairs_lsh(
            _embs(spark, sf_dir), threshold=0.45, n_planes=4, n_tables=12
        ),
        _emb_lsh_pairs_sql(threshold=0.45, n_planes=4, n_tables=12))

    # ---- similarity search -------------------------------------------------
    def _ann_query(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return similarity.cosine_topk(emb, qvec, k=20)

    add("ann_cosine_topk", _ann_query, f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    ROUND(list_dot_product(embedding::DOUBLE[], qe)
      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       * sqrt(list_dot_product(qe, qe))), {ROUND}) AS cosine
  FROM embeddings, q
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 20""")

    # MMR diverse reranking (similarity.mmr_rerank; Carbonell &
    # Goldstein 1998) over the brute-force top-20: the oracle UNROLLS
    # the same greedy — one CTE per pick, each an argmax of
    # ROUND(λ·rel − (1−λ)·GREATEST(rounded pairwise cosines), 7) with
    # id-asc ties, the exact arithmetic (left-to-right dot folds,
    # norm-product denominator, the Python double 1−0.7 spelled out)
    # the driver-side greedy performs.
    _mmr_lam, _mmr_k = 0.7, 5
    _mmr_cos = (
        "ROUND(list_dot_product(c.emb, p.emb)"
        " / (sqrt(list_dot_product(c.emb, c.emb))"
        f" * sqrt(list_dot_product(p.emb, p.emb))), {ROUND})"
    )
    _mmr_steps = []
    for _i in range(1, _mmr_k + 1):
        if _i == 1:
            _expr = f"ROUND({_mmr_lam!r} * c.rel, {ROUND})"
            _where = ""
        else:
            _sims = ", ".join(
                f"(SELECT {_mmr_cos} FROM p{_j} p)" for _j in range(1, _i)
            )
            _expr = (
                f"ROUND({_mmr_lam!r} * c.rel - {1.0 - _mmr_lam!r}"
                f" * GREATEST({_sims}), {ROUND})"
            )
            _where = "WHERE c.id NOT IN (" + " UNION ALL ".join(
                f"SELECT id FROM p{_j}" for _j in range(1, _i)
            ) + ")"
        _mmr_steps.append(
            f"p{_i} AS (SELECT c.id, c.rel, c.emb, {_expr} AS mmr\n"
            f"  FROM cand c {_where} ORDER BY mmr DESC, c.id LIMIT 1)"
        )
    _mmr_union = "\n  UNION ALL ".join(
        f"SELECT id, mmr, {_i} AS rank FROM p{_i}"
        for _i in range(1, _mmr_k + 1)
    )

    def _mmr_query(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        cand = similarity.cosine_topk(emb, qvec, k=20).join(
            emb.select("vec_id", "embedding"), "vec_id"
        )
        return similarity.mmr_rerank(
            cand, k=_mmr_k, lam=_mmr_lam,
            id_col="vec_id", rel_col="cosine")

    add("ann_mmr_rerank", _mmr_query, f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    ROUND(list_dot_product(embedding::DOUBLE[], qe)
      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       * sqrt(list_dot_product(qe, qe))), {ROUND}) AS cosine
  FROM embeddings, q
),
cand AS (
  SELECT s.vec_id AS id, s.cosine AS rel, e.embedding::DOUBLE[] AS emb
  FROM (SELECT vec_id, cosine FROM scored
        ORDER BY cosine DESC, vec_id LIMIT 20) s
  JOIN embeddings e USING (vec_id)
),
{",".join(_mmr_steps)}
SELECT id AS vec_id, mmr, CAST(rank AS INTEGER) AS rank FROM (
  {_mmr_union}
) ORDER BY rank""")

    # Per-label prototype vectors in long form: posexplode + one map-side-
    # combinable groupBy(label, pos) — the exchange carries |labels|·dim
    # rows regardless of corpus size. avg over FLOAT sums in double on both
    # engines, so 7dp rounding holds.
    def _centroids(spark, sf_dir):
        return _round_df(
            similarity.group_centroids(
                _embs(spark, sf_dir), key_col="label", vec_col="embedding"
            )
        )

    add("emb_label_centroids", _centroids, f"""
SELECT label, CAST(pos AS INTEGER) - 1 AS pos, ROUND(AVG(v), {ROUND}) AS c,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
GROUP BY label, pos""")

    def _ann_lsh(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        return similarity.lsh_topk(emb, qvec, k=20, n_tables=4, multiprobe=2)

    # Value-hashed: the oracle recomputes the query's per-table sign-bit
    # buckets, the Hamming-radius-2 multiprobe sets (similarity.probe_set —
    # shared with the Spark path), and each row's bucket from the SAME
    # literal hyperplanes, so the approximate index is checked exactly.
    # Radius 2 × 4 tables: measured recall@20 vs exact = 1.00 at sf0.01
    # (radius 1 × 8 tables was 0.75), pinned in tests/test_functions.py.
    # Parameters are corpus-relative: 6 planes fits the gate corpus; at
    # 10^9+ vectors use 16-20 planes so radius 2 still probes < 0.5%.
    add("ann_lsh_topk", _ann_lsh,
        _ann_lsh_sql(k=20, n_planes=6, seed=42, n_tables=4, radius=2))

    def _ann_ivf(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        cents = similarity.ivf_centroids(emb, n_centroids=16, seed=42)
        return similarity.ivf_topk(emb, qvec, cents, k=20, nprobe=8)

    # Value-hashed: centroid training is a pure seeded function of the
    # id-ordered sample, so the oracle re-derives identical centroids and
    # probe lists (see _ivf_oracle_sql). nprobe=8 of 16 lists: measured
    # recall@20 = 0.85 at sf0.01 (nprobe=4 was 0.50).
    add("ann_ivf_topk", _ann_ivf, _ivf_oracle_sql(k=20, n_centroids=16, nprobe=8))

    def _ann_ivf_partitioned(spark, sf_dir):
        import shutil
        import tempfile

        emb = _embs(spark, sf_dir)
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        cents = similarity.ivf_centroids(emb, n_centroids=16, seed=42)
        d = tempfile.mkdtemp(prefix="as_ivf_idx_")
        try:
            similarity.write_ivf_index(emb, cents, d)
            back = spark.read.parquet(d)
            out = similarity.ivf_topk(back, qvec, cents, k=20, nprobe=8, indexed=True)
            rows = out.collect()
            schema = out.schema
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(rows, schema)

    # The production retrieval shape: index materialized once, parquet
    # PARTITIONED BY ivf_list, per-query probes prune to nprobe of the 16
    # partition directories at the scan (similarity.write_ivf_index;
    # pruning pinned in tests/test_sources_plans.py). Same oracle as the
    # in-memory path — the partitioned round-trip must not change a bit.
    add("ann_ivf_partitioned", _ann_ivf_partitioned,
        _ivf_oracle_sql(k=20, n_centroids=16, nprobe=8))

    def _ann_ivf_append(spark, sf_dir):
        import shutil
        import tempfile

        emb = _embs(spark, sf_dir)
        base = emb.where(F.col("vec_id") % 5 != 0)
        batch = emb.where(F.col("vec_id") % 5 == 0)
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        cents = similarity.ivf_centroids(base, n_centroids=16, seed=42)
        d = tempfile.mkdtemp(prefix="as_ivf_app_")
        try:
            similarity.write_ivf_index(base, cents, d)
            similarity.append_to_ivf_index(batch, cents, d)
            back = spark.read.parquet(d)
            out = similarity.ivf_topk(back, qvec, cents, k=20, nprobe=8, indexed=True)
            rows = out.collect()
            schema = out.schema
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(rows, schema)

    # Index MAINTENANCE: quantizer trained on the 80% base corpus, index
    # written partitioned, then the held-out 20% batch parquet-APPENDS into
    # the partition dirs without retrain or rewrite (the daily-crawl ingest
    # shape). The probe then runs over the union; the oracle re-trains the
    # same subset-derived centroids (train_mod) and scans all vectors, so
    # the appended index must agree bit-for-bit with a from-scratch build.
    add("ann_ivf_append", _ann_ivf_append,
        _ivf_oracle_sql(k=20, n_centroids=16, nprobe=8, train_mod=(5, 0)))

    def _ann_ivf_compacted(spark, sf_dir):
        import shutil
        import tempfile

        emb = _embs(spark, sf_dir)
        base = emb.where(F.col("vec_id") % 5 != 0)
        qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
        cents = similarity.ivf_centroids(base, n_centroids=16, seed=42)
        d = tempfile.mkdtemp(prefix="as_ivf_cmp_")
        try:
            similarity.write_ivf_index(base, cents, d)
            # five independent ingest batches: append_to_ivf_index commits
            # each through a private staging dir, so they overlap from a
            # driver thread pool (guide §2.6) — 2-3 in flight fills the
            # scheduling gaps without fighting for executors
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(
                    lambda m: similarity.append_to_ivf_index(
                        emb.where(F.col("vec_id") % 25 == 5 * m), cents, d
                    ),
                    range(5),
                ))
            stats = similarity.compact_ivf_index(spark, d, max_files=2)
            if not stats["files_after"] < stats["files_before"]:
                raise AssertionError(
                    f"compaction was a no-op on a 6-write index: {stats}"
                )
            back = spark.read.parquet(d)
            out = similarity.ivf_topk(back, qvec, cents, k=20, nprobe=8, indexed=True)
            rows = out.collect()
            schema = out.schema
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(rows, schema)

    # Index COMPACTION (similarity.compact_ivf_index): the appended index
    # above, after five more per-batch appends, rewritten into byte-sized
    # files per ivf_list directory. The oracle never sees the index — it
    # re-derives the same top-k from the raw vectors — so a green hash IS
    # the value-preservation proof; the in-query file-count assertion
    # makes a silently no-op compactor fail the gate rather than
    # trivially pass it. File-count + pruning pins live in
    # tests/test_sources_plans.py::test_compact_ivf_index.
    add("ann_ivf_compacted", _ann_ivf_compacted,
        _ivf_oracle_sql(k=20, n_centroids=16, nprobe=8, train_mod=(5, 0)))

    def _ann_ivfpq(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(10_000).collect()
        sample = [r[1] for r in rows]
        qvec = [float(x) for x in next(r[1] for r in rows if r[0] == 0)]
        cents = similarity.kmeans_train(sample, 16, 5, 42)
        books = similarity.pq_train(sample, m=4, n_codes=16, n_iters=5, seed=42)
        return similarity.ivfpq_topk(emb, qvec, cents, books, k=20, nprobe=8)

    # IVF-PQ (Jégou et al. 2011): coarse-quantizer pruning + byte codes
    # scored via the query's ADC lookup table — m table lookups per
    # candidate instead of a dim-wide dot product, and a 64× smaller index
    # (4 bytes vs 256 for a 64-d float32 vector). Value-hashed: centroids,
    # codebooks, probe list and LUT are pure seeded functions shared with
    # the oracle generator; recall of the ADC ranking and of the
    # refine-reranked two-stage variant are pinned in pytest.
    add("ann_ivfpq_topk", _ann_ivfpq,
        _ivfpq_oracle_sql(k=20, n_centroids=16, nprobe=8, m=4, n_codes=16))

    def _ann_ivfpq_refine(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(10_000).collect()
        sample = [r[1] for r in rows]
        qvec = [float(x) for x in next(r[1] for r in rows if r[0] == 0)]
        cents = similarity.kmeans_train(sample, 16, 5, 42)
        books = similarity.pq_train(sample, m=4, n_codes=16, n_iters=5, seed=42)
        return similarity.ivfpq_topk(
            emb, qvec, cents, books, k=20, nprobe=8, refine=100
        )

    # The two-stage production shape (Jégou et al. 2011 §IV): cheap ADC
    # over the probed lists shortlists `refine` candidates, exact cosine
    # re-ranks the shortlist — millions scored by m table lookups, exact
    # math only over hundreds. Value-hashed end to end: the oracle
    # rebuilds the identical shortlist (rounded-ADC order, vec_id
    # tiebreak) and the identical cosine re-rank.
    add("ann_ivfpq_refine", _ann_ivfpq_refine,
        _ivfpq_oracle_sql(k=20, n_centroids=16, nprobe=8, m=4, n_codes=16,
                          refine=100))

    # The fake-decoder gate entry (media_decode_features, r1-r3) was retired
    # once the real decode/resize/frame-sample triad became value-hashed:
    # media_decode_real / media_resize_real / media_frames_real below cover
    # the mapInPandas plumbing with REAL kernels. ``decoder="fake"`` remains
    # in the API for payloads with no parseable format (determinism-tested
    # in pytest, not driver-gated).

    # REAL decode path with a value oracle: each document's printable-ASCII
    # prefix becomes an 8×8 PGM (P5) payload; the decoded mean-gray feature
    # × 255 × 64 is exactly the pixel-byte sum, which DuckDB recomputes
    # from the text — an integer check that is immune to the float32
    # feature-vector quantization.
    def _media_real(spark, sf_dir):
        clean = F.rpad(
            F.regexp_replace(F.substring(F.col("text"), 1, 256), r"[^\x20-\x7e]", ""),
            64,
            " ",
        )
        media = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
            F.col("doc_id").alias("media_id"),
            F.concat(
                F.encode(F.lit("P5\n8 8\n255\n"), "utf-8"), F.encode(clean, "utf-8")
            ).alias("content"),
            F.struct(
                F.lit("image/x-portable-graymap").alias("mime"),
                F.lit(8).alias("width"),
                F.lit(8).alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
            ).alias("meta"),
        )
        feats = multimodal.decode_features(media, decoder="real")
        return feats.select(
            "media_id",
            F.round(F.element_at("features", 1) * 255 * 64).cast("bigint").alias("byte_sum"),
        )

    add("media_decode_real", _media_real, """
WITH padded AS (
  SELECT doc_id,
         rpad(regexp_replace(substr(text, 1, 256), '[^ -~]', '', 'g'), 64, ' ') AS p
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id AS media_id,
       CAST(list_sum(list_transform(range(1, 65),
            i -> ascii(substr(p, CAST(i AS INTEGER), 1)))) AS BIGINT) AS byte_sum
FROM padded""")

    # REAL JPEG path: a constant 8×8 PGM (value = the first printable char
    # of the text) is TRANSCODED to baseline JPEG (real DCT + huffman
    # encoder) and decoded back through the real JPEG decoder — three
    # chained Arrow-batched kernels. For a constant block only the integer
    # DC coefficient survives the flat-quant DCT, so the roundtrip is
    # BIT-EXACT and the decoded pixel sum is 64 × ascii(first char) — which
    # DuckDB recomputes from the text. Entropy coding, huffman tables, and
    # the IDCT all sit on the checked path.
    def _media_jpeg(spark, sf_dir):
        cleaned = F.regexp_replace(
            F.substring(F.col("text"), 1, 64), r"[^\x20-\x7e]", ""
        )
        first = F.when(F.length(cleaned) > 0, F.substring(cleaned, 1, 1)).otherwise(
            F.lit(" ")
        )
        media = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
            F.col("doc_id").alias("media_id"),
            F.concat(
                F.encode(F.lit("P5\n8 8\n255\n"), "utf-8"),
                F.encode(F.repeat(first, 64), "utf-8"),
            ).alias("content"),
            F.struct(
                F.lit("image/x-portable-graymap").alias("mime"),
                F.lit(8).alias("width"),
                F.lit(8).alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
            ).alias("meta"),
        )
        jpeg = multimodal.transcode_images(media, "image/jpeg")
        feats = multimodal.decode_features(jpeg, decoder="real")
        return feats.select(
            "media_id",
            F.round(F.element_at("features", 1) * 255 * 64).cast("bigint").alias("byte_sum"),
        )

    add("media_decode_jpeg", _media_jpeg, """
WITH c AS (
  SELECT doc_id, regexp_replace(substr(text, 1, 64), '[^ -~]', '', 'g') AS cl
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id AS media_id,
       CAST(64 * CASE WHEN length(cl) > 0 THEN ascii(substr(cl, 1, 1))
                      ELSE 32 END AS BIGINT) AS byte_sum
FROM c""")

    # REAL resize stage chained into the REAL decoder — two Arrow-batched
    # mapInPandas kernels back to back (decode PGM → nearest-neighbor 8×8 →
    # 4×4 → re-encode → decode again → features). Nearest-neighbor picks
    # source pixel (2i+1, 2j+1) for output (i, j) (codecs.resize_nearest:
    # floor((i+0.5)·8/4) = 2i+1), so the oracle reads the exact 16 ascii
    # positions of the padded text and sums them.
    def _media_resize(spark, sf_dir):
        clean = F.rpad(
            F.regexp_replace(F.substring(F.col("text"), 1, 256), r"[^\x20-\x7e]", ""),
            64,
            " ",
        )
        media = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
            F.col("doc_id").alias("media_id"),
            F.concat(
                F.encode(F.lit("P5\n8 8\n255\n"), "utf-8"), F.encode(clean, "utf-8")
            ).alias("content"),
            F.struct(
                F.lit("image/x-portable-graymap").alias("mime"),
                F.lit(8).alias("width"),
                F.lit(8).alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
            ).alias("meta"),
        )
        resized = multimodal.resize_images(media, 4, 4)
        feats = multimodal.decode_features(resized, decoder="real")
        return feats.select(
            "media_id",
            F.round(F.element_at("features", 1) * 255 * 16).cast("bigint").alias("byte_sum"),
        )

    _RESIZE_POSITIONS = [i * 8 + j + 1 for i in (1, 3, 5, 7) for j in (1, 3, 5, 7)]
    add("media_resize_real", _media_resize, f"""
WITH padded AS (
  SELECT doc_id,
         rpad(regexp_replace(substr(text, 1, 256), '[^ -~]', '', 'g'), 64, ' ') AS p
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id AS media_id,
       CAST(list_sum(list_transform([{', '.join(str(p) for p in _RESIZE_POSITIONS)}],
            i -> ascii(substr(p, CAST(i AS INTEGER), 1)))) AS BIGINT) AS byte_sum
FROM padded""")

    # REAL frame sampling chained into the REAL decoder: each doc renders a
    # 4-frame "animation" (concatenated 4×4 P5 frames over successive
    # 16-char slices of the padded text); sample_frames(every=2) keeps
    # frames 0 and 2, then decode_features recovers each sampled frame's
    # exact pixel-byte sum. Three mapInPandas kernels are value-hashed in
    # one query: container split, per-frame re-emit, decode.
    def _media_frames(spark, sf_dir):
        clean = F.rpad(
            F.regexp_replace(F.substring(F.col("text"), 1, 256), r"[^\x20-\x7e]", ""),
            64,
            " ",
        )
        header = F.encode(F.lit("P5\n4 4\n255\n"), "utf-8")
        frames = [
            F.concat(header, F.encode(F.substring(clean, k * 16 + 1, 16), "utf-8"))
            for k in range(4)
        ]
        media = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
            F.col("doc_id").alias("media_id"),
            F.concat(*frames).alias("content"),
            F.struct(
                F.lit("image/x-portable-graymap").alias("mime"),
                F.lit(4).alias("width"),
                F.lit(4).alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
            ).alias("meta"),
        )
        sampled = multimodal.sample_frames(media, every=2)
        feats = multimodal.decode_features(
            sampled, decoder="real", passthrough_cols=("frame_idx",)
        )
        byte_sum = F.round(F.element_at("features", 1) * 255 * 16).cast("bigint")
        return feats.select("media_id", "frame_idx", byte_sum.alias("byte_sum"))

    add("media_frames_real", _media_frames, """
WITH padded AS (
  SELECT doc_id,
         rpad(regexp_replace(substr(text, 1, 256), '[^ -~]', '', 'g'), 64, ' ') AS p
  FROM documents WHERE text IS NOT NULL
),
f AS (SELECT doc_id, p, unnest([0, 2]) AS frame_idx FROM padded)
SELECT doc_id AS media_id, frame_idx,
       CAST(list_sum(list_transform(range(1, 17),
            i -> ascii(substr(p, CAST(frame_idx * 16 + i AS INTEGER), 1)))) AS BIGINT)
         AS byte_sum
FROM f""")

    # ---- event-stream operators (batch form of the streaming layer) -------
    # epoch-based math throughout so neither engine's session timezone nor
    # sub-second truncation can skew gap detection or the hour bucket
    add("event_sessionization",
        lambda spark, sf_dir: _sessionize(spark, sf_dir),
        """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(epoch_us(MAX(ts)) // 1000000 - epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id""")

    # Native session windows (streaming-shared code path). Boundary differs
    # from the lag-based sessionization above: session_window starts a NEW
    # session at gap >= 30min (half-open interval), the lag variant at >.
    def _session_windows(spark, sf_dir):
        from alphastats_spark.streaming import session_metrics

        # normalise ts to a real timestamp whatever the physical encoding
        ev = _events(spark, sf_dir)
        ev = ev.withColumn("ts", _event_ts(ev))
        out = session_metrics(ev, gap="30 minutes")
        return out.select(
            "user_id",
            F.col("session_start").cast("string").alias("session_start"),
            "n_events",
            "duration_s",
        )

    add("event_session_windows", _session_windows, """
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800.0 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
  FROM g
)
SELECT user_id, CAST(MIN(ts) AS VARCHAR) AS session_start, COUNT(*) AS n_events,
       CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id""")

    def _hourly(spark, sf_dir):
        ev = _events(spark, sf_dir)
        return ev.groupBy(
            F.floor(_event_epoch(ev) / 3600).cast("bigint").alias("hour_bucket"),
            F.col("event_type"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), ROUND).alias("total_value"),
        )

    add("event_hourly_counts", _hourly,
        f"""SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       event_type, COUNT(*) AS n, ROUND(SUM(value), {ROUND}) AS total_value
FROM events GROUP BY 1, 2""")

    # Exact per-hour distinct users. COUNT(DISTINCT) rewrites to a two-level
    # aggregate (partial distinct per map task, then merge) — the exact-at-
    # scale shape when per-group distincts fit; the HLL-sketch
    # approx_count_distinct variant (mergeable constant-size state, the
    # >billions path) is pinned within 5% of this in pytest, engine-specific
    # sketch values being un-oracle-able by construction.
    def _hourly_uniques(spark, sf_dir):
        ev = _events(spark, sf_dir)
        return ev.groupBy(
            F.floor(_event_epoch(ev) / 3600).cast("bigint").alias("hour_bucket")
        ).agg(F.countDistinct("user_id").alias("n_users"))

    add("event_hourly_uniques", _hourly_uniques,
        """SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1""")

    # Per-type inter-event latency profile: lag window partitioned by user
    # (id tiebreak — simultaneous events would attribute their 0-gap to an
    # engine-dependent type), grouped exact percentiles per type. Both
    # engines order by (µs, event_id) so ns-only ties cannot diverge.
    def _event_gaps(spark, sf_dir):
        from alphastats_spark.functions import events as ev_ops

        ev = _events(spark, sf_dir)
        d = ev.select(
            "user_id", "event_type", "event_id", _event_us(ev).alias("us")
        )
        return ev_ops.inter_event_gaps(d)

    add("event_gap_profile", _event_gaps, f"""
WITH g AS (
  SELECT event_type,
    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
)
SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(gap, 0.5), 1) AS median_gap_us,
       ROUND(quantile_cont(gap, 0.95), 1) AS p95_gap_us
FROM g WHERE gap IS NOT NULL GROUP BY event_type""")

    # Conversion attribution (events.attribute_conversions): per purchase,
    # the credited touch under last-/first-touch within a 1-day window.
    # ONE user-partitioned window pass over the type-filtered union —
    # never a touches × conversions self-join. Both engines order
    # (us, touch-first, event_id) so simultaneous events cannot diverge;
    # sentinels (-1/'none') instead of nulls for arrow-interchange safety.
    _ATTR_WINDOW_US = 86_400_000_000

    def _attribution(model):
        def q(spark, sf_dir):
            from alphastats_spark.functions import events as ev_ops

            ev = _events(spark, sf_dir)
            ev = ev.withColumn("us", _event_us(ev))
            return ev_ops.attribute_conversions(
                ev, conversion_type="purchase", touch_types=("click", "view"),
                window_us=_ATTR_WINDOW_US, model=model,
            )
        return q

    _ATTR_EV_CTE = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, event_id,
         event_type IN ('click', 'view') AS is_touch
  FROM events WHERE event_type IN ('purchase', 'click', 'view')
)"""

    add("event_attribution", _attribution("last_touch"), _ATTR_EV_CTE + f""",
t AS (
  SELECT *,
    LAST_VALUE(CASE WHEN is_touch THEN struct_pack(
        t_us := us, t_id := event_id, t_type := event_type) END IGNORE NULLS)
      OVER (PARTITION BY user_id
            ORDER BY us ASC, is_touch DESC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tt
  FROM ev
),
o AS (SELECT *, tt IS NOT NULL AND us - tt.t_us <= {_ATTR_WINDOW_US} AS ok FROM t)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(CASE WHEN ok THEN tt.t_id ELSE -1 END AS BIGINT) AS touch_event_id,
       CASE WHEN ok THEN tt.t_type ELSE 'none' END AS touch_type,
       CAST(CASE WHEN ok THEN us - tt.t_us ELSE -1 END AS BIGINT) AS gap_us,
       ok AS attributed
FROM o WHERE NOT is_touch""")

    add("event_attribution_first", _attribution("first_touch"), _ATTR_EV_CTE + f""",
t AS (
  SELECT *,
    MIN(CASE WHEN is_touch THEN struct_pack(
        t_us := us, t_id := event_id, t_type := event_type) END)
      OVER (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN {_ATTR_WINDOW_US} PRECEDING AND CURRENT ROW) AS tt
  FROM ev
),
o AS (SELECT *, tt IS NOT NULL AND us - tt.t_us <= {_ATTR_WINDOW_US} AS ok FROM t)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(CASE WHEN ok THEN tt.t_id ELSE -1 END AS BIGINT) AS touch_event_id,
       CASE WHEN ok THEN tt.t_type ELSE 'none' END AS touch_type,
       CAST(CASE WHEN ok THEN us - tt.t_us ELSE -1 END AS BIGINT) AS gap_us,
       ok AS attributed
FROM o WHERE NOT is_touch""")

    # Linear (multi-touch) attribution: every touch in the window shares
    # the conversion equally. Spark runs the single window pass
    # (collect_list over the trailing RANGE frame, exploded to credit
    # rows); the oracle runs the independent touches⋈conversions
    # formulation (fine at oracle scale) with a per-conversion COUNT
    # window — agreement checks the window-pass machinery against a
    # different plan shape entirely.
    def _attribution_linear(spark, sf_dir):
        return _round_df(_attribution("linear")(spark, sf_dir))

    add("event_attribution_linear", _attribution_linear, _ATTR_EV_CTE + f""",
c AS (SELECT * FROM ev WHERE NOT is_touch),
tt AS (SELECT * FROM ev WHERE is_touch),
j AS (
  SELECT c.event_id, c.user_id, c.us,
         tt.event_id AS t_id, tt.event_type AS t_type, c.us - tt.us AS gap
  FROM c LEFT JOIN tt
    ON c.user_id = tt.user_id AND tt.us BETWEEN c.us - {_ATTR_WINDOW_US} AND c.us
),
n AS (SELECT *, COUNT(t_id) OVER (PARTITION BY event_id) AS nt FROM j)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(COALESCE(t_id, -1) AS BIGINT) AS touch_event_id,
       COALESCE(t_type, 'none') AS touch_type,
       CAST(COALESCE(gap, -1) AS BIGINT) AS gap_us,
       ROUND(CASE WHEN t_id IS NULL THEN 0.0 ELSE 1.0 / nt END, {ROUND}) AS credit,
       t_id IS NOT NULL AS attributed
FROM n""")

    # Position-based (U-shaped) attribution: 40% first / 40% last / 20%
    # split across middle touches, degenerate journeys renormalized.
    # Spark sorts the collected touch list and credits by posexplode
    # position; the oracle ranks the joined touches with ROW_NUMBER over
    # the same (us, id) order — different machinery, same credits.
    def _attribution_position(spark, sf_dir):
        return _round_df(_attribution("position")(spark, sf_dir))

    add("event_attribution_position", _attribution_position, _ATTR_EV_CTE + f""",
c AS (SELECT * FROM ev WHERE NOT is_touch),
tt AS (SELECT * FROM ev WHERE is_touch),
j AS (
  SELECT c.event_id, c.user_id, c.us,
         tt.event_id AS t_id, tt.event_type AS t_type,
         tt.us AS t_us, c.us - tt.us AS gap
  FROM c LEFT JOIN tt
    ON c.user_id = tt.user_id AND tt.us BETWEEN c.us - {_ATTR_WINDOW_US} AND c.us
),
n AS (SELECT *,
        COUNT(t_id) OVER (PARTITION BY event_id) AS nt,
        ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY t_us, t_id) AS pos
      FROM j)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(COALESCE(t_id, -1) AS BIGINT) AS touch_event_id,
       COALESCE(t_type, 'none') AS touch_type,
       CAST(COALESCE(gap, -1) AS BIGINT) AS gap_us,
       ROUND(CASE WHEN t_id IS NULL THEN 0.0
                  WHEN nt = 1 THEN 1.0
                  WHEN nt = 2 THEN 0.5
                  WHEN pos = 1 OR pos = nt THEN 0.4
                  ELSE 0.2 / (nt - 2) END, {ROUND}) AS credit,
       t_id IS NOT NULL AS attributed
FROM n""")

    # Time-decay attribution: weight 0.5^(gap/half_life), normalized per
    # conversion. Spark normalizes IN-ROW (array aggregate over the
    # collected touch list — no second window); the oracle normalizes
    # with a SUM window over the joined touches. 6h half-life inside the
    # 1-day window so the decay is numerically meaningful.
    _ATTR_HALF_LIFE_US = 21_600_000_000

    def _attribution_decay(spark, sf_dir):
        from alphastats_spark.functions import events as ev_ops

        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev))
        return _round_df(ev_ops.attribute_conversions(
            ev, conversion_type="purchase", touch_types=("click", "view"),
            window_us=_ATTR_WINDOW_US, model="time_decay",
            half_life_us=_ATTR_HALF_LIFE_US,
        ))

    add("event_attribution_decay", _attribution_decay, _ATTR_EV_CTE + f""",
c AS (SELECT * FROM ev WHERE NOT is_touch),
tt AS (SELECT * FROM ev WHERE is_touch),
j AS (
  SELECT c.event_id, c.user_id, c.us,
         tt.event_id AS t_id, tt.event_type AS t_type, c.us - tt.us AS gap
  FROM c LEFT JOIN tt
    ON c.user_id = tt.user_id AND tt.us BETWEEN c.us - {_ATTR_WINDOW_US} AND c.us
),
n AS (SELECT *,
        SUM(POWER(0.5, gap / {_ATTR_HALF_LIFE_US}.0)) OVER (PARTITION BY event_id) AS wsum
      FROM j)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(COALESCE(t_id, -1) AS BIGINT) AS touch_event_id,
       COALESCE(t_type, 'none') AS touch_type,
       CAST(COALESCE(gap, -1) AS BIGINT) AS gap_us,
       ROUND(CASE WHEN t_id IS NULL THEN 0.0
                  ELSE POWER(0.5, gap / {_ATTR_HALF_LIFE_US}.0) / wsum END,
             {ROUND}) AS credit,
       t_id IS NOT NULL AS attributed
FROM n""")

    # Last-touch attribution through GENUINE stateful Structured Streaming:
    # applyInPandasWithState keyed by user, state = ONE (t_us, t_id, t_type)
    # touch struct however long the history. The staged feed is TWO
    # time-ordered files consumed as TWO micro-batches (maxFilesPerTrigger=1
    # under availableNow), split at the median event instant — so touch →
    # conversion pairs straddle the batch boundary and the cross-batch state
    # path is what the value hash certifies; in-query assertions fail the
    # gate if fewer than two non-empty micro-batches ran or if no straddling
    # conversion was attributed. Same oracle as the batch event_attribution.
    def _stream_attribution(spark, sf_dir):
        import os
        import shutil
        import tempfile
        import uuid

        from alphastats_spark.streaming import streaming_attribution

        ev = _events(spark, sf_dir)
        ev = ev.select(
            F.col("user_id").cast("long").alias("user_id"),
            _event_us(ev).alias("us"),
            F.col("event_type"),
            F.col("event_id").cast("long").alias("event_id"),
        )
        cut = int(ev.selectExpr("percentile_approx(us, 0.5)").first()[0])
        src = tempfile.mkdtemp(prefix="as_stream_attr_")
        for i, half in enumerate(
            [ev.where(F.col("us") < cut), ev.where(F.col("us") >= cut)]
        ):
            tmp = tempfile.mkdtemp(prefix="as_stream_attr_tmp_")
            half.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f for f in sorted(os.listdir(tmp))
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            dst = os.path.join(src, f"batch-{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            # FileStreamSource orders by (mtime, path): pin both so the
            # earlier half is always micro-batch 0
            os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
            shutil.rmtree(tmp, ignore_errors=True)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        name = f"stream_attr_{uuid.uuid4().hex[:8]}"
        out = streaming_attribution(
            stream, conversion_type="purchase", touch_types=("click", "view"),
            window_us=_ATTR_WINDOW_US,
        )
        with _stream_parts(spark, src):
            sq = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(sq, src)
        fed = [p for p in sq.recentProgress if p["numInputRows"] > 0]
        if len(fed) != 2:
            raise AssertionError(
                f"attribution stream ran {len(fed)} non-empty micro-batches, "
                "expected 2 (maxFilesPerTrigger=1 over a 2-file feed)"
            )
        tbl = spark.table(name)
        straddle = tbl.where(
            (F.col("us") >= cut) & F.col("attributed")
            & (F.col("us") - F.col("gap_us") < cut)
        )
        if straddle.limit(1).count() == 0:
            raise AssertionError(
                "no conversion was attributed to a touch from the earlier "
                "micro-batch - the cross-batch state path was not exercised"
            )
        return tbl

    add("event_attribution_streaming", _stream_attribution, _ATTR_EV_CTE + f""",
t AS (
  SELECT *,
    LAST_VALUE(CASE WHEN is_touch THEN struct_pack(
        t_us := us, t_id := event_id, t_type := event_type) END IGNORE NULLS)
      OVER (PARTITION BY user_id
            ORDER BY us ASC, is_touch DESC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tt
  FROM ev
),
o AS (SELECT *, tt IS NOT NULL AND us - tt.t_us <= {_ATTR_WINDOW_US} AS ok FROM t)
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, CAST(us AS BIGINT) AS us,
       CAST(CASE WHEN ok THEN tt.t_id ELSE -1 END AS BIGINT) AS touch_event_id,
       CASE WHEN ok THEN tt.t_type ELSE 'none' END AS touch_type,
       CAST(CASE WHEN ok THEN us - tt.t_us ELSE -1 END AS BIGINT) AS gap_us,
       ok AS attributed
FROM o WHERE NOT is_touch""")

    # Ordered conversion funnel (ClickHouse-windowFunnel-style), chained-min
    # semantics with a 24h per-step gap cap. Spark runs the one-shuffle
    # sorted-fold formulation (array_sort + F.aggregate step machine); the
    # oracle runs the independent chained-min CTE formulation — agreement
    # checks the fold machinery, not a shared shape. At sf0.01 the funnel is
    # genuinely selective: 150 signup -> 65 click -> 29 purchase.
    def _funnel(spark, sf_dir):
        from alphastats_spark.functions import events as ev_ops

        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev))
        return ev_ops.funnel(
            ev, steps=["signup", "click", "purchase"], max_gap_s=86_400
        )

    # Top session journeys: first-5 event-type path per 30-min gap session,
    # corpus-wide frequency, deterministic top-20 (count desc, path asc).
    def _top_paths(spark, sf_dir):
        from alphastats_spark.functions import events as ev_ops

        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev))
        return ev_ops.session_paths(ev, gap_s=1800, k=5, top=20)

    add("event_top_paths", _top_paths, """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_type, ts, event_id,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM g
),
p AS (
  SELECT user_id, session_id,
         array_to_string(list_slice(list(event_type ORDER BY ts, event_id), 1, 5), '>')
           AS path
  FROM s GROUP BY user_id, session_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""")

    # First-order Markov transition matrix over the same 30-min gap
    # sessions, with __start__/__end__ sentinels so entry and exit
    # probabilities are rows of the same matrix. Spark runs lag/lead
    # windows per user; the oracle builds edges the INDEPENDENT way — a
    # row_number self-join on rn+1 within each session — so agreement
    # checks the sessionizer + lead machinery, not a shared shape.
    def _transition_matrix(spark, sf_dir):
        from alphastats_spark.functions import events as ev_ops

        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev))
        return ev_ops.path_transition_matrix(ev, gap_s=1800)

    add("event_transition_matrix", _transition_matrix, f"""
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_type, ts, event_id,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM g
),
r AS (
  SELECT user_id, sid, event_type, ts, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY user_id, sid) AS cnt
  FROM s
),
e AS (
  SELECT a.event_type AS src, b.event_type AS dst
  FROM r a JOIN r b
    ON a.user_id = b.user_id AND a.sid = b.sid AND b.rn = a.rn + 1
  UNION ALL
  SELECT '__start__' AS src, event_type AS dst FROM r WHERE rn = 1
  UNION ALL
  SELECT event_type AS src, '__end__' AS dst FROM r WHERE rn = cnt
),
c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM e GROUP BY 1, 2)
SELECT src, dst, n_transitions,
       ROUND(n_transitions * 1.0 / SUM(n_transitions) OVER (PARTITION BY src),
             {ROUND}) AS prob
FROM c""")

    # Bucketized range join: events within each user's first two hours.
    # A plain BETWEEN theta-join plans as BroadcastNestedLoopJoin; the
    # operator equi-joins on (user, 30-min bucket) with the range predicate
    # as a post-filter (audit-pinned in tests). Inclusive boundary events
    # (us == start) are in every user's count, so the boundary rule is
    # driver-checked too.
    def _interval_counts(spark, sf_dir):
        from alphastats_spark.operators import joins as join_ops

        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev)).select("user_id", "us", "event_id")
        iv = (
            ev.groupBy("user_id")
            .agg(F.min("us").alias("start_us"))
            .withColumn("end_us", F.col("start_us") + F.lit(7_200_000_000))
        )
        j = join_ops.interval_join(
            ev, iv, on="user_id", point_col="us",
            start_col="start_us", end_col="end_us",
        )
        return j.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events_2h")
        )

    add("event_interval_join", _interval_counts, """
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
iv AS (SELECT user_id, MIN(us) AS s FROM e GROUP BY 1)
SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_events_2h
FROM e JOIN iv ON e.user_id = iv.user_id
               AND e.us BETWEEN iv.s AND iv.s + 7200000000
GROUP BY 1""")

    # Robust per-type value outliers: modified z-score (median/MAD ×
    # 1.4826). Median arithmetic = the same sort-based interpolated
    # percentile as corpus_length_quantiles (DuckDB quantile_cont twin).
    def _value_anoms(spark, sf_dir):
        from alphastats_spark.functions import events as ev_ops

        return ev_ops.value_anomalies(_events(spark, sf_dir), z=3.0)

    add("event_value_anomalies", _value_anoms,
        f"""
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             FROM events GROUP BY 1),
r AS (SELECT e.event_id, e.event_type, e.value, abs(e.value - m.med) AS resid
      FROM events e JOIN med m USING (event_type)),
mad AS (SELECT event_type, quantile_cont(resid, 0.5) AS mad FROM r GROUP BY 1)
SELECT r.event_id, r.event_type, r.value,
       ROUND(r.resid / (1.4826 * m.mad), {ROUND}) AS robust_z
FROM r JOIN mad m USING (event_type)
WHERE m.mad > 0 AND ROUND(r.resid / (1.4826 * m.mad), {ROUND}) > 3.0""")

    add("event_funnel", _funnel, """
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
t1 AS (SELECT user_id, MIN(us) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
t2 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND us > t1.t AND us - t1.t <= 86400000000
       GROUP BY 1),
t3 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'purchase' AND us > t2.t AND us - t2.t <= 86400000000
       GROUP BY 1)
SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type,
       (SELECT COUNT(*) FROM t1) AS n_users
UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3)""")

    # Time-to-convert distribution over completed funnels: the per-user
    # fold detail (level, first/last conversion instants) aggregated to
    # count / mean / exact median microseconds — the follow-up question
    # every funnel count raises.
    def _funnel_times(spark, sf_dir):
        from alphastats_spark import expressions as X
        from alphastats_spark.functions import events as ev_ops

        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev))
        per = ev_ops.funnel(
            ev, steps=["signup", "click", "purchase"], max_gap_s=86_400,
            per_user=True,
        )
        done = per.where(F.col("lvl") >= 3).select(
            (F.col("t_last") - F.col("t_first")).cast("double").alias("dt")
        )
        return done.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.avg("dt"), ROUND).alias("avg_us"),
            F.round(X.percentile(F.col("dt"), 0.5), ROUND).alias("p50_us"),
        )

    add("event_funnel_times", _funnel_times, f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
t1 AS (SELECT user_id, MIN(us) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
t2 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND us > t1.t AND us - t1.t <= 86400000000
       GROUP BY 1),
t3 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'purchase' AND us > t2.t AND us - t2.t <= 86400000000
       GROUP BY 1)
SELECT COUNT(*) AS n_converted,
       ROUND(AVG(t3.t - t1.t), {ROUND}) AS avg_us,
       ROUND(quantile_cont(t3.t - t1.t, 0.5), {ROUND}) AS p50_us
FROM t3 JOIN t1 USING (user_id)""")

    # Cohort retention on epoch-anchored buckets (no calendar / locale
    # dependence; pure integer-microsecond arithmetic both engines). The
    # gate runs DAILY cohorts: the sf corpus spans only ~30 days, so weekly
    # grain would collapse to one cohort, while daily grain exercises many
    # cohort × offset cells.
    def _retention(spark, sf_dir):
        from alphastats_spark.functions import events as ev_ops

        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev))
        return ev_ops.cohort_retention(ev, bucket_us=86_400_000_000)

    add("event_retention", _retention, """
WITH act AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS wk FROM events
),
cohort AS (SELECT user_id, MIN(wk) AS cw FROM act GROUP BY 1)
SELECT CAST(c.cw AS BIGINT) AS cohort_bucket,
       CAST(a.wk - c.cw AS BIGINT) AS bucket_offset,
       COUNT(*) AS n_users
FROM act a JOIN cohort c USING (user_id)
GROUP BY 1, 2""")

    # The same hourly rollup through GENUINE Structured Streaming: file
    # source → watermarked tumbling ``F.window`` aggregation → memory sink.
    # Complete output mode so every window is emitted at end-of-stream
    # (append mode would withhold windows the final watermark has not
    # passed — correct for an unbounded stream, unverifiable for a bounded
    # gate); state = one row per (hour, type), bounded at gate scale. The
    # watermark is still set — the production append path relies on it.
    def _stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile
        import uuid

        ev = _events(spark, sf_dir)
        # watermarks demand TIMESTAMP (not NTZ): build the instant from the
        # tz-independent epoch-µs, so the UTC instant equals the naive
        # value and every downstream bucket matches the oracle whatever
        # spark.sql.session.timeZone is
        ev = ev.select(
            F.col("event_type"),
            F.timestamp_micros(_event_us(ev)).alias("ts"),
            F.col("value"),
        )
        src = tempfile.mkdtemp(prefix="as_stream_hr_")
        ev.coalesce(4).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        name = f"stream_hr_{uuid.uuid4().hex[:8]}"
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), ROUND).alias("total_value"),
            )
        )
        with _stream_parts(spark, src):
            sq = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(sq, src)
        return spark.table(name).select(
            (F.expr("unix_micros(w.start)") / F.lit(3600_000_000))
            .cast("bigint")
            .alias("hour_bucket"),
            "event_type",
            "n",
            "total_value",
        )

    add("event_hourly_streaming", _stream_hourly,
        f"""SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       event_type, COUNT(*) AS n, ROUND(SUM(value), {ROUND}) AS total_value
FROM events GROUP BY 1, 2""")

    # Keyed sessionization through GENUINE Structured Streaming: the same
    # streaming-shared ``session_metrics`` (native ``F.session_window``) run
    # as a stream — file source → watermarked session-window aggregation →
    # memory sink. State partitions by user_id (the 100 TB shape: sessions
    # for different users never co-reside). Complete output mode for the
    # bounded gate, same rationale as event_hourly_streaming; the
    # production append path closes a session when the watermark passes its
    # end. session_start is emitted as epoch seconds so no session-timezone
    # string formatting can skew the compare.
    def _stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile
        import uuid

        from alphastats_spark.streaming import session_metrics

        ev = _events(spark, sf_dir)
        ev = ev.select(
            F.col("user_id"),
            F.timestamp_micros(_event_us(ev)).alias("ts"),
        )
        src = tempfile.mkdtemp(prefix="as_stream_sess_")
        ev.coalesce(4).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        name = f"stream_sess_{uuid.uuid4().hex[:8]}"
        agg = session_metrics(
            stream, gap="30 minutes", key_col="user_id", temporal="ts",
            watermark="1 hour",
        )
        with _stream_parts(spark, src):
            sq = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(sq, src)
        return spark.table(name).select(
            "user_id",
            (F.expr("unix_micros(session_start)") / F.lit(1_000_000))
            .cast("bigint")
            .alias("session_start_s"),
            "n_events",
            "duration_s",
        )

    add("event_session_streaming", _stream_sessions, """
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800.0 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
  FROM g
)
SELECT user_id, CAST(epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS session_start_s,
       COUNT(*) AS n_events,
       CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id""")

    # The conversion funnel through GENUINE stateful Structured Streaming:
    # applyInPandasWithState keyed by user, state = (level, frontier
    # instant) — two scalars per user however long the history. The staged
    # feed is a single file → a single availableNow micro-batch, where the
    # in-batch (us, type) sort makes the stateful fold exactly equal the
    # batch chained-min semantics, so the SAME oracle as event_funnel
    # value-hashes the result end to end.
    def _stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile
        import uuid

        from alphastats_spark.streaming.metrics import streaming_funnel_levels

        steps = ["signup", "click", "purchase"]
        ev = _events(spark, sf_dir)
        ev = ev.select(
            F.col("user_id").cast("long").alias("user_id"),
            _event_us(ev).alias("us"),
            F.col("event_type"),
        )
        src = tempfile.mkdtemp(prefix="as_stream_funnel_")
        ev.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        name = f"stream_funnel_{uuid.uuid4().hex[:8]}"
        levels = streaming_funnel_levels(stream, steps=steps, max_gap_s=86_400)
        with _stream_parts(spark, src):
            sq = (
                levels.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(sq, src)
        counters = [
            F.count(F.when(F.col("lvl") >= i + 1, True)).alias(f"s{i}")
            for i in range(len(steps))
        ]
        stack = ", ".join(f"{i + 1}, '{s}', s{i}" for i, s in enumerate(steps))
        return (
            spark.table(name)
            .agg(*counters)
            .select(F.expr(
                f"stack({len(steps)}, {stack}) AS (step, event_type, n_users)"
            ))
            .select(F.col("step").cast("int").alias("step"), "event_type", "n_users")
        )

    add("event_funnel_streaming", _stream_funnel, """
WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
t1 AS (SELECT user_id, MIN(us) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
t2 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND us > t1.t AND us - t1.t <= 86400000000
       GROUP BY 1),
t3 AS (SELECT e.user_id, MIN(us) AS t FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'purchase' AND us > t2.t AND us - t2.t <= 86400000000
       GROUP BY 1)
SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type,
       (SELECT COUNT(*) FROM t1) AS n_users
UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3)""")

    # ---- training-data pipeline (sampling / chunking / packing / quality) -
    from alphastats_spark.functions import pipeline

    # Gopher-style repetition quality signals (pipeline.repetition_stats).
    add("doc_repetition",
        lambda spark, sf_dir: pipeline.repetition_stats(_docs(spark, sf_dir)),
        f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
uni AS (
  SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), {ROUND}) AS top_token_frac
  FROM (SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY doc_id, g)
  GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c), {ROUND}) AS dup_bigram_frac,
         ROUND(MAX(c) * 1.0 / SUM(c), {ROUND}) AS top_bigram_frac
  FROM (SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1])) AS g
              FROM t WHERE len(toks) >= 2)
        GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(top_token_frac, 0.0) AS top_token_frac,
       COALESCE(dup_bigram_frac, 0.0) AS dup_bigram_frac,
       COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac
FROM t LEFT JOIN uni USING (doc_id) LEFT JOIN bg USING (doc_id)""")

    # Deterministic per-source sampling (domain mixing). The rate table is
    # shared between the Spark map literal and the oracle's CASE: src0
    # keeps 100%, src19 keeps 5%. md5-bucket membership is engine-portable.
    _MIX_RATES = {f"src{i}": 100 - 5 * i for i in range(20)}

    def _stratified(spark, sf_dir):
        kept = pipeline.stratified_sample(_docs(spark, sf_dir), _MIX_RATES)
        return kept.select(
            "doc_id", "source",
            pipeline.hash_bucket(F.col("doc_id")).alias("sample_bucket"),
        )

    _rate_case = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in _MIX_RATES.items()
    ) + " ELSE 0 END"
    add("corpus_sample_stratified", _stratified, f"""
WITH b AS (
  SELECT doc_id, source,
         CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
           AS sample_bucket
  FROM documents
)
SELECT doc_id, source, sample_bucket FROM b
WHERE sample_bucket < {_rate_case}""")

    # Context-window chunking: 32-token chunks, explode-only plan.
    add("doc_chunks",
        lambda spark, sf_dir: pipeline.chunk_documents(_docs(spark, sf_dir), chunk_tokens=32),
        f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, toks, n,
             unnest(generate_series(0, CAST(ceil(n / 32.0) AS BIGINT) - 1)) AS chunk_id
      FROM n)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(LEAST(32, n - chunk_id * 32) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 32), ' ')
         AS chunk_text
FROM c""")

    # Source-layer roundtrip: returns written to CSV and read back through
    # readers.read_returns (explicit schema — the no-inference-at-scale
    # contract), then aggregated. Spark's CSV writer emits shortest-
    # roundtrip doubles, so the values are bit-identical to the parquet
    # path and the oracle needs no tolerance. The bounded 1-row result is
    # materialized before the staging dir is removed.
    def _csv_roundtrip(spark, sf_dir):
        import shutil
        import tempfile

        from alphastats_spark import expressions as X
        from alphastats_spark.sources import readers

        rets = load_returns(spark, sf_dir)
        d = tempfile.mkdtemp(prefix="as_csv_rt_")
        try:
            rets.write.mode("overwrite").option("header", "true").csv(d)
            back = readers.read_returns(
                spark, d, format="csv", schema="d date, r double", header="true"
            )
            row = back.agg(
                F.count("r").alias("n"),
                F.round(F.sum("r"), ROUND).alias("sum_r"),
                F.round(X.column("sharpe", "r"), ROUND).alias("sharpe"),
            ).collect()[0]
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame([row], "n bigint, sum_r double, sharpe double")

    add("returns_csv_roundtrip", _csv_roundtrip, f"""{RETURNS_CTE}
SELECT CAST(COUNT(r) AS BIGINT) AS n,
       ROUND(SUM(r), {ROUND}) AS sum_r,
       ROUND(AVG(r) / STDDEV_SAMP(r) * SQRT(252), {ROUND}) AS sharpe
FROM rets""")

    # Corpus sink/source roundtrip: documents written as source-partitioned
    # JSONL (the LLM-corpus interchange format) through writers/readers with
    # an explicit schema, read back (source resolves from directory names)
    # and profiled per source. JSON string escaping is lossless, so the
    # profile is exact vs the parquet originals.
    def _jsonl_roundtrip(spark, sf_dir):
        import shutil
        import tempfile

        from alphastats_spark.sources import readers

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        d = tempfile.mkdtemp(prefix="as_jsonl_rt_")
        try:
            readers.write_corpus(
                docs, d, format="jsonl", mode="overwrite", partition_by=["source"]
            )
            back = readers.read_corpus(
                spark, d, format="jsonl",
                schema="doc_id bigint, text string, lang string, "
                       "n_chars bigint, source string",
            )
            rows = back.groupBy("source").agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).alias("sum_len"),
                F.sum("doc_id").alias("sum_ids"),
            ).collect()
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(
            rows, "source string, n_docs bigint, sum_len bigint, sum_ids bigint"
        )

    add("docs_jsonl_roundtrip", _jsonl_roundtrip, """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY source""")

    # Partitioned sink + pruned read: returns written year-partitioned
    # through writers.write_returns, read back with a partition filter —
    # the scan must touch only the 1995 directory (pruning pinned by a plan
    # test). The oracle filters the same year from the raw series.
    def _partitioned_sink(spark, sf_dir):
        import shutil
        import tempfile

        from alphastats_spark import expressions as X
        from alphastats_spark.sources import readers

        rets = load_returns(spark, sf_dir)
        d = tempfile.mkdtemp(prefix="as_part_sink_")
        try:
            readers.write_returns(rets, d, mode="overwrite")
            back = readers.read_returns(spark, d)
            row = back.where(F.col("__year") == 1995).agg(
                F.count("r").alias("n"),
                F.round(F.sum("r"), ROUND).alias("sum_r"),
                F.round(X.column("sharpe", "r"), ROUND).alias("sharpe"),
            ).collect()[0]
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame([row], "n bigint, sum_r double, sharpe double")

    add("returns_partitioned_sink", _partitioned_sink, f"""{RETURNS_CTE}
SELECT CAST(COUNT(r) AS BIGINT) AS n,
       ROUND(SUM(r), {ROUND}) AS sum_r,
       ROUND(AVG(r) / STDDEV_SAMP(r) * SQRT(252), {ROUND}) AS sharpe
FROM rets WHERE EXTRACT(year FROM d) = 1995""")

    # RAG-ingest composition: chunk → hashed bag-of-words → sign-bit
    # hyperplane shard per chunk (the vector-index partition key). The
    # oracle slices chunk tokens straight from the document token list
    # (identical to re-splitting the rejoined chunk_text) and reuses the
    # literal 6dp hyperplanes; sign of Σ count·plane[bucket] needs no
    # normalization, so the whole composition stays exact.
    def _chunk_shards_sql() -> str:
        from alphastats_spark.functions import similarity

        planes = similarity.hyperplanes(64, 6, 42)
        d_cols = ", ".join(
            f"SUM(c * list_extract({_plane_sql(p)}, bk + 1)) AS d{t}"
            for t, p in enumerate(planes)
        )
        shard = " + ".join(
            f"(CASE WHEN d{t} >= 0 THEN {1 << t} ELSE 0 END)" for t in range(6)
        )
        return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) > 0),
ch AS (SELECT doc_id, toks, n,
              unnest(generate_series(0, CAST(ceil(n / 32.0) AS BIGINT) - 1)) AS chunk_id
       FROM n),
tok AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(LEAST(32, n - chunk_id * 32) AS BIGINT) AS n_chunk_tokens,
               unnest(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 32)) AS tok
        FROM ch),
b AS (SELECT doc_id, chunk_id, n_chunk_tokens,
             CAST(CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64
                  AS INTEGER) AS bk
      FROM tok),
c2 AS (SELECT doc_id, chunk_id, n_chunk_tokens, bk,
              CAST(COUNT(*) AS DOUBLE) AS c
       FROM b GROUP BY 1, 2, 3, 4),
d AS (SELECT doc_id, chunk_id, n_chunk_tokens, {d_cols}
      FROM c2 GROUP BY 1, 2, 3)
SELECT doc_id, chunk_id, n_chunk_tokens,
       CAST({shard} AS INTEGER) AS shard
FROM d"""

    add("doc_chunk_shards",
        lambda spark, sf_dir: pipeline.chunk_shards(_docs(spark, sf_dir)),
        _chunk_shards_sql())

    # Greedy concat-then-split packing into 512-token shards. The Spark
    # side runs the two-phase distributed prefix sum (no global window);
    # the oracle is the plain single-node window cumsum, CAST to BIGINT so
    # DuckDB's HUGEINT window SUM cannot skew the driver's type-aware hash.
    add("corpus_pack_greedy",
        lambda spark, sf_dir: pipeline.pack_documents(_docs(spark, sf_dir), budget=512),
        f"""
WITH t AS (SELECT doc_id, CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS excl
      FROM t)
SELECT doc_id, n_tokens,
       CAST(excl // 512 AS BIGINT) AS pack_id,
       CAST(excl % 512 AS BIGINT) AS pack_offset
FROM c""")

    # SemDedup: k-means-cluster-bucketed semantic near-dup removal. Same
    # seeded quantizer as ann_ivf_topk, so the oracle re-derives identical
    # centroids and assignment (see _semdedup_oracle_sql). Threshold 0.35
    # is corpus-relative: within-cluster max cosine at sf0.01 is 0.48, and
    # 0.35 drops 72 of 2000 vectors — a non-vacuous gate. (Pairs straddling
    # a cluster boundary are invisible by design — SemDedup's documented
    # recall trade; the LSH path emb_near_dups_lsh covers that regime.)
    def _semdedup(spark, sf_dir):
        emb = _embs(spark, sf_dir)
        cents = similarity.ivf_centroids(emb, n_centroids=16, seed=42)
        return dedup.semdedup_drop_list(emb, cents, threshold=0.35)

    add("emb_semdedup", _semdedup,
        _semdedup_oracle_sql(threshold=0.35, n_centroids=16, seed=42))

    # Benchmark decontamination: training docs sharing word 3-grams with an
    # eval set (deterministically carved out as doc_id % 40 == 7, ~13 docs).
    # The eval-gram list is broadcast; the corpus never shuffles beyond its
    # own per-doc distinct. n=3 on the synthetic small-vocab corpus gives a
    # non-vacuous split (some overlap, not everything contaminated).
    def _decontam(spark, sf_dir):
        docs = _docs(spark, sf_dir)
        eval_df = docs.where(F.col("doc_id") % 40 == 7)
        return pipeline.decontaminate(docs, eval_df, n=3, threshold=0.05)

    _decontam_sql = f"""
WITH t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM t WHERE len(toks) >= 3)
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 40 = 7),
tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM g GROUP BY doc_id),
hit AS (SELECT g.doc_id, COUNT(*) AS n_contaminated
        FROM g JOIN ev USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(hit.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       ROUND(COALESCE(hit.n_contaminated * 1.0 / tot.n_ngrams, 0.0), {ROUND})
         AS contamination_frac,
       COALESCE(hit.n_contaminated * 1.0 / tot.n_ngrams, 0.0) > 0.05 AS flagged
FROM documents d
LEFT JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN hit ON d.doc_id = hit.doc_id"""

    add("doc_decontaminate", _decontam, _decontam_sql)

    # The hash-compacted broadcast variant: 8-byte xxhash64 digests
    # broadcast instead of raw gram strings, candidates re-verified
    # against the raw eval grams — output bit-equal to the exact path,
    # so the SAME oracle gates both configurations.
    def _decontam_hashed(spark, sf_dir):
        docs = _docs(spark, sf_dir)
        eval_df = docs.where(F.col("doc_id") % 40 == 7)
        return pipeline.decontaminate(
            docs, eval_df, n=3, threshold=0.05, hashed=True
        )

    add("doc_decontaminate_hashed", _decontam_hashed, _decontam_sql)

    # Hard rule gate (Gopher-style) with reason codes. Thresholds are
    # corpus-relative so three of the five rules genuinely fire at sf0.01
    # (tokens 10-99, mean word length 3.7-5.3, stopwords 0-14):
    # min_tokens=30, word_len >= 4.0, stopwords >= 2.
    _qf_sql = f"""
WITH t AS (
  SELECT doc_id,
         COALESCE(len({_TOKS_SQL}), 0) AS n,
         {_TOKS_SQL} AS toks,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')
           AS ltoks
  FROM documents
),
m AS (
  SELECT doc_id, n,
    CASE WHEN n > 0
         THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / n
         ELSE 0.0 END AS mean_len,
    CASE WHEN n > 0
         THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / n
         ELSE 0.0 END AS alpha_frac,
    COALESCE(len(list_filter(ltoks, x -> x IN ({_stop_list()}))), 0) AS stop
  FROM t
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_tokens,
  ROUND(mean_len, {ROUND}) AS mean_word_len,
  ROUND(alpha_frac, {ROUND}) AS alpha_word_frac,
  CAST(stop AS BIGINT) AS n_stopwords,
  concat_ws(',',
    CASE WHEN n < 30 THEN 'min_tokens' END,
    CASE WHEN n > 100000 THEN 'max_tokens' END,
    CASE WHEN mean_len < 4.0 OR mean_len > 10.0 THEN 'word_len' END,
    CASE WHEN alpha_frac < 0.8 THEN 'alpha_frac' END,
    CASE WHEN stop < 2 THEN 'stopwords' END) AS failed_rules,
  (concat_ws(',',
    CASE WHEN n < 30 THEN 'min_tokens' END,
    CASE WHEN n > 100000 THEN 'max_tokens' END,
    CASE WHEN mean_len < 4.0 OR mean_len > 10.0 THEN 'word_len' END,
    CASE WHEN alpha_frac < 0.8 THEN 'alpha_frac' END,
    CASE WHEN stop < 2 THEN 'stopwords' END) = '') AS keep
FROM m"""

    add("doc_quality_filter",
        lambda spark, sf_dir: pipeline.quality_filter(
            _docs(spark, sf_dir), min_tokens=30, min_mean_word_len=4.0),
        _qf_sql)

    # adversarial null sweep, pipeline family: null/empty texts take the
    # all-rules-fail path (n=0, ratios 0.0, keep=false) in both engines
    add("doc_quality_filter_nulls",
        lambda spark, sf_dir: pipeline.quality_filter(
            _docs_nulled(spark, sf_dir), min_tokens=30, min_mean_word_len=4.0),
        "WITH " + _NULLS_DOCS_CTE + ",\n" + _qf_sql.lstrip().removeprefix("WITH "))

    # Per-source rollup: the accounting table a domain-mixing run reads
    # before setting stratified_sample rates.
    add("corpus_source_stats",
        lambda spark, sf_dir: pipeline.source_stats(_docs(spark, sf_dir)),
        f"""
WITH t AS (SELECT source, lang,
                  CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT) AS n
           FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       ROUND(AVG(n), {ROUND}) AS avg_tokens,
       ROUND(median(n), {ROUND}) AS median_tokens,
       COUNT(DISTINCT lang) AS n_langs
FROM t GROUP BY source""")

    # Feature-hashing text embedder (the hashing trick): md5 buckets →
    # dense L2-normalized vector — the in-engine documents→embeddings
    # bridge. The gate unpivots the nonzero buckets (one row per (doc,
    # bucket)) so the vector is value-hashed element by element.
    def _hash_embed(spark, sf_dir):
        emb = text.hash_embed(_docs(spark, sf_dir), dim=64)
        return (
            emb.select("doc_id", F.posexplode("embedding").alias("bucket", "w"))
            .where(F.col("w") > 0)
            .select("doc_id", "bucket", F.round("w", ROUND).alias("weight"))
        )

    add("doc_hash_embed", _hash_embed, f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
b AS (SELECT doc_id,
             CAST(CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64
                  AS INTEGER) AS bucket
      FROM tok),
c AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
n AS (SELECT doc_id, SQRT(SUM(c * c)) AS nrm FROM c GROUP BY 1)
SELECT c.doc_id, c.bucket, ROUND(c.c / n.nrm, {ROUND}) AS weight
FROM c JOIN n USING (doc_id)""")

    # Per-source token-length distribution profile: exact interpolated
    # percentiles (parity with quantile_cont; the exact=False KLL path is
    # the 100 TB variant).
    add("corpus_length_quantiles",
        lambda spark, sf_dir: pipeline.length_quantiles(_docs(spark, sf_dir)),
        f"""
WITH t AS (SELECT source,
                  CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT) AS n
           FROM documents)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(n), {ROUND}) AS mean_tokens,
       MAX(n) AS max_tokens,
       ROUND(quantile_cont(n, 0.25), {ROUND}) AS p25_tokens,
       ROUND(quantile_cont(n, 0.5), {ROUND}) AS p50_tokens,
       ROUND(quantile_cont(n, 0.75), {ROUND}) AS p75_tokens,
       ROUND(quantile_cont(n, 0.95), {ROUND}) AS p95_tokens
FROM t GROUP BY source""")

    # Corpus-self-trained bigram LM score (CCNet/KenLM-style): add-0.1
    # smoothed P(cur|prev) from corpus-wide counts; per-doc mean log-prob.
    # Both engines train the identical "model" (two count tables + the
    # vocab size), so the approximation-free check covers tokenization,
    # the count joins, and the smoothing arithmetic end to end.
    add("doc_lm_score",
        lambda spark, sf_dir: pipeline.lm_score(_docs(spark, sf_dir), alpha=0.1),
        f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
           FROM documents),
uni AS (SELECT tok, COUNT(*) AS c1
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
pairs AS (
  SELECT doc_id, toks[i] AS prev, toks[i] || ' ' || toks[i + 1] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 2)
),
big AS (SELECT gram, COUNT(*) AS c2 FROM pairs GROUP BY 1),
sc AS (
  SELECT p.doc_id, ln((b.c2 + 0.1) / (u.c1 + 0.1 * v.v)) AS lp
  FROM pairs p JOIN big b USING (gram) JOIN uni u ON p.prev = u.tok, v
),
agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, AVG(lp) AS a FROM sc GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       ROUND(COALESCE(agg.a, 0.0), {ROUND}) AS avg_logprob
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""")

    # fastText-style linear quality classifier (pipeline.classifier_score,
    # Joulin et al. 2016): hashed unigram+bigram bag → mean-pooled seeded
    # per-bucket weights → sigmoid. The weights are EXACT multiples of
    # 2^-10 (dyadic rationals), so the per-document feature sum is exact
    # in double arithmetic on both engines REGARDLESS of summation order —
    # the usual AVG-oracle float-order hazard is designed out, not rounded
    # away; the only cross-engine float op left is one exp(). Runs on the
    # null-injected corpus: featureless documents must score the model's
    # empty-input prior sigmoid(bias), pinning the null/empty path.
    _clf_w = [((b * 2654435761) % 1024) / 1024.0 - 0.5 for b in range(256)]
    add("doc_classifier_score",
        lambda spark, sf_dir: pipeline.classifier_score(
            _docs_nulled(spark, sf_dir), _clf_w, bias=-0.25, word_ngrams=2),
        f"""
WITH {_NULLS_DOCS_CTE},
t AS (SELECT doc_id,
             list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
      FROM documents),
f AS (
  SELECT doc_id, unnest(toks) AS f FROM t
  UNION ALL
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(toks) - 1, 0) + 1),
           i -> array_to_string(toks[i:i+1], ' '))) AS f
  FROM t
),
w AS (SELECT doc_id,
             (((CAST(CONCAT('0x', substr(md5(f), 1, 8)) AS BIGINT) % 256)
               * 2654435761) % 1024) / 1024.0 - 0.5 AS w
      FROM f),
s AS (SELECT doc_id, COUNT(*) AS n_features, SUM(w) / COUNT(*) AS m
      FROM w GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(s.n_features, 0) AS BIGINT) AS n_features,
       ROUND(1.0 / (1.0 + EXP(-(COALESCE(s.m, 0.0) - 0.25))), {ROUND}) AS score
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""")

    # Deterministic weighted sampling without replacement (Efraimidis-
    # Spirakis exponential keys): token-mass-weighted top-100, md5-keyed
    # uniforms so both engines draw the identical "random" sample.
    def _wsample(spark, sf_dir):
        d = _docs(spark, sf_dir).select(
            "doc_id",
            F.coalesce(text.token_count(F.col("text")), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )
        return pipeline.weighted_sample(d, weight=F.col("n_tokens"), n=100)

    add("corpus_weighted_sample", _wsample, f"""
WITH t AS (SELECT doc_id,
                  CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT) AS n_tokens
           FROM documents),
p AS (SELECT doc_id, n_tokens,
             ROUND(ln((CAST(CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
                   / CAST(n_tokens AS DOUBLE), {ROUND}) AS priority
      FROM t WHERE n_tokens > 0)
SELECT doc_id, n_tokens, priority
FROM p ORDER BY priority DESC, doc_id LIMIT 100""")

    # Deterministic content-keyed train/val/test split: md5-uniforms against
    # cumulative thresholds. The Python-computed cumulative floats are
    # injected into BOTH engines (0.98 + 0.01 is not the literal 0.99 in
    # binary), and u = bigint/2^52-free power-of-two division is exact, so
    # the assignment is bit-identical.
    _SPLIT_C1 = 0.98
    _SPLIT_C2 = 0.98 + 0.01

    def _hash_split(spark, sf_dir):
        d = pipeline.hash_split(_docs(spark, sf_dir))
        return d.groupBy("source", "split").agg(
            F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_ids")
        )

    add("corpus_hash_split", _hash_split, f"""
WITH u AS (SELECT doc_id, source,
  CAST(CAST(CONCAT('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM documents),
s AS (SELECT source, doc_id,
  CASE WHEN u < {_SPLIT_C1!r} THEN 'train'
       WHEN u < {_SPLIT_C2!r} THEN 'val'
       ELSE 'test' END AS split FROM u)
SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM s GROUP BY source, split""")

    # Tokenizer-ready sharding: md5-keyed pseudo-random shard + within-shard
    # sort key (global-shuffle de-correlation before sequence packing),
    # profiled per shard — no per-shard row_number funnel anywhere.
    def _shards(spark, sf_dir):
        d = pipeline.shard_corpus(_docs(spark, sf_dir), n_shards=8)
        return d.groupBy("shard").agg(
            F.count("*").alias("n_docs"),
            F.sum("shard_key").alias("sum_keys"),
            F.min("shard_key").alias("min_key"),
        )

    add("corpus_shards", _shards, """
WITH k AS (SELECT CAST(CONCAT('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) AS key
           FROM documents)
SELECT CAST(key % 8 AS INTEGER) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(key) AS BIGINT) AS sum_keys, CAST(MIN(key) AS BIGINT) AS min_key
FROM k GROUP BY key % 8""")

    # CCNet-style perplexity bucketing: corpus-relative head/middle/tail
    # terciles of the bigram-LM score. Quantiles are computed over the
    # 7dp-ROUNDED scores both sides, so the tercile thresholds — and the
    # strict-> boundary rule — replicate exactly.
    add("doc_lm_buckets",
        lambda spark, sf_dir: pipeline.lm_buckets(_docs(spark, sf_dir), alpha=0.1),
        f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
           FROM documents),
uni AS (SELECT tok, COUNT(*) AS c1
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
pairs AS (
  SELECT doc_id, toks[i] AS prev, toks[i] || ' ' || toks[i + 1] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 2)
),
big AS (SELECT gram, COUNT(*) AS c2 FROM pairs GROUP BY 1),
sc AS (
  SELECT p.doc_id, ln((b.c2 + 0.1) / (u.c1 + 0.1 * v.v)) AS lp
  FROM pairs p JOIN big b USING (gram) JOIN uni u ON p.prev = u.tok, v
),
agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, AVG(lp) AS a FROM sc GROUP BY 1),
scores AS (
  SELECT d.doc_id,
         CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         ROUND(COALESCE(agg.a, 0.0), {ROUND}) AS avg_logprob
  FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
q AS (SELECT quantile_cont(avg_logprob, 1.0/3) AS q1,
             quantile_cont(avg_logprob, 2.0/3) AS q2
      FROM scores WHERE n_bigrams > 0)
SELECT doc_id, n_bigrams, avg_logprob,
       CASE WHEN n_bigrams = 0 THEN 'tail'
            WHEN avg_logprob > q2 THEN 'head'
            WHEN avg_logprob > q1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scores, q""")

    # Token-budget domain mixing: src1 over-weighted so its allocation
    # exceeds its mass (rate caps at 1 — kept whole), src0/src2 land at
    # fractional rates, the other 17 sources get weight 0 (dropped) — all
    # three regimes of the rate formula are driver-checked.
    add("corpus_mix_sample",
        lambda spark, sf_dir: pipeline.mix_sample(
            _docs(spark, sf_dir),
            weights={"src0": 1.0, "src1": 8.0, "src2": 1.0},
            token_budget=2000,
        ).select("doc_id", "source", F.round("keep_rate", ROUND).alias("keep_rate")),
        f"""
WITH m AS (
  SELECT source, SUM(len({_TOKS_SQL})) AS mass FROM documents GROUP BY 1
),
r AS (
  SELECT source,
         LEAST(1.0, 2000.0 * (CASE source WHEN 'src0' THEN 0.1
                                          WHEN 'src1' THEN 0.8
                                          WHEN 'src2' THEN 0.1
                                          ELSE 0.0 END) / mass) AS keep_rate
  FROM m
)
SELECT d.doc_id, d.source, ROUND(r.keep_rate, {ROUND}) AS keep_rate
FROM documents d JOIN r USING (source)
WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        % 10000 < r.keep_rate * 10000""")

    # DSIR importance resampling (Xie et al. 2023): hashed-unigram
    # importance weights toward the English-language target slice, top-100
    # selection. Features are md5 hash buckets (engine-portable), both
    # distributions add-α smoothed over the fixed 4096-bucket vocabulary,
    # so the oracle reproduces weight AND selection exactly (the Spark
    # side's bounded TakeOrdered threshold equals rank-≤-n under the
    # unique-doc-id total order).
    add("doc_dsir_select",
        lambda spark, sf_dir: pipeline.dsir_weights(
            _docs(spark, sf_dir), target=F.col("lang") == "en",
            n_buckets=4096, alpha=0.5, top_n=100),
        f"""
WITH t AS (SELECT doc_id, (lang = 'en') AS is_target,
                  list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '') AS toks
           FROM documents),
tok AS (SELECT doc_id, is_target, unnest(toks) AS tok FROM t),
bk AS (SELECT doc_id, is_target,
              CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS b
       FROM tok),
c AS (SELECT b, COUNT(*) FILTER (WHERE is_target) AS ct, COUNT(*) AS cr
      FROM bk GROUP BY 1),
tt AS (SELECT CAST(SUM(ct) AS DOUBLE) AS nt, CAST(SUM(cr) AS DOUBLE) AS nr FROM c),
lp AS (SELECT b, ln((ct + 0.5) / (nt + 0.5 * 4096))
                 - ln((cr + 0.5) / (nr + 0.5 * 4096)) AS diff
       FROM c, tt),
sc AS (SELECT bk.doc_id, AVG(diff) AS w FROM bk JOIN lp USING (b) GROUP BY 1),
base AS (
  SELECT t.doc_id, t.is_target,
         CAST(COALESCE(len(t.toks), 0) AS BIGINT) AS n_tokens,
         ROUND(COALESCE(sc.w, 0.0), {ROUND}) AS log_weight
  FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id)
SELECT doc_id, is_target, n_tokens, log_weight,
       (ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id)) <= 100 AS selected
FROM base""")

    # Hierarchical (source, lang) / source / grand-total profile in one
    # ROLLUP result. The Spark side pre-aggregates to the tiny
    # (source × lang) grain before rolling up, so no Expand ever touches
    # corpus rows; the oracle rolls up the raw table directly — identical
    # values by associativity of the sums.
    add("corpus_rollup_stats",
        lambda spark, sf_dir: pipeline.corpus_rollup(_docs(spark, sf_dir)),
        f"""
SELECT source, lang,
       CAST(GROUPING(source, lang) AS INTEGER) AS grouping_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(len({_TOKS_SQL}), 0)) AS BIGINT) AS total_tokens,
       ROUND(SUM(COALESCE(len({_TOKS_SQL}), 0)) * 1.0 / COUNT(*), {ROUND})
         AS avg_tokens
FROM documents GROUP BY ROLLUP (source, lang)""")

    # Declarative data-quality gate (Deequ-style): six rule kinds in ONE
    # aggregation pass, unpivoted to a per-rule report frame. Runs over
    # the null-injected corpus so the violating branches of not_null /
    # non_empty fire alongside genuine in_range (n_chars caps at 553) and
    # in_set (zh ∉ allowed) violations — and unique/matches pass — so both
    # report outcomes are driver-checked. Oracle = independent UNION ALL
    # of per-rule filtered counts.
    def _constraint_report(spark, sf_dir):
        from alphastats_spark.functions import checks

        return checks.check_constraints(_docs_nulled(spark, sf_dir), [
            checks.not_null("text"),
            checks.unique("doc_id"),
            checks.non_empty("text"),
            checks.in_range("n_chars", lo=1, hi=500),
            checks.in_set("lang", ["en", "de", "fr", "es"]),
            checks.matches("source", "src[0-9]+"),
        ])

    add("corpus_constraint_report", _constraint_report, f"""
WITH {_NULLS_DOCS_CTE},
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents),
v AS (
  SELECT 'not_null(text)' AS rule, 'text' AS "column",
         CAST(COUNT(*) FILTER (WHERE text IS NULL) AS BIGINT) AS violations
  FROM documents
  UNION ALL
  SELECT 'unique(doc_id)', 'doc_id',
         CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'non_empty(text)', 'text',
         CAST(COUNT(*) FILTER (WHERE text IS NULL OR trim(text) = '')
              AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'in_range(n_chars)', 'n_chars',
         CAST(COUNT(*) FILTER (WHERE n_chars IS NOT NULL
                                 AND (n_chars < 1 OR n_chars > 500))
              AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'in_set(lang)', 'lang',
         CAST(COUNT(*) FILTER (WHERE lang IS NOT NULL
                                 AND lang NOT IN ('en', 'de', 'fr', 'es'))
              AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'matches(source)', 'source',
         CAST(COUNT(*) FILTER (WHERE source IS NOT NULL
                                 AND NOT regexp_full_match(source, 'src[0-9]+'))
              AS BIGINT)
  FROM documents
)
SELECT rule, "column", violations, n.n_rows, violations = 0 AS passed
FROM v, n""")

    # Incremental ingest dedup: the doc_id%5==0 slice plays the NEW batch,
    # the rest the EXISTING corpus. Admission audit per new doc — match
    # count, best verified match, admitted flag. 14 of the corpus's 25
    # verified near-dup pairs straddle this split at sf0.01, so both the
    # rejected and admitted paths are driver-checked. The batch band table
    # broadcasts; the corpus side never reshuffles beyond its band groupBy.
    _inc_mh = _mh_sql()
    _inc_bands = _band_values_sql()
    _inc_cte = f"""
WITH t AS (SELECT doc_id, (doc_id % 5 = 0) AS is_new,
                  string_split({_NORM_SQL}, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, is_new, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM t
),
sig AS (SELECT doc_id, is_new, {_inc_mh} FROM sh GROUP BY doc_id, is_new),
bands AS (SELECT doc_id, is_new, b.band, b.sig
          FROM sig, LATERAL (VALUES {_inc_bands}) AS b(band, sig)),
corpus_hot AS (SELECT band, sig FROM bands WHERE NOT is_new
               GROUP BY band, sig
               HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
cand AS (SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS match_id
         FROM bands l
         JOIN (SELECT b.* FROM bands b ANTI JOIN corpus_hot h
               ON b.band = h.band AND b.sig = h.sig) r
           ON l.band = r.band AND l.sig = r.sig
         WHERE l.is_new AND NOT r.is_new)"""

    _inc_admit_sql = _inc_cte + f""",
shh AS (SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
        FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT c.new_id, c.match_id, COUNT(*) AS cnt
           FROM cand c
           JOIN shh a ON a.doc_id = c.new_id
           JOIN shh b ON b.doc_id = c.match_id AND b.shingle = a.shingle
           GROUP BY 1, 2),
ver AS (SELECT new_id, match_id,
               ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) AS jaccard
        FROM common
        JOIN sizes sa ON new_id = sa.doc_id
        JOIN sizes sb ON match_id = sb.doc_id
        WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5),
sel AS (SELECT new_id, match_id, jaccard,
               ROW_NUMBER() OVER (PARTITION BY new_id
                                  ORDER BY jaccard DESC, match_id) AS rk,
               COUNT(*) OVER (PARTITION BY new_id) AS nm
        FROM ver)
SELECT n.doc_id,
       CAST(COALESCE(s.nm, 0) AS BIGINT) AS n_matches,
       CAST(COALESCE(s.match_id, -1) AS BIGINT) AS best_match_id,
       COALESCE(s.jaccard, 0.0) AS best_jaccard,
       (s.new_id IS NULL) AS admitted
FROM (SELECT doc_id FROM t WHERE is_new) n
LEFT JOIN (SELECT * FROM sel WHERE rk = 1) s ON n.doc_id = s.new_id"""

    add("dedup_incremental_admit",
        lambda spark, sf_dir: dedup.incremental_admit(
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0),
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0),
            threshold=0.5),
        _inc_admit_sql)

    # Fuzzy benchmark decontamination audit — the TRANSPOSE of the admit
    # query: the doc_id%5==0 slice plays the BENCHMARK (the small,
    # broadcast side), the rest the training corpus, and the report is
    # per-benchmark-doc leakage (n matching train docs, worst Jaccard).
    # Same straddling near-dup pairs, so both leaked and clean rows are
    # driver-checked; the oracle folds the shared MinHash CTE the other
    # way (GROUP BY the benchmark id).
    add("doc_benchmark_leakage",
        lambda spark, sf_dir: dedup.benchmark_leakage(
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0),
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0),
            threshold=0.5),
        _inc_cte + f""",
shh AS (SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
        FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT c.new_id, c.match_id, COUNT(*) AS cnt
           FROM cand c
           JOIN shh a ON a.doc_id = c.new_id
           JOIN shh b ON b.doc_id = c.match_id AND b.shingle = a.shingle
           GROUP BY 1, 2),
ver AS (SELECT new_id, match_id,
               ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) AS jaccard
        FROM common
        JOIN sizes sa ON new_id = sa.doc_id
        JOIN sizes sb ON match_id = sb.doc_id
        WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5),
per AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_train_matches,
               MAX(jaccard) AS max_jaccard
        FROM ver GROUP BY 1)
SELECT b.doc_id,
       CAST(COALESCE(p.n_train_matches, 0) AS BIGINT) AS n_train_matches,
       COALESCE(p.max_jaccard, 0.0) AS max_jaccard,
       p.new_id IS NOT NULL AS leaked
FROM (SELECT doc_id FROM t WHERE is_new) b
LEFT JOIN per p ON b.doc_id = p.new_id""")

    # Acting on the leakage audit: fuzzy decontamination of the TRAINING
    # side. Same split/threshold as the audit above, but the lineage is
    # per-TRAIN-doc — worst-offending benchmark doc (max jaccard, ties to
    # lowest bench id), -1/0.0 sentinels for clean docs, reason
    # clean/leaked_dropped. The oracle folds the shared MinHash CTE by the
    # TRAIN id with an independent ROW_NUMBER best-match formulation; the
    # straddling near-dup pairs exercise both reasons at sf0.01.
    add("doc_decontaminate_fuzzy",
        lambda spark, sf_dir: dedup.decontaminate_fuzzy(
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0),
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0),
            threshold=0.5, lineage=True),
        _inc_cte + f""",
shh AS (SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
        FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (SELECT c.new_id, c.match_id, COUNT(*) AS cnt
           FROM cand c
           JOIN shh a ON a.doc_id = c.new_id
           JOIN shh b ON b.doc_id = c.match_id AND b.shingle = a.shingle
           GROUP BY 1, 2),
ver AS (SELECT new_id, match_id,
               ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) AS jaccard
        FROM common
        JOIN sizes sa ON new_id = sa.doc_id
        JOIN sizes sb ON match_id = sb.doc_id
        WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5),
sel AS (SELECT match_id, new_id, jaccard,
               ROW_NUMBER() OVER (PARTITION BY match_id
                                  ORDER BY jaccard DESC, new_id) AS rk
        FROM ver)
SELECT tr.doc_id,
       CAST(COALESCE(s.new_id, -1) AS BIGINT) AS bench_id,
       COALESCE(s.jaccard, 0.0) AS jaccard,
       CASE WHEN s.match_id IS NULL THEN 'clean'
            ELSE 'leaked_dropped' END AS reason
FROM (SELECT doc_id FROM t WHERE NOT is_new) tr
LEFT JOIN (SELECT * FROM sel WHERE rk = 1) s ON tr.doc_id = s.match_id""")

    def _index_admit(spark, sf_dir):
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="as_dedup_idx_")
        try:
            dedup.write_dedup_index(
                _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0), d
            )
            out = dedup.admit_against_index(
                _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0), d,
                threshold=0.5,
            )
            rows = out.collect()
            schema = out.schema
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(rows, schema)

    # The same admission audit against a MATERIALIZED corpus index
    # (dedup.write_dedup_index: band table partitioned by band + stored
    # shingle table) — the ingest-time shape where the corpus is never
    # re-tokenized. Same oracle as the frame-to-frame path: the parquet
    # round-trip of the index must not change a bit.
    add("dedup_index_admit", _index_admit, _inc_admit_sql)

    def _index_admit_compacted(spark, sf_dir):
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="as_dedup_cmp_")
        try:
            corpus = _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0)
            # same corpus as dedup_index_admit, built as one base write
            # plus two append batches — the ingest shape compaction serves.
            # The two appends are independent ingest batches: staged
            # commits (write_dedup_index append mode promotes from private
            # staging dirs, and the identical meta rewrite is skipped) make
            # them safe to overlap from a driver thread pool (guide §2.6)
            dedup.write_dedup_index(corpus.where(F.col("doc_id") % 3 == 0), d)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                list(pool.map(
                    lambda m: dedup.write_dedup_index(
                        corpus.where(F.col("doc_id") % 3 == m), d, mode="append"
                    ),
                    (1, 2),
                ))
            stats = dedup.compact_dedup_index(spark, d, max_files=1)
            if not (
                stats["bands"]["files_after"] < stats["bands"]["files_before"]
                and stats["shingles"]["files_after"] < stats["shingles"]["files_before"]
            ):
                raise AssertionError(
                    f"compaction was a no-op on a 3-write index: {stats}"
                )
            out = dedup.admit_against_index(
                _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0), d,
                threshold=0.5,
            )
            rows = out.collect()
            schema = out.schema
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(rows, schema)

    # Index COMPACTION (dedup.compact_dedup_index): the same admission
    # audit, but the corpus index is built as base + two appends and then
    # compacted (band dirs + flat shingle table rewritten to byte-sized
    # files, meta untouched) before the batch admits. Same oracle as the
    # other two admission paths — it derives admission from the raw
    # documents table, so a green hash proves the compaction rewrite
    # changed nothing the admit join can see; the in-query file-count
    # assertion fails the gate if the compactor silently no-ops.
    add("dedup_index_compacted", _index_admit_compacted, _inc_admit_sql)

    def _stream_index_cands(spark, sf_dir):
        import shutil
        import tempfile
        import uuid

        from alphastats_spark.streaming import streaming_index_candidates

        idx = tempfile.mkdtemp(prefix="as_didx_")
        src = tempfile.mkdtemp(prefix="as_stream_new_")
        try:
            dedup.write_dedup_index(
                _docs(spark, sf_dir).where(F.col("doc_id") % 5 != 0), idx
            )
            _docs(spark, sf_dir).where(F.col("doc_id") % 5 == 0).coalesce(1) \
                .write.mode("overwrite").parquet(src)
            stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
            bands = spark.read.parquet(f"{idx}/bands")
            name = f"stream_idx_{uuid.uuid4().hex[:8]}"
            with _stream_parts(spark, src):
                sq = (
                    streaming_index_candidates(stream, bands, index_path=idx)
                    .writeStream.format("memory")
                    .queryName(name)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                _await_stream(sq, src)
            rows = spark.table(name).select("new_id", "match_id").distinct().collect()
        finally:
            shutil.rmtree(idx, ignore_errors=True)
            shutil.rmtree(src, ignore_errors=True)
        return spark.createDataFrame(rows, "new_id bigint, match_id bigint")

    # Streaming ingest against the materialized index: arriving documents
    # band per row (no stream-side shuffle) and stream-static-join the
    # stored band table — GENUINE Structured Streaming (file source →
    # memory sink, availableNow), stateless, candidates identical to the
    # batch band collision set (the shared `cand` CTE).
    add("dedup_streaming_index_candidates", _stream_index_cands,
        _inc_cte + "\nSELECT new_id, match_id FROM cand")

    # Approximate kNN self-join: every vector's top-5 cosine neighbours
    # among radius-1 bucket-mates in either of 2 independent LSH tables.
    # Parameters are corpus-relative, calibrated on the 500-vector gate
    # corpus: 3 planes × 2 tables × multiprobe-1 → recall@5 = 0.89 vs
    # exact (pinned in tests/test_functions.py) — BEATING 8 tables at
    # radius 0 (0.87) with a quarter of the shuffles; 6 planes × 2 tables
    # radius 0 measured 0.08 (weakly-clustered vectors need coarse
    # buckets). At 10^9+ vectors use 16-20 planes so each table's buckets
    # stay bounded; recall then comes from tables × probe radius, exactly
    # as in ann_lsh_topk.
    add("ann_knn_join",
        lambda spark, sf_dir: similarity.knn_join(
            _embs(spark, sf_dir), k=5, n_planes=3, seed=42, n_tables=2,
            multiprobe=1),
        _knn_join_sql(k=5, n_planes=3, seed=42, n_tables=2, multiprobe=1))

    # --- round 7 additions -------------------------------------------------

    # Per-source quota (Common-Crawl-style per-domain cap): deterministic
    # md5-keyed survivors, skew-aware two-phase plan (under-cap groups never
    # shuffle; only over-cap groups rank). cap=10 against the 25-docs-per-
    # source gate corpus, so every group exercises the rank branch; the
    # pass-through branch is pinned by pytest on a skewed synthetic frame.
    add("corpus_cap_per_source",
        lambda spark, sf_dir: pipeline.cap_per_group(
            _docs(spark, sf_dir), cap=10, group_col="source"
        ).select("doc_id", "source"),
        """
WITH k AS (SELECT doc_id, source,
  CAST(CONCAT('0x', substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))
       AS BIGINT) AS key
  FROM documents),
r AS (SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
      FROM k)
SELECT doc_id, source FROM r WHERE rn <= 10""")

    # The same quota machinery as best-k curation: order_by=-n_chars keeps
    # the 3 LONGEST documents per source (ties by id) instead of the
    # unbiased md5 draw — the other half of cap_per_group's contract.
    add("corpus_top_docs_per_source",
        lambda spark, sf_dir: pipeline.cap_per_group(
            _docs(spark, sf_dir), cap=3, group_col="source",
            order_by=-F.col("n_chars"),
        ).select("doc_id", "source", "n_chars"),
        """
WITH r AS (SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
FROM r WHERE rn <= 3""")

    # Cross-source trigram overlap matrix: the corpus-audit surface for
    # mirror sites / cross-posted content between ingest sources. The
    # default gram-incidence cap (1000 SOURCES) is inert at the 20-source
    # gate corpus, so the oracle needs no cap CTE; the capped path is
    # pinned by pytest on a synthetic ubiquitous gram.
    add("corpus_overlap_matrix",
        lambda spark, sf_dir: pipeline.source_overlap_matrix(
            _docs(spark, sf_dir), n=3
        ),
        f"""
WITH t AS (SELECT source, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
g AS (
  -- grams hashed to 60-bit BIGINTs before the DISTINCT, mirroring
  -- source_overlap_matrix's shuffle-width hashing bit-for-bit
  SELECT DISTINCT source,
         CAST(CONCAT('0x', substr(md5(
             array_to_string(list_slice(toks, i, i + 2), ' ')), 1, 15))
           AS BIGINT) AS gram
  FROM (SELECT source, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM t WHERE len(toks) >= 3)
),
sz AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
c AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2)
SELECT src_a, src_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(za.n_grams AS BIGINT) AS n_grams_a,
       CAST(zb.n_grams AS BIGINT) AS n_grams_b,
       ROUND(n_common * 1.0 / (za.n_grams + zb.n_grams - n_common), {ROUND})
         AS jaccard
FROM c
JOIN sz za ON c.src_a = za.source
JOIN sz zb ON c.src_b = zb.source""")

    # Per-group percentile calibration: percent_rank of n_chars within
    # source (deterministic (rank-1)/(n-1) with id tie-break) — the
    # within-domain normalization a cross-domain quality cut needs.
    add("doc_score_percentiles",
        lambda spark, sf_dir: pipeline.percentile_normalize(
            _docs(spark, sf_dir), "n_chars"
        ).select(
            "doc_id", "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round("pct_rank", ROUND).alias("pct_rank"),
        ),
        f"""
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id), {ROUND})
         AS pct_rank
FROM documents""")

    # Leakage-safe grouped split: the md5 uniform is drawn from the SOURCE
    # key, so a source's documents can never straddle train/eval. Cumulative
    # thresholds are Python-computed and injected into both engines
    # (hash_split discipline — 0.6 + 0.2 is not the literal 0.8 in binary).
    _GS_C1 = 0.6
    _GS_C2 = 0.6 + 0.2

    add("corpus_group_split",
        lambda spark, sf_dir: pipeline.group_split(
            _docs(spark, sf_dir), group_col="source",
            weights={"train": 0.6, "val": 0.2, "test": 0.2},
        ).groupBy("split").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("doc_id").alias("sum_ids"),
        ),
        f"""
WITH u AS (SELECT doc_id, source,
  CAST(CAST(CONCAT('0x', substr(md5('gsplit:' || source), 1, 8))
            AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM documents)
SELECT CASE WHEN u < {_GS_C1!r} THEN 'train'
            WHEN u < {_GS_C2!r} THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM u GROUP BY 1""")

    # Exact edit-distance self-join via deletion neighborhoods (FastSS):
    # candidates from an equi-join on single-deletion variants, verified
    # with the exact JVM levenshtein — no cross join anywhere. Run on
    # customer names (dense distance-1 families: ids differing in one
    # digit); the oracle is the brute-force O(n²) levenshtein pass that is
    # feasible at the 1.5k-row gate scale and NOT at corpus scale — which
    # is the point of the blocking.
    def _fuzzy(spark, sf_dir):
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        return dedup.edit_distance_join(
            cust, max_distance=1, id_col="c_custkey", text_col="c_name"
        ).select("id_a", "id_b", "distance")

    add("cust_fuzzy_names", _fuzzy, """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS distance
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1""")

    # Symmetric per-vector int8 quantization: bit-reproducible codes
    # (floor(x + 0.5) is the same IEEE-double expression in both engines),
    # audited per vector by code-sum/energy and the max reconstruction
    # error (<= scale/2 by construction).
    add("emb_quantize_int8",
        lambda spark, sf_dir: similarity.quantize_embeddings(
            _embs(spark, sf_dir)
        ).select(
            "vec_id",
            F.round("scale", ROUND).alias("scale"),
            "n_dims",
            F.aggregate("q", F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x).alias("sum_q"),
            F.aggregate("q", F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x.cast("bigint") * x).alias("sum_q2"),
            F.round("max_abs_err", ROUND).alias("max_abs_err"),
        ),
        f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v),
qq AS (SELECT vec_id, v, scale,
       CASE WHEN scale > 0
            THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
            ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q FROM s)
SELECT vec_id, ROUND(scale, {ROUND}) AS scale, CAST(len(q) AS INTEGER) AS n_dims,
  CAST(list_sum(q) AS BIGINT) AS sum_q,
  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sum_q2,
  ROUND(CASE WHEN scale > 0 THEN
    list_max(list_transform(list_zip(q, v), z -> abs(z[1] * scale - z[2])))
    ELSE 0.0 END, {ROUND}) AS max_abs_err
FROM qq""")

    # ORC sink/source roundtrip (the third columnar interchange format
    # after parquet and the text formats): self-describing schema, so the
    # read needs no explicit schema — profiled per lang against the parquet
    # originals, which the lossless roundtrip must reproduce exactly.
    def _orc_roundtrip(spark, sf_dir):
        import shutil
        import tempfile

        from alphastats_spark.sources import readers

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        d = tempfile.mkdtemp(prefix="as_orc_rt_")
        try:
            readers.write_corpus(docs, d, format="orc", mode="overwrite")
            back = readers.read_corpus(spark, d, format="orc")
            rows = back.groupBy("lang").agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length("text")).alias("sum_len"),
                F.sum("doc_id").alias("sum_ids"),
            ).collect()
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(
            rows, "lang string, n_docs bigint, sum_len bigint, sum_ids bigint"
        )

    add("docs_orc_roundtrip", _orc_roundtrip, """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY lang""")

    # Stateful streaming exact dedup: docs arrive in TWO micro-batches
    # (maxFilesPerTrigger=1 over mtime-ordered files, ids < 250 first);
    # doc_id%10>=8 rows collapse onto 3 boilerplate texts, so duplicate
    # groups straddle the batch boundary and the cross-batch state path
    # (reject against a fingerprint owned by an EARLIER batch) is the one
    # driver-checked. Because the earlier batch holds the smaller ids, the
    # owner is min(doc_id) per fingerprint — a plain window in SQL.
    def _stream_exact(spark, sf_dir):
        import glob
        import os
        import shutil
        import tempfile
        import uuid

        from alphastats_spark.streaming import streaming_exact_dedup

        src = tempfile.mkdtemp(prefix="as_sdex_")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 >= 8,
                F.concat(F.lit("boiler text "), (F.col("doc_id") % 3).cast("string")),
            ).otherwise(F.col("text")).alias("text"),
        )
        try:
            for i, pred in enumerate(
                [F.col("doc_id") < 250, F.col("doc_id") >= 250]
            ):
                stage = f"{src}_stage{i}"
                docs.where(pred).coalesce(1).write.mode("overwrite").parquet(stage)
                part = glob.glob(f"{stage}/part-*.parquet")[0]
                dst = f"{src}/batch-{i:03d}.parquet"
                shutil.move(part, dst)
                os.utime(dst, (1_600_000_000 + 1000 * i,) * 2)
                shutil.rmtree(stage, ignore_errors=True)
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            name = f"sdex_{uuid.uuid4().hex[:8]}"
            with _stream_parts(spark, src):
                sq = (
                    streaming_exact_dedup(stream)
                    .writeStream.format("memory")
                    .queryName(name)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                _await_stream(sq, src)
            rows = spark.table(name).select("doc_id", "first_id", "admitted").collect()
        finally:
            shutil.rmtree(src, ignore_errors=True)
        return spark.createDataFrame(
            rows, "doc_id bigint, first_id bigint, admitted boolean"
        )

    add("dedup_streaming_exact", _stream_exact, f"""
WITH inj AS (SELECT doc_id,
  CASE WHEN doc_id % 10 >= 8
       THEN 'boiler text ' || CAST(doc_id % 3 AS VARCHAR)
       ELSE text END AS text
  FROM documents),
h AS (SELECT doc_id, md5({_NORM_SQL}) AS k FROM inj)
SELECT doc_id,
       CAST(MIN(doc_id) OVER (PARTITION BY k) AS BIGINT) AS first_id,
       (doc_id = MIN(doc_id) OVER (PARTITION BY k)) AS admitted
FROM h""")

    # ---- end-to-end curation composition ------------------------------------
    # pipeline.curate_corpus: constraints → quality → URL dedup → exact dedup
    # → fuzzy near-dup dedup → fuzzy decontamination → domain mixing → group
    # split → packing, as ONE call with per-document lineage. Every stage is
    # already gated in isolation; this gates the COMPOSITION — the stage
    # ordering, first-drop attribution, survivor threading and the final
    # split/pack assignment — against an independent staged CTE chain in
    # DuckDB (each sN = survivors of stage N, drops = sN ANTI sN+1). The
    # injected feed makes every stage fire at sf0.01: %13 nulls/empties
    # (constraints), corpus-relative quality thresholds, %7/%40 URL
    # collisions, %25==6 verbatim copies of one quality-passing text A
    # (exact), %25==13 near-variants of A (fuzzy), bench = the UNMODIFIED
    # %40==7 slice so surviving %40==7 docs leak at jaccard 1.0
    # (decontamination), and src0/1/2-only mix weights (mix_out).
    _A_TEXT = (
        "the quick brown fox jumps over the lazy sleeping dog while many "
        "other animals watch quietly from their hidden places in the deep "
        "green forest during those long warm summer afternoons and evenings "
        "near the river"
    )
    _CUR_C1 = 0.6
    _CUR_C2 = 0.6 + 0.2

    def _curation(spark, sf_dir):
        from alphastats_spark.operators import ordered as _ordered

        docs = _docs(spark, sf_dir)
        txt = (
            F.when(F.col("doc_id") % 13 == 4, F.lit(None).cast("string"))
            .when(F.col("doc_id") % 13 == 9, F.lit(""))
            .when(F.col("doc_id") % 25 == 6, F.lit(_A_TEXT))
            .when(F.col("doc_id") % 25 == 13,
                  F.lit(_A_TEXT + " unique extension marker seven"))
            .otherwise(F.col("text"))
        )
        url = (
            F.when(F.col("doc_id") % 10 == 9, F.lit(None).cast("string"))
            .otherwise(F.concat(
                F.lit("https://site"), F.col("doc_id") % 7,
                F.lit(".example/p/"), F.col("doc_id") % 40))
        )
        feed = docs.select("doc_id", txt.alias("text"), "source", url.alias("url"))
        bench = docs.where(F.col("doc_id") % 40 == 7).select("doc_id", "text")
        with _ordered.pass_cache_scope():
            out = pipeline.curate_corpus(
                feed, bench, url_col="url",
                quality_kwargs={"min_tokens": 30, "min_mean_word_len": 4.0},
                mix_weights={"src0": 1.0, "src1": 8.0, "src2": 1.0},
                token_budget=2000,
                split_weights={"train": 0.6, "val": 0.2, "test": 0.2},
                pack_budget=512,
            )
            rows = out.collect()
            schema = out.schema
        return spark.createDataFrame(rows, schema)

    add("corpus_curation_pipeline", _curation, f"""
WITH RECURSIVE
feed AS MATERIALIZED (
  SELECT doc_id, source,
    CASE WHEN doc_id % 13 = 4 THEN NULL
         WHEN doc_id % 13 = 9 THEN ''
         WHEN doc_id % 25 = 6 THEN '{_A_TEXT}'
         WHEN doc_id % 25 = 13 THEN '{_A_TEXT} unique extension marker seven'
         ELSE text END AS text,
    CASE WHEN doc_id % 10 = 9 THEN NULL
         ELSE 'https://site' || (doc_id % 7) || '.example/p/' || (doc_id % 40)
    END AS url
  FROM documents),
-- stage 1: constraints (not_null(doc_id) + non_empty(text))
s1 AS MATERIALIZED (SELECT * FROM feed
       WHERE doc_id IS NOT NULL AND text IS NOT NULL AND trim(text) <> ''),
-- stage 2: quality (thresholds 30 / 4.0, same rules as doc_quality_filter)
qm AS MATERIALIZED (
  SELECT doc_id,
         COALESCE(len({_TOKS_SQL}), 0) AS n,
         {_TOKS_SQL} AS toks,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')
           AS ltoks
  FROM s1),
qk AS MATERIALIZED (
  SELECT doc_id FROM (
    SELECT doc_id, n,
      CASE WHEN n > 0
           THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / n
           ELSE 0.0 END AS mean_len,
      CASE WHEN n > 0
           THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / n
           ELSE 0.0 END AS alpha_frac,
      COALESCE(len(list_filter(ltoks, x -> x IN ({_stop_list()}))), 0) AS stop
    FROM qm)
  WHERE n >= 30 AND n <= 100000 AND mean_len >= 4.0 AND mean_len <= 10.0
    AND alpha_frac >= 0.8 AND stop >= 2),
s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN qk USING (doc_id)),
-- stage 3: URL dedup (feed URLs are canonicalization-neutral: lowercase,
-- no www/port/tracking/fragment/trailing-slash, so canonical = url; null
-- URLs keep themselves)
uk AS MATERIALIZED (SELECT doc_id FROM s2
       QUALIFY url IS NULL OR doc_id = MIN(doc_id) OVER (PARTITION BY url)),
s3 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN uk USING (doc_id)),
-- stage 4: exact dedup (min-id representative per normalized-md5 group)
ek AS MATERIALIZED (SELECT doc_id FROM (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM s3)
       QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
s4 AS MATERIALIZED (SELECT s3.* FROM s3 JOIN ek USING (doc_id)),
-- stage 5: fuzzy near-dup dedup (the dedup_corpus chain over s4)
t5 AS MATERIALIZED (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM s4),
sh5 AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM t5),
sig5 AS MATERIALIZED (SELECT doc_id, {mh_sql} FROM sh5 GROUP BY doc_id),
bands5 AS MATERIALIZED (SELECT doc_id, b.band, b.sig
           FROM sig5, LATERAL (VALUES {band_rows}) AS b(band, sig)),
bover5 AS MATERIALIZED (SELECT band, sig FROM bands5 GROUP BY band, sig
           HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
bcap5 AS MATERIALIZED (SELECT b.* FROM bands5 b ANTI JOIN bover5 o
          ON b.band = o.band AND b.sig = o.sig),
cand5 AS MATERIALIZED (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM bcap5 l JOIN bcap5 r
            ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
shh5 AS MATERIALIZED (SELECT doc_id,
                CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
         FROM sh5),
sizes5 AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM sh5 GROUP BY doc_id),
common5 AS MATERIALIZED (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
            FROM cand5 c
            JOIN shh5 a ON a.doc_id = c.id_a
            JOIN shh5 b ON b.doc_id = c.id_b AND b.shingle = a.shingle
            GROUP BY 1, 2),
vpairs5 AS MATERIALIZED (SELECT id_a, id_b FROM common5
            JOIN sizes5 sa ON id_a = sa.doc_id
            JOIN sizes5 sb ON id_b = sb.doc_id
            WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5),
edges5 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM vpairs5
           UNION SELECT id_b, id_a FROM vpairs5),
reach5 AS (SELECT src, dst FROM edges5
           UNION
           SELECT r.src, e.dst FROM reach5 r JOIN edges5 e ON r.dst = e.src),
cls5 AS MATERIALIZED (SELECT src AS id, LEAST(src, MIN(dst)) AS cluster_id
         FROM reach5 GROUP BY src),
s5 AS MATERIALIZED (SELECT s4.* FROM s4 LEFT JOIN cls5 ON s4.doc_id = cls5.id
       WHERE cls5.id IS NULL OR cls5.cluster_id = s4.doc_id),
-- stage 6: fuzzy decontamination vs the UNMODIFIED %40==7 bench slice
bt AS MATERIALIZED (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
       FROM documents WHERE doc_id % 40 = 7),
bsh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM bt),
tt AS MATERIALIZED (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM s5),
tsh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM tt),
bsig AS MATERIALIZED (SELECT doc_id, {mh_sql} FROM bsh GROUP BY doc_id),
tsig AS MATERIALIZED (SELECT doc_id, {mh_sql} FROM tsh GROUP BY doc_id),
bbands AS MATERIALIZED (SELECT doc_id, b.band, b.sig
           FROM bsig, LATERAL (VALUES {band_rows}) AS b(band, sig)),
tbands AS MATERIALIZED (SELECT doc_id, b.band, b.sig
           FROM tsig, LATERAL (VALUES {band_rows}) AS b(band, sig)),
thot AS MATERIALIZED (SELECT band, sig FROM tbands GROUP BY band, sig
         HAVING COUNT(*) > {dedup.MAX_BAND_BUCKET}),
cand6 AS MATERIALIZED (SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS match_id
          FROM bbands l
          JOIN (SELECT b.* FROM tbands b ANTI JOIN thot h
                ON b.band = h.band AND b.sig = h.sig) r
            ON l.band = r.band AND l.sig = r.sig),
bshh AS MATERIALIZED (SELECT doc_id,
                CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
         FROM bsh),
tshh AS MATERIALIZED (SELECT doc_id,
                CAST(CONCAT('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
         FROM tsh),
bsizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM bsh GROUP BY doc_id),
tsizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM tsh GROUP BY doc_id),
common6 AS MATERIALIZED (SELECT c.new_id, c.match_id, COUNT(*) AS cnt
            FROM cand6 c
            JOIN bshh a ON a.doc_id = c.new_id
            JOIN tshh b ON b.doc_id = c.match_id AND b.shingle = a.shingle
            GROUP BY 1, 2),
leak6 AS MATERIALIZED (SELECT DISTINCT match_id FROM common6
          JOIN bsizes sa ON new_id = sa.doc_id
          JOIN tsizes sb ON match_id = sb.doc_id
          WHERE ROUND(cnt * 1.0 / (sa.n_sh + sb.n_sh - cnt), {ROUND}) >= 0.5),
s6 AS MATERIALIZED (SELECT s5.* FROM s5 ANTI JOIN leak6 l ON s5.doc_id = l.match_id),
-- stage 7: token-budget mixing (weights src0/src1/src2 = 0.1/0.8/0.1,
-- budget 2000; masses over the SURVIVOR frame, mirroring mix_sample's
-- input-frame contract)
mm AS MATERIALIZED (SELECT source, SUM(len({_TOKS_SQL})) AS mass FROM s6 GROUP BY 1),
mr AS MATERIALIZED (SELECT source,
              LEAST(1.0, 2000.0 * (CASE source WHEN 'src0' THEN 0.1
                                               WHEN 'src1' THEN 0.8
                                               WHEN 'src2' THEN 0.1
                                               ELSE 0.0 END) / mass) AS keep_rate
       FROM mm),
s7 AS MATERIALIZED (SELECT s6.* FROM s6 JOIN mr USING (source)
       WHERE CAST(CONCAT('0x', substr(md5(CAST(s6.doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 < mr.keep_rate * 10000),
-- stage 8: survivors -> leakage-safe group split + 512-token packing
gs AS MATERIALIZED (SELECT doc_id,
  CASE WHEN CAST(CAST(CONCAT('0x', substr(md5('gsplit:' || source), 1, 8))
                 AS BIGINT) AS DOUBLE) / 4294967296.0 < {_CUR_C1!r} THEN 'train'
       WHEN CAST(CAST(CONCAT('0x', substr(md5('gsplit:' || source), 1, 8))
                 AS BIGINT) AS DOUBLE) / 4294967296.0 < {_CUR_C2!r} THEN 'val'
       ELSE 'test' END AS split
  FROM s7),
pk AS MATERIALIZED (SELECT doc_id,
              CAST(COALESCE(SUM(CAST(COALESCE(len({_TOKS_SQL}), 0) AS BIGINT))
                     OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS excl
       FROM s7),
-- assembly: first-drop attribution per stage + the survivors' assignment
dropped AS MATERIALIZED (
  SELECT f.doc_id, 'constraints' AS stage FROM feed f
    ANTI JOIN s1 ON f.doc_id = s1.doc_id
  UNION ALL SELECT s1.doc_id, 'quality' FROM s1
    ANTI JOIN s2 ON s1.doc_id = s2.doc_id
  UNION ALL SELECT s2.doc_id, 'url_dup' FROM s2
    ANTI JOIN s3 ON s2.doc_id = s3.doc_id
  UNION ALL SELECT s3.doc_id, 'exact_dup' FROM s3
    ANTI JOIN s4 ON s3.doc_id = s4.doc_id
  UNION ALL SELECT s4.doc_id, 'near_dup' FROM s4
    ANTI JOIN s5 ON s4.doc_id = s5.doc_id
  UNION ALL SELECT s5.doc_id, 'contaminated' FROM s5
    ANTI JOIN s6 ON s5.doc_id = s6.doc_id
  UNION ALL SELECT s6.doc_id, 'mix_out' FROM s6
    ANTI JOIN s7 ON s6.doc_id = s7.doc_id)
SELECT doc_id, FALSE AS kept, stage,
       CAST(NULL AS VARCHAR) AS split,
       CAST(-1 AS BIGINT) AS pack_id, CAST(-1 AS BIGINT) AS pack_offset
FROM dropped
UNION ALL
SELECT gs.doc_id, TRUE AS kept, 'packed' AS stage, gs.split,
       CAST(pk.excl // 512 AS BIGINT) AS pack_id,
       CAST(pk.excl % 512 AS BIGINT) AS pack_offset
FROM gs JOIN pk ON gs.doc_id = pk.doc_id""")


def _stop_list() -> str:
    from alphastats_spark.functions.text import STOPWORDS

    return ", ".join(f"'{w}'" for w in STOPWORDS)


def _lang_id_sql() -> str:
    from alphastats_spark.functions.text import LANG_MARKERS

    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        terms = " + ".join(
            f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS BIGINT)"
            for m in markers
        )
        score_exprs.append(f"({terms}) AS s_{lang}")
    langs_sorted = sorted(LANG_MARKERS)
    case = " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs_sorted)
    return f"""
WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
scores AS (SELECT doc_id, {', '.join(score_exprs)} FROM padded),
best_s AS (SELECT *, GREATEST({', '.join('s_' + lang for lang in langs_sorted)}) AS best FROM scores)
SELECT doc_id, CASE WHEN best > 0 THEN (CASE {case} END) ELSE 'unknown' END AS lang_pred
FROM best_s"""


def _simhash_cte() -> str:
    """Shared CTE chain ending in ``sigs(doc_id, simhash)`` — used by the
    signature gate and the banded near-dup pair gate."""
    from alphastats_spark.functions.dedup import SIMHASH_BITS

    sums = ", ".join(
        f"SUM(((h >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || SUBSTR(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
),
bits AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, ({sig}) AS simhash FROM bits)"""


def _simhash_sql() -> str:
    return _simhash_cte() + "\nSELECT doc_id, simhash FROM sigs"


def _events(spark: SparkSession, sf_dir: str):
    """Read the raw event log, tolerating either physical ``ts`` encoding.

    The driver has shipped ``events.parquet`` with ``ts`` as TIMESTAMP(NANOS)
    (which vanilla Spark rejects — the ``nanosAsLong`` escape hatch surfaces
    it as raw int64 nanos) and as TIMESTAMP(MICROS) (which Spark reads as
    TIMESTAMP_NTZ). Set the nanos flag unconditionally (a no-op for µs
    files), read, and let :func:`_event_us` pick the µs conversion from the
    dtype that actually materialised.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _event_us(events) -> Column:
    """Timezone-independent integer epoch-microseconds of ``ts``.

    * ``bigint`` (raw nanos) → integer ``div 1000``, matching DuckDB's
      ns→µs truncation exactly (a double ns division would round near µs
      boundaries);
    * ``timestamp_ntz`` → ``timestampdiff(MICROSECOND, epoch, ts)`` in
      naive-datetime space — bit-identical to DuckDB ``epoch_us`` and never
      consults ``spark.sql.session.timeZone`` (verified under a non-UTC
      session tz);
    * ``timestamp`` (tz-adjusted parquet) → ``unix_micros``, the UTC
      instant, again matching ``epoch_us``.
    """
    dtype = dict(events.dtypes)["ts"]
    if dtype == "bigint":
        return F.expr("ts div 1000")
    if dtype == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    return F.expr("unix_micros(ts)")


def _event_ts(events) -> Column:
    """A proper timestamp column for ``ts`` regardless of physical type
    (session windows need a temporal column, not raw nanos)."""
    dtype = dict(events.dtypes)["ts"]
    if dtype == "bigint":
        # nanos → µs truncation mirrors DuckDB's read of the same file
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts")


def _event_epoch(events):
    """Epoch seconds at microsecond precision (float), for bucket math."""
    return _event_us(events) / F.lit(1e6)


def _sessionize(spark: SparkSession, sf_dir: str):
    """Gap-based sessionization over the raw event log.

    All gap/duration math is **integer microseconds** (:func:`_event_us`,
    adaptive to the file's physical ts type) so no floating-point epoch ever
    enters a boundary comparison, and the oracle can mirror it exactly with
    ``epoch_us``. ``session_id`` is a LongType running sum; the oracle CASTs
    its window SUM to BIGINT because DuckDB types it HUGEINT (int128) by
    default and the driver's hasher is type-sensitive.
    """
    from pyspark.sql import Window

    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.withColumn("us", _event_us(events)).withColumn(
        "brk",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > F.lit(1800_000_000)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    s = g.withColumn("session_id", F.sum("brk").over(w))
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("us").alias("max_us"),
            F.min("us").alias("min_us"),
        )
        .select(
            "user_id",
            "session_id",
            "n_events",
            F.expr("max_us div 1000000 - min_us div 1000000")
            .cast("bigint")
            .alias("duration_s"),
        )
    )
