"""Report parity tests: legacy row order + cell values vs a pure-Python oracle.

Row orders are the exact legacy lists from the reference
(``tests/test_quantstats_parity.py:57-167``). Cell values are cross-checked
against independent plain-Python computations of the QuantStats formulas on
the F6/F8 fixtures (FIXTURES.md).
"""

from __future__ import annotations

import datetime as dt
import math
import statistics
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import ArithmeticException as SparkArithmeticError
from pyspark.sql import functions as F

from alphastats_spark import reports, stats
from alphastats_spark.operators import ordered

DAILY = [0.01, -0.02, 0.03, -0.01, 0.02, 0.0, 0.015, -0.005, 0.01, -0.015]
BENCH = [0.005, -0.01, 0.015, -0.005, 0.01, 0.0, 0.007, -0.002, 0.004, -0.006]
DATES = [dt.date(2023, 1, 2) + dt.timedelta(days=i) for i in range(10)]

LEGACY_BASIC = [
    "Start Period", "End Period", "Risk-Free Rate", "Time in Market",
    "Cumulative Return", "CAGR﹪", "Sharpe", "Prob. Sharpe Ratio", "Sortino",
    "Sortino/√2", "Omega", "Max Drawdown", "Longest DD Days",
    "Gain/Pain Ratio", "Gain/Pain (1M)", "Payoff Ratio", "Profit Factor",
    "Common Sense Ratio", "CPC Index", "Tail Ratio", "Outlier Win Ratio",
    "Outlier Loss Ratio", "MTD", "3M", "6M", "YTD", "1Y", "3Y (ann.)",
    "5Y (ann.)", "10Y (ann.)", "All-time (ann.)", "Avg. Drawdown",
    "Avg. Drawdown Days", "Recovery Factor", "Ulcer Index", "Serenity Index",
]

LEGACY_FULL = [
    "Start Period", "End Period", "Risk-Free Rate", "Time in Market",
    "Cumulative Return", "CAGR﹪", "Sharpe", "Prob. Sharpe Ratio",
    "Smart Sharpe", "Sortino", "Smart Sortino", "Sortino/√2",
    "Smart Sortino/√2", "Omega", "Max Drawdown", "Longest DD Days",
    "Volatility (ann.)", "R^2", "Information Ratio", "Calmar", "Skew",
    "Kurtosis", "Expected Daily", "Expected Monthly", "Expected Yearly",
    "Kelly Criterion", "Risk of Ruin", "Daily Value-at-Risk",
    "Expected Shortfall (cVaR)", "Max Consecutive Wins",
    "Max Consecutive Losses", "Gain/Pain Ratio", "Gain/Pain (1M)",
    "Payoff Ratio", "Profit Factor", "Common Sense Ratio", "CPC Index",
    "Tail Ratio", "Outlier Win Ratio", "Outlier Loss Ratio", "MTD", "3M",
    "6M", "YTD", "1Y", "3Y (ann.)", "5Y (ann.)", "10Y (ann.)",
    "All-time (ann.)", "Best Day", "Worst Day", "Best Month", "Worst Month",
    "Best Year", "Worst Year", "Avg. Drawdown", "Avg. Drawdown Days",
    "Recovery Factor", "Ulcer Index", "Serenity Index", "Avg. Up Month",
    "Avg. Down Month", "Win Days", "Win Month", "Win Quarter", "Win Year",
    "Beta", "Alpha", "Correlation", "Treynor Ratio",
]


@pytest.fixture
def daily_df(spark):
    return spark.createDataFrame(list(zip(DATES, DAILY)), "date date, asset double")


@pytest.fixture
def bench_df(spark):
    return spark.createDataFrame(list(zip(DATES, BENCH)), "date date, benchmark double")


def report_dict(df, **kw):
    out = reports.metrics(df, display=False, **kw)
    rows = out.collect()
    cols = out.columns[1:]
    return [r["Metric"] for r in rows], {r["Metric"]: {c: r[c] for c in cols} for r in rows}


def fmt(v: float) -> str:
    if v is None or math.isnan(v) or math.isinf(v):
        return "-"
    rounded = round(v, 2)
    if rounded == 0:
        rounded = 0
    return str(rounded)


class TestReportBasic:
    def test_row_order(self, daily_df):
        labels, _ = report_dict(daily_df)
        assert labels == LEGACY_BASIC

    def test_row_order_full_with_benchmark(self, daily_df, bench_df):
        labels, _ = report_dict(daily_df, benchmark=bench_df, mode="full")
        assert labels == LEGACY_FULL

    def test_cells(self, daily_df):
        _, cells = report_dict(daily_df)
        col = "Strategy"

        assert cells["Start Period"][col] == "2023-01-02"
        assert cells["End Period"][col] == "2023-01-11"
        assert cells["Risk-Free Rate"][col] == "0"
        # 9 of 10 days non-zero
        assert cells["Time in Market"][col] == fmt(0.9)

        comp = math.prod(1 + r for r in DAILY) - 1
        assert cells["Cumulative Return"][col] == fmt(comp)

        cagr = (1 + comp) ** (252 / 10) - 1
        assert cells["CAGR﹪"][col] == fmt(cagr)

        sharpe = statistics.mean(DAILY) / statistics.stdev(DAILY) * math.sqrt(252)
        assert cells["Sharpe"][col] == fmt(sharpe)

        downside = math.sqrt(sum(min(r, 0) ** 2 for r in DAILY) / len(DAILY))
        sortino = statistics.mean(DAILY) / downside * math.sqrt(252)
        assert cells["Sortino"][col] == fmt(sortino)
        assert cells["Sortino/√2"][col] == fmt(sortino / math.sqrt(2))

        omega = sum(max(0, r) for r in DAILY) / sum(max(0, -r) for r in DAILY)
        assert cells["Omega"][col] == fmt(omega)

        # drawdowns
        wealth, peak, dds = 1.0, 0.0, []
        peak = -math.inf
        for r in DAILY:
            wealth *= 1 + r
            peak = max(peak, wealth)
            dds.append(min(wealth / peak - 1, 0))
        assert cells["Max Drawdown"][col] == fmt(min(dds))

        profit = sum(r for r in DAILY if r >= 0)
        loss = abs(sum(r for r in DAILY if r < 0))
        assert cells["Profit Factor"][col] == fmt(profit / loss)
        assert cells["Gain/Pain Ratio"][col] == fmt(sum(DAILY) / loss)

        avg_win = statistics.mean([r for r in DAILY if r > 0])
        avg_loss = statistics.mean([r for r in DAILY if r < 0])
        assert cells["Payoff Ratio"][col] == fmt(avg_win / abs(avg_loss))

        # MTD: all rows in Jan 2023 → same as cumulative
        assert cells["MTD"][col] == fmt(comp)
        assert cells["YTD"][col] == fmt(comp)
        assert cells["All-time (ann.)"][col] == fmt(cagr)

        ulcer = math.sqrt(sum(d * d for d in dds) / (len(dds) - 1))
        assert cells["Ulcer Index"][col] == fmt(ulcer)
        assert cells["Recovery Factor"][col] == fmt(abs(sum(DAILY)) / abs(min(dds)))

    def test_full_cells_with_benchmark(self, daily_df, bench_df):
        _, cells = report_dict(daily_df, benchmark=bench_df, mode="full")
        col, bcol = "Strategy", "Benchmark"

        vol = statistics.stdev(DAILY) * math.sqrt(252)
        assert cells["Volatility (ann.)"][col] == fmt(vol)

        corr = statistics.correlation(DAILY, BENCH)
        assert cells["Correlation"][col] == fmt(corr)
        assert cells["R^2"][col] == fmt(corr**2)
        assert cells["Correlation"][bcol] == "-"

        cov = statistics.covariance(DAILY, BENCH)
        beta = cov / statistics.variance(BENCH)
        assert cells["Beta"][col] == fmt(beta)
        alpha = (statistics.mean(DAILY) - beta * statistics.mean(BENCH)) * 252
        assert cells["Alpha"][col] == fmt(alpha)

        active = [r - b for r, b in zip(DAILY, BENCH)]
        ir = statistics.mean(active) / statistics.stdev(active)
        assert cells["Information Ratio"][col] == fmt(ir)

        comp = math.prod(1 + r for r in DAILY) - 1
        assert cells["Treynor Ratio"][col] == fmt(comp / beta)

        assert cells["Best Day"][col] == fmt(max(DAILY))
        assert cells["Worst Day"][col] == fmt(min(DAILY))
        # wins at idx 0,2,4,6,8 are each followed by a loss/zero → max run 1
        assert cells["Max Consecutive Wins"][col] == "1"
        assert cells["Max Consecutive Losses"][col] == "1"
        assert cells["Win Days"][col] == fmt(5 / 9)

        # single month of data → Expected Monthly == Cumulative Return
        assert cells["Expected Monthly"][col] == fmt(comp)

    def test_display_prints(self, daily_df, capsys):
        assert reports.metrics(daily_df, display=True) is None
        out = capsys.readouterr().out
        assert "Sharpe" in out and "Strategy" in out

    def test_sep_rows(self, daily_df):
        labels, _ = report_dict(daily_df, sep=True)
        assert "" in labels
        assert [l for l in labels if l] == LEGACY_BASIC


class TestFailureCleanup:
    def test_midreport_exception_leaks_no_caches(self, spark, daily_df, monkeypatch):
        """An exception mid-report must release the thread pool and every
        persisted frame — both the report's own persists and the prefix
        passes' internal caches — so a long-lived session that survives
        report failures does not accumulate cached RDDs."""
        before = int(spark.sparkContext._jsc.getPersistentRDDs().size())

        def boom(*a, **k):
            raise RuntimeError("injected calendar failure")

        monkeypatch.setattr(reports, "_calendar_agg", boom)
        with pytest.raises(RuntimeError, match="injected calendar failure"):
            reports.metrics(daily_df, display=False)

        after = int(spark.sparkContext._jsc.getPersistentRDDs().size())
        assert after == before

    def test_success_path_leaks_no_caches(self, spark, daily_df):
        before = int(spark.sparkContext._jsc.getPersistentRDDs().size())
        reports.metrics(daily_df, display=False).collect()
        after = int(spark.sparkContext._jsc.getPersistentRDDs().size())
        assert after == before


class TestNumericReport:
    def test_numeric_basic_rows_and_values(self, spark):
        """numeric=True returns the pre-formatting scalar table: every
        LEGACY_BASIC row except the (string) date rows, values unformatted
        doubles matching the raw stats API."""
        from alphastats_spark import stats

        df = spark.createDataFrame(list(zip(DATES, DAILY)), "d date, r double")
        out = reports.metrics(df, display=False, mode="basic", numeric=True)
        assert out.schema["Metric"].dataType.typeName() == "string"
        assert out.schema["Strategy"].dataType.typeName() == "double"
        rows = {r["Metric"]: r["Strategy"] for r in out.collect()}
        expected_rows = [m for m in LEGACY_BASIC if m not in ("Start Period", "End Period")]
        assert [r["Metric"] for r in out.collect()] == expected_rows
        assert rows["Sharpe"] == pytest.approx(stats.sharpe(DAILY), rel=1e-12)
        assert rows["Cumulative Return"] == pytest.approx(stats.comp(DAILY), rel=1e-12)
        assert rows["Max Drawdown"] == pytest.approx(stats.max_drawdown(DAILY), rel=1e-12)
        # unformatted: more precision than the 2-decimal string table
        assert rows["Sharpe"] != round(rows["Sharpe"], 2)


# ---------------------------------------------------------------------------
# driver-side derivation parity: report cells == the stats.* functions


def _stat(fn, with_bench=False):
    def call(df, bdf):
        return getattr(stats, fn)(*((df, bdf) if with_bench else (df,)))

    return call


def _greek(field):
    def call(df, bdf):
        res = stats.greeks(df, bdf)
        return res.select(*[res[c][field].alias(c) for c in res.columns])

    return call


# report row -> stats counterpart, called on (returns frame, benchmark frame)
PARITY_ROWS = {
    "Time in Market": _stat("exposure"),
    "Cumulative Return": _stat("comp"),
    "CAGR﹪": _stat("cagr"),
    "Sharpe": _stat("sharpe"),
    "Prob. Sharpe Ratio": _stat("probabilistic_sharpe_ratio"),
    "Smart Sharpe": _stat("smart_sharpe"),
    "Sortino": _stat("sortino"),
    "Smart Sortino": _stat("smart_sortino"),
    "Sortino/√2": _stat("adjusted_sortino"),
    "Smart Sortino/√2": _stat("smart_adjusted_sortino"),
    "Omega": _stat("omega"),
    "Max Drawdown": _stat("max_drawdown"),
    "Longest DD Days": _stat("longest_drawdown_days"),
    "Volatility (ann.)": _stat("volatility"),
    "Calmar": _stat("calmar"),
    "Skew": _stat("skew"),
    "Kurtosis": _stat("kurtosis"),
    "Expected Daily": _stat("expected_daily"),
    "Expected Monthly": _stat("expected_monthly"),
    "Expected Yearly": _stat("expected_yearly"),
    "Kelly Criterion": _stat("kelly_criterion"),
    "Risk of Ruin": _stat("risk_of_ruin"),
    "Daily Value-at-Risk": _stat("value_at_risk"),
    "Expected Shortfall (cVaR)": _stat("conditional_value_at_risk"),
    "Max Consecutive Wins": _stat("consecutive_wins"),
    "Max Consecutive Losses": _stat("consecutive_losses"),
    "Gain/Pain Ratio": _stat("gain_to_pain_ratio"),
    "Gain/Pain (1M)": _stat("gain_to_pain_ratio_1m"),
    "Payoff Ratio": _stat("payoff_ratio"),
    "Profit Factor": _stat("profit_factor"),
    "Common Sense Ratio": _stat("common_sense_ratio"),
    "CPC Index": _stat("cpc_index"),
    "Tail Ratio": _stat("tail_ratio"),
    "Outlier Win Ratio": _stat("outlier_win_ratio"),
    "Outlier Loss Ratio": _stat("outlier_loss_ratio"),
    "MTD": _stat("mtd"),
    "3M": _stat("three_month"),
    "6M": _stat("six_month"),
    "YTD": _stat("ytd"),
    "1Y": _stat("one_year"),
    "3Y (ann.)": _stat("three_year"),
    "5Y (ann.)": _stat("five_year"),
    "10Y (ann.)": _stat("ten_year"),
    "All-time (ann.)": _stat("all_time"),
    "Best Day": _stat("best_day"),
    "Worst Day": _stat("worst_day"),
    "Best Month": _stat("best_month"),
    "Worst Month": _stat("worst_month"),
    "Best Year": _stat("best_year"),
    "Worst Year": _stat("worst_year"),
    "Avg. Drawdown": _stat("avg_drawdown"),
    "Avg. Drawdown Days": _stat("avg_drawdown_days"),
    "Recovery Factor": _stat("recovery_factor"),
    "Ulcer Index": _stat("ulcer_index"),
    "Serenity Index": _stat("serenity_index"),
    "Avg. Up Month": _stat("avg_up_month"),
    "Avg. Down Month": _stat("avg_down_month"),
    "Win Days": _stat("win_days"),
    "Win Month": _stat("win_month"),
    "Win Quarter": _stat("win_quarter"),
    "Win Year": _stat("win_year"),
}
BENCH_PARITY_ROWS = {
    "R^2": _stat("r_squared", with_bench=True),
    "Information Ratio": _stat("information_ratio", with_bench=True),
    "Beta": _greek("beta"),
    "Alpha": _greek("alpha"),
    "Correlation": _stat("correlation", with_bench=True),
    "Treynor Ratio": _stat("treynor_ratio", with_bench=True),
}

# rows whose value passes through a pow: the JVM's and libm's pow may
# round the same inputs 1 ulp apart
POW_ROWS = {
    "CAGR﹪", "All-time (ann.)", "3Y (ann.)", "5Y (ann.)", "10Y (ann.)",
    "Expected Daily", "Expected Monthly", "Expected Yearly", "Risk of Ruin",
}

# Null-free edge frames where the IEEE rules of the derivation matter,
# grouped by length: each group is one multi-column frame, so one report
# and one call per stats function cover all of its series.
EDGE_FRAMES = {
    "mixed": {"mixed": DAILY},
    "five_rows": {
        "all_positive": [0.01, 0.02, 0.005, 0.03, 0.015],  # no losses: +inf ratios
        "all_zero": [0.0] * 5,  # 0/0 = NaN
        "constant": [0.01] * 5,  # zero std
        "wipeout": [0.02, -1.0, 0.01, 0.03, -0.01],  # a day at -100%: zero product
        "below_wipeout": [0.02, -1.5, 0.01, 0.03, 0.01],  # negative base under pow
    },
    "one_row": {"one_row": [0.01]},
    "two_rows": {"two_rows": [0.01, -0.02]},
    "three_rows": {"three_rows": [0.01, -0.02, 0.03]},
}


def _stat_values(call, df, bdf, names) -> dict:
    """``call``'s value per column. A call that raises on one column is
    retried per column; a column on which it still raises is NaN."""
    from pyspark.sql import DataFrame

    def run(frame, cols):
        res = call(frame, bdf)
        row = res.first() if isinstance(res, DataFrame) else {cols[0]: res}
        return {c: math.nan if row[c] is None else float(row[c]) for c in cols}

    undefined = (ArithmeticError, ValueError, SparkArithmeticError)
    try:
        return run(df, names)
    except undefined:
        pass
    out = {}
    for c in names:
        try:
            out.update(run(df.select("d", c), [c]))
        except undefined:
            out[c] = math.nan
    return out


def _report_cells(df, names, monkeypatch, **kw) -> dict:
    """label -> {column: unformatted cell}, captured on the way into the
    numeric table (which drops the benchmark-relative rows, since the
    benchmark's own column holds "-" there)."""
    captured = []
    monkeypatch.setattr(reports, "_build_numeric_df", lambda rows, _: captured.extend(rows))
    reports.metrics(df, display=False, mode="full", numeric=True, strategy_title=names, **kw)
    return dict(captured)


def _same_double(got, want, ulps):
    if math.isnan(got) and math.isnan(want):
        return True
    if got == want:
        return True
    return math.isfinite(want) and abs(got - want) <= ulps * math.ulp(want)


@pytest.mark.parametrize("group", list(EDGE_FRAMES))
def test_report_cells_equal_stats_functions(spark, group, monkeypatch):
    """Every report cell with a stats.* counterpart is that function's
    double; where the function raises because the value is undefined (a
    zero-variance correlation under ANSI division) the cell is NaN. The
    benchmark-relative rows come from a
    second report: joining the benchmark reshuffles the frame, which
    changes the multiplication order of the calendar passes' products."""
    series = EDGE_FRAMES[group]
    names = list(series)
    n = len(next(iter(series.values())))
    dates = [dt.date(2023, 1, 2) + dt.timedelta(days=i) for i in range(n)]
    rows = [(d, *(series[c][i] for c in names)) for i, d in enumerate(dates)]
    schema = "d date, " + ", ".join(f"{c} double" for c in names)
    # one partition: both paths then aggregate in date order
    df = spark.createDataFrame(rows, schema).coalesce(1)
    bench = [(d, BENCH[i % len(BENCH)]) for i, d in enumerate(dates)]
    bdf = spark.createDataFrame(bench, "d date, b double").coalesce(1)

    cells = _report_cells(df, names, monkeypatch)
    with_bench = _report_cells(df, names, monkeypatch, benchmark=bdf)
    cells.update({label: with_bench[label] for label in BENCH_PARITY_ROWS})
    calls = {**PARITY_ROWS, **BENCH_PARITY_ROWS}
    mark = ordered.pass_cache_mark()
    try:
        # tiny frames: each call is fixed per-job cost, so run them side by side
        with ThreadPoolExecutor(max_workers=4) as pool:
            wants = dict(zip(calls, pool.map(
                lambda call: _stat_values(call, df, bdf, names), calls.values()
            )))
    finally:
        ordered.release_pass_caches(mark)
    wrong = []
    for label, want in wants.items():
        for c in names:
            got = cells[label][c]
            if not _same_double(got, want[c], 1 if label in POW_ROWS else 0):
                wrong.append(f"{label} [{c}]: report {got!r} != stats {want[c]!r}")
    assert not wrong, "\n".join(wrong)


def test_report_aggregates_are_leaves(spark):
    """Every aggregate the report's Spark passes build for a column is a
    primitive statistic, at most 400 characters as a Column; every ratio is
    derived on the driver. Nested expressions.fdiv ratios inside the plan
    ran to 12,145 characters (Kelly), 7,790 (CPC) and 4,489 (risk of ruin),
    and analysing them cost more than aggregating the frame."""
    c, bench = "asset", "bench"
    windows = reports._window_bounds(dt.date(2023, 6, 30))
    main = {
        col: {
            "ddvar": -0.05, "var": -0.02, "best": 0.03, "worst": -0.02,
            "lag_hi": 0.03, "lag_lo": -0.02, "prev_hi": 0.03, "prev_lo": -0.02,
        }
        for col in (c, bench)
    }
    leaves = {
        **reports._column_leaves(c, 0.001, True, True, windows),
        **reports._bench_leaves(c, bench),
        **reports._stage2_leaves(main, c, True, bench),
        **reports._calendar_leaves(c, 0.001),
    }
    assert {("acorr", c), ("corrb", c), ("cvar", c), ("ddcvar", c)} <= set(leaves)
    lengths = {
        key: len(str(F.expr(expr) if isinstance(expr, str) else expr))
        for key, expr in leaves.items()
    }
    too_long = {key: n for key, n in lengths.items() if n > 400}
    assert not too_long, too_long


def test_driver_fdiv_and_pow_match_spark(spark):
    """The float op set's pair reproduces expressions.fdiv and Spark's pow on
    zero (both signs), NaN, ±inf, negative bases and overflow: the same
    special value, and finite results within the 1 ulp by which the JVM's
    and libm's pow may round."""
    from alphastats_spark import expressions as X

    inf, nan = math.inf, math.nan
    bases = [0.0, -0.0, 1.0, -1.0, 2.0, -8.0, 0.5, 1e300, -1e300, -1e-300, inf, -inf, nan]
    exps = [0.0, -1.0, -2.0, -3.0, 2.0, 3.0, 1 / 3, 63.0, inf, -inf, nan]
    pairs = [(b, e) for b in bases for e in exps]
    df = spark.createDataFrame(pairs, "b double, e double")
    got = df.select(
        F.pow("b", "e").alias("pow"), X.fdiv(F.col("b"), F.col("e")).alias("fdiv")
    ).collect()

    def same(a, b):
        if math.isnan(a) or math.isnan(b) or math.isinf(a) or a == 0:
            return repr(a) == repr(b)
        return abs(a - b) <= math.ulp(a)

    wrong = [
        (b, e, name, want, mine)
        for (b, e), row in zip(pairs, got)
        for name, want, mine in (
            ("pow", row["pow"], X.FLOAT.pow(b, e)),
            ("fdiv", row["fdiv"], X.FLOAT.div(b, e)),
        )
        if not same(want, mine)
    ]
    assert not wrong, wrong


def _aggregate_lengths(df) -> dict[str, int]:
    """Length of every aggregate expression in ``df``'s analyzed plan,
    keyed by its first 60 characters."""
    out: dict[str, int] = {}
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Aggregate":
            exprs = node.aggregateExpressions()
            for i in range(exprs.size()):
                text = exprs.apply(i).toString()
                out[text[:60]] = max(out.get(text[:60], 0), len(text))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_flat_projections_aggregate_leaves(spark):
    """The flat stats.* and long_frame.*_by_key paths aggregate primitive
    leaves only: no aggregate in their analyzed plans exceeds 400
    characters. As nested Columns, Kelly alone ran to 11,861 characters."""
    from alphastats_spark import long_frame

    n = 40
    dates = [dt.date(2023, 1, 2) + dt.timedelta(days=i) for i in range(n)]
    wide = spark.createDataFrame(
        [(d, DAILY[i % 10], DAILY[(i + 3) % 10]) for i, d in enumerate(dates)],
        "d date, a double, b double",
    )
    bench = spark.createDataFrame(
        [(d, BENCH[i % 10]) for i, d in enumerate(dates)], "d date, bench double"
    )
    long_df = spark.createDataFrame(
        [(k, d, DAILY[(i + j) % 10]) for j, k in enumerate("xy") for i, d in enumerate(dates)],
        "asset string, d date, r double",
    )
    plans = {
        "metrics_by_key": long_frame.metrics_by_key(long_df),
        "smart_ratios_by_key": long_frame.smart_ratios_by_key(long_df),
        "benchmark_metrics_by_key": long_frame.benchmark_metrics_by_key(long_df, bench),
        "kelly_criterion": stats.kelly_criterion(wide),
        "cpc_index": stats.cpc_index(wide),
        "risk_of_ruin": stats.risk_of_ruin(wide),
        "greeks": stats.greeks(wide, bench),
        "treynor_ratio": stats.treynor_ratio(wide, bench),
    }
    too_long = {}
    for name, df in plans.items():
        lengths = _aggregate_lengths(df)
        assert lengths, name
        too_long.update({(name, k): v for k, v in lengths.items() if v > 400})
    assert not too_long, too_long


@pytest.mark.parametrize("smart", [False, True])
def test_psr_is_nan_where_undefined(spark, smart):
    """PSR's standard error is undefined on one row (n − 1 = 0), on two
    (a zero skew denominator) and under a negative radicand (strong
    positive skew at a high per-period Sharpe ratio): NaN, not an
    exception, as in the report."""
    series = {
        "one_row": [0.01],
        "two_rows": [0.01, -0.02],
        "negative_radicand": [0.1, 0.12, 0.1, 0.11, 0.6],
    }
    for name, values in series.items():
        dates = [dt.date(2023, 1, 2) + dt.timedelta(days=i) for i in range(len(values))]
        df = spark.createDataFrame(list(zip(dates, values)), "d date, r double")
        got = stats.probabilistic_sharpe_ratio(df, smart=smart).first()["r"]
        assert math.isnan(got), (name, got)
        assert math.isnan(stats.psr(values, smart=smart)), name
