"""QuantStats-style metrics report (reference ``alphastats/reports.py``).

API parity: ``metrics(returns, benchmark=None, rf=0.0, display=True,
mode="basic"|"full", sep=False, compounded=True, periods_per_year=252,
match_dates=True, strategy_title=..., benchmark_title=...)`` produces the
same ~36-row (basic) / ~70-row (full) Metric×Strategy[×Benchmark] string
table in the legacy QuantStats row order
(``tests/test_quantstats_parity.py:57-167``).

Execution parity is deliberately NOT kept: the reference evaluates each cell
as its own ``collect()`` (``reports.py:397-447``) — O(rows×columns)
mini-queries, hundreds of Spark jobs if translated naively (SURVEY §3C).
Here the whole report runs in a fixed set of passes regardless of column
count (32 Spark jobs for one strategy and a benchmark, including the
enrichment's prefix passes):

1. one metadata pass (max date, per-column first/last non-null date);
2. ONE main aggregation pass over primitive statistics for every column —
   counts, sums, means, std/var/covar, skew/kurtosis, min/max, exact
   percentiles, products, with trailing-window returns as conditional
   products under literal date bounds and streak lengths via the
   prefix-max trick;
3. one dependent pass for the leaves that need main-pass values: CVaR and
   drawdown CVaR (literal-injected thresholds) and the correlations;
4. one calendar pass per granularity (month / quarter / year);
5. one gaps-and-islands pass for drawdown episode rows.

Spark aggregates only those leaves; every ratio (sharpe, sortino, Kelly,
CPC, risk of ruin, beta, …) is the :mod:`expressions` formula evaluated
on the driver over the collected row, with the float op set that
reproduces ``expressions.fdiv`` and Spark's ``pow`` bit for bit. Nested
in-plan ratios made the main pass's analysis and optimization cost more
than its execution.

Report-only semantics preserved from the reference: NaN→null→**0** fill on
the series (``reports.py:376-378`` — unlike the raw stats API which keeps
nulls), start/end dates from the pre-fill null pattern, the CAGR row's
per-period rf subtraction (``reports.py:470-476``), alpha annualized with
252 regardless of ``periods_per_year`` (``reports.py:509``), and
``"-"`` for non-finite cells (``reports.py:547-548``).
"""

from __future__ import annotations

import calendar as _calendar
import dataclasses
import datetime as dt
import math
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alphastats_spark import expressions as X
from alphastats_spark._utils import (
    get_temporal_column_name,
    numeric_column_names,
    prepare_benchmark,
    to_returns_df,
)
from alphastats_spark.operators import islands, joins, ordered

# Columns per main aggregation pass: a single pass over a WIDE frame
# explodes Janino codegen superlinearly (~50 leaf aggregates per column incl.
# exact-percentile object aggregates, plus 4 window/prefix expressions per
# column in the drawdown machinery): measured driver OOM at 30 columns on a
# 4 GB heap, and minutes of compile time just below that. Groups of this
# many columns bound every generated method, at the cost of
# ceil(cols/chunk) scans of the CACHED base frame — versus the reference's
# O(rows × cols) collects.
_AGG_CHUNK_COLUMNS = 8


def _in_cache_scope(fn, *args):
    with ordered.pass_cache_scope():
        return fn(*args)


# ---------------------------------------------------------------------------
# public entry point


def metrics(
    returns,
    benchmark=None,
    rf: float = 0.0,
    display: bool = True,
    mode: str = "basic",
    sep: bool = False,
    compounded: bool = True,
    periods_per_year: int = 252,
    prepare_returns: bool = True,
    match_dates: bool = True,
    numeric: bool = False,
    **kwargs: Any,
):
    """Build the QuantStats-style performance report (reference ``reports.py:22-290``).

    ``numeric=True`` (with ``display=False``) returns the pre-formatting
    scalar table instead of the legacy string table: one ``Metric`` string
    column plus one ``double`` column per strategy, keeping only rows whose
    cells are numbers (date rows and benchmark ``"-"`` placeholders are
    dropped). This is the value-checkable surface — formatting applies
    2-decimal rounding and renders non-finite as ``"-"``, which destroys
    hash comparability.
    """
    del prepare_returns

    frame, output_names, benchmark_name, temporal = _prepare_frame(
        returns,
        benchmark,
        match_dates=match_dates,
        strategy_title=kwargs.get("strategy_title", "Strategy"),
        benchmark_title=kwargs.get("benchmark_title", "Benchmark"),
    )
    pct = 100 if display or "internal" in kwargs or kwargs.get("as_pct", False) else 1
    full = mode.lower() == "full"
    has_bench = benchmark_name is not None

    # The report makes ~6 passes (meta, main agg, stage-2, calendar×3,
    # islands), and every prefix-sum pass carries a broadcast-join branch
    # that would otherwise recompute the whole ingest lineage (the branch
    # count doubles per pass). Persisting the prepared frame makes every
    # pass and branch read one cached copy. A returns frame is bounded by
    # time-grain × assets — tiny relative to the raw inputs it was derived
    # from — so MEMORY_AND_DISK is safe at any scale.
    frame.persist()

    # Pool + persisted frames are released on EVERY exit path: an
    # exception mid-report must not leak the executor threads or cached
    # RDDs (the per-chunk rdf persists below are also registered here;
    # their success-path unpersist makes the finally a no-op for them).
    # The prefix passes inside the chunk loop persist their own windowed
    # frames — the report fully materializes everything it returns, so
    # those are released too, via the scoped pass-cache mark.
    # Cap rendered-plan text: the chunk loop chains ~6 persisted prefix
    # passes, and each InMemoryRelation prints its whole cached adaptive
    # subtree — listener-event plan strings grow geometrically with pass
    # depth and can OOM the driver (the query itself is fine). Sessions
    # from build_session already carry this; set it here too because the
    # report must survive on a caller-provided session.
    frame.sparkSession.conf.set("spark.sql.maxPlanStringLength", "1048576")

    pool = ThreadPoolExecutor(max_workers=6)
    _persisted = [frame]
    _cache_mark = ordered.pass_cache_mark()

    # Every pass fully materializes inside its task, so each pool task
    # releases the caches it registered on exit, and the finally below
    # releases only this thread's: the report never frees a cache that
    # another thread registered meanwhile and still reads.
    def submit(fn, *args):
        return pool.submit(_in_cache_scope, fn, *args)

    try:

        # ---- job A: date metadata (pre-fill null pattern) --------------------
        # Submitted as a future: nothing before the main aggregation needs it —
        # the enrichment (order/drawdown prefix) passes are metadata-free, so
        # the meta job overlaps their materialization below.
        meta_aggs = []
        if temporal:
            meta_aggs.append(F.max(F.col(temporal)).alias("__max_ts"))
            for c in output_names:
                meta_aggs.append(
                    F.min(F.when(F.col(c).isNotNull(), F.col(temporal))).alias(f"start_{c}")
                )
                meta_aggs.append(
                    F.max(F.when(F.col(c).isNotNull(), F.col(temporal))).alias(f"end_{c}")
                )
        meta_fut = submit(lambda: frame.agg(*meta_aggs).first()) if meta_aggs else None

        # ---- fill nulls with 0 (report-only policy) --------------------------
        filled = frame.select(
            *([F.col(temporal)] if temporal else []),
            *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in output_names],
        )

        # ---- enrichment + aggregation, chunked over asset-column groups ------
        # (_AGG_CHUNK_COLUMNS per group). The benchmark column rides along in
        # every group so benchmark-relative aggregates stay single-pass.
        chunk = _AGG_CHUNK_COLUMNS
        vals: dict[str, dict[str, Any]] = {c: {} for c in output_names}
        episodes: dict[str, dict[str, float]] = {}

        # Independent report passes run as CONCURRENT Spark jobs (submitted
        # from threads — the standard Spark multi-job pattern): the calendar
        # aggregates depend only on the filled frame, so they overlap the whole
        # chunk loop; within a chunk, the enrichment materialization overlaps
        # the meta job, then the episode islands pass (which never reads the
        # main aggregate) overlaps the main aggregation, and the stage-2
        # CVaR agg (literal thresholds from main) runs while episodes finish.
        # Per-asset report frames are tiny, so each pass is dominated by fixed
        # job/stage overhead — overlapping them buys wall-clock roughly equal
        # to the sum of the shorter passes, and on a real cluster concurrent
        # small jobs interleave harmlessly under FIFO scheduling.
        def calendar(granularity):
            # The meta job materializes the prepared frame's cache. A pass
            # that reached its scan first would run a cache-materialization
            # job of its own, so the job count would depend on timing.
            meta_fut.result()
            return _calendar_agg(filled, temporal, output_names, granularity, rf)

        cal_futs = {}
        if temporal:
            for granularity in ("month", "quarter", "year") if full else ("month",):
                cal_futs[granularity] = submit(calendar, granularity)

        windows = None
        meta = None
        max_ts = None
        for start in range(0, len(output_names), chunk):
            group = list(output_names[start : start + chunk])
            sel = ([F.col(temporal)] if temporal else []) + [F.col(c) for c in group]
            if full and has_bench and benchmark_name not in group:
                sel.append(F.col(benchmark_name))
            gframe = filled.select(*sel)

            rdf = ordered.with_order(gframe, temporal)
            # ONE fused enrichment: peak positions (= episode ids, so the
            # episode stats below need no island pass), the full-mode row
            # index and lag columns all ride the drawdown SUMS pass, and the
            # streak-break maxes (which read the row index) ride the PEAK
            # pass — two ordered passes total where the naive chain runs
            # five (drawdowns×2, row index, streak maxes, lags), each with
            # its own persist, bucket aggregate and broadcast join.
            extra_sums: dict = {}
            extra_maxes: dict = {}
            extra_lags: dict = {}
            if full:
                extra_sums["__idx"] = F.lit(1).cast("long")
                for c in group:
                    extra_maxes[f"__lbw_{c}"] = (
                        F.when(F.col(c) > 0, F.lit(None)).otherwise(F.col("__idx"))
                    )
                    extra_maxes[f"__lbl_{c}"] = (
                        F.when(F.col(c) < 0, F.lit(None)).otherwise(F.col("__idx"))
                    )
                    extra_lags[f"__prev_{c}"] = c
            rdf = ordered.add_drawdown_columns(
                rdf,
                {f"__dd_{c}": c for c in group},
                with_peak_pos=True,
                extra_sums=extra_sums,
                extra_maxes=extra_maxes,
                extra_lags=extra_lags,
            )
            rdf.persist()
            _persisted.append(rdf)
            # materialize the enrichment concurrently with the meta job; the
            # main agg and episode pass below then both read one cached copy
            mat_fut = submit(rdf.count)

            if meta_fut is not None and meta is None:
                meta = meta_fut.result()
                max_ts = meta["__max_ts"]
                if isinstance(max_ts, dt.datetime):
                    max_ts = max_ts.date()
                windows = _window_bounds(max_ts) if temporal else None

            leaves: dict = {}
            for c in group:
                leaves.update(_column_leaves(c, rf, compounded, full, windows))
                if full and has_bench and c != benchmark_name:
                    leaves.update(_bench_leaves(c, benchmark_name))
            mat_fut.result()

            # episodes never read the main aggregate — overlap it with the
            # main aggregation on the now-cached enrichment frame
            eps_fut = submit(
                islands.drawdown_episode_stats,
                rdf, group, None,
                {c: f"__dd_{c}" for c in group},
                {c: f"__dd_{c}__pos" for c in group},
            )
            for (name, c), v in X.collect(rdf, leaves).items():
                vals[c][name] = v
            for c in group:
                vals[c]["ddvar"] = X.evaluate("drawdown_var", vals[c])
                if full:
                    vals[c]["var"] = X.evaluate("value_at_risk", vals[c])

            # dependent pass: the leaves whose SQL needs main-pass values
            s2_leaves: dict = {}
            for c in group:
                s2_leaves.update(_stage2_leaves(vals, c, full, benchmark_name))
                vals[c].update(dict.fromkeys(("ddcvar", "acorr", "corrb")))
                if full:
                    vals[c]["cvar"] = vals[c]["var"]
            if s2_leaves:
                for (name, c), v in X.collect(rdf, s2_leaves).items():
                    # a threshold with nothing below it is its own tail mean
                    threshold = _CVAR_THRESHOLD.get(name)
                    vals[c][name] = vals[c][threshold] if v is None and threshold else v
            episodes.update(eps_fut.result())
            rdf.unpersist()
            _persisted.remove(rdf)

        # ---- calendar passes (submitted before the chunk loop) ----------------
        cal: dict[str, Any] = {k: f.result() for k, f in cal_futs.items()}
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
        for _p in _persisted:
            _p.unpersist()
        ordered.release_own_pass_caches(_cache_mark)

    # ---- assemble ----------------------------------------------------------
    rows: list[tuple[str, dict[str, Any]]] = []

    def add(label: str, values: dict[str, Any]) -> None:
        rows.append((label, values))

    def add_sep() -> None:
        if sep:
            rows.append(("", dict.fromkeys(output_names, "")))

    def per_col(fn) -> dict[str, Any]:
        return {c: fn(c) for c in output_names}

    def bench_row(fn) -> dict[str, Any]:
        values = dict.fromkeys(output_names, "-")
        if has_bench:
            for c in output_names:
                if c != benchmark_name:
                    values[c] = fn(c)
        return values

    # Evaluation specs: the report's rf enters the excess-return ratios,
    # CAGR, PSR, serenity and Treynor; calmar, all-time and recovery
    # factor take none (the reference calls them with their defaults),
    # and alpha annualizes with 252 regardless of periods_per_year
    # (reference reports.py:509 calls stats.greeks with its default).
    spec = X.Spec(rf=rf, periods=periods_per_year, compound=compounded)
    no_rf = dataclasses.replace(spec, rf=None)
    per_period = dataclasses.replace(spec, annualize=False)  # PSR, IR

    def ev(name: str, c: str, s: X.Spec = spec) -> float:
        v = X.evaluate(name, vals[c], s)
        return math.nan if v is None else v

    def leaf(name: str, c: str) -> float:
        v = vals[c][name]
        return math.nan if v is None else float(v)

    def metric_row(name: str, multiplier=1, s: X.Spec = spec) -> dict[str, Any]:
        return per_col(lambda c: ev(name, c, s) * multiplier)

    if temporal and meta is not None:
        add("Start Period", per_col(lambda c: _format_date(meta[f"start_{c}"])))
        add("End Period", per_col(lambda c: _format_date(meta[f"end_{c}"])))
    else:
        add("Start Period", dict.fromkeys(output_names, "-"))
        add("End Period", dict.fromkeys(output_names, "-"))
    add("Risk-Free Rate", dict.fromkeys(output_names, rf * pct))
    add("Time in Market", metric_row("exposure", pct))
    add_sep()

    if compounded:
        add("Cumulative Return", metric_row("comp", pct))
    else:
        add("Total Return", per_col(lambda c: leaf("sum", c) * pct))
    add("CAGR﹪", metric_row("cagr", pct))
    add_sep()

    add("Sharpe", metric_row("sharpe"))
    add("Prob. Sharpe Ratio", metric_row("probabilistic_sharpe_ratio", pct, per_period))
    if full:
        add("Smart Sharpe", metric_row("smart_sharpe"))
    add("Sortino", metric_row("sortino"))
    if full:
        add("Smart Sortino", metric_row("smart_sortino"))
    add("Sortino/√2", metric_row("adjusted_sortino"))
    if full:
        add("Smart Sortino/√2", metric_row("smart_adjusted_sortino"))
    add("Omega", metric_row("omega"))
    add_sep()

    add("Max Drawdown", metric_row("max_drawdown", pct))
    add("Longest DD Days", per_col(lambda c: episodes[c]["longest_days"]))

    if full:
        add_sep()
        add("Volatility (ann.)", metric_row("volatility", pct))
        if has_bench:
            add("R^2", bench_row(lambda c: ev("r_squared", c)))
            add(
                "Information Ratio",
                bench_row(lambda c: ev("information_ratio", c, per_period)),
            )
        add("Calmar", metric_row("calmar", 1, no_rf))
        # the bias-corrected skew/kurtosis, the same values PSR reads
        add("Skew", metric_row("skew"))
        add("Kurtosis", metric_row("kurtosis"))
        add("Expected Daily", metric_row("expected_return", pct))
        add("Expected Monthly", _cal_row(cal, "month", "geo", output_names, pct))
        add("Expected Yearly", _cal_row(cal, "year", "geo", output_names, pct))
        add("Kelly Criterion", metric_row("kelly_criterion", pct))
        add("Risk of Ruin", metric_row("risk_of_ruin"))
        add("Daily Value-at-Risk", metric_row("value_at_risk", pct))
        add("Expected Shortfall (cVaR)", per_col(lambda c: leaf("cvar", c) * pct))
        add("Max Consecutive Wins", per_col(lambda c: int(leaf("cwin", c))))
        add("Max Consecutive Losses", per_col(lambda c: int(leaf("closs", c))))

    add_sep()
    add("Gain/Pain Ratio", metric_row("gain_to_pain_ratio"))
    add("Gain/Pain (1M)", _cal_row(cal, "month", "g2p_sum", output_names, 1))
    add_sep()
    add("Payoff Ratio", metric_row("payoff_ratio"))
    add("Profit Factor", metric_row("profit_factor"))
    add("Common Sense Ratio", metric_row("common_sense_ratio"))
    add("CPC Index", metric_row("cpc_index"))
    add("Tail Ratio", metric_row("tail_ratio"))
    add("Outlier Win Ratio", metric_row("outlier_win_ratio"))
    add("Outlier Loss Ratio", metric_row("outlier_loss_ratio"))
    add_sep()

    window_spec = X.Spec(periods=periods_per_year)

    def window_row(key: str, annualized: bool = False) -> dict[str, Any]:
        # an EMPTY prepared frame (e.g. a disjoint-date benchmark under
        # match_dates=True) has no window aggregates at all - emit "-"
        # rows rather than KeyError deep in assembly
        if not temporal or f"wg_{key}" not in vals[output_names[0]]:
            return dict.fromkeys(output_names, "-")
        values = {}
        for c in output_names:
            window = {"growth": vals[c][f"wg_{key}"], "n": vals[c].get(f"wn_{key}")}
            v = X.evaluate("cagr" if annualized else "comp", window, window_spec)
            values[c] = (math.nan if v is None else v) * pct
        return values

    add("MTD", window_row("mtd"))
    add("3M", window_row("3m"))
    add("6M", window_row("6m"))
    add("YTD", window_row("ytd"))
    add("1Y", window_row("1y"))
    add("3Y (ann.)", window_row("3y", annualized=True))
    add("5Y (ann.)", window_row("5y", annualized=True))
    add("10Y (ann.)", window_row("10y", annualized=True))
    add("All-time (ann.)", metric_row("cagr", pct, no_rf))

    if full:
        add_sep()
        add("Best Day", metric_row("best", pct))
        add("Worst Day", metric_row("worst", pct))
        add("Best Month", _cal_row(cal, "month", "best", output_names, pct))
        add("Worst Month", _cal_row(cal, "month", "worst", output_names, pct))
        add("Best Year", _cal_row(cal, "year", "best", output_names, pct))
        add("Worst Year", _cal_row(cal, "year", "worst", output_names, pct))

    add_sep()
    add("Avg. Drawdown", per_col(lambda c: episodes[c]["avg_dd"] * pct))
    add("Avg. Drawdown Days", per_col(lambda c: episodes[c]["avg_days"]))
    add("Recovery Factor", metric_row("recovery_factor", 1, no_rf))
    add("Ulcer Index", metric_row("ulcer_index"))
    add("Serenity Index", metric_row("serenity_index"))

    if full:
        add_sep()
        add("Avg. Up Month", _cal_row(cal, "month", "avg_win", output_names, pct))
        add("Avg. Down Month", _cal_row(cal, "month", "avg_loss", output_names, pct))
        add("Win Days", metric_row("win_rate", pct))
        add("Win Month", _cal_row(cal, "month", "winrate", output_names, pct))
        add("Win Quarter", _cal_row(cal, "quarter", "winrate", output_names, pct))
        add("Win Year", _cal_row(cal, "year", "winrate", output_names, pct))
        if has_bench:
            add_sep()
            add("Beta", bench_row(lambda c: ev("beta", c)))
            alpha = dataclasses.replace(spec, periods=252)
            add("Alpha", bench_row(lambda c: ev("alpha", c, alpha)))
            add("Correlation", bench_row(lambda c: ev("correlation", c) * pct))
            add("Treynor Ratio", bench_row(lambda c: ev("treynor_ratio", c) * pct))

    if numeric:
        return _build_numeric_df(rows, output_names)
    result_rows = [
        (label, {name: _format_value(values.get(name)) for name in output_names})
        for label, values in rows
    ]
    if display:
        _print_table(result_rows, output_names)
        return None
    return _build_output_df(result_rows, output_names)


# ---------------------------------------------------------------------------
# frame preparation


def _prepare_frame(returns, benchmark, *, match_dates, strategy_title, benchmark_title):
    df, _ = to_returns_df(returns)
    temporal = get_temporal_column_name(df)
    return_names = numeric_column_names(df)
    if not return_names:
        raise ValueError("`returns` must contain at least one numeric return column")

    if len(return_names) == 1 and isinstance(strategy_title, str):
        output_names = [strategy_title]
    elif isinstance(strategy_title, list):
        output_names = strategy_title
    else:
        output_names = list(return_names)
    if len(output_names) != len(return_names):
        raise ValueError("`strategy_title` must match the number of strategy return columns")

    selected = [
        F.col(name).alias(out) for name, out in zip(return_names, output_names)
    ]
    if temporal:
        selected.insert(0, F.col(temporal))
    frame = df.select(*selected)

    benchmark_name = None
    if benchmark is not None:
        bdf, _ = to_returns_df(benchmark)
        bdf = prepare_benchmark(bdf)
        b_temporal = get_temporal_column_name(bdf)
        benchmark_name = benchmark_title
        bvalue = numeric_column_names(bdf)[0]
        if temporal and b_temporal:
            bsel = bdf.select(F.col(b_temporal).alias("__bts"), F.col(bvalue).alias(benchmark_name))
            how = "inner" if match_dates else "left"
            frame = frame.join(
                bsel, on=frame[temporal] == bsel["__bts"], how=how
            ).drop("__bts")
        else:
            bsel = bdf.select(F.col(bvalue).alias(benchmark_name))
            frame = joins.positional_join(frame, bsel)
        output_names = [benchmark_name, *output_names]

    return frame, output_names, benchmark_name, temporal


# ---------------------------------------------------------------------------
# main-pass expression builders


def _window_bounds(max_ts: dt.date | None) -> dict[str, Any] | None:
    if max_ts is None:
        return None
    return {
        "mtd": ("ym", (max_ts.year, max_ts.month)),
        "3m": ("ge", _add_months(max_ts, -3)),
        "6m": ("ge", _add_months(max_ts, -6)),
        "ytd": ("y", max_ts.year),
        "1y": ("ge", _add_months(max_ts, -12)),
        "3y": ("ge", _add_months(max_ts, -36)),
        "5y": ("ge", _add_months(max_ts, -60)),
        "10y": ("ge", _add_months(max_ts, -120)),
    }


def _add_months(d: dt.date, n: int) -> dt.date:
    y = d.year + (d.month - 1 + n) // 12
    m = (d.month - 1 + n) % 12 + 1
    return d.replace(year=y, month=m, day=min(d.day, _calendar.monthrange(y, m)[1]))


def _q(name: str) -> str:
    """SQL identifier for a column name."""
    return "`" + name.replace("`", "``") + "`"


def _dbl(x: float) -> str:
    """SQL double literal that reads back as exactly ``x``."""
    if math.isinf(x):
        return "double('Infinity')" if x > 0 else "double('-Infinity')"
    return f"({x!r}D)"


# the formulas each column's main pass aggregates the leaves of
_MAIN_FORMULAS = (
    "exposure", "comp", "cagr", "sharpe", "sortino", "omega", "max_drawdown",
    "drawdown_var", "ulcer_index", "recovery_factor", "serenity_index",
    "probabilistic_sharpe_ratio", "expected_return", "gain_to_pain_ratio",
    "payoff_ratio", "profit_factor", "common_sense_ratio", "cpc_index", "tail_ratio",
    "outlier_win_ratio", "outlier_loss_ratio",
)
_FULL_FORMULAS = (
    "volatility", "kelly_criterion", "risk_of_ruin", "value_at_risk", "best", "worst",
)


def _column_leaves(c, rf, compounded, full, windows) -> dict:
    """Primitive aggregates of column ``c`` for the main pass, keyed
    ``(leaf, c)``: the leaves of the report's formulas (Columns), plus the
    report's own SQL leaves — the lag and streak bounds of full mode and
    the trailing-window products."""
    q = _q(c)
    spec = X.Spec(v=F.col(q), dd=F.col(_q(f"__dd_{c}")), rf=rf, compound=compounded)
    names = _MAIN_FORMULAS + (_FULL_FORMULAS if full else ())
    found = {
        **X.leaves(names, spec),
        # calmar and all-time CAGR take no rf
        **X.leaves(("calmar",), dataclasses.replace(spec, rf=None)),
    }
    leaves: dict = {(k, c): v for k, v in found.items()}
    if full:
        idx, prev = _q("__idx"), _q(f"__prev_{c}")
        sql = {
            "lag_hi": f"max(CASE WHEN {prev} IS NOT NULL THEN {q} END)",
            "lag_lo": f"min(CASE WHEN {prev} IS NOT NULL THEN {q} END)",
            "prev_hi": f"max({prev})",
            "prev_lo": f"min({prev})",
            "cwin": f"coalesce(max(CASE WHEN {q} > 0 THEN {idx} - "
            f"coalesce({_q(f'__lbw_{c}')}, 0) ELSE 0 END), 0)",
            "closs": f"coalesce(max(CASE WHEN {q} < 0 THEN {idx} - "
            f"coalesce({_q(f'__lbl_{c}')}, 0) ELSE 0 END), 0)",
        }
        leaves.update({(k, c): F.expr(v) for k, v in sql.items()})
    ts = _q(ordered.ORDER_COL)
    for key, (kind, bound) in (windows or {}).items():
        if kind == "ym":
            cond = f"year({ts}) = {bound[0]} AND month({ts}) = {bound[1]}"
        elif kind == "y":
            cond = f"year({ts}) = {bound}"
        else:
            cond = f"CAST({ts} AS DATE) >= DATE'{bound.isoformat()}'"
        leaves[(f"wg_{key}", c)] = F.product(F.expr(f"CASE WHEN {cond} THEN {q} + 1 END"))
        if key in ("3y", "5y", "10y"):
            leaves[(f"wn_{key}", c)] = F.expr(f"count(CASE WHEN {cond} THEN {q} END)")
    return leaves


def _bench_leaves(c, bench_name) -> dict:
    spec = X.Spec(v=F.col(_q(c)), b=F.col(_q(bench_name)))
    names = ("alpha", "beta", "information_ratio", "treynor_ratio")
    return {(k, c): v for k, v in X.leaves(names, spec).items()}


# stage-2 leaf -> the main-pass threshold it falls back to
_CVAR_THRESHOLD = {"ddcvar": "ddvar", "cvar": "var"}


def _stage2_leaves(vals, c, full, bench_name) -> dict:
    """Leaves whose SQL needs main-pass values (``vals``: column -> its
    collected values). CVaR and the drawdown CVaR are tail means below a
    VaR threshold injected as a literal. The correlations are aggregated
    only where both sides vary: under ANSI division Spark's ``corr`` raises
    on a zero-variance input rather than returning NULL, so a skipped one
    stays NULL."""

    def known(v):
        return v is not None and not math.isnan(v)

    def varies(col, hi, lo):
        v = vals[col]
        return known(v[hi]) and known(v[lo]) and v[hi] > v[lo]

    q = _q(c)
    leaves = {}
    thresholds = {"ddcvar": (f"__dd_{c}", vals[c]["ddvar"])}
    if full:
        thresholds["cvar"] = (c, vals[c]["var"])
    for name, (col, t) in thresholds.items():
        if known(t):
            leaves[(name, c)] = F.expr(f"avg(CASE WHEN {_q(col)} < {_dbl(t)} THEN {_q(col)} END)")
    if full and varies(c, "lag_hi", "lag_lo") and varies(c, "prev_hi", "prev_lo"):
        spec = X.Spec(v=F.col(q), prev=F.col(_q(f"__prev_{c}")))
        leaves[("acorr", c)] = X.leaves(("autocorr",), spec)["acorr"]
    if (
        full and bench_name and c != bench_name
        and varies(c, "best", "worst")
        and varies(bench_name, "best", "worst")
    ):
        spec = X.Spec(v=F.col(q), b=F.col(_q(bench_name)))
        leaves[("corrb", c)] = X.leaves(("correlation",), spec)["corrb"]
    return leaves


# ---------------------------------------------------------------------------
# calendar pass


# calendar row -> formula over the per-period compounded returns
_CAL_FORMULAS = {
    "geo": "expected_return", "winrate": "win_rate", "best": "best", "worst": "worst",
    "avg_win": "avg_win", "avg_loss": "avg_loss",
}


def _calendar_specs(c, rf) -> tuple[X.Spec, X.Spec]:
    """Specs over one column's per-period compounded (``cmp_``) and summed
    (``sm_``, for gain/pain) returns."""
    return X.Spec(v=F.col(_q(f"cmp_{c}"))), X.Spec(v=F.col(_q(f"sm_{c}")), rf=rf)


def _calendar_leaves(c, rf) -> dict:
    """Leaves keyed ``(leaf, c)``, ``sm_``-prefixed over the summed returns."""
    cmp_spec, sm_spec = _calendar_specs(c, rf)
    leaves = {(k, c): v for k, v in X.leaves(_CAL_FORMULAS.values(), cmp_spec).items()}
    for k, v in X.leaves(("gain_to_pain_ratio",), sm_spec).items():
        leaves[(f"sm_{k}", c)] = v
    return leaves


def _calendar_agg(filled, temporal, output_names, granularity, rf):
    ts = F.col(temporal)
    if granularity == "month":
        keys = [F.year(ts).alias("__y"), F.month(ts).alias("__m")]
    elif granularity == "quarter":
        keys = [F.year(ts).alias("__y"), F.quarter(ts).alias("__m")]
    else:
        keys = [F.year(ts).alias("__y")]
    per_col = []
    for c in output_names:
        per_col.append(X.column("comp", F.col(_q(c))).alias(f"cmp_{c}"))
        per_col.append(F.sum(F.col(_q(c))).alias(f"sm_{c}"))
    bucketed = filled.groupBy(*keys).agg(*per_col)
    leaves: dict = {}
    for c in output_names:
        leaves.update(_calendar_leaves(c, rf))
    values = X.collect(bucketed, leaves)
    out: dict = {}
    for c in output_names:
        cmp_spec, sm_spec = _calendar_specs(c, rf)
        cmp_vals = {k: v for (k, col), v in values.items() if col == c}
        sm_vals = {k[3:]: v for k, v in cmp_vals.items() if k.startswith("sm_")}
        for row, name in _CAL_FORMULAS.items():
            out[f"{row}_{c}"] = X.evaluate(name, cmp_vals, cmp_spec)
        out[f"g2p_sum_{c}"] = X.evaluate("gain_to_pain_ratio", sm_vals, sm_spec)
    return out


def _cal_row(cal, granularity, key, output_names, multiplier):
    row = cal.get(granularity)
    if row is None:
        return dict.fromkeys(output_names, "-")
    out = {}
    for c in output_names:
        v = row[f"{key}_{c}"]
        out[c] = math.nan if v is None else float(v) * multiplier
    return out


# ---------------------------------------------------------------------------
# formatting (reference reports.py:502-564)


def _format_date(value) -> str:
    if value is None:
        return "-"
    if isinstance(value, dt.datetime):
        return value.date().isoformat()
    if isinstance(value, dt.date):
        return value.isoformat()
    return str(value)


def _format_value(value) -> str:
    if value is None:
        return "-"
    if isinstance(value, str):
        return value
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value) or math.isinf(value):
            return "-"
        rounded = round(value, 2)
        if rounded == 0:
            rounded = 0
        return str(rounded)
    return str(value)


def _local_df(data, columns, schema) -> DataFrame:
    """Local-table DataFrame via the Arrow path.

    ``createDataFrame`` on a list of tuples goes through the row-at-a-time
    RDD converter (~0.35s measured for a 36-row report table, runs on the
    report's critical path); the pandas input rides Arrow (~0.03s). NaN
    survives the Arrow float path as NaN, same as the tuple path — pinned
    by the report_numeric oracle, which hashes non-finite cells."""
    import pandas as pd
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return spark.createDataFrame(pd.DataFrame(data, columns=columns), schema)


def _build_numeric_df(rows, output_names) -> DataFrame:
    """Pre-formatting scalar table: rows whose every cell is a number."""
    data = []
    for label, values in rows:
        cells = []
        for name in output_names:
            v = values.get(name)
            if isinstance(v, (str, bool)) or v is None:
                cells = None
                break
            cells.append(float(v))
        if cells is not None:
            data.append((label, *cells))
    schema = ", ".join(["`Metric` string"] + [f"`{n}` double" for n in output_names])
    return _local_df(data, ["Metric", *output_names], schema)


def _build_output_df(rows, output_names) -> DataFrame:
    data = [(label, *[values[name] for name in output_names]) for label, values in rows]
    schema = ", ".join(["`Metric` string"] + [f"`{n}` string" for n in output_names])
    return _local_df(data, ["Metric", *output_names], schema)


def _print_table(rows, output_names) -> None:
    headers = ["Metric", *output_names]
    widths = [
        max(len(headers[0]), *(len(label) for label, _ in rows)) if rows else len(headers[0])
    ]
    for name in output_names:
        widths.append(
            max(len(name), *(len(values[name]) for _, values in rows)) if rows else len(name)
        )
    line = "  ".join(h.ljust(w) for h, w in zip(headers, widths))
    print(line)
    print("  ".join("-" * w for w in widths))
    for label, values in rows:
        cells = [label.ljust(widths[0])] + [
            values[name].rjust(w) for name, w in zip(output_names, widths[1:])
        ]
        print("  ".join(cells))
