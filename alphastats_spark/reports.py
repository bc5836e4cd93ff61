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
CPC, risk of ruin, beta, …) is derived on the driver from the collected
row with ``_fdiv``/``_pow``, which reproduce ``expressions.fdiv`` and
Spark's ``pow`` bit for bit. Nested in-plan ratios made the main pass's
analysis and optimization cost more than its execution.

Report-only semantics preserved from the reference: NaN→null→**0** fill on
the series (``reports.py:376-378`` — unlike the raw stats API which keeps
nulls), start/end dates from the pre-fill null pattern, the CAGR row's
per-period rf subtraction (``reports.py:470-476``), alpha annualized with
252 regardless of ``periods_per_year`` (``reports.py:509``), and
``"-"`` for non-finite cells (``reports.py:547-548``).
"""

from __future__ import annotations

import calendar as _calendar
import datetime as dt
import math
from concurrent.futures import ThreadPoolExecutor
from statistics import NormalDist
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

_NORMAL = NormalDist()


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
        meta_fut = pool.submit(lambda: frame.agg(*meta_aggs).first()) if meta_aggs else None

        # ---- fill nulls with 0 (report-only policy) --------------------------
        filled = frame.select(
            *([F.col(temporal)] if temporal else []),
            *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in output_names],
        )

        # ---- enrichment + aggregation, chunked over asset-column groups ------
        # A single pass over a WIDE frame explodes Janino codegen superlinearly
        # (~50 leaf aggregates per column incl. exact-percentile object
        # aggregates, plus 4 window/prefix expressions per column in the
        # drawdown machinery): measured driver OOM at 30 columns on a 4 GB
        # heap, and minutes of compile time just below that. Processing groups
        # of ``agg_chunk_columns`` (default 8) bounds every generated method,
        # at the cost of ceil(cols/chunk) scans of the CACHED base frame —
        # versus the reference's O(rows × cols) collects. The benchmark column
        # rides along in every group so benchmark-relative aggregates stay
        # single-pass.
        chunk = max(1, int(kwargs.get("agg_chunk_columns", 8)))
        main: dict[str, Any] = {}
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
                cal_futs[granularity] = pool.submit(calendar, granularity)

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
            mat_fut = pool.submit(rdf.count)

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
            eps_fut = pool.submit(
                islands.drawdown_episode_stats,
                rdf, group, None,
                {c: f"__dd_{c}" for c in group},
                {c: f"__dd_{c}__pos" for c in group},
            )
            values = _agg_leaves(rdf, leaves)
            for c in group:
                main.update(
                    _derive_column(values, c, rf, compounded, periods_per_year, windows)
                )

            # dependent pass: the leaves whose SQL needs main-pass values
            s2_leaves: dict = {}
            for c in group:
                s2_leaves.update(_stage2_leaves(main, c, full, benchmark_name))
                main.update(dict.fromkeys((f"ddcvar_{c}", f"acorr_{c}", f"corrb_{c}")))
                if full:
                    main[f"cvar_{c}"] = main[f"var_{c}"]
            if s2_leaves:
                for (name, c), v in _agg_leaves(rdf, s2_leaves).items():
                    # a threshold with nothing below it is its own tail mean
                    threshold = _CVAR_THRESHOLD.get(name)
                    main[f"{name}_{c}"] = main[f"{threshold}_{c}"] if v is None and threshold else v
            episodes.update(eps_fut.result())
            rdf.unpersist()
            _persisted.remove(rdf)

        # ---- calendar passes (submitted before the chunk loop) ----------------
        cal: dict[str, Any] = {k: f.result() for k, f in cal_futs.items()}
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
        for _p in _persisted:
            _p.unpersist()
        ordered.release_pass_caches(_cache_mark)

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

    def g(name: str, c: str) -> float:
        v = main[f"{name}_{c}"]
        return math.nan if v is None else float(v)

    n_by_col = {c: int(g("n", c)) for c in output_names}

    if temporal and meta is not None:
        add("Start Period", per_col(lambda c: _format_date(meta[f"start_{c}"])))
        add("End Period", per_col(lambda c: _format_date(meta[f"end_{c}"])))
    else:
        add("Start Period", dict.fromkeys(output_names, "-"))
        add("End Period", dict.fromkeys(output_names, "-"))
    add("Risk-Free Rate", dict.fromkeys(output_names, rf * pct))
    add("Time in Market", per_col(lambda c: g("exposure", c) * pct))
    add_sep()

    if compounded:
        add("Cumulative Return", per_col(lambda c: g("comp", c) * pct))
    else:
        add("Total Return", per_col(lambda c: g("sum", c) * pct))
    add("CAGR﹪", per_col(lambda c: _cagr_value(main, c, periods_per_year) * pct))
    add_sep()

    add("Sharpe", per_col(lambda c: g("sharpe", c)))

    def _psr(c: str, base: float) -> float:
        # guards mirror the Spark expression path (F.sqrt of a negative
        # radicand -> NaN, fdiv by 0 -> inf): a high per-period SR or
        # strong positive skew can push the radicand negative, and a
        # 1-row frame divides by n-1=0 - neither may abort the report
        n = n_by_col[c]
        if n is None or n <= 1:
            return math.nan
        skew_v, kurt_v = g("skew", c), g("kurt", c)
        radicand = (
            1 + (0.5 * base**2) - (skew_v * base) + (((kurt_v - 3) / 4) * base**2)
        ) / (n - 1)
        if not radicand > 0:  # negative, zero or nan
            return math.nan
        return _NORMAL.cdf((base - rf) / math.sqrt(radicand))

    add("Prob. Sharpe Ratio", per_col(lambda c: _psr(c, g("sr0", c)) * pct))
    penalties = {}
    if full:
        for c in output_names:
            coef = main[f"acorr_{c}"]
            coef = math.nan if coef is None else abs(float(coef))
            penalties[c] = X.geometric_sum_penalty(coef, n_by_col[c])
        add("Smart Sharpe", per_col(lambda c: g("sharpe", c) / penalties[c]))
    add("Sortino", per_col(lambda c: g("sortino", c)))
    if full:
        add("Smart Sortino", per_col(lambda c: g("sortino", c) / penalties[c]))
    add("Sortino/√2", per_col(lambda c: g("sortino", c) / math.sqrt(2)))
    if full:
        add("Smart Sortino/√2", per_col(lambda c: g("sortino", c) / penalties[c] / math.sqrt(2)))
    add("Omega", per_col(lambda c: g("omega", c)))
    add_sep()

    add("Max Drawdown", per_col(lambda c: g("maxdd", c) * pct))
    add("Longest DD Days", per_col(lambda c: episodes[c]["longest_days"]))

    if full:
        add_sep()
        add("Volatility (ann.)", per_col(lambda c: g("vol", c) * pct))
        if has_bench:
            add("R^2", bench_row(lambda c: g("corrb", c) ** 2))
            add("Information Ratio", bench_row(lambda c: g("ir", c)))
        add(
            "Calmar",
            per_col(
                lambda c: _calmar_value(main, c, compounded, periods_per_year)
            ),
        )
        # the bias-corrected skew/kurtosis, the same values PSR reads
        add("Skew", per_col(lambda c: g("skew", c)))
        add("Kurtosis", per_col(lambda c: g("kurt", c)))
        add("Expected Daily", per_col(lambda c: g("geo", c) * pct))
        add("Expected Monthly", _cal_row(cal, "month", "geo", output_names, pct))
        add("Expected Yearly", _cal_row(cal, "year", "geo", output_names, pct))
        add("Kelly Criterion", per_col(lambda c: g("kelly", c) * pct))
        add("Risk of Ruin", per_col(lambda c: g("ror", c)))
        add("Daily Value-at-Risk", per_col(lambda c: g("var", c) * pct))
        add(
            "Expected Shortfall (cVaR)",
            per_col(lambda c: g("cvar", c) * pct),
        )
        add("Max Consecutive Wins", per_col(lambda c: int(g("cwin", c))))
        add("Max Consecutive Losses", per_col(lambda c: int(g("closs", c))))

    add_sep()
    add("Gain/Pain Ratio", per_col(lambda c: g("g2p", c)))
    add("Gain/Pain (1M)", _cal_row(cal, "month", "g2p_sum", output_names, 1))
    add_sep()
    add("Payoff Ratio", per_col(lambda c: g("payoff", c)))
    add("Profit Factor", per_col(lambda c: g("pf", c)))
    add("Common Sense Ratio", per_col(lambda c: g("csr", c)))
    add("CPC Index", per_col(lambda c: g("cpc", c)))
    add("Tail Ratio", per_col(lambda c: g("tail", c)))
    add("Outlier Win Ratio", per_col(lambda c: g("outw", c)))
    add("Outlier Loss Ratio", per_col(lambda c: g("outl", c)))
    add_sep()

    def window_row(key: str, annualized: bool = False) -> dict[str, Any]:
        # an EMPTY prepared frame (e.g. a disjoint-date benchmark under
        # match_dates=True) has no window aggregates at all - emit "-"
        # rows rather than KeyError deep in assembly
        if not temporal or f"w_{key}_{output_names[0]}" not in main:
            return dict.fromkeys(output_names, "-")
        values = {}
        for c in output_names:
            compv = g(f"w_{key}", c)
            if annualized:
                years = g(f"wn_{key}", c) / periods_per_year
                values[c] = (_pow(1 + compv, _fdiv(1.0, years)) - 1) * pct
            else:
                values[c] = compv * pct
        return values

    add("MTD", window_row("mtd"))
    add("3M", window_row("3m"))
    add("6M", window_row("6m"))
    add("YTD", window_row("ytd"))
    add("1Y", window_row("1y"))
    add("3Y (ann.)", window_row("3y", annualized=True))
    add("5Y (ann.)", window_row("5y", annualized=True))
    add("10Y (ann.)", window_row("10y", annualized=True))
    alltime_key = "comp" if compounded else "sum"
    add(
        "All-time (ann.)",
        per_col(
            lambda c: _cagr_value(main, c, periods_per_year, alltime_key) * pct
        ),
    )

    if full:
        add_sep()
        add("Best Day", per_col(lambda c: g("best", c) * pct))
        add("Worst Day", per_col(lambda c: g("worst", c) * pct))
        add("Best Month", _cal_row(cal, "month", "best", output_names, pct))
        add("Worst Month", _cal_row(cal, "month", "worst", output_names, pct))
        add("Best Year", _cal_row(cal, "year", "best", output_names, pct))
        add("Worst Year", _cal_row(cal, "year", "worst", output_names, pct))

    add_sep()
    add("Avg. Drawdown", per_col(lambda c: episodes[c]["avg_dd"] * pct))
    add("Avg. Drawdown Days", per_col(lambda c: episodes[c]["avg_days"]))
    add("Recovery Factor", per_col(lambda c: g("recov", c)))
    add("Ulcer Index", per_col(lambda c: g("ulcer", c)))
    add(
        "Serenity Index",
        per_col(lambda c: _serenity_value(main, c, rf)),
    )

    if full:
        add_sep()
        add("Avg. Up Month", _cal_row(cal, "month", "avg_win", output_names, pct))
        add("Avg. Down Month", _cal_row(cal, "month", "avg_loss", output_names, pct))
        add("Win Days", per_col(lambda c: g("winrate", c) * pct))
        add("Win Month", _cal_row(cal, "month", "winrate", output_names, pct))
        add("Win Quarter", _cal_row(cal, "quarter", "winrate", output_names, pct))
        add("Win Year", _cal_row(cal, "year", "winrate", output_names, pct))
        if has_bench:
            add_sep()
            add("Beta", bench_row(lambda c: g("beta", c)))
            # alpha annualized with 252 regardless of periods_per_year —
            # reference reports.py:509 calls stats.greeks with its default.
            add("Alpha", bench_row(lambda c: (g("mean", c) - g("beta", c) * g("mean", benchmark_name)) * 252))
            add("Correlation", bench_row(lambda c: g("corrb", c) * pct))
            add(
                "Treynor Ratio",
                bench_row(lambda c: _fdiv(g("comp", c) - rf, g("beta", c)) * pct),
            )

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


# Percentile points and VaR z-scores of expressions.tail_ratio,
# outlier_*_ratio, value_at_risk and the serenity drawdown VaR: ``1 - 0.95``
# is 0.050000000000000044, and the leaves must aggregate the same doubles.
_P_HI, _P_LO, _P_WIN, _P_LOSS = 0.95, 1 - 0.95, 0.99, 0.01
_Z_VAR = _NORMAL.inv_cdf(1 - 0.95)
_Z_DDVAR = _NORMAL.inv_cdf(0.05)


def _column_leaves(c, rf, compounded, full, windows) -> dict:
    """Primitive aggregates of column ``c`` for the main pass, keyed
    ``(leaf, c)``: SQL text, or a Column where Spark SQL has no function
    (``product``). The report fills nulls before any pass, so the Polars
    null-propagating when/then of ``expressions`` is a plain CASE here."""
    q, dd = _q(c), _q(f"__dd_{c}")
    x = f"({q} - {_dbl(float(rf))})" if rf else q  # excess return
    sql = {
        "n": f"count({q})",
        "nonzero": f"sum(CAST({q} <> 0 AS BIGINT))",
        "wins": f"sum(CAST({q} > 0 AS BIGINT))",
        "losses": f"sum(CAST({q} < 0 AS BIGINT))",
        "sum": f"sum({q})",
        "mean": f"avg({q})",
        "std": f"stddev_samp({q})",
        "skewness": f"skewness({q})",
        "kurtosis": f"kurtosis({q})",
        "gains": f"sum(CASE WHEN {q} >= 0 THEN {q} ELSE 0.0D END)",
        "pains": f"sum(CASE WHEN {q} < 0 THEN {q} ELSE 0.0D END)",
        "up_mean": f"avg(CASE WHEN {q} > 0 THEN {q} END)",
        "down_mean": f"avg(CASE WHEN {q} < 0 THEN {q} END)",
        "nonneg_mean": f"avg(CASE WHEN {q} >= 0 THEN {q} END)",
        "omega_up": f"sum(greatest({q}, 0.0D))",
        "omega_down": f"sum(greatest(-{q}, 0.0D))",
        "p_hi": f"percentile({q}, {_dbl(_P_HI)})",
        "p_lo": f"percentile({q}, {_dbl(_P_LO)})",
        "p_win": f"percentile({q}, {_dbl(_P_WIN)})",
        "p_loss": f"percentile({q}, {_dbl(_P_LOSS)})",
        "x_sum": f"sum({x})",
        "x_mean": f"avg({x})",
        "x_std": f"stddev_samp({x})",
        "x_pains": f"sum(CASE WHEN {x} < 0 THEN {x} ELSE 0.0D END)",
        "x_down2": f"avg(pow(CASE WHEN {x} < 0 THEN {x} ELSE 0.0D END, 2))",
        "maxdd": f"min({dd})",
        "dd_sumsq": f"sum(pow({dd}, 2))",
        "dd_mean": f"avg({dd})",
        "dd_std": f"stddev_samp({dd})",
    }
    if full:
        idx, prev = _q("__idx"), _q(f"__prev_{c}")
        sql.update(
            best=f"max({q})",
            worst=f"min({q})",
            lag_hi=f"max(CASE WHEN {prev} IS NOT NULL THEN {q} END)",
            lag_lo=f"min(CASE WHEN {prev} IS NOT NULL THEN {q} END)",
            prev_hi=f"max({prev})",
            prev_lo=f"min({prev})",
            cwin=f"coalesce(max(CASE WHEN {q} > 0 THEN {idx} - "
            f"coalesce({_q(f'__lbw_{c}')}, 0) ELSE 0 END), 0)",
            closs=f"coalesce(max(CASE WHEN {q} < 0 THEN {idx} - "
            f"coalesce({_q(f'__lbl_{c}')}, 0) ELSE 0 END), 0)",
        )
    leaves = {(k, c): v for k, v in sql.items()}
    leaves[("growth", c)] = F.product(F.expr(f"{q} + 1"))
    if compounded and rf:
        leaves[("x_growth", c)] = F.product(F.expr(f"{x} + 1"))
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
            leaves[(f"wn_{key}", c)] = f"count(CASE WHEN {cond} THEN {q} END)"
    return leaves


def _bench_leaves(c, bench_name) -> dict:
    q, b = _q(c), _q(bench_name)
    return {
        ("covb", c): f"covar_samp({q}, {b})",
        ("varb", c): f"var_samp({b})",
        ("act_mean", c): f"avg({q} - {b})",
        ("act_std", c): f"stddev_samp({q} - {b})",
    }


# stage-2 leaf -> the main-pass threshold it falls back to
_CVAR_THRESHOLD = {"ddcvar": "ddvar", "cvar": "var"}


def _stage2_leaves(main, c, full, bench_name) -> dict:
    """Leaves whose SQL needs main-pass values. CVaR and the drawdown CVaR
    are tail means below a VaR threshold injected as a literal. The
    correlations are aggregated only where both sides vary: under ANSI
    division Spark's ``corr`` raises on a zero-variance input rather than
    returning NULL, so a skipped one stays NULL."""

    def known(v):
        return v is not None and not math.isnan(v)

    def varies(hi, lo):
        return known(main[hi]) and known(main[lo]) and main[hi] > main[lo]

    q = _q(c)
    leaves = {}
    thresholds = {"ddcvar": (f"__dd_{c}", main[f"ddvar_{c}"])}
    if full:
        thresholds["cvar"] = (c, main[f"var_{c}"])
    for name, (col, t) in thresholds.items():
        if known(t):
            leaves[(name, c)] = f"avg(CASE WHEN {_q(col)} < {_dbl(t)} THEN {_q(col)} END)"
    if full and varies(f"lag_hi_{c}", f"lag_lo_{c}") and varies(f"prev_hi_{c}", f"prev_lo_{c}"):
        leaves[("acorr", c)] = f"corr({q}, {_q(f'__prev_{c}')})"
    if (
        full and bench_name and c != bench_name
        and varies(f"best_{c}", f"worst_{c}")
        and varies(f"best_{bench_name}", f"worst_{bench_name}")
    ):
        leaves[("corrb", c)] = f"corr({q}, {_q(bench_name)})"
    return leaves


def _agg_leaves(frame: DataFrame, leaves: dict) -> dict:
    """One aggregation job over ``leaves`` (key -> SQL text or Column);
    returns key -> collected value. Leaves with the same SQL text (the
    excess-return leaves when rf is 0, say) are aggregated once."""
    aliases: dict = {}
    cols, by_text = [], {}
    for key, expr in leaves.items():
        if isinstance(expr, str):
            if expr not in by_text:
                by_text[expr] = f"_l{len(cols)}"
                cols.append(F.expr(expr).alias(by_text[expr]))
            aliases[key] = by_text[expr]
        else:
            aliases[key] = f"_l{len(cols)}"
            cols.append(expr.alias(aliases[key]))
    row = frame.agg(*cols).first()
    return {key: row[alias] for key, alias in aliases.items()}


# ---------------------------------------------------------------------------
# driver-side derivation
#
# Every ratio is derived here from the collected leaves instead of inside
# the Spark plan: expressions.fdiv copies its numerator into 5 CASE
# branches and its denominator into 3, so ratios of ratios (Kelly, CPC,
# risk of ruin) grow multiplicatively, and analysing and optimizing those
# trees cost more than aggregating the frame. Each formula below is the
# expressions.* formula with the same floating-point operations in the same
# order, so it returns the same double. Every operation in them is
# null-intolerant, so SQL NULL propagates through a formula as a whole: it
# is NULL exactly when one of its leaves is (see _derive).


def _fdiv(num: float, den: float) -> float:
    """expressions.fdiv on doubles: x/0 is ±inf, 0/0 and NaN/0 are NaN."""
    if den != 0:
        return num / den
    if math.isnan(num) or num == 0:
        return math.nan
    return math.inf if num > 0 else -math.inf


def _pow(base: float, exp: float) -> float:
    """Spark's pow (``java.lang.Math.pow``) on doubles. It differs from
    ``math.pow``, which returns 1 for ``pow(1, nan)`` and ``pow(±1, ±inf)``
    and raises on a zero base with a negative exponent, a negative base
    with a non-integer exponent, and overflow."""
    if math.isnan(exp) or (math.isnan(base) and exp != 0):
        return math.nan
    if math.isinf(exp) and abs(base) == 1:
        return math.nan
    try:
        return math.pow(base, exp)
    except (ValueError, OverflowError):
        pass
    if base < 0 and not exp.is_integer():
        return math.nan
    # a pole (zero base, negative exponent) or an overflow: infinite, negative
    # for a negative (or -0.0) base under an odd exponent
    odd = exp.is_integer() and math.fmod(exp, 2) != 0
    return -math.inf if odd and math.copysign(1, base) < 0 else math.inf


def _sqrt(x: float) -> float:
    """Spark's sqrt: NaN for a negative radicand instead of raising."""
    return math.sqrt(x) if x >= 0 else math.nan


def _derive(values: dict, c, formulas: dict) -> dict:
    """Column ``c``'s leaves, plus each formula ``name: (fn, *leaf_names)``
    evaluated over them, keyed ``{name}_{c}``. A formula is None (SQL NULL)
    when any of its leaves is, as the in-plan expression would be."""
    out = {f"{name}_{col}": v for (name, col), v in values.items() if col == c}
    for name, (fn, *names) in formulas.items():
        args = [values[(leaf, c)] for leaf in names]
        none = any(a is None for a in args)
        out[f"{name}_{c}"] = None if none else fn(*(float(a) for a in args))
    return out


def _derive_column(values: dict, c, rf, compounded, ppy, windows) -> dict:
    """The report's per-column scalars, keyed ``{metric}_{c}``, from the main
    pass's leaves (``_column_leaves`` and ``_bench_leaves``)."""
    root = ppy**0.5

    def payoff(up_mean, down_mean):
        return _fdiv(up_mean, abs(down_mean))

    def profit_factor(gains, pains):
        return _fdiv(gains, abs(pains))

    def tail(p_hi, p_lo):
        return _fdiv(abs(p_hi), abs(p_lo))

    def skew(n, skewness):
        return _fdiv(_sqrt(n * (n - 1)), n - 2) * skewness

    def kurt(n, kurtosis):
        return _fdiv(n - 1, (n - 2) * (n - 3)) * ((n + 1) * kurtosis + 6)

    def cpc(gains, pains, wins, losses, nonzero):
        avg_win = _fdiv(gains, wins)
        avg_loss = _fdiv(abs(pains), losses)
        return profit_factor(gains, pains) * _fdiv(avg_win, avg_loss) * _fdiv(wins, nonzero)

    def kelly(up_mean, down_mean, wins, nonzero):
        w, p = payoff(up_mean, down_mean), _fdiv(wins, nonzero)
        return _fdiv((w * p) - (1 - p), w)

    def risk_of_ruin(wins, nonzero, n):
        p = _fdiv(wins, nonzero)
        return _pow(_fdiv(1 - p, 1 + p), n)

    formulas = {
        "exposure": (_fdiv, "nonzero", "n"),
        "comp": (lambda g: g - 1, "growth"),
        "sharpe": (lambda m, s: _fdiv(m, s) * root, "x_mean", "x_std"),
        "sr0": (_fdiv, "mean", "std"),
        "skew": (skew, "n", "skewness"),
        "kurt": (kurt, "n", "kurtosis"),
        "sortino": (lambda m, d2: _fdiv(m, _sqrt(d2)) * root, "x_mean", "x_down2"),
        "omega": (_fdiv, "omega_up", "omega_down"),
        "g2p": (lambda s, p: _fdiv(s, abs(p)), "x_sum", "x_pains"),
        "payoff": (payoff, "up_mean", "down_mean"),
        "pf": (profit_factor, "gains", "pains"),
        "csr": (
            lambda g, p, hi, lo: profit_factor(g, p) * tail(hi, lo),
            "gains", "pains", "p_hi", "p_lo",
        ),
        "cpc": (cpc, "gains", "pains", "wins", "losses", "nonzero"),
        "tail": (tail, "p_hi", "p_lo"),
        "outw": (_fdiv, "p_win", "nonneg_mean"),
        "outl": (_fdiv, "p_loss", "down_mean"),
        "recov": (lambda s, m: _fdiv(abs(s), abs(m)), "sum", "maxdd"),
        "ulcer": (lambda ss, n: _sqrt(_fdiv(ss, n - 1)), "dd_sumsq", "n"),
        "ddvar": (lambda m, s: m + _Z_DDVAR * s, "dd_mean", "dd_std"),
        "geo": (lambda g, n: _pow(g, _fdiv(1.0, n)) - 1, "growth", "n"),
    }
    if compounded:
        formulas["cagrbase"] = (lambda g: g - 1, "x_growth" if rf else "growth")
    else:
        formulas["cagrbase"] = (lambda s: s, "x_sum")
    if ("best", c) in values:  # full mode
        formulas.update(
            vol=(lambda s: s * root, "std"),
            kelly=(kelly, "up_mean", "down_mean", "wins", "nonzero"),
            ror=(risk_of_ruin, "wins", "nonzero", "n"),
            var=(lambda m, s: m + _Z_VAR * s, "mean", "std"),
            winrate=(_fdiv, "wins", "nonzero"),
        )
    if ("covb", c) in values:
        formulas.update(
            beta=(_fdiv, "covb", "varb"),
            ir=(_fdiv, "act_mean", "act_std"),
        )
    for key in windows or {}:
        formulas[f"w_{key}"] = (lambda g: g - 1, f"wg_{key}")
    return _derive(values, c, formulas)


# ---------------------------------------------------------------------------
# calendar pass


def _calendar_leaves(c, rf) -> dict:
    """Leaves over one column's per-period compounded (``cmp_``) and summed
    (``sm_``) returns."""
    p, sm = _q(f"cmp_{c}"), _q(f"sm_{c}")
    x = f"({sm} - {_dbl(float(rf))})" if rf else sm
    return {
        ("growth", c): F.product(F.expr(f"{p} + 1")),
        ("n", c): f"count({p})",
        ("best", c): f"max({p})",
        ("worst", c): f"min({p})",
        ("avg_win", c): f"avg(CASE WHEN {p} > 0 THEN {p} END)",
        ("avg_loss", c): f"avg(CASE WHEN {p} < 0 THEN {p} END)",
        ("wins", c): f"sum(CAST({p} > 0 AS BIGINT))",
        ("nonzero", c): f"sum(CAST({p} <> 0 AS BIGINT))",
        ("x_sum", c): f"sum({x})",
        ("x_pains", c): f"sum(CASE WHEN {x} < 0 THEN {x} ELSE 0.0D END)",
    }


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
        per_col.append(X.comp(F.col(c)).alias(f"cmp_{c}"))
        per_col.append(F.sum(F.col(c)).alias(f"sm_{c}"))
    bucketed = filled.groupBy(*keys).agg(*per_col)
    leaves: dict = {}
    for c in output_names:
        leaves.update(_calendar_leaves(c, rf))
    values = _agg_leaves(bucketed, leaves)
    formulas = {
        "geo": (lambda g, n: _pow(g, _fdiv(1.0, n)) - 1, "growth", "n"),
        "winrate": (_fdiv, "wins", "nonzero"),
        "g2p_sum": (lambda s, p: _fdiv(s, abs(p)), "x_sum", "x_pains"),
    }
    out: dict = {}
    for c in output_names:
        out.update(_derive(values, c, formulas))
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
# driver-side scalar assembly


def _cagr_value(main, c, ppy, key: str = "cagrbase") -> float:
    """expressions.cagr on the collected total: ``pow(total, 1 / years) - 1``."""
    base = main[f"{key}_{c}"]
    if base is None:
        return math.nan
    return _pow(float(base) + 1, _fdiv(1.0, main[f"n_{c}"] / ppy)) - 1


def _calmar_value(main, c, compounded, ppy) -> float:
    maxdd = main[f"maxdd_{c}"]
    if maxdd is None:
        return math.nan
    return _fdiv(_cagr_value(main, c, ppy, "comp" if compounded else "sum"), abs(maxdd))


def _serenity_value(main, c, rf) -> float:
    dd_cvar = main[f"ddcvar_{c}"]
    if dd_cvar is None:
        return math.nan
    std = main[f"std_{c}"]
    ulcer = main[f"ulcer_{c}"]
    total = main[f"sum_{c}"]
    if std is None or ulcer is None or total is None or not std:
        return math.nan
    pitfall = -float(dd_cvar) / float(std)
    denom = float(ulcer) * pitfall
    return (float(total) - rf) / denom if denom else math.nan


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
