"""NumPy references for the outputs the benchmark checks.

Each function recomputes, from the generated arrays alone, a value the
library returns, with the library's documented semantics: nulls (NaN here)
are skipped by aggregates, drawdowns compound only non-null returns and are
null where the return is null, a drawdown episode is a run of rows with a
negative drawdown that a null row or a new peak ends, and its length is
calendar days from first to last row plus one (rows, where no dates are
given).
"""

from __future__ import annotations

import math

import numpy as np

PPY = 252
REL_TOL = 1e-7   # Spark sums in another order and compounds in log space
ABS_TOL = 1e-9


def close(got, want, rel: float = REL_TOL, abs_: float = ABS_TOL) -> bool:
    if got is None or want is None:
        return got is None and want is None
    got, want = float(got), float(want)
    if math.isnan(want) or math.isnan(got):
        return math.isnan(want) and math.isnan(got)
    return math.isclose(got, want, rel_tol=rel, abs_tol=abs_)


def _valid(r: np.ndarray) -> np.ndarray:
    return r[~np.isnan(r)]


def comp(r: np.ndarray) -> float:
    return float(np.prod(1 + _valid(r)) - 1)


def sharpe(r: np.ndarray) -> float:
    v = _valid(r)
    return float(v.mean() / v.std(ddof=1) * math.sqrt(PPY))


def sortino(r: np.ndarray) -> float:
    v = _valid(r)
    return float(v.mean() / math.sqrt(np.mean(np.minimum(v, 0.0) ** 2)) * math.sqrt(PPY))


def volatility(r: np.ndarray) -> float:
    return float(_valid(r).std(ddof=1) * math.sqrt(PPY))


def win_rate(r: np.ndarray) -> float:
    v = _valid(r)
    return float(np.sum(v > 0) / np.sum(v != 0))


def drawdowns(r: np.ndarray) -> np.ndarray:
    """Per-row drawdown of the compounded wealth; NaN where ``r`` is NaN."""
    out = np.full(r.shape, np.nan)
    ok = ~np.isnan(r)
    wealth = np.cumprod(1 + r[ok])
    out[ok] = wealth / np.maximum.accumulate(wealth) - 1
    return out


def longest_drawdown_days(dates: np.ndarray | None, r: np.ndarray) -> int:
    """Longest episode in calendar days, or in rows when ``dates`` is None
    (the report passes no temporal column to its episode pass)."""
    dd = drawdowns(r)
    best, first, last = 0, None, None
    for i, v in enumerate(dd):
        if v < 0:
            first = i if first is None else first
            last = i
        if first is not None and (not v < 0 or i == len(dd) - 1):
            span = last - first + 1 if dates is None else int(
                (dates[last] - dates[first]) / np.timedelta64(1, "D")) + 1
            best = max(best, span)
            first = None
    return best


def monthly_comp(dates: np.ndarray, r: np.ndarray) -> np.ndarray:
    """Compounded return of each calendar month that has a non-null value."""
    months = dates.astype("datetime64[M]")
    out = []
    for m in np.unique(months):
        v = _valid(r[months == m])
        if v.size:
            out.append(np.prod(1 + v) - 1)
    return np.array(out)


def asof(dates: np.ndarray, bench_dates: np.ndarray, bench: np.ndarray) -> np.ndarray:
    """Backward as-of match: the latest benchmark value dated on or before
    each date (the generator keeps the first date, so none is missing)."""
    return bench[np.searchsorted(bench_dates, dates, side="right") - 1]


def beta(r: np.ndarray, b: np.ndarray) -> float:
    """covar_samp over rows where both are present / var_samp over all of ``b``."""
    ok = ~np.isnan(r)
    return float(np.cov(r[ok], b[ok], ddof=1)[0, 1] / np.var(b, ddof=1))


def greeks(r: np.ndarray, b: np.ndarray) -> tuple[float, float]:
    bt = beta(r, b)
    return (float(_valid(r).mean()) - bt * float(b.mean())) * PPY, bt


def correlation(r: np.ndarray, b: np.ndarray) -> float:
    ok = ~np.isnan(r)
    return float(np.corrcoef(r[ok], b[ok])[0, 1])
