"""The metric formula table: every ratio written once, evaluated two ways.

The reference's metrics are composable Polars expressions (e.g. ``_comp``
at ``alphastats/stats.py:49-50``). Here a metric is split in two:

* **Leaves** (``_LEAVES``): the primitive aggregates a metric reads —
  counts, plain and conditional sums and means, std/var/covar,
  skewness/kurtosis, min/max, percentiles, products — each defined once
  over the value column and, where needed, the drawdown, benchmark or
  lagged column of a :class:`Spec`.
* **Formulas** (``FORMULAS``): each metric written once over named leaves
  with Python arithmetic and a small op set — ``div`` (``fdiv``
  semantics), ``pow``, ``sqrt``, ``abs``, ``where`` (and ``cdf`` for the
  driver-only PSR). ``where`` takes its branches as thunks and evaluates
  only the one it selects, so a branch may use plain ``/`` where the
  other branch guards its zero denominator.

Two op sets evaluate the same formula in the same operation order (so
the two can differ only where the JVM's and libm's ``pow`` round an ulp
apart):

* ``FLOAT`` — :func:`evaluate` over collected leaf values, for the report
  and the driver-side ``stats`` paths (PSR, smart ratios, serenity);
* ``COLUMN`` — :func:`project` aggregates the leaves once and selects the
  formulas over the named leaf columns (one flat aggregate, however many
  ratios), and :func:`column` inlines one metric as a single aggregate
  Column for callers that need one (streaming windows, calendar buckets).

A NULL leaf makes a formula NULL: in Spark every op but ``where`` is
null-intolerant, and :func:`evaluate` returns None as soon as a formula
reads a None leaf.

Polars-vs-Spark semantic shims (critical for parity):

* ``when_pl`` — Polars ``when/then/otherwise`` yields NULL when the condition
  is NULL; Spark's ``F.when`` falls through to ``otherwise``. Metrics like
  sortino's downside mean depend on null rows staying null (so aggregate
  means skip them).
* ``fdiv`` — Polars float division yields ``±inf``/``NaN`` on zero
  denominators; Spark yields NULL. The reference's tests pin NaN/inf results
  (e.g. ``tests/test_stats.py:309-313``).
"""

from __future__ import annotations

import dataclasses
import math
from collections.abc import Callable, Mapping
from statistics import NormalDist
from types import SimpleNamespace
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from alphastats_spark._utils import to_excess_returns

_NORMAL = NormalDist()
_SQRT2 = math.sqrt(2)


def NAN() -> Column:
    return F.lit(float("nan"))


def INF() -> Column:
    return F.lit(float("inf"))


def NEG_INF() -> Column:
    return F.lit(float("-inf"))


def when_pl(cond: Column, then: Column | float, otherwise: Column | float | None) -> Column:
    """Polars-semantics when/then/otherwise: NULL condition → NULL result."""
    out = F.when(cond.isNull(), F.lit(None)).when(cond, then)
    if otherwise is not None:
        out = out.otherwise(otherwise)
    return out


def fdiv(num: Column, den: Column) -> Column:
    """Float division with IEEE semantics (x/0 → ±inf, 0/0 → NaN) like Polars."""
    num = num.cast("double")
    den = den.cast("double")
    return (
        F.when(num.isNull() | den.isNull(), F.lit(None))
        .when(den != 0, num / den)
        .when(F.isnan(num) | (num == 0), NAN())
        .when(num > 0, INF())
        .otherwise(NEG_INF())
    )


def percentile(c: Column, q: float, exact: bool = True, accuracy: int = 10000) -> Column:
    """Percentile aggregate: exact by default for reference parity, approx
    on request for extreme scale.

    ``F.percentile`` is exact (sort-based linear interpolation, matching
    Polars ``interpolation="linear"``, reference ``stats.py:1068-1090``) but
    buffers the group server-side; ``exact=False`` switches to
    ``F.approx_percentile`` (KLL-sketch, bounded memory, mergeable partial
    aggregation) — the difference between feasible and not at 100 TB.
    """
    if exact:
        return F.percentile(c, F.lit(float(q)))
    return F.approx_percentile(c, F.lit(float(q)), F.lit(int(accuracy)))


def z_score(sigma: float = 1.0, confidence: float = 0.95) -> float:
    """The parametric VaR's ``σ·Φ⁻¹(1 − confidence)`` (reference
    ``stats.py:1194-1205``, which uses ``statistics.NormalDist``)."""
    if confidence > 1:
        confidence = confidence / 100
    return _NORMAL.inv_cdf(1 - confidence) * sigma


# the serenity index's drawdown VaR z-score (reference ``stats.py:1549-1567``)
_Z_DD = _NORMAL.inv_cdf(0.05)


@dataclasses.dataclass(frozen=True, eq=False)
class Spec:
    """The columns a metric's leaves aggregate and the parameters its
    formula reads. Columns are names or Columns; ``rf`` falsy means the
    excess-return (``x_``) leaves are the plain ones."""

    v: Column | str | None = None  # returns
    dd: Column | str | None = None  # drawdown series
    b: Column | str | None = None  # benchmark returns
    prev: Column | str | None = None  # previous non-null return (autocorrelation pairs)
    rf: float | None = None
    periods: int = 252
    annualize: bool = True
    compound: bool = True
    smart: bool = False  # PSR over the autocorrelation-penalized Sharpe
    threshold: float = 0.0  # omega
    cutoff: float = 0.95  # tail ratio
    q_win: float = 0.99
    q_loss: float = 0.01
    exact: bool = True
    var_z: float = z_score()


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# leaves: name -> aggregate over the operand ``u`` (the returns, or the
# excess returns for an ``x_`` name) and the spec's other columns


def _diff(s: Spec, u: Column) -> Column:
    return u - F.lit(float(s.threshold)) if s.threshold else u


_LEAVES: dict[str, Callable[[Spec, Column], Column]] = {
    "n": lambda s, u: F.count(u),
    "nonzero": lambda s, u: F.sum((u != 0).cast("long")),
    "wins": lambda s, u: F.sum((u > 0).cast("long")),
    "losses": lambda s, u: F.sum((u < 0).cast("long")),
    "sum": lambda s, u: F.sum(u),
    "mean": lambda s, u: F.mean(u),
    "std": lambda s, u: F.stddev_samp(u),
    "skewness": lambda s, u: F.skewness(u),
    "kurtosis": lambda s, u: F.kurtosis(u),
    "best": lambda s, u: F.max(u),
    "worst": lambda s, u: F.min(u),
    "growth": lambda s, u: F.product(u + 1),
    "gains": lambda s, u: F.sum(when_pl(u >= 0, u, F.lit(0.0))),
    "pains": lambda s, u: F.sum(when_pl(u < 0, u, F.lit(0.0))),
    "down2": lambda s, u: F.mean(F.pow(when_pl(u < 0, u, F.lit(0.0)), 2)),
    "up_mean": lambda s, u: F.mean(when_pl(u > 0, u, None)),
    "down_mean": lambda s, u: F.mean(when_pl(u < 0, u, None)),
    "nonneg_mean": lambda s, u: F.mean(when_pl(u >= 0, u, None)),
    "nonzero_mean": lambda s, u: F.mean(when_pl(u != 0, u, None)),
    "omega_up": lambda s, u: F.sum(F.greatest(_diff(s, u), F.lit(0.0))),
    "omega_down": lambda s, u: F.sum(F.greatest(-_diff(s, u), F.lit(0.0))),
    "p_hi": lambda s, u: percentile(u, s.cutoff, s.exact),
    "p_lo": lambda s, u: percentile(u, 1 - s.cutoff, s.exact),
    "p_win": lambda s, u: percentile(u, s.q_win, s.exact),
    "p_loss": lambda s, u: percentile(u, s.q_loss, s.exact),
    "maxdd": lambda s, u: F.min(_col(s.dd)),
    "dd_sumsq": lambda s, u: F.sum(F.pow(_col(s.dd), 2)),
    "dd_mean": lambda s, u: F.mean(_col(s.dd)),
    "dd_std": lambda s, u: F.stddev_samp(_col(s.dd)),
    "covb": lambda s, u: F.covar_samp(u, _col(s.b)),
    "varb": lambda s, u: F.var_samp(_col(s.b)),
    "b_mean": lambda s, u: F.mean(_col(s.b)),
    "act_mean": lambda s, u: F.mean(u - _col(s.b)),
    "act_std": lambda s, u: F.stddev_samp(u - _col(s.b)),
    "corrb": lambda s, u: F.corr(u, _col(s.b)),
    "acorr": lambda s, u: F.corr(u, _col(s.prev)),
}


def _resolve(name: str, s: Spec) -> str:
    """The leaf a formula's name reads: without rf the excess returns are
    the returns themselves."""
    return name[2:] if name.startswith("x_") and not s.rf else name


def _leaf(name: str, s: Spec) -> Column:
    """Aggregate Column of the resolved leaf ``name``."""
    u = _col(s.v)
    if name.startswith("x_"):
        name, u = name[2:], to_excess_returns(u, s.rf)
    return _LEAVES[name](s, u)


# ---------------------------------------------------------------------------
# op sets


def _fdiv(num: float, den: float) -> float:
    """``fdiv`` on doubles: x/0 is ±inf, 0/0 and NaN/0 are NaN."""
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
    exp = float(exp)
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


def _lit(x: Column | float) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


FLOAT = SimpleNamespace(
    div=_fdiv,
    pow=_pow,
    sqrt=_sqrt,
    abs=abs,
    where=lambda cond, then, otherwise: then() if cond else otherwise(),
    cdf=_NORMAL.cdf,
)
COLUMN = SimpleNamespace(
    div=lambda num, den: fdiv(_lit(num), _lit(den)),
    pow=F.pow,
    sqrt=F.sqrt,
    abs=F.abs,
    where=lambda cond, then, otherwise: F.when(cond, then()).otherwise(otherwise()),
)


# ---------------------------------------------------------------------------
# formulas: (ops, leaves, spec) -> value; reference line numbers are
# alphastats/stats.py


def _leaf_formula(name: str):
    return lambda o, L, s: L[name]


def _annualized(x, s: Spec):
    return x * s.periods**0.5 if s.annualize else x


def _comp(o, L, s):
    """∏(1+r) − 1 (:49-50)."""
    return L["growth"] - 1


def _cagr(o, L, s):
    """Annualized growth over excess returns (:53-89)."""
    total = (L["x_growth"] - 1) + 1 if s.compound else L["x_sum"] + 1
    return o.pow(total, o.div(1.0, L["n"] / float(s.periods))) - 1


def _sharpe(o, L, s):
    """mean / std of excess returns (:142-175)."""
    return _annualized(o.div(L["x_mean"], L["x_std"]), s)


def _sortino(o, L, s):
    """mean / sqrt(mean(min(r,0)²)); the denominator mean is over every
    non-null row, not only the negatives (:196-232)."""
    return _annualized(o.div(L["x_mean"], o.sqrt(L["x_down2"])), s)


def _volatility(o, L, s):
    """Sample standard deviation (:349-377)."""
    return _annualized(L["std"], s)


def _win_rate(o, L, s):
    """count(r>0) / count(r≠0) (:973-983)."""
    return o.div(L["wins"], L["nonzero"])


def _payoff_ratio(o, L, s):
    """avg win / |avg loss| (:994-1000)."""
    return o.div(L["up_mean"], o.abs(L["down_mean"]))


def _profit_factor(o, L, s):
    """Σ(r≥0) / |Σ(r<0)| (:1011-1017)."""
    return o.div(L["gains"], o.abs(L["pains"]))


def _tail_ratio(o, L, s):
    """|q_cutoff| / |q_{1−cutoff}| (:1082-1092)."""
    return o.div(o.abs(L["p_hi"]), o.abs(L["p_lo"]))


def _cpc_index(o, L, s):
    """Profit factor × payoff ratio × win rate (:590-632)."""
    avg_win = o.div(L["gains"], L["wins"])
    avg_loss = o.div(o.abs(L["pains"]), L["losses"])
    return _profit_factor(o, L, s) * o.div(avg_win, avg_loss) * _win_rate(o, L, s)


def _skew(o, L, s):
    """Bias-corrected (pandas G1) skewness: Spark's ``skewness`` is the
    population g1 from a stable streaming central-moment update; G1 =
    sqrt(n(n−1))/(n−2)·g1 (:859-869)."""
    n = L["n"] * 1.0  # as a double: n·(n−1) overflows a long
    return o.div(o.sqrt(n * (n - 1)), n - 2) * L["skewness"]


def _kurtosis(o, L, s):
    """Bias-corrected excess kurtosis G2 = ((n−1)/((n−2)(n−3)))·((n+1)·g2 + 6)
    over Spark's population excess g2 (:880-891)."""
    n = L["n"] * 1.0
    return o.div(n - 1, (n - 2) * (n - 3)) * ((n + 1) * L["kurtosis"] + 6)


def _kelly_criterion(o, L, s):
    """((W·p) − (1−p)) / W, W the payoff ratio, p the win rate (:1147-1158)."""
    w, p = _payoff_ratio(o, L, s), _win_rate(o, L, s)
    return o.div((w * p) - (1 - p), w)


def _risk_of_ruin(o, L, s):
    """((1−p)/(1+p))^n (:1169-1178)."""
    p = _win_rate(o, L, s)
    return o.pow(o.div(1 - p, 1 + p), L["n"])


def _ulcer_index(o, L, s):
    """sqrt(Σ dd² / (n−1)) (:1533-1538)."""
    return o.sqrt(o.div(L["dd_sumsq"], L["n"] - 1))


def _recovery_factor(o, L, s):
    """|Σr − rf| / |max drawdown| (:1514-1522)."""
    return o.div(o.abs(L["sum"] - (s.rf or 0.0)), o.abs(L["maxdd"]))


def _beta(o, L, s):
    """cov(r, b) / var(b) (:419-471)."""
    return o.div(L["covb"], L["varb"])


def _autocorr_penalty(o, L, s):
    """sqrt(1 + 2·Σ_{x=1}^{n−1} ((n−x)/n)·c^x), c the |lag-1
    autocorrelation| (:1292-1331). The reference loops O(n); this is the
    closed form of the geometric sums, O(1):
        Σ c^x = c(1−c^m)/(1−c);  Σ x·c^x = c(1−(m+1)c^m + m c^{m+1})/(1−c)²
    NaN where the autocorrelation is undefined: a NULL coefficient fails
    ``c >= 0`` in Spark, and a NaN one propagates through the sums."""
    c, n = o.abs(L["acorr"]), L["n"] * 1.0  # n ≥ 3 wherever c is defined
    m = n - 1
    cm = o.pow(c, m)

    def geometric():
        s1 = c * (1 - cm) / (1 - c)
        s2 = c * (1 - (m + 1) * cm + m * cm * c) / o.pow(1 - c, 2)
        return s1 - s2 / n

    corr = o.where(c == 1.0, lambda: m - (m * (m + 1) / 2) / n, geometric)
    return o.where(c >= 0, lambda: o.sqrt(1 + 2 * corr), lambda: math.nan)


def _serenity_index(o, L, s):
    """(Σr − rf) / (ulcer × pitfall), pitfall = −CVaR(drawdowns)/σ(r); the
    drawdown CVaR (``ddcvar``) is a second-pass value (:1549-1567)."""
    std = L["std"]
    pitfall = o.where(std != 0, lambda: -L["ddcvar"] / std, lambda: math.nan)
    denom = _ulcer_index(o, L, s) * pitfall
    return o.where(denom != 0, lambda: (L["sum"] - (s.rf or 0.0)) / denom, lambda: math.nan)


def _probabilistic_sharpe_ratio(o, L, s):
    """Φ((SR − rf)/σ_SR) over the per-period Sharpe (:255-323); NaN where
    σ_SR is undefined (n ≤ 1, a non-positive radicand). Driver only."""
    base = o.div(L["mean"], L["std"])
    if s.smart:
        base = base / _autocorr_penalty(o, L, s)
    n = L["n"]
    radicand = o.div(
        1 + (0.5 * o.pow(base, 2)) - (_skew(o, L, s) * base)
        + (((_kurtosis(o, L, s) - 3) / 4) * o.pow(base, 2)),
        n - 1,
    )
    ok = (n > 1) & (radicand > 0)
    p = o.where(
        ok, lambda: o.cdf((base - (s.rf or 0.0)) / o.sqrt(radicand)), lambda: math.nan
    )
    return p * 252**0.5 if s.annualize else p


FORMULAS: dict[str, Callable[[Any, Any, Spec], Any]] = {
    "n_obs": _leaf_formula("n"),
    "comp": _comp,
    "cagr": _cagr,
    "sharpe": _sharpe,
    "sortino": _sortino,
    "adjusted_sortino": lambda o, L, s: _sortino(o, L, s) / _SQRT2,
    "volatility": _volatility,
    "exposure": lambda o, L, s: o.div(L["nonzero"], L["n"]),
    "omega": lambda o, L, s: o.div(L["omega_up"], L["omega_down"]),
    "expected_return": lambda o, L, s: o.pow(L["growth"], o.div(1.0, L["n"])) - 1,
    "best": _leaf_formula("best"),
    "worst": _leaf_formula("worst"),
    "skew": _skew,
    "kurtosis": _kurtosis,
    "avg_return": _leaf_formula("nonzero_mean"),
    "avg_win": _leaf_formula("up_mean"),
    "avg_loss": _leaf_formula("down_mean"),
    "win_rate": _win_rate,
    "payoff_ratio": _payoff_ratio,
    "profit_factor": _profit_factor,
    "gain_to_pain_ratio": lambda o, L, s: o.div(L["x_sum"], o.abs(L["x_pains"])),
    "common_sense_ratio": lambda o, L, s: _profit_factor(o, L, s) * _tail_ratio(o, L, s),
    "tail_ratio": _tail_ratio,
    "outlier_win_ratio": lambda o, L, s: o.div(L["p_win"], L["nonneg_mean"]),
    "outlier_loss_ratio": lambda o, L, s: o.div(L["p_loss"], L["down_mean"]),
    "cpc_index": _cpc_index,
    "kelly_criterion": _kelly_criterion,
    "risk_of_ruin": _risk_of_ruin,
    "value_at_risk": lambda o, L, s: L["mean"] + s.var_z * L["std"],
    "max_drawdown": _leaf_formula("maxdd"),
    "ulcer_index": _ulcer_index,
    "recovery_factor": _recovery_factor,
    "calmar": lambda o, L, s: o.div(_cagr(o, L, s), o.abs(L["maxdd"])),
    "drawdown_var": lambda o, L, s: L["dd_mean"] + _Z_DD * L["dd_std"],
    "serenity_index": _serenity_index,
    "beta": _beta,
    "alpha": lambda o, L, s: (L["mean"] - _beta(o, L, s) * L["b_mean"]) * s.periods,
    "information_ratio": lambda o, L, s: _annualized(o.div(L["act_mean"], L["act_std"]), s),
    "correlation": _leaf_formula("corrb"),
    "r_squared": lambda o, L, s: o.pow(L["corrb"], 2),
    "treynor_ratio": lambda o, L, s: o.div((L["growth"] - 1) - (s.rf or 0.0), _beta(o, L, s)),
    "autocorr": lambda o, L, s: o.abs(L["acorr"]),
    "autocorr_penalty": _autocorr_penalty,
    # the penalty is ≥ 1 or NaN: plain division
    "smart_sharpe": lambda o, L, s: _sharpe(o, L, s) / _autocorr_penalty(o, L, s),
    "smart_sortino": lambda o, L, s: _sortino(o, L, s) / _autocorr_penalty(o, L, s),
    "smart_adjusted_sortino": lambda o, L, s: (
        _sortino(o, L, s) / _autocorr_penalty(o, L, s) / _SQRT2
    ),
    "probabilistic_sharpe_ratio": _probabilistic_sharpe_ratio,
}


# ---------------------------------------------------------------------------
# evaluators


class _Leaves:
    """What a formula indexes: ``L[name]`` calls ``get(name)``."""

    def __init__(self, get):
        self.get = get

    def __getitem__(self, name):
        return self.get(name)


class _Probe:
    """The value :func:`leaves` gives every leaf: any arithmetic, comparison
    or op on a probe returns the probe, so a formula runs to its end
    whatever its denominators, through both branches of each ``where``,
    without building a Column."""

    def _same(self, *_):
        return self

    __add__ = __radd__ = __sub__ = __rsub__ = __mul__ = __rmul__ = _same
    __truediv__ = __rtruediv__ = __pow__ = __rpow__ = __neg__ = __abs__ = _same
    __lt__ = __le__ = __gt__ = __ge__ = __eq__ = __ne__ = __and__ = __rand__ = _same


_PROBE = _Probe()
_PROBE_OPS = SimpleNamespace(
    **dict.fromkeys(("div", "pow", "sqrt", "abs", "cdf"), _PROBE._same),
    where=lambda cond, then, otherwise: _PROBE._same(then(), otherwise()),
)


class _Null(Exception):
    """A formula read a NULL leaf."""


def evaluate(name: str, values: Mapping[str, Any], spec: Spec = Spec()) -> float | None:
    """Formula ``name`` over collected leaf values (keyed by resolved leaf
    name, plus any second-pass values it reads): None when it reads a None
    leaf, as the in-plan expression would be NULL."""

    def get(leaf):
        v = values[_resolve(leaf, spec)]
        if v is None:
            raise _Null
        return float(v)

    try:
        return FORMULAS[name](FLOAT, _Leaves(get), spec)
    except _Null:
        return None


def leaves(names, spec: Spec) -> dict[str, Column]:
    """The aggregate Columns the formulas ``names`` read, keyed by resolved
    leaf name. Values a formula reads that are not leaves (a second-pass
    ``ddcvar``) are left to the caller."""
    seen: dict[str, None] = {}

    def record(leaf):
        seen[_resolve(leaf, spec)] = None
        return _PROBE

    for name in names:
        FORMULAS[name](_PROBE_OPS, _Leaves(record), spec)
    return {
        leaf: _leaf(leaf, spec)
        for leaf in seen
        if (leaf[2:] if leaf.startswith("x_") else leaf) in _LEAVES
    }


def column(name: str, v: Column | str, **params: Any) -> Column:
    """Formula ``name`` over ``v`` as ONE aggregate Column, its leaves
    inlined (streaming windows, calendar buckets, ad-hoc ``agg`` calls)."""
    spec = Spec(v=v, **params)
    inline = _Leaves(lambda leaf: _leaf(_resolve(leaf, spec), spec))
    return _lit(FORMULAS[name](COLUMN, inline, spec))


def _aliased(aggs: Mapping[Any, Column]) -> tuple[dict[Any, str], list[Column]]:
    """Each key's result column name, and the aggregates aliased to them."""
    names = {key: f"__leaf{i}" for i, key in enumerate(aggs)}
    return names, [agg.alias(names[key]) for key, agg in aggs.items()]


def collect(frame: DataFrame, aggs: Mapping[Any, Column]) -> dict[Any, Any]:
    """ONE aggregation job over ``aggs`` (key -> aggregate Column); returns
    key -> collected value."""
    names, cols = _aliased(aggs)
    row = frame.agg(*cols).first()
    return {key: row[name] for key, name in names.items()}


def project(
    frame: DataFrame, outputs: Mapping[str, tuple[str, Spec]], keys=()
) -> DataFrame:
    """``outputs`` (column -> (formula, spec)) over ``frame`` grouped by
    ``keys``: ONE aggregation of the distinct leaves, then ONE select of
    the formulas over the named leaf columns. Lazy; each aggregate stays a
    primitive, however nested the ratio."""
    specs = {id(spec): spec for _, spec in outputs.values()}
    found = {
        (key, leaf): agg
        for key, spec in specs.items()
        for leaf, agg in leaves([n for n, s in outputs.values() if s is spec], spec).items()
    }
    names, aggs = _aliased(found)

    def reader(spec: Spec) -> _Leaves:
        return _Leaves(lambda leaf: F.col(names[(id(spec), _resolve(leaf, spec))]))

    cols = [
        _lit(FORMULAS[name](COLUMN, reader(spec), spec)).alias(out)
        for out, (name, spec) in outputs.items()
    ]
    return frame.groupBy(*keys).agg(*aggs).select(*keys, *cols)
