"""Long-frame (keyed) metrics: per-key parity with the wide-frame API.

The long path must produce, for every key, exactly what the wide-frame
``stats.*`` functions produce on that key's series — same expressions,
different (O(1)-plan) execution shape.
"""

from __future__ import annotations

import datetime as dt
import math
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest
from pyspark.sql import functions as F

from alphastats_spark import stats
from alphastats_spark.long_frame import metrics_by_key
from alphastats_spark.operators import ordered


@pytest.fixture(scope="module")
def long_and_wide(spark):
    rng = np.random.RandomState(2)
    dates = [dt.date(2021, 1, 1) + dt.timedelta(days=i) for i in range(300)]
    rows, series = [], {}
    for k, scale in (("a", 0.01), ("b", 0.02), ("c", 0.005)):
        vals = rng.normal(0.0005, scale, len(dates))
        vals[5] = 0.0  # exercise the non-zero filters
        series[k] = [float(v) for v in vals]
        rows += [(k, d, float(v)) for d, v in zip(dates, vals)]
    long_df = spark.createDataFrame(rows, "asset string, d date, r double")
    wides = {
        k: spark.createDataFrame(list(zip(dates, series[k])), "d date, r double")
        for k in series
    }
    return long_df, wides


PARITY_FNS = {
    "comp": stats.comp,
    "cagr": stats.cagr,
    "sharpe": stats.sharpe,
    "sortino": stats.sortino,
    "volatility": stats.volatility,
    "win_rate": stats.win_rate,
    "payoff_ratio": stats.payoff_ratio,
    "profit_factor": stats.profit_factor,
    "tail_ratio": stats.tail_ratio,
    "kelly_criterion": stats.kelly_criterion,
    "value_at_risk": stats.value_at_risk,
    "cvar": stats.cvar,
    "max_drawdown": stats.max_drawdown,
    "ulcer_index": stats.ulcer_index,
    "recovery_factor": stats.recovery_factor,
    "longest_drawdown_days": stats.longest_drawdown_days,
    "avg_drawdown_days": stats.avg_drawdown_days,
    "avg_drawdown": stats.avg_drawdown,
}


def test_metrics_by_key_matches_wide_api(spark, long_and_wide):
    long_df, wides = long_and_wide
    out = {r["asset"]: r.asDict() for r in metrics_by_key(long_df).collect()}
    assert set(out) == set(wides)
    for key, wide in wides.items():
        for name, fn in PARITY_FNS.items():
            want = fn(wide).first()["r"]
            got = out[key][name]
            if want is None or (isinstance(want, float) and math.isnan(want)):
                assert got is None or math.isnan(got), (key, name, got, want)
            else:
                assert got == pytest.approx(want, rel=1e-9), (key, name)


def test_metrics_by_key_plan_scales(spark, long_and_wide):
    """No raw-row single-partition exchange, no Python UDF, no nested-loop
    join — the keyed machinery must stay parallel across keys."""
    from alphastats_spark.plans.audit import audit as plan_audit

    long_df, _ = long_and_wide
    findings = [
        f
        for f in plan_audit(metrics_by_key(long_df))
        if f.kind in ("single-partition-exchange", "python-row-udf", "nested-loop-join")
    ]
    assert not findings, findings


def test_keyed_drawdowns_match_keyless(spark, long_and_wide):
    """Per-key drawdown series from the keyed prefix machinery equals the
    keyless machinery run on each key's series alone."""
    from alphastats_spark.operators import keyed

    long_df, wides = long_and_wide
    enriched = keyed.with_order_keyed(long_df, "d")
    enriched = keyed.add_drawdown_columns_keyed(enriched, ["asset"], {"dd": "r"})
    got = {
        (r["asset"], r["d"]): r["dd"]
        for r in enriched.select("asset", "d", "dd").collect()
    }
    for key, wide in wides.items():
        want_rows = stats.to_drawdowns(wide).collect()
        for r in want_rows:
            assert got[(key, r["d"])] == pytest.approx(r["r"], rel=1e-12, abs=1e-15), (
                key,
                r["d"],
            )


def test_smart_ratios_by_key_match_wide_api(spark, long_and_wide):
    """In-plan closed-form penalty must equal the wide API's driver-side
    computation per key."""
    from alphastats_spark.long_frame import smart_ratios_by_key

    long_df, wides = long_and_wide
    out = {r["asset"]: r.asDict() for r in smart_ratios_by_key(long_df).collect()}
    for key, wide in wides.items():
        assert out[key]["smart_sharpe"] == pytest.approx(
            stats.smart_sharpe(wide).first()["r"], rel=1e-9
        ), key
        assert out[key]["smart_sortino"] == pytest.approx(
            stats.smart_sortino(wide).first()["r"], rel=1e-9
        ), key
        assert out[key]["autocorr_penalty"] == pytest.approx(
            stats.autocorr_penalty(wide).first()["r"], rel=1e-9
        ), key


def test_benchmark_metrics_by_key_match_wide_api(spark, long_and_wide):
    from alphastats_spark.long_frame import benchmark_metrics_by_key

    long_df, wides = long_and_wide
    bench = wides["c"].select("d", F.col("r").alias("bench"))
    out = {
        r["asset"]: r.asDict()
        for r in benchmark_metrics_by_key(long_df, bench).collect()
    }
    def close(got, want, ctx):
        if want is None or (isinstance(want, float) and math.isnan(want)):
            assert got is None or math.isnan(got), ctx
        else:
            assert got == pytest.approx(want, rel=1e-9), ctx

    for key, wide in wides.items():
        g = stats.greeks(wide, bench).first()["r"]
        close(out[key]["alpha"], g["alpha"], (key, "alpha"))
        close(out[key]["beta"], g["beta"], (key, "beta"))
        # key "c" IS the benchmark: active returns are identically 0 and
        # IR is NaN on both paths
        close(
            out[key]["information_ratio"],
            stats.information_ratio(wide, bench).first()["r"],
            (key, "ir"),
        )
        close(out[key]["correlation"], stats.correlation(wide, bench).first()["r"], (key, "corr"))
        close(out[key]["treynor_ratio"], stats.treynor_ratio(wide, bench).first()["r"], (key, "tr"))


def test_correlation_matrix(spark):
    import datetime as dt

    from alphastats_spark.long_frame import correlation_matrix

    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(10):
        d = d0 + dt.timedelta(days=i)
        r = 0.01 * (i % 3 - 1)
        rows.append(("a", d, r))
        rows.append(("b", d, 2 * r))        # perfectly correlated with a
        rows.append(("c", d, -r))           # perfectly anti-correlated
    # d overlaps a on only 4 dates
    for i in range(4):
        rows.append(("d", d0 + dt.timedelta(days=i), [0.05, -0.01, 0.02, 0.0][i]))
    df = spark.createDataFrame(rows, "asset string, d date, r double")
    out = {(r["asset_a"], r["asset_b"]): r for r in correlation_matrix(df).collect()}
    assert len(out) == 6  # C(4,2) pairs
    assert out[("a", "b")]["corr"] == pytest.approx(1.0)
    assert out[("a", "c")]["corr"] == pytest.approx(-1.0)
    assert out[("a", "b")]["n_obs"] == 10
    assert out[("a", "d")]["n_obs"] == 4  # pairwise-complete on overlap only


def _same_cell(got, want) -> bool:
    """NULL, NaN and ±inf exactly; finite values within rel=1e-12 (the
    groupBy shuffle may reorder a key's sums)."""
    if got is None or want is None:
        return got is None and want is None
    if isinstance(want, float) and (math.isnan(want) or math.isinf(want)):
        return repr(float(got)) == repr(want)
    return got == pytest.approx(want, rel=1e-12)


def test_metrics_by_key_matches_wide_api_on_edge_series(spark):
    """Every metrics_by_key column with a stats.* counterpart equals that
    function on the key's series for the report's edge series: all
    positive, all zero, constant, a -100% day, below -100%, and 1-, 2- and
    3-row keys."""
    from test_reports import EDGE_FRAMES

    d0 = dt.date(2023, 1, 2)
    groups = [EDGE_FRAMES[g] for g in ("five_rows", "one_row", "two_rows", "three_rows")]
    rows = [
        (k, d0 + dt.timedelta(days=i), float(v))
        for group in groups
        for k, vals in group.items()
        for i, v in enumerate(vals)
    ]
    long_df = spark.createDataFrame(rows, "asset string, d date, r double")
    out = {r["asset"]: r.asDict() for r in metrics_by_key(long_df).collect()}
    assert set(out) == {k for group in groups for k in group}

    # one wide frame per series length: one call per function covers it
    wides = []
    for group in groups:
        names = list(group)
        wide_rows = [
            (d0 + dt.timedelta(days=i), *(group[k][i] for k in names))
            for i in range(len(group[names[0]]))
        ]
        schema = "d date, " + ", ".join(f"{k} double" for k in names)
        wides.append(spark.createDataFrame(wide_rows, schema))

    def values(fn):
        return {k: v for wide in wides for k, v in fn(wide).first().asDict().items()}

    # tiny frames: each call is fixed per-job cost, so run them side by side
    mark = ordered.pass_cache_mark()
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            wants = dict(zip(PARITY_FNS, pool.map(values, PARITY_FNS.values())))
    finally:
        ordered.release_pass_caches(mark)
    wrong = [
        f"{key} {name}: keyed {out[key][name]!r} != wide {want[key]!r}"
        for name, want in wants.items()
        for key in out
        if not _same_cell(out[key][name], want[key])
    ]
    assert not wrong, "\n".join(wrong)
