"""Relative-error bounds for every ``exact=False`` branch.

The engine's percentile-consuming operators all expose ``exact=False`` —
the KLL-sketch ``approx_percentile`` path that makes them feasible at
100 TB (bounded memory, mergeable partial aggregation) — but until this
test the only pinned approximation bound was the HLL 5% one. Each case
runs the SAME operator both ways on the driver testdata at sf0.01 and
asserts the approximate answer lands within a pinned relative error of
the exact one, the way ``test_ivfpq_recall_and_levers`` pins ANN recall.

With ``accuracy=10000`` (the default) and sf0.01-sized groups the sketch
rank error is < 1 rank, so the residual error is the interpolation gap
between adjacent order statistics — small but NOT zero; the bounds below
(5%) leave room for that gap on heavy-tailed columns while still failing
on any real regression (a mis-wired quantile, a cutoff flip, a
percentile/approx_percentile argument swap all produce >> 5%).
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/orders.parquet"), reason="driver testdata not present"
)

REL_TOL = 0.05


def _rel_err(approx: float, exact: float) -> float:
    if exact == 0:
        return abs(approx)
    return abs(approx - exact) / abs(exact)


def _scalar(df) -> float:
    row = df.collect()[0]
    return float(row[len(row) - 1])


@pytest.mark.parametrize(
    "metric", ["tail_ratio", "common_sense_ratio", "outlier_win_ratio", "outlier_loss_ratio"]
)
def test_stats_approx_percentile_bounds(spark, metric):
    from alphastats_spark import stats
    from alphastats_spark.registry.shared import load_returns

    rets = load_returns(spark, SF_DIR).persist()
    fn = getattr(stats, metric)
    exact = _scalar(fn(rets))
    approx = _scalar(fn(rets, exact=False))
    rets.unpersist()
    assert math.isfinite(exact) and math.isfinite(approx)
    assert _rel_err(approx, exact) <= REL_TOL, (metric, approx, exact)


def test_length_quantiles_approx_bounds(spark):
    from alphastats_spark.functions import pipeline

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qcols = ["p25_tokens", "p50_tokens", "p75_tokens", "p95_tokens"]
    exact = {r["source"]: r for r in pipeline.length_quantiles(docs).collect()}
    approx = {r["source"]: r for r in pipeline.length_quantiles(docs, exact=False).collect()}
    assert set(exact) == set(approx) and exact
    for src, erow in exact.items():
        arow = approx[src]
        # non-percentile columns are computed identically in both modes
        assert (arow["n_docs"], arow["max_tokens"]) == (erow["n_docs"], erow["max_tokens"])
        for c in qcols:
            assert _rel_err(float(arow[c]), float(erow[c])) <= REL_TOL, (src, c, arow[c], erow[c])


def _events(spark):
    from alphastats_spark.registry.events import _events_us

    return _events_us(spark, SF_DIR)


def test_inter_event_gaps_approx_bounds(spark):
    from alphastats_spark.functions import events as ev_ops

    ev = _events(spark).persist()
    exact = {r["event_type"]: r for r in ev_ops.inter_event_gaps(ev).collect()}
    approx = {r["event_type"]: r for r in ev_ops.inter_event_gaps(ev, exact=False).collect()}
    ev.unpersist()
    assert set(exact) == set(approx) and exact
    for t, erow in exact.items():
        arow = approx[t]
        assert arow["n_gaps"] == erow["n_gaps"]
        for c in ("median_gap_us", "p95_gap_us"):
            assert _rel_err(float(arow[c]), float(erow[c])) <= REL_TOL, (t, c, arow[c], erow[c])


def test_check_constraints_hll_uniqueness_bounds(spark):
    """``unique(approx=True)`` swaps exact COUNT DISTINCT for the HLL
    sketch; the pinned property is the sketch's documented bound — the
    approx violation count lands within REL_TOL of the exact one,
    *relative to the non-null row count* (violations = rows − distinct, so
    a ±2% distinct-count error is a ±2%-of-rows violation error; the
    exact count can legitimately be 0, which makes a violations-relative
    bound degenerate)."""
    from alphastats_spark.functions import checks

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_rows = docs.count()
    rules = []
    for col in ("doc_id", "source"):
        rules.append(checks.unique(col, name=f"exact({col})"))
        rules.append(checks.unique(col, name=f"hll({col})", approx=True))
    rep = {r["rule"]: r for r in checks.check_constraints(docs, rules).collect()}
    assert len(rep) == 4
    for col in ("doc_id", "source"):
        exact_v = rep[f"exact({col})"]["violations"]
        approx_v = rep[f"hll({col})"]["violations"]
        assert rep[f"exact({col})"]["n_rows"] == n_rows
        assert abs(approx_v - exact_v) <= REL_TOL * n_rows, (col, approx_v, exact_v)
    # doc_id really is unique, source really isn't — the bound above must
    # not be vacuous on either side
    assert rep["exact(doc_id)"]["violations"] == 0
    assert rep["exact(source)"]["violations"] > REL_TOL * n_rows


def test_value_anomalies_approx_bounds(spark):
    """The approximate median/MAD may move borderline rows across the z
    threshold, so the pinned property is set-level: the two flag sets
    overlap almost entirely, and on the overlap the robust-z scores agree
    to the percentile tolerance."""
    from alphastats_spark.functions import events as ev_ops

    ev = _events(spark).persist()
    exact = {r["event_id"]: float(r["robust_z"]) for r in ev_ops.value_anomalies(ev, z=3.0).collect()}
    approx = {r["event_id"]: float(r["robust_z"]) for r in ev_ops.value_anomalies(ev, z=3.0, exact=False).collect()}
    ev.unpersist()
    assert exact, "no anomalies flagged at sf0.01 — test data drifted"
    sym = set(exact) ^ set(approx)
    assert len(sym) <= max(1, len(set(exact) | set(approx)) // 10), (
        len(sym), len(exact), len(approx))
    both = set(exact) & set(approx)
    assert both
    for eid in both:
        assert _rel_err(approx[eid], exact[eid]) <= REL_TOL, (eid, approx[eid], exact[eid])
