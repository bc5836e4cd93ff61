"""The benchmark's workloads: what each generates at set-up, the fixed cycle
of operations its single closed-loop client repeats, and how each output is
checked against :mod:`reference`.

An operation reads its inputs through ``sources``, calls one public library
function and materializes the result the way a caller would; only that part
is timed. Each public call runs inside a span named after the function.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

import gen
import reference as ref
from alphastats_spark import long_frame, reports, sources, stats
from alphastats_spark.functions import dedup
from alphastats_spark.sources.readers import read_corpus


@dataclass
class Op:
    kind: str                            # "main" or "side"
    label: str
    run: Callable[[Any], Any]            # tracer -> result; the timed part
    check: Callable[[Any], list[str]]    # result -> mismatches
    prepare: Callable[[], None] | None = None  # untimed input generation


def _mismatch(what: str, got, want) -> str:
    return f"{what}: got {got!r}, want {want!r}"


class Tearsheet:
    """An analyst iterating on one strategy against a benchmark: a full
    report, then single ``stats`` calls, then the tables of the keyed
    (long-frame) API over the same returns. The data is tiny, so time is
    driver planning and per-job fixed cost."""

    name = "tearsheet"
    YEARS = 10
    STRATEGIES = 1
    STATS = ("sharpe", "to_drawdowns", "greeks", "longest_drawdown_days", "best_month")
    KEYED = ("metrics_by_key", "benchmark_metrics_by_key")

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.ret_path = os.path.join(work, "returns")
        self.long_path = os.path.join(work, "returns_long")
        self.bench_path = os.path.join(work, "benchmark")

    def setup(self) -> None:
        d = gen.tearsheet(self.seed, years=self.YEARS, n_strategies=self.STRATEGIES)
        gen.write_parquet(self.ret_path, {"date": d.dates, **d.returns})
        gen.write_parquet(self.long_path, {
            "asset": np.repeat(list(d.returns), len(d.dates)),
            "date": np.tile(d.dates, len(d.returns)),
            "r": np.concatenate(list(d.returns.values())),
        })
        gen.write_parquet(self.bench_path, {"date": d.bench_dates, "spy": d.bench})
        self.data = d
        self.names = list(d.returns)
        self.want = self._reference(d)

    @staticmethod
    def _reference(d: gen.Tearsheet) -> dict[str, dict[str, dict[str, float]]]:
        """op label -> row label (or column) -> column (or field) -> value."""
        # match_dates=True keeps only dates the benchmark has; the report
        # then fills nulls with 0
        keep = np.isin(d.dates, d.bench_dates)
        dates = d.dates[keep]
        series = {"Benchmark": d.bench}
        series.update({n: np.nan_to_num(r[keep], nan=0.0) for n, r in d.returns.items()})
        report_rows = {
            "Cumulative Return": ref.comp,
            "Sharpe": ref.sharpe,
            "Sortino": ref.sortino,
            "Max Drawdown": lambda r: float(np.nanmin(ref.drawdowns(r))),
            "Longest DD Days": lambda r: ref.longest_drawdown_days(None, r),
            "Volatility (ann.)": ref.volatility,
            "Best Day": lambda r: float(r.max()),
            "Worst Day": lambda r: float(r.min()),
            "Win Days": ref.win_rate,
            "Best Month": lambda r: float(ref.monthly_comp(dates, r).max()),
            "Worst Month": lambda r: float(ref.monthly_comp(dates, r).min()),
        }
        want = {"reports.metrics": {
            label: {c: fn(r) for c, r in series.items()} for label, fn in report_rows.items()
        }}

        b = ref.asof(d.dates, d.bench_dates, d.bench)
        per_col = {
            "stats.sharpe": lambda r: {"": ref.sharpe(r)},
            "stats.greeks": lambda r: dict(zip(("alpha", "beta"), ref.greeks(r, b))),
            "stats.longest_drawdown_days": lambda r: {"": ref.longest_drawdown_days(d.dates, r)},
            "stats.best_month": lambda r: {"": float(ref.monthly_comp(d.dates, r).max())},
            "long_frame.metrics_by_key": lambda r: {
                "n_obs": int(np.sum(~np.isnan(r))), "comp": ref.comp(r),
                "sharpe": ref.sharpe(r), "volatility": ref.volatility(r),
                "best": float(np.nanmax(r)), "worst": float(np.nanmin(r)),
                "max_drawdown": float(np.nanmin(ref.drawdowns(r))),
                "longest_drawdown_days": ref.longest_drawdown_days(d.dates, r),
            },
            "long_frame.benchmark_metrics_by_key": lambda r: {
                "alpha": ref.greeks(r, b)[0], "beta": ref.beta(r, b),
                "correlation": ref.correlation(r, b),
            },
        }
        for label, fn in per_col.items():
            want[label] = {c: fn(r) for c, r in d.returns.items()}
        return want

    def _read(self, tr, path):
        with tr.span("sources.read"):
            return sources.read_returns(self.spark, path)

    def cycle(self) -> list[Op]:
        ops = [Op("main", "reports.metrics", self._report, self._check_report)]
        for fn in self.STATS:
            ops.append(Op("side", f"stats.{fn}", self._call(stats, fn, self.ret_path),
                          self._check_stat(f"stats.{fn}")))
        for fn in self.KEYED:
            ops.append(Op("side", f"long_frame.{fn}", self._call(long_frame, fn, self.long_path),
                          self._check_keyed(f"long_frame.{fn}")))
        return ops

    def _report(self, tr):
        rets, bench = self._read(tr, self.ret_path), self._read(tr, self.bench_path)
        with tr.span("reports.metrics"):
            return reports.metrics(
                rets, benchmark=bench, mode="full", display=False, numeric=True,
                strategy_title=self.names,
            ).collect()

    def _call(self, module, fn: str, path: str):
        def run(tr):
            df = self._read(tr, path)
            args = (df,)
            if fn in ("greeks", "benchmark_metrics_by_key"):
                args += (self._read(tr, self.bench_path),)
            with tr.span(f"{module.__name__.split('.')[-1]}.{fn}"):
                return getattr(module, fn)(*args).collect()
        return run

    def _check_report(self, rows) -> list[str]:
        got = {r["Metric"]: r for r in rows}
        errors = []
        for label, cols in self.want["reports.metrics"].items():
            if label not in got:
                errors.append(f"report row {label!r} missing")
                continue
            for c, want in cols.items():
                if not ref.close(got[label][c], want):
                    errors.append(_mismatch(f"report {label}/{c}", got[label][c], want))
        return errors

    def _check_stat(self, label: str):
        if label == "stats.to_drawdowns":
            return self._check_drawdowns

        def check(rows) -> list[str]:
            errors = []
            for c, fields in self.want[label].items():
                for f, want in fields.items():
                    got = rows[0][c][f] if f else rows[0][c]
                    if not ref.close(got, want):
                        errors.append(_mismatch(f"{label}/{c}{'.' + f if f else ''}", got, want))
            return errors
        return check

    def _check_keyed(self, label: str):
        def check(rows) -> list[str]:
            got = {r["asset"]: r for r in rows}
            if sorted(got) != self.names or len(rows) != len(self.names):
                return [_mismatch(f"{label} keys", [r["asset"] for r in rows], self.names)]
            errors = []
            for c, fields in self.want[label].items():
                for f, want in fields.items():
                    if not ref.close(got[c][f], want):
                        errors.append(_mismatch(f"{label}/{c}.{f}", got[c][f], want))
            return errors
        return check

    def _check_drawdowns(self, rows) -> list[str]:
        d = self.data
        if len(rows) != len(d.dates):
            return [_mismatch("to_drawdowns rows", len(rows), len(d.dates))]
        errors = []
        for c in self.names:
            want = ref.drawdowns(d.returns[c])
            for i, row in enumerate(rows):
                w = None if np.isnan(want[i]) else want[i]
                if np.datetime64(row["date"], "D") != d.dates[i] or not ref.close(row[c], w):
                    errors.append(_mismatch(f"to_drawdowns/{c} row {i}", row[c], w))
                    break
        return errors


class Corpus:
    """Near-duplicate removal on a corpus with planted copies, alternating
    a batch ``deduplicate`` with an ingest step that admits a fresh batch
    against a stored index and appends the admitted documents to it."""

    name = "corpus"
    ORIGINALS = 1000
    BATCH = 100

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed, self.work = spark, seed, work
        self.docs_path = os.path.join(work, "corpus")
        self.index_path = os.path.join(work, "index")
        self.batches = 0

    def setup(self) -> None:
        self.base = gen.corpus(self.seed, self.ORIGINALS)
        gen.write_parquet(self.docs_path, {"doc_id": self.base.ids, "text": self.base.texts})
        docs = read_corpus(self.spark, self.docs_path, format="parquet")
        dedup.write_dedup_index(docs, self.index_path, mode="overwrite")
        self.n_docs = len(self.base.ids)

    def cycle(self) -> list[Op]:
        return [
            Op("main", "dedup.deduplicate", self._dedup, self._check_dedup),
            self._ingest_op(),
        ]

    def _read(self, tr, path):
        with tr.span("sources.read"):
            return read_corpus(self.spark, path, format="parquet")

    def _dedup(self, tr):
        docs = self._read(tr, self.docs_path)
        with tr.span("dedup.deduplicate"):
            return dedup.deduplicate(docs, lineage=True).collect()

    def _check_dedup(self, rows) -> list[str]:
        if len(rows) != self.n_docs:
            return [_mismatch("lineage rows", len(rows), self.n_docs)]
        source = self.base.source
        kept = set(source.values())
        errors = []
        for r in rows:
            i = r["doc_id"]
            if i in source:
                want = (source[i], "near_dup_dropped")
            else:
                want = (i, "representative" if i in kept else "unique")
            if (r["kept_id"], r["reason"]) != want:
                errors.append(_mismatch(f"doc {i}", (r["kept_id"], r["reason"]), want))
        return errors

    def _ingest_op(self) -> Op:
        state: dict[str, Any] = {}

        def prepare():
            b = self.batches
            self.batches += 1
            first = self.n_docs + b * self.BATCH
            batch = gen.ingest_batch(self.seed, b, self.base, first, self.BATCH)
            path = os.path.join(self.work, f"batch-{b}")
            gen.write_parquet(path, {"doc_id": batch.ids, "text": batch.texts})
            state.update(batch=batch, path=path)

        def run(tr):
            new = self._read(tr, state["path"])
            with tr.span("dedup.admit_against_index"):
                rows = dedup.admit_against_index(new, self.index_path).collect()
            admitted = [r["doc_id"] for r in rows if r["admitted"]]
            with tr.span("dedup.write_dedup_index"):
                dedup.write_dedup_index(
                    new.where(F.col("doc_id").isin(admitted)), self.index_path, mode="append"
                )
            return rows

        def check(rows) -> list[str]:
            source = state["batch"].source
            if len(rows) != self.BATCH:
                return [_mismatch("admission rows", len(rows), self.BATCH)]
            errors = []
            for r in rows:
                i = r["doc_id"]
                want = (False, source[i], 1) if i in source else (True, -1, 0)
                got = (r["admitted"], r["best_match_id"], r["n_matches"])
                if got != want:
                    errors.append(_mismatch(f"batch doc {i}", got, want))
            return errors

        return Op("side", "ingest", run, check, prepare)

    def probe(self, tr) -> dict[str, float]:
        """Traced runs only: verified pairs per LSH candidate pair."""
        docs = self._read(tr, self.docs_path)
        with tr.span("dedup.lsh_candidate_pairs"):
            candidates = dedup.lsh_candidate_pairs(docs).count()
        verified = dedup.lsh_verified_pairs(docs).count()
        return {"dedup.verified_per_candidate": verified / max(candidates, 1)}


WORKLOADS = {w.name: w for w in (Tearsheet, Corpus)}
