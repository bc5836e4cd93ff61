"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

A/B mode — ``python bench.py --ab <git-ref> [--rounds N]`` — answers the
question a single-run artifact cannot on this box (±20-40% same-code
spread observed across rounds 8-10): is a delta code or box state? It
checks ``<git-ref>`` out into a temporary worktree and runs the full
bench of BOTH builds as subprocesses, interleaved A,B,A,B,... in one
benching session (each run pays the same warm-up discipline; pairing
controls for box drift between rounds), then reports paired per-query
medians and deltas in one JSON line (metric ``ab_bench``; positive
delta_pct = current build slower). Regression calls should be made from
this block, never from comparing two single-run artifacts taken hours
apart.

Each headline query exercises a different part of the engine:
  q_snapshot   — one-pass multi-metric aggregate (10 metrics, single agg)
  q_drawdowns  — distributed prefix machinery (log-space cumprod + cummax)
  q_episodes   — gaps-and-islands episode stats
  q_greeks     — as-of join + benchmark CAPM aggregates
  q_monthly    — calendar re-bucketing
  q_report     — full batched 36-row report

Scale validation is a per-round committed artifact from round 6 on:
SCALE_rN.json via scripts/gen_scale.py (scale_run.py sf1 + sf10,
scale_ext.py extension families — from round 8 including a 100x deep
point for the four heaviest probes). Round-8 record: sf1 totals 10.4s
and sf10 (100x the bench inputs) 12.2s — 1.4x the sf0.1 wall for 100x
the data; the deep probes run three decades (5k -> 50k -> 500k docs)
with exponents lsh_deduplicate 0.18/0.57, containment 0.39/0.57,
overlap matrix 0.35/0.30, knn_join ~n·log n (the multiprobe plane
factor, measured under the model both decades).

The band-bucket guard (dedup.MAX_BAND_BUCKET — what keeps the LSH band
self-join from going quadratic on boilerplate-heavy corpora; the round-8
500k-doc probe died on 79 GB of spill without it) is a window count
fused into the band-table pass from round 9: its round-8 form (separate
aggregate + broadcast stage) cost ~2s of fixed q_dedup latency; the
fused form measured 11.46s -> 8.93s on a same-session sf0.1 A/B. The
r5-r7 q_snapshot "creep" (1.26 -> 1.41) did not reproduce on an idle
box (1.09-1.31 in round 8) — it was driver-side contention, not code.

The emitted JSON carries load_avg (1-minute, captured BEFORE the Spark
session starts) so a contended artifact is self-describing: treat any
run with load_avg > ~2 on this 32-core box as contended and prefer an
idle re-measure over a code-regression reading (the round-8 official/
idle split proved the failure mode).

Round 15 (additions only; min-based fields keep their exact prior
meaning): when the contended stamp fires, or the in-run spread exceeds
2x (contention that develops mid-bench — the post-run load average
cannot detect it because it reads the bench's own 32-core load), each
headline query auto-extends from 3 to 5 runs and each extension query
from 2 to 3. "queries_median"/"value_median"/"extensions_median" are
emitted alongside the min-based "queries"/"value"/"extensions" on every
run, and "extended_for_contention" records whether the extension fired.
Under load the median over 5 interleaved runs is the number to read;
idle, median and min agree within noise (the r15 idle + synthetic-load
artifact pair pins that).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    # captured BEFORE the session starts: the box's pre-existing load, not
    # the bench's own — makes a contended artifact self-describing
    try:
        load_avg = round(os.getloadavg()[0], 2)
    except OSError:  # platform without getloadavg
        load_avg = None

    from alphastats_spark.session import build_session

    spark = build_session(
        app_name="alphastats-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from alphastats_spark import expressions as X
    from alphastats_spark import reports, stats
    from alphastats_spark.operators import ordered
    from alphastats_spark.registry.shared import _event_us, _events, load_benchmark, load_returns

    # Warm the JVM once (not part of any timed query): parquet footers plus
    # one small pass through the window/aggregate/join codegen paths, so the
    # timed queries measure the engine rather than first-call JIT.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # full materialization of both derived frames: pulls the orders scan
    # through the OS page cache so the first timed run doesn't measure
    # cold-device reads (observed once at r10: a fresh box's first
    # q_snapshot paid ~10s of virtio reads that no later query repaid)
    load_returns(spark, sf_dir).count()
    load_benchmark(spark, sf_dir).count()
    warm = load_returns(spark, sf_dir).limit(500)
    warm = ordered.with_order(warm, "d")
    warm = ordered.add_drawdown_columns(warm, {"dd": "r"})
    warm.agg(F.min("dd"), X.column("sharpe", "r"), X.column("tail_ratio", "r")).collect()
    # ... and the episode machinery's stack/groupBy codegen (q_episodes'
    # first run otherwise pays ~1.5s of JIT that shows up as spread)
    stats.longest_drawdown_days(load_returns(spark, sf_dir).limit(500)).collect()
    ordered.release_pass_caches()

    def q_snapshot():
        rets = load_returns(spark, sf_dir)
        spec = X.Spec(v="r")
        outputs = {
            "total_return": "comp", "cagr": "cagr", "sharpe": "sharpe", "sortino": "sortino",
            "volatility": "volatility", "win_rate": "win_rate",
            "profit_factor": "profit_factor", "tail_ratio": "tail_ratio",
            "kelly": "kelly_criterion", "skew": "skew",
        }
        return X.project(rets, {out: (name, spec) for out, name in outputs.items()}).collect()

    def q_drawdowns():
        rets = load_returns(spark, sf_dir).persist()
        ddf = ordered.with_order(rets, "d")
        ddf = ordered.add_drawdown_columns(ddf, {"dd": "r"})
        out = ddf.agg(
            F.min("dd"), F.sqrt(F.sum(F.pow(F.col("dd"), 2)) / (F.count("r") - 1))
        ).collect()
        rets.unpersist()
        return out

    def q_episodes():
        rets = load_returns(spark, sf_dir)
        return stats.longest_drawdown_days(rets).collect()

    def q_greeks():
        rets = load_returns(spark, sf_dir)
        bench = load_benchmark(spark, sf_dir)
        return stats.greeks(rets, bench).collect()

    def q_monthly():
        rets = load_returns(spark, sf_dir)
        monthly, _ = stats._simple_returns(rets, "month", True)
        return monthly.agg(
            X.column("expected_return", "r"), F.max("r"), F.min("r")
        ).collect()

    def q_report():
        rets = load_returns(spark, sf_dir)
        return reports.metrics(rets, display=False, mode="basic").collect()

    queries = {
        "q_snapshot": q_snapshot,
        "q_drawdowns": q_drawdowns,
        "q_episodes": q_episodes,
        "q_greeks": q_greeks,
        "q_monthly": q_monthly,
        "q_report": q_report,
    }

    # ---- extension-family headliners (separate metric group) --------------
    # The six finance-side queries above are the round-over-round headline
    # ("value") so the driver's comparison stays apples-to-apples with
    # r1-r5. The LLM-data-pipeline families get their own timed group:
    # the composed MinHash-LSH dedup with lineage, IVF-PQ top-k (including
    # its driver-side sample/train step — that IS the query as registered),
    # and the sessionized funnel.

    def x_dedup():
        from alphastats_spark.functions import dedup
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup.deduplicate(docs, threshold=0.5, lineage=True) \
            .groupBy("reason").count().collect()

    def x_ann():
        from alphastats_spark.functions import similarity
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(10_000).collect()
        sample = [r[1] for r in rows]
        qvec = [float(v) for v in next(r[1] for r in rows if r[0] == 0)]
        cents = similarity.kmeans_train(sample, 16, 5, 42)
        books = similarity.pq_train(sample, m=4, n_codes=16, n_iters=5, seed=42)
        return similarity.ivfpq_topk(emb, qvec, cents, books, k=20, nprobe=8).collect()

    def x_funnel():
        from alphastats_spark.functions import events as ev_ops
        ev = _events(spark, sf_dir)
        ev = ev.withColumn("us", _event_us(ev))
        return ev_ops.funnel(
            ev, steps=["signup", "click", "purchase"], max_gap_s=86_400
        ).collect()

    # synthetic scale dirs (scripts/scale_run.py) carry only the financial
    # tables — the extension group runs only where its inputs exist (the
    # extension families' scale probe is scripts/scale_ext.py)
    ext_queries = {}
    if os.path.exists(f"{sf_dir}/documents.parquet"):
        ext_queries["q_dedup"] = x_dedup
    if os.path.exists(f"{sf_dir}/embeddings.parquet"):
        ext_queries["q_ann"] = x_ann
    if os.path.exists(f"{sf_dir}/events.parquet"):
        ext_queries["q_funnel"] = x_funnel

    # best-of-3: the first pass absorbs residual JIT/compilation noise and
    # min is the standard steady-state estimator. All raw runs are emitted
    # ("runs") so a contended invocation is self-diagnosing — the round-2
    # official number (20.5s) never reproduced locally (steady ≈16s) because
    # the driver's bench ran concurrently with the correctness gate; with
    # per-run spreads in the JSON that situation is visible instead of
    # looking like a code regression.
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}

    def _timed_run(fn) -> float:
        mark = ordered.pass_cache_mark()
        t0 = time.perf_counter()
        fn()
        dt = round(time.perf_counter() - t0, 3)
        # each run builds a fresh lineage whose prefix passes persist
        # their windowed frames; release them OUTSIDE the timed window
        # so 18 runs don't accumulate ~30 cache entries of GC pressure
        ordered.release_pass_caches(mark)
        return dt

    for name, fn in queries.items():
        runs[name] = [_timed_run(fn) for _ in range(3)]

    # Contention robustness (r14 verdict item 2, additions only): a single
    # min-of-3 under load produced two disputed rounds. When the
    # pre-session load stamp fires — or the in-run spread says contention
    # developed mid-bench (post-run load_avg is useless: it reads the
    # bench's OWN 32-core load) — extend every headline query to 5 runs so
    # the median is taken over mostly-clean samples. "queries" stays the
    # min (same estimator as every prior round, only over more samples);
    # "queries_median" / "value_median" are ADDED alongside for readers
    # who want the contention-robust statistic.
    spread = round(
        max(max(r) / max(min(r), 1e-9) for r in runs.values()), 2
    )
    contended = bool(load_avg is not None and load_avg > 2.0)
    extended = contended or spread > 2.0
    if extended:
        for name, fn in queries.items():
            runs[name] += [_timed_run(fn) for _ in range(2)]
        spread = round(
            max(max(r) / max(min(r), 1e-9) for r in runs.values()), 2
        )

    import statistics as _stats

    for name in queries:
        timings[name] = min(runs[name])
    medians = {n: round(_stats.median(r), 3) for n, r in runs.items()}

    total = round(sum(timings.values()), 3)

    # extension group: best-of-2 (the dedup/ANN queries are several times
    # heavier than any headline query; the first run still absorbs JIT);
    # +1 run when the contention extension fired, so the median is over 3
    ext_timings: dict[str, float] = {}
    ext_runs: dict[str, list[float]] = {}
    for name, fn in ext_queries.items():
        ext_runs[name] = []
        for _ in range(3 if extended else 2):
            mark = ordered.pass_cache_mark()
            t0 = time.perf_counter()
            fn()
            ext_runs[name].append(round(time.perf_counter() - t0, 3))
            ordered.release_pass_caches(mark)
            spark.catalog.clearCache()
        ext_timings[name] = min(ext_runs[name])
    ext_medians = {n: round(_stats.median(r), 3) for n, r in ext_runs.items()}

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "load_avg": load_avg,
                # self-describing contention flag (r9 verdict: two rounds
                # of official artifacts were recorded under load and the
                # regression question was unanswerable) — readers should
                # prefer an idle re-measure over a code-regression reading
                # whenever this is true
                "contended": contended,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs": runs,
                "max_run_spread": spread,
                # additions (r15): medians over all runs, and whether the
                # contention extension (5 headline runs instead of 3)
                # fired — min-based fields above are unchanged in meaning
                "queries_median": medians,
                "value_median": round(sum(medians.values()), 3),
                "extended_for_contention": extended,
                "extensions": ext_timings,
                "extensions_total": round(sum(ext_timings.values()), 3),
                "extensions_runs": ext_runs,
                "extensions_median": ext_medians,
            }
        )
    )
    spark.stop()


def _run_bench_subprocess(repo_dir: str) -> dict:
    """One full bench of the build at ``repo_dir``; returns its JSON."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.join(repo_dir, "bench.py")],
        cwd=repo_dir,
        env=os.environ.copy(),
        capture_output=True,
        text=True,
        check=False,
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"bench run in {repo_dir} produced no JSON line "
        f"(exit {proc.returncode}):\n{proc.stderr[-2000:]}"
    )


def run_ab(ref: str, rounds: int) -> None:
    """Interleaved A/B: current tree vs ``ref`` in a temp worktree."""
    import shutil
    import statistics
    import subprocess
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    wt = tempfile.mkdtemp(prefix="bench_ab_")
    subprocess.run(
        ["git", "worktree", "add", "--detach", wt, ref],
        cwd=here, check=True, capture_output=True,
    )
    a_raw: list[dict] = []
    b_raw: list[dict] = []
    extra_rounds = 0
    try:
        r = 0
        while r < rounds + extra_rounds:
            a_raw.append(_run_bench_subprocess(here))
            b_raw.append(_run_bench_subprocess(wt))
            # r11 verdict item 7: a contended round poisons its pair's
            # medians. One extra interleaved round per contended round
            # (capped at `rounds`, so a persistently loaded box still
            # terminates) keeps the median over mostly-clean pairs; the
            # stamps below let the reader re-make the call either way.
            if (
                (a_raw[-1].get("contended") or b_raw[-1].get("contended"))
                and extra_rounds < rounds
            ):
                extra_rounds += 1
                print(
                    f"# round {r} contended "
                    f"(load_avg a={a_raw[-1].get('load_avg')} "
                    f"b={b_raw[-1].get('load_avg')}) — adding a round",
                    file=sys.stderr,
                )
            r += 1
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=here, check=False, capture_output=True,
        )
        shutil.rmtree(wt, ignore_errors=True)

    def flat(run: dict) -> dict:
        out = dict(run.get("queries", {}))
        out.update(run.get("extensions", {}))
        return out

    # pair only the queries both builds implement (an older ref may lack
    # newer headliners) — per-query medians over the interleaved rounds
    common = sorted(set(flat(a_raw[0])) & set(flat(b_raw[0])))
    pairs = {}
    for q in common:
        a = [flat(r)[q] for r in a_raw]
        b = [flat(r)[q] for r in b_raw]
        am, bm = statistics.median(a), statistics.median(b)
        pairs[q] = {
            "a": a, "b": b,
            "a_med": round(am, 3), "b_med": round(bm, 3),
            "delta_pct": round((am - bm) / bm * 100, 1) if bm else None,
        }
    a_tot = statistics.median(
        [sum(flat(r)[q] for q in common) for r in a_raw]
    )
    b_tot = statistics.median(
        [sum(flat(r)[q] for q in common) for r in b_raw]
    )
    print(
        json.dumps(
            {
                "metric": "ab_bench",
                "ref": ref,
                "rounds": rounds + extra_rounds,
                "rounds_requested": rounds,
                "contended_rounds": [
                    i
                    for i in range(len(a_raw))
                    if a_raw[i].get("contended") or b_raw[i].get("contended")
                ],
                "sf": a_raw[0].get("sf"),
                "common_queries": common,
                "pairs": pairs,
                "total_a_med": round(a_tot, 3),
                "total_b_med": round(b_tot, 3),
                "total_delta_pct": round((a_tot - b_tot) / b_tot * 100, 1)
                if b_tot else None,
                "load_avgs_a": [r.get("load_avg") for r in a_raw],
                "load_avgs_b": [r.get("load_avg") for r in b_raw],
                "a_runs": a_raw,
                "b_runs": b_raw,
            }
        )
    )


if __name__ == "__main__":
    if "--ab" in sys.argv:
        _ref = sys.argv[sys.argv.index("--ab") + 1]
        _rounds = (
            int(sys.argv[sys.argv.index("--rounds") + 1])
            if "--rounds" in sys.argv
            else 3
        )
        run_ab(_ref, _rounds)
    else:
        main()
