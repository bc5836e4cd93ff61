"""Tests for the sources (I/O) layer and the plan-audit guardrails."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from alphastats_spark import plans, stats
from alphastats_spark.sources import (
    long_to_wide,
    prices_to_returns,
    read_returns,
    wide_to_long,
    write_returns,
)

DATES = [dt.date(2023, 1, i) for i in range(1, 6)]

# Spark jobs of one small admit_against_index(...).collect(); see
# test_admit_against_index_job_count.
ADMIT_JOBS = 17


@pytest.fixture
def prices_df(spark):
    prices = [100.0, 101.0, 99.0, 102.0, 102.0]
    return spark.createDataFrame(list(zip(DATES, prices)), "date date, px double")


# ---------------------------------------------------------------------------
# sources


def test_prices_to_returns_simple(prices_df):
    rows = prices_to_returns(prices_df).orderBy("date").collect()
    assert [r["date"] for r in rows] == DATES[1:]
    expect = [101 / 100 - 1, 99 / 101 - 1, 102 / 99 - 1, 0.0]
    got = [r["px"] for r in rows]
    assert got == pytest.approx(expect, rel=1e-12)


def test_prices_to_returns_log(prices_df):
    import math

    rows = prices_to_returns(prices_df, method="log").orderBy("date").collect()
    expect = [math.log(101 / 100), math.log(99 / 101), math.log(102 / 99), 0.0]
    assert [r["px"] for r in rows] == pytest.approx(expect, rel=1e-12)


def test_prices_to_returns_matches_reference_pipeline(prices_df):
    # sharpe over converted returns must equal sharpe over hand-built returns
    rets = prices_to_returns(prices_df)
    manual = [101 / 100 - 1, 99 / 101 - 1, 102 / 99 - 1, 0.0]
    import pandas as pd

    assert stats.sharpe(rets).first()["px"] == pytest.approx(
        stats.sharpe(pd.Series(manual)), rel=1e-12
    )


def test_parquet_round_trip_nan_to_null(spark, tmp_path):
    df = spark.createDataFrame(
        [(DATES[0], 0.01), (DATES[1], float("nan")), (DATES[2], -0.02)],
        "date date, r double",
    )
    path = str(tmp_path / "rets")
    write_returns(df, path)
    back = read_returns(spark, path)
    rows = back.orderBy("date").collect()
    assert rows[1]["r"] is None  # NaN normalized to null on ingest
    assert [r["date"] for r in rows] == DATES[:3]
    # partitioned layout: __year directory exists
    import os

    assert any(p.startswith("__year=") for p in os.listdir(path))


def test_csv_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_returns(spark, str(tmp_path), format="csv")


def test_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame(list(zip(DATES, [0.01, -0.02, 0.03, -0.01, 0.02])), "d date, r double")
    path = str(tmp_path / "csv")
    df.write.option("header", "true").csv(path)
    back = read_returns(spark, path, format="csv", schema="d date, r double")
    assert back.orderBy("d").collect() == df.orderBy("d").collect()


def test_jsonl_corpus_round_trip_partitioned(spark, tmp_path):
    from alphastats_spark.sources.readers import read_corpus, write_corpus

    docs = spark.createDataFrame(
        [
            (1, 'hello "quoted"\nsecond line', "en", "web"),
            (2, "unicode ñ€ text", "es", "web"),
            (3, None, "en", "books"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    path = str(tmp_path / "corpus")
    write_corpus(docs, path, partition_by=["source"])
    import os

    assert any(p.startswith("source=") for p in os.listdir(path))
    back = read_corpus(
        spark, path, schema="doc_id bigint, text string, lang string, source string"
    )
    # JSON escaping is lossless: quotes, newlines, unicode and nulls survive
    assert sorted(back.collect(), key=lambda r: r["doc_id"]) == sorted(
        docs.collect(), key=lambda r: r["doc_id"]
    )


def test_jsonl_requires_schema(spark, tmp_path):
    from alphastats_spark.sources.readers import read_corpus

    with pytest.raises(ValueError, match="explicit schema"):
        read_corpus(spark, str(tmp_path))


def test_partitioned_read_prunes_year(spark, tmp_path):
    """A __year filter over a write_returns layout must reach the scan as a
    PartitionFilter (directory pruning), not a post-scan data filter."""
    import re

    from alphastats_spark.plans.audit import explain_string

    dates = [dt.date(2023, 6, 1), dt.date(2023, 6, 2), dt.date(2024, 6, 1)]
    df = spark.createDataFrame(
        list(zip(dates, [0.01, -0.02, 0.03])), "d date, r double"
    )
    path = str(tmp_path / "pruned")
    write_returns(df, path)
    back = read_returns(spark, path).where(F.col("__year") == 2024)
    assert back.count() == 1
    text = explain_string(back, "formatted")
    m = re.search(r"PartitionFilters: \[(?P<pf>[^\]]*)\]", text)
    assert m is not None and "__year" in m.group("pf")


def test_long_wide_round_trip(spark):
    wide = spark.createDataFrame(
        list(zip(DATES, [0.01, -0.02, 0.03, -0.01, 0.02], [0.02, -0.01, 0.01, 0.03, -0.02])),
        "date date, asset_a double, asset_b double",
    )
    long = wide_to_long(wide)
    assert long.count() == 10
    assert set(long.columns) == {"date", "asset", "r"}
    back = long_to_wide(long, "asset", "r", assets=["asset_a", "asset_b"])
    assert back.orderBy("date").collect() == wide.orderBy("date").collect()
    # metric over the round-tripped frame matches the original
    got, want = stats.comp(back).first(), stats.comp(wide).first()
    for c in ("asset_a", "asset_b"):
        assert got[c] == pytest.approx(want[c], rel=1e-12)


# ---------------------------------------------------------------------------
# plan audit


def test_audit_clean_aggregate(spark, tmp_path):
    df = spark.range(1000).withColumn("r", F.rand(seed=1))
    assert plans.audit(df.agg(F.avg("r"))) == []


def test_audit_flags_single_partition_window(spark):
    from pyspark.sql import Window

    df = spark.range(1000).withColumn("r", F.rand(seed=1))
    bad = df.withColumn("cum", F.sum("r").over(Window.orderBy("id")))
    kinds = {f.kind for f in plans.audit(bad)}
    assert "single-partition-exchange" in kinds


def test_audit_flags_row_udf(spark):
    from pyspark.sql.types import DoubleType

    plus_one = F.udf(lambda x: x + 1.0, DoubleType(), useArrow=False)
    df = spark.range(100).select(plus_one(F.col("id").cast("double")).alias("v"))
    kinds = {f.kind for f in plans.audit(df)}
    assert "python-row-udf" in kinds


def test_audit_flags_nested_loop_join(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    bad = a.join(b, a["id"] > b["id2"])
    kinds = {f.kind for f in plans.audit(bad)}
    assert "nested-loop-join" in kinds


def test_pushdown_reaches_parquet_scan(spark, tmp_path):
    path = str(tmp_path / "scan")
    spark.createDataFrame(
        list(zip(DATES, [0.01, -0.02, 0.03, -0.01, 0.02])), "d date, r double"
    ).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("r") > 0).select("r")
    scans = plans.scan_info(df)
    assert len(scans) == 1
    assert "r:" in scans[0]["read_schema"] and "d:" not in scans[0]["read_schema"]
    assert "GreaterThan" in scans[0]["pushed_filters"]
    assert plans.audit(df) == []


def test_metric_plan_is_scale_clean(spark):
    # sharpe over a temporal frame: single distributed agg, no hazards
    df = spark.createDataFrame(
        list(zip(DATES, [0.01, -0.02, 0.03, -0.01, 0.02])), "d date, r double"
    )
    plans.audit(stats.sharpe(df))  # must not raise
    from alphastats_spark.plans.audit import assert_scales

    assert_scales(stats.sharpe(df))


def test_drawdown_plan_single_partition_only_on_bucket_totals(spark):
    # the only allowed SinglePartition exchange is the per-month offsets table
    df = spark.createDataFrame(
        list(zip(DATES, [0.01, -0.02, 0.03, -0.01, 0.02])), "d date, r double"
    )
    from alphastats_spark.plans.audit import assert_scales

    assert_scales(stats.max_drawdown(df), allow=("single-partition-exchange",))


# ---------------------------------------------------------------------------
# rolling (trailing-window) metrics


def test_trailing_metrics_match_naive_window(spark):
    import random

    from pyspark.sql import Window

    from alphastats_spark.operators.rolling import trailing_metrics

    rng = random.Random(3)
    # 120 days with gaps (weekends missing) across several 30-day buckets
    rows = []
    for i in range(120):
        if i % 7 in (5, 6):
            continue
        rows.append((dt.date(2023, 1, 1) + dt.timedelta(days=i), rng.gauss(0.001, 0.02)))
    df = spark.createDataFrame(rows, "d date, r double")

    got = {
        r["d"]: (r["r_mean"], r["r_volatility"], r["r_n_obs"])
        for r in trailing_metrics(df, days=30, metrics=None).collect()
    }

    day = F.datediff(F.col("d"), F.lit("1970-01-01"))
    w = Window.orderBy(day).rangeBetween(-29, 0)
    naive = df.select(
        "d",
        F.avg("r").over(w).alias("m"),
        (F.stddev_samp("r").over(w) * F.lit(252.0**0.5)).alias("v"),
        F.count("r").over(w).cast("long").alias("n"),
    )
    want = {r["d"]: (r["m"], r["v"], r["n"]) for r in naive.collect()}
    assert set(got) == set(want)
    for d in want:
        for g, w_ in zip(got[d], want[d]):
            if g is None or w_ is None:
                assert g is None and w_ is None, d
            else:
                assert g == pytest.approx(w_, rel=1e-12), d


def test_trailing_metrics_plan_is_partitioned(spark):
    from alphastats_spark import plans
    from alphastats_spark.operators.rolling import trailing_metrics

    df = spark.createDataFrame(
        list(zip(DATES, [0.01, -0.02, 0.03, -0.01, 0.02])), "d date, r double"
    )
    out = trailing_metrics(df, days=30)
    kinds = {f.kind for f in plans.audit(out)}
    # the rolling window partitions by bucket — no global funnel
    assert "single-partition-exchange" not in kinds


def test_positional_join_no_single_partition_funnel(spark):
    """positional_join must index both sides with the parallel two-phase
    prefix (per-partition window + tiny offset broadcast), not a global
    single-partition row_number."""
    from alphastats_spark.operators.joins import positional_join
    from alphastats_spark.plans.audit import audit as plan_audit

    left = spark.range(0, 10_000, 1, 8).selectExpr("cast(id as double) as a")
    right = spark.range(0, 10_000, 1, 8).selectExpr("cast(id as double) as b")
    joined = positional_join(left, right)
    findings = [
        f for f in plan_audit(joined) if f.kind == "single-partition-exchange"
    ]
    assert not findings, findings
    # positional semantics preserved: row i of left meets row i of right
    row = joined.where("a = 42.0").first()
    assert row["b"] == 42.0
    assert joined.count() == 10_000


def test_corpus_stats_plans_scale(spark):
    """TF-IDF and n-gram plans: no global funnel, doc-frequency and N join
    as broadcasts, ranking window partitioned by document."""
    from alphastats_spark.functions import text
    from alphastats_spark.plans.audit import audit as plan_audit

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i}") for i in range(100)],
        "doc_id bigint, text string",
    )
    for out in (text.tf_idf_topk(docs, k=3), text.ngram_counts(docs, n=2)):
        findings = [
            f
            for f in plan_audit(out)
            if f.kind in ("single-partition-exchange", "python-row-udf", "nested-loop-join")
        ]
        assert not findings, findings
    from alphastats_spark.plans.audit import explain_string

    plan = explain_string(text.tf_idf_topk(docs, k=3), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


def test_tfidf_doc_freq_join_has_no_broadcast_hint(spark):
    """The per-term document-frequency table is vocabulary-sized — it grows
    with the corpus (1e8-1e9 distinct tokens at web scale), so a FORCED
    broadcast hint on the tf⋈doc_freq join is a hard job failure past the
    8 GB broadcast cap. The logical plan must carry NO broadcast hint on
    that join; AQE upgrades to broadcast at runtime when the table fits
    (which it does at test scale — the physical plan may legitimately show
    a BroadcastHashJoin), so we pin the HINT's absence, not the strategy."""
    from alphastats_spark.functions import text

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i}") for i in range(100)],
        "doc_id bigint, text string",
    )
    for out in (
        text.tf_idf_topk(docs, k=3),
        text.tfidf_similarity_pairs(docs, threshold=0.0),
    ):
        logical = out._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in logical.lower(), logical


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with no Exchange on either side (co-located scan -> sort-merge)."""
    from alphastats_spark.plans.audit import explain_string
    from alphastats_spark.sources import write_bucketed_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt_test LOCATION '{tmp_path}/wh'")
    try:
        docs = spark.range(0, 10_000, 1, 8).selectExpr(
            "id as doc_id", "cast(id % 97 as double) as score"
        )
        meta = spark.range(0, 10_000, 1, 8).selectExpr(
            "id as doc_id", "concat('lang_', id % 5) as lang"
        )
        write_bucketed_table(docs, "bkt_test.docs", ["doc_id"], 8, sort_cols=["doc_id"])
        write_bucketed_table(meta, "bkt_test.meta", ["doc_id"], 8, sort_cols=["doc_id"])

        joined = (
            spark.table("bkt_test.docs")
            .hint("merge")  # force SMJ so the exchange question is observable
            .join(spark.table("bkt_test.meta"), "doc_id")
        )
        plan = explain_string(joined, "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.sql("DROP DATABASE IF EXISTS bkt_test CASCADE")


def test_trailing_metrics_keyed_matches_per_key_runs(spark):
    """Keyed overlap-replication trailing windows equal running the keyless
    operator on each key's series alone."""
    import random

    from alphastats_spark.operators.rolling import trailing_metrics

    rng = random.Random(5)
    rows = []
    per_key = {}
    for key in ("x", "y"):
        series = []
        for i in range(90):
            if i % 9 == 4:
                continue  # gaps
            d = dt.date(2023, 1, 1) + dt.timedelta(days=i)
            v = rng.gauss(0.001, 0.02)
            series.append((d, v))
            rows.append((key, d, v))
        per_key[key] = series
    long_df = spark.createDataFrame(rows, "k string, d date, r double")

    got = {
        (r["k"], r["d"]): (r["r_mean"], r["r_n_obs"])
        for r in trailing_metrics(
            long_df, days=30, key_cols=["k"],
            metrics={"mean": lambda c, w: F.avg(c).over(w),
                     "n_obs": lambda c, w: F.count(c).over(w).cast("long")},
        ).collect()
    }
    for key, series in per_key.items():
        single = spark.createDataFrame(series, "d date, r double")
        want = {
            r["d"]: (r["r_mean"], r["r_n_obs"])
            for r in trailing_metrics(
                single, days=30,
                metrics={"mean": lambda c, w: F.avg(c).over(w),
                         "n_obs": lambda c, w: F.count(c).over(w).cast("long")},
            ).collect()
        }
        for d, vals in want.items():
            assert got[(key, d)][1] == vals[1], (key, d)
            assert got[(key, d)][0] == pytest.approx(vals[0], rel=1e-12), (key, d)


def test_prefix_pass_single_execution(spark):
    """The prefix machinery's offsets branch must read the SAME
    materialization as the main branch — ReuseExchange cannot be relied on
    (column pruning gives the offsets branch a narrower projection under
    its Exchange, so the two never canonicalize equal), so the windowed
    frame is persist()ed inside each pass. Regression-pin that the cache is
    actually wired into both branches: without it, the keyless
    monotonically_increasing_id path re-executes an unpinned lineage per
    branch and the one-scan cost model silently regresses to
    scan-per-pass."""
    from alphastats_spark.operators import ordered
    from alphastats_spark.plans.audit import explain_string

    df = spark.range(0, 10_000, 1, 4).selectExpr("cast(id as double) / 1e6 as r")

    # keyless (mono-id) path: correctness, not just cost, needs the pin
    out = ordered.add_prefix_columns(
        ordered.with_order(df, None), sums={"__s": F.col("r")}
    )
    plan = explain_string(out, "simple")
    # one InMemoryRelation feeding ≥2 scans: main branch + offsets branch
    assert plan.count("InMemoryTableScan") >= 2, plan

    # chained passes (the drawdown shape): every pass pins its frame
    dd = ordered.add_drawdown_columns(
        ordered.with_order(df, None), {"dd": "r"}, with_peak_pos=True
    )
    plan = explain_string(dd, "simple")
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_audit_round4_operators(spark):
    """Plan-audit guardrails for the round-4 operators: no single-partition
    funnels, no row UDFs, no nested-loop joins anywhere. decontaminate's
    eval-set carve-out (doc_id % 40 == 7) is a modulo predicate parquet
    cannot push, so its scan legitimately reports no pushed filters —
    everything else must be fully clean."""
    import os

    path = "/root/testdata/sf0.001"
    if not os.path.exists(f"{path}/documents.parquet"):
        pytest.skip("driver testdata not present")
    from alphastats_spark import plans
    from alphastats_spark.functions import pipeline, similarity

    docs = spark.read.parquet(f"{path}/documents.parquet")
    emb = spark.read.parquet(f"{path}/embeddings.parquet")

    assert plans.audit(pipeline.quality_filter(docs)) == []
    assert plans.audit(pipeline.source_stats(docs)) == []
    # the r10 mega-bucket guard filters on a window-count column, which
    # is unpushable by construction (same class as decontaminate's modulo
    # carve-out below); no other hazard kind may appear, and the exact
    # unguarded join must still audit fully clean
    kinds = {
        f.kind
        for f in plans.audit(similarity.knn_join(emb, k=5, n_planes=3, n_tables=2))
    }
    assert kinds <= {"unfiltered-scan"}, kinds
    assert plans.audit(
        similarity.knn_join(emb, k=5, n_planes=3, n_tables=2, max_bucket=None)
    ) == []
    kinds = {
        f.kind
        for f in plans.audit(
            pipeline.decontaminate(docs, docs.where(F.col("doc_id") % 40 == 7), n=3)
        )
    }
    assert kinds <= {"unfiltered-scan"}

    # round-5 operators: lm_score's 1-row vocab broadcast must NOT flag as
    # a nested-loop hazard; join-key isnotnull filters on derived token
    # columns legitimately cannot push to the parquet scan
    kinds = {f.kind for f in plans.audit(pipeline.lm_score(docs))}
    assert kinds <= {"unfiltered-scan"}, kinds
    assert plans.audit(
        pipeline.mix_sample(docs, weights={"src0": 1.0, "src1": 2.0}, token_budget=500)
    ) == []


def test_audit_round5_operators(spark):
    """Plan-audit guardrails for this round's operators: substring dedup,
    funnel/retention, markup strip, per-source top-k, correlation matrix.
    None may contain a row-UDF, nested-loop join, or raw-row
    single-partition funnel. Derived-column join keys (gram/pair hashes)
    legitimately cannot push to the parquet scan."""
    import datetime as date_mod
    import os

    path = "/root/testdata/sf0.001"
    if not os.path.exists(f"{path}/documents.parquet"):
        pytest.skip("driver testdata not present")
    from alphastats_spark import plans
    from alphastats_spark.functions import dedup, events, pipeline, text
    from alphastats_spark.long_frame import correlation_matrix

    docs = spark.read.parquet(f"{path}/documents.parquet")

    kinds = {f.kind for f in plans.audit(dedup.substring_dedup(docs, k=8))}
    assert kinds <= {"unfiltered-scan"}, kinds

    kinds = {f.kind for f in plans.audit(pipeline.topk_by_quality(docs, k=10))}
    assert kinds <= {"unfiltered-scan"}, kinds

    assert plans.audit(
        docs.select("doc_id", text.strip_markup(F.col("text")).alias("t"))
    ) == []

    ev = spark.createDataFrame(
        [(1, 1_000_000, "a"), (1, 2_000_000, "b")],
        "user_id bigint, us bigint, event_type string",
    )
    # the funnel's one-row summary agg is the whitelisted scalar-aggregate
    # shape — the audit is fully clean
    assert plans.audit(events.funnel(ev, ["a", "b"])) == []
    assert plans.audit(events.cohort_retention(ev)) == []

    d0 = date_mod.date(2024, 1, 1)
    long_df = spark.createDataFrame(
        [("a", d0, 0.01), ("b", d0, 0.02)], "asset string, d date, r double"
    )
    kinds = {f.kind for f in plans.audit(correlation_matrix(long_df))}
    assert kinds <= {"unfiltered-scan"}, kinds


def test_audit_round5_session_operators(spark):
    """Plan-audit guardrails for the round-5 session additions: session
    journeys, value anomalies, containment, DSIR and the incremental-
    admit audit. No row-UDF, no nested-loop join, no raw-row
    single-partition funnel in any of them (ranking in incremental_admit
    partitions by new-doc id; anomaly percentiles aggregate per type)."""
    from alphastats_spark import plans
    from alphastats_spark.functions import dedup, pipeline
    from alphastats_spark.functions import events as ev_ops

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id bigint, text string"
    )
    ev = spark.createDataFrame(
        [(1, 1_000_000, 1, "a", 1.0), (1, 2_000_000, 2, "b", 2.0)],
        "user_id bigint, us bigint, event_id bigint, event_type string, value double",
    )

    for out in (
        ev_ops.session_paths(ev, k=5),
        ev_ops.value_anomalies(
            ev.select("event_id", "event_type", "value"), z=3.0
        ),
        dedup.containment_pairs(docs, threshold=0.8),
        dedup.incremental_admit(docs.where("doc_id = 1"), docs.where("doc_id = 2")),
        pipeline.dsir_weights(docs, target=F.col("doc_id") == 1, n_buckets=64),
        pipeline.chunk_shards(docs, chunk_tokens=4),
        pipeline.corpus_rollup(
            docs.withColumn("source", F.lit("s")).withColumn("lang", F.lit("en"))
        ),
    ):
        kinds = {f.kind for f in plans.audit(out)}
        assert kinds <= {"unfiltered-scan"}, (kinds, out.columns)


def test_audit_rolling_greeks(spark):
    """rolling_greeks rides the overlap-replication machinery: windows
    partition by time bucket (no raw-row single-partition funnel) and the
    whole plan stays JVM-side (no row UDF, no nested-loop join)."""
    from alphastats_spark import plans
    from alphastats_spark.operators.rolling import rolling_greeks

    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1 + i), 0.01 * i, 0.005 * i) for i in range(10)],
        "d date, r double, b double",
    )
    kinds = {f.kind for f in plans.audit(rolling_greeks(df, days=5, benchmark_col="b"))}
    assert kinds <= {"unfiltered-scan"}, kinds


def test_interval_join_correct_and_no_nested_loop(spark):
    """Bucketized range join: exact containment semantics (inclusive both
    ends, multi-bucket spans, no duplicate matches) and a hash equi-join
    plan — the naive BETWEEN theta-join Spark turns into a nested loop is
    exactly what this operator exists to avoid."""
    from alphastats_spark.operators import joins as join_ops
    from alphastats_spark.plans.audit import explain_string

    pts = spark.createDataFrame(
        [(1, 0), (1, 50), (1, 100), (1, 101), (2, 50), (1, 250)],
        "k bigint, p bigint",
    )
    ivs = spark.createDataFrame(
        [(1, 0, 100, "a"), (1, 90, 260, "b"), (2, 60, 70, "c")],
        "k bigint, s bigint, e bigint, tag string",
    )
    out = join_ops.interval_join(
        pts, ivs, on="k", point_col="p", start_col="s", end_col="e",
        bucket_width=64,
    )
    got = {(r["k"], r["p"], r["tag"]) for r in out.collect()}
    # p=0 and p=100 are inclusive endpoints of "a"; p=100/101 fall in "b"
    # (span crosses two 64-wide buckets exactly once each); k=2 point at
    # 50 is outside [60,70]; p=250 only in "b"
    assert got == {
        (1, 0, "a"), (1, 50, "a"), (1, 100, "a"),
        (1, 100, "b"), (1, 101, "b"), (1, 250, "b"),
    }

    plan = explain_string(out, "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "hashpartitioning" in plan or "BroadcastHashJoin" in plan

    # the hazards the operator removes, on this exact Spark: a keyless
    # range join plans a nested loop outright, and the keyed naive form
    # plans a SortMergeJoin whose per-key candidate set is every
    # (point, interval) pair — quadratic in the hot key
    keyless = pts.join(ivs.drop("k"), (pts.p >= ivs.s) & (pts.p <= ivs.e))
    keyless_plan = explain_string(keyless, "simple")
    assert "NestedLoop" in keyless_plan or "CartesianProduct" in keyless_plan
    naive = pts.join(
        ivs, (pts.k == ivs.k) & (pts.p >= ivs.s) & (pts.p <= ivs.e)
    )
    naive_plan = explain_string(naive, "simple")
    assert "SortMergeJoin" in naive_plan and "p#" in naive_plan.split("SortMergeJoin")[1][:200]


def test_lsh_band_join_skew_split(spark):
    """Hot-bucket protection contract of the LSH band self-join, both
    modes (functions/dedup.py; session.py AQE posture).

    10% of a synthetic corpus shares one verbatim text, so every band
    signature of those docs lands in one (band, sig) bucket and the
    band-table self-join concentrates ~hot² work on a single join key.

    UNGUARDED (``max_band_bucket=None``): the join shuffles on (band,
    sig) itself, and AQE must SPLIT the hot bucket, not serialize it
    into one straggler task — with the skew thresholds scaled down to
    this corpus (production defaults are 256 MB / factor 5 — the same
    RELATIVE shape), the executed adaptive plan must carry a skew-split
    join and produce exactly the same pairs as the unsplit run.

    GUARDED (default cap): per-bucket work is bounded by the cap
    instead — the guard is a window count fused into the band-table
    pass whose (band, sig) exchange IS the join partitioning, so the
    plan must show the fused Window and must NOT re-grow the round-8
    shape (a second count traversal probing through a broadcast
    LeftAnti). Same pairs as unguarded while every bucket is sub-cap."""
    from alphastats_spark.functions import dedup

    n, hot_every = 1500, 10
    words = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta", "theta"]
    hot_text = " ".join(words * 6)

    def text(i: int) -> str:
        if i % hot_every == 0:
            return hot_text
        return " ".join(words[(i * 7 + j * 3) % 8] + str((i * 31 + j * 13) % 97) for j in range(24))

    docs = spark.createDataFrame(
        [(i, text(i)) for i in range(n)], "doc_id bigint, text string"
    )

    conf = spark.conf
    saved = {}
    overrides = {
        # force a shuffled join (the band table outgrows no broadcast
        # threshold at test size otherwise) and scale the skew knobs to
        # the corpus: detect a partition as skewed at >4 KB and >2x the
        # median, split to ~4 KB targets
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4096",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1024",
        # skew detection is per-PARTITION vs the stage median: with few
        # partitions the hot bucket co-hashes with enough unique band keys
        # to hide. 256 initial partitions ≈ a real cluster's shuffle
        # granularity, where a single hot key dominates its partition.
        "spark.sql.shuffle.partitions": "256",
    }
    for k, v in overrides.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        pairs = dedup.lsh_candidate_pairs(docs, max_band_bucket=None)
        # collect() drives THIS DataFrame's QueryExecution, so the same
        # handle then exposes the post-AQE final plan (count() would clone
        # a new execution and leave this one unexecuted)
        got = len(pairs.collect())
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:4000]

        # hot bucket alone contributes C(150, 2) pairs; the split must not
        # duplicate or drop any of them vs the unsplit execution
        assert got >= (n // hot_every) * (n // hot_every - 1) // 2
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        unsplit = len(dedup.lsh_candidate_pairs(docs, max_band_bucket=None).collect())
        assert got == unsplit

        # guarded with an above-bucket cap (the 150-doc hot bucket is
        # under 200): the pair set is identical — through the fused window
        # guard (one pass, no second count traversal, no broadcast
        # anti-probe). Explicit cap: the shipped default (25, sized by the
        # r12 cap sweep) would legitimately drop this engineered bucket.
        guarded = dedup.lsh_candidate_pairs(docs, max_band_bucket=200)
        assert len(guarded.collect()) == got
        gplan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition(band" in gplan, gplan[:4000]
        assert "LeftAnti" not in gplan, gplan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_ivf_index_partition_pruning(spark, tmp_path):
    """A materialized IVF index (write_ivf_index: parquet partitioned by
    ivf_list) must serve a probe query through PartitionFilters — nprobe
    of n_centroids directories read, never the whole index — and return
    the same rows as the in-memory path."""
    import re

    from alphastats_spark.functions import similarity as S
    from alphastats_spark.plans.audit import explain_string

    n, dim = 200, 8
    rows = [
        (i, [((i * 31 + j * 7) % 97) / 97.0 - 0.5 for j in range(dim)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    sample = [r[1] for r in emb.orderBy("vec_id").limit(n).collect()]
    cents = S.kmeans_train(sample, 8, 5, 42)
    q = [float(x) for x in sample[0]]

    path = str(tmp_path / "ivf_idx")
    S.write_ivf_index(emb, cents, path)
    back = spark.read.parquet(path)

    out = S.ivf_topk(back, q, cents, k=10, nprobe=3, indexed=True)
    got = [(r["vec_id"], r["cosine"]) for r in out.collect()]
    expect = [
        (r["vec_id"], r["cosine"])
        for r in S.ivf_topk(emb, q, cents, k=10, nprobe=3).collect()
    ]
    assert got == expect and len(got) == 10

    text = explain_string(out, "formatted")
    m = re.search(r"PartitionFilters: \[(?P<pf>[^\]]*)\]", text)
    assert m is not None and "ivf_list" in m.group("pf"), text[:1500]


def test_compact_ivf_index(spark, tmp_path):
    """compact_ivf_index after repeated appends: file counts drop to the
    byte-sized target, values and the ivf_list partition layout (and
    therefore probe-time pruning) are bit-identical, and directories at
    or under max_files are left alone."""
    import os
    import re

    from alphastats_spark.functions import similarity as S
    from alphastats_spark.plans.audit import explain_string

    n, dim = 200, 8
    rows = [
        (i, [((i * 31 + j * 7) % 97) / 97.0 - 0.5 for j in range(dim)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    sample = [r[1] for r in emb.orderBy("vec_id").limit(n).collect()]
    cents = S.kmeans_train(sample, 8, 5, 42)
    path = str(tmp_path / "ivf_app")
    S.write_ivf_index(emb.where("vec_id % 2 = 0"), cents, path)
    for m_ in range(4):
        S.append_to_ivf_index(emb.where(f"vec_id % 8 = {2 * m_ + 1}"), cents, path)

    def n_files(p):
        return sum(
            1
            for d, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )

    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    before_files = n_files(path)
    stats = S.compact_ivf_index(spark, path, max_files=2)
    after_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after_rows == before_rows and len(after_rows) == n
    assert stats["files_after"] < stats["files_before"] == before_files
    assert n_files(path) == stats["files_after"]
    # pruning survives: the compacted index still serves probes through
    # PartitionFilters on ivf_list
    q = [float(x) for x in sample[0]]
    out = S.ivf_topk(spark.read.parquet(path), q, cents, k=10, nprobe=3, indexed=True)
    text = explain_string(out, "formatted")
    m = re.search(r"PartitionFilters: \[(?P<pf>[^\]]*)\]", text)
    assert m is not None and "ivf_list" in m.group("pf"), text[:1500]
    # idempotent: a second pass finds nothing over threshold
    again = S.compact_ivf_index(spark, path, max_files=2)
    assert again["partitions_compacted"] == 0
    assert again["files_after"] == again["files_before"] == stats["files_after"]


def test_compact_dedup_index(spark, tmp_path):
    """compact_dedup_index after append-mode batches: band + shingle file
    counts drop, contents are bit-identical, meta survives verbatim, and
    admit_against_index over the compacted index equals the pre-compaction
    admission."""
    from alphastats_spark.functions import dedup

    docs = _tiny_docs(spark, n=90)
    path = str(tmp_path / "didx_cmp")
    dedup.write_dedup_index(docs.where("doc_id % 3 = 0"), path)
    for m_ in (1, 2):
        dedup.write_dedup_index(docs.where(f"doc_id % 3 = {m_}"), path, mode="append")
    batch = docs.limit(15)
    before_admit = sorted(map(tuple, dedup.admit_against_index(batch, path).collect()))
    b_bands = sorted(map(tuple, spark.read.parquet(f"{path}/bands").collect()))
    b_sh = sorted(map(tuple, spark.read.parquet(f"{path}/shingles").collect()))
    stats = dedup.compact_dedup_index(spark, path, max_files=1)
    assert stats["bands"]["files_after"] < stats["bands"]["files_before"]
    assert stats["shingles"]["files_after"] < stats["shingles"]["files_before"]
    assert sorted(map(tuple, spark.read.parquet(f"{path}/bands").collect())) == b_bands
    assert sorted(map(tuple, spark.read.parquet(f"{path}/shingles").collect())) == b_sh
    meta = dedup.read_index_meta(spark, path)
    assert (meta.k, meta.rows_per_band, meta.n) == (
        dedup.MINHASH_K, dedup.ROWS_PER_BAND, 3
    )
    after_admit = sorted(map(tuple, dedup.admit_against_index(batch, path).collect()))
    assert after_admit == before_admit


def test_concurrent_index_appends_match_sequential(spark, tmp_path):
    """Appends commit through private staging directories, so independent
    batches may overlap from a driver thread pool: concurrent and
    sequential ingests must read back identically (rows AND partition
    layout), meta must stay a single valid record, and no staging
    leftovers may survive."""
    from concurrent.futures import ThreadPoolExecutor

    from alphastats_spark.functions import dedup, similarity

    docs = _tiny_docs(spark, n=90)

    def build_dedup(path, concurrent):
        dedup.write_dedup_index(docs.where("doc_id % 3 = 0"), path)
        writes = [
            lambda m=m: dedup.write_dedup_index(
                docs.where(f"doc_id % 3 = {m}"), path, mode="append"
            )
            for m in (1, 2)
        ]
        if concurrent:
            with ThreadPoolExecutor(max_workers=2) as pool:
                list(pool.map(lambda w: w(), writes))
        else:
            for w in writes:
                w()

    seq, con = str(tmp_path / "seq"), str(tmp_path / "con")
    build_dedup(seq, False)
    build_dedup(con, True)
    for table in ("bands", "shingles"):
        a = sorted(map(tuple, spark.read.parquet(f"{seq}/{table}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{con}/{table}").collect()))
        assert a == b and len(a) > 0
    ma, mb = dedup.read_index_meta(spark, seq), dedup.read_index_meta(spark, con)
    assert (ma.k, ma.rows_per_band, ma.n, ma.sig_family) == (
        mb.k, mb.rows_per_band, mb.n, mb.sig_family
    )
    import os

    leftovers = [
        p for p in os.listdir(con) if "__append_tmp_" in p
    ] + [p for p in os.listdir(str(tmp_path)) if "__append_tmp_" in p]
    assert leftovers == []

    # IVF: 3 concurrent appends == fresh build of the union
    n, dim = 120, 8
    rows = [
        (i, [((i * 37 + j * 11) % 101) / 101.0 - 0.5 for j in range(dim)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    base = emb.where("vec_id % 4 = 3")
    cents = similarity.ivf_centroids(emb, n_centroids=4, seed=7)
    inc, full = str(tmp_path / "ivf_inc"), str(tmp_path / "ivf_full")
    similarity.write_ivf_index(base, cents, inc)
    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(
            lambda m: similarity.append_to_ivf_index(
                emb.where(f"vec_id % 4 = {m}"), cents, inc
            ),
            range(3),
        ))
    similarity.write_ivf_index(emb, cents, full)
    key = lambda r: (r["ivf_list"], r["vec_id"])  # noqa: E731
    a = sorted(spark.read.parquet(inc).select("vec_id", "ivf_list").collect(), key=key)
    b = sorted(spark.read.parquet(full).select("vec_id", "ivf_list").collect(), key=key)
    assert a == b and len(a) == n
    assert [p for p in os.listdir(str(tmp_path)) if "__append_tmp_" in p] == []


def test_promote_staged_partition_created_by_other_writer(spark, tmp_path, monkeypatch):
    """Another appender creates the same new partition directory while
    this one promotes: right after this writer's exists() on the target
    (or right before its mkdirs) the directory appears, holding the other
    writer's file. Every staged file must land directly in ``band=5/``
    beside it, never nested as ``band=5/band=5/part-*``."""
    import os

    from alphastats_spark.sources import maintenance

    dest, staging = str(tmp_path / "bands"), str(tmp_path / "bands__stage")
    spark.createDataFrame([(1, 0), (2, 0)], "v int, band int").write.partitionBy(
        "band"
    ).parquet(dest)
    spark.createDataFrame([(3, 5), (4, 5), (5, 0)], "v int, band int").write.partitionBy(
        "band"
    ).parquet(staging)
    racy = os.path.join(dest, "band=5")
    other = os.path.join(racy, "part-other-writer.parquet")
    real_fs = maintenance._hadoop_fs

    def other_writer_creates():
        if not os.path.exists(racy):
            spark.createDataFrame([(6,)], "v int").coalesce(1).write.parquet(
                str(tmp_path / "other")
            )
            os.makedirs(racy)
            src = [f for f in os.listdir(tmp_path / "other") if f.endswith(".parquet")][0]
            os.rename(os.path.join(tmp_path / "other", src), other)

    class RacyFs:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def exists(self, p):
            found = self._fs.exists(p)
            if p.toUri().getPath().rstrip("/") == racy:
                other_writer_creates()
            return found

        def mkdirs(self, p):
            if p.toUri().getPath().rstrip("/") == racy:
                other_writer_creates()
            return self._fs.mkdirs(p)

    def racy_hadoop_fs(spark_, path):
        fs, jpath = real_fs(spark_, path)
        return RacyFs(fs), jpath

    monkeypatch.setattr(maintenance, "_hadoop_fs", racy_hadoop_fs)
    maintenance.promote_staged_parquet(spark, staging, dest)

    assert os.path.exists(other)
    assert not os.path.exists(os.path.join(racy, "band=5"))
    staged = [f for f in os.listdir(racy) if f.startswith("part-") and f != os.path.basename(other)]
    assert len(staged) >= 1
    got = sorted(tuple(r) for r in spark.read.parquet(dest).collect())
    assert got == [(1, 0), (2, 0), (3, 5), (4, 5), (5, 0), (6, 5)]


def test_append_meta_rewrite_skipped_when_identical(spark, tmp_path):
    """A parameter-matching append (the only legal kind) must not touch
    the meta record — the delete+rename swap is what concurrent appenders
    would race on. An append into an index whose meta predates a field
    still rewrites (the upgrade path)."""
    import json
    import os

    from alphastats_spark.functions import dedup

    docs = _tiny_docs(spark, n=30)
    path = str(tmp_path / "meta_skip")
    dedup.write_dedup_index(docs.where("doc_id % 2 = 0"), path)
    meta_file = os.path.join(path, "meta", "part-00000.json")
    before_stat = os.stat(meta_file)
    dedup.write_dedup_index(docs.where("doc_id % 2 = 1"), path, mode="append")
    after_stat = os.stat(meta_file)
    assert (before_stat.st_mtime_ns, before_stat.st_ino) == (
        after_stat.st_mtime_ns, after_stat.st_ino
    )

    # strip a field to simulate pre-r14 meta: the next append upgrades it
    rec = json.loads(open(meta_file).read())
    rec.pop("sig_coeffs")
    with open(meta_file, "w") as f:
        f.write(json.dumps(rec, separators=(",", ":")) + "\n")
    # drop the Hadoop LocalFileSystem checksum shadow — rewriting the file
    # behind the FS client's back invalidates it
    crc = os.path.join(path, "meta", ".part-00000.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    dedup.write_dedup_index(docs.where("doc_id % 2 = 1"), path, mode="append")
    upgraded = json.loads(open(meta_file).read())
    assert upgraded.get("sig_coeffs") is not None


def test_pass_cache_scope_is_thread_owned():
    """Overlapped scopes on a driver thread pool release only their own
    thread's registrations; a cross-thread release_pass_caches(mark)
    still sweeps everything after the mark."""
    import threading

    from alphastats_spark.operators import ordered

    class FakeCache:
        def __init__(self):
            self.released = 0

        def unpersist(self, blocking=False):
            self.released += 1

    mark = ordered.pass_cache_mark()
    mine, theirs = FakeCache(), FakeCache()
    ready, done = threading.Event(), threading.Event()

    def other_thread():
        ordered.track_pass_cache(theirs)
        ready.set()
        done.wait(10)

    t = threading.Thread(target=other_thread)
    try:
        with ordered.pass_cache_scope():
            t.start()
            assert ready.wait(10)
            ordered.track_pass_cache(mine)
        # scope exit: my entry released, the other thread's untouched
        assert mine.released == 1 and theirs.released == 0
    finally:
        done.set()
        t.join(10)
    # cross-thread mark release sweeps the leftover entry
    ordered.release_pass_caches(mark)
    assert theirs.released == 1
    assert ordered.pass_cache_mark() == mark


def _crash_writer(monkeypatch, is_target):
    """Monkeypatch DataFrameWriter.parquet to raise when ``is_target(path)``
    — simulating a compaction crash at that exact stage boundary
    (everything before the poisoned write completes for real, nothing
    after it runs)."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def poisoned(self, path, *a, **kw):
        if is_target(path):
            raise RuntimeError(f"injected crash writing {path}")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", poisoned)
    return orig


def test_compact_crash_before_swap_leaves_live_intact(spark, tmp_path, monkeypatch):
    """Crash-safety contract, stage 1 (maintenance.py docstring): a crash
    while WRITING THE TEMP COPY leaves the live table untouched and
    complete — and a clean re-run afterwards compacts to the same values."""
    import pytest

    from alphastats_spark.sources import maintenance as M

    path = str(tmp_path / "crash1")
    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(80)], "id bigint, part int, payload string"
    )
    for s in range(5):  # 5 appends -> >4 files per partition directory
        df.where(f"id % 5 = {s}").write.partitionBy("part").mode("append").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    _crash_writer(monkeypatch, lambda p: "__compact_tmp" in p)
    with pytest.raises(RuntimeError, match="injected crash"):
        M.compact_partitioned_parquet(spark, path, "part", max_files=4)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    monkeypatch.undo()
    stats = M.compact_partitioned_parquet(spark, path, "part", max_files=4)
    assert stats["partitions_compacted"] == 4
    assert stats["files_after"] < stats["files_before"]
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before


def test_compact_crash_during_swap_keeps_recovery_copy(spark, tmp_path, monkeypatch):
    """Crash-safety contract, stage 2: a crash during the WRITE-BACK swap
    must leave the complete compacted copy at <path>__compact_tmp (the
    temp directory is deleted only AFTER the commit — a finally-style
    cleanup would reap the recovery copy this test reads), and a clean
    re-run heals the table to identical values."""
    import pytest

    from alphastats_spark.sources import maintenance as M

    path = str(tmp_path / "crash2")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(60)], "id bigint, part int, payload string"
    )
    for s in range(5):
        df.where(f"id % 5 = {s}").write.partitionBy("part").mode("append").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    live = str(tmp_path / "crash2")
    _crash_writer(monkeypatch, lambda p: p.rstrip("/") == live)  # only the write-back
    with pytest.raises(RuntimeError, match="injected crash"):
        M.compact_partitioned_parquet(spark, path, "part", max_files=4)
    # the recovery copy holds EVERY over-threshold partition's rows,
    # complete and value-identical (all 3 directories were over cap here)
    tmp_copy = sorted(map(tuple, spark.read.parquet(path + "__compact_tmp").collect()))
    assert tmp_copy == before
    # the injected crash happened before any destructive write, so the
    # live table also still reads complete
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    # the partition-overwrite mode must have been restored despite the crash
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )

    monkeypatch.undo()
    stats = M.compact_partitioned_parquet(spark, path, "part", max_files=4)
    assert stats["partitions_compacted"] == 3
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    import os

    assert not os.path.exists(path + "__compact_tmp")


# ---------------------------------------------------------------------------
# materialized dedup index: plan pins + parameter metadata (round 7)


def _tiny_docs(spark, n=60):
    rows = [
        (i, " ".join(f"tok{(i * 13 + j * 7) % 23}" for j in range(12)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _executed_plans_since(spark, first_id: int) -> list[str]:
    """Formatted physical plans of the SQL executions with id >= first_id,
    as the SQL status store recorded them (final adaptive plans)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if e.executionId() >= first_id
    ]


def _next_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1) + 1


def test_admit_against_index_band_dpp(spark, tmp_path):
    """The query of admit_against_index that scans the stored band table
    must carry DYNAMIC partition pruning on ``band`` when the batch side
    has a selective predicate (the filtered batch below; an unfiltered
    batch has none). Every non-empty batch probes all band values, so the
    filter prunes nothing; this pins that the stored scan stays a plain
    partitioned scan that a runtime band filter can reach."""
    import re

    from alphastats_spark.functions import dedup

    docs = _tiny_docs(spark)
    path = str(tmp_path / "didx")
    dedup.write_dedup_index(docs.where("doc_id % 5 != 0"), path)
    first = _next_execution_id(spark)
    dedup.admit_against_index(docs.where("doc_id % 5 = 0"), path).collect()
    text = "\n\n".join(_executed_plans_since(spark, first))
    bands_scans = [
        b for b in text.split("\n\n") if "Scan parquet" in b and "/bands" in b
    ]
    assert bands_scans, text[:1500]
    assert any(
        re.search(r"PartitionFilters:.*dynamicpruningexpression\(band", b)
        for b in bands_scans
    ), bands_scans[0][:900]


def _admit_texts(seed: int, n: int, vocab: int = 40, words: int = 14) -> list[str]:
    import random

    rng = random.Random(seed)
    return [" ".join(f"w{rng.randrange(vocab)}" for _ in range(words)) for _ in range(n)]


def _one_word_edit(text: str, pos: int) -> str:
    words = text.split(" ")
    words[pos % len(words)] = "zz"
    return " ".join(words)


@pytest.fixture(scope="module")
def admit_indexes(spark, tmp_path_factory):
    """Two small dedup indexes for the admission path-parity cases: bigint
    ids 0..39 and string ids ``d-0``..``d-39``. Docs 6 and 17 share one
    text, as do ``d-9`` and ``d-10``, so a copy of either ties at
    jaccard 1.0."""
    from alphastats_spark.functions import dedup

    texts = _admit_texts(7, 40)
    texts[17] = texts[6]
    texts[10] = texts[9]
    root = tmp_path_factory.mktemp("admit_parity")
    num, txt = str(root / "num"), str(root / "txt")
    dedup.write_dedup_index(
        spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string"), num
    )
    dedup.write_dedup_index(
        spark.createDataFrame(
            [(f"d-{i}", t) for i, t in enumerate(texts)], "doc_id string, text string"
        ),
        txt,
    )
    return {"num": num, "txt": txt, "texts": texts}


def _admit_batch(kind: str, texts: list[str]) -> tuple[str, list, str, float]:
    """(index, rows, schema, threshold) of one path-parity case."""
    fresh = _admit_texts(11, 12)
    copies = [(100 + j, texts[j * 3]) for j in range(4)]
    edits = [(110 + j, _one_word_edit(texts[j * 5 + 1], j)) for j in range(4)]
    mixed = copies + edits + [(120 + j, t) for j, t in enumerate(fresh[:4])]
    schema = "doc_id bigint, text string"
    if kind == "random":
        return "num", mixed, schema, 0.5
    if kind == "random_low_threshold":
        return "num", mixed + [(130 + j, t) for j, t in enumerate(fresh[4:])], schema, 0.2
    if kind == "string_ids":
        rows = [(f"n-{i}", t) for i, t in mixed] + [("n-tie", texts[9])]
        return "txt", rows, "doc_id string, text string", 0.5
    if kind == "null_ids":
        rows = [(None, texts[2]), (None, fresh[0]), (1, texts[2]), (2, texts[8])]
        return "num", rows, "doc_id int, text string", 0.5
    if kind == "short_docs":
        rows = [(1, "a b"), (2, ""), (3, None), (4, "one"), (5, texts[3])]
        return "num", rows, schema, 0.5
    if kind == "empty":
        return "num", [], schema, 0.5
    if kind == "no_candidates":
        other = _admit_texts(3, 6, vocab=40)
        return "num", [(i, t.replace("w", "v")) for i, t in enumerate(other)], schema, 0.5
    if kind == "duplicate_ids":
        rows = [(7, texts[3]), (7, texts[3]), (8, texts[5]), (8, _one_word_edit(texts[5], 2))]
        return "num", rows + [(9, texts[11]), (9, fresh[1])], schema, 0.5
    if kind == "tie":
        return "num", [(1, texts[6]), (2, texts[17]), (3, _one_word_edit(texts[6], 4))], schema, 0.5
    raise ValueError(kind)


def _plan_root(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize(
    "kind",
    ["random", "random_low_threshold", "string_ids", "null_ids", "short_docs",
     "empty", "no_candidates", "duplicate_ids", "tie"],
)
def test_admit_against_index_driver_and_distributed_paths_agree(
    spark, admit_indexes, monkeypatch, kind
):
    """admit_against_index returns the same rows and the same schema
    (types and nullability) whether the batch is verified on the driver or
    by the distributed verify + rank plan. The bound is forced to a large
    value and to -1 (every batch, even an empty one, then falls back)."""
    from alphastats_spark.functions import dedup
    from alphastats_spark.operators import ordered

    index, rows, schema, threshold = _admit_batch(kind, admit_indexes["texts"])
    batch = spark.createDataFrame(rows, schema)
    path = admit_indexes[index]
    out = {}
    for name, cap in (("driver", 10**6), ("distributed", -1)):
        monkeypatch.setattr(dedup, "DRIVER_ADMIT_MAX_ROWS", cap)
        with ordered.pass_cache_scope():
            live = ordered.pass_cache_mark()
            df = dedup.admit_against_index(batch, path, threshold=threshold)
            if name == "driver":
                # the small path releases its own caches before returning
                assert ordered.pass_cache_mark() == live
            out[name] = (df.schema, sorted(map(tuple, df.collect()), key=repr), _plan_root(df))
    assert out["driver"][2] == "LocalRelation"
    assert out["distributed"][2] != "LocalRelation"
    assert out["driver"][0] == out["distributed"][0]
    assert out["driver"][1] == out["distributed"][1]
    got = out["driver"][1]
    assert len(got) == len(rows)
    if kind == "tie":
        assert [r[2] for r in got] == [6, 6, 6]
        assert got[0][1] == got[1][1] == 2 and got[0][3] == 1.0
    if kind == "string_ids":
        assert dict((r[0], r[2]) for r in got)["n-tie"] == "d-10"
    if kind == "null_ids":
        assert [r[1:] for r in got if r[0] is None] == [(0, -1, 0.0, True)] * 2
    if kind == "random":
        assert sum(not r[4] for r in got) >= 4  # the exact copies


def test_admit_against_index_job_count(spark, tmp_path):
    """Pins the number of Spark jobs one small admission takes, counted
    through a statusTracker job group: band candidates with the batch ids
    (one result job after the batch shingle, signature, probe and guard
    stages), one shingle collect, and none for the returned local frame.
    A change that moves this number must update the pin on purpose."""
    from alphastats_spark.functions import dedup
    from alphastats_spark.operators import ordered

    docs = _tiny_docs(spark)
    path = str(tmp_path / "didx_jobs")
    dedup.write_dedup_index(docs.where("doc_id % 5 != 0"), path)
    sc = spark.sparkContext
    sc.setJobGroup("admit-job-pin", "admit_against_index job pin")
    try:
        with ordered.pass_cache_scope():
            rows = dedup.admit_against_index(docs.where("doc_id % 5 = 0"), path).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 12
    assert len(sc.statusTracker().getJobIdsForGroup("admit-job-pin")) == ADMIT_JOBS


def test_streaming_index_join_stored_side_unshuffled(spark, tmp_path):
    """The stream-static admission join must build (broadcast) from the
    MICRO-BATCH side: the stored index streams through the probe side with
    no BroadcastExchange and no shuffle — re-shipping a 100 TB index per
    micro-batch is the scale killer the explicit broadcast(banded) hint
    forbids by construction."""
    import contextlib
    import io
    import uuid

    from alphastats_spark.functions import dedup
    from alphastats_spark.streaming import streaming_index_candidates

    docs = _tiny_docs(spark)
    idx = str(tmp_path / "didx")
    src = str(tmp_path / "src")
    dedup.write_dedup_index(docs.where("doc_id % 5 != 0"), idx)
    docs.where("doc_id % 5 = 0").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    bands = spark.read.parquet(f"{idx}/bands")
    name = f"sic_{uuid.uuid4().hex[:8]}"
    sq = (
        streaming_index_candidates(stream, bands, index_path=idx)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert sq.awaitTermination(300), "stream did not finish"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sq.explain()
    plan = buf.getvalue()
    assert "BuildLeft" in plan and "BuildRight" not in plan, plan[:1200]
    # the stored-index scan reads match_id/sig/band and sits under no
    # exchange: every BroadcastExchange in the plan hangs off the stream
    # (text-tokenizing) side
    for line in plan.splitlines():
        if "match_id" in line and "FileScan" in line:
            break
    else:
        raise AssertionError(plan[:1200])


def test_index_meta_roundtrip_and_mismatch(spark, tmp_path):
    """write_dedup_index stores (k, rows_per_band, n); readers default to
    the stored values and fail LOUDLY on an explicit mismatch — silently
    mis-parameterized hashing yields zero band collisions, i.e. every
    near-duplicate admitted."""
    import pytest as _pytest

    from alphastats_spark.functions import dedup

    docs = _tiny_docs(spark)
    path = str(tmp_path / "didx")
    dedup.write_dedup_index(docs, path, k=8, rows_per_band=2, n=3)
    meta = dedup.read_index_meta(spark, path)
    assert (meta.k, meta.rows_per_band, meta.n) == (8, 2, 3)
    with _pytest.raises(ValueError, match="does not match the index"):
        dedup.admit_against_index(docs, path, k=4)
    with _pytest.raises(ValueError, match="does not match the index"):
        dedup.admit_against_index(docs, path, n=5)
    # defaults load from meta: identical output to fully-explicit params
    a = sorted(
        map(tuple, dedup.admit_against_index(docs.limit(10), path).collect())
    )
    b = sorted(
        map(
            tuple,
            dedup.admit_against_index(
                docs.limit(10), path, k=8, rows_per_band=2, n=3
            ).collect(),
        )
    )
    assert a == b and len(a) == 10


def test_index_meta_single_row_on_append(spark, tmp_path):
    """meta is ALWAYS overwritten, even for mode='append' band/shingle
    writes — appending a second meta row would leave the reader guessing
    which hash parameters are live. A hand-corrupted multi-row meta fails
    LOUDLY instead of silently resolving a stale parameter set (which
    would admit every near-duplicate)."""
    import pytest as _pytest

    from alphastats_spark.functions import dedup

    docs = _tiny_docs(spark)
    path = str(tmp_path / "didx_app")
    dedup.write_dedup_index(docs, path, k=8, rows_per_band=2, n=3)
    dedup.write_dedup_index(docs, path, k=8, rows_per_band=2, n=3, mode="append")
    meta = dedup.read_index_meta(spark, path)  # single row, no ambiguity
    assert (meta.k, meta.rows_per_band, meta.n) == (8, 2, 3)
    # an append hashed with DIFFERENT parameters raises at write time —
    # its band rows would never collide with the stored corpus's, silently
    # admitting every near-dup, and the meta rewrite would mask the drift
    with _pytest.raises(ValueError, match="does not match the index"):
        dedup.write_dedup_index(docs, path, k=4, rows_per_band=2, n=3, mode="append")
    # simulate a pre-fix appended index: two meta rows with different params
    spark.createDataFrame(
        [(4, 2, 3, 1)], "k int, rows_per_band int, n int, version int"
    ).coalesce(1).write.mode("append").json(f"{path}/meta")
    with _pytest.raises(ValueError, match="ambiguous|holds 2 rows"):
        dedup.read_index_meta(spark, path)


@pytest.mark.parametrize("meta_kind", ["md5", "xxh31", "absent", "metaless"])
def test_non_affine_index_requires_rebuild(spark, tmp_path, meta_kind):
    """affine31 is the only MinHash signature family. An index whose meta
    records another family ("md5", "xxh31"), records none ("absent"), or
    that has no meta at all ("metaless") was hashed by a family this
    runtime cannot reproduce: banding a batch against it would yield zero
    collisions and silently admit every near-duplicate. Each reader —
    batch admit, the streaming candidates with index_path, and an append
    write — must refuse it and name the rebuild, even when the caller
    passes the build parameters explicitly."""
    import shutil

    from alphastats_spark.functions import dedup
    from alphastats_spark.streaming import streaming_index_candidates

    docs = _tiny_docs(spark)
    path = str(tmp_path / f"{meta_kind}_idx")
    dedup.write_dedup_index(docs, path, k=8, rows_per_band=2, n=3)
    if meta_kind == "metaless":
        shutil.rmtree(f"{path}/meta")
    elif meta_kind == "absent":
        spark.createDataFrame(
            [(8, 2, 3, 1)], "k int, rows_per_band int, n int, version int"
        ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")
    else:
        spark.createDataFrame(
            [(8, 2, 3, 2, meta_kind, dedup._affine_checksum(8))],
            "k int, rows_per_band int, n int, version int, "
            "sig_family string, sig_coeffs string",
        ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")
    params = {"k": 8, "rows_per_band": 2, "n": 3}

    with pytest.raises(ValueError, match="Rebuild the index"):
        dedup.admit_against_index(docs.limit(3), path, **params)
    with pytest.raises(ValueError, match="Rebuild the index"):
        dedup.admit_against_index(docs.limit(3), path)
    stream = (
        spark.readStream.format("rate").load()
        .selectExpr("value as doc_id", "cast(value as string) as text")
    )
    with pytest.raises(ValueError, match="Rebuild the index"):
        streaming_index_candidates(
            stream, spark.read.parquet(f"{path}/bands"), index_path=path,
            **params,
        )
    with pytest.raises(ValueError, match="Rebuild the index"):
        dedup.write_dedup_index(docs, path, mode="append", **params)


def test_index_meta_coeffs_checksum(spark, tmp_path):
    """write_dedup_index stamps a digest of the affine coefficient prefix
    into meta; readers validate it against the runtime's frozen table and
    fail LOUDLY on divergence (a divergent table hashes every batch into
    empty buckets — zero collisions, every near-duplicate admitted). A
    pre-r14 affine meta row WITHOUT the stamp (null) stays valid: the
    table is frozen source, so its values are the build-time values."""
    from alphastats_spark.functions import dedup

    docs = _tiny_docs(spark)
    path = str(tmp_path / "crc_idx")
    dedup.write_dedup_index(docs, path, k=8, rows_per_band=2, n=3)
    meta = dedup.read_index_meta(spark, path)
    assert meta.sig_family == "affine31"
    assert meta.sig_coeffs == dedup._affine_checksum(8)
    # normal admit resolves and validates silently
    assert dedup.admit_against_index(docs.limit(5), path).count() == 5

    # tamper the stamp — simulate a runtime whose coefficient source
    # diverged from the one the index was built with
    spark.createDataFrame(
        [(8, 2, 3, 2, "affine31", "deadbeefdeadbeef")],
        "k int, rows_per_band int, n int, version int, "
        "sig_family string, sig_coeffs string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")
    with pytest.raises(ValueError, match="coefficient checksum"):
        dedup.admit_against_index(docs.limit(5), path)

    # pre-r14 affine meta: sig_family present, no sig_coeffs field at all
    spark.createDataFrame(
        [(8, 2, 3, 2, "affine31")],
        "k int, rows_per_band int, n int, version int, sig_family string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")
    assert dedup.admit_against_index(docs.limit(5), path).count() == 5


def test_streaming_index_bands_without_path_warns(spark, tmp_path):
    """streaming_index_candidates with index_bands but NO index_path bands
    the stream with CURRENT module defaults — against stored bands built
    with a different k or rows_per_band that is zero collisions and
    silent admission of every near-duplicate, so the opt-out form must
    emit a UserWarning naming index_path as the safe alternative."""
    from alphastats_spark.functions import dedup
    from alphastats_spark.streaming import streaming_index_candidates

    path = str(tmp_path / "warn_idx")
    dedup.write_dedup_index(_tiny_docs(spark), path, k=8, rows_per_band=2, n=3)
    bands = spark.read.parquet(f"{path}/bands")
    stream = (
        spark.readStream.format("rate").load()
        .selectExpr("value as doc_id", "cast(value as string) as text")
    )
    with pytest.warns(UserWarning, match="index_path"):
        streaming_index_candidates(
            stream, bands, k=8, rows_per_band=2, n=3
        )
    # the safe form stays silent
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        streaming_index_candidates(stream, bands, index_path=path)


def test_affine_signature_plan_single_md5(spark):
    """The affine MinHash signature plan pays exactly ONE md5 per
    (doc, shingle) row however large k is — the whole point of the r13
    family flip (the legacy family ran k digests per row; at 100 TB the
    signature aggregate is the dominant scan-side cost of the dedup
    pipeline). Pinned structurally: the optimized plan of a k=24
    signature aggregate contains one md5 call, in the projection below
    the aggregate, with the 24 min() inputs pure integer arithmetic."""
    from alphastats_spark.functions import dedup
    from alphastats_spark.plans.audit import explain_string

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    sh = dedup._exploded_shingles(docs, "doc_id", "text")
    plan = explain_string(
        dedup._sigs_over_shingles(sh, "doc_id", 24), "extended"
    )
    optimized = plan.split("== Optimized Logical Plan ==")[1].split(
        "== Physical Plan =="
    )[0]
    assert optimized.lower().count("md5") == 1, optimized


def test_stream_banded_rejects_non_integral_ids(spark, tmp_path):
    from alphastats_spark.streaming.metrics import _stream_banded

    df = spark.createDataFrame([("a", "some text here")], "doc_id string, text string")
    with pytest.raises(TypeError, match="integral"):
        _stream_banded(df, "doc_id", "text", 8, 2)


def test_funnel_step_filter_pushed_to_scan(spark):
    """The funnel pre-filters to step event types BEFORE the per-user
    collect fold — visible as an In(event_type, ...) pushed filter on the
    parquet scan, so non-step traffic (the power-user skew mass) never
    enters the shuffle."""
    import os

    if not os.path.exists("/root/testdata/sf0.001/events.parquet"):
        pytest.skip("driver testdata not present")
    from alphastats_spark.functions import events as ev_ops
    from alphastats_spark.plans.audit import scan_info
    from alphastats_spark.registry.shared import _event_us

    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev = raw.select("user_id", _event_us(raw).alias("us"), "event_type")
    out = ev_ops.funnel(ev, ["signup", "click", "purchase"])
    scans = scan_info(out)
    assert any(
        "In(event_type" in s["pushed_filters"] for s in scans
    ), scans


def test_audit_round7_operators(spark):
    """Plan-audit guardrails for the round-7 operators: the per-group cap,
    the deletion-neighborhood edit-distance join, int8 quantization, the
    grouped split and both decontaminate configurations — no
    single-partition funnels, no row UDFs, no nested-loop joins. The cap's
    pass-through/rank side-tables probe via broadcast joins; the fuzzy
    join's variant self-join is an equi-join (never cartesian)."""
    import os

    path = "/root/testdata/sf0.001"
    if not os.path.exists(f"{path}/documents.parquet"):
        pytest.skip("driver testdata not present")
    from alphastats_spark import plans
    from alphastats_spark.functions import dedup, pipeline, similarity
    from alphastats_spark.operators import ordered

    docs = spark.read.parquet(f"{path}/documents.parquet")
    emb = spark.read.parquet(f"{path}/embeddings.parquet")
    cust = spark.read.parquet(f"{path}/customer.parquet")

    # the over-cap predicate (count > cap) filters an AGGREGATE, which
    # parquet can never push — the only allowed finding
    kinds = {
        f.kind
        for f in plans.audit(pipeline.cap_per_group(docs, cap=10, group_col="source"))
    }
    assert kinds <= {"unfiltered-scan"}, kinds
    assert plans.audit(pipeline.group_split(docs, group_col="source")) == []
    assert plans.audit(similarity.quantize_embeddings(emb)) == []
    with ordered.pass_cache_scope():
        fz = dedup.edit_distance_join(
            cust, 1, id_col="c_custkey", text_col="c_name"
        )
        # id_a < id_b / distance <= d filter DERIVED join columns — not
        # pushable; the audit must still find no funnel/cartesian/row-UDF
        kinds = {f.kind for f in plans.audit(fz)}
        assert kinds <= {"unfiltered-scan"}, kinds
    # hashed decontaminate: same modulo-carve-out pushdown exemption as
    # the exact path (see test_audit_round4_operators)
    kinds = {
        f.kind
        for f in plans.audit(
            pipeline.decontaminate(
                docs, docs.where(F.col("doc_id") % 40 == 7), n=3, hashed=True
            )
        )
    }
    assert kinds <= {"unfiltered-scan"}, kinds


def test_audit_round8_operators(spark):
    """Plan-audit guardrails for the round-8 machinery: the hashed-key
    all-pairs operators (jaccard, containment, overlap matrix), the
    band-guarded LSH verify pipeline, and the guarded admit path — no
    single-partition funnels, no row UDFs, no nested-loop joins anywhere.
    The guard's over-cap side tables probe via broadcast joins by
    construction."""
    import os

    path = "/root/testdata/sf0.001"
    if not os.path.exists(f"{path}/documents.parquet"):
        pytest.skip("driver testdata not present")
    from alphastats_spark import plans
    from alphastats_spark.functions import dedup, pipeline
    from alphastats_spark.operators import ordered

    docs = spark.read.parquet(f"{path}/documents.parquet")
    with ordered.pass_cache_scope():
        for df in (
            dedup.ngram_jaccard_pairs(docs, threshold=0.5),
            dedup.containment_pairs(docs, threshold=0.8),
            pipeline.source_overlap_matrix(docs, n=3),
            dedup.lsh_verified_pairs(docs, threshold=0.5),
            dedup.incremental_admit(
                docs.where(F.col("doc_id") % 5 == 0),
                docs.where(F.col("doc_id") % 5 != 0),
            ),
        ):
            # the modulo / count-derived predicates filter aggregates or
            # derived columns — not pushable; everything else must be clean
            kinds = {f.kind for f in plans.audit(df)}
            assert kinds <= {"unfiltered-scan"}, (kinds, df.columns)


def test_streaming_index_candidates_honors_stored_n(spark, tmp_path):
    """An index built with a non-default shingle width n=5 must still
    collide with stream bands when index_path is passed: the stream side
    shingles with the STORED n, not the hardcoded default (pre-fix the n
    from meta was discarded — zero collisions, every near-dup admitted)."""
    import time as _time

    from alphastats_spark.functions import dedup
    from alphastats_spark.streaming import streaming_index_candidates

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(6)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "didx5")
    dedup.write_dedup_index(docs.where("doc_id < 4"), path, n=5)

    src = str(tmp_path / "stream_src")
    docs.where("doc_id >= 4").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    bands = spark.read.parquet(f"{path}/bands")
    sq = (
        streaming_index_candidates(stream, bands, index_path=path)
        .writeStream.format("memory")
        .queryName("sic_n5")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert sq.awaitTermination(120)
    got = spark.sql(
        "select distinct new_id, match_id from sic_n5"
    ).collect()
    # identical texts => every (new, corpus) pair collides in every band
    assert {(r["new_id"], r["match_id"]) for r in got} == {
        (n, m) for n in (4, 5) for m in (0, 1, 2, 3)
    }
    # explicit mismatching n still fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not match the index"):
        streaming_index_candidates(stream, bands, index_path=path, n=3)


def test_streaming_index_candidates_band_bucket_cap(spark, tmp_path):
    """The streaming admit path honors the mega-bucket guard its batch
    twin and its DuckDB oracle apply: stored (band, sig) buckets over
    max_band_bucket stop emitting candidates (a boilerplate corpus bucket
    of D docs otherwise hands every probing stream doc D rows, per
    micro-batch, forever). The guard anti-joins the tiny STREAM side —
    the stored side's plan is untouched."""
    from alphastats_spark.functions import dedup
    from alphastats_spark.streaming import streaming_index_candidates

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(8)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "didx_cap")
    dedup.write_dedup_index(docs.where("doc_id < 6"), path)  # 6-doc mega bucket

    src = str(tmp_path / "stream_src_cap")
    docs.where("doc_id >= 6").coalesce(1).write.parquet(src)
    bands = spark.read.parquet(f"{path}/bands")

    def run(name, cap_kw):
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        sq = (
            streaming_index_candidates(stream, bands, index_path=path, **cap_kw)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert sq.awaitTermination(120)
        return {
            (r["new_id"], r["match_id"])
            for r in spark.sql(f"select distinct new_id, match_id from {name}").collect()
        }

    # identical texts: 6-doc buckets exceed cap=5 -> zero candidates
    assert run("sic_capped", {"max_band_bucket": 5}) == set()
    # cap=None (exact) and the shipped default (1000, far above 6) both
    # emit every (stream, corpus) pair
    full = {(n, m) for n in (6, 7) for m in range(6)}
    assert run("sic_uncapped", {"max_band_bucket": None}) == full
    assert run("sic_default", {}) == full


def test_url_dedup_null_key_spread(spark):
    """Null-canonical rows must NOT funnel into the window's single NULL
    hash partition (functions/dedup.py url_dedup).

    The window keys on coalesce(canonical_url, concat('\\0', id)) so
    each null row gets a private singleton key: the physical plan's one
    Exchange must hash-partition on the coalesce expression, not the
    raw canonical column, and a mostly-null corpus must actually spread
    across shuffle partitions instead of serializing into one task."""
    from alphastats_spark.functions import dedup

    # 9 of 10 rows have no URL — the mixed-source-corpus shape where the
    # raw-column window would put 90% of the data in one task
    docs = spark.createDataFrame(
        [
            (i, f"https://site.example/p/{i % 3}" if i % 10 == 0 else None)
            for i in range(1000)
        ],
        "doc_id bigint, url string",
    )
    out = dedup.url_dedup(docs)

    plan = plans.explain_string(out, "simple")
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    # the partition key is the projected coalesce expression (_w0), not
    # the raw canonical column — Spark materializes computed window keys
    # in the Project feeding the Exchange
    assert "_w0" in exchanges[0] and "canonical_url" not in exchanges[0], exchanges[0]
    assert "coalesce(" in plan, plan

    # the nulls really spread: the 900 null-canonical rows land across
    # several shuffle partitions, none holding the whole null set (AQE
    # may coalesce this tiny shuffle to ~4 partitions — uniform spread
    # across those is the pass condition, one 900-row straggler the fail)
    pid = (
        out.where(F.col("canonical_url").isNull())
        .select(F.spark_partition_id().alias("p"))
        .groupBy("p")
        .count()
        .collect()
    )
    assert len(pid) > 1, pid
    assert max(r["count"] for r in pid) < 600, pid

    # semantics unchanged: nulls keep themselves, URLs dedup by min id
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 1000
    for i in range(1000):
        if i % 10 == 0:
            assert rows[i]["kept_id"] == i % 30 and rows[i]["is_dup"] == (i >= 30 or i % 30 != i)
        else:
            assert rows[i]["canonical_url"] is None
            assert rows[i]["kept_id"] == i and not rows[i]["is_dup"]
