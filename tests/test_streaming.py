"""Streaming surface tests.

Strategy: ``rolling_metrics`` shares its metric formulas with the batch
API, so the semantics test runs it in BATCH mode against hand-sliced
windows; a separate test runs the same plan through a real micro-batch
stream (file source → memory sink) and asserts stream == batch. The
stateful drawdown operator is fed two micro-batches so state genuinely
crosses a batch boundary, then compared to the batch ``to_drawdowns``.
"""

from __future__ import annotations

import datetime as dt
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from alphastats_spark import stats
from alphastats_spark.streaming import rolling_metrics, streaming_drawdowns

RET_10 = [0.01, -0.02, 0.03, -0.01, 0.02, 0.005, -0.015, 0.025, -0.005, 0.01]
DATES_10 = [dt.date(2023, 1, 2) + dt.timedelta(days=i) for i in range(10)]


@pytest.fixture
def returns_10(spark):
    return spark.createDataFrame(list(zip(DATES_10, RET_10)), "d date, r double")


def test_rolling_metrics_batch_semantics(returns_10):
    # 5-day tumbling windows starting Monday 2023-01-02: [01-02,01-07), [01-07,01-12)
    out = (
        rolling_metrics(returns_10, "5 days", metrics=None, start_time="4 days")
        .orderBy("window_start")
        .collect()
    )
    assert len(out) == 2
    first, second = out
    assert first["window_start"] == dt.datetime(2023, 1, 2)
    assert first["r_n_obs"] == 5 and second["r_n_obs"] == 5

    comp_1 = 1.0
    for r in RET_10[:5]:
        comp_1 *= 1 + r
    assert first["r_comp"] == pytest.approx(comp_1 - 1, rel=1e-12)

    # sharpe of window 2 equals the batch metric on those 5 rows
    want = stats.sharpe(pd.Series(RET_10[5:]))
    assert second["r_sharpe"] == pytest.approx(want, rel=1e-12)


def test_rolling_metrics_sliding(returns_10):
    out = rolling_metrics(returns_10, "5 days", slide="1 day").orderBy("window_start").collect()
    # every row lands in 5 sliding windows
    assert sum(r["r_n_obs"] for r in out) == 50


def test_rolling_metrics_stream_matches_batch(spark, tmp_path, returns_10):
    src = str(tmp_path / "src")
    returns_10.write.parquet(src)

    stream = spark.readStream.schema("d date, r double").parquet(src)
    sq = (
        rolling_metrics(stream, "5 days", watermark="1 day", start_time="4 days")
        .writeStream.format("memory")
        .queryName("roll_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    got = spark.sql("select * from roll_test").orderBy("window_start").collect()
    want = rolling_metrics(returns_10, "5 days", start_time="4 days").orderBy("window_start").collect()
    assert len(got) == len(want) == 2
    for g, w in zip(got, want):
        for c in g.asDict():
            if isinstance(w[c], float):
                assert g[c] == pytest.approx(w[c], rel=1e-9, nan_ok=True)
            else:
                assert g[c] == w[c]


def test_streaming_drawdowns_two_batches(spark, tmp_path, returns_10):
    src = str(tmp_path / "dd_src")
    half1 = spark.createDataFrame(list(zip(DATES_10[:5], RET_10[:5])), "d date, r double")
    half2 = spark.createDataFrame(list(zip(DATES_10[5:], RET_10[5:])), "d date, r double")
    half1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtimes → file source keeps batch order
    half2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("d date, r double").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    sq = (
        streaming_drawdowns(stream, temporal="d")
        .writeStream.format("memory")
        .queryName("dd_test")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    got = {r["d"]: r["r_dd"] for r in spark.sql("select * from dd_test").collect()}
    want = {
        r["d"]: r["r"] for r in stats.to_drawdowns(returns_10).orderBy("d").collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-9), d


def test_streaming_drawdowns_multi_key(spark, tmp_path):
    # two assets interleaved in one stream, keyed by symbol
    rows = []
    for i, (date, r) in enumerate(zip(DATES_10, RET_10)):
        rows.append(("A", date, r))
        rows.append(("B", date, -r))
    df = spark.createDataFrame(rows, "sym string, d date, r double")
    src = str(tmp_path / "mk_src")
    df.write.parquet(src)

    stream = spark.readStream.schema("sym string, d date, r double").parquet(src)
    sq = (
        streaming_drawdowns(stream, key_col="sym", temporal="d")
        .writeStream.format("memory")
        .queryName("mk_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    got = spark.sql("select * from mk_test").collect()
    assert len(got) == 20

    for sym, sign in (("A", 1), ("B", -1)):
        series = [sign * r for r in RET_10]
        batch = spark.createDataFrame(list(zip(DATES_10, series)), "d date, r double")
        want = {r["d"]: r["r"] for r in stats.to_drawdowns(batch).collect()}
        for row in got:
            if row["sym"] == sym:
                assert row["r_dd"] == pytest.approx(want[row["d"]], rel=1e-9)


def test_session_metrics_batch(spark):
    from alphastats_spark.streaming import session_metrics

    base = dt.datetime(2023, 1, 2, 9, 0, 0)
    rows = [
        # user A: 3 events within gaps, then a 31-min hole → 2 sessions
        ("A", base),
        ("A", base + dt.timedelta(minutes=10)),
        ("A", base + dt.timedelta(minutes=20)),
        ("A", base + dt.timedelta(minutes=51)),
        # user B: single event
        ("B", base),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = session_metrics(df, gap="30 minutes").orderBy("user_id", "session_start").collect()
    assert [(r["user_id"], r["n_events"], r["duration_s"]) for r in out] == [
        ("A", 3, 1200),
        ("A", 1, 0),
        ("B", 1, 0),
    ]


def test_session_metrics_stream_matches_batch(spark, tmp_path):
    from alphastats_spark.streaming import session_metrics

    base = dt.datetime(2023, 1, 2, 9, 0, 0)
    rows = []
    for u in ("A", "B", "C"):
        for i in range(20):
            # bursts of 4 events, 40-min holes between bursts
            rows.append((u, base + dt.timedelta(minutes=(i // 4) * 70 + (i % 4) * 10)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    src = str(tmp_path / "sess_src")
    df.write.parquet(src)

    stream = spark.readStream.schema("user_id string, ts timestamp").parquet(src)
    sq = (
        session_metrics(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"], r["duration_s"])
        for r in spark.sql("select * from sess_test").collect()
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["n_events"], r["duration_s"])
        for r in session_metrics(df, gap="30 minutes").collect()
    )
    assert got == want
    assert len(want) == 15  # 3 users × 5 bursts


def test_streaming_dedup_cross_batch(spark, tmp_path):
    from alphastats_spark.streaming import streaming_dedup_candidates

    batch1 = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different text about spark engines and data"),
        ],
        "doc_id bigint, text string",
    )
    batch2 = spark.createDataFrame(
        [
            (7, "the quick brown fox jumps over the lazy dog tonight"),  # dup of 0
            (9, "nothing like anything else in this tiny corpus at all"),
        ],
        "doc_id bigint, text string",
    )
    src = str(tmp_path / "dedup_src")
    batch1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    batch2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    sq = (
        streaming_dedup_candidates(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("select * from dedup_stream").collect()
    }
    # the exact duplicate arriving in batch 2 pairs with the batch-1 doc
    # via state that crossed the micro-batch boundary
    assert (0, 7) in pairs
    # unrelated docs never collide on a full band
    assert (3, 9) not in pairs and (0, 3) not in pairs


def test_streaming_dedup_bucketed_state_parity(spark, tmp_path):
    """state_buckets is a state-LAYOUT knob: the emitted candidate pair
    multiset must be identical to the per-signature default, including
    across micro-batch boundaries and under the hot-signature cap."""
    from alphastats_spark.streaming import streaming_dedup_candidates

    dup_a = "the quick brown fox jumps over the lazy dog tonight"
    dup_b = "completely different text about spark engines and data pipelines"
    batch1 = spark.createDataFrame(
        [(0, dup_a), (1, dup_b), (2, dup_a), (5, "unrelated words that share "
                                                 "nothing with any other doc")],
        "doc_id bigint, text string",
    )
    batch2 = spark.createDataFrame(
        [(7, dup_a), (8, dup_b), (9, dup_b)],
        "doc_id bigint, text string",
    )

    def run(variant: str, **kwargs) -> list:
        src = str(tmp_path / f"src_{variant}")
        batch1.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
        batch2.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "doc_id bigint, text string"
        ).option("maxFilesPerTrigger", "1").parquet(src)
        name = f"bkt_parity_{variant}"
        sq = (
            streaming_dedup_candidates(stream, **kwargs)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            sq.processAllAvailable()
        finally:
            sq.stop()
        return sorted(
            (r["id_a"], r["id_b"], r["band"])
            for r in spark.table(name).collect()
        )

    plain = run("plain")
    # 3 buckets force multiple signatures per state group; 1 bucket forces
    # ALL signatures through one group (the maximal-collision edge)
    assert run("b3", state_buckets=3) == plain
    assert run("b1", state_buckets=1) == plain
    assert len(plain) > 0  # the corpus genuinely collides
    # cross-batch: a batch-2 doc pairs with its batch-1 duplicate
    assert any(a == 0 and b == 7 for a, b, _ in plain)

    # hot-signature cap parity: emission and storage stop at the cap in
    # both layouts
    capped_plain = run("cap_plain", max_ids_per_sig=2)
    assert run("cap_b2", max_ids_per_sig=2, state_buckets=2) == capped_plain
    assert capped_plain != plain

    never = tmp_path / "never"
    never.mkdir()
    with pytest.raises(ValueError, match="state_buckets"):
        streaming_dedup_candidates(
            spark.readStream.schema("doc_id bigint, text string").parquet(
                str(never)
            ),
            state_buckets=0,
        )


def test_rolling_metrics_keyed(spark):
    # multi-asset long frame: per-key windows match per-asset single runs
    rows = []
    for sym, sign in (("A", 1), ("B", -1)):
        for d, r in zip(DATES_10, RET_10):
            rows.append((sym, d, sign * r))
    df = spark.createDataFrame(rows, "sym string, d date, r double")
    out = rolling_metrics(
        df, "5 days", start_time="4 days", key_cols=["sym"]
    ).collect()
    assert len(out) == 4  # 2 windows × 2 keys
    by = {(r["sym"], r["window_start"]): r for r in out}

    for sym, sign in (("A", 1), ("B", -1)):
        single = spark.createDataFrame(
            [(d, sign * r) for d, r in zip(DATES_10, RET_10)], "d date, r double"
        )
        want = rolling_metrics(single, "5 days", start_time="4 days").collect()
        for w in want:
            g = by[(sym, w["window_start"])]
            assert g["r_comp"] == pytest.approx(w["r_comp"], rel=1e-12)
            assert g["r_n_obs"] == w["r_n_obs"]


def test_streaming_dedup_cap_stops_emission(spark, tmp_path):
    """At max_ids_per_sig the signature is hot boilerplate: both storage AND
    pair emission stop, so a skewed key's output is bounded by O(cap^2),
    not O(cap x arrivals)."""
    from alphastats_spark.streaming import streaming_dedup_candidates

    text = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [(i, text) for i in range(6)], "doc_id bigint, text string"
    )
    src = str(tmp_path / "dedup_cap_src")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    sq = (
        streaming_dedup_candidates(stream, max_ids_per_sig=3)
        .writeStream.format("memory")
        .queryName("dedup_cap_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(300)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("select distinct id_a, id_b from dedup_cap_stream").collect()
    }
    # only the first 3 ids per signature participate: C(3,2) pairs, never
    # any pair involving ids 3..5
    assert pairs == {(0, 1), (0, 2), (1, 2)}


def test_streaming_drawdowns_extreme_factors(spark, tmp_path):
    """The vectorized fold must reproduce the batch operator's semantics on
    the hard cases: a -100% return (wealth collapses to 0 forever), a
    return below -100% (negative wealth, sign tracking), and nulls (no
    state advance, NaN drawdown out)."""
    import datetime as dt
    import math

    from alphastats_spark.streaming import streaming_drawdowns

    rows = [
        (dt.date(2023, 1, 1), 0.10),
        (dt.date(2023, 1, 2), None),     # null: state frozen, NaN out
        (dt.date(2023, 1, 3), -2.0),     # factor -1: wealth goes negative
        (dt.date(2023, 1, 4), 0.50),
        (dt.date(2023, 1, 5), -1.0),     # factor 0: wealth 0 forever
        (dt.date(2023, 1, 6), 0.30),
    ]
    df = spark.createDataFrame(rows, "d date, r double")
    src = str(tmp_path / "dd_extreme")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("d date, r double").parquet(src)
    sq = (
        streaming_drawdowns(stream, temporal="d")
        .writeStream.format("memory")
        .queryName("dd_extreme")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(300)
    got = {
        r["d"]: r["r_dd"]
        for r in spark.sql("select d, r_dd from dd_extreme").collect()
    }

    # batch reference on the same series
    from alphastats_spark import stats

    batch = {r["d"]: r["r"] for r in stats.to_drawdowns(df).collect()}
    assert set(got) == set(batch)
    for d in got:
        g, b = got[d], batch[d]
        if b is None or (isinstance(b, float) and math.isnan(b)):
            assert g is None or math.isnan(g), (d, g, b)
        else:
            assert g == pytest.approx(b, rel=1e-12), (d, g, b)


def test_streaming_funnel_cross_batch_state(spark, tmp_path):
    """The per-user (level, frontier) state must carry across micro-batches:
    step 1 arrives in batch 1, steps 2-3 in batch 2; a second user's late
    out-of-order step-2 event (behind the frontier) must not chain."""
    from alphastats_spark.streaming.metrics import streaming_funnel_levels

    src = str(tmp_path / "funnel_src")
    M = 1_000_000
    b1 = spark.createDataFrame(
        [(1, 10 * M, "a"), (2, 50 * M, "a")],
        "user_id bigint, us bigint, event_type string",
    )
    b2 = spark.createDataFrame(
        [(1, 20 * M, "b"), (1, 30 * M, "c"), (2, 40 * M, "b")],
        "user_id bigint, us bigint, event_type string",
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "user_id bigint, us bigint, event_type string"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    sq = (
        streaming_funnel_levels(stream, steps=["a", "b", "c"], max_gap_s=60)
        .writeStream.format("memory")
        .queryName("funnel_test")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    rows = spark.sql("select * from funnel_test").collect()
    # latest emission per user = max level seen (levels never rewind)
    latest = {}
    for r in rows:
        latest[r["user_id"]] = max(latest.get(r["user_id"], 0), r["lvl"])
    # user 1 converts a(b1) -> b -> c across the batch boundary
    assert latest[1] == 3
    # user 2's b at t=40 precedes its frontier (a at t=50): cannot chain
    assert latest[2] == 1


def test_streaming_attribution_cross_batch_state(spark, tmp_path):
    """The per-user last-touch struct must carry across micro-batches: a
    click in batch 1 attributes a purchase in batch 2; an out-of-window
    touch yields sentinels; a touch simultaneous with the conversion
    counts (the batch tie order)."""
    from alphastats_spark.streaming.metrics import streaming_attribution

    src = str(tmp_path / "attr_src")
    M = 1_000_000
    b1 = spark.createDataFrame(
        [
            (1, 10 * M, "click", 100),   # user 1 touch, batch 1
            (2, 5 * M, "view", 200),     # user 2 touch, far in the past
            (3, 20 * M, "purchase", 300),  # user 3 converts with no touch
        ],
        "user_id bigint, us bigint, event_type string, event_id bigint",
    )
    b2 = spark.createDataFrame(
        [
            (1, 40 * M, "purchase", 101),  # attributed to click@10 (batch 1)
            (2, 400 * M, "purchase", 201),  # view@5 is outside the 60s window
            (4, 50 * M, "view", 400),       # simultaneous touch + conversion:
            (4, 50 * M, "purchase", 401),   # the touch counts (tie order)
        ],
        "user_id bigint, us bigint, event_type string, event_id bigint",
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "user_id bigint, us bigint, event_type string, event_id bigint"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    sq = (
        streaming_attribution(stream, window_us=60 * M)
        .writeStream.format("memory")
        .queryName("attr_test")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    out = {r["event_id"]: r for r in spark.sql("select * from attr_test").collect()}
    assert set(out) == {300, 101, 201, 401}  # one row per conversion
    # cross-batch: batch-1 click credits the batch-2 purchase
    assert out[101]["attributed"] and out[101]["touch_event_id"] == 100
    assert out[101]["touch_type"] == "click" and out[101]["gap_us"] == 30 * M
    # no touch at all -> sentinels
    assert not out[300]["attributed"]
    assert out[300]["touch_event_id"] == -1 and out[300]["touch_type"] == "none"
    assert out[300]["gap_us"] == -1
    # stored touch exists but is outside the window -> sentinels
    assert not out[201]["attributed"] and out[201]["touch_event_id"] == -1
    # simultaneous touch counts for the conversion
    assert out[401]["attributed"] and out[401]["touch_event_id"] == 400
    assert out[401]["gap_us"] == 0


def test_streaming_exact_dedup_cross_batch(spark, tmp_path):
    """A fingerprint admitted in batch 1 rejects ALL later arrivals (state
    survives the batch boundary); within a batch the smallest id owns."""
    from alphastats_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "sdex_src")
    b1 = spark.createDataFrame(
        [(3, "alpha beta"), (1, "alpha beta"), (2, "unique one")],
        "doc_id bigint, text string",
    )
    b2 = spark.createDataFrame(
        [(10, "alpha beta"), (11, "unique two"), (12, "unique two")],
        "doc_id bigint, text string",
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    sq = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("sdex_test")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    got = {
        r["doc_id"]: (r["first_id"], r["admitted"])
        for r in spark.sql("select * from sdex_test").collect()
    }
    assert got == {
        1: (1, True),   # batch-1 owner (smallest id in batch)
        3: (1, False),  # same batch, larger id
        2: (2, True),
        10: (1, False),  # batch 2: rejected by batch-1 state
        11: (11, True),  # batch-2 owner
        12: (11, False),
    }


def test_streaming_exact_dedup_rocksdb_state_store(spark, tmp_path):
    """The unbounded-key stateful paths must run under the RocksDB state
    store provider (session.build_session(rocksdb_state_store=True) — the
    production backend for state that grows with distinct documents):
    same cross-batch admissions as the default provider, state held off
    the executor heap."""
    from alphastats_spark.session import ROCKSDB_STATE_STORE
    from alphastats_spark.streaming import streaming_exact_dedup

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    src = str(tmp_path / "sdex_rdb_src")
    spark.createDataFrame(
        [(3, "alpha beta"), (1, "alpha beta"), (2, "unique one")],
        "doc_id bigint, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [(10, "alpha beta"), (11, "unique two")],
        "doc_id bigint, text string",
    ).coalesce(1).write.mode("append").parquet(src)

    spark.conf.set(key, ROCKSDB_STATE_STORE)
    try:
        stream = spark.readStream.schema("doc_id bigint, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        sq = (
            streaming_exact_dedup(stream)
            .writeStream.format("memory")
            .queryName("sdex_rdb_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "sdex_rdb_ckpt"))
            .start()
        )
        try:
            sq.processAllAvailable()
            # the running query must actually be on RocksDB, not a silent
            # fallback: the provider surfaces in the state operator's
            # custom metrics (rocksdb* keys exist only on this backend)
            progress = sq.lastProgress
            ops = (progress or {}).get("stateOperators") or []
            metrics = (ops[0].get("customMetrics") or {}) if ops else {}
            assert any(k.startswith("rocksdb") for k in metrics), (
                f"no rocksdb state metrics in progress: {metrics}"
            )
        finally:
            sq.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    got = {
        r["doc_id"]: (r["first_id"], r["admitted"])
        for r in spark.sql("select * from sdex_rdb_test").collect()
    }
    assert got == {
        1: (1, True),
        3: (1, False),
        2: (2, True),
        10: (1, False),  # rejected by batch-1 state held in RocksDB
        11: (11, True),
    }


def test_streaming_url_dedup_cross_batch(spark, tmp_path):
    """A canonical URL admitted in batch 1 rejects ALL later fetches whose
    URL canonicalizes the same (case/www/port/tracking variants); rows with
    null or malformed URLs transit the stateless keep-self branch — always
    admitted, never colliding, never entering state."""
    from alphastats_spark.streaming import streaming_url_dedup

    src = str(tmp_path / "surl_src")
    b1 = spark.createDataFrame(
        [(1, "https://site.example/p/1"),
         (2, "https://site.example/p/1?utm_source=x"),  # same-batch dup
         (3, None),
         (4, "https://mal.example/a b")],  # malformed -> keep-self
        "doc_id bigint, url string",
    )
    b2 = spark.createDataFrame(
        [(10, "HTTPS://WWW.Site.Example:443/p/1#frag"),  # batch-1 canonical
         (11, "https://other.example/x"),
         (12, None),
         (13, "https://mal.example/a b")],  # same malformed string: keep-self
        "doc_id bigint, url string",
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id bigint, url string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    sq = (
        streaming_url_dedup(stream)
        .writeStream.format("memory")
        .queryName("surl_test")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    rows = spark.sql("select * from surl_test").collect()
    got = {r["doc_id"]: (r["first_id"], r["admitted"]) for r in rows}
    assert got == {
        1: (1, True),    # batch-1 owner
        2: (1, False),   # tracking-param variant, same batch
        3: (3, True),    # null URL: keep-self
        4: (4, True),    # malformed: keep-self
        10: (1, False),  # batch 2: case/www/:443/fragment variant of 1
        11: (11, True),
        12: (12, True),
        13: (13, True),  # identical malformed string must NOT collide with 4
    }
    canon = {r["doc_id"]: r["canonical_url"] for r in rows}
    assert canon[10] == "https://site.example/p/1"
    for d in (3, 4, 12, 13):
        assert canon[d] is None


def test_streaming_attribution_in_batch_interleaving(spark, tmp_path):
    """The vectorized frontier (maximum.accumulate over touch positions)
    must reproduce the sequential machine WITHIN one micro-batch:
    touch→conv→touch→conv alternation re-credits each conversion to the
    touch immediately before it, a conversion BEFORE any batch touch uses
    the carried-in (empty) state frontier, and duplicate-instant touches
    resolve by event id (later id wins — the batch window's tie order)."""
    from alphastats_spark.streaming.metrics import streaming_attribution

    src = str(tmp_path / "attr_inter")
    M = 1_000_000
    rows = [
        (1, 5 * M, "purchase", 50),    # before ANY touch -> sentinels
        (1, 10 * M, "click", 100),
        (1, 20 * M, "purchase", 101),  # -> click 100
        (1, 30 * M, "view", 102),
        (1, 31 * M, "view", 103),      # same-user later touch overrides
        (1, 40 * M, "purchase", 104),  # -> view 103
        (1, 41 * M, "purchase", 105),  # frontier NOT consumed -> view 103
    ]
    spark.createDataFrame(
        rows, "user_id bigint, us bigint, event_type string, event_id bigint"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "user_id bigint, us bigint, event_type string, event_id bigint"
    ).parquet(src)
    sq = (
        streaming_attribution(stream, window_us=60 * M)
        .writeStream.format("memory")
        .queryName("attr_inter_test")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    out = {r["event_id"]: r for r in spark.sql("select * from attr_inter_test").collect()}
    assert set(out) == {50, 101, 104, 105}
    assert not out[50]["attributed"] and out[50]["touch_event_id"] == -1
    assert out[50]["gap_us"] == -1 and out[50]["touch_type"] == "none"
    assert out[101]["touch_event_id"] == 100 and out[101]["gap_us"] == 10 * M
    assert out[104]["touch_event_id"] == 103 and out[104]["gap_us"] == 9 * M
    assert out[105]["touch_event_id"] == 103 and out[105]["gap_us"] == 10 * M
    assert all(out[i]["attributed"] for i in (101, 104, 105))


def test_streaming_exact_dedup_duplicate_ids_one_batch(spark, tmp_path):
    """The argmin fast path must admit EXACTLY one row when the minimum id
    appears twice in a group's micro-batch (the old sorted form admitted
    the first sorted occurrence; multiset equality is the contract)."""
    from alphastats_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "sdex_dup")
    spark.createDataFrame(
        [(7, "same text"), (3, "same text"), (3, "same text"), (9, "other")],
        "doc_id bigint, text string",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    sq = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("sdex_dup_test")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    rows = spark.sql("select * from sdex_dup_test").collect()
    tuples = sorted((r["doc_id"], r["first_id"], r["admitted"]) for r in rows)
    assert tuples == [
        (3, 3, False),
        (3, 3, True),   # exactly ONE of the duplicate min-id rows admitted
        (7, 3, False),
        (9, 9, True),
    ]


def test_stream_parts_concurrent_scopes_do_not_interleave(spark, tmp_path):
    """Two threads open _stream_parts scopes on one session: each scope
    reads its own partition count, and the conf is restored after both.
    The first thread holds its scope until the second has entered its own
    or a timeout passes, so unserialised scopes would interleave here."""
    import threading

    from alphastats_spark import harness

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    small = tmp_path / "small"
    small.mkdir()
    (small / "part-0.parquet").write_bytes(b"x" * 1024)  # 2 partitions
    mid = tmp_path / "mid"
    mid.mkdir()
    (mid / "part-0.parquet").write_bytes(b"x" * (150 << 10))  # 3 partitions
    barrier = threading.Barrier(2, timeout=30)
    second_entered = threading.Event()
    first_read = threading.Event()
    seen = {}

    def first():
        with harness._stream_parts(spark, str(small)):
            barrier.wait()
            second_entered.wait(timeout=1.0)
            seen["first"] = spark.conf.get(key)
            first_read.set()

    def second():
        barrier.wait()
        with harness._stream_parts(spark, str(mid)):
            second_entered.set()
            first_read.wait(timeout=1.0)
            seen["second"] = spark.conf.get(key)

    threads = [threading.Thread(target=first), threading.Thread(target=second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert seen == {"first": "2", "second": "3"}
    assert spark.conf.get(key) == old


def test_stream_parts_scope_derivation_and_restore(spark, tmp_path):
    """harness._stream_parts sizes the state-partition conf to the staged
    feed (>= 64 KiB per partition, floor 2, capped at defaultParallelism),
    and restores the session conf on exit — including on error."""
    from alphastats_spark import harness

    old = spark.conf.get("spark.sql.shuffle.partitions")

    # tiny feed -> floor of 2
    small = tmp_path / "small"
    small.mkdir()
    (small / "batch-000.parquet").write_bytes(b"x" * 1024)
    with harness._stream_parts(spark, str(small)):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old

    # ~150 KiB -> ceil(150/64) = 3 partitions (nested dirs counted too) —
    # STRICTLY between the floor (2) and the conftest session's cap
    # (defaultParallelism = 4), so this pins the size derivation itself,
    # not the cap
    assert spark.sparkContext.defaultParallelism == 4
    mid = tmp_path / "mid" / "nested"
    mid.mkdir(parents=True)
    (mid / "part-0.parquet").write_bytes(b"x" * (150 << 10))
    with harness._stream_parts(spark, str(tmp_path / "mid")):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old

    # huge feed -> capped at the session's parallelism
    big = tmp_path / "big"
    big.mkdir()
    (big / "batch-000.parquet").write_bytes(b"x" * (8 << 20))
    cap = str(spark.sparkContext.defaultParallelism)
    with harness._stream_parts(spark, str(big)):
        assert spark.conf.get("spark.sql.shuffle.partitions") == cap
    assert spark.conf.get("spark.sql.shuffle.partitions") == old

    # restore happens on the error path as well
    with pytest.raises(RuntimeError):
        with harness._stream_parts(spark, str(small)):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old

    # explicit override wins over the derivation
    import os as _os

    _os.environ["SPARK_GRAFT_STREAM_PARTITIONS"] = "5"
    try:
        with harness._stream_parts(spark, str(big)):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        del _os.environ["SPARK_GRAFT_STREAM_PARTITIONS"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == old

    # invalid overrides fail loudly, naming the variable, and never touch
    # the session conf (0/negative would set an invalid Spark conf;
    # garbage would crash deep inside int())
    for bad in ("0", "-3", "lots"):
        _os.environ["SPARK_GRAFT_STREAM_PARTITIONS"] = bad
        try:
            with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_PARTITIONS"):
                with harness._stream_parts(spark, str(small)):
                    pass
        finally:
            del _os.environ["SPARK_GRAFT_STREAM_PARTITIONS"]
        assert spark.conf.get("spark.sql.shuffle.partitions") == old
