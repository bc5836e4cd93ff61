import pytest


def test_cdar_matches_numpy(spark):
    """CDaR = mean of the worst-5% tail of the drawdown series, thresholded
    at the exact linear-interpolated quantile (numpy's default, DuckDB's
    quantile_cont, and Spark's `percentile` all agree)."""
    import numpy as np

    from alphastats_spark import stats

    rng = [0.01, -0.03, 0.02, -0.05, 0.04, -0.02, 0.01, -0.04, 0.03, -0.01] * 5
    w = np.cumprod(1 + np.array(rng))
    dd = np.minimum(w / np.maximum.accumulate(w) - 1, 0)
    q = np.quantile(dd, 0.05)
    want = dd[dd <= q].mean()
    assert stats.cdar(rng) == pytest.approx(want, rel=1e-9)
    assert stats.conditional_drawdown_at_risk(rng) is not None

    # degenerate: all-positive returns -> dd identically 0 -> cdar 0
    assert stats.cdar([0.01] * 10) == pytest.approx(0.0, abs=1e-12)


def test_rolling_greeks(spark):
    """Trailing CAPM beta/alpha: r = 2b + 0.001 gives per-window beta 2 and
    alpha 0.001*252 wherever >= 2 observations; a flat benchmark window
    (variance 0) yields null rather than a division blowup."""
    import datetime as dt

    from alphastats_spark.operators.rolling import rolling_greeks

    d0 = dt.date(2024, 1, 1)
    rows = [(d0 + dt.timedelta(days=i), 0.002 * (i % 5) + 0.001, 0.001 * (i % 5))
            for i in range(40)]
    df = spark.createDataFrame(rows, "d date, r double, b double")
    out = {r["d"]: r for r in rolling_greeks(df, days=10, benchmark_col="b").collect()}
    last = d0 + dt.timedelta(days=39)
    assert out[last]["r_beta"] == pytest.approx(2.0)
    assert out[last]["r_alpha"] == pytest.approx(0.001 * 252)
    # r is an exact affine function of b -> windowed correlation is 1
    assert out[last]["r_corr"] == pytest.approx(1.0)
    # first row: single observation -> var_samp null -> null greeks
    assert out[d0]["r_beta"] is None and out[d0]["r_alpha"] is None
    assert out[d0]["r_corr"] is None

    flat = spark.createDataFrame(
        [(d0 + dt.timedelta(days=i), 0.01 * i, 0.005) for i in range(5)],
        "d date, r double, b double",
    )
    fo = rolling_greeks(flat, days=10, benchmark_col="b").collect()
    assert all(
        r["r_beta"] is None and r["r_alpha"] is None and r["r_corr"] is None
        for r in fo
    )

    # keyed: the -2x mirror asset gets exactly -2x the beta, window-for-window
    two = df.selectExpr("'a' AS asset", "d", "r", "b").unionByName(
        df.selectExpr("'c' AS asset", "d", "-2 * r AS r", "b")
    )
    ko = rolling_greeks(two, days=10, benchmark_col="b", key_cols=["asset"])
    by_key = {(r["asset"], r["d"]): r for r in ko.collect()}
    assert by_key[("c", last)]["r_beta"] == pytest.approx(-2 * by_key[("a", last)]["r_beta"])
    assert by_key[("c", last)]["r_corr"] == pytest.approx(-by_key[("a", last)]["r_corr"])


def test_asof_join_bucket_granularities_agree(spark):
    """The bucket granularity knob shapes only physical partitioning of
    the ffill — month/day/hour must return identical matches, including
    the backward-inclusive tie (right row at the exact left timestamp
    wins) and intra-day ordering."""
    import datetime as dt

    from alphastats_spark.operators.joins import asof_join

    t0 = dt.datetime(2023, 1, 15, 9, 30)
    left = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=m),) for m in range(0, 600, 7)],
        "ts timestamp",
    )
    right = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=m), float(m)) for m in range(0, 600, 13)],
        "rts timestamp, v double",
    )
    outs = {
        b: sorted(
            (r["ts"], r["v"])
            for r in asof_join(left, right, "ts", "rts", bucket=b).collect()
        )
        for b in ("month", "day", "hour")
    }
    assert outs["month"] == outs["day"] == outs["hour"]
    # spot-check backward semantics: the equal-timestamp right row matches
    # (inclusive tie at minute 0); left minute 7 looks back to right 0;
    # left minute 14 looks back to right 13
    got = dict(outs["month"])
    assert got[t0] == 0.0
    assert got[t0 + dt.timedelta(minutes=7)] == 0.0
    assert got[t0 + dt.timedelta(minutes=14)] == 13.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket"):
        asof_join(left, right, "ts", "rts", bucket="week")


def test_asof_join_null_value_not_filled_through(spark):
    """A matched right row whose VALUE is null yields null (Polars
    join_asof / DuckDB ASOF JOIN semantics), not the previous non-null
    value; left rows before any right row also get null."""
    import datetime as dt

    from alphastats_spark.operators.joins import asof_join

    D = lambda i: dt.date(2023, 1, i)
    left = spark.createDataFrame(
        [(D(1), 1.0), (D(2), 2.0), (D(3), 3.0), (D(4), 4.0)], "d date, r double"
    )
    right = spark.createDataFrame([(D(1), 0.01), (D(3), None)], "d date, b double")
    got = [r["b"] for r in asof_join(left, right, "d", "d").orderBy("d").collect()]
    assert got == [0.01, 0.01, None, None]
    early = spark.createDataFrame([(dt.date(2022, 12, 30), 9.0)], "d date, r double")
    assert asof_join(early, right, "d", "d").first()["b"] is None


def test_asof_join_timestamp_buckets_epoch_monotone(spark):
    """TIMESTAMP inputs bucket by epoch division (session-timezone-proof);
    hourly series across a day boundary still match exactly."""
    import datetime as dt

    from alphastats_spark.operators.joins import asof_join

    T = lambda h: dt.datetime(2023, 3, 25, h % 24) + dt.timedelta(days=h // 24)
    left = spark.createDataFrame(
        [(T(h), float(h)) for h in range(20, 30)], "t timestamp, r double"
    )
    right = spark.createDataFrame(
        [(T(h), h * 10.0) for h in range(18, 30, 3)], "t timestamp, b double"
    )
    for bucket in ("day", "hour"):
        got = {
            r["r"]: r["b"]
            for r in asof_join(left, right, "t", "t", bucket=bucket).collect()
        }
        want = {float(h): (h - (h - 18) % 3) * 10.0 for h in range(20, 30)}
        assert got == want, (bucket, got)


def test_ordered_pass_keeps_caller_columns_with_helper_like_names(spark):
    """Caller columns whose names merely CONTAIN helper fragments
    (margin__in, vol__lsum) survive the ordered and drawdown passes."""
    import datetime as dt

    from pyspark.sql import functions as F

    from alphastats_spark.operators import ordered

    rows = [(dt.date(2023, 1, i), 0.01 * i, 1.0, 2.0) for i in range(1, 6)]
    df = spark.createDataFrame(
        rows, "d date, r double, `margin__in` double, `vol__lsum` double"
    )
    df = ordered.with_order(df, "d")
    out = ordered.add_drawdown_columns(df, {"dd": "r"})
    assert "margin__in" in out.columns and "vol__lsum" in out.columns
    out2 = ordered.add_prefix_columns(df, sums={"cum": F.col("r")})
    assert "margin__in" in out2.columns and "vol__lsum" in out2.columns


def test_pass_cache_scope_bounds_long_session(spark):
    """The long-lived-session contract (README "Long-lived sessions"):
    a server issuing MANY dedup/report queries, each under a scope (or a
    mark/release pair), leaves the pass-cache registry at its starting
    length after every request — cached memory is bounded by the busiest
    single request, not by uptime. Also pins that the scope actually had
    something to release (the operators do register caches)."""
    from alphastats_spark.functions import dedup
    from alphastats_spark.operators import ordered

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 11 + j * 5) % 19}" for j in range(10)))
            for i in range(40)
        ],
        "doc_id bigint, text string",
    )
    base = ordered.pass_cache_mark()
    registered_any = False
    for request in range(3):
        with ordered.pass_cache_scope():
            if request % 2 == 0:
                dedup.lsh_verified_pairs(docs, threshold=0.3).collect()
            else:
                dedup.deduplicate(docs, threshold=0.3).collect()
            registered_any = registered_any or ordered.pass_cache_mark() > base
        assert ordered.pass_cache_mark() == base, f"request {request} leaked"
    assert registered_any, "scope never saw a registered cache - test is vacuous"


def test_local_checkpoint_tracked_releases_blocks(spark):
    """localCheckpoint blocks are invisible to DataFrame.unpersist (they
    belong to the RDD behind the LogicalRDD plan node, not the SQL cache
    manager) and otherwise linger until driver GC — the tracked variant
    registers a release shim in the pass-cache registry so
    release_pass_caches/pass_cache_scope reclaims them deterministically.
    Pins: blocks exist while the scope is open, storage is empty after."""
    from pyspark.sql import functions as F

    from alphastats_spark.operators import ordered

    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    spark.catalog.clearCache()
    base = n_cached()
    with ordered.pass_cache_scope():
        ck = ordered.local_checkpoint_tracked(
            spark.range(10_000).select(F.col("id"), (F.col("id") * 2).alias("y"))
        )
        assert ck.count() == 10_000
        assert n_cached() > base, "eager checkpoint left no cached blocks"
    assert n_cached() == base, "scope exit did not free the checkpoint blocks"


def test_duplicate_clusters_edges_released_by_scope(spark):
    """duplicate_clusters' edge-frame lineage truncation is tracked: a
    fully-materializing pass_cache_scope leaves zero cached RDDs behind
    (the r11 ADVICE concern — block release used to depend on driver GC)."""
    from alphastats_spark.functions import dedup
    from alphastats_spark.operators import ordered

    sc = spark.sparkContext
    spark.catalog.clearCache()
    base = len(sc._jsc.sc().getRDDStorageInfo())
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    with ordered.pass_cache_scope():
        got = {
            (r["id"], r["cluster_id"])
            for r in dedup.duplicate_clusters(pairs).collect()
        }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert len(sc._jsc.sc().getRDDStorageInfo()) == base


def test_daily_pct_change_matches_two_phase_lag(spark):
    """The harness loaders' bounded-series fast path (plain global-order
    lag over the per-day aggregate) must return exactly the rows the
    general two-phase lag machinery returns on the same daily table."""
    from pyspark.sql import functions as F

    from alphastats_spark import harness
    from alphastats_spark.operators import ordered

    sf_dir = "/root/testdata/sf0.001"
    fast = harness.load_returns(spark, sf_dir).orderBy("d").collect()

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    mark = ordered.pass_cache_mark()
    try:
        two = ordered.add_lag_columns(ordered.with_order(daily, "d"), {"__prev": "rev"})
        slow = (
            two.withColumn("r", F.col("rev") / F.col("__prev") - 1)
            .where(F.col("r").isNotNull())
            .select("d", "r")
            .orderBy("d")
            .collect()
        )
    finally:
        ordered.release_pass_caches(mark)

    assert len(fast) > 0
    assert fast == slow


def test_drawdown_fused_matches_legacy_two_pass(spark):
    """The fused single-pass drawdown (plain peak) must be BIT-identical
    to the legacy two-pass decomposition on adversarial series: sign
    flips (r < -1), collapse-to-zero (r = -1), nulls, leading nulls,
    all-null frames, exact peak retraces, and multi-bucket spans."""
    import datetime as dt

    from pyspark.sql import functions as F

    from alphastats_spark.operators import ordered

    def legacy(df, cols):
        sums = {}
        for out, src in cols.items():
            factor = f"(CAST(`{src}` AS double) + 1)"
            sums[f"{out}__ls"] = (
                f"CASE WHEN {factor} = 0 THEN 0.0D ELSE ln(abs({factor})) END"
            )
            sums[f"{out}__neg"] = f"CAST(({factor} < 0) AS bigint)"
            sums[f"{out}__zero"] = f"CAST(({factor} = 0) AS bigint)"
        df = ordered.add_ordered_columns(df, sums=sums)
        wealth = []
        for out, src in cols.items():
            sign = f"CASE WHEN (`{out}__neg` % 2) = 1 THEN -1.0D ELSE 1.0D END"
            wealth.append(
                f"CASE WHEN `{src}` IS NULL THEN CAST(NULL AS double) "
                f"WHEN `{out}__zero` > 0 THEN 0.0D "
                f"ELSE exp(`{out}__ls`) * ({sign}) END AS `{out}__w`"
            )
        df = df.selectExpr("*", *wealth)
        df = ordered.add_ordered_columns(
            df, maxes={f"{out}__peak": f"`{out}__w`" for out in cols}
        )
        dd_cols = []
        for out in cols:
            w, p = f"`{out}__w`", f"`{out}__peak`"
            ratio = (
                f"(CASE WHEN {w} IS NULL OR ({p}) IS NULL THEN NULL "
                f"WHEN ({p}) != 0 THEN {w} / ({p}) "
                f"WHEN isnan({w}) OR {w} = 0 THEN double('NaN') "
                f"WHEN {w} > 0 THEN double('Infinity') "
                f"ELSE double('-Infinity') END - 1)"
            )
            dd_cols.append(
                f"CASE WHEN {w} IS NULL THEN CAST(NULL AS double) "
                f"WHEN isnan({ratio}) THEN double('NaN') "
                f"ELSE least({ratio}, 0.0D) END AS `{out}`"
            )
        helper = {
            f"{out}{s}"
            for out in cols
            for s in ("__ls", "__neg", "__zero", "__w", "__peak")
        }
        keep = [f"`{c}`" for c in df.columns if c not in helper]
        return df.selectExpr(*keep, *dd_cols)

    series = {
        "normal": [0.01, -0.02, 0.03, -0.05, 0.08, -0.01, 0.0, 0.02],
        "nulls": [0.01, None, -0.02, None, 0.05, -0.5, None, 0.3],
        "zero_collapse": [0.05, -1.0, 0.02, 0.03, -0.01],
        "neg_factor": [0.05, -2.5, 0.1, -1.5, 0.2, 0.3],
        "neg_and_zero": [0.1, -2.0, -1.0, 0.5, -3.0, 0.2],
        "all_null": [None, None, None],
        "retrace": [0.5, -1.0 / 3.0, 0.5, -1.0 / 3.0, 0.5],
        "single": [0.07],
    }
    mark = ordered.pass_cache_mark()
    try:
        for name, rs in series.items():
            rows = [
                (dt.date(2020, 1, 1) + dt.timedelta(days=10 * i), r)
                for i, r in enumerate(rs)
            ]
            df = spark.createDataFrame(rows, "d date, r double")
            base = ordered.with_order(df, "d")
            got = (
                ordered.add_drawdown_columns(base, {"dd": "r"})
                .orderBy("d").select("r", "dd").collect()
            )
            want = (
                legacy(base, {"dd": "r"}).orderBy("d").select("r", "dd").collect()
            )
            assert [tuple(r) for r in got] == [tuple(r) for r in want], name
    finally:
        ordered.release_pass_caches(mark)


# ---------------------------------------------------------------------------
# pass-cache registry under concurrency (no Spark: fake caches)


class _FakeCache:
    def __init__(self):
        self.released = 0

    def persist(self):
        return self

    def unpersist(self, blocking=False):
        self.released += 1


class _InterleavingList(list):
    """A registry list that, once armed, runs ``fn`` on another thread right
    after it is first read, and gives that thread up to 0.5 s to finish
    before the reader goes on. It places a registration exactly inside a
    release's read-then-truncate window; a registry that holds a lock there
    blocks the registration until the release is done."""

    def arm(self, fn):
        self._fn, self._thread = fn, None

    def _interleave(self):
        import threading

        fn, self._fn = getattr(self, "_fn", None), None
        if fn is not None:
            self._thread = threading.Thread(target=fn)
            self._thread.start()
            self._thread.join(timeout=0.5)

    def __getitem__(self, i):
        out = super().__getitem__(i)
        self._interleave()
        return out

    def __iter__(self):
        out = super().__iter__()
        self._interleave()
        return out

    def join(self):
        self._thread.join(10)


def test_release_is_atomic_against_a_concurrent_registration(monkeypatch):
    """A cache registered by another thread while release_pass_caches runs
    is either released or still registered, never dropped from the
    registry without an unpersist (a permanent cache leak)."""
    from alphastats_spark.operators import ordered

    registry = _InterleavingList()
    monkeypatch.setattr(ordered, "_PASS_CACHES", registry)
    mark = ordered.pass_cache_mark()
    mine, late = _FakeCache(), _FakeCache()
    ordered.persist_tracked(mine)
    registry.arm(lambda: ordered.persist_tracked(late))
    ordered.release_pass_caches(mark)
    registry.join()
    assert mine.released == 1
    assert late.released == 1 or any(late in entry for entry in ordered._PASS_CACHES)


def test_scope_releases_a_cache_whose_id_was_reused(monkeypatch):
    """A scope must release what it registered even when that cache's id()
    equals the id of a cache registered before the scope (CPython reuses
    the address of a garbage-collected cache). Forcing every id() to 0
    makes the collision certain."""
    from alphastats_spark.operators import ordered

    monkeypatch.setattr(ordered, "_PASS_CACHES", [])
    monkeypatch.setattr(ordered, "id", lambda obj: 0, raising=False)
    before, inside = _FakeCache(), _FakeCache()
    ordered.persist_tracked(before)
    with ordered.pass_cache_scope():
        ordered.persist_tracked(inside)
    assert inside.released == 1
    assert before.released == 0
    assert ordered.pass_cache_mark() == 1


def test_mark_counts_live_caches_and_releases_by_token(monkeypatch):
    """A mark compares as the live-cache count, and releasing from it frees
    exactly the caches registered after it, even when a scope on another
    thread has meanwhile released an older entry (shifting positions)."""
    import threading

    from alphastats_spark.operators import ordered

    monkeypatch.setattr(ordered, "_PASS_CACHES", [])
    theirs, older, newer = _FakeCache(), _FakeCache(), _FakeCache()
    ready, done = threading.Event(), threading.Event()

    def scoped():
        with ordered.pass_cache_scope():
            ordered.persist_tracked(theirs)
            ready.set()
            done.wait(10)

    t = threading.Thread(target=scoped)
    t.start()
    assert ready.wait(10)
    ordered.persist_tracked(older)
    mark = ordered.pass_cache_mark()
    assert mark == 2
    ordered.persist_tracked(newer)
    done.set()
    t.join(10)
    assert theirs.released == 1
    ordered.release_pass_caches(mark)
    assert (older.released, newer.released) == (0, 1)
    assert ordered.pass_cache_mark() == 1


def test_registry_stress_releases_every_cache_exactly_once(monkeypatch):
    """16 threads (more than cores) register caches inside scopes while the
    main thread releases from a mark, with a short switch interval to
    force interleaving. Afterwards every cache was released exactly once:
    a lost update would leave one registered-but-dropped (0) or release it
    twice (2)."""
    import sys
    import threading

    from alphastats_spark.operators import ordered

    monkeypatch.setattr(ordered, "_PASS_CACHES", [])
    caches = [[_FakeCache() for _ in range(50)] for _ in range(16)]
    start = threading.Barrier(len(caches) + 1)

    def worker(mine):
        start.wait(10)
        for i, cache in enumerate(mine):
            if i % 2:
                with ordered.pass_cache_scope():
                    ordered.persist_tracked(cache)
            else:
                ordered.persist_tracked(cache)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(m,)) for m in caches]
        for t in threads:
            t.start()
        mark = ordered.pass_cache_mark()
        start.wait(10)
        for _ in range(20):
            ordered.release_pass_caches(mark)
        for t in threads:
            t.join(30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    ordered.release_pass_caches(mark)
    assert ordered.pass_cache_mark() == 0
    assert sorted({c.released for m in caches for c in m}) == [1]
