"""Property-based parity: random return series vs pure-Python oracles.

The reference pins golden values on tiny fixtures; these tests drive the
same metrics with hypothesis-generated series (including nulls, zeros and
extreme values) and compare against straightforward Python re-computations
of the reference formulas (``alphastats/stats.py``) at rel=1e-9 — the
reference's own QuantStats-parity tolerance.

Spark sessions are expensive, so examples are capped and deadlines off.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from alphastats_spark import stats

# returns in (-0.95, 2.0) plus occasional None; at least 3 non-null values.
# Magnitudes below 1e-9 are excluded: they make the *naive Python oracle*
# lose precision to cancellation (Spark's streaming moments are stable).
ret_value = st.one_of(
    st.none(),
    st.floats(min_value=-0.95, max_value=2.0, allow_nan=False, width=64).filter(
        lambda v: v == 0 or abs(v) > 1e-9
    ),
)
series_strategy = st.lists(ret_value, min_size=3, max_size=40).filter(
    lambda xs: sum(v is not None for v in xs) >= 3
)


def _meaningful_spread(xs):
    """Exclude near-constant series whose variance sits at double-precision
    noise (spread < 1e-12 of magnitude): mean/std ratios there are garbage
    digits in ANY algorithm, so there is no correct answer to compare."""
    import statistics

    vals = [v for v in xs if v is not None]
    scale = max(1.0, max(abs(v) for v in vals))
    return len(set(vals)) == 1 or statistics.pstdev(vals) >= 1e-12 * scale


ratio_series = series_strategy.filter(_meaningful_spread)

SETTINGS = settings(
    max_examples=25,
    deadline=None,
    # deterministic examples: an unseeded draw could fail the CI gate on a
    # fresh degenerate input unrelated to the change under test
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _vals(xs):
    return [v for v in xs if v is not None]


def _close(got, want):
    if want is None or (isinstance(want, float) and math.isnan(want)):
        assert got is None or math.isnan(got), (got, want)
    elif math.isinf(want):
        assert math.isinf(got) and (got > 0) == (want > 0), (got, want)
    else:
        assert got == pytest.approx(want, rel=1e-9, abs=1e-12), (got, want)


def py_comp(vals):
    out = 1.0
    for v in vals:
        out *= 1 + v
    return out - 1


def py_sharpe(vals, periods=252):
    n = len(vals)
    mean = sum(vals) / n
    if n < 2:
        return math.nan
    if len(set(vals)) == 1:
        # exactly-constant series: sd is exactly 0 (the naive Σ(v−mean)²
        # would pick up a 1-ulp mean error that Spark's stable moments don't)
        mean, sd = vals[0], 0.0
    else:
        var = sum((v - mean) ** 2 for v in vals) / (n - 1)
        sd = math.sqrt(var)
    if sd == 0:
        return math.inf if mean > 0 else (-math.inf if mean < 0 else math.nan)
    return mean / sd * math.sqrt(periods)


def py_sortino(vals, periods=252):
    n = len(vals)
    mean = sum(vals) / n
    downside = math.sqrt(sum(min(v, 0) ** 2 for v in vals) / n)
    if downside == 0:
        return math.inf if mean > 0 else (-math.inf if mean < 0 else math.nan)
    return mean / downside * math.sqrt(periods)


def py_drawdowns(vals):
    out, cum, peak = [], 1.0, -math.inf
    for v in vals:
        cum *= 1 + v
        peak = max(peak, cum)
        out.append(min(cum / peak - 1, 0.0))
    return out


def py_profit_factor(vals):
    gains = sum(v for v in vals if v >= 0)
    losses = abs(sum(v for v in vals if v < 0))
    if losses == 0:
        return math.inf if gains > 0 else math.nan
    return gains / losses


@SETTINGS
@given(xs=series_strategy)
def test_comp_random(spark, xs):
    import pandas as pd

    got = stats.comp(pd.Series(xs, dtype="float64"))
    _close(got, py_comp(_vals(xs)))


@SETTINGS
@given(xs=ratio_series)
def test_sharpe_random(spark, xs):
    import pandas as pd

    got = stats.sharpe(pd.Series(xs, dtype="float64"))
    _close(got, py_sharpe(_vals(xs)))


@SETTINGS
@given(xs=ratio_series)
def test_sortino_random(spark, xs):
    import pandas as pd

    got = stats.sortino(pd.Series(xs, dtype="float64"))
    _close(got, py_sortino(_vals(xs)))


@SETTINGS
@given(xs=series_strategy)
def test_profit_factor_random(spark, xs):
    import pandas as pd

    got = stats.profit_factor(pd.Series(xs, dtype="float64"))
    _close(got, py_profit_factor(_vals(xs)))


@SETTINGS
@given(xs=st.lists(st.floats(min_value=-0.95, max_value=2.0, allow_nan=False), min_size=1, max_size=40))
def test_max_drawdown_random(spark, xs):
    import pandas as pd

    got = stats.max_drawdown(pd.Series(xs, dtype="float64"))
    _close(got, min(py_drawdowns(xs)))


@SETTINGS
@given(xs=st.lists(st.floats(min_value=-0.95, max_value=2.0, allow_nan=False), min_size=1, max_size=40))
def test_drawdown_series_random(spark, xs):
    import datetime as dt

    import pandas as pd

    dates = [dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(len(xs))]
    df = spark.createDataFrame(list(zip(dates, xs)), "d date, r double")
    got = [r["r"] for r in stats.to_drawdowns(df).orderBy("d").collect()]
    want = py_drawdowns(xs)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        _close(g, w)


# Moment ratios are ill-conditioned on degenerate inputs (near-constant
# series, n<4): pandas, Polars and streaming-moment algorithms legitimately
# diverge there, and the deterministic edge-case tests pin that behavior.
# The property tests check the well-conditioned region where the reference,
# pandas and Spark's stable central moments must all agree.
def _well_conditioned(xs):
    import statistics

    vals = _vals(xs)
    return len(vals) >= 5 and statistics.pstdev(vals) >= 1e-3


moment_series = series_strategy.filter(_well_conditioned)


@SETTINGS
@given(xs=moment_series)
def test_skew_matches_pandas(spark, xs):
    import pandas as pd

    s = pd.Series(xs, dtype="float64")
    got = stats.skew(s)
    _close(got, float(s.skew()))  # pandas = the reference's bias-corrected G1


@SETTINGS
@given(xs=moment_series)
def test_kurtosis_matches_pandas(spark, xs):
    import pandas as pd

    s = pd.Series(xs, dtype="float64")
    got = stats.kurtosis(s)
    _close(got, float(s.kurt()))


def test_drawdowns_negative_wealth_factors(spark):
    # losses beyond -100% flip the cumulative-wealth sign; a factor of
    # exactly 0 collapses wealth permanently. Locks the sign/zero tracking
    # in operators.ordered.add_drawdown_columns against the plain
    # cumprod/cummax reference semantics.
    import datetime as dt

    xs = [0.5, -1.5, 0.2, -1.0, 0.3, 0.1]
    dates = [dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(len(xs))]
    df = spark.createDataFrame(list(zip(dates, xs)), "d date, r double")
    got = [r["r"] for r in stats.to_drawdowns(df).orderBy("d").collect()]

    want, cum, peak = [], 1.0, -math.inf
    for v in xs:
        cum *= 1 + v
        peak = max(peak, cum)
        ratio = cum / peak - 1 if peak != 0 else math.nan
        want.append(min(ratio, 0.0) if not math.isnan(ratio) else math.nan)
    for g, w in zip(got, want):
        _close(g, w)


# ---------------------------------------------------------------------------
# codec roundtrips (pure functions — no Spark session, so examples are cheap)

import numpy as np
from hypothesis import strategies as hst
from hypothesis.extra.numpy import arrays as np_arrays


@settings(max_examples=50, deadline=None)
@given(
    np_arrays(
        np.uint8,
        hst.tuples(
            hst.integers(min_value=1, max_value=12),
            hst.integers(min_value=1, max_value=12),
            hst.sampled_from([3]),
        ),
    )
)
def test_ppm_roundtrip_property(img):
    from alphastats_spark.functions import codecs

    assert (codecs.decode_ppm(codecs.encode_ppm(img)) == img).all()


@settings(max_examples=50, deadline=None)
@given(
    np_arrays(
        np.uint8,
        hst.tuples(
            hst.integers(min_value=1, max_value=10),
            hst.integers(min_value=1, max_value=10),
        ),
    ),
    hst.sampled_from([1, 3, 4]),
)
def test_png_roundtrip_property(gray, channels):
    from alphastats_spark.functions import codecs

    img = gray if channels == 1 else np.repeat(gray[:, :, None], channels, axis=2)
    if channels > 1:
        # de-correlate channels so the test isn't all-equal lanes
        for c in range(channels):
            img[:, :, c] = (img[:, :, c].astype(np.int32) * (c + 1)) % 256
    decoded = codecs.decode_png(codecs.encode_png(img))
    assert decoded.shape == img.shape
    assert (decoded == img).all()


@settings(max_examples=25, deadline=None)
@given(
    hst.integers(min_value=1, max_value=2000),
    hst.sampled_from([1, 2]),
    hst.sampled_from([8000, 44100]),
)
def test_wav_roundtrip_property(n_frames, n_channels, sr):
    import io
    import wave

    from alphastats_spark.functions import codecs

    rng = np.random.RandomState(n_frames)
    samples = rng.randint(-32768, 32768, (n_frames, n_channels)).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(samples.tobytes())
    decoded, got_sr = codecs.decode_wav(buf.getvalue())
    assert got_sr == sr and decoded.shape == (n_frames, n_channels)
    assert np.allclose(decoded, samples.astype(np.float64) / 32768.0, atol=1e-9)
    feats = codecs.audio_features(decoded, got_sr)
    assert len(feats) == 16 and all(math.isfinite(f) for f in feats)


@settings(max_examples=30, deadline=None)
@given(
    hst.lists(
        hst.tuples(
            hst.integers(min_value=1, max_value=6),
            hst.integers(min_value=1, max_value=6),
            hst.sampled_from([1, 3]),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_split_ppm_frames_roundtrip_property(dims):
    """Concatenated heterogeneous P5/P6 frames split back bit-for-bit —
    the frame-sampling container invariant."""
    from alphastats_spark.functions import codecs

    rng = np.random.RandomState(len(dims) * 7 + sum(h for h, _, _ in dims))
    imgs = [
        rng.randint(0, 256, (h, w) if ch == 1 else (h, w, ch), dtype=np.uint8)
        for h, w, ch in dims
    ]
    payload = b"".join(codecs.encode_ppm(i) for i in imgs)
    frames = codecs.split_ppm_frames(payload)
    assert len(frames) == len(imgs)
    for fb, img in zip(frames, imgs):
        assert (codecs.decode_ppm(fb) == img).all()


@given(series_strategy)
@SETTINGS
def test_fused_ordered_pass_matches_python(spark, xs):
    """add_ordered_columns computing all four kinds AT ONCE must equal the
    per-kind pure-Python definitions (running sum/max with null-skip,
    lag(1), forward-fill) on a dated series with nulls — the fused pass is
    the substrate of every order-dependent operator, so pin its semantics
    directly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from alphastats_spark.operators import ordered

    d0 = dt.date(2023, 11, 20)  # spans a month boundary -> multiple buckets
    rows = [(d0 + dt.timedelta(days=i), v) for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "d date, r double")
    out = ordered.add_ordered_columns(
        ordered.with_order(df, "d"),
        sums={"cs": F.col("r")},
        maxes={"cm": F.col("r")},
        lags={"lg": "r"},
        ffills={"ff": F.col("r")},
    )
    got = {r["d"]: r for r in out.collect()}

    run_sum = None
    run_max = None
    prev = None
    last_nn = None
    for d, v in rows:
        g = got[d]
        if v is not None:
            run_sum = v if run_sum is None else run_sum + v
            run_max = v if run_max is None else max(run_max, v)
            last_nn = v  # ffill window includes the current row
        assert (g["cs"] is None) == (run_sum is None)
        if run_sum is not None:
            assert g["cs"] == pytest.approx(run_sum, rel=1e-9, abs=1e-12)
        assert (g["cm"] is None) == (run_max is None)
        if run_max is not None:
            assert g["cm"] == pytest.approx(run_max, rel=1e-9)
        assert g["lg"] == (pytest.approx(prev, rel=1e-9) if prev is not None else None)
        assert (g["ff"] is None) == (last_nn is None)
        if last_nn is not None:
            assert g["ff"] == pytest.approx(last_nn, rel=1e-9)
        prev = v


# ---------------------------------------------------------------------------
# containment_pairs vs a brute-force Python oracle (round 7)

_doc_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=3, max_size=9),
    min_size=2,
    max_size=10,
)


def _brute_containment(texts, n=3, threshold=0.0):
    def sh(tokens):
        return {tuple(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}

    shs = [sh(t) for t in texts]
    out = set()
    for i in range(len(texts)):
        for j in range(len(texts)):
            if i == j or not shs[i]:
                continue
            c = round(len(shs[i] & shs[j]) / len(shs[i]), 7)
            if c >= threshold and len(shs[i] & shs[j]) > 0:
                out.add((i, j, c))
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_doc_strategy)
def test_containment_pairs_random(spark, docs):
    """containment_pairs (default cap AND uncapped) against an
    all-pairs set-arithmetic oracle on tiny random corpora: same pairs,
    same rounded scores, both directions."""
    from alphastats_spark.functions import dedup

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id bigint, text string",
    )
    expect = _brute_containment(docs, n=3, threshold=0.0)
    for cap in (None, dedup.CONTAINMENT_MAX_SHINGLE_DF):
        got = {
            (r["contained_id"], r["container_id"], r["containment"])
            for r in dedup.containment_pairs(
                df, threshold=0.0, max_shingle_df=cap
            ).collect()
        }
        assert got == expect, (cap, got ^ expect)


_hash_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
    min_size=0, max_size=60,
)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=st.lists(_hash_text, min_size=1, max_size=25, unique=True))
def test_hash_key60_engine_parity(spark, values):
    """The 60-bit join-key hash (text.hash_key60) must agree bit-for-bit
    across Spark, DuckDB's mirror expression, and a pure-Python hashlib
    re-derivation — EVERY hashed gram/shingle join key in the engine rides
    this contract (harness._SHINGLE_HASH_CTE), including on unicode,
    empty-string and whitespace inputs."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    from alphastats_spark.functions.text import hash_key60

    df = spark.createDataFrame([(v,) for v in values], "s string")
    got_spark = {
        r["s"]: r["h"] for r in df.select("s", hash_key60(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for v in values:
        expect_py = int(hashlib.md5(v.encode("utf-8")).hexdigest()[:15], 16)
        got_duck = con.execute(
            "SELECT CAST(CONCAT('0x', substr(md5(?), 1, 15)) AS BIGINT)", [v]
        ).fetchone()[0]
        assert got_spark[v] == expect_py == got_duck, (v, got_spark[v], expect_py, got_duck)


@pytest.mark.parametrize("family", ["affine31"])
def test_affine_minhash_estimator_quality(spark, family):
    """End-to-end min-wise property of the affine-transform family:
    over a seeded corpus of document pairs with known Jaccard, the k=24
    signature agreement fraction estimates true Jaccard within the
    binomial noise envelope (σ = √(J(1−J)/k) ≈ 0.1) on average — the
    property the whole LSH pipeline rests on, checked through the REAL
    signature path, not a unit mock. A broken hash family (biased, or
    collapsing shingles) fails the mean-error bound immediately."""
    import random

    from pyspark.sql import functions as F

    from alphastats_spark.functions import dedup

    assert dedup.SIG_FAMILY == family
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(400)]
    rows, truth = [], {}
    for p in range(40):
        base = rng.sample(vocab, 60)
        keep = rng.randint(20, 58)
        variant = base[:keep] + rng.sample(
            [w for w in vocab if w not in base], 60 - keep
        )
        a_id, b_id = 2 * p, 2 * p + 1
        rows.append((a_id, " ".join(base)))
        rows.append((b_id, " ".join(variant)))
        # truth on the SHINGLE sets the pipeline actually hashes (3-gram
        # over tokens), computed exactly below from the exploded table
        truth[(a_id, b_id)] = None
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    sh = dedup._exploded_shingles(docs, "doc_id", "text").collect()
    sets: dict[int, set] = {}
    for r in sh:
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    sigs = {
        r["doc_id"]: tuple(r)[1:]
        for r in dedup.minhash_signatures(docs, k=24).collect()
    }
    errs = []
    for (a_id, b_id) in truth:
        j = len(sets[a_id] & sets[b_id]) / len(sets[a_id] | sets[b_id])
        est = sum(
            x == y for x, y in zip(sigs[a_id], sigs[b_id])
        ) / 24.0
        errs.append(abs(est - j))
    mean_err = sum(errs) / len(errs)
    # per-pair binomial σ ≈ 0.10; mean |err| over 40 pairs concentrates
    # near E|err| ≈ 0.8σ — 0.2 is ~4 standard errors above that
    assert mean_err < 0.2, (mean_err, sorted(errs)[-5:])
    assert max(errs) < 0.45, sorted(errs)[-5:]


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps zeta eta theta".split()),
            min_size=0,
            max_size=14,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=10, deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnow_fingerprints_matches_python(spark, docs):
    """Exact-parity property: Spark's winnow_fingerprints equals a
    straight Python re-computation (hashlib 60-bit md5 gram hashes,
    sliding-window minima, distinct per doc) on random token docs —
    including the sub-k and sub-window degenerations."""
    import hashlib

    from alphastats_spark.functions import dedup as dd

    k, w = 3, 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got: dict[int, set] = {}
    for r in dd.winnow_fingerprints(df, k=k, window=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for i, toks in enumerate(docs):
        grams = [
            h60(" ".join(toks[j:j + k])) for j in range(len(toks) - k + 1)
        ]
        if not grams:
            exp = set()
        else:
            exp = {
                min(grams[j:j + w])
                for j in range(max(1, len(grams) - w + 1))
            }
        assert got.get(i, set()) == exp, (i, toks)


@given(
    n_a=st.integers(min_value=1, max_value=8),
    n_b=st.integers(min_value=1, max_value=8),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=10, deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rrf_fuse_matches_python(spark, n_a, n_b, seed):
    """Exact-parity property: rrf_fuse equals the Python 1/(c+rank)
    two-list fusion on random overlapping ranked lists, including the
    rank-column contract (rank = dense 1..k over score desc, id asc)."""
    import random as _random

    from alphastats_spark.functions import similarity as sim

    rng = _random.Random(seed)
    ids = list(range(12))
    a_ids = rng.sample(ids, n_a)
    b_ids = rng.sample(ids, n_b)
    a = spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(a_ids)], "id bigint, rank int"
    )
    b = spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(b_ids)], "id bigint, rank int"
    )
    k, c = 6, 60
    got = [
        (r["id"], r["rrf"], r["rank"])
        for r in sim.rrf_fuse([a, b], k=k, c=c).collect()
    ]

    scores = {}
    for r, i in enumerate(a_ids):
        scores[i] = scores.get(i, 0.0) + 1.0 / (c + (r + 1))
    for r, i in enumerate(b_ids):
        scores[i] = scores.get(i, 0.0) + 1.0 / (c + (r + 1))
    exp_order = sorted(scores, key=lambda i: (-round(scores[i], 7), i))[:k]
    assert [g[0] for g in got] == exp_order
    for rank, (i, rrf, got_rank) in enumerate(got, start=1):
        assert got_rank == rank
        assert rrf == pytest.approx(round(scores[i], 7), abs=1e-9)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("red blue green gold gray pink".split()),
            min_size=1,
            max_size=10,
        ),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None,
          derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_corpus_divergence_properties(spark, docs):
    """Distribution-divergence invariants on random corpora split in
    half: KLs non-negative, JS within [0, ln 2], swap mirrors the KLs
    and preserves JS, and the whole row matches a pure-Python
    recomputation of the smoothed formulas."""
    from alphastats_spark.functions import text as tx

    half = max(1, len(docs) // 2)
    rows_a = [(i, " ".join(t)) for i, t in enumerate(docs[:half])]
    rows_b = [(i, " ".join(t)) for i, t in enumerate(docs[half:] or docs[:1])]
    a = spark.createDataFrame(rows_a, "doc_id bigint, text string")
    b = spark.createDataFrame(rows_b, "doc_id bigint, text string")
    row = tx.corpus_divergence(a, b).first()

    from collections import Counter

    ca = Counter(t for _, txt in rows_a for t in txt.split())
    cb = Counter(t for _, txt in rows_b for t in txt.split())
    vocab = sorted(set(ca) | set(cb))
    ta, tb, v, al = sum(ca.values()), sum(cb.values()), len(vocab), 0.5
    p = {t: (ca.get(t, 0) + al) / (ta + al * v) for t in vocab}
    q = {t: (cb.get(t, 0) + al) / (tb + al * v) for t in vocab}
    kl_ab = sum(p[t] * math.log(p[t] / q[t]) for t in vocab)
    kl_ba = sum(q[t] * math.log(q[t] / p[t]) for t in vocab)
    js = 0.5 * sum(p[t] * math.log(2 * p[t] / (p[t] + q[t])) for t in vocab) \
        + 0.5 * sum(q[t] * math.log(2 * q[t] / (p[t] + q[t])) for t in vocab)
    assert row["kl_ab"] == pytest.approx(kl_ab, abs=1e-6)
    assert row["kl_ba"] == pytest.approx(kl_ba, abs=1e-6)
    assert row["js_divergence"] == pytest.approx(js, abs=1e-6)
    assert row["kl_ab"] >= 0 and row["kl_ba"] >= 0
    assert -1e-7 <= row["js_divergence"] <= math.log(2) + 1e-7
    assert (row["vocab_union"], row["tokens_a"], row["tokens_b"]) == (v, ta, tb)

    swapped = tx.corpus_divergence(b, a).first()
    assert swapped["kl_ab"] == row["kl_ba"]
    assert swapped["js_divergence"] == row["js_divergence"]
