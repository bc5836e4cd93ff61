import datetime as dt

import numpy as np

import gen


def test_tearsheet_is_deterministic_per_seed():
    a, b = gen.tearsheet(7, years=2, n_strategies=3), gen.tearsheet(7, years=2, n_strategies=3)
    np.testing.assert_array_equal(a.dates, b.dates)
    np.testing.assert_array_equal(a.bench_dates, b.bench_dates)
    np.testing.assert_array_equal(a.bench, b.bench)
    assert list(a.returns) == list(b.returns)
    for k in a.returns:
        np.testing.assert_array_equal(a.returns[k], b.returns[k])
    c = gen.tearsheet(8, years=2, n_strategies=3)
    assert not np.array_equal(np.nan_to_num(a.returns["s0"]), np.nan_to_num(c.returns["s0"]))


def test_tearsheet_shape():
    d = gen.tearsheet(3, years=10, n_strategies=2)
    assert len(d.dates) == 2520
    assert np.all(np.diff(d.dates).astype(int) > 0)
    assert np.isin(d.bench_dates, d.dates).all()
    assert d.bench_dates[0] == d.dates[0]  # every row has an as-of match
    for r in d.returns.values():
        assert 0 < np.isnan(r).sum() < 0.02 * len(r)
    assert 0.9 * len(d.dates) < len(d.bench_dates) < len(d.dates)


def test_business_days_skip_weekends():
    days = gen.business_days(dt.date(2024, 1, 5), 3)  # a Friday
    assert [str(d) for d in days] == ["2024-01-05", "2024-01-08", "2024-01-09"]


def test_corpus_is_deterministic_and_plants_copies_after_originals():
    a, b = gen.corpus(5, 60), gen.corpus(5, 60)
    assert a.texts == b.texts and a.source == b.source
    np.testing.assert_array_equal(a.ids, b.ids)
    assert gen.corpus(6, 60).texts != a.texts
    assert len(a.ids) == 66
    for copy, original in a.source.items():
        assert copy >= 60 > original
    exact = [c for c, o in a.source.items() if a.texts[c] == a.texts[o]]
    assert 0 < len(exact) < len(a.source)


def test_ingest_batch_is_deterministic_and_copies_uncopied_originals():
    base = gen.corpus(5, 200)
    a = gen.ingest_batch(5, 2, base, 1000, 40)
    b = gen.ingest_batch(5, 2, base, 1000, 40)
    assert a.texts == b.texts and a.source == b.source
    assert gen.ingest_batch(5, 3, base, 1000, 40).texts != a.texts
    assert list(a.ids) == list(range(1000, 1040))
    assert len(a.source) == 4
    assert not set(a.source.values()) & set(base.source.values())
