"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical arrays, so two runs (or two commits) measured on
one seed see the same inputs. The library only ever receives what these
functions produce, written to parquet by :func:`write_parquet`.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Large enough that uniformly drawn documents share no word trigram, so the
# only near-duplicates in a corpus are the planted ones.
VOCAB_SIZE = 40_000
DOC_WORDS = (160, 240)


def business_days(start: dt.date, n: int) -> np.ndarray:
    """``n`` consecutive Monday-to-Friday dates from ``start`` (datetime64[D])."""
    d0 = np.datetime64(start, "D")
    days = d0 + np.arange(int(n * 7 / 5) + 7)
    weekday = (days.astype("int64") + 3) % 7  # 1970-01-01 was a Thursday
    return days[weekday < 5][:n]


@dataclass
class Tearsheet:
    dates: np.ndarray          # datetime64[D], strategy rows
    returns: dict[str, np.ndarray]  # strategy -> float64 with NaN for nulls
    bench_dates: np.ndarray    # datetime64[D], subset of dates
    bench: np.ndarray          # float64, no nulls


def tearsheet(seed: int, years: int, n_strategies: int,
              null_share: float = 0.005, bench_gap_share: float = 0.03) -> Tearsheet:
    """Wide frame of daily strategy returns plus a benchmark series that
    misses ``bench_gap_share`` of the dates (so as-of matching and
    ``match_dates`` both have work to do)."""
    rng = np.random.default_rng([seed, 1])
    n = 252 * years
    dates = business_days(dt.date(2014, 1, 2), n)
    bench_full = rng.normal(0.0003, 0.011, n)
    returns = {}
    for i in range(n_strategies):
        beta = rng.uniform(0.2, 1.3)
        noise = rng.normal(rng.uniform(-0.0002, 0.0008), rng.uniform(0.004, 0.02), n)
        r = beta * bench_full + noise
        r[rng.random(n) < null_share] = np.nan
        returns[f"s{i}"] = r
    keep = rng.random(n) >= bench_gap_share
    keep[0] = True  # every strategy row then has an as-of match
    return Tearsheet(dates, returns, dates[keep], bench_full[keep])


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> np.ndarray:
    """Distinct lowercase words of 4-9 letters."""
    rng = np.random.default_rng([seed, 3])
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    words: set[str] = set()
    while len(words) < size:
        for ln in rng.integers(4, 10, size - len(words)):
            words.add(b"".join(rng.choice(letters, ln)).decode())
    return np.array(sorted(words))


@dataclass
class Corpus:
    ids: np.ndarray            # int64
    texts: list[str]
    source: dict[int, int]     # planted copy id -> the original it copies


def _random_doc(rng, vocab) -> list[str]:
    return list(rng.choice(vocab, rng.integers(*DOC_WORDS)))


def _near_copy(rng, words: list[str], vocab) -> list[str]:
    """One word replaced: Jaccard of word trigrams stays above 0.95, where
    the default MinHash banding misses a pair with probability < 1e-8."""
    out = list(words)
    out[int(rng.integers(len(out)))] = str(rng.choice(vocab))
    return out


def corpus(seed: int, n_originals: int, copy_share: float = 0.1,
           overlap_share: float = 0.1) -> Corpus:
    """``n_originals`` random documents plus planted copies of a
    ``copy_share`` sample of them, half exact and half one-word edits.
    Copy ids follow every original id, so each cluster's lowest id (the
    representative the library keeps) is its original.

    An ``overlap_share`` of the originals open with the first half of
    another original: a word-trigram Jaccard near 1/3, so banding makes a
    share of them candidates that verification must reject."""
    rng = np.random.default_rng([seed, 4])
    vocab = vocabulary(seed)
    docs = [_random_doc(rng, vocab) for _ in range(n_originals)]
    n_overlap = int(n_originals * overlap_share)
    picks = rng.choice(n_originals, 2 * n_overlap, replace=False)
    for i, j in zip(picks[:n_overlap], picks[n_overlap:]):
        half = docs[j][: len(docs[j]) // 2]
        docs[i] = half + list(rng.choice(vocab, len(half)))
    n_copies = int(n_originals * copy_share)
    sources = rng.choice(n_originals, n_copies, replace=False)
    source = {}
    for j, src in enumerate(sources):
        copy = list(docs[src]) if j % 2 == 0 else _near_copy(rng, docs[src], vocab)
        source[n_originals + j] = int(src)
        docs.append(copy)
    return Corpus(np.arange(len(docs), dtype="int64"), [" ".join(d) for d in docs], source)


def ingest_batch(seed: int, batch_no: int, base: Corpus, first_id: int,
                 size: int, copy_share: float = 0.1) -> Corpus:
    """A fresh batch of new documents, ``copy_share`` of them copies of base
    originals that have no copy in the base corpus (so the best index match
    of a planted copy is exactly its original)."""
    rng = np.random.default_rng([seed, 5, batch_no])
    vocab = vocabulary(seed)
    copied = set(base.source.values())
    n_orig = min(base.source) if base.source else len(base.ids)
    free = np.array([i for i in range(n_orig) if i not in copied])
    n_copies = int(size * copy_share)
    sources = rng.choice(free, n_copies, replace=False)
    texts, source = [], {}
    for j in range(size):
        if j < n_copies:
            words = base.texts[sources[j]].split(" ")
            if j % 2:
                words = _near_copy(rng, words, vocab)
            source[first_id + j] = int(sources[j])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(_random_doc(rng, vocab)))
    return Corpus(np.arange(first_id, first_id + size, dtype="int64"), texts, source)


def write_parquet(path: str, columns: dict[str, np.ndarray | list]) -> None:
    """Write columns as one parquet file under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({k: _arrow(v) for k, v in columns.items()})
    pq.write_table(table, os.path.join(path, "part-000.parquet"))


def _arrow(v):
    if isinstance(v, np.ndarray) and v.dtype.kind == "M":
        return pa.array(v.astype("datetime64[D]"), type=pa.date32())
    if isinstance(v, np.ndarray) and v.dtype.kind == "f":
        return pa.array(v, type=pa.float64(), from_pandas=True)  # NaN -> null
    return pa.array(v)
