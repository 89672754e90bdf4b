"""Seeded input generators for the three benchmark workloads.

Everything is vectorised numpy drawn from one ``np.random.Generator``
per workload, so the same seed gives byte-identical inputs and another
seed gives the same sizes and the same stated properties. The program
under test only ever sees the files these arrays are written to.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# market-sparse: FIMI baskets, Poisson(6)+1 items drawn Zipf(1.1).
MARKET_BASKETS = 12_000
MARKET_ITEMS = 5_000
MARKET_ZIPF = 1.1
MARKET_POISSON = 6.0
MARKET_MIN_SUPPORT = 0.004

# corpus-dedup: Zipf(1.05) documents with planted exact and near copies.
CORPUS_DOCS = 1_000
CORPUS_VOCAB = 20_000
CORPUS_ZIPF = 1.05
CORPUS_LEN = (60, 200)
CORPUS_EXACT_SHARE = 0.05
CORPUS_NEAR_SHARE = 0.15
# Each near copy replaces this share of its parent's tokens. At 8 % a
# copy keeps Jaccard >= ~0.59 to its parent while a copy of a copy
# falls to ~0.43, so the chain is linked hop by hop only: its diameter
# is the chain length, and connected_components needs a round per hop.
CORPUS_NEAR_REPLACE = 0.08
CORPUS_CHAIN = 3
CORPUS_JACCARD = 0.5

# event-recurrence: bursty per-user event series over 30 days.
EVENT_USERS = 600
EVENTS_PER_USER = 50
EVENT_DAYS = 30
EVENT_SESSION_EVENTS = 5
EVENT_TTL_S = 600
EVENT_ALPHA = 0.3
EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def _draw(rng: np.random.Generator, probs: np.ndarray, size: int) -> np.ndarray:
    """Inverse-CDF draw of ranks 0..n-1 (rank 0 is the most frequent)."""
    cdf = np.cumsum(probs)
    idx = np.searchsorted(cdf, rng.random(size), side="right")
    return np.minimum(idx, probs.size - 1)


@dataclass(frozen=True)
class Baskets:
    sizes: np.ndarray  # items drawn per basket (duplicates included)
    items: np.ndarray  # flat item ranks, len == sizes.sum()

    def lines(self) -> list[str]:
        names = np.char.add("i", self.items.astype(str))
        ends = np.cumsum(self.sizes)
        return [" ".join(names[e - n:e]) for n, e in zip(self.sizes, ends)]

    def pairs(self) -> pd.DataFrame:
        """Distinct (txn, item) rows: the basket semantics the reader
        applies (duplicates collapse, order is irrelevant)."""
        txn = np.repeat(np.arange(self.sizes.size, dtype=np.int64), self.sizes)
        df = pd.DataFrame({"txn": txn, "item": np.char.add("i", self.items.astype(str))})
        return df.drop_duplicates(ignore_index=True)


def market_baskets(seed: int) -> Baskets:
    rng = np.random.default_rng([seed, 1])
    sizes = rng.poisson(MARKET_POISSON, MARKET_BASKETS) + 1
    items = _draw(rng, zipf_probs(MARKET_ITEMS, MARKET_ZIPF), int(sizes.sum()))
    return Baskets(sizes.astype(np.int64), items.astype(np.int64))


def write_fimi(baskets: Baskets, path: str) -> int:
    data = ("\n".join(baskets.lines()) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


@dataclass(frozen=True)
class Corpus:
    doc_id: np.ndarray
    text: list[str]
    cluster: np.ndarray  # planted cluster id = the original's doc_id
    kind: np.ndarray  # 0 original, 1 near copy, 2 exact copy

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "doc_id": self.doc_id,
                "lang": "en",
                "text": self.text,
                "n_chars": np.fromiter((len(t) for t in self.text), np.int64, len(self.text)),
            }
        )


def corpus(seed: int) -> Corpus:
    """Originals first, then near-copy chains, then exact copies, with
    doc ids in that order, so every planted cluster's lowest id is its
    original and exact_dedup keeps the original."""
    rng = np.random.default_rng([seed, 2])
    probs = zipf_probs(CORPUS_VOCAB, CORPUS_ZIPF)
    n_exact = round(CORPUS_DOCS * CORPUS_EXACT_SHARE)
    n_chains = round(CORPUS_DOCS * CORPUS_NEAR_SHARE) // CORPUS_CHAIN
    n_orig = CORPUS_DOCS - n_exact - n_chains * CORPUS_CHAIN
    lens = rng.integers(CORPUS_LEN[0], CORPUS_LEN[1] + 1, n_orig)
    flat = _draw(rng, probs, int(lens.sum()))
    docs = np.split(flat, np.cumsum(lens)[:-1])
    cluster = list(range(n_orig))
    kind = [0] * n_orig
    chain_roots = rng.choice(n_orig, n_chains, replace=False)
    for root in chain_roots:
        parent = docs[root]
        for _ in range(CORPUS_CHAIN):
            child = parent.copy()
            k = max(1, round(CORPUS_NEAR_REPLACE * child.size))
            pos = rng.choice(child.size, k, replace=False)
            child[pos] = _draw(rng, probs, k)
            docs.append(child)
            cluster.append(int(root))
            kind.append(1)
            parent = child
    text = [" ".join(np.char.add("w", d.astype(str))) for d in docs]
    for src in rng.choice(n_orig, n_exact, replace=False):
        words = text[src].split(" ")
        upper = rng.random(len(words)) < 0.3
        gaps = rng.choice(np.array([" ", "  ", "\t", " \n "]), len(words) - 1)
        cased = [w.upper() if u else w for w, u in zip(words, upper)]
        text.append("".join(w + g for w, g in zip(cased, gaps)) + cased[-1])
        cluster.append(int(src))
        kind.append(2)
    return Corpus(
        np.arange(len(text), dtype=np.int64),
        text,
        np.asarray(cluster, dtype=np.int64),
        np.asarray(kind, dtype=np.int8),
    )


@dataclass(frozen=True)
class Events:
    user_id: np.ndarray
    ts_us: np.ndarray
    event_id: np.ndarray
    value: np.ndarray

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": self.user_id,
                "ts": pd.to_datetime(self.ts_us, unit="us", utc=True),
                "event_id": self.event_id,
                "value": self.value,
            }
        )


def events(seed: int) -> Events:
    """Events arrive in sessions: each user has sessions starting
    uniformly over the window, each session a burst of events a few
    seconds to minutes apart, so the 10-minute TTL drops a real share
    of rows. Timestamps are whole seconds, so ties occur and the
    event_id tiebreak matters."""
    rng = np.random.default_rng([seed, 3])
    n = EVENT_USERS * EVENTS_PER_USER
    n_sessions = n // EVENT_SESSION_EVENTS
    user_of_session = rng.integers(0, EVENT_USERS, n_sessions)
    start_s = rng.integers(0, EVENT_DAYS * 86_400, n_sessions)
    session = np.repeat(np.arange(n_sessions), EVENT_SESSION_EVENTS)
    gaps = rng.exponential(90.0, n).astype(np.int64)
    gaps[::EVENT_SESSION_EVENTS] = 0
    offs = np.cumsum(gaps)
    offs -= np.repeat(offs[::EVENT_SESSION_EVENTS], EVENT_SESSION_EVENTS)
    ts_s = start_s[session] + offs
    order = rng.permutation(n)
    return Events(
        user_id=user_of_session[session][order].astype(np.int64),
        ts_us=(EPOCH_US + ts_s[order] * 1_000_000).astype(np.int64),
        event_id=np.arange(n, dtype=np.int64),
        value=np.round(rng.lognormal(1.0, 0.75, n), 3),
    )


def write_parquet(frame: pd.DataFrame, path: str) -> int:
    table = pa.Table.from_pandas(frame, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")
    return os.path.getsize(path)
