"""Seed and generator properties of the benchmark inputs.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from itertools import combinations

import numpy as np
import pytest

import checks
import gen


def cc_rounds(edges: list[tuple[int, int]]) -> int:
    """Propagation rounds dedup.connected_components runs on these
    edges, counting the final round that detects convergence: the
    operator's min-label loop, replayed in plain Python."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {v: min(min(ns), v) for v, ns in nbrs.items()}
    rounds = 0
    while True:
        rounds += 1
        new = {v: min([labels[v]] + [labels[n] for n in ns]) for v, ns in nbrs.items()}
        if new == labels:
            return rounds
        labels = new


def shingle_sets(corpus: gen.Corpus, n: int = 3) -> dict[int, set]:
    out = {}
    for d, text, kind in zip(corpus.doc_id, corpus.text, corpus.kind):
        if kind == 2:
            continue
        toks = text.split()
        out[int(d)] = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    return out


def jaccard_edges(corpus: gen.Corpus, threshold: float = gen.CORPUS_JACCARD) -> list[tuple[int, int]]:
    """All pairs of exact-dedup survivors with 3-gram Jaccard >= the
    threshold, scored by brute force over the pairs that share a
    shingle held by fewer than 50 docs (near copies share dozens)."""
    sets = shingle_sets(corpus)
    index: dict[str, list[int]] = {}
    for d, s in sets.items():
        for sh in s:
            index.setdefault(sh, []).append(d)
    cand = set()
    for docs in index.values():
        if len(docs) < 50:
            cand.update(combinations(sorted(docs), 2))
    edges = []
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        if inter / (len(sets[a]) + len(sets[b]) - inter) >= threshold:
            edges.append((a, b))
    return sorted(edges)


def _zipf_exponent(ranks: np.ndarray, top: int = 50) -> float:
    """Slope of log frequency against log rank over the top ranks."""
    counts = np.sort(np.bincount(ranks))[::-1][:top]
    x = np.log(np.arange(1, top + 1))
    return -np.polyfit(x, np.log(counts), 1)[0]


def _input_bytes(seed: int, tmp_path) -> dict[str, bytes]:
    d = tmp_path / str(seed)
    d.mkdir(exist_ok=True)
    gen.write_fimi(gen.market_baskets(seed), str(d / "baskets.txt"))
    gen.write_parquet(gen.corpus(seed).frame(), str(d / "documents.parquet"))
    gen.write_parquet(gen.events(seed).frame(), str(d / "events.parquet"))
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    first = _input_bytes(7, tmp_path)
    (tmp_path / "again").mkdir()
    again = _input_bytes(7, tmp_path / "again")
    assert first == again
    assert first != _input_bytes(8, tmp_path)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_market_properties_hold_for_any_seed(seed):
    b = gen.market_baskets(seed)
    assert b.sizes.size == gen.MARKET_BASKETS
    assert abs(b.sizes.mean() - (gen.MARKET_POISSON + 1)) < 0.1
    assert b.sizes.min() >= 1
    assert abs(_zipf_exponent(b.items) - gen.MARKET_ZIPF) < 0.15


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_corpus_properties_hold_for_any_seed(seed):
    c = gen.corpus(seed)
    assert c.doc_id.size == gen.CORPUS_DOCS
    share = np.bincount(c.kind, minlength=3) / c.doc_id.size
    assert share[2] == pytest.approx(gen.CORPUS_EXACT_SHARE, abs=0.005)
    assert share[1] == pytest.approx(gen.CORPUS_NEAR_SHARE, abs=0.005)
    originals = [t for t, k in zip(c.text, c.kind) if k == 0]
    lens = np.array([len(t.split()) for t in originals])
    assert lens.min() >= gen.CORPUS_LEN[0] and lens.max() <= gen.CORPUS_LEN[1]
    words = np.array([int(w[1:]) for t in originals for w in t.split()])
    assert abs(_zipf_exponent(words) - gen.CORPUS_ZIPF) < 0.15
    # Exact copies differ from their source only in case and whitespace.
    for t, k, cl in zip(c.text, c.kind, c.cluster):
        if k == 2:
            assert t.lower().split() == c.text[cl].split()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_event_properties_hold_for_any_seed(seed):
    e = gen.events(seed)
    assert e.user_id.size == gen.EVENT_USERS * gen.EVENTS_PER_USER
    per_user = np.bincount(e.user_id, minlength=gen.EVENT_USERS)
    assert abs(per_user[per_user > 0].mean() - gen.EVENTS_PER_USER) < 1.0
    assert (per_user > 0).mean() > 0.99
    span_days = (e.ts_us.max() - e.ts_us.min()) / 86_400e6
    assert gen.EVENT_DAYS - 1 < span_days < gen.EVENT_DAYS + 1
    ref = checks.EventsReference(e)
    # The 10-minute TTL drops a real share of rows.
    assert 0.2 < 1 - ref.ttl["kept"] / ref.ttl["rows"] < 0.8


@pytest.mark.parametrize("seed", [1, 2])
def test_planted_chains_force_three_component_rounds(seed):
    c = gen.corpus(seed)
    edges = jaccard_edges(c)
    # The Jaccard graph's components are exactly the planted clusters...
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    planted = {int(d): int(cl) for d, cl, k in zip(c.doc_id, c.cluster, c.kind) if k != 2}
    for a, b in edges:
        assert planted[a] == planted[b], (a, b)
    chained = {d for d, k in zip(c.doc_id, c.kind) if k == 1}
    assert all(find(d) == find(planted[d]) for d in chained)
    # ...and they are chains, not cliques: label propagation needs >= 3 rounds.
    assert cc_rounds(edges) >= 3
