"""The output checks accept a correct result and reject corrupted ones."""

import copy

import numpy as np
import pandas as pd
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def market():
    ref = checks.MarketReference(gen.market_baskets(5))
    itemsets = sorted(ref.small.items())
    rules = []
    for s, freq in itemsets:
        if len(s) == 2:
            for c in s:
                (a,) = [x for x in s if x != c]
                conf = freq / ref.counts[(a,)]
                if conf >= 0.3:
                    lift = conf / (ref.counts[(c,)] / ref.n)
                    rules.append(((a,), (c,), conf, lift, freq / ref.n))
    return ref, {"itemsets": itemsets, "rules": rules}


def test_market_check_accepts_reference_result(market):
    ref, good = market
    assert len(good["itemsets"]) > 100 and good["rules"]
    assert ref.check(good) == []


@pytest.mark.parametrize("corrupt", ["support", "missing", "rule"])
def test_market_check_rejects_corrupted_result(market, corrupt):
    ref, good = market
    bad = copy.deepcopy(good)
    if corrupt == "support":
        s, f = bad["itemsets"][0]
        bad["itemsets"][0] = (s, f + 1)
    elif corrupt == "missing":
        bad["itemsets"] = [x for x in bad["itemsets"] if len(x[0]) == 1] + [
            x for x in bad["itemsets"] if len(x[0]) == 2
        ][1:]
    else:
        a, c, conf, lift, sup = bad["rules"][0]
        bad["rules"][0] = (a, c, conf * 1.01, lift, sup)
    assert ref.check(bad) != []


def test_market_recount_matches_brute_force(market):
    ref, _ = market
    b = gen.market_baskets(5)
    ends = np.cumsum(b.sizes)
    sets = [set(b.items[e - n:e]) for n, e in zip(b.sizes, ends)]
    triple = (0, 1, 2)
    want = sum(1 for s in sets if set(triple) <= s)
    key = tuple(sorted(f"i{x}" for x in triple))
    ref.recount([key])
    assert ref.counts[key] == want


@pytest.fixture(scope="module")
def corpus_ref():
    return checks.CorpusReference(gen.corpus(5))


def test_corpus_check_accepts_planted_clusters(corpus_ref):
    good = {"kept": dict(corpus_ref.kept), "labels": dict(corpus_ref.labels)}
    assert len(good["kept"]) == gen.CORPUS_DOCS - round(
        gen.CORPUS_DOCS * (gen.CORPUS_EXACT_SHARE + gen.CORPUS_NEAR_SHARE)
    )
    assert corpus_ref.check(good) == []


@pytest.mark.parametrize("corrupt", ["label", "kept"])
def test_corpus_check_rejects_corrupted_result(corpus_ref, corrupt):
    bad = {"kept": dict(corpus_ref.kept), "labels": dict(corpus_ref.labels)}
    if corrupt == "label":
        d = next(iter(bad["labels"]))
        bad["labels"][d] = d + 1
    else:
        bad["kept"].pop(next(iter(bad["kept"])))
    assert corpus_ref.check(bad) != []


@pytest.fixture(scope="module")
def events_ref():
    return gen.events(5), checks.EventsReference(gen.events(5))


def test_events_reference_matches_pandas(events_ref):
    ev, ref = events_ref
    df = pd.DataFrame({"u": ev.user_id, "t": ev.ts_us, "e": ev.event_id, "x": ev.value})
    df = df.sort_values(["u", "t", "e"])
    y = df.groupby("u")["x"].transform(lambda s: s.ewm(alpha=gen.EVENT_ALPHA, adjust=False).mean())
    assert float(y.sum()) == pytest.approx(ref.ewma["sum_y"], rel=1e-9)
    assert float((y * df["u"]).sum()) == pytest.approx(ref.ewma["sum_yu"], rel=1e-9)


def test_events_check_accepts_reference_and_rejects_corruption(events_ref):
    _, ref = events_ref
    good = {"ewma": dict(ref.ewma), "ttl": dict(ref.ttl)}
    assert ref.check(good) == []
    bad = copy.deepcopy(good)
    bad["ttl"]["kept"] += 1
    assert ref.check(bad) != []
    bad = copy.deepcopy(good)
    bad["ewma"]["sum_y"] *= 1 + 1e-6
    assert ref.check(bad) != []
