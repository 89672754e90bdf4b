"""Output checks against references computed independently of Spark.

Each reference is built once per run from the generated inputs, with
DuckDB or numpy, and never from the program's output. ``check`` takes
one iteration's result and returns a list of problems, empty when the
result is correct. Iterations whose result digest was already checked
reuse that verdict, so every iteration is compared and the reference
work is paid once per distinct result.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import numpy as np

import gen


def digest(result: dict) -> str:
    return hashlib.sha256(repr(sorted(result.items())).encode()).hexdigest()


class MarketReference:
    """Supports recounted in DuckDB over the generated baskets."""

    def __init__(self, baskets: gen.Baskets, min_support: float = gen.MARKET_MIN_SUPPORT):
        self.n = int(baskets.sizes.size)
        self.min_count = math.ceil(min_support * self.n)
        self.con = duckdb.connect()
        self.con.register("pairs_df", baskets.pairs())
        self.con.execute("CREATE TABLE basket AS SELECT txn, item FROM pairs_df")
        self.con.unregister("pairs_df")
        small = self.con.execute(
            """
            SELECT [item] AS s, count(*) AS c FROM basket GROUP BY item
            HAVING count(*) >= $m
            UNION ALL
            SELECT [a.item, b.item], count(*) FROM basket a JOIN basket b
              ON a.txn = b.txn AND a.item < b.item
            GROUP BY a.item, b.item HAVING count(*) >= $m
            """,
            {"m": self.min_count},
        ).fetchall()
        # Every frequent 1- and 2-itemset with its true count.
        self.small = {tuple(s): int(c) for s, c in small}
        self.counts: dict[tuple, int] = dict(self.small)

    def recount(self, sets: list[tuple]) -> None:
        todo = [s for s in sets if s not in self.counts]
        if not todo:
            return
        rows = [(i, item) for i, s in enumerate(todo) for item in s]
        self.con.execute("CREATE OR REPLACE TEMP TABLE q(sid INTEGER, item VARCHAR)")
        self.con.executemany("INSERT INTO q VALUES (?, ?)", rows)
        got = dict(
            self.con.execute(
                """
                WITH size AS (SELECT sid, count(*) AS k FROM q GROUP BY sid),
                hit AS (
                  SELECT q.sid, b.txn, count(*) AS m FROM q JOIN basket b USING (item)
                  GROUP BY q.sid, b.txn
                )
                SELECT sid, count(*) FROM hit JOIN size USING (sid)
                WHERE m = k GROUP BY sid
                """
            ).fetchall()
        )
        for i, s in enumerate(todo):
            self.counts[s] = int(got.get(i, 0))

    def check(self, result: dict) -> list[str]:
        problems = []
        itemsets = dict(result["itemsets"])
        if len(itemsets) != len(result["itemsets"]):
            problems.append("duplicate itemsets")
        self.recount(list(itemsets))
        for s, freq in itemsets.items():
            if self.counts[s] != freq:
                problems.append(f"support of {s}: {freq} != {self.counts[s]}")
            if freq < self.min_count:
                problems.append(f"{s} below min support")
        missing = [s for s in self.small if s not in itemsets]
        if missing:
            problems.append(f"{len(missing)} frequent 1/2-itemsets missing, e.g. {missing[0]}")
        expected = {}
        for s, freq in itemsets.items():
            if len(s) < 2:
                continue
            for c in s:
                ante = tuple(x for x in s if x != c)
                if ante not in self.counts or (c,) not in self.counts:
                    continue
                conf = freq / self.counts[ante]
                if conf >= 0.3:
                    lift = conf / (self.counts[(c,)] / self.n)
                    expected[(ante, (c,))] = (conf, lift, freq / self.n)
        got = {(a, c): v for a, c, *v in result["rules"]}
        if set(got) != set(expected):
            problems.append(
                f"rules differ: {len(set(got) - set(expected))} extra, "
                f"{len(set(expected) - set(got))} missing"
            )
        for key in set(got) & set(expected):
            if not all(math.isclose(x, y, rel_tol=1e-9) for x, y in zip(got[key], expected[key])):
                problems.append(f"rule {key}: {got[key]} != {expected[key]}")
                break
        return problems


class CorpusReference:
    """The generator's planted clusters: each cluster keeps its member
    with the most characters (lowest id on ties), and every doc that
    survives exact dedup is labelled with its cluster's lowest id."""

    def __init__(self, corpus: gen.Corpus):
        n_chars = np.fromiter((len(t) for t in corpus.text), np.int64, len(corpus.text))
        survivors = corpus.kind != 2
        best: dict[int, tuple[int, int]] = {}
        for d, c, n in zip(corpus.doc_id[survivors], corpus.cluster[survivors], n_chars[survivors]):
            key = (-int(n), int(d))
            if int(c) not in best or key < best[int(c)]:
                best[int(c)] = key
        self.kept = {d: c for c, (_, d) in best.items()}
        sizes = np.bincount(corpus.cluster[survivors])
        # Only docs with a near-dup partner appear in the component labels.
        self.labels = {
            int(d): int(c)
            for d, c in zip(corpus.doc_id[survivors], corpus.cluster[survivors])
            if sizes[c] > 1
        }

    def check(self, result: dict) -> list[str]:
        problems = []
        if len(result["kept"]) != len(self.kept):
            problems.append(f"kept {len(result['kept'])} docs, expected {len(self.kept)}")
        if result["kept"] != self.kept:
            bad = sum(1 for d, c in self.kept.items() if result["kept"].get(d) != c)
            problems.append(f"{bad} kept docs or their clusters differ from the planted ones")
        if result["labels"] != self.labels:
            bad = sum(1 for d, c in self.labels.items() if result["labels"].get(d) != c)
            extra = len(set(result["labels"]) - set(self.labels))
            problems.append(f"cluster membership differs: {bad} wrong, {extra} unexpected")
        return problems


def _series_order(ev: gen.Events) -> np.ndarray:
    return np.lexsort((ev.event_id, ev.ts_us, ev.user_id))


class EventsReference:
    """Per-user EWMA and TTL chains computed by plain loops over the
    generated events, reduced to the same sums the pipeline observes."""

    def __init__(self, ev: gen.Events, alpha: float = gen.EVENT_ALPHA, ttl_s: int = gen.EVENT_TTL_S):
        order = _series_order(ev)
        users, ts, eid, x = (
            ev.user_id[order], ev.ts_us[order], ev.event_id[order], ev.value[order]
        )
        y = np.empty(x.size)
        kept = np.zeros(x.size, dtype=bool)
        ttl_us = ttl_s * 1_000_000
        prev_user, prev_y, anchor = None, 0.0, 0
        for i in range(x.size):
            if users[i] != prev_user:
                prev_user, prev_y = users[i], x[i]
                kept[i], anchor = True, ts[i]
            else:
                prev_y = alpha * x[i] + (1.0 - alpha) * prev_y
                if ts[i] >= anchor + ttl_us:
                    kept[i], anchor = True, ts[i]
            y[i] = prev_y
        k = kept.astype(np.int64)
        u = users.astype(np.int64)
        self.ewma = {
            "rows": x.size,
            "sum_y": float(y.sum()),
            "sum_yu": float((y * u).sum()),
            "sum_ye": float((y * (eid % 1009)).sum()),
        }
        self.ttl = {
            "rows": x.size,
            "kept": int(k.sum()),
            "sum_ku": int((k * u).sum()),
            "sum_kuu": int((k * u * u).sum()),
            "sum_ke": int((k * (eid % 1009)).sum()),
        }

    def check(self, result: dict) -> list[str]:
        problems = []
        for name, ref in (("ewma", self.ewma), ("ttl", self.ttl)):
            got = result[name]
            for key, want in ref.items():
                have = got.get(key)
                ok = (
                    have == want
                    if isinstance(want, int)
                    else have is not None and math.isclose(have, want, rel_tol=1e-9)
                )
                if not ok:
                    problems.append(f"{name}.{key}: {have} != {want}")
        return problems
