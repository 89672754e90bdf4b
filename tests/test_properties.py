"""Property-based tests (hypothesis): operator semantics checked
against independent pure-Python references on randomized inputs —
the edge cases fixture data never hits (empty docs, single tokens,
shingle windows longer than the document, ragged groups).

Examples are deliberately few (each one is a Spark job); the value is
input SHAPE coverage, not volume.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import pytest
# Driver test budget (VERDICT r11 item 2, pytest.ini): this whole
# randomized-property suite is `slow` — excluded from the default
# driver-budget run, re-proven by the builder's full-suite close.
pytestmark = pytest.mark.slow


TOKEN = st.text(alphabet="abc", min_size=1, max_size=3)
DOC = st.lists(TOKEN, min_size=0, max_size=12)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _ref_shingles(tokens: list[str], n: int) -> list[str]:
    """Independent reference: sorted distinct word n-grams."""
    return sorted(
        {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}
    )


@given(docs=st.lists(DOC, min_size=1, max_size=5), n=st.integers(2, 4))
@settings(**_SETTINGS)
def test_shingles_match_reference(spark, docs, n):
    """The zip_with-over-shifted-slices construction must equal the
    straightforward n-gram set for ANY token array — including arrays
    shorter than n (empty set) and duplicate-heavy arrays."""
    from miningfrequentpattern_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, tokens array<string>"
    )
    got = {
        r.id: list(r.sh)
        for r in df.select("id", shingles("tokens", n).alias("sh")).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == _ref_shingles(d, n), (d, n)


@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["s1", "s2"]), st.integers(1, 40)),
        min_size=1,
        max_size=12,
    ),
    budget=st.integers(8, 64),
)
@settings(**_SETTINGS)
def test_sequence_pack_prefix_sum_invariants(spark, docs, budget):
    """Packing invariants for ANY (group, token-count) multiset:
    within each (group, shard) cell, ordering by id gives a gapless
    prefix sum of token counts, and every chunk-span claim follows
    from (seq_start, n_tokens, budget) arithmetic."""
    from miningfrequentpattern_spark.operators.text import sequence_pack

    rows = [
        (i, src, " ".join(["tok"] * ntok)) for i, (src, ntok) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sequence_pack(df, budget=budget).collect()
    cells: dict = {}
    for r in out:
        cells.setdefault((r.source, r.shard), []).append(r)
    for rows_ in cells.values():
        rows_.sort(key=lambda r: r.doc_id)
        acc = 0
        for r in rows_:
            assert r.seq_start == acc
            assert r.chunk_id == r.seq_start // budget
            last = (r.seq_start + r.n_tokens - 1) // budget
            assert r.n_chunks == last - r.chunk_id + 1
            acc += r.n_tokens


@given(vec=st.lists(st.floats(-1, 1, width=32), min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_quantize_bounds(spark, vec):
    """int8 quantization: for any non-degenerate vector the quantized
    values stay within ±127 of the scale and reconstruction error per
    element is bounded by scale/2 (the rounding radius)."""
    if max(abs(x) for x in vec) == 0:
        return
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    e = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scale_col = (
        F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)
    )
    row = (
        e.select(
            "v",
            scale_col.alias("scale"),
            F.transform(
                "v", lambda x: F.round(x / scale_col)
            ).alias("qv"),
        )
        .collect()[0]
    )
    assert all(abs(q) <= 127 for q in row.qv)
    for x, q in zip(row.v, row.qv):
        assert abs(x - q * row.scale) <= row.scale / 2 + 1e-12


@given(
    lefts=st.lists(st.integers(0, 500), min_size=1, max_size=8),
    rights=st.lists(st.integers(0, 500), min_size=0, max_size=8),
    tol=st.integers(1, 60),
    bucket_mult=st.integers(1, 3),
    direction=st.sampled_from(["backward", "forward"]),
)
@settings(**_SETTINGS)
def test_asof_bucket_equivalence_property(
    spark, lefts, rights, tol, bucket_mult, direction
):
    """For ANY event times, direction, and tolerance <= bucket width,
    the bucketed as-of join must return exactly the unbucketed result —
    including ties, matches straddling a bucket boundary, and left rows
    with no match at all. Bucket width = tol * mult rounded up to whole
    minutes (the string-parameter granularity)."""
    from miningfrequentpattern_spark.operators.relational import asof_join

    bucket_secs = ((tol * bucket_mult + 59) // 60) * 60
    l = spark.createDataFrame(
        [(1, float(t)) for t in lefts], "k int, lt double"
    ).select("k", F.timestamp_seconds("lt").alias("lt"))
    r = spark.createDataFrame(
        [(1, float(t), i) for i, t in enumerate(rights)],
        "k int, rt double, rid int",
    ).select("k", F.timestamp_seconds("rt").alias("rt"), "rid")
    kw = dict(
        on="k", left_ts="lt", right_ts="rt", direction=direction,
        tolerance_expr=F.lit(float(tol)),
    )
    plain = asof_join(l, r, **kw)
    bucketed = asof_join(
        l, r, bucket=f"{bucket_secs // 60} minutes", **kw
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, bucketed.collect())
    )


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=12,
    ),
    iters=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_pagerank_conserves_mass_on_symmetrized_graphs(spark, edges, iters):
    """On a symmetrized multigraph-free edge set there are no dangling
    nodes, so total rank mass is conserved exactly: Σ scaled ranks =
    |V| (up to FP + the 4-dp output rounding), every node appears in
    the result, and every rank ≥ the scaled teleport floor (1-d)."""
    from miningfrequentpattern_spark.operators.graph import pagerank

    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    rows = pagerank(df, iterations=iters, damping=0.85).collect()
    nodes = {n for e in sym for n in e}
    assert {r["id"] for r in rows} == nodes
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - len(nodes)) < 1e-3 * len(nodes) + 1e-6
    assert all(r["pagerank"] >= 0.15 - 1e-4 for r in rows)


@given(
    fact=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 99)),
        min_size=0, max_size=15,
    ),
    dim=st.lists(st.integers(0, 6), min_size=0, max_size=6, unique=True),
    n_salts=st.integers(2, 5),
)
@settings(**_SETTINGS)
def test_salted_join_equals_plain_join(spark, fact, dim, n_salts):
    """functions/skew.py salted_join must be row-for-row identical to
    the plain equi-join for ANY fact/dim multiset — including missing
    keys on either side and duplicate fact keys."""
    from miningfrequentpattern_spark.functions.skew import salted_join

    f = spark.createDataFrame(
        fact or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    d = spark.createDataFrame(
        [(k, k * 10) for k in dim] or [(None, None)], "k long, w long"
    ).filter(F.col("k").isNotNull())
    got = sorted(map(tuple, salted_join(f, d, key="k", n_salts=n_salts)
                     .select("k", "v", "w").collect()))
    want = sorted(map(tuple, f.join(d, "k").select("k", "v", "w").collect()))
    assert got == want


@given(docs=st.lists(DOC, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_jaccard_guard_is_neutral_above_max_df(spark, docs):
    """With the cap above every shingle's document frequency, BOTH
    guard regimes (sampled estimate and exact window df) must return
    exactly the guard-off pair set — the guard may only ever remove
    genuinely over-cap shingles."""
    from miningfrequentpattern_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, "x", d) for i, d in enumerate(docs)],
        "doc_id long, lang string, tokens array<string>",
    )
    kw = dict(block_col="lang", n=2, threshold=0.1)
    cap = len(docs) + 1  # no shingle can exceed df == len(docs)
    base = sorted(map(tuple, ngram_jaccard_pairs(
        df, max_shingle_df=None, **kw).collect()))
    sampled = sorted(map(tuple, ngram_jaccard_pairs(
        df, max_shingle_df=cap * 100, guard_sample=0.5, **kw).collect()))
    exact = sorted(map(tuple, ngram_jaccard_pairs(
        df, max_shingle_df=cap, guard_sample=1.0, **kw).collect()))
    assert sampled == base
    assert exact == base


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=0, max_size=16,
    ),
)
@settings(**_SETTINGS)
def test_triangle_counts_match_brute_force(spark, edges):
    """Degree-oriented triangle enumeration vs an itertools reference
    on arbitrary messy edge lists (self-loops, duplicates, both
    directions present) — per-node counts must agree exactly."""
    from itertools import combinations

    from miningfrequentpattern_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(
        edges or [(None, None)], "src long, dst long"
    ).filter(F.col("src").isNotNull())
    got = {
        r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    want: dict[int, int] = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if all(frozenset(p) in und for p in ((a, b), (b, c), (a, c))):
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    assert got == want


def union_find_components(edges) -> dict[int, int]:
    """Reference connected components: each endpoint of `edges` (a, b)
    mapped to the least id of its component, by union-find. Every
    endpoint gets a label, a self-loop-only node its own."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[int, list[int]] = {}
    for v in list(parent):
        groups.setdefault(find(v), []).append(v)
    return {v: min(members) for members in groups.values() for v in members}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_match_python_union_find(spark, edges):
    """connected_components vs a pure-Python union-find on arbitrary
    messy edge lists (self-loops, duplicates, both directions) —
    component-min labels must agree exactly for EVERY edge endpoint,
    including self-loop-only singletons, which a label taken from
    the self-loop-free edges alone would miss."""
    from miningfrequentpattern_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == union_find_components(edges)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1,
        max_size=26,
    ),
    k=st.integers(2, 4),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kcore_matches_python_peel(spark, edges, k):
    """operators/graph.py kcore vs a pure-Python peel on arbitrary
    messy edge lists (self-loops, duplicates, both directions) —
    membership AND in-core degree must agree exactly, including the
    all-peeled empty case."""
    from miningfrequentpattern_spark.operators.graph import kcore

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["core_degree"] for r in kcore(df, k=k).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        drop = [v for v, ns in adj.items() if len(ns) < k]
        if not drop:
            break
        for v in drop:
            for u in adj[v]:
                adj[u].discard(v)
            del adj[v]
    want = {v: len(ns) for v, ns in adj.items()}
    assert got == want


def test_kcore_raises_instead_of_returning_partial_peel(spark):
    """A peel that has not stabilized within max_iter must RAISE —
    a partially peeled graph is a WRONG k-core (too large), not a
    slow one. A path graph peels exactly one layer per round at k=2
    from each end, so max_iter=1 cannot finish it."""
    import pytest

    from miningfrequentpattern_spark.operators.graph import kcore

    path = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(path, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not stabilize"):
        kcore(df, k=2, max_iter=1)


def test_durable_checkpoint_mode_matches_local(spark, monkeypatch):
    """operators/ckpt.py durable=True (reliable checkpoint — the
    executor-loss-recoverable path the r4 advice asked for) must be a
    pure fault-tolerance choice: identical results to the default
    local pin for every iterative operator that takes it, and the
    same counts observed by the loops that stop on one — both phases
    of connected components included."""
    from pyspark.sql import Observation

    from miningfrequentpattern_spark.operators.dedup import (
        connected_components,
    )
    from miningfrequentpattern_spark.operators.graph import (
        kcore,
        khop_distances,
        ktruss,
        pagerank,
        personalized_pagerank,
        sssp_distances,
    )
    from miningfrequentpattern_spark.operators.mining import (
        apriori_frequent_itemsets,
    )
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (5, 5), (2, 3)],
        "doc_a long, doc_b long",
    )
    # long enough to leave label propagation for star rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    g = edges.selectExpr("doc_a AS src", "doc_b AS dst")
    wg = g.withColumn("weight", (F.col("src") + 1).cast("double"))
    seeds = spark.createDataFrame([(0,), (3,)], "id long")
    baskets = spark.createDataFrame(
        [(["a", "b", "c"],), (["a", "b"],), (["b", "c"],), (["a", "c"],)],
        "items array<string>",
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # every count a loop stops on is read through Observation.get
    seen = []
    real_get = Observation.get.fget

    def get(self):
        seen.append(real_get(self))
        return seen[-1]

    monkeypatch.setattr(Observation, "get", property(get))
    for fn in (
        lambda d: connected_components(edges, durable=d),
        lambda d: connected_components(chain, durable=d),
        lambda d: kcore(g, k=2, durable=d),
        lambda d: ktruss(g, k=3, durable=d),
        lambda d: pagerank(g, iterations=3, durable=d),
        lambda d: personalized_pagerank(g, seeds, iterations=3, durable=d),
        lambda d: khop_distances(g, seeds, max_hops=4, durable=d),
        lambda d: sssp_distances(wg, seeds, max_rounds=4, durable=d),
        lambda d: apriori_frequent_itemsets(
            baskets, min_support=0.5, durable=d
        ),
    ):
        seen.clear()
        local = rows(fn(False))
        local_seen = list(seen)
        seen.clear()
        assert rows(fn(True)) == local
        assert seen == local_seen


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),          # brand
            st.integers(0, 12),                    # price grid
            st.integers(0, 8),                     # size grid
        ),
        min_size=1,
        max_size=30,
    ),
    n_buckets=st.sampled_from([1, 2, 7]),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pareto_frontier_matches_brute_force(spark, rows, n_buckets):
    """Bucketed prefix-max skyline vs the O(n²) dominance definition
    on arbitrary small inputs — duplicates, single-value domains
    (width-0 bucketing), ties on either axis, and degenerate bucket
    counts must all return EXACTLY the non-dominated multiset."""
    from miningfrequentpattern_spark.operators.relational import (
        pareto_frontier_2d,
    )

    df = spark.createDataFrame(
        [(b, float(p), s) for b, p, s in rows],
        "brand string, price double, size int",
    )
    got = sorted(
        (r["brand"], r["price"], r["size"])
        for r in pareto_frontier_2d(
            df, ["brand"], "price", "size", n_buckets=n_buckets
        ).collect()
    )
    want = sorted(
        (b, float(p), s)
        for b, p, s in rows
        if not any(
            b2 == b
            and p2 <= p
            and s2 >= s
            and (p2 < p or s2 > s)
            for b2, p2, s2 in rows
        )
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),     # group key
            st.integers(0, 20),    # price
            st.integers(1, 5),     # integral weight
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_weighted_median_matches_reference(spark, rows):
    """The r50 dual-window formulation vs a Python reference of the
    lower weighted median (smallest value whose cumulative weight
    reaches half the total) — ties, single-row groups, and repeated
    values must agree exactly."""
    df = spark.createDataFrame(
        [(g, float(p), float(w), i, 0) for i, (g, p, w) in enumerate(rows)],
        "l_suppkey int, l_extendedprice double, l_quantity double, "
        "l_orderkey long, l_linenumber int",
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["l_suppkey"]: r["wm"]
        for r in (
            df.withColumn("cum", F.sum("l_quantity").over(w_cum))
            .withColumn(
                "tot",
                F.sum("l_quantity").over(Window.partitionBy("l_suppkey")),
            )
            .filter(F.col("cum") >= F.col("tot") / 2)
            .groupBy("l_suppkey")
            .agg(F.min("l_extendedprice").alias("wm"))
            .collect()
        )
    }
    want = {}
    for g in {g for g, _, _ in rows}:
        vals = sorted((p, w) for gg, p, w in rows if gg == g)
        tot = sum(w for _, w in vals)
        cum = 0
        for p, w in vals:
            cum += w
            if cum >= tot / 2:
                want[g] = float(p)
                break
    assert got == want


def _ref_merge(intervals: list[tuple[int, int]]) -> list[tuple[int, int, int]]:
    """Independent reference: sort + linear sweep interval merge."""
    out: list[list[int]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
            out[-1][2] += 1
        else:
            out.append([s, e, 1])
    return [tuple(x) for x in out]


@given(
    iv=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 15)),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_interval_merge_matches_linear_sweep(spark, iv):
    """The windowed gaps-and-islands construction must equal a plain
    sorted sweep for ANY interval set — nested, duplicate, touching,
    zero-length."""
    from miningfrequentpattern_spark.operators.timeseries import (
        interval_merge,
    )

    rows = [("k", s, s + d) for s, d in iv]
    df = spark.createDataFrame(rows, "k string, s int, e int")
    got = sorted(
        (r["span_start"], r["span_end"], r["n_intervals"])
        for r in interval_merge(df, ["k"], "s", "e").collect()
    )
    assert got == _ref_merge([(s, s + d) for s, d in iv]), iv


@given(
    xs=st.lists(
        st.floats(-50, 50).map(lambda v: round(v, 2)),
        min_size=1,
        max_size=15,
    ),
    target=st.floats(-5, 5).map(lambda v: round(v, 1)),
)
@settings(**_SETTINGS)
def test_cusum_closed_form_equals_recurrence(spark, xs, target):
    """S_t = P_t − min(0, min P_j) must equal the literal
    max(0, S_{t−1} + d_t) recursion for ANY series — the identity the
    operator's oracle-ability rests on."""
    import math

    from miningfrequentpattern_spark.operators.timeseries import cusum_drift

    df = spark.createDataFrame(
        [("k", i, float(x)) for i, x in enumerate(xs)],
        "k string, t int, x double",
    )
    got = {
        r["t"]: r["cusum"]
        for r in cusum_drift(df, ["k"], "t", "x", target=target).collect()
    }
    s = 0.0
    for i, x in enumerate(xs):
        s = max(0.0, s + (x - target))
        assert math.isclose(got[i], s, abs_tol=1e-9), (i, xs, target)


@given(
    changes=st.lists(
        st.tuples(
            st.integers(1, 3),      # key
            st.integers(0, 20),     # seq
            st.sampled_from("IUD"),  # op
        ),
        min_size=0,
        max_size=15,
    )
)
@settings(**_SETTINGS)
def test_cdc_apply_matches_reference_replay(spark, changes):
    """Last-writer-wins must equal a literal per-key replay for ANY
    feed (duplicate (key, seq) pairs deduped to keep the contract)."""
    from miningfrequentpattern_spark.operators.relational import cdc_apply

    uniq = {(k, s): op for k, s, op in changes}
    rows = [(k, s, op) for (k, s), op in uniq.items()]
    if not rows:
        return
    df = spark.createDataFrame(rows, "k long, seq int, op string")
    got = {
        r["k"]: (r["seq"], r["op"])
        for r in cdc_apply(df, ["k"], ["seq"], "op").collect()
    }
    ref: dict[int, tuple[int, str]] = {}
    for k, s in sorted(uniq):
        ref[k] = (s, uniq[(k, s)])
    ref = {k: v for k, v in ref.items() if v[1] != "D"}
    assert got == ref, rows


@given(
    obs=st.lists(
        st.tuples(
            st.integers(0, 20),
            st.floats(-10, 10).map(lambda v: round(v, 2)),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_twa_matches_step_integration(spark, obs):
    """TWA must equal a literal step integration over the (t, x)
    ordering for ANY series, including tied timestamps (the pinned
    largest-tied-value-holds semantics) and single-point series
    (NULL)."""
    import math

    from miningfrequentpattern_spark.operators.timeseries import (
        time_weighted_avg,
    )

    df = spark.createDataFrame(
        [("k", float(t), float(x)) for t, x in obs],
        "k string, t double, x double",
    )
    got = time_weighted_avg(df, ["k"], "t", "x").collect()[0]
    pts = sorted((float(t), float(x)) for t, x in obs)
    num = sum(
        pts[i][1] * (pts[i + 1][0] - pts[i][0]) for i in range(len(pts) - 1)
    )
    den = pts[-1][0] - pts[0][0]
    assert got["n_obs"] == len(obs)
    if den > 0:
        assert math.isclose(got["twa"], num / den, abs_tol=1e-9), obs
    else:
        assert got["twa"] is None, obs


@given(
    baskets=st.lists(
        st.tuples(st.integers(1, 4), st.integers(1, 5)),
        min_size=1,
        max_size=16,
    )
)
@settings(**_SETTINGS)
def test_item_cosine_matches_brute_force(spark, baskets):
    """Pair cosines must equal a brute-force set computation for ANY
    basket multiset (duplicates collapse; min_shared=1 keeps every
    co-occurring pair)."""
    import math
    from itertools import combinations

    from miningfrequentpattern_spark.operators.mining import (
        item_cosine_pairs,
    )

    df = spark.createDataFrame(baskets, "bk long, it long")
    got = {
        (r["item_a"], r["item_b"]): (r["n_shared"], r["cosine"])
        for r in item_cosine_pairs(df, "bk", "it", 1, 1000).collect()
    }
    sets: dict[int, set[int]] = {}
    for bk, it in baskets:
        sets.setdefault(bk, set()).add(it)
    counts: dict[int, int] = {}
    pairs: dict[tuple[int, int], int] = {}
    for s in sets.values():
        for it in s:
            counts[it] = counts.get(it, 0) + 1
        for a, b in combinations(sorted(s), 2):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    assert set(got) == set(pairs), baskets
    for (a, b), n in pairs.items():
        assert got[(a, b)][0] == n
        want = round(n / math.sqrt(counts[a] * counts[b]), 4)
        assert math.isclose(got[(a, b)][1], want), (a, b, baskets)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 2000)),
        min_size=1,
        max_size=14,
        unique=True,
    ),
    ttl_s=st.integers(1, 600),
)
@settings(**_SETTINGS)
def test_ttl_dedup_matches_greedy_reference(spark, rows, ttl_s):
    """ttl_dedup's distributed chain equals a pure-Python greedy scan
    for ANY (key, second-offset) multiset and ANY ttl — including
    back-to-back rows, whole-key suppression, and ttl = 1 s."""
    from datetime import datetime, timedelta

    from miningfrequentpattern_spark.operators.timeseries import ttl_dedup

    base = datetime(2024, 1, 1)
    data = [
        (k, base + timedelta(seconds=s), i)
        for i, (k, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "k string, ts timestamp, eid long")
    got = {
        r["eid"]: r["is_kept"]
        for r in ttl_dedup(
            df, ["k"], "ts", f"{ttl_s} seconds", tiebreak_col="eid"
        ).collect()
    }
    # independent greedy reference
    ref = {}
    bykey = {}
    for k, t, i in sorted(data, key=lambda x: (x[0], x[1], x[2])):
        anchor = bykey.get(k)
        keep = anchor is None or (t - anchor).total_seconds() >= ttl_s
        if keep:
            bykey[k] = t
        ref[i] = keep
    assert got == ref, (rows, ttl_s)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["u1", "u2", "u3"]), st.integers(0, 9)),
        min_size=1,
        max_size=16,
    ),
)
@settings(**_SETTINGS)
def test_retention_matches_python_reference(spark, rows):
    """retention_cohorts equals a pure-Python cohort triangle for ANY
    (user, week-offset) multiset — duplicate activity collapses, the
    offset-0 row always carries the cohort size."""
    from datetime import datetime, timedelta

    from miningfrequentpattern_spark.operators.relational import (
        retention_cohorts,
    )

    base = datetime(2024, 1, 1)  # a Monday
    data = [
        (u, base + timedelta(weeks=w, days=1)) for u, w in rows
    ]
    df = spark.createDataFrame(data, "u string, ts timestamp")
    got = {
        (r["cohort"].date().isoformat(), r["offset"]): (
            r["n_active"], r["n_cohort"]
        )
        for r in retention_cohorts(df, "u", "ts").collect()
    }
    # reference
    first = {}
    active = set()
    for u, w in rows:
        first[u] = min(first.get(u, w), w)
        active.add((u, w))
    from collections import Counter

    mat = Counter()
    for u, w in active:
        mat[(first[u], w - first[u])] += 1
    sizes = {c: mat[(c, 0)] for c, _ in mat}
    ref = {}
    for (c, off), n in mat.items():
        day = (base + timedelta(weeks=c)).date().isoformat()
        ref[(day, off)] = (n, sizes[c])
    assert got == ref, rows


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)),
        min_size=1,
        max_size=14,
    ),
    iters=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_label_propagation_matches_python_reference(spark, edges, iters):
    """Synchronous min-tiebreak LPA equals a pure-Python simulation
    for ANY multigraph (self-loops and duplicate edges normalize
    away) and ANY round count."""
    from collections import Counter, defaultdict

    from miningfrequentpattern_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["community"]
        for r in label_propagation(df, iterations=iters).collect()
    }
    # reference: canonical undirected, both orientations
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not und:
        assert got == {}
        return
    adj = defaultdict(list)
    for a, b in und:
        adj[a].append(b)
        adj[b].append(a)
    lab = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v, ns in adj.items():
            c = Counter(lab[u] for u in ns)
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lab = new
    assert got == lab, (sorted(und), iters)


@given(
    xs=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False,
                  allow_infinity=False, width=32),
        min_size=4,
        max_size=12,
    ),
    period=st.integers(2, 3),
    alpha=st.sampled_from([0.2, 0.5, 0.8]),
)
@settings(**_SETTINGS)
def test_holt_winters_matches_python_recurrence(spark, xs, period, alpha):
    """holt_winters_additive equals a pure-Python simulation of the
    Hyndman additive recurrence for ANY series length >= 2 periods,
    ANY (period, alpha) in the sampled grid — including constant and
    sign-flipping series the fixture never produces."""
    import math

    from miningfrequentpattern_spark.operators.timeseries import (
        holt_winters_additive,
    )

    if len(xs) < 2 * period:
        xs = (xs * ((2 * period) // max(len(xs), 1) + 1))[: 2 * period]
    beta, gamma = 0.3, 0.4
    df = spark.createDataFrame(
        [("k", t, float(x)) for t, x in enumerate(xs)],
        "k string, t int, x double",
    )
    got = {
        r["t"]: (r["level"], r["trend"], r["seasonal"], r["fitted"])
        for r in holt_winters_additive(
            df, ["k"], "t", "x", alpha, beta, gamma, period=period
        ).collect()
    }
    # pure-Python reference (textbook two-season init)
    m = period
    l = sum(xs[:m]) / m
    b = (sum(xs[m:2 * m]) / m - l) / m
    buf = [x - l for x in xs[:m]]
    ref = {t: (None, None, None, None) for t in range(m - 1)}
    ref[m - 1] = (l, b, buf[-1], None)
    for t in range(m, len(xs)):
        s_tm = buf[0]
        fitted = l + b + s_tm
        l_new = alpha * (xs[t] - s_tm) + (1 - alpha) * (l + b)
        b_new = beta * (l_new - l) + (1 - beta) * b
        s_new = gamma * (xs[t] - l - b) + (1 - gamma) * s_tm
        buf = buf[1:] + [s_new]
        l, b = l_new, b_new
        ref[t] = (l, b, s_new, fitted)
    assert set(got) == set(ref)
    for t, (rl, rb, rs, rf) in ref.items():
        gl, gb, gs, gf = got[t]
        for r, g in ((rl, gl), (rb, gb), (rs, gs), (rf, gf)):
            if r is None:
                assert g is None, (t, xs)
            else:
                assert math.isclose(g, r, rel_tol=1e-9, abs_tol=1e-9), (
                    t, g, r, xs,
                )


@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=-9, max_value=9, allow_nan=False,
                      allow_infinity=False, width=16),
            st.floats(min_value=-9, max_value=9, allow_nan=False,
                      allow_infinity=False, width=16),
            st.floats(min_value=-9, max_value=9, allow_nan=False,
                      allow_infinity=False, width=16),
        ),
        min_size=4,
        max_size=16,
    ),
)
@settings(**_SETTINGS)
def test_ols_two_factor_matches_numpy_lstsq(spark, rows):
    """ols_two_factor's centered 2x2 Cramer solve equals
    numpy.linalg.lstsq on ANY well-conditioned sample (the det floor
    guards the rest); betas/intercept compared at the solver level,
    BEFORE the 4dp output rounding would mask disagreement."""
    import numpy as np

    from miningfrequentpattern_spark.operators.timeseries import (
        ols_two_factor,
    )

    X = np.array([[1.0, x1, x2] for x1, x2, _ in rows])
    y = np.array([yy for _, _, yy in rows])
    # skip near-singular draws — the operator pins those to NULL and
    # the collinear path has its own deterministic test
    _, sv, _ = np.linalg.svd(X - X.mean(axis=0), full_matrices=False)
    if sv[-1] < 1e-3:
        return
    # mirror the operator's rounded-mean centering in the reference:
    # it centers on 4dp-rounded pivots (a bitwise-stability choice
    # that shifts ONLY the intercept recovery path, compensated by
    # residual means) — lstsq on raw data gives the same plane
    beta_ref, *_ = np.linalg.lstsq(X, y, rcond=None)
    df = spark.createDataFrame(
        [("g", float(x1), float(x2), float(yy)) for x1, x2, yy in rows],
        "g string, x1 double, x2 double, y double",
    )
    r = ols_two_factor(df, ["g"], "y", "x1", "x2").collect()[0]
    assert r["beta1"] is not None, rows
    assert abs(r["beta1"] - round(beta_ref[1], 4)) <= 1e-3, (r, beta_ref)
    assert abs(r["beta2"] - round(beta_ref[2], 4)) <= 1e-3, (r, beta_ref)
    assert abs(r["intercept"] - round(beta_ref[0], 4)) <= 1e-3, (r, beta_ref)


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 300),      # seconds offset
            st.booleans(),            # is_fact
            st.integers(-5, 5),       # value
        ),
        min_size=1,
        max_size=14,
    ),
    win_s=st.sampled_from([30, 60, 120]),
)
@settings(**_SETTINGS)
def test_pit_features_match_bruteforce_reference(spark, events, win_s):
    """pit_trailing_features equals the brute-force per-fact scan of
    [t - W, t) for ANY event layout — simultaneous rows, facts inside
    other facts' windows, all-fact and all-touch corpora."""
    from datetime import datetime, timedelta

    from miningfrequentpattern_spark.operators.timeseries import (
        pit_trailing_features,
    )

    base = datetime(2024, 1, 1)
    data = [
        ("u", base + timedelta(seconds=s), i, float(v), f)
        for i, (s, f, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        data, "u string, ts timestamp, eid long, value double, is_fact boolean"
    )
    got = {
        r["eid"]: (r["n_prior"], r["sum_prior"], r["last_gap_s"])
        for r in pit_trailing_features(
            df, ["u"], "ts", "is_fact",
            value_col="value", window=f"{win_s} seconds", carry=["eid"],
        ).collect()
    }
    facts = [(s, i, v) for i, (s, f, v) in enumerate(events) if f]
    touches = [(s, i, v) for i, (s, f, v) in enumerate(events) if not f]
    assert set(got) == {i for _, i, _ in facts}
    for fs, fi, _ in facts:
        prior = [
            (s, v) for s, _, v in touches if fs - win_s <= s < fs
        ]
        n = len(prior)
        sm = round(sum(v for _, v in prior), 4) + 0.0 if prior else None
        gap = round(float(fs - max(s for s, _ in prior)), 6) if prior else None
        gn, gs, gg = got[fi]
        assert gn == n, (fi, events, win_s)
        if sm is None:
            assert gs is None and gg is None, (fi, events)
        else:
            assert abs(gs - sm) < 1e-9 and abs(gg - gap) < 1e-9, (fi, events)


@given(
    activity=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 6)),
        min_size=1,
        max_size=18,
    ),
)
@settings(**_SETTINGS)
def test_growth_accounting_matches_python_lifecycle(spark, activity):
    """growth_accounting equals a pure-Python lifecycle classifier
    for ANY (user, week) multiset — including gaps, resurrection
    after exactly one missing week, and single-week users."""
    from collections import defaultdict
    from datetime import datetime, timedelta

    from miningfrequentpattern_spark.operators.relational import (
        growth_accounting,
    )

    base = datetime(2024, 1, 1)  # Monday
    data = [
        (u, base + timedelta(weeks=w, days=2)) for u, w in activity
    ]
    df = spark.createDataFrame(data, "u string, ts timestamp")
    got = {
        r["period"].date().isoformat(): (
            r["n_active"], r["n_new"], r["n_retained"],
            r["n_resurrected"], r["n_churned"],
        )
        for r in growth_accounting(df, "u", "ts").collect()
    }
    weeks = defaultdict(set)
    for u, w in activity:
        weeks[u].add(w)
    per = defaultdict(lambda: [0, 0, 0, 0])  # active,new,retained,resurrected
    for u, ws in weeks.items():
        first = min(ws)
        for w in ws:
            per[w][0] += 1
            if w == first:
                per[w][1] += 1
            elif (w - 1) in ws:
                per[w][2] += 1
            else:
                per[w][3] += 1
    # Calendar spine (the code-review r8 fix): EVERY week from the
    # first to the last active week gets a row — a zero-active gap
    # week carries the churn of its predecessor's actives.
    ref = {}
    for w in range(min(per), max(per) + 1):
        na, nn, nr, ns = per[w] if w in per else (0, 0, 0, 0)
        prev_active = per[w - 1][0] if (w - 1) in per else 0
        day = (base + timedelta(weeks=w)).date().isoformat()
        ref[day] = (na, nn, nr, ns, prev_active - nr)
    assert got == ref, activity
