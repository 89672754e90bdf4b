"""Edge-input and lifecycle pins for the graph/mining/relational
operators — round-8 batch-3 code-review regressions."""

import pytest
from pyspark.sql import functions as F


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_khop_null_endpoints_single_distance_per_id(spark):
    """A NULL dst never equi-matches the visited anti-join, so it was
    re-'discovered' at every hop — one (NULL, dist) row per distance.
    NULL endpoints are not nodes; they must not appear at all."""
    from miningfrequentpattern_spark.operators.graph import khop_distances

    edges = spark.createDataFrame(
        [(1, None), (1, 2), (2, None), (2, 3)],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    rows = khop_distances(edges, seeds, max_hops=3).collect()
    ids = [r["id"] for r in rows]
    assert None not in ids
    assert len(ids) == len(set(ids))  # one min distance per id
    assert {(r["id"], r["dist"]) for r in rows} == {(1, 0), (2, 1), (3, 2)}


def test_pagerank_null_endpoint_edges_dropped(spark):
    """An edge with a NULL endpoint must not mint a phantom
    (NULL, rank) node that absorbs teleport mass."""
    from miningfrequentpattern_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, None), (None, 2)],
        "src bigint, dst bigint",
    )
    pr = pagerank(edges, iterations=2)
    assert {r["id"] for r in pr.collect()} == {1, 2}
    seeds = spark.createDataFrame([(1,)], "id bigint")
    ppr = personalized_pagerank(edges, seeds, iterations=2)
    assert {r["id"] for r in ppr.collect()} == {1, 2}


def test_kcore_ktruss_fixpoint_release_edge_pins(spark):
    """The fixpoint exit must pin the result and release the edge
    relation it derived from — returning the lazy plan left the
    per-round checkpoint blocks pinned for the session. (New
    persistent RDDs counted by id: an earlier test's may be collected
    meanwhile.)"""
    from miningfrequentpattern_spark.operators.graph import kcore, ktruss

    # triangle + pendant: kcore(2) and ktruss(3) both reach a
    # NON-EMPTY fixpoint (the leaking branch)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src bigint, dst bigint"
    )
    before = _persistent_ids(spark)
    core = kcore(edges, k=2)
    got = {r["id"] for r in core.collect()}
    assert got == {1, 2, 3}
    # only the pinned RESULT may remain; the per-round edge pins are
    # released
    assert len(_persistent_ids(spark) - before) <= 1
    before = _persistent_ids(spark)
    truss = ktruss(edges, k=3)
    assert {(r["s"], r["d"]) for r in truss.collect()} == {
        (1, 2), (1, 3), (2, 3)
    }
    assert len(_persistent_ids(spark) - before) <= 1


@pytest.mark.parametrize(
    "op, held",
    [
        ("khop_distances", 1),
        ("sssp_distances", 1),
        ("pagerank", 1),
        ("personalized_pagerank", 1),
        # the returned plan reads one pin per non-empty level (L1, L2)
        ("apriori_frequent_itemsets", 2),
    ],
)
def test_iterative_operators_release_all_but_result(spark, op, held):
    """Every per-round pin and every cache is freed by the time the
    operator returns; only the storage its result reads remains
    (new persistent RDDs counted by id — an earlier test's may be
    collected meanwhile)."""
    from miningfrequentpattern_spark.operators import graph, mining

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (3, 4, 1.0)],
        "src bigint, dst bigint, weight double",
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    baskets = spark.createDataFrame(
        [(["a", "b", "c"],), (["a", "b"],), (["b", "c"],), (["a", "c"],)],
        "items array<string>",
    )
    run = {
        "khop_distances": lambda: graph.khop_distances(edges, seeds),
        "sssp_distances": lambda: graph.sssp_distances(edges, seeds),
        "pagerank": lambda: graph.pagerank(edges),
        "personalized_pagerank": lambda: graph.personalized_pagerank(
            edges, seeds
        ),
        # L3 {a, b, c} is in one basket: the last level is empty
        "apriori_frequent_itemsets": lambda: mining.apriori_frequent_itemsets(
            baskets, min_support=0.5
        ),
    }[op]
    before = _persistent_ids(spark)
    out = run()
    assert out.count() > 0
    assert len(_persistent_ids(spark) - before) <= held


def test_item_supports_counts_basket_frequency_not_occurrences(spark):
    """[a, a, b] contributes 1 to a's support — matching
    item_supports_from_rows, FPGrowth's unique-items contract, and
    apriori's k>=2 counting."""
    from miningfrequentpattern_spark.operators.mining import (
        apriori_frequent_itemsets,
        item_supports,
    )

    baskets = spark.createDataFrame(
        [(["a", "a", "b"],), (["a", "b"],)], "items array<string>"
    )
    got = {
        r["item"]: r["freq"] for r in item_supports(baskets).collect()
    }
    assert got == {"a": 2, "b": 2}
    # apriori L1 on the same duplicate-bearing input agrees with L2
    out = {
        tuple(r["items"]): r["freq"]
        for r in apriori_frequent_itemsets(
            baskets, min_support=0.5, max_k=2
        ).collect()
    }
    assert out[("a",)] == 2 and out[("b",)] == 2 and out[("a", "b")] == 2


def test_pareto_frontier_null_coordinates_excluded(spark):
    """A NULL-coordinate row previously entered the last bucket's
    prefix max and silently dominated genuine frontier rows while
    itself vanishing from the output."""
    from miningfrequentpattern_spark.operators.relational import (
        pareto_frontier_2d,
    )

    df = spark.createDataFrame(
        [
            ("g", None, 100.0),
            ("g", 5.0, 50.0),
            ("g", 1.0, 10.0),
        ],
        "g string, mn double, mx double",
    )
    got = {
        (r["mn"], r["mx"])
        for r in pareto_frontier_2d(df, ["g"], "mn", "mx").collect()
    }
    # (5,50) is NOT dominated by any real row; the NULL row is absent
    assert got == {(5.0, 50.0), (1.0, 10.0)}


def test_pareto_frontier_nan_coordinates_excluded(spark):
    """Hardening (d), r10: a NaN max_col sorts GREATEST, so without
    the exclusion its _gmax wrongly dominates every real row in its
    bucket's prefix (the same mechanism as the NULL finding); a NaN
    min_col NaN-poisons the bucket arithmetic. Both ride the
    documented-drop leg with the NULLs."""
    from miningfrequentpattern_spark.operators.relational import (
        pareto_frontier_2d,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [
            ("g", 0.5, nan),   # NaN max: would dominate everything
            ("g", nan, 99.0),  # NaN min: poisons bucketing
            ("g", 5.0, 50.0),
            ("g", 1.0, 10.0),
        ],
        "g string, mn double, mx double",
    )
    got = {
        (r["mn"], r["mx"])
        for r in pareto_frontier_2d(df, ["g"], "mn", "mx").collect()
    }
    assert got == {(5.0, 50.0), (1.0, 10.0)}


def test_growth_accounting_reports_churn_into_empty_period(spark):
    """Everyone churns in week 2 (zero actives): the week-2 row must
    still exist and carry the churn, or total churn is undercounted
    exactly when churn is total."""
    import datetime

    from miningfrequentpattern_spark.operators.relational import (
        growth_accounting,
    )

    w1 = datetime.datetime(2024, 1, 1)   # Monday
    w3 = datetime.datetime(2024, 1, 15)  # two weeks later
    df = spark.createDataFrame(
        [(1, w1), (2, w1), (1, w3)], "user_id long, ts timestamp"
    )
    got = {
        r["period"].date().isoformat(): (
            r["n_active"], r["n_new"], r["n_retained"],
            r["n_resurrected"], r["n_churned"],
        )
        for r in growth_accounting(df, "user_id", "ts").collect()
    }
    assert got == {
        "2024-01-01": (2, 2, 0, 0, 0),
        "2024-01-08": (0, 0, 0, 0, 2),   # the gap week carries churn
        "2024-01-15": (1, 0, 0, 1, 0),
    }
