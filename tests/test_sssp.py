"""Weighted multi-source shortest paths
(operators/graph.py::sssp_distances) — promoted round 6: the oracle moved verbatim onto the m23_part_cheapest_reach registration and driver-grade value parity now runs in tests/test_oracle_parity.py; this file keeps (3 chained
full-relaxation rounds over the co-purchase graph with
1/shared-orders edge costs — after round k both forms equal "cheapest
path using ≤ k edges", the operator's bounded semantics), plus
synthetic-graph checks: a cheaper 2-hop route beating a direct edge,
convergence raising, and negative-cycle refusal."""

import math

import pytest
from pyspark.sql import functions as F

from miningfrequentpattern_spark.operators.graph import sssp_distances
from miningfrequentpattern_spark.sources.io import load_table

from .conftest import SF_ORACLE
from .oracle import compare


def _weighted_copurchase_edges(spark, sf_dir):
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .agg((F.lit(1.0) / F.count(F.lit(1))).alias("weight"))
    )
    return pairs.unionAll(
        pairs.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "weight",
        )
    )


def test_sssp_cheaper_multihop_beats_direct_edge(spark):
    """1→3 direct costs 10; 1→2→3 costs 1+2=3 — round 2 must take the
    cheaper 2-hop route, and round 1 (bounded semantics) must still
    report the ≤1-edge cost 10."""
    edges = spark.createDataFrame(
        [(1, 3, 10.0), (1, 2, 1.0), (2, 3, 2.0)],
        "src long, dst long, weight double",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    one = {
        r["id"]: r["dist"]
        for r in sssp_distances(edges, seeds, max_rounds=1).collect()
    }
    assert one[3] == 10.0
    two = {
        r["id"]: r["dist"]
        for r in sssp_distances(edges, seeds, max_rounds=2).collect()
    }
    assert math.isclose(two[3], 3.0) and two[2] == 1.0 and two[1] == 0.0


def test_sssp_require_converged_raises_on_truncation(spark):
    """A 3-edge chain cannot converge in 1 round; require_converged
    must refuse the truncated relation — and accept once rounds
    cover the chain (frontier drains → no raise)."""
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)],
        "src long, dst long, weight double",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(RuntimeError, match="still improving"):
        sssp_distances(edges, seeds, max_rounds=1, require_converged=True)
    got = {
        r["id"]: r["dist"]
        for r in sssp_distances(
            edges, seeds, max_rounds=4, require_converged=True
        ).collect()
    }
    assert got == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}


def test_sssp_negative_cycle_refuses_fixpoint_claim(spark):
    """A negative cycle improves forever: require_converged must
    raise rather than return any round's relation as 'the' shortest
    paths."""
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, -3.0)],
        "src long, dst long, weight double",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(RuntimeError, match="still improving|negative"):
        sssp_distances(edges, seeds, max_rounds=4, require_converged=True)


def test_sssp_empty_and_null_weight_edges(spark):
    no_edges = spark.createDataFrame([], "src long, dst long, weight double")
    seeds = spark.createDataFrame([(7,)], "id long")
    got = sssp_distances(no_edges, seeds, max_rounds=2).collect()
    assert [(r["id"], r["dist"]) for r in got] == [(7, 0.0)]
    nulls = spark.createDataFrame(
        [(1, 2, None), (1, 3, 5.0)], "src long, dst long, weight double"
    )
    seeds1 = spark.createDataFrame([(1,)], "id long")
    got = {
        r["id"]: r["dist"]
        for r in sssp_distances(nulls, seeds1, max_rounds=2).collect()
    }
    assert got == {1: 0.0, 3: 5.0}  # the unpriceable edge is dropped
    endp = spark.createDataFrame(
        [(1, None, 2.0), (None, 4, 1.0), (1, 5, 3.0)],
        "src long, dst long, weight double",
    )
    got = {
        r["id"]: r["dist"]
        for r in sssp_distances(endp, seeds1, max_rounds=2).collect()
    }
    # NULL-endpoint edges drop too — no spurious id=NULL row
    # (review r5).
    assert got == {1: 0.0, 5: 3.0}


def test_sssp_null_seed_is_not_a_node(spark):
    """r10 sweep (the khop stance): a NULL seed id must not emit a
    spurious (NULL, 0.0) distance row."""
    from miningfrequentpattern_spark.operators.graph import (
        sssp_distances,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1.0)], "src long, dst long, weight double"
    )
    seeds = spark.createDataFrame([(1,), (None,)], "id long")
    got = {
        (r["id"], r["dist"])
        for r in sssp_distances(edges, seeds, max_rounds=2).collect()
    }
    assert got == {(1, 0.0), (2, 1.0)}


def test_sssp_frees_superseded_generations(spark, monkeypatch):
    """Each round retires the dist and frontier it replaced: on a
    9-edge path the storage held when each round's frontier is pinned
    stays at the cached edges plus one dist and one frontier, however
    many rounds have run."""
    from miningfrequentpattern_spark.operators import ckpt

    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(9)],
        "src long, dst long, weight double",
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    jsc = spark.sparkContext._jsc
    # new persistent RDDs by id: an earlier test's may be collected
    base = set(jsc.getPersistentRDDs().keys())
    held = []
    real_pin = ckpt.Scope.pin

    def pin(self, df, **metrics):
        # the frontier pins are the ones that observe a count: the
        # seed frontier, then one per round
        if metrics:
            held.append(len(set(jsc.getPersistentRDDs().keys()) - base))
        return real_pin(self, df, **metrics)

    monkeypatch.setattr(ckpt.Scope, "pin", pin)
    out = sssp_distances(edges, seeds, max_rounds=8)
    monkeypatch.undo()
    assert len(held) == 1 + 8, held
    assert max(held) <= 3, held
    assert {r["id"]: r["dist"] for r in out.collect()} == {
        i: float(i) for i in range(9)
    }
    ckpt.release(out)
