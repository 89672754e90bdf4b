"""Label-propagation communities
(operators/graph.py::label_propagation) — PROMOTED round 8 as m28_part_communities: the DuckDB oracle moved
VERBATIM into the @query registration (tests/test_oracle_parity.py
now carries the compare); the two-triangles-one-bridge closed
form (where connected components would merge what LPA keeps apart),
the clique fixpoint, and the determinism double-run stay here."""

from pyspark.sql import functions as F

from miningfrequentpattern_spark.operators.graph import label_propagation
def test_label_propagation_two_triangles_one_bridge(spark):
    """Triangles {1,2,3} and {4,5,6} joined by the single bridge 3-4:
    after 3 synchronous min-tiebreak rounds the labeling is exactly
    {1,2,3} -> 1 and {4,5,6} -> 3 (hand-traced) — two communities
    where connected components would report ONE."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    got = {
        r["id"]: r["community"]
        for r in label_propagation(edges, iterations=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    from miningfrequentpattern_spark.operators.dedup import (
        connected_components,
    )

    cc = connected_components(
        edges.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    )
    assert {r["component"] for r in cc.collect()} == {1}  # CC merges


def test_label_propagation_clique_converges_to_min(spark):
    """A clique converges to its minimum node id and stays there
    (a fixpoint — more rounds change nothing)."""
    edges = spark.createDataFrame(
        [(i, j) for i in range(10, 15) for j in range(i + 1, 15)],
        "src long, dst long",
    )
    for iters in (3, 5):
        got = {
            r["id"]: r["community"]
            for r in label_propagation(edges, iterations=iters).collect()
        }
        assert set(got.values()) == {10}


def test_label_propagation_deterministic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    a = sorted(map(tuple, label_propagation(edges, 3).collect()))
    b = sorted(map(tuple, label_propagation(edges, 3).collect()))
    assert a == b


def test_label_propagation_string_ids_min_tiebreak(spark):
    """Non-numeric node ids (doc-id shaped strings, the dedup
    operators' currency) keep the documented smallest-label tiebreak:
    the aggregate's ordering key negates the COUNT, not the label —
    negating a string label under ANSI-off casts to double and NULLs
    the tiebreak key, which made ties arbitrary (code-review r8
    regression). 'a' touches 'b' and 'c' equally: 1 round must label
    it min('b','c') = 'b'."""
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "src string, dst string"
    )
    got = {
        r["id"]: r["community"]
        for r in label_propagation(edges, iterations=1).collect()
    }
    assert got == {"a": "b", "b": "a", "c": "a"}


def test_label_propagation_string_clique_converges(spark):
    """String-id clique converges to its lexicographic minimum —
    the same fixpoint contract as the numeric clique test."""
    ids = ["d10", "d11", "d12", "d13"]
    edges = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        "src string, dst string",
    )
    got = {
        r["id"]: r["community"]
        for r in label_propagation(edges, iterations=3).collect()
    }
    assert set(got.values()) == {"d10"}


def test_label_propagation_releases_per_round_checkpoints(spark):
    """ADVICE r9: LPA's per-round eager localCheckpoint generations
    must retire as their successor materializes — only the FINAL
    pinned generation (the one the returned plan reads) plus the
    pre-existing baseline may remain after the operator returns,
    regardless of round count. (New persistent RDDs counted by id:
    an earlier test's may be collected meanwhile.)"""
    from miningfrequentpattern_spark.operators.graph import (
        label_propagation,
    )

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    base = persistent_ids()
    out = label_propagation(edges, iterations=6)
    assert out.count() == 31
    # final labels generation only (the stubs cache is freed when the
    # operator's ckpt.Scope exits)
    new = persistent_ids() - base
    assert len(new) <= 1, new
