"""The count-stopped fixpoint loops (connected_components' label
propagation and star phases, kcore, ktruss, khop_distances,
sssp_distances) read their stopping count from an Observation filled
by the round's own pin: no separate probe action runs, empty and
NULL-only inputs keep their documented answers, and the answer does
not depend on the physical configuration."""

import pytest

from miningfrequentpattern_spark.operators import dedup, graph

TRIANGLE_PENDANT = [(1, 2), (2, 3), (1, 3), (3, 4)]
PATH = [(1, 2), (2, 3), (3, 4)]
CHAIN = [(i, i + 1) for i in range(12)]


def _edges(spark, rows, cols="src long, dst long"):
    return spark.createDataFrame(rows, cols)


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


# name -> (run(spark), documented answer as a set of row tuples)
CASES = {
    "cc": (
        lambda sp: dedup.connected_components(
            _edges(sp, PATH + [(10, 11), (12, 12)], "doc_a long, doc_b long")
        ),
        {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 12)},
    ),
    # longer than label propagation's rounds: the star phase finishes
    "cc_chain": (
        lambda sp: dedup.connected_components(
            _edges(sp, CHAIN, "doc_a long, doc_b long")
        ),
        {(i, 0) for i in range(13)},
    ),
    "cc_empty": (
        lambda sp: dedup.connected_components(
            _edges(sp, [], "doc_a long, doc_b long")
        ),
        set(),
    ),
    # a self-pair still makes its doc a singleton component
    "cc_self_pairs_only": (
        lambda sp: dedup.connected_components(
            _edges(sp, [(5, 5), (7, 7)], "doc_a long, doc_b long")
        ),
        {(5, 5), (7, 7)},
    ),
    "kcore": (
        lambda sp: graph.kcore(_edges(sp, TRIANGLE_PENDANT), k=2),
        {(1, 2), (2, 2), (3, 2)},
    ),
    # every degree is below k in round 1
    "kcore_none_survive": (
        lambda sp: graph.kcore(_edges(sp, PATH), k=3),
        set(),
    ),
    "ktruss": (
        lambda sp: graph.ktruss(_edges(sp, TRIANGLE_PENDANT), k=3),
        {(1, 2, 1), (1, 3, 1), (2, 3, 1)},
    ),
    # no edge sits in a triangle
    "ktruss_none_survive": (
        lambda sp: graph.ktruss(_edges(sp, PATH), k=3),
        set(),
    ),
    # the frontier empties after hop 3, before max_hops
    "khop": (
        lambda sp: graph.khop_distances(
            _edges(sp, PATH), _seeds(sp, [1]), max_hops=5
        ),
        {(1, 0), (2, 1), (3, 2), (4, 3)},
    ),
    "khop_null_seeds": (
        lambda sp: graph.khop_distances(
            _edges(sp, PATH), _seeds(sp, [None]), max_hops=3
        ),
        set(),
    ),
    "sssp": (
        lambda sp: graph.sssp_distances(
            _edges(
                sp,
                [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0), (3, 4, 1.0)],
                "src long, dst long, weight double",
            ),
            _seeds(sp, [1]),
            max_rounds=5,
            require_converged=True,
        ),
        {(1, 0.0), (2, 1.0), (3, 2.0), (4, 3.0)},
    ),
    "sssp_null_seeds": (
        lambda sp: graph.sssp_distances(
            _edges(sp, [(1, 2, 1.0)], "src long, dst long, weight double"),
            _seeds(sp, [None]),
            max_rounds=3,
            require_converged=True,
        ),
        set(),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_fixpoint_loops_run_no_probe_action(spark, monkeypatch, case):
    """With isEmpty, count and exceptAll raising, each loop still
    stops and returns its documented answer: the stopping count comes
    from the round's own pin. An empty round reads 0, so it stops the
    loop (a NULL counter would read as neither 0 nor the last count)."""
    run, expected = CASES[case]

    def probe(self, *args):
        raise AssertionError("a fixpoint loop ran a probe action")

    # the classic DataFrame subclass; patching pyspark.sql.DataFrame
    # would not reach it
    cls = type(spark.range(1))
    for name in ("isEmpty", "count", "exceptAll"):
        monkeypatch.setattr(cls, name, probe)
    assert set(map(tuple, run(spark).collect())) == expected


CONFIGS = {
    "partitions_1": {"spark.sql.shuffle.partitions": "1"},
    "partitions_200": {"spark.sql.shuffle.partitions": "200"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "broadcast_off": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}


@pytest.mark.parametrize("cell", sorted(CONFIGS))
def test_fixpoint_loops_config_invariant(spark, cell):
    """AQE re-planning, the shuffle width and the join strategy must
    not change what a loop reads from its observed counters, nor its
    answer."""
    conf = CONFIGS[cell]
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        for case in ("cc", "cc_chain", "kcore", "ktruss", "khop", "sssp"):
            run, expected = CASES[case]
            assert set(map(tuple, run(spark).collect())) == expected, case
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
