"""Distributed Mann–Whitney U test
(operators/relational.py::mannwhitney_z). Driver-grade value parity
on the r78_click_vs_view_ranksum registration runs in
tests/test_oracle_parity.py; this file keeps closed-form no-tie and
tie-corrected hand pins, the NaN / empty-arm / all-tied pins, and a
pin that the answer does not depend on the shuffle partition count.
The midrank leg rides the two-phase distributed rank — no
single-partition window anywhere (the oracle's global row_number is
the single-process contrast)."""

import math
import random

import pandas as pd
import pytest

from pyspark.sql import functions as F

from miningfrequentpattern_spark.operators.relational import mannwhitney_z
from miningfrequentpattern_spark.sources.io import load_table

from .conftest import SF_ORACLE
from .oracle import compare


def test_mannwhitney_no_ties_closed_form(spark):
    """A = {1,2,3}, B = {4,5,6}: ranks 1..6, R_a = 6, U = 0,
    z = −4.5/√5.25."""
    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [
        ("b", v) for v in (4.0, 5.0, 6.0)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mannwhitney_z(df, "g", "v", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"], got["u_stat"]) == (3, 3, 0.0)
    assert got["z"] == round(-4.5 / math.sqrt(5.25), 4)


def test_mannwhitney_tie_correction_closed_form(spark):
    """A = {1,2,2}, B = {2,3}: the three tied 2s share midrank 3, so
    R_a = 7, U = 1; tie term t³−t = 24 shrinks the variance to 2.4
    and z = −2/√2.4."""
    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mannwhitney_z(df, "g", "v", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"], got["u_stat"]) == (3, 2, 1.0)
    assert got["z"] == round(-2.0 / math.sqrt(2.4), 4)


def test_mannwhitney_all_tied_is_null_z(spark):
    rows = [("a", 5.0)] * 3 + [("b", 5.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    got = mannwhitney_z(df, "g", "v", "a", "b").collect()[0]
    assert got["z"] is None


def test_mannwhitney_other_groups_ignored(spark):
    rows = [("a", 1.0), ("b", 2.0), ("c", 99.0), ("c", 98.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mannwhitney_z(df, "g", "v", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"]) == (1, 1)


def test_mannwhitney_nan_excluded_from_ranks(spark):
    """NaN passes isNotNull but sorts above every real value, so an
    unguarded NaN row silently skews the midranks and U (ADVICE r5).
    Fixed: NaN rows are excluded exactly like NULLs — the statistic
    over (a: 1, 2 | b: 3) is unchanged by an extra NaN in either arm."""
    base = [("a", 1.0), ("a", 2.0), ("b", 3.0)]
    clean = mannwhitney_z(
        spark.createDataFrame(base, "g string, v double"),
        "g", "v", "a", "b",
    ).collect()[0]
    noisy = mannwhitney_z(
        spark.createDataFrame(
            base + [("a", float("nan")), ("b", float("nan"))],
            "g string, v double",
        ),
        "g", "v", "a", "b",
    ).collect()[0]
    assert (clean["n_a"], clean["n_b"]) == (2, 1)
    assert (noisy["n_a"], noisy["n_b"]) == (2, 1)
    assert noisy["u_stat"] == clean["u_stat"] and noisy["z"] == clean["z"]


def test_mannwhitney_empty_arm_yields_null_u(spark):
    """The docstring pin: an arm with zero rows yields NULL u/z, not
    the misleading u = 0.0 the raw rank-sum expression produces
    (ADVICE r5)."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    got = mannwhitney_z(df, "g", "v", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"]) == (2, 0)
    assert got["u_stat"] is None and got["z"] is None


@pytest.mark.parametrize("parts", [1, 8, 200])
def test_mannwhitney_independent_of_shuffle_partitions(spark, parts):
    """Heavy ties spread over several input partitions: every shuffle
    partition count gives the pandas average-rank answer exactly."""
    rng = random.Random(7)
    rows = [
        (rng.choice("ab"), float(rng.randrange(400))) for _ in range(4000)
    ]
    pdf = pd.DataFrame(rows, columns=["g", "v"])
    rank = pdf["v"].rank(method="average")
    is_a = pdf["g"] == "a"
    na, nb = int(is_a.sum()), int((~is_a).sum())
    u = rank[is_a].sum() - na * (na + 1) / 2
    t = pdf["v"].value_counts()
    n = na + nb
    var = na * nb / 12.0 * ((n + 1) - (t**3 - t).sum() / (n * (n - 1)))
    df = spark.createDataFrame(rows, "g string, v double").repartition(6)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        got = mannwhitney_z(df, "g", "v", "a", "b").collect()[0]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["u_stat"] == round(u, 4)
    assert math.isclose(got["z"], (u - na * nb / 2) / math.sqrt(var),
                        abs_tol=1e-4)
