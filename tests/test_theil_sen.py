"""Theil–Sen robust trend (operators/timeseries.py::theil_sen_trend)
— promoted round 6: the oracle moved verbatim onto the r76_robust_trend registration and driver-grade value parity now runs in tests/test_oracle_parity.py; this file keeps (daily order volumes per priority), plus exact-line,
outlier-robustness, and single-observation hand pins."""

from pyspark.sql import functions as F

from miningfrequentpattern_spark.functions.rounding import round4
from miningfrequentpattern_spark.operators.timeseries import theil_sen_trend
from miningfrequentpattern_spark.sources.io import load_table

from .conftest import SF_ORACLE
from .oracle import compare


def test_theil_sen_exact_line(spark):
    """y = 3t + 7 exactly: every pairwise slope is 3, every residual
    intercept 7."""
    df = spark.createDataFrame(
        [("a", float(t), 3.0 * t + 7.0) for t in range(6)],
        "k string, t double, x double",
    )
    got = theil_sen_trend(df, ["k"], "t", "x").collect()[0]
    assert (got["sen_slope"], got["sen_intercept"]) == (3.0, 7.0)
    assert got["n_obs"] == 6 and got["n_pairs"] == 15


def test_theil_sen_shrugs_off_outlier_where_ols_bends(spark):
    """A flat series with one 1000× spike: the slope MEDIAN stays 0
    while the OLS slope (series_trend) visibly bends — the whole
    point of the robust twin."""
    from miningfrequentpattern_spark.operators.timeseries import (
        series_trend,
    )

    # spike at the END of the series — an endpoint has maximal OLS
    # leverage (a centered spike cancels symmetrically and moves the
    # OLS slope not at all)
    rows = [("a", float(t), 10.0) for t in range(11)]
    rows[10] = ("a", 10.0, 10000.0)
    df = spark.createDataFrame(rows, "k string, t double, x double")
    sen = theil_sen_trend(df, ["k"], "t", "x").collect()[0]
    ols = series_trend(df, ["k"], "t", "x").collect()[0]
    assert sen["sen_slope"] == 0.0
    assert abs(ols["slope"]) > 10  # OLS dragged by the spike


def test_theil_sen_single_observation(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 5.0)], "k string, t double, x double"
    )
    got = theil_sen_trend(df, ["k"], "t", "x").collect()[0]
    assert got["n_obs"] == 1 and got["n_pairs"] == 0
    assert got["sen_slope"] is None and got["sen_intercept"] is None


def test_theil_sen_duplicate_timestamps_excluded_pairwise(spark):
    """Two observations at the same t: no dt = 0 slope enters the
    median, but both rows still count in n_obs."""
    df = spark.createDataFrame(
        [("a", 0.0, 1.0), ("a", 0.0, 9.0), ("a", 1.0, 2.0)],
        "k string, t double, x double",
    )
    got = theil_sen_trend(df, ["k"], "t", "x").collect()[0]
    assert got["n_obs"] == 3 and got["n_pairs"] == 2
    # slopes: (2-1)/1 = 1 and (2-9)/1 = -7 → median -3
    assert got["sen_slope"] == -3.0


def old_theil(df, keys, t_col, value_col):
    """theil_sen_trend's former self-join + percentile formulation,
    without the localCheckpoint, kept as the operator's reference."""
    t = F.col(t_col).cast("double")
    x = F.col(value_col).cast("double")
    base = df.filter(t.isNotNull() & x.isNotNull()).select(
        *keys, t.alias("_t"), x.alias("_x")
    )
    a, b = base.alias("a"), base.alias("b")
    cond = None
    for g in keys:
        c = F.col(f"a.{g}").eqNullSafe(F.col(f"b.{g}"))
        cond = c if cond is None else cond & c
    cond = cond & (F.col("a._t") < F.col("b._t"))
    slopes = a.join(b, cond).select(
        *[F.col(f"a.{g}") for g in keys],
        ((F.col("b._x") - F.col("a._x")) / (F.col("b._t") - F.col("a._t"))).alias("_s"),
    )
    med = slopes.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile("_s", F.lit(0.5)).alias("_slope"),
    )
    for g in keys:
        med = med.withColumnRenamed(g, f"_m_{g}")
    jcond = None
    for g in keys:
        c = F.col(g).eqNullSafe(F.col(f"_m_{g}"))
        jcond = c if jcond is None else jcond & c
    joined = base.join(F.broadcast(med), jcond, "left").drop(
        *[f"_m_{g}" for g in keys]
    )
    return joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.coalesce(F.first("n_pairs"), F.lit(0)).alias("n_pairs"),
        round4(F.first("_slope")).alias("sen_slope"),
        round4(
            F.percentile(F.col("_x") - F.col("_slope") * F.col("_t"), F.lit(0.5))
        ).alias("sen_intercept"),
    )


def test_theil_sen_matches_join_formulation(spark):
    """The operator must reproduce its former self-join +
    F.percentile formulation value-for-value (bitwise on the rounded
    outputs, which the oracle hashes) on a seeded random multi-series
    fixture with duplicate timestamps, negative values, and a
    single-observation series."""
    import random
    import struct as _struct

    rng = random.Random(76)
    rows = []
    for k, n in (("a", 40), ("b", 17), ("c", 1), ("d", 63)):
        ts = [float(rng.randrange(0, 50)) for _ in range(n)]  # dup-t
        for t in ts:
            rows.append((k, t, rng.uniform(-100.0, 100.0)))
    df = spark.createDataFrame(rows, "k string, t double, x double")
    old = {r["k"]: r for r in old_theil(df, ["k"], "t", "x").collect()}
    new = {
        r["k"]: r for r in theil_sen_trend(df, ["k"], "t", "x").collect()
    }
    assert set(old) == set(new)
    for k in old:
        o, n = old[k], new[k]
        assert (o["n_obs"], o["n_pairs"]) == (n["n_obs"], n["n_pairs"]), k
        for c in ("sen_slope", "sen_intercept"):
            ob = None if o[c] is None else _struct.pack("<d", o[c])
            nb = None if n[c] is None else _struct.pack("<d", n[c])
            assert ob == nb, (k, c, o[c], n[c])
