"""The sorted-partition seam `_per_group_map_over_sorted_partitions`
under ewma / holt_linear / holt_winters_additive. Value equivalence
vs the DuckDB oracles rides tests/test_oracle_parity.py
(r52/r82/r89/r90); THIS file pins the seam machinery itself — series
buffering across Arrow batch boundaries, NULL-key grouping, and the
RAISE contracts surviving a split — by running the same input with
the Arrow batch size capped tiny (series straddle batches) vs huge
(they never do) and requiring identical results. It also pins ewma's
per-batch body bitwise (==, not isclose) to the one-series pandas
body it replaced, kept below as the reference.
"""

import math

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as ST

from miningfrequentpattern_spark.operators.timeseries import (
    _each_series,
    _per_group_map_over_sorted_partitions,
    ewma,
    holt_linear,
    holt_winters_additive,
)

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _with_batch_cap(spark, cap, thunk):
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, str(cap))
    try:
        return thunk()
    finally:
        spark.conf.set(BATCH_CONF, old)


def _ewma_rows(spark):
    # 4 named keys + one NULL key, 37 rows each, single partition so
    # a 7-row Arrow cap forces every group to straddle batches; values
    # vary per key so a cross-key state leak changes results.
    rows = []
    for i, k in enumerate(["a", "b", "c", "d", None]):
        rows += [(k, t, float((t * 37 + i * 101) % 97)) for t in range(37)]
    return spark.createDataFrame(
        rows, "k string, t int, x double"
    ).coalesce(1)


def test_ewma_split_groups_match_unsplit(spark):
    df = _ewma_rows(spark)

    def run():
        return sorted(
            map(tuple, ewma(df, ["k"], "t", "x", 0.3).collect()),
            key=lambda r: (str(r[0]), r[1]),
        )

    got = _with_batch_cap(spark, 7, run)
    want = _with_batch_cap(spark, 1_000_000, run)
    assert got == want and len(got) == 5 * 37


def test_ewma_null_key_is_one_series(spark):
    """groupBy semantics: all NULL keys form ONE group — the seam's
    boundary detection must not split a NULL run, and the NULL
    series' recurrence must chain across a batch boundary."""
    df = _ewma_rows(spark).filter(F.col("k").isNull())
    out = _with_batch_cap(
        spark,
        5,
        lambda: {
            r["t"]: r["ewma"]
            for r in ewma(df, ["k"], "t", "x", 0.5).collect()
        },
    )
    # hand recurrence over the NULL series (i=4 in the fixture)
    x = [float((t * 37 + 4 * 101) % 97) for t in range(37)]
    y = x[0]
    assert out[0] == y
    for t in range(1, 37):
        y = 0.5 * x[t] + 0.5 * y
        assert math.isclose(out[t], y, rel_tol=0, abs_tol=0.0), t


def test_ewma_duplicate_raise_survives_batch_split(spark):
    """The RAISE-on-tied-order contract must fire even when the tied
    pair lands in different Arrow batches: the seam buffers the whole
    group, so the duplicate check still sees both rows."""
    rows = [("a", t, 1.0) for t in range(10)] + [("a", 5, 2.0)]
    df = spark.createDataFrame(
        rows, "k string, t int, x double"
    ).coalesce(1)
    with pytest.raises(Exception, match="duplicate"):
        _with_batch_cap(
            spark,
            2,
            lambda: ewma(df, ["k"], "t", "x", 0.5).collect(),
        )


def test_holt_split_groups_match_unsplit(spark):
    rows = []
    for i, k in enumerate(["p", "q", "r"]):
        rows += [(k, t, float((t * 13 + i * 7) % 31)) for t in range(25)]
    rows.append(("single", 0, 42.0))  # the n==1 NULL-trend contract
    df = spark.createDataFrame(
        rows, "k string, t int, x double"
    ).coalesce(1)

    def run():
        return sorted(
            (r["k"], r["t"], r["level"], r["trend"])
            for r in holt_linear(
                df, ["k"], "t", "x", alpha=0.2, beta=0.3
            ).collect()
        )

    got = _with_batch_cap(spark, 4, run)
    want = _with_batch_cap(spark, 1_000_000, run)
    assert got == want and len(got) == 3 * 25 + 1
    assert ("single", 0, 42.0, None) in got


def test_holt_winters_split_groups_match_unsplit(spark):
    rows = []
    for i, k in enumerate(["u", "v"]):
        rows += [(k, t, float((t * 11 + i * 5) % 23)) for t in range(20)]
    df = spark.createDataFrame(
        rows, "k string, t int, x double"
    ).coalesce(1)

    def run():
        return sorted(
            (
                r["k"],
                r["t"],
                r["level"],
                r["trend"],
                r["seasonal"],
                r["fitted"],
            )
            for r in holt_winters_additive(
                df, ["k"], "t", "x", period=3
            ).collect()
        )

    got = _with_batch_cap(spark, 3, run)
    want = _with_batch_cap(spark, 1_000_000, run)
    assert got == want and len(got) == 2 * 20


def _reference_ewma(df, keys, order_col, value_col, alpha, tiebreak_col=None):
    """ewma as it ran before the per-batch body: the same projection
    and seam, with the one-series pandas body applied series by
    series."""
    extra = (
        [tiebreak_col]
        if tiebreak_col
        and tiebreak_col not in (*keys, order_col, value_col)
        else []
    )
    base = df.select(
        *keys,
        order_col,
        *extra,
        F.col(value_col).cast("double").alias(value_col),
    )
    schema = ST.StructType(
        list(base.schema.fields) + [ST.StructField("ewma", ST.DoubleType())]
    )
    sort_cols = [order_col] + ([tiebreak_col] if tiebreak_col else [])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        if pdf.duplicated(sort_cols).any():
            raise ValueError(f"duplicate {sort_cols} within a series")
        pdf["ewma"] = pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return _per_group_map_over_sorted_partitions(
        base, keys, sort_cols, _each_series(fn), schema
    )


def _exact(rows):
    """Rows as sortable tuples that compare floats with ==, except
    that NaN equals NaN (and only NaN)."""

    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return (2, "NaN")
        return (0, "") if v is None else (1, v)

    return sorted(tuple(cell(v) for v in r) for r in rows)


def _edge_rows(spark):
    """Series of lengths 1..23 plus the all-NULL key series, in one
    partition so small Arrow caps split them across batches. Values
    hold NaN and NULL; series "c" has a NULL order value, which
    pandas places last where Spark's sort put it first."""
    rows = []
    for i, (k, n) in enumerate(
        [("a", 23), ("b", 1), ("c", 9), ("d", 1), ("e", 17), (None, 11)]
    ):
        for t in range(n):
            x = float((t * 37 + i * 101) % 97)
            if (t + i) % 5 == 3:
                x = float("nan")
            elif (t + i) % 7 == 4:
                x = None
            rows.append((k, t, x))
    rows.append(("c", None, 5.0))
    rows.append((None, None, 8.0))
    return spark.createDataFrame(rows, "k string, t int, x double").coalesce(1)


@pytest.mark.parametrize("cap", [1, 7, None])
def test_ewma_batch_body_bitwise_equals_per_series(spark, cap):
    df = _edge_rows(spark)

    def run():
        got = _exact(ewma(df, ["k"], "t", "x", 0.3).collect())
        want = _exact(_reference_ewma(df, ["k"], "t", "x", 0.3).collect())
        return got, want

    got, want = run() if cap is None else _with_batch_cap(spark, cap, run)
    assert got == want and len(got) == df.count()


@pytest.mark.parametrize("cap", [1, 7])
def test_ewma_batch_body_with_tiebreak_bitwise(spark, cap):
    # two keys, order ties broken by `tb`, one NULL tiebreak value
    rows = [
        (k, j, t // 2, t if t != 4 else None, float(t * 3 % 11))
        for k in ("p", "q")
        for j in (0, 1)
        for t in range(12)
    ]
    df = spark.createDataFrame(
        rows, "k string, j int, t int, tb int, x double"
    ).coalesce(1)

    def run():
        return (
            _exact(ewma(df, ["k", "j"], "t", "x", 0.5, tiebreak_col="tb")
                   .collect()),
            _exact(_reference_ewma(df, ["k", "j"], "t", "x", 0.5, "tb")
                   .collect()),
        )

    got, want = _with_batch_cap(spark, cap, run)
    assert got == want and len(got) == 48


@pytest.mark.parametrize("tiebreak", ["k", "t"])
@pytest.mark.parametrize("cap", [1, 2])
def test_ewma_duplicate_raise_with_tiebreak_across_batches(
    spark, tiebreak, cap
):
    """A tiebreak that is a key or the order column itself cannot
    break a tie, so the tied pair must still raise when it lands in
    different Arrow batches."""
    rows = [("a", t, 1.0) for t in range(10)] + [("a", 5, 2.0)]
    df = spark.createDataFrame(
        rows, "k string, t int, x double"
    ).coalesce(1)
    with pytest.raises(Exception, match="duplicate"):
        _with_batch_cap(
            spark,
            cap,
            lambda: ewma(
                df, ["k"], "t", "x", 0.5, tiebreak_col=tiebreak
            ).collect(),
        )


def test_ewma_column_names_cannot_collide(spark):
    """The body keeps its working data in arrays, so input columns
    named like a series ordinal or a positional label pass through."""
    df = _edge_rows(spark).select(
        F.col("k").alias("gid"), F.col("t").alias("0"), F.col("x").alias("1")
    )

    def run():
        return (
            _exact(ewma(df, ["gid"], "0", "1", 0.3).collect()),
            _exact(_reference_ewma(df, ["gid"], "0", "1", 0.3).collect()),
        )

    got, want = _with_batch_cap(spark, 7, run)
    assert got == want and len(got) == df.count()
