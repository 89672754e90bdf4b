"""The sorted-partition seam `_per_group_map_over_sorted_partitions`
under ewma / holt_linear / holt_winters_additive / ttl_dedup. Value
equivalence vs the DuckDB oracles rides tests/test_oracle_parity.py
(r52/r82/r87/r89/r90); THIS file pins the seam machinery itself —
series buffering across Arrow batch boundaries, NULL-key grouping,
NULL order values last, and the tied-order RAISE surviving a split —
by running the same input with the Arrow batch size capped tiny
(series straddle batches) vs huge (they never do) and requiring
identical results. It also pins the per-batch bodies of ewma,
holt_linear and holt_winters_additive bitwise (==, not isclose) to
the one-series bodies they replaced, kept below as references and run
series by series through `_each_series`.
"""

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as ST

from miningfrequentpattern_spark.operators.timeseries import (
    _per_group_map_over_sorted_partitions,
    ewma,
    holt_linear,
    holt_winters_additive,
    ttl_dedup,
)

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _each_series(group_fn):
    """Adapt a one-series body `group_fn(frame) -> frame` to the
    seam's per-batch contract: slice each series out of the batch,
    call `group_fn` on it, concatenate the results."""

    def batch_fn(pdf: pd.DataFrame, gid: np.ndarray) -> pd.DataFrame:
        starts = np.flatnonzero(np.diff(gid, prepend=-1))
        ends = np.append(starts[1:], len(gid))
        return pd.concat(
            [
                group_fn(pdf.iloc[lo:hi].reset_index(drop=True))
                for lo, hi in zip(starts, ends)
            ],
            ignore_index=True,
        )

    return batch_fn


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
    rows.append(("p", None, 3.0))  # a NULL order value sorts last
    df = spark.createDataFrame(
        rows, "k string, t int, x double"
    ).coalesce(1)

    def run():
        return sorted(
            (
                (r["k"], r["t"], r["level"], r["trend"])
                for r in holt_linear(
                    df, ["k"], "t", "x", alpha=0.2, beta=0.3
                ).collect()
            ),
            key=lambda r: (r[0], r[1] is None, r[1] or 0),
        )

    got = _with_batch_cap(spark, 4, run)
    want = _with_batch_cap(spark, 1_000_000, run)
    assert got == want and len(got) == 3 * 25 + 2
    assert ("single", 0, 42.0, None) in got
    # the NULL-order row is p's last step, after t = 24
    (_, _, level, trend), (_, t_null, level_null, _) = [
        r for r in got if r[0] == "p"
    ][-2:]
    assert t_null is None
    assert level_null == 0.2 * 3.0 + (1.0 - 0.2) * (level + trend)


def _ttl_rows(spark):
    """Three named users and the NULL user, 19 events each, in one
    partition so small Arrow caps split every chain across batches.
    Gaps of 0-8 minutes make a 10-minute TTL both keep and drop; a
    0-minute gap is a ts tie broken by event_id. Each user's first
    event also ties with a NULL-event_id row, which must sort after
    it, so the first event anchors the chain."""
    rows, eid = [], 0
    for i, k in enumerate(["a", "b", "c", None]):
        m, series = 0, []
        for j in range(19):
            m += (j * 7 + i * 3) % 9
            series.append((k, m, eid))
            eid += 1
        rows += series + [(k, series[0][1], None)]
    return spark.createDataFrame(
        rows, "user_id string, m int, event_id long"
    ).select(
        "user_id",
        F.timestamp_seconds(F.col("m") * 60).alias("ts"),
        "m",
        "event_id",
    ).coalesce(1)


def _greedy_ttl(rows, ttl_min):
    """The TTL chain by a plain scan per user, ordered by (minute,
    event_id) with NULL event_ids last: {(user, event_id, m): kept}."""
    by_user = {}
    for u, m, e in rows:
        by_user.setdefault(u, []).append((m, e))
    out = {}
    for u, evs in by_user.items():
        anchor = None
        order = sorted(evs, key=lambda r: (r[0], r[1] is None, r[1] or 0))
        for m, e in order:
            keep = anchor is None or m >= anchor + ttl_min
            if keep:
                anchor = m
            out[(u, e, m)] = keep
    return out


@pytest.mark.parametrize("cap", [1, 7, None])
def test_ttl_split_groups_match_greedy_chain(spark, cap):
    """ttl_dedup through the seam equals a plain greedy scan whether
    or not chains straddle Arrow batches, the NULL user's chain
    included."""
    df = _ttl_rows(spark)

    def run():
        return {
            (r["user_id"], r["event_id"], r["m"]): r["is_kept"]
            for r in ttl_dedup(
                df, ["user_id"], "ts", "10 minutes",
                tiebreak_col="event_id", carry=("m",),
            ).collect()
        }

    got = run() if cap is None else _with_batch_cap(spark, cap, run)
    rows = [(r["user_id"], r["m"], r["event_id"]) for r in df.collect()]
    want = _greedy_ttl(rows, 10)
    assert got == want and len(got) == 4 * 20
    assert any(k for (u, _, _), k in got.items() if u is None)
    assert not all(got.values())


@pytest.mark.parametrize("cap", [1, 7, None])
def test_ttl_duplicate_raise_survives_batch_split(spark, cap):
    """The tied pair sits at sorted positions 6 and 7, so at caps 1
    and 7 its rows land in different Arrow batches."""
    rows = [("a", t) for t in range(10)] + [("a", 6)]
    df = spark.createDataFrame(rows, "k string, t int").select(
        "k", F.timestamp_seconds(F.col("t") * 60).alias("ts")
    ).coalesce(1)

    def run():
        return ttl_dedup(df, ["k"], "ts", "10 minutes").collect()

    with pytest.raises(Exception, match="duplicate"):
        run() if cap is None else _with_batch_cap(spark, cap, run)


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


def _series_rows(spark, lengths):
    """One series per (key, length), the NULL key included, values
    from 1e-3 to 1e5 with a NaN in the longer series, in one
    partition so small Arrow caps split them across batches."""
    rows = []
    for i, (k, n) in enumerate(lengths):
        for t in range(n):
            x = ((t * 37 + i * 101) % 97 - 40) * 10.0 ** ((t + i) % 9 - 3)
            rows.append((k, t, float("nan") if t == 17 else x))
    return spark.createDataFrame(rows, "k string, t int, x double").coalesce(1)


def _reference_holt(df, alpha, beta):
    """holt_linear over (k, t, x) as it ran before the lockstep
    kernel: the same projection and seam, with the per-step loop
    applied series by series."""
    base = df.filter(F.col("x").isNotNull()).select("k", "t", "x")
    schema = ST.StructType(
        list(base.schema.fields)
        + [
            ST.StructField("level", ST.DoubleType()),
            ST.StructField("trend", ST.DoubleType()),
        ]
    )
    one_m_a, one_m_b = 1.0 - alpha, 1.0 - beta

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype="float64")
        n = len(x)
        lv = np.empty(n, dtype="float64")
        tr = np.empty(n, dtype="float64")
        lv[0] = x[0]
        if n == 1:
            pdf["level"] = lv
            pdf["trend"] = pd.array([pd.NA], dtype="Float64")
            return pdf
        level, trend = x[0], x[1] - x[0]
        tr[0] = trend
        for t in range(1, n):
            new_level = alpha * x[t] + one_m_a * (level + trend)
            trend = beta * (new_level - level) + one_m_b * trend
            level = new_level
            lv[t] = level
            tr[t] = trend
        pdf["level"] = lv
        pdf["trend"] = tr
        return pdf

    return _per_group_map_over_sorted_partitions(
        base, ["k"], ["t"], _each_series(fn), schema
    )


@pytest.mark.parametrize("cap", [1, 7, None])
def test_holt_batch_kernel_bitwise_equals_per_series(spark, cap):
    df = _series_rows(
        spark, [("a", 1), ("b", 2), ("c", 3), ("d", 40), (None, 23)]
    )

    def run():
        return (
            _exact(holt_linear(df, ["k"], "t", "x", 0.2, 0.3).collect()),
            _exact(_reference_holt(df, 0.2, 0.3).collect()),
        )

    got, want = run() if cap is None else _with_batch_cap(spark, cap, run)
    assert got == want and len(got) == df.count()


def _reference_holt_winters(df, alpha, beta, gamma, m):
    """holt_winters_additive over (k, t, x) as it ran before the
    lockstep kernel: Python lists and a rotating seasonal buffer,
    series by series."""
    base = df.filter(F.col("x").isNotNull()).select("k", "t", "x")
    schema = ST.StructType(
        list(base.schema.fields)
        + [
            ST.StructField(c, ST.DoubleType())
            for c in ("level", "trend", "seasonal", "fitted")
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        x = list(pdf["x"])
        n = len(x)
        lev, tre, sea, fit = [None] * n, [None] * n, [None] * n, [None] * n
        l0 = sum(x[:m]) / m
        b0 = (sum(x[m:2 * m]) / m - sum(x[:m]) / m) / m
        buf = [x[i] - l0 for i in range(m)]
        lev[m - 1], tre[m - 1], sea[m - 1] = l0, b0, buf[m - 1]
        lcur, bcur = l0, b0
        for t in range(m, n):
            s_tm = buf[0]
            f_t = lcur + bcur + s_tm
            l_new = alpha * (x[t] - s_tm) + (1.0 - alpha) * (lcur + bcur)
            b_new = beta * (l_new - lcur) + (1.0 - beta) * bcur
            s_new = gamma * (x[t] - lcur - bcur) + (1.0 - gamma) * s_tm
            buf = buf[1:] + [s_new]
            lcur, bcur = l_new, b_new
            lev[t], tre[t], sea[t], fit[t] = l_new, b_new, s_new, f_t
        pdf["level"], pdf["trend"] = lev, tre
        pdf["seasonal"], pdf["fitted"] = sea, fit
        return pdf

    return _per_group_map_over_sorted_partitions(
        base, ["k"], ["t"], _each_series(fn), schema
    )


@pytest.mark.parametrize("cap", [1, 7, None])
def test_holt_winters_batch_kernel_bitwise_equals_per_series(spark, cap):
    df = _series_rows(
        spark, [("a", 6), ("b", 7), ("c", 13), ("d", 31), (None, 9)]
    )

    def run():
        return (
            _exact(
                holt_winters_additive(
                    df, ["k"], "t", "x", 0.2, 0.1, 0.3, period=3
                ).collect()
            ),
            _exact(_reference_holt_winters(df, 0.2, 0.1, 0.3, 3).collect()),
        )

    got, want = run() if cap is None else _with_batch_cap(spark, cap, run)
    assert got == want and len(got) == df.count()
