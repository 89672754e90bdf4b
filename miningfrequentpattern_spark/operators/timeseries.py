"""Per-series recurrence operators over grouped time series.

Linear recurrences (EWMA / exponential smoothing) are the one common
time-series shape Spark's native surface cannot express at linear
cost: a RANGE/ROWS window sees only frame aggregates (the EWMA weight
depends on the row's distance from every earlier row, so the
"windowed convolution" form is O(len²) per series via
collect_list+aggregate), and the rescaled-prefix-sum algebraic trick
(y_t = (1-a)^t · Σ x_i/(1-a)^i) overflows float64 after a few
thousand steps (1/0.8 ** 2400 = inf). The seam ewma, holt_linear,
holt_winters_additive and ttl_dedup share is
`_per_group_map_over_sorted_partitions`: shuffle once on the series
key, sort within partitions (order columns NULLs last), raise on a
tied order, and hand a pandas body one frame per Arrow batch that
holds only complete series, plus a per-row series ordinal. The seam
alone delimits and orders series; no body re-sorts or re-checks ties.
Every body is vectorised across the series of its batch: ewma is one
grouped `ewm`, and holt_linear, holt_winters_additive and ttl_dedup
each call their numpy kernel in `recurrences.py` once per batch, the
same kernel their streaming twins step one key at a time.

Scale posture: ONE shuffle (the repartition on the series keys);
per-task memory is bounded by one Arrow batch plus the longest
series, not by corpus size — a daily-grain series is thousands of
rows regardless of SF, so millions of series parallelize across
executors. Skewed series lengths are bounded by the time grain
itself (the same argument as basketize's per-order bound).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..functions.durations import duration_us
from ..functions.guards import reject_working_cols as _reject_working_cols
from ..functions.rounding import round4
from .recurrences import (
    fresh_state,
    holt_step,
    holt_winters_init,
    holt_winters_step,
    series_starts,
    ttl_step,
)


def _adjacent_equal(arr: np.ndarray) -> np.ndarray:
    """NULL-safe equality of each row with the next (length n−1):
    adjacent NULLs are equal whatever their representation after
    Arrow (None vs NaN/NaT)."""
    na = pd.isna(arr)
    return (arr[1:] == arr[:-1]) | (na[1:] & na[:-1])


def _per_group_map_over_sorted_partitions(
    base: DataFrame,
    keys: Sequence[str],
    sort_cols: Sequence[str],
    batch_fn,
    schema: ST.StructType,
) -> DataFrame:
    """Repartition on `keys`, sort each partition on `keys` then
    `sort_cols` (NULLs last), and map the partition in pandas, calling
    `batch_fn(frame, gid)` once per Arrow batch. The seam alone
    decides how a series is delimited and ordered; bodies never
    re-sort.

    `frame` holds only COMPLETE series, each as one contiguous run of
    rows ordered by `sort_cols` (NULLs last, the order pandas'
    `sort_values` gives); `gid` is an int64 array, one entry per row,
    numbering the frame's series 0, 1, 2, ... in row order. The last
    series of a batch may continue into the next one, so it is held
    back and prepended to the next batch (per-task memory = one batch
    plus one series). `batch_fn` returns the output frame for all of
    the input's series; since no series spans two calls, a body that
    runs a `recurrences` kernel starts it from fresh state each call.

    NULL-key handling matches groupBy semantics (all-NULL keys form
    one series). Bodies that group by series must group on `gid`, not
    on the key columns: pandas drops NaN group keys.

    When `sort_cols` is non-empty they must order each series
    totally: two adjacent rows of one series that are equal (NULL-
    safe) on every sort column RAISE, since tied rows would be
    sequenced by shuffle arrival. Pass a tiebreak column or
    pre-aggregate to a unique grain.
    """
    key_list, sort_list = list(keys), list(sort_cols)

    def fn(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pending is not None:
                pdf = pd.concat((pending, pdf), ignore_index=True)
            same = np.ones(len(pdf) - 1, dtype=bool)
            for k in key_list:
                same &= _adjacent_equal(pdf[k].to_numpy())
            if sort_list:
                tied = same.copy()
                for c in sort_list:
                    tied &= _adjacent_equal(pdf[c].to_numpy())
                if tied.any():
                    raise ValueError(
                        f"duplicate {sort_list} within a series of "
                        f"{key_list}: the series is order-ambiguous; "
                        "pass tiebreak_col or pre-aggregate to a unique "
                        "grain"
                    )
            bound = np.concatenate(([True], ~same))
            # the last series may continue into the next batch — hold it
            last_lo = int(np.flatnonzero(bound)[-1])
            pending = pdf.iloc[last_lo:].reset_index(drop=True)
            if last_lo:
                gid = np.cumsum(bound[:last_lo], dtype=np.int64) - 1
                yield batch_fn(pdf.iloc[:last_lo], gid)
        if pending is not None:
            yield batch_fn(pending, np.zeros(len(pending), dtype=np.int64))

    return (
        base.repartition(*key_list)
        .sortWithinPartitions(
            *key_list, *(F.col(c).asc_nulls_last() for c in sort_list)
        )
        .mapInPandas(fn, schema)
    )


def _double_series(df, keys, order_col, value_col, tiebreak_col, out_cols):
    """The seam input of ewma, holt_linear and holt_winters_additive:
    (keys, order_col[, tiebreak_col], value_col cast to double, so
    Arrow hands pandas a float64 block), its sort columns, and the
    output schema with `out_cols` appended as doubles. A tiebreak that
    is a key, the order or the value column is not selected twice (a
    duplicate name raises AMBIGUOUS_REFERENCE)."""
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
        list(base.schema.fields)
        + [ST.StructField(c, ST.DoubleType()) for c in out_cols]
    )
    sort_cols = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    return base, sort_cols, schema


def ewma(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Exponentially weighted moving average per series:

        y_0 = x_0;  y_t = alpha·x_t + (1 − alpha)·y_{t−1}

    (pandas `ewm(adjust=False)` semantics — the recursive/online form
    used for smoothing dashboards and simple forecasting baselines).
    Returns the input's (keys, order_col, value_col) columns plus
    `out_col` (double), one row per input row.

    The seam orders each series by (order_col[, tiebreak_col]), NULL order
    values last, and hands the body one Arrow batch of complete series
    at a time; the body is one `groupby(series ordinal).ewm(adjust=
    False)` over the whole batch. DUPLICATE order values within a
    series make the recurrence ambiguous: the seam RAISES on them
    unless `tiebreak_col` resolves the tie. float64 parity with a SQL
    engine's literal recurrence holds bitwise when alpha and 1−alpha
    round-trip exactly (pandas applies old·(1−a) + new·a per step, the
    same two multiplies and one add as the SQL form; see
    tests/test_ewma.py's recursive-CTE oracle), and the grouped ewm
    runs the same kernel per series as a one-series `ewm`
    (tests/test_per_group_seam.py).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    base, sort_cols, schema = _double_series(
        df, keys, order_col, value_col, tiebreak_col, [out_col]
    )

    def fn(pdf: pd.DataFrame, gid: np.ndarray) -> pd.DataFrame:
        out = pdf.copy(deep=False)
        out[out_col] = (
            pdf[value_col]
            .groupby(gid, sort=False)
            .ewm(alpha=alpha, adjust=False)
            .mean()
            .droplevel(0)
        )
        return out

    return _per_group_map_over_sorted_partitions(
        base, keys, sort_cols, fn, schema
    )


def interval_merge(
    df: DataFrame,
    keys: Sequence[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Consolidate overlapping-or-touching intervals per key into
    maximal disjoint spans (gaps-and-islands): two intervals merge
    when `start ≤ running-max(end)` of everything earlier in the
    series — so [1,3] + [3,5] is ONE span (touching counts as
    connected; half-open callers who want strict overlap can shrink
    `end` by an epsilon upstream). Returns one row per span:
    (keys…, span_start, span_end, n_intervals).

    The classic uses: activity/uptime spans from heartbeat windows,
    coverage consolidation before a range join, dedup of re-delivered
    bookings. Shape: ONE shuffle — both windows partition by the
    series keys, and the closing groupBy clusters on (keys…, island)
    for which the window's hashpartitioning(keys) already satisfies
    ClusteredDistribution (keys is a subset), so Spark adds NO second
    exchange (asserted in tests/test_plans.py). Per-task memory is
    one running max, not the series — no collect_list anywhere.

    NULL starts/ends are rejected up front with a filter-side raise
    avoided deliberately: a NULL boundary has no interval semantics,
    and silently sorting NULLS FIRST would glue unrelated rows into
    one span — so rows with NULL boundaries are dropped and counted
    against no span (same stance as the histogram rollup's NULL
    exclusion; document the drop, never corrupt the merge).
    """
    # a KEY named like the working island column or an output name
    # would be duplicated/shadowed in the grouped select (r10 sweep)
    _reject_working_cols(
        df.select(*keys),
        ("_island", "span_start", "span_end", "n_intervals"),
        "interval_merge",
    )
    w = Window.partitionBy(*keys).orderBy(start_col, end_col)
    prior_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prior_max_end.isNull() | (F.col(start_col) > prior_max_end),
        F.lit(1),
    ).otherwise(F.lit(0))
    island = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.filter(
            F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
        )
        .select(*keys, start_col, end_col, island.alias("_island"))
        .groupBy(*keys, "_island")
        .agg(
            F.min(start_col).alias("span_start"),
            F.max(end_col).alias("span_end"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .drop("_island")
    )


def time_weighted_avg(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Step-interpolated time-weighted mean per series: each
    observation holds its value until the NEXT observation, so

        twa = Σ value_i · (t_{i+1} − t_i)  /  (t_last − t_first)

    — the standard aggregate for irregularly sampled gauges (position
    value, queue depth, price) where a plain mean over-weights bursts
    of dense ticks. Returns (keys…, twa, n_obs); a series with fewer
    than two distinct timestamps has zero covered duration and yields
    twa = NULL (never a divide-by-zero NaN — the r44 flat-series
    stance). The LAST observation contributes no duration by
    construction (nothing after it to hold until). TIED timestamps
    are step-ambiguous (which tied value "holds" until the next
    distinct tick?); the window orders by (ts, value) so the answer
    is at least DETERMINISTIC — the largest tied value holds, the
    rest contribute dt = 0 — and cross-engine reproducible (an
    oracle ordering only by ts would let each engine pick a
    different tied row as the segment holder). Pre-aggregate to a
    unique-timestamp grain upstream when ties are meaningful.

    Shape: one window shuffle on the series keys (lead over event
    time), then a hash aggregate whose ClusteredDistribution(keys) is
    already satisfied by the window's partitioning — no second
    exchange, no per-series materialization.
    """
    t = F.col(ts_col).cast("double")
    v = F.col(value_col).cast("double")
    base = df.filter(t.isNotNull() & v.isNotNull()).select(
        *keys, t.alias("_t"), v.alias("_v")
    )
    w = Window.partitionBy(*keys).orderBy("_t", "_v")
    dt = F.lead("_t").over(w) - F.col("_t")
    weighted = base.select(*keys, "_v", dt.alias("_dt"))
    tot = F.sum("_dt")
    return weighted.groupBy(*keys).agg(
        F.when(
            tot > 0, F.sum(F.col("_v") * F.col("_dt")) / tot
        ).alias("twa"),
        F.count(F.lit(1)).alias("n_obs"),
    )


def series_trend(
    df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series OLS line fit — (keys…, n_obs, slope, intercept, r2)
    with slope = cov_pop(t, x)/var_pop(t), intercept = μ_x − slope·μ_t,
    r2 = corr(t, x)² — the cheap "is this series going up" monitor
    behind drift dashboards and alert pre-filters.

    Entirely native aggregates: ONE map-side-partial hash aggregate,
    no window, no UDF — the co-moment updates run inside whole-stage
    codegen and merge associatively, so the plan is a textbook
    partial/final aggregate pair at any scale. Degenerate series
    follow SQL semantics, guarded explicitly: var_pop(t) = 0 (single
    point, or all observations at one t) yields NULL slope/intercept/
    r2 rather than an IEEE ±inf — and a CONSTANT x over varying t is
    a genuine fit (slope 0, r2 NULL since corr is undefined at zero
    variance). Both engines' single-pass co-moment algorithms agree
    to far beyond the 4dp the oracle rounds to (this is why the
    operator rounds: cross-engine fp parity on merged co-moments is
    relative-1e-12, not bitwise).
    """
    t = F.col(t_col).cast("double")
    x = F.col(value_col).cast("double")
    base = df.filter(t.isNotNull() & x.isNotNull()).select(
        *keys, t.alias("_t"), x.alias("_x")
    )
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.covar_pop("_t", "_x").alias("_cov"),
        F.var_pop("_t").alias("_var"),
        F.avg("_t").alias("_mt"),
        F.avg("_x").alias("_mx"),
        # Spark's corr yields NaN at zero variance where SQL engines
        # yield NULL — normalize to NULL (the r44 flat-series pin).
        F.corr("_t", "_x").alias("_rawr"),
    ).withColumn(
        "_r", F.when(~F.isnan(F.col("_rawr")), F.col("_rawr"))
    )
    slope = F.when(F.col("_var") > 0, F.col("_cov") / F.col("_var"))
    return agg.select(
        *keys,
        "n_obs",
        # round4 pins -0.0 (near-flat series round to signed zero;
        # oracle side carries the matching `+ 0.0`) — the l43 class.
        round4(slope).alias("slope"),
        round4(F.col("_mx") - slope * F.col("_mt")).alias("intercept"),
        F.round(F.col("_r") ** 2, 4).alias("r2"),
    )


def cusum_drift(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """One-sided (upper) CUSUM drift statistic per series — the
    classic change-point monitor: with d_t = x_t − target − slack,

        S_0 = max(0, d_0);  S_t = max(0, S_{t−1} + d_t)

    Returns every input row with a non-NULL (order, value) plus
    `cusum` (S_t) and, when `threshold` is given, a boolean `drifted`
    (S_t > threshold) — the "this series' mean has shifted up" alarm
    for metric monitoring and data-drift gates. NULL-order/value rows
    are EXCLUDED, not passed through: the cumulative chain would
    otherwise poison every later row in the series.

    NOT a grouped-map recurrence: the max(0, ·) recursion has the
    closed form S_t = P_t − min(0, min_{j≤t} P_j) with P the running
    sum of d — i.e. a cumulative sum and a running minimum over the
    SAME window frame, both native, both in one Window node sharing
    one shuffle (asserted in tests/test_plans.py). That identity is
    what makes the operator SQL-oracle-able with plain window
    functions where the textbook recurrence form would need a
    recursive CTE. Ordering pins: rows order by (order_col, value)
    so tied order keys resolve identically across engines — same
    stance as time_weighted_avg; pre-aggregate to a unique grain
    when ties are meaningful.
    """
    t = F.col(order_col)
    x = F.col(value_col).cast("double")
    # a key/carry column named like a working or output column would
    # be shadowed (cusum/drifted) or duplicated (_x) silently (r10
    # sweep, the 73e18de class)
    _reject_working_cols(
        df.select(*keys, order_col, *carry),
        ("_x", "cusum", "drifted"),
        "cusum_drift",
    )
    # `carry` columns ride through untouched (the l40 pass-through
    # convention) so compositions don't need a join-back on the
    # series key to recover companion measures.
    base = df.filter(t.isNotNull() & x.isNotNull()).select(
        *keys, t.alias(order_col), *carry, x.alias("_x")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col, "_x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = F.sum(F.col("_x") - F.lit(float(target)) - F.lit(float(slack))).over(w)
    runmin = F.min(
        F.sum(
            F.col("_x") - F.lit(float(target)) - F.lit(float(slack))
        ).over(w)
    )
    out = base.select(
        *keys,
        order_col,
        *carry,
        F.col("_x").alias(value_col),
        (p - F.least(F.lit(0.0), runmin.over(w))).alias("cusum"),
    )
    if threshold is not None:
        out = out.withColumn(
            "drifted", F.col("cusum") > F.lit(float(threshold))
        )
    return out


def last_touch_attribution(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: Sequence[str],
    max_age: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Last-touch conversion attribution: for every conversion event,
    the most recent PRECEDING touch event (same key) and its age —
    the marketing/growth classic ("which click gets credit for this
    purchase"). Returns one row per conversion: (keys…, ts, touch_ts,
    touch_type, age_seconds) with NULLs when no touch precedes (an
    organic conversion — kept, never dropped: the unattributed rate
    IS the metric people monitor). `max_age` (e.g. "7 days") voids
    credit for touches older than the window, as campaign reporting
    requires.

    Shape: ONE shuffle — a last(…, ignorenulls) window over the
    series key carries the latest touch forward past every
    conversion; no self-join of conversions against touches (the
    join form fans each conversion out to the key's whole touch
    history before a rank prunes it — exactly the as-of fan-out
    asof_join's bucket lever exists to kill, unnecessary here
    because the window form never materializes the pairs at all).
    A touch and conversion at the SAME timestamp: the touch counts
    only if it sorts BEFORE the conversion — pass `tiebreak_col`
    (e.g. an event id) to make that order deterministic; ties in
    (ts) without a tiebreak keep whatever order the sort produced,
    so cross-engine runs need the tiebreak (the oracle pins it).
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col).isin(*touch_types)
    touch_ts = F.last(
        F.when(is_touch, F.col(ts_col)), ignorenulls=True
    ).over(w)
    touch_type = F.last(
        F.when(is_touch, F.col(type_col)), ignorenulls=True
    ).over(w)
    # For TIMESTAMP ts, subtract in the exact integer MICROS domain
    # and divide once: a/1e6 − b/1e6 differs from (a−b)/1e6 in the
    # last float64 bit, which straddles 4dp rounding boundaries
    # against a SQL twin computing epoch_us(a−b)/1e6 (observed on
    # the fixture feed). Numeric ts subtracts directly (exact).
    if isinstance(df.schema[ts_col].dataType, (ST.TimestampType,
                                               ST.TimestampNTZType)):
        age = (
            F.unix_micros(F.col(ts_col))
            - F.unix_micros(F.col("touch_ts"))
        ) / F.lit(1_000_000.0)
    else:
        age = F.col(ts_col).cast("double") - F.col("touch_ts").cast("double")
    out = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            *keys,
            ts_col,
            *([tiebreak_col] if tiebreak_col else []),
            F.col(type_col),
            touch_ts.alias("touch_ts"),
            touch_type.alias("touch_type"),
        )
        .filter(F.col(type_col) == F.lit(conversion_type))
        .withColumn("age_seconds", age)
    )
    if max_age is not None:
        # Seconds-domain comparison so the horizon works identically
        # for TIMESTAMP ts (cast = exact epoch micros / 1e6) and
        # plain numeric ts columns; '7 days' parses via the shared
        # relational bucket grammar.
        from .relational import _bucket_seconds

        secs = _bucket_seconds(max_age)
        keep = F.col("touch_ts").cast("double") >= (
            F.col(ts_col).cast("double") - F.lit(float(secs))
        )
        out = out.select(
            *keys,
            ts_col,
            *([tiebreak_col] if tiebreak_col else []),
            type_col,
            F.when(keep, F.col("touch_ts")).alias("touch_ts"),
            F.when(keep, F.col("touch_type")).alias("touch_type"),
            F.when(keep, F.col("age_seconds")).alias("age_seconds"),
        )
    return out.drop(type_col)


def autocorrelation(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Per-series lag-k sample autocorrelation for k = 1..max_lag —
    (keys…, lag, n_pairs, acf) with acf = Pearson corr(x_t, x_{t−k})
    over the pairs both sides of which exist. The seasonality /
    short-memory probe behind cache-TTL tuning, forecast-model
    selection, and "is this metric self-similar day-over-day"
    dashboards; max_lag bounds the fan-out explicitly.

    Shape: all max_lag lag() columns share ONE window spec, so
    Catalyst plans a single Window node over a single series-key
    exchange; the per-row (lag, x_lag) stack is a row-local
    array+explode (fan-out max_lag, bounded by the argument, no
    shuffle); the closing (keys, lag) hash aggregate is map-side
    partial. Nothing is corpus² and no series is ever collected to
    one task beyond the window's own per-key run. Ordering pins:
    rows order by (order_col, value) so tied order keys resolve
    identically across engines — the cusum_drift stance;
    pre-aggregate to a unique grain when ties are meaningful.
    Degenerate pins: a flat series (zero variance on either leg) and
    a single-pair lag both yield NULL acf, never NaN/±inf — Spark's
    corr NaN is normalized to NULL (the r44 flat-series pin), which
    is where DuckDB's sample-corr lands on its own.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    t = F.col(order_col)
    x = F.col(value_col).cast("double")
    base = df.filter(t.isNotNull() & x.isNotNull()).select(
        *keys, t.alias("_t"), x.alias("_x")
    )
    w = Window.partitionBy(*keys).orderBy("_t", "_x")
    # Window expressions cannot sit inside a generator: materialize
    # the max_lag lag() columns first (one Window node — identical
    # spec), then stack them with a row-local explode.
    shifted = base.select(
        *keys,
        "_x",
        *[F.lag("_x", k).over(w).alias(f"_l{k}") for k in range(1, max_lag + 1)],
    )
    lagged = shifted.select(
        *keys,
        "_x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        F.col(f"_l{k}").alias("_xl"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("_p"),
    ).select(*keys, "_x", F.col("_p.lag").alias("lag"), F.col("_p._xl").alias("_xl"))
    agg = lagged.groupBy(*keys, "lag").agg(
        F.count("_xl").alias("n_pairs"),
        F.corr("_x", "_xl").alias("_rawr"),
    )
    return agg.select(
        *keys,
        "lag",
        "n_pairs",
        round4(
            F.when(~F.isnan(F.col("_rawr")), F.col("_rawr"))
        ).alias("acf"),
    )


def seasonal_profile(
    df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Day-of-week seasonal decomposition of a daily-grain series —
    every input row plus (dow, dow_mean, residual, ratio): the
    per-(series, weekday) mean, the additive residual x − dow_mean,
    and the multiplicative ratio x / dow_mean. The missing piece
    between r44's anomaly z-score and r58's CUSUM: both fire on
    every weekend of a weekday-heavy metric until the weekly cycle
    is subtracted — monitor the RESIDUAL of this operator instead
    and the seasonal false-positive storm disappears (r57's trend
    fits the residual too, for deseasonalized drift).

    Shape: ONE window over (keys, dow) — an avg with an unbounded
    frame, group-partitioned (never global), grain-bounded skew —
    and row-local arithmetic after it; no join-back, no UDF. Pins:
    dow follows ISO-1=Monday..7=Sunday via dayofweek's documented
    1=Sunday convention shifted ((dayofweek + 5) % 7 + 1) so the
    oracle's isodow matches exactly; a dow_mean of 0 (all-zero
    weekday) yields NULL ratio, never an IEEE ±inf (the r44 pin);
    NULL timestamps or values pass through with NULL profile
    columns, never dropped.
    """
    # withColumn REPLACES an existing _dow silently (r10 class audit)
    _reject_working_cols(df, ("_dow",), "seasonal_profile")
    t = F.col(t_col)
    x = F.col(value_col).cast("double")
    dow = F.when(
        t.isNotNull(), ((F.dayofweek(t) + 5) % 7 + 1).cast("int")
    )
    w = Window.partitionBy(*keys, "_dow")
    base = df.withColumn("_dow", dow)
    mean = F.avg(F.when(F.col("_dow").isNotNull(), x)).over(w)
    prof_mean = F.when(t.isNotNull() & x.isNotNull(), mean)
    # Residual and ratio pivot on the ROUNDED mean — the same value
    # the dow_mean column emits — so the additive identity
    # dow_mean + residual == value holds at 4dp in the output itself
    # (the ols_two_factor rounded-pivot stance; code-review r8
    # finding: pivoting on the unrounded mean left the emitted
    # columns mutually inconsistent by up to 5e-5). The r69/r73
    # oracles apply the identical rounded pivot.
    pm4 = F.round(prof_mean, 4)
    return base.select(
        *keys,
        t_col,
        value_col,
        F.col("_dow").alias("dow"),
        pm4.alias("dow_mean"),
        round4(x - pm4).alias("residual"),
        F.round(
            F.when(pm4 != 0, x / pm4), 4
        ).alias("ratio"),
    )


def cadence_audit(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """Per-series arrival-cadence audit — ONE row per series:
    (keys…, n_obs, first_seen, last_seen, n_gaps, median_gap_s,
    p95_gap_s, max_gap_s) over the inter-arrival gaps in seconds.
    The data-freshness monitor every ingestion pipeline needs: a
    feed that silently halves its rate, develops a daily stall, or
    stops entirely shows up in the gap percentiles (and in last_seen
    against the caller's clock) long before a volume z-score fires —
    the arrival-time complement of r44/r58's volume monitors.
    Staleness POLICY stays with the caller (compare last_seen to the
    pipeline clock, or max_gap to k·median) — the audit reports, it
    doesn't decide, so one pass serves every threshold.

    Shape: one lag() window and one closing aggregate sharing ONE
    series-key exchange (keys ⊆ grouping — the TWA posture); gaps
    are exact-epoch double arithmetic (cast preserves micros); the
    gap percentiles are exact (the winsorize buffering trade,
    approx_percentile swap documented there). Pins: NULL timestamps
    are excluded up front (a NULL arrival has no cadence meaning);
    a single-observation series reports n_gaps 0 and NULL gap stats
    — never a crash or a fake zero gap; tied timestamps produce
    genuine 0-second gaps (duplicate delivery IS a cadence fact,
    not noise to dedup here).
    """
    t = F.col(ts_col)
    # the min/max legs keep the ORIGINAL timestamp (no
    # double-epoch round-trip — a tz seam across engines); the gap
    # arithmetic runs in the exact epoch-seconds double domain
    base = df.filter(t.isNotNull()).select(
        *keys, t.alias("_ts"), t.cast("double").alias("_t")
    )
    w = Window.partitionBy(*keys).orderBy("_t")
    gapped = base.select(
        *keys,
        "_ts",
        (F.col("_t") - F.lag("_t", 1).over(w)).alias("_gap"),
    )
    return gapped.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.min("_ts").alias("first_seen"),
        F.max("_ts").alias("last_seen"),
        F.count("_gap").alias("n_gaps"),
        F.round(F.percentile("_gap", F.lit(0.5)), 4).alias("median_gap_s"),
        F.round(F.percentile("_gap", F.lit(0.95)), 4).alias("p95_gap_s"),
        F.round(F.max("_gap"), 4).alias("max_gap_s"),
    )


def theil_sen_trend(
    df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series Theil–Sen robust line fit — (keys…, n_obs, n_pairs,
    sen_slope, sen_intercept): the MEDIAN of all pairwise slopes
    (x_j − x_i)/(t_j − t_i), t_i < t_j, and the median residual
    intercept median(x − slope·t). The robust twin of r57's OLS
    trend, exactly as mad_outliers twins r44: one wild day drags an
    OLS slope (squared loss), while the slope MEDIAN shrugs off up
    to ~29% contamination — the right fit for drift alarms over
    metrics that legitimately spike.

    Shape: a within-series self-join on the series keys builds the
    pair set — O(len²) rows PER SERIES, bounded by the time grain
    (a daily series is ≤366² ≈ 134k pairs regardless of corpus
    size — basketize's per-order bound argument), never corpus².
    Then one exact-percentile aggregate per series and a
    group-sized broadcast back for the intercept leg (the
    mad_outliers posture). The base relation is pinned behind a
    LAZY localCheckpoint so its lineage materializes ONCE for the
    three consuming legs (r11; previously three full scans).
    PROBED AND REJECTED (optimization r11, the guide-§1.1 loop): a
    grouped-map rewrite enumerating the pairs in numpy inside one
    applyInPandas — bitwise-identical results but 3× SLOWER
    end-to-end (5.1 s → 16.5 s at sf0.1): pair enumeration
    serializes onto one task per series at Python/numpy throughput,
    while the join form generates pairs through 32-way JVM codegen;
    tests/test_theil_sen.py::test_theil_sen_matches_join_formulation
    keeps the equivalence pin. Pins: NULL t/x rows are excluded; a
    single-observation series has no pairs and reports NULL
    slope/intercept (never a crash); EQUAL timestamps within a
    series are excluded pairwise (slope undefined at dt = 0 — the
    strict t_i < t_j join does this for free, and duplicate-t
    observations still count in n_obs).
    """
    t = F.col(t_col).cast("double")
    x = F.col(value_col).cast("double")
    base = df.filter(t.isNotNull() & x.isNotNull()).select(
        *keys, t.alias("_t"), x.alias("_x")
    )
    # Optimization r11: the base relation feeds THREE plan legs (both
    # pair-join sides + the intercept leg) — without a barrier the
    # optimizer expands its lineage three times and the input is
    # scanned/aggregated thrice. A LAZY localCheckpoint materializes
    # the (series·len-sized, i.e. small) base once inside the first
    # action and all legs read the pinned RDD (the m21 edge-pin
    # pattern). Lazy ⇒ nothing runs at construction; a fresh handle
    # per query invocation ⇒ no cross-run caching.
    base = base.localCheckpoint(eager=False)
    a, b = base.alias("a"), base.alias("b")
    cond = None
    for g in keys:
        c = F.col(f"a.{g}").eqNullSafe(F.col(f"b.{g}"))
        cond = c if cond is None else cond & c
    cond = cond & (F.col("a._t") < F.col("b._t"))
    slopes = a.join(b, cond).select(
        *[F.col(f"a.{g}") for g in keys],
        (
            (F.col("b._x") - F.col("a._x"))
            / (F.col("b._t") - F.col("a._t"))
        ).alias("_s"),
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
    # LEFT join: single-obs series have no pairs row and must still
    # report (n_obs, 0, NULL, NULL)
    joined = base.join(F.broadcast(med), jcond, "left").drop(
        *[f"_m_{g}" for g in keys]
    )
    return joined.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.coalesce(F.first("n_pairs"), F.lit(0)).alias("n_pairs"),
        round4(F.first("_slope")).alias("sen_slope"),
        round4(
            F.percentile(
                F.col("_x") - F.col("_slope") * F.col("_t"), F.lit(0.5)
            )
        ).alias("sen_intercept"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    start_col: str = "span_start",
    end_col: str = "span_end",
    bucket: str | None = None,
) -> DataFrame:
    """Interval×interval overlap join within a key: one row per
    overlapping (left, right) pair with the overlap boundaries —
    (keys…, a_start, a_end, b_start, b_end, overlap_start,
    overlap_end). Half-open [start, end) semantics: touching
    intervals (a.end == b.start) do NOT overlap — the complement of
    interval_merge's touching-counts-as-connected consolidation
    (merge glues, overlap measures). The concurrency primitive:
    simultaneous sessions, double-booked resources, conflicting
    maintenance windows.

    The naive plan is a key-equi join with a range predicate — fine
    when keys are selective, quadratic inside a hot key. `bucket`
    (e.g. "1 hour") is the 100 TB lever, the r08 trick extended to
    interval×interval: each side explodes to the coarse buckets its
    span COVERS (fan-out = span/bucket + 1, so the caller's bucket
    choice bounds it — a contract like r08's tolerance), the join
    adds bucket equality, and each surviving pair is CLAIMED by
    exactly one cell — the bucket containing max(a_start, b_start),
    i.e. the overlap's first instant, which both sides provably
    cover — so no distinct/dedup pass is needed and the result is
    exactly the unbucketed operator's (equivalence asserted in
    tests). Pins: NULL boundaries drop (the interval_merge stance);
    start ≥ end rows are empty intervals and drop with them (they
    can overlap nothing under half-open semantics).
    """
    from .relational import _bucket_seconds

    def prep(df: DataFrame, tag: str) -> DataFrame:
        s, e = F.col(start_col).cast("double"), F.col(end_col).cast("double")
        out = df.filter(
            s.isNotNull() & e.isNotNull() & (s < e)
        ).select(*keys, s.alias(f"{tag}_start"), e.alias(f"{tag}_end"))
        return out

    # only the keys survive prep's projection; a key named like a
    # working/output column would be shadowed or duplicated (r10 audit)
    for side in (left, right):
        _reject_working_cols(
            side.select(*keys),
            ("_bk", "a_start", "a_end", "b_start", "b_end",
             "overlap_start", "overlap_end"),
            "interval_overlap_join",
        )
    a = prep(left, "a")
    b = prep(right, "b")
    overlap = (F.col("a_start") < F.col("b_end")) & (
        F.col("b_start") < F.col("a_end")
    )
    if bucket is None:
        cond = None
        for g in keys:
            c = F.col(f"l.{g}") == F.col(f"r.{g}")
            cond = c if cond is None else cond & c
        joined = a.alias("l").join(b.alias("r"), cond & overlap)
        key_cols = [F.col(f"l.{g}").alias(g) for g in keys]
    else:
        secs = float(_bucket_seconds(bucket))

        def fan(df: DataFrame, tag: str) -> DataFrame:
            lo = F.floor(F.col(f"{tag}_start") / secs)
            # half-open end via EXACT arithmetic: the last covered
            # bucket is ceil(end/secs) - 1, so an interval ending on
            # a bucket boundary does not fan into the next bucket.
            # The previous (end - 1e-9) epsilon is below one double
            # ulp at epoch-second magnitudes (ulp ≈ 2e-7 at 1.7e9),
            # so the exclusion never actually fired — results stayed
            # correct only because overlap & claim re-filter, at the
            # cost of a wasted candidate row per boundary-ending
            # interval (code-review r8 finding). ceil also keeps
            # hi >= lo for any start < end — no descending sequence.
            hi = F.ceil(F.col(f"{tag}_end") / secs) - 1
            return df.withColumn("_bk", F.explode(F.sequence(lo, hi)))

        cond = F.col("l._bk") == F.col("r._bk")
        for g in keys:
            cond = cond & (F.col(f"l.{g}") == F.col(f"r.{g}"))
        # claim cell: the bucket holding the overlap's first instant
        claim = F.col("l._bk") == F.floor(
            F.greatest(F.col("a_start"), F.col("b_start")) / secs
        )
        joined = (
            fan(a, "a").alias("l")
            .join(fan(b, "b").alias("r"), cond & overlap & claim)
        )
        key_cols = [F.col(f"l.{g}").alias(g) for g in keys]
    return joined.select(
        *key_cols,
        "a_start",
        "a_end",
        "b_start",
        "b_end",
        F.greatest(F.col("a_start"), F.col("b_start")).alias(
            "overlap_start"
        ),
        F.least(F.col("a_end"), F.col("b_end")).alias("overlap_end"),
    )


def holt_linear(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.2,
    beta: float = 0.3,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Holt's linear (double exponential) smoothing per series — the
    trend-aware upgrade of ewma for monitoring dashboards and
    one-step forecasting baselines (ŷ_{t+1} = level_t + trend_t):

        level_1 = x_1,  trend_1 = x_2 − x_1
        level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}

    Returns the input's (keys, order_col, value_col) columns plus
    `level` and `trend` (double), one row per input row. A
    single-observation series has no trend evidence: its row emits
    level = x and trend = NULL (never 0.0 — a fabricated flat trend
    is a wrong forecast, not a safe default).

    The recurrence runs in ewma's seam (Arrow float64 block, series
    ordered by the seam on (order_col[, tiebreak_col]) with NULL order
    values last, duplicate order keys RAISE unless `tiebreak_col`
    disambiguates). Each Arrow batch makes one call to
    `recurrences.holt_step`, the kernel `holt_stream` also steps; the
    batch form then backfills each series' first trend with x₂ − x₁,
    which a stream cannot know when it emits row 1. Every step is the
    same two expressions in the same order as the recursive-CTE
    oracle's, and α/β are restricted to values whose complements
    round-trip exactly in float64 ((1−0.2) == 0.8 bitwise), so the
    arithmetic is bitwise the oracle's (the r52 parity stance). Scale
    posture: identical to ewma — one shuffle on the series key,
    per-series task memory, NO driver-side anything.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 < beta <= 1.0:
        raise ValueError(f"beta must be in (0, 1], got {beta}")
    # NULL values are EXCLUDED: the recurrence reads x[t] every step,
    # so one NULL would poison level AND trend for the rest of the
    # series — silent tail corruption, not a skipped point.
    base, sort_cols, schema = _double_series(
        df.filter(F.col(value_col).isNotNull()),
        keys, order_col, value_col, tiebreak_col, ["level", "trend"],
    )

    def fn(pdf: pd.DataFrame, gid: np.ndarray) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype="float64")
        state = fresh_state(gid, np.float64, np.float64, np.int64)
        level, trend = holt_step(state, x, gid, alpha, beta)
        lo = series_starts(gid)
        lo = lo[np.diff(lo, append=len(x)) > 1]
        trend[lo] = x[lo + 1] - x[lo]
        out = pdf.copy(deep=False)
        out["level"], out["trend"] = level, trend
        return out

    return _per_group_map_over_sorted_partitions(
        base, keys, sort_cols, fn, schema
    )


def gapfill_interpolate(
    df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    value_col: str,
    out_col: str = "filled",
) -> DataFrame:
    """Linear interpolation of NULL gaps per series — r43's zero-fill
    companion for GAUGE semantics, where a missing day means "not
    observed", not "zero": every NULL value between two observations
    is replaced by the straight line between them,

        filled = prev + (next − prev) · (t − t_prev)/(t_next − t_prev)

    while LEADING/TRAILING gaps (no neighbor on one side) stay NULL —
    extrapolation is a forecasting decision the caller must make
    explicitly, not a fill default. Observed rows pass through
    unchanged (cast to double). Returns the input plus `out_col`.

    Shape: two frame-bounded windows over ONE (keys, t)-sort — the
    backward pass (last non-NULL value/t at-or-before) and the
    forward pass (first non-NULL value/t at-or-after) share the same
    partitioning and ordering, so EnsureRequirements plans a single
    exchange; the arithmetic is row-local. `t_col` must be NUMERIC
    (days since epoch, epoch seconds — the caller picks the domain;
    cross-engine parity needs number arithmetic, not interval math)
    and UNIQUE per series (the dense-grid contract r43 produces; tied
    t would make "previous observation" ambiguous).

    Scale: windows are keyed by the series — no global window; the
    relation is grid-sized (cardinality × span), not corpus-sized.
    """
    # withColumn REPLACES an existing out_col silently (r10 sweep,
    # the 73e18de class)
    _reject_working_cols(df, (out_col,), "gapfill_interpolate")
    t = F.col(t_col).cast("double")
    v = F.col(value_col).cast("double")
    wb = (
        Window.partitionBy(*keys)
        .orderBy(F.col(t_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy(F.col(t_col).asc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    pv = F.last(v, ignorenulls=True).over(wb)
    pt = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(wb)
    nv = F.first(v, ignorenulls=True).over(wf)
    nt = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(wf)
    filled = (
        F.when(v.isNotNull(), v)
        .when(
            pv.isNotNull() & nv.isNotNull(),
            pv + (nv - pv) * (t - pt) / (nt - pt),
        )
    )
    return df.withColumn(out_col, filled)


def pit_trailing_features(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    fact_col: str,
    value_col: str | None = None,
    window: str = "7 days",
    carry: Sequence[str] = (),
) -> DataFrame:
    """Point-in-time trailing-window features — the feature-store
    primitive: for every FACT row (fact_col = true), aggregate the
    same key's NON-fact rows inside [t − window, t) — CLOSED at the
    lower bound (a touch exactly window-old still counts; the
    rangeBetween frame is (-win_us, -1) inclusive on both ends),
    half-open at the top:

        n_prior       — trailing event count
        sum_prior     — trailing sum of value_col (when given)
        last_gap_s    — seconds since the most recent prior event

    The strict UPPER bound is the leakage contract: the frame ends 1
    microsecond before the fact, so a same-instant signal can never
    leak into its own feature (training-serving skew pin); the fact
    rows themselves never count (a purchase is not a feature of
    itself even when other purchases precede it — only non-fact rows
    feed the aggregates).

    Shape: ONE keyed window pass — order by exact epoch-micros, a
    RANGE frame of window micros — no self-join, no fan-out: the
    classic range-join formulation duplicates every fact × its
    in-window touches before re-aggregating, this computes the same
    numbers in a single pass whose state is bounded by the frame.
    At 100 TB the shuffle is user-keyed (uniform), and the frame
    bound caps per-row state regardless of history length. NULL
    timestamps are excluded (no point in time to be AS OF).
    """
    win_us = duration_us(window, what="window")
    _reject_working_cols(df, ("_us",), "pit_trailing_features")
    t = F.col(ts_col)
    base = df.filter(t.isNotNull()).withColumn("_us", F.unix_micros(t))
    w = (
        Window.partitionBy(*keys)
        .orderBy("_us")
        .rangeBetween(-win_us, -1)
    )
    touch = ~F.col(fact_col)
    feats = [
        F.count(F.when(touch, 1)).over(w).cast("long").alias("n_prior"),
        F.round(
            (F.col("_us") - F.max(F.when(touch, F.col("_us"))).over(w))
            / F.lit(1_000_000.0),
            6,
        ).alias("last_gap_s"),
    ]
    if value_col is not None:
        feats.insert(
            1,
            round4(
                F.sum(
                    F.when(touch, F.col(value_col).cast("double"))
                ).over(w)
            ).alias("sum_prior"),
        )
    out = base.select(*keys, ts_col, *carry, F.col(fact_col).alias("_f"), *feats)
    return out.filter(F.col("_f")).drop("_f")


def ttl_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    ttl: str = "10 minutes",
    tiebreak_col: str | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Event-time TTL dedup — every input row plus `is_kept`: a row is
    kept iff its timestamp is at least `ttl` after the PREVIOUS KEPT
    row of the same key (greedy chain anchored at each key's first
    row). t04's dedup suppresses a key forever; this one re-admits it
    once the suppression window lapses — the at-most-once-per-TTL
    semantics of alert throttling, impression capping, and
    re-crawl-budget dedup (and the event-time contract behind
    Structured Streaming's dropDuplicatesWithinWatermark).

    WHY a grouped map: kept-ness is a CHAIN — whether row i is kept
    depends on which earlier rows were kept, not on any frame
    aggregate of them — so no window function expresses it (same
    argument as ewma's recurrence; the anchor update
    `a ← ts if ts ≥ a + ttl` has no prefix-sum closed form because
    the condition reads the anchor).

    The seam (`_per_group_map_over_sorted_partitions`) shuffles once on
    the key and orders each key's rows by (ts, tiebreak), NULL
    tiebreaks last; the body makes one call per Arrow batch to
    `recurrences.ttl_step`, the kernel `ttl_dedup_stream` also steps.
    Per-task state = one batch plus one series; nothing is carried
    between batches. A recursive-CTE oracle
    computes the identical chain (the r82/r28 stance; its `ORDER BY
    epoch_us(ts), event_id` also puts NULL tiebreaks last). Ordering:
    (ts, tiebreak) must be a total order per key — tied timestamps
    without a tiebreak, or with tiebreaks equal or both NULL, RAISE
    (the ewma contract; which tied row anchors the window is
    otherwise shuffle-order nondeterminism).
    """
    ttl_us = duration_us(ttl, what="ttl")
    # The tiebreak may already ride in keys/carry or BE the ts column:
    # selecting it twice would crash in the pandas worker.
    extra = (
        [tiebreak_col]
        if tiebreak_col and tiebreak_col not in (*keys, *carry, ts_col)
        else []
    )
    _reject_working_cols(
        df.select(*keys, *extra, *carry),
        ("_us", "is_kept"),
        "ttl_dedup",
    )
    base = df.filter(F.col(ts_col).isNotNull()).select(
        *keys,
        *extra,
        *carry,
        F.col(ts_col).alias(ts_col),
        F.unix_micros(F.col(ts_col)).alias("_us"),
    )
    schema = ST.StructType(
        list(base.schema.fields)
        + [ST.StructField("is_kept", ST.BooleanType())]
    )
    sort_cols = ["_us"] + (
        [tiebreak_col]
        if tiebreak_col and tiebreak_col != ts_col
        else []
    )

    def fn(pdf: pd.DataFrame, gid: np.ndarray) -> pd.DataFrame:
        state = fresh_state(gid, np.int64, bool)
        out = pdf.copy(deep=False)
        out["is_kept"] = ttl_step(state, pdf["_us"].to_numpy(), gid, ttl_us)
        return out

    return _per_group_map_over_sorted_partitions(
        base, keys, sort_cols, fn, schema
    ).drop("_us")


def holt_winters_additive(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.2,
    beta: float = 0.1,
    gamma: float = 0.3,
    period: int = 7,
) -> DataFrame:
    """Additive Holt–Winters (triple exponential) smoothing per series
    — r82's level+trend recurrence plus a rotating seasonal buffer
    (Hyndman & Athanasopoulos form, m = `period`):

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β) b_{t−1}
        s_t = γ(x_t − l_{t−1} − b_{t−1}) + (1−γ) s_{t−m}

    with the textbook init at t = m: l_m = mean(x_1..m),
    b_m = (mean(x_{m+1..2m}) − mean(x_1..m)) / m, s_i = x_i − l_m.
    Returns every input row plus (level, trend, seasonal, fitted):
    rows before the init block carry NULL state; `fitted` is the
    one-step-ahead forecast l_{t−1} + b_{t−1} + s_{t−m} (NULL at and
    before init) — the quantity a backtest (r89's shape) scores.
    Weekly-seasonal daily series are exactly what r52's EWMA and
    r82's Holt mis-track: both lag every weekend dip; the seasonal
    term absorbs it.

    Shape: the ewma/holt seam — ONE shuffle on the series keys, each
    series ordered by order_col (NULLs last) before the body sees it,
    series length bounded by the calendar grain. Each Arrow batch makes
    one call to `recurrences.holt_winters_init` and one to
    `holt_winters_step`, whose expressions follow EXACTLY the oracle's
    operation order (left-to-right sums for the init means, not numpy
    pairwise means), so a recursive CTE carrying the seasonal buffer
    as a LIST streams bitwise-identical float64 (the r82 stance).
    Series shorter than
    2m raise (the init needs two full seasons; a silent NULL would
    look like a flat model). Ties in order_col raise in the seam (the
    ewma contract).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    if not 0.0 <= gamma <= 1.0:
        raise ValueError(f"gamma must be in [0, 1], got {gamma}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    m = int(period)
    # NULL values are EXCLUDED: one NULL inside the first two seasons
    # would poison the init and the whole seasonal ring. Filtering
    # FIRST also makes the length check count usable rows.
    base, sort_cols, schema = _double_series(
        df.filter(F.col(value_col).isNotNull()),
        keys, order_col, value_col, None,
        ["level", "trend", "seasonal", "fitted"],
    )

    def fn(pdf: pd.DataFrame, gid: np.ndarray) -> pd.DataFrame:
        x = pdf[value_col].to_numpy(dtype="float64")
        starts = series_starts(gid)
        lens = np.diff(starts, append=len(x))
        if (lens < 2 * m).any():
            raise ValueError(
                f"holt_winters_additive: series has {lens.min()} rows; "
                f"init needs two full seasons (>= {2 * m})"
            )
        state = holt_winters_init(x, starts, m)
        out = np.full((4, len(x)), np.nan)
        out[:3, starts + m - 1] = state[0], state[1], state[2][:, m - 1]
        run = np.arange(len(x)) - starts[gid] >= m
        out[:, run] = holt_winters_step(
            state, x[run], gid[run], alpha, beta, gamma
        )
        res = pdf.copy(deep=False)
        res["level"], res["trend"], res["seasonal"], res["fitted"] = out
        return res

    return _per_group_map_over_sorted_partitions(
        base, keys, sort_cols, fn, schema
    )


def ols_two_factor(
    df: DataFrame,
    keys: Sequence[str],
    y_col: str,
    x1_col: str,
    x2_col: str,
) -> DataFrame:
    """Per-group ordinary least squares of y on TWO regressors plus an
    intercept — (keys…, n_obs, intercept, beta1, beta2, r2) — the
    multiple-regression step up from series_trend's single-regressor
    fit: "is revenue trending up AFTER controlling for the weekend
    dip" needs both terms in ONE model (fitting them separately
    attributes the shared variance twice).

    Numerics (the reason this isn't raw-moment Cramer's rule): normal
    equations on raw epoch-day regressors cancel catastrophically
    (Σt² ~ 1e8·n swamps the information-bearing digits). Both engines
    instead center every variable on its 4dp-ROUNDED group mean (the
    target_encode trick: rounding the pivot makes the centered sums
    bitwise-stable across engines, and centering on a constant shifts
    the intercept, never the betas), which reduces the system to a
    well-conditioned 2×2 solve:

        [S11 S12][b1]   [S1y]          intercept = ŷm − b1·x̄1 − b2·x̄2
        [S12 S22][b2] = [S2y],         (means at full precision via
                                        the rounded pivots + residual
                                        means of the centered columns)

    r² = 1 − SSE/SST with SSE = Syy − b1·S1y − b2·S2y on the centered
    sums. COLLINEAR regressors (det ≤ 1e-12·S11·S22 — Cauchy–Schwarz
    makes det ≥ 0, the relative floor is the r44-family zero guard)
    yield NULL betas/intercept/r2, and so does a CONSTANT regressor
    regardless of whether its mean round-trips at 4dp (the r10 sweep
    guard: Sii − sci²/n is the sum of squares about the TRUE mean —
    exactly zero for a constant — where the rounded-pivot Sii alone
    can be a nonzero eps² artifact that made det look fine and the
    beta pure rounding noise); a zero-variance y yields NULL r2.

    Shape: one group-keyed mean aggregate BROADCAST back (the
    mad_outliers posture — the corpus is never reshuffled on the
    group key), then ONE moment aggregate; everything after is
    group-cardinality sized.
    """
    y = F.col(y_col).cast("double")
    x1 = F.col(x1_col).cast("double")
    x2 = F.col(x2_col).cast("double")
    base = df.filter(
        y.isNotNull() & x1.isNotNull() & x2.isNotNull()
    ).select(*keys, y.alias("_y"), x1.alias("_x1"), x2.alias("_x2"))
    means = base.groupBy(*keys).agg(
        F.round(F.avg("_y"), 4).alias("_my"),
        F.round(F.avg("_x1"), 4).alias("_m1"),
        F.round(F.avg("_x2"), 4).alias("_m2"),
    )

    def _back(onto: DataFrame, dim: DataFrame) -> DataFrame:
        d = dim
        for g in keys:
            d = d.withColumnRenamed(g, f"_d_{g}")
        cond = None
        for g in keys:
            c = F.col(g).eqNullSafe(F.col(f"_d_{g}"))
            cond = c if cond is None else cond & c
        return onto.join(F.broadcast(d), cond).drop(
            *[f"_d_{g}" for g in keys]
        )

    c = _back(base, means).select(
        *keys,
        "_my", "_m1", "_m2",
        (F.col("_y") - F.col("_my")).alias("_yc"),
        (F.col("_x1") - F.col("_m1")).alias("_c1"),
        (F.col("_x2") - F.col("_m2")).alias("_c2"),
    )
    agg = c.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.first("_my").alias("_my"),
        F.first("_m1").alias("_m1"),
        F.first("_m2").alias("_m2"),
        F.sum(F.col("_c1") * F.col("_c1")).alias("_s11"),
        F.sum(F.col("_c2") * F.col("_c2")).alias("_s22"),
        F.sum(F.col("_c1") * F.col("_c2")).alias("_s12"),
        F.sum(F.col("_c1") * F.col("_yc")).alias("_s1y"),
        F.sum(F.col("_c2") * F.col("_yc")).alias("_s2y"),
        F.sum(F.col("_yc") * F.col("_yc")).alias("_syy"),
        F.sum("_yc").alias("_sy"),
        F.sum("_c1").alias("_sc1"),
        F.sum("_c2").alias("_sc2"),
    )
    det = F.col("_s11") * F.col("_s22") - F.col("_s12") * F.col("_s12")
    # ok requires (1) a well-conditioned 2x2 system AND (2) each
    # regressor's TRUE variance positive. The det test alone misses a
    # CONSTANT regressor whose group mean does not round-trip at 4dp
    # (r10 sweep, confirmed by execution): the rounded-pivot residual
    # is then a constant eps != 0, so S22 = n*eps^2 > 0 and the det
    # ratio looks fine — but the "fitted" beta2 is pure rounding
    # noise. S22 - sc2^2/n is the sum of squares about the TRUE mean
    # (exactly 0 for a constant), computed in the same operation
    # order as the oracle so the decision is bitwise cross-engine.
    n_obs = F.col("n_obs")
    v1 = F.col("_s11") - F.col("_sc1") * F.col("_sc1") / n_obs
    v2 = F.col("_s22") - F.col("_sc2") * F.col("_sc2") / n_obs
    ok = (
        (det > F.lit(1e-12) * F.col("_s11") * F.col("_s22"))
        & (v1 > F.lit(1e-12) * F.col("_s11"))
        & (v2 > F.lit(1e-12) * F.col("_s22"))
    )
    b1 = F.when(
        ok,
        (F.col("_s1y") * F.col("_s22") - F.col("_s12") * F.col("_s2y"))
        / det,
    )
    b2 = F.when(
        ok,
        (F.col("_s11") * F.col("_s2y") - F.col("_s1y") * F.col("_s12"))
        / det,
    )
    # full-precision means = rounded pivot + mean of the centered
    # residual column (sums of tiny residuals — no cancellation)
    my = F.col("_my") + F.col("_sy") / F.col("n_obs")
    m1 = F.col("_m1") + F.col("_sc1") / F.col("n_obs")
    m2 = F.col("_m2") + F.col("_sc2") / F.col("n_obs")
    intercept = my - b1 * m1 - b2 * m2
    sse = (
        F.col("_syy")
        - b1 * F.col("_s1y")
        - b2 * F.col("_s2y")
    )
    r2 = F.when(F.col("_syy") > 0, F.lit(1.0) - sse / F.col("_syy"))

    return agg.select(
        *keys,
        F.col("n_obs").cast("long").alias("n_obs"),
        round4(intercept).alias("intercept"),
        round4(b1).alias("beta1"),
        round4(b2).alias("beta2"),
        round4(r2).alias("r2"),
    )
