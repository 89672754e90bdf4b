"""Relational operators Spark lacks as single built-ins (SURVEY.md
§2.3 R8, R15). Everything else in the relational pack is a direct
DataFrame expression and lives in queries/relational_pack.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from ..functions.guards import reject_working_cols as _reject_working_cols
from ..functions.rounding import round4
from . import ckpt


_BUCKET_UNITS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
}


def _bucket_seconds(bucket: str) -> int:
    """Parse '1 hour' / '30 minutes' / '2 days' into seconds.

    The count must be a positive integer: zero would divide the
    bucket-id expression by 0 (NULL under the engine's non-ANSI conf —
    every join silently empty), negatives produce garbage buckets, and
    fractions aren't representable at the whole-unit granularity this
    API offers — all rejected loudly instead.
    """
    parts = bucket.strip().split()
    if (
        len(parts) != 2
        or not parts[0].isdigit()
        or int(parts[0]) < 1
        or parts[1].lower() not in _BUCKET_UNITS
    ):
        raise ValueError(
            "bucket must be '<positive integer> "
            "<second[s]|minute[s]|hour[s]|day[s]>' like '1 hour' / "
            f"'30 minutes', got {bucket!r}"
        )
    return int(parts[0]) * _BUCKET_UNITS[parts[1].lower()]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tolerance_expr: Column | None = None,
    right_cols: list[str] | None = None,
    bucket: str | None = None,
) -> DataFrame:
    """R8: as-of join — for each left row, the single nearest right row
    at or before (backward) / at or after (forward) its timestamp,
    within the same `on` key.

    Spark SQL has no native ASOF JOIN; the idiomatic composition is a
    range join + per-left-row rank-1 window. The range join shuffles
    both sides by `on` (plus AQE skew splitting); the window reuses the
    same partitioning, so the whole operator costs ONE shuffle of each
    input.

    `bucket` is the 100 TB lever: with a long-history right side, the
    plain key-equality join fans every left row out to the key's ENTIRE
    right history before the inequality filters it. Passing e.g.
    `bucket="1 hour"` adds a coarse time-bucket EQUI-key to the join
    condition — each right row is registered under its own bucket and
    the one adjacent bucket in the match direction, the left side joins
    on exact bucket equality, and the fan-out drops from |key history|
    to ~2 buckets of rows. Exactness requires a `tolerance_expr` that
    is ≤ the bucket width — a match is then at most one bucket away —
    so `bucket` without `tolerance_expr` raises, and the caller owns
    the ≤ guarantee (tolerance is an arbitrary Column with no static
    seconds value to check). Result set is IDENTICAL to the unbucketed
    operator under that precondition (equivalence asserted in tests on
    the fixture workload); the 2× right-side duplication is the
    standard price of turning a range probe into an equi-join.
    """
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    # Tolerance delta in SECONDS from EXACT integer micros, one
    # divide at the end: a double-cast timestamp at epoch ~1.7e9
    # carries ~2.4e-7 s of representation error, so a click exactly
    # tolerance-old could land on either side of the cut while an
    # exact-micros oracle always includes it (code-review r8; the
    # r62 pin). Integer micros < 2^53 subtract exactly; the single
    # divide is correctly rounded, matching epoch_us(a)-epoch_us(b)
    # oracle arithmetic bit-for-bit. Requires TIMESTAMP ts columns
    # (the bucket path's unix_timestamp already did).
    lus, rus = F.unix_micros(lt), F.unix_micros(rt)
    if direction == "backward":
        cond = rt <= lt
        delta = (lus - rus) / F.lit(1_000_000.0)
    elif direction == "forward":
        cond = rt >= lt
        delta = (rus - lus) / F.lit(1_000_000.0)
    else:
        raise ValueError(f"direction must be backward/forward, got {direction!r}")
    if tolerance_expr is not None:
        cond = cond & (delta <= tolerance_expr)

    # _bk exists only on the bucketed path (r10 review: rejecting an
    # unbucketed caller's _bk column would be a false positive)
    _reject_working_cols(
        left, ("_lid", "_rn") + (("_bk",) if bucket is not None else ()),
        "asof_join",
    )
    _reject_working_cols(
        right, ("_rn",) + (("_bk",) if bucket is not None else ()),
        "asof_join",
    )
    out_cols = list(left.columns)
    l = left.withColumn("_lid", F.monotonically_increasing_id())
    r = right
    # `is not None`, not truthiness: right_cols=[] is a legitimate
    # "attach no right columns, just rank-filter" request and must not
    # silently fall back to every column.
    keep = (
        right_cols
        if right_cols is not None
        else [c for c in right.columns if c != on]
    )
    if bucket is not None:
        if tolerance_expr is None:
            raise ValueError(
                "asof_join: bucket requires tolerance_expr <= bucket width "
                "(an unbounded as-of can match arbitrarily far back, which "
                "no finite bucket neighborhood covers)"
            )
        secs = _bucket_seconds(bucket)
        l = l.withColumn(
            "_bk", F.floor(F.unix_timestamp(F.col(left_ts)) / secs)
        )
        rb = F.floor(F.unix_timestamp(F.col(right_ts)) / secs)
        # Register each right row under its own bucket plus the one
        # adjacent bucket a within-tolerance match could reach:
        # backward ⇒ a left row in bucket k matches rights in k-1..k,
        # so rights also enroll at rb+1; forward ⇒ at rb-1.
        neighbor = rb + (1 if direction == "backward" else -1)
        r = r.withColumn("_bk", F.explode(F.array(rb, neighbor)))
    l, r = l.alias("l"), r.alias("r")
    join_cond = (F.col(f"l.{on}") == F.col(f"r.{on}")) & cond
    if bucket is not None:
        join_cond = join_cond & (F.col("l._bk") == F.col("r._bk"))
    joined = l.join(r, join_cond, "left")
    # Tiebreak beyond delta: right rows can share a timestamp (equal
    # delta), so order further by the kept right columns — without this
    # the rank-1 pick is nondeterministic on ties.
    # The window is partitioned by the JOIN keys plus _lid, not _lid
    # alone: the join's output already hash-partitions on its equi
    # keys, and HashPartitioning(keys) satisfies ClusteredDistribution
    # (keys + _lid) — with only _lid, EnsureRequirements would insert
    # a SECOND full exchange of the fanned-out join output (the
    # largest relation in the plan), breaking the documented
    # one-shuffle-per-input cost. Grouping is unchanged: _lid is
    # unique, so each partition key still identifies one left row.
    win_keys = [F.col(f"l.{on}")]
    if bucket is not None:
        win_keys.append(F.col("l._bk"))
    win_keys.append(F.col("l._lid"))
    w = Window.partitionBy(*win_keys).orderBy(
        delta.asc_nulls_last(), *[F.col(f"r.{c}") for c in keep]
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *[F.col(f"l.{c}") for c in out_cols],
            *[F.col(f"r.{c}").alias(f"asof_{c}") for c in keep],
        )
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
) -> DataFrame:
    """R15: deterministic top-k per group. Callers must include a
    unique tiebreak column in `order_by` for oracle-stable output.
    Single shuffle on the group cols; rank prune happens map-side
    post-shuffle (WindowExec), no second pass."""
    _reject_working_cols(df, ("_rn",), "top_k_per_group")
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def global_row_number(
    df: DataFrame,
    order_exprs: list[Column],
    rank_col: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed total-order ranking: exact global row_number()
    WITHOUT the single-partition window.

    `row_number() OVER (ORDER BY ...)` in Spark collapses the whole
    relation into ONE WindowExec partition — the canonical scale
    cliff for global ranking. The classic two-phase fix:

      1. range-shuffle on the order keys (`repartitionByRange`), so
         partition i holds rows strictly before partition i+1, then
         sort WITHIN partitions (partition-local, no exchange);
      2. assign `monotonically_increasing_id()` over the sorted rows —
         its layout is (partitionId << 33) | rowIndex, so BOTH the
         partition id and the local 1-based rank fall out of one
         column with shift arithmetic, no window over the data at all
         (a Window.partitionBy(_pid) would demand hash clustering on
         _pid, which range partitioning does not satisfy — Spark
         would silently re-shuffle the ENTIRE relation a second
         time);
      3. count rows per partition (partial-agg to ≤P rows per task,
         tiny exchange) and prefix-sum into per-partition offsets
         (a window over P rows, not N);
      4. broadcast-join the offsets back: global rank = local index
         + offset, fully parallel.

    So the full-data cost is exactly one range exchange plus one
    in-partition sort — the same work a global sort would do — and
    the relation is never funneled through one task nor shuffled
    twice. Determinism across the plan's two uses of the shuffled
    leg needs BOTH of these: the within-partition sort is total
    because `order_exprs` must include a unique tiebreak column, and
    the range exchange is planned once and reused (ReusedExchange,
    asserted in tests/test_plans.py). Spark reuses it only when the
    count leg reads the same columns as the rank leg, i.e. when every
    input column is an order key: otherwise the count leg prunes the
    rest, gets its own range exchange, samples its own range bounds,
    and the offsets stop matching the local ranks. Per-partition row
    counts are capped at 2^33 by the id layout (~8.6 B rows per
    partition — size num_partitions so partitions stay far under
    that, which memory demands anyway).
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    _reject_working_cols(
        df, ("_mid", "_pid", "_cnt", "_offset", rank_col),
        "global_row_number",
    )
    part = (
        df.repartitionByRange(num_partitions, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright(F.col("_mid"), 33).cast("int"))
    )
    counts = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_offset"),
    )
    local_rank = F.col("_mid") - F.shiftleft(
        F.col("_pid").cast("long"), 33
    ) + 1
    return (
        part.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (local_rank + F.col("_offset")).cast("long"))
        .drop("_pid", "_mid", "_offset")
    )


def pareto_frontier_2d(
    df: DataFrame,
    key_cols: list[str],
    min_col: str,
    max_col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Exact 2-D skyline (Pareto frontier) per key group: the rows
    not dominated by any other row in the same group, where A
    dominates B iff A.min_col <= B.min_col AND A.max_col >= B.max_col
    with at least one inequality strict (identical points never
    dominate each other, so duplicates on the frontier all survive).

    Scale shape — NO global window and NO self-join, via a two-level
    distributed prefix-max:

      1. collapse to the (key, min_col) -> max(max_col) relation
         (one hash agg with map-side partials; output is the
         distinct-value domain of min_col per group, not the row
         count);
      2. bucket min_col's domain into `n_buckets` equi-width ranges
         (bounds from a single 2-value scalar agg — a driver-side
         SCALAR fetch, never a data path);
      3. strict-prefix max WITHIN each (key, bucket) — a window
         partitioned by (key, bucket), every partition bounded by
         the per-bucket value-domain slice;
      4. strict-prefix max ACROSS buckets — a window over the
         per-(key, bucket) maxima, i.e. at most n_buckets rows per
         key, the same "window over P rows, not N" shape as
         global_row_number's offset pass — broadcast-joined back;
      5. a value survives iff its group-max exceeds BOTH prefixes;
         surviving (key, value, group-max) triples — frontier-sized,
         tiny — broadcast-join back to the input to recover full
         rows.

    The naive formulations this replaces: a NOT EXISTS self-join is
    O(n^2) per group, and `max() OVER (ORDER BY min_col)` funnels
    each group through one WindowExec partition (the r26 cliff).
    The oracle twin (r49) IS the NOT EXISTS form, certifying this
    plan against the textbook dominance definition at sf0.01.
    """
    _reject_working_cols(
        df,
        ("_gmax", "_bkt", "_bmax", "_prev_bmax", "_prev_in", "_fmin")
        + tuple(f"_fk_{k}" for k in key_cols),
        "pareto_frontier_2d",
    )
    # Rows with a NULL coordinate are EXCLUDED up front: dominance is
    # undefined against NULL, and without the filter a NULL min_col
    # lands in the last bucket via F.least's null-skip, sorts FIRST in
    # the within-bucket window, and its _gmax wrongly dominates
    # genuine frontier rows while the NULL row itself vanishes in the
    # non-null-safe join-back — silently dropping real frontier
    # members (code-review r8 finding; the interval_merge
    # documented-drop stance). NaN coordinates are excluded with the
    # NULLs (hardening (d), the mad_outliers sibling exclusion):
    # dominance against NaN is equally undefined, NaN min_col
    # NaN-poisons its bucket arithmetic, and a NaN max_col sorts
    # GREATEST so its _gmax would wrongly dominate every real row.
    def _clean(c: str) -> Column:
        col = F.col(c)
        keep = col.isNotNull()
        if isinstance(df.schema[c].dataType, (DoubleType, FloatType)):
            keep = keep & ~F.isnan(col)
        return keep

    df = df.filter(_clean(min_col) & _clean(max_col))
    neg_inf = F.lit(float("-inf"))
    bounds = df.agg(
        F.min(min_col).alias("lo"), F.max(min_col).alias("hi")
    ).first()
    if bounds is None or bounds["lo"] is None:
        return df  # empty input: the frontier of nothing is nothing
    lo, hi = float(bounds["lo"]), float(bounds["hi"])
    width = (hi - lo) / n_buckets or 1.0
    bucket = F.least(
        F.floor((F.col(min_col) - F.lit(lo)) / F.lit(width)),
        F.lit(n_buckets - 1),
    ).cast("int")

    # Optimization r11 (guide §2.4): per_value feeds TWO legs (the
    # across-bucket prefix and the within-bucket window) — unpinned,
    # the corpus aggregate planned twice (the r49 plan held the part
    # scan + hash agg once per leg). The relation is the distinct
    # value domain of min_col per group — far smaller than the input
    # — so a lazy localCheckpoint materializes it once; both legs
    # read the pinned RDD. Lazy ⇒ nothing runs at construction;
    # fresh per invocation ⇒ no cross-run caching.
    per_value = (
        df.groupBy(*key_cols, min_col)
        .agg(F.max(max_col).alias("_gmax"))
        .withColumn("_bkt", bucket)
        .localCheckpoint(eager=False)
    )
    w_in = (
        Window.partitionBy(*key_cols, "_bkt")
        .orderBy(min_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_across = (
        Window.partitionBy(*key_cols)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_prefix = (
        per_value.groupBy(*key_cols, "_bkt")
        .agg(F.max("_gmax").alias("_bmax"))
        .select(
            *key_cols,
            "_bkt",
            F.coalesce(F.max("_bmax").over(w_across), neg_inf).alias(
                "_prev_bmax"
            ),
        )
    )
    # Rename every frontier column before the join-back: frontier_vals
    # derives FROM df, so joining on df[c] == frontier_vals[c] would
    # pit two attributes with the same expression id against each
    # other — the self-join ambiguity class that bit
    # embedding_neardup_pairs (see tests/test_empty_inputs.py notes).
    frontier_vals = (
        per_value.withColumn(
            "_prev_in", F.coalesce(F.max("_gmax").over(w_in), neg_inf)
        )
        .join(F.broadcast(bucket_prefix), [*key_cols, "_bkt"])
        .filter(
            F.col("_gmax") > F.greatest(F.col("_prev_in"), F.col("_prev_bmax"))
        )
        .select(
            *[F.col(k).alias(f"_fk_{k}") for k in key_cols],
            F.col(min_col).alias("_fmin"),
            "_gmax",
        )
    )
    cond = [df[min_col] == F.col("_fmin"), df[max_col] == F.col("_gmax")]
    cond += [df[k].eqNullSafe(F.col(f"_fk_{k}")) for k in key_cols]
    return df.join(F.broadcast(frontier_vals), cond).select(df["*"])


def scd2_versions(
    df: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a keyed change
    log: collapse consecutive rows whose tracked attributes are
    unchanged, emitting one row per VERSION with
    `valid_from` (the version's first timestamp), `valid_to` (the
    next version's start — half-open [from, to) interval, NULL while
    current) and `is_current`. The CDC companion to r37's snapshot
    diff: that one compares two STATES, this one compacts a full
    change STREAM into queryable validity intervals (the "dimension
    table build" step of a warehouse load).

    Semantics: a row STARTS a version iff any attr differs null-safely
    from the key's previous row in (ts, tiebreak) order — duplicates
    of the current state are absorbed, a value that flips A→B→A
    yields three versions (history, not distinct-states).
    `tiebreak_col` must make the per-key order total or version
    boundaries are nondeterministic (same contract as every ranked
    operator here).

    Scale shape: two window passes, BOTH partitioned by the key —
    lag-based change detection over the raw log, lead-based interval
    closing over the (much smaller) version rows — and the second
    window's relation arrives already hash-clustered by key, so the
    whole operator costs ONE shuffle of the log plus one
    versions-sized exchange. No joins, no global window.
    """
    # withColumn REPLACES an existing column silently (hardening
    # (h) follow-through, r10 class audit)
    _reject_working_cols(df, ("_new_version",), "scd2_versions")
    order = [F.col(ts_col).asc(), F.col(tiebreak_col).asc()]
    w_log = Window.partitionBy(*key_cols).orderBy(*order)
    changed = F.lit(False)
    for a in attr_cols:
        prev = F.lag(F.col(a)).over(w_log)
        changed = changed | ~F.col(a).eqNullSafe(prev)
    # lag over the FIRST row of a key yields NULL for every attr; a
    # genuinely-NULL first attr would then look unchanged (NULL <=>
    # NULL), so anchor the first row explicitly — by POSITION, not
    # by lag(tiebreak).isNull(): a NULL tiebreak VALUE mid-log made
    # the FOLLOWING row look first and opened a phantom version
    # boundary for an attribute that never changed (code-review r9).
    # row_number rides the same window spec — no extra exchange.
    first = F.row_number().over(w_log) == 1
    versions = df.withColumn("_new_version", first | changed).filter(
        F.col("_new_version")
    )
    w_ver = Window.partitionBy(*key_cols).orderBy(*order)
    valid_to = F.lead(F.col(ts_col)).over(w_ver)
    return versions.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        F.col(tiebreak_col).alias("version_id"),
    )


def binned_quantile_rollup(
    df: DataFrame,
    groups: list[str],
    value_col: str,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 200,
    partial_grain: list[str] | None = None,
) -> DataFrame:
    """MERGEABLE quantile estimation via fixed-width histogram
    sketches — the quantile companion to r48's two-level HLL rollup.
    Spark's `percentile_approx` sketch has no re-aggregatable
    intermediate on the public surface, so a stored daily sketch
    cannot roll up to monthly quantiles; fixed-bin histograms merge
    by construction (bin counts ADD), at the price of a bounded,
    known error: the estimate lies inside the bin containing the
    ⌈q·n⌉-th smallest value, so it is within one bin width
    (hi−lo)/n_bins of that ORDER STATISTIC. (Against an
    interpolated-quantile definition like quantile_cont the gap can
    exceed a bin width when the data is sparse around the quantile —
    the <1-rank definitional difference can cross an arbitrarily
    wide value gap; on dense groups the two coincide to within a bin
    width, asserted in tests/test_histogram_rollup.py.)

    Returns (groups…, q, n_rows, est) per requested quantile, where

        est = lo + w · (bin + (q·n − cum_below) / cnt_bin)

    — the first bin whose cumulative count reaches q·n, linearly
    interpolated. Each q must be in (0, 1] (q = 0 has no crossing
    bin — the row would silently vanish, so it is rejected up
    front). Values are clamped into [lo, hi] (an out-of-range value
    lands in the first/last bin; pick bounds from domain knowledge
    or a prior min/max pass); NULL **and NaN** values are excluded —
    floor(NaN) casts to bin 0 in Spark, which would count phantom
    observations at `lo` (review r5, confirmed by execution). All
    arithmetic is plain
    float64 in a fixed written order, so a SQL twin evaluating the
    same expressions hash-matches exactly — no cross-engine sketch
    internals to align (the reason this is oracle-able and
    percentile_approx is rows-only).

    Shape: one corpus-sized hash aggregate to (groups, partial_grain,
    bin) — the PARTIAL level a pipeline would persist per day/file —
    then the MERGE aggregate to (groups, bin) (at scale this second
    step reads stored sketch rows, not the corpus), a per-group
    cumulative window over ≤ n_bins rows (bounded partitions, never
    a global window), and a broadcast join against the |qs|-row
    literal relation. Corpus is scanned once; everything after is
    sketch-sized (|groups| × n_bins).
    """
    bad = [q for q in qs if not 0.0 < q <= 1.0]
    if bad:
        raise ValueError(f"qs must be in (0, 1], got {bad}")
    # Hardening (e), r9 relational sweep: lo >= hi makes the bin
    # width zero/negative (every value divides to ±inf/NaN and
    # clamps to one bin — a silently useless sketch), and n_bins < 1
    # divides by zero at width computation. Name the misuse instead.
    if not lo < hi:
        raise ValueError(
            f"binned_quantile_rollup: need lo < hi, got [{lo}, {hi}]"
        )
    if n_bins < 1:
        raise ValueError(
            f"binned_quantile_rollup: n_bins must be >= 1, got {n_bins}"
        )
    _reject_working_cols(
        df.select(*groups, *(partial_grain or [])),
        ("bin", "cnt", "cum", "_cum_below", "n_rows", "q"),
        "binned_quantile_rollup",
    )
    w = (hi - lo) / n_bins
    binc = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)).cast("long"),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    keep = F.col(value_col).isNotNull()
    if isinstance(df.schema[value_col].dataType, (DoubleType, FloatType)):
        keep = keep & ~F.isnan(F.col(value_col))
    partial = (
        df.filter(keep)
        .groupBy(*groups, *(partial_grain or []), binc.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = partial.groupBy(*groups, "bin").agg(
        F.sum("cnt").alias("cnt")
    )
    win = Window.partitionBy(*groups).orderBy("bin")
    cum = merged.select(
        *groups,
        "bin",
        "cnt",
        F.sum("cnt").over(win).alias("cum"),
        F.sum("cnt")
        .over(win.rowsBetween(Window.unboundedPreceding, -1))
        .alias("_cum_below"),
        F.sum("cnt").over(Window.partitionBy(*groups)).alias("n_rows"),
    ).withColumn("_cum_below", F.coalesce(F.col("_cum_below"), F.lit(0)))
    qdf = df.sparkSession.createDataFrame([(q,) for q in qs], "q double")
    target = F.col("q") * F.col("n_rows")
    return (
        cum.crossJoin(F.broadcast(qdf))
        .filter((F.col("cum") >= target) & (F.col("_cum_below") < target))
        .select(
            *groups,
            "q",
            "n_rows",
            # round4 pins -0.0 (hardening (f)): a negative-domain
            # grid can interpolate an estimate to signed zero.
            round4(
                F.lit(lo)
                + F.lit(w)
                * (
                    F.col("bin")
                    + (target - F.col("_cum_below")) / F.col("cnt")
                )
            ).alias("est"),
        )
    )


def _group_back(
    onto: DataFrame, dim: DataFrame, groups: list[str]
) -> DataFrame:
    """Null-safe broadcast join-back of a group-dimension relation
    onto a corpus-grain relation — the winsorize/mad join-back,
    hoisted to module level (hardening (g), r9 relational sweep:
    winsorized_stats carried an inline copy of mad_outliers' closure).
    NULL group values join null-safely so NULL-group rows clamp and
    count instead of vanishing through a NULL != NULL equi-join
    (review r5). `dim` must be group-cardinality sized — it is
    broadcast."""
    for g in groups:
        dim = dim.withColumnRenamed(g, f"_d_{g}")
    cond = None
    for g in groups:
        c = F.col(g).eqNullSafe(F.col(f"_d_{g}"))
        cond = c if cond is None else cond & c
    return onto.join(F.broadcast(dim), cond).drop(
        *[f"_d_{g}" for g in groups]
    )


def winsorized_stats(
    df: DataFrame,
    groups: list[str],
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorized summary — (groups…, n_obs, lo_val, hi_val,
    win_mean): the [p_lo, p_hi] exact percentile bounds and the mean
    with every value CLAMPED into them. The robust-mean alternative
    to dropping outliers: heavy tails stop dominating the mean but
    every row still counts once (no silent row loss to explain in a
    reconciliation).

    Two-aggregate shape: (1) one exact-percentile aggregate per group
    — Spark's `percentile` is the same (n−1)·p linear interpolation
    as SQL `quantile_cont`, which is what makes this hash-oracle-able
    cross-engine; (2) the bounds relation (|groups| rows) BROADCASTS
    back onto the corpus for the clamped mean — group-cardinality
    sized, never corpus sized. The exact percentile buffers each
    group's values in its aggregate state, the documented r10-family
    trade: at 100 TB with huge groups, swap leg (1) to
    approx_percentile (same plan shape, bounded state, loses the
    exact-hash oracle) — the clamp/mean leg is unchanged. NULLs are
    excluded from both legs (percentile and avg both skip them;
    made explicit with a filter so n_obs counts exactly the rows
    the mean saw). A NULL group VALUE is a group like any other —
    the bounds join back is null-safe, so NULL-group rows clamp and
    count instead of vanishing through a NULL != NULL equi-join
    (review r5, confirmed by execution).
    """
    if not 0.0 <= p_lo < p_hi <= 1.0:
        raise ValueError(f"need 0 <= p_lo < p_hi <= 1, got {p_lo}, {p_hi}")
    # guard scoped to the GROUP columns (r10 review): everything else
    # is projected away before any working name exists, so a non-group
    # lo_val (e.g. a previous pass's output joined back) is legal
    _reject_working_cols(
        df.select(*groups),
        ("_v", "lo_val", "hi_val") + tuple(f"_d_{g}" for g in groups),
        "winsorized_stats",
    )
    v = F.col(value_col).cast("double")
    # NaN excluded with NULL (hardening (d), the mad_outliers sibling
    # exclusion): NaN passes isNotNull but sorts above all reals, so
    # one NaN would drag hi_val to NaN and poison win_mean through
    # the clamp.
    base = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        *groups, v.alias("_v")
    )
    bounds = base.groupBy(*groups).agg(
        F.percentile("_v", F.lit(p_lo)).alias("lo_val"),
        F.percentile("_v", F.lit(p_hi)).alias("hi_val"),
    )
    clamped = F.least(F.greatest(F.col("_v"), F.col("lo_val")), F.col("hi_val"))
    # round4 pins -0.0 on the signed outputs (hardening (f)): a
    # negative-domain measure can round a bound or the clamped mean
    # to signed zero differently per engine (the l43 class).
    return (
        _group_back(base, bounds, groups)
        .groupBy(*groups)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            round4(F.first("lo_val")).alias("lo_val"),
            round4(F.first("hi_val")).alias("hi_val"),
            round4(F.avg(clamped)).alias("win_mean"),
        )
    )


def referential_orphan_audit(
    specs: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key integrity audit across table pairs: for each
    (name, child, child_key, parent, parent_key) spec, one row
    (relationship, n_child, n_orphans, orphan_rate) counting child
    rows whose key matches NO parent — the first thing a pipeline
    intake checks and the thing a silent upstream truncation breaks.
    NULL child keys count as orphans (a row that cannot join its
    parent is broken regardless of why); parent keys are
    de-duplicated so a non-PK parent column can't multiply counts.

    Shape per spec: one equi-key LEFT join of child keys against the
    distinct parent keys (broadcast when the parent side is small,
    shuffle otherwise — Catalyst/AQE's call), then a 1-row map-side-
    partial aggregate; the union of specs is a union of 1-row
    relations. Never a crossJoin, never a collect.
    """
    if not specs:
        raise ValueError(
            "referential_orphan_audit: empty specs list — a "
            "dynamically-built audit that filtered to zero FK pairs "
            "should skip the call, not request an audit of nothing"
        )
    legs = []
    for name, child, child_key, parent, parent_key in specs:
        pk = (
            parent.select(F.col(parent_key).alias("_pk"))
            .filter(F.col("_pk").isNotNull())
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        leg = (
            child.select(F.col(child_key).alias("_ck"))
            .join(pk, F.col("_ck") == F.col("_pk"), "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                # sum over zero rows is NULL — an EMPTY child table
                # has 0 orphans, not NULL orphans (and a NULL rate,
                # not a 0/0).
                F.coalesce(
                    F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)),
                    F.lit(0),
                ).alias("n_orphans"),
            )
            .select(
                F.lit(name).alias("relationship"),
                "n_child",
                "n_orphans",
                F.when(
                    F.col("n_child") > 0,
                    F.round(F.col("n_orphans") / F.col("n_child"), 4),
                ).alias("orphan_rate"),
            )
        )
        legs.append(leg)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def cdc_apply(
    changes: DataFrame,
    keys: list[str],
    seq_cols: list[str],
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """Materialize the CURRENT snapshot from a CDC change feed by
    last-writer-wins: for each key, keep the change with the highest
    (seq_cols…) position; if that final change is a delete, the key
    is absent from the snapshot. The batch half of every
    upsert-stream → table pipeline (Debezium-style feeds, the MERGE
    r32 applies incrementally — this one replays a whole log).

    Returns the winning rows with all input columns (op included, so
    a caller can audit which op produced each surviving row).

    Contract: (keys…, seq_cols…) must uniquely identify a change —
    true of any real CDC log (LSN/offset) — otherwise last-writer is
    ambiguous; rows with a NULL seq component are dropped up front
    (a change that cannot be ordered cannot be applied; same
    documented-drop stance as interval_merge's NULL boundaries).

    Shape: ONE shuffle — a row_number window partitioned by the key
    ordered by seq DESC, filtered to rn = 1 and op != delete_op. No
    self-join against a "latest seq" aggregate (the two-pass form
    pays a second exchange and a join for nothing).

    A winning change with a NULL op is kept, not deleted: only an
    EXPLICIT delete_op tombstones a key (a plain `op != 'D'` filter
    would silently drop NULL-op winners — NULL != 'D' is NULL — so
    the comparison is null-safe; review r5, confirmed by execution).
    The op column rides through, so unclassifiable survivors are
    visible to the caller.
    """
    # a user _rn column would be silently REPLACED by the rank and
    # then dropped from the snapshot (r10 class audit)
    _reject_working_cols(changes, ("_rn",), "cdc_apply")
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in seq_cols]
    )
    keep = F.lit(True)
    for c in seq_cols:
        keep = keep & F.col(c).isNotNull()
    return (
        changes.filter(keep)
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            & ~F.col(op_col).eqNullSafe(F.lit(delete_op))
        )
        .drop("_rn")
    )


def topn_with_others(
    df: DataFrame,
    group_col: str,
    measure: Column,
    n: int,
    others_label: str = "OTHER",
    label_col: str = "label",
    measure_col: str = "total",
) -> DataFrame:
    """The BI staple "top-N categories + an OTHER bucket": aggregate
    `measure` per `group_col`, keep the N largest contributors as
    named rows, and collapse the tail into one `others_label` row so
    the report always has ≤ N+1 rows and the parts still sum to the
    grand total (the invariant dashboards reconcile against; a plain
    top-N silently drops the tail mass). Ties at the boundary break
    by group value ascending — a total order, so the N cut is
    deterministic and cross-engine stable. The output carries an
    `is_other` flag AND groups by it, so a real category that
    happens to be named `others_label` can never be silently merged
    with the tail bucket (review r5, confirmed by execution — the
    flag, not the label, is the bucket identity).

    Shape: one partial/final hash aggregate to category cardinality,
    then the rank and the OTHER re-aggregate run on the
    |categories|-sized relation — the corpus is scanned ONCE and
    everything after is dimension-sized. No global sort: the rank
    window orders the aggregate relation, not the corpus.
    """
    # Parameter-collision guard (hardening (h)): input columns never
    # survive the first aggregate here, so the collision surface is
    # the OUTPUT names — label/measure colliding with each other or
    # with the internal rank / is_other columns.
    if (
        label_col == measure_col
        or {label_col, measure_col} & {"_rn", "is_other"}
    ):
        raise ValueError(
            f"topn_with_others: label_col={label_col!r} / "
            f"measure_col={measure_col!r} collide with each other or "
            f"with the internal ('_rn', 'is_other') columns"
        )
    agg = df.groupBy(F.col(group_col).alias(label_col)).agg(
        measure.alias(measure_col)
    )
    w = Window.orderBy(F.desc(measure_col), F.asc(label_col))
    ranked = agg.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.select(
            F.when(F.col("_rn") <= n, F.col(label_col))
            .otherwise(F.lit(others_label))
            .alias(label_col),
            (F.col("_rn") > n).alias("is_other"),
            F.col(measure_col),
        )
        .groupBy(label_col, "is_other")
        # round4 pins -0.0 (hardening (f)): a signed measure (net
        # revenue with refunds) can sum a bucket to signed zero.
        .agg(round4(F.sum(measure_col)).alias(measure_col))
    )


def abc_classification(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    measure: Column,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """ABC / Pareto contribution analysis per group: items are ranked
    by contribution within their group; an item is class A while the
    RUNNING share (including itself) is ≤ `a_cut`, B until `b_cut`,
    else C — "which 20% of parts carry 80% of revenue". Returns
    (groups…, item, total, share, cum_share, abc_class). The first
    item of a group is always A even when it alone exceeds a_cut
    (the class of the item that CROSSES the boundary is the classic
    ambiguity; this operator pins crosses-boundary → the higher
    class via strict ordering on the PREVIOUS row's cumulative —
    i.e. class is decided by cum_share_before < cut — documented so
    the oracle can mirror it exactly).

    Shape: one corpus aggregate to (group, item) grain, then ONE
    window partitioned by the group over the aggregate relation (no
    global window, no second corpus pass); share arithmetic is
    dimension-sized.

    A group whose grand total is exactly 0 (a net-zero measure —
    returns offsetting sales) has NO contribution structure: shares
    and classes come back NULL rather than every item silently
    classing 'C' through a NULL-comparison fall-through, and the
    guarded division never runs under ANSI mode (review r5,
    confirmed by execution).
    """
    _reject_working_cols(
        df.select(*group_cols),
        ("item", "total", "share", "cum_share", "abc_class"),
        "abc_classification",
    )
    agg = df.groupBy(*group_cols, F.col(item_col).alias("item")).agg(
        measure.alias("total")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("total"), F.asc("item")
    )
    cum_before = F.coalesce(
        F.sum("total").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0.0),
    )
    grand = F.sum("total").over(
        Window.partitionBy(*group_cols).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    nz = grand != 0
    share_before = F.when(nz, cum_before / grand)
    # round4 pins -0.0 (hardening (f)): signed measures (net revenue
    # with returns) can round a total or share to signed zero.
    return agg.select(
        *group_cols,
        "item",
        round4(F.col("total")).alias("total"),
        round4(F.when(nz, F.col("total") / grand)).alias("share"),
        round4(
            F.when(nz, (cum_before + F.col("total")) / grand)
        ).alias("cum_share"),
        F.when(share_before < a_cut, F.lit("A"))
        .when(share_before < b_cut, F.lit("B"))
        .when(share_before >= b_cut, F.lit("C"))
        .alias("abc_class"),
    )


def mad_outliers(
    df: DataFrame,
    groups: list[str],
    value_col: str,
    threshold: float = 3.5,
    carry: list[str] | None = None,
) -> DataFrame:
    """Per-group robust outlier flags via the median/MAD rule —
    every input row plus (robust_z, is_outlier) with
    robust_z = 0.6745 · (x − median) / MAD and
    is_outlier ⇔ |robust_z| > threshold (3.5 is the classic
    Iglewicz–Hoaglin cut). The robust twin of r44's z-score monitor:
    mean/stddev move WITH the outliers they're supposed to catch
    (one 10⁶× bad row inflates σ until nothing flags), median/MAD
    barely budge — the right default for sensor values, payment
    amounts, crawler latencies.

    Shape: two exact-percentile hash aggregates (median, then median
    of |x − median|) are the ONLY exchanges — each group-cardinality
    sized, map-side partial — and both dimension relations BROADCAST
    back onto the corpus, which is never reshuffled on the group key
    (the winsorized_stats posture; same documented approx_percentile
    swap for huge groups, same (n−1)·p ≡ quantile_cont interpolation
    pin that makes this hash-oracle-able). The median relation is
    computed ONCE and its join-back REUSED by both the MAD aggregate
    and the scoring projection — NULL-value rows never need it
    (their outputs are constants), so they ride a separate union leg
    instead of forcing a second median subtree into the plan.
    Degenerate pins: MAD = 0 (≥ half the group at the median — flat
    series, integer-quantized values) yields NULL robust_z and
    is_outlier = false, never an IEEE ±inf or an everything-flags
    storm (the r44 sigma pin); NULL values pass through with NULL
    robust_z / false, never dropped — including groups whose values
    are ALL NULL; NULL group values join null-safely (the winsorize
    review-r5 pin).
    """
    # guard scoped to the columns that SURVIVE into the working
    # relation — groups and carry; everything else is projected away
    # before any working name exists (r10 review)
    _reject_working_cols(
        df.select(*groups, *(carry or ())),
        ("_v", "_med", "_mad") + tuple(f"_d_{g}" for g in groups),
        "mad_outliers",
    )
    v = F.col(value_col).cast("double")
    carry = list(carry or ())
    base = df.select(*groups, *carry, v.alias("_v"))
    # NaN rides the NULL pass-through leg: it passes isNotNull but
    # would shift the group's percentiles (Spark sorts NaN above all
    # reals) and `NaN > threshold` is true, so a NaN row would both
    # skew every real row's robust_z AND flag itself — the docstring
    # pins say normalized-to-NULL / never flags.
    vals = base.filter(F.col("_v").isNotNull() & ~F.isnan("_v"))
    meds = vals.groupBy(*groups).agg(
        F.percentile("_v", F.lit(0.5)).alias("_med")
    )

    def _back(onto: DataFrame, dim: DataFrame) -> DataFrame:
        # module-level _group_back (hardening (g)): null-safe
        # broadcast dimension join-back shared with winsorized_stats
        return _group_back(onto, dim, groups)

    vals_med = _back(vals, meds)
    mads = vals_med.groupBy(*groups).agg(
        F.percentile(F.abs(F.col("_v") - F.col("_med")), F.lit(0.5)).alias("_mad")
    )
    z = F.when(
        F.col("_mad") > 0,
        F.lit(0.6745) * (F.col("_v") - F.col("_med")) / F.col("_mad"),
    )
    scored = _back(vals_med, mads).select(
        *groups,
        *carry,
        F.col("_v").alias(value_col),
        # round4 pins -0.0: a value at the group median rounds its z
        # to signed zero differently per engine (the l43 class).
        round4(z).alias("robust_z"),
        F.coalesce(
            F.abs(z) > F.lit(float(threshold)), F.lit(False)
        ).alias("is_outlier"),
    )
    nulls = base.filter(
        F.col("_v").isNull() | F.isnan("_v")
    ).select(
        *groups,
        *carry,
        F.col("_v").alias(value_col),
        F.lit(None).cast("double").alias("robust_z"),
        F.lit(False).alias("is_outlier"),
    )
    return scored.unionByName(nulls)


def join_cardinality_audit(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Pre-flight join-cardinality audit — one row per join-key value
    on EITHER side: (keys…, n_left, n_right, out_rows, is_mtm) with
    out_rows = n_left · n_right (this key's exact contribution to the
    inner-join result) and is_mtm flagging many-to-many keys. SUM
    (out_rows) is the exact inner-join cardinality; the companion
    measurement to r53's key_skew_profile — skew says which TASKS
    blow up, this says whether the JOIN ITSELF explodes (the
    accidental m:n fan-out that turns a 100 TB join into a 10 PB
    shuffle write long before any task OOMs).

    Shape: one map-side-partial count aggregate per side, then a
    full-outer join of the two KEY-CARDINALITY-sized count relations
    — the corpus-sized inputs are each scanned once and never joined
    to each other; everything after the partial aggregates is
    dimension-sized. NULL-key pin: USING-style equality means a NULL
    key never matches across sides — exactly like the real join
    being audited — so NULL-key groups surface as unmatched rows
    with the other side's count 0, making "NULL keys silently drop
    from the join" a visible line item instead of a surprise.
    """
    lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_left"))
    rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_right"))
    both = lc.join(rc, on=keys, how="full_outer")
    nl = F.coalesce(F.col("n_left"), F.lit(0))
    nr = F.coalesce(F.col("n_right"), F.lit(0))
    return both.select(
        *keys,
        nl.alias("n_left"),
        nr.alias("n_right"),
        (nl * nr).alias("out_rows"),
        ((nl > 1) & (nr > 1)).alias("is_mtm"),
    )


def benford_audit(
    df: DataFrame,
    groups: list[str],
    value_col: str,
) -> DataFrame:
    """First-significant-digit (Benford) distribution audit per group
    — one row per (groups…, digit 1..9): observed count and share,
    the Benford expectation log10(1 + 1/d), the deviation, and the
    group's chi-square contribution n·(share − p)²/p — the classic
    fabricated-or-truncated-numbers tripwire for financial columns
    and sensor feeds (organically generated multiplicative data
    follows Benford; capped, defaulted, or invented data doesn't).
    SUM(chi2_part) per group against a χ²₈ critical value is the
    caller's test statistic; the per-digit grain is returned so the
    offending digit is visible, not just the aggregate alarm.

    Shape: digit extraction is row-local arithmetic
    (floor(|x| / 10^floor(log10|x|)) — no string cast, stays in
    whole-stage codegen), then ONE (groups, digit) hash aggregate
    (map-side partial) and a ≤9-row-per-group window for the group
    total — grain-bounded, never corpus-sized. Pins: zero/NULL
    values carry no first digit and are excluded (log10(0) is
    -inf, and Benford is a statement about nonzero magnitudes);
    digits observed zero times simply have no row (callers
    left-join the 1..9 spine if they need explicit zeros —
    emitting absent digits would require a per-group grid join the
    audit itself doesn't need).
    """
    x = F.abs(F.col(value_col).cast("double"))
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    # NaN passes `x > 0` (Spark orders NaN above all numbers) and
    # floor(NaN) casts to digit 0 — a phantom row that inflates the
    # group total (and divides by digit 0 under ANSI). Same exclusion
    # binned_quantile_rollup pins for the identical floor(NaN) hazard.
    base = df.filter(x.isNotNull() & ~F.isnan(x) & (x > 0)).select(
        *groups, digit.alias("digit")
    )
    counts = base.groupBy(*groups, "digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    w = Window.partitionBy(*groups)
    total = F.sum("n_obs").over(w)
    share = F.col("n_obs") / total
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return counts.select(
        *groups,
        "digit",
        "n_obs",
        F.round(share, 4).alias("obs_share"),
        F.round(p, 4).alias("benford_p"),
        round4(share - p).alias("deviation"),
        F.round(total * (share - p) ** 2 / p, 4).alias("chi2_part"),
    )


def target_encode(
    df: DataFrame,
    category_cols: list[str],
    target_col: str,
    smoothing: float = 20.0,
) -> DataFrame:
    """Smoothed target encoding of a categorical key — the CATEGORY
    DIMENSION (cats…, n_obs, raw_mean, encoded) with

        encoded = (n·raw_mean + m·global_mean) / (n + m)

    (m = `smoothing`): the Bayesian-shrunk category mean that ML
    feature pipelines join back onto training rows — rare categories
    pull toward the global prior instead of memorizing their handful
    of labels (the leakage-prone raw mean is returned alongside for
    auditing, not for use). Returning the dimension rather than the
    encoded corpus is deliberate: it is category-cardinality sized,
    broadcastable, reusable across train/serve, and the join-back is
    the caller's one-liner.

    Shape: one (cats) hash aggregate over the corpus (map-side
    partial) plus the house 1-row global-moment crossJoin — nothing
    else touches corpus scale. Pins: NULL targets are excluded from
    BOTH means (and from n — the shrinkage weight must count only
    the rows that informed raw_mean); a NULL category is a category
    like any other (groupBy keeps it; the caller's join-back should
    be null-safe, the winsorize stance); an all-NULL-target input
    yields an empty dimension and NULL global mean rather than a
    crash.
    """
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0, got {smoothing}")
    y = F.col(target_col).cast("double")
    base = df.filter(y.isNotNull()).select(*category_cols, y.alias("_y"))
    # encoded is computed from the 4dp-ROUNDED means, not the raw
    # aggregates: the published (raw_mean, encoded) pair stays
    # self-consistent, and the shrinkage arithmetic runs on doubles
    # that are bitwise identical across engines — partial-aggregate
    # summation order perturbs an unrounded mean in the last ulp,
    # which flips the final 4dp round often enough to matter at
    # thousands of categories (found by the oracle, not by eye).
    cats = base.groupBy(*category_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.avg("_y"), 4).alias("_raw"),
    )
    glob = base.agg(F.round(F.avg("_y"), 4).alias("_gmean"))
    m = F.lit(float(smoothing))
    return cats.crossJoin(F.broadcast(glob)).select(
        *category_cols,
        "n_obs",
        F.col("_raw").alias("raw_mean"),
        F.round(
            (F.col("n_obs") * F.col("_raw") + m * F.col("_gmean"))
            / (F.col("n_obs") + m),
            4,
        ).alias("encoded"),
    )


def _quantile_edges(
    df: DataFrame, value_col: str, fracs: list[float]
) -> DataFrame:
    """1-row relation with `_edges`: the exact quantiles of
    `value_col` at `fracs`, each ROUNDED to 4dp. The rounding is a
    cross-engine determinism pin, not cosmetics: interpolated
    quantiles differ in the last ulp between engines, and a data
    value sitting exactly ON an unrounded edge would bin differently
    per engine. 4dp is safe for ≤2-decimal inputs with small-
    denominator interpolation fractions (the true edge then has ≤3
    decimals — never at the 4dp half boundary). NaN is excluded like
    NULL (the mad_outliers/binned_quantile_rollup sibling pin,
    extended here in the r9 sweep): Spark sorts NaN above all reals,
    so one NaN would make the top edges NaN and unreachable."""
    v = F.col(value_col).cast("double")
    return df.filter(v.isNotNull() & ~F.isnan(v)).agg(
        F.transform(
            F.percentile(v, F.array(*[F.lit(f) for f in fracs])),
            lambda e: F.round(e, 4),
        ).alias("_edges")
    )


def _edge_bin(value: Column, edges: Column) -> Column:
    """0-based bin index: how many edges are ≤ value. Values exactly
    AT an edge fall in the HIGHER bin (>= — pinned; with rounded
    edges both engines agree on the comparison)."""
    return F.size(F.filter(edges, lambda e: value >= e))


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
    floor: float = 1e-4,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    sample of one numeric column — one row per reference-decile bin:
    (bin, n_ref, n_cur, ref_share, cur_share, psi_part) with
    psi_part = (cur − ref)·ln(cur/ref) on floor-clamped shares;
    SUM(psi_part) is the PSI statistic (the ML-monitoring rule of
    thumb: < 0.1 stable, > 0.25 investigate). The per-FEATURE drift
    monitor next to l26's per-source token KL: bin edges come from
    the REFERENCE quantiles, so "the distribution moved" is measured
    against what the model trained on, not against a moving target.

    Shape: one exact-quantile 1-row aggregate on the reference (the
    r10-family buffering trade; approx_percentile swap documented at
    winsorize), broadcast-crossJoined onto both sides; binning is a
    row-local array filter in codegen; per-side (≤n_bins)-row count
    aggregates full-outer-join and the totals crossJoin back as
    1-row scalars. Nothing after the scans exceeds n_bins rows.
    Pins: empty bins on either side count 0 and take the floor
    clamp in the log (the standard PSI convention — an empty
    current bin is MAXIMAL drift evidence, not a divide-by-zero);
    NULL and NaN values are excluded from both sides (NaN sorts
    above all reals in Spark — see _binned); edges are 4dp-rounded
    (see _quantile_edges) so ties at an edge bin identically across
    engines; an EMPTY reference has NULL edges, so every current
    row lands on one NULL-bin line item with a finite psi_part —
    "no baseline exists" stays visible instead of crashing or
    vanishing.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    fracs = [i / n_bins for i in range(1, n_bins)]
    edges = _quantile_edges(ref, value_col, fracs)

    def _binned(df: DataFrame, out: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        # explicit NULL-edges guard: size(NULL) is -1 or NULL
        # depending on session conf (legacy.sizeOfNull) — the
        # empty-reference line item must be NULL-binned under BOTH.
        # NaN excluded like NULL (code-review r9: NaN satisfies
        # `>= edge` for every edge under Spark's NaN-greatest
        # ordering, so a sensor glitch inflated the TOP bin's
        # cur_share — maximal-drift evidence from a non-number);
        # the r74 oracle carries the same isnan exclusion.
        return (
            df.filter(v.isNotNull() & ~F.isnan(v))
            .crossJoin(F.broadcast(edges))
            .select(
                F.when(
                    F.col("_edges").isNotNull(),
                    _edge_bin(v, F.col("_edges")),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(out))
        )

    joined = _binned(ref, "n_ref").join(
        _binned(cur, "n_cur"), "bin", "full_outer"
    )
    totals = joined.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    nr = F.coalesce(F.col("n_ref"), F.lit(0))
    nc = F.coalesce(F.col("n_cur"), F.lit(0))
    rs = nr / F.col("_tr")
    cs = nc / F.col("_tc")
    rs_c = F.greatest(rs, F.lit(float(floor)))
    cs_c = F.greatest(cs, F.lit(float(floor)))
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            nr.alias("n_ref"),
            nc.alias("n_cur"),
            F.round(rs, 4).alias("ref_share"),
            F.round(cs, 4).alias("cur_share"),
            # mathematically >= 0, but fp can put the difference and
            # the log ratio on opposite sides of zero when the shares
            # are near-equal — round4 pins the resulting -0.0.
            round4((cs_c - rs_c) * F.log(cs_c / rs_c)).alias(
                "psi_part"
            ),
        )
    )


def rfm_scores(
    df: DataFrame,
    customer_col: str,
    ts_col: str,
    amount_col: str,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM customer segmentation — one row per customer:
    (customer, last_ts, frequency, monetary, r_score, f_score,
    m_score, rfm) with each score the 1..n_tiles quantile bin of the
    measure over the CUSTOMER dimension (higher = more recent / more
    frequent / more spend) and rfm = r·100 + f·10 + m. The classic
    marketing segmentation (555 = champions, 1xx = lapsed), and the
    canonical "quantile scores at scale" shape.

    Shape: one customer-keyed aggregate over the corpus, then ONE
    1-row exact-quantile aggregate (all three edge arrays together)
    broadcast back onto the customer dimension — binning is the
    same row-local array filter as psi_drift, so there is NO global
    ntile()/percent_rank() window anywhere (the single-partition
    cliff a naive RFM hits at 100 M customers). Pins: quantile ties
    collapse into the same score (a frequency of 1 shared by 40% of
    customers lands every one of them in the same bin — quantile
    BINNING, not rank splitting; deterministic by construction);
    NULL amounts contribute 0 to monetary but still count as
    orders; edges are 4dp-rounded (see _quantile_edges).
    """
    if n_tiles < 2:
        raise ValueError(f"n_tiles must be >= 2, got {n_tiles}")
    fracs = [i / n_tiles for i in range(1, n_tiles)]
    # NaN amounts ride the NULL leg (hardening (d), the mad_outliers
    # sibling exclusion): sum() propagates NaN, so ONE NaN amount
    # would make the customer's monetary — and then every quantile
    # edge — NaN, collapsing all m_scores. NaN→NULL keeps the row
    # counted in frequency while contributing 0 to monetary, exactly
    # the documented NULL-amount stance.
    amt = F.col(amount_col).cast("double")
    amt = F.when(~F.isnan(amt), amt)
    per_cust = df.groupBy(customer_col).agg(
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.coalesce(F.sum(amt), F.lit(0.0)), 4).alias("monetary"),
    )
    edges = per_cust.agg(
        *[
            F.transform(
                F.percentile(
                    F.col(c).cast("double"),
                    F.array(*[F.lit(f) for f in fracs]),
                ),
                lambda e: F.round(e, 4),
            ).alias(f"_e_{c}")
            for c in ("last_ts", "frequency", "monetary")
        ]
    )
    # recency compares in the exact epoch-seconds double domain (the
    # cadence_audit pin); its edges were computed in the same domain
    # via the cast above.
    scored = per_cust.crossJoin(F.broadcast(edges))
    r = _edge_bin(F.col("last_ts").cast("double"), F.col("_e_last_ts")) + 1
    fq = _edge_bin(
        F.col("frequency").cast("double"), F.col("_e_frequency")
    ) + 1
    m = _edge_bin(
        F.col("monetary").cast("double"), F.col("_e_monetary")
    ) + 1
    return scored.select(
        customer_col,
        "last_ts",
        "frequency",
        "monetary",
        r.cast("int").alias("r_score"),
        fq.cast("int").alias("f_score"),
        m.cast("int").alias("m_score"),
        (r * 100 + fq * 10 + m).cast("int").alias("rfm"),
    )


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-square test of independence between two categoricals —
    one row per observed (a, b) cell: (a, b, n_obs, expected,
    chi2_part) with expected = row_margin·col_margin/N and
    chi2_part = (n − e)²/e; SUM(chi2_part) is the X² statistic
    against (|a|−1)(|b|−1) degrees of freedom. The "are these two
    columns actually related" audit — segment × outcome, source ×
    error-type, device × conversion — the independence-testing
    sibling of r70's goodness-of-fit.

    Shape: ONE (a, b) hash aggregate over the corpus; both margins
    are windows over the CELL-GRAIN relation (≤|a|·|b| rows — the
    benford group-total posture) and the grand total is a 1-row
    aggregate broadcast-crossJoined back onto it (the empty-spec
    window was removed in the r9 sweep; see the inline comment and
    tests/test_plans.py), so nothing after the first aggregate
    touches corpus scale. Pins: expected
    is always > 0 on observed margins (both margins contain the
    cell itself), so chi2_part never divides by zero; NULL
    categories are categories (groupBy keeps them — NULL × outcome
    dependence is exactly the kind of data bug this audit exists to
    surface); UNOBSERVED cells (n = 0 with positive margins) have
    no row — their chi2_part is e, and callers doing a strict test
    reconstruct them from the margins (documented, same stance as
    benford's absent digits).
    """
    # The cell aggregate feeds TWO consumers (the margin windows and
    # the grand total), so it sits behind a LAZY localCheckpoint
    # barrier — the _combined_moments idiom: both read ONE RDD,
    # computed once, instead of each re-running the corpus aggregate
    # (and the barrier's pin is cell-relation-sized, the same data
    # the windows shuffle anyway).
    counts = (
        df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .localCheckpoint(eager=False)
    )
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    ra = F.sum("n_obs").over(wa)
    cb = F.sum("n_obs").over(wb)
    # Grand total as a 1-row aggregate crossJoin-broadcast, NEVER an
    # empty-spec window (code-review r9): Window.partitionBy() with
    # no keys funnels the whole cell relation — which approaches
    # corpus scale for two high-cardinality categoricals — through
    # ONE WindowExec task; the house pattern (psi_drift's totals,
    # key_skew_profile) computes the same scalar with no cliff.
    total = counts.agg(F.sum("n_obs").alias("_tot"))
    e = ra * cb / F.col("_tot")
    return counts.crossJoin(F.broadcast(total)).select(
        "a",
        "b",
        "n_obs",
        F.round(e, 4).alias("expected"),
        F.round((F.col("n_obs") - e) ** 2 / e, 4).alias("chi2_part"),
    )


def mannwhitney_z(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann–Whitney U rank-sum test between two NAMED arms — one
    row: (group_a, group_b, n_a, n_b, u_stat, z) with U = group_a's
    rank-sum statistic and z the tie-corrected normal approximation

        z = (U − n_a·n_b/2) / sqrt(n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1))))

    — the distribution-free "did this change move the metric"
    test (A/B values, latencies, quality scores) that t-tests get
    wrong on heavy tails. Callers compare |z| to the normal
    quantile; no p-value column because Spark has no erf and a
    hand-rolled one would be the least-tested line in the engine.
    The arms are EXPLICIT parameters — rows outside them are ignored
    (the A/B framing: which arms to compare is a design choice the
    caller already made; discovering groups from data would need a
    driver-side collect, which this engine bans).

    Shape: NO single-partition window over the data. A value's
    midrank is the count of smaller values plus (t+1)/2, t its tie
    count. The count of smaller values is the value's first row
    number minus one, from the two-phase distributed rank
    (global_row_number) ordered by (value, arm). Tied rows receive
    SOME permutation of their rank block, but the block's first
    number does not depend on that order. The rank input holds only
    its two order keys, so global_row_number's count leg reads the
    same columns as its rank leg and Spark reuses the one range
    exchange; with any other column the count leg would sample its
    own range bounds and the offsets would not match. The tie term
    Σ(t³−t) rides the per-value aggregate; everything after is
    value-cardinality sized or scalar. Midranks are half-integers, so
    every sum is exact in float64. Pins: NULL values are excluded;
    all-tied inputs (every value equal) make the variance 0 and z
    NULL (the r44 pin); an arm with zero rows yields n = 0 and NULL
    u/z rather than a crash.
    """
    ga, gb = group_a, group_b
    v = F.col(value_col).cast("double")
    # NaN is excluded with NULL: it passes isNotNull but sorts above
    # every real value, silently skewing the midranks and U.
    base = df.filter(
        v.isNotNull() & ~F.isnan(v) & F.col(group_col).isin(ga, gb)
    ).select(F.col(group_col).alias("_g"), v.alias("_v"))
    ranked = global_row_number(
        base, [F.col("_v").asc(), F.col("_g").asc()], "_rn"
    )
    per_val = ranked.groupBy("_v").agg(
        ((F.min("_rn") - 1) + (F.count(F.lit(1)) + 1) / 2).alias(
            "_midrank"
        ),
        F.count(F.lit(1)).alias("_t"),
        F.sum(F.when(F.col("_g") == F.lit(ga), 1).otherwise(0)).alias(
            "_na_v"
        ),
    )
    stats = per_val.agg(
        F.sum(F.col("_na_v") * F.col("_midrank")).alias("_ra"),
        F.sum("_na_v").alias("_na"),
        F.sum(F.col("_t") - F.col("_na_v")).alias("_nb"),
        F.sum(F.col("_t") ** 3 - F.col("_t")).alias("_ties"),
    )
    na, nb = F.col("_na"), F.col("_nb")
    n = na + nb
    # An empty arm makes the rank-sum 0, so the raw expression would
    # emit u = 0.0 — keep the docstring's promise that a one-armed
    # "comparison" has no U, not a misleading zero.
    u = F.when(
        (na > 0) & (nb > 0), F.col("_ra") - na * (na + 1) / 2
    )
    var = (
        na * nb / F.lit(12.0)
        * ((n + 1) - F.col("_ties") / (n * (n - 1)))
    )
    z = F.when(var > 0, (u - na * nb / 2) / F.sqrt(var))
    return stats.select(
        F.lit(ga).alias("group_a"),
        F.lit(gb).alias("group_b"),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u, 4).alias("u_stat"),
        round4(z).alias("z"),
    )


def cuped_adjust(
    df: DataFrame,
    y_col: str,
    x_col: str,
    carry: list[str] | None = None,
) -> DataFrame:
    """CUPED variance reduction — every input row plus (theta,
    adjusted) with theta = cov_pop(x, y)/var_pop(x) fit over the rows
    where BOTH the metric y and the pre-period covariate x exist,
    and adjusted = y − theta·(x − mean(x)). The standard experiment-
    analysis preprocessor: the covariate (last period's spend,
    pre-exposure engagement) soaks up between-unit variance, so the
    same arm comparison needs ~1/(1−ρ²) times less data — feed
    `adjusted` into mannwhitney_z or a t-test instead of the raw
    metric. E[adjusted] = E[y] by construction (the correction is
    mean-centered), so the estimate stays unbiased while its
    variance drops by the squared correlation.

    Shape: ONE 1-row moment aggregate (covar_pop/var_pop/avg — the
    series_trend co-moment seam) broadcast back as the house scalar
    crossJoin; the adjustment is row-local arithmetic. Pins: zero
    covariate variance yields NULL theta and adjusted = y (no signal
    → no adjustment, the r44 pin); rows with NULL x keep adjusted =
    y (a unit with no pre-period exists in every real experiment and
    must not drop out of the analysis); rows with NULL y pass
    through with NULL adjusted.
    """
    carry = list(carry or ())
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    base = df.select(*carry, y.alias("_y"), x.alias("_x"))
    fit = base.filter(
        F.col("_y").isNotNull() & F.col("_x").isNotNull()
    ).agg(
        F.covar_pop("_x", "_y").alias("_cov"),
        F.var_pop("_x").alias("_var"),
        F.avg("_x").alias("_mx"),
    )
    theta = F.when(F.col("_var") > 0, F.col("_cov") / F.col("_var"))
    adjusted = F.when(
        F.col("_y").isNotNull(),
        F.when(
            F.col("_x").isNotNull() & theta.isNotNull(),
            F.col("_y") - theta * (F.col("_x") - F.col("_mx")),
        ).otherwise(F.col("_y")),
    )
    return base.crossJoin(F.broadcast(fit)).select(
        *carry,
        F.col("_y").alias(y_col),
        F.col("_x").alias(x_col),
        round4(theta).alias("theta"),
        round4(adjusted).alias("adjusted"),
    )


def contract_audit(
    df: DataFrame,
    rules: list[tuple[str, Column]],
) -> DataFrame:
    """Declarative data-contract audit — one row per rule:
    (rule, n_rows, n_violations, violation_rate, passed) where each
    rule is (name, boolean Column) and a VIOLATION is a row where
    the condition is FALSE **or NULL** (three-valued logic pin: a
    NULL check result means the contract could not be affirmed —
    `col > 0` on a NULL must count against the contract, not
    silently pass the way a WHERE clause would drop it). The
    dbt-test / expectations shape: assert non-negativity, ranges,
    formats, cross-column implications in ONE corpus pass, get a
    per-rule scoreboard a pipeline gate can act on.

    Shape: every rule compiles to a conditional SUM in a single
    1-row aggregate — one corpus scan, map-side partial, no joins,
    no matter how many rules — then a row-local unpivot (stack) to
    the per-rule grain: the audit relation is |rules|-sized.
    Pins: an EMPTY input passes every rule with n_rows 0 (a vacuous
    contract holds — the gate that must fail on empty inputs
    asserts n_rows > 0 as one of its rules); duplicate rule names
    RAISE (two rules reporting under one name is a silent audit
    hole).
    """
    import re

    if not rules:
        raise ValueError("contract_audit needs at least one rule")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    # names ride through column aliases and a stack() selectExpr —
    # restrict to identifier-safe slugs so no name can smuggle
    # arbitrary SQL into the expression string
    bad = [n for n in names if not re.fullmatch(r"[A-Za-z][A-Za-z0-9_]*", n)]
    if bad:
        raise ValueError(f"rule names must be identifier-safe: {bad}")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, cond in rules:
        aggs.append(
            F.sum(
                F.when(cond.isNull() | ~cond, 1).otherwise(0)
            ).alias(f"_v_{name}")
        )
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"'{n}', _v_{n}" for n in names
    )
    tall = wide.selectExpr(
        "_n",
        f"stack({len(names)}, {stack_expr}) AS (rule, _viol)",
    )
    nv = F.coalesce(F.col("_viol"), F.lit(0))
    return tall.select(
        "rule",
        F.col("_n").alias("n_rows"),
        nv.alias("n_violations"),
        F.round(
            F.when(F.col("_n") > 0, nv / F.col("_n")), 4
        ).alias("violation_rate"),
        (nv == 0).alias("passed"),
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    grain: str = "week",
) -> DataFrame:
    """Cohort retention matrix — one row per (cohort period, period
    offset): how many of the users first seen in a cohort period were
    active again `offset` periods later, and the retention rate —
    the standard product/growth analytics triangle (a corpus-health
    twin too: contributor retention of a crawled feed).

        cohort(u)   = date_trunc(grain, min ts over u)
        offset(u,p) = periods between an active period p and cohort(u)

    Output: (cohort, offset, n_active, n_cohort, retention) with
    offset 0 ≡ the cohort size row (retention 1.0 by construction —
    kept, it anchors the denominator in the same relation).

    Shape: ONE user-keyed aggregate produces (user, cohort) and the
    per-user distinct active periods IN THE SAME PASS (collect_set of
    the truncated period — bounded by periods-per-user, a calendar
    grain, never event count), so the corpus is scanned once and
    shuffled once on user; the (cohort, offset) matrix aggregate runs
    on the user-period relation (users × active periods — already
    thousands of times smaller than events); cohort sizes ride a
    window over the matrix-grain relation rather than a second join.
    Calendar pins: date_trunc('week') is ISO-Monday in BOTH engines;
    offsets count via integer day arithmetic / 7 (exact), never
    months-of-varying-length (the grain='month' path uses
    months_between on truncated firsts, exact on month boundaries).
    NULL user or ts rows are excluded (no cohort identity).
    """
    if grain not in ("week", "month"):
        raise ValueError(f"grain must be week|month, got {grain!r}")
    u = F.col(user_col)
    t = F.col(ts_col)
    per_user = (
        df.filter(u.isNotNull() & t.isNotNull())
        .groupBy(u.alias("_u"))
        .agg(
            F.date_trunc(grain, F.min(t)).alias("_cohort"),
            F.collect_set(F.date_trunc(grain, t)).alias("_periods"),
        )
    )
    up = per_user.select(
        "_u", "_cohort", F.explode("_periods").alias("_p")
    )
    if grain == "week":
        offset = (
            F.datediff(F.col("_p").cast("date"), F.col("_cohort").cast("date"))
            / 7
        ).cast("int")
    else:
        offset = F.months_between(
            F.col("_p").cast("date"), F.col("_cohort").cast("date")
        ).cast("int")
    mat = up.groupBy(
        F.col("_cohort").alias("cohort"), offset.alias("offset")
    ).agg(F.count(F.lit(1)).alias("n_active"))
    w = Window.partitionBy("cohort")
    n_cohort = F.max(
        F.when(F.col("offset") == 0, F.col("n_active"))
    ).over(w)
    return mat.select(
        "cohort",
        "offset",
        F.col("n_active").cast("long").alias("n_active"),
        n_cohort.cast("long").alias("n_cohort"),
        F.round(F.col("n_active") / n_cohort, 4).alias("retention"),
    )


def growth_accounting(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    grain: str = "week",
) -> DataFrame:
    """Growth accounting — one row per period: how many active users
    are NEW (first-ever period), RETAINED (also active the previous
    period), RESURRECTED (active before, but not the previous
    period), and how many CHURNED INTO this period (active the
    previous period, not this one) — the standard MAU decomposition
    (new + retained + resurrected − churned = ΔMAU), and r85's
    per-period companion: retention says how a cohort decays, this
    says where this period's actives came from.

    Shape: ONE corpus scan to the distinct (user, period) relation
    (the r85 per-user aggregate emits first-period and the period set
    in the same pass); classification is a per-user lag window over
    the user's periods — user-keyed, bounded by periods-per-user —
    plus a 1-period self-shift for churn (an anti-join-free
    reformulation: churned(p) = active(p−1) − retained(p), computed
    from the SAME per-period counts, so no second corpus pass).
    Calendar pins follow r85 exactly (ISO-Monday weeks, exact day/7
    offsets; month grain via truncated months_between).
    """
    if grain not in ("week", "month"):
        raise ValueError(f"grain must be week|month, got {grain!r}")
    u, t = F.col(user_col), F.col(ts_col)
    per_user = (
        df.filter(u.isNotNull() & t.isNotNull())
        .groupBy(u.alias("_u"))
        .agg(
            F.min(F.date_trunc(grain, t)).alias("_first"),
            F.collect_set(F.date_trunc(grain, t)).alias("_periods"),
        )
    )
    up = per_user.select(
        "_u", "_first", F.explode("_periods").alias("_p")
    )
    w = Window.partitionBy("_u").orderBy("_p")
    prev_p = F.lag("_p").over(w)
    if grain == "week":
        gap_prev = F.datediff(
            F.col("_p").cast("date"), prev_p.cast("date")
        ) / 7
    else:
        gap_prev = F.months_between(
            F.col("_p").cast("date"), prev_p.cast("date")
        )
    status = (
        F.when(F.col("_p") == F.col("_first"), F.lit("new"))
        .when(gap_prev == 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
    )
    classified = up.select("_u", "_p", status.alias("_s"))
    counts_lazy = classified.groupBy(F.col("_p").alias("period")).agg(
        F.sum(F.when(F.col("_s") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("_s") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("_s") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
        F.count(F.lit(1)).cast("long").alias("n_active"),
    )
    # Pin the period-grain counts (tiny — one row per active period):
    # THREE consumers read it below (the output join, the churn
    # shift, and the spine bounds), and without truncation each one
    # re-executes the corpus scan + classification window. One eager
    # materialization of a week-count-sized relation vs three corpus
    # passes — same trade as the graph loops' per-round pins. The pin
    # is INTENTIONALLY not released here: the RETURNED plan reads it
    # (a localCheckpoint's blocks ARE its data — releasing before the
    # caller consumes the result would fail the job), so its lifetime
    # is the result DataFrame's, reclaimed by the ContextCleaner on
    # GC. Bounded: one period-grain relation per call, never a loop's
    # O(rounds) accumulation (ADVICE r8).
    counts = ckpt.pin(counts_lazy)
    # churned INTO period p = active(calendar predecessor of p) −
    # retained(p) — computed from the counts relation itself
    # (period-grain, tiny, broadcast). The shift is applied on the
    # PREDECESSOR side (_next_of = its calendar successor), so the
    # join key is this period.
    shifted = counts.select(
        F.col("period").alias("_next_of"),
        F.col("n_active").alias("_prev_active"),
    ).withColumn(
        "_next_of",
        F.date_trunc(grain, F.date_add(F.col("_next_of").cast("date"), 7))
        if grain == "week"
        else F.date_trunc(
            grain, F.add_months(F.col("_next_of").cast("date"), 1)
        ),
    )
    # Output spine = EVERY calendar period in [first, last] active
    # period, not just periods with activity: a period with zero
    # actives has no counts row, and joining churn onto counts alone
    # silently loses the churn INTO that period — exactly when churn
    # is total (code-review r8 finding). The spine is a 1-row scalar
    # agg exploded through F.sequence (distributed, period-grain
    # tiny); trailing periods beyond the last activity are NOT
    # emitted (the observation window ends there — data absence, not
    # churn).
    step = "interval 7 days" if grain == "week" else "interval 1 month"
    spine = (
        counts.agg(
            F.min("period").cast("date").alias("_lo"),
            F.max("period").cast("date").alias("_hi"),
        )
        .select(
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(step))
            ).alias("period")
        )
        .select(F.col("period").cast("timestamp").alias("period"))
    )
    return (
        spine.join(F.broadcast(counts), "period", "left")
        .join(
            F.broadcast(shifted),
            spine["period"] == shifted["_next_of"],
            "left",
        )
        .select(
            "period",
            F.coalesce(F.col("n_active"), F.lit(0))
            .cast("long")
            .alias("n_active"),
            F.coalesce(F.col("n_new"), F.lit(0))
            .cast("long")
            .alias("n_new"),
            F.coalesce(F.col("n_retained"), F.lit(0))
            .cast("long")
            .alias("n_retained"),
            F.coalesce(F.col("n_resurrected"), F.lit(0))
            .cast("long")
            .alias("n_resurrected"),
            (
                F.coalesce(F.col("_prev_active"), F.lit(0))
                - F.coalesce(F.col("n_retained"), F.lit(0))
            )
            .cast("long")
            .alias("n_churned"),
        )
    )
