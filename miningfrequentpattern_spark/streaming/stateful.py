"""Stateful streaming operators (SURVEY.md §2.5 T3/T5/T6).

These are the genuinely non-SQL-expressible pieces: arbitrary
per-key state (applyInPandasWithState), watermark-bounded dedup, and
micro-batch re-mining (foreachBatch + FPGrowth — MLlib estimators
cannot fit on a stream, so the sanctioned pattern is to re-fit per
micro-batch or on a rolling cache).

All run against the parquet-replay source in sources/io.py
(read_events_stream); tests drive them with availableNow triggers so
every micro-batch is deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.durations import duration_us
from ..operators.recurrences import holt_step, step_one_series, ttl_step

RUNNING_SCHEMA = "user_id BIGINT, n_events BIGINT, n_purchases BIGINT"
STATE_SCHEMA = "n BIGINT, p BIGINT"


def _sorted_micro_batch(batches, by: list[str]) -> pd.DataFrame | None:
    """A key's whole micro-batch sorted on `by`, or None when empty.
    Its Arrow chunks arrive in no order, so sorting chunk by chunk
    would let a later chunk step the key's state first."""
    chunks = [pdf for pdf in batches if len(pdf)]
    if not chunks:
        return None
    return pd.concat(chunks, ignore_index=True).sort_values(by, kind="mergesort")


def _update_user_counts(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """T5 state function: running (events, purchases) per user.

    State is a single (n, p) tuple — constant size per key, the shape
    that scales: state store holds O(#users) not O(#events).
    """
    n, p = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        p += int((pdf["event_type"] == "purchase").sum())
    state.update((n, p))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "n_purchases": [p]}
    )


def running_user_counts_stream(events_stream: DataFrame) -> DataFrame:
    """T5: arbitrary stateful processing over a stream. The update
    function reads only (user_id, event_type) — narrow BEFORE the
    state seam so the props/value columns never ride the Arrow
    transfer into the Python state worker (r10 sweep; the cusum/
    heavy-hitters convention)."""
    return (
        events_stream.select("user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_counts,
            outputStructType=RUNNING_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def watermark_dedup_stream(
    events_stream: DataFrame, delay: str = "1 hour"
) -> DataFrame:
    """T3+T4: watermark-bounded streaming dedup on event_id. State for
    an id is dropped once the watermark passes delay — bounded memory
    on an infinite stream, the whole reason watermarks exist."""
    return events_stream.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def windowed_counts_stream(
    events_stream: DataFrame, width: str = "1 hour", delay: str = "2 hours"
) -> DataFrame:
    """T1+T3 streaming twin of windows.tumbling_counts, with a
    watermark so late data beyond `delay` is dropped and window state
    is evicted. ONE definition (r10 sweep): the twin IS
    tumbling_counts applied to the watermarked stream — the previous
    inline copy of its expression tree kept the pair equal only by
    hand."""
    from .windows import tumbling_counts

    return tumbling_counts(
        events_stream.withWatermark("ts", delay), width
    )


def mine_stream_foreach_batch(
    events_stream: DataFrame,
    sink_path: str,
    min_support: float = 0.2,
):
    """T6: per-micro-batch frequent-itemset mining.

    Each micro-batch is basketized (user -> distinct event types) and
    re-mined with FPGrowth; each batch's itemsets land in the parquet
    sink at `sink_path` under a `batch_id=<id>` partition via DYNAMIC
    partition overwrite — foreachBatch is at-least-once, so a
    re-delivered batch must replace its own partition, not append a
    duplicate row set (the idempotent-write contract the Structured
    Streaming guide prescribes for foreachBatch sinks). `sink_path`
    must be a fresh directory or one already in this hive-partitioned
    layout — flat-file parquet dirs from other writers cannot be
    mixed in (partition discovery would see conflicting depths). A
    model
    snapshot per batch, fully distributed: no result ever rides
    through the driver — itemset counts are exponential in the item
    universe, so a driver-side collect here is the one place this
    operator could fall over at scale. Returns the StreamingQuery.
    """
    from ..operators.mining import fit_fpgrowth

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        baskets = batch_df.groupBy("user_id").agg(
            # no basket-side sort: FPGrowth ignores item order (the
            # t06 c795db8 rationale, extended to this hot per-batch
            # path in the r10 sweep); the output select's sort_array
            # is the only load-bearing one
            F.collect_set("event_type").alias("items")
        )
        model = fit_fpgrowth(baskets, min_support=min_support)
        (
            model.freqItemsets.select(
                F.lit(batch_id).alias("batch_id"),
                F.sort_array("items").alias("items"),
                "freq",
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink_path)
        )

    return (
        events_stream.writeStream.outputMode("append")
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )


try:  # Spark 4 transformWithState surface; absent on older runtimes.
    from pyspark.sql.streaming import StatefulProcessor as _StatefulProcessor
except ImportError:  # pragma: no cover
    _StatefulProcessor = object


class RunningCountsProcessor(_StatefulProcessor):
    """T5 (Spark 4 transformWithStateInPandas): the same running
    (events, purchases) per-user state as _update_user_counts, on the
    modern StatefulProcessor API — typed state handles (getValueState)
    instead of a raw tuple; the surface that also offers timers, TTL
    and list/map state for richer operators. State remains O(#users).
    """

    def init(self, handle) -> None:
        from pyspark.sql.types import LongType, StructField, StructType

        self._state = handle.getValueState(
            "counts",
            StructType(
                [StructField("n", LongType()), StructField("p", LongType())]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        if self._state.exists():
            n, p = self._state.get()
        else:
            n, p = 0, 0
        for pdf in rows:
            n += len(pdf)
            p += int((pdf["event_type"] == "purchase").sum())
        self._state.update((n, p))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_purchases": [p]}
        )

    def close(self) -> None:
        pass


def running_user_counts_tws(events_stream: DataFrame) -> DataFrame:
    """T5 (modern form): arbitrary stateful processing via
    transformWithStateInPandas — result-identical to
    running_user_counts_stream (asserted in tests/test_streaming.py,
    skipped where the runtime lacks google.protobuf, which the TWS
    state-server protocol needs; the applyInPandasWithState twin above
    is the always-available path)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        raise ModuleNotFoundError(
            "transformWithStateInPandas requires google.protobuf "
            "(pyspark[connect] extra); use running_user_counts_stream "
            "on runtimes without it"
        )
    return (
        events_stream.select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningCountsProcessor(),
            outputStructType=RUNNING_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


CDC_OUT_SCHEMA = (
    "user_id BIGINT, last_ts_us BIGINT, last_event_id BIGINT, "
    "last_type STRING, last_value DOUBLE, is_deleted BOOLEAN"
)
CDC_STATE_SCHEMA = "ts_us BIGINT, eid BIGINT, et STRING, val DOUBLE"


def _update_cdc_snapshot(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming last-writer-wins (the cdc_apply twin): state is the
    single winning change per key — (ts_us, event_id, type, value),
    constant size, O(#keys) store. Per micro-batch only the batch's
    own maximum competes with the stored winner; max is associative,
    so the final state is independent of how the feed splits into
    batches (asserted against the batch operator in tests)."""
    best = tuple(state.get) if state.exists else None
    pdf = _sorted_micro_batch(batches, ["ts", "event_id"])
    if pdf is not None:
        row = pdf.iloc[-1]
        cand = (
            int(row["ts"].value // 1_000),  # pandas ns -> micros
            int(row["event_id"]),
            str(row["event_type"]),
            float(row["value"]) if pd.notna(row["value"]) else None,
        )
        if best is None or (cand[0], cand[1]) > (best[0], best[1]):
            best = cand
    if best is None:  # no usable rows in any batch
        return
    state.update(best)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_ts_us": [best[0]],
            "last_event_id": [best[1]],
            "last_type": [best[2]],
            "last_value": [best[3]],
            "is_deleted": [best[2] == "error"],
        }
    )


def cdc_snapshot_stream(events_stream: DataFrame) -> DataFrame:
    """T5-extension: the events feed replayed as a CDC stream — every
    event upserts its user's state, an 'error' event tombstones it
    (the same op mapping as the batch r61 oracle). Update-mode
    emission: the LAST row emitted per user is the current snapshot,
    with deletes visible as is_deleted=true rather than silently
    absent (a streaming sink needs the tombstone row to propagate
    the delete downstream — the Debezium convention)."""
    changes = events_stream.filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    ).select("user_id", "ts", "event_id", "event_type", "value")
    return changes.groupBy("user_id").applyInPandasWithState(
        _update_cdc_snapshot,
        outputStructType=CDC_OUT_SCHEMA,
        stateStructType=CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_OUT_SCHEMA = (
    "event_type STRING, ts_us BIGINT, value DOUBLE, "
    "cusum DOUBLE, drifted BOOLEAN"
)
CUSUM_STATE_SCHEMA = "p DOUBLE, runmin DOUBLE"


def _make_cusum_update(target: float, slack: float, threshold: float):
    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Streaming one-sided CUSUM (the r58 batch twin): state is
        (P_last, runmin_last) — two doubles per key, O(#keys) store.
        Within a micro-batch the recursion is fully vectorized
        (cumsum + minimum.accumulate); across batches the two state
        scalars are exactly the sufficient statistic of the closed
        form S_t = P_t − min(0, min_{j≤t} P_j), so a replay split
        into any number of IN-ORDER batches emits identical cusum
        values (asserted against the batch operator in tests).
        Ordering contract: per-key rows must arrive time-ordered
        ACROSS batches (in-batch ties and disorder are sorted here,
        the (ts, value) batch pin) — the standard per-key-ordered-
        feed requirement of any streaming recurrence; a Kafka
        key-partitioned feed satisfies it, an unordered backfill
        does not (replay through the batch operator instead)."""
        pdf = _sorted_micro_batch(batches, ["ts", "value"])
        if pdf is None:
            return
        p, runmin = (
            (float(state.get[0]), float(state.get[1]))
            if state.exists
            else (0.0, float("inf"))  # inf = "no prefix yet"
        )
        d = pdf["value"].to_numpy(dtype="float64") - target - slack
        pp = p + np.cumsum(d)
        rm = np.minimum(np.minimum.accumulate(pp), runmin)
        cusum = pp - np.minimum(0.0, rm)
        yield pd.DataFrame(
            {
                "event_type": key[0],
                # .value/.astype int64 on a ns-normalized series:
                # arrow may hand either ns or us units, so pin ns
                # first (the cdc twin's micros convention)
                "ts_us": (
                    pdf["ts"].astype("datetime64[ns]").astype("int64")
                    // 1_000
                ).to_numpy(),
                "value": pdf["value"].to_numpy(dtype="float64"),
                "cusum": cusum,
                "drifted": cusum > threshold,
            }
        )
        state.update((float(pp[-1]), float(rm[-1])))

    return update


def cusum_stream(
    events_stream: DataFrame,
    target: float,
    slack: float = 0.0,
    threshold: float = 50.0,
) -> DataFrame:
    """T5-extension #2: true-stream CUSUM drift monitoring per event
    type — the streaming twin of timeseries.cusum_drift (r58), the
    op that turns the batch monitoring flagships (r65/r73) into a
    LIVE alarm. Update-mode emission: every row carries its running
    cusum and drifted flag the moment its micro-batch lands, with
    two doubles of state per key."""
    rows = events_stream.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select("event_type", "ts", "value")
    return rows.groupBy("event_type").applyInPandasWithState(
        _make_cusum_update(float(target), float(slack), float(threshold)),
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_OUT_SCHEMA = (
    "event_type STRING, user_id BIGINT, est_count BIGINT, n_seen BIGINT"
)
HH_STATE_SCHEMA = "items ARRAY<BIGINT>, counts ARRAY<BIGINT>, n BIGINT"


def _make_hh_update(k: int):
    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Streaming Misra–Gries heavy hitters: state is ≤ k
        (item, count) pairs + the stream length — O(k) per key,
        independent of cardinality. Each micro-batch folds its exact
        value_counts into the summary, then applies the mergeable-
        summaries compaction (Agarwal et al.): subtract the (k+1)-th
        largest count from everything and drop non-positives. The
        classic guarantee survives ANY in-order batch split: every
        item with true frequency > n/(k+1) is present, and
        true − n/(k+1) ≤ est ≤ true — the ESTIMATES may differ
        across splits (approximate by design, hence tests-only with
        bound assertions, never a value-hash oracle)."""
        if state.exists:
            items, counts, n = state.get
            summ = dict(zip(items, counts))
            n = int(n)
        else:
            summ, n = {}, 0
        for pdf in batches:
            if pdf.empty:
                continue
            vc = pdf["user_id"].value_counts()
            n += int(vc.sum())
            for item, c in vc.items():  # ≤ batch-distinct items
                summ[int(item)] = summ.get(int(item), 0) + int(c)
            if len(summ) > k:
                sub = sorted(summ.values(), reverse=True)[k]
                summ = {
                    i: c - sub for i, c in summ.items() if c - sub > 0
                }
        if n == 0:
            return
        state.update((list(summ), [summ[i] for i in summ], n))
        if summ:
            yield pd.DataFrame(
                {
                    "event_type": key[0],
                    "user_id": list(summ),
                    "est_count": [summ[i] for i in summ],
                    "n_seen": n,
                }
            )
        else:
            # Compaction can legitimately EMPTY the summary (e.g. k+1
            # equal-count items — subtracting the (k+1)-th largest
            # zeroes everything). Emitting nothing would leave the
            # previous batch's snapshot standing downstream as the
            # key's "current" summary with a stale n_seen; emit ONE
            # NULL-user tombstone row carrying the new n_seen so
            # update-mode consumers can invalidate the old snapshot
            # (code-review r8 finding).
            yield pd.DataFrame(
                {
                    "event_type": key[0],
                    "user_id": pd.array([None], dtype="Int64"),
                    "est_count": [0],
                    "n_seen": n,
                }
            )

    return update


def heavy_hitters_stream(events_stream: DataFrame, k: int = 8) -> DataFrame:
    """T5-extension #3: streaming top-contributor tracking — per
    event type, the Misra–Gries summary of which users drive the
    feed, with O(k) state per key where an exact answer needs
    O(#users). Update-mode emission: each batch re-emits the key's
    current summary; the last emission per key is the final one. The
    live twin of m07's exact top-k — exact when a key has ≤ k
    distinct contributors, guaranteed-superset of the true
    heavy hitters (> n/(k+1) frequency) otherwise. A batch whose
    compaction empties the summary emits one NULL-user tombstone row
    (est_count 0, fresh n_seen) — "no current heavy hitters" — so
    the previous snapshot never masquerades as current."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rows = events_stream.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", "user_id")
    return rows.groupBy("event_type").applyInPandasWithState(
        _make_hh_update(int(k)),
        outputStructType=HH_OUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MOM_OUT_SCHEMA = (
    "event_type STRING, n BIGINT, mean DOUBLE, std_pop DOUBLE"
)
MOM_STATE_SCHEMA = "n BIGINT, mean DOUBLE, m2 DOUBLE"


def _update_running_moments(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming mean/variance via Chan's parallel-merge form of
    Welford: state is (n, mean, M2) — three numbers per key, the
    sufficient statistic of the population moments, merged per batch
    from the batch's own vectorized moments:

        δ = μ_b − μ;  μ' = μ + δ·n_b/n';  M2' = M2 + M2_b + δ²·n·n_b/n'

    Numerically stable where a naive Σx/Σx² running sum cancels
    catastrophically on large-mean data; ORDER-insensitive (unlike
    cusum's recurrence, moments need no ordering contract — any
    batch split converges to the same values up to fp merge noise,
    asserted against batch aggregates in tests)."""
    n, mean, m2 = (
        (int(state.get[0]), float(state.get[1]), float(state.get[2]))
        if state.exists
        else (0, 0.0, 0.0)
    )
    for pdf in batches:
        vals = pdf["value"].dropna().to_numpy(dtype="float64")
        nb = len(vals)
        if nb == 0:
            continue
        mb = float(vals.mean())
        m2b = float(((vals - mb) ** 2).sum())
        delta = mb - mean
        tot = n + nb
        mean += delta * nb / tot
        m2 += m2b + delta * delta * n * nb / tot
        n = tot
    if n == 0:
        return
    state.update((n, mean, m2))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n": [n],
            "mean": [mean],
            "std_pop": [float(np.sqrt(m2 / n))],
        }
    )


def running_moments_stream(events_stream: DataFrame) -> DataFrame:
    """T5-extension #4: live per-key mean/std — the state that turns
    r44's batch z-score monitor into a streaming alarm (a consumer
    joins incoming values against the latest (mean, std) emission).
    Three doubles of state per key; update-mode emission, last row
    per key is current."""
    rows = events_stream.filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", "value")
    return rows.groupBy("event_type").applyInPandasWithState(
        _update_running_moments,
        outputStructType=MOM_OUT_SCHEMA,
        stateStructType=MOM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HOLT_OUT_SCHEMA = (
    "event_type STRING, ts_us BIGINT, value DOUBLE, "
    "level DOUBLE, trend DOUBLE"
)
HOLT_STATE_SCHEMA = "level DOUBLE, trend DOUBLE, n BIGINT, x0 DOUBLE"


def _make_holt_update(alpha: float, beta: float):
    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Streaming Holt linear smoothing: `recurrences.holt_step`,
        the kernel of the r82 batch twin, from (level, trend, n_seen)
        in GroupState. Any IN-ORDER batch split emits holt_linear's
        values except the first row's trend, which holt_linear
        backfills with x_2 − x_1 and a stream emits as NULL. The
        state's unread fourth field (the first value) keeps existing
        checkpoints' state schema. Same per-key-ordered-feed contract
        as cusum_stream."""
        pdf = _sorted_micro_batch(batches, ["ts", "value"])
        if pdf is None:
            return
        xs = pdf["value"].to_numpy(dtype="float64")
        level, trend, n, x0 = state.get if state.exists else (
            0.0, 0.0, 0, xs[0]
        )
        (level, trend, n), (lv, tr) = step_one_series(
            holt_step, (level, trend, n), xs, alpha, beta
        )
        state.update((level, trend, n, float(x0)))
        yield pd.DataFrame(
            {
                "event_type": key[0],
                "ts_us": (
                    pdf["ts"].astype("datetime64[ns]").astype("int64")
                    // 1_000
                ).to_numpy(),
                "value": xs,
                "level": lv,
                "trend": tr,
            }
        )

    return update


def holt_stream(
    events_stream: DataFrame, alpha: float = 0.2, beta: float = 0.3
) -> DataFrame:
    """T5-extension #4: true-stream Holt linear smoothing per event
    type — the streaming twin of timeseries.holt_linear (the staged
    r82), turning the trend-aware forecast baseline into a live
    signal (next-batch expectation = level + trend at any moment).
    Update-mode emission; four scalars of state per key."""
    # the batch twin's parameter domain
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 < beta <= 1.0:
        raise ValueError(f"beta must be in (0, 1], got {beta}")
    rows = events_stream.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select("event_type", "ts", "value")
    return rows.groupBy("event_type").applyInPandasWithState(
        _make_holt_update(float(alpha), float(beta)),
        outputStructType=HOLT_OUT_SCHEMA,
        stateStructType=HOLT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cdc_merge_stream(
    updates_stream: DataFrame,
    table_path: str,
    keys: list[str],
    partition_col: str,
    op_col: str | None = None,
    delete_marker: str = "D",
    base_schema=None,
):
    """Streaming CDC apply into a partitioned parquet table: each
    micro-batch runs through merge_upsert_partitioned (broadcast-semi
    partition pruning + key anti-join + dynamic overwrite, the s16
    primitive) — the canonical foreachBatch MERGE sink that turns a
    change feed into a maintained lakehouse table.

    Consistency story (the Structured Streaming guide's contract):
    foreachBatch is AT-LEAST-ONCE, so the per-batch write must be
    idempotent — and a MERGE is: re-applying the same update batch to
    the post-merge table anti-joins out exactly the rows it inserted
    and re-inserts them (deletes re-delete nothing). What a MERGE is
    NOT robust to is duplicate keys WITHIN one batch (both rows would
    insert), so each batch is required key-unique — the caller
    pre-compacts the feed to latest-per-key (the standard CDC
    compaction) and this sink RAISES loudly on violation rather than
    silently duplicating. Returns the configured DataStreamWriter
    (NOT a started StreamingQuery): the caller calls .start() —
    and may override the availableNow trigger first (one start,
    drain, stop by default).
    """
    from ..sources.io import merge_upsert_partitioned

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dupes = (
            batch_df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
        )
        if not dupes.isEmpty():
            raise ValueError(
                "cdc_merge_stream: duplicate merge keys within one "
                "micro-batch — compact the feed to latest-per-key "
                "upstream (a MERGE would insert both)"
            )
        merge_upsert_partitioned(
            batch_df.sparkSession,
            table_path,
            batch_df,
            keys,
            partition_col,
            op_col=op_col,
            delete_marker=delete_marker,
            # pass-through so the FIRST merge into a still-empty table
            # works (a fileless directory has no inferable schema)
            base_schema=base_schema,
        )

    return (
        updates_stream.writeStream.outputMode("update")
        .foreachBatch(apply)
        .trigger(availableNow=True)
    )


TTL_OUT_SCHEMA = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, is_kept BOOLEAN"
TTL_STATE_SCHEMA = "anchor_us BIGINT"


def ttl_dedup_stream(
    events_stream: DataFrame,
    ttl: str = "10 minutes",
) -> DataFrame:
    """TRUE stateful-stream twin of operators/timeseries.py::ttl_dedup
    — the per-key greedy throttle chain (keep a row iff >= ttl after
    the last KEPT row) as applyInPandasWithState, emitting EVERY row
    with its is_kept verdict.

    Why this exists beside the r87 dropDuplicatesWithinWatermark
    twin: the built-in evicts state off the WATERMARK, so gaps between
    delay and 2*delay are implementation-timing territory (the
    ambiguity band in tests/test_ttl_dedup.py). This operator owns its
    state and steps it with `recurrences.ttl_step`, the kernel
    ttl_dedup runs per Arrow batch, so it reproduces the batch chain
    EXACTLY on in-order streams, ambiguity band included.

    State is ONE int64 per key (the last kept anchor in epoch
    micros): the state store holds O(#keys), not O(#events).
    In-order contract: rows must arrive in event-time order per key
    across micro-batches (the replay harness guarantees it; a
    production feed uses the upstream log's per-key ordering) —
    within a batch the function sorts on (ts, event_id) itself.
    NoTimeout: the anchor never needs eviction to stay correct; add
    a ProcessingTimeTimeout in deployments where dead keys must be
    reclaimed.
    """
    ttl_us = duration_us(ttl, what="ttl")

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = _sorted_micro_batch(batches, ["ts", "event_id"])
        if pdf is None:
            return
        us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        seed = (state.get[0], True) if state.exists else (0, False)
        (anchor, _), kept = step_one_series(ttl_step, seed, us, ttl_us)
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "ts": pdf["ts"].values,
                "event_id": pdf["event_id"].values,
                "is_kept": kept,
            }
        )
        state.update((anchor,))

    return (
        # NULL-ts rows are dropped like the batch twin drops them:
        # pandas would turn NaT into an int64-min "ancient" timestamp
        events_stream.filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=TTL_OUT_SCHEMA,
            stateStructType=TTL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
