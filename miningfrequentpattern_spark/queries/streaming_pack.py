"""Streaming pack (SURVEY.md §2.5): event-time windowing, sessionization,
dedup, stateful processing, micro-batch mining.

Registry entries are the BATCH-EQUIVALENT forms — identical expression
trees to the streaming plans (see streaming/windows.py docstring for
why that equivalence is exact). The true streaming execution (readStream
+ watermark + availableNow) of the same operators is exercised in
tests/test_streaming.py, where batch-vs-stream equality is asserted;
the driver's DuckDB oracle checks the batch plan here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import load_table
from ..streaming.windows import (
    dedup_events,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from .registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@query(
    "t01_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def t01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: tumbling 1-hour event-time windows per event type."""
    return tumbling_counts(_events(spark, sf_dir), "1 hour")


@query(
    "t02_sliding_window",
    oracle="""
    WITH c AS (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts)
                       - INTERVAL '30 minutes']) AS window_start
      FROM events)
    SELECT window_start, count(*) AS n_events
    FROM c GROUP BY 1
    """,
)
def t02_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: sliding windows (1h width / 30min slide — every event falls
    in exactly two windows; the oracle enumerates both candidate
    starts per event, which is the same expansion Spark's window
    generator performs)."""
    return sliding_counts(_events(spark, sf_dir), "1 hour", "30 minutes")


@query(
    "t03_session_window",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    y AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events, max(ts) AS last_ts
    FROM y GROUP BY user_id, sid
    """,
)
def t03_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 30-minute-gap session windows per user, cross-checked
    against the classic gaps-and-islands SQL (lag + cumulative flag).
    Locks Spark's session semantics — an event arriving EXACTLY gap
    after the previous one still MERGES into the session (probed on
    4.1.2: events at 12:00/12:30/12:59:59 with a 30-min gap form ONE
    session of 3; the session extends to last_ts + gap and the end is
    exclusive of strictly-later arrivals only) — to the oracle's
    strict `>` split (code-review r8; the previous `>=` oracle
    documented the opposite boundary and held only because the
    fixture's µs-grain timestamps never land on an exact 30:00 gap)."""
    return session_counts(_events(spark, sf_dir), "30 minutes")


@query(
    "t04_dedup_first_event",
    oracle="""
    SELECT event_id, user_id, event_type, ts FROM (
      SELECT event_id, user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def t04_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (batch form): deterministic first-event dedup per
    (user, event_type). The streaming twin
    (dropDuplicatesWithinWatermark) runs in tests/test_streaming.py."""
    out = dedup_events(
        _events(spark, sf_dir), keys=["user_id", "event_type"]
    )
    return out.select("event_id", "user_id", "event_type", "ts")


@query(
    "t05_stateful_user_counts",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
    FROM events GROUP BY user_id
    """,
)
def t05_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (batch form): per-user running counts via the SAME pandas
    state function the streaming applyInPandasWithState variant uses —
    each user's events still reach it as one whole pandas frame.
    Oracle-checked because the final state is deterministic.

    The sorted-partition seam (`_per_group_map_over_sorted_partitions`)
    runs the per-group function through `_each_series`, paying the
    Python/Arrow round-trip per Arrow batch rather than per user; only
    the two consumed columns cross the boundary. Same single user_id
    exchange as `groupBy(user_id).applyInPandas`; the streaming twin
    (tests/test_streaming.py) keeps the applyInPandasWithState
    semantic demo."""
    from ..operators.timeseries import (
        _each_series,
        _per_group_map_over_sorted_partitions,
    )

    ev = _events(spark, sf_dir)

    import pandas as pd

    def counts(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "n_purchases": [int((pdf["event_type"] == "purchase").sum())],
            }
        )

    return _per_group_map_over_sorted_partitions(
        ev.select("user_id", "event_type"),
        keys=["user_id"],
        sort_cols=[],
        batch_fn=_each_series(counts),
        schema="user_id BIGINT, n_events BIGINT, n_purchases BIGINT",
    )


@query(
    "t05b_stateful_user_counts_native",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
    FROM events GROUP BY user_id
    """,
)
def t05b_stateful_user_counts_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T5 (native twin of t05): the same per-user final state as the
    grouped-map pandas form, expressed as groupBy().agg so the whole
    query stays inside codegen — no Arrow transfer of every event row.
    This is the form a 100 TB pipeline should run (partial aggregation
    map-side, one shuffle on user_id); the pandas variant remains
    registered as the U2 grouped-map surface proof."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
    )


@query(
    "t06_microbatch_mining",
    oracle="""
    WITH tok AS (SELECT DISTINCT user_id, event_type AS item FROM events),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    c2 AS (SELECT a.user_id, a.item AS i1, b.item AS i2
           FROM tok a JOIN tok b
           ON b.user_id = a.user_id AND b.item > a.item),
    c3 AS (SELECT p.user_id, p.i1, p.i2, t.item AS i3
           FROM c2 p JOIN tok t
           ON t.user_id = p.user_id AND t.item > p.i2),
    c4 AS (SELECT p.user_id, p.i1, p.i2, p.i3, t.item AS i4
           FROM c3 p JOIN tok t
           ON t.user_id = p.user_id AND t.item > p.i3),
    c5 AS (SELECT p.user_id, p.i1, p.i2, p.i3, p.i4, t.item AS i5
           FROM c4 p JOIN tok t
           ON t.user_id = p.user_id AND t.item > p.i4),
    k1 AS (SELECT item AS itemset, count(*) AS freq FROM tok GROUP BY 1),
    k2 AS (SELECT i1 || ' ' || i2 AS itemset, count(*) AS freq
           FROM c2 GROUP BY 1),
    k3 AS (SELECT i1 || ' ' || i2 || ' ' || i3 AS itemset,
                  count(*) AS freq FROM c3 GROUP BY 1),
    k4 AS (SELECT i1 || ' ' || i2 || ' ' || i3 || ' ' || i4 AS itemset,
                  count(*) AS freq FROM c4 GROUP BY 1),
    k5 AS (SELECT i1 || ' ' || i2 || ' ' || i3 || ' ' || i4 || ' ' || i5
                    AS itemset,
                  count(*) AS freq FROM c5 GROUP BY 1),
    lat AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2
            UNION ALL SELECT * FROM k3 UNION ALL SELECT * FROM k4
            UNION ALL SELECT * FROM k5)
    SELECT itemset, freq FROM lat
    WHERE freq >= ceil(0.2 * (SELECT n_users FROM n))
    """,
)
def t06_microbatch_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 (batch form): frequent event-type itemsets over per-user
    baskets — what each foreachBatch invocation of the streaming miner
    computes (tests run the real stream).

    Oracle: the event-type universe has 5 members, so the FULL itemset
    lattice (≤31 sets) is enumerated exactly with ascending-item
    chained joins up to k=5 — no support-pruned level can be missed."""
    from ..operators.mining import fit_fpgrowth

    ev = _events(spark, sf_dir)
    # no sort_array on the baskets: FPGrowth ignores item order and
    # the output re-sorts freqItemsets.items — the only load-bearing
    # sort is that one (code-review r8)
    baskets = ev.groupBy("user_id").agg(
        F.collect_set("event_type").alias("items")
    )
    model = fit_fpgrowth(baskets, min_support=0.2)
    return model.freqItemsets.select(
        F.array_join(F.sort_array("items"), " ").alias("itemset"), "freq"
    ).orderBy(F.desc("freq"), "itemset")


@query(
    "t07_stream_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.ts,
           c.c_mktsegment, c.c_name
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def t07_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 (stream-static dimension join, batch twin): every event
    enriched with its customer's market segment via
    streaming/windows.enrich_events_stream — the SAME function the
    true-stream test drives with readStream+availableNow
    (tests/test_streaming.py asserts batch/stream equality), applied
    here to the batch relation so the join itself gets a full
    value-hash oracle. The static side is explicitly broadcast in the
    operator: a stream-static join re-evaluates the static plan per
    micro-batch, so broadcasting is what keeps the stream side's
    partitioning untouched batch after batch (plan asserted in
    tests/test_plans.py)."""
    from ..streaming.windows import enrich_events_stream

    ev = _events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    return enrich_events_stream(ev, cust)
