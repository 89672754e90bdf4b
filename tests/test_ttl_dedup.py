"""Event-time TTL dedup (operators/timeseries.py::ttl_dedup) — PROMOTED round 8 as r87_ttl_dedup: the DuckDB oracle moved
VERBATIM into the @query registration (tests/test_oracle_parity.py
now carries the compare); the greedy-chain closed forms, the
tie raise, and the TRUE Structured Streaming twin
(dropDuplicatesWithinWatermark agrees outside the delay..2*delay
eviction-ambiguity band) stay here."""

from pyspark.sql import functions as F

from miningfrequentpattern_spark.operators.timeseries import ttl_dedup
import pytest
def test_ttl_dedup_greedy_chain_closed_form(spark):
    """ts = 0, 5, 10, 21 min with ttl 10: keep 0 (anchor), drop 5,
    keep 10 (>= 0+10), drop... wait 21 >= 10+10 -> keep. Chain:
    keep, drop, keep, keep."""
    rows = [("u", f"2024-01-01 00:{m:02d}:00", i)
            for i, m in enumerate([0, 5, 10, 21])]
    df = spark.createDataFrame(rows, "user_id string, d string, event_id long").select(
        "user_id", F.to_timestamp("d").alias("ts"), "event_id"
    )
    got = {
        r["event_id"]: r["is_kept"]
        for r in ttl_dedup(df, ["user_id"], "ts", "10 minutes",
                           tiebreak_col="event_id").collect()
    }
    assert got == {0: True, 1: False, 2: True, 3: True}


def test_ttl_dedup_anchor_is_kept_row_not_last_seen(spark):
    """The chain anchors on KEPT rows only: 0, 9, 18 min with ttl 10
    keeps 0 and 18 (18 >= 0+10) — a last-SEEN anchor would wrongly
    drop 18 (18 < 9+10)."""
    rows = [("u", f"2024-01-01 00:{m:02d}:00", i)
            for i, m in enumerate([0, 9, 18])]
    df = spark.createDataFrame(rows, "user_id string, d string, event_id long").select(
        "user_id", F.to_timestamp("d").alias("ts"), "event_id"
    )
    got = {
        r["event_id"]: r["is_kept"]
        for r in ttl_dedup(df, ["user_id"], "ts", "10 minutes",
                           tiebreak_col="event_id").collect()
    }
    assert got == {0: True, 1: False, 2: True}


def test_ttl_dedup_ties_raise_without_tiebreak(spark):
    import pytest

    df = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00", 1), ("u", "2024-01-01 00:00:00", 2)],
        "user_id string, d string, event_id long",
    ).select("user_id", F.to_timestamp("d").alias("ts"), "event_id")
    with pytest.raises(Exception, match="order-ambiguous|duplicate"):
        ttl_dedup(df, ["user_id"], "ts", "10 minutes").collect()
    # with the tiebreak it resolves deterministically
    got = ttl_dedup(
        df, ["user_id"], "ts", "10 minutes", tiebreak_col="event_id"
    ).collect()
    assert sum(r["is_kept"] for r in got) == 1


@pytest.mark.slow  # driver test budget (VERDICT r11 item 2):
# heavyweight property/stream-twin cert, full-suite-only
def test_ttl_dedup_stream_twin_agrees_outside_ambiguity_band(
    spark, tmp_path
):
    """TRUE-STREAM twin: dropDuplicatesWithinWatermark(delay) keeps a
    key's first occurrence and drops re-arrivals while its state
    lives. State eviction is WATERMARK-driven (evict when watermark >
    anchor + delay, watermark = max_ts - delay), so gaps between
    delay and 2*delay are implementation-timing territory — the
    fixture here uses gaps either < delay (must drop) or > 2*delay
    (state provably evicted, must keep), where the streaming result
    equals the batch greedy chain's kept set exactly."""
    rows = [
        # user a: 00:00 keep; 00:05 drop (< 10); 00:45 keep (the m1
        # mover advanced the watermark to 00:26 > anchor 00:00 + 10,
        # so the state is provably evicted BEFORE 00:45 processes);
        # 00:47 drop. Movers are SINGLE-USE keys: a re-arriving mover
        # would itself sit in the ambiguity band.
        ("a", "2024-01-01 00:00:00", 1),
        ("b", "2024-01-01 00:01:00", 5),
        ("a", "2024-01-01 00:05:00", 2),
        ("m1", "2024-01-01 00:36:00", 7),
        # eviction runs against the watermark as of the batch START,
        # i.e. one batch AFTER the advance lands — m3 is that extra
        # batch, so a's state is gone before 00:45 processes
        ("m3", "2024-01-01 00:38:00", 8),
        ("a", "2024-01-01 00:45:00", 3),
        ("a", "2024-01-01 00:47:00", 4),
        ("m2", "2024-01-01 02:00:00", 6),
    ]
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(
        rows, "user_id string, d string, event_id long"
    ).select("user_id", F.to_timestamp("d").alias("ts"), "event_id")
    # one file per row, named in event-time order => in-order replay
    for i, r in enumerate(batch.orderBy("ts", "event_id").collect()):
        spark.createDataFrame([r], batch.schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/f{i:03d}")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id"])
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_kept = {
        r["event_id"]
        for r in spark.sql("SELECT event_id FROM ttl_twin").collect()
    }
    batch_kept = {
        r["event_id"]
        for r in ttl_dedup(
            batch, ["user_id"], "ts", "10 minutes", tiebreak_col="event_id"
        ).filter("is_kept").collect()
    }
    assert stream_kept == batch_kept == {1, 3, 5, 6, 7, 8}


def test_ttl_dedup_fixture_chain_actually_throttles(spark):
    """r84 standing rule, TTL form: the fixture must exercise BOTH
    branches of the chain (kept and dropped rows), or the
    certification is trivially green on an all-kept corpus."""
    from pyspark.sql import functions as F

    from miningfrequentpattern_spark.sources.io import load_table

    from .conftest import SF_ORACLE

    ev = load_table(spark, SF_ORACLE, "events")
    out = ttl_dedup(
        ev, ["user_id"], "ts", "10 minutes", tiebreak_col="event_id"
    )
    per = out.agg(
        F.sum(F.col("is_kept").cast("int")).alias("k"),
        F.sum((~F.col("is_kept")).cast("int")).alias("d"),
    ).collect()[0]
    assert per["k"] > 0 and per["d"] > 0, (
        "TTL fixture never drops (or never keeps) — certification "
        f"would be one-sided: {per}"
    )


@pytest.mark.slow  # driver test budget (VERDICT r11 item 2):
# heavyweight property/stream-twin cert, full-suite-only
def test_ttl_dedup_stateful_stream_twin_exact_everywhere(
    spark, tmp_path
):
    """The applyInPandasWithState twin (streaming/stateful.py::
    ttl_dedup_stream) owns its anchor state, so it matches the batch
    greedy chain EXACTLY — including gaps INSIDE the delay..2*delay
    watermark-eviction ambiguity band where the
    dropDuplicatesWithinWatermark twin's behavior is implementation
    timing (ts=15min: 5 min past the 10-min ttl but well inside the
    built-in's ambiguity band — the chain must KEEP it and re-anchor,
    then DROP 21min < 15+10, then keep 27min >= 25)."""
    from pyspark.sql import functions as F

    from miningfrequentpattern_spark.streaming.stateful import (
        ttl_dedup_stream,
    )
    from miningfrequentpattern_spark.operators.timeseries import ttl_dedup

    rows = [
        (1, "2024-01-01 00:00:00", 1),
        (1, "2024-01-01 00:05:00", 2),   # drop (< 10)
        (1, "2024-01-01 00:15:00", 3),   # KEEP — ambiguity band for the built-in
        (1, "2024-01-01 00:21:00", 4),   # drop (< 15+10)
        (1, "2024-01-01 00:27:00", 5),   # keep (>= 25)
        (2, "2024-01-01 00:00:30", 6),
        (2, "2024-01-01 00:10:30", 7),   # keep (exactly ttl)
    ]
    batch = spark.createDataFrame(
        rows, "user_id long, d string, event_id long"
    ).select("user_id", F.to_timestamp("d").alias("ts"), "event_id")
    src = str(tmp_path / "src")
    # one file per row in event-time order => in-order per-key replay
    for i, r in enumerate(batch.orderBy("ts", "event_id").collect()):
        spark.createDataFrame([r], batch.schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/f{i:03d}")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = (
        ttl_dedup_stream(stream, ttl="10 minutes")
        .writeStream.format("memory")
        .queryName("ttl_state_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["is_kept"])
        for r in spark.sql(
            "SELECT event_id, is_kept FROM ttl_state_twin"
        ).collect()
    }
    want = {
        (r["event_id"], r["is_kept"])
        for r in ttl_dedup(
            batch, ["user_id"], "ts", "10 minutes", tiebreak_col="event_id"
        ).collect()
    }
    assert got == want
    # and the hand-traced chain, to pin the band semantics explicitly
    assert want == {
        (1, True), (2, False), (3, True), (4, False), (5, True),
        (6, True), (7, True),
    }


def test_ttl_dedup_stream_rejects_bad_ttl(spark):
    import pytest

    from miningfrequentpattern_spark.streaming.stateful import (
        ttl_dedup_stream,
    )

    with pytest.raises(ValueError, match="ttl"):
        ttl_dedup_stream(None, ttl="7 fortnights")


def test_ttl_dedup_stream_multi_chunk_out_of_order_batch(
    spark, tmp_path
):
    """Cross-chunk ordering regression (code-review r8): a key's
    micro-batch arrives at applyInPandasWithState as MULTIPLE Arrow
    chunks (maxRecordsPerBatch-capped) with no intra-group order
    guarantee. Sorting each chunk independently lets a
    later-timestamped chunk advance the anchor first; the operator
    must buffer and sort the whole group. Fixture: ONE micro-batch,
    one key, 6 rows written ts-DESCENDING, arrow batches capped at 2
    rows — per-chunk sorting would anchor on a late row and diverge
    from the batch chain."""
    from miningfrequentpattern_spark.operators.timeseries import ttl_dedup
    from miningfrequentpattern_spark.streaming.stateful import (
        ttl_dedup_stream,
    )

    rows = [
        (1, "2024-01-01 00:50:00", 6),
        (1, "2024-01-01 00:41:00", 5),
        (1, "2024-01-01 00:30:00", 4),
        (1, "2024-01-01 00:15:00", 3),
        (1, "2024-01-01 00:05:00", 2),
        (1, "2024-01-01 00:00:00", 1),
    ]
    batch = spark.createDataFrame(
        rows, "user_id long, d string, event_id long"
    ).select("user_id", F.to_timestamp("d").alias("ts"), "event_id")
    src = str(tmp_path / "src")
    # ONE file holding all rows in ts-DESCENDING order => one
    # micro-batch whose arrow chunks (cap 2) split late rows from
    # early ones
    batch.coalesce(1).write.parquet(f"{src}/f000")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(batch.schema).parquet(
            f"{src}/f*"
        )
        q = (
            ttl_dedup_stream(stream, ttl="10 minutes")
            .writeStream.format("memory")
            .queryName("ttl_chunk_twin")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    got = {
        (r["event_id"], r["is_kept"])
        for r in spark.sql(
            "SELECT event_id, is_kept FROM ttl_chunk_twin"
        ).collect()
    }
    want = {
        (r["event_id"], r["is_kept"])
        for r in ttl_dedup(
            batch, ["user_id"], "ts", "10 minutes", tiebreak_col="event_id"
        ).collect()
    }
    assert got == want
    # the hand-traced chain: 0 keep, 5 drop, 15 keep, 30 keep,
    # 41 keep, 50 drop (< 41+10)
    assert want == {
        (1, True), (2, False), (3, True), (4, True), (5, True),
        (6, False),
    }


@pytest.mark.slow  # driver test budget (VERDICT r11 item 2):
# heavyweight property/stream-twin cert, full-suite-only
def test_ttl_dedup_stream_drops_null_ts_like_batch(spark, tmp_path):
    """NULL-ts rows are DROPPED by the stream exactly as the batch
    twin drops them (code-review r9: unfiltered NaT became the
    int64-min sentinel — an 'ancient' anchor that marked the NULL
    row kept and poisoned every later verdict for the key)."""
    from pyspark.sql import functions as F

    from miningfrequentpattern_spark.operators.timeseries import ttl_dedup
    from miningfrequentpattern_spark.streaming.stateful import (
        ttl_dedup_stream,
    )

    rows = [
        (1, None, 1),                    # NULL ts — must vanish
        (1, "2024-01-01 00:00:00", 2),   # keep (anchor)
        (1, "2024-01-01 00:05:00", 3),   # drop (< 10 min)
    ]
    batch = spark.createDataFrame(
        rows, "user_id long, d string, event_id long"
    ).select("user_id", F.to_timestamp("d").alias("ts"), "event_id")
    src = str(tmp_path / "src")
    for i, r in enumerate(batch.collect()):
        spark.createDataFrame([r], batch.schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/f{i:03d}")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = (
        ttl_dedup_stream(stream, ttl="10 minutes")
        .writeStream.format("memory")
        .queryName("ttl_null_ts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["is_kept"])
        for r in spark.sql(
            "SELECT event_id, is_kept FROM ttl_null_ts"
        ).collect()
    }
    want = {
        (r["event_id"], r["is_kept"])
        for r in ttl_dedup(
            batch, ["user_id"], "ts", "10 minutes", tiebreak_col="event_id"
        ).collect()
    }
    assert got == want == {(2, True), (3, False)}


def test_ttl_tiebreak_in_carry_or_ts_does_not_duplicate(spark):
    """r10 sweep (the ewma r8 guard, extended): a tiebreak that also
    rides in carry — or IS the ts column — previously selected the
    column twice and crashed deep in the pandas worker with an opaque
    non-unique-label error."""
    from pyspark.sql import functions as F

    from miningfrequentpattern_spark.operators.timeseries import (
        ttl_dedup,
    )

    df = spark.createDataFrame(
        [(1, 10, 100.0), (1, 11, 200.0)], "user_id long, event_id long, v double"
    ).withColumn("ts", F.timestamp_seconds(F.col("event_id") * 1000))
    out = ttl_dedup(
        df, ["user_id"], "ts", "10 minutes",
        tiebreak_col="event_id", carry=("event_id",),
    )
    assert out.count() == 2 and out.columns.count("event_id") == 1
    out2 = ttl_dedup(df, ["user_id"], "ts", "10 minutes", tiebreak_col="ts")
    assert out2.count() == 2


def test_ttl_dedup_tie_with_both_tiebreaks_null_raises(spark):
    """A tied ts whose long tiebreak is NULL on both rows is still a
    tie: the two rows are equal on every order column, NULL-safely."""
    df = spark.createDataFrame(
        [
            ("u", "2024-01-01 00:00:00", None),
            ("u", "2024-01-01 00:00:00", None),
            ("u", "2024-01-01 00:20:00", 3),
        ],
        "user_id string, d string, event_id long",
    ).select("user_id", F.to_timestamp("d").alias("ts"), "event_id")
    with pytest.raises(Exception, match="duplicate"):
        ttl_dedup(
            df, ["user_id"], "ts", "10 minutes", tiebreak_col="event_id"
        ).collect()


def test_ttl_dedup_null_tiebreak_sorts_last_like_oracle(spark):
    """At a tied ts the row with a non-NULL tiebreak comes first and
    anchors the chain, as in the r87 recursive CTE (`ORDER BY
    epoch_us(ts), event_id`, NULLS LAST), run in DuckDB on the same
    rows."""
    import duckdb
    import pandas as pd

    from miningfrequentpattern_spark.queries.registry import (
        ORACLES,
        load_all_packs,
    )

    load_all_packs()
    rows = [
        ("u", "2024-01-01 00:00:00", None),
        ("u", "2024-01-01 00:00:00", 2),
        ("u", "2024-01-01 00:05:00", 3),
        ("u", "2024-01-01 00:12:00", None),
        ("u", "2024-01-01 00:12:00", 5),
        ("v", "2024-01-01 00:00:00", 6),
        ("v", "2024-01-01 00:00:00", None),
        ("v", "2024-01-01 00:10:00", 8),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, d string, event_id long"
    ).select("user_id", F.to_timestamp("d").alias("ts"), "event_id")
    got = {
        (r["user_id"], str(r["ts"]), r["event_id"], r["is_kept"])
        for r in ttl_dedup(
            df, ["user_id"], "ts", "10 minutes", tiebreak_col="event_id"
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows]),
                "event_id": pd.array([r[2] for r in rows], dtype="Int64"),
            }
        ),
    )
    want = {
        (u, str(ts), e, k)
        for u, ts, e, k in con.execute(ORACLES["r87_ttl_dedup"]).fetchall()
    }
    assert got == want
    # the non-NULL row of each tied pair is the one kept
    assert ("u", "2024-01-01 00:00:00", 2, True) in got
    assert ("u", "2024-01-01 00:12:00", 5, True) in got
    assert ("v", "2024-01-01 00:00:00", 6, True) in got
