"""relational.global_row_number when the input carries a column that
is not an order key."""

import random

from pyspark.sql import functions as F

from miningfrequentpattern_spark.operators.relational import global_row_number


def test_global_row_number_payload_column_ranks_match_pandas(spark):
    """A payload column beside the order keys must not split the plan
    into two range exchanges with their own sampled bounds: at 8
    shuffle partitions the ranks are exactly 1..n in (v, id) order,
    with each row's payload intact. The plan is checked too, because
    whether two sets of sampled bounds give wrong ranks depends on
    the sample: one range exchange, reused by the count leg."""
    rng = random.Random(11)
    rows = [(i, rng.randrange(300), f"p{i * 7919 % 4001}") for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, v long, payload string")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ranked = global_row_number(
            df.repartition(6), [F.col("v").asc(), F.col("id").asc()]
        )
        got = ranked.toPandas()
        # reuse is decided by AQE at run time: read the final plan
        plan = ranked._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    range_exchanges = [
        ln for ln in lines
        if "Exchange rangepartitioning" in ln and "Reused" not in ln
    ]
    assert len(range_exchanges) == 1, plan
    assert any("ReusedExchange" in ln for ln in lines), plan
    want = {
        (i, p): r
        for r, (i, _, p) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])), 1)
    }
    assert sorted(got["global_rank"]) == list(range(1, len(rows) + 1))
    assert dict(zip(zip(got["id"], got["payload"]), got["global_rank"])) == want
