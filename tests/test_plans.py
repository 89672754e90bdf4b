"""Physical-plan audits: the scale properties the docstrings promise
must be visible in the actual plans (.explain formatted), not just
asserted in prose. These are the checks that catch a silent
regression to SortMergeJoin or a lost filter pushdown."""

import re
import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from miningfrequentpattern_spark.queries.registry import (
    QUERIES,
    load_all_packs,
)

from .conftest import SF_ORACLE

load_all_packs()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_ORACLE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan_of(spark, "r01_filter_project")
    assert "PushedFilters:" in p
    # The equality predicate must be pushed into the parquet scan.
    assert "EqualTo(l_returnflag,R)" in p.replace(" ", "")


def test_column_pruning(spark):
    p = plan_of(spark, "r01_filter_project")
    # ReadSchema must NOT include columns the query never touches.
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schema, p
    assert "l_tax" not in read_schema[0]
    assert "l_suppkey" not in read_schema[0]


def test_star_join_broadcasts_dims(spark):
    p = plan_of(spark, "r03_local_supplier_volume")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_agg_is_partial_then_final(spark):
    p = plan_of(spark, "r02_pricing_summary")
    # Two HashAggregate nodes = map-side partial + final (the Hadoop
    # combiner equivalent, SURVEY.md §4).
    assert p.count("HashAggregate") >= 2
    # Codegen visibility: AQE's formatted plan omits codegen stage
    # annotations pre-execution, so inspect codegen mode explicitly.
    df = QUERIES["r02_pricing_summary"](spark, SF_ORACLE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen subtrees" in buf.getvalue()


def test_topk_uses_bounded_sort(spark):
    p = plan_of(spark, "r15_top25_orders")
    # Global ORDER BY + LIMIT must compile to TakeOrderedAndProject
    # (per-partition heaps), never a full sort.
    assert "TakeOrderedAndProject" in p


def test_semi_join_stays_semi(spark):
    p = plan_of(spark, "r05b_parts_with_bulk_orders")
    assert "LeftSemi" in p


def test_no_cartesian_in_blocked_jaccard(spark):
    # The inverted-index rewrite must not contain a cartesian product.
    # l02 registers the guard-off exact plan (no guard operators — at
    # fixture scale the guard is pure overhead). l02f registers the
    # SAMPLED-regime guarded twin: the hot-shingle prefix filter must
    # appear as a broadcast join of the per-block hot SETS applied to
    # the document arrays via array_except BEFORE the explode —
    # map-side, hot postings never enter any shuffle, and the carried
    # set sizes are post-guard by construction (no denominator joins).
    p = plan_of(spark, "l02_ngram_jaccard_pairs")
    assert "CartesianProduct" not in p
    assert "array_except" not in p
    assert "BroadcastNestedLoopJoin" not in p
    pg = plan_of(spark, "l02f_ngram_jaccard_guarded")
    assert "CartesianProduct" not in pg
    assert "array_except" in pg
    assert "BroadcastHashJoin" in pg
    # Sampled estimate feeds the hot list — the plan must carry the
    # document Sample, not a second full-corpus shingling pass.
    assert "Sample" in pg


def test_exact_guard_reuses_single_corpus_exchange(spark):
    # l02g pins the cap under the fixture df ceiling, forcing the
    # EXACT guard regime: df computed as a count window over
    # (shingle, block) — the self-join's own partitioning — so the
    # window, both join legs, and the denominator leg must all hang
    # off ONE corpus exchange at runtime. Asserted on the executed
    # adaptive plan: exactly one non-reused shingle exchange.
    from miningfrequentpattern_spark.queries.registry import QUERIES

    df = QUERIES["l02g_ngram_jaccard_capped"](spark, SF_ORACLE)
    # collect(), not a noop write: the writer executes a CLONE of the
    # plan, leaving this df's own queryExecution un-finalized
    # (isFinalPlan=false) — AQE stage reuse is only visible in the
    # finalized adaptive plan.
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    # The finalized adaptive string appends the pre-AQE "Initial
    # Plan" section, which still shows every un-reused exchange —
    # count only the final plan.
    p = p.split("== Initial Plan ==")[0]
    assert "Window" in p
    n_shingle_exchanges = sum(
        1
        for ln in p.splitlines()
        if "Exchange hashpartitioning(shingle" in ln and "Reused" not in ln
    )
    assert n_shingle_exchanges == 1, p
    # And the denominator/second-leg reuse is real, not incidental.
    assert p.count("ReusedExchange") >= 3, p


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory):
    """SCALING.md lever: pre-bucketing both join sides on the key
    removes the Exchange entirely — the co-located join a 100 TB
    pipeline relies on. Asserted on the actual plan, not claimed."""
    import uuid

    from miningfrequentpattern_spark.sources.io import load_table

    suffix = uuid.uuid4().hex[:8]
    o = load_table(spark, SF_ORACLE, "orders")
    li = load_table(spark, SF_ORACLE, "lineitem")
    for df, name, key in ((o, f"o_b_{suffix}", "o_orderkey"), (li, f"l_b_{suffix}", "l_orderkey")):
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    # Disable broadcast so the sort-merge path (the one bucketing
    # helps) is chosen — at real scale neither side would broadcast.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table(f"l_b_{suffix}")
            .join(
                spark.table(f"o_b_{suffix}"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .count()
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in (f"l_b_{suffix}", f"o_b_{suffix}"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # No Exchange may appear between the scans and the join itself.
    join_part = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_part, join_part


def test_partition_pruning_reaches_scan(spark):
    """s05 filters on the hive-partition column of a partitioned
    directory: the predicate must resolve at planning time against
    directory names (PartitionFilters), never as a row-level filter
    over all partitions' data."""
    p = plan_of(spark, "s05_partitioned_pruning")
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf, p
    assert "o_orderpriority" in pf[0], pf[0]


def test_native_stateful_counts_stay_in_codegen(spark):
    """t05b (the bench headline form) must plan as partial+final hash
    aggregation with NO Python/Arrow evaluation node."""
    p = plan_of(spark, "t05b_stateful_user_counts_native")
    assert "FlatMapGroupsInPandas" not in p
    assert "ArrowEvalPython" not in p
    assert p.count("HashAggregate") >= 2


def test_simhash_join_is_equi_key(spark):
    """The banded candidate pass must plan as a hash equi-join on
    (band, value) — never a per-block nested-loop/cartesian."""
    p = plan_of(spark, "l02c_simhash_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embedding_neardup_single_plan(spark):
    """The block-pair GEMM must be ONE distributed plan: a single
    cogrouped pandas node fed by one shuffle per side — not a union of
    per-tile subplans, and no driver-side data movement."""
    p = plan_of(spark, "l02d_embedding_neardup")
    import re

    # Count detail-section node headers ("(13) FlatMapCoGroupsInPandas"),
    # not the duplicated tree lines.
    assert len(re.findall(r"\(\d+\) FlatMapCoGroupsInPandas\b", p)) == 1
    assert "Union" not in p
    # One Exchange per cogroup side (AQE may add reuse markers but not
    # extra shuffles at this plan shape).
    exchanges = re.findall(r"\(\d+\) Exchange\b", p)
    assert len(exchanges) <= 2, p


def test_decontaminate_broadcasts_benchmark(spark):
    """l12: the benchmark shingle leg must broadcast so the corpus
    side streams map-side — no shuffle of the big side for the join
    (the only Exchange allowed is the final per-doc aggregate)."""
    p = plan_of(spark, "l12_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_keep_best_broadcasts_components(spark):
    """l14: the component map joins back to the corpus via broadcast;
    the corpus never shuffles for the label join."""
    p = plan_of(spark, "l14_neardup_keep_best")
    assert "BroadcastHashJoin" in p


def test_sequence_pack_windows_are_sharded(spark):
    """l13: the packing window must partition by (source, shard) —
    a single-partition global window (empty partitionBy) would be the
    scale cliff the operator exists to avoid."""
    import re

    p = plan_of(spark, "l13_sequence_pack")
    w = [l for l in p.splitlines() if re.search(r"\(\d+\) Window", l) or "partitionBy" in l]
    # Formatted plans show window partition spec in the Arguments line.
    args = [l for l in p.splitlines() if "windowspecdefinition" in l.lower()]
    assert args, p
    assert all("source" in a and "shard" in a for a in args), args


def test_global_rank_avoids_single_partition_window(spark):
    """r26: the two-phase rank must (a) range-shuffle the data once,
    (b) reuse that exchange across the counts and rank legs, (c) join
    the offsets back by BROADCAST (a shuffle join would re-exchange
    the relation on _pid), and (d) plan NO window over the data at
    all — local ranks come from monotonically_increasing_id shift
    arithmetic over the partition-sorted rows; the only window is the
    offsets prefix-sum over P≈32 count rows."""
    p = plan_of(spark, "r26_global_order_rank")
    assert "rangepartitioning" in p.lower(), p
    assert "BroadcastHashJoin" in p, p
    specs = [
        l for l in p.splitlines() if "windowspecdefinition" in l.lower()
    ]
    assert not any("o_totalprice" in s for s in specs), specs
    # Exchange reuse is an AQE runtime decision: it appears only in the
    # final adaptive plan, so materialize before asserting it.
    df = QUERIES["r26_global_order_rank"](spark, SF_ORACLE)
    df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    final = buf.getvalue()
    assert "ReusedExchange" in final, final
    assert "isFinalPlan=true" in final, final


def test_lm_score_and_tfidf_broadcast_vocab(spark):
    """l15/l17: the vocab/df legs must broadcast — a hash shuffle on
    Zipf-skewed tokens would put 'the' on one task at scale — and the
    broadcast build side must be BOUNDED: the default vocab_size path
    caps it at K rows via TakeOrderedAndProject (distributed partial
    top-K), so an unbounded 100 TB vocabulary can never OOM the
    executors."""
    for q in ("l15_unigram_logprob", "l17_tfidf_topterms"):
        p = plan_of(spark, q)
        assert "BroadcastHashJoin" in p, q
        assert "SortMergeJoin" not in p, q
        assert "TakeOrderedAndProject" in p, q


def test_correlated_subquery_decorrelates(spark):
    # r30's scalar subquery must plan as aggregate + broadcast join,
    # never a per-row nested-loop re-execution of the inner query.
    p = plan_of(spark, "r30_above_nation_avg")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoop" not in p


def test_lateral_limit_becomes_window_rank(spark):
    # r31's LATERAL ... ORDER BY ... LIMIT decorrelates into a
    # partitioned window rank (same physical family as r12), not a
    # per-outer-row nested loop.
    p = plan_of(spark, "r31_lateral_top_suppliers")
    assert "Window" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_upsert_legs_preaggregate_before_join(spark):
    # r32: both merge legs must combine map-side (partial+final hash
    # aggregate) BEFORE the full outer join, so the join shuffle
    # carries one row per key per leg.
    p = plan_of(spark, "r32_incremental_upsert")
    assert p.count("HashAggregate") >= 4  # partial+final on each leg


def test_frame_sample_fanout_has_no_shuffle(spark):
    # l07c: mapInPandas fan-out inherits the scan's partitioning;
    # any Exchange here would mean frames are being shuffled for
    # no reason.
    p = plan_of(spark, "l07c_frame_sample")
    assert "Exchange" not in p
    assert "MapInPandas" in p


def test_ngram_spans_single_shuffle_native_exprs(spark):
    # l19: the sliding-window spans must be native codegen
    # expressions (no Python eval) and the whole query one hash
    # aggregate shuffle on the span key.
    p = plan_of(spark, "l19_duplicate_ngram_spans")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("hashpartitioning(") == 1, p


def test_quality_buckets_avoid_global_window(spark):
    # l20: the decile rank must come from the two-phase distributed
    # form — no ORDER-BY-only (unpartitioned) WindowExec over the
    # corpus. Single-partition exchanges may appear only on tiny
    # legs (per-partition offset counts, the 1-row doc count).
    p = plan_of(spark, "l20_quality_buckets")
    assert "rangepartitioning" in p.lower(), p
    # Since the round-4 redesign, the rank comes from shift arithmetic
    # on monotonically_increasing_id over partition-sorted rows: NO
    # windowspecdefinition may touch the data columns at all; the only
    # window left is the offsets prefix-sum over P≈32 count rows, and
    # the offsets come back via broadcast join.
    specs = [
        l for l in p.splitlines() if "windowspecdefinition" in l.lower()
    ]
    assert not any("avg_neg_log2p" in s for s in specs), specs
    assert "BroadcastHashJoin" in p, p


def test_source_mixing_broadcasts_normalizer(spark):
    """l21: the Σ(w_raw) normalizer is a 1-row broadcast cross join —
    the corpus-sized aggregate never re-shuffles to meet it."""
    p = plan_of(spark, "l21_source_mixing")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_prefix_dup_rate_no_global_window(spark):
    """l22: the first-seen ranking windows by prefix fingerprint
    (millions of tiny groups at scale) — never a single-partition
    global window."""
    p = plan_of(spark, "l22_prefix_dup_rate")
    assert "SinglePartition" not in p


def test_source_overlap_is_indexed_join(spark):
    """l23: the cross-source overlap matrix joins on the fingerprint
    (inverted-index pattern) — never a cartesian over source pairs,
    and never a broadcast of the corpus-sized fingerprint index."""
    p = plan_of(spark, "l23_source_overlap")
    assert "CartesianProduct" not in p
    assert "ShuffledHashJoin" in p


def test_embedding_quantize_is_shuffle_free(spark):
    """l24: int8 quantization is a pure per-row map — the plan must
    contain no exchange at all (the scan's partitioning IS the plan)."""
    p = plan_of(spark, "l24_embedding_quantize")
    assert "Exchange" not in p


def test_arrow_grouped_centroids_single_shuffle(spark):
    """u05: applyInArrow groups on label — exactly one exchange (the
    group shuffle), nothing upstream or downstream."""
    p = plan_of(spark, "u05_arrow_grouped_centroids")
    assert p.count("Exchange") <= 2  # the hash exchange (+AQE read)
    assert "SortMergeJoin" not in p


def test_timestamp_filter_pushdown_survives_ntz_cast(spark):
    """load_table casts TIMESTAMP_NTZ fixture columns to session-local
    TIMESTAMP; Catalyst must UNWRAP that cast around comparison
    literals so o_orderdate range predicates still reach the parquet
    scan — losing this silently turns date-bounded queries into full
    scans at 100 TB."""
    p = plan_of(spark, "r16_repeat_customers_y2k")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed, p
    assert any("GreaterThanOrEqual(o_orderdate" in l for l in pushed), pushed


def test_asof_bucket_adds_equi_key_and_preserves_results(spark):
    """R8 at scale: with bucket set, the as-of range join must carry
    the coarse time-bucket EQUI-key (visible as _bk in the join
    condition — what bounds fan-out to ~2 buckets of right rows
    instead of the key's whole history), and under tolerance <= bucket
    width the result must be IDENTICAL to the unbucketed operator."""
    from miningfrequentpattern_spark.operators.relational import asof_join
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    tol = F.lit(3600.0)  # 1 hour, == the bucket width
    bucketed = asof_join(
        purchases, clicks, on="user_id", left_ts="purchase_ts",
        right_ts="click_ts", tolerance_expr=tol, bucket="1 hour",
    )
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "_bk" in plan, plan
    # One exchange PER INPUT and none after the join: the rank window
    # is partitioned by the join keys + _lid, so the join's output
    # partitioning satisfies it — with _lid alone, Spark would
    # re-shuffle the fanned-out join output (the largest relation).
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    plain = asof_join(
        purchases, clicks, on="user_id", left_ts="purchase_ts",
        right_ts="click_ts", tolerance_expr=tol,
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_sequence_rules_broadcast_prefix_lattice(spark):
    """m12: the prefix-support lookup joins the (vocab^maxlen-bounded)
    pattern lattice — it must broadcast, and nothing in the rule
    derivation may plan a cartesian."""
    p = plan_of(spark, "m12_sequence_rules")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_curation_pipeline_broadcasts_benchmark_only(spark):
    """l25: the composed pipeline must keep decontamination's
    benchmark-shingle side broadcast (corpus streams map-side) and
    plan no cartesian anywhere across the four stages."""
    p = plan_of(spark, "l25_curation_pipeline")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_salted_join_carries_salt_key(spark):
    """r36: the join must run on (key, salt) — the salt column in the
    join condition is what spreads a hot fact key over n_salts tasks —
    and the dim replication must come from an explode, not a cartesian."""
    p = plan_of(spark, "r36_salted_join_segments")
    assert "_salt" in p, p
    assert "CartesianProduct" not in p


def test_compact_roundtrip_aggregates_partial_final(spark):
    """s10: the post-compaction scan must aggregate partial-then-final
    (map-side combine) like any other scan — compaction changes the
    file layout, never the plan shape above it."""
    p = plan_of(spark, "s10_compact_roundtrip")
    assert p.count("HashAggregate") >= 2, p


def test_pagerank_iterations_reuse_cached_edges(spark, monkeypatch):
    """Every PageRank iteration must read the edge relation from the
    in-memory cache — InMemoryTableScan at least once per iteration —
    and nothing may plan a cartesian. Audited on the plan pagerank
    hands to ckpt.pin, while its caches are still live: the registered
    m13 returns that pin (so its public plan is just the checkpoint
    scan), which is itself asserted here."""
    from miningfrequentpattern_spark.operators import ckpt
    from miningfrequentpattern_spark.operators.graph import pagerank

    plans = []
    real_pin = ckpt.pin

    def spy(df, durable=False):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_pin(df, durable)

    monkeypatch.setattr(ckpt, "pin", spy)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    out = pagerank(edges, iterations=3)
    monkeypatch.undo()
    ckpt.release(out)
    assert len(plans) == 1, plans
    p = plans[0]
    assert "CartesianProduct" not in p
    assert p.count("InMemoryTableScan") >= 3, p
    # The registered query's public plan is the materialized scan.
    pub = plan_of(spark, "m13_part_pagerank")
    assert "ExistingRDD" in pub or "LocalTableScan" in pub, pub


def test_kl_drift_aggregates_partially(spark):
    """l26 (optimization r11): the (source, token) counts are PINNED
    behind a lazy localCheckpoint (the four consuming legs previously
    each re-planned the corpus explode — 4 parquet scans / 4
    Generates), so the public plan reads ExistingRDD; every
    downstream aggregate still combines map-side (partial_sum), the
    scalar/per-source legs broadcast, and the corpus is never
    cartesian-joined (the only nested-loop is the 1-row grand-total
    broadcast)."""
    import re

    p = plan_of(spark, "l26_source_kl_drift")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"Scan ExistingRDD", p)) >= 4, p
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)) == 0, p
    assert "partial_sum" in p, p
    assert "BroadcastHashJoin" in p, p


def test_snapshot_diff_is_single_full_outer_join(spark):
    """r37: the diff is ONE full-outer equi-join on the snapshot key;
    both version filters must push into the (shared) parquet scan's
    data filters rather than materializing either snapshot."""
    p = plan_of(spark, "r37_snapshot_diff")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p


def test_funnel_pushes_stage_filters(spark):
    """r39 (optimization r11): stage-1/2 outputs are PINNED behind
    lazy localCheckpoints (unpinned, the funnel's sequential
    dependency expanded stage 1 three times and stage 2 twice — 6
    event scans; now each stage's scan runs once), so the public
    plan reads two ExistingRDD + ONE events scan (purchase, filter
    pushed). Every stage's event_type filter must still push into
    its scan — asserted on the pre-pin stage lineage (at scale each
    stage reads only its event partition); stage aggregates combine
    map-side; no stage join is a cartesian."""
    p = plan_of(spark, "r39_funnel_conversion")
    assert "CartesianProduct" not in p
    pushed = " ".join(
        l for l in p.splitlines() if "PushedFilters" in l
    ).replace(" ", "")
    assert "EqualTo(event_type,purchase)" in pushed, pushed
    assert len(re.findall(r"Scan ExistingRDD", p)) >= 2, p
    scans = len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M))
    assert scans == 1, (scans, p)
    # (partial_min is asserted on the interior below: the public
    # stage-3 count leg legitimately prunes the unused min(ts) —
    # Catalyst rewrites it to a grouped existence check — while the
    # pinned stage subtrees materialize their min anchors.)
    # pre-pin interior: each stage's filter pushes into its own scan
    from miningfrequentpattern_spark.queries.relational_pack import (
        _funnel_stages,
    )

    _, _, p3 = _funnel_stages(spark, SF_ORACLE, pin=False)
    pi = _staged_plan(p3)
    pushed_i = " ".join(
        l for l in pi.splitlines() if "PushedFilters" in l
    ).replace(" ", "")
    for etype in ("click", "view", "purchase"):
        assert f"EqualTo(event_type,{etype})" in pushed_i, (etype, pushed_i)
    assert "partial_min" in pi or "partial min" in pi, pi


def test_cohort_retention_partial_aggregates(spark):
    """r40: cohort and activity legs must both partially aggregate
    map-side before their user-keyed join; no cartesian."""
    p = plan_of(spark, "r40_cohort_retention")
    assert "CartesianProduct" not in p
    assert "partial_min" in p or "partial min" in p, p
    assert "partial_count" in p or "partial count" in p, p


def test_pair_utility_bounded_topk_and_reused_exchange(spark):
    """m15: the top-25 must plan as TakeOrderedAndProject (bounded
    per-partition heaps, no global sort), the join must be the pinned
    ShuffledHashJoin (the utility relation is corpus-sized — never
    broadcast), and at runtime the self-join's second leg must REUSE
    the first's exchange (same relation, same order key) rather than
    shuffle lineitem twice — AQE stage reuse, visible only in the
    finalized adaptive plan (the l02g pattern)."""
    p = plan_of(spark, "m15_pair_utility")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" not in p, p
    assert "partial_count" in p or "partial count" in p, p
    df = QUERIES["m15_pair_utility"](spark, SF_ORACLE)
    df.collect()
    fp = df._jdf.queryExecution().executedPlan().toString()
    fp = fp.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in fp, fp


def test_incremental_refresh_prunes_both_legs(spark):
    """r38: each leg's date predicate must push into its parquet scan
    (a delta refresh reads only the new partition at scale), both
    legs aggregate with map-side partials BEFORE the merge join, and
    the merge is one full-outer equi-join over |keys|-sized inputs."""
    p = plan_of(spark, "r38_incremental_agg_refresh")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial count" in p, p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("LessThan(o_orderdate" in l for l in pushed), p
    assert any("GreaterThanOrEqual(o_orderdate" in l for l in pushed), p


def test_embedding_dim_stats_single_scan(spark):
    """l29: the corpus must be scanned and exploded exactly ONCE —
    every moment derives from the one (dim, label)
    sufficient-statistics aggregate (map-side partials); the
    d-sized legs broadcast; nothing cartesian-joins. (The first cut
    of this query scanned the parquet 6× — one subtree per
    aggregate; this pins the fix.)"""
    p = plan_of(spark, "l29_embedding_dim_stats")
    # formatted plans mention each node twice (tree + details)
    assert p.count("Scan parquet") <= 2, p
    assert p.count("Generate") <= 2, p
    assert "partial_count" in p or "partial count" in p, p
    assert "Join" not in p, p
    assert "CartesianProduct" not in p


def test_bucketed_join_has_no_join_side_exchange(spark):
    """s12: both bucketed-table scans must read co-located buckets
    (`Bucketed: true`), the join must be the pinned SortMergeJoin,
    and NEITHER join input may shuffle — no Exchange keyed on either
    join key; the only exchange in the plan is the final aggregate's
    (keyed on the segment column)."""
    p = plan_of(spark, "s12_bucketed_join")
    assert "SortMergeJoin" in p
    assert p.count("Bucketed: true") == 2, p
    assert "hashpartitioning(o_custkey" not in p, p
    assert "hashpartitioning(c_custkey" not in p, p


def test_importance_resample_broadcasts_vocab(spark):
    """l27: the Zipf-skewed token join must BROADCAST the (bounded)
    vocab leg — a shuffle keyed by raw tokens would put 'the' in one
    partition; the vocab bound must plan as TakeOrderedAndProject
    (partial top-K + bounded merge), never a global Sort; and the
    per-source ranking window is the only full-width exchange."""
    p = plan_of(spark, "l27_importance_resample")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # exactly one Window NODE (the per-source rank; formatted plans
    # name each node once in the tree and once in the details, so a
    # second window would push the count past 2), and its spec must
    # partition by `source` — `windowspecdefinition(source#...` —
    # so a regression to a GLOBAL (empty partition-spec) window,
    # which single-partitions the corpus, fails here (ADVICE r4).
    assert p.count("Window") == 2, p
    assert "windowspecdefinition(source#" in p, p
    assert "partial_count" in p or "partial count" in p, p


def test_ngram_novelty_reuses_postings_exchange(spark):
    """l28 (optimization r11): the shingle Generate must appear ONCE
    — both aggregate legs ride one explicit hash(sh) exchange (the
    initial plan prints the Exchange subtree twice; AQE's
    ReusedExchange dedups it at runtime, the r67 stage-cache note,
    and identical-subtree stage caching covers the initial plan) —
    and the corpus-sized postings join-back is GONE: the only join
    stitches the two ≤|docs|-sized doc-grain relations. No
    cartesian; aggregates run map-side partials first."""
    import re

    p = plan_of(spark, "l28_ngram_novelty")
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial count" in p, p
    # the join input must be the aggregated doc-grain legs, never the
    # raw postings: every Join node sits ABOVE both final aggregates
    joins = re.findall(r"^\(\d+\) (\w*Join\w*)", p, flags=re.M)
    assert len(joins) == 1, (joins, p)
    # both legs hash on sh through the same exchange expression
    assert len(re.findall(r"hashpartitioning\(sh#", p)) >= 2, p


def test_merge_schema_scan_stays_single_scan(spark):
    """s13: the two different-schema snapshots must plan as ONE
    columnar parquet scan (schema reconciliation is a footer-level
    planning concern, never a join/union of per-snapshot subplans),
    feeding a partial-then-final aggregate with pruned ReadSchema."""
    p = plan_of(spark, "s13_merge_schema_scan")
    assert p.count("Scan parquet") <= 2, p  # tree + details of ONE node
    assert "Union" not in p and "Join" not in p, p
    assert "partial_count" in p or "partial count" in p, p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" not in read_schema[0], p


def test_rule_chains_join_is_equi_never_cartesian(spark):
    """m16 (optimization r11): the rules relation is PINNED behind a
    lazy localCheckpoint (both chain-hop legs previously re-planned
    the whole pair-mining subtree — 4 document scans), so the public
    plan is the 2-hop chain self-join over two ExistingRDD scans of
    ONE materialization, keyed consequent = antecedent — never a
    cartesian/nested-loop. The pair-mining interior (row-local
    Apriori-k2 array expansion, map-side partial aggregate, 1-row
    scalar broadcasts) is asserted on the rules relation itself."""
    import re

    p = plan_of(spark, "m16_rule_chains")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert (
        "BroadcastHashJoin" in p
        or "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
    ), p
    assert len(re.findall(r"Scan ExistingRDD", p)) >= 2, p
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)) == 0, p
    # interior: the pinned rules relation still mines pairs with ONE
    # document scan per aggregate leg, map-side partials, and only
    # the 1-row scalar-broadcast nested loops (the repo-wide idiom)
    from miningfrequentpattern_spark.queries.mining_pack import (
        _token_pair_rules,
    )

    pi = _staged_plan(_token_pair_rules(spark, SF_ORACLE))
    assert "CartesianProduct" not in pi, pi
    for line in pi.splitlines():
        if "BroadcastNestedLoopJoin" in line and not line.rstrip().endswith(
            "BroadcastNestedLoopJoin"
        ):
            assert "Cross BuildRight" in line, line
    assert "partial_count" in pi or "partial count" in pi, pi


def test_prefix_dedup_uses_group_limit_and_keyed_window(spark):
    """l30: rank-1-per-fingerprint must plan with WindowGroupLimit
    (partial map-side top-1 BEFORE the shuffle — only candidate rows
    travel, the reason this scales to a hot template) and the single
    Window node must partition by prefix_fp (no global window)."""
    p = plan_of(spark, "l30_prefix_dedup_keep_longest")
    assert "WindowGroupLimit" in p, p
    assert "Partial" in p and "Final" in p, p
    assert "windowspecdefinition(prefix_fp#" in p, p
    assert p.count("Window (") == 1, p
    assert "Join" not in p, p


def test_stream_enrich_broadcasts_dim_and_never_shuffles_stream(spark):
    """t07: the customer dim must BROADCAST (column-pruned to the 3
    join/output columns) and the events side must reach the join with
    ZERO exchanges — the property that makes the same plan safe to
    re-evaluate per micro-batch in the true streaming form."""
    p = plan_of(spark, "t07_stream_enrich")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastExchange" in p, p
    # Every "Exchange" substring must belong to a BroadcastExchange
    # occurrence — ANY plain shuffle Exchange node adds extra counts
    # and fails (self-review r5: the previous *2 form tolerated one
    # full shuffle node, verified by injecting a repartition).
    assert p.count("Exchange") == p.count("BroadcastExchange"), p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    cust_line = [l for l in read_schema if "c_custkey" in l]
    assert cust_line and "c_acctbal" not in cust_line[0], p


def test_clustering_coeff_is_equi_joins_with_partials(spark):
    """m17: triangle enumeration + degree aggregate + |V|-sized
    stitch — every join equi, every aggregate partial-then-final,
    no cartesian/nested-loop anywhere."""
    p = plan_of(spark, "m17_part_clustering")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "partial_count" in p or "partial count" in p, p


def test_decontaminate_frac_broadcasts_benchmark(spark):
    """l31: the benchmark shingle set must BROADCAST (the corpus side
    streams map-side through the hash join with zero shuffles before
    the per-doc aggregate), exactly like l12's any-hit form."""
    p = plan_of(spark, "l31_decontaminate_frac")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "partial_count" in p or "partial count" in p, p


def test_incremental_dedup_projects_digest_only(spark):
    """l32: no text column may survive past the scan projection (the
    digest is computed in the scan's project and everything downstream
    — window, anti-join — carries 3 narrow columns), and the corpus
    leg must reach the anti-join as a distinct digest relation."""
    p = plan_of(spark, "l32_incremental_dedup")
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p
    # the window/join carry (doc_id, source, dg) — text appears only
    # inside the md5() projection expression, never as a carried column
    win = [l for l in p.splitlines() if "windowspecdefinition" in l]
    assert win and "text" not in win[0], win


def test_dynamic_overwrite_reads_back_partitioned(spark):
    """s14: the read-back scan must be over the hive-partitioned
    layout (event_type as a partition column, absent from ReadSchema)
    with a partial-then-final aggregate above it."""
    p = plan_of(spark, "s14_dynamic_partition_overwrite")
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schema and "event_type" not in read_schema[0], p
    assert "partial_count" in p or "partial count" in p, p


def test_correlation_matrix_is_one_scan_one_aggregate(spark):
    # r41's six Pearson pairs must share ONE scan and ONE partial+final
    # aggregate — adding a pair may never add a pass over lineitem.
    p = plan_of(spark, "r41_correlation_matrix")
    # formatted plans mention each node twice (tree + details)
    assert p.count("Scan parquet") <= 2, p
    assert p.count("HashAggregate") == 4, p  # ONE partial + ONE final
    assert "partial_corr" in p, p


def test_quality_report_value_checks_share_scans(spark):
    # r42 (optimization r11): the 1-row table aggregates (li_agg /
    # ev_agg) are PINNED behind lazy localCheckpoints, so the
    # unionAll report legs read ExistingRDD instead of re-planning
    # the full-table aggregate per branch (the before-plan held 10
    # parquet scans — lineitem 4x, events 3x; now 5: one per anti
    # join input + the single orders aggregate). Each anti join
    # stays an anti join.
    import re

    p = plan_of(spark, "r42_data_quality_report")
    scans = len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M))
    assert scans <= 5, (scans, p)
    assert "Scan ExistingRDD" in p, p
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p


def test_emerging_pairs_single_pass_no_self_join(spark):
    """m27 (optimization r11): the union-tagged collect_set + native
    pair-expansion form — the per-period DISTINCT-postings SELF-JOINS
    and the pair-keyed full-outer join are gone; both consumers (pair
    expansion + basket counts) read the pinned (basket, period)-grain
    ExistingRDD, and the only nested-loop is the 1-row basket-count
    broadcast (the repo-wide scalar-broadcast idiom)."""
    import re

    p = plan_of(spark, "m27_emerging_pairs")
    assert "SortMergeJoin" not in p, p
    assert "ShuffledHashJoin" not in p, p
    assert "CartesianProduct" not in p, p
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line and not line.rstrip().endswith(
            "BroadcastNestedLoopJoin"
        ):
            assert "Cross BuildRight" in line, line
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)) == 0, p
    assert len(re.findall(r"Scan ExistingRDD", p)) >= 2, p
    assert len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M)) <= 2, p
    assert "partial_count" in p or "partial count" in p, p


def test_gapfill_grid_is_generated_not_shuffled(spark):
    # r43: the dense grid comes from a broadcast 1-row bounds relation
    # + sequence/explode — the only corpus-sized stage is the counts
    # aggregate (partial+final), and the grid-side join input must not
    # carry a corpus-sized exchange.
    p = plan_of(spark, "r43_gapfill_daily")
    assert "Generate explode" in p or "Generate" in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "CartesianProduct" not in p, p


def test_daily_anomaly_single_corpus_scan_broadcast_stats(spark):
    # r44: events scanned ONCE (the stats leg derives from the first
    # aggregate, not a second scan); the stats join back is broadcast.
    p = plan_of(spark, "r44_daily_anomaly")
    ev_scans = [
        l for l in p.splitlines() if "Scan parquet" in l and "events" in l
    ]
    assert len(ev_scans) <= 2, p  # tree + details of ONE node
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_weighted_sample_is_take_ordered(spark):
    # l36: global top-100 by sample key must compile to
    # TakeOrderedAndProject (per-partition heaps) — never a full
    # Sort + GlobalLimit over the corpus.
    p = plan_of(spark, "l36_weighted_sample")
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p


def test_delta_join_refresh_broadcasts_all_customer_legs(spark):
    # r45: all four terms broadcast the customer side; the union must
    # not introduce a SortMergeJoin or cartesian anywhere.
    p = plan_of(spark, "r45_delta_join_refresh")
    assert p.count("BroadcastHashJoin") >= 4 or (
        "BroadcastHashJoin" in p and "Union" in p
    ), p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # Each term's date/parity predicate pushes into its scan.
    assert "PushedFilters" in p, p


def test_rolling_distinct_is_fanout_plus_single_aggregate(spark):
    # r46: the 7-way fan-out is a Generate (map-side), followed by
    # hash aggregation with partials; no Window node (the point is
    # exactly that a frame-based form is avoided), no join.
    p = plan_of(spark, "r46_rolling_distinct_users")
    assert "Generate" in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "Window" not in p, p
    assert "Join" not in p, p


def test_collocations_prune_before_unigram_joins(spark):
    # l37: the c12 >= 5 prune must sit below the unigram joins (only
    # survivors join); the unigram/total legs broadcast; top-25 is a
    # bounded sort.
    p = plan_of(spark, "l37_collocations")
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_event_transitions_single_user_window(spark):
    # r47: exactly one Window (user-keyed lead), never an empty
    # partition spec; the row-normalizer joins back broadcast.
    p = plan_of(spark, "r47_event_transitions")
    n_windows = sum(
        1 for ln in p.splitlines() if ln.strip().startswith("Window")
    )
    assert n_windows <= 2, p  # tree + details of ONE node
    assert "user_id" in [
        ln for ln in p.splitlines() if "Arguments" in ln and "lead" in ln
    ][0], p
    assert "BroadcastHashJoin" in p, p


def test_fuzzy_join_blocks_before_distance(spark):
    # l38: the join must be an equi join on the blocking key (never
    # cartesian / nested-loop), with the corpus-sized relation on a
    # shuffle plan, not broadcast.
    p = plan_of(spark, "l38_fuzzy_join")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p, p


def test_metadata_scan_adds_no_join_or_extra_scan(spark):
    # s15: _metadata rides the ONE scan; no join, partial+final agg.
    p = plan_of(spark, "s15_metadata_scan")
    assert p.count("Scan parquet") <= 2, p  # tree + details of ONE node
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_negative_pairs_grid_is_bounded_and_obs_leg_equi(spark):
    # m19: the only non-equi join allowed is the 40x40 top-token grid
    # (bounded by the two TakeOrderedAndProject limits feeding it);
    # the corpus-sized observed leg must join equi on doc_id, and the
    # presence relation must be aggregated (distinct) before pairing.
    p = plan_of(spark, "m19_negative_pairs")
    assert "TakeOrderedAndProject" in p, p
    # the doc_id equi-join of the two presence legs
    assert "doc_id" in p and (
        "ShuffledHashJoin" in p or "SortMergeJoin" in p
        or "BroadcastHashJoin" in p
    ), p
    assert "CartesianProduct" not in p, p


def test_prep_pipeline2_is_two_shuffles(spark):
    """l40: the composed pipeline's docstring claims dedup window +
    source aggregate are the ONLY corpus shuffles — every gate is a
    row-local projection (the carry= refactor removed the doc_id
    join-backs). The 1-row mixing normalizer duplicates the lineage
    in the STATIC plan (its leg re-derives the survivors), so the
    claim is asserted on the FINALIZED adaptive plan where exchange
    reuse is visible (the l02g pattern): exactly one non-reused
    prefix_fp exchange, no doc_id-keyed exchange, no shuffle join."""
    from miningfrequentpattern_spark.queries.registry import QUERIES

    df = QUERIES["l40_prep_pipeline2"](spark, SF_ORACLE)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    p = p.split("== Initial Plan ==")[0]
    fp_ex = [
        ln for ln in p.splitlines()
        if "Exchange hashpartitioning(prefix_fp" in ln
        and "Reused" not in ln
    ]
    assert len(fp_ex) == 1, p
    assert "ReusedExchange" in p, p
    assert not any(
        "Exchange hashpartitioning(doc_id" in ln for ln in p.splitlines()
    ), p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_pareto_frontier_no_global_window_no_selfjoin(spark):
    """r49: the skyline must plan with ONLY brand-partitioned windows
    (the bucketed prefix-max — a global ORDER BY window would
    single-partition the relation) and ONLY broadcast joins (the
    frontier join-back; a SortMergeJoin or cartesian would mean the
    NOT-EXISTS self-join shape leaked into the Spark side — that
    formulation is the ORACLE's job)."""
    import re

    p = plan_of(spark, "r49_pareto_frontier")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and set(specs) == {"p_brand"}, specs


def test_weighted_median_single_exchange(spark):
    """r50: the cumulative window, the total window, and the final
    per-supplier aggregate must ALL reuse one hashpartitioning
    exchange on l_suppkey — the docstring's one-shuffle-end-to-end
    claim (formatted plans mention each node twice: tree + details)."""
    import re

    p = plan_of(spark, "r50_weighted_median")
    assert p.count("Exchange") == 2, p
    assert "hashpartitioning(l_suppkey" in p, p
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and set(specs) == {"l_suppkey"}, specs


def test_token_gini_windows_partition_by_source(spark):
    """l41: the rank window must partition by source (its width is
    the per-source vocabulary, never the corpus), aggregates must run
    map-side partials, and nothing may plan a join at all — the Gini
    is windows + aggs over one exploded relation."""
    import re

    p = plan_of(spark, "l41_token_gini")
    assert "Join" not in p, p
    assert "partial_count" in p or "partial count" in p, p
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and set(specs) == {"source"}, specs


def test_gap_pairs_equi_join_never_cartesian(spark):
    """m20: the time band must ride a user_id EQUI-join (broadcast at
    this SF; a shuffle join keyed on user_id above the threshold) —
    never a cartesian or nested-loop plan, which is what a naive
    range-only self-join degenerates to."""
    p = plan_of(spark, "m20_gap_sequential_pairs")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or (
        "ShuffledHashJoin" in p
    ), p


# ---------------------------------------------------------------------------
# Staged round-6 candidates (unregistered — audited by building the
# DataFrame directly; switch to plan_of(name) on promotion). Plan
# audits land WITH the operator, same standard as the window set.


def _n_exchanges(p: str) -> int:
    """Count Exchange NODES in a formatted plan via their detail
    headers "(5) Exchange" — tree lines render as "+- Exchange (5)"
    so a startswith() count silently returns 0 (vacuously passing
    any <= bound; review r5). ReusedExchange headers don't match."""
    return len(re.findall(r"^\(\d+\) Exchange$", p, flags=re.M))


def _staged_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_staged_containment_inherits_jaccard_join_shape(spark):
    """l42 candidate: the containment score must ride the SAME
    inverted-index shuffle_hash self-join as the certified Jaccard
    path (shared _ngram_pair_stats core) — no cartesian, no
    broadcast of the corpus-sized inverted index."""
    from miningfrequentpattern_spark.operators.dedup import (
        ngram_containment_pairs,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    docs = load_table(spark, SF_ORACLE, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    p = _staged_plan(ngram_containment_pairs(docs, max_shingle_df=None))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ShuffledHashJoin" in p


def test_staged_ewma_one_series_shuffle_no_window(spark):
    """r52 candidate: the recurrence is ONE partition-level Python
    seam over the series key — a MapInPandas over key-sorted
    partitions (optimization r11: replaced the per-key
    FlatMapGroupsInPandas), never a Window (the O(len²)
    windowed-convolution shape the operator exists to avoid). Exactly
    two exchanges: the (priority, day) aggregate and the series-key
    repartition."""
    from miningfrequentpattern_spark.operators.timeseries import ewma
    from miningfrequentpattern_spark.sources.io import load_table

    daily = (
        load_table(spark, SF_ORACLE, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    p = _staged_plan(ewma(daily, ["priority"], "day", "rev", alpha=0.2))
    assert "MapInPandas" in p
    assert "FlatMapGroupsInPandas" not in p
    assert "Window" not in p
    assert _n_exchanges(p) <= 2, p


def test_staged_embedding_corr_single_corpus_pass(spark):
    """l43 candidate, two layers. (1) The PRE-BARRIER seam: one
    MapInPandas over a scan that reads ONLY the embedding column,
    never the naive explode + vec_id self-join. (2) The POST-BARRIER
    consumer: every branch reads the shared checkpointed RDD (zero
    MapInPandas in the final plan — without the barrier the
    pos-keyed branch filters push below the exchange and the corpus
    pass replicates per branch: 10 copies measured, review r5), and
    the d²-sized stitches stay broadcast."""
    from miningfrequentpattern_spark.operators.embeddings import (
        _moment_partials,
        embedding_correlation,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    seam = _staged_plan(_moment_partials(emb, "embedding", 64))
    # formatted explain prints each node twice (tree line
    # "MapInPandas (5)" + detail line "(5) MapInPandas") — count the
    # tree form only.
    assert seam.count("MapInPandas (") == 1, seam
    read_schema = [ln for ln in seam.splitlines() if "ReadSchema" in ln]
    assert read_schema and "vec_id" not in read_schema[0], seam
    p = _staged_plan(embedding_correlation(emb, dim=64))
    assert "MapInPandas" not in p, p
    assert "Scan ExistingRDD" in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_staged_embedding_spectrum_is_seam_plus_grouped_map(spark):
    """l44 candidate: same barriered seam, then ONE grouped-map (the
    d²-row eigh task) — no corpus-sized join, no replicated corpus
    pass."""
    from miningfrequentpattern_spark.operators.embeddings import (
        embedding_spectrum,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    p = _staged_plan(embedding_spectrum(emb, dim=64))
    assert "MapInPandas" not in p, p
    assert "Scan ExistingRDD" in p
    assert p.count("FlatMapGroupsInPandas (") == 1  # tree form; see above
    assert "SortMergeJoin" not in p


def test_staged_khop_returns_materialized_handle(spark):
    """m21 candidate: the returned DataFrame must be a pinned
    LogicalRDD scan — no joins or exchanges dangling into the
    released per-hop pins (the pagerank materialize contract)."""
    from miningfrequentpattern_spark.operators.graph import khop_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    out = khop_distances(
        edges, spark.createDataFrame([(1,)], "id long"), 2
    )
    p = _staged_plan(out)
    assert "Scan ExistingRDD" in p
    assert "Join" not in p and "Exchange" not in p, p


def test_staged_interval_merge_single_exchange(spark):
    """r55 candidate: one shuffle total — both gaps-and-islands
    windows partition by the series key and the closing groupBy on
    (key, island) is satisfied by the SAME hashpartitioning (key is
    a subset of the cluster keys), so Spark adds NO second exchange;
    the aggregate keeps its map-side partials and the ts null filter
    reaches the scan."""
    from miningfrequentpattern_spark.operators.timeseries import (
        interval_merge,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    iv = load_table(spark, SF_ORACLE, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    p = _staged_plan(interval_merge(iv, ["user_id"], "s", "e"))
    assert _n_exchanges(p) == 1, p
    assert p.count("Window (") == 2, p
    assert "partial_min" in p and "partial_count" in p, p
    assert "PushedFilters: [IsNotNull(ts)]" in p, p


def test_staged_twa_single_exchange(spark):
    """r56 candidate: the lead() window and the closing per-key
    aggregate share ONE hashpartitioning(user_id) exchange; both
    null filters push to the scan; no UDF anywhere (the whole
    operator is native)."""
    from miningfrequentpattern_spark.operators.timeseries import (
        time_weighted_avg,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    p = _staged_plan(time_weighted_avg(ev, ["user_id"], "ts", "value"))
    assert _n_exchanges(p) == 1, p
    assert p.count("Window (") == 1, p
    assert "IsNotNull(value)" in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_series_trend_pure_aggregate(spark):
    """r57 candidate: NO window, NO UDF — the whole fit is two
    partial/final hash-aggregate pairs (the daily rollup + the
    co-moment fit), every aggregate running map-side partials; the
    scan reads only the three needed order columns."""
    from miningfrequentpattern_spark.operators.timeseries import (
        series_trend,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    daily = (
        load_table(spark, SF_ORACLE, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
        .withColumn("t", F.datediff("day", F.lit("1970-01-01")))
    )
    p = _staged_plan(series_trend(daily, ["priority"], "t", "rev"))
    assert "Window" not in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p
    assert "partial_covar_pop" in p and "partial_corr" in p, p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and all(
        "o_custkey" not in ln and "o_orderstatus" not in ln
        for ln in read_schema
    ), p


def test_staged_cusum_single_exchange_two_windows(spark):
    """r58 candidate: the cumsum−running-min closed form is TWO
    Window nodes over ONE hashpartitioning(series key) exchange —
    never a grouped-map recurrence, never a second shuffle; both
    null filters reach the scan."""
    from miningfrequentpattern_spark.operators.timeseries import (
        cusum_drift,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    p = _staged_plan(
        cusum_drift(
            ev, ["event_type"], "ts", "value", target=50.0, threshold=2000.0
        )
    )
    assert _n_exchanges(p) == 1, p
    assert p.count("Window (") == 2, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p
    assert "IsNotNull(value)" in p, p


def test_staged_winsorize_broadcasts_bounds(spark):
    """r60 candidate: the per-group exact-percentile bounds relation
    (|groups| rows) joins back via BROADCAST — the corpus never
    reshuffles for the clamp leg; no cartesian; the value null
    filter reaches the scan."""
    from miningfrequentpattern_spark.operators.relational import (
        winsorized_stats,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    li = load_table(spark, SF_ORACLE, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    p = _staged_plan(
        winsorized_stats(li, ["l_returnflag"], "l_extendedprice", 0.05, 0.95)
    )
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p
    assert "IsNotNull(l_extendedprice)" in p.split("PushedFilters", 1)[1], p


def test_staged_fk_audit_no_cartesian_all_equi(spark):
    """r59 candidate: every leg is an equi-key LEFT join (broadcast
    or shuffle — AQE's call at this SF) followed by a 1-row
    map-side-partial aggregate; the union never multiplies plans
    into a cartesian."""
    from miningfrequentpattern_spark.operators.relational import (
        referential_orphan_audit,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    li = load_table(spark, SF_ORACLE, "lineitem")
    o = load_table(spark, SF_ORACLE, "orders")
    cu = load_table(spark, SF_ORACLE, "customer")
    p = _staged_plan(
        referential_orphan_audit(
            [
                ("li->o", li, "l_orderkey", o, "o_orderkey"),
                ("o->c", o, "o_custkey", cu, "c_custkey"),
            ]
        )
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p, p
    assert "Union" in p, p


def test_staged_item_cosine_shuffle_hash_and_broadcast_counts(spark):
    """m22 candidate (the m15 house pattern): the corpus-sized
    basket-item legs self-join as pinned shuffle_hash with ONE
    reused exchange; the item-dimension count legs BROADCAST; top-k
    is TakeOrderedAndProject, never a global Sort."""
    from miningfrequentpattern_spark.operators.mining import (
        item_cosine_pairs,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    li = load_table(spark, SF_ORACLE, "lineitem")
    df = item_cosine_pairs(li, "l_orderkey", "l_partkey")
    p = _staged_plan(df)
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p
    # Exchange reuse across the self-join legs is an AQE runtime
    # property (alias() re-IDs the subtrees, so planning-time reuse
    # can't fire) — assert it on the finalized adaptive plan, the
    # l02g precedent.
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    ep = ep.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in ep, ep


def test_staged_cdc_apply_one_shuffle(spark):
    """r61 candidate: last-writer-wins is ONE row_number window over
    ONE key exchange — no self-join against a max-seq aggregate, no
    second shuffle; the seq null filters reach the scan."""
    from miningfrequentpattern_spark.operators.relational import cdc_apply
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events").withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    p = _staged_plan(cdc_apply(ev, ["user_id"], ["ts", "event_id"], "op"))
    assert _n_exchanges(p) == 1, p
    assert p.count("Window (") == 1, p
    assert "Join" not in p, p
    assert "IsNotNull(event_id)" in p.split("PushedFilters", 1)[1], p


def test_staged_attribution_one_shuffle_no_join(spark):
    """r62 candidate: attribution is ONE last(ignorenulls) window
    over ONE key exchange — never a conversions×touches self-join
    (the as-of fan-out this operator exists to avoid); the
    conversion filter stays ABOVE the window (pushing it below would
    hide touches); the ts null filter reaches the scan."""
    from miningfrequentpattern_spark.operators.timeseries import (
        last_touch_attribution,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    p = _staged_plan(
        last_touch_attribution(
            ev, ["user_id"], "ts", "event_type",
            conversion_type="purchase", touch_types=("click", "view"),
            max_age="7 days", tiebreak_col="event_id",
        )
    )
    assert _n_exchanges(p) == 1, p
    assert p.count("Window (") == 1, p
    assert "Join" not in p, p
    assert "IsNotNull(ts)" in p.split("PushedFilters", 1)[1], p
    # the conversion filter must NOT be pushed into the scan — the
    # window needs every row of the series.
    assert "purchase" not in p.split("PushedFilters", 1)[1].split("\n")[0], p


def test_staged_sssp_returns_materialized_handle(spark):
    """m23 candidate: like khop, the returned relation must be a
    pinned LogicalRDD — no joins/exchanges dangling into released
    per-round pins."""
    from miningfrequentpattern_spark.operators.graph import sssp_distances

    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(1, 6)],
        "src long, dst long, weight double",
    )
    out = sssp_distances(
        edges, spark.createDataFrame([(1,)], "id long"), 2
    )
    p = _staged_plan(out)
    assert "Scan ExistingRDD" in p
    assert "Join" not in p and "Exchange" not in p, p


def test_staged_topn_others_window_is_dimension_sized(spark):
    """r63 candidate: the corpus is scanned ONCE into a partial/final
    category aggregate; the rank window and the OTHER re-aggregate
    run on the |categories| relation (window input = the aggregate,
    never the corpus); the part dim joins broadcast."""
    p = _staged_plan(QUERIES["r63_brand_topn_others"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in p, p
    assert "partial_sum" in p, p
    assert p.count("Window (") == 1, p
    # the window must consume the aggregated relation: in the tree
    # the Window node sits ABOVE the final HashAggregate of the
    # category rollup.
    tree = p.split("\n\n")[0]
    wpos = tree.index("Window")
    assert "HashAggregate" in tree[wpos:], p


def test_staged_abc_single_group_window(spark):
    """r64 candidate: one corpus aggregate, then BOTH window passes
    (cumulative + grand total) partition by the group — no global
    (empty partition-spec) window anywhere."""
    p = _staged_plan(QUERIES["r64_brand_abc"](spark, SF_ORACLE))
    assert "partial_sum" in p, p
    assert "windowspecdefinition(returnflag" in p, p
    # every windowspec carries the partition column — a bare
    # "windowspecdefinition(total" / global spec would betray a
    # full-relation single-partition window.
    specs = re.findall(r"windowspecdefinition\((\w+)", p)
    assert specs and all(s == "returnflag" for s in specs), specs


def test_staged_ranking_metrics_scales_with_probe_not_corpus(spark):
    """l46 candidate: the metrics join carries ≤ k rows per query per
    side (both legs rank-filtered BEFORE the join) into one per-query
    aggregate — no cartesian, no corpus-sized leg past the topk
    operators themselves."""
    from miningfrequentpattern_spark.operators.similarity import (
        ranking_metrics,
    )

    truth = spark.createDataFrame(
        [(1, "a", 1)], "query_id long, neighbor_id string, rank long"
    )
    cand = spark.createDataFrame(
        [(1, "a", 1)], "query_id long, neighbor_id string, rank long"
    )
    p = _staged_plan(ranking_metrics(cand, truth, k=5))
    assert "CartesianProduct" not in p
    assert "partial_count" in p, p
    assert "(rank" in p and "<= 5" in p, p  # rank filters below the join


def test_staged_calibrated_gate_stratum_window_only(spark):
    """l47 candidate: ONE window, partitioned by the stratum — never
    a global rank; everything else row-local (no joins, no second
    corpus pass)."""
    p = _staged_plan(QUERIES["l47_calibrated_gate"](spark, SF_ORACLE))
    assert p.count("Window (") == 1, p
    assert "Join" not in p, p
    specs = re.findall(r"windowspecdefinition\((\w+)", p)
    assert specs and all(s == "source" for s in specs), specs


def test_staged_acf_single_window_single_exchange(spark):
    """r66 candidate: all max_lag lag() columns share ONE window spec
    → ONE Window node over ONE series-key exchange; the closing
    (keys, lag) aggregate is satisfied by the same partitioning
    (keys ⊆ grouping), so no second exchange; the stack is a
    row-local Generate; no UDF anywhere."""
    from miningfrequentpattern_spark.operators.timeseries import (
        autocorrelation,
    )

    df = spark.createDataFrame(
        [("a", i, float(i % 3)) for i in range(10)],
        "k string, t int, x double",
    )
    p = _staged_plan(autocorrelation(df, ["k"], "t", "x", 7))
    assert _n_exchanges(p) == 1, p
    assert p.count("Window (") == 1, p
    # detail-header count (the tree line "+- Generate (8)" would
    # double-count — the _n_exchanges lesson)
    assert len(re.findall(r"^\(\d+\) Generate$", p, flags=re.M)) == 1, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_mad_outliers_corpus_never_reshuffles(spark):
    """r67 candidate: the corpus is never repartitioned on the group
    key — every Exchange in the plan is a group-keyed percentile
    aggregate and every join-back of a group-sized median/MAD
    relation is a BroadcastHashJoin. The printed tree shows THREE
    exchanges because the shared vals⋈meds relation is referenced
    twice (by the MAD aggregate and the scoring projection) and
    explain expands the DAG into a tree — the two median subtrees
    are canonically identical, so AQE's stage cache executes the
    broadcast stage once at runtime (the same dedup the
    ReusedExchange rule performs for shuffle stages)."""
    from miningfrequentpattern_spark.operators.relational import (
        mad_outliers,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events").select(
        "event_type", "event_id", "value"
    )
    p = _staged_plan(
        mad_outliers(ev, ["event_type"], "value", carry=["event_id"])
    )
    assert _n_exchanges(p) == 3, p
    assert "SortMergeJoin" not in p, p
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, flags=re.M)) == 3, p
    # 3 partial/final percentile pairs printed (meds ×2 — the DAG
    # expansion — plus mads); every one is group-keyed, none corpus-wide
    assert len(re.findall(r"^\(\d+\) ObjectHashAggregate$", p, flags=re.M)) == 6, p


def test_staged_join_audit_joins_counts_not_corpora(spark):
    """r68 candidate: exactly TWO exchanges — one partial/final count
    aggregate per side — and the full-outer join runs on the two
    KEY-CARDINALITY-sized count relations, which arrive already
    hashpartitioned by the key, so it adds NO exchange of its own;
    the corpus-sized inputs are never joined to each other."""
    from miningfrequentpattern_spark.operators.relational import (
        join_cardinality_audit,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    orders = load_table(spark, SF_ORACLE, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    cust = load_table(spark, SF_ORACLE, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    p = _staged_plan(join_cardinality_audit(orders, cust, ["custkey"]))
    assert _n_exchanges(p) == 2, p
    assert p.count("HashAggregate") >= 4, p  # partial+final per side
    assert "ReadSchema: struct<o_custkey:bigint>" in p, p
    assert "ReadSchema: struct<c_custkey:bigint>" in p, p


def test_staged_bm25_broadcasts_every_dimension_leg(spark):
    """l48 candidate: the corpus is scanned once with the projection
    pruned to (doc_id, text); df(term) joins back as a
    BroadcastHashJoin and the 1-row (N, avgdl) moments as the house
    broadcast nested-loop scalar; no row-at-a-time Python, no
    corpus-to-corpus join."""
    from miningfrequentpattern_spark.operators.text import bm25_scores
    from miningfrequentpattern_spark.sources.io import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    p = _staged_plan(
        bm25_scores(docs, "doc_id", "text", ["scan", "merge", "window"])
    )
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # r11: the matched-tokens hits relation is pinned (ExistingRDD),
    # so the one PUBLIC corpus scan is the moments leg — pruned all
    # the way down to text alone (doc_id rides the pinned leg).
    assert "ReadSchema: struct<text:string>" in p, p
    assert "Scan ExistingRDD" in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_assortativity_joins_node_sized_degrees(spark):
    """m24 candidate: the degree relation is NODE-sized and joins
    onto the stub list as plain equi-joins; the closing moment
    aggregate is 1-row and crossJoins back as the house broadcast
    scalar; no window, no UDF."""
    from miningfrequentpattern_spark.operators.graph import (
        degree_assortativity,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    p = _staged_plan(degree_assortativity(edges))
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row scalar leg
    assert "InPandas" not in p and "BatchEvalPython" not in p, p
    assert "Window" not in p, p


def test_staged_seasonal_profile_one_grouped_window(spark):
    """r69 candidate: ONE Window node partitioned by
    (keys, dow) — never global — and row-local arithmetic after it;
    no join-back, no UDF."""
    from miningfrequentpattern_spark.operators.timeseries import (
        seasonal_profile,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    daily = (
        load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    p = _staged_plan(seasonal_profile(daily, ["event_type"], "day", "n"))
    assert p.count("Window (") == 1, p
    assert "PartitionBy: [event_type" in p or "event_type" in p, p
    assert not re.search(r"Window \[.*windowspecdefinition\(\s*\)", p), p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_rrf_windows_are_query_keyed(spark):
    """l49 candidate: one row_number window PER RUN, each partitioned
    by the query keys (never global); the union adds no shuffle and
    the closing (keys, id) aggregate clusters on a superset of the
    window keys."""
    from miningfrequentpattern_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [("q", "x", 1.0)], "k string, id string, score double"
    )
    b = spark.createDataFrame(
        [("q", "y", 2.0)], "k string, id string, score double"
    )
    p = _staged_plan(rrf_fuse([a, b], ["k"], "id", "score"))
    assert p.count("Window (") == 2, p
    assert "Union" in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_benford_grain_bounded_after_one_aggregate(spark):
    """r70 candidate: digit extraction is row-local codegen
    arithmetic (no string cast, no UDF); ONE corpus exchange for the
    (groups, digit) count aggregate. The group-total window needs
    clustering on (groups) alone, which hashpartitioning(groups,
    digit) does NOT provide (satisfies only supersets), so a second
    exchange exists — but it moves the ≤9-rows-per-group AGGREGATE,
    not the corpus: 2 exchanges total, only the first corpus-sized."""
    from miningfrequentpattern_spark.operators.relational import (
        benford_audit,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    orders = load_table(spark, SF_ORACLE, "orders").select(
        F.col("o_orderpriority").alias("grp"), "o_totalprice"
    )
    p = _staged_plan(benford_audit(orders, ["grp"], "o_totalprice"))
    assert _n_exchanges(p) == 2, p
    assert p.count("Window (") == 1, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p
    assert "ReadSchema: struct<o_totalprice:double,o_orderpriority:string>" in p, p


def test_staged_cadence_single_exchange(spark):
    """r71 candidate: the lag() window and the closing per-key
    percentile aggregate share ONE series-key exchange (keys ⊆
    grouping — the TWA posture); the ts null filter reaches the
    scan; no UDF."""
    from miningfrequentpattern_spark.operators.timeseries import (
        cadence_audit,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events").select("event_type", "ts")
    p = _staged_plan(cadence_audit(ev, ["event_type"], "ts"))
    assert _n_exchanges(p) == 1, p
    assert p.count("Window (") == 1, p
    assert "IsNotNull(ts)" in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_target_encode_dimension_output(spark):
    """r72 candidate: one category-keyed aggregate exchange plus the
    1-row global-moment SinglePartition exchange — nothing else
    touches corpus scale — and the scalar joins back as the house
    BroadcastNestedLoopJoin; output is category-cardinality sized."""
    from miningfrequentpattern_spark.operators.relational import (
        target_encode,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    orders = load_table(spark, SF_ORACLE, "orders").select(
        F.col("o_custkey").alias("ck"), "o_totalprice"
    )
    p = _staged_plan(target_encode(orders, ["ck"], "o_totalprice"))
    assert _n_exchanges(p) <= 2, p
    assert "BroadcastNestedLoopJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_deseasonal_outliers_one_fused_plan(spark):
    """r73 candidate (composed seasonal_profile → mad_outliers): the
    whole pipeline is ONE plan — a single (type, dow) Window, the two
    group-keyed percentile aggregates broadcast back (never a
    corpus reshuffle on the group key), no sort-merge join and no
    Python anywhere."""
    from miningfrequentpattern_spark.operators.relational import (
        mad_outliers,
    )
    from miningfrequentpattern_spark.operators.timeseries import (
        seasonal_profile,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    daily = (
        load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    prof = seasonal_profile(daily, ["event_type"], "day", "n").drop("ratio")
    out = mad_outliers(
        prof, ["event_type"], "residual", carry=["day", "n", "dow", "dow_mean"]
    )
    p = _staged_plan(out)
    assert "SortMergeJoin" not in p, p
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, flags=re.M)) == 3, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_psi_nothing_after_scan_exceeds_bins(spark):
    """r74 candidate: the reference quantile is a 1-row aggregate
    broadcast onto both sides (BroadcastNestedLoopJoin scalars);
    binning is a row-local array filter in codegen; the per-side bin
    counts and their full-outer join are ≤ n_bins rows. No
    sort-merge of corpus-sized relations, no UDF."""
    from miningfrequentpattern_spark.operators.relational import psi_drift
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    split = F.lit("2024-07-01").cast("timestamp")
    ref = ev.filter(F.col("ts") < split).select("value")
    cur = ev.filter(F.col("ts") >= split).select("value")
    p = _staged_plan(psi_drift(ref, cur, "value", n_bins=10))
    assert "BroadcastNestedLoopJoin" in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p
    # the only SMJ-eligible join is the ≤10-row bin full-outer —
    # corpus relations never meet in a join — and both the period
    # predicate and the null filter reach the scan
    assert "IsNotNull(value)" in p and "LessThan(ts," in p, p


def test_staged_rfm_no_global_window(spark):
    """r75 candidate: scores come from ONE broadcast quantile-edge
    scalar and row-local array filters — no ntile(), no
    percent_rank(), no Window node AT ALL (the single-partition
    cliff a naive RFM hits); one customer-keyed aggregate exchange
    plus the 1-row edge aggregate."""
    from miningfrequentpattern_spark.operators.relational import rfm_scores
    from miningfrequentpattern_spark.sources.io import load_table

    orders = load_table(spark, SF_ORACLE, "orders").select(
        F.col("o_custkey").alias("cust"), "o_orderdate", "o_totalprice"
    )
    p = _staged_plan(rfm_scores(orders, "cust", "o_orderdate", "o_totalprice"))
    assert "Window" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_zipf_rank_leg_is_two_phase(spark):
    """l50 candidate (composed): the global rank rides
    global_row_number's range-exchange + broadcast-offset shape —
    asserting the ABSENCE of a single-partition window over the
    vocabulary — and the closing fit is a plain 1-row aggregate."""
    from miningfrequentpattern_spark.operators.relational import (
        global_row_number,
    )
    from miningfrequentpattern_spark.operators.timeseries import (
        series_trend,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    toks = (
        load_table(spark, SF_ORACLE, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.trim("text"), " ")).alias("term"))
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    ranked = global_row_number(
        counts, [F.col("n").desc(), F.col("term").asc()], "rank"
    )
    logs = ranked.select(F.log10("rank").alias("t"), F.log10("n").alias("x"))
    p = _staged_plan(series_trend(logs, [], "t", "x"))
    assert "rangepartitioning" in p, p
    # no Window over the data: the only window is the ≤P-row offset
    # prefix sum (the shared ranked leg prints twice pre-AQE — the
    # usual DAG expansion; the range exchange dedups at runtime)
    assert p.count("Window (") <= 2, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_label_centroids_corpus_scanned_once(spark):
    """l51 candidate: one posexplode + (label, pos) aggregate reduces
    the corpus to |labels|·d rows; the pair matrix self-join and the
    closing aggregate run on that dimension-sized relation — exactly
    ONE parquet scan in the whole plan, no UDF."""
    from miningfrequentpattern_spark.operators.embeddings import (
        label_centroid_similarity,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    embs = load_table(spark, SF_ORACLE, "embeddings")
    p = _staged_plan(label_centroid_similarity(embs, "label", "embedding"))
    # the centroid relation feeds BOTH join legs: the printed tree
    # expands the DAG into two scan+aggregate subtrees, but they are
    # canonically identical, so the shuffle stage (and its scan)
    # executes once at runtime (the r67 stage-cache note)
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)) == 2, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p
    assert len(re.findall(r"^\(\d+\) Generate$", p, flags=re.M)) == 2, p


def test_staged_theil_sen_pinned_base_key_equi_join(spark):
    """r76 (optimization r11): the pair set still comes from the
    key-equi self-join (32-way JVM codegen pair generation — the
    grouped-map numpy rewrite was probed and REJECTED, 3× slower;
    see theil_sen_trend's docstring), but the base relation is now
    pinned behind a lazy localCheckpoint: all three consuming legs
    (two pair sides + the intercept leg) read the SAME materialized
    RDD instead of re-scanning and re-aggregating the input three
    times. No cartesian, no UDF."""
    import re

    from miningfrequentpattern_spark.operators.timeseries import (
        theil_sen_trend,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    daily = (
        load_table(spark, SF_ORACLE, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .select(
            "priority",
            F.datediff("day", F.lit("1970-01-01")).cast("double").alias("t"),
            "n",
        )
    )
    p = _staged_plan(theil_sen_trend(daily, ["priority"], "t", "n"))
    assert "CartesianProduct" not in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p
    # zero parquet scans in the operator's plan: every leg reads the
    # pinned base RDD (3 ExistingRDD scans of ONE materialization)
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)) == 0, p
    assert len(re.findall(r"Scan ExistingRDD", p)) >= 3, p


def test_staged_chi2_margins_on_cell_grain(spark):
    """r77: the (a, b) cell count is ONE corpus aggregate behind a
    lazy checkpoint barrier (both consumers scan its RDD — the
    _combined_moments idiom); margin windows are KEYED on a/b over
    the cell-grain relation (≤|a|·|b| rows — the benford posture);
    the grand total is a 1-row broadcast, NEVER an empty-spec window
    (r9: Window.partitionBy() funneled the whole cell relation
    through one task); no pandas UDF."""
    from miningfrequentpattern_spark.operators.relational import (
        chi2_independence,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events").select(
        "event_type",
        ((F.dayofweek(F.col("ts").cast("date")) + 5) % 7 + 1)
        .cast("int")
        .alias("dow"),
    )
    p = _staged_plan(chi2_independence(ev, "event_type", "dow"))
    # the only aggregates in the POST-barrier plan are the grand
    # total's partial+final pair; the corpus cell count ran once
    # inside the checkpointed RDD
    assert len(re.findall(r"^\(\d+\) \w*HashAggregate", p, flags=re.M)) == 2, p
    # every Window node carries partition keys (no single-task cliff)
    for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\]", p):
        assert m.group(2).strip(), p
    # the total rides a broadcast, not a shuffle join of the cells
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_mannwhitney_two_phase_rank_no_global_window(spark):
    """r78 candidate: the midrank leg rides global_row_number's
    range exchange — NO single-partition window over the data; the
    only Window node is the ≤P-row offset prefix sum (printed twice
    pre-AQE by the shared-leg DAG expansion); everything after is
    value-cardinality sized."""
    from miningfrequentpattern_spark.operators.relational import (
        mannwhitney_z,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    p = _staged_plan(
        mannwhitney_z(ev, "event_type", "value", "click", "view")
    )
    assert "rangepartitioning" in p, p
    assert p.count("Window (") <= 2, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_bigram_backoff_unigrams_broadcast_bigrams_shuffle(spark):
    """l52 candidate: the unigram legs and the 1-row total broadcast
    (the l15 posture); the bigram-count leg joins as a SHUFFLE
    equi-join by design — a 100 TB bigram vocabulary is too large to
    broadcast — and bigram extraction is the shared row-local
    shifted_pairs seam (Generate, no UDF)."""
    from miningfrequentpattern_spark.operators.text import (
        bigram_backoff_score,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    docs = load_table(spark, SF_ORACLE, "documents").filter(
        F.col("text").isNotNull()
    )
    train = docs.filter(F.col("lang") == "en")
    p = _staged_plan(bigram_backoff_score(docs, train_docs=train))
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row total
    assert p.count("BroadcastHashJoin") >= 2, p  # unigram legs
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_cuped_one_scalar_fit(spark):
    """r79 candidate: the theta fit is ONE 1-row co-moment aggregate
    broadcast back as the house scalar crossJoin; the adjustment is
    row-local; no window, no UDF."""
    from miningfrequentpattern_spark.operators.relational import (
        cuped_adjust,
    )

    df = spark.createDataFrame(
        [(1, 1.0, 2.0)], "u long, pre double, post double"
    )
    p = _staged_plan(cuped_adjust(df, "post", "pre", carry=["u"]))
    assert "BroadcastNestedLoopJoin" in p, p
    assert "Window" not in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_interval_overlap_bucketed_is_equi_keyed(spark):
    """r80 candidate: with a bucket, the join condition carries the
    (keys, _bk) EQUI pair — Spark plans a hash-keyed join (never a
    key-only join whose range predicate fans each hot key to its
    full history, and never a cartesian); the claim-cell predicate
    rides the same join as a filter."""
    from miningfrequentpattern_spark.operators.timeseries import (
        interval_overlap_join,
    )

    a = spark.createDataFrame(
        [("u", 0.0, 10.0)], "k string, span_start double, span_end double"
    )
    b = spark.createDataFrame(
        [("u", 5.0, 15.0)], "k string, span_start double, span_end double"
    )
    p = _staged_plan(
        interval_overlap_join(a, b, ["k"], bucket="1 minute")
    )
    assert "CartesianProduct" not in p, p
    assert "_bk" in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_staged_contract_audit_one_pass_any_rule_count(spark):
    """r81 candidate: every rule compiles into ONE 1-row conditional
    aggregate — a single corpus scan and a single partial/final
    aggregate pair regardless of rule count; the per-rule unpivot is
    a row-local Generate on the 1-row result. No join, no UDF."""
    from miningfrequentpattern_spark.operators.relational import (
        contract_audit,
    )
    from miningfrequentpattern_spark.sources.io import load_table

    orders = load_table(spark, SF_ORACLE, "orders")
    p = _staged_plan(
        contract_audit(
            orders,
            [
                ("a", F.col("o_totalprice") > 0),
                ("b", F.col("o_custkey").isNotNull()),
                ("c", F.col("o_orderstatus").isin("O", "F")),
            ],
        )
    )
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, flags=re.M)) == 1, p
    assert len(re.findall(r"^\(\d+\) \w*HashAggregate", p, flags=re.M)) == 2, p
    assert "Join" not in p, p
    assert "InPandas" not in p and "BatchEvalPython" not in p, p


def test_native_lsh_has_no_udf_and_no_barrier(spark):
    """l03b (round-6 native RP-LSH rewrite): the plan must contain NO
    Python evaluation node (the hash is a codegen aggregate/zip_with)
    and NO checkpoint scan (the MLlib form's localCheckpoint barrier
    is gone — full lineage), and the candidate join must be the
    pinned shuffle_hash, never a broadcast of the corpus side."""
    p = plan_of(spark, "l03b_ann_lsh_topk")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "FlatMapGroupsInPandas" not in p and "MapInPandas" not in p, p
    assert "ExistingRDD" not in p, p  # a checkpoint would scan one
    assert "ShuffledHashJoin" in p, p
    assert "CartesianProduct" not in p, p


# ---------------------------------------------------------------------------
# Round-8 promotions: the scale claims in their registrations, asserted
# mechanically (the r85/r86 single-scan/no-join audits live in their own
# test files; these cover the rest of the cohort).
# ---------------------------------------------------------------------------


def test_r87_ttl_is_grouped_map_not_join(spark):
    """TTL dedup is ONE grouped-map chain over a single events scan —
    kept-ness has no window closed form, but it must never become a
    self-join either."""
    p = plan_of(spark, "r87_ttl_dedup")
    # formatted plans print each node twice (tree line + detail
    # section): exactly ONE partition-level Python map node = exactly
    # 2 mentions (optimization r11: MapInPandas over key-sorted
    # partitions replaced the per-key FlatMapGroupsInPandas — one
    # Python call per Arrow batch instead of one per key)
    assert p.count("MapInPandas") == 2, p
    assert "FlatMapGroupsInPandas" not in p, p
    assert "Join" not in p
    assert p.count("events.parquet") == 1
    # still exactly one exchange (the key repartition) + the
    # within-partition sort the chain rides
    import re as _re

    assert (
        len(_re.findall(r"^\(\d+\) Exchange", p, flags=_re.M)) == 1
    ), p


def test_r88_growth_churn_join_is_week_grain(spark):
    """Growth accounting scans events once for the (user, period)
    relation; the churn self-join runs on the tiny week-grain counts
    relation, never on the corpus."""
    p = plan_of(spark, "r88_growth_accounting")
    assert p.count("events.parquet") <= 2  # user-period leg + first-period leg share
    # the join is BROADCAST (week-count-sized), never a corpus SMJ
    assert "SortMergeJoin" not in p


def test_r90_holt_winters_single_grouped_map(spark):
    """Holt-Winters is one per-series recurrence seam after the daily
    aggregate — one orders scan, one Python boundary (optimization
    r11: MapInPandas over key-sorted partitions replaced the per-key
    FlatMapGroupsInPandas)."""
    p = plan_of(spark, "r90_holt_winters")
    # one partition-level map node = 2 mentions (tree + detail)
    assert p.count("MapInPandas") == 2, p
    assert "FlatMapGroupsInPandas" not in p, p
    assert p.count("orders.parquet") == 1


def test_l55_source_overlap_no_cartesian(spark):
    """The source-pair join is shingle-keyed (the equi-join IS the
    filter) — no cartesian/broadcast-nested-loop anywhere."""
    p = plan_of(spark, "l55_source_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_l57_norm_dedup_no_pair_join(spark):
    """Raw/normalized dup counts are key-grain aggregates joined back
    by equality — never a doc×doc pair join."""
    p = plan_of(spark, "l57_normalized_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_l58_gate_ablation_single_scan_single_agg(spark):
    """The ablation is ONE corpus scan into one 8-counter aggregate;
    the 4-row unpivot must not re-scan documents."""
    p = plan_of(spark, "l58_gate_ablation")
    assert p.count("documents.parquet") == 1
    assert "Join" not in p


def test_l59_media_dedup_digest_only_exchange(spark):
    """Only the 16-byte digest (plus ids) crosses the exchange — the
    binary payload column must not appear in the shuffle output."""
    p = plan_of(spark, "l59_media_dedup")
    ex = [l for l in p.splitlines() if "Exchange" in l]
    assert ex, p
    assert all("media" not in l or "media_md5" in l for l in ex), ex


def test_u09_iter_udf_no_exchange(spark):
    """The iterator-form UDF is a pure per-row map: one ArrowEval
    python node, zero exchanges."""
    p = plan_of(spark, "u09_iter_quantize")
    assert "ArrowEvalPython" in p
    assert "Exchange" not in p


def test_m28_lpa_no_window_in_rounds(spark):
    """Round 8 replaced the per-round rank-1 window with a max_by
    aggregate riding the count shuffle — the plan must carry NO
    Window node (a reappearing WindowExec means the extra
    exchange+sort per round came back)."""
    p = plan_of(spark, "m28_part_communities")
    assert "Window" not in p


def test_r89_backtest_single_orders_scan(spark):
    """The three forecast legs (naive/snaive/Holt) share ONE daily
    aggregate from ONE orders scan — lag windows on the grouped-map
    output, never three re-reads."""
    p = plan_of(spark, "r89_forecast_backtest")
    assert p.count("orders.parquet") == 1


def test_r91_ols_is_aggregate_only(spark):
    """Two-factor OLS is centering + one keyed moments aggregate —
    row-local expressions, no matrix library, no corpus join."""
    p = plan_of(spark, "r91_trend_weekend_ols")
    assert p.count("orders.parquet") <= 2  # daily agg + rounded-mean pivot leg
    assert "CartesianProduct" not in p


def test_media_dedup_single_exchange_window(spark):
    """media_dedup's n_copies + is_kept ride ONE window spec over a
    NAMED salt column — an inline salt expression is re-aliased per
    spec and Catalyst plans a second Exchange+Sort over identical
    keys (r10 sweep, booked item (l))."""
    p = plan_of(spark, "l59_media_dedup")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Sort\b", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1, p
