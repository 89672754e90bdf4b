"""Regenerate PLANS.md: .explain("formatted") evidence for the scale
claims asserted in tests/test_plans.py.

Usage: python scripts/gen_plans.py   (writes PLANS.md at the repo root;
the file is generated on demand and git-ignored)
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.01"

# (query name, header claim) — keep in sync with tests/test_plans.py.
SECTIONS = [
    ("r01_filter_project",
     "predicate pushdown + column pruning at the parquet scan"),
    ("r02_pricing_summary",
     "partial+final HashAggregate (map-side combine)"),
    ("r03_local_supplier_volume",
     "broadcast-only star join, no SortMergeJoin"),
    ("r15_top25_orders",
     "TakeOrderedAndProject (bounded top-k, no full sort)"),
    ("r08_asof_last_click_before_purchase",
     "as-of join = range join + rank-1 window"),
    ("l02_ngram_jaccard_pairs",
     "inverted-index set-similarity join (no cartesian; shuffle_hash "
     "self-join, sizes carried through the explode)"),
    ("l02c_simhash_pairs",
     "banded fingerprint equi-join (pigeonhole-exact, no O(block²) pass)"),
    ("l02d_embedding_neardup",
     "single cogrouped block-pair GEMM plan (no driver tile loop, no Union)"),
    ("s05_partitioned_pruning",
     "PartitionFilters prune the hive-partitioned directory at planning time"),
    ("t01_tumbling_window",
     "event-time window aggregate"),
    ("t05b_stateful_user_counts_native",
     "stateful counts as codegen hash aggregate (no Python boundary)"),
    ("l12_decontaminate",
     "benchmark shingles broadcast; corpus side never shuffles for the join"),
    ("l15_unigram_logprob",
     "vocab + total broadcast; no shuffle on Zipf-skewed tokens"),
    ("l17_tfidf_topterms",
     "df leg broadcast; rank pruned inside per-doc WindowExec"),
    ("r26_global_order_rank",
     "two-phase global rank: range shuffle + offset broadcast "
     "(ReusedExchange at runtime; no single-partition data window)"),
    ("l13_sequence_pack",
     "packing windows partitioned by (source, shard) — never global"),
    ("l02f_ngram_jaccard_guarded",
     "hot-shingle prefix filter (sampled regime): broadcast per-block "
     "hot sets + array_except strip df-over-cap shingles from the doc "
     "arrays BEFORE the explode (bounds d² posting-list fan-out; hot "
     "postings never enter a shuffle)"),
    ("l21_source_mixing",
     "1-row broadcast normalizer over a source-keyed aggregate"),
    ("l24_embedding_quantize",
     "int8 quantization as a pure per-row map — zero exchanges"),
    ("u05_arrow_grouped_centroids",
     "applyInArrow grouped map: one group shuffle, Arrow-native"),
    # round-4 additions
    ("r08b_asof_bucketed",
     "bucketed as-of: coarse time-bucket equi-key in the join "
     "condition bounds per-key fan-out to ~2 buckets"),
    ("l02g_ngram_jaccard_capped",
     "guard FIRING (exact regime): df as a count window over the "
     "self-join's own (shingle, block) partitioning — join legs and "
     "denominator leg reuse ONE corpus exchange; per-doc flagged "
     "counts patched at the pairs level (post-guard denominators)"),
    ("m12_sequence_rules",
     "sequential rules: broadcast prefix-lattice join, no cartesian"),
    ("l25_curation_pipeline",
     "composed curation pipeline: digest shuffle + per-row gate + "
     "broadcast decontamination, id-set plumbing as equi-joins"),
    ("r36_salted_join_segments",
     "salted join: (key, salt) equi-join spreads hot fact keys"),
    ("l26_source_kl_drift",
     "KL drift: partial+final agg on (source, token), vocabulary-"
     "keyed corpus join, broadcast scalar/per-source legs"),
    ("r37_snapshot_diff",
     "snapshot diff: one full-outer equi-join on the snapshot key, "
     "filtered to added/removed/changed"),
    ("l27_importance_resample",
     "DSIR importance resampling: broadcast bounded-vocab LLR join "
     "(TakeOrderedAndProject), per-source rank window only"),
    ("l28_ngram_novelty",
     "n-gram novelty: firsts aggregate joined back by shingle "
     "equi-key (broadcast under threshold), partial+final aggs"),
    ("s12_bucketed_join",
     "bucketed co-located join: both scans Bucketed: true, "
     "sort-merge join with zero join-side exchange"),
    ("l29_embedding_dim_stats",
     "embedding dim stats: ONE corpus scan + explode, one "
     "(dim,label) sufficient-stats aggregate, same-key window"),
    ("r38_incremental_agg_refresh",
     "incremental refresh: date predicates pushed on both legs, "
     "partial aggs before the |keys|-sized full-outer merge"),
    ("m15_pair_utility",
     "pair utility: pinned shuffle_hash self-join (corpus-sized "
     "legs), bounded TakeOrderedAndProject top-25"),
    ("r39_funnel_conversion",
     "funnel: per-stage event_type filters pushed to each scan, "
     "user-keyed min-aggregates and equi-joins"),
    # round-5 additions
    ("s13_merge_schema_scan",
     "schema-evolution read: ONE parquet scan over both snapshots "
     "(footer-level merge, no union/join), partial+final aggregate"),
    ("m16_rule_chains",
     "rule chains: native Apriori-k2 pair derivation (equi self-join "
     "+ hash aggregate), then a tiny rules self-equi-join — no "
     "FPGrowth lattice fit for a k=2 problem"),
    ("l30_prefix_dedup_keep_longest",
     "prefix dedup: WindowGroupLimit partial+final rank-1 — only "
     "candidate rows travel the fingerprint shuffle"),
    ("t07_stream_enrich",
     "stream-static enrich twin: dim broadcast + column-pruned, "
     "stream side reaches the join with zero exchanges"),
    ("m17_part_clustering",
     "clustering coefficient: triangle enumeration + degree "
     "aggregate, |V|-sized stitch — all equi, partial+final aggs"),
    ("l31_decontaminate_frac",
     "graded decontamination: benchmark shingles broadcast, per-doc "
     "shingle totals ride row-locally, one per-doc aggregate"),
    ("l32_incremental_dedup",
     "incremental dedup: digest-only columns past the scan, rank-1 "
     "window + anti-join on the same digest key family"),
    ("s14_dynamic_partition_overwrite",
     "dynamic partition overwrite round trip: partitioned read-back "
     "(event_type out of ReadSchema), partial+final aggregate"),
    ("r41_correlation_matrix",
     "six Pearson pairs: ONE scan, ONE partial+final aggregate "
     "(streaming covariance states), stack unpivot"),
    ("r42_data_quality_report",
     "constraint report: per-table conditional-agg scans + anti-join "
     "FK checks, no cartesian"),
    ("r43_gapfill_daily",
     "calendar grid generated from a broadcast bounds row; only "
     "corpus-sized stage is the counts aggregate"),
    ("r44_daily_anomaly",
     "one corpus aggregate, dimension-sized moments, broadcast join "
     "back"),
    ("r45_delta_join_refresh",
     "4-term delta-join expansion, customer legs broadcast, "
     "predicates pushed per term"),
    ("r46_rolling_distinct_users",
     "bounded x7 fan-out (Generate) + single keyed distinct-count "
     "aggregate; no Window, no join"),
    ("l33_vocab_growth",
     "decile arithmetic on broadcast bounds (no corpus-wide rank); "
     "explode + token-keyed min-agg; window only on <=10 rows"),
    ("l36_weighted_sample",
     "A-ES weighted sample: TakeOrderedAndProject top-100, no "
     "Window, no full sort"),
    ("l34_pq_topk",
     "PQ ANN: native ADC fold in the |Q|x|C| scan (no Python), "
     "windowed candidate cut, exact rerank equi-join"),
    ("r47_event_transitions",
     "one user-keyed lead() window, |types|^2 aggregate, broadcast "
     "normalizer"),
    ("l37_collocations",
     "PMI: pruned bigram relation joins broadcast unigram legs, "
     "TakeOrderedAndProject top-25"),
    ("l38_fuzzy_join",
     "blocked Levenshtein: equi join on blocking key, shuffle_hash, "
     "distance filter on block-mates only"),
    ("s15_metadata_scan",
     "_metadata rides the single scan; no join; partial+final agg"),
    ("m19_negative_pairs",
     "dense bounded top-40 grid LEFT-joined to sparse observed "
     "pairs with zero-fill; presence distinct before pairing"),
    ("l40_prep_pipeline2",
     "composed pipeline: one prefix_fp exchange + one source "
     "aggregate; row-local gates (static plan shows the "
     "normalizer's duplicated lineage; runtime reuses it — see "
     "tests/test_plans.py::test_prep_pipeline2_is_two_shuffles)"),
    ("r48_hll_rollup_merge",
     "two-level sketch rollup: per-year hll_sketch_agg partials, "
     "hll_union_agg re-aggregation, broadcast direct-leg compare"),
    ("r49_pareto_frontier",
     "skyline via bucketed prefix-max: brand-partitioned windows "
     "only, broadcast join-backs, no self-join / global window"),
    ("r50_weighted_median",
     "dual window + final aggregate all on ONE l_suppkey exchange"),
    ("l41_token_gini",
     "explode -> vocab-bounded agg -> source-partitioned rank "
     "window; joinless"),
    ("m20_gap_sequential_pairs",
     "time band rides a user_id equi-join; two-phase distinct "
     "support aggregate"),
    ("r66_volume_acf",
     "ONE Window node for all lags + same-exchange aggregate"),
    ("r67_value_outliers",
     "two group-keyed percentile aggregates broadcast back; "
     "corpus never reshuffles on the group key"),
    ("r74_value_psi",
     "1-row reference-quantile broadcast + row-local array-filter "
     "binning; nothing after the scans exceeds n_bins rows"),
    ("r75_customer_rfm",
     "broadcast quantile edges, NO global ntile/percent_rank "
     "window anywhere"),
    ("r77_type_dow_chi2",
     "one corpus aggregate; margins as KEYED windows on the cell "
     "grain; grand total via 1-row broadcast crossJoin — no "
     "empty-spec window, no single-partition cliff (r9)"),
    ("r78_click_vs_view_ranksum",
     "midranks via the two-phase range-partitioned rank; no "
     "single-partition window, no driver collect"),
    ("r80_concurrent_activity",
     "(keys, bucket) equi-join + claim-cell dedup; no cartesian"),
    ("l48_bm25_scores",
     "match-sized after the scan; df(term) + 1-row moments "
     "broadcast"),
    ("l51_label_centroids",
     "one posexplode + (label, pos) aggregate; pair matrix on the "
     "dimension-sized centroid relation"),
    ("r65_ops_monitor",
     "composed trend+CUSUM in ONE plan; daily relation feeds both "
     "branches, dimension legs broadcast"),
    ("r73_deseasonal_outliers",
     "composed seasonal_profile -> residual MAD in ONE plan; "
     "keyed windows only"),
    ("l50_zipf_fit",
     "two-phase distributed global rank (no single-partition "
     "window) -> co-moment OLS aggregate"),
    ("l45_ivfpq_topk",
     "IVF-pruned equi-join carries (cid, 8-byte codes); native ADC "
     "fold; NO crossJoin anywhere (vs flat PQ)"),
    ("l38b_fuzzy_join_capped",
     "broadcast anti-join drops over-cap blocks BEFORE the "
     "shuffle_hash self-join"),
    ("r62_attribution",
     "IGNORE-NULLS last_value window, horizon as row-local filters — "
     "no conversions×touches self-join"),
    ("r82_holt_revenue",
     "grouped-map recurrence over the day-grain series (one key "
     "shuffle; per-task memory bounded by series length)"),
    ("r83_gapfill_interp",
     "two IGNORE-NULLS frame passes sharing ONE (keys, t) exchange"),
    ("r84_scd2_lookup",
     "user-keyed shuffle-hash containment join; fan-out bounded by "
     "versions-per-user"),
    ("l53_textrank_keywords",
     "DISTINCT pair graph (vocabulary²-bounded) -> cached-edge "
     "pagerank rounds -> TakeOrdered top-25 in ONE plan"),
    ("l54_contamination_attribution",
     "suite shingles broadcast; corpus streams map-side; rank-1 on "
     "the doc-keyed hit relation"),
    ("m27_emerging_pairs",
     "two basket-bounded shuffle_hash self-joins + pair-grain "
     "full-outer stitch; 1-row basket counts broadcast"),
    ("l03b_ann_lsh_topk",
     "native RP-LSH: codegen bucket hashes, shuffle_hash candidate "
     "equi-join, no Python node, no checkpoint barrier"),
    # round-8 promotions (the former staged builders, now registered)
    ("r85_retention_cohorts",
     "ONE corpus scan: the per-user aggregate emits cohort AND the "
     "active-period set in the same pass; cohort sizes are a window "
     "on the matrix-grain relation"),
    ("r86_pit_features",
     "ONE keyed RANGE window over epoch-micros, strictly-before "
     "frame — no join node, no facts×touches fan-out"),
    ("r87_ttl_dedup",
     "grouped-map chain: one key shuffle, one-timestamp state "
     "(kept-ness has no window closed form)"),
    ("m28_part_communities",
     "per-round ONE hash(node) exchange that both the (node, label) "
     "count and the argmax ride (r9 shave); cached pre-hashed stubs "
     "— |E| never reshuffles"),
    ("r88_growth_accounting",
     "user-keyed distinct + lag classification; churn self-join on "
     "the week-count-sized aggregate only"),
    ("r90_holt_winters",
     "grouped-map recurrence with a period-length list buffer (one "
     "key shuffle; state bounded by the season length)"),
    ("l56_truncated_recall",
     "two bounded-query exact rankings share the corpus scan; "
     "rank-filtered overlap join — the corpus never self-joins"),
    ("u09_iter_quantize",
     "single ArrowEvalPython node (iterator form) — per-batch numpy, "
     "no shuffle at all"),
    # round-9 promotions
    ("l61_bpe_merges",
     "corpus scanned ONCE into the (word, freq) vocabulary; every "
     "round is vocabulary-sized with a 1-row argmax probe and a "
     "row-local rewrite. The training loop runs EAGERLY at build "
     "(bounded per-round probes), so the plan below is the final "
     "k-row merge-table relation — the per-round shape is pinned in "
     "tests/test_bpe.py::test_bpe_corpus_scanned_once_per_training"),
    ("l62_bpe_encode",
     "single ArrowEvalPython node (iterator form) — per-worker rank "
     "dict + word memo; row-local, zero shuffles beyond the merge "
     "table's bounded collect"),
    ("l04d_portable_fingerprints",
     "row-local md5-28bit polynomial fold — scan + project, no "
     "exchange at all"),
]

# one section per query — a duplicated entry silently doubles PLANS.md
assert len({n for n, _ in SECTIONS}) == len(SECTIONS), "duplicate SECTIONS"

# STAGED candidates awaiting registration render here with hand
# builders; round 8 promoted the whole round-7 backlog (their
# sections moved into SECTIONS above under their registered names) —
# the list is currently empty. Future staged operators add a
# (title, claim, builder) entry here until their registration lands.
def _staged_builders(spark):
    """No staged operators at the moment (round 8 promoted the whole
    round-7 backlog). Returns [(title, claim, builder), ...]."""
    return []


HEADER = '''# PLANS — physical-plan evidence for the scale claims (auto-generated)

Generated by `scripts/gen_plans.py`. Each plan is
`.explain("formatted")` of the registered query at sf0.01. The
properties named in headers are asserted programmatically in
`tests/test_plans.py`.
'''


def main() -> None:
    from miningfrequentpattern_spark.queries.registry import (
        QUERIES,
        load_all_packs,
    )
    from miningfrequentpattern_spark.session import get_session

    spark = get_session("gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    load_all_packs()

    out = [HEADER]
    for name, claim in SECTIONS:
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name} — {claim}\n\n```\n{buf.getvalue()}```\n")
    staged = _staged_builders(spark)
    for name, claim, build in staged:
        buf = io.StringIO()
        with redirect_stdout(buf):
            build().explain("formatted")
        out.append(f"## {name} — {claim}\n\n```\n{buf.getvalue()}```\n")
    (ROOT / "PLANS.md").write_text("\n".join(out))
    print(
        f"wrote {ROOT / 'PLANS.md'} "
        f"({len(SECTIONS)} query + {len(staged)} staged sections)"
    )


if __name__ == "__main__":
    main()
