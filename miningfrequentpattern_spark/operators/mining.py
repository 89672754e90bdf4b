"""Frequent-pattern mining core (SURVEY.md §2.2, M2-M10).

This is the engine's reason to exist: the capability surface of a
MapReduce frequent-itemset miner (Apriori / FP-Growth / PFP per Li et
al., RecSys 2008), re-expressed Spark-first.

Mapping of the canonical 3-job PFP pipeline onto Spark:
  job 1 (parallel counting)  -> explode + groupBy().count()
                                (partial agg = Hadoop combiner, free)
  job 2 (group-dependent FP-Growth shards) -> inside
                                pyspark.ml.fpm.FPGrowth (MLlib's own
                                PFP implementation; numPartitions knob)
  job 3 (top-K aggregation)  -> orderBy(desc(freq)).limit(K)

Nothing here uses RDDs; FPGrowth/PrefixSpan are the DataFrame-native
MLlib estimators. An independent DataFrame-only Apriori lives in
`apriori_frequent_itemsets` as a cross-check (M8) — same output
contract as FP-Growth at the same minSupport, used by tests to verify
MLlib results without trusting MLlib.
"""

from __future__ import annotations

from pyspark.ml.fpm import FPGrowth, FPGrowthModel, PrefixSpan
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import ckpt


# ---------------------------------------------------------------------------
# M2/M3: pass-1 counting + min-support filter (PFP job 1 == word count)
# ---------------------------------------------------------------------------

def item_supports(baskets: DataFrame, items_col: str = "items") -> DataFrame:
    """M2: per-item basket frequency. explode -> count; partial
    aggregation keeps the shuffle small (item, partial_count) pairs.

    array_distinct before the explode: support is BASKET frequency,
    so a basket [a, a, b] contributes 1 to a's support, not 2 —
    basketize's collect_set arrays are already distinct (no-op
    there), but a caller-built array with repeats would otherwise
    inflate L1 supports relative to item_supports_from_rows, to
    apriori's k>=2 levels, and to FPGrowth (which rejects duplicate
    items outright) — three divergent behaviors for one input
    (code-review r8 finding)."""
    return (
        baskets.select(
            F.explode(F.array_distinct(F.col(items_col))).alias("item")
        )
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def item_supports_from_rows(df: DataFrame, key: str, item: str) -> DataFrame:
    """M2, scalable form: support counting WITHOUT materializing basket
    arrays — distinct (key, item) pairs → count per item. Identical
    result to `item_supports(basketize(df, key, item))` (asserted in
    tests/test_mining.py) but the shuffle carries narrow pairs instead
    of collect_set arrays: no array build, no explode, and partial
    aggregation applies to both the distinct and the count. This is the
    form to run at 100 TB; the basket-path twin exists because the
    mining pipeline needs the arrays anyway for FPGrowth."""
    return (
        df.select(key, item)
        # collect_set in the basket path drops NULL items; mirror that
        # here or the two forms diverge on null-bearing item columns.
        .filter(F.col(item).isNotNull())
        .distinct()
        .groupBy(F.col(item).alias("item"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def frequent_items_from_rows(
    df: DataFrame, key: str, item: str, min_support: float
) -> DataFrame:
    """M2+M3 scalable form: F-list from raw rows (see
    item_supports_from_rows)."""
    # The denominator counts keys with >= 1 NON-NULL item — mirroring
    # basketize's min_items=1 drop of empty baskets (code-review r9:
    # counting every distinct key admitted all-NULL-item keys into N
    # that the basket path excludes, so the two forms' ceil(s*N)
    # thresholds diverged on exactly the null-bearing inputs
    # item_supports_from_rows' own filter handles).
    n = (
        df.filter(F.col(item).isNotNull())
        .select(key)
        .distinct()
        .select(F.count(F.lit(1)).alias("n_baskets"))
    )
    return (
        item_supports_from_rows(df, key, item)
        .crossJoin(F.broadcast(n))
        .filter(F.col("freq") >= F.ceil(F.lit(min_support) * F.col("n_baskets")))
        .select("item", "freq")
    )


def frequent_items(
    baskets: DataFrame, min_support: float, items_col: str = "items"
) -> DataFrame:
    """M2+M3: the F-list — items with basket-frequency >= ceil(s*N).

    The threshold is computed Spark-side with a scalar subquery-free
    crossJoin on a 1-row count so the plan stays fully distributed
    (no driver collect)."""
    n = baskets.select(F.count(F.lit(1)).alias("n_baskets"))
    return (
        item_supports(baskets, items_col)
        .crossJoin(F.broadcast(n))
        .filter(F.col("freq") >= F.ceil(F.lit(min_support) * F.col("n_baskets")))
        .select("item", "freq")
    )


# ---------------------------------------------------------------------------
# M4/M5/M6: FP-Growth itemsets, association rules, rule transform
# ---------------------------------------------------------------------------

def fit_fpgrowth(
    baskets: DataFrame,
    min_support: float = 0.01,
    min_confidence: float = 0.3,
    items_col: str = "items",
    num_partitions: int | None = None,
) -> FPGrowthModel:
    """M4: fit MLlib FP-Growth (internally the PFP parallelization).

    `fit` is an action (breaks laziness) so the input is cached for the
    duration of the fit and unpersisted before returning — the model's
    own outputs (freqItemsets/associationRules) don't reference the
    input, and `model.transform` recomputes it lazily if needed, so
    holding the cache would only leak storage memory across a long
    session running many queries.
    `num_partitions` is PFP's group count — at 100 TB set it to a few
    times the executor-core count so each conditional FP-tree fits in
    one task's memory.
    """
    baskets = baskets.cache()
    kwargs = dict(
        itemsCol=items_col, minSupport=min_support, minConfidence=min_confidence
    )
    if num_partitions is not None:
        kwargs["numPartitions"] = num_partitions
    try:
        return FPGrowth(**kwargs).fit(baskets)
    finally:
        baskets.unpersist()


def freq_itemsets(model: FPGrowthModel) -> DataFrame:
    """M4 output, deterministically ordered: (items ARRAY, freq BIGINT)."""
    return (
        model.freqItemsets
        .select(F.sort_array("items").alias("items"), "freq")
        .orderBy(F.desc("freq"), F.col("items"))
    )


def association_rules(model: FPGrowthModel) -> DataFrame:
    """M5: (antecedent, consequent, confidence, lift, support)."""
    return (
        model.associationRules
        .select(
            F.sort_array("antecedent").alias("antecedent"),
            F.sort_array("consequent").alias("consequent"),
            "confidence",
            "lift",
            "support",
        )
        .orderBy(F.desc("confidence"), F.col("antecedent"), F.col("consequent"))
    )


def predict_baskets(model: FPGrowthModel, baskets: DataFrame) -> DataFrame:
    """M6: for each basket, consequents of fired rules not already in
    the basket (MLlib `transform` semantics)."""
    return model.transform(baskets).withColumn(
        "prediction", F.sort_array("prediction")
    )


def top_k_itemsets(model: FPGrowthModel, k: int) -> DataFrame:
    """M7: K most frequent itemsets with deterministic tiebreak."""
    return freq_itemsets(model).limit(k)


# ---------------------------------------------------------------------------
# M8: DataFrame-only Apriori (cross-check implementation)
# ---------------------------------------------------------------------------

def apriori_frequent_itemsets(
    baskets: DataFrame,
    min_support: float,
    max_k: int = 3,
    items_col: str = "items",
    durable: bool = False,
) -> DataFrame:
    """M8: iterative Apriori on DataFrames — candidate generation via
    frequent-(k-1) self-join, support counting via array_contains
    against a broadcast candidate set. Same result contract as M4
    (Han et al. 2000 §5: identical result set at equal minSupport).

    This is deliberately the *candidate-generation* algorithm the
    reference's Apriori entry point embodies: one Spark job per k,
    with the candidate set broadcast (the Hadoop distributed-cache
    move) — useful as an independent check on FP-Growth and as the
    didactic baseline. FP-Growth remains the production path: Apriori's
    per-k passes re-scan the baskets k times.

    Returns (items ARRAY, freq BIGINT) for all k <= max_k.

    Materialization contract (same as fit_fpgrowth, whose model holds
    its freqItemsets eagerly): each level L_k AND each per-k candidate
    set (cands_id — pre-prune, so potentially larger than L_k) is
    pinned with an eager `localCheckpoint` — itemset-count-sized, read
    several times during construction (candidate generation + the
    k+1 prune semi-joins + the counting join's id→array mapback + the
    final union), and WITHOUT lineage truncation the returned plan
    re-inlines every lower level once per reader, turning a 13 s
    lattice into a 99 s re-execution cascade (measured at sf0.1).
    The basket-sized inputs are plain caches and are unpersisted
    before returning.

    Fault-tolerance tradeoff: `localCheckpoint` truncates lineage by
    storing blocks on executors WITHOUT a recomputation path — an
    executor loss makes the returned DataFrame (and the pinned
    intermediate levels, which live as long as the caller holds the
    result) permanently unrecoverable. That is the right trade for
    this operator's documented role — a single-session CROSS-CHECK of
    FP-Growth at fixture scale, never the production path. For a
    multi-executor run, pass durable=True: every pin becomes a
    reliable `checkpoint()` against the context's checkpoint dir
    (operators/ckpt.py), at the cost of one durable write per level.
    """
    with ckpt.Scope(durable) as s:
        baskets = s.cache(baskets.select(F.col(items_col).alias("items")))
        n = baskets.count()
        threshold = int(-(-min_support * n // 1))  # ceil

        # k=1 — array_distinct so a repeat-bearing basket counts once
        # per item, matching the k>=2 levels (whose collect_set-pruned
        # baskets are distinct by construction) and FPGrowth's
        # unique-items contract (code-review r8 finding)
        lk = (
            baskets.select(
                F.explode(F.array_distinct(F.col("items"))).alias("i0")
            )
            .groupBy("i0")
            .agg(F.count(F.lit(1)).alias("freq"))
            .filter(F.col("freq") >= threshold)
        )
        # The level pins outlive the scope: the returned plan reads them.
        lk = ckpt.pin(lk, durable)
        results = [lk.select(F.array("i0").alias("items"), "freq")]
        frequent_singletons = lk.select("i0")

        # Prune each basket to frequent items once (the F-list
        # projection — same trick FP-Growth uses) so later subset
        # tests shrink.
        with_id = baskets.withColumn("_bid", F.monotonically_increasing_id())
        pruned = s.cache(
            with_id.select("_bid", F.explode("items").alias("i0"))
            .join(F.broadcast(frequent_singletons), "i0")
            .groupBy("_bid")
            .agg(F.sort_array(F.collect_set("i0")).alias("items"))
        )
        bi = s.cache(pruned.select("_bid", F.explode("items").alias("i0")))

        prev = lk.select(F.array("i0").alias("itemset"))
        for k in range(2, max_k + 1):
            # Candidate generation: join L_{k-1} x L_1 keeping only
            # lexicographically-extending items (classic F_{k-1} x F_1).
            cands = (
                prev.crossJoin(F.broadcast(frequent_singletons))
                .filter(F.col("i0") > F.element_at("itemset", -1))
                .select(F.concat("itemset", F.array("i0")).alias("itemset"))
            )
            # Apriori prune (Agrawal 1994 §2.1.1): every (k-1)-subset
            # of a surviving candidate must itself be frequent. The
            # generating prefix (drop last) is frequent by
            # construction; the other k-1 subsets are checked with
            # semi-joins against L_{k-1} — candidate-set-sized
            # broadcasts, and each prune pays for itself many times
            # over in the counting join below.
            if k >= 3:
                for j in range(k - 1):
                    sub = F.concat(
                        F.slice("itemset", 1, j),
                        F.slice("itemset", j + 2, k - j - 1),
                    )
                    cands = cands.join(
                        F.broadcast(prev.select(F.col("itemset").alias("_sub"))),
                        sub == F.col("_sub"),
                        "left_semi",
                    )
            # Support counting as an EQUI-join, never a subset-theta
            # join: explode candidates to (candidate, member item),
            # hash-join basket items on the item, and a candidate is
            # contained in a basket iff all k of its members matched
            # (items are sets, so match-count == k <=> subset). Both
            # joins/aggregates stay in codegen; the former
            # BroadcastNestedLoopJoin evaluated an interpreted
            # array_except per (basket x candidate) pair — measured
            # 14x slower at sf0.1 (182 s -> 13 s) for the same output.
            # Candidates are keyed by a DENSE SCALAR id for the match
            # aggregate: grouping the (basket × member-hit) stream on
            # the itemset ARRAY forces interpreted array hashing /
            # equality per row, and on a dense lattice that stream is
            # ~|bi| × |cands|·k/|L1| rows — measured 8× (36 s → 4.6 s
            # at sf0.1 L3) just by aggregating on (_bid BIGINT, _cid
            # BIGINT) and mapping ids back to arrays afterwards via a
            # candidate-sized broadcast. The id assignment is pinned by
            # the eager checkpoint, so both readers see one assignment.
            cands_id = s.pin(
                cands.withColumn("_cid", F.monotonically_increasing_id())
            )
            cand_members = cands_id.select(
                "_cid", F.explode("itemset").alias("i0")
            )
            counted = (
                bi.join(F.broadcast(cand_members), "i0")
                .groupBy("_bid", "_cid")
                .agg(F.count(F.lit(1)).alias("_matched"))
                .filter(F.col("_matched") == k)
                .groupBy("_cid")
                .agg(F.count(F.lit(1)).alias("freq"))
                .filter(F.col("freq") >= threshold)
                .join(F.broadcast(cands_id), "_cid")
                .select("itemset", "freq")
            )
            counted = ckpt.pin(counted, durable)
            # cands_id (the pre-prune candidate relation, the largest
            # per-k pin) has no consumer once `counted` is pinned —
            # release its blocks NOW instead of leaking O(levels)
            # executor storage for the session (code-review r9).
            s.release(cands_id)
            if counted.isEmpty():
                # an empty level joins no result: nothing reads its pin
                ckpt.release(counted, durable)
                break
            results.append(
                counted.select(F.col("itemset").alias("items"), "freq")
            )
            prev = counted.select("itemset")

        out = results[0]
        for r in results[1:]:
            out = out.unionByName(r)
        return out.orderBy(F.desc("freq"), F.col("items"))


# ---------------------------------------------------------------------------
# M9: sequential patterns
# ---------------------------------------------------------------------------

def prefix_span(
    sequences: DataFrame,
    min_support: float = 0.1,
    max_pattern_length: int = 5,
    sequence_col: str = "sequence",
) -> DataFrame:
    """M9: PrefixSpan frequent sequential patterns.

    Input: one row per entity with `sequence ARRAY<ARRAY<T>>` (see
    baskets.event_sequences). Output: (sequence, freq) ordered.

    The input is CACHED for the duration of the mining call
    (optimization r11, guide §5 caching + the fit_fpgrowth
    rationale): MLlib's PrefixSpan is eager and makes multiple full
    passes over `sequences` (sequence count, frequent-item scan,
    internal-representation build), and the typical input lineage is
    a groupBy/collect_list SHUFFLE (baskets.event_sequences) that
    would otherwise re-run per pass — measured interleaved at sf0.1:
    1.30 s → 0.95 s min-of-3. The (pattern-lattice-sized) result is
    pinned with an eager localCheckpoint BEFORE the input cache is
    released so the returned handle never leans on the unpersisted
    lineage; the pin is per-invocation — nothing outlives the call.
    """
    ps = PrefixSpan(
        minSupport=min_support,
        maxPatternLength=max_pattern_length,
        sequenceCol=sequence_col,
    )
    seqs = sequences.cache()
    try:
        pats = ps.findFrequentSequentialPatterns(seqs).localCheckpoint(
            eager=True
        )
    finally:
        seqs.unpersist()
    return pats.orderBy(F.desc("freq"), F.col("sequence").cast("string"))


# ---------------------------------------------------------------------------
# M10: closed / maximal itemset post-filters
# ---------------------------------------------------------------------------

def closed_itemsets(itemsets: DataFrame) -> DataFrame:
    """M10: itemsets with no proper superset of EQUAL support.

    Anti-join on the superset relation. The self-join is size-bounded
    because |freqItemsets| << |data|; at scale, group by freq first
    (closure only compares equal-support sets) to cut the join space.
    """
    a, b = itemsets.alias("a"), itemsets.alias("b")
    supersets = a.join(
        b,
        (F.col("a.freq") == F.col("b.freq"))
        & (F.size("b.items") > F.size("a.items"))
        & (F.size(F.array_except(F.col("a.items"), F.col("b.items"))) == 0),
        "left_semi",
    )
    return itemsets.exceptAll(supersets).orderBy(F.desc("freq"), F.col("items"))


def maximal_itemsets(itemsets: DataFrame) -> DataFrame:
    """M10: itemsets with no frequent proper superset at all."""
    a, b = itemsets.alias("a"), itemsets.alias("b")
    non_maximal = a.join(
        b,
        (F.size("b.items") > F.size("a.items"))
        & (F.size(F.array_except(F.col("a.items"), F.col("b.items"))) == 0),
        "left_semi",
    )
    return itemsets.exceptAll(non_maximal).orderBy(F.desc("freq"), F.col("items"))


# ---------------------------------------------------------------------------
# M-extension: item-item cosine co-occurrence (collaborative filtering)
# ---------------------------------------------------------------------------

def item_cosine_pairs(
    df: DataFrame,
    basket_key: str,
    item_key: str,
    min_shared: int = 2,
    k: int = 25,
) -> DataFrame:
    """Top-k item PAIRS by co-occurrence cosine — the item-item
    collaborative-filtering similarity over implicit baskets:

        cosine(a, b) = n_ab / sqrt(n_a · n_b)

    with n_a = #baskets containing a and n_ab = #baskets containing
    both. Where raw pair support (m15's axis) favors popular items,
    the cosine normalization surfaces NICHE items that co-occur
    reliably — the "users who bought X also bought Y" ranker.
    Returns (item_a, item_b, n_shared, cosine), item_a < item_b,
    ordered by (cosine desc, item_a, item_b) — a total order, so the
    LIMIT boundary is deterministic.

    Shape (the m15 house pattern): the distinct (basket, item)
    relation is ONE hash aggregate; the pair leg self-joins it on the
    basket key as a pinned shuffle_hash (corpus-sized legs — the
    broadcast AQE would pick at a toy SF is exactly what cannot
    happen at 100 TB) with ONE reused exchange across both legs; the
    per-item counts relation is item-dimension-sized and BROADCASTS
    onto the pair aggregate twice; top-k is TakeOrderedAndProject.
    The basket-squared fan-out is bounded by max basket size
    (basketize's giant-basket argument; salt upstream if a basket is
    pathological). `min_shared` prunes the singleton-pair tail
    BEFORE the count joins.
    """
    iu = (
        df.select(
            F.col(basket_key).alias("_bk"), F.col(item_key).alias("_it")
        )
        .filter(F.col("_bk").isNotNull() & F.col("_it").isNotNull())
        .distinct()
        .hint("shuffle_hash")
    )
    counts = iu.groupBy(F.col("_it").alias("_ci")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    a, b = iu.alias("a"), iu.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._bk") == F.col("b._bk"))
            & (F.col("a._it") < F.col("b._it")),
        )
        .groupBy(
            F.col("a._it").alias("item_a"), F.col("b._it").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
    # Both count legs derive from the SAME relation — rename the key
    # per leg so the double join is never an ambiguous self-reference.
    ca = F.broadcast(
        counts.select(F.col("_ci").alias("_ia"), F.col("_n").alias("_na"))
    )
    cb = F.broadcast(
        counts.select(F.col("_ci").alias("_ib"), F.col("_n").alias("_nb"))
    )
    return (
        pairs.join(ca, F.col("item_a") == F.col("_ia"))
        .join(cb, F.col("item_b") == F.col("_ib"))
        .select(
            "item_a",
            "item_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.sqrt(F.col("_na") * F.col("_nb")),
                4,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("item_a"), F.asc("item_b"))
        .limit(int(k))
    )


def emerging_pair_patterns(
    before: DataFrame,
    after: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
) -> DataFrame:
    """Emerging-pattern mining over item PAIRS (Dong & Li, KDD '99
    restricted to 2-itemsets — the lattice level where support counts
    stay oracle-able as plain SQL): co-occurrence counts of each item
    pair in a BEFORE and an AFTER basket corpus, with per-period
    supports and the support growth rate

        growth = (n_after / N_after) / (n_before / N_before)

    — the "what started selling together" / "what pattern is new this
    quarter" query that complements M4's single-corpus frequent
    itemsets with the contrast dimension. Returns (item_a, item_b,
    n_before, n_after, support_before, support_after, growth,
    is_new): pairs absent from BEFORE have NULL growth and
    is_new = true (a 0-denominator is a NEW pattern, not infinity);
    pairs are kept when EITHER period's count reaches `min_count`
    (vanishing patterns — present before, gone after — surface with
    n_after = 0 rather than silently dropping).

    Shape (optimization r11, guide §2.3/§2.4 — aggregate before you
    shuffle, remove shuffles outright): ONE union-tagged pass. Both
    corpora union with a `_late` period tag, collapse to one sorted
    item-set array per (basket, period) — `collect_set` dedups, so
    the old DISTINCT-postings pass rides the same aggregate — and the
    i < j pairs expand row-locally with the native nested-transform
    expression (the _copurchase_pair_rows pattern; fan-out is
    basket-bounded, the identical block² cost the old self-join paid
    per basket, without moving the postings twice per period). Pair
    counts for BOTH periods come from one conditional aggregate
    (count_if on the tag), which also replaces the old pair-keyed
    FULL-OUTER join of the two period relations; the 1-row basket
    counts broadcast, as before. The old plan expanded the input
    lineage SIX times (two self-join legs + a basket count, per
    period: 12 parquet scans / 14 exchanges in m27); this one
    materializes the (basket, period)-grain array relation once
    behind a lazy localCheckpoint (the m21 edge-pin pattern — lazy ⇒
    nothing runs at construction; fresh per invocation ⇒ no cross-run
    caching) and plans 2 scans / 3 exchanges. Pair multiset is
    IDENTICAL: sort_array makes item_a < item_b strict under the same
    type ordering the old `a.it < b.it` join predicate used, and set
    semantics mean no duplicate pairs per basket (A/B'd
    value-for-value at every SF, r11). All supports divide exact
    integers, so both engines compute identical float64 (the m22
    parity stance). NULL basket/item keys are excluded (they cannot
    form evidence).
    """
    def _leg(df: DataFrame, late: bool) -> DataFrame:
        return df.select(
            F.col(basket_col).alias("bk"),
            F.col(item_col).alias("it"),
            F.lit(late).alias("_late"),
        ).filter(F.col("bk").isNotNull() & F.col("it").isNotNull())

    tagged = _leg(before, False).unionByName(_leg(after, True))
    per_basket = tagged.groupBy("bk", "_late").agg(
        F.sort_array(F.collect_set("it")).alias("its")
    )
    # Two consumers (basket counts + pair expansion) — pin so the
    # union+aggregate lineage materializes once, not per consumer.
    per_basket = per_basket.localCheckpoint(eager=False)
    counts = per_basket.agg(
        F.count_if(~F.col("_late")).alias("_n_before"),
        F.count_if(F.col("_late")).alias("_n_after"),
    )
    joined = (
        per_basket.select(
            "_late",
            F.explode(
                F.expr(
                    "flatten(transform(its, (x, i) -> "
                    "transform(slice(its, i + 2, size(its)), "
                    "y -> struct(x AS item_a, y AS item_b))))"
                )
            ).alias("p"),
        )
        .select("_late", "p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(
            F.count_if(~F.col("_late")).alias("n_before"),
            F.count_if(F.col("_late")).alias("n_after"),
        )
        .filter(
            (F.col("n_before") >= min_count)
            | (F.col("n_after") >= min_count)
        )
        .crossJoin(F.broadcast(counts))
    )
    sup_b = F.col("n_before") * 1.0 / F.col("_n_before")
    sup_a = F.col("n_after") * 1.0 / F.col("_n_after")
    return joined.select(
        "item_a",
        "item_b",
        "n_before",
        "n_after",
        F.round(sup_b, 4).alias("support_before"),
        F.round(sup_a, 4).alias("support_after"),
        F.round(
            F.when(F.col("n_before") > 0, sup_a / sup_b), 4
        ).alias("growth"),
        (F.col("n_before") == 0).alias("is_new"),
    )
