"""Mining pack (SURVEY.md §2.2): the reference capability surface.

Support calibration against the fixtures (probed at sf0.01):
- order baskets are sparse (14,743 baskets, top item freq 49 → max
  support ≈ 0.33%), so market-basket queries use minSupport=0.002;
- token baskets are dense by construction (500 docs, 31-word vocab,
  ~23 distinct tokens/doc), so itemset/rule queries that need k≥2
  structure run there with minSupport≈0.45-0.5.

Oracle strategy: itemsets are serialized to a canonical string
(`array_join(sort_array(items), ' ')`) so the DuckDB comparison is on
plain (string, bigint) columns — no cross-engine array-encoding risk.
Confidence/lift/support doubles are rounded to 4dp on BOTH sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import text as T
from ..operators.baskets import event_sequences, order_baskets, token_baskets
from ..operators.mining import (
    apriori_frequent_itemsets,
    frequent_items_from_rows,
    item_supports_from_rows,
    association_rules,
    closed_itemsets,
    fit_fpgrowth,
    freq_itemsets,
    frequent_items,
    item_supports,
    maximal_itemsets,
    predict_baskets,
    prefix_span,
    top_k_itemsets,
)
from ..sources.io import load_table
from .registry import query

# Canonical token-explode CTE reused by every token-basket oracle.
# DELIBERATELY simpler than Spark's text.tokens() (no trim, no
# ''-filter, all-docs denominators): equivalent ONLY under the pinned
# fixture invariant — every documents.text is non-empty, ASCII,
# single-spaced with no leading/trailing space — enforced per-SF by
# tests/test_fixture_invariants.py::test_documents_text_is_ascii_
# single_spaced, which exists precisely so a fixture regeneration
# that breaks the invariant fails THERE with a named message instead
# of as opaque m04/m05/m07/m08 hash mismatches (code-review r9).
_TOK = (
    "SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS item "
    "FROM documents"
)

# Consolidation (c), r9 mining-pack sweep: the 1-to-1 token-rule CTE
# chain (doc count, item counts, Apriori-k2 pair supports at
# minSupport=0.45, both rule directions) was pasted verbatim into the
# m05_rules_1to1 / m11 / m16 oracles and kept in sync by hand — one
# constant interpolated by all three (the PREFIX_FP_SQL
# drift-prevention pattern). Spark twin: _token_pair_rules below.
_PAIR_RULES_CTE = f"""tok AS ({_TOK}),
         n AS (SELECT count(*) AS n_docs FROM documents),
         k1 AS (SELECT item, count(*) AS freq FROM tok GROUP BY item),
         k2 AS (SELECT a.item AS x, b.item AS y, count(*) AS freq
                FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.item < b.item
                GROUP BY a.item, b.item),
         pairs AS (SELECT x, y, freq FROM k2
                   WHERE freq >= ceil(0.45 * (SELECT n_docs FROM n))),
         both_dirs AS (
           SELECT x AS antecedent, y AS consequent, freq FROM pairs
           UNION ALL
           SELECT y AS antecedent, x AS consequent, freq FROM pairs)"""

# Same consolidation for the sequential-pattern chain: the bounded
# ≤3-length pattern lattice over per-user (ts, event_id)-ordered
# events, shared verbatim by the m09_prefixspan_full and m12 oracles
# (m12 stacks the rule split/join on top).
_SEQ_PATTERNS_CTE = """n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    e AS (SELECT user_id, ts, event_id, event_type FROM events),
    p1 AS (
      SELECT event_type AS pattern, count(DISTINCT user_id) AS freq
      FROM e GROUP BY 1),
    s2 AS (
      SELECT DISTINCT a.user_id, a.event_type AS x, b.event_type AS y
      FROM e a JOIN e b ON b.user_id = a.user_id
       AND (b.ts, b.event_id) > (a.ts, a.event_id)),
    p2 AS (SELECT x || '>' || y AS pattern, count(*) AS freq
           FROM s2 GROUP BY 1),
    s3 AS (
      SELECT DISTINCT a.user_id,
             a.event_type AS x, b.event_type AS y, c.event_type AS z
      FROM e a
      JOIN e b ON b.user_id = a.user_id
       AND (b.ts, b.event_id) > (a.ts, a.event_id)
      JOIN e c ON c.user_id = b.user_id
       AND (c.ts, c.event_id) > (b.ts, b.event_id)),
    p3 AS (SELECT x || '>' || y || '>' || z AS pattern, count(*) AS freq
           FROM s3 GROUP BY 1),
    allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
             UNION ALL SELECT * FROM p3)"""


def _itemset_str(df: DataFrame, items_col: str = "items") -> DataFrame:
    """Canonical string form of an itemset column (oracle-safe)."""
    return df.withColumn(
        "itemset", F.array_join(F.sort_array(F.col(items_col)), " ")
    ).drop(items_col)


def _lattice_sql(sup: float, max_k: int) -> str:
    """DuckDB CTE chain enumerating the EXACT frequent-itemset lattice
    over token baskets up to size `max_k`, each level counted
    independently (not Apriori-chained), unioned into
    `lat(items LIST, freq)`.

    Viable because the documents fixture is dense and tiny at the
    oracle SF (31-word vocab, ~23 tokens/doc): the k=4 level is ~4.4M
    intermediate rows in DuckDB. `max_k` is set per-oracle from a probe
    of the fixture (at minSupport=0.5 the lattice tops out at k=4 —
    monotonicity makes the enumeration complete once level k+1 is
    empty). Items inside a set are ascending, matching Spark's
    sort_array.

    Performance shape (this matters — the driver runs each oracle):
    tokens are dictionary-encoded to dense INTEGER codes first
    (dense_rank ORDER BY item, so code order == lexicographic token
    order and sorted code lists decode to sorted token lists), the
    k-combinations are built by a left-deep chain of doc_id equi-joins
    carrying plain int columns (a flat N-way join lets the planner pick
    an inequality-only edge and go quadratic; ~4 s vs >100 s measured),
    and lists are materialized only for the ~4.5k surviving itemsets.
    """
    th = f"ceil({sup} * (SELECT n_docs FROM n))"
    chains, levels, arms = [], [], []
    for k in range(2, max_k + 1):
        prev = "tok" if k == 2 else f"c{k - 1}"
        prev_cols = ", ".join(f"p.i{j}" for j in range(1, k))
        prev_last = "p.c" if k == 2 else f"p.i{k - 1}"
        head = "p.c AS i1" if k == 2 else prev_cols
        chains.append(
            f"c{k} AS (SELECT p.doc_id, {head}, t.c AS i{k} "
            f"FROM {prev} p JOIN tok t "
            f"ON t.doc_id = p.doc_id AND t.c > {prev_last})"
        )
    for k in range(1, max_k + 1):
        if k == 1:
            levels.append(
                f"k1 AS (SELECT [c] AS cs, count(*) AS freq FROM tok "
                f"GROUP BY c HAVING count(*) >= {th})"
            )
        else:
            arr = ", ".join(f"i{j}" for j in range(1, k + 1))
            levels.append(
                f"k{k} AS (SELECT [{arr}] AS cs, count(*) AS freq "
                f"FROM c{k} GROUP BY {arr} HAVING count(*) >= {th})"
            )
        arms.append(f"SELECT * FROM k{k}")
    return (
        f"tok0 AS ({_TOK}), "
        "n AS (SELECT count(*) AS n_docs FROM documents), "
        "vocab AS (SELECT item, CAST(dense_rank() OVER (ORDER BY item) "
        "AS INTEGER) AS c FROM (SELECT DISTINCT item FROM tok0)), "
        "vlist AS (SELECT list(item ORDER BY c) AS v FROM vocab), "
        "tok AS (SELECT t.doc_id, v.c FROM tok0 t JOIN vocab v USING (item)), "
        + ", ".join(chains + levels)
        + ", lat0 AS (" + " UNION ALL ".join(arms) + ")"
        + ", lat AS (SELECT list_transform(l.cs, x -> vl.v[x]) AS items, "
        "l.freq FROM lat0 l CROSS JOIN vlist vl)"
    )


# Association rules derived from the lattice, MLlib-style: one rule
# Z\{y} -> y per frequent itemset Z and member y (MLlib consequents are
# always single items), confidence-filtered at 0.7. Antecedent lookup
# always hits: every subset of a frequent itemset is frequent.
_RULES = """rules AS (
      SELECT list_filter(items, x -> x <> y) AS ant, y AS cons,
             freq AS zfreq
      FROM (SELECT items, freq, unnest(items) AS y
            FROM lat WHERE len(items) >= 2)
    ), scored AS (
      SELECT r.ant, r.cons, r.zfreq, fa.freq AS afreq, fc.freq AS cfreq
      FROM rules r
      JOIN lat fa ON fa.items = r.ant
      JOIN lat fc ON fc.items = [r.cons]
      WHERE r.zfreq * 1.0 / fa.freq >= 0.7
    )"""


# ---------------------------------------------------------------------------
# M1: basketize
# ---------------------------------------------------------------------------

@query(
    "m01_basketize_orders",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list_distinct(list(l_partkey))), ' ')
             AS basket,
           count(DISTINCT l_partkey) AS basket_size
    FROM lineitem GROUP BY l_orderkey
    """,
)
def m01_basketize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: lineitem → market baskets (collect_set semantics; the
    duplicate-partkey trap from FIXTURES.md is exactly what this
    query's oracle locks in)."""
    b = order_baskets(load_table(spark, sf_dir, "lineitem"))
    return b.select(
        "l_orderkey",
        F.array_join("items", " ").alias("basket"),
        F.size("items").cast("long").alias("basket_size"),
    )


# ---------------------------------------------------------------------------
# M2/M3: item support + min-support filter (PFP job 1)
# ---------------------------------------------------------------------------

@query(
    "m02_item_support",
    oracle="""
    SELECT l_partkey AS item, count(DISTINCT l_orderkey) AS freq
    FROM lineitem GROUP BY l_partkey
    """,
)
def m02_item_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: pass-1 item frequency (== word count, the reference's first
    MapReduce job), in the scalable pair-shuffle form — the basket-path
    equivalence is locked by tests/test_mining.py::test_k1_equals_sql_groupby."""
    li = load_table(spark, sf_dir, "lineitem")
    return item_supports_from_rows(li, "l_orderkey", "l_partkey")


@query(
    "m03_frequent_items",
    oracle="""
    WITH n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem)
    SELECT l_partkey AS item, count(DISTINCT l_orderkey) AS freq
    FROM lineitem GROUP BY l_partkey
    HAVING count(DISTINCT l_orderkey) >= ceil(0.002 * (SELECT n_baskets FROM n))
    """,
)
def m03_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: the F-list — items at minSupport=0.002 of order baskets
    (scalable pair-shuffle form; see item_supports_from_rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return frequent_items_from_rows(li, "l_orderkey", "l_partkey", 0.002)


# ---------------------------------------------------------------------------
# M4: FP-Growth frequent itemsets
# ---------------------------------------------------------------------------

@query(
    "m04_itemsets_k2_tokens",
    oracle=f"""
    WITH tok AS ({_TOK}),
         n AS (SELECT count(*) AS n_docs FROM documents),
         k1 AS (SELECT item AS itemset, count(*) AS freq
                FROM tok GROUP BY item),
         k2 AS (SELECT a.item || ' ' || b.item AS itemset, count(*) AS freq
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id AND a.item < b.item
                GROUP BY a.item, b.item)
    SELECT itemset, freq
    FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2)
    WHERE freq >= ceil(0.45 * (SELECT n_docs FROM n))
    """,
)
def m04_itemsets_k2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (oracle slice): FP-Growth itemsets of size ≤ 2 over token
    baskets vs an exact SQL self-join count. Locks MLlib's support
    semantics to the textbook definition."""
    docs = load_table(spark, sf_dir, "documents")
    model = fit_fpgrowth(token_baskets(docs), min_support=0.45)
    k2 = model.freqItemsets.filter(F.size("items") <= 2)
    return _itemset_str(k2).select("itemset", "freq")


@query(
    "m04_itemsets_full_tokens",
    oracle=f"""
    WITH {_lattice_sql(0.5, 4)}
    SELECT array_to_string(items, ' ') AS itemset, freq FROM lat
    """,
)
def m04_itemsets_full_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (full): ALL FP-Growth itemsets over token baskets at
    minSupport=0.5, checked against an exact SQL enumeration of the
    full lattice (k≤4 — the fixture's lattice is empty at k=5, and by
    monotonicity that makes the k≤4 enumeration complete)."""
    docs = load_table(spark, sf_dir, "documents")
    model = fit_fpgrowth(token_baskets(docs), min_support=0.5)
    return _itemset_str(freq_itemsets(model)).select("itemset", "freq")


@query(
    "m04_itemsets_market",
    oracle="""
    WITH tok AS (SELECT DISTINCT l_orderkey AS doc_id, l_partkey AS item
                 FROM lineitem),
         n AS (SELECT count(*) AS n_baskets
               FROM (SELECT DISTINCT l_orderkey FROM lineitem)),
         k1 AS (SELECT [item] AS items, count(*) AS freq
                FROM tok GROUP BY item
                HAVING count(*) >= ceil(0.002 * (SELECT n_baskets FROM n))),
         k2 AS (SELECT [a.item, b.item] AS items, count(*) AS freq
                FROM tok a JOIN tok b
                  ON b.doc_id = a.doc_id AND b.item > a.item
                GROUP BY a.item, b.item
                HAVING count(*) >= ceil(0.002 * (SELECT n_baskets FROM n)))
    SELECT array_to_string(items, ' ') AS itemset, freq
    FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2)
    """,
)
def m04_itemsets_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 over the sparse market baskets (minSupport=0.002) — the
    reference's archetypal input shape. Oracle enumerates k≤2: the
    fixture has NO frequent pair at this support (probed), so by
    monotonicity k≤2 is the complete lattice. Pair items compare
    numerically (BIGINT partkeys) on both sides.

    The PFP group count is pinned to the session's configured
    shuffle parallelism (spark.sql.shuffle.partitions — 32 in this
    repo's sessions, the knob a cluster deployment tunes to its
    size): AQE coalesces the small basketize shuffle, and FPGrowth's
    default group count inherits that coalesced (too-low) parallelism
    for the conditional-tree stage — measured 1.3 s vs 2.4 s at sf0.1
    (SCALING.md curve; token-basket fits prefer the default). The
    conf is stable at call time, unlike defaultParallelism, which on
    dynamic-allocation clusters reads a degenerate value before
    executors register."""
    li = load_table(spark, sf_dir, "lineitem")
    model = fit_fpgrowth(
        order_baskets(li),
        min_support=0.002,
        num_partitions=int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return _itemset_str(freq_itemsets(model)).select("itemset", "freq")


# ---------------------------------------------------------------------------
# M5: association rules
# ---------------------------------------------------------------------------

@query(
    "m05_rules_1to1_tokens",
    oracle=f"""
    WITH {_PAIR_RULES_CTE}
    SELECT r.antecedent, r.consequent,
           round(r.freq * 1.0 / fa.freq, 4) AS confidence,
           round((r.freq * 1.0 / fa.freq) / (fc.freq * 1.0 / n.n_docs), 4) AS lift,
           round(r.freq * 1.0 / n.n_docs, 4) AS support
    FROM both_dirs r
    JOIN k1 fa ON fa.item = r.antecedent
    JOIN k1 fc ON fc.item = r.consequent
    CROSS JOIN n
    WHERE r.freq * 1.0 / fa.freq >= 0.6
    """,
)
def m05_rules_1to1_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 (oracle slice): single-antecedent → single-consequent rules
    from FP-Growth at minSupport=0.45, minConfidence=0.6, checked
    against confidence/lift/support recomputed exactly in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    model = fit_fpgrowth(token_baskets(docs), min_support=0.45, min_confidence=0.6)
    r = model.associationRules.filter(
        (F.size("antecedent") == 1) & (F.size("consequent") == 1)
    )
    return r.select(
        F.element_at("antecedent", 1).alias("antecedent"),
        F.element_at("consequent", 1).alias("consequent"),
        F.round("confidence", 4).alias("confidence"),
        F.round("lift", 4).alias("lift"),
        F.round("support", 4).alias("support"),
    )


@query(
    "m05_rules_full_tokens",
    oracle=f"""
    WITH {_lattice_sql(0.5, 4)}, {_RULES}
    SELECT array_to_string(ant, ' ') AS antecedent,
           cons AS consequent,
           round(zfreq * 1.0 / afreq, 4) AS confidence,
           round((zfreq * 1.0 / afreq) /
                 (cfreq * 1.0 / (SELECT n_docs FROM n)), 4) AS lift,
           round(zfreq * 1.0 / (SELECT n_docs FROM n), 4) AS support
    FROM scored
    """,
)
def m05_rules_full_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 (full): ALL association rules (any antecedent size) at
    minSupport=0.5, minConfidence=0.7, against rules re-derived in SQL
    from the exact lattice (consequents are single items, mirroring
    MLlib's AssociationRules)."""
    docs = load_table(spark, sf_dir, "documents")
    model = fit_fpgrowth(token_baskets(docs), min_support=0.5, min_confidence=0.7)
    r = association_rules(model)
    return r.select(
        F.array_join("antecedent", " ").alias("antecedent"),
        F.array_join("consequent", " ").alias("consequent"),
        F.round("confidence", 4).alias("confidence"),
        F.round("lift", 4).alias("lift"),
        F.round("support", 4).alias("support"),
    )


@query(
    "m06_rule_transform",
    oracle=f"""
    WITH {_lattice_sql(0.5, 4)}, {_RULES},
    docsets AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ditems
                FROM documents),
    fired AS (SELECT d.doc_id, s.cons
              FROM scored s JOIN docsets d
                ON list_has_all(d.ditems, s.ant)
               AND NOT list_contains(d.ditems, s.cons)),
    pred AS (SELECT doc_id, list_sort(list(DISTINCT cons)) AS plist
             FROM fired GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(array_to_string(p.plist, ' '), '') AS predicted_items,
           coalesce(len(p.plist), 0) AS n_predicted
    FROM docsets d LEFT JOIN pred p USING (doc_id)
    """,
)
def m06_rule_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: fire rules against each basket; emit predicted items not
    already present (MLlib transform semantics — distinct consequents
    of rules whose full antecedent the basket contains). The oracle
    re-derives the rules from the exact lattice and fires them with
    list containment in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    b = token_baskets(docs)
    model = fit_fpgrowth(b, min_support=0.5, min_confidence=0.7)
    out = predict_baskets(model, b)
    return out.select(
        "doc_id",
        F.array_join("prediction", " ").alias("predicted_items"),
        F.size("prediction").cast("long").alias("n_predicted"),
    )


# ---------------------------------------------------------------------------
# M7: top-K patterns
# ---------------------------------------------------------------------------

@query(
    "m07_topk_items",
    oracle="""
    SELECT item, freq FROM (
      SELECT l_partkey AS item, count(DISTINCT l_orderkey) AS freq
      FROM lineitem GROUP BY l_partkey
    ) ORDER BY freq DESC, item LIMIT 20
    """,
)
def m07_topk_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 (oracle slice): top-20 single items, deterministic tiebreak
    on item id (PFP job 3's final aggregation at k=1)."""
    b = order_baskets(load_table(spark, sf_dir, "lineitem"))
    return (
        item_supports(b)
        .orderBy(F.desc("freq"), F.col("item"))
        .limit(20)
    )


@query(
    "m07_topk_itemsets",
    oracle=f"""
    WITH {_lattice_sql(0.5, 4)}
    SELECT array_to_string(items, ' ') AS itemset, freq FROM lat
    ORDER BY freq DESC, itemset LIMIT 50
    """,
)
def m07_topk_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 (full): top-50 FP-Growth itemsets over tokens at
    minSupport=0.5, deterministic tiebreak on the itemset. Array
    lexicographic order (Spark) equals string order with a space
    separator (oracle) because ' ' sorts below every token char."""
    docs = load_table(spark, sf_dir, "documents")
    model = fit_fpgrowth(token_baskets(docs), min_support=0.5)
    return _itemset_str(top_k_itemsets(model, 50)).select("itemset", "freq")


# ---------------------------------------------------------------------------
# M8: Apriori cross-check implementation
# ---------------------------------------------------------------------------

@query(
    "m08_apriori_tokens",
    oracle=f"""
    WITH {_lattice_sql(0.5, 3)}
    SELECT array_to_string(items, ' ') AS itemset, freq FROM lat
    """,
)
def m08_apriori_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: independent DataFrame-only Apriori (k≤3) at minSupport=0.5
    vs the exact k≤3 SQL lattice — the same result contract as
    FP-Growth's k≤3 slice (Han et al. 2000 §5), proven from a third
    independent implementation; tests also assert Apriori == FP-Growth."""
    docs = load_table(spark, sf_dir, "documents")
    out = apriori_frequent_itemsets(token_baskets(docs), min_support=0.5, max_k=3)
    return _itemset_str(out).select("itemset", "freq")


# ---------------------------------------------------------------------------
# M9: sequential patterns (PrefixSpan)
# ---------------------------------------------------------------------------

@query(
    "m09_prefixspan_1seq",
    oracle="""
    WITH n AS (SELECT count(DISTINCT user_id) AS n_users FROM events)
    SELECT event_type AS pattern, count(DISTINCT user_id) AS freq
    FROM events GROUP BY event_type
    HAVING count(DISTINCT user_id) >= ceil(0.3 * (SELECT n_users FROM n))
    """,
)
def m09_prefixspan_1seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 (oracle slice): PrefixSpan length-1 patterns == distinct-user
    event-type counts (exact SQL identity)."""
    seqs = event_sequences(load_table(spark, sf_dir, "events"))
    pats = prefix_span(seqs, min_support=0.3, max_pattern_length=1)
    return pats.select(
        F.element_at(F.col("sequence"), 1).getItem(0).alias("pattern"),
        "freq",
    )


@query(
    "m09_prefixspan_full",
    oracle=f"""
    WITH {_SEQ_PATTERNS_CTE}
    SELECT pattern, freq FROM allp
    WHERE freq >= ceil(0.5 * (SELECT n_users FROM n))
    """,
)
def m09_prefixspan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 (full): frequent sequential patterns up to length 3 over
    per-user event sequences.

    Oracle: a pattern's support is the number of users whose
    (ts, event_id)-ordered event sequence contains it as a strict
    subsequence — expressed as chained self-joins on row-value
    comparisons, one DISTINCT-user count per pattern length. Exact
    for max_pattern_length=3 (singleton itemsets make PrefixSpan's
    subsequence semantics coincide with plain subsequence matching)."""
    seqs = event_sequences(load_table(spark, sf_dir, "events"))
    pats = prefix_span(seqs, min_support=0.5, max_pattern_length=3)
    return pats.select(
        F.array_join(F.flatten("sequence"), ">").alias("pattern"),
        "freq",
    )


# ---------------------------------------------------------------------------
# M10: closed / maximal itemsets
# ---------------------------------------------------------------------------

@query(
    "m10_closed_itemsets",
    oracle=f"""
    WITH {_lattice_sql(0.5, 4)}
    SELECT array_to_string(a.items, ' ') AS itemset, a.freq
    FROM lat a
    WHERE NOT EXISTS (
      SELECT 1 FROM lat b
      WHERE b.freq = a.freq AND len(b.items) > len(a.items)
        AND list_has_all(b.items, a.items))
    """,
)
def m10_closed_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: closed frequent itemsets (no equal-support proper
    superset), vs a NOT EXISTS anti-join over the exact SQL lattice."""
    docs = load_table(spark, sf_dir, "documents")
    model = fit_fpgrowth(token_baskets(docs), min_support=0.5)
    out = closed_itemsets(model.freqItemsets)
    return _itemset_str(out).select("itemset", "freq")


@query(
    "m10_maximal_itemsets",
    oracle=f"""
    WITH {_lattice_sql(0.5, 4)}
    SELECT array_to_string(a.items, ' ') AS itemset, a.freq
    FROM lat a
    WHERE NOT EXISTS (
      SELECT 1 FROM lat b
      WHERE len(b.items) > len(a.items)
        AND list_has_all(b.items, a.items))
    """,
)
def m10_maximal_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: maximal frequent itemsets (no frequent proper superset),
    vs a NOT EXISTS anti-join over the exact SQL lattice."""
    docs = load_table(spark, sf_dir, "documents")
    model = fit_fpgrowth(token_baskets(docs), min_support=0.5)
    out = maximal_itemsets(model.freqItemsets)
    return _itemset_str(out).select("itemset", "freq")


def _token_pair_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native 1-to-1 token association rules at minSupport=0.45 /
    minConfidence=0.6 — the Spark twin of _PAIR_RULES_CTE and
    consolidation (b) of the r9 mining-pack sweep (m11 and m16
    carried cosmetic renames of this exact derivation): per-doc
    distinct tokens, Apriori-k2 pair supports ≥ ceil(0.45·N), both
    rule directions, confidence = pair/antecedent frequency.

    Returns (antecedent, consequent, freq, fa, fc, n_docs, conf) with
    conf UNROUNDED — callers round ONCE at their output seam
    (rounding per-hop first compounds to off-by-1e-4, the m16
    lesson). Shape: the only corpus-scale work is the token self-join
    and its pair aggregate; item counts and the 1-row doc count are
    vocabulary-/scalar-sized and broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(T.tokens("text"))).alias("item"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    k1 = tok.groupBy("item").agg(F.count(F.lit(1)).alias("freq"))
    # PROBED AND REJECTED (optimization r11): the row-local
    # array-expansion pair enumeration that won for _copurchase_pair_
    # rows LOSES here — interleaved A/B at sf0.1: self-join 0.71 s
    # vs expansion 1.15 s. Docs average only ~23 distinct tokens
    # (≤31), so the broadcast equi-join is cheap while the expansion
    # pays struct-array materialization + explode allocation churn
    # per doc. Keep the join form.
    a, b = tok.alias("a"), tok.alias("b")
    k2 = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("x"), F.col("b.item").alias("y"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = k2.crossJoin(F.broadcast(n)).filter(
        F.col("freq") >= F.ceil(0.45 * F.col("n_docs"))
    ).select("x", "y", "freq")
    both = pairs.select(
        F.col("x").alias("antecedent"),
        F.col("y").alias("consequent"),
        "freq",
    ).unionAll(
        pairs.select(
            F.col("y").alias("antecedent"),
            F.col("x").alias("consequent"),
            "freq",
        )
    )
    fa = k1.select(
        F.col("item").alias("antecedent"), F.col("freq").alias("fa")
    )
    fc = k1.select(
        F.col("item").alias("consequent"), F.col("freq").alias("fc")
    )
    return (
        both.join(F.broadcast(fa), "antecedent")
        .join(F.broadcast(fc), "consequent")
        .crossJoin(F.broadcast(n))
        .withColumn("conf", F.col("freq") / F.col("fa"))
        .filter(F.col("conf") >= 0.6)
    )


@query(
    "m11_rule_interest",
    oracle=f"""
    WITH {_PAIR_RULES_CTE}
    SELECT r.antecedent, r.consequent,
           round(r.freq * 1.0 / fa.freq, 4) AS confidence,
           CASE WHEN r.freq * 1.0 / fa.freq < 1 THEN
             round((1 - fc.freq * 1.0 / n.n_docs)
                   / (1 - r.freq * 1.0 / fa.freq), 4)
           END AS conviction,
           round(r.freq * 1.0 / n.n_docs
                 - (fa.freq * 1.0 / n.n_docs) * (fc.freq * 1.0 / n.n_docs),
                 4) + 0.0 AS leverage
    FROM both_dirs r
    JOIN k1 fa ON fa.item = r.antecedent
    JOIN k1 fc ON fc.item = r.consequent
    CROSS JOIN n
    WHERE r.freq * 1.0 / fa.freq >= 0.6
    """,
)
def m11_rule_interest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5-extension (rule interest measures): conviction and leverage
    for the 1-to-1 token rule base — the standard measures beyond
    MLlib's confidence/lift (Brin 1997 conviction: how much more often
    X appears without Y than expected under independence; leverage:
    supp(XY) − supp(X)·supp(Y)). conviction is NULL at confidence 1
    (division by zero — an always-fires rule has infinite conviction).

    Computed natively from the same count relations as the oracle
    (item counts broadcast — vocabulary-sized, same boundedness
    argument as l15's vocab leg) with the identical FP operation
    order, so 4-dp rounding is bit-stable. Counts, not MLlib doubles:
    deriving supp(X)/supp(Y) back out of MLlib's confidence/lift
    columns would round-trip divisions and drift in the last ulp.
    The rule derivation itself is _token_pair_rules, shared with
    m16 (consolidation (b), r9 mining-pack sweep)."""
    conf = F.col("conf")
    supp_y = F.col("fc") / F.col("n_docs")
    return (
        _token_pair_rules(spark, sf_dir)
        .select(
            "antecedent",
            "consequent",
            F.round(conf, 4).alias("confidence"),
            F.when(
                conf < 1, F.round((1 - supp_y) / (1 - conf), 4)
            ).alias("conviction"),
            # + 0.0 pins -0.0 on near-independent pairs (l43 class)
            (
                F.round(
                    F.col("freq") / F.col("n_docs")
                    - (F.col("fa") / F.col("n_docs")) * supp_y,
                    4,
                )
                + F.lit(0.0)
            ).alias("leverage"),
        )
    )


@query(
    "m12_sequence_rules",
    oracle=f"""
    WITH {_SEQ_PATTERNS_CTE},
    freqp AS (SELECT pattern, freq FROM allp
              WHERE freq >= ceil(0.5 * (SELECT n_users FROM n))),
    r AS (SELECT regexp_replace(pattern, '>[^>]*$', '') AS antecedent,
                 regexp_extract(pattern, '([^>]+)$', 1) AS consequent,
                 freq
          FROM freqp WHERE pattern LIKE '%>%')
    SELECT r.antecedent, r.consequent,
           round(r.freq * 1.0 / p.freq, 4) AS confidence,
           r.freq AS seq_support
    FROM r JOIN freqp p ON p.pattern = r.antecedent
    WHERE r.freq * 1.0 / p.freq >= 0.4
    """,
)
def m12_sequence_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9-extension (sequential association rules): from the frequent
    sequential patterns PrefixSpan finds (m09), derive prefix ⇒ next
    rules — "users who did x then y go on to do z" — with
    confidence = supp(prefix+[next]) / supp(prefix). MLlib mines the
    patterns but ships no sequential-rule stage (AssociationRules is
    itemset-only), so this is the standard post-pass from the
    sequential-mining literature, expressed as one DataFrame join:
    split each length≥2 pattern into (prefix, last), equi-join the
    prefix string back to the pattern table for its support —
    anti-monotonicity guarantees every frequent pattern's prefix is
    frequent, so the inner join can't drop a rule. The pattern lattice
    is bounded by |event-type vocab|^maxlen, so the prefix side
    broadcasts at any corpus scale; confidences round to 4dp on both
    sides. Oracle: the m09 bounded-lattice SQL extended with the same
    prefix split + self-join."""
    pats = prefix_span(
        event_sequences(load_table(spark, sf_dir, "events")),
        min_support=0.5,
        max_pattern_length=3,
    )
    flat = pats.select(F.flatten("sequence").alias("seq"), "freq")
    rules = flat.filter(F.size("seq") >= 2).select(
        F.array_join(
            F.slice(F.col("seq"), F.lit(1), F.size("seq") - 1), ">"
        ).alias("antecedent"),
        F.element_at("seq", -1).alias("consequent"),
        F.col("freq").alias("seq_support"),
    )
    prefixes = flat.select(
        F.array_join("seq", ">").alias("antecedent"),
        F.col("freq").alias("_pfreq"),
    )
    conf = F.col("seq_support") / F.col("_pfreq")
    return (
        rules.join(F.broadcast(prefixes), "antecedent")
        .filter(conf >= 0.4)
        .select(
            "antecedent",
            "consequent",
            F.round(conf, 4).alias("confidence"),
            "seq_support",
        )
    )


@query(
    "m13_part_pagerank",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    p AS (SELECT a.pk AS s, b.pk AS d FROM li a
          JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
    e AS (SELECT s, d FROM p UNION ALL SELECT d, s FROM p),
    deg AS (SELECT s, count(*) AS dg FROM e GROUP BY s),
    nodes AS (SELECT DISTINCT s AS id FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
    r1 AS (SELECT nd.id,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(f.c, 0) AS r
           FROM nodes nd LEFT JOIN (
             SELECT e.d AS id, sum(r0.r / deg.dg) AS c
             FROM e JOIN r0 ON e.s = r0.id JOIN deg ON e.s = deg.s
             GROUP BY e.d) f USING (id)),
    r2 AS (SELECT nd.id,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(f.c, 0) AS r
           FROM nodes nd LEFT JOIN (
             SELECT e.d AS id, sum(r1.r / deg.dg) AS c
             FROM e JOIN r1 ON e.s = r1.id JOIN deg ON e.s = deg.s
             GROUP BY e.d) f USING (id)),
    r3 AS (SELECT nd.id,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(f.c, 0) AS r
           FROM nodes nd LEFT JOIN (
             SELECT e.d AS id, sum(r2.r / deg.dg) AS c
             FROM e JOIN r2 ON e.s = r2.id JOIN deg ON e.s = deg.s
             GROUP BY e.d) f USING (id))
    SELECT id AS part_id,
           round(r * (SELECT n FROM nn), 4) AS pagerank
    FROM r3
    """,
)
def m13_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension (iterative algorithms beyond label
    propagation): 3-iteration PageRank over the part CO-PURCHASE
    graph — parts are linked when they appear in the same order, the
    classic market-basket item graph that complements FP-Growth's
    itemset view with a global importance ranking.

    The graph is symmetrized (co-purchase is undirected), so it has
    no dangling nodes and the operator's simple recurrence is the
    full PageRank. Fixed iterations make the recurrence expressible
    as chained SQL CTEs, so this ITERATIVE operator still gets a
    value-hash oracle (same trick as l02e's recursive-CTE fixpoint).
    Ranks are |V|-scaled (mean 1.0) before the house 4-dp rounding —
    raw 1/|V|-scale ranks would collapse to one rounded value.

    Scale posture: pair generation is Σ per-order-basket² (bounded:
    max 17 parts/order in the fixtures — the same giant-basket guard
    arguments as basketize apply); each iteration is 2 shuffles over
    a cached, pre-partitioned edge relation (operators/graph.py
    docstring; round 5 cut the prelude to one exchange and folded
    the teleport floor into the inflow aggregate). Measured honestly
    at sf0.1: ~4.6 s warm on local[32] vs ~2.8 s for the chained-CTE
    oracle in single-process DuckDB — a 2.4M-edge graph is BELOW
    Spark's per-stage overhead crossover; the distributed
    formulation pays off only when edges outgrow one machine, which
    is the regime this engine targets. Probed alternatives that did
    NOT help at this scale (all within noise): adjacency-list
    caching, broadcast rank vectors (driver round-trips per
    iteration), shuffle_hash iteration joins, AQE cached-plan
    repartitioning (BASELINE.md round-5 note)."""
    from ..operators.graph import pagerank

    edges = _copurchase_edges_sym(spark, sf_dir)
    return pagerank(edges, iterations=3).select(
        F.col("id").alias("part_id"), "pagerank"
    )


@query(
    "m14_part_triangles",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    p AS (SELECT a.pk AS s, b.pk AS d FROM li a
          JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
    tri AS (SELECT e1.s AS x, e1.d AS y, e2.d AS z
            FROM p e1
            JOIN p e2 ON e2.s = e1.d
            JOIN p e3 ON e3.s = e1.s AND e3.d = e2.d),
    corners AS (SELECT unnest(list_value(x, y, z)) AS part_id FROM tri)
    SELECT part_id, count(*)::BIGINT AS n_triangles
    FROM corners GROUP BY part_id
    """,
)
def m14_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension #2 (clustering structure): per-part triangle
    counts in the co-purchase graph — the local-density signal behind
    clustering coefficients and community detection, complementing
    m13's global importance ranking. 413,718 triangle corners / 3
    triangles at sf0.01, so the enumeration is real work, not a toy.

    The operator orients edges by (degree, id) — the compact-forward
    bound that caps wedge fan-out at O(√E) per node — while the
    oracle orients by id alone; triangle counts are invariant to
    orientation, so the driver hash-match certifies that equivalence
    along with the counts themselves."""
    from ..operators.graph import triangle_counts

    pairs = _copurchase_pairs(spark, sf_dir)
    return triangle_counts(pairs).select(
        F.col("id").alias("part_id"), "n_triangles"
    )


@query(
    "m15_pair_utility",
    oracle="""
    WITH lu AS (SELECT l_orderkey AS ok, l_partkey AS pk,
                       sum(l_extendedprice * (1 - l_discount)) AS util
                FROM lineitem GROUP BY 1, 2),
    pu AS (SELECT a.pk AS part_a, b.pk AS part_b,
                  count(*) AS n_orders,
                  round(sum(a.util + b.util), 2) AS pair_utility
           FROM lu a JOIN lu b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2)
    SELECT part_a, part_b, n_orders, pair_utility
    FROM pu
    ORDER BY pair_utility DESC, part_a, part_b LIMIT 25
    """,
)
def m15_pair_utility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mining extension (high-utility itemset mining, the
    utility-weighted axis of the FIM literature — Two-Phase/EFIM
    family): top-25 co-purchased part PAIRS ranked by total utility
    (revenue: Σ extendedprice·(1−discount) of both parts' lines in
    each shared order) rather than by raw support. Frequency and
    value disagree exactly where merchandising cares: a pair bought
    twice at 90k outranks one bought 40 times at 40.

    Shape: per-(order, part) utilities are ONE hash aggregate over
    the lineitem scan (map-side partials; also collapses duplicate
    part lines so the pair join is over distinct basket items —
    §1.3's duplicate trap); the pair self-join shuffles both legs on
    the SAME order key (one exchange, reused — the join is pinned
    shuffle_hash per the l02 house rule: the utility relation is
    CORPUS-sized, one row per (order, part), so broadcasting it is
    exactly the anti-pattern AQE would pick at a tiny SF and could
    never pick at 100 TB); the top-25 is a TakeOrderedAndProject,
    never a global sort. The basket-squared fan-out bound is the
    same giant-basket argument as basketize (max 17 parts/order in
    the fixtures; salting is the escape hatch at scale).

    FP-parity stance (code-review r9): pair_utility is a float64 sum
    whose addition ORDER differs between engines (and across Spark
    partitionings), so a group landing within an ulp of a .005
    rounding boundary could in principle flip the 2nd decimal or the
    top-25 membership — the m13/m26 accepted-risk class, narrower
    here because each group sums ≤ n_orders·2 well-scaled products.
    Hash-proven r4 and re-proven by every local mirror run since; if
    a fixture regeneration ever lands a boundary case, the fix is
    the l43 pin (paired round+0.0 at a coarser grain), not a code
    bug."""
    li = load_table(spark, sf_dir, "lineitem")
    lu = li.groupBy(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).agg(
        F.sum(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        ).alias("util")
    ).hint("shuffle_hash")
    a, b = lu.alias("a"), lu.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok"))
               & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(
            F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("a.util") + F.col("b.util")), 2).alias(
                "pair_utility"
            ),
        )
    )
    return pairs.orderBy(
        F.desc("pair_utility"), F.asc("part_a"), F.asc("part_b")
    ).limit(25)


@query(
    "m16_rule_chains",
    oracle=f"""
    WITH {_PAIR_RULES_CTE},
         rules AS (SELECT r.antecedent, r.consequent,
                          r.freq * 1.0 / fa.freq AS conf
                   FROM both_dirs r
                   JOIN k1 fa ON fa.item = r.antecedent
                   WHERE r.freq * 1.0 / fa.freq >= 0.6)
    SELECT r1.antecedent,
           r1.consequent AS via,
           r2.consequent,
           round(r1.conf, 4) AS conf_hop1,
           round(r2.conf, 4) AS conf_hop2,
           round(r1.conf * r2.conf, 4) AS chain_conf
    FROM rules r1
    JOIN rules r2 ON r2.antecedent = r1.consequent
    WHERE r1.antecedent != r2.consequent
    """,
)
def m16_rule_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5-extension (rule composition): 2-hop chains A→B→C over the
    single-item association rules (same minSupport=0.45 /
    minConfidence=0.6 slice as m05), excluding trivial A→B→A
    round-trips. `chain_conf` is the confidence product — the usual
    upper-bound heuristic for transitive recommendations ("viewers of
    A buy B; buyers of B buy C").

    Shape: 1→1 rules need only FREQUENT PAIRS, so the rules relation
    is derived NATIVELY (m08's Apriori-k2 self-join: per-doc token
    pairs → hash-aggregate support ≥ ceil(s·N), both directions,
    confidence = pair/antecedent frequency ratio) instead of fitting
    FPGrowth and discarding every itemset above k=2 — the full
    lattice fit measured ~4.1 s at sf0.1 against ~1 s for this plan,
    and produces the IDENTICAL rule set (m08 asserts native-pairs ≡
    FPGrowth on these thresholds; m05 keeps certifying the MLlib
    rules path itself). The hop join is then a self-equi-join on
    consequent = antecedent over the tiny rule set, which AQE
    broadcasts. The rounding seam matters: the chain product is
    computed on the UNROUNDED confidence ratios in both engines and
    rounded once at the end (rounding per-hop first would compound
    to off-by-1e-4 disagreements; the ratios themselves are the same
    doubles MLlib's confidence would carry). The rule relation is
    _token_pair_rules, shared with m11 (consolidation (b), r9
    mining-pack sweep — this also moved the support threshold from a
    driver-side integer ceil onto the oracle's exact F.ceil(0.45·N)
    arithmetic, removing a scalar count() action)."""
    r = _token_pair_rules(spark, sf_dir).select(
        F.col("antecedent").alias("a"),
        F.col("consequent").alias("c"),
        "conf",
    )
    # Optimization r11: both chain-hop legs consume the rules
    # relation — unpinned, the whole pair-mining subtree planned
    # TWICE (the m16 plan held 4 document scans). Lazy pin: the
    # (rule-set-sized, ~870-row) relation materializes once and both
    # hop legs read the pinned RDD.
    r = r.localCheckpoint(eager=False)
    r1, r2 = r.alias("r1"), r.alias("r2")
    return (
        r1.join(r2, F.col("r2.a") == F.col("r1.c"))
        .filter(F.col("r1.a") != F.col("r2.c"))
        .select(
            F.col("r1.a").alias("antecedent"),
            F.col("r1.c").alias("via"),
            F.col("r2.c").alias("consequent"),
            F.round(F.col("r1.conf"), 4).alias("conf_hop1"),
            F.round(F.col("r2.conf"), 4).alias("conf_hop2"),
            F.round(F.col("r1.conf") * F.col("r2.conf"), 4).alias(
                "chain_conf"
            ),
        )
    )


@query(
    "m17_part_clustering",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    p AS (SELECT a.pk AS s, b.pk AS d FROM li a
          JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
    deg AS (SELECT v AS part_id, count(*) AS degree
            FROM (SELECT s AS v FROM p UNION ALL SELECT d AS v FROM p)
            GROUP BY v),
    tri AS (SELECT e1.s AS x, e1.d AS y, e2.d AS z
            FROM p e1
            JOIN p e2 ON e2.s = e1.d
            JOIN p e3 ON e3.s = e1.s AND e3.d = e2.d),
    tc AS (SELECT part_id, count(*) AS n_triangles
           FROM (SELECT unnest(list_value(x, y, z)) AS part_id FROM tri)
           GROUP BY part_id)
    SELECT d.part_id,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           round(2.0 * coalesce(tc.n_triangles, 0)
                 / (d.degree * (d.degree - 1)), 4) AS clustering_coeff
    FROM deg d LEFT JOIN tc USING (part_id)
    WHERE d.degree >= 2
    """,
)
def m17_part_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension #3 (local density): per-part clustering
    coefficient in the co-purchase graph — 2·T(v)/(deg·(deg−1)), the
    fraction of a part's co-purchase neighbors that are themselves
    co-purchased. High coefficient = tight product communities
    (bundles); low coefficient at high degree = hub/staple parts.
    Composes the m14 triangle enumeration with one degree aggregate;
    the stitch joins two |V|-sized relations, so the edge list is
    scanned exactly as often as m14 scans it. Orientation invariance
    (degree-oriented plan vs id-oriented oracle) is certified by the
    hash match exactly as in m14."""
    from ..operators.graph import clustering_coefficient

    pairs = _copurchase_pairs(spark, sf_dir)
    return clustering_coefficient(pairs).select(
        F.col("id").alias("part_id"),
        F.col("degree").cast("long").alias("degree"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        "clustering_coeff",
    )


# Chained-peel oracle for m18: a k-core fixpoint is iterative, but
# peel rounds are IDEMPOTENT once stable, so a fixed chain of
# _KCORE_ORACLE_ROUNDS peels equals the fixpoint whenever the fixture
# converges within the chain (sf0.01 needs 10 rounds; the chain
# carries 16 — tests/test_mining.py::
# test_kcore_oracle_chain_has_peel_depth_slack pins the slack so a
# regenerated fixture that peels deeper fails loudly there, not as a
# silent driver hash mismatch). Generated, not hand-unrolled, so the round
# body exists exactly once. Every CTE is MATERIALIZED: each round
# references its predecessor three times, and DuckDB's default CTE
# inlining would expand the chain to 3^rounds scans (measured: fd
# exhaustion at 16 rounds before the hint).
_KCORE_K = 3
_KCORE_ORACLE_ROUNDS = 16


def _kcore_oracle() -> str:
    ctes = [
        """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
    e0 AS MATERIALIZED (SELECT a.pk AS s, b.pk AS d FROM li a
           JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2 HAVING count(*) >= 2)"""
    ]
    for i in range(1, _KCORE_ORACLE_ROUNDS + 1):
        p = i - 1
        ctes.append(
            f"""d{i} AS MATERIALIZED (SELECT v, count(*) AS deg FROM
             (SELECT s AS v FROM e{p} UNION ALL SELECT d FROM e{p})
           GROUP BY v),
    k{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE deg >= {_KCORE_K}),
    e{i} AS MATERIALIZED (SELECT e.s, e.d FROM e{p} e
             JOIN k{i} ks ON e.s = ks.v
             JOIN k{i} kd ON e.d = kd.v)"""
        )
    last = f"e{_KCORE_ORACLE_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v AS part_id, count(*) AS core_degree FROM
      (SELECT s AS v FROM {last} UNION ALL SELECT d FROM {last})
    GROUP BY v"""
    )


@query("m18_part_kcore", oracle=_kcore_oracle())
def m18_part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension #4 (dense substructure): the 3-core of the
    SUPPORT-THRESHOLDED co-purchase graph (parts co-ordered in ≥2
    orders) — every surviving part keeps ≥3 strong co-purchase
    partners that themselves survive, the standard recursive
    densification that a one-shot degree filter cannot express (at
    sf0.01 the peel runs 10 genuine rounds: 1,880 nodes → 935). The
    raw co-purchase graph is near-complete (min degree 42 at sf0.01),
    so the support threshold is what gives the core structure —
    thresholded co-occurrence is also the mining-correct graph (edge
    = itemset of support ≥ 2, M2/M3's measure).

    Iterative-op oracle strategy #2 (alongside m13's fixed-iteration
    chained CTE): peel-until-stable on the Spark side vs a FIXED
    16-round chained-CTE peel on the oracle side — equal because
    stable rounds are no-ops; the hash match certifies the fixpoint
    itself. Shape: see operators/graph.py::kcore (degree aggregate +
    two semi joins per round, strictly shrinking edge relation,
    per-round lineage truncation)."""
    from ..operators.graph import kcore

    pairs = (
        _copurchase_counted_pairs(spark, sf_dir)
        .filter(F.col("n_co") >= 2)
        .select("src", "dst")
    )
    return kcore(pairs, k=_KCORE_K).select(
        F.col("id").alias("part_id"),
        F.col("core_degree").cast("long").alias("core_degree"),
    )


@query(
    "m19_negative_pairs",
    oracle="""
    WITH pres AS (SELECT DISTINCT doc_id, unnest(
                    string_split(trim(text), ' ')) AS w
                  FROM documents),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    df AS (SELECT w, count(*) AS df FROM pres GROUP BY w),
    top AS (SELECT w, df FROM df ORDER BY df DESC, w LIMIT 40),
    grid AS (SELECT a.w AS w1, a.df AS df1, b.w AS w2, b.df AS df2
             FROM top a JOIN top b ON a.w < b.w),
    obs AS (SELECT p1.w AS w1, p2.w AS w2, count(*) AS c12
            FROM pres p1
            JOIN pres p2 ON p2.doc_id = p1.doc_id AND p1.w < p2.w
            JOIN top t1 ON t1.w = p1.w
            JOIN top t2 ON t2.w = p2.w
            GROUP BY 1, 2)
    SELECT g.w1, g.w2,
           coalesce(o.c12, 0) AS n_both,
           round((coalesce(o.c12, 0) * 1.0 / n.n_docs)
                 / ((g.df1 * 1.0 / n.n_docs)
                    * (g.df2 * 1.0 / n.n_docs)), 4) AS lift
    FROM grid g LEFT JOIN obs o ON o.w1 = g.w1 AND o.w2 = g.w2
    CROSS JOIN n
    ORDER BY lift, g.w1, g.w2 LIMIT 25
    """,
)
def m19_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5-extension (NEGATIVE associations): the 25 most
    UNDER-co-occurring pairs among the 40 highest-document-frequency
    tokens, ranked by lift — association mining's other tail
    (lift ≪ 1 = substitution/cannibalization: items that avoid each
    other), which frequent-itemset mining structurally cannot
    surface because absent co-occurrences generate no candidate
    rows. The mechanism this certifies, distinct from every m05/m11
    rule query: a DENSE bounded grid (top-k × top-k) LEFT-joined
    against the sparse observed pair counts with ZERO-FILL, so a
    pair that never co-occurs still ranks (c12=0 → lift 0).

    Shape (optimization r11): presence relation = one explode +
    distinct (doc, token), PINNED — the before-plan expanded the
    tokenize subtree SIX times (7 parquet scans / 6 Generates: the
    df→top leg re-planned once per top consumer, plus both pair-join
    sides); now the postings materialize once behind a lazy
    localCheckpoint (the m21 edge-pin pattern) and the 40-row top
    relation pins too. The observed leg is the basket expansion, not
    a self-join: semi-filter the postings to top tokens (broadcast),
    collapse to one sorted token-set per doc (≤40 by construction —
    the grid bounds the pair space at 780, never |vocab|²) and
    expand i < j pairs row-locally (the _copurchase_pair_rows
    pattern; pair multiset identical — set semantics + the same `<`
    ordering). N (doc count) rides a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("w")
    ).distinct()
    # Two consumers (df leg + observed leg) of the tokenize+distinct
    # subtree — materialize once (lazy ⇒ nothing runs at
    # construction; fresh per invocation ⇒ no cross-run caching).
    pres = pres.localCheckpoint(eager=False)
    n = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    df = pres.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # 40-row relation, FOUR consumers (grid both sides + the obs
    # semi-filter + df1/df2 payloads) — pin it.
    top = df.orderBy(F.desc("df"), "w").limit(40).localCheckpoint(
        eager=False
    )
    ta = top.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    tb = top.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    grid = ta.join(F.broadcast(tb), F.col("w1") < F.col("w2"))
    obs = (
        pres.join(F.broadcast(top.select("w")), "w")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("w")).alias("ws"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ws, (x, i) -> "
                    "transform(slice(ws, i + 2, size(ws)), "
                    "y -> struct(x AS w1, y AS w2))))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    lift = F.round(
        (F.coalesce(F.col("c12"), F.lit(0)) / F.col("n_docs"))
        / (
            (F.col("df1") / F.col("n_docs"))
            * (F.col("df2") / F.col("n_docs"))
        ),
        4,
    )
    return (
        grid.join(obs, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.coalesce(F.col("c12"), F.lit(0)).alias("n_both"),
            lift.alias("lift"),
        )
        .orderBy("lift", "w1", "w2")
        .limit(25)
    )


@query(
    "m20_gap_sequential_pairs",
    oracle="""
    SELECT a.event_type AS antecedent, b.event_type AS consequent,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS support_users,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    WHERE a.event_type IS NOT NULL AND b.event_type IS NOT NULL
    GROUP BY 1, 2
    HAVING count(DISTINCT a.user_id) >= 5
    """,
)
def m20_gap_sequential_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9-extension (gap-constrained sequential pairs): mine A→B
    event pairs where B strictly follows A for the same user within a
    1-hour gap, with user-level support ≥ 5 — the time-bounded
    variant PrefixSpan cannot express (m09's sequences are
    order-only; a max-gap constraint is a TIME predicate, not a
    position one). Occurrence counts ride along so downstream
    confidence/interest scoring has both denominators.

    Scale shape: an EQUI-join on user_id (one shuffle of each side,
    AQE skew-split applies) with the time band as a post-join
    predicate — per-user fan-out is bounded by events-per-user within
    the gap window, never a cartesian. The distinct-user support is a
    two-phase aggregate (partial distinct on the join's own user
    clustering). For heavier tails, the r06/r08 time-bucket equi-key
    composes directly; at the fixtures' densities the plain user key
    is the faster plan."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    a, b = ev.alias("a"), ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (
            F.col("b.ts")
            <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")
        ),
    )
    return (
        pairs.groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(
            F.countDistinct(F.col("a.user_id")).alias("support_users"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("support_users") >= 5)
    )


# ---------------------------------------------------------------------------
# Round-6 promotions (staged round 5, locally certified in their test
# files, promoted into the driver window per the registry rotation).
# Each oracle below is the staged test file's SQL moved VERBATIM; the
# operator docstrings in operators/graph.py / operators/mining.py
# carry the scale posture, and the per-operator property tests stay in
# the original test files.
# ---------------------------------------------------------------------------

def _copurchase_pair_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (order, src < dst) co-purchased part pair — the
    shared prelude of _copurchase_pairs / _copurchase_counted_pairs.

    Optimization r11 (guide §2.3/§2.4 — aggregate before you
    shuffle, remove shuffles outright): the per-order pair space is
    enumerated by collapsing the incidence to ONE sorted part-set
    array per order (collect_set — dedup rides the same aggregate)
    and expanding the i < j pairs with a native nested-transform
    expression, row-locally. The previous formulation planned FOUR
    exchanges and a sort-merge self-join for the same relation
    (distinct over (ok, pk), two hash(ok) join legs, then the
    pair-keyed aggregate); this one plans ONE exchange before the
    pair-keyed aggregate. Per-row fan-out is basket-bounded (≤17
    parts/order in the fixtures — basketize's per-order bound), the
    same block² cost model the self-join had, now without moving the
    incidence twice. Pair multiset is IDENTICAL: sort_array makes
    src < dst strict (set semantics ⇒ no duplicates), exactly the
    a.pk < b.pk orientation (A/B'd value-for-value, r11)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    per_order = li.groupBy("ok").agg(
        F.sort_array(F.collect_set("pk")).alias("pks")
    )
    return per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(pks, (x, i) -> "
                "transform(slice(pks, i + 2, size(pks)), "
                "y -> struct(x AS src, y AS dst))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed DISTINCT co-purchase pairs (src < dst) — ONE
    definition of the co-purchase pair relation every graph query
    builds on (m13/m14/m17/m24/m28 previously carried verbatim
    copies, code-review r8): distinct (order, part) incidence,
    same-order part pairs oriented low-to-high, deduped. Built via
    the one-exchange array expansion (_copurchase_pair_rows, r11)."""
    return _copurchase_pair_rows(spark, sf_dir).distinct()


def _copurchase_counted_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(src, dst, n_co) co-purchase pairs carrying their co-order
    COUNT — the support-thresholded/weighted builder consolidation
    (a) of the r9 mining-pack sweep: m18 (3-core) and m25 (3-truss)
    filter n_co >= support, m23 (Bellman-Ford) derives edge cost
    1/n_co; all three previously carried verbatim 10-line copies of
    this join+aggregate. Same incidence projection and low-to-high
    pair orientation as _copurchase_pairs, plus the count (each
    order contributes a pair at most once — collect_set dedups the
    incidence exactly as the old DISTINCT projection did)."""
    return (
        _copurchase_pair_rows(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_co"))
    )


def _copurchase_edges_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized DISTINCT co-purchase edge list (src, dst) — the
    m13/m14-certified construction, shared by the round-6 graph
    promotions (m21 k-hop, m26 PPR)."""
    pairs = _copurchase_pairs(spark, sf_dir)
    return pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


@query(
    "m21_part_khop_reach",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    p AS (SELECT a.pk AS s, b.pk AS d FROM li a
          JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
    e AS (SELECT s, d FROM p UNION ALL SELECT d, s FROM p),
    deg AS (SELECT s, count(*) AS dg FROM e GROUP BY s),
    d0 AS (SELECT s AS id FROM deg ORDER BY dg DESC, s LIMIT 3),
    n1 AS (SELECT DISTINCT e.d AS id FROM e JOIN d0 ON e.s = d0.id
           WHERE e.d NOT IN (SELECT id FROM d0)),
    v1 AS (SELECT id FROM d0 UNION ALL SELECT id FROM n1),
    n2 AS (SELECT DISTINCT e.d AS id FROM e JOIN n1 ON e.s = n1.id
           WHERE e.d NOT IN (SELECT id FROM v1)),
    v2 AS (SELECT id FROM v1 UNION ALL SELECT id FROM n2),
    n3 AS (SELECT DISTINCT e.d AS id FROM e JOIN n2 ON e.s = n2.id
           WHERE e.d NOT IN (SELECT id FROM v2))
    SELECT id AS part_id, 0 AS dist FROM d0
    UNION ALL SELECT id, 1 FROM n1
    UNION ALL SELECT id, 2 FROM n2
    UNION ALL SELECT id, 3 FROM n3
    """,
)
def m21_part_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension #5 (multi-source BFS): min hop distance from
    the 3 highest-degree parts over the co-purchase graph, k ≤ 3 —
    the blast-radius / reachability query (which items sit within n
    recommendation hops of the hubs). Seeds are a bounded
    TakeOrderedAndProject (degree DESC, id ASC, LIMIT 3), never a
    global sort. Iterative frontier expansion with per-round
    anti-join against the visited set and early exit on frontier
    exhaustion — operators/graph.py::khop_distances carries the
    shape; synthetic layering/early-exit/absent-seed pins in
    tests/test_khop.py. Oracle: chained-CTE BFS (the m13 strategy);
    NOT IN is null-safe here because part keys are fixture-NOT NULL."""
    from ..operators.graph import khop_distances

    # The seed aggregate AND the operator's internal edge cache both
    # consume the pair-join lineage; a lazy localCheckpoint makes the
    # expensive self-join materialize ONCE (the iterative-graph
    # family already pins its RESULTS eagerly, so the recoverability
    # trade is the family's documented one, not a new cost).
    edges = _copurchase_edges_sym(spark, sf_dir).localCheckpoint(
        eager=False
    )
    seeds = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.desc("dg"), "src")
        .limit(3)
        .select(F.col("src").alias("id"))
    )
    return khop_distances(edges, seeds, max_hops=3).select(
        F.col("id").alias("part_id"), "dist"
    )


@query(
    "m22_item_cosine",
    oracle="""
    WITH iu AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
      FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    ic AS (SELECT it, count(*) AS n FROM iu GROUP BY it),
    p AS (
      SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_shared
      FROM iu a JOIN iu b ON a.bk = b.bk AND a.it < b.it
      GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT item_a, item_b, n_shared,
           round(n_shared / sqrt(ca.n * cb.n), 4) AS cosine
    FROM p JOIN ic ca ON p.item_a = ca.it JOIN ic cb ON p.item_b = cb.it
    ORDER BY cosine DESC, item_a, item_b LIMIT 25
    """,
)
def m22_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5-adjacent interest measure: top-25 item-item pairs by
    co-occurrence COSINE n_ab/√(n_a·n_b) — the popularity-normalized
    similarity that rescues rare-but-always-together pairs the raw
    support ranking buries. All cosine inputs are exact integers, so
    both engines compute bitwise-identical doubles; (cosine DESC,
    item_a, item_b) is a total order, making the LIMIT boundary
    deterministic. operators/mining.py::item_cosine_pairs; hand pins
    in tests/test_item_cosine.py."""
    from ..operators.mining import item_cosine_pairs

    li = load_table(spark, sf_dir, "lineitem")
    return item_cosine_pairs(
        li, "l_orderkey", "l_partkey", min_shared=2, k=25
    )


@query(
    "m23_part_cheapest_reach",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    p AS (SELECT a.pk AS s, b.pk AS d, count(*) AS n FROM li a
          JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
    e AS (SELECT s, d, 1.0 / n AS w FROM p
          UNION ALL SELECT d, s, 1.0 / n FROM p),
    deg AS (SELECT s, count(*) AS dg FROM e GROUP BY s),
    d0 AS (SELECT s AS id, 0.0 AS dist FROM deg ORDER BY dg DESC, s LIMIT 3),
    r1 AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM d0
        UNION ALL
        SELECT e.d, pd.dist + e.w FROM e JOIN d0 pd ON e.s = pd.id
      ) GROUP BY id),
    r2 AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM r1
        UNION ALL
        SELECT e.d, pd.dist + e.w FROM e JOIN r1 pd ON e.s = pd.id
      ) GROUP BY id),
    r3 AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM r2
        UNION ALL
        SELECT e.d, pd.dist + e.w FROM e JOIN r2 pd ON e.s = pd.id
      ) GROUP BY id)
    SELECT id AS part_id, round(dist, 4) AS dist FROM r3
    """,
)
def m23_part_cheapest_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension #6 (weighted shortest paths): 3 frontier
    Bellman-Ford relaxation rounds from the 3 highest-degree parts,
    edge cost 1/shared-orders (strong ties are cheap) — "cheapest
    association chain" with bounded-path semantics: after round k
    both the operator and the chained-CTE oracle equal "cheapest
    path using ≤ k edges". Float parity: each round accumulates
    d_prev + w in the identical order in both engines, so min()
    compares bitwise-equal doubles. operators/graph.py::sssp_distances
    (frontier-only relaxation, convergence raising, negative-cycle
    refusal — pins in tests/test_sssp.py)."""
    from ..operators.graph import sssp_distances

    pairs = _copurchase_counted_pairs(spark, sf_dir).select(
        "src", "dst", (F.lit(1.0) / F.col("n_co")).alias("weight")
    )
    # One materialization for the seed aggregate + the operator's
    # edge cache (the m21 stance).
    edges = pairs.unionAll(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    ).localCheckpoint(eager=False)
    seeds = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.desc("dg"), "src")
        .limit(3)
        .select(F.col("src").alias("id"))
    )
    return sssp_distances(edges, seeds, max_rounds=3).select(
        F.col("id").alias("part_id"), F.round("dist", 4).alias("dist")
    )


@query(
    "m24_part_assortativity",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    e AS (SELECT a.pk AS s, b.pk AS d FROM li a
          JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
    deg AS (SELECT v, count(*) AS deg FROM (
              SELECT s AS v FROM e UNION ALL SELECT d FROM e)
            GROUP BY 1),
    stubs AS (SELECT s AS u, d AS v FROM e
              UNION ALL SELECT d AS u, s AS v FROM e),
    paired AS (SELECT du.deg AS deg_u, dv.deg AS deg_v
               FROM stubs
               JOIN deg du ON du.v = stubs.u
               JOIN deg dv ON dv.v = stubs.v)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           CAST((SELECT count(*) FROM stubs) / 2 AS BIGINT) AS n_edges,
           round(corr(deg_u, deg_v), 4) + 0.0 AS assortativity
    FROM paired
    """,
)
def m24_part_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension #7 (global mixing structure): Newman degree
    assortativity of the co-purchase graph — Pearson correlation of
    endpoint degrees over BOTH stub orientations (the standard
    symmetrization; the canonical s < d order alone would bias the
    correlation). One scalar row (n_nodes, n_edges, assortativity);
    NULL at zero variance (the r44 pin, normalized operator-side
    from Spark's NaN corr). operators/graph.py::degree_assortativity;
    star/regular/numpy pins in tests/test_assortativity.py."""
    from ..operators.graph import degree_assortativity

    pairs = _copurchase_pairs(spark, sf_dir)
    return degree_assortativity(pairs)


_KTRUSS_K = 3  # need >= 1 within-truss triangle per edge
_KTRUSS_ORACLE_ROUNDS = 6


def _ktruss_oracle() -> str:
    """Generated, not hand-unrolled (the m18 stance): the round body
    exists once; every CTE is MATERIALIZED because each round
    references its predecessor multiple times and DuckDB's default
    inlining would expand the chain multiplicatively. The unrolled
    chain runs PAST the fixture's fixpoint —
    tests/test_ktruss.py::test_ktruss_oracle_chain_has_peel_depth_slack
    proves the last two rounds agree, so the fixed chain equals the
    operator's peel-until-stable answer."""
    ctes = [
        """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
    e0 AS MATERIALIZED (SELECT a.pk AS s, b.pk AS d FROM li a
           JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2 HAVING count(*) >= 2)"""
    ]
    for i in range(1, _KTRUSS_ORACLE_ROUNDS + 1):
        p = i - 1
        ctes.append(
            f"""tri{i} AS MATERIALIZED (
             SELECT a.s AS x, a.d AS y, b.d AS z
             FROM e{p} a JOIN e{p} b ON a.d = b.s
             JOIN e{p} c ON c.s = a.s AND c.d = b.d),
    sup{i} AS MATERIALIZED (
             SELECT s, d, count(*) AS sup FROM (
               SELECT x AS s, y AS d FROM tri{i}
               UNION ALL SELECT y, z FROM tri{i}
               UNION ALL SELECT x, z FROM tri{i})
             GROUP BY 1, 2),
    e{i} AS MATERIALIZED (
             SELECT e.s, e.d FROM e{p} e
             JOIN sup{i} u ON u.s = e.s AND u.d = e.d
                          AND u.sup >= {_KTRUSS_K - 2})"""
        )
    last, lsup = f"e{_KTRUSS_ORACLE_ROUNDS}", f"sup{_KTRUSS_ORACLE_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT e.s AS part_a, e.d AS part_b, u.sup AS support
    FROM {last} e JOIN {lsup} u ON u.s = e.s AND u.d = e.d"""
    )


KTRUSS_ORACLE = _ktruss_oracle()


@query("m25_part_ktruss", oracle=KTRUSS_ORACLE)
def m25_part_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension #8 (cohesion one notch denser than m18's
    k-core): the 3-truss of the support-thresholded co-purchase
    graph — every surviving edge sits in ≥ 1 triangle whose OTHER
    two edges also survive (at sf0.01: 3,445 edges peel to 181,
    fixpoint at round 2; the 4-truss of this graph is EMPTY, so
    k = 3 is the largest non-vacuous certification). Cascade
    semantics a one-shot support filter misses — K4 pins in
    tests/test_ktruss.py. operators/graph.py::ktruss (triangle
    enumeration on the s<d orientation, strictly shrinking cached
    edge relation, per-round lineage truncation, raises on
    truncated fixpoint)."""
    from ..operators.graph import ktruss

    pairs = (
        _copurchase_counted_pairs(spark, sf_dir)
        .filter(F.col("n_co") >= 2)
        .select("src", "dst")
    )
    return ktruss(pairs, _KTRUSS_K).select(
        F.col("s").alias("part_a"), F.col("d").alias("part_b"), "support"
    )


@query(
    "m26_part_ppr",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    p AS (SELECT a.pk AS s, b.pk AS d FROM li a
          JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
    e AS (SELECT s, d FROM p UNION ALL SELECT d, s FROM p),
    deg AS (SELECT s, count(*) AS dg FROM e GROUP BY s),
    nodes AS (SELECT DISTINCT s AS id FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    sd AS (SELECT id FROM nodes ORDER BY id LIMIT 10),
    tele AS (SELECT nd.id,
                    CASE WHEN sd.id IS NOT NULL THEN 0.15 / 10 ELSE 0 END
                      AS t
             FROM nodes nd LEFT JOIN sd ON sd.id = nd.id),
    r0 AS (SELECT id, t / 0.15 AS r FROM tele),
    r1 AS (SELECT tl.id, tl.t + 0.85 * coalesce(f.c, 0) AS r
           FROM tele tl LEFT JOIN (
             SELECT e.d AS id, sum(r0.r / deg.dg) AS c
             FROM e JOIN r0 ON e.s = r0.id JOIN deg ON e.s = deg.s
             GROUP BY e.d) f USING (id)),
    r2 AS (SELECT tl.id, tl.t + 0.85 * coalesce(f.c, 0) AS r
           FROM tele tl LEFT JOIN (
             SELECT e.d AS id, sum(r1.r / deg.dg) AS c
             FROM e JOIN r1 ON e.s = r1.id JOIN deg ON e.s = deg.s
             GROUP BY e.d) f USING (id)),
    r3 AS (SELECT tl.id, tl.t + 0.85 * coalesce(f.c, 0) AS r
           FROM tele tl LEFT JOIN (
             SELECT e.d AS id, sum(r2.r / deg.dg) AS c
             FROM e JOIN r2 ON e.s = r2.id JOIN deg ON e.s = deg.s
             GROUP BY e.d) f USING (id))
    SELECT id AS part_id, round(r * (SELECT n FROM nn), 4) AS ppr
    FROM r3
    """,
)
def m26_part_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph extension #9 (related items): 3-iteration PERSONALIZED
    PageRank seeded at the 10 lowest part ids — the m13 recurrence
    with the uniform teleport replaced by the seed indicator
    (0.15/|S| on seeds, 0 elsewhere; the teleport floor folded into
    the inflow union leg exactly as m13), |V|-scaled before the 4dp
    round. Nodes with no inflow keep their teleport-only value via
    the LEFT JOIN + coalesce on both sides.
    operators/graph.py::personalized_pagerank; reduces-to-uniform /
    ring-decay / numpy pins in tests/test_ppr.py."""
    from ..operators.graph import personalized_pagerank

    edges = _copurchase_edges_sym(spark, sf_dir)
    # Seeds = the 10 lowest NODE ids — derived LINEARLY instead of
    # re-running the pair self-join a second time: a part is a graph
    # node iff it shares an order with a DIFFERENT part, i.e. its
    # order carries >= 2 distinct parts (exactly the pair join's
    # a.ok = b.ok, a.pk < b.pk membership condition). One window
    # count over the distinct (order, part) relation, no join.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    npp = F.count(F.lit(1)).over(Window.partitionBy("ok"))
    seeds = (
        li.withColumn("_npp", npp)
        .filter(F.col("_npp") >= 2)
        .select(F.col("pk").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(10)
    )
    return personalized_pagerank(edges, seeds, iterations=3).select(
        F.col("id").alias("part_id"), "ppr"
    )


@query(
    "m27_emerging_pairs",
    oracle="""
WITH li AS (SELECT DISTINCT l.l_orderkey AS bk, l.l_partkey AS it,
                   (o.o_orderdate >= TIMESTAMP '1998-01-01') AS late
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
nb AS (SELECT count(DISTINCT bk) AS n FROM li WHERE NOT late),
na AS (SELECT count(DISTINCT bk) AS n FROM li WHERE late),
pb AS (SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_before
       FROM li a JOIN li b
         ON a.bk = b.bk AND a.it < b.it AND NOT a.late AND NOT b.late
       GROUP BY 1, 2),
pa AS (SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_after
       FROM li a JOIN li b
         ON a.bk = b.bk AND a.it < b.it AND a.late AND b.late
       GROUP BY 1, 2),
j AS (SELECT coalesce(pb.item_a, pa.item_a) AS item_a,
             coalesce(pb.item_b, pa.item_b) AS item_b,
             coalesce(pb.n_before, 0) AS n_before,
             coalesce(pa.n_after, 0) AS n_after
      FROM pb FULL JOIN pa
        ON pb.item_a = pa.item_a AND pb.item_b = pa.item_b)
SELECT j.item_a, j.item_b,
       CAST(j.n_before AS BIGINT) AS n_before,
       CAST(j.n_after AS BIGINT) AS n_after,
       round(j.n_before * 1.0 / nb.n, 4) AS support_before,
       round(j.n_after * 1.0 / na.n, 4) AS support_after,
       round(CASE WHEN j.n_before > 0
                  THEN (j.n_after * 1.0 / na.n)
                       / (j.n_before * 1.0 / nb.n) END, 4) AS growth,
       j.n_before = 0 AS is_new
FROM j CROSS JOIN nb CROSS JOIN na
WHERE j.n_before >= 2 OR j.n_after >= 2
""",
)
def m27_emerging_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-pattern pair mining (Dong & Li 1999 at the pair
    level): part-pair supports in orders BEFORE vs AFTER 1998-01-01,
    support growth rate, newly-emerged (NULL growth, is_new) and
    vanished (n_after = 0) pairs — the CONTRAST dimension M4's
    single-corpus itemsets lack (what changed, not just what is).
    Each period's pair space is the same basket-bounded self-join as
    m02/m22 (Σ per-basket |items|², never corpus²); the contrast is a
    pair-keyed full-outer on the already-aggregated pair relations.
    operators/mining.py::emerging_pair_patterns; closed-form
    growth/new/vanished pins in tests/test_emerging.py."""
    from ..operators.mining import emerging_pair_patterns

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    tagged = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        "l_orderkey",
        "l_partkey",
        (
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
        ).alias("late"),
    )
    before = tagged.filter(~F.col("late"))
    after = tagged.filter(F.col("late"))
    return emerging_pair_patterns(
        before, after, "l_orderkey", "l_partkey", min_count=2
    )


# ---------------------------------------------------------------------------
# Round-8 promotion: m28 label-propagation communities (staged +
# locally certified in round 7; oracle moved VERBATIM from its test
# file per the rotation flow)
# ---------------------------------------------------------------------------

_M28_ROUND = """
l{k} AS (
  SELECT id, lab FROM (
    SELECT e.v AS id, l{j}.lab, count(*) AS n,
           row_number() OVER (PARTITION BY e.v
                              ORDER BY count(*) DESC, l{j}.lab) AS r
    FROM e JOIN l{j} ON e.u = l{j}.id
    GROUP BY e.v, l{j}.lab)
  WHERE r = 1)"""

_M28_ORACLE = (
    """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem),
p AS (SELECT DISTINCT a.pk AS s, b.pk AS d
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
e AS MATERIALIZED (SELECT s AS u, d AS v FROM p
                   UNION ALL SELECT d, s FROM p),
l0 AS (SELECT DISTINCT v AS id, v AS lab FROM e),"""
    + ",".join(_M28_ROUND.format(k=k, j=k - 1) for k in (1, 2, 3))
    + """
SELECT id AS part_id, lab AS community FROM l3
"""
)


@query("m28_part_communities", oracle=_M28_ORACLE)
def m28_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the co-purchase graph — 3
    synchronous min-tiebreak LPA rounds (Raghavan 2007): a node
    adopts its neighbors' majority label, ties to the SMALLEST label,
    every round a pure function of the previous labeling — so the
    unrolled-CTE oracle computes the IDENTICAL labeling (the m13/m25
    fixed-iteration stance; classic LPA randomizes update order,
    which has no cross-engine ground truth). The community grain
    between m17's clustering coefficient and l02e's connected
    components: CC merges two cliques joined by one bridge, LPA keeps
    them apart (tests/test_label_propagation.py). Shape: stubs
    pre-hashed + cached once; per round ONE hash(node) exchange that
    both the (node, label) count and the argmax ride (r9 shave,
    7.1->4.2 s at sf0.1, bit-identical labeling); lineage truncated
    per round (the r5 Catalyst exponential-plan fix). Why not fewer
    rounds: 2-round LPA diverges from 3-round on 73% of fixture
    nodes (the A/B harness scripts/m28_ab.py, in git history at
    68d0a82) — the iteration count is semantics, not tuning.
    operators/graph.py::label_propagation."""
    from ..operators.graph import label_propagation

    pairs = _copurchase_pairs(spark, sf_dir)
    return label_propagation(pairs, iterations=3).select(
        F.col("id").alias("part_id"), "community"
    )
